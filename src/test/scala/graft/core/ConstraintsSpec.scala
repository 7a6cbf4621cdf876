package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** CHECK constraints (Delta's `delta.constraints.*` shape): write-time
  * enforcement riding the commit's single stats pass — a violating
  * commit aborts BEFORE its record publishes; ADD CONSTRAINT validates
  * existing data; NULL passes (SQL CHECK semantics); DML inserts
  * validate in commitDelta. */
class ConstraintsSpec extends AnyFunSuite with SparkFixture {

  private def table(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_check_").toString
    SnapshotLog.commit(spark,
      (1 to 100).map(i => (i.toLong, i * 1.5, s"u$i")).toDF("id", "price", "user"),
      t, statsFor = Seq("id"))
    t
  }

  test("addConstraint validates existing data; a violating table refuses, head unchanged") {
    val t = table()
    val v = SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0")
    assert(v == 2L)
    assert(SnapshotLog.properties(t)("graft.constraints.pos_price") == "price > 0")
    val e = intercept[RuntimeException] {
      SnapshotLog.addConstraint(spark, t, "big_id", "id > 50")
    }
    assert(e.getMessage.contains("50 existing row(s)"), e.getMessage)
    assert(SnapshotLog.latestVersion(t).contains(2L), "failed ADD commits nothing")
  }

  test("a violating commit aborts pre-publish: head unchanged, stage swept") {
    import spark.implicits._
    val t = table()
    SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0")
    val e = intercept[RuntimeException] {
      SnapshotLog.commit(spark,
        Seq((200L, -1.0, "bad"), (201L, 5.0, "ok")).toDF("id", "price", "user"),
        t, append = true)
    }
    assert(e.getMessage.contains("pos_price") && e.getMessage.contains("1 staged row"),
      e.getMessage)
    assert(SnapshotLog.latestVersion(t).contains(2L))
    assert(SnapshotLog.read(spark, t).count() == 100L)
    // the aborted stage was deleted eagerly — data/ holds ONLY v1's stage
    val stages = {
      val st = Files.list(java.nio.file.Paths.get(t, "data"))
      try { val it = st.iterator(); var n = 0; while (it.hasNext) { it.next(); n += 1 }; n }
      finally st.close()
    }
    assert(stages == 1, s"violating stage must be swept, found $stages")
    // a clean append still lands
    SnapshotLog.commit(spark,
      Seq((202L, 9.0, "ok")).toDF("id", "price", "user"), t, append = true)
    assert(SnapshotLog.read(spark, t).count() == 101L)
  }

  test("NULL passes (SQL CHECK), and a write MISSING the constrained column passes as null") {
    import spark.implicits._
    val t = table()
    SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0")
    SnapshotLog.commit(spark,
      Seq((300L, Option.empty[Double], "n")).toDF("id", "price", "user"),
      t, append = true)
    // schema evolution: an append WITHOUT price surfaces null for it
    SnapshotLog.commit(spark,
      Seq((301L, "evolved")).toDF("id", "user"), t, append = true)
    assert(SnapshotLog.read(spark, t).count() == 102L)
  }

  test("SQL MERGE inserting a violating row aborts; the valid merge lands") {
    val t = table()
    SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0")
    spark.sql("DROP TABLE IF EXISTS graft_check_t")
    spark.sql(s"CREATE TABLE graft_check_t USING `graft-log` OPTIONS (path '$t')")
    try {
      val e = intercept[Exception] {
        spark.sql(
          """MERGE INTO graft_check_t g USING (SELECT 999 AS k, -5.0 AS p) s
            |ON g.id = s.k
            |WHEN NOT MATCHED THEN INSERT (id, price, user) VALUES (s.k, s.p, 'x')""".stripMargin)
      }
      assert(e.getMessage.contains("pos_price") ||
        Option(e.getCause).exists(_.getMessage.contains("pos_price")), e.toString)
      assert(SnapshotLog.read(spark, t).count() == 100L)
      spark.sql(
        """MERGE INTO graft_check_t g USING (SELECT 999 AS k, 5.0 AS p) s
          |ON g.id = s.k
          |WHEN NOT MATCHED THEN INSERT (id, price, user) VALUES (s.k, s.p, 'x')""".stripMargin)
      assert(SnapshotLog.read(spark, t).count() == 101L)
    } finally spark.sql("DROP TABLE graft_check_t")
  }

  test("the streaming SINK enforces constraints: a violating micro-batch fails the query, nothing commits") {
    import spark.implicits._
    val t = table()
    SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0")
    val head = SnapshotLog.latestVersion(t).get
    // feed: a small graft-log source table carrying the violating row
    val src = Files.createTempDirectory("graft_check_sink_src_").toString
    SnapshotLog.commit(spark,
      Seq((900L, -4.0, "bad")).toDF("id", "price", "user"), src)
    val ckpt = Files.createTempDirectory("graft_check_sink_ck_").toString
    val q = spark.readStream.format("graft-log").load(src)
      .select("id", "price", "user")
      .writeStream.format("graft-log")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(t)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("pos_price") ||
      Option(e.getCause).exists(_.getMessage != null &&
        e.getCause.getMessage.contains("pos_price")), e.toString)
    assert(SnapshotLog.latestVersion(t).contains(head), "violating trigger commits nothing")
  }

  test("column mapping: the constraint follows the LOGICAL name through staging") {
    import spark.implicits._
    val t = table()
    SnapshotLog.renameColumn(spark, t, "price", "amount")
    SnapshotLog.addConstraint(spark, t, "pos_amount", "amount > 0")
    intercept[RuntimeException] {
      SnapshotLog.commit(spark,
        Seq((400L, -2.0, "bad")).toDF("id", "amount", "user"), t, append = true)
    }
    SnapshotLog.commit(spark,
      Seq((401L, 2.0, "ok")).toDF("id", "amount", "user"), t, append = true)
    assert(SnapshotLog.read(spark, t).count() == 101L)
  }

  test("ADD CONSTRAINT refuses unresolvable columns (a typo'd name would enforce nothing, forever)") {
    val t = table()
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.addConstraint(spark, t, "typo", "PRICE_X > 0")
    }
    assert(e.getMessage.contains("PRICE_X"), e.getMessage)
    assert(!SnapshotLog.properties(t).keys.exists(_.contains("typo")))
  }

  test("RENAME/DROP of a constrained column refuses: drop the constraint first") {
    import spark.implicits._
    val t = table()
    SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0")
    val e1 = intercept[RuntimeException] {
      SnapshotLog.renameColumn(spark, t, "price", "amount")
    }
    assert(e1.getMessage.contains("pos_price"), e1.getMessage)
    val e2 = intercept[RuntimeException] {
      SnapshotLog.dropColumn(spark, t, "price")
    }
    assert(e2.getMessage.contains("pos_price"), e2.getMessage)
    // the documented path: drop constraint -> alter -> re-add
    SnapshotLog.dropConstraint(t, "pos_price")
    SnapshotLog.renameColumn(spark, t, "price", "amount")
    SnapshotLog.addConstraint(spark, t, "pos_amount", "amount > 0")
    intercept[RuntimeException] {
      SnapshotLog.commit(spark,
        Seq((600L, -1.0, "bad")).toDF("id", "amount", "user"), t, append = true)
    }
  }

  test("a write racing a concurrent ADD CONSTRAINT fails loudly instead of landing unvalidated rows") {
    import spark.implicits._
    val t = table()
    // inject: the constraint lands AFTER this commit resolved the head
    // (no constraints) but BEFORE it publishes — the lost-CAS retry
    // must detect the new constraint and refuse
    SnapshotLog.onStep = {
      case "staged" =>
        SnapshotLog.onStep = _ => ()
        SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0"); ()
      case _ => ()
    }
    try {
      val e = intercept[RuntimeException] {
        SnapshotLog.commit(spark,
          Seq((700L, -9.0, "bad")).toDF("id", "price", "user"), t, append = true)
      }
      assert(e.getMessage.contains("concurrent ADD CONSTRAINT"), e.getMessage)
      assert(SnapshotLog.read(spark, t).filter(col("price") < 0).count() == 0L)
    } finally SnapshotLog.onStep = _ => ()
  }

  test("drop re-allows; SQL ALTER SET TBLPROPERTIES takes the validated ADD path") {
    import spark.implicits._
    val t = table()
    SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0")
    SnapshotLog.dropConstraint(t, "pos_price")
    SnapshotLog.commit(spark,
      Seq((500L, -1.0, "now ok")).toDF("id", "price", "user"), t, append = true)
    assert(SnapshotLog.read(spark, t).count() == 101L)
    // catalog SQL: setting a constraint property validates existing data
    val root = Files.createTempDirectory("graft_checkcat_").toString
    spark.conf.set("spark.sql.catalog.graftk",
      classOf[graft.sources.LogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftk.root", root)
    org.apache.spark.sql.graft.Bridge.resetCatalogs(spark)
    spark.sql("CREATE NAMESPACE graftk.ml")
    spark.sql("CREATE TABLE graftk.ml.c (id BIGINT, price DOUBLE)")
    spark.sql("INSERT INTO graftk.ml.c VALUES (1, -3.0)")
    intercept[Exception] {
      spark.sql("ALTER TABLE graftk.ml.c SET TBLPROPERTIES " +
        "('graft.constraints.pos'='price > 0')")
    }
    spark.sql("ALTER TABLE graftk.ml.c SET TBLPROPERTIES " +
      "('graft.constraints.real'='price IS NOT NULL')")
    intercept[Exception] {
      spark.sql("INSERT INTO graftk.ml.c VALUES (2, CAST(NULL AS DOUBLE))")
    }
    spark.sql("DROP TABLE graftk.ml.c")
  }
}
