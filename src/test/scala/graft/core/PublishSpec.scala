package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** The one publish protocol of graft-log: every commit kind lands
  * through `SnapshotLog.publish`, a lost race is judged by the conflict
  * table, and a crash at any publish step leaves a readable head and
  * nothing but sweepable stages. Races are deterministic: the winner
  * runs inside the loser's publish at the "staged" step seam, after the
  * loser derived its record and before its first link. */
class PublishSpec extends AnyFunSuite with SparkFixture {

  private def rows(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, i * 1.5 + 1.0, s"u$i", s"n$i")).toDF("id", "price", "user", "note")
  }

  /** 100 rows in 4 id-clustered files at v1. */
  private lazy val base: String = {
    val t = Files.createTempDirectory("graft_pub_base_").toString
    SnapshotLog.commit(spark, rows(0 until 100).repartitionByRange(4, col("id")), t,
      statsFor = Seq("id"))
    t
  }

  private def copyInto(src: String, dst: Path): Unit = {
    val walk = Files.walk(Paths.get(src))
    try walk.iterator().asScala.toList.foreach { p =>
      val q = dst.resolve(Paths.get(src).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  private def copyOf(src: String, prefix: String): String = {
    val dst = Files.createTempDirectory(prefix)
    copyInto(src, dst)
    dst.toString
  }

  private def fresh(): String = copyOf(base, "graft_pub_")

  /** Data files of v1 ordered by their lowest id. */
  private def filesOf(t: String): Seq[String] =
    SnapshotLog.resolve(t, 1L).entries.sortBy(_.num("id")._1).map(_.path)

  /** Run `body` with `winner` landing at the first publish step named
    * `step`; the seam disarms itself before the winner runs. */
  private def racing[A](step: String)(winner: => Any)(body: => A): A = {
    SnapshotLog.onStep = s => if (s == step) {
      SnapshotLog.onStep = _ => ()
      winner; ()
    }
    try body finally SnapshotLog.onStep = _ => ()
  }

  private def crashAt[A](step: String)(body: => A): A =
    racing(step)(throw new IllegalStateException(s"injected crash at $step"))(body)

  private def ids(t: String): Set[Long] =
    SnapshotLog.read(spark, t).select("id").collect().map(_.getLong(0)).toSet

  private def leftovers(t: String): Seq[String] = {
    val st = Files.list(Paths.get(t, "_graft_log"))
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".tmp-") || n.startsWith(".ckpt-tmp-")).toList
    finally st.close()
  }

  private def stages(t: String): Set[String] =
    Seq("data", "cdc", "dv", "idx").flatMap { root =>
      val d = Paths.get(t, root)
      if (!Files.isDirectory(d)) Seq.empty
      else {
        val st = Files.list(d)
        try st.iterator().asScala.map(p => s"$root/${p.getFileName}").toList
        finally st.close()
      }
    }.toSet

  // ------------------------------------------------------ the two races

  test("ADD CONSTRAINT fails when an append lands between its validation and its publish") {
    import spark.implicits._
    val t = fresh()
    val e = racing("staged") {
      SnapshotLog.commit(spark, Seq((700L, -9.0, "bad", "n")).toDF("id", "price", "user", "note"),
        t, append = true)
    } {
      intercept[RuntimeException](SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0"))
    }
    assert(e.getMessage.contains("concurrent modification"), e.getMessage)
    assert(SnapshotLog.versions(t) == Seq(1L, 2L), "the ALTER must not land")
    assert(Constraints.of(SnapshotLog.properties(t)).isEmpty,
      "no constraint may sit over rows that violate it")
    assert(SnapshotLog.read(spark, t).filter(col("price") < 0).count() == 1L)
    // re-running the ALTER validates the raced row and refuses
    val again = intercept[RuntimeException](
      SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0"))
    assert(again.getMessage.contains("1 existing row(s) violate"), again.getMessage)
  }

  test("RENAME and DROP COLUMN fail when SET TBLPROPERTIES lands first; the winner's property survives") {
    val alters = Seq[(String, String => Long)](
      "rename" -> (t => SnapshotLog.renameColumn(spark, t, "user", "usr")),
      "drop" -> (t => SnapshotLog.dropColumn(spark, t, "user")))
    alters.foreach { case (what, alter) =>
      val t = fresh()
      SnapshotLog.setProperties(t, Map(BloomIndex.ColumnsProp -> "id,user"))
      val e = racing("staged")(SnapshotLog.setProperties(t, Map("owner" -> "ana"))) {
        intercept[RuntimeException](alter(t))
      }
      assert(e.getMessage.contains("concurrent schema change"), s"$what: ${e.getMessage}")
      val props = SnapshotLog.properties(t)
      assert(props.get("owner").contains("ana"), s"$what erased the winner's property: $props")
      assert(props.get(BloomIndex.ColumnsProp).contains("id,user"))
      assert(SnapshotLog.read(spark, t).columns.toSeq == Seq("id", "price", "user", "note"),
        s"$what must not land")
    }
  }

  // ------------------------------------------------- a crash at each step

  /** v19, so the next commit lands on the v20 checkpoint version. */
  private lazy val at19: String = {
    val t = copyOf(base, "graft_pub_19_")
    (2 to 19).foreach(i => SnapshotLog.commit(spark, rows(100 * i until 100 * i + 2), t,
      append = true))
    t
  }

  test("a crash at each publish step of a v20 commit leaves a readable head and sweepable stages") {
    val before = ids(at19)
    val added = rows(5000 until 5003)
    def sweep(t: String): Seq[String] = { Thread.sleep(20); SnapshotLog.vacuumOrphans(t, 0L) }

    // staged: nothing lands; the stage is litter for the sweep
    val t1 = copyOf(at19, "graft_pub_c1_")
    val stages1 = stages(t1)
    intercept[IllegalStateException](crashAt("staged") {
      SnapshotLog.commit(spark, added, t1, append = true)
    })
    assert(SnapshotLog.latestVersion(t1).contains(19L) && ids(t1) == before)
    assert(leftovers(t1).isEmpty, s"tmp files left: ${leftovers(t1)}")
    val litter = stages(t1) -- stages1
    assert(litter.size == 1, s"the crashed commit staged $litter")
    assert(sweep(t1).toSet == litter)
    assert(ids(t1) == before)

    // linked: the version landed, its checkpoint never ran
    val t2 = copyOf(at19, "graft_pub_c2_")
    intercept[IllegalStateException](crashAt("linked") {
      SnapshotLog.commit(spark, added, t2, append = true)
    })
    assert(SnapshotLog.latestVersion(t2).contains(20L))
    assert(ids(t2) == before ++ (5000L to 5002L))
    assert(!Files.exists(Paths.get(t2, "_graft_log", "ckpt-v20.json")))
    assert(leftovers(t2).isEmpty, s"tmp files left: ${leftovers(t2)}")
    assert(sweep(t2).isEmpty, "a landed stage is never swept")

    // checkpointed: the checkpoint write fails, the commit still returns
    // its version and resolution replays the records
    val t3 = copyOf(at19, "graft_pub_c3_")
    val v = crashAt("checkpointed")(SnapshotLog.commit(spark, added, t3, append = true))
    assert(v == 20L)
    assert(!Files.exists(Paths.get(t3, "_graft_log", "ckpt-v20.json")))
    assert(leftovers(t3).isEmpty, s"tmp files left: ${leftovers(t3)}")
    val entries20 =
      SnapshotLog.resolve(t3, 19L).entries.size + SnapshotLog.readRecord(t3, 20L).adds.size
    SnapshotLog.recordReads.set(0L)
    assert(SnapshotLog.resolve(t3, 20L).entries.size == entries20)
    assert(SnapshotLog.recordReads.get() == 20L, "no checkpoint: v20 resolves by replay")
    assert(ids(t3) == before ++ (5000L to 5002L))
    assert(sweep(t3).isEmpty)
    // without a crash the same commit writes the checkpoint
    val t4 = copyOf(at19, "graft_pub_c4_")
    assert(SnapshotLog.commit(spark, added, t4, append = true) == 20L)
    assert(Files.exists(Paths.get(t4, "_graft_log", "ckpt-v20.json")))
  }

  test("a crash in commitDelta after its dv/ sidecar is written leaves the stages to the sweep") {
    import SnapshotLog.Pred._
    val before = ids(base)
    val t = fresh()
    val stages0 = stages(t)
    intercept[IllegalStateException](crashAt("staged") {
      SnapshotLog.deleteWhere(spark, t, Between("id", 10.0, 14.0))
    })
    assert(SnapshotLog.latestVersion(t).contains(1L) && ids(t) == before)
    assert(leftovers(t).isEmpty)
    val litter = stages(t) -- stages0
    assert(litter.exists(_.startsWith("dv/")) && litter.exists(_.startsWith("cdc/")),
      s"the delta staged its sidecar and change data: $litter")
    Thread.sleep(20)
    assert(SnapshotLog.vacuumOrphans(t, 0L).toSet == litter)
    assert(ids(t) == before)

    // after the link: the delete landed whole
    val t2 = fresh()
    intercept[IllegalStateException](crashAt("linked") {
      SnapshotLog.deleteWhere(spark, t2, Between("id", 10.0, 14.0))
    })
    assert(ids(t2) == before -- (10L to 14L))
    assert(leftovers(t2).isEmpty)
    Thread.sleep(20)
    assert(SnapshotLog.vacuumOrphans(t2, 0L).isEmpty)
    assert(ids(t2) == before -- (10L to 14L))
  }

  // ------------------------------------------------- the conflict table

  /** Winner kinds, each landing one commit on `t` (at v1, 4 files). */
  private val winners: Seq[(String, String => Any)] = Seq(
    "append" -> (t => SnapshotLog.commit(spark, rows(1000 until 1002), t, append = true)),
    "replace" -> (t => SnapshotLog.commit(spark, rows(2000 until 2002), t)),
    "disjoint rewrite" -> (t => rewrite(t, filesOf(t).last)),
    "overlapping rewrite" -> (t => rewrite(t, filesOf(t).head)),
    "properties" -> (t => SnapshotLog.setProperties(t, Map("owner" -> "ana"))),
    "add constraint" -> (t => SnapshotLog.addConstraint(spark, t, "pos_price", "price > 0")),
    "schema change" -> (t => SnapshotLog.renameColumn(spark, t, "note", "memo")))

  /** Rewrite one data file of v1 at the head (its prices + 1000). */
  private def rewrite(t: String, path: String): Long =
    SnapshotLog.commitRewrite(spark,
      spark.read.parquet(s"$t/$path").withColumn("price", col("price") + 1000.0), t,
      removePaths = Seq(path), expectedHead = SnapshotLog.latestVersion(t).get)

  private val Lands = "lands"

  /** loser -> (its commit, expected outcome per winner kind: `Lands` or
    * the failure's message substring). */
  private val table: Seq[(String, String => Long, Map[String, String])] = {
    val mod = "concurrent modification"
    def all(o: String) = winners.map(_._1 -> o).toMap
    Seq(
      ("blind append", t => SnapshotLog.commit(spark, rows(3000 until 3002), t, append = true),
        all(Lands) + ("add constraint" -> "concurrent ADD CONSTRAINT")),
      ("blind replace", t => SnapshotLog.commit(spark, rows(3000 until 3002), t),
        all(Lands) + ("add constraint" -> "concurrent ADD CONSTRAINT")),
      ("conditional commit", t => SnapshotLog.commit(spark, rows(3000 until 3002), t,
        expectedHead = Some(1L)), all(mod)),
      ("rewrite", t => rewrite(t, filesOf(t).head),
        all(Lands) ++ Seq("replace", "overlapping rewrite", "add constraint").map(_ -> mod)),
      ("restore", t => SnapshotLog.restore(spark, t, 1L), all(mod)),
      ("properties", t => SnapshotLog.setProperties(t, Map("tier" -> "gold")),
        all(Lands) ++ Seq("properties", "add constraint", "schema change")
          .map(_ -> "concurrent property/schema change")),
      ("drop constraint", t => SnapshotLog.dropConstraint(t, "small_id"),
        all(Lands) ++ Seq("properties", "add constraint", "schema change")
          .map(_ -> "concurrent property/schema change")),
      ("add constraint", t => SnapshotLog.addConstraint(spark, t, "has_user", "user IS NOT NULL"),
        all(mod) ++ Seq("properties", "add constraint", "schema change")
          .map(_ -> "concurrent property/schema change")),
      ("schema change", t => SnapshotLog.renameColumn(spark, t, "user", "usr"),
        all(Lands) ++ Seq("properties", "add constraint", "schema change")
          .map(_ -> "concurrent schema change")))
  }

  table.foreach { case (loser, commit, expected) =>
    test(s"conflict table: $loser against every winner kind") {
      winners.foreach { case (winner, land) =>
        val t = fresh()
        // "restore" needs a v2 to restore away from; "drop constraint"
        // needs a constraint to drop: set both up before the race
        if (loser == "restore") SnapshotLog.commit(spark, rows(4000 until 4002), t, append = true)
        if (loser == "drop constraint") SnapshotLog.addConstraint(spark, t, "small_id", "id < 100000")
        val head = SnapshotLog.latestVersion(t).get
        val want = expected(winner)
        val got = racing("staged")(land(t)) {
          try Right(commit(t)) catch { case e: RuntimeException => Left(e.getMessage) }
        }
        val ctx = s"$loser vs $winner"
        val winnerV = head + 1
        assert(SnapshotLog.versions(t).contains(winnerV), s"$ctx: the winner landed")
        if (want == Lands) {
          assert(got == Right(winnerV + 1), s"$ctx: expected to land after the winner, got $got")
          assert(SnapshotLog.latestVersion(t).contains(winnerV + 1))
        } else {
          assert(got.left.exists(_.contains(want)), s"$ctx: expected '$want', got $got")
          assert(SnapshotLog.latestVersion(t).contains(winnerV), s"$ctx: the loser must not land")
        }
        assert(leftovers(t).isEmpty, s"$ctx: tmp files left")
      }
    }
  }

  test("conflict table: a blind commit whose txn a winner already applied returns the winner's version") {
    val t = fresh()
    val got = racing("staged") {
      SnapshotLog.commit(spark, rows(3000 until 3002), t, append = true, txn = Some(("w", 7L)))
    } {
      SnapshotLog.commit(spark, rows(3000 until 3002), t, append = true, txn = Some(("w", 7L)))
    }
    assert(got == 2L && SnapshotLog.versions(t) == Seq(1L, 2L))
    assert(ids(t) == ids(base) ++ Set(3000L, 3001L), "the batch landed once")
  }

  test("conflict table: a clone fails against any commit that took its v1") {
    val dsts = Seq[(String, String => Any)](
      "commit" -> (d => SnapshotLog.commit(spark, rows(0 until 2), d)),
      "clone" -> (d => SnapshotLog.cloneTable(base, d)))
    dsts.foreach { case (winner, land) =>
      val d = Files.createTempDirectory("graft_pub_clone_").resolve("t").toString
      val e = racing("staged")(land(d)) {
        intercept[RuntimeException](SnapshotLog.cloneTable(base, d))
      }
      assert(e.getMessage.contains("already has a v1 commit"), s"$winner: ${e.getMessage}")
      assert(SnapshotLog.versions(d) == Seq(1L))
      assert(leftovers(d).isEmpty)
    }
  }

  // ------------------------------- concurrent SQL MERGE, DELETE, OPTIMIZE

  private lazy val catalogRoot: Path = {
    val r = Files.createTempDirectory("graft_pub_catalog_")
    spark.conf.set("spark.sql.catalog.graft_pub", classOf[graft.sources.LogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_pub.root", r.toString)
    r
  }

  /** Each statement, and its effect on the (id -> price) model. All
    * three touch the file holding ids 0..24. */
  private val statements: Seq[(String, String => Unit, Map[Long, Double] => Map[Long, Double])] = Seq(
    ("MERGE", n => {
      spark.sql(
        s"""MERGE INTO graft_pub.ns.$n AS d
           |USING (SELECT * FROM VALUES (5L, 105.0), (6L, 106.0), (7L, 107.0), (1000L, 1.0)
           |       AS v(id, price)) AS s
           |ON d.id = s.id
           |WHEN MATCHED THEN UPDATE SET d.price = s.price
           |WHEN NOT MATCHED THEN INSERT (id, price, user, note) VALUES (s.id, s.price, 'm', 'm')""".stripMargin)
      ()
    }, m => m ++ Map(5L -> 105.0, 6L -> 106.0, 7L -> 107.0, 1000L -> 1.0)),
    ("DELETE", n => { spark.sql(s"DELETE FROM graft_pub.ns.$n WHERE id BETWEEN 3 AND 8"); () },
      m => m -- (3L to 8L)),
    ("OPTIMIZE", n => { spark.sql(s"CALL graft_pub.system.optimize('ns.$n')"); () },
      m => m))

  test("concurrent SQL MERGE, DELETE and OPTIMIZE on overlapping files: commit or fail, no row lost or back") {
    val model0 = (0 until 100).map(i => i.toLong -> (i * 1.5 + 1.0)).toMap
    var k = 0
    for ((lName, loser, lEffect) <- statements; (wName, winner, wEffect) <- statements) {
      k += 1
      val n = s"t$k"
      val dir = catalogRoot.resolve("ns").resolve(n)
      copyInto(base, dir)
      def model(): Map[Long, Double] =
        spark.sql(s"SELECT id, price FROM graft_pub.ns.$n").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val got = racing("staged")(winner(n)) {
        try { loser(n); None } catch { case e: RuntimeException => Some(e.getMessage) }
      }
      val ctx = s"$lName loser vs $wName winner"
      got match {
        case None => assert(model() == lEffect(wEffect(model0)), s"$ctx: committed")
        case Some(msg) =>
          assert(msg.contains("concurrent modification"), s"$ctx: $msg")
          assert(model() == wEffect(model0), s"$ctx: the winner alone")
          // the loser re-derives from the new head and lands
          loser(n)
          assert(model() == lEffect(wEffect(model0)), s"$ctx: after the retry")
      }
    }
  }
}
