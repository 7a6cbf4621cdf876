package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** TYPE WIDENING across appends (Delta's type widening): a table
  * whose later commits re-declare a column WIDER (int -> long,
  * float -> double, int -> double) reads as the widened type on every
  * path — the library union coerces, and the vectorized DSv2 reader
  * decodes old narrow pages through Spark's widening promotions. */
class TypeWideningSpec extends AnyFunSuite with SparkFixture {

  private def widenedTable(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_widen_").toString
    SnapshotLog.commit(spark,
      (1 to 50).map(i => (i, i.toFloat * 1.5f)).toDF("id", "v"), // INT, FLOAT
      t, statsFor = Seq("id"))
    SnapshotLog.commit(spark,
      (51L to 100L).map(i => (i, i.toDouble * 1.5)).toDF("id", "v"), // LONG, DOUBLE
      t, append = true)
    t
  }

  test("library read widens: int+long -> long, float+double -> double, values exact") {
    val t = widenedTable()
    val df = SnapshotLog.read(spark, t)
    assert(df.schema("id").dataType.typeName == "long", df.schema.treeString)
    assert(df.schema("v").dataType.typeName == "double", df.schema.treeString)
    assert(df.count() == 100L)
    assert(df.agg(sum("id")).head().getLong(0) == 5050L)
    val v50 = df.filter(col("id") === 50L).select("v").head().getDouble(0)
    assert(math.abs(v50 - 75.0) < 1e-6, s"float 75.0f must widen exactly: $v50")
  }

  test("the vectorized DSv2 relation decodes narrow files through widening promotions") {
    val t = widenedTable()
    val df = spark.read.format("graft-log").load(t)
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.count() == 100L)
    // touches BOTH files' pages for both columns
    val r = df.agg(sum("id"), sum("v")).head()
    assert(r.getLong(0) == 5050L)
    assert(math.abs(r.getDouble(1) - 5050L * 1.5) < 1e-6)
    // filter pushdown across the width change: bounds recorded at the
    // narrow width still prune/keep correctly (stats are doubles)
    val ids = df.filter(col("id") >= 49L && col("id") <= 52L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(49L, 50L, 51L, 52L))
  }

  test("an INCOMPATIBLE re-declaration refuses at the WRITE, not at some later read") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_widen_bad_").toString
    SnapshotLog.commit(spark, Seq((1, 10)).toDF("id", "v"), t)
    val e = intercept[RuntimeException] {
      SnapshotLog.commit(spark, Seq((2L, "xx")).toDF("id", "v"), t, append = true)
    }
    assert(e.getMessage.contains("incompatible write") && e.getMessage.contains("v"),
      e.getMessage)
    assert(SnapshotLog.latestVersion(t).contains(1L), "nothing committed")
    // lossy numeric changes refuse too: long -> double loses past 2^53
    val t2 = Files.createTempDirectory("graft_widen_lossy_").toString
    SnapshotLog.commit(spark, Seq((1L, 2L)).toDF("id", "v"), t2)
    intercept[RuntimeException] {
      SnapshotLog.commit(spark,
        Seq((2L, 1.5)).toDF("id", "v"), t2, append = true)
    }
    assert(SnapshotLog.latestVersion(t2).contains(1L))
    // a REPLACE may change anything (it redefines the table)
    SnapshotLog.commit(spark, Seq((9L, "now strings")).toDF("id", "v"), t)
    assert(SnapshotLog.read(spark, t).schema("v").dataType.typeName == "string")
  }

  test("byte/short -> float refuses at the WRITE: no parquet reader decodes it") {
    import spark.implicits._
    // exact in value, but the vectorized and the row-based parquet
    // readers both refuse a narrow INT32 page read as float
    for (narrow <- Seq("tinyint", "smallint")) {
      val t = Files.createTempDirectory("graft_widen_float_").toString
      SnapshotLog.commit(spark, Seq(1, 2).toDF("v").select(col("v").cast(narrow).as("v")), t)
      val e = intercept[RuntimeException] {
        SnapshotLog.commit(spark, Seq(2.5f).toDF("v"), t, append = true)
      }
      assert(e.getMessage.contains("incompatible write"), e.getMessage)
      assert(SnapshotLog.latestVersion(t).contains(1L), "nothing committed")
      assert(SnapshotLog.read(spark, t).count() == 2L)
    }
  }

  test("metadata aggregates stay exact across the widening") {
    val t = widenedTable()
    val before = graft.sources.LogSourceAudit.filesOpened.get()
    val r = spark.read.format("graft-log").load(t)
      .agg(count(lit(1)), min("id"), max("id")).head()
    assert(r.getLong(0) == 100L && r.getLong(1) == 1L && r.getLong(2) == 100L)
    assert(graft.sources.LogSourceAudit.filesOpened.get() == before,
      "metadata COUNT/MIN/MAX must stay zero-open across widened schemas")
  }
}
