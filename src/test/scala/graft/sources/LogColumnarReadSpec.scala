package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.core.SnapshotLog

/** The VECTORIZED batch read path: plain `graft-log` batch scans
  * execute columnar (ColumnarBatch through Spark's vectorized parquet
  * reader + ColumnarToRow) across the type surface, keep schema
  * evolution and partition constants, and stay columnar where row
  * ordinals matter (deletion vectors, metadata columns). SPJ key
  * groups stay columnar — see LogSpjSpec. */
class LogColumnarReadSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): String =
    Files.createTempDirectory("graft_logcol_").toString

  private def batchRead(t: String): DataFrame =
    spark.read.format("graft-log").load(t)

  /** (result, files opened, of which columnar). */
  private def audited[A](body: => A): (A, Long, Long) = {
    val f0 = LogSourceAudit.filesOpened.get()
    val c0 = LogSourceAudit.columnarOpened.get()
    val r = body
    (r, LogSourceAudit.filesOpened.get() - f0,
      LogSourceAudit.columnarOpened.get() - c0)
  }

  test("a plain batch scan is columnar: ColumnarToRow in the plan, every file vectorized") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark,
      (0 until 100).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(5, col("id")),
      t, statsFor = Seq("id"))
    val df = batchRead(t).filter(col("id") >= 20L && col("id") < 60L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"batch scan must plan columnar:\n$plan")
    val (kept, _) = SnapshotLog.prunedFilesWhere(t,
      SnapshotLog.Pred.And(SnapshotLog.Pred.Between("id", 20.0, Double.PositiveInfinity),
        SnapshotLog.Pred.Between("id", Double.NegativeInfinity, 60.0)))
    val (got, nOpened, nColumnar) = audited {
      df.select("id").collect().map(_.getLong(0)).toSet
    }
    assert(got == (20L until 60L).toSet)
    assert(nOpened == kept.size.toLong && nColumnar == nOpened,
      s"pruned set read vectorized: kept=${kept.size} opened=$nOpened columnar=$nColumnar")
  }

  test("columnar equals the row/library read across the flat type surface") {
    import spark.implicits._
    val t = freshTable()
    val df = spark.range(0, 1000).select(
      col("id"),
      col("id").cast("int").as("i32"),
      col("id").cast("smallint").as("i16"),
      (col("id") % 100).cast("tinyint").as("i8"),
      (col("id") * 1.5).as("d"),
      col("id").cast("float").as("f"),
      (col("id") % 2 === 0).as("b"),
      concat(lit("s"), col("id")).as("s"),
      encode(concat(lit("b"), col("id")), "UTF-8").as("bin"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), col("id").cast("int") % 365).as("dt"),
      (col("id").cast("decimal(9,2)") / 7).as("dec9"),
      (col("id").cast("decimal(38,10)") * 12345).as("dec38"),
      to_timestamp(lit("2021-06-01 12:00:00")).as("ts"),
      lit("2021-06-01 12:00:00").cast("timestamp_ntz").as("tsntz"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id")).as("maybe"))
    SnapshotLog.commit(spark, df.repartition(3), t)
    val viaColumnar = batchRead(t)
    val viaLibrary = SnapshotLog.read(spark, t)
    assert(viaColumnar.schema == viaLibrary.schema)
    val cols = viaColumnar.schema.fieldNames.map(col).toSeq
    assert(viaColumnar.orderBy("id").collect().toSeq ==
      viaLibrary.select(cols: _*).orderBy("id").collect().toSeq,
      "columnar read must be value-identical to the library parquet read")
  }

  test("schema evolution and hive partition constants survive the columnar path") {
    import spark.implicits._
    val t = freshTable()
    // v1: two columns, partitioned; v2 widens with a third column
    SnapshotLog.commit(spark,
      Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), t,
      partitionBy = Seq("lang"))
    SnapshotLog.commit(spark,
      Seq((3L, "en", 9.5)).toDF("id", "lang", "score"), t,
      partitionBy = Seq("lang"), append = true)
    val (rows, _, nColumnar) = audited {
      batchRead(t).orderBy("id")
        .collect().map(r => (r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("lang")),
          if (r.isNullAt(r.fieldIndex("score"))) None
          else Some(r.getDouble(r.fieldIndex("score"))))).toSeq
    }
    assert(nColumnar > 0L, "evolved partitioned scan still vectorizes")
    assert(rows == Seq((1L, "en", None), (2L, "de", None), (3L, "en", Some(9.5))))
    // partition pruning composes: one partition directory, columnar
    val (n, nOpened, nCol2) = audited {
      batchRead(t).filter(col("lang") === "de").count()
    }
    assert(n == 1L && nOpened == 1L && nCol2 == 1L, s"$n/$nOpened/$nCol2")
  }

  test("deletion-vectored tables stay columnar: dead rows vanish through remapped vectors") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark,
      (0 until 100).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(5, col("id")),
      t, statsFor = Seq("id"))
    SnapshotLog.deleteWhere(spark, t, SnapshotLog.Pred.Between("id", 10.0, 19.0))
    val (got, nOpened, nColumnar) = audited {
      batchRead(t).select("id", "payload")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    assert(got == ((0L until 100L).toSet -- (10L to 19L)).map(i => (i, s"p$i")))
    assert(nOpened == 5L && nColumnar == 5L,
      s"dv table must stay vectorized: opened=$nOpened columnar=$nColumnar")
  }

  test("dv remapping is exact across batch boundaries and null cells") {
    import spark.implicits._
    val t = freshTable()
    // one file of 10k rows: several reader batches (capacity 4096);
    // delete a spread that crosses every batch, incl. run heads/tails
    SnapshotLog.commit(spark,
      spark.range(0, 10000).select(
        col("id"),
        when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"),
        (col("id") * 1.25).as("d"))
        .coalesce(1), t, statsFor = Seq("id"))
    val deadIds = ((0L to 10L) ++ (4090L to 4100L) ++ (8190L to 8200L) ++ Seq(9999L)).toSet
    SnapshotLog.deleteWhere(spark, t,
      SnapshotLog.Pred.In("id", deadIds.toSeq.map(_.toDouble)))
    val (rows, nOpened, nColumnar) = audited {
      batchRead(t).collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          r.getDouble(2))
      }.toList.sortBy(_._1)
    }
    assert(nOpened == 1L && nColumnar == 1L, s"opened=$nOpened columnar=$nColumnar")
    val expect = (0L until 10000L).filterNot(deadIds).map { i =>
      (i, if (i % 7 == 0) null else s"s$i", i * 1.25)
    }.toList
    assert(rows == expect, "remapped batches must be value-identical to the surviving rows")
  }

  test("pushed filters skip row groups inside a kept file; dv files opt out and stay exact") {
    import spark.implicits._
    val t = freshTable()
    // small parquet row groups so one FILE holds many skippable groups
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = hconf.get("parquet.block.size")
    hconf.setInt("parquet.block.size", 64 * 1024)
    try {
      SnapshotLog.commit(spark,
        spark.range(0, 200000).select(
          col("id"), concat(lit("payload_"), col("id")).as("s"))
          .coalesce(1).sortWithinPartitions("id"),
        t, statsFor = Seq("id"))
    } finally {
      if (oldBlock == null) hconf.unset("parquet.block.size")
      else hconf.set("parquet.block.size", oldBlock)
    }
    val d0 = LogSourceAudit.rowsDecoded.get()
    val got = batchRead(t).filter(col("id") === 123456L).collect()
    val decoded = LogSourceAudit.rowsDecoded.get() - d0
    assert(got.length == 1 && got.head.getString(1) == "payload_123456")
    assert(decoded > 0L && decoded < 50000L,
      s"a point filter on a sorted file must skip most row groups: decoded=$decoded of 200000")
    // a deletion-vectored file must NOT row-group-skip (positions are
    // sequential ordinals) — and stays value-exact under the filter
    SnapshotLog.deleteWhere(spark, t, SnapshotLog.Pred.Eq("id", 123456.0))
    val d1 = LogSourceAudit.rowsDecoded.get()
    val after = batchRead(t).filter(col("id").between(123450L, 123460L))
      .collect().map(_.getLong(0)).toSet
    val decodedDv = LogSourceAudit.rowsDecoded.get() - d1
    assert(after == (123450L to 123460L).toSet - 123456L)
    assert(decodedDv == 200000L,
      s"dv files read every row (ordinals must not shift): decoded=$decodedDv")
  }

  test("metadata columns ride constant/position vectors: columnar, identical to Spark's parquet _metadata") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark,
      (0 until 300).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(3, col("id")), t, statsFor = Seq("id"))
    // dv on one file: positions of SURVIVORS must stay file ordinals
    SnapshotLog.deleteWhere(spark, t, SnapshotLog.Pred.Between("id", 10.0, 19.0))
    val cols = Seq(col("id"), col("_graft_rel"), col("_graft_pos"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val (viaCol, _, nColumnar) = audited {
      rows(batchRead(t).filter(col("id") < 250L))
    }
    // reference: Spark's own parquet reader over the same live files,
    // (file_path, row_index) mapped back to the entry's table-relative
    // path; the deleted ids are the dv's dead positions
    val entries = SnapshotLog.resolve(t, SnapshotLog.latestVersion(t).get).entries
    val relOf = entries.map(e =>
      java.nio.file.Paths.get(SnapshotLog.dataAbs(t, e)).toAbsolutePath.normalize.toString -> e.path).toMap
    val viaSpark = spark.read.parquet(entries.map(SnapshotLog.dataAbs(t, _)): _*)
      .filter(col("id") < 250L && !col("id").between(10L, 19L))
      .select(col("id"), col("_metadata.file_path"), col("_metadata.row_index"))
      .collect().map(r => (r.getLong(0),
        relOf(java.nio.file.Paths.get(new java.net.URI(r.getString(1))).normalize.toString),
        r.getLong(2))).toSet
    assert(nColumnar > 0L, "metadata-column scans must stay vectorized")
    assert(viaCol == viaSpark,
      "constant/position vectors must reproduce Spark's file path and row index exactly")
    assert(viaCol.map(_._1) == (0L until 250L).toSet -- (10L to 19L))
    // positions asked => parquet skipping disabled (ordinals must not shift)
    val d0 = LogSourceAudit.rowsDecoded.get()
    rows(batchRead(t).filter(col("id") === 5L))
    assert(LogSourceAudit.rowsDecoded.get() - d0 >= 100L,
      "a _graft_pos scan must decode its kept file in full")
  }
}
