package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.core.SnapshotLog

/** The BATCH side of the `graft-log` DSv2 source: plain
  * `spark.read.format("graft-log")` scans get Catalyst filter
  * pushdown translated into manifest file skipping (the Delta/Iceberg
  * relation behavior), column pruning to the parquet page level,
  * manifest-exact statistics, deletion-vector application, partition
  * columns restored from paths, and time travel via options. */
class LogBatchSourceSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): String =
    Files.createTempDirectory("graft_logbatch_").toString

  /** 100 rows in 5 id-clustered files, id-indexed. */
  private def clusteredTable(): String = {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark,
      (0 until 100).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(5, col("id")),
      t, statsFor = Seq("id"))
    t
  }

  private def batchRead(t: String): DataFrame =
    spark.read.format("graft-log").load(t)

  /** (result rows, files the source actually opened). */
  private def opened[A](body: => A): (A, Long) = {
    val before = LogSourceAudit.filesOpened.get()
    val r = body
    (r, LogSourceAudit.filesOpened.get() - before)
  }

  test("a plain .filter() prunes files at planning time, exactly the manifest-pruned set") {
    val t = clusteredTable()
    val (kept, skipped) = SnapshotLog.prunedFilesWhere(t,
      SnapshotLog.Pred.Between("id", 80.0, 90.0))
    assert(kept.size == 1 && skipped.size == 4, s"demo layout: $kept / $skipped")
    val (got, nOpened) = opened {
      batchRead(t).filter(col("id") >= 80L && col("id") <= 90L)
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(got == (80L to 90L).toSet)
    assert(nOpened == kept.size,
      s"pushdown must open EXACTLY the pruned set (${kept.size}), opened $nOpened")
    // the pushed predicate is visible in the scan for plan audits
    val plan = batchRead(t).filter(col("id") === 5L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("pruned=[") && plan.contains("Eq(id,5.0)"), plan)
    // an un-indexed column prunes nothing but still answers exactly
    val (allRows, nAll) = opened {
      batchRead(t).filter(col("payload") === "p7").collect()
    }
    assert(allRows.map(_.getLong(0)).toSet == Set(7L) && nAll == 5L)
  }

  test("full scan equals the library read; OR / IN / string predicates prune soundly") {
    val t = clusteredTable()
    def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(batchRead(t)) == ids(SnapshotLog.read(spark, t)))
    val (gotOr, nOr) = opened {
      ids(batchRead(t).filter(col("id") < 5L || col("id") >= 95L))
    }
    assert(gotOr == ((0L to 4L) ++ (95L to 99L)).toSet)
    assert(nOr == 2L, s"an OR of two edge ranges must skip the middle files, opened $nOr")
    val (gotIn, nIn) = opened { ids(batchRead(t).filter(col("id").isin(3L, 97L))) }
    assert(gotIn == Set(3L, 97L) && nIn == 2L, s"IN pruned $nIn")
    // conjunction with an untranslatable side still prunes on the other
    val (gotAnd, nAnd) = opened {
      ids(batchRead(t).filter(col("id") > 90L && col("payload").startsWith("p9")))
    }
    assert(gotAnd == (91L to 99L).toSet && nAnd == 1L)
  }

  test("column pruning reaches the parquet reader; count(*) scans a single column") {
    val t = clusteredTable()
    val one = batchRead(t).select("payload")
    assert(one.queryExecution.executedPlan.toString.contains("payload"))
    assert(one.collect().map(_.getString(0)).toSet == (0 until 100).map(i => s"p$i").toSet)
    assert(batchRead(t).count() == 100L) // empty projection path
  }

  test("manifest-exact statistics: a filtered scan reports pruned rows/bytes to the optimizer") {
    val t = clusteredTable()
    val full = batchRead(t)
    val fullStats = full.queryExecution.optimizedPlan.stats
    assert(fullStats.rowCount.contains(BigInt(100)), s"$fullStats")
    val pruned = batchRead(t).filter(col("id") >= 80L && col("id") <= 90L)
    val prunedStats = pruned.queryExecution.optimizedPlan.stats
    assert(prunedStats.sizeInBytes < fullStats.sizeInBytes,
      s"pruned scan must report a smaller size: $prunedStats vs $fullStats")
  }

  test("deletion vectors apply in the batch source, composed with pushdown") {
    val t = clusteredTable()
    SnapshotLog.deleteWhere(spark, t, SnapshotLog.Pred.Between("id", 82.0, 85.0))
    def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(batchRead(t)) == (0L until 100L).toSet -- (82L to 85L).toSet)
    val (got, nOpened) = opened {
      ids(batchRead(t).filter(col("id") >= 80L && col("id") <= 90L))
    }
    assert(got == (80L to 90L).toSet -- (82L to 85L).toSet)
    assert(nOpened == 1L, s"dv'd entry keeps its bounds — still one file, opened $nOpened")
    // stats see LIVE rows
    val st = batchRead(t).queryExecution.optimizedPlan.stats
    assert(st.rowCount.contains(BigInt(96)), s"$st")
  }

  test("a broadcast star join prunes fact files at RUNTIME from the dim side's keys") {
    import spark.implicits._
    val t = clusteredTable() // 5 id-clustered files, id-indexed
    val dimDir = Files.createTempDirectory("graft_dim_").toString
    (0 until 100).map(i => (i.toLong, if (i >= 80 && i <= 90) "hot" else "cold"))
      .toDF("id", "cat").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("cat") === "hot")
    val joined = batchRead(t).join(broadcast(dim), "id")
    val (got, nOpened) = opened {
      joined.select("id").collect().map(_.getLong(0)).toSet
    }
    assert(got == (80L to 90L).toSet)
    // the dim's surviving keys all live in the [80,99] file: dynamic
    // pruning must drop the other four BEFORE any reader opens
    assert(nOpened == 1L,
      s"runtime filtering must prune to the dim keys' file, opened $nOpened of 5")
    assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "the plan must carry a dynamic-pruning subquery on the scan")
  }

  test("partition columns restore from paths and partition filters prune directories") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark,
      Seq((1L, "en", 10), (2L, "de", 20), (3L, "en", 30), (4L, "fr", 40))
        .toDF("id", "lang", "n").repartition(1),
      t, partitionBy = Seq("lang"), statsFor = Seq("n"))
    val all = batchRead(t).collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("lang")))).toSet
    assert(all == Set((1L, "en"), (2L, "de"), (3L, "en"), (4L, "fr")))
    val (got, nOpened) = opened {
      batchRead(t).filter(col("lang") === "en")
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(got == Set(1L, 3L))
    assert(nOpened == 1L,
      s"a partition filter must open only lang=en files, opened $nOpened")
    // partition + stats pruning compose (AND across the two tiers)
    val (got2, n2) = opened {
      batchRead(t).filter(col("lang") === "en" && col("n") > 100)
        .select("id").collect()
    }
    assert(got2.isEmpty && n2 == 0L, s"provably-empty read must open nothing, opened $n2")
  }

  test("schema evolution surfaces nulls; versionAsOf/timestampAsOf time-travel") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, Seq((1L, "a")).toDF("id", "payload"), t)
    SnapshotLog.commit(spark,
      Seq((2L, "b", "extra")).toDF("id", "payload", "note"), t, append = true)
    val rows = batchRead(t).collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(r.fieldIndex("note"))) None else Some(r.getString(r.fieldIndex("note"))))).toMap
    assert(rows == Map(1L -> None, 2L -> Some("extra")))
    val v1 = spark.read.format("graft-log").option("versionAsOf", "1").load(t)
    assert(v1.schema.fieldNames.toSet == Set("id", "payload"))
    assert(v1.count() == 1L)
    val atNow = spark.read.format("graft-log")
      .option("timestampAsOf", System.currentTimeMillis().toString).load(t)
    assert(atNow.count() == 2L)
  }

  test("batch CDF mode delivers the same rows as the library readChangeFeed") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark,
      Seq((1L, "p1"), (2L, "p2")).toDF("id", "payload")
        .repartitionByRange(1, col("id")), t, statsFor = Seq("id")) // v1
    SnapshotLog.commit(spark, Seq((3L, "p3")).toDF("id", "payload"),
      t, append = true)                                             // v2
    SnapshotLog.merge(spark, t, Seq((1L, "upd")).toDF("id", "payload"), "id") // v3
    def rowsOf(df: DataFrame): Set[(Long, String, Long)] = df
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val lib = rowsOf(SnapshotLog.readChangeFeed(spark, t, 1L, 3L))
    val viaSource = rowsOf(spark.read.format("graft-log")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load(t))
    assert(viaSource == lib, s"$viaSource vs $lib")
    // full-range batch CDF includes the v1 snapshot as inserts
    val fullFeed = rowsOf(spark.read.format("graft-log")
      .option("readChangeFeed", "true").load(t))
    assert(fullFeed == lib ++ Set((1L, "insert", 1L), (2L, "insert", 1L)))
  }

  test("'+', space and '%' in string partition values survive path escaping") {
    import spark.implicits._
    // Spark's escapePathName never encodes space as '+', so a
    // URLDecoder-based decode would silently corrupt a literal '+'
    // (e.g. a timezone offset) into a space: wrong bounds (matching
    // files pruned) and a wrong restored constant (residual filter
    // then drops every row)
    val t = freshTable()
    SnapshotLog.commit(spark,
      Seq((1L, "UTC+7"), (2L, "UTC+7"), (3L, "a b"), (4L, "50%")).toDF("id", "tz"),
      t, partitionBy = Seq("tz"))
    val got = batchRead(t).filter(col("tz") === "UTC+7")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L), s"'+' partition value round-trip, got $got")
    val tzs = batchRead(t).select("tz").distinct()
      .collect().map(_.getString(0)).toSet
    assert(tzs == Set("UTC+7", "a b", "50%"), s"restored constants: $tzs")
    // and the partition-directory bounds still PRUNE on the raw value
    val (n, nOpened) = opened {
      batchRead(t).filter(col("tz") === "a b").count()
    }
    assert(n == 1L && nOpened == 1L, s"opened $nOpened for one partition")
  }

  test("shardMayContain prunes deletion-vector shards by the footer's path bounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dvshard_").toString
    Seq(("data/s1/a.parquet", 1L), ("data/s1/b.parquet", 2L))
      .toDF("path", "pos").coalesce(1).write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(LogColumnarReader.shardMayContain(f, "data/s1/a.parquet"))
    assert(LogColumnarReader.shardMayContain(f, "data/s1/b.parquet"))
    assert(!LogColumnarReader.shardMayContain(f, "data/s1/zzz.parquet"),
      "past the shard's max path: provably not here")
    assert(!LogColumnarReader.shardMayContain(f, "data/s0/a.parquet"),
      "before the shard's min path: provably not here")
    // in-range but absent: bounds are conservative, the shard is kept
    assert(LogColumnarReader.shardMayContain(f, "data/s1/ab.parquet"))
  }
}
