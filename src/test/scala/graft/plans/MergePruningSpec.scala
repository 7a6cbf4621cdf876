package graft.plans

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SnapshotLog
import graft.sources.LogSourceAudit

/** Runtime source-key file pruning for SQL MERGE (MergeRuntimeFilePruning,
  * injected via GraftExtensions): the target scan of a delta-based
  * MERGE opens only the files whose key bounds overlap the source's
  * keys — not the whole table — while the result stays exact. A
  * NOT-MATCHED-BY-SOURCE merge (full-outer rewrite) must NOT prune. */
class MergePruningSpec extends AnyFunSuite with graft.SparkFixture {

  /** 10 key-clustered files over ids [0, 1000). */
  private def clusteredTable(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_mergeprune_").toString
    SnapshotLog.commit(spark,
      (0 until 1000).map(i => (i.toLong, s"p$i", i * 1.0)).toDF("id", "payload", "v")
        .repartitionByRange(10, col("id")),
      t, statsFor = Seq("id"))
    t
  }

  private def audited[A](body: => A): (A, Long) = {
    val before = LogSourceAudit.filesOpened.get()
    val r = body
    (r, LogSourceAudit.filesOpened.get() - before)
  }

  test("MERGE opens only the files the source keys can touch") {
    import spark.implicits._
    val t = clusteredTable()
    spark.sql("DROP TABLE IF EXISTS mp_t")
    spark.sql(s"CREATE TABLE mp_t USING `graft-log` OPTIONS (path '$t')")
    try {
      // source touches ids in [100, 120) (one file) and inserts new keys
      Seq((100L, "u"), (110L, "u"), (119L, "d"), (5000L, "i"), (5001L, "i"))
        .toDF("k", "a").createOrReplaceTempView("mp_src")
      val (_, nOpened) = audited {
        spark.sql(
          """MERGE INTO mp_t g USING mp_src s ON g.id = s.k
            |WHEN MATCHED AND s.a = 'd' THEN DELETE
            |WHEN MATCHED THEN UPDATE SET v = g.v + 1000
            |WHEN NOT MATCHED THEN INSERT (id, payload, v) VALUES (s.k, 'new', 0.0)
            |""".stripMargin)
      }
      // the source's keys overlap ONE of ten files; the runtime filter
      // must re-prune the row-level scan to just that file
      assert(nOpened < 10L, s"MERGE must not scan the whole table: opened $nOpened/10")
      assert(nOpened >= 1L, s"the candidate file must still be read: opened $nOpened")
      // and the merge itself is exact
      val got = SnapshotLog.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got.size == 1001, s"1000 - 1 delete + 2 inserts = ${got.size}")
      assert(got(100L) == 1100.0 && got(110L) == 1110.0)
      assert(!got.contains(119L))
      assert(got(5000L) == 0.0 && got(5001L) == 0.0)
      assert(got(500L) == 500.0, "untouched rows carry")
    } finally spark.sql("DROP TABLE IF EXISTS mp_t")
  }

  test("a NOT MATCHED BY SOURCE merge reads every file (pruning would be unsound)") {
    import spark.implicits._
    val t = clusteredTable()
    spark.sql("DROP TABLE IF EXISTS mp_t2")
    spark.sql(s"CREATE TABLE mp_t2 USING `graft-log` OPTIONS (path '$t')")
    try {
      Seq((100L, 9.9)).toDF("k", "nv").createOrReplaceTempView("mp_src2")
      val (_, nOpened) = audited {
        spark.sql(
          """MERGE INTO mp_t2 g USING mp_src2 s ON g.id = s.k
            |WHEN MATCHED THEN UPDATE SET v = s.nv
            |WHEN NOT MATCHED BY SOURCE AND g.id >= 990 THEN DELETE
            |""".stripMargin)
      }
      assert(nOpened == 10L,
        s"full-outer rewrite must scan all files: opened $nOpened/10")
      val got = SnapshotLog.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got(100L) == 9.9)
      assert(got.size == 990 && !got.contains(995L),
        "NOT MATCHED BY SOURCE deletes applied")
    } finally spark.sql("DROP TABLE IF EXISTS mp_t2")
  }

  test("UPDATE and DELETE by key band stay candidate-file-bound (pushdown, not runtime)") {
    import spark.implicits._
    val t = clusteredTable()
    spark.sql("DROP TABLE IF EXISTS mp_t3")
    spark.sql(s"CREATE TABLE mp_t3 USING `graft-log` OPTIONS (path '$t')")
    try {
      val (_, nUpd) = audited {
        spark.sql("UPDATE mp_t3 SET v = v + 1 WHERE id >= 100 AND id < 120")
      }
      assert(nUpd < 10L, s"UPDATE scan must prune by the static band: $nUpd/10")
      val got = SnapshotLog.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(got(105L) == 106.0 && got(500L) == 500.0)
    } finally spark.sql("DROP TABLE IF EXISTS mp_t3")
  }
}
