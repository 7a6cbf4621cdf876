package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.core.SnapshotLog

/** SQL `DELETE FROM` on graft-log tables: every predicate plans as a
  * delta-based row-level operation (`WriteDelta`) whose pinned scan
  * prunes files by the predicate, and lands through
  * `SnapshotLog.commitDelta` — matching rows die via deletion-vector
  * sidecars with zero data-file rewrites. A bare `DELETE FROM t` and
  * `TRUNCATE TABLE t` plan as a truncate: a zero-row replace commit
  * with history intact. */
class LogSqlDeleteSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_sqldel_").toString
    SnapshotLog.commit(spark,
      (0 until 100).map(i => (i.toLong, s"p$i", if (i % 2 == 0) "even" else "odd"))
        .toDF("id", "payload", "par")
        .repartitionByRange(5, col("id")),
      t, statsFor = Seq("id"))
    t
  }

  private def register(t: String, name: String): Unit =
    spark.sql(s"CREATE TABLE $name USING `graft-log` OPTIONS (path '$t')")

  private def count(name: String): Long =
    spark.sql(s"SELECT count(*) AS n FROM $name").collect().head.getLong(0)

  /** Run a SQL command; (analyzed logical, physical) plan trees. */
  private def runPlans(sqlText: String): (String, String) =
    spark.sql(sqlText).queryExecution.commandExecuted match {
      case c: CommandResult =>
        (c.commandLogicalPlan.treeString, c.commandPhysicalPlan.treeString)
      case other => fail(s"not a command: $other")
    }

  test("DELETE FROM ... WHERE lands deletion vectors, no file rewrites") {
    val t = freshTable()
    register(t, "sqldel_t")
    try {
      val beforeFiles = SnapshotLog.resolve(t, 1L).entries.map(_.path).toSet
      spark.sql("DELETE FROM sqldel_t WHERE id >= 10 AND id < 30")
      assert(count("sqldel_t") == 80L)
      assert(spark.sql("SELECT min(id) AS lo FROM sqldel_t WHERE id >= 5")
        .collect().head.getLong(0) == 5L)
      val head = SnapshotLog.resolve(t, SnapshotLog.versions(t).last)
      assert(head.entries.map(_.path).toSet == beforeFiles,
        "merge-on-read delete must not rewrite data files")
      assert(head.entries.exists(_.dv.isDefined), "matching entries must carry vectors")
      // string + OR predicates
      spark.sql("DELETE FROM sqldel_t WHERE par = 'odd' OR id = 0")
      assert(count("sqldel_t") == 39L) // evens 2..98 minus the 10 dead in [10,30)
    } finally spark.sql("DROP TABLE sqldel_t")
  }

  test("a range DELETE plans WriteDelta with pushed pruning, never DeleteFromTable") {
    val t = freshTable()
    register(t, "sqldel_plan")
    try {
      val (logical, physical) = runPlans("DELETE FROM sqldel_plan WHERE id >= 10 AND id < 30")
      assert(logical.contains("WriteDelta"), logical)
      assert(!logical.contains("DeleteFromTable"), logical)
      assert(physical.contains("WriteDelta"), physical)
      assert(physical.contains("pruned=[") && !physical.contains("pruned=[]"),
        s"the row-level scan must push the range into manifest pruning:\n$physical")
      assert(count("sqldel_plan") == 80L)
      // one rewrite commit re-listing only the files the range touches
      val rec = SnapshotLog.readRecord(t, 2L)
      assert(rec.kind == "rewrite" && rec.adds.forall(_.dv.isDefined))
      assert(rec.adds.size < SnapshotLog.resolve(t, 1L).entries.size)
      assert(rec.adds.map(_.dvRows).sum == 20L)
    } finally spark.sql("DROP TABLE sqldel_plan")
  }

  test("a non-exact predicate deletes exactly its rows") {
    // payload LIKE has no manifest translation: the row-level scan
    // prunes nothing and the residual filter picks the rows
    val t = freshTable()
    register(t, "sqldel_ne")
    try {
      spark.sql("DELETE FROM sqldel_ne WHERE payload LIKE 'p1%'") // p1, p10..p19
      assert(count("sqldel_ne") == 89L)
      // a pure delete adds no files, so its record names no schema (a
      // write schema there would label re-listed schema-less entries)
      assert(SnapshotLog.readRecord(t, 2L).schema.isEmpty)
    } finally spark.sql("DROP TABLE sqldel_ne")
  }

  test("bare DELETE truncates as an empty replace; history time-travels") {
    val t = freshTable()
    register(t, "sqldel_tr")
    try {
      // a bare DELETE plans as a truncate, not a row-level delta
      val (_, physical) = runPlans("DELETE FROM sqldel_tr")
      assert(physical.contains("TruncateTable"), physical)
      assert(!physical.contains("WriteDelta"), physical)
      assert(count("sqldel_tr") == 0L)
      assert(SnapshotLog.read(spark, t, asOf = Some(1L)).count() == 100L,
        "pre-truncate snapshot must stay readable")
    } finally spark.sql("DROP TABLE sqldel_tr")
  }

  test("TRUNCATE TABLE is one zero-row replace commit; v1 still time-travels") {
    val t = freshTable()
    register(t, "sqldel_trunc")
    def parquetFiles(): Seq[String] = Seq("_graft_log", "data").flatMap { d =>
      val w = Files.walk(java.nio.file.Paths.get(t, d))
      try w.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
      finally w.close()
    }
    try {
      val filesBefore = parquetFiles()
      spark.sql("TRUNCATE TABLE sqldel_trunc")
      assert(SnapshotLog.versions(t).last == 2L)
      val rec = SnapshotLog.readRecord(t, 2L)
      assert(rec.kind == "replace" && rec.rows == 0L && rec.removes.isEmpty, rec)
      // no zero-row file: the record declares the columns instead
      assert(rec.adds.isEmpty, rec)
      assert(parquetFiles() == filesBefore, "TRUNCATE must stage no parquet file")
      assert(SnapshotLog.resolve(t, 2L).entries.isEmpty)
      assert(count("sqldel_trunc") == 0L)
      val cols = Seq("id", "payload", "par")
      assert(spark.sql("DESCRIBE sqldel_trunc").collect().map(_.getString(0)).toSeq == cols)
      assert(spark.sql("SELECT * FROM sqldel_trunc").columns.toSeq == cols)
      assert(SnapshotLog.read(spark, t).columns.toSeq == cols)
      assert(SnapshotLog.read(spark, t, asOf = Some(1L)).count() == 100L,
        "pre-truncate snapshot must stay readable")
      // appends after the truncate read the union with the declared columns
      spark.sql("INSERT INTO sqldel_trunc VALUES (7, 'p7', 'odd')")
      import spark.implicits._
      SnapshotLog.commit(spark, Seq((8L, "e8")).toDF("id", "extra"), t, append = true)
      val after = SnapshotLog.read(spark, t)
      assert(after.columns.toSeq == cols :+ "extra")
      assert(after.orderBy("id").collect().map(_.toSeq).toSeq ==
        Seq(Seq(7L, "p7", "odd", null), Seq(8L, null, null, "e8")))
    } finally spark.sql("DROP TABLE sqldel_trunc")
  }
}
