package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.core.SnapshotLog

/** The `graft` TableCatalog plugin: named multi-table SQL over
  * log-backed tables — namespaces, CREATE/CTAS/INSERT/SELECT with
  * manifest pruning, SHOW TABLES, RENAME, DROP, and SQL time travel
  * (`VERSION AS OF` / `TIMESTAMP AS OF`). The catalog is
  * metadata-free: a table IS a directory with a log. */
class LogCatalogSpec extends AnyFunSuite with SparkFixture {

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft_catalog_").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[LogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", r)
    r
  }

  test("namespace + table lifecycle: create, insert, select with pruning, show, drop") {
    root
    spark.sql("CREATE NAMESPACE graft.ml")
    spark.sql("CREATE TABLE graft.ml.docs (id BIGINT, lang STRING, n INT) PARTITIONED BY (lang)")
    assert(spark.sql("SHOW TABLES IN graft.ml").collect()
      .map(_.getString(1)).toSet == Set("docs"))
    // empty table reads as zero rows with the declared schema
    assert(spark.sql("SELECT * FROM graft.ml.docs").collect().isEmpty)

    spark.sql("INSERT INTO graft.ml.docs VALUES (1, 'en', 10), (2, 'de', 20), (3, 'en', 30)")
    // the create-time sidecar carried the partitioning: inserts stage hive dirs
    val t = s"$root/ml/docs"
    val entries = SnapshotLog.resolve(t, SnapshotLog.versions(t).last).entries
    assert(entries.nonEmpty && entries.forall(_.path.contains("lang=")),
      s"catalog-declared partitioning must reach the staged layout: ${entries.map(_.path)}")

    val before = LogSourceAudit.filesOpened.get()
    val en = spark.sql("SELECT id FROM graft.ml.docs WHERE lang = 'en'")
      .collect().map(_.getLong(0)).toSet
    assert(en == Set(1L, 3L))
    val opened = LogSourceAudit.filesOpened.get() - before
    // all files EXCEPT lang=de open: the en files match
    val all = SnapshotLog.resolve(t, SnapshotLog.versions(t).last).entries
    val deFiles = all.count(_.path.contains("lang=de"))
    assert(deFiles > 0 && opened == all.size - deFiles,
      s"partition pruning must skip exactly the de files: opened $opened of ${all.size}")

    spark.sql("ALTER TABLE graft.ml.docs RENAME TO graft.ml.corpus")
    assert(spark.sql("SELECT count(*) AS n FROM graft.ml.corpus")
      .collect().head.getLong(0) == 3L)
    spark.sql("DROP TABLE graft.ml.corpus")
    assert(spark.sql("SHOW TABLES IN graft.ml").collect().isEmpty)
  }

  test("CTAS and SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    spark.sql("CREATE TABLE graft.tt.nums AS SELECT id FROM range(10)")
    spark.sql("INSERT INTO graft.tt.nums SELECT id FROM range(10, 25)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt.nums")
      .collect().head.getLong(0) == 25L)
    // the CTAS created v1 (create) + v2 (append of the select); the
    // INSERT INTO is v3 — VERSION AS OF 2 sees only the first 10
    val t = s"$root/tt/nums"
    val versions = SnapshotLog.versions(t)
    val afterCtas = versions(versions.length - 2)
    val got = spark.sql(s"SELECT count(*) AS n FROM graft.tt.nums VERSION AS OF $afterCtas")
      .collect().head.getLong(0)
    assert(got == 10L, s"VERSION AS OF $afterCtas of $versions must see the CTAS rows, got $got")
    // a timestamp after the last commit resolves to the head
    val now = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).plusMinutes(1)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.tt.nums TIMESTAMP AS OF '$now'")
      .collect().head.getLong(0) == 25L)
    // time-travel snapshots refuse writes
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO graft.tt.nums VERSION AS OF $afterCtas VALUES (99)")
    }
    assert(e != null)
  }

  test("CREATE TABLE stages no data file: an empty replace declares the columns") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mk")
    spark.sql("CREATE TABLE graft.mk.t (id BIGINT, lang STRING, n INT) PARTITIONED BY (lang) " +
      "TBLPROPERTIES ('owner.team' = 'ml')")
    val t = s"$root/mk/t"
    val rec = SnapshotLog.readRecord(t, 1L)
    assert(rec.kind == "replace" && rec.adds.isEmpty, rec)
    assert(!Files.exists(java.nio.file.Paths.get(t, "data")), "CREATE must stage no data file")
    assert(SnapshotLog.properties(t).get("owner.team").contains("ml"))
    val cols = Seq("id", "lang", "n")
    assert(spark.sql("SELECT * FROM graft.mk.t").columns.toSeq == cols)
    assert(spark.sql("DESCRIBE graft.mk.t").collect().map(_.getString(0)).take(3).toSeq == cols)
    // the declared column order holds across the first hive insert
    spark.sql("INSERT INTO graft.mk.t VALUES (1, 'en', 10)")
    spark.sql("INSERT INTO graft.mk.t VALUES (2, 'de', 20)")
    assert(spark.sql("SELECT * FROM graft.mk.t ORDER BY id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "en", 10), Seq(2L, "de", 20)))
    spark.sql("DROP TABLE graft.mk.t")
  }

  test("writeTo(...).append and readStream.table work against catalog names") {
    import spark.implicits._
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.io")
    spark.sql("CREATE TABLE graft.io.rows (id BIGINT, payload STRING)")
    (1L to 5L).map(i => (i, s"p$i")).toDF("id", "payload")
      .writeTo("graft.io.rows").append()
    assert(spark.sql("SELECT count(*) AS n FROM graft.io.rows")
      .collect().head.getLong(0) == 5L)
    // the same table streams by NAME (the catalog's MICRO_BATCH_READ)
    val name = "cat_stream_out"
    val q = spark.readStream.table("graft.io.rows")
      .groupBy().agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cat_ck_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table(name).collect().head.getLong(0) == 5L)
    spark.catalog.dropTempView(name)
    spark.sql("DROP TABLE graft.io.rows")
  }

  test("ALTER TABLE ADD COLUMNS is a schema-evolution commit; old rows surface null") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ev")
    spark.sql("CREATE TABLE graft.ev.t (id BIGINT)")
    spark.sql("INSERT INTO graft.ev.t VALUES (1), (2)")
    spark.sql("ALTER TABLE graft.ev.t ADD COLUMNS (score DOUBLE)")
    spark.sql("INSERT INTO graft.ev.t VALUES (3, 1.5)")
    val rows = spark.sql("SELECT id, score FROM graft.ev.t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(rows.toSeq == Seq((1L, None), (2L, None), (3L, Some(1.5))),
      s"old rows must surface null for the added column: ${rows.toSeq}")
    intercept[Exception] { spark.sql("ALTER TABLE graft.ev.t ADD COLUMNS (id INT)") }
    spark.sql("DROP TABLE graft.ev.t")
  }

  test("ALTER TABLE RENAME/DROP COLUMN are metadata-only column-mapping commits") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cm")
    spark.sql("CREATE TABLE graft.cm.t AS SELECT id, CAST(id * 1.5 AS DOUBLE) AS score FROM range(10)")
    val t = s"$root/cm/t"
    val filesBefore = SnapshotLog.resolve(t, SnapshotLog.versions(t).last)
      .entries.map(_.path).toSet

    spark.sql("ALTER TABLE graft.cm.t RENAME COLUMN score TO rating")
    assert(spark.sql("SELECT * FROM graft.cm.t").schema.fieldNames.toSeq
      == Seq("id", "rating"))
    assert(spark.sql("SELECT CAST(sum(rating) AS DOUBLE) AS s FROM graft.cm.t")
      .collect().head.getDouble(0) == 67.5)
    // metadata-only: the file set is untouched
    val filesAfter = SnapshotLog.resolve(t, SnapshotLog.versions(t).last)
      .entries.map(_.path).toSet
    assert(filesAfter == filesBefore, "rename must rewrite no data file")
    // writes under the NEW name land and read back
    spark.sql("INSERT INTO graft.cm.t VALUES (100, 9.0)")
    assert(spark.sql("SELECT rating FROM graft.cm.t WHERE id = 100")
      .collect().head.getDouble(0) == 9.0)
    // time travel reads under the OLD name
    val beforeRename = SnapshotLog.versions(t)
      .takeWhile(v => SnapshotLog.readRecord(t, v).kind != "schema").last
    assert(spark.sql(s"SELECT * FROM graft.cm.t VERSION AS OF $beforeRename")
      .schema.fieldNames.toSeq == Seq("id", "score"))

    spark.sql("ALTER TABLE graft.cm.t DROP COLUMN rating")
    assert(spark.sql("SELECT * FROM graft.cm.t").schema.fieldNames.toSeq == Seq("id"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.cm.t")
      .collect().head.getLong(0) == 11L)
    spark.sql("DROP TABLE graft.cm.t")
  }

  test("namespace listing and guards") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.a")
    val nss = spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).toSet
    assert(nss.contains("a"))
    intercept[Exception] { spark.sql("CREATE TABLE graft.nope.t (id INT)") }
    intercept[Exception] { spark.sql("SELECT * FROM graft.a.missing") }
  }

  test("CALL procedures: optimize, history, vacuum, restore through SQL") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.maint")
    spark.sql("CREATE TABLE graft.maint.t AS SELECT id FROM range(100)")
    spark.sql("INSERT INTO graft.maint.t SELECT id FROM range(100, 150)")
    spark.sql("INSERT INTO graft.maint.t SELECT id FROM range(150, 200)")
    val t = s"$root/maint/t"
    val preVersions = SnapshotLog.versions(t).size

    // OPTIMIZE by SQL: one maintenance commit, content identical
    val v = spark.sql("CALL graft.system.optimize('maint.t')")
      .collect().head.getLong(0)
    assert(v == preVersions + 1L)
    assert(SnapshotLog.readRecord(t, v).kind == "optimize")
    assert(spark.sql("SELECT count(*) AS n FROM graft.maint.t")
      .collect().head.getLong(0) == 200L)

    // HISTORY by SQL: every version with its kind
    val hist = spark.sql("CALL graft.system.history('maint.t')")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hist(v) == "optimize" && hist(1L) == "replace")
    assert(hist.size == preVersions + 1)

    // RESTORE by SQL: head content equals the asked version's
    // (v1 = CREATE's empty commit, v2 = the CTAS select's 100 rows,
    // v3 = +50, v4 = +50)
    val restored = spark.sql("CALL graft.system.restore('maint.t', 3)")
      .collect().head.getLong(0)
    assert(restored == v + 1L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.maint.t")
      .collect().head.getLong(0) == 150L)

    // DRY RUN first (Delta's look-before-you-leap): reports the doomed
    // list, touches NOTHING — every version still time-travels
    val dry = spark.sql(
      "CALL graft.system.vacuum('maint.t', keep_last => 1, dry_run => true)")
      .collect().head
    assert(dry.getLong(1) > 0 && dry.getBoolean(2), s"dry run reports: $dry")
    assert(spark.sql("SELECT count(*) FROM graft.maint.t VERSION AS OF 3")
      .collect().head.getLong(0) >= 0L, "dry run must not retire history")
    // VACUUM by SQL: old versions' files retire; the head still reads
    val vac = spark.sql("CALL graft.system.vacuum('maint.t', keep_last => 1)")
      .collect().head
    assert(vac.getLong(1) == dry.getLong(1),
      "the real vacuum removes exactly what the dry run reported")
    assert(vac.getLong(0) == restored && vac.getLong(1) > 0,
      s"vacuum must retire files unreferenced by the head: $vac")
    assert(spark.sql("SELECT count(*) AS n FROM graft.maint.t")
      .collect().head.getLong(0) == 150L)
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.maint.t VERSION AS OF 3").collect()
    }
  }

  test("SQL optimize + vacuum mid-stream is a non-event for a live consumer") {
    root
    // the r10 optimize-mid-stream guarantee, re-driven through the SQL
    // surface: a nightly CALL optimize + CALL vacuum while a graft-log
    // consumer is live must not change what the consumer delivers
    import org.apache.spark.sql.streaming.Trigger
    def drain(t: String, checkpoint: String, out: String): Set[Long] = {
      val q = spark.readStream.format("graft-log").load(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSet
    }
    def run(maintain: Boolean, name: String): Set[Long] = {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.ms")
      spark.sql(s"DROP TABLE IF EXISTS graft.ms.$name")
      spark.sql(s"CREATE TABLE graft.ms.$name AS SELECT id FROM range(3)")
      spark.sql(s"INSERT INTO graft.ms.$name SELECT id FROM range(3, 5)")
      val t = s"$root/ms/$name"
      val checkpoint = Files.createTempDirectory("graft_cat_ck_").toString
      val out = Files.createTempDirectory("graft_cat_out_").toString
      drain(t, checkpoint, out) // consumer catches up
      if (maintain) {
        spark.sql(s"CALL graft.system.optimize('ms.$name')")
        spark.sql(s"CALL graft.system.vacuum('ms.$name', keep_last => 2)")
      }
      spark.sql(s"INSERT INTO graft.ms.$name SELECT id FROM range(5, 8)")
      drain(t, checkpoint, out) // resumes from its checkpoint
    }
    val plain = run(maintain = false, "plain")
    val maintained = run(maintain = true, "maint")
    assert(maintained == plain && plain == (0L until 8L).toSet,
      s"SQL maintenance changed the consumer's view: $maintained vs $plain")
  }
}
