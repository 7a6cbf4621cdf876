package graft.core

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** The transaction-log guarantees that make a published artifact safe
  * to serve while it's being republished: atomic conditional commits,
  * reader isolation (manifest listing, never directory listing),
  * time travel, append-without-rewrite, and vacuum. */
class SnapshotLogSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): String = {
    val d = Files.createTempDirectory("graft_snaplog_").toString
    d
  }

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.map(i => (i, s"p$i")).toDF("id", "payload")
  }

  private def idsAt(table: String, v: Option[Long] = None): Set[Long] =
    SnapshotLog.read(spark, table, v).select("id").collect().map(_.getLong(0)).toSet

  test("replace commits are versioned; time travel reads the old snapshot verbatim") {
    val t = freshTable()
    assert(SnapshotLog.commit(spark, df(1, 2, 3), t) == 1L)
    assert(SnapshotLog.commit(spark, df(4, 5), t) == 2L)
    assert(idsAt(t) == Set(4L, 5L), "head must be v2")
    assert(idsAt(t, Some(1L)) == Set(1L, 2L, 3L), "v1 must read untouched after v2 replaced it")
    assert(SnapshotLog.versions(t) == Seq(1L, 2L))
    assert(SnapshotLog.readManifest(t, 2L).rowCount == 2L)
  }

  test("append commits extend the previous file list without rewriting any data file") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)
    val v1Files = SnapshotLog.readManifest(t, 1L).files
    val v1Bytes = v1Files.map(f => f -> Files.getLastModifiedTime(Paths.get(t, f))).toMap
    SnapshotLog.commit(spark, df(3), t, append = true)
    val m2 = SnapshotLog.readManifest(t, 2L)
    assert(v1Files.toSet.subsetOf(m2.files.toSet), "append must carry every v1 file forward")
    assert(m2.files.size > v1Files.size, "append must add the staged files")
    v1Bytes.foreach { case (f, mtime) =>
      assert(Files.getLastModifiedTime(Paths.get(t, f)) == mtime,
        s"append rewrote base file $f")
    }
    assert(idsAt(t) == Set(1L, 2L, 3L))
    assert(idsAt(t, Some(1L)) == Set(1L, 2L))
  }

  test("staged-but-uncommitted files are invisible to readers") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    // a crashed writer: data files staged, no manifest published
    df(99).write.parquet(s"$t/data/orphan-stage")
    assert(idsAt(t) == Set(1L), "readers list the log, so orphan files can't leak")
  }

  test("a lost commit race retries at the next version and drops nothing") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    // another writer claims v2 out from under us
    val stolen = s"""{"version":2,"append":false,"rows":0,"add":[]}"""
    Files.write(Paths.get(t, "_graft_log", "v2.json"), stolen.getBytes("UTF-8"))
    val v = SnapshotLog.commit(spark, df(7, 8), t, append = true)
    assert(v == 3L, "loser must land on the next free version")
    // the append re-read the head it actually lost to (v2, empty)
    assert(idsAt(t, Some(3L)) == Set(7L, 8L))
  }

  test("compact rewrites the head into fewer files with identical content") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2).repartition(4), t)
    SnapshotLog.commit(spark, df(3, 4).repartition(4), t, append = true)
    val before = SnapshotLog.readManifest(t, 2L).files
    val v = SnapshotLog.compact(spark, t, targetFiles = 1)
    assert(v == 3L)
    val after = SnapshotLog.readManifest(t, 3L).files
    assert(after.size < before.size, s"compaction must shrink the file list: ${after.size} vs ${before.size}")
    assert(idsAt(t) == Set(1L, 2L, 3L, 4L), "compaction must not change content")
    assert(idsAt(t, Some(2L)) == Set(1L, 2L, 3L, 4L), "pre-compaction versions still read")
  }

  test("merge replaces matched keys, inserts new ones, carries the rest") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2, 3), t)
    val updates = Seq((2L, "updated"), (9L, "inserted")).toDF("id", "payload")
    val v = SnapshotLog.merge(spark, t, updates, "id")
    assert(v == 2L)
    val head = SnapshotLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(head == Map(1L -> "p1", 2L -> "updated", 3L -> "p3", 9L -> "inserted"))
    // the pre-merge snapshot is intact: copy-on-write, not in-place
    assert(SnapshotLog.read(spark, t, Some(1L)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap ==
      Map(1L -> "p1", 2L -> "p2", 3L -> "p3"))
  }

  test("partitioned commits read back with partition columns and directory pruning") {
    val sf = "/root/testdata/sf0.001"
    val t = SnapshotLog.partitionedDemoTable(spark, sf)
    val filtered = SnapshotLog.read(spark, t).filter(org.apache.spark.sql.functions.col("lang") === "en")
    // lang came back as a real column with correct values
    val langs = filtered.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs == Set("en"))
    // and the filter prunes DIRECTORIES, not rows: the scan's partition
    // filters must mention lang
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"expected a lang partition filter in:\n${plan.take(2000)}")
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    assert(filtered.count() == expected)
  }

  test("history lists every version with kind, rows, and file count") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)
    SnapshotLog.commit(spark, df(3), t, append = true)
    val h = SnapshotLog.history(spark, t).orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(h.toSeq == Seq((1L, "replace", 2L), (2L, "append", 1L)))
  }

  test("readChanges returns exactly the rows appended in the version range") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)             // v1
    SnapshotLog.commit(spark, df(3), t, append = true) // v2
    SnapshotLog.commit(spark, df(4, 5), t, append = true) // v3
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(SnapshotLog.readChanges(spark, t, 1L, 3L)) == Set(3L, 4L, 5L))
    assert(ids(SnapshotLog.readChanges(spark, t, 2L, 3L)) == Set(4L, 5L))
    // a replace commit inside the range must fail fast, not return a
    // silently wrong delta
    SnapshotLog.commit(spark, df(9), t) // v4: replace
    intercept[RuntimeException] { SnapshotLog.readChanges(spark, t, 2L, 4L) }
  }

  test("lifecycle: appends -> compact -> vacuum -> orphan sweep, reads intact throughout") {
    // the maintenance story end-to-end: a table fed by many small
    // append commits is compacted, history past the compaction is
    // retired, crashed-writer litter is swept — and the head answers
    // identically at every step
    val t = freshTable()
    (0 until 5).foreach { i =>
      SnapshotLog.commit(spark, df(10L * i + 1, 10L * i + 2).repartition(2), t,
        append = i > 0)
    }
    val expect = (0 until 5).flatMap(i => Seq(10L * i + 1, 10L * i + 2)).toSet
    assert(idsAt(t) == expect)
    val filesBefore = SnapshotLog.readManifest(t, 5L).files.size
    val compactedV = SnapshotLog.compact(spark, t, targetFiles = 1) // v6
    assert(idsAt(t) == expect, "compaction changed the head")
    assert(SnapshotLog.readManifest(t, compactedV).files.size < filesBefore)
    df(999).write.parquet(s"$t/data/crashed-writer") // orphan litter
    val deleted = SnapshotLog.vacuum(t, keepFrom = compactedV)
    assert(deleted.nonEmpty, "pre-compaction files must be reclaimed")
    val swept = SnapshotLog.vacuumOrphans(t, olderThanMs = -1000L) // everything is "old"
    assert(swept.contains("data/crashed-writer"))
    assert(idsAt(t) == expect, "the head must survive the full maintenance cycle")
    assert(SnapshotLog.versions(t) == Seq(compactedV))
    assert(SnapshotLog.history(spark, t).count() == 1L)
  }

  test("pollChanges: exactly-once deltas across polls; a replace forces a resync") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    var ckpt = 0L
    var seen = Set.empty[Long]
    def poll(): Boolean = {
      val (v, resync, rows) = SnapshotLog.pollChanges(spark, t, ckpt)
      if (v > ckpt) {
        val ids = rows.select("id").collect().map(_.getLong(0))
        if (resync) seen = ids.toSet
        else {
          assert(ids.toSet.intersect(seen).isEmpty, s"re-delivered rows: ${ids.toSeq} vs $seen")
          seen ++= ids
        }
        ckpt = v
      }
      ckpt == v
    }
    poll() // v1 is a replace commit -> initial resync delivers the snapshot
    assert(seen == Set(1L) && ckpt == 1L)
    SnapshotLog.commit(spark, df(2), t, append = true)
    SnapshotLog.commit(spark, df(3), t, append = true)
    poll() // catches up across BOTH pending appends in one delta pull
    assert(seen == Set(1L, 2L, 3L) && ckpt == 3L)
    val (v2, _, rows2) = SnapshotLog.pollChanges(spark, t, ckpt)
    assert(v2 == ckpt && rows2.columns.isEmpty, "no news must be an empty pull")
    // a replace mid-stream: the next poll is a RESYNC with the new head
    SnapshotLog.commit(spark, df(7, 8), t)
    val (v3, resync3, rows3) = SnapshotLog.pollChanges(spark, t, ckpt)
    assert(resync3 && v3 == 4L)
    assert(rows3.select("id").collect().map(_.getLong(0)).toSet == Set(7L, 8L))
  }

  test("a corrupt manifest fails loudly, never returns a partial snapshot") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)
    Files.write(Paths.get(t, "_graft_log", "v1.json"),
      """{"version":1,"append":false""".getBytes("UTF-8"))
    intercept[RuntimeException] { SnapshotLog.read(spark, t).collect() }
  }

  test("schema evolution: an append with a new column reads back whole, old rows null") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)
    val widened = Seq((3L, "p3", "extra3")).toDF("id", "payload", "note")
    SnapshotLog.commit(spark, widened, t, append = true)
    val head = SnapshotLog.read(spark, t)
    assert(head.schema.fieldNames.toSet == Set("id", "payload", "note"),
      s"the widened column must survive the union: ${head.schema.fieldNames.toSeq}")
    val byId = head.collect().map(r =>
      r.getLong(r.fieldIndex("id")) ->
        (if (r.isNullAt(r.fieldIndex("note"))) None else Some(r.getString(r.fieldIndex("note"))))
    ).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some("extra3")))
    // time travel to the pre-evolution version keeps the narrow schema
    assert(SnapshotLog.read(spark, t, Some(1L)).schema.fieldNames.toSet ==
      Set("id", "payload"))
    // two DISTINCT schemas -> ONE scan over their union
    val plan = head.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"evolved table must plan one scan over the schema union:\n${plan.take(1500)}")
  }

  test("data skipping: a range read opens only overlapping files and loses no rows") {
    val sf = "/root/testdata/sf0.001"
    val t = SnapshotLog.skippingDemoTable(spark, sf)
    val (kept, skipped) = SnapshotLog.prunedFiles(t, "o_totalprice", 50000.0, 100000.0)
    assert(skipped.nonEmpty,
      s"range-clustered files must let a narrow range skip some: kept=${kept.size} skipped=${skipped.size}")
    assert(kept.nonEmpty)
    val pruned = SnapshotLog.readPruned(spark, t, "o_totalprice", 50000.0, 100000.0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val full = SnapshotLog.read(spark, t)
      .filter(org.apache.spark.sql.functions.col("o_totalprice").between(50000.0, 100000.0))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(pruned == full, "skipping dropped or invented rows")
    // the SECOND indexed column answers range reads through the same
    // manifest (multi-column stats): result equality again, and an
    // un-indexed column never prunes
    val byKey = SnapshotLog.readPruned(spark, t, "o_orderkey", 1.0, 500.0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val byKeyFull = SnapshotLog.read(spark, t)
      .filter(org.apache.spark.sql.functions.col("o_orderkey").between(1L, 500L))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(byKey == byKeyFull)
    val (kAll, sNone) = SnapshotLog.prunedFiles(t, "o_orderstatus", 0.0, 1.0)
    assert(sNone.isEmpty && kAll.nonEmpty, "an un-indexed column must not prune")
  }

  test("predicate skipping: OR skips the gap, AND composes bounds, results exact") {
    import SnapshotLog.Pred._
    val sf = "/root/testdata/sf0.001"
    val t = SnapshotLog.skippingDemoTable(spark, sf)
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("o_orderkey").collect().map(_.getLong(0)).toSet
    // OR of two disjoint narrow ranges: the range-clustered middle files skip
    val orP = Or(Between("o_totalprice", 0.0, 20000.0),
      Between("o_totalprice", 300000.0, 1e9))
    val (kor, sor) = SnapshotLog.prunedFilesWhere(t, orP)
    assert(sor.nonEmpty, s"the gap between the OR arms must skip files: kept=${kor.size}")
    val full = SnapshotLog.read(spark, t)
    assert(ids(SnapshotLog.readWhere(spark, t, orP)) ==
      ids(full.filter(col("o_totalprice") <= 20000.0 ||
        col("o_totalprice") >= 300000.0)))
    // AND across BOTH indexed columns prunes at least as hard as either alone
    val andP = And(Between("o_totalprice", 0.0, 100000.0),
      Between("o_orderkey", 0.0, 300.0))
    val (_, sAnd) = SnapshotLog.prunedFilesWhere(t, andP)
    val (_, sPrice) = SnapshotLog.prunedFilesWhere(t,
      Between("o_totalprice", 0.0, 100000.0))
    assert(sAnd.size >= sPrice.size)
    assert(ids(SnapshotLog.readWhere(spark, t, andP)) ==
      ids(full.filter(col("o_totalprice") <= 100000.0 && col("o_orderkey") <= 300L)))
    // Eq / In shapes stay exact too (conservative on bounds)
    val someKey = ids(full).min
    assert(ids(SnapshotLog.readWhere(spark, t, Eq("o_orderkey", someKey.toDouble))) ==
      Set(someKey))
    assert(ids(SnapshotLog.readWhere(spark, t,
      In("o_orderkey", Seq(someKey.toDouble, -1.0)))) == Set(someKey))
    // a predicate on an un-indexed column never skips
    val (_, sNone2) = SnapshotLog.prunedFilesWhere(t, Eq("o_orderstatus", 1.0))
    assert(sNone2.isEmpty)
  }

  test("timestamp stats: date-range skipping works through the numeric path") {
    import SnapshotLog.Pred._
    val sf = "/root/testdata/sf0.001"
    val t = freshTable()
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"))
      .repartitionByRange(6, col("o_orderdate")) // time-cluster -> tight bounds
    SnapshotLog.commit(spark, orders, t, statsFor = Seq("o_orderdate"))
    // a timestamp indexes through cast-to-double epoch seconds
    assert(SnapshotLog.readManifest(t, 1L).stats.contains("o_orderdate"))
    val full = SnapshotLog.read(spark, t)
    val mid = full.selectExpr("percentile_approx(unix_micros(cast(o_orderdate as timestamp))/1e6, 0.5)")
      .head().getDouble(0)
    val p = Between("o_orderdate", mid, mid + 90L * 86400)
    val (kept, skipped) = SnapshotLog.prunedFilesWhere(t, p)
    assert(skipped.nonEmpty, s"time-clustered files must skip outside the window: kept=${kept.size}")
    val prunedKeys = SnapshotLog.readWhere(spark, t, p)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val fullKeys = full
      .filter((unix_micros(col("o_orderdate").cast("timestamp")).cast("double") / 1e6)
        .between(mid, mid + 90L * 86400))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(prunedKeys == fullKeys && prunedKeys.nonEmpty)
  }

  test("string stats: lexicographic bounds skip on a categorical column") {
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, Seq("de", "en", "es", "fr", "zh")(i % 5)))
      .toDF("id", "lang")
      .repartitionByRange(5, col("lang")) // cluster by lang -> tight bounds
    SnapshotLog.commit(spark, docs, t, statsFor = Seq("lang", "id"))
    val m = SnapshotLog.readManifest(t, 1L)
    assert(m.strStats.contains("lang") && m.stats.contains("id"),
      s"string and numeric stats must coexist: ${m.strStats.keySet} / ${m.stats.keySet}")
    val (kept, skipped) = SnapshotLog.prunedFilesWhere(t, StrEq("lang", "zh"))
    assert(skipped.nonEmpty, s"lang-clustered files must skip for one lang: kept=${kept.size}")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(SnapshotLog.readWhere(spark, t, StrEq("lang", "zh"))) ==
      (0 until 60).filter(_ % 5 == 4).map(_.toLong).toSet)
    assert(ids(SnapshotLog.readWhere(spark, t, StrIn("lang", Seq("de", "zh")))) ==
      (0 until 60).filter(i => i % 5 == 0 || i % 5 == 4).map(_.toLong).toSet)
    // composed: string AND numeric bounds prune together, result exact
    val both = And(StrEq("lang", "en"), Between("id", 0.0, 10.0))
    assert(ids(SnapshotLog.readWhere(spark, t, both)) ==
      (0 to 10).filter(_ % 5 == 1).map(_.toLong).toSet)
  }

  test("NaN and all-null stats values record no bounds — the file is always read") {
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    val rows = Seq((1L, Some(10.0)), (2L, Some(Double.NaN)), (3L, None))
      .toDF("id", "v").coalesce(1)
    SnapshotLog.commit(spark, rows, t, statsFor = Seq("v")) // must not throw
    val m = SnapshotLog.readManifest(t, 1L)
    // the NaN/null-tainted file records NO v-bounds at all (the log
    // stores bounds per file entry; an unbounded column is absent)
    m.stats.get("v").foreach { case (lo, hi) =>
      assert(lo.forall(_.isEmpty) && hi.forall(_.isEmpty),
        s"NaN/null-tainted file must carry NO bounds, got $lo / $hi")
    }
    val (kept, skipped) = SnapshotLog.prunedFilesWhere(t, Between("v", 5.0, 15.0))
    assert(skipped.isEmpty && kept.nonEmpty, "a bounds-less file must never skip")
    assert(SnapshotLog.readWhere(spark, t, Between("v", 5.0, 15.0))
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("a read-modify-write commit fails loudly when the head moved underneath it") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    SnapshotLog.commit(spark, df(2), t, append = true) // head is now v2
    val e = intercept[RuntimeException] {
      SnapshotLog.commit(spark, df(9), t, expectedHead = Some(1L))
    }
    assert(e.getMessage.contains("concurrent modification"))
    assert(idsAt(t) == Set(1L, 2L), "the stale write must not have landed")
  }

  test("the change feed tolerates schema evolution like the snapshot read") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    SnapshotLog.commit(spark, Seq((2L, "p2", "n2")).toDF("id", "payload", "note"), t,
      append = true)
    val changes = SnapshotLog.readChanges(spark, t, 1L, 2L)
    assert(changes.schema.fieldNames.contains("note"))
    assert(changes.count() == 1L)
    // and a MIXED-schema delta range (v2's narrow + v3's wide files)
    SnapshotLog.commit(spark, df(3), t, append = true)
    val mixed = SnapshotLog.readChanges(spark, t, 1L, 3L)
    assert(mixed.schema.fieldNames.contains("note") && mixed.count() == 2L)
  }

  test("data skipping survives a stats-less append: carried bounds prune, new files join the index") {
    import spark.implicits._
    val t = freshTable()
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").coalesce(1)
    SnapshotLog.commit(spark, a, t, statsFor = Seq("v"))
    val b = Seq((3L, 15.0)).toDF("id", "v").coalesce(1)
    SnapshotLog.commit(spark, b, t, append = true, statsFor = Seq("v"))
    // an append committed WITHOUT statsFor: the head's indexed columns
    // are re-computed for ITS files automatically, and nothing about
    // the existing files' bounds changes — a plain streaming append
    // must never silently degrade the table's data skipping
    val c = Seq((4L, 99.0)).toDF("id", "v").coalesce(1)
    SnapshotLog.commit(spark, c, t, append = true)
    val m = SnapshotLog.readManifest(t, 3L)
    assert(m.stats.contains("v"), "the v-index must survive the stats-less append")
    assert(m.stats("v")._1.forall(_.isDefined),
      "every file (incl. the stats-less append's) must carry carried or recomputed bounds")
    val (kept, skipped) = SnapshotLog.prunedFiles(t, "v", 14.0, 16.0)
    assert(skipped.size == 1 && kept.size == 2,
      s"files [10,20]/[15,15]/[99,99] vs [14,16]: exactly [99,99] skips, got kept=$kept")
    val rows = SnapshotLog.readPruned(spark, t, "v", 14.0, 16.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rows == Set(3L))
    // the stats-carrying v2 snapshot still prunes on its own: a query
    // at [9,11] keeps only the [10,20] file, skips the [15,15] one
    val (_, s2) = SnapshotLog.prunedFiles(t, "v", 9.0, 11.0, Some(2L))
    assert(s2.nonEmpty, "v2's bounds must still skip the non-overlapping files")
  }

  test("vacuumOrphans sweeps crashed-writer stages but respects the grace period") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    df(99).write.parquet(s"$t/data/orphan-old")
    df(98).write.parquet(s"$t/data/orphan-fresh")
    // age one orphan past the cutoff, keep the other inside the grace
    val old = Paths.get(t, "data", "orphan-old")
    Files.setLastModifiedTime(old,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    val swept = SnapshotLog.vacuumOrphans(t, olderThanMs = 3600000L)
    assert(swept == Seq("data/orphan-old"), s"got $swept")
    assert(!Files.exists(old))
    assert(Files.exists(Paths.get(t, "data", "orphan-fresh")),
      "an in-flight writer's stage must survive the sweep")
    assert(idsAt(t) == Set(1L), "committed data untouched")
  }

  test("concurrent appenders: every commit lands, no version or file is lost") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val t = freshTable()
    SnapshotLog.commit(spark, df(0), t)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = (1 to 8).map { i =>
        Future(SnapshotLog.commit(spark, df(100L + i), t, append = true))
      }
      val got = Await.result(Future.sequence(futs), 120.seconds)
      assert(got.sorted == (2L to 9L), s"each appender must land on its own version: $got")
      // the final head carries every appender's row: nobody's files were
      // dropped by a lost retry
      assert(idsAt(t) == (Set(0L) ++ (1 to 8).map(i => 100L + i)),
        "a racing append dropped rows")
      assert(SnapshotLog.versions(t) == (1L to 9L))
    } finally pool.shutdown()
  }

  test("a fully-pruned range read returns 0 rows with the table's schema, not an error") {
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").coalesce(1),
      t, statsFor = Seq("v"))
    // evolution: the empty result must carry the UNION schema
    SnapshotLog.commit(spark, Seq((3L, 15.0, "n3")).toDF("id", "v", "note").coalesce(1),
      t, append = true)
    val out = SnapshotLog.readWhere(spark, t, Between("v", 100.0, 200.0))
    assert(out.schema.fieldNames.toSet == Set("id", "v", "note"))
    assert(out.count() == 0L)
    // an OR of disjoint out-of-range arms prunes everything too
    val or = Or(Between("v", -5.0, -1.0), Between("v", 500.0, 600.0))
    val (kept, skipped) = SnapshotLog.prunedFilesWhere(t, or)
    assert(kept.isEmpty && skipped.nonEmpty)
    assert(SnapshotLog.readWhere(spark, t, or).count() == 0L)
    assert(SnapshotLog.readPruned(spark, t, "v", 100.0, 200.0).count() == 0L)
  }

  test("vacuum clamps its cutoff to the head: the live snapshot never dies") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)
    SnapshotLog.commit(spark, df(3), t, append = true)
    // an off-by-one retention computation hands vacuum a cutoff PAST
    // the head — that may retire all history but never the live table
    val deleted = SnapshotLog.vacuum(t, keepFrom = 99L)
    assert(SnapshotLog.versions(t) == Seq(2L), s"only the head survives: ${SnapshotLog.versions(t)}")
    assert(idsAt(t) == Set(1L, 2L, 3L), "the head still reads after the clamped vacuum")
    deleted.foreach(f => assert(!Files.exists(Paths.get(t, f))))
  }

  test("txn commits are idempotent: a replayed batch is a no-op, a newer batch lands") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    val v2 = SnapshotLog.commit(spark, df(2), t, append = true, txn = Some(("ingest", 7L)))
    assert(v2 == 2L)
    // the crashed-after-publish replay: same appId+batchId arrives again
    val replay = SnapshotLog.commit(spark, df(2), t, append = true, txn = Some(("ingest", 7L)))
    assert(replay == 2L, "a replayed batch must not commit a new version")
    assert(SnapshotLog.versions(t) == Seq(1L, 2L))
    assert(SnapshotLog.read(spark, t).count() == 2L, "no duplicate rows from the replay")
    // an OLDER batch id is also a no-op (out-of-order replay)
    assert(SnapshotLog.commit(spark, df(99), t, append = true,
      txn = Some(("ingest", 6L))) == 2L)
    // the next batch and an unrelated writer both land normally
    assert(SnapshotLog.commit(spark, df(3), t, append = true, txn = Some(("ingest", 8L))) == 3L)
    assert(SnapshotLog.commit(spark, df(4), t, append = true, txn = Some(("other", 0L))) == 4L)
    assert(idsAt(t) == Set(1L, 2L, 3L, 4L))
  }

  test("a zombie replay that lands DURING our stage write is still deduplicated") {
    // TOCTOU window (r9 review): writer A passes the txn pre-check,
    // then spends a long time in the stage write; a concurrent replay
    // of the SAME batch commits meanwhile; A's first link attempt
    // succeeds (no collision -> no retry) — the head-moved gate must
    // catch it, or batch rows land twice
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    try {
      SnapshotLog.onStep = {
        case "staged" =>
          SnapshotLog.onStep = _ => () // the inner commit must not recurse
          SnapshotLog.commit(spark, df(2), t, append = true, txn = Some(("w", 5L)))
          ()
        case _ => ()
      }
      val v = SnapshotLog.commit(spark, df(2), t, append = true, txn = Some(("w", 5L)))
      assert(v == 2L, "the outer commit must resolve to the racer's version")
      assert(SnapshotLog.versions(t) == Seq(1L, 2L), "only ONE commit may land")
      assert(idsAt(t) == Set(1L, 2L), "no duplicate rows from the zombie replay")
    } finally SnapshotLog.onStep = _ => ()
  }

  test("commit reads its staged output exactly once: count and bounds share one pass") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val t = freshTable()
      SnapshotLog.commit(spark, df(1, 2, 3).coalesce(1), t, statsFor = Seq("id"))
      // listener events are async: wait until the count stops moving
      var last = -1
      var settle = 0
      while (jobs.get() != last && settle < 50) {
        last = jobs.get(); Thread.sleep(150); settle += 1
      }
      // one write job + the single per-file stats aggregate (<=2 jobs
      // under AQE). The pre-r9 shape was write + count + stats = >=4.
      assert(jobs.get() >= 2 && jobs.get() <= 3,
        s"commit must touch the staged files once after the write, saw ${jobs.get()} jobs")
      val m = SnapshotLog.readManifest(t, 1L)
      assert(m.rowCount == 3L && m.stats.contains("id"),
        "the single pass must still deliver both row count and bounds")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a long append chain resolves its head from the checkpoint, and survives vacuum of its history") {
    import spark.implicits._
    val t = freshTable()
    val n = 45 // crosses two checkpoint boundaries (20, 40)
    (1 to n).foreach { i =>
      SnapshotLog.commit(spark, Seq((i.toLong, i.toDouble)).toDF("id", "v").coalesce(1),
        t, append = i > 1, statsFor = if (i == 1) Seq("v") else Seq.empty)
    }
    // the streaming-ingest shape: head resolution must replay only the
    // records AFTER the newest checkpoint, not the whole chain
    SnapshotLog.recordReads.set(0L)
    val st = SnapshotLog.resolve(t, n.toLong)
    assert(st.entries.size == n)
    assert(SnapshotLog.recordReads.get() <= SnapshotLog.checkpointEvery + 1,
      s"head resolution read ${SnapshotLog.recordReads.get()} records for a $n-commit chain — not O(checkpoint)")
    // the carried column index reached the whole chain (appends carry it)
    assert(st.entries.forall(_.num.contains("v")))
    // the READ PLAN is O(distinct schemas), not O(commits): 45 flat
    // same-schema stages collapse into ONE parquet scan (the recorded
    // schema makes planning file-open-free too)
    val plan = SnapshotLog.read(spark, t).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"a $n-append same-schema chain must plan ONE scan, planned $scans")
    // retire the history; the checkpointed base keeps the head readable
    SnapshotLog.vacuum(t, keepFrom = n - 1L)
    assert(SnapshotLog.versions(t) == Seq(n - 1L, n.toLong))
    assert(SnapshotLog.read(spark, t).count() == n.toLong,
      "the head must read whole after its append history was vacuumed")
    val (kept, skipped) = SnapshotLog.prunedFiles(t, "v", 1.0, 3.0)
    assert(skipped.nonEmpty && kept.nonEmpty, "data skipping survives the vacuum too")
  }

  test("clustered compaction tightens bounds: the same range query skips more after OPTIMIZE") {
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    // round-robin layout: every file spans nearly the full v-range, so
    // bound-based skipping is useless before clustering
    val rows = (0 until 200).map(i => (i.toLong, i.toDouble))
    SnapshotLog.commit(spark, rows.toDF("id", "v").repartition(4), t, statsFor = Seq("v"))
    val q = Between("v", 0.0, 40.0)
    val (_, skippedBefore) = SnapshotLog.prunedFilesWhere(t, q)
    val v2 = SnapshotLog.compact(spark, t, targetFiles = 4, clusterBy = Seq("v"))
    assert(v2 == 2L)
    val (_, skippedAfter) = SnapshotLog.prunedFilesWhere(t, q)
    assert(skippedAfter.size > skippedBefore.size && skippedAfter.nonEmpty,
      s"range clustering must unlock skipping: before=${skippedBefore.size} after=${skippedAfter.size}")
    // content identical, and the result of the pruned read is exact
    assert(SnapshotLog.read(spark, t).select("id").collect().map(_.getLong(0)).toSet ==
      rows.map(_._1).toSet)
    assert(SnapshotLog.readWhere(spark, t, q).select("id").collect().map(_.getLong(0)).toSet ==
      (0 to 40).map(_.toLong).toSet)
  }

  test("compact and merge preserve the table's stats index (OPTIMIZE never turns off skipping)") {
    import spark.implicits._
    val t = freshTable()
    val rows = (0 until 100).map(i => (i.toLong, i.toDouble))
    SnapshotLog.commit(spark, rows.toDF("id", "v").repartitionByRange(4, col("v")),
      t, statsFor = Seq("v", "id"))
    // merge rewrites the table; the v/id indexes must be re-computed,
    // not silently dropped (the pre-r9 defect VERDICT r8 flagged)
    SnapshotLog.merge(spark, t, Seq((5L, 500.0)).toDF("id", "v"), "id")
    val afterMerge = SnapshotLog.resolve(t, 2L)
    assert(SnapshotLog.indexedColumns(afterMerge) == Seq("id", "v"),
      s"merge dropped the stats index: ${SnapshotLog.indexedColumns(afterMerge)}")
    // compact with clustering restores tight bounds on the merged table
    SnapshotLog.compact(spark, t, targetFiles = 4, clusterBy = Seq("v"))
    val afterCompact = SnapshotLog.resolve(t, 3L)
    assert(SnapshotLog.indexedColumns(afterCompact) == Seq("id", "v"))
    val (kept, skipped) = SnapshotLog.prunedFiles(t, "v", 0.0, 20.0)
    assert(skipped.nonEmpty && kept.nonEmpty,
      "the compacted+merged table must still answer range queries with skipping")
    val got = SnapshotLog.readPruned(spark, t, "v", 0.0, 20.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == (0 to 20).map(_.toLong).toSet - 5L)
  }

  test("z-order compaction prunes multiplicatively on a 2-dim box query") {
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    // a 100x100 grid committed round-robin: every file spans the full
    // range of BOTH dims, so no predicate can skip anything
    val grid = (0 until 10000).map(i => (i.toLong, (i % 100).toDouble, (i / 100).toDouble))
    SnapshotLog.commit(spark, grid.toDF("id", "x", "y").repartition(16),
      t, statsFor = Seq("x", "y"))
    val box = And(Between("x", 0.0, 24.0), Between("y", 0.0, 24.0)) // a corner quarter^2
    assert(SnapshotLog.prunedFilesWhere(t, box)._2.isEmpty,
      "round-robin layout must not skip (the baseline this test exists to beat)")
    // single-column clustering: x-files are tight in x but span all of y
    SnapshotLog.compact(spark, t, targetFiles = 16, clusterBy = Seq("x"))
    val (keptX, _) = SnapshotLog.prunedFilesWhere(t, box)
    // z-order: files are boxes on the curve, so the corner box keeps
    // only the files whose 2-dim bounds reach it
    SnapshotLog.compactZorder(spark, t, targetFiles = 16, "x", "y")
    val (keptZ, skippedZ) = SnapshotLog.prunedFilesWhere(t, box)
    assert(skippedZ.nonEmpty && keptZ.size <= keptX.size,
      s"z-order must prune the 2-dim box at least as hard as x-clustering: z=${keptZ.size} x=${keptX.size} of 16")
    assert(keptZ.size <= 8,
      s"a ~6% corner box over 16 z-ordered files must keep a minority, kept ${keptZ.size}")
    // content and the pruned result stay exact through both rewrites
    val ids = SnapshotLog.readWhere(spark, t, box).select("id").collect().map(_.getLong(0)).toSet
    val expect = grid.filter(g => g._2 <= 24.0 && g._3 <= 24.0).map(_._1).toSet
    assert(ids == expect)
  }

  test("stats on a hive partition column: the manifest prunes what directories also prune") {
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    val docs = Seq.tabulate(60)(i => (i.toLong, Seq("de", "en", "zh")(i % 3)))
      .toDF("id", "lang")
    SnapshotLog.commit(spark, docs, t, partitionBy = Seq("lang"), statsFor = Seq("lang"))
    // the partition column's value comes from the directory name, yet
    // the per-file bounds land in the manifest like any other column
    val (kept, skipped) = SnapshotLog.prunedFilesWhere(t, StrEq("lang", "zh"))
    assert(skipped.nonEmpty && kept.nonEmpty,
      s"partition-column stats must prune the other langs' files: kept=${kept.size}")
    assert(kept.forall(_.contains("lang=zh")))
    assert(SnapshotLog.readWhere(spark, t, StrEq("lang", "zh"))
      .select("id").collect().map(_.getLong(0)).toSet ==
      (0 until 60).filter(_ % 3 == 2).map(_.toLong).toSet)
  }

  test("applyChanges replays an insert/update/delete feed atomically") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2, 3), t)
    val changes = Seq(
      (2L, null.asInstanceOf[String], "D"), // delete key 2
      (3L, "updated", "U"),                 // update key 3 in place
      (9L, "inserted", "I")                 // brand-new key
    ).toDF("id", "payload", "op")
    val v = SnapshotLog.applyChanges(spark, t, changes, "id")
    assert(v == 2L)
    val head = SnapshotLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(head == Map(1L -> "p1", 3L -> "updated", 9L -> "inserted"),
      s"got $head")
    // pre-apply snapshot intact: the whole batch applied copy-on-write
    assert(SnapshotLog.read(spark, t, Some(1L)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap ==
      Map(1L -> "p1", 2L -> "p2", 3L -> "p3"))
  }

  test("string bounds with quotes, commas and brackets commit fine and prune exactly") {
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    // realistic text: every value would have broken the pre-r9
    // hand-rolled manifest encoding (it hard-failed the commit)
    val rows = Seq(
      (1L, """alpha, "quoted" [x]\ tail"""),
      (2L, """beta, also "tricky"]"""),
      (3L, "zulu plain")).toDF("id", "s")
      .repartitionByRange(2, col("s"))
    SnapshotLog.commit(spark, rows, t, statsFor = Seq("s")) // must not throw
    val m = SnapshotLog.readManifest(t, 1L)
    assert(m.strStats.contains("s"))
    def ids(p: SnapshotLog.Pred): Set[Long] =
      SnapshotLog.readWhere(spark, t, p).select("id").collect().map(_.getLong(0)).toSet
    assert(ids(StrEq("s", """beta, also "tricky"]""")) == Set(2L))
    assert(ids(StrEq("s", "zulu plain")) == Set(3L))
    val (_, skipped) = SnapshotLog.prunedFilesWhere(t, StrEq("s", "zulu plain"))
    assert(skipped.nonEmpty, "the a/b-file must skip for a z-query")
  }

  test("long string bounds truncate Iceberg-style and stay conservative") {
    import SnapshotLog.Pred._
    import spark.implicits._
    // unit shape first: lower truncates to a prefix, upper increments
    assert(SnapshotLog.truncLower("x" * 100) == "x" * SnapshotLog.maxBoundLen)
    assert(SnapshotLog.truncUpper("x" * 100).contains("x" * (SnapshotLog.maxBoundLen - 1) + "y"))
    assert(SnapshotLog.truncUpper("short").contains("short"))
    // a string of only U+10FFFF has no finite truncated upper bound
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(SnapshotLog.truncUpper(maxCp * (SnapshotLog.maxBoundLen + 1)).isEmpty)
    val t = freshTable()
    val longA = "x" * 70 + "a"
    val longZ = "x" * 70 + "z"
    SnapshotLog.commit(spark,
      Seq((1L, longA), (2L, longZ)).toDF("id", "s").coalesce(1),
      t, statsFor = Seq("s"))
    val (lo, hi) = SnapshotLog.resolve(t, 1L).entries.head.str("s")
    assert(lo.length <= SnapshotLog.maxBoundLen && hi.length <= SnapshotLog.maxBoundLen,
      s"bounds must be truncated: ${lo.length}/${hi.length}")
    // conservative: a value INSIDE the file's true range still keeps
    def kept(p: SnapshotLog.Pred): Boolean =
      SnapshotLog.prunedFilesWhere(t, p)._1.nonEmpty
    assert(kept(StrEq("s", "x" * 70 + "m")), "truncated bounds must keep in-range probes")
    assert(!kept(StrEq("s", "zzz")), "an above-range probe still skips")
    assert(!kept(StrEq("s", "a")), "a below-range probe still skips")
    // and the residual filter keeps results exact
    assert(SnapshotLog.readWhere(spark, t, StrEq("s", longA))
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("concurrent appenders racing across the checkpoint boundary all land intact") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val t = freshTable()
    (1 to 17).foreach(i => SnapshotLog.commit(spark, df(i.toLong), t, append = i > 1))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 8 racers land on v18..v25 — the v20 checkpoint publishes in the
      // middle of the contention window, and later racers resolve their
      // carry-forward head THROUGH it
      val futs = (1 to 8).map { i =>
        Future(SnapshotLog.commit(spark, df(100L + i), t, append = true))
      }
      val got = Await.result(Future.sequence(futs), 120.seconds)
      assert(got.sorted == (18L to 25L), s"got $got")
      assert(Files.exists(Paths.get(t, "_graft_log", "ckpt-v20.json")),
        "the racer that landed v20 must have published the checkpoint")
      assert(idsAt(t) == ((1 to 17).map(_.toLong) ++ (1 to 8).map(i => 100L + i)).toSet,
        "a racing append dropped rows across the checkpoint boundary")
      // and resolution from the checkpoint agrees with full replay
      SnapshotLog.recordReads.set(0L)
      assert(SnapshotLog.resolve(t, 25L).entries.size == 25)
      assert(SnapshotLog.recordReads.get() <= 6,
        s"head resolution must ride ckpt-v20, read ${SnapshotLog.recordReads.get()} records")
    } finally pool.shutdown()
  }

  test("orphan sweep after a vacuum re-base never touches the live head's files") {
    // composition bug (r9 review): after vacuum re-bases the head on a
    // checkpoint, the head's files are referenced only by that
    // checkpoint — an orphan sweep computing references from the
    // surviving records' delta adds alone would DELETE the live data
    val t = freshTable()
    (1 to 5).foreach(i => SnapshotLog.commit(spark, df(i.toLong), t, append = i > 1))
    SnapshotLog.vacuum(t, keepFrom = 5L) // head v5 now rests on ckpt-v5
    assert(SnapshotLog.versions(t) == Seq(5L))
    val swept = SnapshotLog.vacuumOrphans(t, olderThanMs = -1000L) // everything "old"
    assert(swept.isEmpty, s"the sweep deleted live stages: $swept")
    assert(idsAt(t) == (1L to 5L).toSet,
      "the head must read whole after vacuum + orphan sweep")
  }

  test("txn replay protection survives a replace commit (maintenance during writer downtime)") {
    // composition bug (r9 review): an idempotent writer crashes after
    // its commit published; maintenance compacts (a REPLACE commit)
    // while it is down; the replayed batch must STILL be a no-op —
    // txn high-water marks survive replaces (resolution merges txns
    // straight through them, Delta's SetTransaction-in-checkpoint rule)
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    val v2 = SnapshotLog.commit(spark, df(2), t, append = true, txn = Some(("w", 7L)))
    assert(v2 == 2L)
    val v3 = SnapshotLog.compact(spark, t, targetFiles = 1) // replace
    assert(v3 == 3L)
    val replay = SnapshotLog.commit(spark, df(2), t, append = true, txn = Some(("w", 7L)))
    assert(replay == 3L, "the replayed batch must not land after the compact")
    assert(SnapshotLog.read(spark, t).count() == 2L, "no duplicate rows")
    // and the next real batch still lands
    assert(SnapshotLog.commit(spark, df(3), t, append = true, txn = Some(("w", 8L))) == 4L)
  }

  test("readWhere on an evolved column stays exact when its carrier files are pruned") {
    // composition bug (r9 review): predicate on a column only SOME
    // files carry; bounds prune the carriers, bounds-less old files
    // stay — the residual filter must evaluate the missing column as
    // NULL (matching the unpruned union's null fill), not crash
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, Seq((1L, 10.0)).toDF("id", "v").coalesce(1), t)
    SnapshotLog.commit(spark,
      Seq((2L, 20.0, "mmm")).toDF("id", "v", "note").coalesce(1),
      t, append = true, statsFor = Seq("note"))
    // 'zzz' is above the only note-carrying file's bounds: that file
    // prunes, the note-less v1 file keeps -> 0 rows, schema intact
    val out = SnapshotLog.readWhere(spark, t, StrEq("note", "zzz"))
    assert(out.count() == 0L)
    // and an in-range probe still finds its row through the same path
    assert(SnapshotLog.readWhere(spark, t, StrEq("note", "mmm"))
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("vacuum deletes only files unreferenced by surviving versions") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)          // v1
    SnapshotLog.commit(spark, df(3), t)             // v2 (replace: v1 files dead once vacuumed)
    SnapshotLog.commit(spark, df(4), t, append = true) // v3 = v2 + delta
    val deleted = SnapshotLog.vacuum(t, keepFrom = 2L)
    assert(deleted.nonEmpty, "v1's files are unreferenced by v2/v3 and must go")
    deleted.foreach(f => assert(!Files.exists(Paths.get(t, f))))
    assert(SnapshotLog.versions(t) == Seq(2L, 3L))
    assert(idsAt(t, Some(2L)) == Set(3L), "a surviving version still reads after vacuum")
    assert(idsAt(t) == Set(3L, 4L), "the head still reads after vacuum")
    intercept[Exception] { idsAt(t, Some(1L)) }
  }
}
