package graft.core

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Round-10 snapshot-log guarantees: file-pruned copy-on-write
  * merges (carry untouched files by reference), maintenance commits
  * that are invisible to change-feed consumers (dataChange=false),
  * the row-level change feed across rewrites, contiguity checking
  * after vacuum, format-version detection, and the stats-friendly
  * default compaction layout. */
class SnapshotLogCowSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): String =
    Files.createTempDirectory("graft_snapcow_").toString

  private def idsAt(table: String, v: Option[Long] = None): Set[Long] =
    SnapshotLog.read(spark, table, v).select("id").collect().map(_.getLong(0)).toSet

  /** A 100-row table range-clustered into 5 id-indexed files
    * ([0,19], [20,39], ... [80,99]) — the layout where key pruning
    * has something to prune. */
  private def clusteredTable(): String = {
    import spark.implicits._
    val t = freshTable()
    val rows = (0 until 100).map(i => (i.toLong, s"p$i"))
    SnapshotLog.commit(spark,
      rows.toDF("id", "payload").repartitionByRange(5, col("id")),
      t, statsFor = Seq("id"))
    t
  }

  test("merge rewrites ONLY the files whose key bounds overlap the touched keys") {
    import spark.implicits._
    val t = clusteredTable()
    val before = SnapshotLog.resolve(t, 1L)
    assert(before.entries.size == 5)
    val mtimes = before.entries.map(e =>
      e.path -> Files.getLastModifiedTime(Paths.get(t, e.path))).toMap
    // touched keys 10 and 15 live in exactly ONE file ([0,19])
    val updates = Seq((10L, "upd10"), (15L, "upd15"), (1000L, "new1000"))
      .toDF("id", "payload")
    val v = SnapshotLog.merge(spark, t, updates, "id")
    assert(v == 2L)
    val rec = SnapshotLog.readRecord(t, 2L)
    // the record REMOVES exactly the one overlapping file — and lists
    // only touched+staged entries, never the carried ones (O(touched)
    // metadata however large the table)
    assert(rec.removes.size == 1,
      s"keys {10,15,1000} overlap one [0,19] file, removed ${rec.removes}")
    val carried = before.entries.map(_.path).toSet -- rec.removes.toSet
    assert(rec.adds.map(_.path).toSet.intersect(carried).isEmpty,
      "carried files must never be re-listed as adds")
    val after = SnapshotLog.resolve(t, 2L)
    // every carried entry survives VERBATIM: same path, same rows,
    // same bounds (the stats index never degrades), same data bytes
    before.entries.filter(e => carried(e.path)).foreach { e =>
      val now = after.entries.find(_.path == e.path)
      assert(now.contains(e.copy(schema = now.get.schema)),
        s"carried entry changed: $e vs $now")
      assert(Files.getLastModifiedTime(Paths.get(t, e.path)) == mtimes(e.path),
        s"carried data file ${e.path} was rewritten")
    }
    // content is the exact upsert result, and the pre-merge snapshot
    // is intact (copy-on-write)
    val head = SnapshotLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(head.size == 101)
    assert(head(10L) == "upd10" && head(15L) == "upd15" && head(1000L) == "new1000")
    assert(head(9L) == "p9" && head(99L) == "p99")
    assert(idsAt(t, Some(1L)) == (0L until 100L).toSet)
  }

  test("a merge whose keys overlap nothing is a pure-insert append: zero rewrites") {
    import spark.implicits._
    val t = clusteredTable()
    val before = SnapshotLog.resolve(t, 1L)
    val v = SnapshotLog.merge(spark, t,
      Seq((5000L, "n1"), (6000L, "n2")).toDF("id", "payload"), "id")
    val rec = SnapshotLog.readRecord(t, v)
    assert(rec.removes.isEmpty && rec.append,
      s"out-of-range keys must rewrite nothing: kind=${rec.kind}")
    assert(SnapshotLog.resolve(t, v).entries.map(_.path).toSet
      .intersect(before.entries.map(_.path).toSet) == before.entries.map(_.path).toSet)
    assert(idsAt(t) == (0L until 100L).toSet ++ Set(5000L, 6000L))
  }

  test("applyChanges prunes by touched keys too, and deletes exactly its keys") {
    import spark.implicits._
    val t = clusteredTable()
    val before = SnapshotLog.resolve(t, 1L)
    // touch only the [40,59] file: delete 42, update 55, insert 2000
    val changes = Seq(
      (42L, null.asInstanceOf[String], "D"),
      (55L, "upd55", "U"),
      (2000L, "new2000", "I")).toDF("id", "payload", "op")
    val v = SnapshotLog.applyChanges(spark, t, changes, "id")
    val rec = SnapshotLog.readRecord(t, v)
    assert(rec.removes.size == 1, s"one file holds {42,55}, removed ${rec.removes}")
    assert(rec.kind == "rewrite")
    val head = SnapshotLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(!head.contains(42L) && head(55L) == "upd55" && head(2000L) == "new2000")
    assert(head.size == 100) // 100 - 1 delete + 1 insert
    assert(head(41L) == "p41" && head(0L) == "p0")
    // untouched files carried with bounds intact: skipping still works
    val (kept, skipped) = SnapshotLog.prunedFiles(t, "id", 0.0, 10.0)
    assert(skipped.nonEmpty && kept.nonEmpty)
    assert(before.entries.size == 5)
  }

  test("merge key pruning is conservative: bounds-less files always rewrite") {
    import spark.implicits._
    val t = freshTable()
    // committed WITHOUT statsFor: no key bounds anywhere
    SnapshotLog.commit(spark,
      (0 until 20).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(2, col("id")), t)
    val v = SnapshotLog.merge(spark, t, Seq((3L, "upd")).toDF("id", "payload"), "id")
    val rec = SnapshotLog.readRecord(t, v)
    assert(rec.removes.size == 2,
      s"no bounds -> every file must rewrite (never lose an update): ${rec.removes}")
    val head = SnapshotLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(head(3L) == "upd" && head.size == 20)
  }

  test("readChangeFeed delivers inserts, upserts, and deletes across a merge") {
    import spark.implicits._
    val t = clusteredTable()                                        // v1
    SnapshotLog.commit(spark, Seq((200L, "a200")).toDF("id", "payload"),
      t, append = true)                                             // v2
    SnapshotLog.merge(spark, t,
      Seq((10L, "u10"), (300L, "n300")).toDF("id", "payload"), "id") // v3
    SnapshotLog.applyChanges(spark,
      t, Seq((20L, null.asInstanceOf[String], "D")).toDF("id", "payload", "op"),
      "id")                                                         // v4
    def feed(since: Long, until: Long): Map[(Long, String), String] =
      SnapshotLog.readChangeFeed(spark, t, since, until).collect()
        .map(r => (r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("_change_type"))) ->
          (if (r.isNullAt(r.fieldIndex("payload"))) null
           else r.getString(r.fieldIndex("payload")))).toMap
    val all = feed(1L, 4L)
    assert(all == Map(
      (200L, "insert") -> "a200",
      (10L, "upsert") -> "u10",
      (300L, "upsert") -> "n300",
      (20L, "delete") -> null), s"got $all")
    // every row carries the version that produced it — the ordering
    // key a consumer MUST apply a mixed feed by (Delta CDF's
    // _commit_version)
    val byVersion = SnapshotLog.readChangeFeed(spark, t, 1L, 4L).collect()
      .map(r => r.getLong(r.fieldIndex("id")) ->
        r.getLong(r.fieldIndex("_commit_version"))).toMap
    assert(byVersion == Map(200L -> 2L, 10L -> 3L, 300L -> 3L, 20L -> 4L),
      s"got $byVersion")
    // sub-ranges slice the feed exactly
    assert(feed(2L, 3L).keySet == Set((10L, "upsert"), (300L, "upsert")))
    assert(feed(3L, 4L).keySet == Set((20L, "delete")))
    // plain readChanges still refuses the rewrite range (its delta has
    // updates/deletes) but the error points at the row-level feed
    val e = intercept[RuntimeException] { SnapshotLog.readChanges(spark, t, 1L, 4L) }
    assert(e.getMessage.contains("readChangeFeed"))
    // a full replace still fails even the row-level feed
    SnapshotLog.commit(spark, Seq((1L, "x")).toDF("id", "payload"), t) // v5 replace
    val e2 = intercept[RuntimeException] { SnapshotLog.readChangeFeed(spark, t, 4L, 5L) }
    assert(e2.getMessage.contains("no recorded change data"))
  }

  test("maintenance commits are invisible: OPTIMIZE mid-feed breaks neither readChanges nor pollChanges") {
    import spark.implicits._
    val t = freshTable()
    def d(ids: Long*) = ids.map(i => (i, s"p$i")).toDF("id", "payload")
    SnapshotLog.commit(spark, d(1, 2), t)             // v1
    SnapshotLog.commit(spark, d(3), t, append = true) // v2
    SnapshotLog.compact(spark, t, targetFiles = 1)    // v3: dataChange=false
    SnapshotLog.commit(spark, d(4), t, append = true) // v4
    assert(SnapshotLog.readRecord(t, 3L).kind == "optimize")
    // the compaction contributes NOTHING to the delta — the feed is
    // exactly the appends, no double-delivery of compacted content
    val changed = SnapshotLog.readChanges(spark, t, 1L, 4L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(changed == Set(3L, 4L), s"got $changed")
    // pollChanges advances THROUGH the compaction without a resync
    val (v, resync, rows) = SnapshotLog.pollChanges(spark, t, 1L)
    assert(v == 4L && !resync)
    assert(rows.select("id").collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // a maintenance-only window advances the checkpoint with an empty
    // delta (no resync, no rows)
    SnapshotLog.compact(spark, t, targetFiles = 2) // v5
    val (v2, resync2, rows2) = SnapshotLog.pollChanges(spark, t, 4L)
    assert(v2 == 5L && !resync2 && rows2.columns.isEmpty)
    // and readChangeFeed skips it the same way
    assert(SnapshotLog.readChangeFeed(spark, t, 4L, 5L).columns.isEmpty)
  }

  test("a vacuumed gap inside the range fails readChanges loudly and resyncs pollChanges") {
    import spark.implicits._
    def d(ids: Long*) = ids.map(i => (i, s"p$i")).toDF("id", "payload")
    val t = freshTable()
    (1 to 5).foreach(i => SnapshotLog.commit(spark, d(i.toLong), t, append = i > 1))
    SnapshotLog.vacuum(t, keepFrom = 4L) // v1-v3 records die; head rests on ckpt-v4
    assert(SnapshotLog.versions(t) == Seq(4L, 5L))
    // a lagging consumer at v2 asks for (2, 5]: v3's rows are GONE —
    // silently returning v4+v5 only would under-deliver; fail loudly
    val e = intercept[RuntimeException] { SnapshotLog.readChanges(spark, t, 2L, 5L) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    val e2 = intercept[RuntimeException] { SnapshotLog.readChangeFeed(spark, t, 2L, 5L) }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    // the polling consumer gets a RESYNC (full head) instead of a hole
    val (v, resync, rows) = SnapshotLog.pollChanges(spark, t, 2L)
    assert(v == 5L && resync)
    assert(rows.select("id").collect().map(_.getLong(0)).toSet == (1L to 5L).toSet)
    // the surviving contiguous tail still reads as a plain delta
    assert(SnapshotLog.readChanges(spark, t, 4L, 5L)
      .select("id").collect().map(_.getLong(0)).toSet == Set(5L))
  }

  test("format detection: old pre-delta records and newer-fmt records fail with version messages") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, Seq((1L, "p1")).toDF("id", "payload"), t)
    // the r8-era layout: per-commit "files" arrays
    Files.write(Paths.get(t, "_graft_log", "v2.json"),
      """{"version":2,"append":true,"rows":1,"files":["data/x/part-0.parquet"]}"""
        .getBytes("UTF-8"))
    val e = intercept[RuntimeException] { SnapshotLog.readRecord(t, 2L) }
    assert(e.getMessage.contains("older graft") && !e.getMessage.contains("corrupt"),
      e.getMessage)
    // a record from a FUTURE format version
    Files.write(Paths.get(t, "_graft_log", "v3.json"),
      """{"fmt":99,"version":3,"append":true,"rows":0,"add":[]}""".getBytes("UTF-8"))
    val e2 = intercept[RuntimeException] { SnapshotLog.readRecord(t, 3L) }
    assert(e2.getMessage.contains("NEWER graft"), e2.getMessage)
    // current-format records round-trip their fmt stamp
    assert(SnapshotLog.readRecord(t, 1L).adds.nonEmpty)
  }

  test("hive partition values with URI-special characters record correct per-file stats") {
    import spark.implicits._
    val t = freshTable()
    // ':' and '%' are %XX-escaped in the on-disk dir name, and
    // input_file_name() escapes the escapes — the pre-r10 substring
    // match silently recorded rows=0 for these files
    val rows = Seq((1L, "a b"), (2L, "x%y"), (3L, "c:d"), (4L, "plain"))
      .toDF("id", "part")
    SnapshotLog.commit(spark, rows, t, partitionBy = Seq("part"), statsFor = Seq("id"))
    val st = SnapshotLog.resolve(t, 1L)
    assert(st.entries.nonEmpty)
    st.entries.foreach(e =>
      assert(e.rows > 0L, s"entry ${e.path} recorded rows=${e.rows} — URI decode failed"))
    assert(st.entries.map(_.rows).sum == 4L)
    // and the read restores every partition value verbatim
    assert(SnapshotLog.read(spark, t).select("part").collect()
      .map(_.getString(0)).toSet == Set("a b", "x%y", "c:d", "plain"))
  }

  test("bare compact preserves the dominant clustering: skip count never decreases") {
    val sf = "/root/testdata/sf0.001"
    val t = SnapshotLog.skippingDemoTable(spark, sf) // price-clustered, price+key indexed
    val q = (50000.0, 100000.0)
    val skippedBefore = SnapshotLog.prunedFiles(t, "o_totalprice", q._1, q._2)._2.size
    assert(skippedBefore > 0)
    val v = SnapshotLog.compact(spark, t, targetFiles = 8) // NO clusterBy
    assert(SnapshotLog.readRecord(t, v).kind == "optimize")
    val skippedAfter = SnapshotLog.prunedFiles(t, "o_totalprice", q._1, q._2)._2.size
    assert(skippedAfter >= skippedBefore,
      s"bare compact must not destroy the price clustering: $skippedBefore -> $skippedAfter")
    // content identical through the maintenance commit
    val a = SnapshotLog.read(spark, t, Some(v - 1)).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    val b = SnapshotLog.read(spark, t).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("3-dim z-order: a box query on three dims keeps a minority of files") {
    import SnapshotLog.Pred._
    import spark.implicits._
    val t = freshTable()
    // a 16x16x16 grid committed round-robin: no dim can skip anything
    val grid = (0 until 4096).map(i =>
      (i.toLong, (i % 16).toDouble, ((i / 16) % 16).toDouble, (i / 256).toDouble))
    SnapshotLog.commit(spark, grid.toDF("id", "x", "y", "z").repartition(16),
      t, statsFor = Seq("x", "y", "z"))
    val box = And(Between("x", 0.0, 3.0), Between("y", 0.0, 3.0),
      Between("z", 0.0, 3.0)) // a 1/64 corner cube
    assert(SnapshotLog.prunedFilesWhere(t, box)._2.isEmpty,
      "round-robin layout must not skip (the baseline)")
    val v = SnapshotLog.compactZorder(spark, t, targetFiles = 16,
      Seq("x", "y", "z"), bits = 8)
    assert(SnapshotLog.readRecord(t, v).kind == "optimize")
    val (kept, skipped) = SnapshotLog.prunedFilesWhere(t, box)
    assert(skipped.nonEmpty && kept.size <= 6,
      s"a 1/64 corner cube over 16 z-ordered files must keep a minority, kept ${kept.size}")
    // exactness through the rewrite
    val ids = SnapshotLog.readWhere(spark, t, box).select("id").collect()
      .map(_.getLong(0)).toSet
    val expect = grid.filter(g => g._2 <= 3 && g._3 <= 3 && g._4 <= 3).map(_._1).toSet
    assert(ids == expect)
  }

  test("a rewrite racing a DISJOINT concurrent append re-publishes at the new head, no re-run") {
    import spark.implicits._
    val t = clusteredTable()
    // a racer claims v2 out from under the rewrite's read-modify-write;
    // its append touches no file the rewrite removes, so the staged
    // output is still exactly right — the conflict check re-publishes
    // it at v3 instead of failing (Delta's WriteSerializable rule)
    Files.write(Paths.get(t, "_graft_log", "v2.json"),
      """{"fmt":2,"version":2,"append":true,"rows":0,"add":[]}""".getBytes("UTF-8"))
    val v = SnapshotLog.commitRewrite(spark,
      Seq((200L, "x")).toDF("id", "payload"), t,
      removePaths = Seq.empty, expectedHead = 1L)
    assert(v == 3L, s"the disjoint rewrite must land at the NEW head+1, got v$v")
    assert(SnapshotLog.versions(t) == Seq(1L, 2L, 3L))
    assert(idsAt(t) == (0L until 100L).toSet + 200L, "nothing erased, nothing lost")
  }

  test("a rewrite racing an OVERLAPPING winner fails loudly and erases nothing") {
    import spark.implicits._
    val t = clusteredTable()
    val victim = SnapshotLog.resolve(t, 1L).entries.head.path
    // the winner REWROTE a file this rewrite also read+removes: the
    // staged output is stale — re-publishing would silently drop the
    // winner's update, so the publish must fail loudly instead
    Files.write(Paths.get(t, "_graft_log", "v2.json"),
      (s"""{"fmt":2,"version":2,"append":true,"rows":0,"add":[],""" +
        s""""remove":["$victim"]}""").getBytes("UTF-8"))
    val e = intercept[RuntimeException] {
      SnapshotLog.commitRewrite(spark,
        Seq((10L, "x")).toDF("id", "payload"), t,
        removePaths = Seq(victim), expectedHead = 1L)
    }
    assert(e.getMessage.contains("concurrent modification"), e.getMessage)
    assert(SnapshotLog.versions(t) == Seq(1L, 2L), "the stale rewrite must not land")
  }

  test("two disjoint-key merges race: the loser re-publishes its staged rewrite without re-running") {
    import spark.implicits._
    val t = clusteredTable()
    def dataStages(): Int =
      Option(new java.io.File(t, "data").listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
    assert(dataStages() == 1)
    try {
      // merge A (keys in file [0,19]) lands WHILE merge B (keys in
      // file [60,79]) is between staging and publish — the stage seam
      // fires inside B's publish
      SnapshotLog.onStep = {
        case "staged" =>
          SnapshotLog.onStep = _ => () // fire once (A must not recurse)
          SnapshotLog.merge(spark, t, Seq((10L, "A10")).toDF("id", "payload"), "id")
          ()
        case _ => ()
      }
      val vB = SnapshotLog.merge(spark, t,
        Seq((70L, "B70")).toDF("id", "payload"), "id")
      assert(vB == 3L, s"A takes v2, B re-publishes at v3: got v$vB")
      // BOTH updates landed — the serial order winners-then-loser
      val rows = SnapshotLog.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows(10L) == "A10" && rows(70L) == "B70")
      assert(rows.keySet == (0L until 100L).toSet)
      // each merge staged exactly once: initial commit + A + B = 3
      // data stages; a re-executed rewrite would have left a 4th
      assert(dataStages() == 3, s"B must NOT re-run its rewrite, stages=${dataStages()}")
    } finally SnapshotLog.onStep = _ => ()

    // overlapping keys (same [0,19] file): the loser must re-derive
    val t2 = clusteredTable()
    try {
      SnapshotLog.onStep = {
        case "staged" =>
          SnapshotLog.onStep = _ => ()
          SnapshotLog.merge(spark, t2, Seq((11L, "A11")).toDF("id", "payload"), "id")
          ()
        case _ => ()
      }
      val e = intercept[RuntimeException] {
        SnapshotLog.merge(spark, t2, Seq((12L, "B12")).toDF("id", "payload"), "id")
      }
      assert(e.getMessage.contains("concurrent modification"), e.getMessage)
      // the winner's merge is intact; the loser's caller re-derives
      val rows2 = SnapshotLog.read(spark, t2).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows2(11L) == "A11" && rows2(12L) == "p12")
    } finally SnapshotLog.onStep = _ => ()
  }

  test("a racing truncate (zero-adds replace) forces the loser to re-derive") {
    import spark.implicits._
    val t = clusteredTable()
    try {
      // the truncate commits an empty frame: its record is a replace
      // whose one add is a zero-row file (`commit` stages one even for
      // an empty frame) — it must count as a table redefinition in the
      // conflict check, or the racing merge would re-publish its stale
      // file list and resurrect the erased rows
      SnapshotLog.onStep = {
        case "staged" =>
          SnapshotLog.onStep = _ => ()
          SnapshotLog.commit(spark,
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              SnapshotLog.read(spark, t).schema), t)
          ()
        case _ => ()
      }
      val e = intercept[RuntimeException] {
        SnapshotLog.merge(spark, t, Seq((70L, "B70")).toDF("id", "payload"), "id")
      }
      assert(e.getMessage.contains("concurrent modification"), e.getMessage)
      assert(SnapshotLog.read(spark, t).count() == 0L,
        "the truncate's result must survive — no resurrected rows")
    } finally SnapshotLog.onStep = _ => ()
  }

  test("Cli optimize retries from the new head when a live writer lands mid-compact") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark,
      (0 until 10).map(i => (i.toLong, s"p$i")).toDF("id", "payload"), t)
    try {
      // the nightly-maintenance-vs-live-ingest race: an appender lands
      // WHILE the compact rewrites (injected via the stage seam, which
      // fires inside the compact's own commit)
      SnapshotLog.onStep = {
        case "staged" =>
          SnapshotLog.onStep = _ => () // fire once, not on the retry
          SnapshotLog.commit(spark, Seq((99L, "raced")).toDF("id", "payload"),
            t, append = true)
          ()
        case _ => ()
      }
      val out = graft.tools.Cli.optimize(spark,
        Array("optimize", t, "--target-files", "1"))
      val v = out.collectFirst { case ("compacted_version", x) => x }.get
      assert(v == 3L, s"append took v2, the retried compact lands v3: got v$v")
      // NOTHING lost: the racer's row survives the retried compaction
      assert(idsAt(t) == (0L until 10L).toSet + 99L)
      assert(SnapshotLog.readRecord(t, 3L).kind == "optimize")
    } finally SnapshotLog.onStep = _ => ()
  }

  test("bin-packing OPTIMIZE rewrites only undersized files and is idempotent") {
    import spark.implicits._
    val t = freshTable()
    // one adequately-sized file + a drizzle of small append commits —
    // the streaming-ingest table shape nightly maintenance faces
    val big = (0 until 20000).map(i => (i.toLong, s"payload-$i" * 4))
    SnapshotLog.commit(spark, big.toDF("id", "payload").coalesce(1), t,
      statsFor = Seq("id"))
    (0 until 6).foreach { i =>
      SnapshotLog.commit(spark,
        Seq((100000L + i, s"s$i")).toDF("id", "payload").coalesce(1),
        t, append = true)
    }
    val before = SnapshotLog.resolve(t, 7L)
    val bigEntry = before.entries.maxBy(_.bytes)
    assert(before.entries.forall(_.bytes > 0L), "every entry must carry its size")
    val bigMtime = Files.getLastModifiedTime(Paths.get(t, bigEntry.path))
    // pack everything under 64 KiB (the 6 drizzle files; not the big one)
    val v = SnapshotLog.compactSmall(spark, t, minFileBytes = 64 * 1024)
    assert(v == 8L)
    val rec = SnapshotLog.readRecord(t, v)
    assert(rec.kind == "optimize", "bin-packing is maintenance: dataChange=false")
    assert(rec.removes.size == 6 && !rec.removes.contains(bigEntry.path),
      s"only the 6 small files repack: ${rec.removes}")
    assert(rec.adds.size < 6, "the drizzle must collapse")
    assert(Files.getLastModifiedTime(Paths.get(t, bigEntry.path)) == bigMtime,
      "the adequately-sized file must never be rewritten")
    // content identical; the id index survives
    assert(SnapshotLog.read(spark, t).count() == 20006L)
    assert(SnapshotLog.indexedColumns(SnapshotLog.resolve(t, v)).contains("id"))
    // IDEMPOTENT: a second run finds nothing to pack — no new version
    assert(SnapshotLog.compactSmall(spark, t, minFileBytes = 64 * 1024) == v)
    assert(SnapshotLog.versions(t).last == v)
    // and a live change-feed consumer never noticed any of it
    assert(SnapshotLog.readChanges(spark, t, 1L, v)
      .select("id").collect().map(_.getLong(0)).toSet ==
      (0 until 6).map(i => 100000L + i).toSet)
  }

  test("merge auto-merges schemas: new columns widen, missing columns null-fill") {
    import spark.implicits._
    val t = clusteredTable()
    // an update batch carrying a NEW column widens the table
    val v2 = SnapshotLog.merge(spark, t,
      Seq((10L, "u10", "fresh")).toDF("id", "payload", "note"), "id")
    val head = SnapshotLog.read(spark, t)
    assert(head.columns.toSet == Set("id", "payload", "note"))
    val byId = head.collect().map(r => r.getLong(0) ->
      (r.getString(1), if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(byId(10L) == (("u10", "fresh")))
    assert(byId(9L) == (("p9", null)), "carried rows read null for the new column")
    // an update batch MISSING a column null-fills it (whole-row upsert)
    SnapshotLog.merge(spark, t, Seq((10L, "downgraded")).toDF("id", "payload"), "id")
    val after = SnapshotLog.read(spark, t).filter(col("id") === 10L).collect().head
    assert(after.getString(after.fieldIndex("payload")) == "downgraded")
    assert(after.isNullAt(after.fieldIndex("note")))
    assert(SnapshotLog.read(spark, t).count() == 100L)
    assert(v2 == 2L)
  }

  test("compact with partitionBy keeps the hive layout and its directory pruning") {
    import spark.implicits._
    val t = freshTable()
    val docs = Seq.tabulate(60)(i => (i.toLong, Seq("de", "en", "zh")(i % 3)))
      .toDF("id", "lang")
    SnapshotLog.commit(spark, docs, t, partitionBy = Seq("lang"))
    // fragment it with appends, then compact PRESERVING the layout
    SnapshotLog.commit(spark, Seq((100L, "en")).toDF("id", "lang"), t,
      append = true, partitionBy = Seq("lang"))
    val v = SnapshotLog.compact(spark, t, targetFiles = 1, partitionBy = Seq("lang"))
    assert(SnapshotLog.readRecord(t, v).kind == "optimize")
    val filtered = SnapshotLog.read(spark, t).filter(col("lang") === "zh")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"directory pruning must survive the compaction:\n${plan.take(1200)}")
    assert(filtered.select("id").collect().map(_.getLong(0)).toSet ==
      (0 until 60).filter(_ % 3 == 2).map(_.toLong).toSet)
    assert(SnapshotLog.read(spark, t).count() == 61L)
  }

  test("orphan sweep reclaims crashed-rewrite cdc litter but never a live commit's change data") {
    import spark.implicits._
    val t = clusteredTable()                                          // v1
    SnapshotLog.merge(spark, t, Seq((10L, "u")).toDF("id", "payload"), "id") // v2
    val liveCdc = SnapshotLog.readRecord(t, 2L).cdc.map(e => e.path.split("/").take(2).mkString("/"))
    assert(liveCdc.nonEmpty)
    // a writer that crashed between cdc staging and record publish
    Seq((1L, "x")).toDF("id", "payload").write.parquet(s"$t/cdc/crashed-rewrite")
    Seq((1L, "y")).toDF("id", "payload").write.parquet(s"$t/data/crashed-rewrite")
    val swept = SnapshotLog.vacuumOrphans(t, olderThanMs = -1000L)
    assert(swept.toSet == Set("cdc/crashed-rewrite", "data/crashed-rewrite"),
      s"got $swept")
    liveCdc.foreach(s => assert(Files.isDirectory(Paths.get(t, s)),
      s"live change-data stage $s must survive the sweep"))
    // the live feed still reads after the sweep
    assert(SnapshotLog.readChangeFeed(spark, t, 1L, 2L).count() == 1L)
  }

  test("pollChangeFeed applies a mixed feed without the resync pollChanges must take") {
    import spark.implicits._
    val t = clusteredTable()                                          // v1
    // a CDF-consuming poll loop materializing a downstream copy
    var ckpt = 0L
    val state = scala.collection.mutable.Map[Long, String]()
    def pull(): Unit = {
      val (v, resync, rows) = SnapshotLog.pollChangeFeed(spark, t, ckpt)
      if (v > ckpt) {
        if (resync) {
          state.clear()
          rows.collect().foreach(r => state(r.getLong(0)) = r.getString(1))
        } else if (rows.columns.nonEmpty) {
          rows.collect()
            .sortBy(_.getLong(rows.columns.indexOf("_commit_version")))
            .foreach { r =>
              val id = r.getLong(r.fieldIndex("id"))
              r.getString(r.fieldIndex("_change_type")) match {
                case "delete" => state.remove(id); ()
                case _ => state(id) = r.getString(r.fieldIndex("payload"))
              }
            }
        }
        ckpt = v
      }
    }
    pull() // v1 is a replace: initial resync
    assert(state.size == 100 && ckpt == 1L)
    SnapshotLog.merge(spark, t, Seq((10L, "u10"), (900L, "n900")).toDF("id", "payload"), "id")
    SnapshotLog.compact(spark, t, targetFiles = 2)                    // maintenance
    SnapshotLog.deleteWhere(spark, t, SnapshotLog.Pred.Between("id", 0.0, 4.0))
    SnapshotLog.commit(spark, Seq((901L, "a901")).toDF("id", "payload"), t, append = true)
    pull() // ONE incremental pull across merge + compact + dv-delete + append
    assert(ckpt == 5L)
    val head = SnapshotLog.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(state.toMap == head,
      s"CDF poll loop diverged from the head (${state.size} vs ${head.size})")
    // a full replace still resyncs
    SnapshotLog.commit(spark, Seq((1L, "fresh")).toDF("id", "payload"), t)
    pull()
    assert(ckpt == 6L && state.toMap == Map(1L -> "fresh"))
  }

  test("restore re-lists an old version metadata-only; bad history stays travelable") {
    import spark.implicits._
    val t = clusteredTable()                                        // v1: 100 rows
    SnapshotLog.merge(spark, t, Seq((10L, "bad")).toDF("id", "payload"), "id") // v2
    SnapshotLog.commit(spark, Seq((999L, "junk")).toDF("id", "payload"), t,
      append = true)                                                // v3: botched publish
    val dataMtimes = SnapshotLog.resolve(t, 1L).entries.map(e =>
      e.path -> Files.getLastModifiedTime(Paths.get(t, e.path))).toMap
    val v = SnapshotLog.restore(spark, t, 1L)
    assert(v == 4L)
    // metadata only: v1's files re-listed verbatim, nothing rewritten
    val rec = SnapshotLog.readRecord(t, 4L)
    assert(rec.kind == "replace" && rec.removes.isEmpty)
    assert(rec.adds.map(_.path).toSet ==
      SnapshotLog.resolve(t, 1L).entries.map(_.path).toSet)
    dataMtimes.foreach { case (f, mt) =>
      assert(Files.getLastModifiedTime(Paths.get(t, f)) == mt) }
    // head == v1's content; per-entry schemas carried (the read plans)
    assert(idsAt(t) == (0L until 100L).toSet)
    // the bad versions stay time-travelable above the restore
    assert(idsAt(t, Some(3L)).contains(999L))
    // restoring to the current head is a no-op; to a vacuumed version, loud
    assert(SnapshotLog.restore(spark, t, 4L) == 4L)
    SnapshotLog.commit(spark, Seq((1L, "z")).toDF("id", "payload"), t) // v5 replace
    SnapshotLog.vacuum(t, keepFrom = 5L) // v1-v4 die; their files go
    val e = intercept[RuntimeException] { SnapshotLog.restore(spark, t, 4L) }
    assert(e.getMessage.toLowerCase.contains("vacuumed") ||
      e.getMessage.contains("no commit record"), e.getMessage)
  }

  test("time travel by timestamp resolves the newest version at or before the instant") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, Seq((1L, "a")).toDF("id", "payload"), t)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    SnapshotLog.commit(spark, Seq((2L, "b")).toDF("id", "payload"), t, append = true)
    assert(SnapshotLog.versionAsOfTimestamp(t, between) == 1L)
    assert(SnapshotLog.readAsOfTimestamp(spark, t, between)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(SnapshotLog.versionAsOfTimestamp(t, System.currentTimeMillis()) == 2L)
    // before the table existed: loud, not empty
    val e = intercept[RuntimeException] {
      SnapshotLog.versionAsOfTimestamp(t, between - 3600000L)
    }
    assert(e.getMessage.contains("no surviving version"))
  }

  test("vacuum retires dead rewrite commits' change-data files with them") {
    import spark.implicits._
    val t = clusteredTable()                                          // v1
    SnapshotLog.merge(spark, t, Seq((10L, "u")).toDF("id", "payload"), "id") // v2
    val cdcFiles = SnapshotLog.readRecord(t, 2L).cdc.map(_.path)
    assert(cdcFiles.nonEmpty)
    cdcFiles.foreach(f => assert(Files.exists(Paths.get(t, f))))
    SnapshotLog.commit(spark, Seq((500L, "x")).toDF("id", "payload"), t,
      append = true)                                                  // v3
    SnapshotLog.vacuum(t, keepFrom = 3L) // v1, v2 die
    cdcFiles.foreach(f => assert(!Files.exists(Paths.get(t, f)),
      s"dead change-data file $f must be vacuumed"))
    assert(idsAt(t).size == 101)
  }
}
