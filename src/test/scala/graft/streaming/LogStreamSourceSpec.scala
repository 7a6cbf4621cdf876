package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.core.SnapshotLog

/** The DSv2 `graft-log` streaming source: offsets are snapshot-log
  * versions; each micro-batch reads exactly the files its version
  * range's append commits introduced. These specs pin the streaming
  * contract — batching invariance, checkpoint resume (exactly-once
  * across restarts), the replace-commit wall, and type fidelity of
  * the columnar micro-batch reader. */
class LogStreamSourceSpec extends AnyFunSuite with SparkFixture {

  private def freshTable(): String =
    Files.createTempDirectory("graft_logsrc_").toString

  private def ck(): String =
    Files.createTempDirectory("graft_logsrc_ck_").toString

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.map(i => (i, s"p$i")).toDF("id", "payload")
  }

  /** Run the source to completion (AvailableNow) into a memory sink;
    * return (captured rows, number of non-empty micro-batches). */
  private def drain(table: String, checkpoint: String,
                    maxVersionsPerTrigger: Option[Int] = None): (DataFrame, Int) = {
    val name = s"logsrc_${java.util.UUID.randomUUID().toString.replace("-", "").take(10)}"
    val r0 = spark.readStream.format("graft-log")
    val r = maxVersionsPerTrigger.fold(r0)(n => r0.option("maxVersionsPerTrigger", n.toString))
    val q = r.load(table).writeStream
      .format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    val captured = spark.table(name)
    val out = spark.createDataFrame(
      java.util.Arrays.asList(captured.collect(): _*), captured.schema)
    spark.catalog.dropTempView(name)
    (out, batches)
  }

  test("3-batch drain equals the single-batch drain and the batch snapshot, bit for bit") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)
    SnapshotLog.commit(spark, df(3), t, append = true)
    SnapshotLog.commit(spark, df(4, 5), t, append = true)
    val (one, nOne) = drain(t, ck())
    val (three, nThree) = drain(t, ck(), maxVersionsPerTrigger = Some(1))
    assert(nThree == 3, s"maxVersionsPerTrigger=1 over 3 versions must take 3 batches, took $nThree")
    assert(nOne <= nThree)
    def rows(d: DataFrame) = d.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = rows(SnapshotLog.read(spark, t))
    assert(rows(one) == batch && rows(three) == batch,
      "streamed rows must equal the snapshot regardless of batching")
  }

  /** Restart-capable drain: parquet file sink (the memory sink cannot
    * recover from a checkpoint). Returns everything the sink has
    * accumulated ACROSS runs — exactly-once shows up as no duplicates
    * in the cumulative file-sink content. */
  private def drainToFiles(table: String, checkpoint: String, outDir: String): Set[Long] = {
    val q = spark.readStream.format("graft-log").load(table)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).select("id").collect().map(_.getLong(0)).toSet
  }

  test("checkpoint resume: a restarted stream delivers only the versions committed since") {
    val t = freshTable()
    val checkpoint = ck()
    val out = Files.createTempDirectory("graft_logsrc_out_").toString
    SnapshotLog.commit(spark, df(1, 2), t)
    SnapshotLog.commit(spark, df(3), t, append = true)
    assert(drainToFiles(t, checkpoint, out) == Set(1L, 2L, 3L))
    // writer appends while the stream is down; the SAME checkpoint
    // resumes at the committed version watermark — the cumulative sink
    // holds each row exactly once (a re-delivery would duplicate ids)
    SnapshotLog.commit(spark, df(4, 5), t, append = true)
    val afterResume = spark.read.parquet({
      drainToFiles(t, checkpoint, out); out
    }).groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(afterResume == (1L to 5L).map(_ -> 1L).toMap,
      s"resume must append exactly the new versions once, got $afterResume")
    // nothing new -> an empty incremental pull, sink unchanged
    assert(drainToFiles(t, checkpoint, out) == (1L to 5L).toSet)
  }

  test("a replace commit mid-stream fails the query instead of double-counting") {
    val t = freshTable()
    val checkpoint = ck()
    val out = Files.createTempDirectory("graft_logsrc_out_").toString
    SnapshotLog.commit(spark, df(1), t)
    SnapshotLog.commit(spark, df(2), t, append = true)
    drainToFiles(t, checkpoint, out)
    SnapshotLog.commit(spark, df(9), t) // replace: earlier rows are invalid now
    val e = intercept[Exception] { drainToFiles(t, checkpoint, out) }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("replace commit")), s"got: ${msgs(e)}")
  }

  test("the initial batch may start at the table-creating replace commit") {
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t) // v1 replace = initial snapshot
    val (rows, _) = drain(t, ck())
    assert(rows.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("columnar micro-batch type fidelity: decimal, timestamp, date, int, bool, binary round-trip") {
    import spark.implicits._
    val t = freshTable()
    val data = Seq(
      (1L, 17, BigDecimal("12345.67"), "2024-03-01 10:30:00", "2024-03-01", true, 2.5f, Array[Byte](1, 2)),
      (2L, -4, BigDecimal("-0.03"), "1999-12-31 23:59:59", "1999-12-31", false, -1.25f, Array[Byte](3)))
      .toDF("id", "n", "dec", "ts", "d", "b", "f", "bin")
      .withColumn("dec", col("dec").cast("decimal(18,2)"))
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("d", col("d").cast("date"))
    SnapshotLog.commit(spark, data, t)
    val f0 = graft.sources.LogSourceAudit.filesOpened.get()
    val c0 = graft.sources.LogSourceAudit.columnarOpened.get()
    val (streamed, _) = drain(t, ck())
    val opened = graft.sources.LogSourceAudit.filesOpened.get() - f0
    assert(opened > 0L, "the stream must read the table's files")
    assert(graft.sources.LogSourceAudit.columnarOpened.get() - c0 == opened,
      s"every micro-batch file opens through the columnar reader ($opened opened)")
    val a = streamed.orderBy("id").collect()
    val b = SnapshotLog.read(spark, t).orderBy("id").collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      (0 until x.length).foreach { i =>
        (x.get(i), y.get(i)) match {
          case (xb: Array[Byte], yb: Array[Byte]) => assert(xb.sameElements(yb))
          case (xv, yv) => assert(xv == yv, s"col $i: streamed $xv != batch $yv")
        }
      }
    }
    // a null cell survives too
    SnapshotLog.commit(spark,
      Seq((3L, Option.empty[Int])).toDF("id", "n"), t, append = true)
    val (withNull, _) = drain(t, ck())
    val r3 = withNull.filter(col("id") === 3L).collect().head
    assert(r3.isNullAt(r3.fieldIndex("n")))
  }

  test("schema evolution: files older than a new column stream back with nulls") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, df(1), t)
    SnapshotLog.commit(spark, Seq((2L, "p2", "extra")).toDF("id", "payload", "note"),
      t, append = true)
    val (rows, _) = drain(t, ck())
    assert(rows.schema.fieldNames.toSet == Set("id", "payload", "note"))
    val byId = rows.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(r.fieldIndex("note"))) None else Some(r.getString(r.fieldIndex("note"))))).toMap
    assert(byId == Map(1L -> None, 2L -> Some("extra")))
  }

  test("dedup-ingest composition: 3-batch == 1-batch == batch dedup, one idempotent commit per batch") {
    val sf = "/root/testdata/sf0.001"
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val oneBatch = rows(EventStreams.dedupIngest(spark, sf, maxVersionsPerTrigger = None))
    val threeBatch = rows(EventStreams.dedupIngest(spark, sf, maxVersionsPerTrigger = Some(1)))
    assert(threeBatch == oneBatch,
      "the dedup gate must pick identical winners whatever the batching")
    // batch-computed expectation: first-arrival winner per content md5
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
      .withColumn("fp", md5(col("text")))
      .withColumn("arr", (col("doc_id") % 3) * lit(1000000000L) + col("doc_id"))
    val winners = docs.join(docs.groupBy("fp").agg(min(col("arr")).as("arr")),
      Seq("fp", "arr"), "left_semi")
    val expect = rows(winners.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("bigint").as("total_chars"))
      .orderBy("lang"))
    assert(threeBatch == expect)
    // the LAST run was the 3-batch one: the destination saw one commit
    // per source version, each carrying its txn batchId (replay-safe)
    val dest = graft.core.TempDirs.stable(s"dedup_ingest_dest:$sf")
    val vs = graft.core.SnapshotLog.versions(dest)
    assert(vs.size == 3, s"3 source versions -> 3 dest commits, got $vs")
    val st = graft.core.SnapshotLog.resolve(dest, vs.max)
    assert(st.txns.get("dedup_ingest").contains(2L),
      s"the txn high-water mark must be batch 2, got ${st.txns}")
  }

  test("dedup-ingest restart bloom: distributed seed covers every accepted key, capacity capped") {
    import spark.implicits._
    val dest = Files.createTempDirectory("graft_bloomdest_").toString
    val docs = (0 until 5000).map(i => (i.toLong, s"text-$i"))
      .toDF("doc_id", "text")
      .withColumn("h60", graft.functions.DetHash.hex60(col("text")))
    SnapshotLog.commit(spark, docs, dest)
    // the restart path builds the filter DISTRIBUTED (stat.bloomFilter
    // merges per-partition sketches) — the no-false-negatives contract
    // is what makes the gate bit-identical to the plain anti-join
    val bf = EventStreams.historyBloom(spark, dest)
    val keys = SnapshotLog.read(spark, dest).select("h60").collect().map(_.getLong(0))
    assert(keys.forall(bf.mightContainLong),
      "every accepted key must probe true after a restart re-seed")
    // capacity is CAPPED: the filter can never exceed the size a
    // BloomMaxCapacity build has, however many rows the log reports
    val atCap = org.apache.spark.util.sketch.BloomFilter
      .create(EventStreams.BloomMaxCapacity, 0.01)
    assert(bf.bitSize() <= atCap.bitSize(),
      s"bloom bitSize ${bf.bitSize()} must stay under the cap ${atCap.bitSize()}")
    // an empty destination seeds a floor-capacity filter with no scan
    val bf0 = EventStreams.historyBloom(spark,
      Files.createTempDirectory("graft_bloomempty_").toString)
    assert(!bf0.mightContainLong(graft.functions.DetHash.hex60("text-1")))
  }

  test("a vacuumed version gap fails the stream instead of silently losing rows") {
    val t = freshTable()
    val checkpoint = ck()
    val out = Files.createTempDirectory("graft_logsrc_out_").toString
    SnapshotLog.commit(spark, df(1), t)
    SnapshotLog.commit(spark, df(2), t, append = true)
    SnapshotLog.commit(spark, df(3), t, append = true)
    assert(drainToFiles(t, checkpoint, out) == Set(1L, 2L, 3L))
    SnapshotLog.commit(spark, df(4), t, append = true)
    SnapshotLog.commit(spark, df(5), t, append = true)
    SnapshotLog.vacuum(t, keepFrom = 5L) // v4's record dies; its rows live only in ckpt-v5
    val e = intercept[Exception] { drainToFiles(t, checkpoint, out) }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("no longer exist")), s"got ${msgs(e)}")
    // a FRESH stream over the vacuumed table also refuses (its initial
    // snapshot is not reproducible from the surviving records)
    val e2 = intercept[Exception] {
      drainToFiles(t, ck(), Files.createTempDirectory("graft_logsrc_out_").toString)
    }
    assert(msgs(e2).exists(_.contains("no longer exist")), s"got ${msgs(e2)}")
    // ...and the error's own advice works: startingVersion at the
    // oldest surviving version streams the changes still in the log
    val name = s"logsrc_sv_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft-log")
      .option("startingVersion", SnapshotLog.versions(t).min.toString)
      .load(t)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name).select("id").collect().map(_.getLong(0)).toSet
    spark.catalog.dropTempView(name)
    assert(got == Set(5L),
      s"changes-only stream from the oldest survivor must deliver exactly v5's append, got $got")
  }

  test("Cli optimize mid-stream is a non-event: the consumer's result equals the no-maintenance run") {
    // the first-night-maintenance scenario VERDICT r9 flagged: a
    // nightly compact+vacuum runs while a graft-log consumer is live.
    // Pre-r10 the compaction's replace commit KILLED the stream; now
    // it is dataChange=false and invisible
    def run(optimize: Boolean): Set[Long] = {
      val t = freshTable()
      val checkpoint = ck()
      val out = Files.createTempDirectory("graft_logsrc_out_").toString
      SnapshotLog.commit(spark, df(1, 2), t)
      SnapshotLog.commit(spark, df(3), t, append = true)
      SnapshotLog.commit(spark, df(4), t, append = true)
      drainToFiles(t, checkpoint, out) // consumer catches up to v3
      if (optimize) // compact -> v4 (dataChange=false), retire history
        graft.tools.Cli.optimize(spark, Array("optimize", t,
          "--target-files", "1", "--vacuum-keep", "2", "--vacuum-orphans"))
      SnapshotLog.commit(spark, df(5, 6), t, append = true)
      drainToFiles(t, checkpoint, out) // resumes from its checkpoint
    }
    val plain = run(optimize = false)
    val maintained = run(optimize = true)
    assert(maintained == plain && plain == Set(1L, 2L, 3L, 4L, 5L, 6L),
      s"optimize changed the consumer's view: $maintained vs $plain")
  }

  test("startingVersion at a data-replace survivor delivers it as the initial snapshot") {
    // the restart path the vacuum error message advises: after a
    // replace + vacuum, the oldest surviving version IS a replace
    // commit — a fresh stream starting there must treat its adds as
    // the initial snapshot instead of refusing (pre-r10 the allowance
    // only fired at version 1)
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)             // v1
    SnapshotLog.commit(spark, df(3), t, append = true) // v2
    SnapshotLog.commit(spark, df(7, 8), t)             // v3: data replace
    SnapshotLog.commit(spark, df(9), t, append = true) // v4
    SnapshotLog.vacuum(t, keepFrom = 3L)               // v1, v2 die
    assert(SnapshotLog.versions(t) == Seq(3L, 4L))
    val name = s"logsrc_rs_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft-log")
      .option("startingVersion", "3")
      .load(t)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name).select("id").collect().map(_.getLong(0)).toSet
    spark.catalog.dropTempView(name)
    assert(got == Set(7L, 8L, 9L),
      s"the replace survivor must stream as the initial snapshot + appends, got $got")
  }

  test("skipChangeCommits streams past a rewrite commit; without it the stream fails") {
    import spark.implicits._
    val t = freshTable()
    val checkpoint = ck()
    val out = Files.createTempDirectory("graft_logsrc_out_").toString
    SnapshotLog.commit(spark, df(1, 2).repartitionByRange(1, col("id")), t)
    drainToFiles(t, checkpoint, out)
    SnapshotLog.merge(spark, t, Seq((1L, "upd")).toDF("id", "payload"), "id") // rewrite
    SnapshotLog.commit(spark, df(5), t, append = true)
    // default: the rewrite is a correctness wall
    val e = intercept[Exception] { drainToFiles(t, checkpoint, out) }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(m => m.contains("rewrite") && m.contains("skipChangeCommits")),
      s"got ${msgs(e)}")
    // opt-in: the rewrite is skipped, appends keep flowing
    val name = s"logsrc_sc_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft-log")
      .option("skipChangeCommits", "true")
      .load(t)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name).select("id").collect().map(_.getLong(0)).toSet
    spark.catalog.dropTempView(name)
    assert(got == Set(1L, 2L, 5L),
      s"skipChangeCommits must deliver v1 + the append, not the rewrite: $got")
  }

  test("readChangeFeed mode streams THROUGH a merge with tagged, version-ordered rows") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2).repartitionByRange(1, col("id")), t,
      statsFor = Seq("id"))                                            // v1
    SnapshotLog.commit(spark, df(3), t, append = true)                 // v2
    SnapshotLog.merge(spark, t,
      Seq((1L, "upd1"), (9L, "new9")).toDF("id", "payload"), "id")     // v3 rewrite
    SnapshotLog.applyChanges(spark, t,
      Seq((2L, null.asInstanceOf[String], "D")).toDF("id", "payload", "op"),
      "id")                                                            // v4 delete
    SnapshotLog.compact(spark, t, targetFiles = 1)                     // v5 maintenance
    SnapshotLog.commit(spark, df(10), t, append = true)                // v6
    def drainCdf(maxPerTrigger: Option[Int]): Seq[(Long, String, String, Long)] = {
      val name = s"logsrc_cdf_${java.util.UUID.randomUUID().toString.take(8)}"
      val r0 = spark.readStream.format("graft-log").option("readChangeFeed", "true")
      val r = maxPerTrigger.fold(r0)(n => r0.option("maxVersionsPerTrigger", n.toString))
      val q = r.load(t)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ck())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.table(name)
        .select("id", "payload", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
          r.getString(2), r.getLong(3))).toSeq
      spark.catalog.dropTempView(name)
      rows
    }
    val expect = Set(
      (1L, "p1", "insert", 1L), (2L, "p2", "insert", 1L), // initial snapshot
      (3L, "p3", "insert", 2L),                           // append
      (1L, "upd1", "upsert", 3L), (9L, "new9", "upsert", 3L), // merge change data
      (2L, null, "delete", 4L),                           // CDC delete
      (10L, "p10", "insert", 6L))                         // post-maintenance append
    val one = drainCdf(None)
    assert(one.toSet == expect, s"got ${one.toSet}")
    assert(one.size == expect.size, "no duplicate deliveries")
    // batching-invariant: one version per trigger delivers the same feed
    val perVersion = drainCdf(Some(1))
    assert(perVersion.toSet == expect && perVersion.size == expect.size)
    // applying the feed in _commit_version order reproduces the head
    // snapshot exactly — the downstream-materialization contract
    val applied = scala.collection.mutable.Map[Long, String]()
    perVersion.sortBy(_._4).foreach {
      case (id, _, "delete", _) => applied.remove(id); ()
      case (id, p, _, _) => applied(id) = p
    }
    val head = SnapshotLog.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(applied.toMap == head,
      s"feed replay diverged from the head: $applied vs $head")
  }

  test("a stream reads deletion-vectored entries THROUGH their vectors — deleted rows never resurrect") {
    import spark.implicits._
    // the composition trap pre-r11: RESTORE re-lists dv-carrying
    // entries and a fresh stream's initial snapshot delivered their
    // RAW rows (deleted data included) — the source refused instead.
    // The per-file reader now APPLIES vectors, so the initial
    // snapshot delivers exactly the live rows.
    val t = freshTable()
    SnapshotLog.commit(spark,
      (0 until 20).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(2, col("id")), t, statsFor = Seq("id"))
    SnapshotLog.deleteWhere(spark, t, SnapshotLog.Pred.Between("id", 0.0, 4.0)) // v2
    SnapshotLog.commit(spark, df(100), t)        // v3: replace (bad publish)
    SnapshotLog.restore(spark, t, 2L)            // v4: re-lists dv entries
    val live = (5L until 20L).toSet
    val name = s"logsrc_dv_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft-log")
      .option("startingVersion", "4").load(t)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name).select("id").collect().map(_.getLong(0)).toSet
    spark.catalog.dropTempView(name)
    assert(got == live,
      s"the vectored initial snapshot must deliver live rows only, got $got")
    // CDF mode applies the vectors to its initial snapshot too
    SnapshotLog.commit(spark, df(200), t, append = true) // v5
    val name2 = s"logsrc_dvc_${java.util.UUID.randomUUID().toString.take(8)}"
    val q2 = spark.readStream.format("graft-log")
      .option("startingVersion", "4")
      .option("readChangeFeed", "true").load(t)
      .writeStream.format("memory").queryName(name2)
      .option("checkpointLocation", ck())
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val cdf = spark.table(name2)
      .select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    spark.catalog.dropTempView(name2)
    assert(cdf == live.map((_, "insert", 4L)) + ((200L, "insert", 5L)),
      s"got $cdf")
  }

  test("a maintenance-compact survivor streams as the initial snapshot (the vacuum-restart path)") {
    // the ADVICE r10 trap: `Cli optimize --vacuum-keep` leaves the
    // dataChange=false compact as the oldest surviving version and its
    // own error message advises restarting there — but the maintenance
    // filter ran first, silently delivering ZERO snapshot rows
    val t = freshTable()
    SnapshotLog.commit(spark, df(1, 2), t)              // v1
    SnapshotLog.commit(spark, df(3), t, append = true)  // v2
    SnapshotLog.compact(spark, t, targetFiles = 1)      // v3: maintenance replace
    SnapshotLog.commit(spark, df(4), t, append = true)  // v4
    SnapshotLog.vacuum(t, keepFrom = 3L)                // v1, v2 die
    assert(SnapshotLog.versions(t) == Seq(3L, 4L))
    val name = s"logsrc_mc_${java.util.UUID.randomUUID().toString.take(8)}"
    val q = spark.readStream.format("graft-log")
      .option("startingVersion", "3").load(t)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ck())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(name).select("id").collect().map(_.getLong(0)).toSet
    spark.catalog.dropTempView(name)
    assert(got == Set(1L, 2L, 3L, 4L),
      s"the compact survivor's adds ARE the snapshot; got $got")
    // mid-stream the same commit stays invisible (unchanged contract):
    // covered by "Cli optimize mid-stream is a non-event" above. A
    // maintenance REWRITE survivor (bin-pack) cannot reproduce the
    // snapshot from its record alone and must fail loudly instead
    val t2 = freshTable()
    SnapshotLog.commit(spark, df(1), t2)                          // v1
    SnapshotLog.commit(spark, df(2), t2, append = true)           // v2
    SnapshotLog.compactSmall(spark, t2, minFileBytes = 1L << 30)  // v3: rewrite
    assert(SnapshotLog.readRecord(t2, 3L).kind == "optimize")
    val e = intercept[Exception] {
      val n2 = s"logsrc_mr_${java.util.UUID.randomUUID().toString.take(8)}"
      val q2 = spark.readStream.format("graft-log")
        .option("startingVersion", "3").load(t2)
        .writeStream.format("memory").queryName(n2)
        .option("checkpointLocation", ck())
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("maintenance rewrite")), s"got ${msgs(e)}")
  }

  test("hive-partitioned layouts stream with partition columns restored; nested schemas fail fast") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, Seq((1L, Seq(1.0, 2.0))).toDF("id", "vec"), t)
    val e = intercept[Exception] { drain(t, ck()) }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Seq.empty else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("flat schemas")), s"got ${msgs(e)}")
    val t2 = freshTable()
    SnapshotLog.commit(spark, Seq((1L, "en"), (2L, "de"), (3L, "en"))
      .toDF("id", "lang"), t2, partitionBy = Seq("lang"))
    val (rows, _) = drain(t2, ck())
    val got = rows.collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("lang")))).toSet
    assert(got == Set((1L, "en"), (2L, "de"), (3L, "en")),
      s"partition values must come back as columns, got $got")
  }

  test("maxFilesPerTrigger splits ONE commit across micro-batches at file granularity") {
    import graft.sources.{LogMicroBatchStream, LogOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import spark.implicits._
    val t = freshTable()
    // one version, 5 files (range-partitioned: deterministic file count)
    SnapshotLog.commit(spark,
      (0 until 100).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(5, col("id")), t)
    val stream = new LogMicroBatchStream(t,
      spark.read.format("graft-log").load(t).schema,
      maxVersionsPerTrigger = None, maxFilesPerTrigger = Some(2L))
    var off = stream.initialOffset().asInstanceOf[LogOffset]
    assert(off == LogOffset(0L))
    val total = stream.planInputPartitions(LogOffset(0L), LogOffset(1L)).length
    assert(total == 5, s"the commit must land 5 files, got $total")
    var all = Seq.empty[String]
    var steps = Seq.empty[LogOffset]
    var guard = 0
    while ({
      val next = stream.latestOffset(off, ReadLimit.allAvailable())
        .asInstanceOf[LogOffset]
      val moved = next != off
      if (moved) {
        val parts = stream.planInputPartitions(off, next)
          .map(_.asInstanceOf[graft.sources.LogInputPartition].relPath)
        assert(parts.length <= 2, s"cap 2 files per trigger, got ${parts.length}")
        all = all ++ parts
        steps = steps :+ next
        // offsets survive the checkpoint json round-trip exactly
        assert(stream.deserializeOffset(next.json()) == next)
        off = next
      }
      guard += 1; moved && guard < 10
    }) ()
    assert(steps == Seq(LogOffset(1L, 2L), LogOffset(1L, 4L), LogOffset(1L)),
      s"sub-version drain must walk file indexes then close the version: $steps")
    assert(all.distinct.length == 5, s"every file exactly once, got $all")
    // a pre-r12 checkpoint (no index) still deserializes
    assert(stream.deserializeOffset("""{"version":3}""") == LogOffset(3L))
  }

  test("maxBytesPerTrigger admits at least one file and drains completely") {
    import graft.sources.{LogMicroBatchStream, LogOffset}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import spark.implicits._
    val t = freshTable()
    def part(rows: Range, n: Int) =
      rows.map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(n, col("id"))
    SnapshotLog.commit(spark, part(0 until 60, 3), t)
    SnapshotLog.commit(spark, part(60 until 100, 2), t, append = true)
    val stream = new LogMicroBatchStream(t,
      spark.read.format("graft-log").load(t).schema,
      maxVersionsPerTrigger = None, maxBytesPerTrigger = Some(1L)) // < any file
    var off = stream.initialOffset().asInstanceOf[LogOffset]
    var n = 0
    var files = 0
    while ({
      val next = stream.latestOffset(off, ReadLimit.allAvailable())
        .asInstanceOf[LogOffset]
      val moved = next != off
      if (moved) {
        val parts = stream.planInputPartitions(off, next)
        assert(parts.length == 1, "a 1-byte cap must admit exactly one file per trigger")
        files += parts.length; off = next; n += 1
      }
      moved && n < 20
    }) ()
    assert(files == 5 && n == 5, s"5 files over 2 versions drain one per trigger: $files/$n")
  }

  test("e2e: a maxFilesPerTrigger drain equals the unbatched drain, bit for bit") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark,
      (1 to 40).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id")), t)
    SnapshotLog.commit(spark, df(41, 42), t, append = true)
    val name = s"logsrc_mft_${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}"
    val q = spark.readStream.format("graft-log")
      .option("maxFilesPerTrigger", "1").load(t)
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ck())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    spark.catalog.dropTempView(name)
    assert(batches >= 5, s"1-file triggers over 5+ files must take >=5 batches, took $batches")
    assert(got == (1L to 42L).map(i => (i, s"p$i")).toSet,
      "file-granular batching must not lose or duplicate rows")
  }
}
