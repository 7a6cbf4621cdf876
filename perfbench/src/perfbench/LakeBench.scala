package perfbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.SnapshotLog

/** `lake`: writes beside reads on `graft-log` tables that grow.
  *
  * Per round: an append, a SQL MERGE of upserts and a SQL DELETE
  * (deletion vectors); a seeded mix of reads, about three per write
  * (bloom point lookups, key-range filters, a partition filter on the
  * hive-partitioned events table, metadata-only
  * COUNT(*), VERSION AS OF, batch change feed, a join of two log
  * tables); one AvailableNow trigger of a persistent change-feed
  * consumer that keeps per-status totals in a log-table sink; and an
  * OPTIMIZE and a VACUUM. Every round maintains: runs measure one round,
  * and a traced run's traced round must maintain too. OPTIMIZE counts as
  * a write, VACUUM (file deletion only) as neither read nor write. Every
  * result is checked against the generator's in-memory model of the live
  * rows. */
final class LakeBench(ctx: Ctx) extends Workload {
  import ctx._
  private val KeepVersions = 8
  private def ordersPath = s"$work/lake/lake/orders"
  private def sinkPath = s"$work/lake/lake/status_totals"
  private def checkpoint = s"$work/stream_checkpoint"
  private var m: Gen.LakeModel = _
  private val streamStats = mutable.ArrayBuffer[Map[String, Double]]()

  def load(): Unit = { m = Gen.lake(ctx, ordersPath, s"$work/lake/lake/events") }

  private def aggRow(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"), coalesce(sum("o_orderkey"), lit(0L)).as("k"),
      coalesce(sum(functions.round(col("o_totalprice") * 100).cast("long")), lit(0L)).as("c"))

  private def triple(r: Row): (Long, Long, Long) = (r.getLong(0), r.getLong(1), r.getLong(2))

  /** A read: plan (analysis through physical planning) and execute as two
    * spans; `rows` is how many table rows qualified. Traced reads also
    * record the scan's files opened, rows decoded and bytes read. */
  private def read[A](kind: String)(q: => DataFrame)(rows: Array[Row] => Long)(check: Array[Row] => Unit): Unit =
    rec.op("read", s"lake.read.$kind") {
      val io0 = ScanCounters.now
      val df = tracer.span("LogBatchScan.plan") { val d = q; d.queryExecution.executedPlan; d }
      val out = tracer.span("LogBatchScan.exec")(df.collect())
      if (tracer.enabledNow) {
        val io = ScanCounters.now - io0
        tracer.tag("rows", rows(out).toDouble)
        tracer.tag("files_opened", io.files.toDouble)
        tracer.tag("rows_decoded", io.rows.toDouble)
        tracer.tag("bytes_read", io.bytes.toDouble)
      }
      out
    }(check)

  def round(r: Int): Unit = {
    val rnd = new Random(seed * 1000003L + r)
    val v0 = m.version

    // ---- writes
    val slice = m.nextAppend(rnd)
    rec.op("write", "lake.append") {
      tracer.span("LogBatchWrite.append") {
        m.frame(slice).write.format("graft-log").mode("append")
          .option("statsFor", "o_orderkey,o_custkey").save(ordersPath)
      }
    } { _ => rec.published(slice.size) }
    m.applyAppend(slice)
    val firstCommit = rec.mark

    val (updates, inserts) = m.nextUpserts(rnd)
    rec.op("write", "lake.merge") {
      m.frame(updates ++ inserts).createOrReplaceTempView("lake_upserts")
      tracer.span("LogRowLevelOps.merge") {
        spark.sql("""MERGE INTO graft.lake.orders t USING lake_upserts s
          |ON t.o_orderkey = s.o_orderkey
          |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
    } { _ => rec.published(updates.size + inserts.size) }
    m.applyUpserts(updates, inserts)

    val (lo, hi) = m.nextDeleteRange(rnd)
    rec.op("write", "lake.delete") {
      tracer.span("LogRowLevelOps.delete") {
        spark.sql(s"DELETE FROM graft.lake.orders WHERE o_orderkey BETWEEN $lo AND $hi")
      }
    } { _ => Check.equal("head version after append, merge and delete", v0 + 3, latest) }
    val deleted = m.applyDelete(lo, hi)

    // ---- reads
    val t = "graft.lake.orders"
    (0 until 3).foreach { _ =>
      val cust = m.someCustkey(rnd)
      read("point")(spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, " +
        s"round(o_totalprice * 100) AS c FROM $t WHERE o_custkey = $cust"))(_.length.toLong) { rows =>
        Check.equal(s"point lookup o_custkey=$cust", m.byCustkey(cust),
          rows.map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getDouble(3).toLong)).toSet)
      }
    }
    (0 until 2).foreach { _ =>
      val (a, b) = m.someKeyRange(rnd, 3000)
      read("range")(aggRow(spark.table(t).filter(col("o_orderkey").between(a, b))))(_.head.getLong(0)) { rows =>
        Check.equal(s"range [$a, $b]", m.agg(k => k >= a && k <= b), triple(rows.head))
      }
    }
    val eventType = m.eventsPerType.keys.toSeq.sorted.apply(rnd.nextInt(m.eventsPerType.size))
    read("partition")(spark.table("graft.lake.events").filter(col("event_type") === eventType)
      .agg(count(lit(1)), sum("event_id")))(_.head.getLong(0)) { rows =>
      Check.equal(s"events partition $eventType", m.eventsPerType(eventType),
        (rows.head.getLong(0), rows.head.getLong(1)))
    }
    read("count")(spark.sql(s"SELECT COUNT(*) FROM $t"))(_.head.getLong(0)) { rows =>
      Check.equal("count(*)", m.live.size.toLong, rows.head.getLong(0))
    }
    val past = v0 + 1 // this round's append
    read("version")(aggRow(spark.sql(s"SELECT * FROM $t VERSION AS OF $past")))(_.head.getLong(0)) { rows =>
      Check.equal(s"version as of $past", m.snapshots(past), triple(rows.head))
    }
    read("cdf")(spark.read.format("graft-log").option("readChangeFeed", "true")
      .option("startingVersion", v0 + 1).option("endingVersion", v0 + 3).load(ordersPath)
      .groupBy("_change_type").count())(_.map(_.getLong(1)).sum) { rows =>
      val got = rows.map(x => x.getString(0) -> x.getLong(1)).toMap
      val expect = Map("insert" -> (slice.size + updates.size + inserts.size).toLong,
        "delete" -> (updates.size + deleted).toLong).filter(_._2 > 0)
      Check.equal(s"change feed v${v0 + 1}..v${v0 + 3}", expect, got)
    }
    read("join")(spark.sql(s"SELECT count(*) AS n, coalesce(sum(o.o_orderkey), 0) AS k FROM $t o " +
      "JOIN graft.lake.events e ON o.o_custkey = e.user_id"))(_.head.getLong(0)) { rows =>
      Check.equal("orders x events", m.joinWithEvents, (rows.head.getLong(0), rows.head.getLong(1)))
    }

    // ---- the change-feed consumer
    // checkpoint files before the trigger, counted outside the timed region
    val ckptBefore = if (tracer.enabledNow) Gen.fileCount(checkpoint) else 0L
    rec.op("other", "lake.stream") {
      val q = tracer.span("stream.start") {
        spark.readStream.format("graft-log").option("readChangeFeed", "true").load(ordersPath)
          .select(col("o_orderstatus"),
            when(col("_change_type") === "insert", 1L).when(col("_change_type") === "delete", -1L)
              .otherwise(0L).as("sign"),
            functions.round(col("o_totalprice") * 100).cast("long").as("c"),
            when(col("_change_type").isin("insert", "delete"), 0L).otherwise(1L).as("unknown"))
          .groupBy("o_orderstatus")
          .agg(sum("sign").as("n"), sum(col("sign") * col("c")).as("c"), sum("unknown").as("unknown"))
          .writeStream.format("graft-log").outputMode("complete")
          .option("checkpointLocation", checkpoint).trigger(Trigger.AvailableNow()).start(sinkPath)
      }
      tracer.span("stream.run")(q.awaitTermination())
      (q, System.currentTimeMillis())
    } { case (q, doneMs) =>
      if (tracer.enabledNow)
        streamStats += Gen.streamProgress(q, doneMs, Gen.fileCount(checkpoint) - ckptBefore)
      val got = SnapshotLog.read(spark, sinkPath).collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
      Check.equal("consumer sink", m.statusTotals, got.filter(_._2._1 != 0))
    }
    // operation time from the first commit's return to the sink commit
    rec.fresh(rec.secsSince(firstCommit))

    // ---- maintenance
    rec.amplification(storageAmp())
    // the live bytes OPTIMIZE rewrites, read outside the timed region
    val liveBytes = if (tracer.enabledNow) SnapshotLog.resolve(ordersPath, latest).entries.map(_.bytes).sum else 0L
    rec.op("write", "lake.optimize") {
      tracer.span("SnapshotLog.compact") {
        spark.sql("CALL graft.system.optimize('lake.orders')").collect()
        tracer.tag("rewritten_bytes", liveBytes.toDouble)
      }
    } { _ => () }
    m.version = latest
    rec.op("other", "lake.vacuum") {
      tracer.span("SnapshotLog.vacuum") {
        spark.sql(s"CALL graft.system.vacuum('lake.orders', keep_last => $KeepVersions)").collect()
      }
    } { _ => () }
    read("count")(spark.sql(s"SELECT COUNT(*) FROM $t"))(_.head.getLong(0)) { rows =>
      Check.equal("count(*) after maintenance", m.live.size.toLong, rows.head.getLong(0))
    }
  }

  /** The orders table's head version. */
  private def latest: Long = SnapshotLog.latestVersion(ordersPath).getOrElse(0L)

  /** Table bytes on disk (data, log, vector sidecars) over the bytes of
    * its live rows written once as parquet. */
  private def storageAmp(): Double = {
    val tmp = s"$work/once"
    SnapshotLog.read(spark, ordersPath).write.mode("overwrite").parquet(tmp)
    val once = Disk.bytes(tmp).toDouble
    Disk.delete(tmp)
    Disk.bytes(ordersPath) / once
  }

  override def finish(): Unit = if (rec.storageAmp.isEmpty) rec.amplification(storageAmp())

  def layerMetrics(tr: Tracer, rounds: Int): Map[String, Double] = {
    val per = math.max(1, rounds).toDouble
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def secs(name: String) = mean(tr.named(name).map(_.secs))
    val appends = tr.named("LogBatchWrite.append")
    val compacts = tr.named("SnapshotLog.compact")
    val readTypes = Seq("point", "range", "partition", "count", "version", "cdf", "join")
    val perType = readTypes.flatMap { k =>
      val ops = tr.roots.filter(_.name == s"lake.read.$k")
      val plans = ops.flatMap(tr.children).filter(_.name == "LogBatchScan.plan")
      def tag(t: String) = ops.map(_.tags.getOrElse(t, 0.0))
      val returned = tag("rows").sum
      Seq(
        s"LogBatchScan.$k.plan_s" -> mean(plans.map(_.secs)),
        s"LogBatchScan.$k.input_mb" -> mean(tag("bytes_read")) / (1024.0 * 1024.0),
        s"LogBatchScan.$k.files_opened" -> mean(tag("files_opened")),
        s"LogBatchScan.$k.rows_scanned_per_row_returned" ->
          (if (returned > 0) tag("rows_decoded").sum / returned else 0.0))
    }
    val st = streamStats.toSeq
    def stream(k: String) = mean(st.map(_.getOrElse(k, 0.0)))
    val logDir = s"$ordersPath/_graft_log"
    Map(
      "LogBatchWrite.append_s" -> mean(appends.map(_.secs)),
      "LogBatchWrite.append.driver_s" -> mean(appends.map(s => s.secs - tr.stageSecs(s))),
      "LogRowLevelOps.merge_s" -> secs("LogRowLevelOps.merge"),
      "LogRowLevelOps.delete_s" -> secs("LogRowLevelOps.delete"),
      "SnapshotLog.compact_s" -> mean(compacts.map(_.secs)),
      "SnapshotLog.compact.rewritten_mb" -> mean(compacts.map(_.tags.getOrElse("rewritten_bytes", 0.0))) / (1024.0 * 1024.0),
      "SnapshotLog.versions" -> SnapshotLog.versions(ordersPath).size.toDouble,
      "SnapshotLog.log_mb" -> Disk.mb(Disk.bytes(logDir)),
      "SnapshotLog.live_files" -> SnapshotLog.resolve(ordersPath, latest).entries.size.toDouble,
      "stream.start_s" -> secs("stream.start"),
      "stream.stop_s" -> stream("stop_s"),
      "stream.batches" -> stream("batches"),
      "stream.queryPlanning_ms" -> stream("queryPlanning"),
      "stream.latestOffset_ms" -> stream("latestOffset"),
      "stream.walCommit_ms" -> stream("walCommit"),
      "stream.addBatch_ms" -> stream("addBatch"),
      "stream.commitOffsets_ms" -> stream("commitOffsets"),
      "stream.state_commit_ms" -> stream("state_commit"),
      "NioCheckpointFileManager.files_written" -> stream("files_written")) ++ perType
  }

  private def tracer = rec.tracer
}

/** Process-wide scan counters: log files opened and rows decoded by the
  * graft-log readers, and bytes read through the local file system. The
  * client runs one operation at a time, so a delta is one read's. */
final case class ScanCounters(files: Long, rows: Long, bytes: Long) {
  def -(o: ScanCounters): ScanCounters = ScanCounters(files - o.files, rows - o.rows, bytes - o.bytes)
}

object ScanCounters {
  def now: ScanCounters = {
    import scala.jdk.CollectionConverters._
    @annotation.nowarn("cat=deprecation")
    val bytes = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
    ScanCounters(graft.sources.LogSourceAudit.filesOpened.get(),
      graft.sources.LogSourceAudit.rowsDecoded.get(), bytes)
  }
}
