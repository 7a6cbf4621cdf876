package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Per-user running state emitted by EventStreams.userCounts. */
final case class UserCountUpdate(user_id: Long, n: Long, max_value: Double)

/** One gap-closed session emitted by EventStreams.flatSessions. */
final case class SessionOut(user_id: Long, start_us: Long, n_events: Long)

/** Carry-over state for flatSessions: the still-open tail session. */
final case class OpenSession(startUs: Long, lastUs: Long, n: Long)

/** Structured Streaming variants of the event-time operators
  * (SURVEY §2b "Streaming-shaped"). Each runs a real streaming query —
  * `readStream` file source -> watermark -> stateful op -> memory sink,
  * `Trigger.AvailableNow` — then returns the result as a DataFrame, so
  * the DuckDB oracle can verify STREAMING output against batch SQL.
  * Semantics match graft.ops.Events exactly (same windows, same gap).
  *
  * Scale: the file source shards by files; watermark bounds state; the
  * memory sink is only for oracle capture — production would write
  * parquet/kafka. AvailableNow processes a backlog incrementally with
  * bounded per-batch state, exactly how a 100 TB backfill would run.
  *
  * Late-data policy: the 1-hour watermark means an event arriving more
  * than 1 hour (event-time) behind the stream maximum is DROPPED from
  * windowed aggregates — state for windows older than (max ts - 1h) is
  * evicted, which is what bounds memory on an unbounded stream. In
  * Complete-mode capture here nothing is ever late (single ordered
  * backlog), so the streaming results equal the batch oracle; in
  * production Update/Append mode the same pipelines emit per-window
  * results once the watermark passes and late stragglers go to a
  * dead-letter side output if they must be kept.
  */
object EventStreams {

  /** Unique in-memory sink name per run. */
  private def sinkName(prefix: String): String =
    s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  /** readStream over the events table with ts normalized to
    * TimestampType (same nanos handling as Tables.events). The file
    * source needs a DIRECTORY; the corpus is one file per table, so
    * stream the parent dir with a glob filter. */
  private def eventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val path = s"$dir/events.parquet"
    val schema = graft.core.Tables.schemaOf(spark, path)
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n))
    // file source wants a directory: stream the table dir when the
    // table IS a dir (normal Spark layout), else glob the single file
    // out of its parent (the corpus layout). pathGlobFilter matches
    // leaf FILE names only.
    val raw =
      if (new java.io.File(path).isDirectory) reader.parquet(path)
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Scope `spark.sql.streaming.noDataMicroBatches.enabled=false` to
    * one capture query (read at query start; queries run sequentially).
    * A Complete-mode sink rewrites the FULL result every batch and an
    * Update-mode sink emits nothing on empty input, so the final
    * no-data micro-batch — there only for eager state eviction — adds
    * no rows to a memory-sink capture and was costing nearly as much
    * as the data batch (state scan + 32x store commits, measured via
    * the Scratch streaming listener). Append-mode/parquet-sink queries
    * NEED that batch (watermark finalization emits closed windows /
    * outer nulls) and keep the default. */
  private def withoutNoDataBatch[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Run a streaming DF to completion into a memory sink; return the
    * final result. Complete mode: the sink holds the full result. */
  private def runComplete(df: DataFrame, checkpointDir: String): DataFrame = {
    val name = sinkName("graft")
    withoutNoDataBatch(df.sparkSession) {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", s"$checkpointDir/$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    materializeAndDrop(df.sparkSession, name)
  }

  /** Copy the memory sink's rows into a LOCAL frame and DROP the sink's
    * temp view: each run registers a unique name, so without the drop a
    * bench sweep pins one full result copy in the driver per call for
    * the JVM's lifetime. Capture results are driver-sized by design
    * (they exist for oracle comparison), so the transient extra copy is
    * bounded. */
  private def materializeAndDrop(spark: SparkSession, name: String): DataFrame = {
    val captured = spark.table(name)
    val schema = captured.schema
    val rows = captured.collect()
    spark.catalog.dropTempView(name)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Fresh checkpoint dir per run (a REUSED checkpoint would resume the
    * previous query instead of running this one), parked under the
    * TempDirs base so JVM exit sweeps the accumulation away. */
  private def ckpt(): String = {
    val d = new java.io.File(graft.core.TempDirs.stable("stream_ckpt"),
      java.util.UUID.randomUUID().toString.take(12))
    d.mkdirs()
    d.toString
  }

  /** Streaming tumbling 1-hour windows per event_type with a 1-hour
    * watermark — same output schema/values as Events.tumbling, so it
    * shares that oracle. */
  def tumbling(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val agg = eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"))
    runComplete(agg, ckpt())
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
              col("n"), col("sum_value"))
      .orderBy("w_start_us", "event_type")
  }

  /** Streaming SLIDING windows (1-hour length, 30-min slide): each
    * event lands in two overlapping windows. Same output as the batch
    * `Events.sliding` double-bucket formulation, so it shares that
    * oracle shape. */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
    runComplete(agg, ckpt())
      .select(unix_micros(col("w.start")).as("w_start_us"), col("n"))
      .orderBy("w_start_us")
  }

  /** Streaming gap-based sessionization via `session_window` (30-min
    * gap): merges events separated by < gap into one growing window.
    * Output (user_id, start_us, n_events) matches the batch lag+cumsum
    * formulation's sessions. */
  def sessionWindows(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val agg = eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runComplete(agg, ckpt())
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"), col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** Custom multi-row streaming state via flatMapGroupsWithState:
    * per-user gap sessionization that EMITS one row per closed session
    * and CARRIES the open tail session in state across micro-batches.
    * Events are buffered and sorted per (ts, event_id) inside the group
    * (groupByKey gives no intra-group order guarantee), so output is
    * deterministic and equals the batch lag+cumsum sessionization — the
    * shared oracle shape.
    *
    * Tail flush is IN-STREAM (VERDICT r5 #2): `EventTimeTimeout` fires
    * when the watermark passes lastUs + gap — the moment no non-late
    * event can extend the session — and the handler emits the session
    * and drops its state. That is how an unbounded production run emits
    * every session exactly once with bounded state and no second pass.
    * At stream END the tails younger than the watermark's reach are
    * still legitimately open; they are read back from the STATE STORE
    * via the state data source — a distributed scan of the checkpoint's
    * state files, not a recompute of the event table. (The previous
    * implementation re-ran the full batch sessionization just to find
    * the tails — 2x the cost of the stream on a backfill.)
    *
    * The emitted sessions go to a PARQUET sink, not a memory sink:
    * session volume is data-sized (one row per session across the whole
    * backlog), so it belongs on the filesystem across executors; the
    * driver holds nothing and both halves of the result stay
    * distributed frames.
    *
    * Scale note: state is ONE OpenSession per user (bounded); the
    * per-batch sort is per-user-per-batch, not global. Cross-batch
    * sessions are first-class: state seeds each batch's fold, PROVIDED
    * each key's events arrive in event-time order across batches
    * (time-partitioned files consumed oldest-first — disjoint
    * ascending ranges, so nothing is ever late). Two distinct
    * violation modes, two behaviors: an event older than the WATERMARK
    * (>1h behind the stream max) is DROPPED before the operator — the
    * standard late-data policy the watermark defines, and the price of
    * the event-time timeout; an out-of-order event INSIDE the
    * watermark's tolerance reaches the fold and fails loudly rather
    * than corrupt session counts. StreamMultiBatchSpec drives a
    * 3-file/3-batch split against the batch oracle. */
  def flatSessions(spark: SparkSession, dir: String, gapMin: Int = 30,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val (inStream, tails) = flatSessionsParts(spark, dir, gapMin, maxFilesPerTrigger)
    inStream.union(tails).orderBy("user_id", "start_us")
  }

  /** The two halves of flatSessions, separately, for shape assertions:
    * sessions EMITTED IN-STREAM (fold-closed + watermark-timeout-flushed)
    * and the residual open tails read from the state store. */
  private[streaming] def flatSessionsParts(spark: SparkSession, dir: String,
      gapMin: Int = 30, maxFilesPerTrigger: Option[Int] = None): (DataFrame, DataFrame) = {
    import spark.implicits._
    val gapUs = gapMin * 60L * 1000000L
    val base = graft.core.TempDirs.stable(s"stream_fs:$dir:$gapMin")
    val out = s"$base/sessions"
    val ckDir = s"$base/ckpt"
    graft.core.TempDirs.deleteRecursively(new java.io.File(out))
    graft.core.TempDirs.deleteRecursively(new java.io.File(ckDir))
    // The watermarked ts attribute must REACH the stateful operator
    // (the checker looks for watermark metadata on the child's output;
    // unix_micros(ts) is a fresh attribute without it), so ts rides
    // along as _4 and the fold ignores it.
    val updates = eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"), col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // Watermark passed lastUs + gap: any event that could still
            // extend this session would be LATE (dropped upstream), so
            // the session is final — emit it and free the state.
            val o = state.get
            state.remove()
            Iterator.single(SessionOut(uid, o.startUs, o.n))
          } else {
            val sorted = rows.toVector.sortBy(r => (r._2, r._3))
            var open = state.getOption.orNull
            val closed = Vector.newBuilder[SessionOut]
            sorted.foreach { case (_, us, _, _) =>
              open match {
                case null => open = OpenSession(us, us, 1)
                case o if us < o.lastUs =>
                  // Cross-batch disorder (intra-batch is sorted away):
                  // fail loudly rather than corrupt session counts.
                  throw new IllegalStateException(
                    s"flatSessions: event-time disorder across batches for user $uid " +
                      s"($us < ${o.lastUs}); the source must deliver per-key " +
                      "event-time-monotone micro-batches")
                case o if us - o.lastUs > gapUs =>
                  closed += SessionOut(uid, o.startUs, o.n)
                  open = OpenSession(us, us, 1)
                case o => open = OpenSession(o.startUs, us, o.n + 1)
              }
            }
            if (open != null) {
              state.update(open)
              // +1ms: an event AT exactly lastUs + gap still extends the
              // session (the batch boundary rule is diff > gap), so the
              // timeout must fire strictly after that instant passes.
              state.setTimeoutTimestamp((open.lastUs + gapUs) / 1000 + 1)
            }
            closed.result().iterator
          }
      }
    val emitted = updates.toDF()
    val q = emitted.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Residual open tails at stream end, from the state store itself.
    val tails = spark.read.format("statestore")
      .load(ckDir)
      .select(col("key.value").as("user_id"),
        col("value.groupState.startUs").as("start_us"),
        col("value.groupState.n").as("n_events"))
    // schema supplied: a backlog whose every session stays open emits
    // zero rows, and inference would fail on the data-less sink dir
    (spark.read.schema(emitted.schema).parquet(out)
      .select(col("user_id"), col("start_us"), col("n_events")), tails)
  }

  /** PRODUCTION sink path: the tumbling aggregate in APPEND mode writing
    * a parquet directory — the scale answer to the Complete-mode memory
    * sink the oracle-capture queries use (a memory sink accumulates the
    * whole result on the driver; a parquet sink streams finalized rows
    * to the filesystem and the driver holds nothing). Append + watermark
    * emits a window exactly once, when the watermark passes its end —
    * so output contains only FINALIZED windows: w.end <= max(ts) - 1h,
    * the same bounded-state contract that lets an unbounded stream run
    * forever. The trailing (still-open) windows stay in state; the
    * DuckDB oracle applies the identical cutoff. Exactly-once: the sink
    * dir and checkpoint are recreated together per run (TempDirs
    * overwrite semantics), so replays can't double-write. */
  def tumblingToParquet(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val agg = eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
              col("n"), col("sum_value"))
    runAppendToParquet(agg, "tumbling", dir)
      .orderBy("w_start_us", "event_type")
  }

  /** Run an append-mode streaming frame to completion into a parquet
    * sink under a per-(tag, corpus) stable dir; return the batch
    * read-back. Sink dir and checkpoint are recreated together per run,
    * so replays can't double-write (exactly-once). */
  private def runAppendToParquet(agg: DataFrame, tag: String, dir: String): DataFrame = {
    val base = graft.core.TempDirs.stable(s"stream_pq:$dir")
    val out = s"$base/$tag"
    val ck = s"$base/${tag}_ckpt"
    graft.core.TempDirs.deleteRecursively(new java.io.File(out))
    graft.core.TempDirs.deleteRecursively(new java.io.File(ck))
    val q = agg.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ck)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Explicit schema: a run that finalized ZERO rows leaves a sink dir
    // with only _spark_metadata, and schema inference would throw where
    // the memory-sink variants return an empty result.
    agg.sparkSession.read.schema(agg.schema).parquet(out)
  }

  /** PRODUCTION twin of `enriched`: the stream-static broadcast join +
    * tumbling aggregate in APPEND mode to a parquet sink — only
    * watermark-finalized windows land in the files; the driver holds
    * nothing. The oracle applies the identical w.end <= max(ts) - 1h
    * cutoff on the batch join. */
  def enrichedToParquet(spark: SparkSession, dir: String): DataFrame = {
    val cust = graft.core.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("c_mktsegment"),
              col("n"), col("sum_value"))
    runAppendToParquet(agg, "enrich", dir)
      .orderBy("w_start_us", "c_mktsegment")
  }

  /** PRODUCTION twin of `sliding`: overlapping 1-hour/30-minute windows
    * in APPEND mode to parquet. Each event feeds two windows; a window
    * finalizes (lands in the files) when the watermark passes its end —
    * same contract as the tumbling twin, just with overlapping window
    * state. */
  def slidingToParquet(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val agg = eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("n"))
    runAppendToParquet(agg, "sliding", dir)
      .orderBy("w_start_us")
  }

  /** PRODUCTION twin of `dedupedCounts`: at-least-once ingest (stream
    * unioned with itself) -> dropDuplicatesWithinWatermark -> hourly
    * counts, APPEND mode to parquet — TWO chained stateful operators
    * (dedup state + window state), both watermark-bounded, finalized
    * windows only in the files. */
  def dedupedToParquet(spark: SparkSession, dir: String): DataFrame = {
    val twice = eventStream(spark, dir).union(eventStream(spark, dir))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val agg = twice
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("n"))
    runAppendToParquet(agg, "dedup", dir)
      .orderBy("w_start_us")
  }

  /** STREAMING AS-OF ENRICH: purchases stream in; every micro-batch
    * rides the NATIVE as-of operator (graft.plans.AsofJoin — the same
    * custom LogicalPlan/Strategy/SparkPlan the batch family uses)
    * against the STATIC per-(user, ts) deduplicated click table inside
    * `foreachBatch`, appending enriched rows to a parquet sink. This is
    * the standard production shape for "late-arriving facts pick up
    * the latest reference state at-or-before their event time": the
    * enrichment is a pure per-row function of the static side, so the
    * result is BATCHING-INVARIANT — any micro-batch split produces the
    * same rows (StreamMultiBatchSpec pins it) — and the declared query
    * shares `asof_native`'s DuckDB ASOF JOIN oracle verbatim. At scale
    * the static side stays partitioned by user on the executors across
    * batches; each trigger's as-of cost tracks that batch's purchase
    * volume, with O(1) merge state per key exactly like batch. */
  def asofToParquet(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val (_, clicks) = graft.ops.Events.asofSides(spark, dir)
    val purchases = eventStream(spark, dir, maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val base = graft.core.TempDirs.stable(s"stream_pq:$dir")
    val out = s"$base/asof"
    val ck = s"$base/asof_ckpt"
    graft.core.TempDirs.deleteRecursively(new java.io.File(out))
    graft.core.TempDirs.deleteRecursively(new java.io.File(ck))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        purchases.schema("event_id").dataType),
      org.apache.spark.sql.types.StructField("user_id",
        purchases.schema("user_id").dataType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("last_click_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("click_value",
        org.apache.spark.sql.types.DoubleType)))
    val q = purchases.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        graft.plans.AsofJoin(batch.toDF(), clicks,
            by = ("user_id", "c_user"), ts = ("ts_us", "click_us"))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("click_us").as("last_click_us"), col("click_value"))
          .write.mode("append").parquet(out)
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.schema(outSchema).parquet(out)
      .orderBy("event_id")
  }

  /** TRANSACTIONAL streaming ingest through the snapshot log: each
    * micro-batch lands as ONE append commit in a `SnapshotLog` table
    * (staged data files -> atomic manifest publish), so a concurrent
    * reader sees whole batches or nothing — never a half-written
    * batch, because readers list the LOG, not the data directory.
    * Exactly-once across replays: the commit carries the foreachBatch
    * batchId as a txn token (Delta's txnAppId/txnVersion rule), so
    * when a crash lands AFTER the commit published but BEFORE the
    * streaming checkpoint recorded the batch, the replayed batch is a
    * no-op instead of a duplicate append; a crash BEFORE publish
    * leaves only unreferenced staged files (invisible; `vacuum`
    * sweeps them) and the replay commits them fresh. This is the
    * versioned-ingest production shape the
    * plain parquet-sink twins can't give: every trigger is a
    * time-travelable version, and downstream jobs pin a version id
    * instead of racing the writer. The declared query reads the HEAD
    * and aggregates per event_type; the result is batching-invariant
    * (append commits are a disjoint union over batches), so the
    * oracle is the plain batch aggregate over `events`. */
  def snapshotIngest(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val table = graft.core.TempDirs.stable(s"snap_ingest:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(table))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    val ev = eventStream(spark, dir, maxFilesPerTrigger)
      .select(col("event_id"), col("event_type"), col("value"))
    val q = ev.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        graft.core.SnapshotLog.commit(spark, batch.toDF(), table, append = true,
          txn = Some(("snapshot_ingest", batchId)))
        ()
      }
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.core.SnapshotLog.read(spark, table)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** NATIVE log-backed stream: `readStream.format("graft-log")` — the
    * DSv2 `MicroBatchStream` whose offsets are snapshot-log versions
    * (graft.sources.LogStreamSource), consuming the change feed the
    * way `pollChanges` does but through Structured Streaming's own
    * offset/checkpoint machinery. The demo table is three
    * deterministic commits of event thirds (the initial replace + two
    * appends); the per-type aggregate runs INSIDE the stream (Complete
    * mode — running state is one row per event_type, so the capture
    * is O(types) however large the table: the scale-right shape, vs
    * capturing raw rows driver-side), so the result is
    * batching-invariant and the oracle is the plain batch aggregate
    * over `events` — which only matches if the source delivered every
    * committed row exactly once across micro-batches. */
  def logSourceCounts(spark: SparkSession, dir: String,
      maxVersionsPerTrigger: Option[Int] = None): DataFrame = {
    val table = logSourceDemoTable(spark, dir)
    val stream0 = spark.readStream.format("graft-log")
    val stream = maxVersionsPerTrigger.fold(stream0)(n =>
      stream0.option("maxVersionsPerTrigger", n.toString))
    val agg = stream.load(table)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
    runComplete(agg, ckpt())
      .select(col("event_type"), col("n_events"),
        round(col("sv"), 2).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** STREAMING CDF — `readStream.format("graft-log")` in
    * `readChangeFeed` mode: the ROW-LEVEL change feed of a snapshot-
    * log table streamed through Structured Streaming, updates and
    * deletes included (Delta's CDF streaming shape). The demo table
    * takes the full maintenance-era lifecycle under the live stream:
    * a key-clustered base commit (delivered as the initial snapshot,
    * tagged insert), an append of shifted new keys (insert), and a
    * file-pruned COW merge of a deterministic update batch — which
    * pre-r10 KILLED every streaming consumer and now arrives as an
    * ordinary micro-batch of `upsert`-tagged change-data rows. The
    * per-change-type aggregate runs INSIDE the stream (Complete mode,
    * state = one row per change type) and only matches the oracle's
    * replay if the initial snapshot, the append, and the merge's
    * recorded change data each arrived exactly once with the right
    * tags. */
  def changeFeedCounts(spark: SparkSession, dir: String): DataFrame = {
    val table = graft.core.TempDirs.stable(s"stream_cdf:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(table))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    val raw = graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)").as("p"))
    val base = raw.repartitionByRange(32, col("o_orderkey"))
    graft.core.SnapshotLog.commit(spark, base, table, statsFor = Seq("o_orderkey"))
    graft.core.SnapshotLog.commit(spark,
      raw.filter(col("o_orderkey") % 50 === 1)
        .select((col("o_orderkey") + 500000000L).as("o_orderkey"), col("p")),
      table, append = true)
    graft.core.SnapshotLog.merge(spark, table,
      raw.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") < 60000)
        .select(col("o_orderkey"), (col("p") + 1).cast("decimal(18,2)").as("p")),
      "o_orderkey")
    val agg = spark.readStream.format("graft-log")
      .option("readChangeFeed", "true")
      .load(table)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n_rows"), sum(col("p")).as("sp"))
    runComplete(agg, ckpt())
      .select(col("_change_type").as("change_type"), col("n_rows"),
        round(col("sp"), 2).cast("double").as("total"))
      .orderBy("change_type")
  }

  /** STREAMING DEDUP-INGEST — the round-9 pieces composed into the
    * production crawl-ingest shape: a `graft-log` SOURCE streams the
    * raw document backlog version by version; each micro-batch passes
    * a two-tier exact-dedup gate (WITHIN-batch: one winner per
    * content fingerprint by arrival order; CROSS-batch: anti-join
    * against the fingerprints already accepted into the destination
    * log); survivors land as one idempotent append COMMIT per batch
    * (txn batchId — a replayed batch cannot double-ingest). The
    * destination head is therefore the exact-dedup of the whole
    * backlog with first-arrival winners, whatever the batching.
    *
    * Batching invariance is by CONSTRUCTION: the within-batch winner
    * key is the global arrival key (version-class * 1e9 + doc_id),
    * so one batch or three pick identical winners — which is what
    * lets the DuckDB oracle replay the whole thing as a single
    * min-by-arrival + self-join, no streaming required.
    *
    * Scale: the gate's probe side is DISTINCT 16-byte fingerprints
    * (never the text) and a BLOOM FILTER over every fingerprint ever
    * accepted fronts the anti-join (`dedup_incremental_bloom`
    * streaming-ized): each batch row probes the bloom MAP-SIDE inside
    * whole-stage codegen — a miss is DEFINITELY new and commits
    * without touching the destination at all, so a batch of fresh
    * content costs O(batch) however large the accepted corpus; only
    * bloom hits (true dups + ~1% false positives) ride the exact
    * fp anti-join, and a batch with zero hits skips the destination
    * read entirely. The bloom lives driver-side across batches with
    * CAPPED capacity (`BloomMaxCapacity`), is seeded from the
    * destination's row count (log metadata), rebuilt DISTRIBUTED from
    * the persisted h60 column on restart (`historyBloom` — no
    * full-corpus collect), and reaches executors as a torrent
    * broadcast re-published only when a batch added keys — blooms
    * have no false negatives, so the gate's output is bit-identical
    * to the plain anti-join and the same oracle checks it. */
  def dedupIngest(spark: SparkSession, dir: String,
      maxVersionsPerTrigger: Option[Int] = Some(1)): DataFrame = {
    import graft.core.SnapshotLog
    import graft.functions.DetHash
    val src = dedupIngestSourceTable(spark, dir)
    val dest = graft.core.TempDirs.stable(s"dedup_ingest_dest:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(dest))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest))
    // accepted-fp history bloom: null until the first batch; rebuilt
    // from the destination when it already has commits (restart path —
    // the bloom MUST cover every accepted fp or a dup slips through)
    val bloomRef = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.util.sketch.BloomFilter](null)
    // the filter rides a TORRENT BROADCAST, re-published only when a
    // batch folded new keys in — never serialized into each task's
    // plan (at capacity the filter is ~40 MB of driver state; the
    // per-plan Binary-literal idiom ships it with EVERY task)
    var bloomBc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter] = null
    var bloomDirty = false
    def ensureBloom(): org.apache.spark.util.sketch.BloomFilter = {
      var bf = bloomRef.get()
      if (bf == null) {
        bf = EventStreams.historyBloom(spark, dest)
        bloomRef.set(bf)
        bloomDirty = true
      }
      bf
    }
    val stream0 = spark.readStream.format("graft-log")
    val stream = maxVersionsPerTrigger.fold(stream0)(n =>
      stream0.option("maxVersionsPerTrigger", n.toString))
    val q = stream.load(src).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val bf = ensureBloom()
        if (bloomDirty || bloomBc == null) {
          if (bloomBc != null) bloomBc.unpersist(false)
          bloomBc = spark.sparkContext.broadcast(bf)
          bloomDirty = false
        }
        val keyed = batch.toDF()
          .withColumn("fp", md5(col("text")))
          .withColumn("arr", (col("doc_id") % 3) * lit(1000000000L) + col("doc_id"))
        // persist the probed batch: the gate job below materializes it
        // once and the winner join + commit reuse the cache (micro-
        // batch-sized; without it the source re-reads per action)
        val probed = keyed
          .withColumn("h60", DetHash.hex60(col("text")))
          .withColumn("hit", graft.functions.BloomProbe.column(bloomBc, col("h60")))
          .persist()
        try {
          // ONE map-shaped gate job per batch: whether any bloom hit
          // exists AND the miss keys to fold into the bloom, from one
          // aggregate over the RAW batch — within-batch duplicates
          // share their winner's text, hence its h60 and verdict, so
          // probing before the winner join changes nothing and keeps
          // the semi-join out of the gate job (keys ride as 8-byte
          // longs, bounded by batch size)
          val gate = probed.groupBy("hit")
            .agg(collect_set(col("h60")).as("ks")).collect()
          val winners = probed.join(
            probed.groupBy("fp").agg(min(col("arr")).as("arr")),
            Seq("fp", "arr"), "left_semi")
          val anyHits = gate.exists(_.getBoolean(0))
          // bloom MISSES are definitely new — they commit without any
          // destination read; only hits need the exact settle
          val fresh =
            if (!anyHits) winners
            else winners.filter(!col("hit")).unionByName(
              winners.filter(col("hit")).join(
                SnapshotLog.read(spark, dest).select("fp"),
                Seq("fp"), "left_anti"))
          // h60 persists with the row: it is the bloom's key material,
          // so a restarted stream re-seeds the gate from a column-
          // pruned read instead of re-hashing every accepted text
          SnapshotLog.commit(spark, fresh.drop("arr", "hit"), dest,
            append = true, txn = Some(("dedup_ingest", batchId)))
          // fold the batch's accepted fps into the history bloom
          // (a replayed batch re-adds the same keys — harmless) and
          // mark it for re-broadcast before the NEXT batch probes
          val missRows = gate.filter(!_.getBoolean(0))
          if (missRows.nonEmpty) {
            missRows.foreach(_.getSeq[Long](1).foreach(bf.putLong))
            bloomDirty = true
          }
        } finally { probed.unpersist(); () }
        ()
      }
      .option("checkpointLocation", ckpt())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.core.SnapshotLog.read(spark, dest)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"))
      .orderBy("lang")
  }

  /** Keys past which the gate bloom stops growing (~40 MB serialized
    * at 1% fpp). Over-filling only RAISES the false-positive rate —
    * more rows ride the exact anti-join settle, never a wrong answer
    * — so a year-old ingest degrades gate efficiency gracefully
    * instead of growing unbounded driver state. */
  private[graft] val BloomMaxCapacity: Long = 1L << 25

  /** The accepted-fp history bloom for a dedup-ingest destination:
    * capacity from the log's row metadata (free), CAPPED at
    * `BloomMaxCapacity`; on restart over a non-empty destination the
    * filter builds DISTRIBUTED (`df.stat.bloomFilter` aggregates
    * per-partition sketches and merges — a column-pruned scan of
    * 8-byte keys whose driver traffic is one merged filter, never the
    * corpus' keys; the pre-r11 path collect()ed every accepted key —
    * an OOM, not a slowdown, on a year-old 100 TB ingest). Blooms
    * have no false negatives, so the gate output stays bit-identical
    * to the plain anti-join whatever the capacity. */
  private[graft] def historyBloom(spark: SparkSession,
      dest: String): org.apache.spark.util.sketch.BloomFilter = {
    import graft.core.SnapshotLog
    val headRows = SnapshotLog.latestVersion(dest)
      .map(v => SnapshotLog.resolve(dest, v).entries.map(e => e.rows - e.dvRows).sum)
      .getOrElse(0L)
    val capacity = math.min(BloomMaxCapacity, math.max(200000L, headRows * 4))
    if (headRows == 0L)
      org.apache.spark.util.sketch.BloomFilter.create(capacity, 0.01)
    else
      SnapshotLog.read(spark, dest).stat.bloomFilter("h60", capacity, 0.01)
  }

  private[graft] def dedupIngestSourceTable(spark: SparkSession, dir: String): String = {
    val table = graft.core.TempDirs.stable(s"dedup_ingest_src:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(table))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    graft.core.SnapshotLog.commit(spark, docs.filter(col("doc_id") % 3 === 0), table)
    graft.core.SnapshotLog.commit(spark, docs.filter(col("doc_id") % 3 === 1), table, append = true)
    graft.core.SnapshotLog.commit(spark, docs.filter(col("doc_id") % 3 === 2), table, append = true)
    table
  }

  private[graft] def logSourceDemoTable(spark: SparkSession, dir: String): String = {
    val table = graft.core.TempDirs.stable(s"log_source:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(table))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    val ev = graft.core.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    graft.core.SnapshotLog.commit(spark, ev.filter(col("event_id") % 3 === 0), table)
    graft.core.SnapshotLog.commit(spark, ev.filter(col("event_id") % 3 === 1), table, append = true)
    graft.core.SnapshotLog.commit(spark, ev.filter(col("event_id") % 3 === 2), table, append = true)
    table
  }


  /** PRODUCTION twin of `sessionWindows`: gap-session aggregation in
    * APPEND mode to parquet. A session window's end is its last event
    * + gap, so a session lands in the files exactly when the watermark
    * passes that instant — the same in-stream finalization flatSessions
    * gets from its event-time timeout, via the built-in operator. The
    * oracle applies last_us + gap <= max(ts) - 1h on the batch
    * sessionization. */
  def sessionsToParquet(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val agg = eventStream(spark, dir, maxFilesPerTrigger)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"), col("n_events"))
    runAppendToParquet(agg, "sessions", dir)
      .orderBy("user_id", "start_us")
  }

  /** STREAMING DEDUPLICATION: the event stream unioned with itself (so
    * every event arrives exactly twice — the at-least-once delivery a
    * real ingest pipeline must expect) deduplicated by event_id via
    * `dropDuplicatesWithinWatermark`, then window-counted. State holds
    * only keys younger than the watermark — bounded on an unbounded
    * stream, which plain dropDuplicates (keys kept forever) is not.
    * Output must equal the batch hourly counts of the ORIGINAL events:
    * the duplicates all vanish because each duplicate pair arrives
    * inside one watermark span. */
  def dedupedCounts(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val twice = eventStream(spark, dir, maxFilesPerTrigger)
      .union(eventStream(spark, dir, maxFilesPerTrigger))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val agg = twice
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
    runComplete(agg, ckpt())
      .select(unix_micros(col("w.start")).as("w_start_us"), col("n"))
      .orderBy("w_start_us")
  }

  /** STREAM-STREAM INTERVAL JOIN — the attribution shape: every click
    * joined to the same user's purchases within the following 30
    * minutes, both sides watermarked so the join state evicts pairs the
    * time bound can no longer match (clicks older than the purchase
    * watermark minus the interval are dropped from state — THE property
    * that lets two unbounded streams join forever). Append mode emits
    * each match exactly once — to a PARQUET sink, not a memory sink:
    * match volume is data-sized (every click x purchase pair within the
    * interval), so the sink streams finalized matches to the filesystem
    * across executors and the driver never materializes them (VERDICT
    * r5 #1 — previously this collected every match into the driver's
    * memory sink before aggregating). The hourly counts come from a
    * batch read-back of the match files — a distributed aggregate whose
    * scan prunes to the one p_ts column — and equal the batch interval
    * join, which is the oracle. */
  def intervalJoin(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    intervalJoinMatches(spark, dir, maxFilesPerTrigger)
      .groupBy(window(col("p_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("n"))
      .orderBy("w_start_us")
  }

  /** Run the streaming click->purchase interval join to completion into
    * a parquet sink; return the batch read-back of the sink — one
    * (user_id, c_ts, p_ts) row per match, the join output an
    * attribution pipeline would persist. Read with the join's own
    * schema so a zero-match run yields an empty frame instead of a
    * schema-inference failure. Exactly-once: sink dir and checkpoint
    * are recreated together per run. */
  private[streaming] def intervalJoinMatches(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    outerIntervalJoin(spark, dir, "inner", "stream_ij", maxFilesPerTrigger)._1

  /** LEFT-OUTER stream-stream interval join — the abandonment twin of
    * `intervalJoin`: every click joined to same-user purchases within
    * the following 30 minutes, and clicks with NO such purchase emit
    * once with null purchase columns — but only when the watermark
    * proves no match can still arrive (watermark > c_ts + 30 min), the
    * point where the join state evicts the click. That delayed null
    * emission is exactly what makes outer stream-stream joins safe on
    * unbounded streams: the result for a click is final when it leaves
    * state. Matches land in the parquet sink immediately (match volume
    * is data-sized — same sink shape as intervalJoin); unmatched rows
    * land on eviction, including the end-of-stream no-data batch. The
    * batch read-back applies the SAME horizon to both kinds —
    * c_ts + 30 min < max(ts) - 1h, strict, so rows exactly AT the final
    * watermark (whose eviction is boundary-convention-dependent) are
    * excluded deterministically — then rolls up per-hour conversion
    * counts; the oracle replays the identical batch left join + cutoff. */
  def leftOuterJoin(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val (matches, horizonUs) =
      outerIntervalJoin(spark, dir, "left_outer", "stream_loj", maxFilesPerTrigger)
    matches
      .filter(unix_micros(col("c_ts")) + 1800L * 1000000 < horizonUs)
      .groupBy(window(col("c_ts"), "1 hour").as("w"))
      .agg(count(col("p_ts")).as("n_pairs"),
           sum(when(col("p_ts").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .select(unix_micros(col("w.start")).as("w_start_us"),
              col("n_pairs"), col("n_unmatched"))
      .orderBy("w_start_us")
  }

  /** FULL-OUTER stream-stream interval join — both abandonment
    * directions at once: clicks with no purchase inside their forward
    * 30-minute window AND purchases no click preceded emit with nulls
    * on their respective evictions. The two sides finalize on different
    * horizons: a click is safe to evict when the watermark passes
    * c_ts + 30 min (no qualifying purchase can still arrive); a
    * purchase when the watermark passes p_ts itself (any later click
    * would be late data and dropped). The read-back applies BOTH
    * per-side horizons, so matched rows near the stream edge are cut
    * identically by engine and oracle, and buckets rows on
    * coalesce(c_ts, p_ts) — the click hour for matches and click-only
    * rows, the purchase hour for purchase-only rows. */
  def fullOuterJoin(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val (matches, horizonUs) =
      outerIntervalJoin(spark, dir, "full_outer", "stream_foj", maxFilesPerTrigger)
    matches
      .filter((col("c_ts").isNull ||
                unix_micros(col("c_ts")) + 1800L * 1000000 < horizonUs) &&
              (col("p_ts").isNull || unix_micros(col("p_ts")) < horizonUs))
      .groupBy(window(coalesce(col("c_ts"), col("p_ts")), "1 hour").as("w"))
      .agg(sum(when(col("c_ts").isNotNull && col("p_ts").isNotNull, 1L)
             .otherwise(0L)).as("n_matched"),
           sum(when(col("p_ts").isNull, 1L).otherwise(0L)).as("n_click_only"),
           sum(when(col("c_ts").isNull, 1L).otherwise(0L)).as("n_purchase_only"))
      .select(unix_micros(col("w.start")).as("w_start_us"),
              col("n_matched"), col("n_click_only"), col("n_purchase_only"))
      .orderBy("w_start_us")
  }

  /** Shared machinery for ALL the interval joins (inner, left-outer,
    * full-outer): run the streaming click->purchase join of the given
    * type to a parquet sink, return the batch read-back plus the
    * final-watermark horizon in µs (the inner caller ignores the
    * horizon — matches emit immediately and need no finalization cut).
    * Read-back uses the join's own schema so a zero-match run yields an
    * empty frame instead of a schema-inference failure; sink dir and
    * checkpoint are recreated together per run (exactly-once).
    *
    * The GLOBAL watermark of a two-sided join is the MIN of the
    * per-side watermarks (multipleWatermarkPolicy=min, the default) —
    * and each side's watermark tracks the max event time that side
    * SAW, i.e. post-filter: sparse purchases hold the global watermark
    * far behind max(ts), so eviction (and null emission) stops at
    * min(max click, max purchase) - 1h, not max(ts) - 1h. Watermarks
    * are also MILLISECOND-floored (event-time stats truncate µs to
    * ms); 1 ms of extra slack keeps callers' horizon filters strictly
    * inside the evicted region whichever boundary convention eviction
    * uses. Oracles apply the identical arithmetic. */
  private def outerIntervalJoin(spark: SparkSession, dir: String,
      joinType: String, tag: String,
      maxFilesPerTrigger: Option[Int]): (DataFrame, Long) = {
    val base = graft.core.TempDirs.stable(s"$tag:$dir")
    val out = s"$base/matches"
    val ck = s"$base/ckpt"
    graft.core.TempDirs.deleteRecursively(new java.io.File(out))
    graft.core.TempDirs.deleteRecursively(new java.io.File(ck))
    val clicks = eventStream(spark, dir, maxFilesPerTrigger)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = eventStream(spark, dir, maxFilesPerTrigger)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
      .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
              col("c_ts"), col("p_ts"))
    // INNER matches emit in the data batch itself; only the OUTER
    // variants need the trailing no-data batch (watermark eviction is
    // what EMITS their null-padded rows). Skipping it for inner joins
    // changes nothing in the sink (oracle-verified).
    def run(): Unit = {
      val q = joined.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    if (joinType == "inner") withoutNoDataBatch(spark)(run()) else run()
    // `div`, not floor(/): Divide on longs is DOUBLE division, and a
    // 1-ulp round-down on an exactly-ms-aligned max flips floor() to
    // N-1 while the oracle's integer // stays at N.
    val wmMs = graft.core.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
      .agg(min(expr("m div 1000"))).head().getLong(0)
    val horizonUs = (wmMs - 3600000L) * 1000 - 1000
    (spark.read.schema(joined.schema).parquet(out), horizonUs)
  }

  /** STREAM-STATIC broadcast join: enrich the event stream with the
    * customer dimension (user_id -> c_custkey), then window-aggregate
    * revenue per market segment — the canonical streaming-enrichment
    * pattern (clickstream x user table). The static side re-reads per
    * micro-batch and BROADCASTS (it never shuffles the stream); state
    * is bounded by the watermark exactly as in the plain tumbling agg.
    * At 100 TB/day the stream side scales by source partitions and the
    * dim broadcast is per-executor-constant — this is the shape every
    * production enrichment runs. */
  def enriched(spark: SparkSession, dir: String): DataFrame = {
    val cust = graft.core.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
           round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"))
    runComplete(agg, ckpt())
      .select(unix_micros(col("w.start")).as("w_start_us"), col("c_mktsegment"),
              col("n"), col("sum_value"))
      .orderBy("w_start_us", "c_mktsegment")
  }

  /** The shared per-user running (count, max) update stream — one
    * UserCountUpdate per user per micro-batch, via mapGroupsWithState. */
  private def userCountUpdates(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    eventStream(spark, dir, maxFilesPerTrigger)
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          val (n0, m0) = state.getOption.getOrElse((0L, Double.MinValue))
          var n = n0; var m = m0
          // Double.compare, not `>`: batch max() — the oracle — treats
          // NaN as greater than everything; `NaN > m` is always false.
          rows.foreach { case (_, v) =>
            n += 1; if (java.lang.Double.compare(v, m) > 0) m = v
          }
          state.update((n, m))
          UserCountUpdate(uid, n, m)
      }.toDF()
  }

  /** Final per-user row from an update stream: counts are monotone, so
    * the last update per user is the max. */
  private def finalizeUserCounts(updates: DataFrame): DataFrame =
    updates
      .groupBy("user_id")
      .agg(max(col("n")).as("n_events"),
           round(max(col("max_value")), 6).as("max_value"))
      .orderBy("user_id")

  /** Custom streaming state via mapGroupsWithState: per-user running
    * event count + max value. Update mode appends one row per state
    * change to the sink; the final state per user is the max count —
    * equal to the batch groupBy, which is the oracle. */
  def userCounts(spark: SparkSession, dir: String): DataFrame = {
    val updates = userCountUpdates(spark, dir)
    val name = sinkName("graft")
    withoutNoDataBatch(spark) {
      val q = updates.writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", s"${ckpt()}/$name")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    finalizeUserCounts(materializeAndDrop(spark, name))
  }

  /** PRODUCTION twin of `userCounts` via FOREACHBATCH — the Update-mode
    * sink shape parquet can't express natively: each micro-batch's
    * state updates are appended batch-side (in production this is the
    * upsert-into-a-store callback; here an append the read-back
    * last-writes by monotone count). Exercises the one streaming sink
    * API the other queries don't. */
  def userCountsToParquet(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val base = graft.core.TempDirs.stable(s"stream_ucp:$dir")
    val out = s"$base/updates"
    val ck = s"$base/ckpt"
    graft.core.TempDirs.deleteRecursively(new java.io.File(out))
    graft.core.TempDirs.deleteRecursively(new java.io.File(ck))
    val updates = userCountUpdates(spark, dir, maxFilesPerTrigger)
    // Update-mode foreachBatch: a no-data batch carries zero updates
    // (NoTimeout state — nothing fires), so the trailing eager-eviction
    // batch appends nothing; skip it (same rows, oracle-verified).
    withoutNoDataBatch(spark) {
      val q = updates.writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    finalizeUserCounts(spark.read.schema(updates.schema).parquet(out))
  }

  /** The same per-user running state through Spark 4's ARBITRARY STATE
    * API (`transformWithState` + `StatefulProcessor` + typed
    * `ValueState`), which requires the RocksDB state store provider —
    * the modern replacement for mapGroupsWithState (composable typed
    * state variables, TTL, timers) and the API a new deployment should
    * reach for first. Output equals `userCounts`, so it shares that
    * oracle. The provider override is scoped to this query and
    * restored after. */
  def userCountsTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val updates = eventStream(spark, dir)
        .select(col("user_id"), col("value"))
        .as[(Long, Double)]
        .groupByKey(_._1)
        .transformWithState(new UserCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update(),
          implicitly[org.apache.spark.sql.Encoder[UserCountUpdate]])
      val name = sinkName("graft")
      withoutNoDataBatch(spark) {
        val q = updates.toDF().writeStream
          .format("memory").queryName(name)
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", s"${ckpt()}/$name")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      finalizeUserCounts(materializeAndDrop(spark, name))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}

/** StatefulProcessor for `userCountsTws`: per-user running (count, max)
  * in one typed ValueState. Same fold as the mapGroupsWithState form —
  * including the Double.compare NaN ordering that matches batch max(). */
private[streaming] class UserCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), UserCountUpdate] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var state: ValueState[(Long, Double)] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[(Long, Double)]("uc",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble),
      TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
      timerValues: TimerValues): Iterator[UserCountUpdate] = {
    val (n0, m0) = if (state.exists()) state.get() else (0L, Double.MinValue)
    var n = n0; var m = m0
    rows.foreach { case (_, v) =>
      n += 1; if (java.lang.Double.compare(v, m) > 0) m = v
    }
    state.update((n, m))
    Iterator.single(UserCountUpdate(key, n, m))
  }
}
