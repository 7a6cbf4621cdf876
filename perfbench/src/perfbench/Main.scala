package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One timed operation: `kind` is write, read or other. */
final case class Sample(kind: String, name: String, secs: Double, ok: Boolean, round: Int)

/** Everything a workload needs: the session, the sf0.1 corpus, the
  * seeded inputs gen.py wrote, a private work dir for outputs, the seed,
  * whether this is a traced run, and the recorder its operations report
  * to. */
final class Ctx(val spark: SparkSession, val sf: String, val inputs: String, val work: String,
    val seed: Long, val nproc: Int, val trace: Boolean, val rec: Recorder)

/** Times operations and runs their output checks outside the timed
  * region. Failed operations and failed checks both count as failed. */
final class Recorder(val tracer: Tracer) {
  val samples = ArrayBuffer[Sample]()
  val failures = ArrayBuffer[String]()
  val freshness = ArrayBuffer[Double]()
  val storageAmp = ArrayBuffer[Double]()
  var rows = 0L
  var attempted = 0L
  var failed = 0L
  var round = 0
  var measuring = false
  private var opSecs = 0.0

  /** Seconds of operation time (checks excluded) since `mark`. */
  def mark: Double = opSecs
  def secsSince(mark: Double): Double = opSecs - mark

  /** Round-level results count only in measured rounds. */
  def published(n: Long): Unit = if (measuring) rows += n
  def fresh(secs: Double): Unit = if (measuring) freshness += secs
  def amplification(ratio: => Double): Unit = if (measuring) storageAmp += ratio

  /** Runs and times one operation, then checks its output. The warm-up
    * round's outputs are not checked; an operation that throws counts as
    * attempted and failed in any round. */
  def op[A](kind: String, name: String)(body: => A)(check: A => Unit): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(name)(body)) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    opSecs += secs
    val ok = r match {
      case Right(a) if measuring => try { check(a); true } catch { case NonFatal(e) => fail(name, e); false }
      case Right(_) => true
      case Left(e) => fail(name, e); false
    }
    if (measuring || !ok) attempted += 1
    if (!ok) failed += 1
    if (measuring) samples += Sample(kind, name, secs, ok, round)
    r.toOption
  }

  private def fail(name: String, e: Throwable): Unit = {
    val msg = s"round $round $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
    System.err.println(s"[perfbench] FAILED $msg")
    if (failures.size < 20) failures += msg.take(400)
  }

  def timedSecs: Double = samples.iterator.map(_.secs).sum
}

/** A workload: `load` puts the seeded inputs where the program needs them
  * (Derby, log tables), `round` runs one closed-loop round of operations
  * through `ctx.rec`. */
trait Workload {
  def load(): Unit
  def round(r: Int): Unit
  /** Per-layer metrics of the traced rounds, by name (see `Layers`). */
  def layerMetrics(tr: Tracer, tracedRounds: Int): Map[String, Double]
  /** Samples of storage amplification etc. taken after the run. */
  def finish(): Unit = ()
}

object Main {
  val WallCapSecs = 100.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = opt("work")
    val t0 = System.nanoTime()
    val spark = Session.create(work, nproc)
    val sessionSecs = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark)
    val rec = new Recorder(tracer)
    val ctx = new Ctx(spark, opt("sf"), opt("inputs"), s"$work/data", seed, nproc, trace, rec)
    val wl: Workload = workload match {
      case "copy" => new CopyBench(ctx)
      case "curate" => new CurateBench(ctx)
      case "lake" => new LakeBench(ctx)
    }
    val code = try {
      val genSecs = opt("generate-s").toDouble // gen.py's median over its repetitions
      val l0 = System.nanoTime()
      wl.load()
      val loadSecs = (System.nanoTime() - l0) / 1e9
      val w0 = System.nanoTime()
      wl.round(0) // untimed warm-up pass: JIT, first plans, first publishes
      val warmSecs = (System.nanoTime() - w0) / 1e9
      val setupSecs = genSecs + sessionSecs + loadSecs + warmSecs
      System.err.println(f"[perfbench] setup: generate $genSecs%.2f s, session $sessionSecs%.2f s, " +
        f"load $loadSecs%.2f s, warm-up $warmSecs%.2f s")

      rec.measuring = true
      val wall0 = System.nanoTime()
      def wall = (System.nanoTime() - wall0) / 1e9
      // A traced run alternates untraced and traced rounds, starting and
      // ending untraced, so drift between rounds cancels in the overhead.
      def traced(round: Int) = trace && round % 2 == 0
      var r = 1
      while ((rec.timedSecs < seconds || (trace && (r <= 3 || r % 2 == 1))) && wall < WallCapSecs) {
        rec.round = r
        if (trace) tracer.setEnabled(traced(r))
        wl.round(r)
        r += 1
      }
      tracer.setEnabled(false)
      wl.finish()
      // what is still on disk and on the heap once unreferenced shuffle
      // and broadcast state is reclaimed is what a long-lived session
      // would keep. The context cleaner deletes asynchronously what each
      // collection frees, and its clean-up frees more: two collections,
      // each followed by time for the cleaner, then one for the heap.
      for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
      System.gc()
      val e2e = EndToEnd.metrics(rec, setupSecs, work)
      val result =
        if (!trace) e2e.metrics
        else {
          val tracedRounds = (1 until r).count(traced)
          tracer.drain()
          tracer.dumpSpans(opt("spans"))
          val own = wl.layerMetrics(tracer, tracedRounds) ++
            (tracer.sparkMetrics(tracedRounds, nproc) ++ tracer.overhead(rec.samples.toSeq, traced, tracedRounds))
              .map { case (n, v, _) => n -> v }
          Layers.all.map { case (n, u) => (n, own.getOrElse(n, 0.0), u) }
        }
      val diag = Json.obj(
        "workload" -> Json.str(workload), "seed" -> seed.toString,
        "nproc" -> nproc.toString, "rounds" -> (r - 1).toString,
        "timed_s" -> Json.num(rec.timedSecs),
        "setup_parts_s" -> Json.obj("generate" -> Json.num(genSecs), "session" -> Json.num(sessionSecs),
          "load" -> Json.num(loadSecs), "warmup" -> Json.num(warmSecs)),
        "tails" -> e2e.tails,
        "ops" -> Json.obj(rec.samples.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
          n -> Json.obj("n" -> ss.size.toString, "p50_s" -> Json.num(Stats.median(ss.map(_.secs).toSeq))) }: _*), "persisted" -> Barrier.snapshotJson(spark),
        "failures" -> Json.arr(rec.failures.map(Json.str).toSeq))
      val metrics = Json.obj(result.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)
      val out = Json.obj(
        "correct" -> (rec.failed == 0).toString,
        "attempted" -> rec.attempted.toString, "failed" -> rec.failed.toString,
        "metrics" -> metrics, "diagnostics" -> diag)
      println("PERFBENCH_RESULT " + out)
      System.err.println(f"[perfbench] result after ${(System.nanoTime() - t0) / 1e9}%.2f s")
      0
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        1
    } finally {
      try spark.stop() catch { case NonFatal(_) => () }
    }
    System.exit(code)
  }
}

object Session {
  /** The session every workload runs in: local[nproc], the same engine
    * settings as the program's own mains, and every directory Spark
    * writes to inside `work`. */
  def create(work: String, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", "graft.core.FastLocalFileSystem")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      .config("spark.sql.catalog.graft", "graft.sources.LogCatalog")
      .config("spark.sql.catalog.graft.root", s"$work/data/lake")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Every per-layer metric with its unit. A workload that bypasses a layer
  * reports it as 0 (the layer did no work there). */
object Layers {
  private val lakeReads = Seq("point", "range", "partition", "count", "version", "cdf", "join")
  val all: Seq[(String, String)] = Seq(
    "spark.plan_s" -> "s", "spark.driver_self_s" -> "s", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.slot_util" -> "ratio", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "CopyPipeline.copyTable.small.driver_s" -> "s", "CopyPipeline.copyTable.small.job_s" -> "s",
    "CopyPipeline.copyTable.large.driver_s" -> "s", "CopyPipeline.copyTable.large.job_s" -> "s",
    "CopyPipeline.copyTables.slot_util" -> "ratio", "CopyPipeline.copyIncremental_s" -> "s",
    "copy.shuffle_mb" -> "MB",
    "Catalog.ParquetDir.write.files" -> "count", "Catalog.ParquetDir.write.mb" -> "MB",
    "Catalog.JdbcSource.read_rows_per_s" -> "1/s", "Catalog.JdbcSource.write_rows_per_s" -> "1/s",
    "Catalog.JdbcSource.write.driver_s" -> "s",
    "Relational.read.plan_s" -> "s", "Relational.read.job_s" -> "s",
    "Events.read.plan_s" -> "s", "Events.read.job_s" -> "s",
    "Text.dupClasses_s" -> "s", "Text.dedupKeepBestFrom_s" -> "s", "Text.publishCut_s" -> "s",
    "SnapshotLog.commit_s" -> "s", "Text.lsh_candidates" -> "count", "Text.lsh_useful_ratio" -> "ratio",
    "Vector.semanticKeepBest_s" -> "s", "Vector.ivfNprobeSweep_s" -> "s",
    "Barriers.persisted_rdds" -> "count", "Barriers.mem_mb" -> "MB", "Barriers.disk_mb" -> "MB",
    "LogBatchWrite.append_s" -> "s", "LogBatchWrite.append.driver_s" -> "s",
    "LogRowLevelOps.merge_s" -> "s", "LogRowLevelOps.delete_s" -> "s",
    "SnapshotLog.compact_s" -> "s", "SnapshotLog.compact.rewritten_mb" -> "MB",
    "SnapshotLog.versions" -> "count", "SnapshotLog.log_mb" -> "MB", "SnapshotLog.live_files" -> "count") ++
    lakeReads.flatMap(k => Seq(s"LogBatchScan.$k.plan_s" -> "s", s"LogBatchScan.$k.input_mb" -> "MB",
      s"LogBatchScan.$k.files_opened" -> "count",
      s"LogBatchScan.$k.rows_scanned_per_row_returned" -> "ratio")) ++ Seq(
    "stream.start_s" -> "s", "stream.stop_s" -> "s", "stream.batches" -> "count",
    "stream.queryPlanning_ms" -> "ms", "stream.latestOffset_ms" -> "ms", "stream.walCommit_ms" -> "ms",
    "stream.addBatch_ms" -> "ms", "stream.commitOffsets_ms" -> "ms", "stream.state_commit_ms" -> "ms",
    "NioCheckpointFileManager.files_written" -> "count",
    "trace.overhead_frac" -> "ratio", "trace.self_cover_min" -> "ratio", "trace.spans" -> "count")
}
