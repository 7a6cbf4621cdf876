package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: times are epoch milliseconds. Spans of one
  * operation share `op`; `parent` is -1 for the operation's root. */
final class Span(val id: Int, val op: Int, val parent: Int, val name: String,
    val start: Double) {
  var end: Double = Double.NaN
  val tags = mutable.LinkedHashMap[String, Double]()
  def secs: Double = (end - start) / 1e3
}

/** Spark work attributed to one span (the innermost span open on the
  * client thread when the job was submitted). */
final class Counts {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shufW, shufR, spill, inBytes, inRecs = 0L
  var planMs = 0.0
  val stageIv = ArrayBuffer[(Double, Double)]()
}

/** Span recorder plus the Spark listeners that attribute engine work to
  * spans. Spans are only opened by the benchmark's client thread, around
  * calls into the program's public functions; the listeners are
  * registered only while tracing is enabled. */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val baseNanos = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis().toDouble
  def nowMs: Double = baseEpoch + (System.nanoTime() - baseNanos) / 1e6

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextOp = 0
  @volatile private var enabled = false
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val phases = ArrayBuffer[(Double, Double)]() // (start ms, duration ms)

  private def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        val span = s.toInt
        val c = countsOf(span)
        c.synchronized { c.jobs += 1 }
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
        val c = countsOf(span)
        for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
          c.synchronized { c.stages += 1; c.stageIv += ((a.toDouble, b.toDouble)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val m = e.taskMetrics
        val c = countsOf(span)
        if (m != null) c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shufW += m.shuffleWriteMetrics.bytesWritten
          c.shufR += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecs += m.inputMetrics.recordsRead
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = phases.synchronized {
      qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs.toDouble, p.durationMs.toDouble)))
    }
  }

  def enabledNow: Boolean = enabled

  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
    enabled = on
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val op = parent.map(_.op).getOrElse { nextOp += 1; nextOp }
      val s = new Span(spans.size, op, parent.map(_.id).getOrElse(-1), name, nowMs)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attaches a measured value to the innermost open span. */
  def tag(key: String, value: Double): Unit = stack.headOption.foreach(_.tags(key) = value)

  /** Waits for the listener queues, then attributes each planning phase
    * to the innermost span that was open when it started. */
  def drain(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    phases.synchronized {
      phases.foreach { case (t, d) =>
        val open = spans.filter(s => s.start - 2 <= t && t <= s.end + 2)
        if (open.nonEmpty) {
          val c = countsOf(open.maxBy(_.start).id)
          c.synchronized { c.planMs += d }
        }
      }
      phases.clear()
    }
  }

  // ---- derived quantities -------------------------------------------

  private lazy val childrenOf: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  def children(s: Span): Seq[Span] = childrenOf.getOrElse(s.id, Seq.empty)
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
  lazy val roots: Seq[Span] = spans.toSeq.filter(_.parent == -1)
  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Total length of the union of `ivs`, clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Span wall time minus the time its child spans cover (seconds). */
  def selfSecs(s: Span): Double =
    s.secs - covered(children(s).map(c => (c.start, c.end)), s.start, s.end) / 1e3

  /** Seconds of the span during which a stage of its subtree ran. */
  def stageSecs(s: Span): Double =
    covered(subtree(s).flatMap(x => countsOf(x.id).stageIv.toSeq), s.start, s.end) / 1e3

  def sum(s: Span)(f: Counts => Double): Double = subtree(s).map(x => f(countsOf(x.id))).sum

  def planSecs(s: Span): Double = sum(s)(_.planMs) / 1e3

  /** Engine metrics over every traced operation, per traced round. */
  def sparkMetrics(rounds: Int, nproc: Int): Seq[(String, Double, String)] = {
    val rs = roots
    val per = math.max(1, rounds).toDouble
    def tot(f: Counts => Double) = rs.map(r => sum(r)(f)).sum
    val wall = rs.map(_.secs).sum
    val mb = 1024.0 * 1024.0
    Seq(
      ("spark.plan_s", rs.map(planSecs).sum / per, "s"),
      ("spark.driver_self_s", rs.map(r => r.secs - stageSecs(r)).sum / per, "s"),
      ("spark.jobs", tot(_.jobs) / per, "count"),
      ("spark.stages", tot(_.stages) / per, "count"),
      ("spark.tasks", tot(_.tasks) / per, "count"),
      ("spark.task_cpu_s", tot(_.cpuNs) / 1e9 / per, "s"),
      ("spark.gc_s", tot(_.gcMs) / 1e3 / per, "s"),
      ("spark.slot_util", if (wall > 0) tot(_.runMs) / 1e3 / (wall * nproc) else 0.0, "ratio"),
      ("spark.shuffle_write_mb", tot(_.shufW) / mb / per, "MB"),
      ("spark.shuffle_read_mb", tot(_.shufR) / mb / per, "MB"),
      ("spark.spill_mb", tot(_.spill) / mb / per, "MB"))
  }

  /** Share of the span's wall time that its child spans cover: what is
    * left is the span's own glue (for an operation root, time spent
    * outside every layer call). */
  def childCover(s: Span): Double =
    if (s.secs > 0) covered(children(s).map(c => (c.start, c.end)), s.start, s.end) / 1e3 / s.secs else 1.0

  /** Tracing overhead: per operation name, the median time in traced
    * rounds over the median in the untraced rounds around them, minus
    * one; the median of those over all names. Also the blocking-path
    * check: per operation, the share of its wall time covered by the
    * layer spans under it (the root's own self time left out), its
    * minimum over operations. */
  def overhead(samples: Seq[Sample], traced: Int => Boolean, tracedRounds: Int): Seq[(String, Double, String)] = {
    val ratios = samples.groupBy(_.name).values.flatMap { ss =>
      val (on, off) = ss.partition(s => traced(s.round))
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_.secs)) / Stats.median(off.map(_.secs)) - 1.0)
    }.toSeq
    val cover = roots.filter(_.secs > 0).map(childCover)
    Seq(
      ("trace.overhead_frac", if (ratios.isEmpty) 0.0 else Stats.median(ratios), "ratio"),
      ("trace.self_cover_min", if (cover.isEmpty) 0.0 else cover.min, "ratio"),
      ("trace.spans", spans.size.toDouble / math.max(1, tracedRounds), "count"))
  }

  def dumpSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try {
      w.println("[")
      w.println(spans.map { s =>
        val c = countsOf(s.id)
        Json.obj("id" -> s.id.toString, "op" -> s.op.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
          "self_ms" -> Json.num(selfSecs(s) * 1e3),
          "tags" -> Json.obj(s.tags.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
          "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
          "plan_ms" -> Json.num(c.planMs), "task_run_ms" -> c.runMs.toString,
          "shuffle_write_bytes" -> c.shufW.toString, "input_bytes" -> c.inBytes.toString)
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
  }
}
