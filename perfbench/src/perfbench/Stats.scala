package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = math.max(0.5, 1.0 - 10.0 / xs.size)
    (q * 100, quantile(xs, q))
  }
}

/** Minimal JSON rendering (values are pre-rendered strings). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}

object Disk {
  /** Allocated bytes under `path`, directories included (`du -sk`). */
  def usage(path: String): Long =
    if (!new File(path).exists()) 0L
    else {
      val p = new ProcessBuilder("du", "-sk", path).redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
      p.waitFor()
      out.trim.split("\\s+").headOption.flatMap(_.toLongOption).map(_ * 1024L).getOrElse(bytes(path))
    }

  /** Logical bytes of the regular files under `path`. */
  def bytes(path: String): Long = {
    val root = new File(path)
    if (!root.exists()) 0L
    else {
      var total = 0L
      val it = Files.walk(root.toPath).iterator()
      while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) total += Files.size(p) }
      total
    }
  }

  def files(path: String, suffix: String): Long = {
    val root = new File(path)
    if (!root.exists()) 0L
    else {
      var n = 0L
      val it = Files.walk(root.toPath).iterator()
      while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p) && p.toString.endsWith(suffix)) n += 1 }
      n
    }
  }

  def delete(path: String): Unit = graft.core.TempDirs.deleteRecursively(new File(path))

  def mb(b: Long): Double = b / (1024.0 * 1024.0)
}

/** Order-insensitive content digest of a frame: (rows, sum of row hashes
  * mod 2^31-1). Floating-point columns enter as 10 significant digits, so
  * a digest does not depend on the summation order of a float aggregate. */
object Digest {
  def normalized(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name}`")
    f.dataType match {
      case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
      case _ => c
    }
  }

  /** The digest as a one-row frame; the caller runs it. `exact` hashes
    * floating-point values bit for bit (for copies, which must not
    * change a bit). */
  def frame(df: DataFrame, exact: Boolean = false): DataFrame = {
    val cols = if (exact) df.columns.toSeq.map(c => col(s"`$c`")) else normalized(df)
    df.select(pmod(xxhash64(cols: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(0L)).as("h"))
  }

  def of(df: DataFrame, exact: Boolean = false): (Long, Long) = {
    val r = frame(df, exact).collect().head
    (r.getLong(0), r.getLong(1))
  }
}

object Check {
  def equal[A](what: String, expected: A, got: A): Unit =
    if (expected != got) throw new IllegalStateException(s"$what: expected $expected, got $got")

  def holds(what: String, cond: Boolean): Unit =
    if (!cond) throw new IllegalStateException(what)
}

object EndToEnd {
  final case class Result(metrics: Seq[(String, Double, String)], tails: String)

  /** Heap in use, in MB; after the full collections the caller ran, the
    * heap the session still holds. */
  def heapUsedMb(): Double =
    Disk.mb(java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)

  def metrics(rec: Recorder, setupSecs: Double, work: String): Result = {
    val s = rec.samples.toSeq
    val timed = rec.timedSecs
    def of(kind: String) = s.filter(_.kind == kind).map(_.secs)
    val writes = of("write")
    val reads = of("read")
    val (wp, wt) = Stats.tail(writes)
    val (rp, rt) = Stats.tail(reads)
    val retained = Disk.usage(s"$work/spark-local") + Disk.usage(System.getProperty("java.io.tmpdir"))
    val metrics = Seq(
      ("setup_s", setupSecs, "s"),
      ("ok_frac", 1.0 - rec.failed.toDouble / math.max(1L, rec.attempted), "ratio"),
      ("retained_heap_mb", heapUsedMb(), "MB"),
      ("retained_disk_mb", Disk.mb(retained), "MB"),
      ("rows_per_s", rec.rows / timed, "1/s"),
      ("ops_per_s", s.size / timed, "1/s"),
      ("write_s.p50", Stats.median(writes), "s"),
      ("write_s.tail", wt, "s"),
      ("read_s.p50", Stats.median(reads), "s"),
      ("read_s.tail", rt, "s"),
      ("freshness_s.p50", Stats.median(rec.freshness.toSeq), "s"),
      ("storage_amp", Stats.median(rec.storageAmp.toSeq), "ratio"))
    val tails = Json.obj(
      "write_s.tail" -> Json.obj("percentile" -> Json.num(wp), "samples" -> writes.size.toString),
      "read_s.tail" -> Json.obj("percentile" -> Json.num(rp), "samples" -> reads.size.toString),
      "freshness_s" -> Json.obj("samples" -> rec.freshness.size.toString),
      "storage_amp" -> Json.obj("samples" -> rec.storageAmp.size.toString))
    Result(metrics, tails)
  }
}
