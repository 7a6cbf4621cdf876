package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.create(s"local[$cpus]")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // Written BEFORE the query loop: the file depends on nothing computed
    // below, and a driver-timeout SIGTERM mid-run must cost only the
    // unfinished queries, never the whole round's correctness.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-query watchdog: one hung query (e.g. a streaming source that
    // never terminates in an unexpected env) must not zero the whole
    // round's correctness output. Each query runs on its OWN daemon
    // thread (not a shared pool, ADVICE r5): on timeout the thread is
    // INTERRUPTED — unblocking driver-side work cancelJobGroup can't
    // reach (JDBC DriverManager calls, collect loops) — and then
    // abandoned; being a daemon it can't pin JVM exit, and no shared
    // pool exists for zombies to exhaust.
    // Local-iteration filter (unset in driver runs): comma-separated names
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      @volatile var err: Throwable = null
      // Set on timeout BEFORE the thread is abandoned: a zombie that
      // wakes up later (cancelJobGroup only cancels jobs active at
      // cancel time; an uninterruptible driver-side wait can survive
      // the interrupt) must not publish a late result into the dir the
      // driver's oracle compare reads as this query's answer. The
      // write goes to a dot-temp dir and renames into place only while
      // un-abandoned.
      val abandoned = new java.util.concurrent.atomic.AtomicBoolean(false)
      def deleteTree(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(): Unit
      }
      val t = new Thread(() => {
        // Job group per query: a timed-out query's still-running Spark
        // jobs are CANCELLED, or the zombie would hold the local[N]
        // cores against every later query.
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try {
          val tmp = new java.io.File(outDir, s".tmp_$name")
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          if (abandoned.get()) deleteTree(tmp)
          else {
            val dest = new java.io.File(outDir, name)
            deleteTree(dest)
            if (!tmp.renameTo(dest))
              throw new java.io.IOException(s"publish failed for $name")
          }
        } catch { case e: Throwable => err = e }
      }, s"verify-$name")
      t.setDaemon(true)
      t.start()
      t.join(10L * 60 * 1000)
      if (t.isAlive) {
        abandoned.set(true)
        System.err.println(s"[verify] $name timed out")
        spark.sparkContext.cancelJobGroup(name)
        t.interrupt()
        spark.streams.active.foreach(sq => try sq.stop() catch { case _: Throwable => () })
        t.join(5000) // grace for the interrupt; then abandon the daemon
      } else if (err != null) {
        System.err.println(s"[verify] $name failed: ${err.getMessage}")
        spark.sparkContext.cancelJobGroup(name)
        spark.streams.active.foreach(sq => try sq.stop() catch { case _: Throwable => () })
      }
    }
    spark.stop()
    // a leaked non-daemon thread (3rd-party or future op) must not turn
    // a finished verify into a driver-side hang
    System.exit(0)
  }
}
