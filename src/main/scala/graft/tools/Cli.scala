package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core.{CopyPipeline, ParquetDir}
import graft.core.CopyPipeline.CopyOptions

/** Minimal user-facing copy command — the analogue of the reference's
  * Thor CLI (bin/pgcp + lib/pgcp_runner.rb:7-54: `cp -s <src> -d
  * <dest> -t <table-or-glob> [-c config] [-f schema] [-l log]`). Here
  * source/dest are parquet directories (the sandbox backend); a
  * production deployment substitutes JdbcSource by URL scheme.
  *
  *   runMain graft.tools.Cli cp <srcDir> <destDir> <tableOrGlob>
  *       [--if-not-exists] [--columns a,b,c] [--skip-indexes]
  *       [--force-schema ns] [--config file.properties] [--log file]
  *
  * Flag parity with the reference:
  *   --force-schema <ns>  overrides the DESTINATION namespace
  *       (pgcp_runner.rb:14,33-35 -> transport.rb:41); the namespace is
  *       created first (CREATE SCHEMA IF NOT EXISTS, transport.rb:46).
  *   --config <file>      java-properties file of named locations
  *       (the analogue of ~/.pgcp.yml, pgcp_runner.rb:12,17-23,46-53):
  *       src/dest arguments matching a key resolve to its value, so
  *       `cp prod scratch 'line*' --config dbs.properties` works like
  *       the reference's named DB configs. Non-matching args stay
  *       literal paths.
  *   --log <file>         appends one result line per table
  *       (pgcp_runner.rb:15,19 -> Pgcp.log_file=).
  *
  * Glob handling mirrors pgcp_runner.rb:27-37: a '*' in the table
  * argument fans out over matching source tables; otherwise one table
  * copies. Unlike the reference (which swallows every exception into a
  * log line, pgcp_runner.rb:38-41), failures PROPAGATE with a nonzero
  * exit — a CI-callable copy must fail loudly.
  */
object Cli {
  def run(spark: SparkSession, args: Array[String]): Seq[CopyPipeline.CopyResult] = {
    require(args.length >= 4 && args(0) == "cp",
      "usage: cp <srcDir> <destDir> <tableOrGlob> [--if-not-exists] " +
        "[--columns a,b,c] [--skip-indexes] [--force-schema ns] " +
        "[--config file] [--log file]")
    val Array(_, srcArg, destArg, tableArg) = args.take(4)
    val flags = args.drop(4)
    def flagValue(name: String): Option[String] = flags.sliding(2).collectFirst {
      case Array(`name`, v) => v
    }
    val config: Map[String, String] = flagValue("--config") match {
      case None => Map.empty
      case Some(f) =>
        val p = new java.util.Properties()
        val in = new java.io.FileInputStream(f)
        try p.load(in) finally in.close()
        val b = Map.newBuilder[String, String]
        p.stringPropertyNames().forEach(k => b += k -> p.getProperty(k))
        b.result()
    }
    val srcDir = config.getOrElse(srcArg, srcArg)
    val destDir = config.getOrElse(destArg, destArg)
    val forceSchema = flagValue("--force-schema")
    val opts = CopyOptions(
      columns = flagValue("--columns").map(_.split(',').toSeq),
      ifNotExists = flags.contains("--if-not-exists"),
      skipIndexes = flags.contains("--skip-indexes"),
      destNamespace = forceSchema)
    val src = new ParquetDir(srcDir)
    val dest = new ParquetDir(destDir)
    forceSchema.foreach(dest.createNamespace) // CREATE SCHEMA IF NOT EXISTS
    val results =
      if (tableArg.contains("*"))
        CopyPipeline.copyTables(spark, src, dest, tableArg, opts)
      else
        Seq(CopyPipeline.copyTable(spark, src, dest, tableArg, None, opts))
    val log = flagValue("--log").map(f =>
      new java.io.PrintWriter(new java.io.FileWriter(f, true)))
    try results.foreach { r =>
      val verb = if (r.skipped) "skipped (exists)" else "copied"
      val line = s"[cli] $verb ${r.table}: ${r.rows} rows, ${r.columns} cols"
      System.err.println(line)
      log.foreach(_.println(line))
    } finally log.foreach(_.close())
    results
  }

  /** One-pass curation pipeline — the production run the per-query
    * bench can't show (each declared query must be cold-measurable, so
    * `dup_classes` / `dedup_keep_best` / `training_cut` /
    * `training_cut_publish` each re-pay the dedup composition;
    * SURVEY §7.35 r7). Here the DAG runs ONCE: each stage writes its
    * artifact and the next stage READS it — c4/mix/split gates are
    * map-only and ride the manifest plan; the expensive dedup upstream
    * is paid exactly once in stage 1.
    *
    *   runMain graft.tools.Cli pipeline <corpusDir> <outDir>
    *
    * Artifacts: <out>/dup_classes.parquet, <out>/keep_best.parquet,
    * <out>/training_cut (hive-partitioned by split/lang). Per-stage
    * wall times + row counts go to stderr and are returned for specs.
    * At 100 TB these are exactly the checkpoints a curation run wants
    * anyway: each stage restartable, each artifact auditable. */
  def pipeline(spark: SparkSession, args: Array[String]): Seq[(String, Long, Double)] = {
    require(args.length >= 3 && args(0) == "pipeline",
      "usage: pipeline <corpusDir> <outDir>")
    val Array(_, corpus, outDir) = args.take(3)
    new java.io.File(outDir).mkdirs()
    val timings = Seq.newBuilder[(String, Long, Double)]
    def stage(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = body
      val secs = (System.nanoTime() - t0) / 1e9
      timings += ((name, rows, secs))
      System.err.println(f"[pipeline] $name: $rows rows, $secs%.2f s")
    }
    import graft.ops.Text
    stage("dup_classes") {
      Text.dupClasses(spark, corpus)
        .write.mode("overwrite").parquet(s"$outDir/dup_classes.parquet")
      spark.read.parquet(s"$outDir/dup_classes.parquet").count()
    }
    stage("keep_best") {
      val classes = spark.read.parquet(s"$outDir/dup_classes.parquet")
      Text.dedupKeepBestFrom(spark, corpus, classes)
        .write.mode("overwrite").parquet(s"$outDir/keep_best.parquet")
      spark.read.parquet(s"$outDir/keep_best.parquet").count()
    }
    stage("manifest_publish") {
      val kb = spark.read.parquet(s"$outDir/keep_best.parquet")
      val summary = Text.publishCut(spark,
        Text.trainingCutFrom(spark, corpus, kb), s"$outDir/training_cut")
      val rows = summary.collect()
      rows.foreach(r => System.err.println(s"[pipeline]   train ${r.mkString(" ")}"))
      spark.read.parquet(s"$outDir/training_cut").count()
    }
    stage("snapshot_commit") {
      // the transactional face of the publish: every pipeline run lands
      // as a NEW version of the training-cut log (partitioned by
      // split/lang like the plain artifact), so downstream training
      // jobs pin `version=N` instead of racing a republish, and a bad
      // cut rolls back by reading the previous version
      val cut = spark.read.parquet(s"$outDir/training_cut")
      val table = s"$outDir/training_cut_log"
      val v = graft.core.SnapshotLog.commit(spark, cut, table,
        partitionBy = Seq("split", "lang"))
      System.err.println(s"[pipeline]   committed training_cut_log version $v")
      graft.core.SnapshotLog.read(spark, table).count()
    }
    val all = timings.result()
    System.err.println(f"[pipeline] total: ${all.map(_._3).sum}%.2f s over ${all.size} stages")
    all
  }

  /** Table maintenance — the OPTIMIZE/VACUUM face of the snapshot log
    * (the operational command a scheduled maintenance job runs against
    * a table fed by streaming appends):
    *
    *   runMain graft.tools.Cli optimize <table> [--target-files N]
    *       [--cluster-by c1[,c2...]] [--partition-by p1[,p2...]] [--zorder a,b[,c...]] [--min-file-mb M]
    *       [--vacuum-keep K] [--vacuum-orphans]
    *
    * Compacts the head into N files (range-clustered or z-ordered —
    * both re-index the table's stats columns, so skipping only gets
    * TIGHTER), then optionally retires history to the last K versions
    * (`vacuum`, which re-bases on a checkpoint before deleting) and
    * sweeps crashed-writer stage litter. Every step is itself an
    * atomic commit: a concurrent reader never blocks and never sees a
    * half-maintained table. */
  def optimize(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2 && args(0) == "optimize",
      "usage: optimize <table> [--target-files N] [--cluster-by c1[,c2]] [--partition-by p1[,p2]] [--min-file-mb M] " +
        "[--zorder a,b[,c...]] [--where col=value] [--vacuum-keep K] [--vacuum-orphans]")
    val table = args(1)
    val flags = args.drop(2)
    def flagValue(name: String): Option[String] = flags.sliding(2).collectFirst {
      case Array(`name`, v) => v
    }
    val target = flagValue("--target-files").map(_.toInt).getOrElse(8)
    val out = Seq.newBuilder[(String, Long)]
    // the compact is a conditional read-modify-write: a streaming
    // appender landing mid-rewrite fails it LOUDLY (never silently
    // erasing the racer's rows). Nightly maintenance racing a live
    // ingest is normal, so re-derive from the new head and retry a
    // few times before giving up
    def compactOnce(): Long = (flagValue("--zorder"), flagValue("--min-file-mb")) match {
      case _ if flagValue("--where").isDefined => // ONE hive partition
        // value rewrites; everything else carries by reference
        val w = flagValue("--where").get
        val eq = w.indexOf('=')
        require(eq > 0, s"--where expects col=value, got '$w'")
        val raw = w.substring(eq + 1)
        graft.core.SnapshotLog.compactWhere(spark, table,
          w.substring(0, eq).trim,
          if (raw.isEmpty) None else Some(raw), target,
          clusterBy = flagValue("--cluster-by")
            .map(_.split(',').toSeq.map(_.trim)).getOrElse(Seq.empty))
      case (Some(zz), _) => // 2..N dims, round-robin bit-interleaved
        graft.core.SnapshotLog.compactZorder(spark, table, target,
          zz.split(',').toSeq.map(_.trim))
      case (None, Some(mb)) => // incremental bin-pack: O(new small files),
        // idempotent, invisible to live change-feed consumers
        graft.core.SnapshotLog.compactSmall(spark, table,
          minFileBytes = mb.toLong * 1024 * 1024,
          clusterBy = flagValue("--cluster-by")
            .map(_.split(',').toSeq.map(_.trim)).getOrElse(Seq.empty))
      case (None, None) =>
        graft.core.SnapshotLog.compact(spark, table, target,
          clusterBy = flagValue("--cluster-by")
            .map(_.split(',').toSeq.map(_.trim)).getOrElse(Seq.empty),
          partitionBy = flagValue("--partition-by")
            .map(_.split(',').toSeq.map(_.trim)).getOrElse(Seq.empty))
    }
    val v = {
      var attempt = 0
      var res = -1L
      while (res < 0) {
        try res = compactOnce()
        catch {
          case e: RuntimeException
              if e.getMessage != null &&
                e.getMessage.contains("concurrent modification") && attempt < 3 =>
            attempt += 1
            System.err.println(
              s"[cli] optimize $table: head moved under the compact (a live " +
                s"writer landed); retry $attempt from the new head")
        }
      }
      res
    }
    System.err.println(s"[cli] optimize $table: compacted to v$v ($target files)")
    out += (("compacted_version", v))
    flagValue("--vacuum-keep").foreach { k =>
      val deleted = graft.core.SnapshotLog.vacuum(table, keepFrom = v - k.toLong + 1)
      System.err.println(s"[cli] optimize $table: vacuumed ${deleted.size} files, kept last $k versions")
      out += (("vacuumed_files", deleted.size.toLong))
    }
    if (flags.contains("--vacuum-orphans")) {
      val swept = graft.core.SnapshotLog.vacuumOrphans(table)
      System.err.println(s"[cli] optimize $table: swept ${swept.size} orphan stages")
      out += (("orphan_stages", swept.size.toLong))
    }
    out.result()
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
    // fail loudly AND promptly: exit codes for CI, System.exit so a
    // leaked non-daemon thread can't turn a finished copy into a hang
    // (same discipline as Verify/Bench)
    val code =
      try {
        args.headOption match {
          case Some("pipeline") => pipeline(spark, args)
          case Some("optimize") => optimize(spark, args)
          case Some("clone") => // zero-copy metadata clone
            require(args.length == 3, "usage: clone <src-table> <dst-table>")
            val v = graft.core.SnapshotLog.cloneTable(args(1), args(2))
            println(s"[cli] cloned ${args(1)} -> ${args(2)} at v$v " +
              s"(${graft.core.SnapshotLog.resolve(args(2), v).entries.size} referenced files, zero copied)")
          case _ => run(spark, args)
        }
        0
      }
      catch { case e: Throwable => System.err.println(s"[cli] FAILED: ${e.getMessage}"); 1 }
      finally spark.stop()
    System.exit(code)
  }
}
