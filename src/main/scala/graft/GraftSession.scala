package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Bench, Verify, Cli,
  * Scratch, ProbeCorpus and the test fixture all call `create`, so the
  * verified path, the benched path and the tested path run the same
  * engine settings. Session extensions (the `graft_dot` rewrite, MERGE
  * runtime file pruning) register here once, at session creation.
  *
  * `getOrCreate` returns an already-running default session unchanged
  * (Spark ignores `withExtensions` on it), so one JVM builds through
  * this factory once and shares the result. */
object GraftSession {
  private val LocalMaster = """local\[(\d+|\*)\]""".r

  /** Task slots of a local master (`local` = 1, `local[*]` = every
    * core); None for a cluster master. */
  def localCores(master: String): Option[Int] = master match {
    case "local" => Some(1)
    case LocalMaster("*") => Some(Runtime.getRuntime.availableProcessors)
    case LocalMaster(n) => Some(n.toInt)
    case _ => None
  }

  /** A session on `master`. Shuffle width follows the master's core
    * count (a local[32] run must not squeeze through 4 partitions, a
    * local[4] run must not schedule 200 tiny tasks per stage); a
    * cluster master keeps Spark's default. */
  def create(master: String): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // Corpus-regen proofing: a TIMESTAMP(NANOS) events.parquet is
      // unreadable without this flag (it surfaces as LongType nanos,
      // which Tables.events normalizes). The current corpus is
      // timestamp[us], where the flag is a documented no-op — see
      // CorpusContractSpec.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Dataset-level caches (the k-means unit-vector persist) compile
      // their subtree into an InMemoryRelation; without this flag the
      // CACHED plan is planned with AQE's re-partitioning disabled
      // (Spark 4.1 default false), so every shuffle inside it runs at
      // the full shuffle-partition count with no coalescing.
      // Scale-neutral: it simply extends the session's existing AQE
      // policy to cached subtrees (the same value is right on a
      // cluster; outputs re-verified bit-identical).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // MEASURED AND REVERTED (r12): coalescePartitions.parallelismFirst
      // =false (size-first AQE coalescing) won 20-40% on a local[4]
      // sample but LOST ~3.5% net on the full local[32] bench
      // (jaccard_pairs +0.9 s, training_cut +0.6 s): at this scale
      // factor the advisory size coalesces CPU-bound stages below the
      // core count. Default (parallelism-first) kept; see
      // OPTIMIZATION_r12.md.
      // MEASURED AND REJECTED (r12): the RocksDB state-store provider
      // (stream_outer_join 9.4 s vs 7.4 s on the default HDFS-backed
      // provider, full_outer 10.3 vs 7.0 s) — native-store overhead
      // dominates tiny per-partition state. The default provider is
      // kept; see OPTIMIZATION_r12.md.
      // default 100-entry codegen cache thrashes across 44 query plans
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // keep managed tables (ctas) out of the repo and stale-proof
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      // Without libhadoop (absent from many deployments) Hadoop's local-fs
      // permission ops fall back to fork/exec'ing `chmod` per file/dir —
      // stack-sampled as the dominant cost of streaming state-store
      // commits (serialized under the provider-registry lock) and a
      // per-file tax on every local write. Two scheme-appropriate
      // replacements, semantics identical (see the classes' docs):
      .config("spark.hadoop.fs.file.impl", "graft.core.FastLocalFileSystem")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
    val s = localCores(master)
      .fold(b)(n => b.config("spark.sql.shuffle.partitions", n.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
