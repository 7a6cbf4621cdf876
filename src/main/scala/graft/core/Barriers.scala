package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** In-JVM materialization barrier for operators whose intermediate
  * feeds several downstream consumers (class maps, candidate tables,
  * shingle/gram postings, per-round CC labels): run the subtree ONCE,
  * keep its rows in the block store, and hand consumers a leaf-plan
  * DataFrame over them.
  *
  * This replaces the write→read-back parquet barrier of rounds 1-12
  * for intermediates that are NOT on-disk artifacts (publishCut /
  * ivfPublish / streaming sinks keep their real writes). Per barrier
  * it removes: the output-commit protocol, the read-back
  * listing/footer pass, and (for `eager = false`) the entire separate
  * action (guide §1.2 fewer actions; §5 persist is the tool for reused
  * intermediates).
  *
  * Mechanics — each piece is load-bearing, measured at sf0.1:
  *
  * - `Bridge.rddBarrier` executes the frame through the NORMAL query
  *   path (`toRdd`): AQE applies to the barrier's own shuffles exactly
  *   as it did to the old parquet write job. (A `Dataset.persist`
  *   variant compiled the subtree into an InMemoryRelation, where AQE
  *   partition re-planning is off by default and every reference pays
  *   columnar encode/decode — measured consistently slower.)
  * - Rows persist as COPIED UnsafeRows at RDD level, MEMORY_AND_DISK.
  *   RDD persistence is identity-keyed: unlike `Dataset.persist`
  *   (whose CacheManager matches entries by canonicalized PLAN and
  *   would silently hand a later bench sweep — or a sibling query
  *   building the identical subtree — the previous call's data), two
  *   calls can NEVER alias. Every invocation recomputes from the
  *   parquet inputs, which is the bench's no-result-caching rule;
  *   BarriersSpec pins it.
  * - The returned DataFrame is a LEAF over the RDD
  *   (internalCreateDataFrame — the Dataset.checkpoint shape), so
  *   downstream plans stay barrier-deep, never lineage-deep: with full
  *   lineage in every reference, iterative consumers (label
  *   propagation) grew the logical plan exponentially across rounds
  *   and the driver drowned in analysis (measured: dup_classes 76 s
  *   wall with 8 s of jobs).
  * - `eager = true` (default) materializes with one count-shaped job
  *   before returning: consumers that run CONCURRENTLY inside one
  *   downstream action (union branches, both sides of a self-join)
  *   read built blocks instead of racing to compute the producer per
  *   stage (measured: the lazily-cached knnBrute truth re-ran once per
  *   consumer stage — ivf_nprobe_sweep's 4 branches quadrupled the
  *   brute pass). Pass `eager = false` when the caller's own next
  *   statement is an action on the barrier (label propagation's
  *   convergence aggregate, jaccard's postings audit) — that action
  *   materializes it anyway and the extra job would be pure overhead.
  *
  * Lifecycle mirrors TempDirs' overwrite-in-place scheme: one live
  * entry per tag; registering a new RDD under a tag unpersists the
  * previous call's blocks (queries run sequentially per tag — same
  * concurrency caveat as TempDirs.stable). Blocks also age out under
  * Spark's LRU storage eviction, so a forgotten tag degrades to
  * recompute, never to wrong results. At 100 TB the same barrier
  * spills via MEMORY_AND_DISK to executor-local disk — the bytes the
  * parquet barrier wrote anyway, minus commit/listing, plus locality. */
object Barriers {
  private val live =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.rdd.RDD[_]]()

  def cached(tag: String, df: DataFrame, eager: Boolean = true): DataFrame = {
    val (rdd, out) = org.apache.spark.sql.graft.Bridge.rddBarrier(df)
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    Option(live.put(tag, rdd)).foreach(_.unpersist(false))
    if (eager) { out.count(): Unit }
    // MEASURED AND REJECTED (r13): re-spreading an AQE-coalesced
    // 1-partition barrier across defaultParallelism (rdd.repartition
    // before persist) regressed the dedup/semantic family 20-40% at
    // bench SF (training_cut warm-min 4.75 -> 6.30 s, semantic_keep_best
    // 4.74 -> 6.44 s): per-stage task scheduling and 32x32 shuffle-block
    // fan-out outweigh the parallelism on KB-scale barriers. AQE's
    // coalescing is the right call at every scale — it only produces a
    // 1-partition barrier when the data is small enough that one core
    // is fastest. See OPTIMIZATION_r13.md "negative results".
    out
  }

  /** Drop a tag's live entry (tests / explicit cleanup). */
  def drop(tag: String): Unit =
    Option(live.remove(tag)).foreach(_.unpersist(false))

  /** Re-spread a MATERIALIZED BARRIER LEAF before a compute-heavy
    * per-row pass (signature/gram hashing: md5 + base-conversion per
    * shingle — orders of magnitude more CPU per byte than a shuffle).
    * AQE rightly coalesces a small barrier to one partition, which is
    * optimal for its cheap consumers but serializes the expensive pass
    * on one core; this targeted round-robin exchange parallelizes that
    * ONE consumer without touching the others (the blanket
    * spread-everything variant regressed — see OPTIMIZATION_r13.md
    * negative results). No-op when the leaf already carries >= cores
    * partitions, which is exactly the real-scale case; only call on
    * barrier leaves — partition inspection of an unexecuted AQE plan
    * would materialize its stages as a side effect. */
  def spreadLeaf(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }
}
