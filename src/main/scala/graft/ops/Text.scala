package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Text-pipeline operators over `documents` (SURVEY §2b "LLM-pipeline"):
  * exact + near-dup dedup (MinHash-LSH, SimHash, exact n-gram Jaccard),
  * token statistics, language-ID heuristic, quality scoring, content
  * fingerprinting.
  *
  * Performance discipline: `split(text)` is ALWAYS materialized once
  * as a named column (`t`) before any higher-order function touches
  * it — HOF lambdas are interpreted, and an unnamed split inside a
  * lambda re-tokenizes the document per element (measured 10x slower).
  * Shingles are 64-bit-hashed before any join/groupBy so shuffles move
  * longs, not strings (measured 2x on the inverted-index join).
  *
  * Scale notes: every op here is one or two shuffles over exploded
  * token/shingle rows; nothing collects to the driver. MinHash keeps
  * the signature as 64 agg expressions in a single hash-aggregate pass
  * (no 64x row blowup); LSH banding turns the quadratic all-pairs
  * problem into a groupBy on (band, band_hash) — the 100 TB path.
  */
object Text {

  /** documents + tokens materialized once as `t`. */
  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).withColumn("t", split(col("text"), " "))

  /** Same, over an explicit documents frame (the rep-composed sketch
    * pipelines run the heavy stages over class representatives only). */
  private def tokenizedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("t", split(col("text"), " "))

  /** Distinct word-3-shingles as an array of 64-bit hashes, built by
    * hash-chaining three aligned slices with `zip_with` — NO token
    * array reference inside a per-element lambda. (CollapseProject
    * inlines named columns into lambdas, so an `element_at(t, i)`
    * formulation re-splits the document per element — observed via
    * jstack as StringSplit.eval inside ArrayTransform, O(len^2) per
    * row. Slices are top-level args: the split evaluates O(1) times
    * per row no matter what the optimizer inlines.) Hash domain keeps
    * every downstream shuffle on fixed-width longs; Jaccard counts are
    * unchanged (collision odds ~2^-64 per pair). */
  private def shingleHashes: Column = {
    val n = greatest(size(col("t")) - 2, lit(0))
    val s1 = slice(col("t"), lit(1), n)
    val s2 = slice(col("t"), lit(2), n)
    val s3 = slice(col("t"), lit(3), n)
    array_distinct(
      zip_with(zip_with(s1, s2, (x, y) => xxhash64(x, y)), s3,
        (h, z) => xxhash64(h, z)))
  }

  /** doc_id -> exploded hashed shingles. The Generate (explode) is an
    * optimizer barrier: everything upstream evaluates once per doc. */
  private def shingles(docs: DataFrame): DataFrame =
    tokenizedDocs(docs)
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingleHashes).as("sh"))

  /** doc_id -> shingle-set size (per-row, shuffle-free). */
  private def shingleSizes(docs: DataFrame): DataFrame =
    tokenizedDocs(docs)
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), size(shingleHashes).cast("bigint").as("n"))

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group-by full content; representative = min doc_id.
    * At scale: dedup on md5(text) first to shrink shuffle payload. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("fp"), col("n_copies"))
      .orderBy("doc_id")

  /** CROSS-CORPUS incremental dedup — the nightly-crawl composition of
    * exact dedup: keep only new-shard documents whose content hash is
    * ABSENT from the existing corpus. Split here is deterministic
    * (even doc_id = existing corpus, odd = incoming shard) so the
    * oracle replays it. Scale shape: the existing side collapses to
    * DISTINCT 16-byte hashes (map-side combine) before a hash
    * anti-join — the shard's text never shuffles, and the runtime
    * bloom-filter injection (BloomFilterJoinSpec) prunes the probe
    * scan when the hash side is selective. At a 100 TB corpus the
    * existing-hash relation is ~corpus/avg-doc * 50 B — a shuffle
    * anti-join, or a broadcast when a single day's shard dedups
    * against a bounded recent window. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val existing = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("content_hash")).distinct()
    val fresh = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
    fresh.join(existing, Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
      .orderBy("doc_id")
  }

  /** BLOOM-GATED incremental dedup — the pattern LLM ingest pipelines
    * run daily (a bloom filter over historical content hashes gates
    * each new shard; e.g. Dolma's deduper is exactly this): fresh rows
    * whose content hash MISSES the history bloom are DEFINITELY new
    * and bypass the anti-join entirely — a map-side verdict inside
    * whole-stage codegen (Catalyst's `BloomFilterMightContain` via the
    * sql-package bridge, same expression as `bloom_prune_join`); only
    * bloom HITS (true dups + the ~1% false positives) ride the exact
    * hash anti-join. Output is IDENTICAL to `dedupIncremental` (blooms
    * have no false negatives), so the same oracle checks it; what
    * changes is the shuffle: at a low dup rate almost the whole shard
    * short-circuits map-side.
    *
    * Size assumption (same as Bridge.bloomMightContain): the serialized
    * sketch rides the plan, so this is for a BOUNDED history window —
    * a day's shard vs a recent-window bloom (MBs up to ~100M keys).
    * Full-corpus history at 100 TB instead uses the partitioned
    * anti-join (`dedupIncremental`) or Spark's broadcast-backed
    * runtime filter. The bloom key is hex60(text) (long — the probe
    * expression is integral-only); membership gating on a 60-bit
    * content hash adds nothing to the false-positive story beyond the
    * bloom's own epsilon, and the exact md5 anti-join settles hits. */
  def dedupIncrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.DetHash
    val docs = Tables.documents(spark, dir)
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val existingKeys = existing.select(DetHash.hex60(col("text")).as("k")).distinct()
    val nKeys = math.max(existingKeys.count(), 1L) // history-sized job; at scale: stats
    val bf = existingKeys.stat.bloomFilter("k", nKeys, 0.01)
    val bytes = new java.io.ByteArrayOutputStream()
    bf.writeTo(bytes)
    val probe = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), md5(col("text")).as("content_hash"),
        org.apache.spark.sql.graft.Bridge
          .bloomMightContain(bytes.toByteArray, DetHash.hex60(col("text"))).as("hit"))
    val definiteNew = probe.filter(!col("hit")).select("doc_id", "content_hash")
    val confirmedNew = probe.filter(col("hit"))
      .join(existing.select(md5(col("text")).as("content_hash")).distinct(),
        Seq("content_hash"), "left_anti")
      .select("doc_id", "content_hash")
    definiteNew.unionByName(confirmedNew).orderBy("doc_id")
  }

  /** doc_id -> exact-duplicate-class representative (min doc_id among
    * docs sharing md5(text)) — the composition step that makes every
    * sketch pipeline below cost O(class size), not O(class size^2), on
    * a dirty corpus: identical documents have identical MinHash/SimHash
    * signatures, so running LSH over ONE representative per class and
    * expanding pairs back through this map reproduces the exact same
    * output while the bucket stage never sees a duplicate class at all.
    * Shuffle payload is (doc_id, fp) — ~50 B/row, never the text — and
    * the agg's map-side combine collapses each partition to one row per
    * distinct content before the exchange. A document with null text
    * is its own singleton class: null content duplicates nothing. */
  private[ops] def exactClassMap(docs: DataFrame): DataFrame = {
    // One shuffle, not two: rep = min(doc_id) over the content-hash
    // partition. The former groupBy(fp)+self-join shipped the (doc_id,
    // fp) table through the agg exchange AND both join exchanges; the
    // window needs exactly one hash exchange of the same narrow rows
    // (guide §2.4 "remove shuffles outright"). Null-text rows all land
    // in the window's one null partition, so they take rep = doc_id
    // instead of that partition's min (the corpus contract forbids null
    // text — CorpusContractSpec — but a dirty corpus must not turn it
    // into one bogus duplicate class).
    val fps = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    fps.withColumn("rep", when(col("fp").isNull, col("doc_id"))
        .otherwise(min(col("doc_id")).over(Window.partitionBy("fp"))))
      .select(col("doc_id"), col("rep"))
  }

  /** Only the class representatives' documents (left-semi: the docs
    * side streams; the rep-id side is ids only). */
  private def repDocsOf(docs: DataFrame, classMap: DataFrame): DataFrame =
    docs.join(classMap.filter(col("doc_id") === col("rep")).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Expand representative-level pairs (d1 < d2, both reps, plus
    * `payload` columns) to all-document pairs through the class map:
    * the cross-class closure of each rep pair, UNION every within-class
    * pair (identical docs always pair — all bands/chunks agree).
    * `withinVals` supplies the payload for within-class pairs (jaccard
    * = 1.0, hamming = 0: identical text). Output pair count is
    * intrinsic to the declared pair semantics; the point is that it is
    * produced by streaming equi-joins, never by a single task's
    * aggregation buffer. */
  private[ops] def expandRepPairs(repPairs: DataFrame, classMap: DataFrame,
      payload: Seq[String], withinVals: Seq[Column]): DataFrame = {
    val outCols = "d1" +: "d2" +: payload
    val m1 = classMap.select(col("rep").as("d1"), col("doc_id").as("m1"))
    val m2 = classMap.select(col("rep").as("d2"), col("doc_id").as("m2"))
    // members of two DISTINCT classes can interleave by id: re-order.
    val cross = repPairs
      .join(m1, "d1").join(m2, "d2")
      .select(least(col("m1"), col("m2")) +: greatest(col("m1"), col("m2"))
        +: payload.map(col): _*)
      .toDF(outCols: _*)
    // within-class payload is constant per pair (identical text):
    // attach the literals to every class and let the salted expansion
    // carry them
    val perRep = classMap.select(col("rep")).distinct()
      .select(col("rep") +: withinVals.zipWithIndex.map {
        case (c, i) => c.as(s"_wv$i") }: _*)
    val within = saltedWithinPairs(classMap, perRep).toDF(outCols: _*)
    cross.unionByName(within)
  }

  /** All unordered within-class pairs (classes of >= 2 members) joined
    * to a per-rep payload frame — which may hold several rows per rep
    * (e.g. one row per self-similarity span); classes absent from
    * `perRep` emit nothing. SALTED: a plain self-join on rep lands a
    * class of m members on ONE join key, so a single task streams all
    * C(m,2) pairs (AQE cannot split one key). Bucketing members into
    * G = ceil(sqrt(m)) groups splits the key into G*(G+1)/2
    * (rep, ga, gb) subkeys of ~(m/G)^2 = m pairs each: the same
    * (intrinsic) output volume now comes from ~m parallel tasks.
    * Replication cost is ~G/2 rows per member (sum_m m*sqrt(m) total),
    * negligible next to the output. Group assignment hashes doc_id, so
    * the expansion stays deterministic. Each unordered pair surfaces
    * exactly once: cross-group (ga<gb) pairs match on the one subkey
    * with the lower group on the a-side; same-group pairs keep da<db.
    * Output: d1 < d2 (member ids) followed by perRep's payload
    * columns, in order. */
  private def saltedWithinPairs(classMap: DataFrame, perRep: DataFrame): DataFrame = {
    val sizes = classMap.groupBy("rep").agg(count(lit(1)).as("m"))
      .filter(col("m") >= 2)
    val grouped = classMap.join(sizes, "rep")
      .withColumn("ng", ceil(sqrt(col("m"))).cast("int"))
      .withColumn("g", pmod(xxhash64(col("doc_id")), col("ng")).cast("int"))
    val aSide = grouped.select(col("rep"), col("doc_id").as("da"),
      col("g").as("ga"), explode(sequence(col("g"), col("ng") - 1)).as("gb"))
    val bSide = grouped.select(col("rep"), col("doc_id").as("db"),
      explode(sequence(lit(0), col("g"))).as("ga"), col("g").as("gb"))
    val payloadCols = perRep.columns.filter(_ != "rep").map(col).toSeq
    aSide.join(bSide, Seq("rep", "ga", "gb"))
      .filter(col("ga") < col("gb") || col("da") < col("db"))
      .select(col("rep"), least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"))
      .join(perRep, "rep")
      .select(col("d1") +: col("d2") +: payloadCols: _*)
  }

  /** Winnowed (doc_id, fingerprint) set shared by winnowFingerprint /
    * winnowPairs: rolling k-gram hashes (k=4 word-grams via window
    * leads — NO token-array reference inside a HOF lambda, the
    * CollapseProject trap) winnowed to the min hash of each w=4 gram
    * window — the MOSS/winnowing scheme (Schleimer et al. 2003): any
    * shared run of >= k+w-1 tokens is guaranteed to share a selected
    * fingerprint, while only ~2/(w+1) of gram hashes are retained.
    * One posexplode + per-doc window pass: the sort is per-doc-sized,
    * the shuffle key is doc_id — scales like sessionization. */
  /** Per-position k=4-gram hashes: (doc_id, pos [0-based], h). The
    * position-level building block winnowing selects from and span
    * reconstruction joins on. */
  private def kgramsOf(docs: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    tokenizedDocs(docs)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
      .withColumn("l1", lead(col("tok"), 1).over(byDoc))
      .withColumn("l2", lead(col("tok"), 2).over(byDoc))
      .withColumn("l3", lead(col("tok"), 3).over(byDoc))
      .filter(col("l3").isNotNull) // full k-grams only
      .withColumn("h", graft.functions.DetHash.hex60(
        concat_ws(" ", col("tok"), col("l1"), col("l2"), col("l3"))))
      .select("doc_id", "pos", "h")
  }

  private def winnowedGramsOf(docs: DataFrame): DataFrame =
    winnowedFromGrams(kgramsOf(docs))

  /** The winnowing window pass over a (doc_id, pos, h) gram frame —
    * split out so callers holding a gram BARRIER can select
    * fingerprints without replaying tokenize + posexplode. */
  private def winnowedFromGrams(g: DataFrame): DataFrame = {
    val w = 4
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    g.withColumn("n_kgrams", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rn", row_number().over(byDoc))
      .withColumn("wmin", min(col("h")).over(byDoc.rowsBetween(0, w - 1)))
      .filter(col("rn") <= col("n_kgrams") - (w - 1)) // full windows only
  }

  private def winnowedGrams(spark: SparkSession, dir: String): DataFrame =
    winnowedGramsOf(Tables.documents(spark, dir))

  /** Rolling-hash document fingerprint summary (winnowing): per doc,
    * the k-gram count and the distinct selected-fingerprint set's
    * size/bounds. The hash is DetHash (SQL-replayable), so the whole
    * scheme — including window-min selection — is oracle-exact. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    winnowedGrams(spark, dir)
      .groupBy("doc_id")
      .agg(max(col("n_kgrams")).cast("bigint").as("n_kgrams"),
        countDistinct(col("wmin")).as("n_fps"),
        min(col("wmin")).as("min_fp"),
        max(col("wmin")).as("max_fp"))
      .orderBy("doc_id")

  /** Copy detection over winnowed fingerprints: doc pairs sharing >= 2
    * selected fingerprints, via the inverted-index equi-join (pairs
    * meet only on shared fingerprints, never |docs|^2). Fingerprints
    * held by > 100 docs are dropped first — boilerplate k-grams would
    * otherwise quadratically explode the join the way hot shingles do
    * in jaccardPairs; the cap is the winnowing analogue of minhash's
    * bucket cap (a fingerprint that common identifies nothing). */
  def winnowPairs(spark: SparkSession, dir: String,
      minShared: Int = 2, maxDf: Int = 100): DataFrame = {
    // Exact-dedup composed (the r5 minhash / r7 fuzzy fix, round 8):
    // identical documents have identical selected-fingerprint sets, so
    // the inverted-index join runs over ONE representative per class
    // and pairs expand back through the class map. On a dirty corpus
    // the candidate join's input tracks distinct contents (a class of
    // m copies inflated every shared fp's postings list m-fold —
    // sum(df^2) join work grew ~m^2); output is bit-identical because
    // the df CAP still counts every copy (each class contributes its
    // SIZE — fp sets of copies are identical), so boilerplate-drop
    // decisions don't move when the corpus gets dirtier.
    val docs = Tables.documents(spark, dir)
    val classMap = graft.core.Barriers.cached(s"winnow_pairs:$dir/classes",
      exactClassMap(docs))
    // the fp set feeds the df agg, the cap join, both self-join sides
    // and the within payload — barrier it or each reference replays
    // tokenize + posexplode + the winnow windows over the reps
    val fp = graft.core.Barriers.cached(s"winnow_pairs:$dir/fps",
      winnowedGramsOf(repDocsOf(docs, classMap))
        .select("doc_id", "wmin").distinct())
    val csize = classMap.groupBy("rep").agg(count(lit(1)).as("m"))
    val nd = fp.join(csize.withColumnRenamed("rep", "doc_id"), "doc_id")
      .groupBy("wmin").agg(sum(col("m")).as("nd"))
    // `keep` feeds both candidate sides AND the within gate — barrier
    // it or the df aggregate + cap join replay three times in one plan.
    val keep = graft.core.Barriers.cached(s"winnow_pairs:$dir/keep",
      fp.join(nd.filter(col("nd") <= maxDf), "wmin")
        .select("doc_id", "wmin"))
    val repPairs = keep.select(col("doc_id").as("d1"), col("wmin"))
      .join(keep.select(col("doc_id").as("d2"), col("wmin")), "wmin")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    // copies share exactly their class's surviving fingerprints
    val withinShared = keep.groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .withColumnRenamed("doc_id", "rep")
    val m1 = classMap.select(col("rep").as("d1"), col("doc_id").as("m1"))
    val m2 = classMap.select(col("rep").as("d2"), col("doc_id").as("m2"))
    val cross = repPairs.join(m1, "d1").join(m2, "d2")
      .select(least(col("m1"), col("m2")).as("d1"),
        greatest(col("m1"), col("m2")).as("d2"), col("n_shared"))
    cross.unionByName(saltedWithinPairs(classMap, withinShared))
      .orderBy("d1", "d2")
  }

  /** Substring-level duplicated SPANS (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" production step):
    * for candidate pairs, the maximal shared token runs of >= k+w-1
    * tokens — (doc_a, doc_b, a_start..a_end, b_start..b_end, 1-based
    * inclusive) — i.e. the exact boilerplate to CUT from surviving
    * documents, not just a doc-level pair verdict.
    *
    * Shape, in three bucketed stages (never |docs|^2, never all grams
    * self-joined): (1) candidate pairs from the winnowed-fingerprint
    * inverted index (a shared run >= k+w-1 tokens GUARANTEES a shared
    * selected fingerprint — Schleimer et al.'s window guarantee — so
    * one shared fp suffices and no true span pair is missed; fps held
    * by > maxDf docs are dropped as boilerplate, same cap as
    * winnowPairs); (2) per-pair matched k-gram positions via two
    * equi-joins — pair x d1-grams on d1, then on (d2, h) — so the work
    * is Σ_pairs(|grams|), the same budget any pair-verify stage pays,
    * with no hot-gram quadratic join; (3) span reconstruction as
    * gaps-and-islands along match diagonals (p1 - p2 constant,
    * consecutive p1): a run of n >= w consecutive matched grams is a
    * shared run of n + k - 1 tokens. Every stage is a window or
    * equi-join on (pair, diagonal) keys — DuckDB replays the whole
    * chain, so spans are oracle-exact. */
  def winnowSpans(spark: SparkSession, dir: String, maxDf: Int = 100): DataFrame =
    winnowSpansOf(Tables.documents(spark, dir), s"winnow_spans:$dir", maxDf)

  private[ops] def winnowSpansOf(docs: DataFrame, tag: String,
      maxDf: Int = 100): DataFrame = {
    val k = 4
    val w = 4
    // Exact-dedup composed (round 8, same pattern as winnowPairs): the
    // candidate stage, the per-pair gram joins, and the span windows
    // all run over ONE representative per identical-text class —
    // uncomposed, a class of m copies paid C(m,2) full gram joins for
    // spans every member pair shares verbatim (measured 67 s at the 8x
    // probe). Copies expand back through the class map afterward:
    // cross-class pairs inherit the rep pair's spans (offsets swap
    // sides when member-id order flips the pair's orientation);
    // within-class pairs — identical contents — inherit the content's
    // gram SELF-join spans (symmetric, so no swap), computed once per
    // class. The df cap still counts every copy (classes contribute
    // their SIZE), so output is bit-identical to the uncomposed form.
    val spark = docs.sparkSession
    val classMap = graft.core.Barriers.cached(s"$tag/classes", exactClassMap(docs))
    val reps = graft.core.Barriers.cached(s"$tag/reps", repDocsOf(docs, classMap))
    // rep grams feed both sides of the pair join AND the self-join —
    // barrier them or each reference replays tokenize + window
    val g = graft.core.Barriers.cached(s"$tag/grams",
      kgramsOf(graft.core.Barriers.spreadLeaf(reps)))
    // fps derive from the gram BARRIER (winnowing is a window pass over
    // (doc_id, pos, h)) and are barriered themselves: they feed the df
    // agg, the cap join, both candidate sides and the eligibility gate
    val fp = graft.core.Barriers.cached(s"$tag/fps",
      winnowedFromGrams(g).select("doc_id", "wmin").distinct())
    val csize = classMap.groupBy("rep").agg(count(lit(1)).as("m"))
    val nd = fp.join(csize.withColumnRenamed("rep", "doc_id"), "doc_id")
      .groupBy("wmin").agg(sum(col("m")).as("nd"))
    // barrier `keep`: it feeds both candidate sides and the
    // eligibility gate (three replays of the df agg + cap join
    // otherwise).
    val keep = graft.core.Barriers.cached(s"$tag/keep",
      fp.join(nd.filter(col("nd") <= maxDf), "wmin")
        .select("doc_id", "wmin"))
    val cand = keep.select(col("doc_id").as("d1"), col("wmin"))
      .join(keep.select(col("doc_id").as("d2"), col("wmin")), "wmin")
      .filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    // maximal runs of consecutive matched grams along each diagonal
    // (gaps-and-islands); a run of ng >= w grams is a shared run of
    // ng + k - 1 >= k + w - 1 tokens
    def spansOf(m: DataFrame): DataFrame = {
      val byDiag = Window.partitionBy(col("d1"), col("d2"), col("p1") - col("p2"))
        .orderBy("p1")
      m.withColumn("grp", col("p1") - row_number().over(byDiag))
        .groupBy(col("d1"), col("d2"), (col("p1") - col("p2")).as("diag"), col("grp"))
        .agg(count(lit(1)).as("ng"),
          min("p1").as("sp1"), max("p1").as("ep1"),
          min("p2").as("sp2"), max("p2").as("ep2"))
        .filter(col("ng") >= w)
    }
    val crossM = cand
      .join(g.select(col("doc_id").as("d1"), col("pos").as("p1"), col("h")), Seq("d1"))
      .join(g.select(col("doc_id").as("d2"), col("pos").as("p2"), col("h")),
        Seq("d2", "h"))
    val m1 = classMap.select(col("rep").as("d1"), col("doc_id").as("m1"))
    val m2 = classMap.select(col("rep").as("d2"), col("doc_id").as("m2"))
    val aFirst = col("m1") < col("m2")
    val cross = spansOf(crossM).join(m1, "d1").join(m2, "d2")
      .select(least(col("m1"), col("m2")).as("doc_a"),
        greatest(col("m1"), col("m2")).as("doc_b"),
        when(aFirst, col("sp1")).otherwise(col("sp2")).as("sp_a"),
        when(aFirst, col("ep1")).otherwise(col("ep2")).as("ep_a"),
        when(aFirst, col("sp2")).otherwise(col("sp1")).as("sp_b"),
        when(aFirst, col("ep2")).otherwise(col("ep1")).as("ep_b"),
        col("ng"))
    // within-class self-spans: only classes holding >= 1 surviving fp
    // pair at all (the same candidacy gate the uncomposed join applied
    // to copy pairs)
    val eligible = keep.select("doc_id").distinct()
    val sg = g.join(eligible, Seq("doc_id"), "left_semi")
    val selfJoin = sg.select(col("doc_id"), col("pos").as("p1"), col("h"))
      .join(sg.select(col("doc_id"), col("pos").as("p2"), col("h")),
        Seq("doc_id", "h"))
      .select(col("doc_id").as("d1"), col("doc_id").as("d2"),
        col("p1"), col("p2"))
    val perRepSpans = spansOf(selfJoin).select(col("d1").as("rep"),
      col("sp1"), col("ep1"), col("sp2"), col("ep2"), col("ng"))
    val within = saltedWithinPairs(classMap, perRepSpans)
      .toDF("doc_a", "doc_b", "sp_a", "ep_a", "sp_b", "ep_b", "ng")
    cross.unionByName(within)
      .select(col("doc_a"), col("doc_b"),
        (col("sp_a") + 1).cast("bigint").as("a_start"),
        (col("ep_a") + k).cast("bigint").as("a_end"),
        (col("sp_b") + 1).cast("bigint").as("b_start"),
        (col("ep_b") + k).cast("bigint").as("b_end"),
        (col("ng") + k - 1).cast("bigint").as("n_tokens"))
      .orderBy("doc_a", "doc_b", "a_start", "b_start")
  }

  /** Publish the training-cut manifest as the artifact a curation run
    * actually ships: hive-partitioned by (split, lang), so downstream
    * training jobs read ONLY their slice via directory pruning. The
    * declared query then reads the PUBLISHED copy back filtered to the
    * train split (PartitionFilters — plan-audited) and reports the
    * per-lang cut summary: it verifies the on-disk artifact, not the
    * in-memory frame. At 100 TB the same write is the final stage of
    * the curation pipeline; split/lang gives ~15 directories whose
    * sizes follow the corpus mix — no small-file explosion, and the
    * train slice is one subtree. */
  def trainingCutPublish(spark: SparkSession, dir: String): DataFrame =
    publishCut(spark, trainingCut(spark, dir),
      graft.core.TempDirs.stable(s"cutpub:$dir"))

  /** Ship a manifest frame as the hive-partitioned artifact and verify
    * the ON-DISK copy: the read-back summary comes from the published
    * files (train slice directory-pruned), never the in-memory frame.
    * `tools/Cli pipeline` calls this with its user-facing output dir. */
  def publishCut(spark: SparkSession, manifest: DataFrame, out: String): DataFrame = {
    // Cluster by the partition key before the partitioned write
    // (Iceberg's write.distribution-mode=hash; guide §6): without it
    // every upstream task opens a file in every (split, lang) dir —
    // hundreds of KB-sized files here, the many-small-files problem at
    // any scale. REBALANCE (not a plain repartition, VERDICT r12 #7):
    // a hash repartition on ~15 (split, lang) combos caps write
    // parallelism at 15 tasks and produces ONE arbitrarily large file
    // per combo at real scale; AQE's rebalance both coalesces tiny
    // partitions AND splits any combo larger than the advisory size
    // into several tasks/files (Iceberg's hash distribution +
    // target-file-size pairing) — scale-adaptive with no extra action,
    // no constant tuned to either local mode or the cluster. The
    // shuffled payload is still the manifest (ids + flags, no text).
    manifest
      .hint("rebalance", col("split"), col("lang"))
      .write.mode("overwrite").partitionBy("split", "lang").parquet(out)
    spark.read.parquet(out)
      .filter(col("split") === "train") // directory-pruned read-back
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("in_cut"), 1)).as("n_in_cut"))
      .orderBy("lang")
  }

  /** Content fingerprint report: md5 + length stats per doc. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"),
              substring(md5(col("text")), 1, 16).as("fp16"),
              octet_length(col("text")).cast("bigint").as("n_bytes"),
              size(col("t")).cast("bigint").as("n_tokens"))
      .orderBy("doc_id")

  // -------------------------------------------------------------- minhash

  val MinhashPerms = 64
  val MinhashBands = 16 // r = 64/16 = 4 rows per band

  /** Buckets wider than this are dropped from the rep-level candidate
    * stage with a logged count: a bucket of m reps emits C(m,2) pairs,
    * and a 100 TB crawl can produce near-dup (not identical) mega
    * classes the exact-dedup composition can't collapse. 1024 reps cap
    * one bucket's output at ~524k pairs / one agg buffer at 8 KB. */
  val DefaultMaxBucket = 1024

  /** doc_id -> exploded distinct shingle base hash, where the hash is
    * the ENGINE-PORTABLE hex60(md5(shingle)) % (2^31-1) — the DuckDB
    * oracle replays the identical sketch (see DetHash). Shingle strings
    * are assembled from aligned slices with zip_with (same
    * CollapseProject discipline as shingleHashes above). */
  private def shingleH(docs: DataFrame): DataFrame = {
    import graft.functions.DetHash
    val n = greatest(size(col("t")) - 2, lit(0))
    val s1 = slice(col("t"), lit(1), n)
    val s2 = slice(col("t"), lit(2), n)
    val s3 = slice(col("t"), lit(3), n)
    val shingleStrs = array_distinct(
      zip_with(zip_with(s1, s2, (x, y) => concat_ws(" ", x, y)), s3,
        (p, z) => concat_ws(" ", p, z)))
    tokenizedDocs(docs)
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingleStrs).as("s"))
      .select(col("doc_id"), (DetHash.hex60(col("s")) % DetHash.Mersenne31).as("h"))
  }

  /** MinHash signatures: min over shingles of the affine permutation
    * (a_j*h + b_j) mod 2^31-1 for 64 md5-derived (a_j, b_j) — 64 agg
    * expressions in ONE hash-aggregate over the exploded shingles.
    * Map-side partial agg collapses each partition to one 65-long row
    * per doc before the shuffle, so the exchange moves ~docs x 520
    * bytes regardless of corpus size. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSignaturesOf(Tables.documents(spark, dir))

  private def minhashSignaturesOf(docs: DataFrame): DataFrame = {
    import graft.functions.DetHash
    val aggs = (0 until MinhashPerms).map(j =>
      min((col("h") * DetHash.permA(j) + DetHash.permB(j)) % DetHash.Mersenne31).as(s"h$j"))
    shingleH(docs).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Rep-level LSH candidate pairs: band the signature (16 bands x 4
    * rows), key each band by its joined values; docs sharing any band
    * bucket become candidates. The bucket table is materialized through
    * a parquet barrier so bucket-size filtering, the oversize audit and
    * pair generation are three cheap reads, not three signature passes.
    * Bucket sizes are computed by a STREAMING count aggregate first and
    * only (1, maxBucket] buckets reach collect_set — no aggregation
    * buffer ever exceeds maxBucket ids, no task emits more than
    * C(maxBucket, 2) pairs. Oversized buckets are dropped with a logged
    * count (visible, not silent). Exposed private[ops] so specs can
    * assert the rep-level candidate volume stays linear in duplicate-
    * class size. */
  /** (doc_id, band, bh) band table of a 64-column signature frame —
    * THE banding definition; the candidate stage and the bucket-stats
    * audit must bucket identically or the audit lies. */
  private def bandedSignature(sig: DataFrame): DataFrame = {
    val r = MinhashPerms / MinhashBands
    val bandStructs = (0 until MinhashBands).map { b =>
      val cols = (0 until r).map(i => col(s"h${b * r + i}"))
      struct(lit(b).as("band"), concat_ws(",", cols: _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private[ops] def minhashRepCandidates(spark: SparkSession, repDocs: DataFrame,
      tag: String, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val buckets = graft.core.Barriers.cached(s"mh_buckets:$tag",
      bandedSignature(minhashSignaturesOf(repDocs)))
    val sizes = buckets.groupBy("band", "bh").agg(count(lit(1)).as("cnt"))
    // The oversize audit rides the candidate job as an observed metric
    // instead of its own count() action (one fewer job per dedup call;
    // guide §1.2). The log fires asynchronously when the candidate
    // frame is first materialized — same visibility, zero extra pass.
    // The data-facing audit remains `minhash_bucket_stats`.
    val obs = org.apache.spark.sql.Observation()
    val sizesObs = sizes.observe(obs,
      sum(when(col("cnt") > maxBucket, 1L).otherwise(0L)).as("dropped"))
    obs.future.foreach { row =>
      val dropped = if (row.isNullAt(0)) 0L else row.getLong(0)
      if (dropped > 0)
        System.err.println(s"[graft] minhashCandidates($tag): dropped $dropped " +
          s"LSH buckets wider than $maxBucket reps (recall loss is bounded " +
          s"to pairs meeting ONLY in mega-buckets)")
    }(scala.concurrent.ExecutionContext.global)
    val ok = sizesObs.filter(col("cnt") > 1 && col("cnt") <= maxBucket).select("band", "bh")
    val ids = buckets.join(ok, Seq("band", "bh"), "left_semi")
      .groupBy("band", "bh")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
    // pairs within a bucket: flatten of per-element suffix cross
    ids.select(explode(
        flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + 2, size(col("ids"))), y =>
            struct(x.as("d1"), y.as("d2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
  }

  /** LSH bucket-health audit — the dedup operator's operational report,
    * and the answer to "expose the dropped-bucket count as data, not a
    * log line" (ADVICE r4). Per band over the FULL-corpus signature
    * (duplicate classes included, so the mega-bucket hazard the
    * rep-composition removes is VISIBLE here): collision buckets, the
    * widest bucket, the candidate-pair cost those buckets imply
    * (sum C(w,2) — the quantity that explodes on a dirty corpus), and
    * how many buckets a `maxBucket` cap would drop. On the oracle
    * corpora n_dropped is provably 0 (DedupScaleSpec); a 100 TB crawl
    * reads this report before trusting its dedup run. */
  def minhashBucketStats(spark: SparkSession, dir: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
    bandedSignature(minhashSignaturesOf(docs))
      .select(col("band").cast("bigint").as("band"), col("bh"))
      .groupBy("band", "bh").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        max(col("w")).as("max_width"),
        (sum(col("w") * (col("w") - 1)) / 2).cast("bigint").as("n_pairs"),
        sum(when(col("w") > maxBucket, 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("band")
  }

  /** LSH candidate pairs over the whole corpus — exact-dedup composed:
    * signatures/banding run over class REPRESENTATIVES only, then pairs
    * expand back through the class map. Output is identical to running
    * LSH over every doc (identical docs share every band), but a
    * duplicate class of m docs costs the bucket stage O(1) instead of
    * 16 buckets of width m — the round-3 verdict's one scale-killer. */
  def minhashCandidates(spark: SparkSession, dir: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Own tag (minhash_cand), NOT minhashNearDups' minhash:$dir: tags
    // are overwrite-in-place scratch, and a lazy frame returned here
    // holds a file-index snapshot that a later same-tag run would
    // invalidate mid-collect (ADVICE r4).
    val tag = s"minhash_cand:$dir"
    val docs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3) // only shingle-able docs sketch
    // classMap feeds expandRepPairs five ways (m1, m2, both salted
    // within sides, sizes) plus repDocsOf — materialize once, or the
    // full-corpus md5 scan + groupBy + join recomputes per reference.
    val classMap = graft.core.Barriers.cached(s"$tag/classes", exactClassMap(docs))
    val repCand = minhashRepCandidates(spark, repDocsOf(docs, classMap),
      tag, maxBucket)
    expandRepPairs(repCand, classMap, Seq.empty, Seq.empty)
      .orderBy("d1", "d2")
  }

  /** Rep-level verified near-dups + the class map, both materialized
    * through in-JVM barriers under `tag` (candidates are consumed three
    * times by the verify stage; the class map twice by expansion —
    * lazy lineage would recompute the full LSH pass each time; an eager
    * localCheckpoint measured wildly unstable under AQE, 2s-60s; the
    * r12 parquet barriers cost an action + commit + read-back listing
    * EACH, which was the dedup family's fixed per-query floor).
    * Verification runs over REPRESENTATIVE shingles only, so its cost
    * tracks distinct-content near-dup volume, never duplicate volume. */
  private def minhashRepVerified(spark: SparkSession, dir: String,
      threshold: Double, maxBucket: Int, tag: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
    val classMap = graft.core.Barriers.cached(s"$tag/classes", exactClassMap(docs))
    // reps feed three scans (signatures, verify shingles, shingle
    // sizes) — each would otherwise re-run the docs scan + semi-join.
    val reps = graft.core.Barriers.cached(s"$tag/reps", repDocsOf(docs, classMap))
    val cand = graft.core.Barriers.cached(s"$tag/cand",
      minhashRepCandidates(spark, graft.core.Barriers.spreadLeaf(reps), tag, maxBucket))
    // ONE tokenize+shingle pass over the candidate docs, not two full
    // rep passes plus a third tokenize for sizes: explode shingles
    // once, keep only docs on either side of a candidate pair (the
    // semi-joins below did that anyway), barrier the bounded result,
    // and read the per-doc set size off its row counts (shingles()
    // explodes array_distinct, so count == shingleSizes exactly).
    val candIds = cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
    val sh = graft.core.Barriers.cached(s"$tag/candsh",
      shingles(graft.core.Barriers.spreadLeaf(reps)).join(candIds, Seq("doc_id"), "left_semi"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).cast("bigint").as("n"))
      .select(col("doc_id"), col("n"))
    val cd1 = cand.select("d1").distinct()
    val cd2 = cand.select("d2").distinct()
    val s1 = sh.join(cd1, sh("doc_id") === cd1("d1"), "left_semi").toDF("d1", "sh")
    val s2 = sh.join(cd2, sh("doc_id") === cd2("d2"), "left_semi").toDF("d2", "sh")
    val inter = s1.join(s2, Seq("sh"))
      .filter(col("d1") < col("d2"))
      .join(cand, Seq("d1", "d2"), "left_semi")
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    val verified = graft.core.Barriers.cached(s"$tag/verified", inter
      .join(sizes.toDF("d1", "na"), "d1")
      .join(sizes.toDF("d2", "nb"), "d2")
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard")))
    (classMap, verified)
  }

  /** MinHash near-dup pairs with exact-Jaccard verification of the LSH
    * candidates — the full production dedup path, exact-dedup composed:
    * LSH + verify over representatives, expansion through the class map
    * (within-class pairs are identical text — jaccard exactly 1.0, no
    * verification needed). */
  def minhashNearDups(spark: SparkSession, dir: String, threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (classMap, repVerified) =
      minhashRepVerified(spark, dir, threshold, maxBucket, s"minhash:$dir")
    expandRepPairs(repVerified, classMap, Seq("jaccard"), Seq(lit(1.0)))
      .filter(col("jaccard") >= threshold) // within pairs obey the threshold too
      .orderBy("d1", "d2")
  }

  /** Duplicate-CLASS assignment: connected components over the verified
    * near-dup pairs via iterative min-label propagation — the step that
    * turns pairwise dedup output into actionable "keep one per class"
    * groups. Each iteration is one distributed join + aggregate (labels
    * propagate one hop); the driver loop only reads a convergence
    * COUNT per round (the label table itself never leaves the
    * executors), iterations are bounded by the component diameter —
    * near-dup classes are clique-like, so 2-3 rounds in practice. */
  def dupClasses(spark: SparkSession, dir: String, maxIter: Int = 20): DataFrame = {
    // Materialize the (expensive) near-dup pairs ONCE, and each label
    // round too: iterative algorithms on lazy lineage otherwise
    // re-execute the whole upstream pipeline per iteration and grow the
    // plan without bound (measured 34s -> ~3s at sf0.1). Parquet as the
    // iteration barrier is the deterministic choice (localCheckpoint
    // measured unstable under AQE in round 1). TempDirs.stable: the
    // result stays readable after return, repeated runs overwrite the
    // same files instead of filling the disk, JVM exit cleans up.
    //
    // Exact-dedup composed: label propagation runs over REP-level
    // verified pairs — a duplicate class is ONE node in the graph, so
    // iteration cost tracks distinct contents. Since a class's rep is
    // its min doc_id, min-label over the rep graph equals min-label
    // over the full doc graph; members inherit their rep's label via
    // one final equi-join.
    val (classMap, repVerified) =
      minhashRepVerified(spark, dir, 0.5, DefaultMaxBucket, s"cc:$dir")
    val pairs = repVerified.select(col("d1"), col("d2"))
    val repLabels = minLabelPropagation(spark, pairs, s"cc:$dir", maxIter)
    labelsToClasses(classMap, repLabels)
      .orderBy("doc_id")
  }

  /** Min-label propagation (connected components) over an undirected
    * (d1, d2) pair graph — each round one equi-join + one min-agg,
    * parquet-barriered per iteration (see the dupClasses comment).
    * Returns (id, label = component min id). Shared by the text CC
    * and the semantic (embedding) CC. */
  private[ops] def minLabelPropagation(spark: SparkSession, pairs: DataFrame,
      tag: String, maxIter: Int): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
    // ONE action per round (guide §1.2), now through the in-JVM barrier
    // instead of alternating parquet dirs: each round's labels persist
    // in the block store (no output commit, no read-back listing), and
    // the materializing action IS the convergence aggregate — the count
    // is read off the round's own rows, so there is no observed-metric
    // side channel to lose through plan caching (ADVICE r12: a missing
    // metric can no longer silently read as converged; a SQL-null here
    // means exactly "zero rows", i.e. an edgeless graph). The cached
    // frame carries (id, prev, label) so the SAME aggregate serves
    // round 1 (prev = id, fused with initialization: over identity
    // labels the neighbor-min join degenerates to min(id, min(dst)))
    // and every later round (prev = last round's label). Alternating
    // parity tags mirror the old alternating dirs: registering round
    // i+1 drops round i-1's blocks while round i (the input) stays
    // live. Labels are bit-identical to the r12 shape.
    def changedCount(labels: DataFrame): Long =
      Option(labels
        .agg(sum(when(col("label") < col("prev"), 1L).otherwise(0L)))
        .head().get(0)).collect { case n: Long => n }.getOrElse(0L)
    var labels = graft.core.Barriers.cached(s"lp:$tag:1",
      edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("nmin"))
        .select(col("id"), col("id").as("prev"),
          least(col("id"), col("nmin")).as("label")), eager = false)
    var changed = changedCount(labels)
    var iter = 1
    while (changed > 0 && iter < maxIter) {
      val prev = labels.select(col("id"), col("label"))
      val neighborMin = edges
        .join(prev.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nmin"))
      labels = graft.core.Barriers.cached(s"lp:$tag:${(iter + 1) % 2}",
        prev.join(neighborMin, Seq("id"), "left")
          .select(col("id"), col("label").as("prev"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label")),
        eager = false)
      changed = changedCount(labels)
      iter += 1
    }
    labels.select(col("id"), col("label"))
  }

  /** Expand rep-level component labels to members: a duplicate class
    * of >= 2 members is a component even without cross-class edges
    * (its within pairs are duplicates by identity), so edgeless
    * multi-member reps label themselves; members inherit their rep's
    * label via one equi-join. Returns (doc_id, class_id). */
  private[ops] def labelsToClasses(classMap: DataFrame,
                                   repLabels: DataFrame): DataFrame = {
    val multiOnly = classMap.groupBy("rep").agg(count(lit(1)).as("m"))
      .filter(col("m") >= 2).select(col("rep").as("id"))
      .join(repLabels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val allReps = repLabels.unionByName(multiOnly)
      .select(col("id").as("rep"), col("label"))
    classMap.join(allReps, "rep")
      .select(col("doc_id"), col("label").as("class_id"))
  }

  // ------------------------------------------------------ exact jaccard

  /** Exact all-pairs n-gram Jaccard above a threshold — the oracle-able
    * ground truth for near-dup dedup. Hashed-shingle inverted-index
    * join (pairs meet only on shared shingles), so cost is bounded by
    * shingle co-occurrence, not |docs|^2. */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    // ONE tokenize+shingle pass, not three: the exploded distinct-hash
    // table feeds both self-join sides through an in-JVM barrier, and
    // the per-doc set size IS its row count there (shingles() explodes
    // array_distinct, so count == shingleSizes; docs with no shingles
    // appear on neither side of the inner joins in either formulation).
    val sh = graft.core.Barriers.cached(s"jaccard:$dir/sh",
      shingles(Tables.documents(spark, dir)), eager = false) // audit below materializes
    // SCALE GUARD (audit only — output untouched): the postings
    // self-join below is deliberately UNCAPPED — this operator is the
    // exact ground truth the capped sketches (minhash maxBucket, winnow
    // maxDf) are judged against, so dropping hot shingles would change
    // its semantics. The price is that join work is sum over shingles
    // of df^2: ONE boilerplate shingle shared by a million docs at
    // 100 TB implies ~10^12 candidate pairs. Surface that cost BEFORE
    // the join runs, from the barrier the join reads anyway (this
    // aggregate doubles as the barrier's materializing action — same
    // job count as the r12 parquet-barrier shape).
    val audit = sh.groupBy("sh").agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("max_df"), avg(col("c")).as("avg_df"),
        sum(col("c") * (col("c") - 1) / 2).as("implied_pairs"))
      .head()
    if (!audit.isNullAt(0))
      System.err.println(s"[graft] jaccardPairs($dir) postings audit: " +
        s"max_df=${audit.getLong(0)} avg_df=${"%.2f".format(audit.getDouble(1))} " +
        s"implied_candidate_pairs=${"%.0f".format(audit.getDouble(2))} " +
        s"(exact-ground-truth op: uncapped by design; use minhash_neardups/" +
        s"winnow_pairs for the capped 100 TB path)")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).cast("bigint").as("n"))
      .select(col("doc_id"), col("n"))
    val a = sh.toDF("d1", "sh")
    val b = sh.toDF("d2", "sh")
    val inter = a.join(b, Seq("sh")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("d1", "na"), "d1")
      .join(sizes.toDF("d2", "nb"), "d2")
      .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Cross-document duplicated-text diagnostic: per doc, the fraction
    * of its distinct 3-shingles that also occur in at least one OTHER
    * document — the corpus-level twin of `repetitionStats` (which is
    * intra-doc) and the scalar the substring-dedup literature thresholds
    * on before cutting. Shape: shingle document-frequency (one
    * hash-aggregate over fixed-width longs, map-side combined) joined
    * back to the exploded shingles, then a per-doc roll-up — two
    * shuffles total, cost tracks shingle volume exactly like the
    * MinHash pipeline. Duplicated-shingle carriers surface with
    * dup_frac near 1. */
  def dupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(Tables.documents(spark, dir))
    val df = sh.groupBy("sh").agg(count(lit(1)).as("n_docs"))
    sh.join(df, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_frac", round(col("n_shared") / col("n_shingles"), 4))
      .orderBy("doc_id")
  }

  /** Tokenizer-fit report: build the corpus's top-`vocabSize` token
    * vocabulary (count desc, token asc — a deterministic boundary) and
    * measure per-language out-of-vocabulary rates. This is the check a
    * tokenizer/vocab decision reads before training: which languages a
    * fixed vocab shortchanges. Shape: one hash-agg for the counts, a
    * TakeOrdered of vocabSize rows, then a BROADCAST left join back
    * over the token stream (map-only; the corpus never shuffles for
    * the membership test) + one per-lang roll-up. */
  def vocabCoverage(spark: SparkSession, dir: String, vocabSize: Int = 1000): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc).limit(vocabSize)
      .select(col("w"), lit(1).as("in_v"))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 4))
      .orderBy("lang")
  }

  /** Cross-corpus overlap matrix: for every SOURCE pair, the number of
    * distinct word-3-shingles both corpora contain, plus a containment
    * ratio (shared / smaller corpus's shingle vocabulary). This is the
    * inter-source contamination report a mixing decision reads before
    * re-weighting corpora (exact doc-level duplicates never span
    * sources in this corpus, so source overlap only exists — and only
    * matters — at n-gram granularity).
    *
    * Scale shape: DISTINCT (source, shingle-hash) is one map-side
    * combined shuffle over fixed-width longs, and caps every shingle's
    * postings list at #sources — so the self-join's fan-out is <= S^2
    * per shingle no matter how boilerplate the shingle (contrast
    * jaccardPairs, whose doc-level postings grow with corpus size).
    * The per-pair roll-up collapses map-side; the vocabulary-size join
    * is S rows, broadcast. Output is C(S,2) rows max. */
  def corpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ss = tokenizedDocs(Tables.documents(spark, dir))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(shingleHashes).as("sh"))
      .distinct()
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n"))
    val a = ss.select(col("sh"), col("source").as("src_a"))
    val b = ss.select(col("sh"), col("source").as("src_b"))
    a.join(b, Seq("sh")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") / least(col("na"), col("nb")), 4).as("containment"))
      .orderBy("src_a", "src_b")
  }

  // -------------------------------------------------------------- simhash

  /** 60-bit SimHash per doc: per-bit +/-1 majority vote over token
    * hashes (tf-weighted — every occurrence votes), assembled into one
    * BIGINT. 60 conditional-sum agg expressions in a single pass (same
    * trick as MinHash). Token hash is the engine-portable
    * hex60(md5(tok)) so the DuckDB oracle replays the signature. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.documents(spark, dir)).orderBy("doc_id")

  private def simhashOf(docs: DataFrame): DataFrame = {
    import graft.functions.DetHash
    val tok = tokenizedDocs(docs)
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .withColumn("h", DetHash.hex60(col("tok")))
    val bitSums = (0 until 60).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j"))
    val sums = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val assembled = (0 until 60).map(j =>
      when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    sums.select(col("doc_id"), assembled.as("simhash"))
  }

  /** SimHash near-dup candidates at Hamming radius <= 3, blocked the
    * Manku/Jain/Sarma (WWW'07) way: split the 60-bit signature into
    * `k` chunks and bucket on every (k-3)-chunk combination — a pair
    * within radius 3 touches <= 3 chunks, so by pigeonhole it agrees
    * on ALL chunks of at least one combination. k=4 is the single
    * 15-bit-chunk scheme; larger k trades replication (C(k,3) tables)
    * for longer bucket keys ((k-3)*60/k bits), which is what keeps the
    * bucket self-join's INPUT near-linear as the corpus grows — the 8x
    * probe showed 15-bit buckets birthday-colliding into 17.5M raw
    * pairs, and a fixed k re-creates that blowup at any fixed width.
    * k is picked from the corpus size (key bits ~ 2*log2(n) keeps
    * expected random collisions O(1) per table); the DuckDB oracle
    * derives k from count(*) with the same thresholds, so the blocking
    * replays exactly. Distance is exact (`bit_count(xor)`, codegen). */
  def simhashCandidates(spark: SparkSession, dir: String, maxHamming: Int = 3,
                        chunksOverride: Option[Int] = None,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Exact-dedup composed like minhashCandidates: identical docs have
    // identical signatures, so the blocking self-join runs over class
    // representatives and pairs expand back through the class map —
    // a million-copy boilerplate class is ONE row per combination
    // table instead of a million-wide bucket.
    val docs = Tables.documents(spark, dir)
    // small -> 4 chunks (15-bit keys, 4 tables); mid -> 6 (30-bit keys,
    // 20 tables); huge -> 10 (42-bit keys, 120 tables). All divide 60.
    // k derives from the FULL corpus count (oracle parity), not reps.
    val n = docs.count()
    val k = chunksOverride.getOrElse(if (n < 8192L) 4 else if (n < (1L << 26)) 6 else 10)
    require(k > maxHamming, s"need more chunks ($k) than the radius ($maxHamming)")
    val w = 60 / k
    val mask = (1L << w) - 1
    def chunkCol(c: Int): Column = shiftright(col("simhash"), c * w).bitwiseAND(lit(mask))
    // every combination of k-3 chunks, as (combo id, packed key) structs;
    // the pack is an ascending-c left fold acc*2^w + chunk (<= 60 bits)
    val keyed = (0 until (1 << k)).filter(m => Integer.bitCount(m) == k - maxHamming).map { m =>
      val key = (0 until k).filter(c => ((m >> c) & 1) == 1)
        .map(chunkCol)
        .foldLeft(lit(0L): Column)((acc, ch) => acc * lit(1L << w) + ch)
      struct(lit(m).as("m"), key.as("key"))
    }
    val classMap = graft.core.Barriers.cached(s"simhash:$dir/classes",
      exactClassMap(docs))
    val sig = simhashOf(repDocsOf(docs, classMap))
    // Bucket table through an in-JVM barrier: the size audit and both
    // self-join sides consume it instead of recomputing signatures.
    val buckets = graft.core.Barriers.cached(s"simhash:$dir/buckets",
      sig.select(col("doc_id"), col("simhash"), explode(array(keyed: _*)).as("mk"))
        .select(col("doc_id"), col("simhash"), col("mk.m").as("m"), col("mk.key").as("key")))
    val sizes = buckets.groupBy("m", "key").agg(count(lit(1)).as("cnt"))
    // Oversize audit as an observed metric (async log), not its own
    // count() action — same shape as minhashRepCandidates.
    val obs = org.apache.spark.sql.Observation()
    val sizesObs = sizes.observe(obs,
      sum(when(col("cnt") > maxBucket, 1L).otherwise(0L)).as("dropped"))
    obs.future.foreach { row =>
      val dropped = if (row.isNullAt(0)) 0L else row.getLong(0)
      if (dropped > 0)
        System.err.println(s"[graft] simhashCandidates($dir): dropped $dropped " +
          s"blocking buckets wider than $maxBucket reps")
    }(scala.concurrent.ExecutionContext.global)
    val ok = sizesObs.filter(col("cnt") > 1 && col("cnt") <= maxBucket).select("m", "key")
    val capped = buckets.join(ok, Seq("m", "key"), "left_semi")
    val repPairs = capped.as("x").join(capped.as("y"),
        col("x.m") === col("y.m") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming) // radius the blocking guarantees
      .distinct()
    expandRepPairs(repPairs, classMap, Seq("hamming"), Seq(lit(0).cast("int")))
      .orderBy("d1", "d2")
  }

  // ----------------------------------------------------- decontamination

  /** Benchmark decontamination: flag corpus documents whose 3-shingle
    * overlap with a held-out benchmark set reaches `minShared` — the
    * standard n-gram eval-set contamination check every training corpus
    * runs before release. The benchmark here is the deterministic
    * pseudo-holdout doc_id < benchBound — "the first shard is the eval
    * set" (a real pipeline substitutes its
    * eval suites). Scale shape: the benchmark shingle set is tiny next
    * to the corpus, so the semi-join broadcasts it and the corpus
    * NEVER shuffles — at 100 TB decontamination is one map-side
    * hash-probe pass per corpus split. Reports the shared-shingle count
    * and the contaminated fraction of the doc's own shingle set. */
  def decontaminate(spark: SparkSession, dir: String, minShared: Int = 5,
      benchBound: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = shingles(docs) // hashed shingles: counts match string shingles
    val bench = sh.filter(col("doc_id") < benchBound).select("sh").distinct()
    val sizes = shingleSizes(docs).toDF("doc_id", "n")
    sh.filter(col("doc_id") >= benchBound)
      .join(bench, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .join(sizes, "doc_id")
      .select(col("doc_id"), col("n_shared"),
        round(col("n_shared") / col("n"), 4).as("contamination"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- packing

  /** Training-batch sequence packing: assign documents to fixed
    * token-budget bins (greedy streaming fill, bins may overflow by one
    * doc's tail — the standard approximate packer) and report per-bin
    * occupancy. Packing is per `source` shard in doc_id order — the
    * window prefix-sum parallelizes ACROSS shards, and the within-shard
    * sequential order is intrinsic to packing (real packers stream one
    * shard per worker too, so at 100 TB this is one window pass over
    * source-partitioned data, no global sort). */
  def packChunks(spark: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokenized(spark, dir)
      .select(col("doc_id"), col("source"), size(col("t")).cast("bigint").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      // exclusive prefix decides the bin: a doc starts in the bin its
      // predecessors filled up to
      .withColumn("bin", floor((col("cum") - col("n_tok")) / budget).cast("bigint"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .orderBy("source", "bin")
  }

  // ------------------------------------------------------------ analysis

  /** Stratified per-language deterministic sample — the balanced
    * training-mix primitive: rank docs inside each language by the
    * engine-portable md5 fingerprint (a uniform, reproducible shuffle)
    * and keep the top k per stratum. ONE window shuffle partitioned by
    * the stratum key — every language ranks in parallel, no global
    * sort, no driver-side sampling state; at 100 TB this is how a
    * pinned-mix corpus is cut reproducibly. */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy(md5(col("text")).asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy("lang", "rn")
  }

  /** Per-language corpus statistics. */
  def langStats(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .withColumn("n_tokens", size(col("t")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           min(col("n_chars")).as("min_chars"),
           max(col("n_chars")).as("max_chars"),
           sum(col("n_tokens")).as("total_tokens"))
      .withColumn("avg_tokens", round(col("total_tokens").cast("double") / col("n_docs"), 4))
      .orderBy("lang")

  /** Token counting two ways: whitespace and a BPE-ish word/punct
    * regex; plus distinct-token ratio (vocabulary richness). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"),
              size(col("t")).cast("bigint").as("ws_tokens"),
              regexp_count(col("text"), lit("\\w+|[^\\w\\s]")).cast("bigint").as("re_tokens"),
              size(array_distinct(col("t"))).cast("bigint").as("distinct_tokens"))
      .withColumn("ttr", round(col("distinct_tokens").cast("double") / col("ws_tokens"), 4))
      .orderBy("doc_id")

  /** Term frequencies: global top-20 tokens with doc frequency. */
  def termStats(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(20)

  /** Count-Min heavy hitters: a CMS sketch of the token stream built
    * DISTRIBUTED (the `count_min_sketch` aggregate merges per-partition
    * sketches — counters are additive, so the merged sketch is
    * order-independent and, with a fixed seed, deterministic), then
    * probed DRIVER-side for the exact top-20 terms — the real workflow
    * for frequency estimation over a stream you can't afford to
    * materialize: the sketch is KB-sized regardless of corpus size,
    * and the one-sided guarantee est >= exact, est <= exact + eps*N
    * (w.p. confidence) is what ApproxSpec pins. Third member of the
    * sketch family beside HLL (`approx_distinct`) and GK
    * (`approx_percentiles`); rows-only — no engine-neutral twin. */
  def heavyHitters(spark: SparkSession, dir: String,
      eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    import spark.implicits._
    val tok = tokenized(spark, dir)
      .select(explode(col("t")).as("tok"))
    val bytes = tok
      .agg(expr(s"count_min_sketch(tok, ${eps}d, ${confidence}d, 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val top = tok.groupBy("tok").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok").asc).limit(20).collect()
    top.map(r => (r.getString(0), r.getLong(1),
        cms.estimateCount(r.getString(0))))
      .toSeq.toDF("tok", "exact_tf", "cms_tf")
      .orderBy(col("exact_tf").desc, col("tok").asc)
  }

  /** Array functions over the token column: sort/dedup/slice/set ops —
    * the array-column surface (first 3 tokens, alphabetical first
    * token, overlap-with-stopwords count). */
  def arrayFns(spark: SparkSession, dir: String): DataFrame = {
    val stop = array(Seq("the", "a", "of", "and", "is", "to").map(lit): _*)
    tokenized(spark, dir)
      .select(col("doc_id"),
        concat_ws(" ", slice(col("t"), lit(1), lit(3))).as("first3"),
        element_at(array_sort(array_distinct(col("t"))), 1).as("alpha_first"),
        size(array_intersect(array_distinct(col("t")), stop)).cast("bigint").as("n_stop_kinds"),
        element_at(col("t"), -1).as("last_tok"))
      .orderBy("doc_id")
  }

  /** Document chunking: overlapping token windows (size 50, stride 40
    * = 10-token overlap) — the standard training-data prep shape. Pure
    * per-row expression work (sequence of starts -> posexplode), no
    * payload shuffle; at 100 TB this is a map-only stage. */
  def chunkDocs(spark: SparkSession, dir: String, size0: Int = 50, stride: Int = 40): DataFrame =
    tokenized(spark, dir)
      .withColumn("n", size(col("t")))
      .select(col("doc_id"), col("t"), col("n"),
        posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(stride))))
      .select(col("doc_id"),
        col("pos").cast("bigint").as("chunk_idx"),
        least(lit(size0), col("n") - col("col")).cast("bigint").as("n_chunk_tokens"),
        element_at(col("t"), col("col") + 1).as("first_tok"))
      .orderBy("doc_id", "chunk_idx")

  /** Higher-order-function predicates over the token array: exists /
    * forall / fold — per-row, shuffle-free. */
  def hofFns(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"),
        exists(col("t"), x => length(x) > 10).as("has_long_tok"),
        forall(col("t"), x => length(x) >= 2).as("all_ge2"),
        aggregate(col("t"), lit(0L), (acc, x) => acc + length(x).cast("bigint"))
          .as("sum_tok_len"))
      .orderBy("doc_id")

  /** Text normalization: lowercase, strip punctuation, drop stopwords —
    * the standard pre-tokenization cleanup, map-only. Emits cleaned
    * token count + reconstructed head so the oracle can hash it. */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = split(
      trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")), " +")
    Tables.documents(spark, dir)
      .withColumn("ct", filter(cleaned,
        x => !x.isin("the", "a", "of", "and", "is", "to")))
      .select(col("doc_id"),
        size(col("ct")).cast("bigint").as("n_clean_tokens"),
        concat_ws(" ", slice(col("ct"), 1, 5)).as("head5"))
      .orderBy("doc_id")
  }

  /** PII scrubbing: mask email / phone-shaped spans, report match
    * counts — the compliance pass every training corpus needs. The
    * corpus is synthetic ASCII prose (expected zero hits) but the
    * operator is exercised end-to-end and oracle-checked. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phone = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("bigint").as("n_emails"),
        regexp_count(col("text"), lit(phone)).cast("bigint").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
          phone, "<PHONE>")).as("scrubbed_fp"))
      .orderBy("doc_id")
  }

  /** TF-IDF: weight of each doc's top term — tf * ln(N/df), the
    * classic smooth-free form, deterministic via (weight desc, term
    * asc) tie-break. Two shuffles: df aggregation + per-doc ranking. */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokenized(spark, dir).select(col("doc_id"), explode(col("t")).as("tok"))
    val n = Tables.documents(spark, dir).count() // tiny catalog count, driver-side
    val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tok.select(col("doc_id"), col("tok")).distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("w").desc, col("tok").asc)
    tf.join(df, "tok")
      .withColumn("w", round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("tok").as("top_term"), col("w").as("tfidf"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic: stopword-hit scoring against tiny per-lang
    * lexicons; argmax with a fixed tie-break order. (On this synthetic
    * corpus every lang shares one vocabulary — the operator's value is
    * its shape, which matches a real n-gram language IDer.) */
  def langIdHeuristic(spark: SparkSession, dir: String): DataFrame = {
    val lex = Map(
      "en" -> Seq("the", "a", "of", "and"),
      "de" -> Seq("der", "die", "das", "und"),
      "es" -> Seq("el", "la", "de", "y"),
      "fr" -> Seq("le", "la", "et", "de"),
      "zh" -> Seq("de", "shi", "le", "bu"))
    def score(words: Seq[String]): Column =
      words.map(w => size(filter(col("t"), x => x === w))).reduce(_ + _)
    val scored = tokenized(spark, dir)
      .withColumn("s_en", score(lex("en"))).withColumn("s_de", score(lex("de")))
      .withColumn("s_es", score(lex("es"))).withColumn("s_fr", score(lex("fr")))
      .withColumn("s_zh", score(lex("zh")))
    val best = greatest(col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"))
    scored
      .withColumn("predicted",
        when(col("s_en") === best, "en").when(col("s_de") === best, "de")
          .when(col("s_es") === best, "es").when(col("s_fr") === best, "fr")
          .otherwise("zh"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** Intra-document repetition profile — the Gopher-style repetition
    * quality rules (duplicate n-gram fraction, most-common-token
    * share) a corpus filter thresholds on: boilerplate and
    * low-quality generated text repeat shingles; keyword-stuffed spam
    * concentrates one token. Shingle stats are map-only per row; the
    * top-token share is one (doc_id, tok) aggregation. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val t = tokenized(spark, dir).filter(size(col("t")) >= 3)
    val perDoc = t.select(col("doc_id"),
      (size(col("t")) - 2).cast("bigint").as("n_shingles"),
      size(shingleHashes).cast("bigint").as("n_distinct"),
      size(col("t")).cast("bigint").as("n_tok"))
    val topTok = t.select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_c"))
    perDoc.join(topTok, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct") / col("n_shingles"), 4).as("dup_shingle_frac"),
        round(col("top_c") / col("n_tok"), 4).as("top_token_share"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length / punctuation / stopword / repetition
    * signals combined into one deterministic score. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(col("t")).cast("double")
    val stopHits = size(filter(col("t"), x =>
      x.isin("the", "a", "of", "and", "is", "to"))).cast("double")
    val punct = regexp_count(col("text"), lit("[^\\w\\s]")).cast("double")
    val ttr = size(array_distinct(col("t"))).cast("double") / nTok
    tokenized(spark, dir)
      .select(col("doc_id"),
        round(
          when(col("n_chars") >= 100 && col("n_chars") <= 1000, lit(1.0)).otherwise(lit(0.5)) *
          (lit(1.0) - least(punct / greatest(nTok, lit(1.0)), lit(1.0)) * 0.5) *
          (lit(0.5) + least(stopHits / greatest(nTok, lit(1.0)) * 2, lit(0.5))) *
          (lit(0.5) + ttr * 0.5), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** Quality-score distribution: 0.1-wide bins over the (rounded)
    * per-doc quality — the corpus health report a filtering pipeline
    * thresholds against. Bins on the ROUNDED score, so edges are
    * engine-stable. */
  def qualityHistogram(spark: SparkSession, dir: String): DataFrame =
    qualityScore(spark, dir)
      .groupBy(floor(col("quality") * 10).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("quality")), 4).as("lo"),
        round(max(col("quality")), 4).as("hi"))
      .orderBy("bin")

  /** Dedup representative selection: inside each duplicate CLASS
    * (dupClasses' connected components) keep the highest-quality doc —
    * the step that turns class labels into the actual filtered corpus.
    * Rank is a per-class window (quality DESC, doc_id ASC tiebreak —
    * identical texts tie on quality, the key makes the keep
    * deterministic); the window partitions on class_id, so at 100 TB
    * the sort is per-class-sized, never global. Output is the per-doc
    * decision table (`keep` = survives dedup). */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    dedupKeepBestFrom(spark, dir, dupClasses(spark, dir))

  /** Same decision table over an ALREADY-MATERIALIZED class map — the
    * one-pass pipeline entry (`tools/Cli pipeline`) materializes
    * dupClasses to its stage artifact once and feeds it here, so the
    * expensive pair/label upstream is never replayed per stage. */
  def dedupKeepBestFrom(spark: SparkSession, dir: String,
      classes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("class_id")
      .orderBy(col("quality").desc, col("doc_id").asc)
    classes
      .join(qualityScore(spark, dir), "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("class_id"), col("quality"), col("keep"))
      .orderBy("doc_id")
  }

  /** C4/Gopher-style document quality FILTERS (Raffel et al. 2020 §2.2,
    * Rae et al. 2021 A1.1 — heuristics recomputed from their public
    * descriptions): word-count band, mean-word-length band, boilerplate
    * markers ("lorem ipsum", code braces), symbol-to-word ratio. All
    * map-only (one pass over text, no shuffle before the final sort) —
    * the shape that matters when the corpus is 100 TB and the filter
    * is the first stage everything else consumes. */
  def c4Filters(spark: SparkSession, dir: String): DataFrame = {
    val wc = size(col("t")).cast("double")
    val meanWl = length(regexp_replace(col("text"), lit(" "), lit(""))).cast("double") / wc
    val symbols = (regexp_count(col("text"), lit("#")) +
      regexp_count(col("text"), lit("\\.\\.\\."))).cast("double")
    tokenized(spark, dir)
      .select(col("doc_id"),
        size(col("t")).cast("bigint").as("word_count"),
        round(meanWl, 4).as("mean_word_len"),
        lower(col("text")).contains("lorem ipsum").as("has_lorem"),
        col("text").contains("{").as("has_brace"),
        round(symbols / wc, 4).as("symbol_ratio"))
      .withColumn("keep",
        col("word_count").between(50, 100000) &&
        col("mean_word_len").between(3.0, 10.0) &&
        !col("has_lorem") && !col("has_brace") &&
        col("symbol_ratio") <= 0.1)
      .orderBy("doc_id")
  }

  /** Training-mix rebalancing: per-language sampling thresholds that
    * move the corpus toward a UNIFORM language mix (downsample-only:
    * over-represented languages get thr < 1e6 ppm, the rest keep
    * everything). The threshold is pure integer arithmetic
    * (total*1e6 div (n_langs*n_docs)) — engine-exact, no float mix
    * math — and the sample itself is the portable DetHash ppm cut, so
    * the chosen doc_ids are reproducible across engines and runs (the
    * property a training-data cut must have). Two aggregate-sized
    * passes + one map-side broadcast filter over the corpus. */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.DetHash
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val stats = counts.agg(sum("n_docs").as("total"), count(lit(1)).as("n_langs"))
    val thr = counts.crossJoin(broadcast(stats))
      .withColumn("thr_ppm",
        least(lit(1000000L), expr("total * 1000000 div (n_langs * n_docs)")))
      .select(col("lang"), col("n_docs"), col("thr_ppm"))
    val sampled = docs.join(broadcast(thr), "lang")
      .filter(DetHash.hex60(concat(lit("mix:"), col("doc_id"))) % 1000000 < col("thr_ppm"))
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    thr.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("thr_ppm"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  /** Fuzzy (edit-distance) near-dup detection — the dedup modality
    * between exact-hash and MinHash: catches small in-place edits
    * (typo fixes, boilerplate swaps) that shift every shingle window.
    * Blocked self-join: candidate pairs must share (lang, length
    * bucket), then `levenshtein` over an 80-char prefix with Spark's
    * early-exit threshold form (returns -1 above maxDist, so the DP
    * matrix stops at the band — O(len*maxDist), not O(len^2)).
    * Scale shape: the join ships (doc_id, 80-char prefix) only, never
    * the full text, and blocking bounds the quadratic term to bucket
    * size. On a dirty 100 TB corpus this composes with exactClassMap
    * exactly like MinHash does (distance 0 within a class ⇒ run over
    * representatives); for finer blocking add a prefix token to the
    * key. */
  def fuzzyNearDups(spark: SparkSession, dir: String, maxDist: Int = 20): DataFrame = {
    // Exact-dedup composed (round 7, same shape minhash uses): the
    // banded levenshtein runs over class REPRESENTATIVES only —
    // verbatim copies are distance 0 and share a rep, their prefixes
    // (and blocking keys: same text ⇒ same lang/n_chars) are identical,
    // so rep-level distances transfer member-for-member and the
    // expansion reproduces the direct form's output exactly. Probe:
    // 8x-verbatim corpus 50.3 s direct -> rep-composed runs the DP over
    // 5k distinct contents instead of 40k copies.
    val docs = Tables.documents(spark, dir)
    // Class fingerprint includes the BLOCKING KEY (lang, length bucket),
    // not just text: the corpus contains identical texts with divergent
    // lang/n_chars metadata, and the declared (blocked) semantics keep
    // those in separate blocks — a text-only class map would merge them
    // and emit pairs the direct form never sees.
    val fps = docs.select(col("doc_id"),
      md5(concat_ws("\u0001", col("lang"), expr("n_chars div 10"), col("text"))).as("fp"))
    val reps = fps.groupBy("fp").agg(min(col("doc_id")).as("rep"))
    val classMap = fps.join(reps, "fp").select(col("doc_id"), col("rep"))
    val d = repDocsOf(docs, classMap).select(col("doc_id"), col("lang"),
      expr("n_chars div 10").as("b"), substring(col("text"), 1, 80).as("p"))
    val a = d.select(col("doc_id").as("d1"), col("lang"), col("b"), col("p").as("pa"))
    val c = d.select(col("doc_id").as("d2"), col("lang"), col("b"), col("p").as("pb"))
    val repPairs = a.join(c, Seq("lang", "b")).filter(col("d1") < col("d2"))
      .withColumn("dist", levenshtein(col("pa"), col("pb"), maxDist))
      .filter(col("dist") >= 0) // threshold form yields -1 above maxDist
      .select(col("d1"), col("d2"), col("dist"))
    expandRepPairs(repPairs, classMap, Seq("dist"), Seq(lit(0)))
      .select(col("d1").as("doc_a"), col("d2").as("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** Corpus bigram counts — the n-gram language-model table (top-k by
    * frequency). The adjacent-pair expansion stays inside ONE
    * `transform` over the already-materialized token array (`t`), so
    * the only shuffle is the final (w1, w2) hash-aggregate with
    * map-side combine; ties break lexicographically so top-k is
    * deterministic. At 100 TB the full table is itself large — the
    * global top-k here is TakeOrdered (per-partition heads, driver
    * merges k rows); a full LM table build would instead sink the
    * aggregate without the limit. */
  def bigramCounts(spark: SparkSession, dir: String, k: Int = 30): DataFrame =
    bigramPairs(spark, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w1").asc, col("w2").asc)
      .limit(k)

  /** Adjacent token pairs, one row per bigram occurrence. The pair
    * expansion stays inside ONE `transform` over the materialized token
    * array behind a Generate (explode) barrier — no split() inside a
    * lambda (the CollapseProject trap). */
  private def bigramPairs(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(explode(expr(
        // [] is 0-based in Spark SQL, so pairing w=t[i] with t[i+1]
        // over the first size-1 elements enumerates adjacent pairs
        "transform(slice(t, 1, greatest(size(t)-1, 0)), (w, i) -> named_struct('w1', w, 'w2', t[i+1]))"))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Add-one-smoothed bigram language model head: for the top-k
    * corpus bigrams, P(w2|w1) = (c12+1) / (c(w1·)+V) where c(w1·) is
    * w1's outgoing-bigram count and V the followed vocabulary size —
    * the estimator a perplexity-based quality filter scores against.
    * Everything derives from ONE bigram hash-aggregate (map-side
    * combined): the denominator row-sum is a window over the aggregate
    * (bigram-table-sized, not corpus-sized), V is a 1-row broadcast,
    * and the single rounded IEEE division happens at the edge so the
    * oracle replays it bit-for-bit. At 100 TB the full LM table would
    * sink without the limit; the top-k here is TakeOrdered. */
  def ngramLm(spark: SparkSession, dir: String, k: Int = 30): DataFrame = {
    val bg = bigramPairs(spark, dir)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = bg.agg(countDistinct(col("w2")).as("v"))
    bg.crossJoin(broadcast(vocab))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
      .select(col("w1"), col("w2"), col("c12"),
        round((col("c12") + 1).cast("double")
          / (col("c1") + col("v")).cast("double"), 6).as("p_smooth"))
      .orderBy(col("c12").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Perplexity-style LM score: each document's mean log2-probability
    * of its bigrams under the corpus's own add-one-smoothed bigram LM
    * (ngramLm's estimator) — THE classic quality filter (perplexity =
    * 2^-avg_logp; low score = unnatural text). Shape: the bigram
    * expansion feeds both the LM build (hash agg + window row-sum, LM-
    * table-sized) and the per-doc scoring join (corpus-bigram-sized
    * equi-join on (w1,w2) — the LM side is the SMALLER relation and
    * broadcastable when the vocab fits). Float discipline: p is a
    * bit-equal correctly-rounded division; log2 is the one
    * NON-guaranteed-correctly-rounded op in the repo, so each term is
    * rounded to 6 decimals BEFORE the position-ordered fold (a 1-ulp
    * log2 disagreement then only matters within 1e-10 of a rounding
    * tie). */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tokenized(spark, dir)
      .select(col("doc_id"), posexplode(expr(
        "transform(slice(t, 1, greatest(size(t)-1, 0)), (w, i) -> named_struct('w1', w, 'w2', t[i+1]))"))
        .as(Seq("i", "bg")))
      .select(col("doc_id"), col("i"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bg = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = bg.agg(countDistinct(col("w2")).as("v"))
    val probs = bg.crossJoin(broadcast(vocab))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy("w1")))
      .select(col("w1"), col("w2"),
        ((col("c12") + 1).cast("double")
          / (col("c1") + col("v")).cast("double")).as("p"))
    pairs.join(probs, Seq("w1", "w2"))
      .select(col("doc_id"), col("i"), round(log2(col("p")), 6).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("i"), col("lp")))).as("lst"))
      .select(col("doc_id"), col("n_bigrams"),
        round(expr("aggregate(lst, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.lp)")
          / col("n_bigrams").cast("double"), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** Per-document token Shannon entropy — the repetition/diversity
    * quality signal (low entropy = boilerplate or degenerate text;
    * Gopher-style filters threshold on it). H = log2(n) − Σ c·log2(c)/n
    * over per-token counts. Float-sum discipline: the Σ folds over the
    * counts in ASCENDING TOKEN ORDER on both engines (sort_array of
    * (token, term) structs here, `list(... ORDER BY w)` in the oracle),
    * so every IEEE addition is replayed in the same sequence. Shape:
    * explode → (doc, token) hash agg → per-doc collect of the
    * DISTINCT-token count list (vocabulary-of-one-doc sized, not
    * doc-length sized) — bounded rows per doc, no corpus-wide state. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"), explode(col("t")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sort_array(collect_list(struct(col("w"),
          (col("c").cast("double") * log2(col("c").cast("double"))).as("term")))).as("lst"))
      .select(col("doc_id"), col("n_tokens"),
        round(log2(col("n_tokens").cast("double"))
          - expr("aggregate(lst, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)")
            / col("n_tokens").cast("double"), 6).as("entropy"))
      .orderBy("doc_id")

  /** Deterministic train/val/test split (90/5/5 by content-independent
    * doc-id hash) — the reproducible-partition step every training
    * pipeline needs: membership is a pure function of doc_id, so
    * re-runs, engines, and incremental appends all agree, and no split
    * ever sees another's documents. Map-only assign + one tiny
    * summary aggregate. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame = {
    val bucket = graft.functions.DetHash.hex60(
      concat(lit("split:"), col("doc_id").cast("string"))) % 100
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split")
  }

  /** Split-distribution drift report: per-language document share in
    * the train vs test split (splitAssign's buckets) with the share
    * delta — the health check that catches a hash-split accidentally
    * skewing a stratum. Two tiny aggregates over the map-only split
    * assignment plus a 5-row full-outer join; shares are single
    * rounded divisions of exact counts, and the delta subtracts the
    * two already-rounded shares, so every value replays exactly. */
  def splitDrift(spark: SparkSession, dir: String): DataFrame = {
    val bucket = graft.functions.DetHash.hex60(
      concat(lit("split:"), col("doc_id").cast("string"))) % 100
    val counts = Tables.documents(spark, dir)
      .select(col("lang"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .groupBy("split", "lang").agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n").cast("double")
        / sum(col("n")).over(Window.partitionBy("split")).cast("double"), 6))
    val tr = counts.filter(col("split") === "train")
      .select(col("lang"), col("n").as("n_train"), col("share").as("share_train"))
    val te = counts.filter(col("split") === "test")
      .select(col("lang"), col("n").as("n_test"), col("share").as("share_test"))
    tr.join(te, Seq("lang"), "full")
      .select(col("lang"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("share_train"), lit(0.0)).as("share_train"),
        coalesce(col("share_test"), lit(0.0)).as("share_test"),
        round(coalesce(col("share_train"), lit(0.0))
          - coalesce(col("share_test"), lit(0.0)), 6).as("delta"))
      .orderBy("lang")
  }

  /** Quality-weighted (importance) sampling: keep each document with
    * probability equal to its quality score, decided by a
    * deterministic per-doc hash draw (DetHash, SQL-replayable) —
    * upsamples high-quality text the way curation pipelines weight
    * mixtures, yet is reproducible run-to-run and engine-to-engine.
    * The rounded 4-decimal quality makes the *1e6 threshold integral,
    * so the keep boundary is an exact integer compare on both engines.
    * Map-only over the corpus: no shuffle, no state. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    qualityScore(spark, dir)
      .filter(graft.functions.DetHash.hex60(
          concat(lit("wq:"), col("doc_id").cast("string"))) % 1000000
        < round(col("quality") * 1000000).cast("long"))
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id")

  /** End-to-end curation capstone: the per-document TRAINING-CUT
    * manifest chaining every curation stage in one plan —
    * C4/Gopher filters (`c4Filters`) AND dedup survivor selection
    * (`dedupKeepBest` — docs in no duplicate class survive trivially)
    * AND uniform-mix downsampling (`mixWeights`' ppm threshold) AND
    * the deterministic 90/5/5 split (`splitAssign`'s bucket); `in_cut`
    * is the conjunction with split = train. This is the LLM-pipeline
    * story as ONE declarative plan instead of five reports.
    *
    * Scale shape: the manifest is map-only over documents except
    * (a) the per-lang threshold — aggregate-sized, broadcast back,
    * (b) the dedup decision — a LEFT join against the (duplicate-
    * volume-sized) keep-best table, whose expensive upstream
    * (pairs, label propagation) stays behind dupClasses' parquet
    * barriers and is computed once, never replayed per stage. Every
    * gate is a pure function of (doc_id, lang, text), so the manifest
    * is append-stable: re-running over a grown corpus never flips an
    * old doc's mix draw or split. */
  def trainingCut(spark: SparkSession, dir: String): DataFrame =
    trainingCutFrom(spark, dir, dedupKeepBest(spark, dir))

  /** Same manifest over an ALREADY-MATERIALIZED keep-best table (the
    * one-pass pipeline feeds the stage artifact; every other gate is
    * map-only or aggregate-sized and costs nothing to recompute). */
  def trainingCutFrom(spark: SparkSession, dir: String,
      keepBest: DataFrame): DataFrame = {
    import graft.functions.DetHash
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val c4 = c4Filters(spark, dir).select(col("doc_id"), col("keep").as("c4_keep"))
    val dd = keepBest.select(col("doc_id"), col("keep").as("dd_keep"))
    val counts = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val stats = counts.agg(sum("n_docs").as("total"), count(lit(1)).as("n_langs"))
    val thr = counts.crossJoin(broadcast(stats))
      .withColumn("thr_ppm",
        least(lit(1000000L), expr("total * 1000000 div (n_langs * n_docs)")))
      .select(col("lang"), col("thr_ppm"))
    val bucket = DetHash.hex60(
      concat(lit("split:"), col("doc_id").cast("string"))) % 100
    docs
      .join(c4, "doc_id")
      .join(dd, Seq("doc_id"), "left")
      .join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("c4_keep"),
        coalesce(col("dd_keep"), lit(true)).as("dedup_keep"),
        (DetHash.hex60(concat(lit("mix:"), col("doc_id"))) % 1000000
          < col("thr_ppm")).as("mix_keep"),
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test").as("split"))
      .withColumn("in_cut",
        col("c4_keep") && col("dedup_keep") && col("mix_keep") &&
          col("split") === "train")
      .orderBy("doc_id")
  }
}
