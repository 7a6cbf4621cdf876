package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.GraftFunctions

/** Similarity-search operators over `embeddings` (FIXTURES.md: 64-dim
  * `array<float>` + int label). SURVEY §2b "LLM-pipeline: similarity".
  *
  * Numeric discipline: every dot/norm is computed in DOUBLE with a
  * sequential left fold (`zip_with` + `aggregate`), matching the
  * DuckDB oracle's `list_dot_product` over double-cast lists, so the
  * two engines accumulate in the same order; similarities surface
  * rounded to 4dp and ranks are taken over the ROUNDED value with a
  * vec_id tie-break — rank never depends on sub-rounding float noise.
  *
  * Scale story: the query side is a small fixed set -> broadcast; the
  * corpus side streams (no shuffle of the big side). The ANN variant
  * buckets by random-hyperplane signs (LSH) so the candidate join is
  * an equi-join on bucket id, not a cross join — the 100 TB path.
  */
object Vector {

  /** array<float> -> array<double> (single cast, element-wise). */
  private def dbl(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential-fold dot product of two double arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a,b) rounded to 4dp. */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 4)

  // Native (codegen) variants — same index-order accumulation, so
  // results are bit-identical to the HOF forms and the DuckDB oracle.
  private def nDot(spark: SparkSession)(a: Column, b: Column): Column =
    GraftFunctions.dot(spark, a, b)
  private def nNorm(spark: SparkSession)(a: Column): Column =
    sqrt(nDot(spark)(a, a))
  private def nCosine(spark: SparkSession)(a: Column, b: Column): Column =
    round(nDot(spark)(a, b) / (nNorm(spark)(a) * nNorm(spark)(b)), 4)

  /** Per-label norm statistics — sanity-profile of the vector corpus. */
  def normStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), nNorm(spark)(dbl(col("embedding"))).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
           round(min(col("nrm")), 4).as("min_norm"),
           round(max(col("nrm")), 4).as("max_norm"),
           round(avg(col("nrm")), 4).as("avg_norm"))
      .orderBy("label")

  /** Brute-force exact cosine top-k: a fixed small query set (vec_id <
    * nQueries) against the whole corpus. The query side is broadcast;
    * the corpus never shuffles; rank is TakeOrdered-per-query via a
    * window over the (tiny) result of the broadcast nested-loop join. */
  def knnBrute(spark: SparkSession, dir: String, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // Norms precomputed per VECTOR (not per pair): the pair stage does
    // 1 dot product instead of 3. Same doubles, same rounded sims.
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), dbl(col("embedding")).as("qe"))
      .withColumn("qn", nNorm(spark)(col("qe")))
    val c = e.select(col("vec_id").as("neighbor_id"), dbl(col("embedding")).as("ce"))
      .withColumn("cn", nNorm(spark)(col("ce")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(nDot(spark)(col("qe"), col("ce")) / (col("qn") * col("cn")), 4).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"))
      .orderBy("query_id", "rnk")
  }

  /** Random-hyperplane LSH bucket id as a pure COLUMN over an embedding
    * column — map-only, so queries compose it inline (no self-join back
    * to the table). Sign-bit signature over `nBits` deterministic
    * hyperplanes whose components are md5-derived constants
    * (DetHash.planeComp) baked into the plan as literal arrays — zero
    * per-row hashing — and recomputable in SQL, so the DuckDB oracle
    * replays the exact same buckets. Vectors sharing a bucket are ANN
    * candidates; the candidate join is an equi-join on (bucket), never
    * a cross join. Projections use the same sequential fold as every
    * other dot product (sign never depends on accumulation order). */
  def lshBucketCol(spark: SparkSession, emb: Column, nBits: Int = 12, dim: Int = 64): Column = {
    import graft.functions.DetHash
    def bit(j: Int): Column = {
      val plane = typedLit((0 until dim).map(i => DetHash.planeComp(j, i)))
      when(nDot(spark)(emb, plane) >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    (0 until nBits).map(bit).reduce((a, b) => a.bitwiseOR(b))
  }

  def lshBuckets(spark: SparkSession, dir: String, nBits: Int = 12, dim: Int = 64): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        lshBucketCol(spark, dbl(col("embedding")), nBits, dim).as("bucket"))

  /** ANN top-k via LSH: exact cosine, but only within LSH buckets —
    * the quadratic work collapses to per-bucket. Recall < 1.0 vs
    * `knnBrute` by construction, but the RESULT is fully deterministic
    * and SQL-replayable (md5-derived planes + rounded-sim ranking), so
    * the oracle checks it exactly. A vec lands in exactly one bucket
    * (single-band signature), so no pair dedup is needed. */
  def annCosine(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // bucket + norm are inline columns: ONE map-only scan per join side,
    // no self-join back to the table (round-1 shape joined on vec_id —
    // a pointless corpus shuffle at scale).
    val withB = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
      .withColumn("bucket", lshBucketCol(spark, col("emb")))
      .withColumn("nrm", nNorm(spark)(col("emb")))
    val l = withB.select(col("bucket"), col("vec_id").as("query_id"),
      col("emb").as("qe"), col("nrm").as("qn"))
    val r = withB.select(col("bucket"), col("vec_id").as("neighbor_id"),
      col("emb").as("ce"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    l.join(r, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(nDot(spark)(col("qe"), col("ce")) / (col("qn") * col("cn")), 4).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"))
      .orderBy("query_id", "rnk")
  }

  /** Embedding-cosine near-duplicate pairs, the vector twin of
    * `minhashNearDups`: banded hyperplane-LSH candidates -> exact
    * cosine verify. `bands` independent signatures of `bitsPerBand`
    * sign bits each (md5-derived planes, SQL-replayable); vectors
    * sharing ANY band bucket become a candidate pair; candidates carry
    * IDS ONLY through the shuffle, then two hash equi-joins pull the
    * vectors back for the exact rounded-cosine filter. Every join here
    * is an equi-join — no broadcast of the corpus, no nested loop —
    * so the shape survives 100 TB (cost tracks bucket occupancy, not
    * n^2). Recall < 1 by construction, like every banded sketch: with
    * 8x4 bits, a pair at cos 0.4 (bit-agree p = 1 - acos(.4)/pi ~ .63)
    * survives with 1-(1-p^4)^8 ~ 75%; identical vectors always share
    * all bands. The DuckDB oracle replays the same planes/bands, so
    * the result is hash-checked exactly; the all-pairs exact form
    * lives on as the labeled recall baseline in VectorBandSpec. */
  def embNearDups(spark: SparkSession, dir: String, threshold: Double = 0.4,
                  bands: Int = 8, bitsPerBand: Int = 4, dim: Int = 64,
                  maxBucket: Int = 1024): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
    // Exact-dedup composed like Text.minhashCandidates (round-5): a
    // corpus with m IDENTICAL embeddings used to land all m in every
    // band bucket — one join key streaming C(m,2) pairs per band. Band
    // class REPRESENTATIVES only (min vec_id per distinct embedding;
    // bit-equal doubles group exactly) and expand pairs back through
    // the class map afterward — identical vectors pair unconditionally
    // at sim 1.0, and rep-level sims equal member-level sims because
    // members are bit-identical to their rep. Output is unchanged; the
    // bucket stage cost now tracks DISTINCT vectors.
    // Barriers (same discipline as minhashRepVerified): the class map
    // feeds the expansion five ways, the rep vectors feed banding plus
    // both verify joins, and the bucket table feeds the size audit plus
    // both self-join sides — lazy lineage would recompute the dedup
    // groupBy / normalize / banding ~4-5x per call.
    // One shuffle, not two (guide §2.4): window min over the embedding
    // partition instead of groupBy + self-join on 512-byte vectors.
    val classMap = graft.core.Barriers.cached(s"embnd:$dir/classes",
      raw.withColumn("rep", min(col("vec_id")).over(Window.partitionBy("emb")))
        .select(col("vec_id").as("doc_id"), col("rep"))) // Text.expandRepPairs' shape
    val e = graft.core.Barriers.cached(s"embnd:$dir/reps",
      raw.join(
          classMap.filter(col("doc_id") === col("rep")).select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        .withColumn("nrm", nNorm(spark)(col("emb")))) // per-vector, pre-join
    val banded = graft.core.Barriers.cached(s"embnd:$dir/buckets",
      e.select(col("vec_id"),
        posexplode(bandCols(spark, bands, bitsPerBand, dim)).as(Seq("band", "bucket"))))
    // Defensive cap on NEAR-dup (not identical) mega-buckets, with the
    // drop surfaced — same contract as the minhash candidate stage.
    val sizes = banded.groupBy("band", "bucket").agg(count(lit(1)).as("cnt"))
    // Oversize audit as an observed metric on the candidate job (async
    // log on materialization) instead of its own count() action — same
    // shape as minhashRepCandidates.
    val obs = org.apache.spark.sql.Observation()
    val sizesObs = sizes.observe(obs,
      sum(when(col("cnt") > maxBucket, 1L).otherwise(0L)).as("dropped"))
    obs.future.foreach { row =>
      val dropped = if (row.isNullAt(0)) 0L else row.getLong(0)
      if (dropped > 0)
        System.err.println(s"[graft] embNearDups($dir): dropped $dropped LSH " +
          s"buckets wider than $maxBucket reps")
    }(scala.concurrent.ExecutionContext.global)
    val ok = sizesObs.filter(col("cnt") > 1 && col("cnt") <= maxBucket)
      .select("band", "bucket")
    val capped = banded.join(ok, Seq("band", "bucket"), "left_semi")
    val cand = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"))
      .distinct() // a pair may collide in several bands
    val l = e.select(col("vec_id").as("d1"), col("emb").as("e1"), col("nrm").as("n1"))
    val r = e.select(col("vec_id").as("d2"), col("emb").as("e2"), col("nrm").as("n2"))
    val repPairs = cand.join(l, Seq("d1")).join(r, Seq("d2"))
      .select(col("d1"), col("d2"),
        round(nDot(spark)(col("e1"), col("e2")) / (col("n1") * col("n2")), 4).as("sim"))
      .filter(col("sim") >= threshold)
    Text.expandRepPairs(repPairs, classMap, Seq("sim"), Seq(lit(1.0)))
      .filter(col("sim") >= threshold) // within pairs obey the threshold too
      .orderBy("d1", "d2")
  }

  /** Band bucket array (for posexplode over an `emb` column): band g
    * packs sign bits of planes j = g*bitsPerBand+t; the plane constants
    * fold into the plan as literals (zero per-row hashing). */
  private def bandCols(spark: SparkSession, bands: Int, bitsPerBand: Int, dim: Int): Column = {
    import graft.functions.DetHash
    def bandBucket(g: Int): Column =
      (0 until bitsPerBand).map { t =>
        val j = g * bitsPerBand + t
        val plane = typedLit((0 until dim).map(i => DetHash.planeComp(j, i)))
        when(nDot(spark)(col("emb"), plane) >= 0, lit(1L << t)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    array((0 until bands).map(bandBucket): _*)
  }

  /** Widest rep-level band bucket — embNearDups' oracle-parity audit
    * surface (the vector mirror of DedupScaleSpec's text guard): capped
    * output provably equals the uncapped oracle iff this <= maxBucket
    * on every corpus the oracle checks. */
  private[ops] def embMaxBandBucket(spark: SparkSession, dir: String,
      bands: Int = 8, bitsPerBand: Int = 4, dim: Int = 64): Long = {
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
    val reps0 = raw.groupBy("emb").agg(min(col("vec_id")).as("rep"))
    val reps = raw.join(reps0.select(col("rep").as("vec_id")), Seq("vec_id"), "left_semi")
    reps.select(posexplode(bandCols(spark, bands, bitsPerBand, dim)).as(Seq("band", "bucket")))
      .groupBy("band", "bucket").agg(count(lit(1)).as("cnt"))
      .agg(max(col("cnt"))).head().getLong(0)
  }

  /** IVF-style ANN: assign every vector to its nearest of K md5-derived
    * coarse centroids (argmax dot, tie-break lowest k — the inverted
    * "lists"); queries probe their top-`nProbe` lists and re-rank
    * candidates by exact cosine. This is the other standard ANN shape
    * beside LSH (`annCosine`): at 100 TB the corpus is PARTITIONED BY
    * list id, so a query touches nProbe/K of the data. Deterministic
    * (DetHash centroids + rounded dots + k/vec_id tie-breaks) and
    * SQL-replayable, so oracle-checked like the rest.
    *
    * Honest caveat: production IVF trains centroids with k-means; the
    * pseudo-random centroids here keep the operator shape while staying
    * engine-portable. Swap `DetHash`-derived planes for trained ones
    * and nothing else changes. */
  def ivfCosine(spark: SparkSession, dir: String, lists: Int = 8,
                nProbe: Int = 2, nQueries: Int = 8, k: Int = 3,
                dim: Int = 64): DataFrame =
    ivfWith(spark, dir, pseudoRandomCentroids(lists, dim), nProbe, nQueries, k)

  /** IVF with TRAINED coarse centroids (deterministic spherical
    * k-means, below) — same operator, better lists: centroids land on
    * the corpus's real clusters, so a query's true neighbors
    * concentrate in fewer probes (recall at fixed nProbe rises; the
    * IvfTrainingSpec pins trained >= pseudo-random on the brute-force
    * baseline). Not oracle-declared: the oracle twin would need the
    * k-means loop replayed in SQL; `ivf_cosine` (pseudo-random, oracle
    * hash-checked) locks the operator's join/rank semantics instead. */
  def ivfCosineTrained(spark: SparkSession, dir: String, lists: Int = 8,
                       nProbe: Int = 2, nQueries: Int = 8, k: Int = 3,
                       dim: Int = 64, iters: Int = 5): DataFrame =
    ivfWith(spark, dir, trainIvfCentroids(spark, dir, lists, iters, dim),
      nProbe, nQueries, k)

  /** Recall report for the TRAINED IVF path against the exact
    * brute-force ground truth — the driver-visible face of
    * `ivfCosineTrained` (declared rows-only: the k-means loop has no
    * SQL twin; `ivf_cosine` locks the operator's join/rank semantics
    * and IvfTrainingSpec pins trained >= pseudo-random recall). One row
    * per query: how many of the true top-k the trained index found at
    * nProbe=2. */
  def ivfTrainedRecall(spark: SparkSession, dir: String,
                       nQueries: Int = 8, k: Int = 3): DataFrame = {
    // The truth table feeds BOTH the semi-join and the per-query
    // denominator below; barrier it or the broadcast-NLJ brute pass
    // runs twice inside the one plan (guide §1.2).
    val truth = graft.core.Barriers.cached(s"ivf_recall:$dir/truth",
      knnBrute(spark, dir, nQueries, k)
        .select(col("query_id"), col("neighbor_id")))
    val approx = ivfCosineTrained(spark, dir, nQueries = nQueries, k = k)
      .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
    val hits = truth.join(approx,
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    truth.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(k).cast("int").as("k"),
        round(coalesce(col("n_hits"), lit(0L)) / lit(k), 4).as("recall"))
      .orderBy("query_id")
  }

  /** The nProbe/recall TRADEOFF CURVE for the trained IVF index — the
    * operational knob an ANN deployment tunes: probing more lists costs
    * proportionally more candidate evaluations and buys recall. Trains
    * ONCE, computes the brute-force ground truth ONCE, then evaluates
    * each probe width as an aggregate branch of one union plan. At
    * nProbe = lists the search is exhaustive-with-re-rank, so recall
    * is exactly 1.0 — the curve's fixed right endpoint (specced).
    * Declared rows-only like `ivf_trained_recall`: the k-means loop has
    * no SQL twin. */
  def ivfNprobeSweep(spark: SparkSession, dir: String, lists: Int = 8,
                     nQueries: Int = 8, k: Int = 3): DataFrame = {
    val cents = trainIvfCentroids(spark, dir, lists)
    // ONE corpus assignment + ONE probe join (with the probed list's
    // per-query rank KEPT) covers every sweep point: nProbe = p's
    // candidate set is exactly `list_rank <= p`, so each point is a
    // filter + per-query re-rank over the materialized candidate table
    // instead of its own full ivfWith pass (4 corpus passes -> 1), and
    // the brute-force truth is computed once behind a barrier instead
    // of once per point inside the union plan (guide §1.2). Every
    // (query, candidate) pair appears exactly once (a vector lives in
    // one list), with the same rounded sim and the same rank ordering
    // as ivfWith — per-point output is bit-identical to the previous
    // per-nProbe ivfWith runs (IvfTrainingSpec pins the sweep).
    val truth = graft.core.Barriers.cached(s"ivf_sweep:$dir/truth",
      knnBrute(spark, dir, nQueries, k)
        .select(col("query_id"), col("neighbor_id")))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
      .withColumn("nrm", nNorm(spark)(col("emb")))
    val dots = array(cents.indices.map(kk =>
      round(nDot(spark)(col("emb"), typedLit(cents(kk))), 6)): _*)
    val corpusList = e
      .withColumn("k", (array_position(dots, array_max(dots)) - 1).cast("int"))
      .select(col("k"), col("vec_id").as("neighbor_id"),
        col("emb").as("ce"), col("nrm").as("cn"))
    val byVec = Window.partitionBy("vec_id").orderBy(col("cdot").desc, col("k").asc)
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("emb"), col("nrm"),
        posexplode(dots).as(Seq("k", "cdot")))
      .withColumn("crn", row_number().over(byVec))
      .select(col("k").cast("int").as("k"), col("vec_id").as("query_id"),
        col("emb").as("qe"), col("nrm").as("qn"), col("crn"))
    val cand = graft.core.Barriers.cached(s"ivf_sweep:$dir/cand",
      corpusList.join(broadcast(probes), Seq("k"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("crn"),
          round(nDot(spark)(col("qe"), col("ce")) / (col("qn") * col("cn")), 4).as("sim")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val per = Seq(1, 2, 4, lists).distinct.map { np =>
      val approx = cand.filter(col("crn") <= np)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
      truth.join(approx,
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
          "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np).cast("int").as("n_probe"),
          lit(nQueries).cast("int").as("n_queries"),
          lit(k).cast("int").as("k"),
          round(col("n_hits") / lit((nQueries * k).toDouble), 4).as("mean_recall"))
    }
    per.reduce(_.unionByName(_)).orderBy("n_probe")
  }

  /** SEMANTIC DECONTAMINATION — the embedding-space twin of
    * `Text.decontaminate` (whose n-gram semi-join catches verbatim
    * leakage): flag corpus documents whose embedding lands too close
    * (cosine >= threshold) to ANY vector of a benchmark/eval set, the
    * screen that catches PARAPHRASED eval leakage sharing no shingles.
    * The benchmark is the same deterministic pseudo-holdout convention
    * (`vec_id < benchBound` — a real pipeline substitutes its eval
    * suites' embeddings).
    *
    * Scale shape: the bench side is tiny next to the corpus, so BOTH
    * its band buckets and its vectors ride a broadcast — the corpus is
    * scanned ONCE, banded map-side (plane literals fold into the
    * plan), candidate-joined and cosine-verified without ever
    * shuffling an embedding; the only exchange is the final ids+sim
    * per-doc aggregate. Candidates come from the same banded
    * hyperplane LSH as `embNearDups` (a corpus vector must share >= 1
    * of the 8x4-bit band buckets with some bench vector), so cost
    * tracks bucket co-occupancy, never |corpus| x |bench| — and the
    * planes are md5-derived, so DuckDB replays the whole chain and the
    * result is hash-checked exactly. A pair colliding in several bands
    * re-verifies per collision (bounded by `bands`); the per-doc agg
    * counts DISTINCT bench hits, so duplicates never skew the report.
    * Recall < 1 by construction (banded sketch); identical vectors
    * always share all bands — verbatim leakage is never missed. */
  def semanticDecontaminate(spark: SparkSession, dir: String,
      threshold: Double = 0.4, benchBound: Int = 100,
      bands: Int = 8, bitsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
    val benchBk = broadcast(raw.filter(col("vec_id") < benchBound)
      .withColumn("bnrm", nNorm(spark)(col("emb")))
      .select(col("vec_id").as("bid"), col("emb").as("bemb"), col("bnrm"),
        posexplode(bandCols(spark, bands, bitsPerBand, dim)).as(Seq("band", "bucket"))))
    raw.filter(col("vec_id") >= benchBound)
      .withColumn("nrm", nNorm(spark)(col("emb")))
      .select(col("vec_id"), col("emb"), col("nrm"),
        posexplode(bandCols(spark, bands, bitsPerBand, dim)).as(Seq("band", "bucket")))
      .join(benchBk, Seq("band", "bucket"))
      .withColumn("sim",
        round(nDot(spark)(col("emb"), col("bemb")) / (col("nrm") * col("bnrm")), 4))
      .filter(col("sim") >= threshold)
      .groupBy("vec_id")
      .agg(countDistinct(col("bid")).as("n_bench_hits"),
        max(col("sim")).as("max_sim"))
      .orderBy("vec_id")
  }

  /** EXACT twin of `semanticDecontaminate` — recall 1.0 by
    * construction: every corpus vector takes the dot against every
    * bench vector via one broadcast nested loop. For a SMALL bench set
    * this IS the production shape (|corpus| x |bench| dots, one
    * map-side pass, corpus never shuffles — same contract as
    * `Text.decontaminate`'s broadcast semi-join); the banded variant
    * earns its prefilter only when the eval suite grows to 10k+
    * vectors. Declared alongside the LSH form the way `knn_brute`
    * anchors the ANN family: the exact baseline the approximate path
    * is judged against. */
  def semanticDecontaminateExact(spark: SparkSession, dir: String,
      threshold: Double = 0.4, benchBound: Int = 100): DataFrame = {
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
    val bench = broadcast(raw.filter(col("vec_id") < benchBound)
      .withColumn("bnrm", nNorm(spark)(col("emb")))
      .select(col("vec_id").as("bid"), col("emb").as("bemb"), col("bnrm")))
    raw.filter(col("vec_id") >= benchBound)
      .withColumn("nrm", nNorm(spark)(col("emb")))
      .crossJoin(bench)
      .withColumn("sim",
        round(nDot(spark)(col("emb"), col("bemb")) / (col("nrm") * col("bnrm")), 4))
      .filter(col("sim") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bench_hits"), max(col("sim")).as("max_sim"))
      .orderBy("vec_id")
  }

  /** SemDeDup-style SEMANTIC near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the trained spherical
    * k-means, then flag same-cluster pairs whose exact cosine clears
    * the threshold — the embedding-space twin of MinHash that catches
    * paraphrases sharing no shingles. The cluster assignment IS the
    * blocking: pair work is Σ_k C(n_k, 2), never corpus², and `lists`
    * scales with the corpus (the paper runs 50k clusters over LAION;
    * per-cluster width stays bounded, each cluster's pairs are one
    * equi-join task — the same bucketed-quadratic contract as
    * minhash's banded buckets). Declared rows-only like every trained
    * k-means query (the Lloyd loop has no SQL twin); SemanticDedupSpec
    * pins planted-parallel recall 1.0 and exact-verify precision
    * against the unblocked pair set.
    *
    * `threshold` defaults to this corpus's near-dup calibration (the
    * synthetic embeddings top out at cos 0.51; emb_neardups uses the
    * same 0.4) — on real text embeddings the paper's 0.95 is the
    * operating point, and only this knob changes. */
  def semanticDedup(spark: SparkSession, dir: String, lists: Int = 8,
                    threshold: Double = 0.4, dim: Int = 64,
                    iters: Int = 5): DataFrame = {
    val (classMap, repPairs) = semanticRepPairs(spark, dir, lists, threshold, dim, iters)
    Text.expandRepPairs(repPairs, classMap, Seq("cos"), Seq(lit(1.0)))
      .filter(col("cos") >= threshold) // within pairs obey the threshold too
      .select(col("d1").as("vec_a"), col("d2").as("vec_b"), col("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** The rep-level half of `semanticDedup`: (exact-vector class map,
    * within-list cosine pairs over class representatives). Shared with
    * `semanticDupClasses`, which propagates labels over THIS graph —
    * one node per distinct vector — instead of the expanded one. */
  private[ops] def semanticRepPairs(spark: SparkSession, dir: String, lists: Int,
      threshold: Double, dim: Int, iters: Int): (DataFrame, DataFrame) = {
    // Exact-vector-dedup composed, like embNearDups (and the r7
    // fuzzy_neardups fix): a dirty corpus with m identical copies of
    // one vector would otherwise put all m in one list and stream
    // C(m,2) pairs through the within-list join. Rep vectors (min
    // vec_id per distinct embedding) ride the pair join; members
    // expand through the class map afterward (identical vectors pair
    // unconditionally at cos 1.0; rep-level cosines equal member-level
    // cosines because members are bit-identical to their rep). Output
    // is unchanged; within-list cost tracks DISTINCT vectors. Measured
    // on the 8x verbatim-copy probe: the pair stage's candidate volume
    // stays at the 1x level while output grows with duplicate volume.
    val raw = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
    // One shuffle, not two: rep = min(vec_id) over the embedding
    // partition — the former groupBy(emb)+self-join shipped the
    // 512-byte vectors through the agg exchange AND both join
    // exchanges (guide §2.4). Output identical.
    val classMap = graft.core.Barriers.cached(s"semdd:$dir/classes",
      raw.withColumn("rep", min(col("vec_id")).over(Window.partitionBy("emb")))
        .select(col("vec_id").as("doc_id"), col("rep"))) // Text.expandRepPairs' shape
    val e = graft.core.Barriers.cached(s"semdd:$dir/reps",
      raw.join(
          classMap.filter(col("doc_id") === col("rep")).select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        .withColumn("nrm", nNorm(spark)(col("emb"))))
    // centroids train on the FULL corpus (paper semantics: duplicates
    // weight the clustering) — linear map+agg cost, no quadratic term
    val cents = trainIvfCentroids(spark, dir, lists, iters, dim)
    val dots = array(cents.indices.map(kk =>
      round(nDot(spark)(col("emb"), typedLit(cents(kk))), 6)): _*)
    // map-only assignment (argmax, lowest-list tie-break) — same shape
    // as ivfWith's corpus side; members share their rep's argmax, so
    // rep-level same-list blocking equals member-level blocking
    val assigned = e
      .withColumn("list_id", (array_position(dots, array_max(dots)) - 1).cast("int"))
    val a = assigned.select(col("list_id"), col("vec_id").as("d1"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("list_id"), col("vec_id").as("d2"),
      col("emb").as("eb"), col("nrm").as("nb"))
    val repPairs = a.join(b, Seq("list_id"))
      .filter(col("d1") < col("d2"))
      .withColumn("cos",
        round(nDot(spark)(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("d1"), col("d2"), col("cos"))
    (classMap, repPairs)
  }

  /** SEMANTIC duplicate CLASSES — the embedding twin of `dup_classes`:
    * connected components over the semantic near-dup graph (SemDeDup's
    * clustering step: a paraphrase cluster is one class even when its
    * ends share no direct edge). Min-label propagation runs on the
    * REP graph (one node per distinct vector, same composition as the
    * text CC), members inherit through the class map, and classes of
    * identical copies label themselves even without a cross edge.
    * Declared rows-only like the rest of the trained-k-means family;
    * the spec union-finds the collected `semantic_dedup` pairs
    * sequentially and demands identical classes. */
  def semanticDupClasses(spark: SparkSession, dir: String, lists: Int = 8,
                         threshold: Double = 0.4, dim: Int = 64,
                         iters: Int = 5, maxIter: Int = 20): DataFrame = {
    val (classMap, repPairs) = semanticRepPairs(spark, dir, lists, threshold, dim, iters)
    // barrier the pair graph: the label loop would otherwise replay
    // k-means + the within-list join every iteration
    val pairs = graft.core.Barriers.cached(s"semcc:$dir/pairs",
      repPairs.select("d1", "d2"))
    val repLabels = Text.minLabelPropagation(spark, pairs, s"semcc:$dir", maxIter)
    Text.labelsToClasses(classMap, repLabels)
      .select(col("doc_id").as("vec_id"), col("class_id"))
      .orderBy("vec_id")
  }

  /** SemDeDup's survivor rule (Abbas et al. 2023): within each
    * semantic duplicate class keep the vector CLOSEST TO THE CLASS
    * MEAN — the member that best represents the cluster, not an
    * arbitrary min-id. Shape: one aggregate builds each class's
    * centroid, members join back on class_id and rank by rounded
    * cosine-to-centroid with a vec_id tie-break. One agg + one join +
    * one per-class window — the `dedup_keep_best` shape in embedding
    * space. Declared rows-only (trained-k-means upstream).
    *
    * Determinism: the class sums come from `graft_vsum`
    * ([[graft.functions.VectorSum]]), exact DECIMAL(38,12) per
    * dimension and so independent of partitioning and row order (the
    * k-means discipline); each mean is the decimal sum over the class
    * size, rounded to 6dp as a double. */
  def semanticKeepBest(spark: SparkSession, dir: String): DataFrame = {
    // Barrier the class table: `member` feeds both the centroid
    // aggregate and the final rank join, so the lazy class subtree
    // (label join + sort) would replay twice in one plan.
    val classes = graft.core.Barriers.cached(s"semkb:$dir/classes",
      semanticDupClasses(spark, dir))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
    val member = classes.join(e, "vec_id")
    val cents = member.groupBy("class_id")
      .agg(GraftFunctions.vsum(spark, col("emb")).as("s"), count(lit(1)).as("m"))
      .select(col("class_id"),
        transform(col("s"), x => round((x / col("m")).cast("double"), 6)).as("ctr"))
    val w = Window.partitionBy("class_id")
      .orderBy(col("cos_ctr").desc, col("vec_id").asc)
    member.join(cents, "class_id")
      .select(col("vec_id"), col("class_id"),
        round(nDot(spark)(col("emb"), col("ctr"))
          / (nNorm(spark)(col("emb")) * nNorm(spark)(col("ctr"))), 4).as("cos_ctr"))
      .withColumn("keep", row_number().over(w) === 1)
      .orderBy("vec_id")
  }

  /** The md5-derived coarse centroids `ivf_cosine` ships with —
    * engine-portable (the DuckDB oracle recomputes them in SQL). */
  private[ops] def pseudoRandomCentroids(lists: Int, dim: Int): Seq[Seq[Double]] = {
    import graft.functions.DetHash
    (0 until lists).map(kk =>
      (0 until dim).map(i => (DetHash.hex60(s"c:$kk:$i") % 2001 - 1000) / 1000.0))
  }

  /** Deterministic spherical k-means over the embedding corpus — the
    * production IVF trainer. Each Lloyd iteration is one MAP-ONLY
    * assignment (argmax of `lists` literal-centroid dots) plus one
    * hash-aggregate of per-dimension sums; the driver holds only the
    * K x dim centroid matrix between iterations (exactly how MLlib
    * k-means scales — centroids are broadcast-sized at any corpus
    * size). Determinism despite distributed float math: per-dim sums
    * accumulate in DECIMAL(38,12) through `graft_vsum`
    * ([[graft.functions.VectorSum]]: exact, order-independent, one
    * aggregate for all dimensions), means are rounded to 6dp after
    * unit-normalization, and assignment tie-breaks on lowest list id —
    * bit-stable across runs/partitions. Empty lists keep their previous
    * centroid (standard Lloyd). */
  def trainIvfCentroids(spark: SparkSession, dir: String, lists: Int = 8,
                        iters: Int = 5, dim: Int = 64): Seq[Seq[Double]] = {
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v
      else v.map(x => math.rint(x / n * 1e6) / 1e6)
    }
    // spherical k-means runs on unit vectors (cosine == dot); persisted
    // across Lloyd iterations — every iteration re-reads `u`, and
    // without the cache each one re-scans + re-normalizes the corpus
    // (MLlib k-means caches its input for the same reason).
    // SPREAD before persisting: the corpus parquet is one row group at
    // bench SF, so the cached input holds ONE partition and every
    // iteration's dot+argmax+aggregate stage runs single-task (measured
    // 0.21-0.27 s CPU x 5 iterations per train call on a 32-core
    // session). Scale-adaptive, same gate as Barriers.spreadLeaf: only
    // when the file provably cannot fill the session's cores; a real
    // corpus already scans wider and skips the exchange.
    val eFile = new java.io.File(s"$dir/embeddings.parquet")
    val cores = spark.sparkContext.defaultParallelism
    val u0 = Tables.embeddings(spark, dir)
      .select(dbl(col("embedding")).as("emb"))
      .withColumn("nrm", nNorm(spark)(col("emb")))
      .select(transform(col("emb"), x => x / col("nrm")).as("u"))
    val u = (if (eFile.isFile && eFile.length < cores.toLong * 32L * 1024 * 1024)
      u0.repartition(cores) else u0).persist()
    var cents = pseudoRandomCentroids(lists, dim).map(unit)
    // AQE adds a query-stage job (plus a scheduling round trip) to
    // every iteration's K-row collect and can re-plan nothing useful
    // for a 2-stage aggregate over a persisted input; scope it off for
    // the Lloyd loop (saved/restored — queries run sequentially).
    // Results are unaffected: the sums are exact decimals.
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqeSaved = spark.conf.getOption(aqeKey)
    spark.conf.set(aqeKey, "false")
    try {
      // EARLY STOP at a fixed point (guide §1.2 — remove whole passes):
      // the Lloyd update is a deterministic function of the current
      // centroids, so the moment an iteration reproduces them exactly
      // (Seq equality over the rounded doubles), every remaining
      // iteration would be a bit-identical no-op — skipping them cannot
      // change the result (IvfTrainingSpec's bit-stability pin still
      // holds). Any inequality — including -0.0 vs 0.0 or NaN — just
      // means no early stop: conservative, never wrong.
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val dots = array(cents.indices.map(kk =>
          round(nDot(spark)(col("u"), typedLit(cents(kk))), 6)): _*)
        val rows = u
          .withColumn("k", (array_position(dots, array_max(dots)) - 1).cast("int"))
          .groupBy("k").agg(GraftFunctions.vsum(spark, col("u")), count(lit(1)))
          .collect() // K rows of K x dim decimals — centroid-sized, never data-sized
        val byK = rows.map(r => r.getInt(0) -> r).toMap
        val next = cents.indices.map { kk =>
          byK.get(kk) match {
            case Some(r) =>
              val s = r.getSeq[java.math.BigDecimal](1)
              val n = r.getLong(2).toDouble
              unit((0 until dim).map(i => s(i).doubleValue() / n))
            case None => cents(kk)
          }
        }
        converged = next == cents
        cents = next
        it += 1
      }
    } finally {
      u.unpersist()
      aqeSaved match {
        case Some(v) => spark.conf.set(aqeKey, v)
        case None    => spark.conf.unset(aqeKey)
      }
    }
    cents
  }

  private def ivfWith(spark: SparkSession, dir: String, cents: Seq[Seq[Double]],
                      nProbe: Int, nQueries: Int, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
      .withColumn("nrm", nNorm(spark)(col("emb")))
    def cdot(kk: Int): Column =
      round(nDot(spark)(col("emb"), typedLit(cents(kk))), 6)
    val dots = array(cents.indices.map(cdot): _*)
    // Corpus assignment is a MAP-ONLY argmax (array_position finds the
    // FIRST max = lowest-k tie-break, matching the oracle's rank over
    // (cdot DESC, k ASC)): no corpus-wide window shuffle just to pick a
    // list id.
    val corpusList = e
      .withColumn("k", (array_position(dots, array_max(dots)) - 1).cast("int"))
      .select(col("k"), col("vec_id").as("neighbor_id"),
        col("emb").as("ce"), col("nrm").as("cn"))
    // Probes (the tiny query set) DO rank all K dots - top-nProbe lists.
    val byVec = Window.partitionBy("vec_id").orderBy(col("cdot").desc, col("k").asc)
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("emb"), col("nrm"),
        posexplode(dots).as(Seq("k", "cdot")))
      .withColumn("crn", row_number().over(byVec))
      .filter(col("crn") <= nProbe)
      .select(col("k").cast("int").as("k"), col("vec_id").as("query_id"),
        col("emb").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    corpusList.join(broadcast(probes), Seq("k"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(nDot(spark)(col("qe"), col("ce")) / (col("qn") * col("cn")), 4).as("sim"))
      // no dedup needed: each corpus vec lives in exactly one list
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"))
      .orderBy("query_id", "rnk")
  }

  /** Publish the IVF index as the ON-DISK artifact an ANN serving
    * tier actually reads (the vector twin of `training_cut_publish`):
    * corpus assignments — vector, norm, list id — hive-partitioned BY
    * LIST ID, so a probe touches nProbe/K of the corpus at the
    * DIRECTORY level, before a single row is read. The declared query
    * verifies the PUBLISHED copy: queries rank their top-nProbe lists,
    * the probed list ids become a partition-column filter on the
    * artifact read-back (plan-audited PartitionFilters — the scan
    * never lists the other directories), and candidates re-rank by
    * exact cosine. Same semantics as `ivf_cosine` (the md5-derived
    * centroids keep the whole chain SQL-replayable), so the published
    * index is hash-checked against DuckDB end-to-end.
    *
    * The probed-list collect is `nQueries x nProbe` ints (bounds
    * discovery, not data); norms ship IN the artifact so serving never
    * recomputes them. At 100 TB this layout is the standard IVF
    * serving shape: K directories whose sizes follow the cluster mix,
    * each query reading nProbe of them. */
  def ivfPublish(spark: SparkSession, dir: String, lists: Int = 8,
                 nProbe: Int = 2, nQueries: Int = 8, k: Int = 3,
                 dim: Int = 64): DataFrame = {
    val cents = pseudoRandomCentroids(lists, dim)
    val out = graft.core.TempDirs.stable(s"ivfpub:$dir")
    val e = embWithNorm(spark, dir)
    assignLists(spark, e, cents)
      .write.mode("overwrite").partitionBy("list_id").parquet(out)
    probePublishedIndex(spark, out, e, cents, nProbe, nQueries, k)
  }

  private def embWithNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), dbl(col("embedding")).as("emb"))
      .withColumn("nrm", nNorm(spark)(col("emb")))

  /** Map-only list assignment against FIXED centroids: argmax of K
    * literal-centroid dots, tie-break lowest list id. A vector's list
    * is a pure function of (vector, centroids) — which is exactly why
    * `ivfAppend`'s incremental artifact equals a full rebuild. */
  private def assignLists(spark: SparkSession, e: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    def cdot(kk: Int): Column =
      round(nDot(spark)(col("emb"), typedLit(cents(kk))), 6)
    val dots = array(cents.indices.map(cdot): _*)
    e.withColumn("list_id", (array_position(dots, array_max(dots)) - 1).cast("int"))
  }

  /** Serve top-k off a published list-partitioned index: rank the K
    * centroid dots per query, turn the top-nProbe list ids into a
    * partition-column filter on the artifact read-back (directory
    * pruning), re-rank candidates by exact cosine. Shared by
    * `ivfPublish` and `ivfAppend` — both artifacts must serve
    * identically. */
  private def probePublishedIndex(spark: SparkSession, out: String,
      e: DataFrame, cents: Seq[Seq[Double]],
      nProbe: Int, nQueries: Int, k: Int): DataFrame = {
    def cdot(kk: Int): Column =
      round(nDot(spark)(col("emb"), typedLit(cents(kk))), 6)
    val dots = array(cents.indices.map(cdot): _*)
    // probes: the tiny query set ranks all K centroid dots -> top-nProbe
    val byVec = Window.partitionBy("vec_id").orderBy(col("cdot").desc, col("k").asc)
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("emb"), col("nrm"),
        posexplode(dots).as(Seq("k", "cdot")))
      .withColumn("crn", row_number().over(byVec))
      .filter(col("crn") <= nProbe)
      .select(col("k").cast("int").as("list_id"), col("vec_id").as("query_id"),
        col("emb").as("qe"), col("nrm").as("qn"))
    val probedLists = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).sorted // nQueries x nProbe ints
    val idx = spark.read.parquet(out)
      .filter(col("list_id").isin(probedLists.map(Integer.valueOf): _*))
      .select(col("list_id"), col("vec_id").as("neighbor_id"),
        col("emb").as("ce"), col("nrm").as("cn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    idx.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(nDot(spark)(col("qe"), col("ce")) / (col("qn") * col("cn")), 4).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"))
      .orderBy("query_id", "rnk")
  }

  /** INCREMENTAL IVF maintenance — the daily-ingest path of
    * `ivfPublish`: build the index from the base corpus (vec_id % 4
    * != 0), then assign the day's delta (vec_id % 4 == 0) map-only
    * against the SAME fixed centroids and APPEND it into the
    * list-partitioned artifact. No rebuild, and the base's data files
    * are never rewritten — an append only ADDS files under the
    * affected list_id directories (spec-checked). Because a vector's
    * list is a pure function of (vector, centroids), append commutes
    * with assignment: the appended index serves BIT-IDENTICALLY to a
    * full rebuild, so the declared query reuses `ivf_cosine`'s SQL
    * twin over the full corpus. At 100 TB this is what keeps an ANN
    * index fresh: the nightly delta is assignment (map-only over the
    * delta) + K directory appends, never a corpus-wide rewrite;
    * retraining centroids is a separate, rarer event that DOES rebuild
    * (at which point `ivfPublish` is the code path). */
  def ivfAppend(spark: SparkSession, dir: String, lists: Int = 8,
                nProbe: Int = 2, nQueries: Int = 8, k: Int = 3,
                dim: Int = 64): DataFrame = {
    val cents = pseudoRandomCentroids(lists, dim)
    val out = graft.core.TempDirs.stable(s"ivfappend:$dir")
    // (no explicit clear needed: the base write's overwrite mode
    // truncates the artifact root, so a re-run never double-appends)
    val e = embWithNorm(spark, dir)
    assignLists(spark, e.filter(col("vec_id") % 4 =!= 0), cents)
      .write.mode("overwrite").partitionBy("list_id").parquet(out)
    assignLists(spark, e.filter(col("vec_id") % 4 === 0), cents)
      .write.mode("append").partitionBy("list_id").parquet(out)
    probePublishedIndex(spark, out, e, cents, nProbe, nQueries, k)
  }

  /** Per-label centroid norm: aggregates the 64 dims as 64 independent
    * column sums + the row count in ONE hash-agg pass (no array
    * shuffle games, no second scan). */
  def centroidNorm(spark: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val sums = (0 until dim).map(i =>
      sum(element_at(dbl(col("embedding")), i + 1)).as(s"s$i")) :+
      count(lit(1)).as("n_vecs")
    val agg = e.groupBy("label").agg(sums.head, sums.tail: _*)
    val sumsq = (0 until dim).map(i => pow(col(s"s$i") / col("n_vecs"), 2))
      .reduce(_ + _)
    agg.select(col("label"), col("n_vecs"), round(sqrt(sumsq), 4).as("centroid_norm"))
      .orderBy("label")
  }
}
