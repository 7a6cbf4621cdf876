package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.functions.GraftFunctions

/** Trained IVF centroids (VERDICT r3 #8): deterministic spherical
  * k-means must produce lists that recall MORE of the brute-force
  * top-k than the md5-derived pseudo-random centroids at the same
  * probe budget, and must be bit-stable across runs. */
class IvfTrainingSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.01"

  /** (query -> brute-force top-k neighbor set) ground truth. */
  private def truth(nQueries: Int, k: Int): Map[Long, Set[Long]] =
    Vector.knnBrute(spark, sf, nQueries, k).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap

  private def recallOf(df: org.apache.spark.sql.DataFrame,
                       base: Map[Long, Set[Long]]): Double = {
    val got = df.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hits = base.map { case (q, t) => (t & got.getOrElse(q, Set.empty)).size }.sum
    hits.toDouble / base.values.map(_.size).sum
  }

  test("k-means centroids are deterministic across runs") {
    val a = Vector.trainIvfCentroids(spark, sf, lists = 8, iters = 3)
    val b = Vector.trainIvfCentroids(spark, sf, lists = 8, iters = 3)
    assert(a == b, "training must be bit-stable (decimal sums + rounded unit vectors)")
  }

  /** The Lloyd loop with its per-dimension column aggregate — `dim`
    * separate `sum(cast(element_at(u, i) AS DECIMAL(38,12)))` — the form
    * `graft_vsum` replaced; the reference the trainer must equal. */
  private def columnFormCentroids(dir: String, lists: Int, iters: Int, dim: Int): Seq[Seq[Double]] = {
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(x => math.rint(x / n * 1e6) / 1e6)
    }
    val u = graft.core.Tables.embeddings(spark, dir)
      .select(transform(col("embedding"), _.cast("double")).as("emb"))
      .withColumn("nrm", sqrt(GraftFunctions.dot(spark, col("emb"), col("emb"))))
      .select(transform(col("emb"), x => x / col("nrm")).as("u"))
    (0 until iters).foldLeft(Vector.pseudoRandomCentroids(lists, dim).map(unit)) { (cents, _) =>
      val dots = array(cents.indices.map(kk =>
        round(GraftFunctions.dot(spark, col("u"), typedLit(cents(kk))), 6)): _*)
      val sums = (0 until dim).map(i =>
        sum(element_at(col("u"), i + 1).cast("decimal(38,12)")).as(s"s$i")) :+
        count(lit(1)).as("n")
      val byK = u.withColumn("k", (array_position(dots, array_max(dots)) - 1).cast("int"))
        .groupBy("k").agg(sums.head, sums.tail: _*)
        .collect().map(r => r.getInt(0) -> r).toMap
      cents.indices.map(kk => byK.get(kk).fold(cents(kk)) { r =>
        val n = r.getLong(dim + 1).toDouble
        unit((0 until dim).map(i => r.getDecimal(i + 1).doubleValue() / n))
      })
    }
  }

  test("trained centroids equal the per-dimension column-form Lloyd loop bit for bit") {
    val got = Vector.trainIvfCentroids(spark, sf, lists = 8, iters = 5)
    val ref = columnFormCentroids(sf, lists = 8, iters = 5, dim = 64)
    assert(got == ref, "graft_vsum must reproduce the column-form sums exactly")
  }

  test("trained centroids recall >= pseudo-random at the same probe budget") {
    // nProbe=1 stresses assignment quality: a query finds a neighbor
    // only if both were assigned to the query's single probed list.
    val nQ = 16; val k = 3
    val base = truth(nQ, k)
    val rndRecall = recallOf(
      Vector.ivfCosine(spark, sf, lists = 8, nProbe = 1, nQueries = nQ, k = k), base)
    val trnRecall = recallOf(
      Vector.ivfCosineTrained(spark, sf, lists = 8, nProbe = 1, nQueries = nQ, k = k), base)
    info(f"recall@$k: pseudo-random $rndRecall%.3f, trained $trnRecall%.3f")
    // measured on this corpus: trained 0.458 vs pseudo-random 0.271 —
    // k-means finds the label clusters the random planes can't.
    assert(trnRecall > rndRecall,
      f"training must BEAT pseudo-random: trained $trnRecall%.3f <= random $rndRecall%.3f")
    assert(trnRecall > 0.4, f"trained recall $trnRecall%.3f implausibly low for 1/8 probed")
  }

  test("nProbe sweep: recall is monotone in probe width and exactly 1.0 at nProbe = lists") {
    val rows = Vector.ivfNprobeSweep(spark, sf)
      .collect().map(r => (r.getInt(0), r.getDouble(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    rows.sliding(2).foreach { case Array((pa, ra), (pb, rb)) =>
      assert(ra <= rb, f"recall must not drop with wider probes: nProbe=$pa $ra%.4f > nProbe=$pb $rb%.4f")
    }
    // probing every list is exhaustive search + exact re-rank
    assert(rows.last._2 == 1.0, f"nProbe=lists must be exact, got ${rows.last._2}%.4f")
    assert(rows.head._2 > 0.0, "even one probed list must find same-list neighbors")
  }
}
