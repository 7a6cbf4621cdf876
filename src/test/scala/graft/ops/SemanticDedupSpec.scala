package graft.ops

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.functions.GraftFunctions

/** SemDeDup-style semantic dedup (trained-list blocking + exact
  * within-list cosine): planted-parallel recall, agreement with the
  * LSH-banded `embNearDups` on the same plant, and exact-verify
  * precision against the unblocked brute-force pair set. */
class SemanticDedupSpec extends AnyFunSuite with SparkFixture {

  /** Four disjoint-support directions — cross-group cosine is exactly
    * 0, within-group (scaled copies) exactly 1. */
  private def plantedDir(): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_semdedup_").toString
    def block(b: Int, s: Float) = Array.tabulate(64)(i => if (i / 16 == b) s else 0f)
    val rows =
      Seq(0.5f, 1f, 2f, 3f, 5f).zipWithIndex.map { case (s, i) => (i.toLong, block(0, s), 0) } ++
      Seq(1f, 2f, 4f).zipWithIndex.map { case (s, i) => (10L + i, block(1, s), 1) } ++
      Seq((20L, block(2, 1f), 2), (21L, block(3, 1f), 3))
    rows.toDF("vec_id", "embedding", "label")
      .repartition(3).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("planted parallel vectors: recall 1.0 at the paper's 0.95 — and agreement with embNearDups") {
    val d = plantedDir()
    val out = Vector.semanticDedup(spark, d, lists = 2, threshold = 0.95)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val expected =
      (for (i <- 0L until 5L; j <- i + 1 until 5L) yield (i, j)).toSet ++
      (for (i <- 10L until 13L; j <- i + 1 until 13L) yield (i, j)).toSet
    assert(out.map(_._1).toSet == expected,
      s"every within-direction pair and nothing else; got ${out.map(_._1).toSet}")
    assert(out.forall(_._2 == 1.0), "parallel vectors must score cos 1.0")
    // the LSH-banded near-dup path finds the same pairs on this plant
    // (parallel positive scales share every hyperplane sign)
    val lsh = Vector.embNearDups(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == expected, s"embNearDups must agree on the plant, got $lsh")
  }

  test("identical-vector classes expand to all within pairs without riding the list join") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_semdd_dup_").toString
    val v = Array.tabulate(64)(i => if (i % 2 == 0) 1f else 0.5f)
    val o = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -1f)
    val rows = (0 until 16).map(i => (i.toLong, v, 0)) :+ ((99L, o, 1))
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4).write.parquet(s"$d/embeddings.parquet")
    val out = Vector.semanticDedup(spark, d, lists = 2, threshold = 0.95)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val within = (for (i <- 0 until 16; j <- i + 1 until 16)
      yield (i.toLong, j.toLong)).toSet
    assert(out.map(_._1).toSet == within,
      s"expected exactly the C(16,2) within pairs, got ${out.length}")
    assert(out.forall(_._2 == 1.0), "identical vectors must score cos 1.0")
  }

  test("corpus precision: every flagged pair is a true >= threshold pair with the exact cosine") {
    val dir = "/root/testdata/sf0.001"
    val out = Vector.semanticDedup(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // unblocked brute force over the small corpus (id-pairs then exact
    // cosine — test-only; the operator's whole point is NOT doing this)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    val brute = a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", round(
        Vector.dot(col("va"), col("vb")) /
          (sqrt(Vector.dot(col("va"), col("va"))) * sqrt(Vector.dot(col("vb"), col("vb")))), 4))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b", "cos")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.nonEmpty, "the corpus calibration threshold must flag something")
    out.foreach { case (pair, c) =>
      assert(brute.get(pair).contains(c),
        s"$pair flagged with cos $c but brute force says ${brute.get(pair)}")
    }
  }

  test("semantic_dup_classes equals sequential union-find over the declared pairs") {
    val sf = "/root/testdata/sf0.001"
    val pairs = Vector.semanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // sequential union-find with min-id labels — the model the
    // distributed label propagation must match exactly
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = ids.map(i => i -> find(i)).toMap
    val got = Vector.semanticDupClasses(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected,
      s"classes diverge: only-engine=${(got.toSet -- expected.toSet).take(5)} " +
        s"only-model=${(expected.toSet -- got.toSet).take(5)}")
    assert(got.values.toSet.size > 1, "more than one semantic class expected")
  }

  test("semantic_keep_best: one survivor per class, and it is the closest to the mean") {
    val sf = "/root/testdata/sf0.001"
    val out = Vector.semanticKeepBest(spark, sf).collect().toSeq
    val rows = out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // bit-identical to the per-dimension column-form centroids, in order
    val ref = columnFormKeepBest(sf)
    assert(out == ref, s"first difference: ${out.zip(ref).find(p => p._1 != p._2)}")
    // membership equals semantic_dup_classes exactly
    val classesOf = Vector.semanticDupClasses(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.map(r => (r._1, r._2)).toMap == classesOf)
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"class $cid: ${kept.length} survivors")
      val best = members.maxBy(m => (m._3, -m._1)) // rounded cos desc, vec_id asc
      assert(kept.head._1 == best._1,
        s"class $cid kept ${kept.head} but the centroid-closest is $best")
    }
  }

  /** `semanticKeepBest` with its class centroids as `dim` separate
    * decimal sums — the form graft_vsum replaced — and the rest of the
    * operator unchanged: the reference its rows must equal, in order. */
  private def columnFormKeepBest(dir: String, dim: Int = 64): Seq[Row] = {
    def dot(a: Column, b: Column) = GraftFunctions.dot(spark, a, b)
    val member = Vector.semanticDupClasses(spark, dir).join(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb")),
      "vec_id")
    val sums = (0 until dim).map(i =>
      sum(element_at(col("emb"), i + 1).cast("decimal(38,12)")).as(s"s$i")) :+
      count(lit(1)).as("m")
    val cents = member.groupBy("class_id").agg(sums.head, sums.tail: _*)
      .select(col("class_id"), array((0 until dim).map(i =>
        round((col(s"s$i") / col("m")).cast("double"), 6)): _*).as("ctr"))
    val w = Window.partitionBy("class_id").orderBy(col("cos_ctr").desc, col("vec_id").asc)
    member.join(cents, "class_id")
      .select(col("vec_id"), col("class_id"),
        round(dot(col("emb"), col("ctr"))
          / (sqrt(dot(col("emb"), col("emb"))) * sqrt(dot(col("ctr"), col("ctr")))), 4).as("cos_ctr"))
      .withColumn("keep", row_number().over(w) === 1)
      .orderBy("vec_id")
      .collect().toSeq
  }
}
