package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks of the curate workload (copy and lake compare digests
  * and model values inline). Each throws on a wrong output. */
object Checks {
  /** Planted pairs this similar are found by the MinHash LSH with
    * probability above 1 - 1e-7 (16 bands of 4 rows), so each must land
    * in one duplicate class. */
  val SureJaccard = 0.9

  def plantedPairs(gen: Gen.CurateInputs, classes: DataFrame): Unit = {
    val classOf = classes.select("doc_id", "class_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sure = gen.planted.filter(_.jaccard >= SureJaccard)
    Check.holds("no planted pair is similar enough to check", sure.nonEmpty)
    val split = sure.filter(p => classOf.get(p.base).isEmpty || classOf.get(p.base) != classOf.get(p.variant))
    Check.holds(s"${split.size} of ${sure.size} planted near-duplicate pairs (jaccard >= $SureJaccard) " +
      s"split across classes, e.g. ${split.take(3).mkString(", ")}", split.isEmpty)
  }

  /** Keep-best survivors, the published cut and the committed log
    * version agree: one survivor per class, the cut's dedup flag is the
    * survivor flag, and version `v` (= previous + 1) holds exactly the
    * cut's rows. */
  def cutAgrees(spark: SparkSession, docs: Long, keepBest: DataFrame, cut: DataFrame,
      log: String, previous: Long, v: Long): Unit = {
    val kb = keepBest.agg(count(lit(1)), countDistinct("class_id"), count(when(col("keep"), 1)))
      .collect().head
    Check.equal("keep-best survivors per class", kb.getLong(1), kb.getLong(2))
    val joined = cut.join(keepBest.select(col("doc_id"), col("keep")), Seq("doc_id"), "left")
    val bad = joined.filter(col("keep").isNotNull && col("keep") =!= col("dedup_keep")).count()
    Check.equal("cut rows whose dedup flag disagrees with keep-best", 0L, bad)
    Check.equal("cut rows", docs, cut.count())
    Check.equal("committed version", previous + 1, v)
    val logged = graft.core.SnapshotLog.read(spark, log, Some(v))
    Check.equal("log rows at the committed version", Digest.of(cut.select(cut.columns.sorted.map(col): _*)),
      Digest.of(logged.select(cut.columns.sorted.map(col): _*)))
  }

  /** The IVF list margin (dot gap over the vector's norm) below which a
    * vector's list is left unchecked: recomputed dots may differ from the
    * engine's in their last bits. */
  val ListMargin = 1e-4
  /** Tolerance of a recomputed cosine to the class mean (the program
    * rounds centroids to 6 places and cosines to 4). */
  val CosTolerance = 1e-3

  private def dot(a: Seq[Double], b: Seq[Double]): Double = a.iterator.zip(b.iterator).map(x => x._1 * x._2).sum
  private def cosine(a: Seq[Double], b: Seq[Double]): Double = dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))

  /** Each vector's cosine to the mean of its class, recomputed. */
  def cosToClassMean(vectors: Map[Long, Array[Double]], classOf: Map[Long, Long]): Map[Long, Double] =
    classOf.groupBy(_._2).values.flatMap { members =>
      val vs = members.keys.toSeq.map(vectors(_).toSeq)
      val mean = vs.transpose.map(_.sum / vs.size)
      members.keys.map(v => v -> cosine(vectors(v).toSeq, mean))
    }.toMap

  /** Semantic keep-best (rows of vec_id, class_id, cos_ctr, keep) against
    * the inputs: each row is an input vector, none twice (vectors without
    * a near-duplicate are in no class, as in the text dup classes); every
    * planted jittered pair
    * that the trained IVF centroids `cents` put in one list, each vector
    * by a clear margin, shares a class (their cosine is far above the
    * class threshold, so the within-list pair join must link them); each
    * row's cosine to its class mean matches a recomputation; and each
    * class keeps exactly one vector, one closest to the class mean. */
  def semanticKeepBest(gen: Gen.CurateInputs, cents: Seq[Seq[Double]], out: Array[Row]): Unit = {
    val rows = out.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("class_id"), r.getAs[Double]("cos_ctr"),
      r.getAs[Boolean]("keep")))
    val ids = rows.map(_._1)
    Check.equal("semantic keep-best vectors listed twice", 0, ids.length - ids.distinct.length)
    val unknown = ids.filterNot(gen.vectors.contains)
    Check.holds(s"semantic keep-best lists vectors not in the input: ${unknown.take(3).mkString(", ")}",
      unknown.isEmpty)
    val classOf = rows.map(r => r._1 -> r._2).toMap
    def list(v: Array[Double]): Option[Int] = {
      val norm = math.sqrt(dot(v, v))
      val dots = cents.map(dot(v, _) / norm).zipWithIndex.sortBy(-_._1)
      if (dots(0)._1 - dots(1)._1 > ListMargin) Some(dots(0)._2) else None
    }
    val linked = gen.plantedVectors.filter { case (a, b) =>
      val la = list(gen.vectors(a))
      la.isDefined && la == list(gen.vectors(b))
    }
    Check.holds("no planted vector pair shares an IVF list", linked.nonEmpty)
    val split = linked.filter { case (a, b) => classOf.get(a).isEmpty || classOf.get(a) != classOf.get(b) }
    Check.holds(s"${split.size} of ${linked.size} planted vector pairs in one IVF list split across " +
      s"semantic classes, e.g. ${split.take(3).mkString(", ")}", split.isEmpty)
    val cos = cosToClassMean(gen.vectors, classOf)
    val off = rows.filter(r => math.abs(r._3 - cos(r._1)) > CosTolerance)
    Check.holds(s"${off.length} cosines to the class mean are wrong, e.g. " +
      off.take(3).map(r => s"${r._1}: ${r._3} (recomputed ${cos(r._1)})").mkString(", "), off.isEmpty)
    rows.groupBy(_._2).foreach { case (c, members) =>
      val kept = members.filter(_._4)
      Check.equal(s"semantic class $c survivors", 1, kept.length)
      val best = members.map(m => cos(m._1)).max
      Check.holds(s"semantic class $c keeps ${kept.head._1} (cosine ${cos(kept.head._1)}), not one at $best",
        cos(kept.head._1) >= best - CosTolerance)
    }
  }

  /** The nProbe sweep: recall never falls as more lists are probed, and
    * probing every list is exact. */
  def recallSweep(rows: Array[Row]): Unit = {
    val recall = rows.map(r => r.getAs[Int]("n_probe") -> r.getAs[Double]("mean_recall")).sortBy(_._1)
    Check.holds(s"recall falls with nProbe: ${recall.mkString(" ")}",
      recall.sliding(2).forall(w => w.length < 2 || w(0)._2 <= w(1)._2))
    Check.equal("recall when every list is probed", 1.0, recall.last._2)
  }
}

/** Persisted-RDD sentinel: what barrier caches hold after a pass. */
object Barrier {
  /** (persisted RDDs, memory MB, disk MB). */
  def snapshot(spark: SparkSession): (Double, Double, Double) = {
    val sc = spark.sparkContext
    val info = sc.getRDDStorageInfo
    (sc.getPersistentRDDs.size.toDouble, Disk.mb(info.map(_.memSize).sum), Disk.mb(info.map(_.diskSize).sum))
  }

  def snapshotJson(spark: SparkSession): String = {
    val (n, mem, disk) = snapshot(spark)
    Json.obj("rdds" -> Json.num(n), "mem_mb" -> Json.num(mem), "disk_mb" -> Json.num(disk))
  }
}
