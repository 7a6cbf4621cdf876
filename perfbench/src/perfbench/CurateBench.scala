package perfbench

import graft.core.SnapshotLog
import graft.ops.{Text, Vector}

/** `curate`: the LLM-curation path over a seeded near-duplicate corpus.
  *
  * One pass runs the one-pass pipeline's stage sequence (dup classes ->
  * keep-best -> published training cut -> snapshot-log commit), then
  * semantic keep-best (IVF k-means plus the within-list pair join) over
  * the jittered embeddings. The dedup and vector stages count as reads of
  * the corpus; the cut publish and the commit are the pass's writes. */
final class CurateBench(ctx: Ctx) extends Workload {
  import ctx._
  private var corpus = ""
  private def out = s"$work/${new java.io.File(corpus).getName}"
  private def log = s"$out/training_cut_log"
  private var gen: Gen.CurateInputs = _
  private var warmGen: Gen.CurateInputs = _
  private var lastVersion = 0L
  /** The trained IVF centroids of the measured corpus (only measured
    * rounds are checked). */
  private lazy val centroids = Vector.trainIvfCentroids(spark, s"$inputs/corpus")
  private val barrierSamples = scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()

  def load(): Unit = {
    warmGen = Gen.curate(spark, s"$inputs/warmup")
    gen = Gen.curate(spark, s"$inputs/corpus")
  }

  /** Round 0 (the warm-up) runs on the small warm-up corpus: plan
    * compilation and JIT do not depend on the data size. */
  def round(r: Int): Unit = {
    if (r <= 1) {
      corpus = if (r == 0) s"$inputs/warmup" else s"$inputs/corpus"
      lastVersion = 0L
    }
    val gen = if (r == 0) warmGen else this.gen
    val start = rec.mark
    rec.op("read", "curate.dupClasses") {
      tracer.span("Text.dupClasses") {
        Text.dupClasses(spark, corpus).write.mode("overwrite").parquet(s"$out/dup_classes.parquet")
      }
    } { _ => Checks.plantedPairs(gen, spark.read.parquet(s"$out/dup_classes.parquet")) }

    rec.op("read", "curate.keepBest") {
      tracer.span("Text.dedupKeepBestFrom") {
        Text.dedupKeepBestFrom(spark, corpus, spark.read.parquet(s"$out/dup_classes.parquet"))
          .write.mode("overwrite").parquet(s"$out/keep_best.parquet")
      }
    } { _ => () }

    rec.op("write", "curate.publishCut") {
      tracer.span("Text.publishCut") {
        val kb = spark.read.parquet(s"$out/keep_best.parquet")
        Text.publishCut(spark, Text.trainingCutFrom(spark, corpus, kb), s"$out/training_cut").collect()
      }
    } { _ => () }

    val committed = rec.op("write", "curate.commit") {
      tracer.span("SnapshotLog.commit") {
        SnapshotLog.commit(spark, spark.read.parquet(s"$out/training_cut"), log,
          partitionBy = Seq("split", "lang"))
      }
    } { v =>
      Checks.cutAgrees(spark, gen.docs, spark.read.parquet(s"$out/keep_best.parquet"),
        spark.read.parquet(s"$out/training_cut"), log, lastVersion, v)
      rec.published(gen.docs)
    }
    committed.foreach(v => lastVersion = v)
    // the pass's cut is committed once its four stages have run
    rec.fresh(rec.secsSince(start))
    rec.amplification(Disk.bytes(s"$out/training_cut").toDouble / rewrittenOnce(s"$out/training_cut"))

    rec.op("read", "curate.semanticKeepBest") {
      tracer.span("Vector.semanticKeepBest")(Vector.semanticKeepBest(spark, corpus).collect())
    } { out =>
      Checks.semanticKeepBest(gen, centroids, out)
    }

    // the nProbe sweep is traced, not timed: it runs in traced rounds only
    // (and in a traced run's warm-up), to keep untraced runs short
    if ((r == 0 && trace) || tracer.enabledNow)
      rec.op("other", "curate.ivfNprobeSweep") {
        tracer.span("Vector.ivfNprobeSweep")(Vector.ivfNprobeSweep(spark, corpus).collect())
      }(Checks.recallSweep)
    if (tracer.enabledNow) barrierSamples += Barrier.snapshot(spark)
  }

  /** Bytes of the same rows written once, as one unpartitioned file set. */
  private def rewrittenOnce(dir: String): Double = {
    val tmp = s"$work/once"
    spark.read.parquet(dir).coalesce(1).write.mode("overwrite").parquet(tmp)
    val b = Disk.bytes(tmp).toDouble
    Disk.delete(tmp)
    b
  }

  def layerMetrics(tr: Tracer, rounds: Int): Map[String, Double] = {
    def mean(name: String) = { val s = tr.named(name); if (s.isEmpty) 0.0 else s.map(_.secs).sum / s.size }
    // LSH waste, counted outside the timed passes
    val candidates = Text.minhashCandidates(spark, corpus).count().toDouble
    val verified = Text.minhashNearDups(spark, corpus, 0.5).count().toDouble
    val last = barrierSamples.lastOption.getOrElse((0.0, 0.0, 0.0))
    Map(
      "Text.dupClasses_s" -> mean("Text.dupClasses"),
      "Text.dedupKeepBestFrom_s" -> mean("Text.dedupKeepBestFrom"),
      "Text.publishCut_s" -> mean("Text.publishCut"),
      "SnapshotLog.commit_s" -> mean("SnapshotLog.commit"),
      "Text.lsh_candidates" -> candidates,
      "Text.lsh_useful_ratio" -> (if (candidates > 0) verified / candidates else 0.0),
      "Vector.semanticKeepBest_s" -> mean("Vector.semanticKeepBest"),
      "Vector.ivfNprobeSweep_s" -> mean("Vector.ivfNprobeSweep"),
      "Barriers.persisted_rdds" -> last._1,
      "Barriers.mem_mb" -> last._2,
      "Barriers.disk_mb" -> last._3)
  }

  private def tracer = rec.tracer
}
