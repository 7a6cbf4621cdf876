package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

/** The output checks' own tests: each check accepts a correct output and
  * rejects a deliberately corrupted one.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(sf, work) = args
    val spark = Session.create(work, 2)
    import spark.implicits._
    val results = scala.collection.mutable.LinkedHashMap[String, Boolean]()
    /** `check(good)` must pass and `check(bad)` must throw. */
    def rejects[A](name: String, good: A, bad: A)(check: A => Unit): Unit = {
      val accepts = try { check(good); true } catch { case NonFatal(e) => println(s"$name: good output rejected: $e"); false }
      val rejected = try { check(bad); false } catch { case NonFatal(_) => true }
      if (!rejected) println(s"$name: corrupted output accepted")
      results(name) = accepts && rejected
    }
    try {
      // copy: a published destination's digest against its source's
      val src = spark.read.parquet(s"$sf/orders.parquet").limit(2000).cache()
      val expect = Digest.of(src)
      val changed = src.withColumn("o_totalprice",
        when(col("o_orderkey") === src.head().getLong(0), col("o_totalprice") + 0.01).otherwise(col("o_totalprice")))
      rejects("copy: destination digest", src, changed)(d => Check.equal("digest", expect, Digest.of(d)))
      rejects("copy: destination row count", src, src.limit(1999))(d => Check.equal("digest", expect, Digest.of(d)))
      rejects("copy: analyst query digest", src.groupBy("o_orderstatus").count(),
        src.filter(col("o_orderkey") =!= src.head().getLong(0)).groupBy("o_orderstatus").count()) { d =>
        Check.equal("query", Digest.of(src.groupBy("o_orderstatus").count()), Digest.of(d))
      }

      // lake: a read and the consumer's sink against the model
      val orders = src.collect().toSeq.map(r => Gen.Order(r.getLong(0), r.getLong(1), r.getString(2),
        math.round(r.getDouble(3) * 100), r.getAs[java.time.LocalDateTime](4), r.getString(5)))
      val m = new Gen.LakeModel(spark, src.schema, orders, Map(orders.head.cust -> 2L))
      m.applyAppend(orders)
      val agg = (d: org.apache.spark.sql.DataFrame) => {
        val r = d.agg(count(lit(1)), sum("o_orderkey"), sum(round(col("o_totalprice") * 100).cast("long")))
          .collect().head
        Check.equal("range read", m.agg(_ => true), (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      rejects("lake: read vs model", m.frame(orders), m.frame(orders.tail))(agg)
      rejects("lake: sink vs model", m.statusTotals,
        m.statusTotals.map { case (s, (n, c, u)) => s -> (n, c + 1, u) }) { got =>
        Check.equal("consumer sink", m.statusTotals, got)
      }

      // curate: planted pairs, cut/keep-best/log agreement, vector outputs
      val planted = Seq(Gen.Planted(1L, 1000001L, 0.02, 0.95), Gen.Planted(2L, 1000002L, 0.4, 0.2))
      val inputs = new Gen.CurateInputs(4L, planted, Map.empty, Nil)
      val classes = Seq((1L, 1L), (1000001L, 1L), (2L, 2L), (1000002L, 1000002L)).toDF("doc_id", "class_id")
      val split = Seq((1L, 1L), (1000001L, 1000001L), (2L, 2L), (1000002L, 1000002L)).toDF("doc_id", "class_id")
      rejects("curate: planted pairs share a class", classes, split)(c => Checks.plantedPairs(inputs, c))

      val kb = Seq((1L, 1L, true), (1000001L, 1L, false), (2L, 2L, true), (1000002L, 1000002L, true))
        .toDF("doc_id", "class_id", "keep")
      val cut = Seq((1L, true, "train", "en"), (1000001L, false, "train", "en"), (2L, true, "val", "en"),
        (1000002L, true, "train", "de")).toDF("doc_id", "dedup_keep", "split", "lang")
      val log = s"$work/selftest_log"
      val v = graft.core.SnapshotLog.commit(spark, cut, log)
      val badCut = cut.withColumn("dedup_keep", col("doc_id") =!= 1L)
      rejects("curate: cut agrees with keep-best", cut, badCut) { c =>
        Checks.cutAgrees(spark, 4L, kb, c, log, v - 1, v)
      }
      rejects("curate: committed version", v, v + 1) { got => Checks.cutAgrees(spark, 4L, kb, cut, log, v - 1, got) }
      val sweepSchema = Seq((1, 0.5), (8, 1.0)).toDF("n_probe", "mean_recall").schema
      def sweep(xs: (Int, Double)*) = xs.map { case (n, r) =>
        new GenericRowWithSchema(Array[Any](n, r), sweepSchema): Row
      }.toArray
      rejects("curate: recall sweep", sweep(1 -> 0.5, 2 -> 0.75, 8 -> 1.0), sweep(1 -> 0.5, 2 -> 0.4, 8 -> 1.0))(
        Checks.recallSweep)
      rejects("curate: exhaustive probe is exact", sweep(1 -> 0.5, 8 -> 1.0), sweep(1 -> 0.5, 8 -> 0.9))(
        Checks.recallSweep)

      // semantic keep-best: two IVF lists (the axes), a planted pair in
      // each, and a third vector in the first class
      val vectors = Map(1L -> Array(1.0, 0.0), 1000001L -> Array(0.98, 0.02), 3L -> Array(0.8, 0.2),
        2L -> Array(0.0, 1.0), 1000002L -> Array(0.01, 0.99))
      val vecInputs = new Gen.CurateInputs(0L, Nil, vectors, Seq(1L -> 1000001L, 2L -> 1000002L))
      val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
      val semSchema = Seq((1L, 1L, 0.5, true)).toDF("vec_id", "class_id", "cos_ctr", "keep").schema
      /** Output rows for a class assignment, keeping `kept` per class. */
      def semantic(classOf: Map[Long, Long], kept: Set[Long]): Array[Row] = {
        val cos = Checks.cosToClassMean(vectors, classOf)
        classOf.toSeq.sorted.map { case (v, c) =>
          new GenericRowWithSchema(Array[Any](v, c, math.rint(cos(v) * 1e4) / 1e4, kept(v)), semSchema): Row
        }.toArray
      }
      val classes2 = Map(1L -> 1L, 1000001L -> 1L, 3L -> 1L, 2L -> 2L, 1000002L -> 2L)
      val good = semantic(classes2, Set(1000001L, 2L))
      rejects("curate: semantic planted pairs share a class", good,
        semantic(classes2 + (1000002L -> 1000002L), Set(1000001L, 2L, 1000002L)))(
        Checks.semanticKeepBest(vecInputs, cents, _))
      rejects("curate: semantic keep-best keeps the closest", good, semantic(classes2, Set(3L, 2L)))(
        Checks.semanticKeepBest(vecInputs, cents, _))
      rejects("curate: semantic cosine to the class mean", good,
        good.map(r => if (r.getLong(0) == 3L) new GenericRowWithSchema(Array[Any](3L, 1L, 0.5, false), semSchema)
          else r))(Checks.semanticKeepBest(vecInputs, cents, _))
      rejects("curate: semantic planted vectors are classed", good, good.filter(_.getLong(0) != 1000002L))(
        Checks.semanticKeepBest(vecInputs, cents, _))
      rejects("curate: semantic vectors listed once", good, good :+ good.head)(
        Checks.semanticKeepBest(vecInputs, cents, _))
    } finally spark.stop()
    val passed = results.nonEmpty && results.values.forall(identity)
    println("PERFBENCH_RESULT " + Json.obj("passed" -> passed.toString,
      "cases" -> Json.obj(results.toSeq.map { case (k, ok) => k -> ok.toString }: _*)))
    System.exit(0)
  }
}
