package graft.functions

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** `graft_vsum` against the per-dimension column form it replaced —
  * `sum(cast(element_at(v, i) AS DECIMAL(38,12)))` for each i < dim plus
  * the group key — element for element, under both ANSI settings, on
  * one partition and on several (partial buffers are serialized for
  * the exchange), and through the sort-based fallback. */
class VectorSumSpec extends AnyFunSuite with SparkFixture {

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("v", ArrayType(DoubleType, containsNull = true), nullable = true)))

  private def frame(rows: Seq[(Int, Seq[java.lang.Double])], parts: Int): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v) => Row(k, v) }, parts), schema)
    // keep the input off the constant-folding path and in `parts` partitions
    df.filter(col("k") >= 0)
  }

  /** One group's result: dim entries, each a decimal or null. */
  private type Sums = Map[Int, Seq[JBigDecimal]]

  private def columnForm(df: DataFrame, dim: Int): Sums = {
    val sums = (0 until dim).map(i =>
      sum(element_at(col("v"), i + 1).cast("decimal(38,12)")).as(s"s$i"))
    df.groupBy("k").agg(sums.head, sums.tail: _*).collect()
      .map(r => r.getInt(0) -> (1 to dim).map(r.getDecimal)).toMap
  }

  private def kernelForm(df: DataFrame, dim: Int): Sums =
    df.groupBy("k").agg(GraftFunctions.vsum(spark, col("v"))).collect()
      .map { r =>
        val s = if (r.isNullAt(1)) Seq.empty else r.getSeq[JBigDecimal](1)
        r.getInt(0) -> (0 until dim).map(i => if (i < s.length) s(i) else null)
      }.toMap

  private def condition(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.getOrElse(e.toString)

  private def outcome(body: => Sums): Either[String, Sums] =
    try Right(body) catch { case e: Exception => Left(condition(e)) }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Both forms agree (same sums, or the same error condition) under
    * `ansi`, on 1 and on 4 partitions; returns the column form's outcome. */
  private def agree(rows: Seq[(Int, Seq[java.lang.Double])], dim: Int,
                    ansi: Boolean): Either[String, Sums] =
    withConf("spark.sql.ansi.enabled" -> ansi.toString) {
      val ref = outcome(columnForm(frame(rows, 1), dim))
      for (parts <- Seq(1, 4)) {
        val got = outcome(kernelForm(frame(rows, parts), dim))
        assert(got == ref, s"ansi=$ansi, $parts partition(s): graft_vsum $got, column form $ref")
      }
      ref
    }

  private def boxed(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)

  private val Dim = 16

  /** Seeded vectors with negative values, each group salted with values
    * that sit on a HALF_UP boundary at the 12th decimal, plus a group of
    * large magnitudes whose running sums leave the long range and come
    * back. */
  private val seeded: Seq[(Int, Seq[java.lang.Double])] = {
    val rnd = new scala.util.Random(20261017)
    val boundary = Seq(1.0000000000005, -1.0000000000005, 5.0e-13, -5.0e-13,
      0.1234567890125, -2.5000000000005, 123.4567891234565, 0.0000000000015)
    val plain = (0 until 240).map { r =>
      (r % 6, boxed(Seq.tabulate(Dim)(i =>
        if ((r + i) % 7 == 0) boundary((r + i) % boundary.length)
        else rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)): _*))
    }
    val big = (0 until 12).map(r =>
      (6, boxed(Seq.tabulate(Dim)(i => (if ((r + i) % 2 == 0) 1 else -1) * 9.0e6 * (1 + r % 3)): _*)))
    plain ++ big
  }

  test("seeded vectors with negatives and HALF_UP boundaries: equal to the column form") {
    for (ansi <- Seq(false, true)) {
      val ref = agree(seeded, Dim, ansi)
      assert(ref.isRight && ref.toOption.get.size == 7, s"ansi=$ansi: $ref")
    }
    // the boundary values really round HALF_UP away from zero
    val one = withConf("spark.sql.ansi.enabled" -> "false")(
      kernelForm(frame(Seq((0, boxed(1.0000000000005, -1.0000000000005))), 1), 2))
    assert(one(0) == Seq(new JBigDecimal("1.000000000001"), new JBigDecimal("-1.000000000001")))
  }

  test("near decimal(38,12) overflow: the same sums, nulls or errors under either ANSI setting") {
    val fits = Seq((0, boxed(4.0e25, -1.0)), (0, boxed(4.0e25, -2.0)), (0, boxed(1.9e25, -3.0)))
    val sumOverflows = Seq((0, boxed(6.0e25, 1.0)), (0, boxed(5.0e25, 1.0)))
    val castOverflows = Seq((0, boxed(2.0e26, 1.0)), (0, boxed(1.0, 1.0)))
    // a running total that leaves decimal(38,12) and comes back: a
    // grouped sum's buffer goes null at the first step that does not fit
    val runningOverflow = Seq((0, boxed(9.0e25, 0.0)), (0, boxed(9.0e25, 0.0)), (0, boxed(-9.0e25, 0.0)))
    val expect = Map(
      (fits, false) -> "value", (fits, true) -> "value",
      (sumOverflows, false) -> "null", (sumOverflows, true) -> "ARITHMETIC_OVERFLOW",
      (castOverflows, false) -> "value", (castOverflows, true) -> "NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION",
      (runningOverflow, false) -> "null", (runningOverflow, true) -> "ARITHMETIC_OVERFLOW")
    for (((rows, ansi), want) <- expect) {
      val got = if (rows eq runningOverflow) {
        // order-dependent in the column form too: compare on one partition
        withConf("spark.sql.ansi.enabled" -> ansi.toString) {
          val ref = outcome(columnForm(frame(rows, 1), 2))
          assert(outcome(kernelForm(frame(rows, 1), 2)) == ref, s"ansi=$ansi running overflow")
          ref
        }
      } else agree(rows, 2, ansi)
      val seen = got match {
        case Left(c) => c
        case Right(s) if s(0).head == null => "null"
        case Right(_) => "value"
      }
      assert(seen == want, s"ansi=$ansi $rows: $got")
    }
  }

  test("NaN and infinite elements, null arrays, null elements, empty groups, short and long vectors") {
    val nan = java.lang.Double.NaN
    val rows = Seq(
      (0, boxed(1.5, nan, -2.25)), (0, boxed(nan, Double.PositiveInfinity, 0.75)),
      (1, null), (1, boxed(0.5, 0.25, 0.125)),
      (2, Seq[java.lang.Double](null, 3.0, null)), (2, Seq[java.lang.Double](null, -1.0, null)),
      (3, null), (3, null),                                       // no non-null array
      (4, Seq.empty[java.lang.Double]),                           // empty vector
      (5, boxed(1.0)), (5, boxed(1.0, 2.0, 3.0, 4.0, 5.0)),       // shorter and longer than dim
      (6, boxed(nan, nan, nan)))                                  // every element null after the cast
    val ref = agree(rows, 3, ansi = false)
    val s = ref.toOption.get
    assert(s(0) == Seq(new JBigDecimal("1.500000000000"), null, new JBigDecimal("-1.500000000000")))
    assert(s(2) == Seq(null, new JBigDecimal("2.000000000000"), null))
    assert(s(3).forall(_ == null) && s(4).forall(_ == null) && s(6).forall(_ == null))
    assert(s(5) == Seq("2", "2", "3").map(x => new JBigDecimal(x).setScale(12)))
    // under ANSI `element_at` rejects an index past a short vector, so
    // the column form is defined only for rows at least dim long
    val full = rows.filter { case (_, v) => v == null || v.length >= 3 }
    agree(full, 3, ansi = true)
    // a global aggregate over no rows: null, as each column sum is null
    val empty = frame(rows, 2).filter(col("k") > 100)
    assert(empty.agg(GraftFunctions.vsum(spark, col("v"))).collect()(0).isNullAt(0))
    assert(empty.agg(sum(element_at(col("v"), 1).cast("decimal(38,12)")))
      .collect()(0).isNullAt(0))
  }

  test("sort-based fallback (serialized buffers) equals the hash path and the column form") {
    withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1") {
      val plan = frame(seeded, 4).groupBy("k").agg(GraftFunctions.vsum(spark, col("v")))
        .queryExecution.executedPlan.toString
      assert(plan.contains("ObjectHashAggregate"), plan)
      for (ansi <- Seq(false, true)) agree(seeded, Dim, ansi)
    }
  }
}
