package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The HOF->native optimizer rewrite, on the fixture session (built
  * WITH GraftExtensions by the session factory). */
class DotRewriteSpec extends AnyFunSuite with graft.SparkFixture {

  private def hofDot = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("optimizer rewrites aggregate(zip_with(*)) to graft_dot") {
    // non-literal inputs, else constant folding collapses the whole
    // plan to a LocalRelation before anything is observable
    val df = spark.range(1, 4)
      .select(col("id"),
        transform(sequence(lit(1L), lit(4L)), i => (i * col("id")).cast("double")).as("a"),
        transform(sequence(lit(1L), lit(4L)), i => (i + col("id")).cast("double")).as("b"))
      .select(col("id"), hofDot.as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), s"no rewrite in:\n$optimized")
    // id=1: a=[1,2,3,4], b=[2,3,4,5] -> 2+6+12+20 = 40
    assert(df.orderBy("id").collect()(0).getDouble(1) == 40.0)
  }

  test("rewrite preserves results vs a session without the rule") {
    import spark.implicits._
    val data = Seq(
      (Array(0.5, -1.25, 3.75, 0.0), Array(2.0, 4.0, -0.5, 9.9)),
      (Array(1e-8, 1e8, -1.0, 2.0), Array(7.0, 1e-8, 2.0, -3.0)))
    val df = data.toDF("a", "b").select(hofDot.as("d"))
    val expected = data.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y } }
    assert(df.collect().map(_.getDouble(0)).toSeq == expected)
  }

  test("non-matching HOF aggregates are left alone") {
    import spark.implicits._
    // sum of squares of ONE array (not a zip_with multiply of two)
    val df = Seq(Tuple1(Array(2.0, 3.0))).toDF("a")
      .select(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x).as("s"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    assert(df.collect()(0).getDouble(0) == 13.0)
  }

  test("function registry form works via spark.sql") {
    assert(spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0) == 11.0)
  }

  test("null semantics match the HOF form: length mismatch and null slots go NULL") {
    import spark.implicits._
    // zip_with pads a length mismatch with nulls and the fold goes
    // null; a null element nulls its product. The rewrite is only
    // result-preserving because graft_dot does the SAME.
    val df = Seq(
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0)),
      (Array[java.lang.Double](1.0, null), Array[java.lang.Double](3.0, 4.0)),
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0)))
      .toDF("a", "b")
    val hof = df.select(hofDot.as("d")).collect().map(r => Option(r.get(0)))
    val native = df.select(
      GraftFunctions.dot(spark, col("a"), col("b")).as("d"))
      .collect().map(r => Option(r.get(0)))
    assert(hof.toSeq == native.toSeq)
    assert(hof(0).isEmpty && hof(1).isEmpty && hof(2).contains(11.0))
  }

  test("graft_dot rejects wrong arity instead of silently dropping arguments") {
    val e = intercept[Exception](
      spark.sql("SELECT graft_dot(array(1.0d), array(1.0d), array(1.0d))").collect())
    assert(e.getMessage.contains("graft_dot"), s"unhelpful error: ${e.getMessage}")
  }
}
