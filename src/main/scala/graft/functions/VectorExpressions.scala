package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.BigInteger

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, DecimalType, DoubleType}

/** `graft_dot(array<double>, array<double>) -> double`: sequential
  * left-fold dot product as a native Catalyst expression with
  * whole-stage codegen — the tight loop the interpreted
  * `zip_with`+`aggregate` formulation can't give (those evaluate a
  * lambda object per element). Accumulation order is index order,
  * identical to the HOF formulation and to DuckDB's list_dot_product,
  * so oracle results are bit-equal.
  *
  * This is the SURVEY §4.2 "custom Expression only if the built-in
  * formulation is a bench bottleneck" escape hatch — measured ~3x on
  * the kNN path. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // (ExpectsInputTypes is not usable outside spark.sql — its
  // AbstractDataType is private[sql] — so check manually.)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // NULL semantics mirror the HOF form EXACTLY, so the optimizer
  // rewrite below is result-preserving on every input: zip_with pads a
  // length mismatch with nulls and the fold then goes null, and a null
  // element nulls its product and the fold — so mismatch -> NULL and
  // any null slot -> NULL here too (the result can be null even for
  // non-null inputs, hence the nullable override).
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_vsum(array<double>) -> array<decimal(38,12)>`: the
  * element-wise exact sum of a group's vectors, as ONE aggregate in
  * place of `dim` separate `sum(cast(element_at(v, i) AS
  * DECIMAL(38,12)))` columns, with the same result bit for bit. The
  * column form runs outside whole-stage codegen at 64 columns and
  * regenerates its projections per task; this one walks each array once.
  *
  *  - Each element converts exactly as `CAST(x AS DECIMAL(38,12))` does:
  *    `Decimal(x)`, then `changePrecision(38, 12)` (HALF_UP). NaN and
  *    infinities become null; a value past decimal(38,12) becomes null,
  *    or raises the cast's error when ANSI mode is on.
  *  - Null arrays and null elements are skipped, as `sum` skips nulls. A
  *    shorter array adds nothing past its end (`element_at`'s non-ANSI
  *    null); the result is as long as the longest array.
  *  - Sums are exact. Like a grouped `sum`, whose buffer goes null the
  *    moment a running total leaves decimal(38,12), a slot that leaves
  *    it stays overflowed: null, or `sum`'s overflow error under ANSI.
  *  - A slot no element reached is null; a group with no non-null array
  *    is null.
  *
  * `failOnError` is the session's ANSI mode when the expression is
  * built, as for Spark's own `sum` and `cast`. */
case class VectorSum(
    child: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[VectorSum.Sums] with UnaryLike[Expression] {
  import VectorSum._

  override def dataType: DataType = ArrayType(SumType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vsum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_vsum expects array<double>, got ${dt.simpleString}")
  }

  override def createAggregationBuffer(): Sums = new Sums

  override def update(sums: Sums, input: InternalRow): Sums = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val n = a.numElements()
      sums.open(n)
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          val d = toDecimal(a.getDouble(i))
          if (d != null) sums.add(i, d.toJavaBigDecimal.unscaledValue)
        }
        i += 1
      }
    }
    sums
  }

  /** `CAST(x AS DECIMAL(38,12))`, null for NaN and infinities. */
  private def toDecimal(x: Double): Decimal =
    if (x.isNaN || x.isInfinite) null
    else {
      val d = Decimal(x)
      if (d.changePrecision(SumType.precision, SumType.scale)) d
      else if (failOnError) throw Bridge.decimalOutOfRange(d, SumType)
      else null
    }

  override def merge(sums: Sums, other: Sums): Sums = {
    if (other.present) sums.open(other.n)
    var i = 0
    while (i < other.n) {
      other.state(i) match {
        case Value => sums.add(i, other.unscaled(i))
        case Overflow => sums.overflow(i)
        case _ =>
      }
      i += 1
    }
    sums
  }

  override def eval(sums: Sums): Any =
    if (!sums.present) null
    else new GenericArrayData(Array.tabulate[Any](sums.n) { i =>
      sums.state(i) match {
        case Value => Decimal(new java.math.BigDecimal(sums.unscaled(i), SumType.scale),
          SumType.precision, SumType.scale)
        case Overflow if failOnError => throw Bridge.decimalSumOverflow()
        case _ => null
      }
    })

  override def serialize(sums: Sums): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeBoolean(sums.present)
    out.writeInt(sums.n)
    for (i <- 0 until sums.n) {
      out.writeByte(sums.state(i))
      if (sums.state(i) == Value) {
        val u = sums.unscaled(i).toByteArray
        out.writeInt(u.length)
        out.write(u)
      }
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Sums = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val present = in.readBoolean()
    val n = in.readInt()
    val sums = new Sums
    if (present) sums.open(n)
    for (i <- 0 until sums.n) in.readByte() match {
      case Value =>
        val u = new Array[Byte](in.readInt())
        in.readFully(u)
        sums.add(i, new BigInteger(u))
      case Overflow => sums.overflow(i)
      case _ =>
    }
    sums
  }

  override def withNewMutableAggBufferOffset(offset: Int): VectorSum =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VectorSum =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): VectorSum =
    copy(child = newChild)
}

object VectorSum {
  val SumType: DecimalType = DecimalType(38, 12)
  /** Unscaled values (scale 12) of magnitude >= 10^38 do not fit. */
  private val Limit = BigInteger.TEN.pow(SumType.precision)

  // slot states; a new slot is Empty
  private final val Empty: Byte = 0
  private final val Value: Byte = 1
  private final val Overflow: Byte = 2

  /** Per-slot exact sums of unscaled decimals (scale 12). */
  final class Sums {
    var present = false
    var n = 0
    var state = new Array[Byte](0)
    private var sums = new Array[BigInteger](0)

    /** A non-null array of `len` elements arrived. */
    def open(len: Int): Unit = {
      present = true
      if (len > n) {
        state = java.util.Arrays.copyOf(state, len)
        sums = java.util.Arrays.copyOf(sums, len)
        n = len
      }
    }

    def unscaled(i: Int): BigInteger = sums(i)

    def overflow(i: Int): Unit = {
      state(i) = Overflow
      sums(i) = null
    }

    def add(i: Int, x: BigInteger): Unit =
      if (state(i) != Overflow) {
        val s = if (state(i) == Value) sums(i).add(x) else x
        // |s| < 2^126 < 10^38 needs no exact check
        if (s.bitLength > 126 && s.abs.compareTo(Limit) >= 0) overflow(i)
        else { state(i) = Value; sums(i) = s }
      }
  }
}

/** Optimizer rule: rewrite the declarative higher-order-function dot
  * product — `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0,
  * (acc,v) -> acc+v)` — into the codegen `DotProduct` expression.
  * Users write the composable HOF form; the optimizer swaps in the
  * tight loop. Accumulation order is identical (index-order left
  * fold), so the rewrite is result-preserving bit-for-bit. */
object DotProductRewrite extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private def isVar(e: Expression, v: NamedExpression): Boolean = (e, v) match {
    case (a: NamedLambdaVariable, b: NamedLambdaVariable) => a.exprId == b.exprId
    case _ => false
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(mul: Multiply, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(zero, org.apache.spark.sql.types.DoubleType),
          LambdaFunction(add: Add, Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
          LambdaFunction(fin, Seq(fv: NamedLambdaVariable), _))
        if zero == 0.0 && isDoubleArray(a) && isDoubleArray(b) &&
          ((isVar(mul.left, x) && isVar(mul.right, y)) || (isVar(mul.left, y) && isVar(mul.right, x))) &&
          ((isVar(add.left, acc) && isVar(add.right, v)) || (isVar(add.left, v) && isVar(add.right, acc))) &&
          isVar(fin, fv) =>
      DotProduct(a, b)
  }
}

/** Session-extensions hook (`spark.sql.extensions=graft.functions.GraftExtensions`
  * or `.withExtensions(new GraftExtensions)`): injects the function
  * registry entry and the HOF->native optimizer rewrite at session
  * build. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.dotProductDescriptor)
    ext.injectFunction(GraftFunctions.vectorSumDescriptor)
    ext.injectOptimizerRule(_ => DotProductRewrite)
    // whole-operator extension (tier (c)): the native as-of join
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // runtime source-key file pruning for merge-on-read SQL DML —
    // preCBO so the V2 scans already exist when the rule fires
    ext.injectPreCBORule(_ => graft.plans.MergeRuntimeFilePruning)
  }
}

object GraftFunctions {
  private[graft] val dotProductDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      if (children.length != 2)
        throw new IllegalArgumentException(
          s"graft_dot expects exactly 2 arguments, got ${children.length}")
      DotProduct(children(0), children(1))
    })

  private[graft] val vectorSumDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_vsum"),
    new ExpressionInfo(classOf[VectorSum].getName, "graft_vsum"),
    (children: Seq[Expression]) => {
      if (children.length != 1)
        throw new IllegalArgumentException(
          s"graft_vsum expects exactly 1 argument, got ${children.length}")
      VectorSum(children.head)
    })

  /** Idempotent runtime registration — lets library code use the
    * functions on sessions built without the extensions hook. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((id, info, builder) <- Seq(dotProductDescriptor, vectorSumDescriptor)
         if !reg.functionExists(id))
      reg.registerFunction(id, info, builder)
  }

  /** Column-API face of the native dot product. */
  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_dot", a, b)
  }

  /** Column-API face of the exact vector-sum aggregate. */
  def vsum(spark: SparkSession, v: Column): Column = {
    ensureRegistered(spark)
    call_function("graft_vsum", v)
  }
}
