package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-scoped bridge into Spark's `private[sql]` Dataset factory —
  * the standard way a library materializes a custom LogicalPlan
  * (graft.plans.AsofJoinPlan) as a DataFrame. This file is the ONLY
  * one in the repo compiled inside the org.apache.spark.sql package,
  * and it contains no logic beyond the two delegations. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Every field nullable, nested ones too: how a file source reads a given schema. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Codegen'd Bloom-filter probe: wraps Catalyst's
    * `BloomFilterMightContain` — the same expression Spark's
    * InjectRuntimeFilter rule plants — around a serialized
    * `util.sketch.BloomFilter` literal. Replaces the per-row Scala-UDF
    * probe idiom (opaque closure, boxing, breaks whole-stage codegen on
    * the fact-scan hot path). The sketch rides the plan as a Binary
    * literal, exactly what InjectRuntimeFilter's scalar subquery
    * materializes into at execution; `key` must be integral (probed via
    * `mightContainLong`, matching `stat.bloomFilter`'s `putLong`).
    *
    * SIZE ASSUMPTION: the inline Binary literal ships with the
    * serialized plan to every task, so this is for DIM-SIZED sketches
    * (the declared `bloom_prune_join` builds over 25 supplier keys,
    * ~KBs; up to a few MB is fine — same order as a broadcast hint). A
    * fact-sized filter (100M+ keys → 100s of MB) must instead ride a
    * broadcast-backed scalar subquery the way InjectRuntimeFilter
    * plants it — at that point use Spark's own runtime filtering
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) rather than
    * this explicit probe. */
  def bloomMightContain(filterBytes: Array[Byte], key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          filterBytes, org.apache.spark.sql.types.BinaryType),
        classic.ExpressionUtils.expression(key)))

  /** Spark's own errors for the two decimal failures an exact sum of
    * casts can meet under ANSI mode: a value that does not fit the
    * target type (the cast's error) and an overflowing decimal sum
    * (`sum`'s error). */
  def decimalOutOfRange(value: org.apache.spark.sql.types.Decimal,
      to: org.apache.spark.sql.types.DecimalType): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.cannotChangeDecimalPrecisionError(
      value, to.precision, to.scale, null)
  def decimalSumOverflow(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")

  /** Column <-> Expression bridging for graft's own Catalyst
    * expressions (the `Column(expr)` constructor is private[sql]). */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)
  def expressionOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Per-group Bloom-filter build: Catalyst's `BloomFilterAggregate`
    * (the aggregate Spark's InjectRuntimeFilter plants) over an
    * `xxhash64(key)` column — a `TypedImperativeAggregate`, so a
    * `groupBy(input_file_name)` builds one filter PER FILE in the same
    * single pass that computes min/max bounds. Returns the serialized
    * filter bytes (`BloomFilter.readFrom`-compatible); null for an
    * empty group. `key` must be BIGINT (the xxhash64 of the indexed
    * value — probe with `XxHash64Function.hash` of the same view). */
  def bloomFilterAgg(key: org.apache.spark.sql.Column,
                     items: Long, numBits: Long): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        classic.ExpressionUtils.expression(key),
        org.apache.spark.sql.catalyst.expressions.Literal(items),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** Driver-side xxhash64 of one value, bit-identical to what the
    * `xxhash64(col)` the bloom write-side aggregate hashed per row
    * (seed 42, Catalyst value representation). */
  def xxhash64Of(value: Any, dt: org.apache.spark.sql.types.DataType): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(value),
      dt, 42L)

  /** The single-part column names a SQL expression references —
    * what a CHECK constraint binds to (validation + rename/drop
    * guards). */
  def exprAttributes(spark: SparkSession, sql: String): Seq[String] = {
    val parsed = spark.asInstanceOf[classic.SparkSession]
      .sessionState.sqlParser.parseExpression(sql)
    parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 => a.nameParts.head
    }.distinct
  }

  /** Parse a SQL expression string (a CHECK constraint) and rewrite
    * its column references through `name`: Some(physical) renames the
    * attribute (column mapping — constraints are written in LOGICAL
    * names, staged files carry PHYSICAL ones), None substitutes a NULL
    * literal (a constrained column ABSENT from this write surfaces
    * null, and SQL CHECK passes on null — Delta's semantics). Only
    * single-part names rewrite; qualified names resolve as-is. */
  def parsedExpr(spark: SparkSession, sql: String,
                 name: String => Option[String]): org.apache.spark.sql.Column = {
    val parsed = spark.asInstanceOf[classic.SparkSession]
      .sessionState.sqlParser.parseExpression(sql)
    val rewritten = parsed.transform {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.length == 1 =>
        name(a.nameParts.head) match {
          case Some(p) => org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(p))
          case None => org.apache.spark.sql.catalyst.expressions.Literal(null)
        }
    }
    classic.ExpressionUtils.column(rewritten)
  }

  /** Re-wrap a streaming micro-batch DataFrame (the one `Sink.addBatch`
    * receives) as an ordinary BATCH DataFrame over the SAME physical
    * execution: `df.queryExecution.toRdd` reuses the incremental plan
    * the trigger already built, while `internalCreateDataFrame` gives
    * it a batch identity so downstream `.write`-style consumption
    * doesn't hit "streaming sources must be executed with
    * writeStream.start()" (the same shape foreachBatch and Delta's
    * sink use). */
  def batchDfOf(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Materialization-barrier building block (core/Barriers): the
    * frame's rows as a persistable RDD of COPIED InternalRows (the
    * row-buffer-reuse copy Dataset.checkpoint performs) plus a batch
    * DataFrame leaf over that RDD. Building `toRdd` runs the frame's
    * plan through the normal query path — AQE fully applies to its
    * shuffles, exactly as the old write-to-parquet barrier did — while
    * the leaf keeps downstream plans barrier-deep. No CacheManager
    * involvement: persistence (the caller's) is RDD-identity-keyed, so
    * two calls can never alias each other's data. */
  def rddBarrier(df: DataFrame): (org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow], DataFrame) = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.toRdd.map(_.copy())
    (rdd, cs.internalCreateDataFrame(rdd, df.schema, isStreaming = false))
  }

  /** Drop cached catalog-plugin instances so a changed
    * `spark.sql.catalog.<name>.*` conf takes effect (plugins cache
    * their options at first use). */
  def resetCatalogs(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalogManager.reset()

  /** Runtime planner-strategy registration for sessions built without
    * `.withExtensions(new GraftExtensions)` (a caller's own session;
    * `graft.GraftSession` always registers them):
    * `experimental.extraStrategies` is the public hook. */
  def ensureStrategy(spark: SparkSession,
                     strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }
}
