package graft.core

import java.io.IOException
import java.nio.file.{Files, InvalidPathException, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus table accessors (TESTDATA.md layout: `$dir/<name>.parquet`).
  * Plain parquet reads so Catalyst keeps pushdown + pruning. */
object Tables {
  /** Inferred-schema cache, keyed by (path, mtime, length). Schema inference
    * reads the parquet footer on the DRIVER on every
    * `spark.read.parquet` call; queries reference each table several
    * times and the bench sweeps every query three times, so the same
    * immutable footer was being re-read thousands of times per run.
    * Caching METADATA (never data, never results) is exactly what a
    * real catalog/table format does. The mtime in the key (of the file,
    * or of the directory for directory tables — either changes when the
    * table is rewritten) invalidates the entry if a corpus is ever
    * regenerated at the same path inside one JVM (ADVICE r12: a
    * path-only key would silently read the stale schema). The mtime is
    * read at the filesystem's full (nanosecond) resolution and paired
    * with the length: a rewrite inside one millisecond, or one whose
    * mtime was reset, still changes the key. Stale entries are
    * replaced on sight, so the map holds one entry per live path. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), org.apache.spark.sql.types.StructType)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The cached inferred schema of one corpus parquet path (see
    * schemaCache above). Also used by the streaming file source, which
    * must pass an explicit schema anyway. */
  def schemaOf(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val key =
      try {
        val p = Paths.get(path)
        (Files.getLastModifiedTime(p).to(TimeUnit.NANOSECONDS), Files.size(p))
      } catch { case _: IOException | _: InvalidPathException => (0L, -1L) }
    val hit = schemaCache.get(path)
    if (hit != null && hit._1 == key) hit._2
    else {
      val schema = spark.read.parquet(path).schema
      schemaCache.put(path, (key, schema))
      schema
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")

  /** `events.ts` has shipped in two forms across corpus regens:
    * TIMESTAMP(NANOS) — illegal for Spark's vectorized reader, read as
    * LongType nanos under `spark.sql.legacy.parquet.nanosAsLong=true`
    * (all sessions set it) — and, since the 2026-08-13 regen, native
    * timestamp[us] (surfacing as TimestampNTZ; see CorpusContractSpec).
    * Dispatch on the read-back type: nanos normalize to a timestamp via
    * INTEGER division (`div` — a double-math /1000 would lose precision
    * above 2^53 ns; the corpus is µs-grain so this is lossless), any
    * timestamp flavor just casts. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
