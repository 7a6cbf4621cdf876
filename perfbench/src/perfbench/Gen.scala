package perfbench

import java.sql.DriverManager
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The JVM side of the seeded inputs: gen.py writes the files; this
  * loads what must live in the JVM (Derby, log tables, the lake model)
  * and produces the per-round scripts (copy deltas, lake operations)
  * from the seed. */
object Gen {
  val lineitemProjection = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate")

  def derbyProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  def exec(url: String, sql: String*): Unit = {
    val conn = DriverManager.getConnection(url, derbyProps)
    try { val st = conn.createStatement(); try sql.foreach(st.executeUpdate) finally st.close() }
    finally conn.close()
  }

  /** `f` over `xs` on `threads` concurrent threads (set-up and checks
    * only; the measured operations keep one client thread). */
  def parallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
    } finally pool.shutdown()
  }

  /** Runs one loading step, logging its time to stderr. */
  def step[A](what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] load $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  // ---------------------------------------------------------------- copy

  /** The copy workload's inputs: the seeded source warehouse (written by
    * gen.py), the Derby source and destinations loaded from its seeded
    * orders subset, and the incremental source that rounds extend. */
  final class CopyInputs(ctx: Ctx) {
    import ctx._
    val srcDir = s"$inputs/src"
    /** The source tables gen.py wrote, one `<table>.parquet` directory each. */
    val tables: Seq[String] = new java.io.File(srcDir).listFiles().toSeq.filter(_.isDirectory)
      .map(_.getName.stripSuffix(".parquet")).sorted
    val incSrc = s"$inputs/inc_src"
    val derbySrc = "jdbc:derby:memory:pb_src;create=true"
    val derbyDst = "jdbc:derby:memory:pb_dst;create=true"
    private val events = spark.read.parquet(s"$sf/events.parquet")
    private var nextEventId = 100000L
    /** Each round's delta: `DeltaRows` events from a seeded offset. */
    private val DeltaRows = 3000L
    private var deltaStart = 50000L + new Random(seed).nextInt(50000)

    val srcBytes: Double = Disk.bytes(srcDir).toDouble
    /** Expected digests of each source table, computed on first use. */
    lazy val digests: Map[String, (Long, Long)] =
      parallel(tables, nproc)(t => t -> Digest.of(spark.read.parquet(s"$srcDir/$t.parquet"), exact = true)).toMap
    lazy val projected: (Long, Long) = Digest.of(spark.read.parquet(s"$srcDir/lineitem.parquet")
      .select(lineitemProjection.map(col): _*), exact = true)
    lazy val filtered: (Long, Long) = Digest.of(spark.read.parquet(s"$srcDir/orders.parquet")
      .filter(col("o_orderstatus") === "O"), exact = true)

    // Derby: a keyed, indexed source table (upper-case names, the
    // engine's own case for unquoted DDL) and a keyed destination.
    private val ordersSubset = spark.read.parquet(s"$inputs/derby_orders.parquet")
      .withColumn("O_ORDERDATE", col("O_ORDERDATE").cast("timestamp"))
    Seq(derbySrc, derbyDst).foreach { url =>
      exec(url, "CREATE TABLE ORDERS (O_ORDERKEY BIGINT NOT NULL, O_CUSTKEY BIGINT, " +
        "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, O_ORDERPRIORITY VARCHAR(32))",
        "ALTER TABLE ORDERS ADD CONSTRAINT ORDERS_PK PRIMARY KEY (O_ORDERKEY)",
        "CREATE INDEX ORDERS_CUST ON ORDERS (O_CUSTKEY)")
    }
    ordersSubset.repartition(nproc).write.mode("append").format("jdbc")
      .option("url", derbySrc).option("dbtable", "ORDERS").option("batchsize", 10000)
      .options(Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")).save()
    val derbyDigest: (Long, Long) = Digest.of(ordersSubset, exact = true)

    /** Appends the next seeded delta (fresh, increasing keys) to the
      * incremental source; returns its row count. */
    def appendDelta(): Long = {
      val n = DeltaRows
      val off = pmod(col("event_id") - lit(deltaStart), lit(100000L))
      events.filter(off < n).withColumn("event_id", off + lit(nextEventId))
        .write.mode("append").parquet(s"$incSrc/events.parquet")
      nextEventId += n
      deltaStart = (deltaStart + n) % 100000L
      n
    }
  }

  // -------------------------------------------------------------- curate

  /** A planted near-duplicate: `variant` is `base` with token edits at
    * `rate`; `jaccard` is their word-3-shingle Jaccard similarity. */
  final case class Planted(base: Long, variant: Long, rate: Double, jaccard: Double)

  /** A curate corpus: its document count and planted document pairs, its
    * embeddings (as the program reads them: float widened to double) and
    * its planted (base, jittered variant) vector pairs. */
  final class CurateInputs(val docs: Long, val planted: Seq[Planted],
      val vectors: Map[Long, Array[Double]], val plantedVectors: Seq[(Long, Long)])

  /** A corpus written by gen.py. */
  def curate(spark: SparkSession, dir: String): CurateInputs = {
    val planted = spark.read.parquet(s"$dir/planted_pairs.parquet").collect().toSeq
      .map(r => Planted(r.getAs[Long]("base"), r.getAs[Long]("variant"), r.getAs[Double]("rate"),
        r.getAs[Double]("jaccard")))
    val vectors = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val plantedVectors = spark.read.parquet(s"$dir/planted_vectors.parquet").collect().toSeq
      .map(r => r.getAs[Long]("base") -> r.getAs[Long]("variant"))
    new CurateInputs(spark.read.parquet(s"$dir/documents.parquet").count(), planted, vectors, plantedVectors)
  }

  // ---------------------------------------------------------------- lake

  /** One orders row as the lake model keeps it (price in cents). Rows of
    * the initial table carry no date or priority: no check reads them and
    * MERGE updates only the price. */
  final case class Order(key: Long, cust: Long, status: String, cents: Long,
      date: java.time.LocalDateTime, priority: String)

  /** The lake workload's operation script and its model of the live rows:
    * every write the workload makes comes from here, and every read is
    * checked against it. */
  final class LakeModel(spark: SparkSession, schema: StructType, pool0: Seq[Order],
      eventsPerUser: Map[Long, Long], val eventsPerType: Map[String, (Long, Long)] = Map.empty) {
    var version = 0L
    val live = mutable.LongMap[Order]()
    val snapshots = mutable.Map[Long, (Long, Long, Long)]()
    private val pool = mutable.Queue(pool0: _*)
    private val template = pool0.head
    private var nextKey = 1000000L

    def frame(rows: Seq[Order]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows.map(o =>
        Row(o.key, o.cust, o.status, o.cents / 100.0, o.date, o.priority)): _*), schema)

    private def commit(): Unit = { version += 1; snapshots(version) = agg(_ => true) }

    private def fresh(rnd: Random): Order = {
      nextKey += 1
      template.copy(key = nextKey, cust = rnd.nextInt(15000).toLong, cents = 100000L + rnd.nextInt(40000000))
    }

    def nextAppend(rnd: Random): Seq[Order] =
      (0 until 2000).map(_ => if (pool.nonEmpty) pool.dequeue() else fresh(rnd))
    def applyAppend(rows: Seq[Order]): Unit = { rows.foreach(o => live(o.key) = o); commit() }

    def nextUpserts(rnd: Random): (Seq[Order], Seq[Order]) = {
      val keys = live.keysIterator.toArray
      val upd = (0 until 150).map(_ => keys(rnd.nextInt(keys.length))).distinct
        .map(k => live(k).copy(cents = 100000L + rnd.nextInt(40000000)))
      val ins = (0 until 50).map(_ => fresh(rnd))
      (upd, ins)
    }
    def applyUpserts(upd: Seq[Order], ins: Seq[Order]): Unit = {
      (upd ++ ins).foreach(o => live(o.key) = o); commit()
    }

    def nextDeleteRange(rnd: Random): (Long, Long) = {
      val keys = live.keysIterator.toArray
      val a = keys(rnd.nextInt(keys.length))
      (a, a + 50 + rnd.nextInt(200))
    }
    def applyDelete(lo: Long, hi: Long): Int = {
      val doomed = live.keysIterator.filter(k => k >= lo && k <= hi).toSeq
      doomed.foreach(live.remove); commit(); doomed.size
    }

    def someCustkey(rnd: Random): Long =
      if (rnd.nextInt(5) == 0) rnd.nextInt(15000).toLong
      else { val ks = live.keysIterator.toArray; live(ks(rnd.nextInt(ks.length))).cust }
    def someKeyRange(rnd: Random, width: Long): (Long, Long) = {
      val a = rnd.nextInt(150000).toLong; (a, a + width)
    }

    def byCustkey(c: Long): Set[(Long, Long, String, Long)] =
      live.valuesIterator.filter(_.cust == c).map(o => (o.key, o.cust, o.status, o.cents)).toSet

    /** (rows, sum of keys, sum of cents) over the live rows matching. */
    def agg(key: Long => Boolean): (Long, Long, Long) = {
      var n, k, c = 0L
      live.valuesIterator.foreach { o =>
        if (key(o.key)) { n += 1; k += o.key; c += o.cents }
      }
      (n, k, c)
    }

    def statusTotals: Map[String, (Long, Long, Long)] =
      live.valuesIterator.toSeq.groupBy(_.status).map { case (s, os) =>
        s -> (os.size.toLong, os.map(_.cents).sum, 0L) }

    def joinWithEvents: (Long, Long) = {
      var n, k = 0L
      live.valuesIterator.foreach { o =>
        val e = eventsPerUser.getOrElse(o.cust, 0L); n += e; k += e * o.key
      }
      (n, k)
    }
  }

  /** Builds the lake's two log tables from gen.py's seeded three quarters
    * of orders and from sf0.1 events, and returns the model; the other
    * quarter is the append pool, in seeded order. `orders` is clustered on
    * its key and bloom-indexed on the customer (the point lookups' column);
    * `events` is clustered on the user (the join key) and hive-partitioned
    * by type. Only `events` is partitioned: row-level DML (MERGE, DELETE)
    * supports flat layouts only, and `orders` takes every write. */
  def lake(ctx: Ctx, ordersPath: String, eventsPath: String): LakeModel = {
    import ctx._
    import graft.core.{BloomIndex, SnapshotLog => L}
    def orders(df: DataFrame) = df.collect().toSeq.map(r => Order(r.getLong(0), r.getLong(1), r.getString(2),
      math.round(r.getDouble(3) * 100), r.getAs[java.time.LocalDateTime](4), r.getString(5)))
    val initialDf = spark.read.parquet(s"$inputs/orders_initial.parquet")
    val events = spark.read.parquet(s"$sf/events.parquet")
    val m = step("model") {
      val perUser = events.groupBy("user_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val perType = events.groupBy("event_type").agg(count(lit(1)), sum("event_id")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val m = new LakeModel(spark, initialDf.schema, orders(spark.read.parquet(s"$inputs/orders_pool.parquet")),
        perUser, perType)
      m.applyAppend(initialDf.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice").collect()
        .toSeq.map(r => Order(r.getLong(0), r.getLong(1), r.getString(2), math.round(r.getDouble(3) * 100), null, null)))
      m
    }
    step("orders table")(L.commit(spark, initialDf.repartitionByRange(2 * nproc, col("o_orderkey")), ordersPath,
      statsFor = Seq("o_orderkey", "o_custkey"),
      props = Some(Map(BloomIndex.ColumnsProp -> "o_custkey", BloomIndex.FppProp -> "0.01",
        BloomIndex.ItemsProp -> "20000"))))
    step("events table")(L.commit(spark, events.repartitionByRange(nproc, col("user_id")), eventsPath,
      partitionBy = Seq("event_type"), statsFor = Seq("user_id")))
    m
  }

  def fileCount(dir: String): Long = Disk.files(dir, "")

  /** One AvailableNow trigger's phases, from its progress reports. */
  def streamProgress(q: org.apache.spark.sql.streaming.StreamingQuery, doneMs: Long,
      filesWritten: Long): Map[String, Double] = {
    val ps = q.recentProgress.toSeq
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    val lastEnd = ps.lastOption.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
      dur1(p, "triggerExecution")).getOrElse(doneMs.toDouble)
    Map("batches" -> ps.size.toDouble, "queryPlanning" -> dur("queryPlanning"),
      "latestOffset" -> dur("latestOffset"), "walCommit" -> dur("walCommit"),
      "addBatch" -> dur("addBatch"), "commitOffsets" -> dur("commitOffsets"),
      "state_commit" -> ps.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum,
      "stop_s" -> (doneMs - lastEnd) / 1e3, "files_written" -> filesWritten.toDouble)
  }

  private def dur1(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
}
