package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{CopyPipeline, JdbcSource, ParquetDir}
import graft.core.CopyPipeline.CopyOptions
import graft.ops.{Events, Relational}

/** `copy`: pgcp's own job plus the analyst queries it exists for.
  *
  * Each round re-publishes every destination at the same paths, as a
  * scheduled copy would: a glob copy of the seeded source warehouse,
  * a projected and a filtered copy, two JDBC copies through embedded
  * Derby (into parquet, and back with hotswap + index replay), one
  * incremental copy of a seeded delta, then a fixed list of
  * Relational/Events queries, twice, over the just-published destination. */
final class CopyBench(ctx: Ctx) extends Workload {
  import ctx._
  private val Large = 100000L
  /** Times the query list runs per round, as an analyst re-runs a
    * dashboard: a round's read median rests on more than four samples. */
  private val ReadPasses = 2
  private val dstDir = s"$work/dst"
  private val jdbcOut = s"$work/jdbc_out"
  private val incDst = s"$work/inc_dst"
  private lazy val gen = new Gen.CopyInputs(ctx)
  private def srcDir = gen.srcDir
  private def incSrc = gen.incSrc
  private lazy val src = new ParquetDir(srcDir)
  private lazy val dst = new ParquetDir(dstDir)
  /** (files, bytes) under the destination after each traced glob copy. */
  private val globWrites = scala.collection.mutable.ArrayBuffer[(Double, Double)]()

  private def jdbc(url: String, partitioned: Boolean): JdbcSource =
    new JdbcSource(url, Gen.derbyProps,
      partitionColumn = if (partitioned) Some("O_ORDERKEY") else None, numPartitions = nproc)

  /** The analyst queries: (layer, name, query over a warehouse dir). */
  private val queries: Seq[(String, String, String => DataFrame)] = Seq(
    ("Relational", "pricingSummary", d => Relational.pricingSummary(spark, d)),
    ("Relational", "q5LocalVolume", d => Relational.q5LocalVolume(spark, d)),
    ("Events", "sessionize", d => Events.sessionize(spark, d)),
    ("Events", "asofNative", d => Events.asofNative(spark, d)))

  /** Each query's digest over the source warehouse: its expected output
    * over every faithful copy. */
  private var expectedQuery: Map[String, (Long, Long)] = _

  /** Loads Derby, then computes the expected digests of the source
    * tables and queries on one background thread while set-up goes on;
    * the first checks wait for them. */
  def load(): Unit = {
    gen
    expectedFuture = Some(new Thread(() => {
      gen.digests; gen.projected; gen.filtered
      expectedQuery = queries.map { case (_, n, q) => n -> Digest.of(q(srcDir)) }.toMap
    }))
    expectedFuture.foreach(_.start())
  }
  private var expectedFuture: Option[Thread] = None
  private def expected: Map[String, (Long, Long)] = { expectedFuture.foreach(_.join()); expectedQuery }

  def round(r: Int): Unit = {
    val start = rec.mark
    // upstream producer: the next seeded delta lands in the incremental source
    val delta = gen.appendDelta()

    rec.op("write", "copy.glob") {
      tracer.span("CopyPipeline.copyTables") {
        CopyPipeline.copyTables(spark, src, dst, "*", parallelism = nproc)
      }
    } { out =>
      // what the glob copy wrote, walked outside the timed region
      if (tracer.enabledNow) globWrites += ((Disk.files(dstDir, ".parquet").toDouble, Disk.bytes(dstDir).toDouble))
      expected
      Check.equal("glob tables", gen.tables.sorted, out.map(_.table).sorted)
      out.foreach(c => Check.equal(s"${c.table} rows", gen.digests(c.table)._1, c.rows))
      Gen.parallel(out, nproc)(c => c.table -> Digest.of(dst.read(spark, c.table), exact = true))
        .foreach { case (t, d) => Check.equal(s"$t digest", gen.digests(t), d) }
      rec.published(out.map(_.rows).sum)
    }
    copyOne("copy.project", src, dst, "lineitem", "lineitem_proj",
      CopyOptions(columns = Some(Gen.lineitemProjection)), gen.projected)
    copyOne("copy.filter", src, dst, "orders", "orders_open",
      CopyOptions(filter = Some(col("o_orderstatus") === "O")), gen.filtered)
    copyOne("copy.jdbc_to_parquet", jdbc(gen.derbySrc, partitioned = true), new ParquetDir(jdbcOut),
      "ORDERS", "ORDERS", CopyOptions(), gen.derbyDigest)
    copyOne("copy.parquet_to_jdbc", new ParquetDir(jdbcOut), jdbc(gen.derbyDst, partitioned = false),
      "ORDERS", "ORDERS", CopyOptions(), gen.derbyDigest)
    val firstLoad = !new java.io.File(s"$incDst/events.parquet").exists()
    rec.op("write", "copy.incremental") {
      tracer.span("CopyPipeline.copyIncremental") {
        CopyPipeline.copyIncremental(spark, new ParquetDir(incSrc), new ParquetDir(incDst), "events", "event_id")
      }
    } { n =>
      // the first copy finds no destination and copies the whole source
      if (!firstLoad) Check.equal("incremental rows", delta, n)
      Check.equal("incremental digest", Digest.of(spark.read.parquet(s"$incSrc/events.parquet"), exact = true),
        Digest.of(spark.read.parquet(s"$incDst/events.parquet"), exact = true))
      rec.published(n)
    }
    // a round's copies are serial: its publish lag is their summed time
    rec.fresh(rec.secsSince(start))
    rec.amplification(Disk.bytes(dstDir).toDouble / gen.srcBytes)

    for (_ <- 1 to ReadPasses; (layer, name, q) <- queries)
      rec.op("read", s"copy.read.$name") {
        val dg = tracer.span(s"$layer.plan") {
          val dg = Digest.frame(q(dstDir))
          dg.queryExecution.executedPlan
          dg
        }
        tracer.span(s"$layer.exec") { dg.collect().head }
      } { row => Check.equal(s"$name digest", expected(name), (row.getLong(0), row.getLong(1))) }
  }

  private def copyOne(op: String, from: graft.core.TableSource, to: graft.core.TableSink,
      table: String, dest: String, opts: CopyOptions, expect: (Long, Long)): Unit =
    rec.op("write", op) {
      tracer.span("CopyPipeline.copyTable") {
        val res = CopyPipeline.copyTable(spark, from, to, table, Some(dest), opts)
        tracer.tag("rows", res.rows.toDouble)
        res
      }
    } { res =>
      Check.equal(s"$op rows", expect._1, res.rows)
      val landed = to.asInstanceOf[graft.core.TableSource].read(spark, dest)
      Check.equal(s"$op digest", expect, Digest.of(landed, exact = true))
      to match {
        case j: JdbcSource => Check.holds(s"$op: destination lost its indexes", j.indexesOf(dest).nonEmpty)
        case _ => ()
      }
      rec.published(res.rows)
    }

  def layerMetrics(tr: Tracer, rounds: Int): Map[String, Double] = {
    val per = math.max(1, rounds).toDouble
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val copies = tr.named("CopyPipeline.copyTable")
    val (large, small) = copies.partition(_.tags.getOrElse("rows", 0.0) >= Large)
    val glob = tr.named("CopyPipeline.copyTables")
    def jdbcSpan(op: String) = tr.roots.filter(_.name == op).flatMap(tr.children)
    def rowsPerS(ss: Seq[Span]) = {
      val t = ss.map(_.secs).sum
      if (t > 0) ss.map(_.tags.getOrElse("rows", 0.0)).sum / t else 0.0
    }
    val globRun = glob.map(s => tr.sum(s)(_.runMs) / 1e3).sum
    val globWall = glob.map(_.secs).sum
    val toJdbc = jdbcSpan("copy.parquet_to_jdbc")
    Map(
      "CopyPipeline.copyTable.small.driver_s" -> mean(small.map(s => s.secs - tr.stageSecs(s))),
      "CopyPipeline.copyTable.small.job_s" -> mean(small.map(tr.stageSecs)),
      "CopyPipeline.copyTable.large.driver_s" -> mean(large.map(s => s.secs - tr.stageSecs(s))),
      "CopyPipeline.copyTable.large.job_s" -> mean(large.map(tr.stageSecs)),
      "CopyPipeline.copyTables.slot_util" -> (if (globWall > 0) globRun / (globWall * nproc) else 0.0),
      "CopyPipeline.copyIncremental_s" -> mean(tr.named("CopyPipeline.copyIncremental").map(_.secs)),
      "Catalog.ParquetDir.write.files" -> mean(globWrites.map(_._1).toSeq),
      "Catalog.ParquetDir.write.mb" -> mean(globWrites.map(_._2).toSeq) / (1024.0 * 1024.0),
      "Catalog.JdbcSource.read_rows_per_s" -> rowsPerS(jdbcSpan("copy.jdbc_to_parquet")),
      "Catalog.JdbcSource.write_rows_per_s" -> rowsPerS(toJdbc),
      "Catalog.JdbcSource.write.driver_s" -> mean(toJdbc.map(s => s.secs - tr.stageSecs(s))),
      "Relational.read.plan_s" -> mean(tr.named("Relational.plan").map(_.secs)),
      "Relational.read.job_s" -> mean(tr.named("Relational.exec").map(_.secs)),
      "Events.read.plan_s" -> mean(tr.named("Events.plan").map(_.secs)),
      "Events.read.job_s" -> mean(tr.named("Events.exec").map(_.secs)),
      "copy.shuffle_mb" -> copies.++(glob).map(s => tr.sum(s)(c => (c.shufW + c.shufR).toDouble)).sum /
        (1024.0 * 1024.0) / per)
  }

  private def tracer = rec.tracer
}
