package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the single session factory and the deleted knobs: every
  * `SparkSession` under `src/` comes from [[GraftSession]], no removed
  * experiment knob or row-reader name comes back, and the factory's
  * session carries the engine settings the mains rely on. This file is
  * excluded from its own source scan (it names what it forbids). */
class SessionSurfaceSpec extends AnyFunSuite with SparkFixture {

  private lazy val srcRoot: Path = {
    val start = Paths.get(sys.props("user.dir")).toAbsolutePath
    Iterator.iterate(start)(_.getParent).takeWhile(_ != null)
      .find(d => Files.isRegularFile(d.resolve("build.sbt")))
      .map(_.resolve("src"))
      .getOrElse(fail(s"no build.sbt above $start"))
  }

  /** (file name, content) of every Scala source under `src/`. */
  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(srcRoot)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SessionSurfaceSpec.scala")
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val builders = sources.filter(_._2.contains("SparkSession.builder"))
      .map(_._1.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"), s"session builders in: $builders")
  }

  test("deleted knobs and row-reader names stay deleted") {
    val banned = Seq("""GRAFT_BARRIER_EAGER""", """SPARK_GRAFT_SHUFFLE""",
      """SCRATCH_(PARTS|AQE|PARFIRST|ROCKSDB|RAWFS|CKPT_FM)""", """vectorizedRead""",
      """LogPartitionReader\(""").map(_.r)
    val hits = for {
      (p, text) <- sources
      re <- banned
      m <- re.findFirstIn(text)
    } yield s"${srcRoot.relativize(p)}: $m"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the SQL DELETE fork and the barrier debug knob stay deleted from src/main") {
    // every SQL DELETE is a row-level delta landing through commitDelta;
    // there is no metadata-delete fork, and barriers log through nothing
    val banned = Seq("GRAFT_BARRIER_DEBUG", "SupportsDelete", "canDeleteWhere", "toExactPred")
    val main = srcRoot.resolve("main")
    val hits = for {
      (p, text) <- sources if p.startsWith(main)
      w <- banned if text.contains(w)
    } yield s"${srcRoot.relativize(p)}: $w"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("graft-log versions land through one publish in src/main") {
    // SnapshotLog.publish owns the record link, its retry and the
    // checkpoint; the per-kind loops and the unused retry knob are gone
    val main = srcRoot.resolve("main")
    val mainSources = sources.filter(_._1.startsWith(main))
    val links = mainSources.map { case (p, text) =>
      srcRoot.relativize(p).toString -> """Files\.createLink\(vPath""".r.findAllIn(text).size
    }.filter(_._2 > 0)
    assert(links == Seq("main/scala/graft/core/SnapshotLog.scala" -> 1), s"record links: $links")
    val hits = for {
      (p, text) <- mainSources
      w <- Seq("publishRewrite", "publishSchemaChange", "maxRetries") if text.contains(w)
    } yield s"${srcRoot.relativize(p)}: $w"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("graft-log columns come from SnapshotLog.schemaAt, and a snapshot read is one scan") {
    // no data read is built only for its schema, and the read helpers
    // keep no per-schema scan union or empty-read stand-in
    val main = srcRoot.resolve("main")
    val logPath = Paths.get("graft", "core", "SnapshotLog.scala")
    val probe = """\bread\([^()]*(\([^()]*\))?[^()]*\)\.schema\b""".r
    val hits = for {
      (p, text) <- sources if p.startsWith(main)
      line <- text.linesIterator.toSeq if !line.trim.startsWith("*")
      if line.contains("SnapshotLog.read(") || p.endsWith(logPath)
      m <- probe.findFirstIn(line) ++ Seq("emptyLike").filter(line.contains)
    } yield s"${srcRoot.relativize(p)}: $m"
    assert(hits.isEmpty, hits.mkString("\n"))
    val log = sources.collectFirst { case (p, text) if p.endsWith(logPath) => text }
      .getOrElse(fail("no src/main/scala/graft/core/SnapshotLog.scala"))
    assert(!log.contains("groupBy(_.schema)"), "SnapshotLog groups reads by schema again")
  }

  test("the factory's session carries the engine settings") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      classOf[graft.core.FastLocalFileSystem].getName)
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      classOf[graft.streaming.NioCheckpointFileManager].getName)
    assert(spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0) == 11.0)
  }

  test("graft_vsum resolves on the factory session and after ensureRegistered alone") {
    val q = "SELECT graft_vsum(v) FROM VALUES (array(1.5d, -2.0d)), (array(0.25d, 1.0d)) AS t(v)"
    def check(s: org.apache.spark.sql.SparkSession): Unit =
      assert(s.sql(q).collect()(0).getSeq[java.math.BigDecimal](0) ==
        Seq("1.75", "-1").map(x => new java.math.BigDecimal(x).setScale(12)))
    check(spark)
    // a session whose registry lacks the function (as one built without
    // GraftExtensions) gets it from ensureRegistered
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_vsum")
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(id)
    assert(scala.util.Try(bare.sql(q).collect()).isFailure)
    assert(spark.sessionState.functionRegistry.functionExists(id), "registries are per session")
    graft.functions.GraftFunctions.ensureRegistered(bare)
    check(bare)
  }

  test("the per-dimension decimal sum loop stays out of Vector.scala") {
    val vector = sources.collectFirst {
      case (p, text) if p.endsWith(Paths.get("graft", "ops", "Vector.scala")) => text
    }.getOrElse(fail("no src/main/scala/graft/ops/Vector.scala"))
    assert(!vector.contains("""cast("decimal(38,12)")"""),
      "Vector.scala sums dimensions as decimal columns again; use graft_vsum")
  }

  test("shuffle width follows the local master's core count") {
    assert(GraftSession.localCores("local[8]").contains(8))
    assert(GraftSession.localCores("local").contains(1))
    assert(GraftSession.localCores("local[*]").contains(Runtime.getRuntime.availableProcessors))
    assert(GraftSession.localCores("spark://host:7077").isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4") // fixture: local[4]
  }
}
