package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** `SnapshotLog.schemaAt` works a version's columns out of the log
  * alone. The reference here is the read it replaces, built in the
  * spec: one `spark.read.schema(...).parquet` per recorded schema (per
  * hive stage with its `basePath`; footer inference for a pre-schema
  * record), led by a replace's declared schema, unioned by name with
  * `allowMissingColumns`, then the column mapping. On every version of
  * each table kind, `schemaAt` equals the reference's schema, and
  * `read` has that schema and the reference's rows as a multiset. */
class SchemaAtSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_schemaat_$tag").toString

  private def reference(t: String, v: Long): DataFrame = {
    val st = SnapshotLog.resolve(t, v)
    assert(st.entries.forall(_.dv.isEmpty), "the reference reads plain files only")
    def schemaOf(sj: String) = DataType.fromJson(sj).asInstanceOf[StructType]
    def stage(e: SnapshotLog.FileEntry) = (e.base.getOrElse(t), e.path.split("/").take(2).mkString("/"))
    def files(es: Seq[SnapshotLog.FileEntry]) = es.map(SnapshotLog.dataAbs(t, _)).sorted
    val (hive, flat) = st.entries.partition(_.path.split("/").drop(2).exists(_.contains("=")))
    val lead = st.tableSchema.toSeq.map(sj => spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(schemaOf(sj).fields.map(_.copy(nullable = true)))))
    val hiveReads = hive.groupBy(stage).toSeq.sortBy(_._1).map { case ((root, s), es) =>
      val r = spark.read.option("basePath", s"$root/$s")
      es.head.schema.fold(r)(sj => r.schema(schemaOf(sj))).parquet(files(es): _*)
    }
    val flatReads = flat.groupBy(_.schema).toSeq.sortBy(_._2.map(_.path).min).flatMap {
      case (Some(sj), es) => Seq(spark.read.schema(schemaOf(sj)).parquet(files(es): _*))
      case (None, es) => es.groupBy(stage).toSeq.sortBy(_._1).map { case (_, g) =>
        spark.read.parquet(files(g): _*) }
    }
    val phys = (lead ++ hiveReads ++ flatReads).reduce(_.unionByName(_, allowMissingColumns = true))
    phys.select(phys.columns.toSeq.flatMap(p => st.logicalOf(p).map(l => col(p).as(l))): _*)
  }

  private def rowBag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Every version of `t`: schemaAt == reference schema == read schema,
    * and read rows == reference rows. */
  private def check(t: String): Unit =
    SnapshotLog.versions(t).foreach { v =>
      val want = reference(t, v)
      val got = SnapshotLog.read(spark, t, Some(v))
      assert(SnapshotLog.schemaAt(t, Some(v)) == want.schema,
        s"v$v schemaAt ${SnapshotLog.schemaAt(t, Some(v)).simpleString} != ${want.schema.simpleString}")
      assert(got.schema == want.schema, s"v$v read ${got.schema.simpleString}")
      assert(rowBag(got) == rowBag(want), s"v$v rows")
    }

  test("evolved: an append with an added column") {
    val t = fresh("evolved")
    SnapshotLog.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), t)
    SnapshotLog.commit(spark, Seq((3L, "c", "n3")).toDF("id", "payload", "note"), t, append = true)
    SnapshotLog.commit(spark, Seq(("n4", 4L)).toDF("note", "id"), t, append = true)
    // column order follows the groups' first paths (random stage ids)
    assert(SnapshotLog.schemaAt(t).fieldNames.toSet == Set("id", "payload", "note"))
    check(t)
  }

  test("widened: int+long, float+double, byte+double") {
    val t = fresh("widened")
    SnapshotLog.commit(spark, Seq((1, 1.5f, 7.toByte)).toDF("id", "f", "b"), t)
    SnapshotLog.commit(spark, Seq((2L, 2.25, 8.5)).toDF("id", "f", "b"), t, append = true)
    SnapshotLog.commit(spark, Seq((3, 3.5f, 9.toByte)).toDF("id", "f", "b"), t, append = true)
    assert(SnapshotLog.schemaAt(t).map(_.dataType.typeName) == Seq("long", "double", "double"))
    check(t)
  }

  test("renamed and dropped columns; time travel before the rename keeps the old names") {
    val t = fresh("mapped")
    SnapshotLog.commit(spark, Seq((1L, "a", 10)).toDF("id", "payload", "n"), t)
    SnapshotLog.renameColumn(spark, t, "payload", "body")
    SnapshotLog.commit(spark, Seq((2L, "b", 20)).toDF("id", "body", "n"), t, append = true)
    SnapshotLog.dropColumn(spark, t, "n")
    SnapshotLog.commit(spark, Seq((3L, "c")).toDF("id", "body"), t, append = true)
    assert(SnapshotLog.schemaAt(t, Some(1L)).fieldNames.toSeq == Seq("id", "payload", "n"))
    assert(SnapshotLog.schemaAt(t).fieldNames.toSeq == Seq("id", "body"))
    check(t)
  }

  test("hive-partitioned stages: partition columns where the read puts them") {
    val t = fresh("hive")
    SnapshotLog.commit(spark, Seq((1L, "en", 10), (2L, "de", 20)).toDF("id", "lang", "n"),
      t, partitionBy = Seq("lang"))
    SnapshotLog.commit(spark, Seq((3L, "fr", 30, "x")).toDF("id", "lang", "n", "extra"), t,
      append = true)
    SnapshotLog.commit(spark, Seq((4L, "en", 40)).toDF("id", "lang", "n"), t, append = true,
      partitionBy = Seq("lang"))
    assert(SnapshotLog.schemaAt(t).fieldNames.toSeq == Seq("id", "n", "lang", "extra"))
    check(t)
  }

  test("shallow-cloned: entries under the source's root") {
    val src = fresh("clonesrc")
    SnapshotLog.commit(spark, Seq((1L, "a")).toDF("id", "payload"), src)
    SnapshotLog.commit(spark, Seq((2L, "b", 2.5)).toDF("id", "payload", "score"), src,
      append = true)
    val dst = fresh("clonedst")
    SnapshotLog.cloneTable(src, dst)
    SnapshotLog.commit(spark, Seq((3L, 3)).toDF("id", "rank"), dst, append = true)
    assert(SnapshotLog.resolve(dst, 1L).entries.forall(_.base.isDefined))
    check(dst)
  }

  test("schema-less: entries of a pre-schema record take their footer schema") {
    val t = fresh("preschema")
    SnapshotLog.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), t)
    // rewrite v1 as a pre-schema record: no recorded schema anywhere
    val p = Paths.get(t, "_graft_log", "v1.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rec = mapper.readTree(Files.readAllBytes(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    rec.remove("schema")
    Files.write(p, mapper.writeValueAsBytes(rec))
    assert(SnapshotLog.resolve(t, 1L).entries.forall(_.schema.isEmpty))
    SnapshotLog.commit(spark, Seq((3L, "c", true)).toDF("id", "payload", "flag"), t,
      append = true)
    assert(SnapshotLog.schemaAt(t).fieldNames.toSeq == Seq("id", "payload", "flag"))
    check(t)
  }

  test("truncated: the declared schema leads the union until the next replace") {
    val t = fresh("truncated")
    SnapshotLog.commit(spark, Seq((1L, "a", 1.5)).toDF("id", "payload", "score"), t)
    SnapshotLog.commitEmpty(t, SnapshotLog.schemaAt(t))
    assert(SnapshotLog.resolve(t, 2L).entries.isEmpty)
    SnapshotLog.commit(spark, Seq(("n", 2L)).toDF("note", "id"), t, append = true)
    assert(SnapshotLog.schemaAt(t).fieldNames.toSeq == Seq("id", "payload", "score", "note"))
    SnapshotLog.commit(spark, Seq((9L, "z")).toDF("id", "payload"), t) // a replace ends it
    assert(SnapshotLog.schemaAt(t).fieldNames.toSeq == Seq("id", "payload"))
    check(t)
  }
}
