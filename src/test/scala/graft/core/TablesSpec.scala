package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** `Tables.schemaOf` caches inferred schemas; the cache must never
  * serve the schema of a file that has since been rewritten. */
class TablesSpec extends AnyFunSuite with SparkFixture {

  /** One single-file parquet of `df`, copied to `dst`. */
  private def writeParquetFile(df: org.apache.spark.sql.DataFrame, dst: String): Unit = {
    val tmp = Files.createTempDirectory("graft_tables_w_").toString + "/out"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
    TempDirs.deleteRecursively(new java.io.File(tmp).getParentFile)
  }

  test("schemaOf sees a same-path rewrite whose mtime was reset") {
    val dir = Files.createTempDirectory("graft_tables_").toString
    try {
      val path = s"$dir/t.parquet"
      writeParquetFile(spark.range(3).select(col("id")), path)
      assert(Tables.schemaOf(spark, path).fieldNames.toSeq == Seq("id"))
      val f = new java.io.File(path)
      val mtime = f.lastModified()
      writeParquetFile(spark.range(3).select(col("id"), lit("x").as("tag"), lit(1.5).as("w")), path)
      assert(f.setLastModified(mtime))
      assert(Tables.schemaOf(spark, path).fieldNames.toSeq == Seq("id", "tag", "w"),
        "a rewritten file must not be served its old cached schema")
    } finally TempDirs.deleteRecursively(new java.io.File(dir))
  }
}
