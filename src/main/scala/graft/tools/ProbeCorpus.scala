package graft.tools

import org.apache.spark.sql.functions._

/** Builds the SURVEY §6b dirty probe corpus: documents / embeddings /
  * events replicated VERBATIM `factor` times with shifted keys (a
  * deliberately duplicate-heavy dedup workload), plus symlink-free
  * copies of the small TPC-H tables so every declared query still
  * runs against the probe dir. Previously synthesized ad hoc each
  * round — now reproducible: ProbeCorpus <sfDir> <outDir> <factor>. */
object ProbeCorpus {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = graft.GraftSession.create("local[4]")
    val shift = 10000000L

    def replicate(name: String, keyCols: Seq[String]): Unit = {
      val base = spark.read.parquet(s"$sfDir/$name.parquet")
      val copies = (0 until factor).map { i =>
        keyCols.foldLeft(base)((df, k) =>
          df.withColumn(k, col(k) + lit(i * shift)))
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[probe] $name x$factor -> ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }
    def copyPlain(name: String): Unit =
      spark.read.parquet(s"$sfDir/$name.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    replicate("events", Seq("event_id", "user_id"))
    val withFacts = args.length > 3 && args(3) == "--facts"
    if (withFacts) {
      // fact tables replicate with the SAME o_orderkey/l_orderkey shift
      // so the order-lineitem join stays consistent across copies;
      // dimension keys are untouched, so dim joins fan out naturally
      replicate("orders", Seq("o_orderkey"))
      replicate("lineitem", Seq("l_orderkey"))
    } else Seq("orders", "lineitem").foreach(copyPlain)
    Seq("region", "nation", "customer", "supplier", "part").foreach(copyPlain)
    spark.stop()
  }
}
