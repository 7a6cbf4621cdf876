package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local session for specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast; it comes from [[GraftSession]], like Verify's
  * and Bench's. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkFixture.session

  override def afterAll(): Unit = super.afterAll() // session shared; never stop per-suite
}

object SparkFixture {
  /** The production session factory's session (extensions included),
    * so the whole suite exercises the engine Bench and Verify run. */
  lazy val session: SparkSession = {
    val s = GraftSession.create("local[4]")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
