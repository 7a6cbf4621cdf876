package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.core.SnapshotLog

/** Change-data pre-images of merge-on-read deletes: SQL DELETE, SQL
  * MERGE and `SnapshotLog.deleteWhere` all land through
  * `commitDelta`, whose pre-image read keeps rows by row ordinal first
  * and by (file, ordinal) exactly. The feed's `delete` rows must be
  * exactly the rows that vanished, as a multiset, in the shapes that
  * stress that read: files that share killed ordinals, a file that
  * already carries a vector, and an ordinal dead in one file's old
  * vector that is killed in another file. The table carries a user
  * column named `_graft_file0`, the read's first temp-column name. */
class DeletePreImageSpec extends AnyFunSuite with SparkFixture {

  private type Row3 = (Long, String, String)

  /** Two data files, A = ids 0..49 and B = ids 50..99, each written in
    * id order, so id k and id k+50 share row ordinal k. */
  private def twoFileTable(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft_preimg_").toString
    Seq(0, 50).foreach { lo =>
      SnapshotLog.commit(spark,
        (lo until lo + 50).map(i => (i.toLong, s"p$i", s"user$i"))
          .toDF("id", "payload", "_graft_file0").coalesce(1),
        t, append = lo > 0, statsFor = Seq("id"))
    }
    t
  }

  /** id -> (data file, row ordinal) over the two data files. */
  private def ordinals(t: String): Map[Long, (String, Long)] =
    spark.read.parquet(SnapshotLog.resolve(t, 2L).entries.map(e => s"$t/${e.path}"): _*)
      .select(col("id"), col("_metadata.file_path"), col("_metadata.row_index"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  private def rows(t: String): Seq[Row3] =
    SnapshotLog.read(spark, t).select("id", "payload", "_graft_file0").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted

  /** The head version's change rows of one type, sorted (a multiset). */
  private def feed(t: String, changeType: String): Seq[Row3] = {
    val v = SnapshotLog.versions(t).last
    SnapshotLog.readChangeFeed(spark, t, v - 1, v)
      .filter(col("_change_type") === changeType)
      .select("id", "payload", "_graft_file0").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
  }

  private def diff(a: Seq[Row3], b: Seq[Row3]): Seq[Row3] = a.diff(b).sorted

  /** Run one delete; its `delete` change rows must equal the vanished
    * rows exactly, and it must insert nothing. */
  private def checkDelete(t: String, ids: Seq[Long])(delete: Seq[Long] => Unit): Unit = {
    val before = rows(t)
    delete(ids)
    val after = rows(t)
    val vanished = diff(before, after)
    assert(vanished.map(_._1) == ids.sorted, s"the delete must kill exactly $ids")
    assert(feed(t, "delete") == vanished)
    assert(feed(t, "insert").isEmpty)
  }

  private def register(t: String, name: String): Unit =
    spark.sql(s"CREATE TABLE $name USING `graft-log` OPTIONS (path '$t')")

  /** Step 1 kills ids 3, 13, 23 (A) and 53 (B): files sharing ordinal
    * 3, no vectors yet. Step 2 kills ids 5 (A) and 73 (B): A already
    * carries a vector, and B's ordinal 23 is dead in A's vector. */
  private def deleteScenario(t: String)(delete: Seq[Long] => Unit): Unit = {
    val ord = ordinals(t)
    assert(ord(3L)._1 != ord(53L)._1 && ord(3L)._2 == ord(53L)._2,
      s"ids 3 and 53 must share an ordinal in different files: $ord")
    assert(ord(23L)._2 == ord(73L)._2)
    checkDelete(t, Seq(3L, 13L, 23L, 53L))(delete)
    assert(SnapshotLog.resolve(t, 3L).entries.forall(_.dv.isDefined))
    checkDelete(t, Seq(5L, 73L))(delete)
    assert(rows(t).map(_._1) ==
      ((0L until 100L).toSet -- Set(3L, 13L, 23L, 53L, 5L, 73L)).toSeq.sorted)
  }

  test("SQL DELETE: the delete change rows are exactly the vanished rows") {
    val t = twoFileTable()
    register(t, "preimg_del")
    try deleteScenario(t) { ids =>
      spark.sql(s"DELETE FROM preimg_del WHERE id IN (${ids.mkString(", ")})"): Unit
    } finally spark.sql("DROP TABLE preimg_del")
  }

  test("deleteWhere: the delete change rows are exactly the vanished rows") {
    val t = twoFileTable()
    deleteScenario(t) { ids =>
      SnapshotLog.deleteWhere(spark, t, SnapshotLog.Pred.In("id", ids.map(_.toDouble))): Unit
    }
  }

  test("MERGE: pre-images and inserts are exactly the vanished and new rows") {
    import spark.implicits._
    val t = twoFileTable()
    SnapshotLog.deleteWhere(spark, t, SnapshotLog.Pred.In("id", Seq(3.0, 23.0))) // A's vector
    register(t, "preimg_mrg")
    try {
      // updates 6 and 56 (a shared ordinal), deletes 73 (B's ordinal 23,
      // dead in A's vector), inserts 300
      Seq((6L, "six", "u6"), (56L, "fifty-six", "u56"), (73L, "gone", "x"),
          (300L, "new", "u300"))
        .toDF("id", "payload", "_graft_file0").createOrReplaceTempView("preimg_src")
      val before = rows(t)
      spark.sql(
        """MERGE INTO preimg_mrg USING preimg_src ON preimg_mrg.id = preimg_src.id
          |WHEN MATCHED AND preimg_src.payload = 'gone' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val after = rows(t)
      assert(diff(before, after).map(_._1) == Seq(6L, 56L, 73L))
      assert(feed(t, "delete") == diff(before, after))
      assert(feed(t, "insert") == diff(after, before))
      assert(diff(after, before) ==
        Seq((6L, "six", "u6"), (56L, "fifty-six", "u56"), (300L, "new", "u300")))
    } finally spark.sql("DROP TABLE preimg_mrg")
  }
}
