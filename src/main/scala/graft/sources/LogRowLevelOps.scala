package graft.sources

import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.SnapshotLog
import graft.core.SnapshotLog.FileEntry

/** SQL ROW-LEVEL DML for graft-log tables — `UPDATE`, `MERGE INTO`,
  * and arbitrary-predicate `DELETE` — via Spark's delta-based
  * row-level operation planning (`SupportsDelta`, the merge-on-read
  * shape Iceberg ships):
  *
  *  - The SCAN is the ordinary batch relation PINNED at the head
  *    version, exposing the row-identity metadata columns
  *    `(_graft_rel, _graft_pos)` — the exact coordinates
  *    deletion-vector sidecars address rows by.
  *  - The WRITE receives per-row delta actions: deletes carry the row
  *    id (file, position) which tasks spill to a position-set shard;
  *    inserts are staged as ordinary data files (an UPDATE is its
  *    delete+insert pair — `representUpdateAsDeleteAndInsert`).
  *  - COMMIT is `SnapshotLog.commitDelta`: affected entries re-list
  *    with a deletion vector, staged inserts append, killed rows'
  *    pre-images + inserted rows land in the change feed, all CAS'd
  *    against the scanned version — ZERO data files rewritten,
  *    whatever the predicate shape. A GDPR `UPDATE ... WHERE user=x`
  *    on a 100 TB time-clustered table costs O(matched rows), not a
  *    table rewrite.
  *
  * Scale note: each task writes its own insert/delete parquet shards
  * directly (no driver funnel); the commit plans from task-counted
  * row totals with no extra counting job. */
final class LogRowLevelOperation(table: String, tableSchema: StructType,
                                 cmd: Command)
    extends RowLevelOperation with SupportsDelta {

  /** The snapshot version the operation's scan reads — captured at
    * scan-build time and used as the commit's CAS expectation, so a
    * concurrent writer that touched the same files fails loudly
    * instead of the delta landing on rows it never read. */
  @volatile private var scanVersion: Long = -1L

  override def command(): Command = cmd
  override def description(): String = s"graft-log $cmd $table"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    scanVersion = SnapshotLog.latestVersion(table)
      .getOrElse(sys.error(s"no committed version in $table"))
    val m = new java.util.HashMap[String, String](options)
    m.put("versionAsOf", scanVersion.toString)
    new LogScanBuilder(table, tableSchema, new CaseInsensitiveStringMap(m))
  }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(LogStreamSource.RelPathCol),
    Expressions.column(LogStreamSource.RowPosCol))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new LogDeltaWrite(table, info.schema(), () => scanVersion)
    }
}

final class LogDeltaWrite(table: String, insertSchema: StructType,
                          scanVersion: () => Long) extends DeltaWrite {
  private val stage = UUID.randomUUID().toString

  /** Insert rows land under PHYSICAL column names (column mapping:
    * Spark hands rows under logical names; files never carry them). */
  private lazy val physSchema: StructType = {
    val st = SnapshotLog.resolve(table, scanVersion())
    if (!st.mapped) insertSchema
    else StructType(insertSchema.fields.map(f => f.copy(name = st.physOf(f.name))))
  }

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
      new LogDeltaWriterFactory(table, stage, physSchema)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      val msgs = messages.toSeq.map(_.asInstanceOf[LogDeltaCommitMessage])
      val insertAdds = msgs.flatMap(_.inserts).map { f =>
        FileEntry(f.relPath, f.rows, num = f.numBounds,
          schema = Some(physSchema.json), bytes = f.bytes,
          nulls = f.nullCounts)
      }
      val posCounts = msgs.flatMap(_.deleteCounts).groupBy(_._1)
        .map { case (p, cs) => p -> cs.map(_._2).sum }
      val posDf =
        if (posCounts.isEmpty) None
        else Some(spark.read.schema(LogDeltaWriter.posSchema)
          .parquet(s"$table/dvtmp/$stage"))
      SnapshotLog.commitDelta(spark, table, scanVersion(), posDf,
        posCounts, insertAdds, Some(physSchema.json))
      graft.core.TempDirs.deleteRecursively(
        new java.io.File(s"$table/dvtmp/$stage"))
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      graft.core.TempDirs.deleteRecursively(new java.io.File(s"$table/dvtmp/$stage"))
      graft.core.TempDirs.deleteRecursively(new java.io.File(s"$table/data/$stage"))
    }
  }
}

final case class LogDeltaInsertFile(relPath: String, rows: Long, bytes: Long,
                                    numBounds: Map[String, (Double, Double)],
                                    nullCounts: Map[String, Long])

final case class LogDeltaCommitMessage(
    inserts: Seq[LogDeltaInsertFile],
    deleteCounts: Seq[(String, Long)])        // dead rows per data file
    extends WriterCommitMessage

final class LogDeltaWriterFactory(table: String, stage: String,
                                  insertSchema: StructType)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new LogDeltaWriter(table, stage, insertSchema, partitionId, taskId)
}

/** Per-task delta writer: inserts stream to a staged data file,
  * deletes to a (path, pos) position shard — both written locally by
  * the task (executor-parallel, nothing through the driver). */
final class LogDeltaWriter(table: String, stage: String,
                           insertSchema: StructType,
                           partitionId: Int, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val insertRel = f"data/$stage/part-$partitionId%05d-$taskId.parquet"
  private val deleteRel = f"dvtmp/$stage/part-$partitionId%05d-$taskId.parquet"
  private var insertW: InternalRowParquetWriter = _
  private var deleteW: InternalRowParquetWriter = _
  private val deadByPath = scala.collection.mutable.HashMap.empty[String, Long]

  override def insert(row: InternalRow): Unit = {
    if (insertW == null)
      insertW = new InternalRowParquetWriter(s"$table/$insertRel", insertSchema)
    insertW.write(row)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    if (deleteW == null)
      deleteW = new InternalRowParquetWriter(s"$table/$deleteRel",
        LogDeltaWriter.posSchema)
    deleteW.write(id) // id IS (path, pos) in rowId() order
    val p = id.getUTF8String(0).toString
    deadByPath.update(p, deadByPath.getOrElse(p, 0L) + 1L)
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    sys.error("updates arrive as delete+insert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage = {
    val inserts =
      if (insertW == null) Seq.empty
      else {
        val rows = insertW.rowCount
        val bounds = insertW.numBounds
        val nulls = insertW.nullCounts
        insertW.close()
        Seq(LogDeltaInsertFile(insertRel, rows,
          new java.io.File(s"$table/$insertRel").length(), bounds, nulls))
      }
    if (deleteW != null) deleteW.close()
    LogDeltaCommitMessage(inserts, deadByPath.toSeq)
  }

  override def abort(): Unit = {
    if (insertW != null) { insertW.close(); new java.io.File(s"$table/$insertRel").delete() }
    if (deleteW != null) { deleteW.close(); new java.io.File(s"$table/$deleteRel").delete() }
    ()
  }

  override def close(): Unit = ()
}

object LogDeltaWriter {
  /** The position-shard schema — identical to deletion-vector
    * sidecars, so the commit can publish shards as vector input. */
  val posSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))
}

/** Task-side parquet writer for FLAT InternalRows via the public
  * parquet-hadoop example API: types annotate so both Spark's
  * vectorized reader (with an explicit schema) and the Group reader of
  * deletion-vector sidecars (`LogColumnarReader.deadPositions`)
  * round-trip exactly. */
final class InternalRowParquetWriter(path: String, schema: StructType) {
  private val msgType: MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case ShortType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(16, true))
        case ByteType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(8, true))
        case DoubleType => Types.optional(DOUBLE)
        case FloatType => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(BINARY)
        case DateType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType())
        case TimestampType => Types.optional(INT64).as(
          LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case TimestampNTZType => Types.optional(INT64).as(
          LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
        case d: DecimalType if d.precision <= 18 => Types.optional(INT64)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case d: DecimalType => Types.optional(FIXED_LEN_BYTE_ARRAY).length(16)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case other => sys.error(s"graft-log delta writer: unsupported type $other")
      }
      b.addField(t.named(f.name))
    }
    b.named("graft")
  }
  private val factory = new SimpleGroupFactory(msgType)
  private val writer = {
    val p = new HPath(path)
    ExampleParquetWriter.builder(p).withType(msgType)
      .withConf(new Configuration()).build()
  }
  private var n = 0L
  def rowCount: Long = n

  /** Per-column min/max of the NUMERIC view (same double view the
    * manifest stats pass records), tracked as rows stream through —
    * DML-inserted files keep the table's data skipping alive instead
    * of becoming always-scanned stragglers. Free at write time: two
    * compares per numeric cell. */
  private val numIdx: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, i) if (f.dataType match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType => true
      case _ => false
    }) => i
  }
  private val numLo = Array.fill(schema.length)(Double.PositiveInfinity)
  private val numHi = Array.fill(schema.length)(Double.NegativeInfinity)
  private val numNulls = Array.fill(schema.length)(0L)

  /** Recorded bounds: column -> (lo, hi) for numeric columns that saw
    * at least one non-null value. */
  def numBounds: Map[String, (Double, Double)] =
    numIdx.iterator.filter(i => numLo(i) <= numHi(i))
      .map(i => schema(i).name -> (numLo(i), numHi(i))).toMap

  /** Per-column null counts for the tracked numeric columns — keeps
    * IS [NOT] NULL skipping and metadata COUNT(c) alive on
    * DML-inserted files too. */
  def nullCounts: Map[String, Long] =
    numIdx.iterator.map(i => schema(i).name -> numNulls(i)).toMap

  def write(r: InternalRow): Unit = {
    val g = factory.newGroup()
    var j = 0
    while (j < numIdx.length) {
      val i = numIdx(j)
      if (r.isNullAt(i)) numNulls(i) += 1L
      if (!r.isNullAt(i)) {
        val d = schema(i).dataType match {
          case LongType => r.getLong(i).toDouble
          case IntegerType => r.getInt(i).toDouble
          case ShortType => r.getShort(i).toDouble
          case ByteType => r.getByte(i).toDouble
          case DoubleType => r.getDouble(i)
          case _ => r.getFloat(i).toDouble
        }
        if (d.isNaN) { // NaN escapes range bounds (Spark orders it
          numLo(i) = Double.NegativeInfinity // largest): poison to the
          numHi(i) = Double.PositiveInfinity // never-prunes interval
        } else {
          if (d < numLo(i)) numLo(i) = d
          if (d > numHi(i)) numHi(i) = d
        }
      }
      j += 1
    }
    var i = 0
    while (i < schema.length) {
      if (!r.isNullAt(i)) schema(i).dataType match {
        case LongType | TimestampType | TimestampNTZType => g.add(i, r.getLong(i))
        case IntegerType | DateType => g.add(i, r.getInt(i))
        case ShortType => g.add(i, r.getShort(i).toInt)
        case ByteType => g.add(i, r.getByte(i).toInt)
        case DoubleType => g.add(i, r.getDouble(i))
        case FloatType => g.add(i, r.getFloat(i))
        case BooleanType => g.add(i, r.getBoolean(i))
        case StringType =>
          g.add(i, Binary.fromConstantByteArray(r.getUTF8String(i).getBytes))
        case BinaryType => g.add(i, Binary.fromConstantByteArray(r.getBinary(i)))
        case d: DecimalType if d.precision <= 18 =>
          g.add(i, r.getDecimal(i, d.precision, d.scale).toUnscaledLong)
        case d: DecimalType =>
          val unscaled = r.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.unscaledValue().toByteArray
          val out = new Array[Byte](16)
          // big-endian sign-extended pad to the fixed width
          val sign: Byte = if (unscaled.length > 0 && unscaled(0) < 0) -1 else 0
          java.util.Arrays.fill(out, sign)
          System.arraycopy(unscaled, 0, out, 16 - unscaled.length, unscaled.length)
          g.add(i, Binary.fromConstantByteArray(out))
        case other => sys.error(s"graft-log delta writer: unsupported type $other")
      }
      i += 1
    }
    writer.write(g)
    n += 1
  }

  def close(): Unit = writer.close()
}
