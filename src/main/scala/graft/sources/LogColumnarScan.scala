package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** VECTORIZED (columnar) reader for one immutable graft-log data file —
  * the source's only read shape, for batch scans and streaming
  * micro-batches alike. This is the Iceberg/Delta batch shape: Spark's
  * own `VectorizedParquetRecordReader` decodes column pages straight
  * into `ColumnarBatch` vectors (dictionary-aware, null-bitmap bulk
  * copies, no per-row boxing) and hands whole batches to whole-stage
  * codegen through `ColumnarToRow`, which iterates vectors in a tight
  * loop instead of materializing a `GenericInternalRow` per row. On a
  * scan-bound query this is the difference between decoding 4096
  * values per virtual call and one.
  *
  * The reader initializes through the standard MR path
  * (`ParquetReadSupport` resolves the requested Spark schema against
  * the file footer), so per-file schema EVOLUTION keeps working: a
  * column missing from an older file surfaces as an all-null vector —
  * the same union semantics as Spark's parquet read. Hive partition-
  * column constants ride as the reader's appended constant vectors
  * (`initBatch`), then the output batch REORDERS vectors to the
  * required schema's column order (Spark appends partition columns
  * last; the scan's declared schema may interleave them).
  *
  * DELETION-VECTORED entries stay columnar too: a batch whose row
  * range intersects the file's dead positions is served through
  * [[RemappedColumnVector]]s — the Iceberg shape (its
  * `ColumnVectorWithFilter` over a row-id mapping): each vector
  * delegates every accessor through a live-position index, so dead
  * rows vanish without copying a single value and merge-on-read
  * tables keep vectorized decode between OPTIMIZEs. Batches with no
  * dead rows pass through the identity batch.
  *
  * METADATA / CDF columns are columnar too: `_commit_version`,
  * `_graft_rel`, and an append's `_change_type` are file constants and
  * ride the reader's appended constant vectors; `_graft_pos` rides a
  * [[PositionColumnVector]] of file ordinals (remap-composable) — so
  * the row-level DML target scan and batch CDF keep vectorized decode.
  */
final class LogColumnarReader(part: LogInputPartition, schema: StructType,
                              pushed: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
    extends PartitionReader[ColumnarBatch] {

  LogSourceAudit.filesOpened.incrementAndGet()
  LogSourceAudit.columnarOpened.incrementAndGet()

  /** WITHIN-FILE skipping: the scan's pushed filters (already under
    * PHYSICAL names) converted to parquet `FilterPredicate`s against
    * THIS file's footer schema — Spark's own `ParquetFilters` does the
    * type-correct translation (the same class the built-in parquet
    * source uses), constructed per file so schema evolution is safe: a
    * filter on a column this file doesn't carry simply doesn't convert.
    * The reader then skips row groups by footer stats and pages by
    * column index — a selective point query on a sorted/clustered 1 GB
    * file decodes one row group, not eight. Deletion-vectored files
    * opt out: dv positions are sequential-row ordinals, and skipping
    * would shift them. Sound by construction — stats/index skipping
    * only drops rows the filter provably rejects, and every filter
    * stays a residual above the scan anyway. */
  private val parquetFilter: Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    if (pushed.isEmpty || part.dvDirs.nonEmpty ||
        schema.fieldNames.contains(LogStreamSource.RowPosCol)) None
    else {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.absPath), new Configuration())
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val msg = try fr.getFooter.getFileMetaData.getSchema finally fr.close()
      val pf = new org.apache.spark.sql.execution.datasources.parquet.ParquetFilters(
        msg, /* pushDownDate = */ true, /* pushDownTimestamp = */ true,
        /* pushDownDecimal = */ true, /* pushDownStringPredicate = */ true,
        /* pushDownInFilterThreshold = */ 10, /* caseSensitive = */ false,
        org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
          org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED))
      pushed.flatMap(f => pf.createFilter(f))
        .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and)
    }

  /** Hive partition constants present in the required schema, keyed
    * by LOGICAL name (directory names are physical — column mapping). */
  private val partConsts: Seq[(String, Option[String])] =
    part.partValues.flatMap { case (pc, v) => part.logicalName(pc).map(l => (l, v)) }
      .filter(pv => schema.fieldNames.contains(pv._1))

  /** METADATA columns served as per-file constant vectors:
    * `_commit_version` and `_graft_rel` are file constants by
    * definition; `_change_type` is a constant only when the commit
    * supplied the tag (an append's "insert") — a cdc change-data file
    * CARRIES the column and reads it as data (and a plain file with no
    * tag clips to an all-null vector). `_graft_pos` is the one
    * genuinely per-row metadatum; it rides [[PositionColumnVector]]. */
  private val metaConsts: Seq[(String, Any)] = schema.fields.toSeq.flatMap { f =>
    f.name match {
      case LogStreamSource.CommitVersionCol => Some(f.name -> part.version)
      case LogStreamSource.RelPathCol =>
        Some(f.name -> org.apache.spark.unsafe.types.UTF8String.fromString(part.relPath))
      case LogStreamSource.ChangeTypeCol if part.changeType.isDefined =>
        Some(f.name -> org.apache.spark.unsafe.types.UTF8String.fromString(part.changeType.get))
      case _ => None
    }
  }
  private val hasPos = schema.fieldNames.contains(LogStreamSource.RowPosCol)
  private val constNames = partConsts.map(_._1).toSet ++ metaConsts.map(_._1) +
    LogStreamSource.RowPosCol

  /** Data fields requested from the file under their PHYSICAL names
    * (positional batch columns — vector names never reach Spark). */
  private val dataFields = schema.fields.filterNot(f => constNames.contains(f.name))
    .map(f => f.copy(name = part.physName(f.name)))
  private val partSchema = StructType(
    partConsts.map { case (c, _) => schema(c) } ++ metaConsts.map { case (c, _) => schema(c) })
  private val partRow = InternalRow.fromSeq(partConsts.map { case (c, v) =>
    v.map(raw => LogColumnarReader.partValue(raw, schema(c).dataType)).orNull
  } ++ metaConsts.map(_._2))

  private val posVec: PositionColumnVector = if (hasPos) new PositionColumnVector else null

  private val reader: VectorizedParquetRecordReader = {
    val conf = new Configuration()
    // the standard Spark parquet read-support resolves the requested
    // Spark schema against the file footer (clipping handles per-file
    // schema evolution; a missing column becomes an all-null vector)
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      StructType(dataFields).json)
    // the schema converter reads these five as raw strings — they must
    // be present; values mirror the session defaults the writer used
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    parquetFilter.foreach(p =>
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, p))
    // every graft-log file is written by THIS engine (Spark 4 staged
    // writes or the task-side delta writer) — proleptic calendar, no
    // legacy rebase; INT96 appears only via Spark's own writer
    val r = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC",
      /* useOffHeap = */ false, /* capacity = */ 4096)
    // the OLD mapred FileSplit (it extends the mapreduce one): Spark's
    // base reader downcasts to it for the split's path/range
    val split = new org.apache.hadoop.mapred.FileSplit(
      new org.apache.hadoop.fs.Path(part.absPath), 0,
      new java.io.File(part.absPath).length(), Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    r.initialize(split, ctx)
    r.initBatch(partSchema, partRow)
    r.enableReturningBatches()
    r
  }

  /** The reader's own batch: data columns in requested order, then
    * partition constants appended. */
  private val raw: ColumnarBatch = reader.resultBatch()

  /** Output batch: the SAME vectors, reordered to the required
    * schema's column order (vector identity is stable across
    * `nextBatch` calls — the reader refills in place). */
  private val out: ColumnarBatch = {
    val vecs: Array[ColumnVector] = schema.fields.map { f =>
      if (f.name == LogStreamSource.RowPosCol) posVec
      else if (partSchema.fieldNames.contains(f.name))
        raw.column(dataFields.length + partSchema.fieldIndex(f.name))
      else // dataFields carry physical names
        raw.column(dataFields.indexWhere(_.name == part.physName(f.name)))
    }
    new ColumnarBatch(vecs)
  }

  /** Dead in-file positions (deletion vectors); null when the entry
    * carries none. Positions are sequential-row ordinals — exactly
    * what `batchStart + i` reproduces, because a deletion-vectored
    * file opts out of the pushed parquet filter (`parquetFilter`), so
    * the vectorized reader never skips a row group or page of it. */
  private val dead: java.util.HashSet[java.lang.Long] =
    if (part.dvDirs.isEmpty) null
    else LogColumnarReader.deadPositions(part.dvDirs, part.relPath)

  /** Live-position mapping for the CURRENT batch (capacity matches the
    * reader's), shared by reference with the remapped vectors. */
  private val mapping: Array[Int] = if (dead == null) null else new Array[Int](4096)

  /** The dv view of `out`: same column order, every vector remapped
    * through `mapping`. Built once; `mapping` refills per batch. */
  private val remapped: ColumnarBatch =
    if (dead == null) null
    else new ColumnarBatch(
      (0 until schema.length).map(i => new RemappedColumnVector(out.column(i), mapping): ColumnVector).toArray)

  private var batchStart: Long = 0L
  private var cur: ColumnarBatch = out

  override def next(): Boolean = {
    val has = reader.nextKeyValue()
    if (has) {
      val n = raw.numRows()
      LogSourceAudit.rowsDecoded.addAndGet(n)
      if (posVec != null) posVec.start = batchStart
      if (dead == null || dead.isEmpty) { out.setNumRows(n); cur = out }
      else {
        var i = 0; var live = 0
        while (i < n) {
          if (!dead.contains(batchStart + i)) { mapping(live) = i; live += 1 }
          i += 1
        }
        if (live == n) { out.setNumRows(n); cur = out }
        else { remapped.setNumRows(live); cur = remapped }
      }
      batchStart += n
    }
    has
  }

  override def get(): ColumnarBatch = cur

  override def close(): Unit = reader.close()
}

/** Per-file helpers of [[LogColumnarReader]]: deletion-vector loading
  * and hive partition-value decoding. */
object LogColumnarReader {
  /** Whether a deletion-vector SHARD can hold positions for `relPath`,
    * from its footer's `path`-column min/max alone (no row reads).
    * Conservative: absent or unusable statistics keep the shard. */
  private[sources] def shardMayContain(f: java.io.File, relPath: String): Boolean = {
    val target = relPath.getBytes("UTF-8")
    def lexCompare(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), new Configuration()))
    try {
      val blocks = r.getFooter.getBlocks
      var bi = 0
      while (bi < blocks.size()) {
        val cols = blocks.get(bi).getColumns
        var ci = 0
        var overlaps = true // no path column / no stats: keep the shard
        while (ci < cols.size()) {
          val c = cols.get(ci)
          if (c.getPath.toDotString == "path") {
            val st = c.getStatistics
            overlaps = st == null || st.isEmpty || !st.hasNonNullValue ||
              (lexCompare(st.getMinBytes, target) <= 0 &&
                lexCompare(st.getMaxBytes, target) >= 0)
            ci = cols.size()
          } else ci += 1
        }
        if (overlaps) return true
        bi += 1
      }
      false
    } finally r.close()
  }

  /** One data file's dead in-file positions, collected from its
    * deletion-vector sidecar directories. A SHARDED sidecar (large
    * purge: up to 10k shards, laid out path-contiguous by
    * repartitionByRange) must not be read in full by every data-file
    * reader — each shard's footer min/max of the `path` column gates
    * the open (O(shards) footer reads, O(relevant shards) row reads
    * instead of O(all)). */
  private[sources] def deadPositions(dvDirs: Seq[String], relPath: String)
      : java.util.HashSet[java.lang.Long] = {
    val s = new java.util.HashSet[java.lang.Long]()
    dvDirs.foreach { dir =>
      val fs = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      fs.foreach { f =>
        if (fs.length == 1 || shardMayContain(f, relPath)) {
          val r = ParquetReader.builder[Group](new GroupReadSupport(),
            new org.apache.hadoop.fs.Path(f.getPath))
            .withConf(new Configuration()).build()
          try {
            var g = r.read()
            while (g != null) {
              if (g.getString("path", 0) == relPath)
                s.add(g.getLong("pos", 0))
              g = r.read()
            }
          } finally r.close()
        }
      }
    }
    s
  }

  /** Hive partition-value string -> Catalyst value, by the TABLE
    * schema's type for the column (the same types Spark's own
    * partition inference restored when the log read used basePath). */
  private[sources] def partValue(raw: String, dt: DataType): Any = dt match {
    case StringType => UTF8String.fromString(raw)
    case IntegerType => raw.toInt
    case LongType => raw.toLong
    case ShortType => raw.toShort
    case ByteType => raw.toByte
    case DoubleType => raw.toDouble
    case FloatType => raw.toFloat
    case BooleanType => raw.toBoolean
    case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
    case d: DecimalType => Decimal(new java.math.BigDecimal(raw), d.precision, d.scale)
    case other => sys.error(s"graft-log: unsupported partition column type $other")
  }
}

/** A ColumnVector view that hides DELETED rows: every accessor routes
  * `rowId` through a live-position `mapping` into the underlying
  * reader-owned vector (Iceberg's ColumnVectorWithFilter shape — no
  * values are copied; the mapping array refills in place per batch).
  * Children are remapped with the SAME mapping: struct access
  * (`getStruct` is final and reads children at the TOP-level rowId)
  * and interval/variant accessors all route through `getChild`, while
  * array/map element offsets live in child coordinate space and come
  * back from the underlying vector's own `getArray`/`getMap`. */
private[sources] final class RemappedColumnVector(u: ColumnVector, mapping: Array[Int])
    extends ColumnVector(u.dataType()) {
  // never owns memory: the parquet reader owns `u` and frees it on
  // reader.close(); closing the view must not free under the reader
  override def close(): Unit = ()
  // conservative over the FULL batch (dead rows included): hasNull may
  // answer true for a batch whose live rows are all set — callers use
  // it only to pick the null-checking code path
  override def hasNull: Boolean = u.hasNull
  override def numNulls: Int = u.numNulls
  override def isNullAt(rowId: Int): Boolean = u.isNullAt(mapping(rowId))
  override def getBoolean(rowId: Int): Boolean = u.getBoolean(mapping(rowId))
  override def getByte(rowId: Int): Byte = u.getByte(mapping(rowId))
  override def getShort(rowId: Int): Short = u.getShort(mapping(rowId))
  override def getInt(rowId: Int): Int = u.getInt(mapping(rowId))
  override def getLong(rowId: Int): Long = u.getLong(mapping(rowId))
  override def getFloat(rowId: Int): Float = u.getFloat(mapping(rowId))
  override def getDouble(rowId: Int): Double = u.getDouble(mapping(rowId))
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    u.getArray(mapping(rowId))
  override def getMap(rowId: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    u.getMap(mapping(rowId))
  override def getDecimal(rowId: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    u.getDecimal(mapping(rowId), precision, scale)
  override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String =
    u.getUTF8String(mapping(rowId))
  override def getBinary(rowId: Int): Array[Byte] = u.getBinary(mapping(rowId))
  private lazy val children =
    new java.util.concurrent.ConcurrentHashMap[Integer, RemappedColumnVector]()
  override def getChild(ordinal: Int): ColumnVector =
    children.computeIfAbsent(ordinal, o => new RemappedColumnVector(u.getChild(o), mapping))
}

/** The `_graft_pos` vector: row ordinals of the CURRENT batch within
  * its file (`start` advances per batch). These are the coordinates
  * deletion-vector sidecars address rows by, so they must be the
  * file's sequential ordinals — which is also why a scan asking for
  * positions disables parquet row-group/page skipping, and why a
  * dv-remapped batch wraps this vector too (the remap then yields the
  * live row's ORIGINAL ordinal). */
private[sources] final class PositionColumnVector
    extends ColumnVector(org.apache.spark.sql.types.LongType) {
  var start: Long = 0L
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(rowId: Int): Boolean = false
  override def getLong(rowId: Int): Long = start + rowId
  private def nope = throw new UnsupportedOperationException(
    "graft-log: the position vector is long-valued")
  override def getBoolean(rowId: Int): Boolean = nope
  override def getByte(rowId: Int): Byte = nope
  override def getShort(rowId: Int): Short = nope
  override def getInt(rowId: Int): Int = nope
  override def getFloat(rowId: Int): Float = nope
  override def getDouble(rowId: Int): Double = nope
  override def getArray(rowId: Int): org.apache.spark.sql.vectorized.ColumnarArray = nope
  override def getMap(rowId: Int): org.apache.spark.sql.vectorized.ColumnarMap = nope
  override def getDecimal(rowId: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal = nope
  override def getUTF8String(rowId: Int): org.apache.spark.unsafe.types.UTF8String = nope
  override def getBinary(rowId: Int): Array[Byte] = nope
  override def getChild(ordinal: Int): ColumnVector = nope
}
