package graft.sources

import java.util.{Map => JMap, Set => JSet}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import graft.core.SnapshotLog

/** Structured Streaming SOURCE over the snapshot log's change feed —
  * `spark.readStream.format("graft-log").load(tablePath)` — the DSv2
  * `MicroBatchStream` shape Delta/Iceberg use for native log-backed
  * streams. Offsets ARE log versions: micro-batch (start, end] reads
  * exactly the files the append commits in that version range
  * introduced (the commit records themselves carry the delta — no
  * file diffing, no directory listing, no data rewrite). The
  * streaming checkpoint persists the version watermark, so a restart
  * resumes at the committed offset and each appended row is delivered
  * exactly once — the native twin of `SnapshotLog.pollChanges`.
  *
  * Options:
  *  - `maxVersionsPerTrigger` (long): admission control — cap how
  *    many log versions one micro-batch may cover; the backlog drains
  *    across several batches (bounded per-trigger work).
  *  - `maxFilesPerTrigger` / `maxBytesPerTrigger` (long): FILE-level
  *    admission control (Delta's options) — the offset carries a
  *    sub-version file index, so one huge commit (a 10k-file
  *    backfill) splits across micro-batches instead of becoming one
  *    unbounded batch; at least one file per trigger always admits so
  *    the stream progresses. Composable with `maxVersionsPerTrigger`;
  *    bytes are the manifest-recorded file sizes (cdc change-data
  *    files count as files, their recorded bytes ride the entries).
  *  - `startingVersion` (long): begin the CHANGES-ONLY stream at this
  *    log version instead of version 1 (Delta's startingVersion
  *    analogue) — versions before it are never delivered. This is the
  *    escape hatch for a table whose early history was vacuumed (its
  *    snapshot lives only in a checkpoint, so a from-the-beginning
  *    stream is impossible): start at the OLDEST SURVIVING version —
  *    if that version is a full replace commit it is delivered as the
  *    stream's initial snapshot (the same allowance a fresh stream
  *    gets at v1) — and treat the stream as incremental-from-there.
  *  - `skipChangeCommits` (boolean): skip data-changing rewrite
  *    commits (merge / CDC-apply) instead of failing — Delta's
  *    skipChangeCommits. The consumer sees appends only and accepts
  *    that updated/deleted rows it already received stay as-delivered.
  *  - `readChangeFeed` (boolean): stream the ROW-LEVEL change feed
  *    instead of plain appended rows (Delta's CDF streaming mode).
  *    Every row carries `_change_type` ("insert" for append/initial-
  *    snapshot rows; the recorded "upsert"/"update"/"delete" rows for
  *    rewrite commits, read from their `cdc/` change-data files) and
  *    `_commit_version` (the producing version — the ordering key for
  *    applying a mixed feed). In this mode a merge is just another
  *    micro-batch, not a stream-killing wall: the downstream consumer
  *    applies upserts and deletes in version order.
  *
  * Semantics notes:
  *  - The INITIAL batch may start with a replace commit (the common
  *    create-then-append table shape): versions (0, e] then read the
  *    initial snapshot plus subsequent appends, which is exactly
  *    `resolve(e)` because every later version in range is an append.
  *  - MAINTENANCE commits (`dataChange=false`: compaction,
  *    re-clustering) are INVISIBLE: their content is identical by
  *    contract, so the stream skips them — a nightly `Cli optimize`
  *    against a live consumer is a non-event, not a query failure
  *    (Delta marks such commits the same way).
  *  - A data-changing replace or rewrite commit LATER in the stream is
  *    a correctness wall: the rows delivered before it cannot be
  *    un-delivered, so the source fails fast (Delta's default for
  *    updates/deletes under a stream) rather than silently
  *    double-counting — unless `skipChangeCommits` opts out for
  *    rewrites.
  *
  * Reader: each input partition is one immutable parquet data file,
  * decoded by the same vectorized [[LogColumnarReader]] every batch
  * scan uses — one read path for batch and stream. Flat schemas only
  * (primitive columns — long/int/double/float/bool/string/binary/
  * date/timestamp/decimal); nested columns fail fast at scan planning.
  * Hive `col=value` staged layouts come back as partition-column
  * constants parsed from entry paths; deletion-vectored entries read
  * THROUGH their vectors (dead positions skip in the reader). A file
  * may carry FEWER columns than the evolved table schema — missing
  * columns surface null, matching the batch read's union semantics.
  * The BATCH side of this source (filter pushdown into manifest
  * skipping, statistics) lives in `LogScanBuilder`/`LogScan`.
  */
class LogStreamProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-log"

  /** Streaming SINK (`df.writeStream.format("graft-log")`): the table
    * deliberately does NOT advertise STREAMING_WRITE, so
    * DataStreamWriter falls back to this V1 sink hook — see
    * `LogStreamSink` for why that is the right execution shape. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Update(),
      "graft-log sink supports Append and Complete output modes; for keyed " +
        "upserts use foreachBatch with SnapshotLog.applyChanges (CDC merge)")
    val p = parameters.get("path")
    require(p.exists(_.nonEmpty), "graft-log sink needs .start(<table path>)")
    new LogStreamSink(LogStreamSource.normalizePath(p.get), parameters,
      partitionColumns, outputMode)
  }

  private def tablePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-log needs .load(<table path>)")
    LogStreamSource.normalizePath(p)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val table = tablePath(options)
    // a time-traveling batch read takes the ASKED version's schema
    val asOf = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(Option(options.get("timestampAsOf")).map(ts =>
        SnapshotLog.versionAsOfTimestamp(table, ts.toLong)))
    val base = SnapshotLog.schemaAt(table, asOf)
    if (!options.getBoolean("readChangeFeed", false)) base
    else {
      Seq(LogStreamSource.ChangeTypeCol, LogStreamSource.CommitVersionCol)
        .foreach(c => require(!base.fieldNames.contains(c),
          s"table $table already has a column named $c — cannot stream its change feed"))
      base.add(LogStreamSource.ChangeTypeCol, StringType)
        .add(LogStreamSource.CommitVersionCol, LongType)
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // `df.write.partitionBy(...)` arrives here as identity transforms
    // (external-metadata path); anything fancier has no hive layout
    val partCols = partitioning.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t => sys.error(s"graft-log supports identity partitioning only, got $t")
    }
    new LogStreamTable(LogStreamSource.normalizePath(properties.get("path")),
      schema, partCols)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object LogStreamSource {
  /** CDF metadata column names (Delta CDF's). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** ROW-IDENTITY metadata columns (`SupportsMetadataColumns`):
    * `(_graft_rel, _graft_pos)` = (entry path, raw row ordinal in the
    * file) — the same coordinates deletion-vector sidecars use, which
    * is what lets SQL row-level DML (DELETE/UPDATE/MERGE) mark rows
    * dead without touching data files. */
  val RelPathCol = "_graft_rel"
  val RowPosCol = "_graft_pos"

  /** The session catalog hands table locations as `file:` URIs
    * (`CREATE TABLE ... USING graft-log` / saved LOCATION), while the
    * DataFrame API hands raw paths — the log layer wants the latter. */
  private[sources] def normalizePath(p: String): String =
    if (p != null && p.startsWith("file:")) new java.net.URI(p).getPath else p
}

/** A graft-log table as Spark's catalog sees it: batch and streaming
  * reads (`LogScanBuilder`, pinned by `asOfVersion` for time travel),
  * batch writes, and row-level DML. Every `DELETE FROM t WHERE ...`,
  * `UPDATE` and `MERGE INTO` plans as a delta-based row-level operation
  * (`LogRowLevelOperation`): the scan names the killed rows by
  * `(_graft_rel, _graft_pos)` and `SnapshotLog.commitDelta` lands them
  * as deletion vectors, zero data files rewritten. A bare
  * `DELETE FROM t` plans as a truncate. */
final class LogStreamTable(table: String, schema: StructType,
                           partitionBy: Seq[String] = Seq.empty,
                           asOfVersion: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  import org.apache.spark.sql.connector.catalog.MetadataColumn

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = LogStreamSource.RelPathCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "data file of this row (log-relative path)"
    },
    new MetadataColumn {
      override def name(): String = LogStreamSource.RowPosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String = "raw row ordinal within the data file"
    })

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOfVersion.isEmpty,
      s"cannot modify $name — it is a time-travel snapshot")
    () => new LogRowLevelOperation(table, schema, info.command())
  }

  /** `TRUNCATE TABLE t` and a bare `DELETE FROM t`: an empty replace
    * commit that keeps the columns — history stays time-travelable. */
  override def truncateTable(): Boolean = {
    require(asOfVersion.isEmpty, s"cannot truncate $name — it is a time-travel snapshot")
    SnapshotLog.commitEmpty(table, SnapshotLog.schemaAt(table))
    true
  }
  override def name(): String = s"graft-log:$table" +
    asOfVersion.fold("")(v => s"@v$v")
  override def schema(): StructType = schema
  /** Log-recorded table properties (SET TBLPROPERTIES persists them) —
    * what DESCRIBE EXTENDED and downstream tooling surface. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    graft.core.SnapshotLog.properties(table).foreach { case (k, v) => m.put(k, v) }
    m
  }
  // reflect the write partitioning back (DataFrameWriter verifies the
  // user's partitionBy against the table's declared transforms)
  override def partitioning(): Array[Transform] = partitionBy.map(c =>
    org.apache.spark.sql.connector.expressions.Expressions.identity(c)).toArray
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      // BATCH_WRITE is what DataFrameWriter's v2 routing checks; the
      // V1Write the builder returns then dispatches to the V1-fallback
      // exec (which also wants V1_BATCH_WRITE advertised)
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a catalog time-travel pin (`VERSION AS OF` / `TIMESTAMP AS OF`)
    // becomes the scan's versionAsOf option
    val opts = asOfVersion.fold(options) { v =>
      val m = new java.util.HashMap[String, String](options)
      m.put("versionAsOf", v.toString)
      new CaseInsensitiveStringMap(m)
    }
    new LogScanBuilder(table, schema, opts)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(asOfVersion.isEmpty,
      s"cannot write to $name — it is a time-travel snapshot")
    new LogWriteBuilder(table, partitionBy, info)
  }
}

object LogStreamScan {
  private[sources] def requireFlat(schema: StructType): Unit =
    schema.fields.foreach { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => sys.error(
          s"graft-log stream source reads flat schemas only; column ${f.name} is ${f.dataType.simpleString}")
        case _ => ()
      }
    }
}

/** Offset = log version plus an optional SUB-VERSION file index (the
  * Delta DeltaSourceOffset shape): `index == -1` means `version` is
  * fully consumed (exactly the pre-r12 offset, so old checkpoints
  * deserialize unchanged); `index == k >= 0` means the first k files
  * of `version`'s deliverable partition list are consumed — how
  * `maxFilesPerTrigger`/`maxBytesPerTrigger` split one huge commit
  * across micro-batches without unbounded per-trigger work. The
  * per-version partition order is the commit record's stable adds
  * order, so an index is exact across restarts. */
final case class LogOffset(version: Long, index: Long = -1L) extends Offset {
  override def json(): String =
    if (index < 0L) s"""{"version":$version}"""
    else s"""{"version":$version,"index":$index}"""
}

final class LogMicroBatchStream(table: String, schema: StructType,
                                maxVersionsPerTrigger: Option[Long],
                                startingVersion: Option[Long] = None,
                                skipChangeCommits: Boolean = false,
                                readChangeFeed: Boolean = false,
                                maxFilesPerTrigger: Option[Long] = None,
                                maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** The version the stream's very first offset rests on — batches
    * starting here may begin with a table-(re)defining replace commit
    * delivered as the initial snapshot. */
  private val initialVersion: Long = startingVersion.map(_ - 1L).getOrElse(0L)

  // AvailableNow pins the head ONCE at query start, so the trigger
  // terminates even while writers keep appending
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(SnapshotLog.latestVersion(table).getOrElse(0L))

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(f => ReadLimit.maxFiles(f.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = LogOffset(initialVersion)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** One version's deliverable partitions, in the commit record's
    * stable order — the unit sub-version offsets index into. Cached:
    * admission control walks the same versions `planInputPartitions`
    * then slices. */
  private val partsCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[LogInputPartition]]()
  private def versionParts(v: Long): Seq[LogInputPartition] =
    partsCache.computeIfAbsent(v, vv =>
      LogPlanning.changeFeedPartitions(table, vv - 1, vv, initialVersion,
        skipChangeCommits, readChangeFeed, colmap = streamColmap,
        failOnSchemaChange = true, streamDropped = streamMapping._2))

  /** ADMISSION CONTROL: `maxVersionsPerTrigger` bounds how many log
    * versions one micro-batch covers; `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` additionally split a single huge commit at
    * FILE granularity (sub-version offsets) — a 10k-file backfill
    * commit drains across triggers with bounded per-trigger work
    * instead of one unbounded batch. At least one file is always
    * admitted, so the stream makes progress past any cap. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val so = start.asInstanceOf[LogOffset]
    val head0 = SnapshotLog.latestVersion(table).getOrElse(0L)
    val head = availableNowCap.fold(head0)(math.min(head0, _))
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) {
      // version-granular admission (the pre-r12 shape); a mid-version
      // start (options changed on an existing checkpoint) counts the
      // unfinished version as the first admitted one
      val base = if (so.index >= 0L) so.version - 1L else so.version
      val end = maxVersionsPerTrigger.fold(head)(m => math.min(head, base + m))
      if (end < so.version || (end == so.version && so.index >= 0L)) {
        // cap landed inside the unfinished version: deliver its rest
        if (so.version <= head) LogOffset(so.version) else so
      } else LogOffset(math.max(so.version, end))
    } else {
      val maxF = maxFilesPerTrigger.getOrElse(Long.MaxValue)
      val maxB = maxBytesPerTrigger.getOrElse(Long.MaxValue)
      val maxV = maxVersionsPerTrigger.getOrElse(Long.MaxValue)
      var v = if (so.index >= 0L) so.version else so.version + 1L
      var files = 0L
      var bytes = 0L
      var versions = 0L
      var endV = so.version
      var endI = so.index
      var full = false
      while (!full && v <= head && versions < maxV) {
        val parts = versionParts(v)
        val skip = if (v == so.version && so.index >= 0L) so.index.toInt else 0
        val remaining = parts.drop(skip)
        var take = 0
        while (take < remaining.size && !full) {
          val p = remaining(take)
          // always admit at least one file so the stream progresses
          if (files > 0L &&
              (files + 1L > maxF || bytes + p.bytes > maxB)) full = true
          else { files += 1L; bytes += p.bytes; take += 1 }
        }
        if (take == remaining.size) { endV = v; endI = -1L; versions += 1L; v += 1L }
        else if (take > 0) { endV = v; endI = (skip + take).toLong; full = true }
        else full = true // zero admitted: offset stays at the boundary
      }
      LogOffset(endV, endI)
    }
  }

  override def reportLatestOffset(): Offset =
    LogOffset(SnapshotLog.latestVersion(table).getOrElse(0L))

  override def deserializeOffset(json: String): Offset = {
    val m = "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(sys.error(s"malformed graft-log offset: $json"))
    val i = "\"index\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L) // pre-r12 checkpoints: whole version
    LogOffset(m.group(1).toLong, i)
  }

  /** The column mapping the stream reads under — captured ONCE at
    * stream construction, matching the schema the query captured. A
    * mapping change mid-run fails the stream; a RESTART captures the
    * new mapping, so the same checkpoint resumes from its offset and
    * re-delivers nothing (see changeFeedPartitions). */
  private lazy val streamMapping: (Seq[(String, String)], Seq[String]) =
    SnapshotLog.latestVersion(table)
      .map { v => val st = SnapshotLog.resolve(table, v); (st.colmap, st.dropped) }
      .getOrElse((Seq.empty, Seq.empty))
  private def streamColmap: Seq[(String, String)] = streamMapping._1

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LogOffset]
    val e = end.asInstanceOf[LogOffset]
    if (s.index < 0L && e.index < 0L)
      // whole-version range: one record walk, identical to pre-r12
      LogPlanning.changeFeedPartitions(table, s.version, e.version,
        initialVersion, skipChangeCommits, readChangeFeed,
        colmap = streamColmap, failOnSchemaChange = true,
        streamDropped = streamMapping._2)
        .map(p => p: InputPartition).toArray
    else {
      // sub-version slice: per-version lists cut at the file indexes
      val firstV = if (s.index >= 0L) s.version else s.version + 1L
      (firstV to e.version).flatMap { v =>
        val parts = versionParts(v)
        val lo = if (v == s.version && s.index >= 0L) s.index.toInt else 0
        val hi = if (v == e.version && e.index >= 0L) e.index.toInt else parts.size
        parts.slice(lo, hi)
      }.map(p => p: InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LogPartitionReaderFactory(schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Change-feed partition planning shared by the STREAM micro-batch
  * ((start, end] per trigger) and the BATCH CDF scan (one range). */
object LogPlanning {
  def changeFeedPartitions(table: String, s: Long, e: Long,
                           initialVersion: Long, skipChangeCommits: Boolean,
                           readChangeFeed: Boolean,
                           colmap: Seq[(String, String)] = Seq.empty,
                           failOnSchemaChange: Boolean = false,
                           streamDropped: Seq[String] = Seq.empty): Seq[LogInputPartition] = {
    if (e <= s) return Seq.empty
    val range = SnapshotLog.versions(table).filter(v => v > s && v <= e)
    // the batch is EXACTLY the commits (s, e] — if any were vacuumed,
    // their rows can never be delivered, so fail loudly (the Delta
    // versions-no-longer-exist rule) instead of silently dropping
    // them. This also rejects a fresh stream over a table whose
    // initial history was vacuumed (its head lives only in a
    // checkpoint; the records alone cannot reproduce the snapshot).
    val expected = (s + 1) to e
    if (!range.sameElements(expected)) sys.error(
      s"versions ${(expected.toSet -- range.toSet).toSeq.sorted.mkString(",")} of $table " +
        "no longer exist (vacuumed) — the stream cannot deliver their rows. " +
        "To stream the changes still in the log, restart with a fresh " +
        "checkpoint and .option(\"startingVersion\", <oldest surviving version>)")
    val recs = range.map(SnapshotLog.readRecord(table, _))
    // a COLUMN MAPPING change mid-stream invalidates the schema the
    // stream captured at start (Delta fails streams on schema changes
    // the same way) — fail loudly UNLESS the record's mapping IS the
    // one this stream already reads under: a RESTARTED stream captures
    // the post-change mapping at construction, so the same checkpoint
    // resumes from its offset and delivers the pending versions under
    // the new names (physical names are immutable — pre-change files
    // translate correctly). Only a mapping the stream has NOT adopted
    // fails. Batch CDF scans resolve the mapping at plan time and pass
    // failOnSchemaChange=false.
    if (failOnSchemaChange)
      recs.filter(r => r.colmap.isDefined || r.dropped.isDefined).foreach { r =>
        if (r.colmap.getOrElse(Seq.empty) != colmap ||
            r.dropped.getOrElse(Seq.empty) != streamDropped) sys.error(
          s"version ${r.version} of $table renames or drops columns — " +
            "the stream's schema no longer matches; RESTART the stream (the " +
            "same checkpoint resumes from its offset under the new names)")
      }

    /** Entries as readable partitions: deletion vectors ride along
      * (the reader skips dead positions — a vectored entry delivers
      * its LIVE rows, never resurrected deletes) and hive `col=value`
      * segments come back as partition-column constants. */
    def partsOf(es: Seq[graft.core.SnapshotLog.FileEntry], tag: Option[String],
                v: Long): Seq[LogInputPartition] =
      es.filter(_.rows > 0).map(en => LogInputPartition(
        graft.core.SnapshotLog.dataAbs(table, en), changeType = tag, version = v,
        relPath = en.path,
        partValues = LogBatchScan.partitionValues(en.path),
        dvDirs = en.dv.map(d => graft.core.SnapshotLog.sideAbs(table, d)).toSeq,
        colmap = colmap, bytes = en.bytes))

    recs.flatMap { r =>
      // the stream's FIRST batch may begin with a table-(re)defining
      // full replace (its adds ARE the snapshot at that version) — the
      // create-then-append shape, and the vacuum-restart path where
      // the oldest surviving version is a replace
      val initialSnapshot =
        s == initialVersion && r.version == range.head && r.removes.isEmpty && !r.append
      val insertTag = if (readChangeFeed) Some("insert") else None
      if (!r.dataChange) {
        // maintenance commits are content-identical by contract and
        // normally INVISIBLE (`Cli optimize` mid-stream is a
        // non-event) — EXCEPT as the stream's very first commit: the
        // oldest survivor after OPTIMIZE + vacuum is often a
        // maintenance full replace, and its adds ARE the snapshot, so
        // deliver them (silently dropping them would hand the
        // consumer zero snapshot rows with no error)
        if (initialSnapshot) partsOf(r.adds, insertTag, r.version)
        else if (s == initialVersion && r.version == range.head) sys.error(
          s"version ${r.version} of $table is a maintenance rewrite commit — " +
            "the stream cannot reconstruct the snapshot from its record " +
            "alone; run a full OPTIMIZE (compact) and restart the stream " +
            "from that version, or start from a full commit")
        else Seq.empty
      } else if (readChangeFeed) {
        // CDF mode: every data commit has a deliverable row delta —
        // adds tagged insert for appends (and the initial snapshot),
        // the recorded change-data files for rewrites. A merge is an
        // ordinary micro-batch here, not a wall.
        if (r.cdc.nonEmpty)
          r.cdc.filter(_.rows != 0L).map(ce => LogInputPartition(
            s"$table/${ce.path}", changeType = None, version = r.version,
            relPath = ce.path, colmap = colmap, bytes = ce.bytes))
        else if (r.append || initialSnapshot) partsOf(r.adds, insertTag, r.version)
        else sys.error(
          s"version ${r.version} of $table is a full ${r.kind} commit with no " +
            "recorded change data — its row delta is not derivable; restart " +
            "the stream from a fresh checkpoint")
      } else {
        if (r.append || initialSnapshot) partsOf(r.adds, None, r.version)
        else if (skipChangeCommits) Seq.empty // Delta's skipChangeCommits opt-out
        else sys.error(
          s"version ${r.version} of $table is a ${r.kind} commit — a stream " +
            "cannot un-deliver earlier rows; restart the stream from a fresh " +
            "checkpoint, set .option(\"skipChangeCommits\", \"true\") to " +
            "ignore update/delete commits, or stream the row-level feed " +
            "with .option(\"readChangeFeed\", \"true\")")
      }
    }
  }
}

/** One immutable data file plus the row-constant context its reader
  * needs: `changeType` is Some(tag) when the file itself has no
  * `_change_type` column (append adds tagged "insert"), None when it
  * does (cdc change-data files); `version` fills `_commit_version`;
  * `partValues` are hive `col=value` partition constants parsed from
  * the path (None = __HIVE_DEFAULT_PARTITION__, a null cell);
  * `dvDirs`/`relPath` locate the entry's DELETION-VECTOR sidecars —
  * dead in-file positions skip at read time (merge-on-read). */
final case class LogInputPartition(absPath: String,
                                   changeType: Option[String] = None,
                                   version: Long = 0L,
                                   relPath: String = "",
                                   partValues: Seq[(String, Option[String])] = Seq.empty,
                                   dvDirs: Seq[String] = Seq.empty,
                                   colmap: Seq[(String, String)] = Seq.empty,
                                   bytes: Long = 0L,
                                   idxAbs: Option[String] = None)
    extends InputPartition {
  /** Physical file/directory column name of a logical schema field
    * (column mapping; identity for unmapped tables). */
  def physName(l: String): String =
    colmap.find(_._1 == l).map(_._2).getOrElse(l)
  /** Logical name a physical partition-directory column surfaces
    * under (None once the rename shadows it). */
  def logicalName(p: String): Option[String] =
    colmap.find(_._2 == p).map(_._1)
      .orElse(if (colmap.exists(_._1 == p)) None else Some(p))
}

/** All of one hive partition's files as ONE input partition, keyed by
  * the partition value tuple (Catalyst-typed) — the storage-partitioned
  * join unit: Spark's `KeyGroupedPartitioning` aligns equal keys of two
  * co-partitioned tables into the same task and plans the join with NO
  * shuffle on either side. */
final case class LogGroupedPartition(files: Seq[LogInputPartition],
                                     keyVals: Seq[Any])
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(keyVals.toArray)
}

/** Every graft-log read — batch scans, storage-partitioned key groups
  * and streaming micro-batches — is VECTORIZED (see
  * [[LogColumnarReader]]): `createReader` exists only to satisfy the
  * interface and throws. `pushed` and `bloomPred` arrive from
  * `LogScan.createReaderFactory`; the streaming path passes neither. */
final class LogPartitionReaderFactory(schema: StructType,
                                      pushed: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty,
                                      bloomPred: Option[graft.core.SnapshotLog.Pred] = None)
    extends PartitionReaderFactory {

  /** EXECUTOR-side bloom probe (set only when the driver declined the
    * tier): one ~KB sidecar read decides whether this task opens its
    * parquet at all — a filter miss PROVES the pushed equality matches
    * no row of the file. An unreadable/missing sidecar reads the file
    * (conservative). Runs once per task, scales with files probed per
    * task, never with table size. */
  private def bloomSkips(p: LogInputPartition): Boolean =
    bloomPred.isDefined && p.idxAbs.isDefined && {
      try graft.core.BloomIndex.provablyEmpty(
        graft.core.BloomIndex.readSidecar(
          java.nio.file.Paths.get(p.idxAbs.get)), bloomPred.get)
      catch { case scala.util.control.NonFatal(_) => false }
    }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      s"graft-log: reads are columnar only, no row read for $partition")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case g: LogGroupedPartition =>
        new LogChainedColumnarReader(g.files.filterNot(bloomSkips), schema, pushed)
      case p: LogInputPartition if bloomSkips(p) => LogEmptyColumnarReader
      case p: LogInputPartition => new LogColumnarReader(p, schema, pushed)
      case p => throw new UnsupportedOperationException(
        s"graft-log: no columnar read for $p")
    }
}

/** A bloom-skipped file's reader: proven to hold no matching row, so
  * it yields nothing without touching the parquet. */
private[sources] object LogEmptyColumnarReader extends PartitionReader[ColumnarBatch] {
  override def next(): Boolean = false
  override def get(): ColumnarBatch =
    throw new IllegalStateException("empty reader has no batches")
  override def close(): Unit = ()
}

/** Sequential COLUMNAR reader over a storage-partitioned key group's
  * files (one task = one partition value; batches stream file by
  * file — the SPJ scan keeps vectorized decode). */
final class LogChainedColumnarReader(parts: Seq[LogInputPartition],
                                     schema: StructType,
                                     pushed: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
    extends PartitionReader[ColumnarBatch] {
  private val it = parts.iterator
  private var cur: LogColumnarReader = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = new LogColumnarReader(it.next(), schema, pushed)
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false
  }
  override def get(): ColumnarBatch = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Plan-audit seam: every per-file reader the source opens increments
  * this — a spec (or an operator) can assert that a pushed-down
  * predicate opened EXACTLY the manifest-pruned file set. */
object LogSourceAudit {
  val filesOpened = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Of those, files opened through the VECTORIZED reader — specs pin
    * that batch and streaming reads are columnar. */
  val columnarOpened = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Rows DECODED by the vectorized reader (post row-group / page
    * skipping, pre dv remapping) — specs pin that a selective filter
    * never decodes the row groups it provably cannot match. */
  val rowsDecoded = new java.util.concurrent.atomic.AtomicLong(0L)
}
