package graft.sources

import java.util.OptionalLong
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.SnapshotLog
import graft.core.SnapshotLog.{FileEntry, Pred}

/** BATCH side of the `graft-log` DSv2 source —
  * `spark.read.format("graft-log").load(tablePath)` — with Catalyst
  * filter pushdown into the snapshot log's manifest skipping: a plain
  * `.filter(...)` on the returned DataFrame prunes FILES at planning
  * time from the per-file min/max bounds the commits recorded (and
  * from hive `col=value` partition directories), exactly like the
  * hand-built `SnapshotLog.readWhere` path but automatic — the
  * Delta/Iceberg relation-provider behavior. What pushes down:
  *
  *  - `SupportsPushDownFilters`: equality / ranges / IN on indexed or
  *    partition columns translate to the manifest `Pred` tree; AND
  *    keeps the translatable half, OR needs both sides. Every filter
  *    also stays a RESIDUAL (Spark re-applies it post-scan) because
  *    manifest pruning is file-level — skipping drops files, never
  *    rows, so pruned and unpruned reads agree by construction.
  *  - `SupportsPushDownRequiredColumns`: the projection reaches the
  *    parquet page level per file (the vectorized reader requests only
  *    the projected columns) — a 2-column aggregate over a 50-column
  *    table decodes 2 columns.
  *  - `SupportsReportStatistics`: row/byte totals of the PRUNED file
  *    set straight from the manifest, so the optimizer sees real
  *    sizes (a filtered graft-log dimension auto-broadcasts without a
  *    hint — at 100 TB the difference between a broadcast and a
  *    sort-merge join).
  *
  * Deletion-vectored entries read THROUGH their vectors (dead
  * positions skip in the reader); hive partition columns come back as
  * constants parsed from entry paths; `versionAsOf`/`timestampAsOf`
  * options time-travel. With `readChangeFeed=true` the batch scan
  * delivers the ROW-LEVEL change feed for
  * (`startingVersion`-1, `endingVersion`] instead of the snapshot —
  * the same partitions the streaming CDF mode plans.
  *
  * Streaming (`readStream`) keeps its `MicroBatchStream` path through
  * the same builder; Spark does not run filter/column pushdown for
  * micro-batch scans, so those options are batch-only by engine rule.
  */
final class LogScanBuilder(table: String, schema: StructType,
                           options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var accepted: Array[sources.Filter] = Array.empty
  private var allFilters: Array[sources.Filter] = Array.empty
  private var required: StructType = schema
  private var aggRows: Option[(StructType, Seq[Seq[Any]])] = None
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    accepted = filters.filter(f => LogFilters.toPred(f).isDefined)
    // the full set also reaches the scan: filters the MANIFEST cannot
    // prune on (dates, string ranges) still skip row groups/pages
    // inside kept files through the parquet reader's own stats
    allFilters = filters
    filters // file-level pruning only: every filter stays a residual
  }
  override def pushedFilters(): Array[sources.Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT reaches the manifest: keep files only until their live
    * rows cover the ask — `SELECT * FROM t LIMIT 10` opens one file
    * of a million-file table. Partial by contract (Spark re-applies
    * the limit above; the scan just stops listing). */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** METADATA-ONLY aggregates (the Delta/Iceberg "answer COUNT(*)
    * from the manifest" optimization): a global COUNT(*) / MIN / MAX
    * over the snapshot resolves from per-file stats with ZERO file
    * reads — at 100 TB, a row count is a manifest sum, not a scan.
    * Spark only offers the push when every filter above was fully
    * handled; this scan keeps all filters residual, so the push
    * arrives exactly for the bare whole-table shape where manifest
    * numbers are authoritative. Soundness rules in
    * [[LogMetaAggregates.resolve]]: exact live row counts (deletion
    * vectors subtracted), MIN/MAX only where every live entry carries
    * untruncated bounds, no vectored entries, and bound doubles that
    * round-trip the column type. Anything else declines and Spark
    * computes normally. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    LogMetaAggregates.resolve(table, schema, options, agg).isDefined

  // only the PUSH call commits scan-building state — a probe via
  // supportCompletePushDown that Spark then abandons must not leave
  // the builder producing aggregate rows for a plain scan plan
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggRows = LogMetaAggregates.resolve(table, schema, options, agg)
    aggRows.isDefined
  }

  override def build(): Scan = aggRows match {
    case Some((aggSchema, row)) => new LogMetaAggScan(table, aggSchema, row)
    case None => new LogScan(table, schema, required,
      accepted.flatMap(LogFilters.toPred).toSeq, options, limit,
      allFilters.toSeq)
  }
}

/** A pushed metadata aggregate as a driver-local scan: the result rows
  * (one for a global aggregate, one per partition value for a pushed
  * GROUP BY) ship with the plan (`LocalScan`) — no job, no tasks, no
  * file opens. */
final class LogMetaAggScan(table: String, aggSchema: StructType,
                           resultRows: Seq[Seq[Any]]) extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    resultRows.map(org.apache.spark.sql.catalyst.InternalRow.fromSeq).toArray
  override def description(): String = s"graft-log $table metadata-aggregate"
}

final class LogScan(table: String, fullSchema: StructType,
                    requiredSchema: StructType, preds: Seq[Pred],
                    options: CaseInsensitiveStringMap,
                    limit: Option[Int] = None,
                    srcFilters: Seq[sources.Filter] = Seq.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {
  LogStreamScan.requireFlat(fullSchema)

  private val readChangeFeed = options.getBoolean("readChangeFeed", false)
  private val skipChangeCommits = options.getBoolean("skipChangeCommits", false)
  private val maxVersionsPerTrigger = Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
  private val maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toLong)
  private val maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong)
  private val startingVersion = Option(options.get("startingVersion")).map(_.toLong)
  private val endingVersion = Option(options.get("endingVersion")).map(_.toLong)
  private val versionAsOf = Option(options.get("versionAsOf")).map(_.toLong)
  private val timestampAsOf = Option(options.get("timestampAsOf")).map(_.toLong)

  override def readSchema(): StructType = requiredSchema
  override def description(): String =
    s"graft-log $table pruned=[${preds.mkString(", ")}]"

  // ----------------------------------------------------------- streaming
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LogMicroBatchStream(table, fullSchema, maxVersionsPerTrigger,
      startingVersion, skipChangeCommits, readChangeFeed,
      maxFilesPerTrigger, maxBytesPerTrigger)

  // --------------------------------------------------------------- batch
  override def toBatch: Batch = this

  /** The asked version's resolved state (entries + column mapping),
    * resolved once (the scan is planned, runtime-filtered, and
    * re-planned against one version). */
  private lazy val state: SnapshotLog.TableState = {
    val v = versionAsOf
      .orElse(timestampAsOf.map(SnapshotLog.versionAsOfTimestamp(table, _)))
      .orElse(SnapshotLog.latestVersion(table))
      .getOrElse(sys.error(s"no committed version in $table"))
    SnapshotLog.resolve(table, v)
  }
  private def allEntries: Seq[FileEntry] = state.entries
  /** The table schema with field names translated to their PHYSICAL
    * file/manifest names — what bounds merging and value typing key
    * by (identity for unmapped tables). */
  private lazy val physSchema: StructType =
    if (!state.mapped) fullSchema
    else StructType(fullSchema.fields.map(f => f.copy(name = state.physOf(f.name))))

  /** Snapshot entries manifest-pruned under the pushed predicate tree
    * plus any runtime filters — partition-directory values join the
    * per-file bounds so ONE conservative evaluation covers both
    * pruning tiers. Predicates arrive under LOGICAL names; manifest
    * stats and partition directories are PHYSICAL (column mapping). */
  /** Pushed + runtime predicates under PHYSICAL names, as one tree. */
  private def physPred(): Option[Pred] = {
    val all = (preds ++ runtimePreds)
      .map(p => if (state.mapped) SnapshotLog.renamePred(p, state.physOf) else p)
    if (all.isEmpty) None
    else Some(if (all.size == 1) all.head else Pred.And(all: _*))
  }

  private def keptEntries(): Seq[FileEntry] =
    physPred().fold(allEntries) { p =>
      allEntries.filter(e =>
        SnapshotLog.mightMatch(LogBatchScan.withPartitionBounds(e, physSchema), p))
    }

  // ------------------------------------------- bloom-index skipping
  /** Scan-lifetime sidecar memo: a re-plan (runtime filters arrive,
    * statistics asked twice) never re-reads a sidecar. */
  private val sidecarCache = scala.collection.mutable.Map
    .empty[String, Option[Map[String, org.apache.spark.util.sketch.BloomFilter]]]
  private var bloomMemo: (Seq[Pred], (Seq[FileEntry], Boolean)) = null

  /** Bounds-surviving entries with the BLOOM tier applied when the
    * driver may (point-equality atoms present, candidate set within
    * `graft.bloom.driverMaxFiles`, not a key-grouped SPJ scan — a
    * group dropped on one side would break the alignment contract).
    * Returns (entries, driverApplied); when the driver declines, the
    * reader factory probes each file's sidecar ON THE EXECUTOR before
    * opening the parquet — per-task KBs against 100s of MB, so the
    * driver never holds O(table) index bytes. */
  private def keptWithBloom(): (Seq[FileEntry], Boolean) = synchronized {
    val key = preds ++ runtimePreds
    if (bloomMemo != null && bloomMemo._1 == key) return bloomMemo._2
    val kept = keptEntries()
    val r = physPred() match {
      case Some(p) if groupedEntries().isEmpty &&
          kept.size <= graft.core.BloomIndex.driverMax(state.props) &&
          graft.core.BloomIndex.bloomable(p) && kept.exists(_.idx.isDefined) &&
          graft.core.BloomIndex.withinDriverBytes(table, kept,
            graft.core.BloomIndex.driverMaxBytes(state.props),
            sidecarCache.contains) =>
        (graft.core.BloomIndex.prune(table, kept, p, Int.MaxValue, sidecarCache),
          true)
      case _ => (kept, false)
    }
    bloomMemo = (key, r)
    r
  }

  // ------------------------------------- storage-partitioned grouping
  /** STORAGE-PARTITIONED JOINS (Iceberg's SPJ shape): when the session
    * opts in (`spark.sql.sources.v2.bucketing.enabled`) and every kept
    * entry lives in the SAME hive partition-column layout, the scan
    * reports `KeyGroupedPartitioning` over those columns and plans ONE
    * input partition per partition value. Two tables partitioned on the
    * same key then join with ZERO shuffle on either side — at 100 TB
    * the difference between a full two-sided exchange and a
    * co-located merge. A `groupBy(partitionCol)` likewise aggregates
    * shuffle-free. Opt-in by conf on purpose: grouping caps read
    * parallelism at the partition-value count, the wrong trade for a
    * plain scan with few, large partitions. Deliberately exclusive
    * with runtime file pruning (filterAttributes empties) — changing
    * the partition set under a key-aligned join would break the
    * alignment contract, and SPJ already removes the join's shuffle. */
  private def bucketingEnabled: Boolean =
    org.apache.spark.sql.SparkSession.active.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false") == "true"

  /** Kept entries grouped by partition value, when groupable: every
    * entry in the same `col=value` column sequence, every column in
    * the schema with a key-convertible type. */
  private def groupedEntries(): Option[(Seq[String], Seq[(Seq[Any], Seq[FileEntry])])] = {
    if (readChangeFeed || !bucketingEnabled) return None
    val kept = keptEntries()
    if (kept.isEmpty) return None
    // directory names are PHYSICAL; the reported partitioning must use
    // LOGICAL names (a dropped partition column ends groupability)
    val layouts = kept.map(e => LogBatchScan.partitionValues(e.path).map(_._1))
    val physCols = layouts.head
    if (physCols.isEmpty || layouts.exists(_ != physCols)) return None
    val colsOpt = physCols.map(state.logicalOf)
    if (colsOpt.exists(_.isEmpty)) return None
    val cols = colsOpt.flatten
    val types = cols.map(c => fullSchema.fields.find(_.name == c).map(_.dataType))
    if (types.exists(t => t.isEmpty || !LogBatchScan.keyType(t.get))) return None
    val typeOf = cols.zip(types.flatten).toMap
    val groups = kept.groupBy { e =>
      LogBatchScan.partitionValues(e.path).zip(cols).map { case ((_, v), lc) =>
        v.map(LogBatchScan.keyValue(_, typeOf(lc))).orNull
      }
    }
    Some((cols, groups.toSeq.map { case (k, es) => (k, es) }))
  }

  override def outputPartitioning(): Partitioning =
    groupedEntries() match {
      case Some((cols, groups)) => new KeyGroupedPartitioning(
        cols.map(c => Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression).toArray,
        groups.size)
      case None => new UnknownPartitioning(0)
    }

  // ----------------------------------------------- runtime filtering
  /** Dynamic file pruning, the DSv2 DPP hook (Iceberg's shape): a
    * broadcast join against a filtered dimension hands the dim side's
    * join keys to the fact scan at EXECUTION time as an IN filter,
    * and the scan re-prunes its file list before reading — at 100 TB
    * this is the difference between scanning a date-clustered fact
    * table and scanning the three files the dim's surviving keys
    * touch. Only columns the manifest can actually prune on are
    * reported (indexed stats columns + hive partition columns), so
    * Spark plans pruning subqueries only where they can help. */
  private var runtimePreds: Seq[Pred] = Seq.empty
  private var runtimeSrcFilters: Seq[sources.Filter] = Seq.empty

  override def filterAttributes(): Array[NamedReference] =
    if (readChangeFeed || groupedEntries().isDefined) Array.empty
    else {
      val prunable = allEntries.flatMap(e =>
        e.num.keys ++ e.str.keys ++
          LogBatchScan.partitionValues(e.path).map(_._1)).distinct
        .flatMap(state.logicalOf) // manifest names are physical
      // REQUIRED schema, not the table schema: Spark resolves these
      // against the scan's pruned output (PartitionPruning's
      // resolveRefs fails loudly on a column the projection dropped —
      // e.g. a stats-tracked column a MERGE target scan never reads)
      prunable.filter(requiredSchema.fieldNames.contains)
        .map(Expressions.column).toArray
    }

  override def filter(filters: Array[sources.Filter]): Unit = {
    // a pathological runtime IN (an unfiltered billion-key dim) would
    // cost more to evaluate per file than it prunes — ignore it; the
    // join itself still applies the keys exactly
    val sane = filters.filter {
      case sources.In(_, vs) => vs.length <= 100000
      case _ => true
    }
    runtimePreds = sane.flatMap(LogFilters.toPred).toSeq
    runtimeSrcFilters = sane.toSeq // row-group skipping inside kept files
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (readChangeFeed) {
      // batch CDF over (startingVersion-1, endingVersion|head]:
      // exactly the partitions ONE stream micro-batch covering that
      // range would plan (initial-snapshot allowance included), so
      // batch and stream CDF agree row for row
      val since = startingVersion.getOrElse(1L) - 1L
      val until = endingVersion.orElse(SnapshotLog.latestVersion(table))
        .getOrElse(0L)
      LogPlanning.changeFeedPartitions(table, since, until,
        initialVersion = since, skipChangeCommits = skipChangeCommits,
        readChangeFeed = true, colmap = state.colmap).toArray
    } else {
      def filePart(e: FileEntry): LogInputPartition =
        LogInputPartition(SnapshotLog.dataAbs(table, e), relPath = e.path,
          partValues = LogBatchScan.partitionValues(e.path),
          dvDirs = e.dv.map(d => SnapshotLog.sideAbs(table, d)).toSeq,
          colmap = state.colmap,
          idxAbs = e.idx.map(i => SnapshotLog.sideAbs(table, i)))
      groupedEntries() match {
        case Some((_, groups)) => groups.map { case (k, es) =>
          LogGroupedPartition(es.map(filePart), k): InputPartition
        }.toArray
        case None =>
          val kept = keptWithBloom()._1
          // pushed LIMIT: stop listing once live rows cover the ask —
          // Spark re-applies the exact limit above (partial push)
          val limited = limit.fold(kept) { n =>
            var acc = 0L
            kept.takeWhile { e =>
              val need = acc < n; acc += e.rows - e.dvRows; need
            }
          }
          limited.map(filePart(_): InputPartition).toArray
      }
    }

  /** EVERY batch read is VECTORIZED (ColumnarBatch via Spark's own
    * parquet reader — see [[LogColumnarReader]]): plain scans, storage-
    * partitioned key groups (chained per-file columnar readers),
    * deletion-vectored entries (remapped live-position vectors),
    * metadata/CDF columns (per-file constant vectors; `_graft_pos`
    * rides a position vector — so row-level DML target scans and batch
    * CDF decode columnar too), in any combination. STREAMING
    * micro-batches use the same reader. */
  override def createReaderFactory(): PartitionReaderFactory = {
    // WITHIN-FILE skipping: the pushed + runtime filters also travel to
    // the vectorized reader, which turns them into parquet
    // FilterPredicates against each file's footer — row-group stats and
    // column-index pages that provably cannot match are never decoded.
    // Manifest pruning drops files; this drops the dead 99% INSIDE a
    // kept file of a selective scan. Names translate to PHYSICAL here
    // (the files know nothing of column mapping); a filter shape that
    // cannot translate is simply not pushed (it stays a residual).
    // The reader opts out per file where ordinals must not shift:
    // deletion-vectored entries, and any scan asking for `_graft_pos`.
    val parquetPushed = (srcFilters ++ runtimeSrcFilters)
      .flatMap(LogFilters.renamePhys(_, state.physOf))
    // bloom probe placement: when the driver already applied the tier
    // (small candidate set) the executors skip the re-probe; past the
    // driver cap each TASK tests its own file's sidecar before opening
    // the parquet — the placement that scales to O(table) files
    val (_, driverBloomed) = keptWithBloom()
    val bloomPred =
      if (driverBloomed) None
      else physPred().filter(graft.core.BloomIndex.bloomable)
    new LogPartitionReaderFactory(requiredSchema, parquetPushed, bloomPred)
  }

  /** Manifest-exact statistics of the PRUNED scan: live rows (dv rows
    * excluded) and recorded bytes. Zero file opens — this is the
    * number the optimizer uses to pick broadcast vs shuffle joins. */
  override def estimateStatistics(): Statistics = {
    if (readChangeFeed) return new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.empty()
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
    val es = keptWithBloom()._1
    val rows = es.map(e => e.rows - e.dvRows).sum
    val bytes = es.map(_.bytes).sum
    new Statistics {
      override def sizeInBytes(): OptionalLong =
        if (bytes > 0L) OptionalLong.of(bytes) else OptionalLong.empty()
      override def numRows(): OptionalLong = OptionalLong.of(rows)
    }
  }
}

/** Resolves a pushed `Aggregation` from manifest stats alone, or
  * declines. The judge of soundness is exactness — a manifest answer
  * must be bit-identical to the scan it replaces:
  *
  *  - COUNT(*): per-entry `rows - dvRows` is exact by construction
  *    (the stage-write counted rows; deletion vectors carry their
  *    cardinality). Always answerable.
  *  - COUNT(c): `liveRows - sum(null counts)` — answerable when every
  *    live entry records a null count for `c` and none carries a
  *    deletion vector.
  *  - MIN(c)/MAX(c): per-file bounds are the true file min/max CAST
  *    TO DOUBLE — answerable only when (a) every live entry records
  *    bounds for `c` OR is provably all-null for it (recorded null
  *    count == rows — such entries contribute nothing; a bound-less
  *    file without that proof could hide the extremum),
  *    (b) no entry carries a deletion vector (a dead row may BE the
  *    recorded bound), and (c) the bound double provably round-trips
  *    the column type (|b| < 2^53 for integral columns — a long cast
  *    to double is exact below that, and cast monotonicity puts any
  *    lossy value's bound at >= 2^53). Strings decline: recorded
  *    bounds are TRUNCATED at the stats cap, so they bound but do
  *    not equal the true extrema. Timestamps decline: bounds are
  *    epoch-second views with slack.
  *  - GROUP BY / any other function / change-feed or time-bounded
  *    scans: decline, Spark computes normally.
  */
object LogMetaAggregates {
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
  private val Exact = 9007199254740992.0 // 2^53: doubles are integral-exact below

  def resolve(table: String, schema: StructType,
              options: CaseInsensitiveStringMap,
              agg: Aggregation): Option[(StructType, Seq[Seq[Any]])] = {
    if (options.getBoolean("readChangeFeed", false)) return None
    if (agg.aggregateExpressions().isEmpty) return None
    val st: SnapshotLog.TableState = {
      val v = Option(options.get("versionAsOf")).map(_.toLong)
        .orElse(Option(options.get("timestampAsOf")).map(ts =>
          SnapshotLog.versionAsOfTimestamp(table, ts.toLong)))
        .orElse(SnapshotLog.latestVersion(table))
      v.map(SnapshotLog.resolve(table, _))
        .getOrElse(SnapshotLog.TableState(0L, Seq.empty, Map.empty))
    }
    // partition-directory values merge in as point bounds + null facts
    // (stats key by PHYSICAL name), so partition columns answer
    // COUNT/MIN/MAX under exactly the same rules as stats columns
    val physSchema =
      if (!st.mapped) schema
      else StructType(schema.fields.map(f => f.copy(name = st.physOf(f.name))))
    val entries: Seq[FileEntry] = st.entries.filter(_.rows > 0)
      .map(e => LogBatchScan.withPartitionBounds(e, physSchema))

    def liveOf(scope: Seq[FileEntry]): Long = scope.map(e => e.rows - e.dvRows).sum

    def singleCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames.head)
        case _ => None
      }

    /** The extremum of `c` over `scope`'s bounds, as a catalyst value
      * of the column's type — None declines the whole push. An entry
      * whose recorded null count equals its rows is PROVABLY all-null
      * for `c`: it contributes nothing to MIN/MAX and is skipped
      * instead of declining on its (legitimately) missing bounds. */
    def bound(c: String, lower: Boolean, scope: Seq[FileEntry]): Option[(DataType, Any)] = {
      val dt = schema.fields.find(_.name == c).map(_.dataType).getOrElse(return None)
      val pc = st.physOf(c) // manifest stats key by physical name
      val ok = dt match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType => true
        case _ => false
      }
      if (!ok) return None
      if (scope.exists(_.dv.isDefined)) return None
      if (liveOf(scope) == 0L) return Some((dt, null)) // MIN/MAX of empty = null
      val contributing = scope.filterNot(e => e.nulls.get(pc).contains(e.rows))
      if (contributing.isEmpty) return Some((dt, null)) // every row null
      val bs = contributing.map(_.num.get(pc).map(b => if (lower) b._1 else b._2))
      if (bs.exists(_.isEmpty)) return None
      val d = if (lower) bs.flatten.min else bs.flatten.max
      val v: Any = dt match {
        case DoubleType => d
        case FloatType =>
          if (d.toFloat.toDouble == d) d.toFloat else return None
        case LongType =>
          if (math.abs(d) < Exact && d == math.rint(d)) d.toLong else return None
        case _ => // byte/short/int: always double-exact, narrow back
          if (d == math.rint(d)) dt match {
            case ByteType => d.toByte
            case ShortType => d.toShort
            case _ => d.toInt
          } else return None
      }
      Some((dt, v))
    }

    /** COUNT(c) = live rows minus recorded nulls — exact when every
      * entry in scope records a null count for `c` and none carries a
      * deletion vector (a dead row may be one of the counted nulls). */
    def countCol(c: String, scope: Seq[FileEntry]): Option[Long] = {
      if (!schema.fieldNames.contains(c)) return None
      if (scope.exists(_.dv.isDefined)) return None
      val pc = st.physOf(c)
      val ns = scope.map(_.nulls.get(pc))
      if (ns.exists(_.isEmpty)) None else Some(liveOf(scope) - ns.flatten.sum)
    }

    /** Every asked aggregate resolved over one entry scope, or None
      * (any unresolvable aggregate declines the whole push). */
    def resolveAggs(scope: Seq[FileEntry]): Option[Seq[(DataType, Any, Boolean)]] = {
      val resolved = agg.aggregateExpressions().toSeq.map {
        case _: CountStar => Some((LongType: DataType, liveOf(scope): Any, false))
        case cnt: Count if !cnt.isDistinct =>
          singleCol(cnt.column()).flatMap(countCol(_, scope))
            .map(n => (LongType: DataType, n: Any, false))
        case m: Min => singleCol(m.column()).flatMap(bound(_, lower = true, scope))
          .map { case (dt, v) => (dt, v, true) }
        case m: Max => singleCol(m.column()).flatMap(bound(_, lower = false, scope))
          .map { case (dt, v) => (dt, v, true) }
        case _ => None
      }
      if (resolved.exists(_.isEmpty)) None else Some(resolved.flatten)
    }

    def aggFields(r: Seq[(DataType, Any, Boolean)]): Seq[StructField] =
      r.zipWithIndex.map { case ((dt, _, nullable), i) =>
        StructField(s"agg_$i", dt, nullable)
      }

    if (agg.groupByExpressions().isEmpty) {
      resolveAggs(entries).map(r =>
        (StructType(aggFields(r)), Seq(r.map(_._2))))
    } else {
      // GROUP BY hive partition columns (the Delta/Iceberg "count per
      // day from the manifest" shape): one result row per partition
      // value, each group's aggregates under the same exactness rules.
      // Sound only when every live entry carries EVERY grouped column
      // in its `col=value` layout (one group per entry, no residue)
      // and the value string reconstructs the exact catalyst value.
      // A group whose live rows are all gone (dv'd to zero) is omitted
      // — a real scan would produce no row for it.
      val groupCols = agg.groupByExpressions().toSeq.map(singleCol)
      if (groupCols.exists(_.isEmpty)) return None
      val cols = groupCols.flatten
      val dts = cols.map(c => schema.fields.find(_.name == c).map(_.dataType))
      if (dts.exists(t => t.isEmpty || !LogBatchScan.keyType(t.get))) return None
      val types = cols.zip(dts.flatten)
      val physCols = cols.map(st.physOf)
      val keyed = entries.map(e => (LogBatchScan.partitionValues(e.path).toMap, e))
      if (keyed.exists { case (m, _) => !physCols.forall(m.contains) }) return None
      val groups = keyed.groupBy { case (m, _) => physCols.map(m(_)) }
        .toSeq.filter { case (_, es) => liveOf(es.map(_._2)) > 0L }
      val rows = groups.map { case (key, es) =>
        resolveAggs(es.map(_._2)).map { r =>
          val keyVals = key.zip(types).map { case (raw, (_, dt)) =>
            raw.map(LogBatchScan.keyValue(_, dt)).orNull
          }
          keyVals ++ r.map(_._2)
        }
      }
      if (rows.exists(_.isEmpty)) return None
      // output schema: grouped columns first, then the aggregates —
      // the order Spark's complete aggregate pushdown projects by
      val keyFields = types.map { case (c, dt) => StructField(c, dt, nullable = true) }
      // agg field TYPES from the global scope (entry-local rules: it
      // resolves whenever every group does, and for the empty table)
      val aggF = resolveAggs(entries) match {
        case Some(r) => aggFields(r)
        case None => return None
      }
      Some((StructType(keyFields ++ aggF), rows.flatten.map(_.toSeq)))
    }
  }
}

object LogBatchScan {
  /** Columns the manifest can file-skip on at the HEAD version
    * (indexed stats columns + hive partition columns) — the same set
    * `LogScan.filterAttributes` reports, computable without a built
    * scan (used by the merge runtime-pruning rule, which may fire
    * before scan pushdown). */
  private[graft] def prunableColumns(table: String,
                                     schema: StructType): Seq[String] =
    SnapshotLog.latestVersion(table).toSeq.flatMap { v =>
      val st = SnapshotLog.resolve(table, v)
      st.entries.flatMap(e =>
        e.num.keys ++ e.str.keys ++ partitionValues(e.path).map(_._1))
        .distinct.flatMap(st.logicalOf) // manifest names are physical
        .filter(schema.fieldNames.contains)
    }

  /** Hive `col=value` path segments of a staged entry as decoded raw
    * strings; None encodes `__HIVE_DEFAULT_PARTITION__` (null). */
  private[sources] def partitionValues(relPath: String): Seq[(String, Option[String])] = {
    val segs = relPath.split("/")
    // path shape: <root>/<stage-uuid>/[col=value/...]<part-file>
    segs.drop(2).dropRight(1).filter(_.contains("=")).map { seg =>
      val i = seg.indexOf('=')
      // %XX-only unescape (Spark's escapePathName never encodes space
      // as '+', so URLDecoder would silently corrupt a literal '+' in
      // a partition value — wrong bounds, wrong restored constants)
      val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.substring(i + 1))
      seg.substring(0, i) ->
        (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
    }.toSeq
  }

  /** Types usable as storage-partition keys: the hive `col=value`
    * string must reconstruct the exact Catalyst value. */
  private[sources] def keyType(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType => true
    case _ => false // float/double/decimal/date: formatting round-trips are not byte-stable
  }

  /** Hive partition string -> Catalyst key value of the column type. */
  private[sources] def keyValue(raw: String, dt: DataType): Any = dt match {
    case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(raw)
    case ByteType => raw.toByte
    case ShortType => raw.toShort
    case IntegerType => raw.toInt
    case LongType => raw.toLong
    case BooleanType => raw.toBoolean
    case other => sys.error(s"not a partition key type: $other")
  }

  /** Entry with its partition-directory values merged in as POINT
    * bounds, so one `mightMatch` pass evaluates stats-based skipping
    * and partition pruning together. Unparseable or null values add
    * no bounds (the file is kept — conservative). */
  private[sources] def withPartitionBounds(e: FileEntry,
                                           schema: StructType): FileEntry = {
    val pvs = partitionValues(e.path)
    if (pvs.isEmpty) e
    else {
      var num = e.num
      var str = e.str
      var nulls = e.nulls
      pvs.foreach {
        case (c, Some(v)) =>
          nulls += c -> 0L // a present partition value: no row is null
          schema.fields.find(_.name == c).map(_.dataType).foreach {
            case StringType => str += c -> (v, v)
            case ByteType | ShortType | IntegerType | LongType |
                 FloatType | DoubleType | _: DecimalType =>
              try { val d = v.toDouble; num += c -> (d, d) }
              catch { case _: NumberFormatException => () }
            case _ => ()
          }
        case (c, None) => // __HIVE_DEFAULT_PARTITION__: every row null
          nulls += c -> e.rows
      }
      e.copy(num = num, str = str, nulls = nulls)
    }
  }
}

/** Declared queries exercising the BATCH DSv2 relation end-to-end —
  * each reads a snapshot-log table through
  * `spark.read.format("graft-log")` with a plain DataFrame filter, so
  * the oracle checks cover the pushdown -> manifest-skip -> read
  * pipeline (not just the hand-built `readWhere` path). */
object LogBatchQueries {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  /** Catalyst filter pushdown into manifest skipping: the same
    * range + aggregate as `snapshot_skipping`, but via the automatic
    * relation path (a plan audit in LogBatchSourceSpec pins that the
    * scan opens exactly the pruned file set). */
  def logBatchRead(spark: SparkSession, dir: String): DataFrame = {
    val t = SnapshotLog.skippingDemoTable(spark, dir)
    spark.read.format("graft-log").load(t)
      .filter(col("o_totalprice") >= 50000.0 && col("o_totalprice") <= 100000.0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** Hive partition directories prune at planning time and the
    * partition column comes back as a constant-filled column. */
  def logBatchPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val t = SnapshotLog.partitionedDemoTable(spark, dir)
    spark.read.format("graft-log").load(t)
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"))
      .orderBy("source")
  }

  /** The DSv2 WRITE path end-to-end: an overwrite then an append land
    * as log commits through `df.write.format("graft-log")` (with
    * writer-side `statsFor` bounds), and the batch relation reads the
    * result back with manifest pruning on the written stats. */
  def logWriteRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.TempDirs.stable(s"logwrite_rt:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(t))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val orders = graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    orders.filter(col("o_orderkey") <= 20000L)
      .repartitionByRange(4, col("o_orderkey"))
      .write.format("graft-log").option("statsFor", "o_orderkey")
      .mode("overwrite").save(t)
    orders.filter(col("o_orderkey") > 20000L)
      .repartitionByRange(4, col("o_orderkey"))
      .write.format("graft-log").option("statsFor", "o_orderkey")
      .mode("append").save(t)
    spark.read.format("graft-log").load(t)
      .filter(col("o_orderkey") <= 30000L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** METADATA-ONLY aggregate: COUNT(*)/MIN/MAX over the whole log
    * table resolve from per-file manifest stats as a LocalScan — zero
    * jobs, zero file opens (LogMetaAggSpec pins the plan shape; this
    * query pins the VALUES against the oracle's real scan). */
  def logMetaAgg(spark: SparkSession, dir: String): DataFrame = {
    val t = SnapshotLog.skippingDemoTable(spark, dir)
    spark.read.format("graft-log").load(t)
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        min("o_orderkey").cast("bigint").as("min_key"),
        max("o_orderkey").cast("bigint").as("max_key"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
  }

  /** METADATA-ONLY aggregate per PARTITION: a GROUP BY on the hive
    * partition column resolves COUNT/MIN/MAX per partition value from
    * manifest stats alone — the "orders per status from the manifest"
    * shape; at 100 TB a per-day row count on a date-partitioned table
    * is a manifest sum, not a scan (LogMetaAggSpec pins zero opens +
    * the LocalScan plan; this query pins the VALUES vs the oracle). */
  def logMetaGroupby(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.TempDirs.stable(s"logmetagb:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(t))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    SnapshotLog.commit(spark, graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")),
      t, partitionBy = Seq("o_orderstatus"), statsFor = Seq("o_orderkey"))
    spark.read.format("graft-log").load(t)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
  }

  /** STORAGE-PARTITIONED JOIN: customer and nation, both
    * hive-partitioned by nationkey, join with zero shuffle on either
    * side under v2 bucketing (each nation's customers and its dim row
    * co-locate in one task). The joined result lands behind a parquet
    * barrier so the session conf restores before the driver collects. */
  def logSpj(spark: SparkSession, dir: String): DataFrame = {
    val cust = graft.core.TempDirs.stable(s"logspj_cust:$dir")
    val nat = graft.core.TempDirs.stable(s"logspj_nat:$dir")
    val out = graft.core.TempDirs.stable(s"logspj_out:$dir")
    Seq(cust, nat, out).foreach { d =>
      graft.core.TempDirs.deleteRecursively(new java.io.File(d))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    }
    SnapshotLog.commit(spark, graft.core.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_nationkey").as("nationkey")), cust,
      partitionBy = Seq("nationkey"))
    SnapshotLog.commit(spark, graft.core.Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nationkey"), col("n_name")), nat,
      partitionBy = Seq("nationkey"))
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.read.format("graft-log").load(cust)
        .join(spark.read.format("graft-log").load(nat), Seq("nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double").as("total_bal"))
        .write.mode("overwrite").parquet(out)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    }
    spark.read.parquet(out).orderBy("n_name")
  }

  /** The STREAMING SINK end-to-end: a 2-commit source log pumps
    * through `writeStream.format("graft-log")` one version per
    * trigger (two sink commits, each carrying the exactly-once txn),
    * and the destination's batch relation aggregates the result —
    * oracle-exact only if both triggers landed exactly once. */
  def streamLogSink(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.core.TempDirs.stable(s"logsink_src:$dir")
    val dst = graft.core.TempDirs.stable(s"logsink_dst:$dir")
    val ck = graft.core.TempDirs.stable(s"logsink_ck:$dir")
    Seq(src, dst, ck).foreach { d =>
      graft.core.TempDirs.deleteRecursively(new java.io.File(d))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    }
    val orders = graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    SnapshotLog.commit(spark, orders.filter(col("o_orderkey") <= 30000L), src,
      statsFor = Seq("o_orderkey"))
    SnapshotLog.commit(spark, orders.filter(col("o_orderkey") > 30000L), src,
      append = true)
    val q = spark.readStream.format("graft-log")
      .option("maxVersionsPerTrigger", "1").load(src)
      .writeStream.format("graft-log")
      .option("checkpointLocation", ck)
      .option("statsFor", "o_orderkey")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
    spark.read.format("graft-log").load(dst)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** SQL `DELETE FROM`: the key band dies via deletion vectors from a
    * pure-SQL statement on a registered graft-log table. The delete
    * plans as a delta-based row-level operation whose pinned scan
    * prunes files by the band, and lands through
    * `SnapshotLog.commitDelta`; the surviving rows aggregate
    * oracle-exact. */
  def logSqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.TempDirs.stable(s"logsql_del:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(t))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val orders = graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .repartitionByRange(8, col("o_orderkey"))
    SnapshotLog.commit(spark, orders, t, statsFor = Seq("o_orderkey"))
    spark.sql("DROP TABLE IF EXISTS graft_sql_del_t")
    spark.sql(s"CREATE TABLE graft_sql_del_t USING `graft-log` OPTIONS (path '$t')")
    try {
      spark.sql("DELETE FROM graft_sql_del_t WHERE o_orderkey >= 1000 AND o_orderkey <= 3000")
      spark.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
          |FROM graft_sql_del_t WHERE o_orderkey <= 30000
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
        .localCheckpoint(true) // materialize before the table drops
    } finally spark.sql("DROP TABLE graft_sql_del_t")
  }

  /** SQL MERGE INTO via SupportsDelta row-level operations: one
    * statement updates the century keys, deletes the %100=17 band,
    * and inserts shifted new rows — all landing as ONE merge-on-read
    * rewrite commit (vectors + staged inserts, zero files
    * rewritten); the oracle replays the same merge relationally. */
  def logMergeInto(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.TempDirs.stable(s"logsql_merge:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(t))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val orders = graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .repartitionByRange(8, col("o_orderkey"))
    SnapshotLog.commit(spark, orders, t, statsFor = Seq("o_orderkey"))
    spark.sql("DROP TABLE IF EXISTS graft_merge_t")
    spark.sql(s"CREATE TABLE graft_merge_t USING `graft-log` OPTIONS (path '$t')")
    try {
      graft.core.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .createOrReplaceTempView("graft_merge_base")
      spark.sql(
        """SELECT o_orderkey AS k, 'upd' AS action, o_orderstatus AS st,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1.00 AS DOUBLE) AS p
          |FROM graft_merge_base WHERE o_orderkey % 100 = 0
          |UNION ALL
          |SELECT o_orderkey AS k, 'del', o_orderstatus, o_totalprice
          |FROM graft_merge_base WHERE o_orderkey % 100 = 17
          |UNION ALL
          |SELECT o_orderkey + 6000000 AS k, 'ins', 'Z', CAST(1.00 AS DOUBLE)
          |FROM graft_merge_base WHERE o_orderkey % 100 = 0""".stripMargin)
        .createOrReplaceTempView("graft_merge_src")
      spark.sql(
        """MERGE INTO graft_merge_t g USING graft_merge_src s ON g.o_orderkey = s.k
          |WHEN MATCHED AND s.action = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, o_totalprice)
          |  VALUES (s.k, s.st, s.p)""".stripMargin)
      spark.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
          |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
          |FROM graft_merge_t
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
        .localCheckpoint(true)
    } finally spark.sql("DROP TABLE graft_merge_t")
  }

  /** IS [NOT] NULL file skipping from recorded per-file NULL COUNTS
    * (Delta's nullCount): the staged layout key-clusters orders so the
    * low-key half's files are ALL-null for `maybe_price` — the
    * `IS NOT NULL` filter prunes them at planning time from manifest
    * counts alone (a spec pins the opened-file set), and the surviving
    * aggregate is oracle-exact. */
  def logNullSkip(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.TempDirs.stable(s"lognull:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(t))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val orders0 = graft.core.Tables.orders(spark, dir)
    val half = orders0.agg(max("o_orderkey")).head().getLong(0) / 2L
    val orders = orders0.select(col("o_orderkey"), col("o_orderstatus"),
      when(col("o_orderkey") <= half, lit(null).cast("double"))
        .otherwise(col("o_totalprice")).as("maybe_price"))
    SnapshotLog.commit(spark, orders.repartitionByRange(6, col("o_orderkey")),
      t, statsFor = Seq("o_orderkey", "maybe_price"))
    spark.read.format("graft-log").load(t)
      .filter(col("maybe_price").isNotNull)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("maybe_price").cast("decimal(18,2)")), 2)
          .cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** BLOOM-INDEX file skipping (Delta's bloom filter index): the table
    * clusters documents by LENGTH, so doc_id — the point-lookup key —
    * interleaves across every file and min/max bounds keep all of
    * them; the per-file bloom sidecars (`graft.bloom.columns=doc_id`)
    * prune the IN-list lookup to the files that actually hold the ids
    * (BloomIndexSpec pins the opened-file count). The oracle replays
    * the lookup against the raw parquet. */
  def logBloomSkip(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.TempDirs.stable(s"logbloom:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(t))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .repartitionByRange(8, col("n_chars"), col("doc_id"))
    SnapshotLog.commit(spark, docs, t, statsFor = Seq("n_chars"),
      props = Some(Map(
        graft.core.BloomIndex.ColumnsProp -> "doc_id",
        graft.core.BloomIndex.ItemsProp -> "200000",
        graft.core.BloomIndex.FppProp -> "0.01")))
    spark.read.format("graft-log").load(t)
      .filter(col("doc_id").isin(1L, 7L, 13L, 29L, 57L))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** SHALLOW CLONE: a zero-copy metadata clone of the documents table,
    * then a merge-on-read DELETE on the CLONE — the source's files are
    * referenced in place (nothing copied), the vectors land clone-local
    * keyed by source-relative paths, and the aggregate over the clone
    * must equal the oracle's relational replay. The source staying
    * intact is CloneSpec territory. */
  def logClone(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.core.TempDirs.stable(s"logclone_src:$dir")
    val dst = graft.core.TempDirs.stable(s"logclone_dst:$dir")
    Seq(src, dst).foreach { t =>
      graft.core.TempDirs.deleteRecursively(new java.io.File(t))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    }
    val docs = graft.core.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .repartitionByRange(6, col("doc_id"))
    SnapshotLog.commit(spark, docs, src, statsFor = Seq("doc_id"))
    SnapshotLog.cloneTable(src, dst)
    SnapshotLog.deleteWhere(spark, dst,
      Pred.Between("doc_id", 100.0, 299.0))
    spark.read.format("graft-log").load(dst)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("bigint").as("sum_chars"))
      .orderBy("lang")
  }

  /** Deletion vectors apply inside the batch relation, composed with
    * filter pushdown: the scan opens only bound-overlapping files and
    * the reader skips the vectored positions. */
  def logBatchDv(spark: SparkSession, dir: String): DataFrame = {
    val t = graft.core.TempDirs.stable(s"logbatch_dv:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(t))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
    val orders = graft.core.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .repartitionByRange(8, col("o_orderkey"))
    SnapshotLog.commit(spark, orders, t, statsFor = Seq("o_orderkey"))
    SnapshotLog.deleteWhere(spark, t, Pred.Between("o_orderkey", 1000.0, 3000.0))
    spark.read.format("graft-log").load(t)
      .filter(col("o_orderkey") <= 30000L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("total"))
      .orderBy("o_orderstatus")
  }
}

/** `sources.Filter` -> manifest `Pred` translation. Conservative by
  * construction: anything untranslatable simply does not prune (the
  * filter still applies as a residual row filter). Timestamp values
  * convert to the epoch-second double view the stats pass recorded,
  * WIDENED by a second of slack so representation rounding can only
  * loosen pruning, never skip a matching file. */
object LogFilters {
  import sources._
  private val Inf = Double.PositiveInfinity

  /** (center, slack): numeric values are exact under the same
    * double-cast the stats used; timestamps carry slack. */
  private def point(v: Any): Option[(Double, Double)] = v match {
    case null => None
    case n: Byte => Some((n.toDouble, 0.0))
    case n: Short => Some((n.toDouble, 0.0))
    case n: Int => Some((n.toDouble, 0.0))
    case n: Long => Some((n.toDouble, 0.0))
    case n: Float => Some((n.toDouble, 0.0))
    case n: Double => Some((n, 0.0))
    case n: java.math.BigDecimal => Some((n.doubleValue, 0.0))
    case n: BigDecimal => Some((n.doubleValue, 0.0))
    case t: java.sql.Timestamp => Some((t.getTime / 1000.0, 1.0))
    case t: java.time.Instant => Some((t.toEpochMilli / 1000.0, 1.0))
    case t: java.time.LocalDateTime =>
      Some((t.toEpochSecond(java.time.ZoneOffset.UTC).toDouble, 1.0))
    case _ => None // strings handled structurally; dates are un-indexed
  }

  def toPred(f: Filter): Option[Pred] = f match {
    case EqualTo(a, v: String) => Some(Pred.StrEq(a, v))
    case EqualNullSafe(a, v: String) => Some(Pred.StrEq(a, v))
    case EqualTo(a, v) => point(v).map { case (d, s) =>
      if (s == 0.0) Pred.Eq(a, d) else Pred.Between(a, d - s, d + s)
    }
    case EqualNullSafe(a, v) if v != null => toPred(EqualTo(a, v))
    case GreaterThan(a, v) => point(v).map { case (d, s) => Pred.Between(a, d - s, Inf) }
    case GreaterThanOrEqual(a, v) => point(v).map { case (d, s) => Pred.Between(a, d - s, Inf) }
    case LessThan(a, v) => point(v).map { case (d, s) => Pred.Between(a, -Inf, d + s) }
    case LessThanOrEqual(a, v) => point(v).map { case (d, s) => Pred.Between(a, -Inf, d + s) }
    case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      Some(Pred.StrIn(a, vs.toSeq.map(_.asInstanceOf[String])))
    case In(a, vs) if vs.nonEmpty =>
      val ps = vs.toSeq.map(point)
      if (ps.exists(_.isEmpty)) None
      else if (ps.forall(_.exists(_._2 == 0.0)))
        Some(Pred.In(a, ps.map(_.get._1)))
      else Some(Pred.Or(ps.map { p =>
        val (d, s) = p.get; Pred.Between(a, d - s, d + s): Pred
      }: _*))
    case IsNull(a) => Some(Pred.IsNull(a))
    case IsNotNull(a) => Some(Pred.NotNull(a))
    case And(l, r) => (toPred(l), toPred(r)) match {
      case (Some(a), Some(b)) => Some(Pred.And(a, b))
      case (a, b) => a.orElse(b) // half a conjunction still prunes soundly
    }
    case Or(l, r) => for { a <- toPred(l); b <- toPred(r) } yield Pred.Or(a, b)
    case _ => None // Not/StartsWith: bounds cannot prove these
  }

  /** The filter with every attribute renamed logical -> physical (for
    * the parquet-level pushdown: data files know nothing of column
    * mapping). None for shapes this rewrite doesn't know — the filter
    * is then simply not pushed into the file (it stays a residual), so
    * dropping is always sound. */
  def renamePhys(f: Filter, m: String => String): Option[Filter] = f match {
    case EqualTo(a, v) => Some(EqualTo(m(a), v))
    case EqualNullSafe(a, v) => Some(EqualNullSafe(m(a), v))
    case GreaterThan(a, v) => Some(GreaterThan(m(a), v))
    case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(m(a), v))
    case LessThan(a, v) => Some(LessThan(m(a), v))
    case LessThanOrEqual(a, v) => Some(LessThanOrEqual(m(a), v))
    case In(a, vs) => Some(In(m(a), vs))
    case IsNull(a) => Some(IsNull(m(a)))
    case IsNotNull(a) => Some(IsNotNull(m(a)))
    case StringStartsWith(a, v) => Some(StringStartsWith(m(a), v))
    case StringEndsWith(a, v) => Some(StringEndsWith(m(a), v))
    case StringContains(a, v) => Some(StringContains(m(a), v))
    case And(l, r) =>
      for { a <- renamePhys(l, m); b <- renamePhys(r, m) } yield And(a, b)
    case Or(l, r) =>
      for { a <- renamePhys(l, m); b <- renamePhys(r, m) } yield Or(a, b)
    case Not(c) => renamePhys(c, m).map(Not)
    case _ => None
  }
}
