package graft.core

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** A minimal transaction log for published parquet artifacts — the
  * publicly documented lakehouse pattern (Delta Lake, Armbrust et al.
  * VLDB 2020; Apache Iceberg): data files are immutable and
  * write-once; version N of a table is a commit record
  * `_graft_log/v{N}.json` describing what that commit DID. Three
  * properties carry the 100 TB story:
  *
  *  - **Readers list the LOG, never the data directory.** A snapshot
  *    read resolves the file list from the log + direct opens of the
  *    listed files. A directory listing at scale is a million-entry
  *    walk that also SEES half-written files of in-flight jobs; the
  *    log read sees only committed state (readers are isolated from
  *    writers without locks).
  *  - **Commits are atomic and conditional.** A writer stages its
  *    files under `data/<uuid>/` (invisible — nothing references
  *    them), then `publish` hard-links the record as v{N} (CREATE-NEW:
  *    the link fails atomically if v{N} already exists). A lost race
  *    judges each winner by the loser's row of the conflict table
  *    (`conflicts`): re-link at the new head or fail loudly —
  *    optimistic concurrency, no coordinator. Readers see v{N-1} or
  *    v{N}, never a torn state.
  *  - **Commit records are DELTAS; checkpoints bound replay.** An
  *    append record lists only the files IT added (with their row
  *    counts and column bounds), so a long streaming-ingest chain
  *    writes O(new files) metadata per commit, not O(table) — the
  *    full-list-per-commit alternative is O(N²) total bytes over N
  *    appends. Resolving a snapshot replays records back to the
  *    nearest base: a `ckpt-v{N}.json` checkpoint (written every
  *    `checkpointEvery` commits, exactly Delta's `_last_checkpoint`
  *    pattern) or a replace record (which is a free checkpoint, since
  *    it redefines the table). Head resolution is O(checkpoint
  *    interval), independent of table age.
  *
  * A commit either REPLACES the table (snapshot publish — the
  * transactional form of the reference's `hotswap_table`,
  * postgres.rb:93-106) or APPENDS (the daily incremental: no data
  * file is ever rewritten). `vacuum` deletes data files unreferenced
  * by any version >= a cutoff — time-travel older than the cutoff
  * dies, the live head never does (the cutoff is clamped to the head,
  * and a checkpoint is published at the new base BEFORE old records
  * die, so every surviving version stays resolvable).
  *
  * Records and checkpoints are real JSON (jackson, shipped with
  * Spark): arbitrary strings in paths and column bounds are escaped
  * by the serializer, so string skipping stats work on realistic text
  * (bounds are additionally truncated Iceberg-style to keep the
  * metadata small — see `truncLower`/`truncUpper`).
  */
object SnapshotLog {

  /** How often the committer publishes a full-state checkpoint. */
  val checkpointEvery: Int = 20

  /** Highest log format version this reader supports (`"fmt"`).
    * Readers accept records up to this version and fail with an
    * explicit unsupported-format message beyond it — the
    * Delta/Iceberg protocol-version hook, so future format evolution
    * is DETECTED instead of surfacing as "corrupt". A record with no
    * `fmt` field is the fmt-1 (round-9) layout. Records are stamped
    * with the MINIMUM version that understands them (Delta's
    * protocol-minimum pattern): fmt 2 for the additive-optional fields
    * (`remove`, `cdc`, `dataChange`, `nc`), fmt 3 only when the record
    * carries COLUMN MAPPING (`colmap`/`dropcols`) — a reader ignoring
    * those would misname or resurrect columns, so it must fail. */
  val formatVersion: Int = 5
  /** The LOWEST format a reader must understand to read this record
    * CORRECTLY — the protocol-minimum rule: fields an old reader could
    * not safely ignore bump it. `base` (shallow clone — ignoring it
    * resolves files under the wrong root) and CHECK constraints in
    * `props` (an old WRITER ignoring them would commit violating rows;
    * writers read the head first, so the gate reaches them) stamp 4;
    * column mapping stamps 3; advisory fields (bloom config, `idx`,
    * `ts`) stay at 2 — ignoring them is slower, never wrong. A
    * `tableSchema` stamps 5: a reader ignoring it reads a truncated
    * table with no columns. */
  private def minFmt(r: CommitRecord): Int =
    if (r.tableSchema.isDefined) 5
    else if (r.adds.exists(_.base.isDefined) ||
        r.props.exists(ps => Constraints.of(ps).nonEmpty)) 4
    else if (r.colmap.isDefined || r.dropped.isDefined) 3
    else 2

  /** Longest string kept in a manifest bound (code points). Iceberg
    * truncates bounds the same way: a lower bound truncates to a
    * prefix (still <= every value), an upper bound truncates and
    * INCREMENTS its last code point (still >= every value). */
  val maxBoundLen: Int = 64

  /** One immutable data file as the log tracks it: table-relative
    * path, row count, and optional per-column [lo, hi] bounds — the
    * Iceberg/Delta data-skipping pattern, file-level pruning from log
    * metadata alone. A column absent from `num`/`str` has no bounds
    * for this file (it is always read — skipping may drop files,
    * never rows). `schema` is the Spark schema JSON of the commit
    * that wrote the file (recorded once per record, rehydrated per
    * entry): the reader PLANS from it without opening any file — the
    * entries' schemas union into one explicit read schema
    * (`schemaAt`), so every flat file is ONE scan and planning costs
    * zero footer reads. */
  /** `dv` optionally points at the entry's DELETION VECTOR sidecar (a
    * `dv/<uuid>` stage of (path, pos) parquet rows — Delta 3's
    * merge-on-read deletes): readers drop the listed row positions at
    * scan time, so a delete matching a few rows per file writes a
    * tiny sidecar instead of rewriting the files. `dvRows` counts the
    * dead positions (live rows = rows - dvRows). Bounds stay valid —
    * deletion only shrinks a file's row set. */
  /** `nulls` records per-column NULL COUNTS for the indexed columns
    * (Delta's nullCount): `0` proves `IS NULL` matches nothing in the
    * file, `== rows` proves `IS NOT NULL` matches nothing AND lets
    * metadata MIN/MAX treat a bound-less all-null file as provably
    * ignorable instead of declining. Deletion vectors only shrink a
    * file's row set, so both proofs survive them. A column absent
    * from `nulls` has no recorded count (never pruned on). */
  /** `idx` points at the file's BLOOM-INDEX sidecar (per-column
    * filters for point-equality skipping, see [[BloomIndex]]) —
    * immutable like the data file, sound across deletion vectors
    * (a DV only removes rows: misses stay misses). Absent = no index,
    * the file is never bloom-skipped.
    *
    * `base` is the SHALLOW-CLONE indirection (Delta CLONE): when set,
    * the data file lives under `base` (the source table's root), not
    * this table's — `path` stays the SOURCE-relative path so deletion
    * vector row keys and hive `col=value` segments parse unchanged.
    * dv/idx sidecar references of a cloned entry are stored ABSOLUTE
    * instead (they are opaque locations, never row keys). Vacuum never
    * deletes a based entry's data or an absolute sidecar — a clone
    * does not own its source's files. */
  final case class FileEntry(path: String, rows: Long,
                             num: Map[String, (Double, Double)] = Map.empty,
                             str: Map[String, (String, String)] = Map.empty,
                             schema: Option[String] = None,
                             bytes: Long = 0L,
                             dv: Option[String] = None,
                             dvRows: Long = 0L,
                             nulls: Map[String, Long] = Map.empty,
                             idx: Option[String] = None,
                             base: Option[String] = None)

  /** What one commit DID: `append=false` with empty `removes`
    * redefines the table as exactly `adds`; `append=true` extends the
    * previous version with `adds`; non-empty `removes` is a REWRITE —
    * the previous version minus `removes` plus `adds`, the Delta
    * add/remove action pair that makes a file-pruned copy-on-write
    * merge O(touched files) of metadata however large the table.
    * `txn` is the idempotent-writer token (appId -> batchId), Delta's
    * txnAppId/txnVersion rule: a commit whose batchId is <= the one
    * already recorded for its appId is a no-op replay. `schema` is the
    * committed DataFrame's schema JSON (partition columns included).
    * `cdc` are optional CHANGE-DATA files (the commit's row-level
    * delta tagged `_change_type`, Delta's `_change_data` pattern) with
    * their own `cdcSchema`. `dataChange=false` marks a maintenance
    * commit (compaction/re-clustering) whose logical content is
    * IDENTICAL to the previous version — change-feed consumers skip it
    * instead of failing. */
  /** `colmap`/`dropped` carry COLUMN MAPPING changes (Delta's
    * columnMapping, name mode): physical file column names are
    * immutable; `colmap` lists (logical -> physical) for every RENAMED
    * column and `dropped` the physical names excluded from reads.
    * When present the record REPLACES the table's mapping (full value,
    * not a delta) and stamps fmt 3 — a reader ignoring the field would
    * misname or resurrect columns, so old readers must fail loudly. */
  /** `props` carries TABLE PROPERTIES (Delta's tableProperties): when
    * present the record REPLACES the table's property map (full value,
    * like colmap). Properties are ADVISORY configuration (bloom-index
    * columns, tuning knobs) — a reader that ignores them stays
    * correct, just slower, so they do NOT bump the format version. */
  /** `tableSchema` is the schema a REPLACE declares beyond its files
    * (TRUNCATE, CREATE TABLE); the state keeps it until the next
    * replace, and it leads the version's column union (`schemaAt`). */
  final case class CommitRecord(version: Long, append: Boolean,
                                adds: Seq[FileEntry],
                                txn: Option[(String, Long)] = None,
                                schema: Option[String] = None,
                                removes: Seq[String] = Seq.empty,
                                cdc: Seq[FileEntry] = Seq.empty,
                                cdcSchema: Option[String] = None,
                                dataChange: Boolean = true,
                                colmap: Option[Seq[(String, String)]] = None,
                                dropped: Option[Seq[String]] = None,
                                props: Option[Map[String, String]] = None,
                                ts: Long = 0L,
                                tableSchema: Option[String] = None) {
    def rows: Long = adds.map(_.rows).sum
    /** append | replace | rewrite | optimize | schema | props — what
      * this commit did. */
    def kind: String =
      if (colmap.isDefined || dropped.isDefined) "schema"
      else if (props.isDefined && append && adds.isEmpty && removes.isEmpty) "props"
      else if (!dataChange) "optimize"
      else if (removes.nonEmpty) "rewrite"
      else if (append) "append" else "replace"
  }

  /** Resolved table state at a version: the exact live file set, the
    * high-water batchId per idempotent writer, the column mapping
    * (logical -> physical renames + dropped physical names), and the
    * last replace's declared `tableSchema`. */
  final case class TableState(version: Long, entries: Seq[FileEntry],
                              txns: Map[String, Long],
                              colmap: Seq[(String, String)] = Seq.empty,
                              dropped: Seq[String] = Seq.empty,
                              props: Map[String, String] = Map.empty,
                              ts: Long = 0L,
                              tableSchema: Option[String] = None) {
    def mapped: Boolean = colmap.nonEmpty || dropped.nonEmpty
    /** Physical file-column name of a logical column (identity when
      * never renamed). */
    def physOf(l: String): String =
      colmap.find(_._1 == l).map(_._2).getOrElse(l)
    /** Logical name a physical file column surfaces under; None when
      * the column was dropped. */
    def logicalOf(p: String): Option[String] =
      if (dropped.contains(p)) None
      else colmap.find(_._2 == p).map(_._1)
        // a physical name that IS some other column's logical name is
        // shadowed by the rename, not surfaced twice
        .orElse(if (colmap.exists(_._1 == p)) None else Some(p))
  }

  /** Back-compat aligned-arrays view of a resolved version (what the
    * pre-checkpoint log exposed): `rowCount` is the rows THIS commit
    * added, `files`/`stats`/`strStats` the full resolved lists. */
  final case class Manifest(version: Long, append: Boolean,
                            rowCount: Long, files: Seq[String],
                            stats: Map[String, (Seq[Option[Double]], Seq[Option[Double]])] = Map.empty,
                            strStats: Map[String, (Seq[Option[String]], Seq[Option[String]])] = Map.empty)

  private def logDir(table: String): Path = Paths.get(table, "_graft_log")
  private def vPath(table: String, v: Long): Path = logDir(table).resolve(s"v$v.json")
  private def ckptPath(table: String, v: Long): Path =
    logDir(table).resolve(s"ckpt-v$v.json")

  /** Committed versions, ascending (a contiguous range by
    * construction — commit retries fill every slot). */
  def versions(table: String): Seq[Long] = {
    val d = logDir(table)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val re = "v(\\d+)\\.json".r
      val st = Files.list(d)
      try st.iterator().asScala.flatMap(p => p.getFileName.toString match {
          case re(n) => Some(n.toLong); case _ => None
        }).toSeq.sorted
      finally st.close()
    }
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  def latestVersion(table: String): Option[Long] = versions(table).lastOption

  // ------------------------------------------------------------- json codec

  private val mapper = new ObjectMapper()

  private def entryToJson(e: FileEntry): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", e.path); o.put("rows", e.rows)
    if (e.bytes > 0L) o.put("bytes", e.bytes): Unit
    e.dv.foreach { d => o.put("dv", d); o.put("dvRows", e.dvRows); () }
    e.idx.foreach(i => o.put("idx", i): Unit)
    e.base.foreach(b => o.put("base", b): Unit)
    if (e.num.nonEmpty) {
      val n = o.putObject("num")
      e.num.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        val a = n.putArray(c); a.add(lo); a.add(hi)
      }
    }
    if (e.str.nonEmpty) {
      val s = o.putObject("str")
      e.str.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        val a = s.putArray(c); a.add(lo); a.add(hi)
      }
    }
    if (e.nulls.nonEmpty) {
      val nc = o.putObject("nc")
      e.nulls.toSeq.sortBy(_._1).foreach { case (c, n) => nc.put(c, n) }
    }
    o
  }

  private def entryFromJson(n: JsonNode): FileEntry = {
    def bounds[A](kind: String, f: JsonNode => A): Map[String, (A, A)] =
      Option(n.get(kind)).map { m =>
        m.properties().iterator().asScala.map { e =>
          e.getKey -> (f(e.getValue.get(0)), f(e.getValue.get(1)))
        }.toMap
      }.getOrElse(Map.empty[String, (A, A)])
    FileEntry(
      n.get("path").asText(), n.get("rows").asLong(),
      bounds("num", _.asDouble()), bounds("str", _.asText()),
      bytes = Option(n.get("bytes")).map(_.asLong()).getOrElse(0L),
      dv = Option(n.get("dv")).map(_.asText()),
      dvRows = Option(n.get("dvRows")).map(_.asLong()).getOrElse(0L),
      nulls = Option(n.get("nc")).map { m =>
        m.properties().iterator().asScala.map(e =>
          e.getKey -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty),
      idx = Option(n.get("idx")).map(_.asText()),
      base = Option(n.get("base")).map(_.asText()))
  }

  private def recordToJson(r: CommitRecord): String = {
    val o = mapper.createObjectNode()
    o.put("fmt", minFmt(r))
    o.put("version", r.version); o.put("append", r.append); o.put("rows", r.rows)
    if (r.ts > 0L) o.put("ts", r.ts): Unit
    r.colmap.foreach { m =>
      val a = o.putArray("colmap")
      m.foreach { case (l, p) => val e = a.addArray(); e.add(l); e.add(p); () }
    }
    r.dropped.foreach { d =>
      val a = o.putArray("dropcols")
      d.foreach(a.add)
    }
    r.props.foreach { ps =>
      val pn = o.putObject("props")
      ps.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    }
    r.txn.foreach { case (app, batch) =>
      val t = o.putObject("txn"); t.put("app", app); t.put("batch", batch)
    }
    r.schema.foreach(s => o.put("schema", s)): Unit
    r.tableSchema.foreach(s => o.put("tableSchema", s)): Unit
    if (!r.dataChange) o.put("dataChange", false): Unit
    if (r.removes.nonEmpty) {
      val rm = o.putArray("remove")
      r.removes.foreach(rm.add)
    }
    if (r.cdc.nonEmpty) {
      val c = o.putArray("cdc")
      r.cdc.foreach(e => c.add(entryToJson(e)))
      r.cdcSchema.foreach(s => o.put("cdcSchema", s)): Unit
    }
    // adds whose schema differs from the record's own (entries
    // RE-LISTED by a deletion-vector commit, originally written by
    // different-schema commits) keep their schema via the same
    // dedup-table + index encoding checkpoints use
    val extraSchemas = r.adds.flatMap(_.schema).distinct
      .filterNot(r.schema.contains)
    if (extraSchemas.nonEmpty) {
      val sa = o.putArray("schemas")
      extraSchemas.foreach(sa.add)
    }
    val a = o.putArray("add")
    r.adds.foreach { e =>
      val en = entryToJson(e)
      e.schema.filterNot(r.schema.contains)
        .foreach(s => en.put("si", extraSchemas.indexOf(s)): Unit)
      a.add(en)
    }
    mapper.writeValueAsString(o)
  }

  /** Test/diagnostic seam: parse-failure counter for O(tail)
    * head-resolution audits (each record read bumps it once). */
  private[core] val recordReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Step seam for specs: `publish` calls it at "staged" (record in
    * its tmp file, before the first link), "linked" (before the
    * checkpoint) and "checkpointed" (checkpoint in its tmp file, before
    * that links); a throw there fails that step. No-op in production. */
  @volatile private[core] var onStep: String => Unit = _ => ()

  /** IN-COMMIT TIMESTAMP for the record about to publish at `v`
    * (Delta's inCommitTimestamps): the commit instant is DATA, not a
    * file mtime — a table copied, backed up, or restored keeps its
    * time-travel ordering. Monotonic: clamped one past the previous
    * version's timestamp (clock skew between writers cannot reorder
    * history). */
  private def commitTs(table: String, v: Long): Long = {
    val prev =
      if (v <= 1L) 0L
      else try readRecord(table, v - 1).ts
      catch { case scala.util.control.NonFatal(_) =>
        try resolve(table, v - 1).ts
        catch { case scala.util.control.NonFatal(_) => 0L }
      }
    math.max(System.currentTimeMillis(), prev + 1L)
  }

  /** One commit record. Fails loudly on a missing (vacuumed) or
    * corrupt record — never a partial snapshot. */
  def readRecord(table: String, v: Long): CommitRecord = {
    recordReads.incrementAndGet()
    val p = vPath(table, v)
    if (!Files.exists(p)) sys.error(
      s"version $v of $table has no commit record (vacuumed or never committed)")
    val n = try mapper.readTree(Files.readAllBytes(p))
      catch { case e: Exception => sys.error(s"corrupt commit record v$v: ${e.getMessage}") }
    if (n == null) sys.error(s"corrupt commit record v$v: not JSON")
    // format detection BEFORE the corruption check: an old or
    // newer-than-us record is a version problem, not corruption
    if (n.has("files")) sys.error(
      s"commit record v$v uses the pre-delta-record log format " +
        "(per-commit \"files\" arrays) — written by an older graft. " +
        "Re-publish the table with the current writer; this reader supports " +
        s"fmt <= $formatVersion only")
    val fmt = Option(n.get("fmt")).map(_.asInt()).getOrElse(1)
    if (fmt > formatVersion) sys.error(
      s"commit record v$v has fmt=$fmt — written by a NEWER graft than this " +
        s"reader (supports fmt <= $formatVersion); upgrade the reader")
    if (!n.has("version") || !n.has("append") || !n.has("add"))
      sys.error(s"corrupt commit record v$v: missing fields")
    def entriesOf(field: String): Seq[FileEntry] = n.get(field) match {
      case null => Seq.empty
      case a: ArrayNode => (0 until a.size()).map(i => entryFromJson(a.get(i)))
      case _ => sys.error(s"corrupt commit record v$v: $field is not an array")
    }
    val txn = Option(n.get("txn")).map(t => (t.get("app").asText(), t.get("batch").asLong()))
    val schema = Option(n.get("schema")).map(_.asText())
    val extraSchemas = Option(n.get("schemas")).map {
      case a: ArrayNode => (0 until a.size()).map(a.get(_).asText())
      case _ => sys.error(s"corrupt commit record v$v: schemas is not an array")
    }.getOrElse(Seq.empty[String])
    // per-entry schema: its own si wins, else the record's schema
    val adds = n.get("add") match {
      case a: ArrayNode => (0 until a.size()).map { i =>
        val en = a.get(i)
        val e = entryFromJson(en)
        Option(en.get("si")) match {
          case Some(si) => e.copy(schema = Some(extraSchemas(si.asInt())))
          case None => e.copy(schema = schema)
        }
      }
      case _ => sys.error(s"corrupt commit record v$v: add is not an array")
    }
    val cdcSchema = Option(n.get("cdcSchema")).map(_.asText())
    val removes = Option(n.get("remove")).map {
      case a: ArrayNode => (0 until a.size()).map(a.get(_).asText())
      case _ => sys.error(s"corrupt commit record v$v: remove is not an array")
    }.getOrElse(Seq.empty[String])
    val colmap = Option(n.get("colmap")).map {
      case a: ArrayNode => (0 until a.size()).map { i =>
        (a.get(i).get(0).asText(), a.get(i).get(1).asText())
      }
      case _ => sys.error(s"corrupt commit record v$v: colmap is not an array")
    }
    val dropped = Option(n.get("dropcols")).map {
      case a: ArrayNode => (0 until a.size()).map(a.get(_).asText()): Seq[String]
      case _ => sys.error(s"corrupt commit record v$v: dropcols is not an array")
    }
    val props = Option(n.get("props")).map(p =>
      p.properties().iterator().asScala.map(e =>
        e.getKey -> e.getValue.asText()).toMap)
    CommitRecord(n.get("version").asLong(), n.get("append").asBoolean(),
      adds, txn, schema,
      removes = removes,
      cdc = entriesOf("cdc").map(_.copy(schema = cdcSchema)),
      cdcSchema = cdcSchema,
      dataChange = Option(n.get("dataChange")).forall(_.asBoolean()),
      colmap = colmap, dropped = dropped, props = props,
      ts = Option(n.get("ts")).map(_.asLong()).getOrElse(0L),
      tableSchema = Option(n.get("tableSchema")).map(_.asText()))
  }

  private def stateToJson(st: TableState): String = {
    val o = mapper.createObjectNode()
    o.put("fmt",
      if (st.tableSchema.isDefined) 5
      else if (st.entries.exists(_.base.isDefined) ||
          Constraints.of(st.props).nonEmpty) 4
      else if (st.mapped) 3 else 2)
    o.put("version", st.version)
    if (st.ts > 0L) o.put("ts", st.ts): Unit
    st.tableSchema.foreach(s => o.put("tableSchema", s)): Unit
    if (st.colmap.nonEmpty) {
      val a = o.putArray("colmap")
      st.colmap.foreach { case (l, p) => val e = a.addArray(); e.add(l); e.add(p); () }
    }
    if (st.dropped.nonEmpty) {
      val a = o.putArray("dropcols")
      st.dropped.foreach(a.add)
    }
    if (st.props.nonEmpty) {
      val pn = o.putObject("props")
      st.props.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    }
    val t = o.putObject("txns")
    st.txns.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
    // schemas dedupe into one table; entries reference by index (a
    // checkpoint over 10k files repeats each schema once, not 10k times)
    val schemas = st.entries.flatMap(_.schema).distinct
    val sa = o.putArray("schemas")
    schemas.foreach(sa.add)
    val a = o.putArray("entries")
    st.entries.foreach { e =>
      val en = entryToJson(e)
      e.schema.foreach(s => en.put("si", schemas.indexOf(s))): Unit
      a.add(en)
    }
    mapper.writeValueAsString(o)
  }

  private def readCheckpoint(table: String, v: Long): Option[TableState] = {
    val p = ckptPath(table, v)
    if (!Files.exists(p)) None
    else try {
      val n = mapper.readTree(Files.readAllBytes(p))
      val fmt = Option(n.get("fmt")).map(_.asInt()).getOrElse(1)
      if (fmt > formatVersion) sys.error(
        s"checkpoint ckpt-v$v has fmt=$fmt — written by a NEWER graft than " +
          s"this reader (supports fmt <= $formatVersion); upgrade the reader")
      val a = n.get("entries").asInstanceOf[ArrayNode]
      val schemas = Option(n.get("schemas")).map(s =>
        (0 until s.size()).map(s.get(_).asText())).getOrElse(Seq.empty)
      val txns = Option(n.get("txns")).map(t =>
        t.properties().iterator().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)
        .getOrElse(Map.empty[String, Long])
      val colmap = Option(n.get("colmap")).map { cm =>
        (0 until cm.size()).map(i =>
          (cm.get(i).get(0).asText(), cm.get(i).get(1).asText()))
      }.getOrElse(Seq.empty)
      val dropped = Option(n.get("dropcols")).map(d =>
        (0 until d.size()).map(d.get(_).asText()): Seq[String]).getOrElse(Seq.empty)
      val props = Option(n.get("props")).map(p =>
        p.properties().iterator().asScala.map(e =>
          e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String])
      Some(TableState(n.get("version").asLong(),
        (0 until a.size()).map { i =>
          val en = a.get(i)
          val e = entryFromJson(en)
          Option(en.get("si")).map(si => e.copy(schema = Some(schemas(si.asInt()))))
            .getOrElse(e)
        }, txns, colmap, dropped, props,
        ts = Option(n.get("ts")).map(_.asLong()).getOrElse(0L),
        tableSchema = Option(n.get("tableSchema")).map(_.asText())))
    } catch {
      case scala.util.control.NonFatal(e) => sys.error(
        s"corrupt checkpoint ckpt-v$v of $table: ${e.getMessage} — " +
          "if the commit records below v" + v + " still exist, deleting the " +
          "checkpoint falls back to record replay; if they were vacuumed, " +
          "this checkpoint is the only copy of the base state — restore it")
    }
  }

  /** Publish a checkpoint (create-new; a racing duplicate is
    * identical by construction, so losing is a silent no-op). */
  private def writeCheckpoint(table: String, st: TableState): Unit = {
    val tmp = logDir(table).resolve(s".ckpt-tmp-${java.util.UUID.randomUUID()}")
    try {
      Files.write(tmp, stateToJson(st).getBytes("UTF-8"))
      onStep("checkpointed")
      Files.createLink(ckptPath(table, st.version), tmp)
    } catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally Files.deleteIfExists(tmp)
  }

  // ------------------------------------------------------------ resolution

  private def applyRecord(st: TableState, r: CommitRecord): TableState = {
    // removes are authoritative: a record carrying them is a rewrite
    // whatever its append flag says (defense against hand-edited or
    // future-writer records that combine both)
    val replace = r.removes.isEmpty && !r.append
    val entries =
      if (r.removes.nonEmpty) {
        val gone = r.removes.toSet
        st.entries.filterNot(e => gone(e.path)) ++ r.adds
      }
      else if (r.append) st.entries ++ r.adds
      else r.adds // full replace
    // the mapping, like txns, survives replaces: physical names are
    // immutable, so a replace staged under the mapping stays mapped
    TableState(r.version, entries,
      r.txn.fold(st.txns) { case (app, batch) =>
        st.txns + (app -> math.max(batch, st.txns.getOrElse(app, Long.MinValue)))
      },
      r.colmap.getOrElse(st.colmap),
      r.dropped.getOrElse(st.dropped),
      // properties, like the mapping and txns, survive replaces
      r.props.getOrElse(st.props),
      math.max(st.ts, r.ts),
      if (replace) r.tableSchema else st.tableSchema)
  }

  /** Resolve the full table state at `v`: walk back to the nearest
    * CHECKPOINT, then replay forward. The walk is bounded by
    * `checkpointEvery`, so head resolution does not grow with table
    * age — the property that makes a months-old streaming-ingest
    * table (thousands of append commits) readable in O(interval)
    * metadata operations.
    *
    * The walk deliberately does NOT stop at a replace record even
    * though the FILE list restarts there: txn (appId, batchId)
    * high-water marks must survive replaces, or a maintenance compact
    * while an idempotent writer is down would erase its replay
    * protection and let the restarted writer double-append — Delta
    * carries SetTransaction actions through checkpoints for exactly
    * this reason. `applyRecord` resets entries on a replace but
    * always MERGES txns. */
  def resolve(table: String, v: Long): TableState = {
    var recs = List.empty[CommitRecord]
    var base = TableState(0L, Seq.empty, Map.empty)
    var w = v
    var done = w < 1
    while (!done) {
      readCheckpoint(table, w) match {
        case Some(st) => base = st; done = true
        case None =>
          recs ::= readRecord(table, w)
          w -= 1; done = w < 1
      }
    }
    recs.foldLeft(base)(applyRecord)
  }

  private def resolveHead(table: String): Option[TableState] =
    latestVersion(table).map(resolve(table, _))

  /** Resolved state at each of `vs` (ascending, typically the
    * surviving versions): ONE base resolution + forward replay — the
    * shared accumulation under vacuum, the orphan sweep, and history,
    * so the replay semantics (incl. txns-through-replaces) live in
    * exactly one place. */
  private def statesFrom(table: String, vs: Seq[Long]): Seq[TableState] =
    if (vs.isEmpty) Seq.empty
    else vs.tail.scanLeft(resolve(table, vs.head))(
      (st, v) => applyRecord(st, readRecord(table, v)))

  /** The columns the table currently indexes for data skipping: every
    * column any live file carries bounds for. */
  def indexedColumns(st: TableState): Seq[String] =
    (st.entries.flatMap(_.num.keys) ++ st.entries.flatMap(_.str.keys)).distinct.sorted

  /** Back-compat aligned-arrays view of a resolved version. */
  def readManifest(table: String, v: Long): Manifest = {
    val rec = readRecord(table, v)
    val st = resolve(table, v)
    val numCols = st.entries.flatMap(_.num.keys).distinct
    val strCols = st.entries.flatMap(_.str.keys).distinct
    Manifest(v, rec.append, rec.rows, st.entries.map(_.path),
      numCols.map(c => c -> (st.entries.map(_.num.get(c).map(_._1)),
        st.entries.map(_.num.get(c).map(_._2)))).toMap,
      strCols.map(c => c -> (st.entries.map(_.str.get(c).map(_._1)),
        st.entries.map(_.str.get(c).map(_._2)))).toMap)
  }

  // ---------------------------------------------------------------- commit

  /** Iceberg-style bound truncation: a LOWER bound may truncate to a
    * prefix (prefix <= original <= every value). Code-point-safe (no
    * split surrogate pairs). */
  private[core] def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= maxBoundLen) s
    else s.substring(0, s.offsetByCodePoints(0, maxBoundLen))

  /** An UPPER bound truncates then INCREMENTS its last code point so
    * it stays >= every string sharing the prefix ("aaa…z" -> "aab").
    * Code-point order equals UTF-8 byte order, the order Spark's
    * min/max produced, so the incremented bound is valid under the
    * same comparison `mightMatch` uses. Skips the surrogate gap; if
    * every code point is already U+10FFFF there is no finite upper
    * bound — returns None and the file keeps no bound for the column. */
  private[core] def truncUpper(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= maxBoundLen) return Some(s)
    var cps = s.codePoints().toArray.take(maxBoundLen)
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        val next = if (cps(i) + 1 == 0xD800) 0xE000 else cps(i) + 1
        cps = cps.take(i) :+ next
        return Some(new String(cps, 0, cps.length))
      }
      i -= 1 // carry: this position is maxed out, drop it and bump the previous
    }
    None
  }

  /** The commit kinds a lost race is judged by — the rows of
    * `conflicts`. `constraints` are the CHECK names the loser's staged
    * rows were validated against. */
  private sealed trait Loser
  private object Loser {
    final case class Blind(txn: Option[(String, Long)], constraints: Set[String]) extends Loser
    final case class Rewrite(removes: Set[String], constraints: Set[String]) extends Loser
    case object Conditional extends Loser
    case object Restore extends Loser
    case object Properties extends Loser
    case object AddConstraint extends Loser
    case object SchemaChange extends Loser
    case object Clone extends Loser
  }

  /** THE CONFLICT TABLE — Delta's conflict checker (Armbrust et al.,
    * VLDB 2020) as data. A lost race judges each winner `w` after the
    * loser's `base`, the version it derived its record from; Left(msg)
    * fails the loser, Right(v) returns v instead:
    * {{{
    * loser (base)                       w conflicts when it...       fails with "concurrent ..."
    * Blind commit (head resolved)       adds a CHECK constraint      ADD CONSTRAINT
    *                                    (applied the loser's txn: return w's version instead)
    * Conditional commit (expectedHead)  is any winner                modification
    * Rewrite, commitDelta (expected)    replaces, removes a file the modification
    *                                    loser removes, adds a CHECK
    * Restore (head)                     is any winner                modification
    * Properties, DROP CONSTRAINT (head) has props, colmap, dropped   property/schema change
    * AddConstraint (validated v)        as Properties; adds/removes  property/schema change;
    *                                    data                         modification
    * SchemaChange: RENAME/DROP (head)   has colmap, dropped, props   schema change
    * Clone (0)                          is any winner                "already has a v1 commit"
    * }}}
    * No conflict: the record re-links verbatim, as if serialized after
    * the winners. `props`/`colmap` replace the whole value, so metadata
    * derived at `base` is stale once a winner changed any. Like Delta's
    * WriteSerializable, two rewrites that both INSERT one brand-new key
    * both land: neither removed a file the other touched. */
  private def conflicts(table: String, base: Long, loser: Loser,
                        w: CommitRecord): Option[Either[String, Long]] = {
    def fail(what: String) = Some(Left(s"concurrent $what on $table: " +
      s"v${w.version} (${w.kind}) landed past v$base; re-derive and retry"))
    val added = w.props.toSeq.flatMap(Constraints.of).map(_._1)
    val metadata = w.props.isDefined || w.colmap.isDefined || w.dropped.isDefined
    val replace = w.removes.isEmpty && !w.append
    loser match {
      case Loser.Blind(txn, known) =>
        if (txn.exists { case (app, b) => w.txn.exists(t => t._1 == app && t._2 >= b) })
          Some(Right(w.version))
        else if (added.exists(!known(_))) Some(Left(
          s"concurrent ADD CONSTRAINT on $table (${added.filterNot(known).mkString(", ")}) " +
            "landed while this write was staging — its rows were not " +
            "validated against the new constraint; re-run the write"))
        else None
      case Loser.Rewrite(removes, known) =>
        if (replace || w.removes.exists(removes) || added.exists(!known(_))) fail("modification")
        else None
      case Loser.Conditional | Loser.Restore => fail("modification")
      case Loser.Properties => if (metadata) fail("property/schema change") else None
      case Loser.AddConstraint =>
        if (metadata) fail("property/schema change")
        else if (replace || w.adds.nonEmpty || w.removes.nonEmpty) fail("modification")
        else None
      case Loser.SchemaChange => if (metadata) fail("schema change") else None
      case Loser.Clone =>
        Some(Left(s"clone target $table already has a v1 commit — clone needs a fresh directory"))
    }
  }

  private val publishAttempts = 20 // lost link races one publish rides out

  /** THE one way a version lands: `record(v)` (its in-commit timestamp
    * stamped here) links at base+1, so any winner since `base` — during
    * a long stage write too — is judged by the loser's row of
    * `conflicts`; absent an outcome the record re-links at head+1. The
    * tmp record dies on every path; the checkpoint is best effort after
    * the link (a landed version never raises for it — resolve replays
    * the records). */
  private def publish(table: String, base: Long, loser: Loser)(
      record: Long => CommitRecord): Long = {
    Files.createDirectories(logDir(table))
    val tmp = logDir(table).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    var v = base + 1
    var attempt = 0
    try {
      var linked = false
      while (!linked) {
        Files.write(tmp,
          recordToJson(record(v).copy(ts = commitTs(table, v))).getBytes("UTF-8"))
        if (attempt == 0) onStep("staged")
        try { Files.createLink(vPath(table, v), tmp); linked = true } // atomic create-new
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            val head = latestVersion(table).getOrElse(v)
            val outcomes =
              (v to head).flatMap(n => conflicts(table, base, loser, readRecord(table, n)))
            outcomes.collectFirst { case Right(n) => n } match {
              case Some(n) => return n
              case None => outcomes.collectFirst { case Left(m) => m }.foreach(sys.error)
            }
            attempt += 1
            if (attempt >= publishAttempts)
              sys.error(s"commit contention on $table: lost $attempt publish races")
            v = head + 1
        }
      }
    } finally Files.deleteIfExists(tmp)
    onStep("linked")
    if (v % checkpointEvery == 0)
      try writeCheckpoint(table, resolve(table, v))
      catch { case scala.util.control.NonFatal(_) => () }
    v
  }

  /** Stage `df` as immutable data files and commit them as the next
    * version. `append=false` replaces the table's content; `append=true`
    * extends the previous version's file list. `partitionBy` stages a
    * hive layout under the commit's own directory (record paths keep
    * the `col=value/` segments; `read` restores the partition columns
    * per stage via basePath, so directory pruning survives log-based
    * listing). Returns the committed version number.
    *
    * Stats: ONE pass over the staged files (`groupBy(input_file_name)`)
    * yields per-file row counts AND min/max bounds for every indexed
    * column together — the commit reads its own output exactly once.
    * On an append, the previously indexed columns are re-computed for
    * the NEW files automatically (even when `statsFor` is empty), so a
    * plain streaming append never degrades the table's data skipping;
    * existing files keep their bounds untouched because bounds live on
    * the per-file entries, not on a per-commit array.
    *
    * `txn` (appId -> batchId) makes the commit idempotent per writer:
    * if the head already records a batchId >= the given one for that
    * appId, the commit is a no-op replay and returns the current head
    * version — Delta's txnAppId/txnVersion rule, what makes
    * foreachBatch ingest exactly-once across micro-batch replays.
    *
    * A BLIND write (conflict table row `Blind`) re-links past racers —
    * an append never drops a racer's files. `expectedHead` turns it
    * into a conditional read-modify-write (merge/compact, row
    * `Conditional`): it fails loudly if the head moved, instead of
    * silently erasing the racer's rows. */
  def commit(spark: SparkSession, df: DataFrame, table: String,
             append: Boolean = false, partitionBy: Seq[String] = Seq.empty,
             statsFor: Seq[String] = Seq.empty,
             expectedHead: Option[Long] = None,
             txn: Option[(String, Long)] = None,
             dataChange: Boolean = true,
             props: Option[Map[String, String]] = None): Long = {
    // ONE head resolution serves the txn replay check, the carried
    // stats columns, AND the column mapping (writes must stage under
    // PHYSICAL names) — the ingest hot path pays the
    // O(checkpoint-interval) metadata replay once per commit
    val headState: Option[TableState] = resolveHead(table)
    val headV = headState.fold(0L)(_.version)
    val replayed = txn.flatMap { case (app, batch) => // replayed batch:
      // skip even the stage write
      headState.filter(_.txns.get(app).exists(_ >= batch)).map(_.version)
    }
    if (replayed.isDefined) return replayed.get
    expectedHead.foreach(e => if (e != headV) sys.error(
      s"concurrent modification on $table: head moved v$e -> v$headV " +
        "under a read-modify-write commit; re-derive and retry"))
    // indexed columns: the explicit ask plus (on append) whatever the
    // head already indexes, best-effort — an appended file missing a
    // head column simply records no bounds for it (always read)
    val carryCols =
      if (!append) Seq.empty
      else headState.map(indexedColumns).getOrElse(Seq.empty)
    statsFor.foreach(c => require(df.schema.fieldNames.contains(c),
      s"statsFor column $c is not in the staged schema ${df.schema.fieldNames.toSeq}"))
    // a mapped table stages under PHYSICAL names (column mapping:
    // logical names are the log's indirection, never the files')
    val mapSt = headState.filter(_.mapped)
    val dfPhys = mapSt.fold(df)(s => toPhysicalDf(df, s))
    val statsPhys = mapSt.fold(statsFor)(s => statsFor.map(s.physOf))
    val partByPhys = mapSt.fold(partitionBy)(s => partitionBy.map(s.physOf))
    // bloom-index config from the EFFECTIVE properties (this commit's
    // own, else the head's): columns are logical in the property —
    // resolve to the physical names the files stage under
    val effProps = props.orElse(headState.map(_.props)).getOrElse(Map.empty)
    val bloom = BloomIndex.specOf(effProps).map(s =>
      s.copy(cols = mapSt.fold(s.cols)(st => s.cols.map(st.physOf))))
    // CHECK constraints ride the same stats pass (violations counted
    // per file, enforced pre-publish); logical refs resolve physical,
    // absent columns evaluate null (pass — the reader surfaces null)
    val checks = Constraints.of(effProps).map { case (n, ex) =>
      (n, ex, Constraints.violationsCol(spark, ex, l => {
        val p = mapSt.fold(l)(_.physOf(l))
        if (dfPhys.columns.contains(p)) Some(p) else None
      }))
    }
    // appends extend the live entry set: shared columns must agree in
    // type (or widen exactly) or the read-side union fails later
    if (append) headState.foreach(s =>
      requireWriteCompatible(table, dfPhys.schema, s.tableSchema.toSeq ++ s.entries.flatMap(_.schema)))
    val (_, adds) =
      stageEntries(spark, dfPhys, table, partByPhys,
        (statsPhys ++ carryCols).distinct, bloom = bloom, checks = checks)
    val loser =
      if (expectedHead.isDefined) Loser.Conditional
      else Loser.Blind(txn, checks.map(_._1).toSet)
    publish(table, headV, loser)(v => CommitRecord(v, append && v > 1, adds, txn,
      schema = if (adds.isEmpty) None else Some(dfPhys.schema.json),
      dataChange = dataChange, props = props))
  }

  /** Redefine the table as EMPTY with the LOGICAL `schema` (TRUNCATE,
    * a bare DELETE, CREATE TABLE with its `props`): a replace record
    * with no adds that declares `tableSchema`. No data file is staged.
    * A blind write (conflict table row `Blind`), like `commit`'s. */
  def commitEmpty(table: String, schema: StructType,
                  props: Option[Map[String, String]] = None): Long = {
    val head = resolveHead(table)
    // a mapped table records PHYSICAL names, like a staged write
    val phys = head.filter(_.mapped).fold(schema)(st =>
      StructType(schema.fields.map(f => f.copy(name = st.physOf(f.name)))))
    val checks = Constraints.of(props.orElse(head.map(_.props)).getOrElse(Map.empty))
    publish(table, head.fold(0L)(_.version), Loser.Blind(None, checks.map(_._1).toSet))(
      v => CommitRecord(v, append = false, adds = Seq.empty,
        props = props, tableSchema = Some(phys.json)))
  }

  /** Stage `df` as immutable parquet files under `<table>/<root>/
    * <uuid>/` and derive their `FileEntry` list — per-file row counts
    * and min/max bounds for `statsCols` — in ONE pass over the staged
    * output (`groupBy(input_file_name)`). `root` is "data" for table
    * content and "cdc" for a rewrite commit's change-data files.
    * Returns (stage uuid, entries). */
  private def stageEntries(spark: SparkSession, df: DataFrame, table: String,
                           partitionBy: Seq[String], statsCols: Seq[String],
                           root: String = "data",
                           bloom: Option[BloomIndex.Spec] = None,
                           checks: Seq[(String, String, org.apache.spark.sql.Column)] = Seq.empty)
      : (String, Seq[FileEntry]) = {
    val stage = java.util.UUID.randomUUID().toString
    val stageDir = Paths.get(table, root, stage)
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(stageDir.toString)
    val staged = {
      val st = Files.walk(stageDir)
      try st.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && n.endsWith(".parquet")
        }
        .map(p => s"$root/$stage/${stageDir.relativize(p)}").toSeq.sorted
      finally st.close()
    }
    if (staged.isEmpty) return (stage, Seq.empty)
    val cols = statsCols.distinct.filter(df.schema.fieldNames.contains)
    // bloom-indexed columns present in THIS write (an append missing an
    // indexed column simply stages no filter for it — never read-blocked)
    val bloomCols = bloom.toSeq.flatMap(_.cols).distinct
      .filter(df.schema.fieldNames.contains)
    if (cols.isEmpty && bloomCols.isEmpty && checks.isEmpty) {
      // no bounds wanted: row counts come straight from the parquet
      // FOOTERS the write just produced — driver-side metadata reads,
      // ZERO Spark jobs after the write (the stats-less commit's whole
      // post-write cost is O(files) footer opens)
      val conf = new org.apache.hadoop.conf.Configuration()
      val entries = staged.map { rel =>
        val p = new org.apache.hadoop.fs.Path(
          Paths.get(table, rel).toUri)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try FileEntry(rel, r.getRecordCount,
          bytes = Files.size(Paths.get(table, rel)))
        finally r.close()
      }
      return (stage, entries)
    }
    // the writer KNOWS the schema it just wrote — passing it skips
    // parquet schema inference (a footer-listing job) entirely;
    // partition columns in a hive layout resolve against it too
    val stagedDf = spark.read.schema(df.schema).parquet(stageDir.toString)
    val sch = stagedDf.schema
    val (strCols, numCols) = cols.partition(c =>
      sch(c).dataType == org.apache.spark.sql.types.StringType)
    // the ONE staged-data pass: per physical file, row count, min/max,
    // null count AND bloom filter of every indexed column in a single
    // aggregate (the bloom rides `BloomFilterAggregate` over the same
    // value view the bounds use — strings raw, numerics as doubles —
    // so the probe side hashes identically)
    val aggs = count(lit(1)).as("_rows") +:
      ((numCols.flatMap(c => Seq(
        min(numericView(col(c), sch(c).dataType)).as(s"lo:$c"),
        max(numericView(col(c), sch(c).dataType)).as(s"hi:$c"))) ++
       strCols.flatMap(c => Seq(
         min(col(c)).as(s"slo:$c"), max(col(c)).as(s"shi:$c")))) ++
       cols.map(c => count(col(c)).as(s"nn:$c")) ++
       bloomCols.map { c =>
         val key =
           if (sch(c).dataType == org.apache.spark.sql.types.StringType)
             xxhash64(col(c))
           else xxhash64(numericView(col(c), sch(c).dataType))
         org.apache.spark.sql.graft.Bridge.bloomFilterAgg(
           key, bloom.get.items, bloom.get.numBits).as(s"bf:$c")
       } ++
       checks.zipWithIndex.map { case ((_, _, c), i) => c.as(s"ck:$i") })
    val aggDf = stagedDf
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
    // bloom sidecars write ON THE EXECUTORS, inside the same pass: the
    // filter bytes never ride the collect — a 10k-file backfill with
    // MB-sized filters would otherwise land GBs on the driver. The
    // aggregated row maps to (stats, sidecar-path) per file; sidecar
    // writes are idempotent (deterministic bytes, create-truncate), so
    // task retries and speculation are benign; a commit that dies
    // before publish leaves idx/<stage> to the orphan sweep.
    val perFile: Array[org.apache.spark.sql.Row] =
      if (bloomCols.isEmpty) aggDf.collect()
      else {
        val tableB = table; val stageB = stage
        val bloomColsB = bloomCols
        val markerB = s"/$root/$stage/"
        val outSchema = org.apache.spark.sql.types.StructType(
          aggDf.schema.fields.filterNot(_.name.startsWith("bf:")) :+
            org.apache.spark.sql.types.StructField("_idx",
              org.apache.spark.sql.types.StringType, nullable = true))
        aggDf.map({ r =>
          val f0 = r.getString(0)
          val f = try new java.net.URI(f0).getPath catch { case _: Exception => f0 }
          val i = f.indexOf(markerB)
          val idxRel =
            if (i < 0) null // the driver fails loudly on the unmatched rel below
            else {
              val blooms = bloomColsB.flatMap { c =>
                val bi = r.fieldIndex(s"bf:$c")
                if (r.isNullAt(bi)) None else Some(c -> r.getAs[Array[Byte]](bi))
              }
              if (blooms.isEmpty) null
              else {
                // mirror the staged layout under idx/<stage>/ — hive
                // partition dirs reuse part-file NAMES across values,
                // so the name alone would collide
                val rest = f.substring(i + markerB.length)
                val ir = s"idx/$stageB/$rest.bloom"
                BloomIndex.writeSidecar(Paths.get(tableB, ir), blooms)
                ir
              }
            }
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq.zip(r.schema.fields).collect {
              case (v, fld) if !fld.name.startsWith("bf:") => v
            } :+ idxRel)
        })(org.apache.spark.sql.Encoders.row(outSchema)).collect()
      }
    // CHECK-constraint abort BEFORE anything publishes: the staged
    // directory dies here, so a violating write leaves no litter
    if (checks.nonEmpty) {
      val totals = checks.zipWithIndex.map { case ((n, ex, _), i) =>
        (n, ex, perFile.map(r => r.getLong(r.fieldIndex(s"ck:$i"))).sum)
      }
      if (totals.exists(_._3 > 0L)) {
        TempDirs.deleteRecursively(stageDir.toFile)
        // executor-written bloom sidecars of the aborted stage go too
        TempDirs.deleteRecursively(Paths.get(table, "idx", stage).toFile)
        Constraints.enforce(table, totals)
      }
    }
    val marker = s"/$root/$stage/"
    val byRel = perFile.map { r =>
      val f0 = r.getString(0)
      // input_file_name() is a URI whose path component is %XX-escaped;
      // the on-disk names Files.walk saw are NOT. Decode before matching
      // or a hive partition value with a space/%/: silently records a
      // zero-row entry for a non-empty file
      val f = try new java.net.URI(f0).getPath catch { case _: Exception => f0 }
      val i = f.indexOf(marker)
      if (i < 0) sys.error(
        s"commit stats pass: aggregate file $f0 does not resolve under $marker — " +
          "refusing to record wrong per-file stats")
      (s"$root/$stage/" + f.substring(i + marker.length)) -> r
    }.toMap
    val unmatched = byRel.keySet -- staged.toSet
    if (unmatched.nonEmpty) sys.error(
      s"commit stats pass: aggregate rows matched no staged file " +
        s"(${unmatched.take(3).mkString(", ")}) — path decoding disagreed; " +
        "refusing to record wrong per-file stats")
    val entries = staged.map { rel =>
      val sz = Files.size(Paths.get(table, rel)) // driver-side stat, no job
      byRel.get(rel) match {
        case None => FileEntry(rel, 0L, bytes = sz) // zero-row part file
        case Some(r) =>
          // an all-null file yields null min/max and a NaN-carrying
          // file yields NaN bounds — both would make interval tests
          // silently FALSE and skip files that hold matching rows,
          // so either case records NO bounds (the file is always read)
          val num = numCols.flatMap { c =>
            val (il, ih) = (r.fieldIndex(s"lo:$c"), r.fieldIndex(s"hi:$c"))
            if (r.isNullAt(il) || r.isNullAt(ih) ||
                r.getDouble(il).isNaN || r.getDouble(ih).isNaN) None
            else Some(c -> (r.getDouble(il), r.getDouble(ih)))
          }.toMap
          val str = strCols.flatMap { c =>
            val (il, ih) = (r.fieldIndex(s"slo:$c"), r.fieldIndex(s"shi:$c"))
            if (r.isNullAt(il) || r.isNullAt(ih)) None
            else truncUpper(r.getString(ih)).map(hi =>
              c -> (truncLower(r.getString(il)), hi))
          }.toMap
          val rowsN = r.getLong(r.fieldIndex("_rows"))
          // null counts recorded for EVERY indexed column — zero is the
          // valuable case (it proves IS NULL matches nothing here)
          val nulls = cols.map(c =>
            c -> (rowsN - r.getLong(r.fieldIndex(s"nn:$c")))).toMap
          // bloom sidecar: written executor-side in the stats pass
          // (one file per data part, all its column filters together —
          // the dv-sidecar pattern); the row carries only its path
          val idxRel =
            if (bloomCols.isEmpty) None
            else Option(r.getString(r.fieldIndex("_idx")))
          FileEntry(rel, rowsN, num, str, bytes = sz, nulls = nulls,
            idx = idxRel)
      }
    }
    (stage, entries)
  }

  /** FILE-PRUNED copy-on-write commit: the next version is (version
    * `expectedHead`'s entries minus `removePaths`) plus the staged
    * `df` — the Delta/Iceberg add/remove action pair. Untouched files
    * are carried BY REFERENCE: never re-listed, never rewritten,
    * bounds and recorded schema intact — so the record is O(touched +
    * staged) metadata and the rewrite is O(touched) data however
    * large the table. A 10-row CDC upsert against a 100 TB table
    * stages a few files and removes the few whose key bounds
    * overlapped; the other million entries never appear in the
    * record. When `removePaths` is empty the commit degenerates to a
    * plain append (nothing was rewritten — every prior file carries).
    *
    * `changeData` optionally stages the commit's ROW-LEVEL delta
    * (post-image upserts / deleted keys, tagged `_change_type`) under
    * `cdc/` — Delta's `_change_data` pattern — which is what lets
    * `readChangeFeed` deliver an incremental delta ACROSS a merge
    * instead of walling off every downstream consumer.
    *
    * Publishes from `expectedHead` (conflict table row `Rewrite`): past
    * LOGICALLY DISJOINT winners the staged rewrite re-links without
    * re-running; an overlapping winner fails it loudly (re-derive and
    * retry), never a retry that silently erases the racer. */
  def commitRewrite(spark: SparkSession, df: DataFrame, table: String,
                    removePaths: Seq[String], expectedHead: Long,
                    statsFor: Seq[String] = Seq.empty,
                    changeData: Option[DataFrame] = None,
                    dataChange: Boolean = true,
                    partitionBy: Seq[String] = Seq.empty): Long = {
    val prev = resolve(table, expectedHead)
    val prevPaths = prev.entries.map(_.path).toSet
    val missing = removePaths.filterNot(prevPaths)
    require(missing.isEmpty,
      s"commitRewrite removes files not live at v$expectedHead: ${missing.take(3)}")
    // the staged adds will coexist with the CARRIED entries: types must
    // agree (or widen exactly) with every surviving file's schema
    val goneSet = removePaths.toSet
    requireWriteCompatible(table, df.schema, prev.tableSchema.toSeq ++
      prev.entries.filterNot(e => goneSet(e.path)).flatMap(_.schema))
    // bloom-indexed columns and CHECK constraints ride the rewrite too
    // (resolved from the base version's properties, logical -> physical)
    val bloom = BloomIndex.specOf(prev.props).map(s =>
      s.copy(cols = s.cols.map(prev.physOf)))
    val checks = Constraints.of(prev.props).map { case (n, ex) =>
      (n, ex, Constraints.violationsCol(spark, ex, l => {
        val p = prev.physOf(l)
        if (df.columns.contains(p)) Some(p) else None
      }))
    }
    val (_, adds) = stageEntries(spark, df, table, partitionBy, statsFor,
      bloom = bloom, checks = checks)
    val (cdcEntries, cdcSchema) = changeData match {
      case None => (Seq.empty[FileEntry], None)
      case Some(cd) =>
        val (_, es) = stageEntries(spark, cd, table, Seq.empty, Seq.empty, root = "cdc")
        (es, Some(cd.schema.json))
    }
    require(dataChange || changeData.isEmpty,
      "a maintenance rewrite (dataChange=false) has no change data by definition")
    publish(table, expectedHead, Loser.Rewrite(removePaths.toSet, checks.map(_._1).toSet))(
      v => CommitRecord(v, append = removePaths.isEmpty, adds,
        schema = if (adds.isEmpty) None else Some(df.schema.json),
        removes = removePaths, cdc = cdcEntries, cdcSchema = cdcSchema,
        dataChange = dataChange))
  }

  /** RESTORE TABLE TO VERSION (Delta's RESTORE): make the head's
    * content equal `toVersion`'s by RE-LISTING that version's entries
    * as a new commit — metadata only, zero data movement (the old
    * version's immutable files still exist unless vacuumed; per-entry
    * schemas and deletion vectors carry verbatim). History is never
    * rewritten: the bad versions stay time-travelable above the
    * restored content, which is the roll-back a botched publish
    * needs. The restore is a full content redefinition, so it is a
    * replace commit — change-feed consumers resync, exactly as they
    * must after a reset. Any racing winner fails it (row `Restore`). */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val headV = latestVersion(table).getOrElse(sys.error(s"no committed version in $table"))
    if (toVersion == headV) return headV
    val target = resolve(table, toVersion) // fails loudly if vacuumed
    // verify every file still exists (a vacuum may have kept the
    // RECORD but retired files unreferenced by surviving versions —
    // restoring to dangling entries would publish an unreadable head)
    val missing = target.entries.filterNot(e =>
      Files.exists(Paths.get(dataAbs(table, e))))
    if (missing.nonEmpty) sys.error(
      s"cannot restore $table to v$toVersion: ${missing.size} of its data files " +
        s"were vacuumed (first: ${missing.head.path})")
    publish(table, headV, Loser.Restore)(v => CommitRecord(v, append = false, target.entries,
      tableSchema = target.tableSchema))
  }

  /** SHALLOW CLONE (Delta's CLONE): define `dst` as a NEW table whose
    * v1 REFERENCES the source head's data files in place — one
    * metadata-only commit, zero bytes copied, O(files) driver work
    * however large the table. At 100 TB this is what makes "try the
    * new dedup config against production" a one-second operation
    * instead of a 100 TB copy.
    *
    * Mechanics: every entry gains `base` = the source root (its `path`
    * stays SOURCE-relative, so deletion-vector row keys and hive
    * `col=value` parsing are untouched); dv/bloom sidecar refs record
    * absolute. Schema, column mapping, properties (bloom config
    * included — the clone keeps index-skipping) carry; txn high-water
    * marks do NOT (the clone is a different writer target). The clone
    * then evolves independently: appends/DML/OPTIMIZE land LOCAL
    * files; a full OPTIMIZE materializes every referenced byte locally
    * (the promote-to-owned path). Vacuum of the CLONE never touches
    * based data or absolute sidecars (it does not own them); vacuum of
    * the SOURCE can retire files clones still reference — Delta's
    * documented shallow-clone caveat, by design. Any existing v1 fails
    * the clone (conflict table row `Clone`). */
  def cloneTable(src: String, dst: String): Long = {
    val headV = latestVersion(src).getOrElse(
      sys.error(s"no committed version in $src"))
    require(latestVersion(dst).isEmpty,
      s"clone target $dst is already a graft-log table")
    val st = resolve(src, headV)
    val srcRoot = Paths.get(src).toAbsolutePath.normalize.toString
    val entries = st.entries.map { e =>
      e.copy(
        base = Some(e.base.getOrElse(srcRoot)), // clone-of-clone keeps the ORIGINAL base
        dv = e.dv.map(d => if (d.startsWith("/")) d else s"$srcRoot/$d"),
        idx = e.idx.map(i => if (i.startsWith("/")) i else s"$srcRoot/$i"))
    }
    publish(dst, 0L, Loser.Clone)(v => CommitRecord(v, append = false, adds = entries,
      schema = st.entries.flatMap(_.schema).headOption, tableSchema = st.tableSchema,
      colmap = if (st.colmap.nonEmpty) Some(st.colmap) else None,
      dropped = if (st.dropped.nonEmpty) Some(st.dropped) else None,
      props = if (st.props.nonEmpty) Some(st.props) else None))
  }

  // ------------------------------------------------------- column mapping

  /** Logical view of a physical frame: dropped physical columns
    * excluded, renamed ones surfaced under their logical names. Every
    * read path exits through this; disk stays physical forever. */
  private def applyColmap(df: DataFrame, st: TableState): DataFrame =
    if (!st.mapped) df
    else df.select(df.columns.toSeq.flatMap { p =>
      st.logicalOf(p).map(l => if (l == p) col(p) else col(p).as(l))
    }: _*)

  /** Physical staging view of a logical frame (writes store PHYSICAL
    * names). Refuses name collisions with dropped or renamed storage
    * names — resurrecting a dropped column's storage would surface
    * the dropped data under the new column. */
  private def toPhysicalDf(df: DataFrame, st: TableState): DataFrame =
    if (!st.mapped) df
    else {
      df.columns.foreach { l =>
        val p = st.physOf(l)
        require(!st.dropped.contains(p),
          s"column $l maps to dropped physical column $p — pick another name " +
            "(reusing a dropped column's storage name would resurrect its data)")
        require(p != l || !st.colmap.exists(_._2 == l),
          s"column name $l is in use as a renamed column's physical name")
      }
      df.select(df.columns.toSeq.map(l => col(l).as(st.physOf(l))): _*)
    }

  /** Predicate tree with column names substituted (logical <->
    * physical translation for manifest pruning). */
  private[graft] def renamePred(p: Pred, f: String => String): Pred = p match {
    case Pred.Between(c, lo, hi) => Pred.Between(f(c), lo, hi)
    case Pred.Eq(c, v) => Pred.Eq(f(c), v)
    case Pred.In(c, vs) => Pred.In(f(c), vs)
    case Pred.StrEq(c, v) => Pred.StrEq(f(c), v)
    case Pred.StrIn(c, vs) => Pred.StrIn(f(c), vs)
    case Pred.IsNull(c) => Pred.IsNull(f(c))
    case Pred.NotNull(c) => Pred.NotNull(f(c))
    case Pred.And(ps @ _*) => Pred.And(ps.map(renamePred(_, f)): _*)
    case Pred.Or(ps @ _*) => Pred.Or(ps.map(renamePred(_, f)): _*)
  }

  /** `ALTER TABLE ... RENAME COLUMN` via column mapping (Delta's name
    * mode): METADATA-ONLY — no file is rewritten, the physical name
    * stays what the first commit wrote, and the new logical name is an
    * indirection in the log. Old snapshots keep reading under their
    * own (old) names, skipping stats stay valid (they key by physical
    * name), and writes translate logical -> physical on staging. The
    * mapping and property map derive from the head, so a racing schema
    * or property change fails it (conflict table row `SchemaChange`). */
  def renameColumn(spark: SparkSession, table: String,
                   oldName: String, newName: String): Long = {
    require(oldName != newName, "rename to the same name is a no-op")
    val st = resolveAt(table)
    val logical = logicalSchema(table, st).fieldNames.toSeq
    require(logical.contains(oldName),
      s"no column $oldName in $table (have ${logical.mkString(", ")})")
    require(!logical.contains(newName), s"column $newName already exists in $table")
    // a CHECK constraint binds to the LOGICAL name in its expression —
    // renaming under it would leave the expression vacuous (or worse,
    // bound to a future column reusing the name). Delta blocks this.
    requireNotConstrained(spark, st, oldName, "rename")
    val phys = st.physOf(oldName)
    val newMap = st.colmap.filterNot(_._1 == oldName) ++
      (if (newName == phys) Seq.empty else Seq(newName -> phys))
    // bloom-index config names columns LOGICALLY — a rename rewrites
    // the property in the same commit so the index follows the column
    val newProps = st.props.get(BloomIndex.ColumnsProp)
      .map(_.split(",").map(_.trim).map(c => if (c == oldName) newName else c)
        .mkString(","))
      .filter(_ => st.props.contains(BloomIndex.ColumnsProp))
      .map(v => st.props + (BloomIndex.ColumnsProp -> v))
      .filterNot(_ == st.props)
    publish(table, st.version, Loser.SchemaChange)(v => CommitRecord(v, append = true,
      adds = Seq.empty, dataChange = false,
      colmap = Some(newMap), dropped = Some(st.dropped), props = newProps))
  }

  /** `ALTER TABLE ... DROP COLUMN` via column mapping: metadata-only —
    * the physical column stays in the files (old snapshots still read
    * it) but the head's logical schema excludes it. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val st = resolveAt(table)
    val logical = logicalSchema(table, st).fieldNames.toSeq
    require(logical.contains(name),
      s"no column $name in $table (have ${logical.mkString(", ")})")
    require(logical.size > 1, s"cannot drop the last column of $table")
    requireNotConstrained(spark, st, name, "drop")
    val phys = st.physOf(name)
    // a dropped column leaves the bloom-index property too
    val newProps = st.props.get(BloomIndex.ColumnsProp).map { v =>
      val kept = v.split(",").map(_.trim).filterNot(_ == name)
      if (kept.isEmpty) st.props - BloomIndex.ColumnsProp
      else st.props + (BloomIndex.ColumnsProp -> kept.mkString(","))
    }.filterNot(_ == st.props)
    publish(table, st.version, Loser.SchemaChange)(v => CommitRecord(v, append = true,
      adds = Seq.empty, dataChange = false,
      colmap = Some(st.colmap.filterNot(_._1 == name)),
      dropped = Some((st.dropped :+ phys).distinct), props = newProps))
  }

  /** Refuse RENAME/DROP of a column a CHECK constraint references —
    * the expression would silently stop (or wrongly keep) enforcing.
    * Drop the constraint first, alter, re-add under the new name. */
  private def requireNotConstrained(spark: SparkSession, st: TableState,
                                    col: String, what: String): Unit =
    Constraints.of(st.props).foreach { case (n, ex) =>
      if (org.apache.spark.sql.graft.Bridge.exprAttributes(spark, ex).contains(col))
        sys.error(s"cannot $what column $col: CHECK constraint '$n' ($ex) " +
          "references it — drop the constraint first, then re-add it " +
          "under the new name")
    }

  /** `ALTER TABLE ... SET/UNSET TBLPROPERTIES`: a METADATA-ONLY commit
    * whose record replaces the table's property map (Delta's
    * tableProperties). Properties configure advisory behavior — e.g.
    * the bloom index (`graft.bloom.columns`) — so the change affects
    * FUTURE commits; existing files keep whatever indexes they have.
    * Validates bloom config eagerly (a typo'd fpp should fail the
    * ALTER, not the next write). Racing DATA commits re-link past; a
    * racing property or schema change fails it (conflict table row
    * `Properties`). */
  def setProperties(table: String, set: Map[String, String],
                    unset: Seq[String] = Seq.empty): Long = {
    val headV = latestVersion(table).getOrElse(sys.error(s"no committed version in $table"))
    val newProps = (resolve(table, headV).props ++ set) -- unset
    BloomIndex.specOf(newProps) // validates fpp/items bounds, fails loudly
    publish(table, headV, Loser.Properties)(v => CommitRecord(v, append = true,
      adds = Seq.empty, dataChange = false, props = Some(newProps)))
  }

  /** Head property map (empty when never set). */
  def properties(table: String): Map[String, String] =
    resolveHead(table).map(_.props).getOrElse(Map.empty)

  /** `ALTER TABLE ... ADD CONSTRAINT` (Delta's contract): validate the
    * expression against EVERY live row first (one aggregate scan),
    * then publish the property — a constraint that lands is a
    * guarantee over the table's existing AND future content (future
    * writes enforce it in their stats pass, pre-publish). It publishes
    * from the version it validated (conflict table row `AddConstraint`):
    * a racing data commit fails it, its rows were never checked. */
  def addConstraint(spark: SparkSession, table: String,
                    name: String, expr: String): Long = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be [A-Za-z0-9_]+, got '$name'")
    val v = latestVersion(table).getOrElse(sys.error(s"no committed version in $table"))
    val props = resolve(table, v).props
    require(!props.contains(s"${Constraints.Prefix}$name"),
      s"constraint $name already exists on $table")
    val df = read(spark, table, Some(v)) // LOGICAL view, the names the expr uses
    // every referenced column must exist NOW: an unresolvable name
    // would evaluate as null forever — a constraint that silently
    // enforces nothing (Delta fails ADD CONSTRAINT the same way)
    val missing = org.apache.spark.sql.graft.Bridge.exprAttributes(spark, expr)
      .filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"CHECK constraint '$name' references columns not in $table: " +
        s"${missing.mkString(", ")} (have ${df.columns.mkString(", ")})")
    val viol = df.agg(Constraints.violationsCol(spark, expr,
      l => if (df.columns.contains(l)) Some(l) else None)).head().getLong(0)
    if (viol > 0L) sys.error(
      s"cannot add CHECK constraint '$name' to $table: $viol existing " +
        s"row(s) violate ($expr)")
    publish(table, v, Loser.AddConstraint)(n => CommitRecord(n, append = true,
      adds = Seq.empty, dataChange = false,
      props = Some(props + (s"${Constraints.Prefix}$name" -> expr))))
  }

  def dropConstraint(table: String, name: String): Long =
    setProperties(table, Map.empty,
      unset = Seq(s"${Constraints.Prefix}$name"))

  /** MERGE-ON-READ DELETE (deletion vectors — Delta 3's shape): mark
    * every row matching `p` deleted by re-listing the affected entries
    * with a position sidecar attached — no data file is rewritten.
    * This is the delete shape copy-on-write cannot serve: a predicate
    * matching a few rows in MANY files (a GDPR purge by user id on a
    * time-clustered table) would rewrite every touched file under
    * COW; here it writes O(matched rows) of sidecar. File pruning
    * applies twice: only files whose bounds might match `p` are even
    * scanned, and files where nothing matched keep their entries
    * untouched. The matched (path, pos) positions land through
    * `commitDelta`, the same commit SQL DELETE/UPDATE/MERGE take:
    * sidecar, change data (`delete` rows) and the CAS against the
    * version read. Readers apply vectors at scan time (`readTagged`);
    * bounds stay conservative (deletion only shrinks row sets), so
    * data skipping is unaffected; compaction/merge materialize the
    * deletions (their rewrites read through the vectors). */
  def deleteWhere(spark: SparkSession, table: String, p: Pred): Long = {
    val st = resolveAt(table)
    val pp = renamePred(p, st.physOf) // logical predicate in, physical files
    val cand = st.entries.filter(mightMatch(_, pp))
    if (cand.isEmpty) return st.version // provably nothing to delete
    // live rows only (dvs applied)
    val data = readTagged(spark, table, cand, physicalSchema(table, None, cand))
    val pos = data.filter(predColumn(data, pp))
      .select(col(RelCol).as("path"), col(PosCol).as("pos")).persist()
    try {
      val counts = pos.groupBy("path").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // no live row matched: empty counts make commitDelta a no-op
      commitDelta(spark, table, st.version, Some(pos), counts, Seq.empty, None)
    } finally { pos.unpersist(); () }
  }

  /** Past this many positions a delete's sidecar shards by data-file
    * path instead of writing one file (var: test seam). */
  private[core] var dvShardRowsLimit: Long = 4L << 20

  /** ROW-LEVEL DELTA COMMIT — the one landing path of every
    * merge-on-read delete: SQL DELETE/UPDATE/MERGE (`SupportsDelta`)
    * and `deleteWhere`. The killed rows arrive as (path, pos)
    * coordinates of LIVE rows (`posDf`), inserted rows as staged data
    * files; this publishes both as ONE rewrite commit: affected
    * entries re-list with a deletion vector (old vectors union in —
    * newest ⊇ older), staged inserts append, the change feed gets the
    * killed rows' PRE-IMAGES tagged `delete` plus the inserted rows
    * tagged `insert` (an update is its delete+insert pair), and the
    * whole thing publishes from `expectedHead` — the version the
    * positions were read at — as a rewrite of the affected entries
    * (conflict table row `Rewrite`), so a concurrent writer that
    * touched the same files fails it loudly instead of silently
    * resurrecting or double-killing rows. Zero data files are
    * rewritten (merge-on-read, Delta 3's DML shape). `posCounts` is
    * the dead rows per file — the commit plans with no counting job.
    *
    * The new sidecar (`dv/<uuid>`) carries the affected files' old
    * positions too (what makes multi-stage vector unions safe);
    * `vacuum` retires sidecars with the versions that referenced
    * them. Position rows are (string, long) — tiny for targeted
    * deletes, so ONE file keeps the sidecar read a single open; past
    * `dvShardRowsLimit` (a GDPR purge of ~10^9 rows must not funnel
    * through one task) the sidecar SHARDS by data-file path, which
    * readers never notice (they union every file in the directory). */
  def commitDelta(spark: SparkSession, table: String, expectedHead: Long,
                  posDf: Option[DataFrame], posCounts: Map[String, Long],
                  insertAdds: Seq[FileEntry],
                  insertSchemaJson: Option[String]): Long = {
    import spark.implicits._
    if (posCounts.isEmpty && insertAdds.isEmpty) return expectedHead // no-op DML
    val st = resolve(table, expectedHead)
    // the staged INSERT rows (SQL MERGE / UPDATE post-images written by
    // executor tasks), read by the constraint check and the change feed
    lazy val inserted = readFiles(spark, table, insertAdds)
    // CHECK constraints over the staged inserts (they bypass the commit
    // stats pass): one driver-triggered aggregate, pre-publish — a
    // violating DML never becomes visible. Deletes only remove rows
    // and need no check.
    val checks = Constraints.of(st.props)
    if (checks.nonEmpty && insertAdds.nonEmpty) {
      val cks = checks.map { case (n, ex) =>
        (n, ex, Constraints.violationsCol(spark, ex, l => {
          val p = st.physOf(l)
          if (inserted.columns.contains(p)) Some(p) else None
        }))
      }
      val row = inserted.agg(cks.head._3, cks.tail.map(_._3): _*).head()
      Constraints.enforce(table,
        cks.zipWithIndex.map { case ((n, ex, _), i) => (n, ex, row.getLong(i)) })
    }
    val byPath = st.entries.map(e => e.path).toSet
    posCounts.keys.find(!byPath.contains(_)).foreach(p => sys.error(
      s"row-level delta targets unknown file $p of $table@v$expectedHead — " +
        "the scan and the write disagree about the snapshot"))
    val affected = st.entries.filter(e => posCounts.contains(e.path))
    // fail BEFORE touching disk: merge-on-read vectors (and the cdc
    // pre-image read) support flat staged layouts only; hive-partitioned
    // tables take COW merge instead
    affected.find(isHive).foreach(e =>
      sys.error(s"row-level DML supports flat staged layouts only; " +
        s"${e.path} is hive-partitioned — use SnapshotLog.merge/applyChanges (COW)"))
    val relisted =
      if (affected.isEmpty) Seq.empty // pure-insert delta (a MERGE that only inserted)
      else {
        val newPos = posDf.get
        val dvStage = java.util.UUID.randomUUID().toString
        val oldDvDirs = affected.flatMap(_.dv).distinct
        val allPos =
          if (oldDvDirs.isEmpty) newPos
          else newPos.unionByName(
            spark.read.parquet(oldDvDirs.map(d => sideAbs(table, d)): _*)
              .join(affected.map(_.path).toDF("path"), Seq("path"), "left_semi"))
        val totalPos = posCounts.values.sum + affected.map(_.dvRows).sum
        val laidPos =
          if (totalPos <= dvShardRowsLimit) allPos.repartition(1)
          else { // ~dvShardRowsLimit positions per shard, path-contiguous;
            // the EXPLICIT shard count keeps AQE from re-coalescing
            val shards = math.min(10000L, totalPos / dvShardRowsLimit + 1L).toInt
            allPos.repartitionByRange(shards, col("path"), col("pos"))
          }
        laidPos.write.parquet(s"$table/dv/$dvStage")
        affected.map(e => e.copy(
          dv = Some(s"dv/$dvStage"), dvRows = e.dvRows + posCounts(e.path)))
      }
    // change data: pre-images of exactly the killed positions, then the
    // inserted rows
    val pre =
      if (affected.isEmpty) None
      else Some(readTagged(spark, table, affected, physicalSchema(table, None, affected), posDf)
        .drop(RelCol, PosCol).withColumn("_change_type", lit("delete")))
    val ins =
      if (insertAdds.isEmpty) None
      else Some(inserted.withColumn("_change_type", lit("insert")))
    val cdcDf = (pre ++ ins).reduce(_.unionByName(_, allowMissingColumns = true))
    val (_, cdcEntries) = stageEntries(spark, cdcDf, table, Seq.empty, Seq.empty, root = "cdc")
    // the record's schema describes the files it ADDS; a pure delete
    // adds none (re-listed entries keep their own schemas)
    val removes = affected.map(_.path)
    publish(table, expectedHead, Loser.Rewrite(removes.toSet, checks.map(_._1).toSet))(
      v => CommitRecord(v, append = removes.isEmpty, relisted ++ insertAdds,
        schema = insertSchemaJson.filter(_ => insertAdds.nonEmpty), removes = removes,
        cdc = cdcEntries, cdcSchema = Some(cdcDf.schema.json)))
  }

  // ----------------------------------------------------------------- reads

  /** Snapshot read: the resolved version's exact file list, no
    * directory listing of `data/`, over `schemaAt`'s columns.
    * `asOf=None` reads the head. Hive stages read with the stage as
    * `basePath`, so partition filters still prune at the directory
    * level (`readFiles`). */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame = {
    val st = resolveAt(table, asOf)
    // the column mapping is VERSIONED state: time travel to a version
    // before a rename reads under the names of that time
    applyColmap(readFiles(spark, table, st.entries, st.tableSchema), st)
  }

  /** The columns version `asOf` (default: the head) reads with, from
    * the resolved log state alone: no listing, no plan, no footer
    * (except for entries of pre-schema records). */
  def schemaAt(table: String, asOf: Option[Long] = None): StructType =
    logicalSchema(table, resolveAt(table, asOf))

  private def logicalSchema(table: String, st: TableState): StructType =
    StructType(physicalSchema(table, st.tableSchema, st.entries).fields.flatMap(f =>
      st.logicalOf(f.name).map(l => f.copy(name = l))))

  private def resolveAt(table: String, asOf: Option[Long] = None): TableState =
    resolve(table, asOf.orElse(latestVersion(table))
      .getOrElse(sys.error(s"no committed version in $table")))

  /** The commit instant of version `v`: the IN-COMMIT timestamp the
    * record carries (monotonic data, survives copies/backups/restores
    * of the table directory) — falling back to the record file's mtime
    * only for pre-ICT records. */
  def commitTimestamp(table: String, v: Long): Long = {
    val r = readRecord(table, v)
    if (r.ts > 0L) r.ts
    else Files.getLastModifiedTime(vPath(table, v)).toMillis
  }

  /** Time travel by TIMESTAMP (Delta's timestampAsOf): the newest
    * surviving version whose commit instant is at or before
    * `tsMillis`. Commit instants are the records' IN-COMMIT
    * timestamps (mtime only for pre-ICT history), so the answer
    * survives the table directory being copied or restored — mtimes
    * do not. Instants are clamped NON-DECREASING from the right before
    * the lookup: a pre-ICT record whose mtime was clobbered FORWARD by
    * a restore cannot claim to be younger than its ICT successor (its
    * effective instant caps at the successor's — the honest reading
    * of "this version existed by then"). Fails loudly when every
    * surviving version is newer — the caller asked for vacuumed
    * history. */
  def versionAsOfTimestamp(table: String, tsMillis: Long): Long = {
    val vs = versions(table)
    val inst = vs.map(v => commitTimestamp(table, v))
    // eff(i) = min(inst(i), eff(i+1) - 1): a version is strictly older
    // than its successor, so clamped regions stay individually
    // addressable (a no-op on well-formed strictly-increasing history)
    val eff = inst.scanRight(Long.MaxValue)((a, b) =>
      math.min(a, if (b == Long.MaxValue) b else b - 1)).init
    vs.zip(eff).filter(_._2 <= tsMillis).lastOption.map(_._1)
      .getOrElse(sys.error(
        s"no surviving version of $table at or before $tsMillis " +
          "(vacuumed, or the table is newer than the asked instant)"))
  }

  /** Snapshot read at a wall-clock instant. */
  def readAsOfTimestamp(spark: SparkSession, table: String,
                        tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAsOfTimestamp(table, tsMillis)))

  private def stageOf(path: String): String = path.split("/").take(2).mkString("/")

  /** Exact-only TYPE WIDENING partial order (Delta's type widening
    * set): may a column recorded as `from` re-declare as `to` with
    * zero value change? Integral up-chain and everything-exact ->
    * double — exactly the widenings Spark's parquet readers decode, so
    * one scan with the widest type reads every file. long -> double and
    * int -> float are LOSSY (beyond 2^53 / 2^24) and refuse; byte/short
    * -> float are exact but neither parquet reader decodes them. */
  private[core] def widensTo(from: org.apache.spark.sql.types.DataType,
                             to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    if (from == to) true
    else (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** WRITE-TIME schema compatibility (Delta's write enforcement): every
    * column an append/rewrite shares with the existing entries must be
    * the SAME type or a safe widening in either direction — a
    * re-declared INT as STRING would make the read-side union coerce
    * through string casts that fail (or silently convert) at scan
    * time, long after the bad write was accepted. Refusing at the
    * write is the honest failure. `existing` are the recorded schema
    * JSONs the write joins (entries without one — pre-schema records —
    * skip). Non-append REPLACES redefine the table and may change
    * anything. */
  private def requireWriteCompatible(table: String,
                                     staged: org.apache.spark.sql.types.StructType,
                                     existing: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    val stagedTypes = staged.fields.map(f => f.name -> f.dataType).toMap
    existing.distinct.foreach { sj =>
      DataType.fromJson(sj).asInstanceOf[StructType].fields.foreach { f =>
        stagedTypes.get(f.name).foreach { st =>
          if (!widensTo(f.dataType, st) && !widensTo(st, f.dataType)) sys.error(
            s"incompatible write to $table: column ${f.name} is " +
              s"${f.dataType.simpleString} in existing files and ${st.simpleString} " +
              "in this write — graft-log accepts only exact numeric widenings " +
              "(byte<short<int<long; byte,short,int,float<double). " +
              "Rewrite the table (replace) or use a new column name")
        }
      }
    }
  }

  /** Absolute location of an entry's DATA file: shallow-clone entries
    * carry a `base` override (the source table root). */
  private[graft] def dataAbs(table: String, e: FileEntry): String =
    s"${e.base.getOrElse(table)}/${e.path}"
  /** Sidecar references (dv stage dirs, bloom sidecars) resolve
    * table-relative unless recorded ABSOLUTE (clone entries). */
  private[graft] def sideAbs(table: String, rel: String): String =
    if (rel.startsWith("/")) rel else s"$table/$rel"

  /** THE column union of a read: `lead` (a replace's declared
    * `tableSchema`) first, then the entries' recorded schemas in the
    * order the scans visit them — plain hive stages by (root, stage),
    * then plain flat entries, then deletion-vectored ones, by first
    * path. A column keeps its first position and takes the type every
    * other recorded type widens to (`widensTo`). Every field is
    * nullable and a hive stage's partition columns follow its data
    * columns, as Spark's file sources read them (so is field metadata,
    * as `unionByName` keeps it). A pre-schema stage takes its footer's. */
  private def physicalSchema(table: String, lead: Option[String],
                             entries: Seq[FileEntry]): StructType = {
    def recorded(sj: String): StructType = org.apache.spark.sql.graft.Bridge.asNullable(
      DataType.fromJson(sj).asInstanceOf[StructType])
    def footer(st: (String, String)) = Tables.schemaOf(SparkSession.active, s"${st._1}/${st._2}")
    def flat(es: Seq[FileEntry]): Seq[StructType] =
      es.sortBy(_.path).map(_.schema).distinct.flatMap {
        case Some(sj) => Seq(recorded(sj))
        case None => byStage(table, es.filter(_.schema.isEmpty)).map(g => footer(g._1))
      }
    val (dved, plain) = entries.partition(_.dv.isDefined)
    val (hive, flatPlain) = plain.partition(isHive)
    val hiveSchemas = byStage(table, hive).map { case (stage, es) =>
      es.head.schema.fold(footer(stage)) { sj =>
        val partCols = es.head.path.split("/").drop(2).dropRight(1).filter(_.contains("="))
          .map(seg => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.substring(0, seg.indexOf('='))))
        val (parts, data) = recorded(sj).fields.partition(f => partCols.contains(f.name))
        StructType(data ++ partCols.flatMap(c => parts.find(_.name == c))
          .map(f => StructField(f.name, f.dataType)))
      }
    }
    (lead.map(recorded).toSeq ++ hiveSchemas ++ flat(flatPlain) ++ flat(dved))
      .reduceOption { (acc, s) =>
        StructType(acc.fields.map { a =>
          s.find(_.name == a.name).map(_.dataType).filterNot(widensTo(_, a.dataType)) match {
            case None => a
            case Some(t) if widensTo(a.dataType, t) => StructField(a.name, t)
            case Some(t) => sys.error(s"column ${a.name} of $table is recorded as both " +
              s"${a.dataType.simpleString} and ${t.simpleString}, and neither widens to the other")
          }
        } ++ s.fields.filterNot(f => acc.fieldNames.contains(f.name))
          .map(f => StructField(f.name, f.dataType)))
      }.getOrElse(new StructType())
  }

  private def isHive(e: FileEntry): Boolean = e.path.split("/").drop(2).exists(_.contains("="))

  /** Entries by (data root, stage): a clone's live under the SOURCE root. */
  private def byStage(table: String, es: Seq[FileEntry]): Seq[((String, String), Seq[FileEntry])] =
    es.groupBy(e => (e.base.getOrElse(table), stageOf(e.path))).toSeq.sortBy(_._1)

  private def files(table: String, es: Seq[FileEntry]): Seq[String] = es.map(dataAbs(table, _)).sorted

  /** Read an exact entry list over its `physicalSchema` (led by
    * `lead`): ONE scan of the clean flat files, one per hive stage with
    * the stage as `basePath` (its `col=value/` segments come back as
    * partition columns), one tagged scan of the deletion-vectored
    * files. A file missing a column reads null; a narrower type decodes
    * as the wider one. No entry: an empty frame with the schema. */
  private def readFiles(spark: SparkSession, table: String, entries: Seq[FileEntry],
                        lead: Option[String] = None): DataFrame = {
    val schema = physicalSchema(table, lead, entries)
    val (dved, plain) = entries.partition(_.dv.isDefined)
    val (hive, flat) = plain.partition(isHive)
    val scans = byStage(table, hive).map { case ((root, stage), es) =>
      spark.read.option("basePath", s"$root/$stage").schema(schema).parquet(files(table, es): _*)
    } ++ Some(flat).filter(_.nonEmpty).map(es =>
      spark.read.schema(schema).parquet(files(table, es): _*)) ++
      Some(dved).filter(_.nonEmpty).map(readTagged(spark, table, _, schema).drop(RelCol, PosCol))
    if (scans.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      val df = scans.reduce(_.unionByName(_))
      // a hive scan moves its partition columns last: restore the union's order
      if (df.columns.sameElements(schema.fieldNames)) df
      else df.select(schema.fieldNames.toSeq.map(col): _*)
    }
  }

  /** Position-tag column names for the merge-on-read path. */
  private val RelCol = "_graft_rel"
  private val PosCol = "_graft_pos"

  /** Read FLAT entries over `schema` with their table-relative path
    * and in-file row position tagged (`_metadata.file_path` /
    * `_metadata.row_index` — the public parquet metadata columns).
    *
    * With `only = None`, deletion vectors are APPLIED: dead (path, pos)
    * pairs anti-join away at scan time. This is both the merge-on-read
    * read (drop the tags) and the live-row source `deleteWhere` picks
    * positions from. Safe to union multiple dv stages: stage paths are
    * uuid-unique and a file's newest sidecar is a superset of its older
    * ones (`commitDelta`'s invariant), so stray older rows can never
    * delete a position the newest vector keeps.
    *
    * With `only = Some(pos)`, a (path, pos) set of LIVE rows, it
    * returns exactly the rows at those positions — a delete's
    * pre-images. No vector applies: the positions are live by
    * construction (the row-level scan and `deleteWhere` both read
    * through the vectors). Rows first semi-join on the row ordinal
    * alone, so only the survivors pay the path regexp, and an exact
    * (path, pos) semi-join then drops an ordinal killed in another
    * file. */
  private def readTagged(spark: SparkSession, table: String,
                         entries: Seq[FileEntry], schema: StructType,
                         only: Option[DataFrame] = None): DataFrame = {
    entries.find(isHive).foreach(e =>
      sys.error(s"merge-on-read supports flat staged layouts only: ${e.path}"))
    // collision-proof temp column for the absolute file path: a user
    // column literally named _graft_file0 must survive the read
    val fileCol = Iterator.from(0).map(i => s"_graft_file$i")
      .find(c => !schema.fieldNames.contains(c)).get
    val raw = spark.read.schema(schema).parquet(files(table, entries): _*)
      .withColumn(fileCol, col("_metadata.file_path"))
      .withColumn(PosCol, col("_metadata.row_index"))
    def tag(df: DataFrame): DataFrame = df
      // the SOURCE-relative "data/<stage>/<f>" of the absolute path, so
      // clone entries key identically to the source's dv rows
      .withColumn(RelCol, regexp_extract(col(fileCol), "(?:data|cdc)/[^/]+/[^/=]+$", 0))
      .drop(fileCol)
    only match {
      case Some(pos) =>
        tag(raw.join(pos.select(col("pos").as(PosCol)), Seq(PosCol), "left_semi"))
          .join(pos.select(col("path").as(RelCol), col("pos").as(PosCol)),
            Seq(RelCol, PosCol), "left_semi")
      case None =>
        val dvDirs = entries.flatMap(_.dv).distinct.sorted
        if (dvDirs.isEmpty) tag(raw)
        else tag(raw).join(
          spark.read.parquet(dvDirs.map(d => sideAbs(table, d)): _*)
            .select(col("path").as(RelCol), col("pos").as(PosCol)),
          Seq(RelCol, PosCol), "left_anti")
    }
  }

  /** Manifest-side file pruning for a range predicate on an indexed
    * column: (kept, skipped). A file keeps when its [lo, hi] overlaps
    * [qLo, qHi] or it has no bounds — skipping can drop files, never
    * rows. An un-indexed column prunes nothing (everything kept). */
  def prunedFiles(table: String, c: String, qLo: Double, qHi: Double,
                  asOf: Option[Long] = None): (Seq[String], Seq[String]) =
    prunedFilesWhere(table, Pred.Between(c, qLo, qHi), asOf)

  /** Range read with DATA SKIPPING: open only the log-pruned files
    * for column `c`, then apply the residual row filter. At 100 TB
    * this is the second pruning tier after partition directories — a
    * range query on a range-clustered table touches the few files
    * whose bounds overlap, decided from the LOG alone (zero file
    * opens for the skipped ones). A range that overlaps NO file
    * returns the table's empty frame (schema intact), not an error. */
  def readPruned(spark: SparkSession, table: String, c: String,
                 qLo: Double, qHi: Double,
                 asOf: Option[Long] = None): DataFrame =
    readWhere(spark, table, Pred.Between(c, qLo, qHi), asOf)

  /** Predicate AST for log-level skipping: the boolean shapes a WHERE
    * clause reduces to. `mightMatch` is the standard three-valued
    * conservative evaluation over [lo, hi] interval bounds — a file is
    * skipped only when the predicate PROVABLY matches no row in it;
    * missing bounds or un-indexed columns always keep. */
  sealed trait Pred
  object Pred {
    final case class Between(c: String, lo: Double, hi: Double) extends Pred
    final case class Eq(c: String, v: Double) extends Pred
    final case class In(c: String, vs: Seq[Double]) extends Pred
    final case class StrEq(c: String, v: String) extends Pred
    final case class StrIn(c: String, vs: Seq[String]) extends Pred
    /** Provable only from recorded null counts: a file with nc=0 for
      * `c` cannot match IS NULL. */
    final case class IsNull(c: String) extends Pred
    /** A file with nc=rows (all null) cannot match IS NOT NULL. */
    final case class NotNull(c: String) extends Pred
    final case class And(ps: Pred*) extends Pred
    final case class Or(ps: Pred*) extends Pred
  }

  /** Spark computed the string min/max in UTF-8 BINARY order; Java's
    * String compare is UTF-16 code-unit order, which disagrees above
    * the BMP — compare bounds the way they were produced or
    * supplementary characters mis-skip files. */
  private def u8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var k = 0
    while (k < x.length && k < y.length) {
      val c = (x(k) & 0xff) - (y(k) & 0xff)
      if (c != 0) return c
      k += 1
    }
    x.length - y.length
  }
  private def u8Lte(a: String, b: String): Boolean = u8Compare(a, b) <= 0

  private[graft] def mightMatch(e: FileEntry, p: Pred): Boolean = {
    p match {
      case Pred.Between(c, qLo, qHi) =>
        e.num.get(c).forall { case (l, h) => h >= qLo && l <= qHi }
      case Pred.Eq(c, v) =>
        e.num.get(c).forall { case (l, h) => l <= v && v <= h }
      case Pred.In(c, vs) =>
        e.num.get(c).forall { case (l, h) => vs.exists(v => l <= v && v <= h) }
      case Pred.StrEq(c, v) =>
        e.str.get(c).forall { case (l, h) => u8Lte(l, v) && u8Lte(v, h) }
      case Pred.StrIn(c, vs) =>
        e.str.get(c).forall { case (l, h) => vs.exists(v => u8Lte(l, v) && u8Lte(v, h)) }
      case Pred.IsNull(c) => e.nulls.get(c).forall(_ > 0L)
      case Pred.NotNull(c) => e.nulls.get(c).forall(_ < e.rows)
      case Pred.And(ps @ _*) => ps.forall(mightMatch(e, _))
      case Pred.Or(ps @ _*) => ps.exists(mightMatch(e, _))
    }
  }

  /** Numeric view of a column for stats and residual filters: doubles
    * directly, timestamps (incl. NTZ — not double-castable) as epoch
    * SECONDS through unix_micros. Session TZ is pinned UTC, so the
    * NTZ interpretation is deterministic. Predicate values for
    * timestamp columns are epoch seconds. */
  private def numericView(c: org.apache.spark.sql.Column,
                          dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    dt match {
      case TimestampType | TimestampNTZType =>
        unix_micros(c.cast("timestamp")).cast("double") / lit(1e6)
      case _ => c.cast("double")
    }
  }

  /** The row-level Column a predicate tree denotes — applied as the
    * residual filter after file pruning (schema-aware, so timestamp
    * columns compare in the same epoch-second view the stats use),
    * which makes pruned and unpruned reads agree by construction.
    * A predicate column MISSING from the frame (an evolved column
    * when every file that carries it was pruned) evaluates as NULL —
    * the same answer the unpruned read gives for the old rows, where
    * the evolution union surfaces null and null never satisfies a
    * comparison. */
  private def predColumn(df: DataFrame, p: Pred): org.apache.spark.sql.Column = {
    def raw(c: String): org.apache.spark.sql.Column =
      if (df.columns.contains(c)) col(c) else lit(null)
    def num(c: String): org.apache.spark.sql.Column =
      if (df.columns.contains(c)) numericView(col(c), df.schema(c).dataType)
      else lit(null).cast("double")
    p match {
      case Pred.Between(c, lo, hi) => num(c) >= lo && num(c) <= hi
      case Pred.Eq(c, v) => num(c) === v
      case Pred.In(c, vs) => num(c).isin(vs.map(Double.box): _*)
      case Pred.StrEq(c, v) => raw(c) === v
      case Pred.StrIn(c, vs) => raw(c).isin(vs: _*)
      case Pred.IsNull(c) => raw(c).isNull
      case Pred.NotNull(c) => raw(c).isNotNull
      case Pred.And(ps @ _*) => ps.map(predColumn(df, _)).reduce(_ && _)
      case Pred.Or(ps @ _*) => ps.map(predColumn(df, _)).reduce(_ || _)
    }
  }

  /** Predicate-shaped skipping: (kept, skipped) under a boolean tree —
    * an OR of ranges skips the gap between them, an AND across two
    * indexed columns prunes with both sets of bounds. */
  def prunedFilesWhere(table: String, p: Pred,
                       asOf: Option[Long] = None): (Seq[String], Seq[String]) = {
    val st = resolveAt(table, asOf)
    val pp = renamePred(p, st.physOf) // predicates arrive logical; stats are physical
    st.entries.partition(mightMatch(_, pp)) match {
      case (k, s) => (k.map(_.path), s.map(_.path))
    }
  }

  /** Read under a predicate tree with log skipping + the exact
    * residual filter. A predicate overlapping NO file's bounds is a
    * legitimate 0-row query: it returns an empty frame with the
    * table's full (evolved) schema rather than failing. */
  def readWhere(spark: SparkSession, table: String, p: Pred,
                asOf: Option[Long] = None): DataFrame = {
    val st = resolveAt(table, asOf)
    val pp = renamePred(p, st.physOf)
    val (keptB, _) = st.entries.partition(mightMatch(_, pp))
    // bloom tier: point-equality atoms probe the per-file sidecars —
    // the CHEAP guards (atom shape, file-count cap) gate the
    // O(candidates) sidecar size sweep, which gates the reads
    val kept =
      if (BloomIndex.bloomable(pp) &&
          keptB.size <= BloomIndex.driverMax(st.props) &&
          keptB.exists(_.idx.isDefined) &&
          BloomIndex.withinDriverBytes(table, keptB,
            BloomIndex.driverMaxBytes(st.props), _ => false))
        BloomIndex.prune(table, keptB, pp, Int.MaxValue,
          scala.collection.mutable.Map.empty)
      else keptB
    if (kept.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), logicalSchema(table, st))
    else {
      val out = readFiles(spark, table, kept, st.tableSchema)
      applyColmap(out.filter(predColumn(out, pp)), st)
    }
  }

  // ------------------------------------------------------------ maintenance

  /** OPTIMIZE: rewrite the head's content into `targetFiles` files and
    * commit the compacted layout as a new REPLACE version. Content is
    * identical (spec-checked); prior versions keep reading their own
    * files until `vacuum` retires them — compaction never blocks or
    * breaks a concurrent reader. The small-files answer for a table
    * fed by many append commits (e.g. streaming ingest).
    *
    * Stats are PRESERVED: the head's indexed columns are re-computed
    * for the rewritten files, so OPTIMIZE never silently turns off
    * data skipping. `clusterBy` additionally range-partitions the
    * rewrite on the given columns (`repartitionByRange`), so the
    * post-compaction files carry TIGHT, non-overlapping bounds — the
    * OPTIMIZE...ZORDER/CLUSTER BY shape: compaction is exactly when
    * clustering is free, because the data is being rewritten anyway. */
  def compact(spark: SparkSession, table: String, targetFiles: Int,
              clusterBy: Seq[String] = Seq.empty,
              partitionBy: Seq[String] = Seq.empty): Long = {
    val st = resolveAt(table)
    val head = read(spark, table, Some(st.version))
    // stats-friendly default: a bare compact CLUSTERS by the table's
    // indexed columns (dominant-clustering first) instead of hash-
    // scattering — a plain `repartition(n)` would silently destroy any
    // existing clustering and leave every file with overlap-everything
    // bounds. Hash layout only for a stat-less table.
    val clusterCols =
      (if (clusterBy.nonEmpty) clusterBy
       // manifest column names are PHYSICAL; the head frame is logical
       else dominantClusterColumns(st).flatMap(st.logicalOf))
        .filter(head.columns.contains)
    val laid =
      if (clusterCols.nonEmpty)
        head.repartitionByRange(targetFiles, clusterCols.map(col): _*)
      else head.repartition(targetFiles)
    // partitionBy preserves (or introduces) a hive directory layout
    // through the rewrite — without it a compaction of a partitioned
    // table silently flattens it and directory pruning dies
    commit(spark, laid, table, expectedHead = Some(st.version), dataChange = false,
      partitionBy = partitionBy,
      statsFor = indexedColumns(st).flatMap(st.logicalOf).filter(head.columns.contains))
  }

  /** INCREMENTAL bin-packing OPTIMIZE (Delta's default OPTIMIZE
    * semantics): rewrite ONLY the files smaller than `minFileBytes`,
    * packed into ~`minFileBytes`-sized outputs clustered like the
    * table, and carry every adequately-sized file by reference as a
    * maintenance REWRITE commit (dataChange=false — invisible to
    * change-feed consumers like any compaction). This is what a
    * scheduled maintenance job actually wants on a streaming-ingest
    * table: each run's work is O(new small files), a second
    * back-to-back run is a NO-OP (returns the head unchanged, no
    * commit), and the already-compacted bulk of a 100 TB table is
    * never rewritten — the full `compact` rewrite is for re-clustering
    * the whole layout, not routine upkeep. File sizes come from the
    * manifest (`FileEntry.bytes`, recorded at commit time); entries
    * from older writers without sizes stat the file once driver-side.
    * Needs >= `minSmall` undersized files to bother (default 2). */
  def compactSmall(spark: SparkSession, table: String, minFileBytes: Long,
                   clusterBy: Seq[String] = Seq.empty,
                   minSmall: Int = 2): Long = {
    val st = resolveAt(table)
    // LIVE bytes: a file mostly dead behind a deletion vector is
    // effectively small — packing it materializes the deletions and
    // drops the vector (Delta's REORG/PURGE folded into OPTIMIZE)
    def sizeOf(e: FileEntry): Long = {
      val phys = if (e.bytes > 0L) e.bytes
        else Files.size(Paths.get(dataAbs(table, e)))
      // in doubles: phys * liveRows can overflow a long for TB-scale
      // files, and a negative "size" would misclassify the file as small
      if (e.dvRows > 0L && e.rows > 0L)
        (phys.toDouble * (e.rows - e.dvRows) / e.rows).toLong
      else phys
    }
    val small = st.entries.filter(sizeOf(_) < minFileBytes)
    // a lone small PLAIN file repacks into itself forever — skip; a
    // lone vector-carrying file is always worth the reorg (materialize
    // + drop the sidecar)
    if (small.size < math.max(minSmall, 2) && !small.exists(_.dv.isDefined))
      return st.version
    val total = small.map(sizeOf).sum
    val targetFiles = math.max(1L, (total + minFileBytes - 1) / minFileBytes).toInt
    val head = readFiles(spark, table, small)
    val clusterCols =
      (if (clusterBy.nonEmpty) clusterBy else dominantClusterColumns(st))
        .filter(head.columns.contains)
    val laid =
      if (clusterCols.nonEmpty)
        head.repartitionByRange(targetFiles, clusterCols.map(col): _*)
      else head.repartition(targetFiles)
    commitRewrite(spark, laid, table, small.map(_.path), st.version,
      statsFor = indexedColumns(st).filter(head.columns.contains),
      dataChange = false)
  }

  /** PARTITION-SCOPED OPTIMIZE (Delta's `OPTIMIZE t WHERE part = v`):
    * rewrite ONLY the files of one hive partition value into
    * `targetFiles` clustered outputs; every other partition carries BY
    * REFERENCE. At 100 TB maintenance is per-partition or it is
    * nothing — you re-cluster yesterday's ingest directory, never the
    * table, and the commit is O(that partition's files) data and
    * metadata. `value` None targets the default (null) partition.
    * The rewrite restages WITH the table's hive layout (directory
    * pruning survives), recomputes stats/bloom sidecars, materializes
    * any deletion vectors of the touched files, and publishes
    * `dataChange=false` — content-identical, feed-silent, safe under
    * a live stream like any compaction. A partition already at or
    * under `targetFiles` clean files is a NO-OP (no commit). */
  def compactWhere(spark: SparkSession, table: String, partCol: String,
                   value: Option[String], targetFiles: Int,
                   clusterBy: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val st = resolveAt(table)
    val phys = st.physOf(partCol)
    def partOf(e: FileEntry): Option[Option[String]] =
      e.path.split("/").drop(2).dropRight(1).filter(_.contains("="))
        .collectFirst {
          case seg if seg.substring(0, seg.indexOf('=')) == phys =>
            val raw = ExternalCatalogUtils.unescapePathName(
              seg.substring(seg.indexOf('=') + 1))
            if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)
        }
    val touched = st.entries.filter(e => partOf(e).contains(value))
    if (touched.isEmpty) {
      val have = st.entries.flatMap(partOf).distinct
      sys.error(s"no live files of $table in partition $phys=" +
        s"${value.getOrElse("NULL")} (have: ${have.take(8).map(_.getOrElse("NULL")).mkString(", ")}" +
        (if (have.isEmpty) "none — is the table hive-partitioned?" else "") + ")")
    }
    if (touched.size <= targetFiles && !touched.exists(_.dv.isDefined))
      return st.version // already compact and vector-free: no-op, no commit
    // the full hive column list of the touched layout (all entries of
    // one partition value share it by construction)
    val partCols = touched.head.path.split("/").drop(2).dropRight(1)
      .filter(_.contains("=")).map(s => s.substring(0, s.indexOf('='))).toSeq
    val head = readFiles(spark, table, touched) // partition cols restored
    // the frame is PHYSICAL (readFiles, not read()): user clusterBy
    // names arrive logical — translate, or a mapped table silently
    // loses its clustering to a plain repartition
    val clusterCols =
      (if (clusterBy.nonEmpty) clusterBy.map(st.physOf)
       else dominantClusterColumns(st))
        .filter(head.columns.contains)
    val laid =
      if (clusterCols.nonEmpty)
        head.repartitionByRange(targetFiles, clusterCols.map(col): _*)
      else head.repartition(targetFiles)
    commitRewrite(spark, laid, table, touched.map(_.path), st.version,
      statsFor = indexedColumns(st).filter(head.columns.contains),
      dataChange = false, partitionBy = partCols)
  }

  /** Order the table's indexed columns by how CLUSTERED the live
    * layout already is on each — fraction of files (sorted by lower
    * bound) that do NOT overlap the running upper bound of their
    * predecessors. Metadata-only (one sweep over the manifest per
    * column). A bare `compact` uses this to PRESERVE the dominant
    * existing clustering: re-clustering a price-sorted table by an
    * alphabetically-first column would trade the user's working
    * skipping layout for an accidental one. */
  private[core] def dominantClusterColumns(st: TableState): Seq[String] = {
    def quality[A](bounds: Seq[(A, A)], lt: (A, A) => Boolean): Double = {
      if (bounds.size < 2) return 0.0
      val sorted = bounds.sortWith((a, b) => lt(a._1, b._1))
      var overlaps = 0
      var maxHi = sorted.head._2
      sorted.tail.foreach { case (l, h) =>
        if (!lt(maxHi, l)) overlaps += 1 // l <= maxHi: overlaps the prefix
        if (lt(maxHi, h)) maxHi = h
      }
      1.0 - overlaps.toDouble / (bounds.size - 1)
    }
    indexedColumns(st).map { c =>
      val numB = st.entries.flatMap(_.num.get(c))
      val strB = st.entries.flatMap(_.str.get(c))
      val q =
        if (numB.size == st.entries.size) quality[Double](numB, _ < _)
        else if (strB.size == st.entries.size)
          quality[String](strB, u8Compare(_, _) < 0)
        else 0.0 // some files carry no bounds: no clustering signal
      (c, q)
    }.sortBy { case (c, q) => (-q, c) }.map(_._1)
  }

  /** OPTIMIZE ... ZORDER: compact the head into `targetFiles` files
    * laid out along a Z-curve over TWO numeric columns — each
    * dimension buckets to `bits` bits over its own [min, max] range
    * (one pass, fused into the rewrite the compaction performs
    * anyway), the bucket ids bit-interleave (`Maintenance.zValue`),
    * and the rewrite range-partitions + sorts on that key. Rows close
    * in BOTH dimensions land in the same files, so the per-file
    * bounds the commit records are tight boxes and an AND of range
    * predicates on the two columns prunes multiplicatively — the
    * multi-dimensional data-skipping layout a single-column
    * `clusterBy` cannot give (clustering on x leaves every file
    * spanning all of y). Both columns join the stats index. */
  def compactZorder(spark: SparkSession, table: String, targetFiles: Int,
                    colA: String, colB: String, bits: Int): Long =
    compactZorder(spark, table, targetFiles, Seq(colA, colB), bits)

  def compactZorder(spark: SparkSession, table: String, targetFiles: Int,
                    colA: String, colB: String): Long =
    compactZorder(spark, table, targetFiles, Seq(colA, colB), 10)

  /** N-DIMENSIONAL form of OPTIMIZE ... ZORDER: each of `cols` buckets
    * to `bits` bits over its own [min, max] range; the bucket ids
    * bit-interleave round-robin (`Maintenance.zValueN`) and the
    * rewrite range-partitions + sorts on the interleaved key. Real
    * tables cluster on 3-4 query dimensions (tenant x time x metric);
    * a box query ANDing ranges on any subset of the dims prunes
    * multiplicatively from the per-file bounds the commit records.
    * `cols.size * bits` must fit a long (<= 62 bits). */
  def compactZorder(spark: SparkSession, table: String, targetFiles: Int,
                    cols: Seq[String], bits: Int = 10): Long = {
    require(cols.size >= 2, s"z-order needs >= 2 columns, got $cols")
    require(cols.size * bits <= 62,
      s"${cols.size} dims x $bits bits overflow the interleaved long key")
    val st = resolveAt(table)
    val head = read(spark, table, Some(st.version))
    // ONE pass for every dimension's range (fused aggregate)
    val aggExprs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val ranges = head.agg(aggExprs.head, aggExprs.tail: _*).head()
    require(!ranges.anyNull, s"z-order needs non-null ranges for ${cols.mkString("/")}")
    val maxBucket = (1L << bits) - 1
    def bucket(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else least(lit(maxBucket), floor(
        (col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(maxBucket.toDouble))
        .cast("bigint"))
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      bucket(c, ranges.getDouble(2 * i), ranges.getDouble(2 * i + 1))
    }
    val z = Maintenance.zValueN(buckets, bits)
    // collision-proof temp column: a user column literally named
    // _graft_z must survive the rewrite (content-identical contract)
    val zc = Iterator.from(0).map(i => s"_graft_z$i")
      .find(!head.columns.contains(_)).get
    val laid = head.withColumn(zc, z)
      .repartitionByRange(targetFiles, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
    commit(spark, laid, table, expectedHead = Some(st.version), dataChange = false,
      statsFor = (indexedColumns(st).flatMap(st.logicalOf) ++ cols).distinct
        .filter(head.columns.contains))
  }

  /** Longest touched-key list the COW pruner holds driver-side; past
    * it, pruning falls back to the keys' [min, max] range (still
    * conservative, still O(files) driver work via binary search). */
  private val pruneKeyLimit = 100000

  /** Key types the COW pruner can compare against manifest bounds.
    * Anything else (binary, boolean, nested) rewrites every file —
    * conservative, never wrong. */
  private def keyPrunable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Partition the head's entries into (rewrite, carried) for a
    * touched-key set: a file must be rewritten iff its manifest
    * key-bounds MIGHT contain any touched key (missing bounds always
    * rewrite — pruning may carry files, never lose an update). The
    * touched keys are collected BOUNDED (<= pruneKeyLimit distinct
    * values — a CDC batch, not the table) and tested per file by
    * binary search; an oversized batch degrades to min/max range
    * overlap. Key values convert through the SAME `numericView`
    * expression the stats pass used, so both sides of the comparison
    * round identically (timestamps as micros/1e6, decimals as IEEE
    * doubles). */
  private def pruneByTouchedKeys(entries: Seq[FileEntry], touched: DataFrame,
                                 key: String): (Seq[FileEntry], Seq[FileEntry]) = {
    import org.apache.spark.sql.types.StringType
    val dt = touched.schema(key).dataType
    if (!keyPrunable(dt)) return (entries, Seq.empty)
    val isStr = dt == StringType
    val proj = (if (isStr) touched.select(col(key).as("k"))
                else touched.select(numericView(col(key), dt).as("k")))
      .na.drop()
    // ONE map-side-partial aggregate decides the path: min/max always
    // (the fallback needs them anyway) plus an approximate distinct
    // count — a WIDE batch (the bulk-upsert shape) never pays the
    // distinct shuffle + driver collect it cannot use
    val mm = proj.agg(min(col("k")), max(col("k")),
      approx_count_distinct(col("k"))).head()
    // a null-only (or empty) touched set matches no head row: the
    // anti-join passes everything through, so nothing needs rewriting
    if (mm.isNullAt(0)) return (Seq.empty, entries)
    // the exact key-list path only when the sketch says it's safely
    // under the limit (HLL rsd ~5% — halve the limit for margin)
    val vals =
      if (mm.getLong(2) > pruneKeyLimit / 2) Array.empty[org.apache.spark.sql.Row]
      else proj.distinct().limit(pruneKeyLimit + 1).collect()
    if (vals.isEmpty || vals.length > pruneKeyLimit) {
      if (isStr) {
        val (lo, hi) = (mm.getString(0), mm.getString(1))
        entries.partition(e =>
          e.str.get(key).forall { case (l, h) => u8Lte(l, hi) && u8Lte(lo, h) })
      } else {
        val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
        entries.partition(e =>
          e.num.get(key).forall { case (l, h) => h >= lo && l <= hi })
      }
    } else if (isStr) {
      val sorted = vals.map(_.getString(0)).sortWith(u8Compare(_, _) < 0)
      def overlaps(l: String, h: String): Boolean = {
        // first key >= l, then check it is <= h
        var lo = 0; var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (u8Compare(sorted(mid), l) < 0) lo = mid + 1 else hi = mid
        }
        lo < sorted.length && u8Lte(sorted(lo), h)
      }
      entries.partition(e => e.str.get(key).forall { case (l, h) => overlaps(l, h) })
    } else {
      val sorted = vals.map(_.getDouble(0)).sorted
      def overlaps(l: Double, h: Double): Boolean = {
        val i = java.util.Arrays.binarySearch(sorted, l)
        val idx = if (i >= 0) i else -i - 1
        idx < sorted.length && sorted(idx) <= h
      }
      entries.partition(e => e.num.get(key).forall { case (l, h) => overlaps(l, h) })
    }
  }

  /** Copy-on-write MERGE (upsert): rows of the head whose `key` appears
    * in `updates` are replaced, new keys are inserted, everything else
    * is carried — committed as one atomic, time-travelable REWRITE
    * version. FILE-PRUNED: only the files whose manifest key-bounds
    * might contain a touched key are read, anti-joined, and rewritten;
    * every other file carries by reference (its entry never even
    * appears in the record). On a key-clustered 100 TB table a small
    * CDC batch therefore rewrites a handful of files, not the table —
    * write amplification tracks the TOUCHED span, the Delta/Iceberg
    * COW shape. The rewritten files' indexed columns are re-computed;
    * carried files keep their bounds verbatim. The update batch is
    * recorded as change data, so `readChangeFeed` delivers this
    * commit's row-level delta to incremental consumers. */
  def merge(spark: SparkSession, table: String, updates0: DataFrame,
            key: String): Long = {
    val st = resolveAt(table)
    // the update batch evaluates several times (key pruning, the
    // anti-join, the change-data stage) — persist it so an expensive
    // upstream lineage (a CDC decode, a join) runs once, not four
    // times. CDC batches are micro-batch-sized by assumption. Mapped
    // tables translate the batch to PHYSICAL names up front and do the
    // whole merge in physical space (the staged rewrite is physical).
    val updates = toPhysicalDf(updates0, st).persist()
    val pkey = st.physOf(key)
    try {
      val touched = updates.select(col(pkey)).distinct()
      val (rewrite, _) = pruneByTouchedKeys(st.entries, touched, pkey)
      val staged =
        if (rewrite.isEmpty) updates // no file overlaps: pure insert
        else readFiles(spark, table, rewrite)
          .join(touched, Seq(pkey), "left_anti")
          // schema auto-merge (Delta's mergeSchema): an update batch
          // with NEW columns widens the table (old rows read null); a
          // batch MISSING table columns null-fills them in the rows it
          // replaces (upserts are whole-row replacements)
          .unionByName(updates, allowMissingColumns = true)
      commitRewrite(spark, staged, table, rewrite.map(_.path), st.version,
        statsFor = indexedColumns(st).filter(staged.columns.contains),
        changeData = Some(updates.withColumn("_change_type", lit("upsert"))))
    } finally { updates.unpersist(); () }
  }

  /** CDC APPLY with deletes: `changes` carries `opCol` in
    * {I, U, D} — Insert and Update rows land (U replaces the head row
    * with the same key; a same-key I behaves identically, the upsert
    * convention), D removes the key from the table (its other columns
    * are ignored). FILE-PRUNED copy-on-write like `merge`: only files
    * whose key-bounds might hold a touched key are anti-joined and
    * rewritten, the rest carry by reference, and the whole batch lands
    * as ONE atomic rewrite commit — the pre-apply snapshot stays
    * time-travelable. This is the full insert/update/delete
    * replication shape a CDC feed (Debezium-style op column) needs;
    * the I/U/D rows are recorded as change data for
    * `readChangeFeed`. */
  def applyChanges(spark: SparkSession, table: String, changes0: DataFrame,
                   key: String, opCol: String = "op"): Long = {
    val st = resolveAt(table)
    val changes = toPhysicalDf(changes0, st).persist() // evaluated 4x — see merge
    val pkey = st.physOf(key)
    try {
      val touched = changes.select(col(pkey)).distinct()
      val upserts = changes.filter(col(opCol) =!= "D").drop(opCol)
      // file-pruned like merge: the touched keys (deletes included)
      // decide which files rewrite; the rest carry by reference
      val (rewrite, _) = pruneByTouchedKeys(st.entries, touched, pkey)
      val staged =
        if (rewrite.isEmpty) upserts
        else readFiles(spark, table, rewrite)
          .join(touched, Seq(pkey), "left_anti")
          .unionByName(upserts, allowMissingColumns = true) // see merge
      val cdc = changes.withColumn("_change_type",
          when(col(opCol) === "D", lit("delete"))
            .when(col(opCol) === "U", lit("update"))
            .otherwise(lit("insert")))
        .drop(opCol)
      commitRewrite(spark, staged, table, rewrite.map(_.path), st.version,
        statsFor = indexedColumns(st).filter(staged.columns.contains),
        changeData = Some(cdc))
    } finally { changes.unpersist(); () }
  }

  /** DESCRIBE HISTORY: one row per committed version — version id,
    * commit kind, rows THIS commit added, and the total file count at
    * that version. Driver-built in ONE forward replay (the log is
    * metadata, bounded by version count, never by data size). */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val vs = versions(table)
    val rows = vs.zip(statesFrom(table, vs)).map { case (v, st) =>
      val r = readRecord(table, v)
      (r.version, r.kind, r.rows, st.entries.size.toLong,
        new java.sql.Timestamp(commitTimestamp(table, v)))
    }
    rows.toDF("version", "kind", "row_count", "n_files", "commit_ts")
  }

  /** The version range (sinceV, untilV] IF every record in it still
    * exists. A gap means vacuum retired records inside the range —
    * the delta is gone, and silently returning the survivors would
    * under-deliver rows to a lagging consumer; fail loudly instead
    * (the stream source enforces exactly the same rule). */
  private def contiguousRange(table: String, sinceV: Long, untilV: Long): Seq[Long] = {
    val range = versions(table).filter(v => v > sinceV && v <= untilV)
    require(range.nonEmpty, s"no versions in ($sinceV, $untilV]")
    val expected = (sinceV + 1) to untilV
    if (!range.sameElements(expected)) sys.error(
      s"versions ${(expected.toSet -- range.toSet).toSeq.sorted.mkString(",")} of $table " +
        "were vacuumed — the change feed cannot deliver their rows; " +
        "resync from the head snapshot")
    range
  }

  /** CHANGE FEED between two versions: the rows added by append
    * commits in (sinceV, untilV] — exactly the files those records
    * introduced, read directly (no diffing of row sets; the delta IS
    * the record). Incremental consumers (downstream training jobs,
    * index maintainers) use this to process only what's new since the
    * version they last pinned. Maintenance commits (dataChange=false)
    * are invisible; rewrite commits have change data but not
    * plain-row deltas (use `readChangeFeed`); a full replace in the
    * range fails fast rather than silently returning a wrong delta. */
  def readChanges(spark: SparkSession, table: String,
                  sinceV: Long, untilV: Long): DataFrame = {
    val recs = contiguousRange(table, sinceV, untilV).map(readRecord(table, _))
      // a maintenance commit (dataChange=false: compaction) changes
      // nothing by contract — invisible to the change feed, so a
      // nightly OPTIMIZE no longer breaks incremental consumers
      .filter(_.dataChange)
    recs.find(!_.append).foreach(r => sys.error(
      s"version ${r.version} is a ${r.kind} commit — its delta includes " +
        "updates or deletes plain rows cannot express; use readChangeFeed " +
        "for the row-level feed, or re-read the snapshot"))
    // shares the snapshot read's column union, so the change feed
    // tolerates the same schema evolution; the delta surfaces under the
    // UNTIL version's mapping
    applyColmap(readFiles(spark, table, recs.flatMap(_.adds)), resolve(table, untilV))
  }

  /** ROW-LEVEL change feed (CDF): every change in (sinceV, untilV] as
    * rows tagged `_change_type` — "insert" for append-commit rows,
    * and the recorded change-data rows ("upsert" from `merge`;
    * "insert"/"update"/"delete" from `applyChanges`) for rewrite
    * commits — plus `_commit_version`, the version that produced each
    * row (Delta CDF's column): a consumer applying a mixed feed MUST
    * order by it, or an insert-then-delete of the same key across two
    * versions applies backwards. This is what `readChanges` cannot
    * do: a COW merge has a well-defined row delta (its update batch),
    * recorded at commit time as `cdc/` files (Delta's `_change_data`
    * pattern), so ONE merge no longer permanently walls off every
    * incremental consumer. A full replace (no change data) still
    * fails fast — that delta genuinely is not derivable. Maintenance
    * commits are invisible. Delete-row SHAPE follows the producer:
    * `applyChanges` records the feed-supplied columns (typically the
    * key with null data columns), while `commitDelta` records the full
    * pre-image rows it positively identified — consumers keying on the
    * delete's key column work with both; pre-image columns are a
    * bonus, not a contract. The read plans one scan per commit in the
    * range — the per-version attribution an incremental consumer
    * needs; polls cover small ranges. */
  def readChangeFeed(spark: SparkSession, table: String,
                     sinceV: Long, untilV: Long): DataFrame = {
    val recs = contiguousRange(table, sinceV, untilV).map(readRecord(table, _))
      .filter(_.dataChange)
    recs.find(r => r.cdc.isEmpty && !r.append).foreach(r => sys.error(
      s"version ${r.version} is a full ${r.kind} commit with no recorded " +
        "change data — its row delta is not derivable; resync from the snapshot"))
    val parts = recs.flatMap { r =>
      val rows =
        if (r.cdc.nonEmpty) Some(readFiles(spark, table, r.cdc))
        else if (r.append && r.adds.nonEmpty)
          Some(readFiles(spark, table, r.adds)
            .withColumn("_change_type", lit("insert")))
        else None
      rows.map(_.withColumn("_commit_version", lit(r.version)))
    }
    if (parts.isEmpty) spark.emptyDataFrame
    // rows surface under the UNTIL version's column mapping (physical
    // names are immutable, so one mapping is correct for the range)
    else applyColmap(
      parts.reduce(_.unionByName(_, allowMissingColumns = true)),
      resolve(table, untilV))
  }

  /** Polling incremental consumer — the micro-batch pull pattern over
    * the change feed: returns (new checkpoint version, isResync,
    * rows). A downstream job persists the returned version as its
    * checkpoint and calls again later; two consumers at different
    * versions read independently (the log is immutable). When every
    * in-range commit is an append, the rows are exactly the delta
    * (each row delivered once across polls). When a REPLACE commit
    * lies in range, the delta is undefined — the poll returns the
    * FULL head snapshot with isResync=true and the consumer must
    * treat it as a refresh, not an increment (the standard change-feed
    * restart-point convention). Empty when nothing new. */
  def pollChanges(spark: SparkSession, table: String,
                  lastSeen: Long): (Long, Boolean, DataFrame) = {
    val head = latestVersion(table).getOrElse(lastSeen)
    if (head <= lastSeen) return (lastSeen, false, spark.emptyDataFrame)
    val range = versions(table).filter(v => v > lastSeen && v <= head)
    // vacuum retired records inside the gap: the delta no longer
    // exists — resync with the head snapshot instead of silently
    // under-delivering the vacuumed appends' rows
    if (!range.sameElements((lastSeen + 1) to head))
      return (head, true, read(spark, table, Some(head)))
    val recs = range.map(readRecord(table, _)).filter(_.dataChange)
    if (recs.exists(!_.append)) (head, true, read(spark, table, Some(head)))
    else if (recs.isEmpty) (head, false, spark.emptyDataFrame)
    // maintenance-only window: the checkpoint advances past the
    // compaction with an empty delta — OPTIMIZE never forces a resync
    else (head, false, readChanges(spark, table, lastSeen, head))
  }

  /** Polling consumer over the ROW-LEVEL feed — `pollChanges`' CDF
    * twin: returns (new checkpoint version, isResync, rows). When
    * every data commit in range has a derivable row delta (appends,
    * merges, CDC applies, vector deletes — maintenance skipped), the
    * rows are `readChangeFeed`'s tagged delta and the consumer
    * applies them in `_commit_version` order; a merge no longer
    * forces the resync `pollChanges` must take. Only a FULL replace
    * (or a vacuumed gap) still returns the head snapshot with
    * isResync=true. */
  def pollChangeFeed(spark: SparkSession, table: String,
                     lastSeen: Long): (Long, Boolean, DataFrame) = {
    val head = latestVersion(table).getOrElse(lastSeen)
    if (head <= lastSeen) return (lastSeen, false, spark.emptyDataFrame)
    val range = versions(table).filter(v => v > lastSeen && v <= head)
    if (!range.sameElements((lastSeen + 1) to head))
      return (head, true, read(spark, table, Some(head)))
    val recs = range.map(readRecord(table, _)).filter(_.dataChange)
    if (recs.exists(r => r.cdc.isEmpty && !r.append))
      (head, true, read(spark, table, Some(head))) // full replace: reset
    else if (recs.isEmpty) (head, false, spark.emptyDataFrame)
    else (head, false, readChangeFeed(spark, table, lastSeen, head))
  }

  /** Delete data files referenced ONLY by versions < `keepFrom` (and
    * their commit records). Time travel to vacuumed versions dies;
    * every version >= keepFrom still reads. The cutoff is CLAMPED to
    * the head (a keepFrom beyond it can retire all history but never
    * the live snapshot), and a checkpoint is published at the new
    * oldest survivor BEFORE its history dies, so delta-record replay
    * never dead-ends on a vacuumed record. Returns deleted relative
    * paths. */
  /** `dryRun` (Delta's VACUUM DRY RUN): compute and return the doomed
    * data-file list WITHOUT deleting anything — no files, no dv/idx
    * sidecars, no records, no checkpoint re-base. The operational
    * look-before-you-leap for a destructive cleanup. */
  def vacuum(table: String, keepFrom: Long, dryRun: Boolean = false): Seq[String] = {
    val all = versions(table)
    if (all.isEmpty) return Seq.empty
    val cutoff = math.min(keepFrom, all.last) // the live head never dies
    val (dead, live) = all.partition(_ < cutoff)
    if (dead.isEmpty) return Seq.empty
    // re-base the oldest survivor while its history is still readable.
    // ALWAYS checkpoint (even when its record is a replace): resolution
    // walks past replaces to accumulate txn high-water marks, so the
    // base must be a checkpoint or the walk would dead-end on a
    // deleted record
    val states = statesFrom(table, live)
    if (!dryRun && readCheckpoint(table, live.head).isEmpty)
      writeCheckpoint(table, states.head)
    // live files: one forward replay from the new base
    val liveFiles = states.flatMap(_.entries.map(_.path)).toSet
    val liveDv = states.flatMap(_.entries.flatMap(_.dv)).toSet
    val liveIdx = states.flatMap(_.entries.flatMap(_.idx)).toSet
    // every file ever added (each exactly once, by its adding record),
    // plus the dead records' change-data files (cdc files are
    // referenced ONLY by their own record, so they die with it)
    val deadRecs = dead.map(readRecord(table, _))
    // a clone does not own its source: based entries' data files and
    // absolute sidecar refs NEVER die here (vacuum the SOURCE retires
    // them — and, like Delta, doing so breaks shallow clones over it)
    val doomed = deadRecs.flatMap { r =>
      r.adds.filter(_.base.isEmpty).map(_.path) ++ r.cdc.map(_.path)
    }.distinct.filterNot(liveFiles)
    if (dryRun) return doomed // report only: nothing was touched
    doomed.foreach(f => Files.deleteIfExists(Paths.get(table, f)))
    // deletion-vector stages referenced only by dead versions go too
    deadRecs.flatMap(_.adds.flatMap(_.dv)).distinct
      .filterNot(d => liveDv(d) || d.startsWith("/"))
      .foreach(d => TempDirs.deleteRecursively(Paths.get(table, d).toFile))
    // bloom sidecars die with their entry (immutable, one per file)
    deadRecs.flatMap(_.adds.flatMap(_.idx)).distinct
      .filterNot(i => liveIdx(i) || i.startsWith("/"))
      .foreach(i => Files.deleteIfExists(Paths.get(table, i)))
    dead.foreach { v =>
      Files.deleteIfExists(vPath(table, v))
      Files.deleteIfExists(ckptPath(table, v))
    }
    doomed
  }

  /** Sweep ORPHANED stage directories — data AND change-data files no
    * surviving record references, left behind by writers that crashed
    * between staging and publishing (a rewrite commit stages under
    * both `data/` and `cdc/` before its single record publish, so a
    * crash litters both roots). Only stages older than `olderThanMs`
    * go (the grace period protects an IN-FLIGHT writer that has
    * staged but not yet committed — the same rule as Delta's VACUUM
    * retention). Returns deleted stage dirs (relative). */
  def vacuumOrphans(table: String, olderThanMs: Long = 3600000L): Seq[String] = {
    val vs = versions(table)
    // referenced = the union of RESOLVED live file sets, NOT the
    // surviving records' delta adds: after a vacuum re-based the head
    // on a checkpoint, the head's files are referenced only by that
    // checkpoint — computing references from record adds alone would
    // let the orphan sweep destroy the live table (one forward replay
    // from the oldest survivor covers every surviving version).
    // Change-data stages are referenced by their OWN record only (cdc
    // entries never enter the resolved state), so they come straight
    // from the surviving records.
    val states = statesFrom(table, vs)
    val referenced = states
      .flatMap(_.entries.map(e => stageOf(e.path))).toSet ++
      vs.flatMap(v => readRecord(table, v).cdc.map(e => stageOf(e.path))) ++
      states.flatMap(_.entries.flatMap(_.dv)) ++ // dv values ARE stage dirs
      states.flatMap(_.entries.flatMap(_.idx.map(stageOf))) // bloom sidecars
    val cutoff = System.currentTimeMillis() - olderThanMs
    // dvtmp = row-level DML position staging: transient by contract
    // (the commit deletes it), so anything old enough is crash litter
    Seq("data", "cdc", "dv", "dvtmp", "idx").flatMap { root =>
      val rootDir = Paths.get(table, root)
      if (!Files.isDirectory(rootDir)) Seq.empty
      else {
        val st = Files.list(rootDir)
        val stages = try st.iterator().asScala.toSeq finally st.close()
        stages.filter { p =>
          !referenced.contains(s"$root/${p.getFileName}") &&
            Files.getLastModifiedTime(p).toMillis < cutoff
        }.map { p =>
          TempDirs.deleteRecursively(p.toFile)
          s"$root/${p.getFileName}"
        }
      }
    }
  }

  // ------------------------------------------------------- declared queries

  /** Declared surface for the log's ISOLATION guarantee: commit v1 =
    * the full (doc_id, lang) projection, commit v2 = a filtered
    * replacement, then read AS OF v1 and aggregate. The oracle is the
    * plain per-lang count over `documents` — it only matches if the
    * v2 commit bled nothing into the v1 snapshot. */
  def snapshotAsof(spark: SparkSession, dir: String): DataFrame = {
    val table = demoTable(spark, dir)
    read(spark, table, asOf = Some(1L))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  /** Declared surface for the HEAD read + append commit: v3 appends
    * the short-doc remainder back, so the head must equal the full
    * corpus again — per-source counts against the plain oracle. */
  def snapshotLatest(spark: SparkSession, dir: String): DataFrame = {
    val table = demoTable(spark, dir)
    read(spark, table)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  /** Declared surface for copy-on-write MERGE: v1 = the orders
    * projection; one merge applies a deterministic CDC batch (keys
    * % 10 == 0 in the LOW key band updated to status 'U' with
    * price+1; keys % 50 == 0 re-inserted under shifted NEW keys with
    * status 'N'); the head aggregate only matches the oracle's
    * anti-join + union replay if updates replaced, inserts landed,
    * and untouched rows survived. The update band is key-bounded (the
    * realistic CDC shape — recent keys churn, old ones don't), so on
    * a key-clustered table the file-pruned COW path carries the
    * untouched key ranges by reference: at sf0.01 the band covers
    * nearly every file (full correctness coverage), at probe scale it
    * covers few (the 64x merge rewrites a sliver, not the table). */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    val table = freshScratchTable(s"snapmerge:$dir")
    // key-clustered + key-indexed base, so the merge exercises the
    // FILE-PRUNED COW path (untouched key ranges carry by reference)
    // the CDC batches derive from the UNSHUFFLED projection: the
    // demo's update lineage must not drag the base table's range
    // exchange along (a real CDC feed never would)
    val raw = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val base = raw.repartitionByRange(32, col("o_orderkey"))
    commit(spark, base, table, statsFor = Seq("o_orderkey"))
    val updates = raw.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") < 60000)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("p") + 1).cast("decimal(18,2)").as("p"))
      .unionByName(raw.filter(col("o_orderkey") % 50 === 0)
        .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("p")))
    merge(spark, table, updates, "o_orderkey")
    read(spark, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("p")), 2).cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** Declared surface for CDC APPLY with DELETES: v1 = the orders
    * projection; one applyChanges batch replays a deterministic
    * insert/update/delete feed (low-band keys % 7 == 0 DELETED;
    * low-band keys % 10 == 0 and not deleted UPDATED to status 'U'
    * with price+1; keys % 50 == 3 INSERTED under shifted new keys
    * with status 'N' — the band-bounded churn shape that lets the
    * file-pruned COW carry untouched key ranges at scale). The
    * head aggregate only matches the oracle's replay if deletes
    * removed exactly their keys, updates replaced in place, inserts
    * landed, and everything else survived untouched. */
  def snapshotDelete(spark: SparkSession, dir: String): DataFrame = {
    val table = freshScratchTable(s"snapdel:$dir")
    // the CDC batches derive from the UNSHUFFLED projection: the
    // demo's update lineage must not drag the base table's range
    // exchange along (a real CDC feed never would)
    val raw = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val base = raw.repartitionByRange(32, col("o_orderkey"))
    commit(spark, base, table, statsFor = Seq("o_orderkey"))
    val deletes = raw.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") < 60000)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast("string").as("o_orderstatus"),
        lit(null).cast("decimal(18,2)").as("p"))
    val updates = raw.filter(col("o_orderkey") % 10 === 0 &&
        col("o_orderkey") % 7 =!= 0 && col("o_orderkey") < 60000)
      .select(col("o_orderkey"), lit("U").as("op"),
        lit("U").as("o_orderstatus"), (col("p") + 1).cast("decimal(18,2)").as("p"))
    val inserts = raw.filter(col("o_orderkey") % 50 === 3)
      .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
        lit("I").as("op"), lit("N").as("o_orderstatus"), col("p"))
    applyChanges(spark, table,
      deletes.unionByName(updates).unionByName(inserts)
        .select("o_orderkey", "o_orderstatus", "p", "op"), "o_orderkey")
    read(spark, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("p")), 2).cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** Declared surface for PARTITIONED commits: docs committed
    * hive-partitioned by lang; the filtered read-back must restore
    * `lang` as a partition column from the record's staged layout
    * (basePath per stage) — the per-source counts only match if no
    * partition's rows leaked or doubled. Pruning is plan-audited in
    * SnapshotLogSpec. */
  def snapshotPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val table = partitionedDemoTable(spark, dir)
    read(spark, table).filter(col("lang") === "en")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  /** Declared surface for the CHANGE FEED: three deterministic append
    * commits (orders thirds by key mod), then `readChanges(1, 3)` —
    * the incremental consumer's read. The aggregate only matches the
    * oracle's `mod <> 0` replay if the feed returns exactly the rows
    * versions 2-3 introduced: nothing from v1, nothing double-counted
    * across the two appends. */
  def snapshotChanges(spark: SparkSession, dir: String): DataFrame = {
    val table = freshScratchTable(s"snapchg:$dir")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    commit(spark, o.filter(col("o_orderkey") % 3 === 0), table)
    commit(spark, o.filter(col("o_orderkey") % 3 === 1), table, append = true)
    commit(spark, o.filter(col("o_orderkey") % 3 === 2), table, append = true)
    readChanges(spark, table, 1L, 3L)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("total"))
  }

  /** Declared surface for MERGE-ON-READ DELETES (deletion vectors):
    * v1 = orders price-clustered and price-indexed; one `deleteWhere`
    * kills the mid-price band by writing position sidecars — zero
    * data files rewritten (DeletionVectorSpec pins that); the head
    * aggregate only matches the oracle's NOT-BETWEEN replay if the
    * scan-time vector application dropped exactly the matched rows
    * and nothing else. */
  def snapshotDeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    val table = freshScratchTable(s"snapdw:$dir")
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .repartitionByRange(16, col("p"))
    commit(spark, base, table, statsFor = Seq("p"))
    deleteWhere(spark, table, Pred.Between("p", 50000.0, 100000.0))
    read(spark, table)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("p")), 2).cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  /** Declared surface for the ROW-LEVEL CHANGE FEED ACROSS A MERGE
    * (CDF): v1 = the orders base (key-clustered, key-indexed), v2 = an
    * append of shifted new keys, v3 = a file-pruned COW merge of a
    * deterministic update batch. `readChangeFeed(1, 3)` must deliver
    * exactly v2's rows tagged insert plus v3's update batch tagged
    * upsert — the incremental consumer's view ACROSS the merge that
    * plain `readChanges` refuses (pre-r10, one merge permanently
    * walled off every incremental consumer). The per-change-type
    * aggregate only matches the oracle's replay if nothing from v1
    * leaked in, no carried file's rows were re-delivered, and the
    * change data is exactly the update batch. */
  def snapshotChangesMerge(spark: SparkSession, dir: String): DataFrame = {
    val table = freshScratchTable(s"snapcdf:$dir")
    // the CDC batches derive from the UNSHUFFLED projection: the
    // demo's update lineage must not drag the base table's range
    // exchange along (a real CDC feed never would)
    val raw = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val base = raw.repartitionByRange(32, col("o_orderkey"))
    commit(spark, base, table, statsFor = Seq("o_orderkey"))
    commit(spark, raw.filter(col("o_orderkey") % 50 === 1)
      .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
        lit("A").as("o_orderstatus"), col("p")), table, append = true)
    val updates = raw.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") < 60000)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("p") + 1).cast("decimal(18,2)").as("p"))
    merge(spark, table, updates, "o_orderkey")
    readChangeFeed(spark, table, 1L, 3L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("p")), 2).cast("double").as("total"))
      .orderBy("change_type")
  }

  /** Declared surface for DATA SKIPPING: orders range-clustered on
    * o_totalprice and committed with per-file price bounds; the range
    * read must equal the plain BETWEEN oracle while opening only the
    * overlapping files (SnapshotLogSpec asserts real skips on this
    * exact layout). */
  def snapshotSkipping(spark: SparkSession, dir: String): DataFrame = {
    val table = skippingDemoTable(spark, dir)
    readPruned(spark, table, "o_totalprice", 50000.0, 100000.0)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("total"))
      .orderBy("o_orderstatus")
  }

  private[graft] def skippingDemoTable(spark: SparkSession, dir: String): String = {
    val table = freshScratchTable(s"snapskip:$dir")
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .repartitionByRange(8, col("o_totalprice"))
    commit(spark, orders, table, statsFor = Seq("o_totalprice", "o_orderkey"))
    table
  }

  private[graft] def partitionedDemoTable(spark: SparkSession, dir: String): String = {
    val table = freshScratchTable(s"snappart:$dir")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
    commit(spark, docs, table, partitionBy = Seq("lang"))
    table
  }

  private def freshScratchTable(tag: String): String = {
    val table = TempDirs.stable(tag)
    TempDirs.deleteRecursively(new java.io.File(table))
    Files.createDirectories(Paths.get(table))
    table
  }

  /** Build the demo log once per (query-run, corpus): v1 = full
    * projection (replace), v2 = long docs only (replace), v3 = the
    * short-doc remainder (APPEND — v3 = v2 files + staged, no
    * rewrite). Fresh scratch per run: version numbers must be
    * deterministic for the declared queries. */
  private def demoTable(spark: SparkSession, dir: String): String = {
    val table = TempDirs.stable(s"snaplog:$dir")
    TempDirs.deleteRecursively(new java.io.File(table))
    Files.createDirectories(Paths.get(table))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    commit(spark, docs, table)
    commit(spark, docs.filter(col("n_chars") >= 500), table)
    commit(spark, docs.filter(col("n_chars") < 500), table, append = true)
    table
  }
}
