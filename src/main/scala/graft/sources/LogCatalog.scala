package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.core.SnapshotLog

/** A named CATALOG of graft-log tables (Spark's `TableCatalog`
  * plugin point, the Delta/Iceberg catalog shape):
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sources.LogCatalog
  *   spark.sql.catalog.graft.root = /data/graft
  * }}}
  *
  * then the full multi-table SQL surface works by NAME —
  * `CREATE NAMESPACE graft.ml`, `CREATE TABLE graft.ml.docs (...)
  * PARTITIONED BY (lang)`, `INSERT INTO graft.ml.docs ...`,
  * `SELECT ... FROM graft.ml.docs` (manifest pruning included, it is
  * the same LogStreamTable the path-based route builds), `SHOW
  * TABLES IN graft.ml`, `DROP TABLE`, `ALTER TABLE ... RENAME`.
  *
  * Layout is the filesystem: a namespace is a directory under
  * `root`, a table is a directory containing `_graft_log/`. That
  * makes the catalog METADATA-FREE — the log is the source of truth
  * (schema = the committed schema union, exactly what `spark.read`
  * infers) and catalog state can never drift from table state. The
  * one catalog-only fact is the PARTITIONING of an as-yet-empty
  * table (no entries to derive `col=value` from), persisted as
  * `_graft_table.json` at create time; once data lands, the entry
  * paths carry it.
  *
  * Reference analogue: pgcp's catalog surface (postgres.rb:20-36
  * list tables, :108-120 schemas, :263-278 CREATE TABLE, :93-106
  * swap) re-expressed as a Spark catalog plugin instead of psql
  * calls. */
class LogCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.root=<directory>")
    root = Paths.get(LogStreamSource.normalizePath(r))
    Files.createDirectories(root)
  }

  override def name(): String = catalogName

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(root)((p, s) => p.resolve(s))
  /** Directory listing with the stream CLOSED (Files.list leaks a
    * directory fd until closed — try/finally, as in
    * SnapshotLog.versions). The function must consume eagerly. */
  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val st = Files.list(dir)
    try f(st.iterator().asScala) finally st.close()
  }
  private def tablePath(ident: Identifier): Path =
    nsPath(ident.namespace()).resolve(ident.name())
  private def isTable(p: Path): Boolean =
    Files.isDirectory(p.resolve("_graft_log"))

  // ------------------------------------------------------------ tables
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(catalogName +: namespace)
    listDir(dir)(_.filter(p => Files.isDirectory(p) && isTable(p))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray)
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tablePath(ident))

  override def loadTable(ident: Identifier): Table = load(ident, _ => None)

  /** SQL `VERSION AS OF <v>`: the table pinned at a log version. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, _ => Some(try version.toLong catch {
      case _: NumberFormatException =>
        sys.error(s"graft-log versions are numbers, got VERSION AS OF '$version'")
    }))

  /** SQL `TIMESTAMP AS OF <ts>` (Spark hands MICROseconds). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, t => Some(SnapshotLog.versionAsOfTimestamp(t, timestampMicros / 1000L)))

  /** The table pinned at `pin(path)` (None: the head). */
  private def load(ident: Identifier, pin: String => Option[Long]): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val v = pin(p.toString)
    new LogStreamTable(p.toString, SnapshotLog.schemaAt(p.toString, v), partitionColsOf(p),
      asOfVersion = v)
  }

  /** Partition columns: from live entry paths when data exists (the
    * log is the truth), else from the create-time sidecar. Directory
    * names are PHYSICAL — reported under their logical names. */
  private def partitionColsOf(p: Path): Seq[String] = {
    val st = SnapshotLog.latestVersion(p.toString)
      .map(v => SnapshotLog.resolve(p.toString, v))
    val entries = st.toSeq.flatMap(_.entries)
    val fromEntries = entries.headOption
      .map(e => LogBatchScan.partitionValues(e.path).map(_._1)
        .flatMap(pc => st.flatMap(_.logicalOf(pc)))).getOrElse(Seq.empty)
    if (fromEntries.nonEmpty) fromEntries
    else {
      val j = p.resolve("_graft_table.json")
      if (!Files.exists(j)) Seq.empty
      else {
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
          Files.readString(j))
        Option(n.get("partitionBy")).toSeq.flatMap(_.elements().asScala
          .map(_.asText()))
      }
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val p = tablePath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException((catalogName +: ident.namespace().toSeq :+ ident.name()))
    if (!Files.isDirectory(nsPath(ident.namespace())))
      throw new NoSuchNamespaceException(
        (catalogName +: ident.namespace().toSeq).toArray)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t => sys.error(s"graft catalog supports identity partitioning only, got $t")
    }
    Files.createDirectories(p)
    // user TBLPROPERTIES persist in the log (engine-added keys like
    // provider/location/owner stay out — they are not table state)
    val reserved = Set("provider", "location", "owner", "external",
      "comment", "format")
    val userProps = properties.asScala.toMap
      .filter { case (k, _) => !reserved(k) && !k.startsWith("option.") }
    // an empty replace records the schema; the table reads as 0 rows
    SnapshotLog.commitEmpty(p.toString, schema,
      props = if (userProps.nonEmpty) Some(userProps) else None)
    if (partCols.nonEmpty) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val o = m.createObjectNode()
      val arr = o.putArray("partitionBy")
      partCols.foreach(arr.add)
      Files.writeString(p.resolve("_graft_table.json"), m.writeValueAsString(o))
    }
    new LogStreamTable(p.toString, schema, partCols)
  }

  /** `ALTER TABLE ... ADD COLUMNS` = a schema-evolution commit: an
    * empty append whose recorded schema carries the new columns — the
    * same union mechanism a widened write uses, so existing files are
    * untouched and surface null for the added columns (exactly the
    * reader's evolution contract).
    * `RENAME COLUMN` / `DROP COLUMN` = COLUMN-MAPPING commits
    * (Delta's name mode): metadata-only — no file rewrites; the
    * physical file names stay what the first commit wrote and the
    * log carries the logical indirection. Old snapshots keep their
    * own (old) names under time travel. Type changes are refused. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft catalog: nested ADD COLUMN is not supported (flat schemas)")
        val cur = SnapshotLog.schemaAt(p.toString)
        require(!cur.fieldNames.contains(a.fieldNames().head),
          s"column ${a.fieldNames().head} already exists in ${ident.name()}")
        SnapshotLog.commit(spark,
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            cur.add(StructField(a.fieldNames().head, a.dataType(), nullable = true))),
          p.toString, append = true)
        ()
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft catalog: nested RENAME COLUMN is not supported (flat schemas)")
        SnapshotLog.renameColumn(spark, p.toString, r.fieldNames().head, r.newName())
        ()
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft catalog: nested DROP COLUMN is not supported (flat schemas)")
        SnapshotLog.dropColumn(spark, p.toString, d.fieldNames().head)
        ()
      case s: TableChange.SetProperty =>
        // bloom-index columns must exist NOW (a typo'd column would
        // silently never index; fail the ALTER instead)
        if (s.property() == graft.core.BloomIndex.ColumnsProp) {
          val have = SnapshotLog.schemaAt(p.toString).fieldNames.toSet
          val asked = s.value().split(",").map(_.trim).filter(_.nonEmpty)
          val missing = asked.filterNot(have)
          require(missing.isEmpty,
            s"bloom-index columns not in ${ident.name()}: ${missing.mkString(", ")} " +
              s"(have ${have.mkString(", ")})")
          SnapshotLog.setProperties(p.toString, Map(s.property() -> s.value()))
        } else if (s.property().startsWith(graft.core.Constraints.Prefix)) {
          // a CHECK constraint set by SQL takes the ADD CONSTRAINT
          // path: existing data must satisfy it or the ALTER fails
          SnapshotLog.addConstraint(spark, p.toString,
            s.property().substring(graft.core.Constraints.Prefix.length),
            s.value())
        } else
          SnapshotLog.setProperties(p.toString, Map(s.property() -> s.value()))
        ()
      case r: TableChange.RemoveProperty =>
        SnapshotLog.setProperties(p.toString, Map.empty, unset = Seq(r.property()))
        ()
      case other => throw new UnsupportedOperationException(
        s"graft catalog: only ADD/RENAME/DROP COLUMN and SET/UNSET " +
          s"TBLPROPERTIES alter a log-backed table; got $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) false
    else { graft.core.TempDirs.deleteRecursively(p.toFile); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent0: Identifier): Unit = {
    // RENAME TO graft.ml.t arrives with the catalog name still in the
    // target's namespace — strip it (the engine already routed here)
    val newIdent =
      if (newIdent0.namespace().headOption.contains(catalogName))
        Identifier.of(newIdent0.namespace().drop(1), newIdent0.name())
      else newIdent0
    val from = tablePath(oldIdent)
    val to = tablePath(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException((catalogName +: newIdent.namespace().toSeq :+ newIdent.name()))
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // -------------------------------------------------------- namespaces
  override def listNamespaces(): Array[Array[String]] =
    listDir(root)(_.filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => Array(p.getFileName.toString)).toArray)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir) || isTable(dir)) throw new NoSuchNamespaceException(catalogName +: namespace)
    listDir(dir)(_.filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => namespace :+ p.getFileName.toString).toArray)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = nsPath(namespace)
    namespace.isEmpty || (Files.isDirectory(dir) && !isTable(dir))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(catalogName +: namespace)
    Map(SupportsNamespaces.PROP_LOCATION -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: JMap[String, String]): Unit = {
    val dir = nsPath(namespace)
    if (Files.isDirectory(dir)) throw new NamespaceAlreadyExistsException(catalogName +: namespace)
    Files.createDirectories(dir)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) false
    else {
      val empty = listDir(dir)(!_.hasNext)
      if (!empty && !cascade) throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      graft.core.TempDirs.deleteRecursively(dir.toFile)
      true
    }
  }

  // -------------------------------------------------------- procedures
  /** SQL MAINTENANCE surface (Iceberg's stored-procedure shape,
    * Spark 4's `ProcedureCatalog`): `CALL graft.system.optimize(...)`,
    * `vacuum`, `history`, `restore` — the operations `tools/Cli`
    * exposes, now first-class SQL statements through the catalog. The
    * `tbl` argument is a catalog-relative table name (`ns.table`). */
  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    LogProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().isEmpty || ident.namespace().sameElements(Array("system")),
      s"graft procedures live in the system namespace, got ${ident.namespace().mkString(".")}")
    LogProcedures.load(ident.name(), name => {
      val parts = name.split("\\.")
      val tid = Identifier.of(parts.init, parts.last)
      val p = tablePath(tid)
      if (!isTable(p)) throw new NoSuchTableException(tid)
      p.toString
    }, name => { // a NEW table's path (clone target): namespace must exist
      val parts = name.split("\\.")
      val tid = Identifier.of(parts.init, parts.last)
      val p = tablePath(tid)
      if (isTable(p)) throw new TableAlreadyExistsException(
        (catalogName +: tid.namespace().toSeq :+ tid.name()))
      if (!Files.isDirectory(nsPath(tid.namespace())))
        throw new NoSuchNamespaceException((catalogName +: tid.namespace().toSeq).toArray)
      Files.createDirectories(p)
      p.toString
    })
  }
}

/** The graft catalog's stored procedures. Each binds a fixed parameter
  * list and returns ONE driver-local result set (the log operations
  * are metadata-sized by construction). */
object LogProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  val names: Seq[String] = Seq("optimize", "vacuum", "history", "restore", "clone", "detail")

  private final class ResultScan(schema: StructType, rows: Seq[Seq[Any]],
                                 what: String) extends LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] =
      rows.map(r => InternalRow.fromSeq(r)).toArray
    override def description(): String = s"graft procedure $what"
  }

  private def one(scan: Scan): java.util.Iterator[Scan] =
    java.util.Collections.singletonList(scan).iterator()

  private def param(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()
  private def paramD(n: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(n, dt).defaultValue(default).build()

  def load(procName: String, resolve: String => String,
           resolveNew: String => String = n =>
             sys.error(s"procedure cannot create table $n here")): UnboundProcedure =
    procName.toLowerCase match {
      case "clone" => unbound("clone",
        Array(param("src", StringType), param("dst", StringType)),
        (in, spark) => {
          val s = resolve(in.getUTF8String(0).toString)
          val d = resolveNew(in.getUTF8String(1).toString)
          val v = graft.core.SnapshotLog.cloneTable(s, d)
          val files = graft.core.SnapshotLog.resolve(d, v).entries.size.toLong
          one(new ResultScan(
            StructType(Seq(StructField("cloned_version", LongType, nullable = false),
              StructField("referenced_files", LongType, nullable = false))),
            Seq(Seq(v, files)), "clone"))
        })
      case "optimize" => unbound("optimize",
        Array(param("tbl", StringType),
          paramD("target_files", IntegerType, "1"),
          paramD("cluster_by", StringType, "NULL"),
          paramD("where", StringType, "NULL")),
        (in, spark) => {
          val t = resolve(in.getUTF8String(0).toString)
          val cluster =
            if (in.isNullAt(2)) Seq.empty[String]
            else in.getUTF8String(2).toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          // `where` scopes the compaction to ONE hive partition value
          // ('col=value'; 'col=' = the null partition) — Delta's
          // OPTIMIZE WHERE: per-partition maintenance, never the table
          val v =
            if (in.isNullAt(3))
              graft.core.SnapshotLog.compact(spark, t,
                targetFiles = in.getInt(1), clusterBy = cluster)
            else {
              val w = in.getUTF8String(3).toString
              val eq = w.indexOf('=')
              require(eq > 0, s"optimize where expects 'col=value', got '$w'")
              val raw = w.substring(eq + 1)
              graft.core.SnapshotLog.compactWhere(spark, t,
                w.substring(0, eq).trim,
                if (raw.isEmpty) None else Some(raw),
                targetFiles = in.getInt(1), clusterBy = cluster)
            }
          one(new ResultScan(
            StructType(Seq(StructField("compacted_version", LongType, nullable = false))),
            Seq(Seq(v)), "optimize"))
        })
      case "detail" => unbound("detail",
        Array(param("tbl", StringType)),
        (in, spark) => {
          val t = resolve(in.getUTF8String(0).toString)
          val head = graft.core.SnapshotLog.latestVersion(t)
            .getOrElse(sys.error(s"no committed version in $t"))
          val st = graft.core.SnapshotLog.resolve(t, head)
          val live = st.entries
          one(new ResultScan(
            StructType(Seq(
              StructField("version", LongType, nullable = false),
              StructField("num_files", LongType, nullable = false),
              StructField("live_rows", LongType, nullable = false),
              StructField("size_bytes", LongType, nullable = false),
              StructField("dv_files", LongType, nullable = false),
              StructField("indexed_files", LongType, nullable = false),
              StructField("cloned_files", LongType, nullable = false),
              StructField("properties", StringType, nullable = false))),
            Seq(Seq(head, live.size.toLong,
              live.map(e => e.rows - e.dvRows).sum,
              live.map(_.bytes).sum,
              live.count(_.dv.isDefined).toLong,
              live.count(_.idx.isDefined).toLong,
              live.count(_.base.isDefined).toLong,
              UTF8String.fromString(st.props.toSeq.sorted
                .map { case (k, v) => s"$k=$v" }.mkString(";")))),
            "detail"))
        })
      case "vacuum" => unbound("vacuum",
        Array(param("tbl", StringType),
          paramD("keep_last", IntegerType, "1"),
          paramD("dry_run", BooleanType, "false")),
        (in, spark) => {
          val t = resolve(in.getUTF8String(0).toString)
          val head = graft.core.SnapshotLog.latestVersion(t)
            .getOrElse(sys.error(s"no committed version in $t"))
          val keepFrom = math.max(1L, head - in.getInt(1) + 1L)
          val dry = !in.isNullAt(2) && in.getBoolean(2)
          val removed = graft.core.SnapshotLog.vacuum(t, keepFrom, dryRun = dry)
          one(new ResultScan(
            StructType(Seq(StructField("keep_from", LongType, nullable = false),
              StructField("removed_files", LongType, nullable = false),
              StructField("dry_run", BooleanType, nullable = false))),
            Seq(Seq(keepFrom, removed.size.toLong, dry)), "vacuum"))
        })
      case "history" => unbound("history",
        Array(param("tbl", StringType)),
        (in, spark) => {
          val t = resolve(in.getUTF8String(0).toString)
          val rows = graft.core.SnapshotLog.history(spark, t).collect().toSeq
            .map(r => Seq[Any](r.getLong(0), UTF8String.fromString(r.getString(1)),
              r.getLong(2), r.getLong(3),
              r.getTimestamp(4).getTime * 1000L)) // TimestampType = micros
          one(new ResultScan(
            StructType(Seq(StructField("version", LongType, nullable = false),
              StructField("kind", StringType, nullable = false),
              StructField("row_count", LongType, nullable = false),
              StructField("n_files", LongType, nullable = false),
              StructField("commit_ts", TimestampType, nullable = false))),
            rows, "history"))
        })
      case "restore" => unbound("restore",
        Array(param("tbl", StringType), param("version", LongType)),
        (in, spark) => {
          val t = resolve(in.getUTF8String(0).toString)
          val v = graft.core.SnapshotLog.restore(spark, t, in.getLong(1))
          one(new ResultScan(
            StructType(Seq(StructField("restored_as_version", LongType, nullable = false))),
            Seq(Seq(v)), "restore"))
        })
      case other => sys.error(
        s"unknown graft procedure $other (have: ${names.mkString(", ")})")
    }

  private def unbound(procName: String, params: Array[ProcedureParameter],
                      body: (InternalRow, org.apache.spark.sql.SparkSession)
                        => java.util.Iterator[Scan]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft-log $procName"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = s"graft-log $procName"
          override def parameters(): Array[ProcedureParameter] = params
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow): java.util.Iterator[Scan] =
            body(input, org.apache.spark.sql.SparkSession.active)
        }
    }
}

/** Declared query: the NAMED-catalog SQL lifecycle end-to-end —
  * namespace + partitioned CTAS + INSERT INTO + named SELECT with
  * partition pruning, all through `spark.sql` against the `graft`
  * catalog plugin (no paths, no DataFrame API). */
object LogCatalogQueries {
  import org.apache.spark.sql.DataFrame

  def catalogSql(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.core.TempDirs.stable(s"logcat_root:$dir")
    graft.core.TempDirs.deleteRecursively(new java.io.File(root))
    Files.createDirectories(Paths.get(root))
    spark.conf.set("spark.sql.catalog.graft", classOf[LogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    // catalog instances cache their root at first use — reset so the
    // fresh directory (not a prior run's) backs this query
    org.apache.spark.sql.graft.Bridge.resetCatalogs(spark)
    graft.core.Tables.documents(spark, dir)
      .select("doc_id", "lang", "source", "n_chars")
      .createOrReplaceTempView("docs_src")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.corpus")
    spark.sql("DROP TABLE IF EXISTS graft.corpus.docs")
    spark.sql(
      """CREATE TABLE graft.corpus.docs PARTITIONED BY (lang)
        |AS SELECT doc_id, source, n_chars, lang FROM docs_src
        |   WHERE lang <> 'en'""".stripMargin)
    spark.sql(
      """INSERT INTO graft.corpus.docs
        |SELECT doc_id, source, n_chars, lang FROM docs_src
        |WHERE lang = 'en'""".stripMargin)
    spark.sql(
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM graft.corpus.docs WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin)
  }
}
