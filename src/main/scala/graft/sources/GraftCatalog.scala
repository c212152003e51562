package graft.sources

import java.util

import graft.operators.TxnTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 catalog over [[TxnTable]] — the piece that makes the
  * snapshot log SQL-ADDRESSABLE. Register it and every table-format
  * operation is plain SQL text:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  *   CREATE TABLE graft.ns.t (k BIGINT, v STRING)
  *     TBLPROPERTIES ('index' = 'k')            -- manifest key stats
  *   INSERT INTO graft.ns.t SELECT ...          -- append commit
  *   INSERT OVERWRITE graft.ns.t SELECT ...     -- overwrite commit
  *   SELECT * FROM graft.ns.t                   -- latest snapshot
  *   SELECT * FROM graft.ns.t VERSION AS OF 2   -- pinned snapshot
  *   SELECT * FROM graft.ns.t TIMESTAMP AS OF … -- newest commit ≤ ts
  *   DELETE FROM graft.ns.t WHERE <predicate>   -- file-pruned
  *   CREATE TABLE graft.ns.t2 TBLPROPERTIES ('index'='k') AS SELECT …
  *   TRUNCATE TABLE graft.ns.t                  -- empty overwrite commit
  *   SELECT * FROM graft.ns.t.history           -- audit trail
  *   SELECT * FROM graft.ns.t.changes           -- committed CDC feed
  *   CALL graft.system.compact('ns.t')          -- maintenance
  *   spark.readStream.table("graft.ns.t")       -- commit-log tail
  *   df.writeStream.toTable("graft.ns.t")       -- exactly-once epochs
  * }}}
  *
  * A table is a directory `<warehouse>/<ns…>/<name>` whose `_log/` holds
  * the manifest chain; existence checks, listing, create, drop and
  * rename are all O(metadata) filesystem operations — the catalog holds
  * NO state of its own, exactly like a path-based Delta/Iceberg catalog.
  * Reads plan through Spark's own parquet DSv2 scan over an explicit
  * [[InMemoryFileIndex]] of the manifest-resolved live files, so filter
  * pushdown, column pruning and vectorized reading all apply unchanged;
  * the manifest replaces the directory listing, never the scan.
  *
  * DELETE of any row predicate compiles ([[GraftDmlRule]]) to
  * [[TxnTable.delete]]: the read path's file-skipping rule keeps the
  * files the stats clear verbatim, drops the files the stats prove
  * wholly matching as metadata, and rewrites the rest with the
  * predicate as residual filter; `DELETE FROM t` with no WHERE is the
  * predicate `true`. A subquery condition is refused.
  *
  * Honest bound: a snapshot with PENDING merge-on-read tombstones
  * refuses the DSv2 scan (apply them via `TxnTable.compact` or read
  * through `TxnTable.snapshot`, which anti-joins them) — a plain
  * parquet scan of the live files would resurrect tombstoned rows.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
      .getOrElse(GraftCatalog.defaultWarehouse)
  }

  override def name(): String = catalogName

  /** Declares DEFAULT-column support so the parser/analyzer lets
    * `ADD COLUMN … DEFAULT <literal>` through to [[alterTable]] —
    * stored as the table format's INITIAL DEFAULT
    * ([[TxnTable.addColumnsDefault]]). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def spark: SparkSession = SparkSession.active

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tablePath(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def isTable(path: String): Boolean = {
    val log = new Path(path, "_log")
    fs(log).exists(log)
  }

  /** `ns.t.branch_<name>` resolved to its parent's live branch, if the
    * ident names one (and no literal table shadows it). */
  private def branchOf(ident: Identifier): Option[String] =
    if (isTable(tablePath(ident)) || ident.namespace().isEmpty ||
        !ident.name().startsWith("branch_")) None
    else {
      val parent = tablePath(Identifier.of(
        ident.namespace().dropRight(1), ident.namespace().last))
      val bname = ident.name().stripPrefix("branch_")
      if (isTable(parent) &&
          TxnTable.branches(spark, parent).exists(_._1 == bname))
        Some(TxnTable.branchDir(spark, parent, bname))
      else None
    }

  /** Branch idents EXIST as tables: without this, a `writeStream
    * .toTable("cat.ns.t.branch_dev")` (or any CTAS-ish path that
    * checks existence first) would silently CREATE a literal table at
    * `ns/t/branch_dev` shadowing the branch. */
  override def tableExists(ident: Identifier): Boolean =
    isTable(tablePath(ident)) || branchOf(ident).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(dir)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => isTable((warehouse +: namespace.toSeq :+ n).mkString("/")))
      .map(Identifier.of(namespace, _))
  }

  override def loadTable(ident: Identifier): Table = {
    // METADATA TABLES (the Delta/Iceberg `t.history` shape): when
    // `graft.ns.t.history` / `.files` names no real table but its
    // PARENT is one, serve the driver-computed log view
    if (!isTable(tablePath(ident)) && ident.namespace().nonEmpty &&
        GraftCatalog.metaTables.contains(ident.name())) {
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      val parentPath = tablePath(parent)
      if (isTable(parentPath)) {
        val full = s"$catalogName.${ident.toString}"
        return ident.name() match {
          case "history" => GraftMaintenance.historyTable(full, parentPath)
          case "files"   => GraftMaintenance.filesTable(full, parentPath)
          case "detail"  => GraftMaintenance.detailTable(full, parentPath)
          case "tags"    => GraftMaintenance.tagsTable(full, parentPath)
          case "branches" => GraftMaintenance.branchesTable(full, parentPath)
          case "tombstones" =>
            GraftMaintenance.tombstonesTable(full, parentPath)
          case "matviews" =>
            GraftMaintenance.matviewsTable(full, parentPath)
          // data-sized, distributed — a real parquet-backed table over
          // the committed change feed, batch AND streaming
          case "changes" => new GraftChangesTable(full, parentPath)
        }
      }
    }
    // BRANCH TABLES (the Iceberg `t.branch_<name>` shape): a branch is
    // a full read/write table — INSERT/MERGE/SELECT against it advance
    // or read the BRANCH lineage, the parent's timeline never moves
    branchOf(ident).foreach { bd =>
      return new GraftTable(s"$catalogName.${ident.toString}", bd,
        TxnTable.currentVersion(spark, bd))
    }
    loadAt(ident, -1L)
  }

  // ---- ProcedureCatalog: CALL graft.system.<proc>(...) ----

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"$catalogName procedures live in the 'system' namespace, got " +
        ident.toString)
    GraftMaintenance.load(this, warehouse, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftMaintenance.procedures
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  /** `VERSION AS OF <v | 'tag'>` — pin the snapshot at an explicit
    * version number, or resolve a NAMED TAG ([[TxnTable.tag]] — the
    * durable, vacuum-shielded pin). A negative, not-yet-committed, or
    * unknown reference fails loudly (a silent fall-back to "latest"
    * would be a wrong answer wearing a valid syntax). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    if (!isTable(path)) throw new NoSuchTableException(ident)
    // `VERSION AS OF '<branch>'` reads the branch HEAD — branches are
    // refs like tags, but they resolve to their own lineage's current
    // version rather than a pinned parent version
    if (version.toLongOption.isEmpty &&
        TxnTable.branches(spark, path).exists(_._1 == version)) {
      val bd = TxnTable.branchDir(spark, path, version)
      return new GraftTable(s"$catalogName.${ident.toString}", bd,
        TxnTable.currentVersion(spark, bd))
    }
    val v = TxnTable.resolveVersion(spark, path, version)
    require(v >= 0,
      s"$catalogName version must be >= 0, got $v")
    val cur = TxnTable.currentVersion(spark, path)
    require(v <= cur,
      s"$catalogName.${ident.toString}: version $v not committed yet " +
        s"(current is $cur)")
    loadAt(ident, v)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands the target as MICROSECONDS
    * since epoch; resolve to the newest commit at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val path = tablePath(ident)
    if (!isTable(path)) throw new NoSuchTableException(ident)
    loadAt(ident, TxnTable.versionAt(spark, path, timestamp / 1000L))
  }

  private def loadAt(ident: Identifier, version: Long): Table = {
    val path = tablePath(ident)
    if (!isTable(path)) throw new NoSuchTableException(ident)
    val v = if (version < 0) TxnTable.currentVersion(spark, path) else version
    new GraftTable(s"$catalogName.${ident.toString}", path, v)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      s"$catalogName tables cluster via manifest stats ('index' table " +
        "property), not hive partition transforms")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    guardBranchNs(ident)
    val path = tablePath(ident)
    val idx = Option(properties.get("index")).map(_.split(',').toSeq)
      .getOrElse(Nil)
    val strIdx = Option(properties.get("strindex")).map(_.split(',').toSeq)
      .getOrElse(Nil)
    // one zero-row staged file carries the schema: version 0 is an empty
    // but readable (and appendable) table; the index column set persists
    // in the manifest header from day one — as do any `check.<name>`
    // CHECK constraints declared at create time
    TxnTable.commit(spark, path, TxnTable.stageEmpty(spark, path, schema),
      expected = -1L, op = "create", schemaJson = schema.json,
      idxCols = idx, strIdxCols = strIdx,
      checks = GraftCatalog.checkProps(properties))
    loadTable(ident)
  }

  /** `ALTER TABLE ADD / RENAME / DROP COLUMN` — each a METADATA-ONLY
    * commit, every data file carried verbatim:
    *
    *   - ADD COLUMN ([[TxnTable.addColumns]]): the widened schema lands
    *     in one manifest write; old files read the new columns as NULL.
    *     Only top-level trailing nullable columns (the only shape that
    *     IS pure metadata). A name matching a previously-dropped
    *     column's physical name mints a fresh physical — old values
    *     never resurrect.
    *   - RENAME COLUMN ([[TxnTable.renameColumn]]): column mapping —
    *     the field keeps its stable id and frozen PHYSICAL name, only
    *     the logical name changes; old files resolve under the new name
    *     because reads request physical names; pinned pre-rename
    *     versions keep the old name by construction.
    *   - DROP COLUMN ([[TxnTable.dropColumn]]): the field leaves the
    *     logical schema, its physical name retires in the log.
    *   - ALTER COLUMN TYPE ([[TxnTable.widenColumn]]): lossless
    *     WIDENING only (narrow integrals → wider, float → double) —
    *     old files read through the parquet reader's widening
    *     promotions; narrowing fails loudly.
    *
    * Every other TableChange fails loudly. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!isTable(path)) throw new NoSuchTableException(ident)
    def topLevel(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"$catalogName: nested $what ${fieldNames.mkString(".")} " +
          "not supported")
      fieldNames.head
    }
    def defaultSqlOf(
        dv: org.apache.spark.sql.connector.catalog.ColumnDefaultValue)
        : String =
      Option(dv.getSql).getOrElse {
        val l = dv.getValue
        org.apache.spark.sql.catalyst.expressions
          .Literal(l.value, l.dataType).sql
      }
    // VALIDATE every change's static shape BEFORE applying any — a
    // multi-change statement whose later change is malformed must not
    // leave the table half-altered. (Data-dependent failures — an
    // unsatisfiable new constraint — still abort at their own change;
    // each change is one commit, and ADD COLUMNS batches into one.)
    changes.foreach {
      case a: TableChange.AddColumn =>
        val name = topLevel(a.fieldNames, "ADD COLUMN")
        require(a.position == null,
          s"$catalogName: ADD COLUMN supports appending at the end only " +
            "(FIRST/AFTER would re-order files' columns)")
        // NOT NULL is fine WITH a DEFAULT: existing rows read the
        // default, so no NULL can surface (the format still commits the
        // field nullable — addColumnsWith — matching Iceberg's
        // initial-default contract of never trusting old files)
        require(a.isNullable || a.defaultValue() != null,
          s"$catalogName: added column '$name' must be nullable or " +
            "carry a DEFAULT — existing rows would otherwise read NULL")
        // a malformed DEFAULT must fail HERE, before ANY change lands —
        // the whole statement's atomicity contract
        Option(a.defaultValue()).foreach(dv =>
          TxnTable.validateDefault(spark, name, a.dataType,
            defaultSqlOf(dv)))
      case r: TableChange.RenameColumn =>
        topLevel(r.fieldNames, "RENAME COLUMN")
      case u: TableChange.UpdateColumnType =>
        topLevel(u.fieldNames, "ALTER COLUMN TYPE")
      case d: TableChange.DeleteColumn =>
        topLevel(d.fieldNames, "DROP COLUMN")
      case sp: TableChange.SetProperty
          if sp.property.startsWith("check.") => ()
      case rp: TableChange.RemoveProperty
          if rp.property.startsWith("check.") => ()
      case other => throw new UnsupportedOperationException(
        s"$catalogName: unsupported ALTER TABLE change $other (ADD / " +
          "RENAME / DROP COLUMN, ALTER COLUMN TYPE widening, and " +
          "check.* TBLPROPERTIES evolve a table in the log)")
    }
    // ADD COLUMNS (plural) lands as ONE evolve commit, declaration
    // order preserved — plain adds read NULL from old files,
    // DEFAULT-carrying adds read the default (the format's INITIAL
    // DEFAULT); a mixed statement must neither half-apply nor reorder
    val adds = changes.collect { case a: TableChange.AddColumn =>
      (org.apache.spark.sql.types.StructField(
        a.fieldNames.head, a.dataType, nullable = true),
        Option(a.defaultValue()).map(defaultSqlOf))
    }
    // a NOT NULL + DEFAULT add keeps its full contract: existing rows
    // read the (validated non-null) default, and a write-side CHECK in
    // the SAME evolve commit rejects explicit NULL inserts — accepting
    // the DDL while silently dropping half of it would be worse than
    // the old refusal
    val nnChecks = changes.collect {
      case a: TableChange.AddColumn
          if !a.isNullable && a.defaultValue() != null =>
        (s"${a.fieldNames.head}_not_null",
          s"${a.fieldNames.head} IS NOT NULL")
    }
    if (adds.nonEmpty) TxnTable.addColumnsWith(spark, path, adds, nnChecks)
    changes.foreach {
      case _: TableChange.AddColumn => () // batched above
      case r: TableChange.RenameColumn =>
        TxnTable.renameColumn(spark, path, r.fieldNames.head, r.newName())
      case u: TableChange.UpdateColumnType =>
        TxnTable.widenColumn(spark, path, u.fieldNames.head,
          u.newDataType())
      case d: TableChange.DeleteColumn =>
        TxnTable.dropColumn(spark, path, d.fieldNames.head)
      // CHECK constraints arrive as table properties — the ADD
      // CONSTRAINT / DROP CONSTRAINT surface: `ALTER TABLE t SET
      // TBLPROPERTIES ('check.positive' = 'price >= 0')` validates the
      // EXISTING rows (one scan, loud) then commits the `#check=`
      // header; UNSET drops it
      case sp: TableChange.SetProperty =>
        TxnTable.addCheck(spark, path,
          sp.property.stripPrefix("check."), sp.value)
      case rp: TableChange.RemoveProperty =>
        TxnTable.dropCheck(spark, path, rp.property.stripPrefix("check."))
      case _ => ()
    }
    loadTable(ident)
  }

  // ---- StagingTableCatalog: ATOMIC CTAS / RTAS ----
  //
  // `CREATE TABLE … AS SELECT` / `[CREATE OR] REPLACE TABLE … AS
  // SELECT` stage their data files first and publish with ONE manifest
  // commit at the end — readers never see a half-written table (plain
  // TableCatalog CTAS creates an EMPTY visible table, then appends: a
  // concurrent reader observes the intermediate state, and a failed
  // write leaves the empty husk behind). A failed staged write aborts
  // by deleting its files; for CREATE the table never becomes visible
  // at all (visibility IS the `_log/` directory, written only by the
  // final commit), and for REPLACE the previous version keeps serving.

  /** Refuse creating/renaming a LITERAL table into the reserved
    * `branch_*` namespace of a live table — it would shadow every
    * branch reference from then on (branchOf checks isTable first). */
  private def guardBranchNs(ident: Identifier): Unit =
    require(!(ident.name().startsWith("branch_") &&
        ident.namespace().nonEmpty &&
        isTable(tablePath(Identifier.of(ident.namespace().dropRight(1),
          ident.namespace().last)))),
      s"$catalogName.${ident.toString}: 'branch_*' names under a table " +
        "are branch references — CALL graft.system.branch(...) creates " +
        "branches")

  private def stagedFor(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean, mustExist: Boolean): StagedTable = {
    require(partitions.isEmpty,
      s"$catalogName tables cluster via manifest stats ('index' table " +
        "property), not hive partition transforms")
    guardBranchNs(ident)
    val path = tablePath(ident)
    if (!replace && isTable(path)) throw new TableAlreadyExistsException(ident)
    if (mustExist && !isTable(path)) throw new NoSuchTableException(ident)
    val idx = Option(properties.get("index")).map(_.split(',').toSeq)
      .getOrElse(Nil)
    val strIdx = Option(properties.get("strindex")).map(_.split(',').toSeq)
      .getOrElse(Nil)
    new StagedGraftTable(s"$catalogName.${ident.toString}", path, schema,
      idx, strIdx, GraftCatalog.checkProps(properties), replace, mustExist)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stagedFor(ident, schema, partitions, properties,
      replace = false, mustExist = false)

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stagedFor(ident, schema, partitions, properties,
      replace = true, mustExist = true)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stagedFor(ident, schema, partitions, properties,
      replace = true, mustExist = false)

  override def dropTable(ident: Identifier): Boolean = {
    val path = new Path(tablePath(ident))
    if (isTable(tablePath(ident))) fs(path).delete(path, true)
    else branchOf(ident) match {
      // DROP TABLE t.branch_x == drop_branch: tableExists answers true
      // for branches, and Spark's DropTableExec DISCARDS this boolean —
      // without the routing the statement would silently no-op while
      // the branch stayed live (still shielding parent files)
      case Some(_) =>
        val parent = tablePath(Identifier.of(
          ident.namespace().dropRight(1), ident.namespace().last))
        TxnTable.deleteBranch(spark, parent,
          ident.name().stripPrefix("branch_"))
      case None => false
    }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    guardBranchNs(to)
    require(branchOf(from).isEmpty,
      s"$catalogName.${from.toString}: a branch cannot be renamed — " +
        "drop and re-branch, or fastForward first")
    val f = fs(new Path(warehouse))
    require(f.rename(new Path(tablePath(from)), new Path(tablePath(to))),
      s"rename ${from.toString} -> ${to.toString} failed")
  }

  // ---- SupportsNamespaces: a namespace is a directory level ----

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => isTable(s"$warehouse/$n")).map(Array(_))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    loadNamespaceMetadata(namespace) // throws if missing
    Array.empty
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    if (namespace.nonEmpty && !fs(dir).exists(dir))
      throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    fs(dir).mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val f = fs(dir)
    if (!f.exists(dir)) return false
    if (!cascade && f.listStatus(dir).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    f.delete(dir, true)
  }
}

object GraftCatalog {
  /** Stable per-process warehouse default: catalog instances are cached
    * per session after first use, so the location must not vary between
    * the queries of one run. */
  def defaultWarehouse: String = graft.Fs.scratch("graft_catalog", "warehouse")

  /** Register the catalog on a session (idempotent — the conf keys are
    * only read at first catalog use). */
  def register(s: SparkSession, name: String = "graft"): Unit = {
    s.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.warehouse", defaultWarehouse)
  }

  /** The reserved metadata-table suffixes (`graft.ns.t.history`…). */
  private[sources] val metaTables =
    Set("history", "files", "changes", "detail", "tags", "branches",
      "tombstones", "matviews")

  /** The `check.<name>` CHECK-constraint entries of a property map. */
  private[sources] def checkProps(
      properties: util.Map[String, String]): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.toSeq.collect {
      case (k, v) if k.startsWith("check.") => (k.stripPrefix("check."), v)
    }.sortBy(_._1)
  }

  /** Manifest-prune accounting for DSv2 scans, cumulative since process
    * start (instrumentation, the [[TxnTable.logReads]] pattern): how
    * many live files each pruned catalog scan kept vs had. Scenario
    * assertions take deltas around one planned query. */
  val scanKept = new java.util.concurrent.atomic.AtomicLong
  val scanTotal = new java.util.concurrent.atomic.AtomicLong

  /** Aggregations answered ENTIRELY from manifest metadata (no file
    * listed, opened or scanned), cumulative since process start. */
  val aggAnswered = new java.util.concurrent.atomic.AtomicLong

  /** File-index CONSTRUCTIONS by DSv2 catalog scans (the lazily-built
    * InMemoryFileIndex inside the pruning builder), cumulative since
    * process start — the direct witness that a metadata-answered
    * aggregate never built one, filtered or not. */
  val indexBuilds = new java.util.concurrent.atomic.AtomicLong

  /** RUNTIME (dynamic-pruning) re-plans: files kept vs live when a
    * join's build-side key set re-pruned a catalog scan at execution
    * time ([[GraftStreaming.RuntimeFilterableScan]]), cumulative since
    * process start. Zero delta around a join = DPP never fired. */
  val runtimeKept = new java.util.concurrent.atomic.AtomicLong
  val runtimeTotal = new java.util.concurrent.atomic.AtomicLong

}

/** One resolved snapshot of a TxnTable, pinned at `version`: reads plan
  * Spark's parquet DSv2 scan over the manifest-resolved file list;
  * writes commit through the log (append / overwrite); `DELETE FROM` is
  * compiled by [[GraftDmlRule]] to the file-pruned [[TxnTable.delete]]. */
class GraftTable(ident: String, private[sources] val location: String,
    version: Long)
    extends Table with SupportsRead with SupportsWrite with TruncatableTable
    with SupportsMetadataColumns {

  /** `_metadata.{file_path, row_index}` — per-row provenance in the
    * table's CANONICAL coordinate space: the exact (file, position)
    * pairs `~pos` deletion vectors record, which is what makes a DV
    * debuggable from SQL (`SELECT _metadata.file_path, _metadata
    * .row_index FROM t` joins directly against a vector's rows). The
    * analyzer resolves `_metadata` from this declaration; the READ is
    * served by the library's coordinate-exposing snapshot plan
    * ([[GraftMorReadRule]] — tombstones, column mapping and defaults
    * all apply, so the coordinates are the SURVIVING rows'). */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = "_metadata"
      override def dataType: org.apache.spark.sql.types.DataType =
        GraftTable.MetadataStruct
      override def isNullable: Boolean = false
      override def comment: String = "canonical (file_path, row_index) " +
        "row coordinates — the space positional deletion vectors speak"
    })

  private def spark: SparkSession = SparkSession.active
  private lazy val m = TxnTable.manifest(spark, location, version)

  /** The pinned snapshot version this relation resolves (for the
    * merge-on-read READ swap — [[GraftMorReadRule]]). */
  private[sources] def pinnedVersion: Long = version

  /** Whether this snapshot carries pending merge-on-read tombstones —
    * a plain live-file scan would resurrect deleted rows, so SQL reads
    * must go through the snapshot anti-join plan instead. */
  private[sources] def hasTombstones: Boolean = m.deletes.nonEmpty

  /** Whether this snapshot's schema carries COLUMN MAPPING (a column
    * was renamed or re-added after a drop): data files speak physical
    * names, so SQL reads must go through the snapshot plan — a direct
    * parquet scan requesting logical names would resolve every mapped
    * column as NULL. */
  private[sources] def hasColumnMapping: Boolean =
    TxnTable.hasMappedSchema(m.schema)

  /** Whether this snapshot still has LIVE FILES predating an
    * INITIAL-DEFAULT column: such files must read the default, not
    * NULL, so SQL reads go through the snapshot plan (readEntries fills
    * it per row from the row's entry seq) — a direct parquet
    * scan would silently answer NULL. After a compact materializes
    * every default this answers false and the direct-scan fast path
    * returns (the write-side CURRENT_DEFAULT metadata stays). */
  private[sources] lazy val hasDefaults: Boolean =
    TxnTable.pendingDefaults(m) // lazy: m is immutable per snapshot,
    // and resolution rules revisit the relation to fixpoint

  override def name(): String = ident

  /** Surfaced to `DESCRIBE TABLE EXTENDED` / `SHOW TBLPROPERTIES`: the
    * table's clustering declaration and pinned version, read from the
    * manifest header — the catalog itself stores nothing. */
  override def properties(): util.Map[String, String] = {
    val p = new util.HashMap[String, String]()
    if (m.idxCols.nonEmpty) p.put("index", m.idxCols.mkString(","))
    if (m.strIdxCols.nonEmpty) p.put("strindex", m.strIdxCols.mkString(","))
    m.checks.foreach { case (n, e) => p.put(s"check.$n", e) }
    p.put("version", version.toString)
    p.put("location", location)
    p
  }

  /** `TRUNCATE TABLE` — one empty overwrite commit; the truncated
    * version stays pinned-readable until vacuum, like every other
    * copy-on-write operation. */
  override def truncateTable(): Boolean = {
    val s = spark
    TxnTable.overwrite(s, location, TxnTable.snapshot(s, location).limit(0))
    true
  }

  override def schema(): StructType =
    // defaulted fields surface Spark's CURRENT_DEFAULT/EXISTS_DEFAULT
    // metadata so the analyzer fills them in column-list INSERTs
    TxnTable.decorateDefaults(m.schema.getOrElse {
      // pre-#schema manifests: one footer read of the first live file
      org.apache.spark.sql.graftbridge.Bridge.parquetSchema(spark,
        new Path(TxnTable.pathFor(location, m.entries.head.path)))
    })

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    def pathOf(e: TxnTable.Entry) =
      new Path(TxnTable.pathFor(location, e.path))
    val s = spark
    // pushed filters shrink the MANIFEST entry list before the file
    // index is built (ManifestPrune.keep, the rule every manifest-backed
    // scan prunes with): no listing, no footer open, no scan for files
    // the stats or a bloom sidecar prove empty. Conservative entries (no
    // stats on a predicate column) always survive; the parquet scan
    // re-applies the full predicate inside surviving files.
    // the PRUNED entry set also feeds the scan's reported statistics:
    // the planner's broadcast/CBO decisions read exact post-prune
    // bytes, row counts, and per-column NDV/null sketches straight
    // from the manifest — no ANALYZE, no footer reads
    val keptEntries = new java.util.concurrent.atomic.AtomicReference[
      Seq[TxnTable.Entry]](m.entries)
    new org.apache.spark.sql.graftbridge.PruningScanBuilder(
      s, schema(), options, m.entries.map(pathOf),
      (filters, isRuntime) => {
        val kept = ManifestPrune.keep(m.entries, filters, m.blooms,
          TxnTable.bloomProbe(s, location, _, _),
          m.idxCols.nonEmpty || m.strIdxCols.nonEmpty)
        keptEntries.set(kept)
        // a runtime (DPP) re-plan books under its own counters — the
        // static-prune deltas scenarios assert on must not inflate
        if (!isRuntime) {
          GraftCatalog.scanKept.addAndGet(kept.size.toLong)
          GraftCatalog.scanTotal.addAndGet(m.entries.size.toLong)
        }
        kept.map(pathOf)
      },
      // whole-aggregation answering from the manifest: COUNT/MIN/MAX
      // with no filter collapse to one driver-side row — zero files
      // listed or opened (see GraftTable.manifestAggregate for the
      // exactness rules and every refusal)
      (agg, pushedFilters) => {
        val ans = GraftTable.manifestAggregate(m, agg, pushedFilters,
          schema(), hasColumnMapping, hasTombstones)
        if (ans.isDefined) GraftCatalog.aggAnswered.incrementAndGet()
        ans
      },
      () => GraftCatalog.indexBuilds.incrementAndGet()) {
      // micro-batch capability rides ON the batch scan: batch reads
      // delegate untouched, readStream.table tails the commit log at
      // the scan's (column-pruned) read schema
      override def build(): org.apache.spark.sql.connector.read.Scan =
        super.build() match {
          // manifest-answered aggregate: a driver-side result row. It
          // must surface UNWRAPPED — the strategy pattern-matches the
          // scan's identity to plan a LocalTableScan — and it is never
          // a streaming read (aggregate pushdown is batch-only), so the
          // streaming wrap below does not apply. Mapped/tombstoned
          // tables never produce one (manifestAggregate refuses), so
          // the refusal wrapper isn't being bypassed either.
          case l: org.apache.spark.sql.connector.read.LocalScan => l
          case base => buildWrapped(base)
        }

      private def buildWrapped(
          base: org.apache.spark.sql.connector.read.Scan)
          : org.apache.spark.sql.connector.read.Scan = {
        val maxVersions = Option(options.get("maxVersionsPerTrigger"))
          .map(_.toLong)
        val startingVersion = Option(options.get("startingVersion"))
        val startingTs = Option(options.get("startingTimestamp"))
        val skipChange = Option(options.get("skipChangeCommits"))
          .exists(_.toBoolean)
        // runtime-filterable columns: everything the manifest can prune
        // a per-value IN-set on — plain integral index columns, the
        // BASE column of a bucketN transform (ManifestPrune maps each
        // value through bucketOf), and string index columns. days(ts)
        // transforms are excluded: a runtime key set on a raw timestamp
        // join is not a shape the day stats answer
        val rtAttrs: Array[
            org.apache.spark.sql.connector.expressions.NamedReference] =
          (m.idxCols.flatMap {
            case TxnTable.BucketSpec(_, c) => Some(c)
            case spec if spec.contains("(") => None
            case plain => Some(plain)
          } ++ m.strIdxCols).distinct.map(
            org.apache.spark.sql.connector.expressions.Expressions.column(_)
          ).toArray
        val scan = new GraftStreaming.RuntimeFilterableScan(base,
          readSchema => new GraftMicroBatchStream(ident, location,
            readSchema, maxVersions, startingVersion, skipChange,
            startingTs),
          () => GraftTable.manifestStatistics(m, keptEntries.get()),
          rtAttrs,
          extra => {
            val rebuilt = rebuiltWith(extra)
            GraftCatalog.runtimeKept.addAndGet(keptEntries.get().size.toLong)
            GraftCatalog.runtimeTotal.addAndGet(m.entries.size.toLong)
            rebuilt
          })
        // mapped AND tombstoned tables read through the snapshot plan
        // the analyzer swaps in (GraftMorReadRule) — so EXECUTING a
        // direct BATCH scan means some path bypassed analysis, where
        // logical names would read NULLs (mapping) or deleted rows
        // would resurrect (tombstones). The refusal lives at toBatch,
        // not at scan build: DELETE planning builds (but never
        // executes) a scan during its pushdown bookkeeping, and the
        // file-pruned delete itself maps names internally. The
        // MICRO-BATCH stream stays available on BOTH: it maps its read
        // schema to physical names itself
        // (GraftMicroBatchStream.physReadSchema), and its per-version
        // walk refuses any commit that CHANGES tombstones — a tail
        // started past pending tombstones only ever emits files newer
        // than them (sequenced rule: the tombstones don't apply).
        if (!hasColumnMapping && !hasTombstones && !hasDefaults) scan
        else new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = scan.readSchema()
          override def description(): String = scan.description()
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            throw new IllegalArgumentException(
              if (hasColumnMapping)
                s"$ident: table has column mapping (renamed/re-added " +
                  "columns); read through SQL (the analyzer serves the " +
                  "mapped snapshot plan) or TxnTable.snapshot — a " +
                  "direct file scan would resolve mapped columns as NULL"
              else if (hasTombstones)
                s"$ident version $version has pending merge-on-read " +
                  "tombstones; read through SQL (the analyzer serves " +
                  "the anti-join snapshot plan) or TxnTable.snapshot, " +
                  "or compact() — a plain file scan would resurrect " +
                  "deleted rows"
              else
                s"$ident: table has columns with INITIAL DEFAULTS; " +
                  "read through SQL (the analyzer serves the " +
                  "default-filling snapshot plan) or TxnTable.snapshot, " +
                  "or compact() — a plain file scan would read NULL " +
                  "where pre-add rows must read the default")
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming
                .MicroBatchStream = scan.toMicroBatchStream(
            checkpointLocation)
        }
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean)
                : Unit = {
              val s = data.sparkSession
              if (overwriteAll) TxnTable.overwrite(s, location, data)
              // appendResolving: concurrent INSERT INTO rebases through
              // file-level OCC instead of surfacing a commit conflict
              else TxnTable.appendResolving(s, location, data)
            }
          }
        // writeStream.toTable: each epoch commits once through the
        // OCC-resolving append; Complete mode (truncate) overwrites
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          // CHECK constraints are enforced PER EPOCH by the sink: one
          // change-set-sized read of the epoch's staged files before
          // the manifest CAS, violating epochs drop their stage and
          // nothing lands (see GraftStreamingWrite.validateChecks)
          val have = schema().map(f => (f.name, f.dataType)).toSeq
          val got = info.schema().map(f => (f.name, f.dataType)).toSeq
          require(got == have,
            s"$ident: streamed schema $got does not match table schema " +
              s"$have")
          // the sink writes files under the table's PHYSICAL names
          // (identity on unmapped tables): epoch rows travel
          // positionally, so only the written column names change
          new GraftStreamingWrite(ident, location,
            TxnTable.toPhysicalSchema(Some(schema()), info.schema()),
            info.queryId(), overwriteAll)
        }
      }
    }
}

object GraftTable {
  /** The `_metadata` struct type: canonical absolute file path + row
    * ordinal (what `__gcanon`/`__gpos` carry on the library read). */
  private[sources] val MetadataStruct: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("row_index", LongType)))

  import org.apache.spark.sql.connector.read.{Statistics => V2Stats}
  import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}

  /** DSv2 [[V2Stats]] for a PRUNED entry set, from manifest metadata
    * alone: exact byte size (what bounds a broadcast hash table — the
    * op_ndv_broadcast wide-row lesson), exact row count, and per-column
    * NDV + null counts from the per-file HLL/stat sketches, reported
    * under LOGICAL names. None when the table predates the size
    * recording (callers fall back to the parquet scan's listing-based
    * estimate). min/max are deliberately NOT reported: manifest bounds
    * are stored as longs regardless of column type, and a mistyped
    * bound would silently skew CBO estimates — the planner handles
    * absent bounds, not wrong ones. */
  private[sources] def manifestStatistics(m: TxnTable.Manifest,
      kept: Seq[TxnTable.Entry]): Option[V2Stats] = {
    // UNINDEXED tables record no stat groups at all — their path-only
    // entries are indistinguishable from zero-row sentinels, so the
    // "group-less = 0 bytes/rows" reading would report a 100 GB table
    // as empty and broadcast it. Same guard as tableBytes/tableRows:
    // no index headers → no manifest stats → listing-based fallback.
    if (m.idxCols.isEmpty && m.strIdxCols.isEmpty) return None
    val (bytes, rows) = TxnTable.entriesBytesRows(kept)
    if (bytes.isEmpty) return None
    val physToLog: Map[String, String] = m.schema
      .fold(Map.empty[String, String])(_.fields.iterator
        .map(f => TxnTable.physName(f) -> f.name).toMap)
    val colStats = new java.util.HashMap[NamedReference, ColumnStatistics]()
    // transform specs (days(ts)/bucketN(k)) measure a DERIVED value:
    // their NDV/null sketches describe no schema column, so reporting
    // them would attribute stats to a phantom name the planner can
    // never resolve — they serve pruning only, never CBO
    val plain = (m.idxCols ++ m.strIdxCols).distinct.filter {
      case TxnTable.DaysSpec(_) | TxnTable.BucketSpec(_, _) => false
      case _ => true
    }
    plain.foreach { phys =>
      val ndv = TxnTable.entriesNdv(kept, phys)
      val nulls = TxnTable.entriesNulls(kept, phys)
      if (ndv.isDefined || nulls.isDefined)
        colStats.put(Expressions.column(physToLog.getOrElse(phys, phys)),
          new ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              ndv.fold(java.util.OptionalLong.empty())(
                java.util.OptionalLong.of)
            override def nullCount(): java.util.OptionalLong =
              nulls.fold(java.util.OptionalLong.empty())(
                java.util.OptionalLong.of)
          })
    }
    Some(new V2Stats {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes.get)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats()
          : java.util.Map[NamedReference, ColumnStatistics] = colStats
    })
  }

  /** Answer a pushed-down [[Aggregation]] ENTIRELY from manifest
    * metadata — the 100 TB "metadata-only query": whole-table
    * COUNT(*) / COUNT(col) / MIN / MAX collapse to one driver-side row
    * computed from the per-file stat groups; not one data file is
    * listed, opened or scanned, at ANY table size. Returns None (the
    * caller falls back to a real scan — always correct, merely slower)
    * whenever exactness is not PROVABLE from the manifest:
    *
    *   - any pushed data filter (per-file min/max cannot answer a
    *     filtered aggregate exactly) or any GROUP BY;
    *   - pending merge-on-read tombstones (visible rows ≠ file rows)
    *     or column mapping (stats speak physical names);
    *   - an unindexed table — there is no stats channel at all, and a
    *     group-less entry line would be unprovable;
    *   - a DISTINCT aggregate, or any function beyond count/min/max;
    *   - COUNT without per-file row counts (pre-v4 manifests) or null
    *     counts (v1 manifests record nulls as unknown) on every entry;
    *   - MIN/MAX on a non-LONG/INT column (string bounds are stored
    *     TRUNCATED — never exact; other types lose range in the
    *     long-typed stat encoding), or on a column some non-sentinel
    *     entry carries no stat group for (a file staged before that
    *     column was indexed).
    *
    * Group-less entries in an INDEXED table are zero-row sentinels —
    * the invariant [[TxnTable.recluster]]'s backfill guard protects —
    * so they contribute 0 rows and no bounds; all-null files record
    * the empty range (lo > hi) and contribute no bounds either (SQL
    * MIN/MAX ignore nulls). An aggregate over only such entries is
    * legitimately NULL. */
  private[sources] def manifestAggregate(
      m: TxnTable.Manifest,
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      schema: StructType,
      mapped: Boolean,
      tombstoned: Boolean): Option[(StructType,
        Array[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types.{IntegerType, StructField}
    // tables with PENDING defaults refuse too: manifest stats were
    // measured on the stored bytes, which read NULL where pre-add rows
    // must answer the default — COUNT(col)/MIN/MAX on such a column
    // would lie. Once a compact materializes every default (no live
    // entry predates one), the metadata-answered fast path returns
    if (mapped || tombstoned || TxnTable.pendingDefaults(m) ||
        dataFilters.nonEmpty ||
        agg.groupByExpressions.nonEmpty ||
        (m.idxCols.isEmpty && m.strIdxCols.isEmpty) || m.entries.isEmpty)
      return None
    val entries = m.entries
    def sentinel(e: TxnTable.Entry): Boolean =
      e.stats.isEmpty && e.strStats.isEmpty
    lazy val totalRows: Option[Long] = TxnTable.entriesBytesRows(entries)._2
    def fieldOf(
        expr: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = expr match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        schema.fields.find(_.name.equalsIgnoreCase(nr.fieldNames.head))
      case _ => None
    }
    // per column: Some(value or NULL) when every entry either carries a
    // bound for it, is a zero-row sentinel, or is provably all-null
    def bound(expr: org.apache.spark.sql.connector.expressions.Expression,
        wantMin: Boolean): Option[(StructField, Any)] =
      fieldOf(expr).flatMap { f =>
        if (f.dataType != LongType && f.dataType != IntegerType) None
        else {
          val per: Seq[Option[Option[Long]]] = entries.map { e =>
            if (sentinel(e)) Some(None)
            else e.statFor(f.name) match {
              case Some((lo, hi)) =>
                if (lo > hi) Some(None) // all-null file: no bounds
                else Some(Some(if (wantMin) lo else hi))
              case None => None // live file with no group for f: refuse
            }
          }
          if (per.exists(_.isEmpty)) None
          else {
            val vals = per.flatten.flatten
            val v: Any =
              if (vals.isEmpty) null
              else {
                val l = if (wantMin) vals.min else vals.max
                if (f.dataType == IntegerType) l.toInt else l
              }
            Some((f, v))
          }
        }
      }
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    agg.aggregateExpressions.foreach {
      case _: CountStar => totalRows match {
        case Some(n) =>
          fields += StructField("count(*)", LongType, nullable = false)
          values += n
        case None => return None
      }
      case c: Count if !c.isDistinct =>
        (for {
          f <- fieldOf(c.column)
          t <- totalRows
          nn <- TxnTable.entriesNulls(entries, f.name)
        } yield (f, t - nn)) match {
          case Some((f, v)) =>
            fields += StructField(s"count(${f.name})", LongType,
              nullable = false)
            values += v
          case None => return None
        }
      case mn: Min => bound(mn.column, wantMin = true) match {
        case Some((f, v)) =>
          fields += StructField(s"min(${f.name})", f.dataType)
          values += v
        case None => return None
      }
      case mx: Max => bound(mx.column, wantMin = false) match {
        case Some((f, v)) =>
          fields += StructField(s"max(${f.name})", f.dataType)
          values += v
        case None => return None
      }
      case _ => return None
    }
    Some((StructType(fields.toSeq), Array(
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(values.toSeq))))
  }
}

/** The in-flight side of an atomic CTAS / RTAS: `insert` STAGES data
  * files under the table path without touching the log, so nothing is
  * visible (a table IS its `_log/`); `commitStagedChanges` publishes
  * everything as one manifest commit — create, or a REPLACE overwrite
  * whose previous versions stay pinned-readable; `abortStagedChanges`
  * deletes the staged files and leaves the world exactly as it was. */
class StagedGraftTable(ident: String, location: String,
    writeSchema: StructType, idx: Seq[String], strIdx: Seq[String],
    checks: Seq[(String, String)],
    replace: Boolean, mustExist: Boolean)
    extends StagedTable with SupportsWrite {

  private def spark: SparkSession = SparkSession.active
  @volatile private var staged: Seq[String] = Nil

  override def name(): String = ident
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // CTAS/RTAS arrive as truncate+insert; staging makes that moot
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean)
                : Unit = {
              val s = data.sparkSession
              // declared CHECK constraints gate the CTAS data too —
              // a table can't be born violating its own invariants
              TxnTable.enforceChecksPublic(s, checks, data,
                s"$ident: CREATE TABLE AS SELECT")
              // stage ONLY — the log is untouched until commit
              staged =
                if (idx.nonEmpty || strIdx.nonEmpty)
                  TxnTable.stageIndexed(s, location, data, idx, strIdx)
                else TxnTable.stage(s, location, data)
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val s = spark
    // a zero-row CTAS still needs one schema-carrying sentinel file
    val lines =
      if (staged.nonEmpty) staged
      else TxnTable.stageEmpty(s, location, writeSchema)
    val log = new Path(location, "_log")
    val exists = log.getFileSystem(s.sparkContext.hadoopConfiguration)
      .exists(log)
    if (exists) {
      require(replace, s"$ident was created concurrently")
      val cur = TxnTable.currentVersion(s, location)
      TxnTable.commit(s, location, lines, cur, op = "replace",
        schemaJson = writeSchema.json, idxCols = idx, strIdxCols = strIdx,
        checks = checks)
    } else {
      // a plain REPLACE whose target vanished mid-write (concurrent
      // DROP) must FAIL, not quietly become a create — only CREATE [OR
      // REPLACE] may mint the table
      if (mustExist) {
        TxnTable.dropStaged(s, location, staged)
        throw new IllegalStateException(
          s"$ident was dropped while REPLACE TABLE was staging — " +
            "nothing committed (use CREATE OR REPLACE to re-create)")
      }
      TxnTable.commit(s, location, lines, expected = -1L, op = "create",
        schemaJson = writeSchema.json, idxCols = idx, strIdxCols = strIdx,
        checks = checks)
    }
  }

  override def abortStagedChanges(): Unit =
    TxnTable.dropStaged(spark, location, staged)
}
