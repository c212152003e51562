package graft.sources

import java.util

import graft.operators.TxnTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance surfaced as SQL — the two public shapes side by side:
  *
  *   - METADATA TABLES (the Delta `DESCRIBE HISTORY` / Iceberg
  *     `t.history` shape): `SELECT * FROM graft.ns.t.history` and
  *     `graft.ns.t.files` resolve to driver-computed [[LocalScan]]s
  *     over the log — the audit trail (via [[TxnTable.history]], one
  *     checkpoint read + tail when checkpointed) and the live-file
  *     manifest entries with their stat spans. O(metadata) at any
  *     table size; never touches data.
  *
  *   - PROCEDURES (the Iceberg `CALL cat.system.*` shape, Spark 4's
  *     ProcedureCatalog): `CALL graft.system.compact('ns.t')`,
  *     `vacuum('ns.t', retain)`, `checkpoint('ns.t')`,
  *     `restore('ns.t', version)`, `recluster('ns.t', 'c1,c2')` —
  *     each routes to the library operation and returns its result
  *     version as a one-row result set.
  */
private[sources] object GraftMaintenance {

  def historyTable(ident: String, location: String): Table =
    new GraftMetaTable(ident,
      StructType(Seq(StructField("version", LongType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("live_files", LongType, nullable = false))),
      s => TxnTable.history(s, location).map { case (v, op, n) =>
        new GenericInternalRow(
          Array[Any](v, UTF8String.fromString(op), n)): InternalRow
      }.toArray)

  /** `graft.ns.t.detail` — the DESCRIBE-DETAIL-equivalent one-row
    * operational summary (the Delta shape): format version, current
    * version + its op/timestamp, live file count, live bytes from the
    * manifest v5 per-file sizes (NULL when any pre-v5 entry predates
    * them), clustering declaration, pending tombstones, change-feed
    * files, newest checkpoint. Everything reads from the LOG — a
    * LocalScan, no jobs, O(metadata) at any table size. */
  def detailTable(ident: String, location: String): Table =
    new GraftMetaTable(ident,
      StructType(Seq(
        StructField("format", LongType, nullable = false),
        StructField("version", LongType, nullable = false),
        StructField("operation", StringType, nullable = false),
        StructField("committed_ts", LongType, nullable = false),
        StructField("num_files", LongType, nullable = false),
        StructField("total_bytes", LongType, nullable = true),
        StructField("index_cols", StringType, nullable = false),
        StructField("str_index_cols", StringType, nullable = false),
        StructField("num_tombstones", LongType, nullable = false),
        StructField("num_cdc_files", LongType, nullable = false),
        StructField("checkpoint_version", LongType, nullable = true))),
      s => {
        val v = TxnTable.currentVersion(s, location)
        val m = TxnTable.manifest(s, location, v)
        val bytes = TxnTable.tableBytes(s, location, v)
        Array(new GenericInternalRow(Array[Any](
          m.fmt, v, UTF8String.fromString(m.op), m.ts,
          m.entries.size.toLong,
          bytes.map(b => b: Any).orNull,
          UTF8String.fromString(m.idxCols.mkString(",")),
          UTF8String.fromString(m.strIdxCols.mkString(",")),
          m.deletes.size.toLong,
          m.cdcRefs.size.toLong,
          TxnTable.checkpointVersions(s, location).lastOption
            .map(c => c: Any).orNull)): InternalRow)
      })

  /** `graft.ns.t.tags` — the named version pins as a metadata table:
    * (name, version), name-sorted, LocalScan over the refs dir. */
  def tagsTable(ident: String, location: String): Table =
    new GraftMetaTable(ident,
      StructType(Seq(StructField("name", StringType, nullable = false),
        StructField("version", LongType, nullable = false))),
      s => TxnTable.tags(s, location).map { case (n, v) =>
        new GenericInternalRow(
          Array[Any](UTF8String.fromString(n), v)): InternalRow
      }.toArray)

  /** `graft.ns.t.matviews` — the MATERIALIZED-VIEW FLEET over this
    * table as a metadata table: every registered view whose definition
    * involves it (fold/extrema views over it, join views where it is
    * the fact or a dim), with the LOG-decided freshness the rewrite
    * rule itself would decide — `fresh` (every cursor at its head) and
    * `servable` (fresh, or stale in a way the view's serving algebra
    * provably covers). The operator's question — "is my dashboard
    * accelerated right now, and if not, why not" — answered from
    * manifest headers alone: a LocalScan, O(tail headers) per view,
    * no jobs, no data files. */
  def matviewsTable(ident: String, location: String): Table =
    new GraftMetaTable(ident,
      StructType(Seq(StructField("mv", StringType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("fresh", BooleanType, nullable = false),
        StructField("servable", BooleanType, nullable = false),
        StructField("cursor", LongType, nullable = false),
        StructField("head", LongType, nullable = false))),
      s => graft.operators.MatView.statusFor(s, location).map { st =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(st.mv), UTF8String.fromString(st.kind),
          st.fresh, st.servable, st.cursor, st.head)): InternalRow
      }.toArray)

  /** `graft.ns.t.branches` — the writable lineages as a metadata
    * table: (name, base parent version, head version of the branch's
    * own lineage, dir leaf). LocalScan over the branch refs. */
  def branchesTable(ident: String, location: String): Table =
    new GraftMetaTable(ident,
      StructType(Seq(StructField("name", StringType, nullable = false),
        StructField("base_version", LongType, nullable = false),
        StructField("head_version", LongType, nullable = false),
        StructField("dir", StringType, nullable = false))),
      s => TxnTable.branches(s, location).flatMap { case (n, _) =>
        // flatMap over the re-read: a branch dropped between the
        // listing and here is simply absent, never a crash
        TxnTable.branchInfo(s, location, n).map { r =>
          val bd = s"$location/_branches/${r.leaf}"
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(n), r.base,
            TxnTable.currentVersion(s, bd),
            UTF8String.fromString(s"_branches/${r.leaf}"))): InternalRow
        }
      }.toArray)

  def filesTable(ident: String, location: String): Table =
    new GraftMetaTable(ident,
      StructType(Seq(StructField("path", StringType, nullable = false),
        StructField("seq", LongType, nullable = false),
        StructField("rows", LongType, nullable = true),
        StructField("stat_cols", StringType, nullable = false))),
      s => {
        val m = TxnTable.manifest(s, location,
          TxnTable.currentVersion(s, location))
        m.entries.map { e =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(e.path), e.seq,
            e.hlls.headOption.map(h => h.rows: Any).orNull,
            UTF8String.fromString(
              (e.stats.map(_.col) ++ e.strStats.map(_.col + "~s"))
                .mkString(",")))): InternalRow
        }.toArray
      })

  /** `SELECT * FROM graft.ns.t.tombstones` — the PENDING merge-on-read
    * state as a metadata table (a LocalScan over the manifest: no jobs,
    * no data I/O): one row per pending tombstone file with its kind
    * (`<col>` equality, `<col>~L` bounded, `~pos` positional
    * deletion-vector) and commit seq — the observability a MoR table
    * needs to answer "how much read-side debt has accumulated, is it
    * time to compact/rewrite_tombstones". */
  def tombstonesTable(ident: String, location: String): Table =
    new GraftMetaTable(ident,
      StructType(Seq(StructField("path", StringType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("seq", LongType, nullable = false))),
      s => {
        val m = TxnTable.manifest(s, location,
          TxnTable.currentVersion(s, location))
        m.deletes.map { case (p, kind, seq) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(p), UTF8String.fromString(kind),
            seq)): InternalRow
        }.toArray
      })

  /** Resolve `'ns.t'` (catalog-relative) to the table's filesystem
    * location, failing loudly when it doesn't exist. */
  def resolveTable(warehouse: String, ref: String): String = {
    val parts = ref.split('.').toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"procedure table argument must be 'namespace.table', got '$ref'")
    (warehouse +: parts).mkString("/")
  }

  def procedures: Seq[String] =
    Seq("compact", "compact_range", "vacuum", "expire_snapshots",
      "checkpoint", "restore", "recluster", "recluster_ivf", "reindex",
      "zorder", "tag", "drop_tag", "clone", "publish", "branch",
      "fastforward", "rebase", "drop_branch", "rewrite_tombstones",
      "dedup", "delete_dv", "delete_in", "build_bloom", "vacuum_preview",
      "create_matview", "refresh_matview", "create_matview_extrema",
      "create_matview_join", "create_matview_live", "transplant_matview")

  def load(catalog: GraftCatalog, warehouse: String, name: String)
      : UnboundProcedure = {
    def p(n: String, params: Seq[ProcedureParameter])(
        run: (SparkSession, InternalRow) => Long): UnboundProcedure =
      new GraftProcedure(n, params.toArray, run)
    def tbl(s: SparkSession, input: InternalRow): String = {
      val ref = input.getUTF8String(0).toString
      val loc = resolveTable(warehouse, ref)
      if (TxnTable.versions(s, loc).nonEmpty) loc
      else {
        // BRANCH addressing: 'ns.t.branch_<name>' resolves through the
        // parent's ref file to the branch's actual dir leaf, so
        // maintenance (compact / rewrite_tombstones / checkpoint / …)
        // runs against the branch lineage like any other table
        val parts = ref.split('.')
        val viaBranch =
          if (parts.length >= 2 && parts.last.startsWith("branch_")) {
            val parent = resolveTable(warehouse,
              parts.dropRight(1).mkString("."))
            val bname = parts.last.stripPrefix("branch_")
            if (TxnTable.versions(s, parent).nonEmpty &&
                TxnTable.branches(s, parent).exists(_._1 == bname))
              Some(TxnTable.branchDir(s, parent, bname))
            else None
          } else None
        viaBranch.getOrElse(throw new IllegalArgumentException(
          s"graft procedure: '$loc' is not a committed table"))
      }
    }
    val tableParam = ProcedureParameter.in("table", StringType).build()
    // a BRANCH lineage must keep its branch-point version: rebase
    // diffs and three-way-merges against branch@localBase, so that one
    // version is PINNED out of retention (like a tag) — the window
    // still reclaims everything else. Without this, vacuuming a branch
    // to retain=1 would make every later rebase permanently impossible.
    def branchPin(s: SparkSession, ref: String): Set[Long] = {
      val parts = ref.split('.')
      if (parts.length >= 2 && parts.last.startsWith("branch_")) {
        val parent = resolveTable(warehouse,
          parts.dropRight(1).mkString("."))
        val bname = parts.last.stripPrefix("branch_")
        TxnTable.branchInfo(s, parent, bname)
          .map(r => Set(math.max(r.localBase, 0L)))
          .getOrElse(Set.empty[Long])
      } else Set.empty[Long]
    }
    name match {
      case "compact" => p("compact", Seq(tableParam)) { (s, in) =>
        TxnTable.compact(s, tbl(s, in))
      }
      // MANAGED MATERIALIZED VIEWS on the SQL surface: the MV lives AT
      // a catalog location, so `SELECT * FROM graft.ns.mv` reads it
      // like any table, and creation registers it for the transparent
      // rewrite (GraftMvRewriteRule) — a plain aggregate over the BASE
      // is then served from the MV while fresh
      case "create_matview" => p("create_matview", Seq(
        ProcedureParameter.in("view", StringType).build(),
        ProcedureParameter.in("base", StringType).build(),
        ProcedureParameter.in("key", StringType).build(),
        ProcedureParameter.in("value", StringType).build(),
        // optional row-local predicate → a PARTIAL view (the DDL's
        // WHERE, as a CALL argument); empty = full view
        ProcedureParameter.in("where", StringType)
          .defaultValue("''").build())) { (s, in) =>
        val mvLoc = resolveTable(warehouse, in.getUTF8String(0).toString)
        require(TxnTable.versions(s, mvLoc).isEmpty,
          s"graft procedure: '$mvLoc' already exists")
        val baseRef = in.getUTF8String(1).toString
        val baseLoc = resolveTable(warehouse, baseRef)
        require(TxnTable.versions(s, baseLoc).nonEmpty,
          s"graft procedure: base '$baseLoc' is not a committed table")
        // comma-separated key list: CALL create_matview(..., 'g,h', 'v')
        // materializes the composite-key grouping
        val v = graft.operators.MatView.create(s, mvLoc, baseLoc,
          in.getUTF8String(2).toString.split(',').toSeq.map(_.trim),
          in.getUTF8String(3).toString,
          Seq("count", "sum", "avg"),
          Some(in.getUTF8String(4).toString).filter(_.nonEmpty))
        graft.operators.MatView.register(s, mvLoc)
        v
      }
      case "refresh_matview" => p("refresh_matview", Seq(
        ProcedureParameter.in("view", StringType).build())) { (s, in) =>
        val mvLoc = resolveTable(warehouse, in.getUTF8String(0).toString)
        // any view kind: the stored definition picks the refresh
        val r = graft.operators.MatView.refresh(s, mvLoc)
        // (re-)register for the transparent rewrite: the registry is
        // session state, and refresh is the natural re-entry point a
        // NEW session hits first — without this the rewrite would stay
        // dead after a restart with no SQL path to revive it
        graft.operators.MatView.register(s, mvLoc)
        r.mvVersion
      }
      // the MIN/MAX view kind (MatView.createExtrema): the aggregates
      // the fold MV refuses, maintained by monotone merge + dirty-group
      // recompute; registered for the extrema rewrite on create
      case "create_matview_extrema" => p("create_matview_extrema", Seq(
        ProcedureParameter.in("view", StringType).build(),
        ProcedureParameter.in("base", StringType).build(),
        ProcedureParameter.in("key", StringType).build(),
        ProcedureParameter.in("value", StringType).build(),
        // optional row-local predicate → a PARTIAL extrema view (the
        // DDL's WHERE, as a CALL argument); empty = full view
        ProcedureParameter.in("where", StringType)
          .defaultValue("''").build())) { (s, in) =>
        val mvLoc = resolveTable(warehouse, in.getUTF8String(0).toString)
        require(TxnTable.versions(s, mvLoc).isEmpty,
          s"graft procedure: '$mvLoc' already exists")
        val baseLoc = resolveTable(warehouse, in.getUTF8String(1).toString)
        require(TxnTable.versions(s, baseLoc).nonEmpty,
          s"graft procedure: base '$baseLoc' is not a committed table")
        val v = graft.operators.MatView.createExtrema(s, mvLoc, baseLoc,
          in.getUTF8String(2).toString.split(',').toSeq.map(_.trim),
          in.getUTF8String(3).toString,
          Some(in.getUTF8String(4).toString).filter(_.nonEmpty))
        graft.operators.MatView.register(s, mvLoc)
        v
      }
      // the two STAR view kinds share one argument list — multi-dim via
      // parallel CSV lists: CALL create_matview_join('v', 'f', 'd1,d2',
      // 'fk1,fk2', 'dk1,dk2', 'key1,key2', 'val'). _join
      // (MatView.createJoinStar): fact ⋈ dims aggregates with the
      // per-log cursor contract (fact feeds fold, feed-less dim content
      // changes refuse). _live (MatView.createStarLive): the fold at the
      // fact-key grain with the dims joined back at query time — dim
      // movement never stales it, refresh folds fact feeds alone
      case "create_matview_join" | "create_matview_live" => p(name, Seq(
        ProcedureParameter.in("view", StringType).build(),
        ProcedureParameter.in("fact", StringType).build(),
        ProcedureParameter.in("dim", StringType).build(),
        ProcedureParameter.in("fact_key", StringType).build(),
        ProcedureParameter.in("dim_key", StringType).build(),
        ProcedureParameter.in("key", StringType).build(),
        ProcedureParameter.in("value", StringType).build())) { (s, in) =>
        val mvLoc = resolveTable(warehouse, in.getUTF8String(0).toString)
        require(TxnTable.versions(s, mvLoc).isEmpty,
          s"graft procedure: '$mvLoc' already exists")
        val factLoc = resolveTable(warehouse, in.getUTF8String(1).toString)
        def csv(i: Int): Seq[String] = in.getUTF8String(i).toString
          .split(',').toSeq.map(_.trim).filter(_.nonEmpty)
        val (dimRefs, fks, dks) = (csv(2), csv(3), csv(4))
        require(dimRefs.size == fks.size && dimRefs.size == dks.size,
          "graft procedure: dim, fact_key and dim_key lists must have " +
            "the same length")
        val dims = dimRefs.lazyZip(fks).lazyZip(dks).map {
          (dr, fk, dk) =>
            val dl = resolveTable(warehouse, dr)
            require(TxnTable.versions(s, dl).nonEmpty,
              s"graft procedure: dim '$dl' is not a committed table")
            graft.operators.MatView.MvDimRef(dl, fk, dk)
        }
        require(TxnTable.versions(s, factLoc).nonEmpty,
          s"graft procedure: fact '$factLoc' is not a committed table")
        val value = in.getUTF8String(6).toString
        val v =
          if (name == "create_matview_join")
            graft.operators.MatView.createJoinStar(s, mvLoc, factLoc,
              dims, csv(5), value)
          else graft.operators.MatView.createStarLive(s, mvLoc, factLoc,
            dims, csv(5), value)
        graft.operators.MatView.register(s, mvLoc)
        v
      }
      // re-point a branch MV onto the parent timeline after a publish
      // (MatView.transplant) and re-register it for the rewrite
      case "transplant_matview" => p("transplant_matview", Seq(
        ProcedureParameter.in("view", StringType).build())) { (s, in) =>
        val mvLoc = resolveTable(warehouse, in.getUTF8String(0).toString)
        val v = graft.operators.MatView.transplant(s, mvLoc)
        graft.operators.MatView.register(s, mvLoc)
        v
      }
      // OPTIMIZE WHERE: merge only the files whose key box intersects
      // [lo, hi] — the cold bulk carries verbatim
      case "compact_range" => p("compact_range", Seq(tableParam,
        ProcedureParameter.in("column", StringType).build(),
        ProcedureParameter.in("lo", LongType).build(),
        ProcedureParameter.in("hi", LongType).build())) { (s, in) =>
        TxnTable.compactRange(s, tbl(s, in),
          in.getUTF8String(1).toString, in.getLong(2), in.getLong(3))
      }
      case "vacuum" => p("vacuum", Seq(tableParam,
        ProcedureParameter.in("retain", IntegerType)
          .defaultValue("1").build())) { (s, in) =>
        val ref = in.getUTF8String(0).toString
        val loc = tbl(s, in)
        // branch pins + the registered MV fleet's feed-tail pins:
        // routine retention must never turn a stale view into a
        // drop-and-recompute (MatView.retentionPins)
        TxnTable.vacuum(s, loc, in.getInt(1), branchPin(s, ref) ++
          graft.operators.MatView.retentionPins(s, loc))
        TxnTable.currentVersion(s, loc)
      }
      // DRY-RUN vacuum: the blast radius a vacuum(retain) would have —
      // dead manifests + dead data files + dead feed files as one
      // count, NOTHING touched. The check an operator runs before
      // advancing retention on a large table.
      // CALL graft.system.vacuum_preview('ns.t', 2)
      case "vacuum_preview" => p("vacuum_preview", Seq(tableParam,
        ProcedureParameter.in("retain", IntegerType)
          .defaultValue("1").build())) { (s, in) =>
        val ref = in.getUTF8String(0).toString
        val loc = tbl(s, in)
        val (ms, fls, cdc) = TxnTable.vacuumPreview(s, loc,
          in.getInt(1), branchPin(s, ref) ++
            graft.operators.MatView.retentionPins(s, loc))
        ms.size.toLong + fls.size + cdc.size
      }
      // AGE-based retention (the Iceberg expire_snapshots shape):
      // every version older than `older_than_hours` ago is vacuumed,
      // keeping the newest + every tag/branch-pinned one
      case "expire_snapshots" => p("expire_snapshots", Seq(tableParam,
        ProcedureParameter.in("older_than_hours", DoubleType)
          .build())) { (s, in) =>
        val ref = in.getUTF8String(0).toString
        val loc = tbl(s, in)
        val cutoff = System.currentTimeMillis() -
          (in.getDouble(1) * 3600 * 1000).toLong
        TxnTable.expireSnapshots(s, loc, cutoff, branchPin(s, ref) ++
          graft.operators.MatView.retentionPins(s, loc))
        TxnTable.currentVersion(s, loc)
      }
      case "checkpoint" => p("checkpoint", Seq(tableParam)) { (s, in) =>
        TxnTable.checkpoint(s, tbl(s, in))
      }
      case "restore" => p("restore", Seq(tableParam,
        ProcedureParameter.in("version", LongType).build())) { (s, in) =>
        TxnTable.restore(s, tbl(s, in), in.getLong(1))
      }
      // IVF quantizer maintenance: retrain coarse centroids on the
      // store's CURRENT rows and rewrite cell assignment — the cure for
      // the frozen-quantizer store's recall decay on a drifted corpus.
      // CALL graft.system.recluster_ivf('ns.vectors')
      case "recluster_ivf" => p("recluster_ivf", Seq(tableParam)) {
        (s, in) => graft.operators.Similarity.reclusterIvf(s, tbl(s, in))._1
      }
      case "recluster" => p("recluster", Seq(tableParam,
        ProcedureParameter.in("index_cols", StringType).build(),
        ProcedureParameter.in("str_index_cols", StringType)
          .defaultValue("''").build())) { (s, in) =>
        def cols(i: Int): Seq[String] = {
          val v = in.getUTF8String(i).toString
          if (v.isEmpty) Nil else v.split(',').toSeq
        }
        TxnTable.recluster(s, tbl(s, in), cols(1), cols(2))
      }
      // stats BACKFILL for the unindexed→indexed transition recluster
      // refuses: one read-only scan annotates every live file with
      // stat groups, no rewrite — CALL graft.system.reindex('ns.t','k')
      case "reindex" => p("reindex", Seq(tableParam,
        ProcedureParameter.in("index_cols", StringType).build(),
        ProcedureParameter.in("str_index_cols", StringType)
          .defaultValue("''").build())) { (s, in) =>
        def cols(i: Int): Seq[String] = {
          val v = in.getUTF8String(i).toString
          if (v.isEmpty) Nil else v.split(',').toSeq
        }
        TxnTable.reindex(s, tbl(s, in), cols(1), cols(2))
      }
      // OPTIMIZE ZORDER BY as a procedure: CALL graft.system.zorder(
      // 'ns.t', 'a,b') rewrites the snapshot z-ordered on the named
      // integral dimensions and adopts them as the index spec
      case "zorder" => p("zorder", Seq(tableParam,
        ProcedureParameter.in("cols", StringType).build(),
        ProcedureParameter.in("files", IntegerType)
          .defaultValue("0").build())) { (s, in) =>
        TxnTable.zorder(s, tbl(s, in),
          in.getUTF8String(1).toString.split(',').toSeq, in.getInt(2))
      }
      // named, vacuum-shielded version pins (the Iceberg tag shape):
      // CALL graft.system.tag('ns.t', 'release-1', 3) then
      // SELECT … VERSION AS OF 'release-1'
      case "tag" => p("tag", Seq(tableParam,
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("version", LongType).build())) { (s, in) =>
        val loc = tbl(s, in)
        val v = in.getLong(2)
        TxnTable.tag(s, loc, in.getUTF8String(1).toString, v)
        v
      }
      case "drop_tag" => p("drop_tag", Seq(tableParam,
        ProcedureParameter.in("name", StringType).build())) { (s, in) =>
        val loc = tbl(s, in)
        require(TxnTable.deleteTag(s, loc, in.getUTF8String(1).toString),
          s"graft procedure: no tag '${in.getUTF8String(1)}' on '$loc'")
        TxnTable.currentVersion(s, loc)
      }
      // zero-copy table forks as SQL: CALL graft.system.clone('ns.src',
      // 'ns.dst') / publish('ns.branch', 'ns.main') — the library
      // shallowClone / WAP-publish behind catalog-relative names
      case "clone" => p("clone", Seq(tableParam,
        ProcedureParameter.in("target", StringType).build())) { (s, in) =>
        val src = tbl(s, in)
        val dst = resolveTable(warehouse, in.getUTF8String(1).toString)
        require(TxnTable.versions(s, dst).isEmpty,
          s"graft procedure: clone target '$dst' already exists")
        TxnTable.shallowClone(s, src, dst)
      }
      case "publish" => p("publish", Seq(tableParam,
        ProcedureParameter.in("target", StringType).build())) { (s, in) =>
        val src = tbl(s, in)
        val dst = resolveTable(warehouse, in.getUTF8String(1).toString)
        require(TxnTable.versions(s, dst).nonEmpty,
          s"graft procedure: publish target '$dst' is not a committed table")
        TxnTable.publish(s, src, dst)
      }
      // named WRITABLE branches: CALL graft.system.branch('ns.t',
      // 'dev') forks a writable lineage at the current version —
      // write through graft.ns.t.branch_dev, read the same (or
      // VERSION AS OF 'dev'), then CALL graft.system.fastforward(
      // 'ns.t', 'dev') publishes the branch head back as ONE commit
      case "branch" => p("branch", Seq(tableParam,
        ProcedureParameter.in("name", StringType).build())) { (s, in) =>
        TxnTable.branch(s, tbl(s, in), in.getUTF8String(1).toString)
      }
      case "fastforward" => p("fastforward", Seq(tableParam,
        ProcedureParameter.in("name", StringType).build())) { (s, in) =>
        TxnTable.fastForward(s, tbl(s, in), in.getUTF8String(1).toString)
      }
      // the moved-main complement: CALL graft.system.rebase('ns.t',
      // 'dev') replays the branch's changes onto main's head (pure
      // metadata when disjoint, row-level recompute on true overlap)
      // and advances the ref base so fastforward works afterwards
      case "rebase" => p("rebase", Seq(tableParam,
        ProcedureParameter.in("name", StringType).build())) { (s, in) =>
        TxnTable.rebase(s, tbl(s, in), in.getUTF8String(1).toString)
      }
      // positional deletion-vector dedup: keep the first copy of every
      // key group, zero rewrite — CALL graft.system.dedup('ns.t','k,v')
      case "dedup" => p("dedup", Seq(tableParam,
        ProcedureParameter.in("key_cols", StringType).build())) { (s, in) =>
        TxnTable.dedupMor(s, tbl(s, in),
          in.getUTF8String(1).toString.split(',').toSeq)
      }
      // arbitrary-predicate deletion-vector delete: per-row erasure by
      // (file, position) coordinate, zero rewrite —
      // CALL graft.system.delete_dv('ns.t', 'm % 7 = 0'); the predicate
      // is SQL text over the table's logical schema
      case "delete_dv" => p("delete_dv", Seq(tableParam,
        ProcedureParameter.in("predicate", StringType).build())) { (s, in) =>
        TxnTable.deleteWherePos(s, tbl(s, in),
          org.apache.spark.sql.functions.expr(in.getUTF8String(1).toString))
      }
      // the GDPR id-list DELETE as a procedure: one `isin` over the key
      // column's type, deleted through TxnTable.delete (per-member
      // manifest verdicts: range boxes + bucketN transforms for integral
      // keys, truncated string stats for string keys), optional signed
      // feed for downstream MVs.
      // `sep` exists for STRING ids that may legally contain commas
      // (URLs!): the default comma split would silently target the
      // wrong values — pick a separator that cannot occur in the ids —
      // CALL graft.system.delete_in('ns.t', 'k', '5,7,1000', true)
      // CALL graft.system.delete_in('ns.t', 'url', 'a|b', true, '|')
      case "delete_in" => p("delete_in", Seq(tableParam,
        ProcedureParameter.in("key", StringType).build(),
        ProcedureParameter.in("values", StringType).build(),
        ProcedureParameter.in("cdc", BooleanType)
          .defaultValue("false").build(),
        ProcedureParameter.in("sep", StringType)
          .defaultValue("','").build())) { (s, in) =>
        val table = tbl(s, in)
        val key = in.getUTF8String(1).toString
        val sep = in.getUTF8String(4).toString
        require(sep.length == 1,
          s"delete_in: sep must be one character, got '$sep'")
        val raw = in.getUTF8String(2).toString
          .split(java.util.regex.Pattern.quote(sep))
          .map(_.trim).filter(_.nonEmpty).toSeq
        require(raw.nonEmpty, "delete_in: no values to delete")
        val keyType = TxnTable.snapshot(s, table).schema(key).dataType
        import org.apache.spark.sql.functions.{col, lit}
        TxnTable.delete(s, table, col(key).isin(raw.map(lit(_)
          .cast(keyType)): _*), cdc = in.getBoolean(3)).version
      }
      // collapse accumulated equality tombstones into one bounded file
      // per key column — zero data files touched (the between-
      // compactions maintenance for merge-per-batch streams)
      case "rewrite_tombstones" => p("rewrite_tombstones",
        Seq(tableParam)) { (s, in) =>
        TxnTable.rewriteTombstones(s, tbl(s, in))
      }
      // build + commit a bloom sidecar over the current live files —
      // CALL graft.system.build_bloom('ns.t', 'k'); point lookups on
      // the column then prune files the bloom proves empty, the
      // predicate shape range stats can't answer
      case "build_bloom" => p("build_bloom", Seq(tableParam,
        ProcedureParameter.in("column", StringType).build())) { (s, in) =>
        TxnTable.buildBloomCommit(s, tbl(s, in),
          in.getUTF8String(1).toString)
      }
      case "drop_branch" => p("drop_branch", Seq(tableParam,
        ProcedureParameter.in("name", StringType).build())) { (s, in) =>
        val loc = tbl(s, in)
        require(TxnTable.deleteBranch(s, loc,
          in.getUTF8String(1).toString),
          s"graft procedure: no branch '${in.getUTF8String(1)}' on '$loc'")
        TxnTable.currentVersion(s, loc)
      }
      case other => throw new UnsupportedOperationException(
        s"graft.system has no procedure '$other' " +
          s"(has: ${procedures.mkString(", ")})")
    }
  }
}

/** A driver-computed metadata table: BATCH_READ through a [[LocalScan]]
  * whose rows are produced from the log at scan-build time. The row
  * count is O(#versions) or O(#files) — driver-scale metadata, which is
  * what makes LocalScan (→ LocalTableScanExec) the right plan: no jobs,
  * no shuffles, filters/projections applied on top by Catalyst. */
private[sources] class GraftMetaTable(ident: String, tableSchema: StructType,
    rows: SparkSession => Array[InternalRow])
    extends Table with SupportsRead {

  override def name(): String = ident
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder {
    override def build(): Scan = new LocalScan {
      override def readSchema(): StructType = tableSchema
      override def rows(): Array[InternalRow] =
        GraftMetaTable.this.rows(SparkSession.active)
    }
  }
}

/** One maintenance procedure: unbound = bound (the parameter list is
  * static); `call` runs the library operation and returns its result
  * version as a one-row LocalScan — the CALL statement's result set. */
private[sources] class GraftProcedure(procName: String,
    params: Array[ProcedureParameter],
    run: (SparkSession, InternalRow) => Long)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def description(): String =
    s"graft table maintenance: $procName"
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = params
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): util.Iterator[Scan] = {
    val version = run(SparkSession.active, input)
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType =
        StructType(Seq(StructField("version", LongType, nullable = false)))
      override def rows(): Array[InternalRow] =
        Array(new GenericInternalRow(Array[Any](version)))
    }
    util.Collections.singletonList(scan).iterator()
  }
}
