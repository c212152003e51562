package graft.operators

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType, Metadata, StructField, StructType}
import scala.collection.immutable.ListMap

/** MATERIALIZED VIEWS with INCREMENTAL REFRESH over the change feed —
  * the managed form of op_incremental_agg's telescoping fold. An MV is
  * itself a TxnTable (snapshot isolation, time travel, vacuum — all
  * inherited) holding a grouped aggregate of other TxnTables, in one
  * of four kinds, each decoded from its stored [[ViewDef]]:
  *
  *  - FOLD (`_mv`, [[MvDef]]): `(n, nn, total)` per key group of one
  *    base — count, non-null count and an exact DECIMAL(18,2) sum;
  *  - JOIN (`_mvj`, [[MvJoinDef]]): the same fold over fact ⋈ dims,
  *    grouped by dim (or fact) attributes;
  *  - LIVE (`_mvl`, [[LiveDef]]): the fold of a star stored at the
  *    fact-key grain, the dims joined back at query time;
  *  - EXTREMA (`_mvx`, [[MvExtremaDef]]): `(n, nn, vmin, vmax)` per
  *    key group of one base.
  *
  * Every view carries two pieces of state. The immutable DEFINITION
  * file is written once at create, so no atomicity is owed to it. The
  * CURSORS are the versions of the tables whose logs the view reads;
  * they ride the refresh commit's own `#metrics=` header, so applying
  * a feed and recording that it was applied is ONE atomic manifest
  * commit: a crashed refresh either fully landed or never happened,
  * and a re-run never double-applies a delta.
  *
  * ONE freshness contract serves every caller. [[cursors]] reads a
  * view's cursors; the serve decision ([[rowsAt]]) proves from the
  * log alone whether the view answers at a query's pinned versions;
  * [[refresh]], the optimizer's rewrite rule, the `t.matviews`
  * listing ([[statusFor]]) and the retention pins ([[retentionPins]])
  * all read those two functions, so no caller outside this object
  * reads a cursor or walks a tail.
  *
  * refresh() reads ONLY the published per-commit signed feeds (`#cdc=`
  * refs) for (cursor, head] — never a base data file outside the join
  * and extrema views' key-pruned recompute slices: cost is O(changes
  * since last refresh) + O(MV), at ANY base size. Commits in the range
  * without a feed are accepted only when their op is
  * content-invariant (compact / recluster / zorder / …); anything else
  * refuses LOUDLY with the full-recompute remedy, the Delta "change
  * data feed not enabled for range" contract — a silent fallback to
  * rescanning the base would hide exactly the cost the MV exists to
  * avoid.
  *
  * The fold is pure algebra on the signed feed: per group,
  * `n += Σw`, `total += Σ(w·value)`; groups reaching n == 0 leave the
  * MV (op 'D'). The merge into the MV rides the file-pruned
  * [[TxnTable.applyChangesWithMetrics]] — only MV files whose key box
  * intersects the delta's groups rewrite. NULL values fold as 0 (a
  * group of only-NULL values reports total 0, not NULL — documented,
  * deterministic, and what the signed algebra needs to telescope). */
object MatView {

  private val D18 = DecimalType(18, 2)

  /** `aggs` is the DECLARED aggregate set ([[create]]'s validated
    * count/sum/avg subset): the rewrite rule serves ONLY declared
    * aggregates, so a view created as count-only never silently answers
    * SUM — the declaration is a real contract, not decoration.
    * `pred` makes the view PARTIAL: only base rows satisfying the
    * stored row-local predicate fold (the warehouse partial-index
    * shape — `WHERE price > 100` dashboards served from a view that
    * holds only those rows' groups); refresh filters each signed feed
    * by the SAME predicate, which is exact because membership is
    * row-local and an update is a −old/+new pair evaluated
    * independently (a reprice crossing the boundary folds as the
    * membership change it is). */
  case class MvDef(base: String, keys: Seq[String], value: String,
      aggs: Set[String], pred: Option[String] = None) extends ViewDef {
    def kind: String = "fold"
    def tables: Seq[String] = Seq(base)
  }

  /** A view's stored DEFINITION — one case per kind (fold `_mv`, join
    * `_mvj`, live `_mvl`, extrema `_mvx`), decoded once by
    * [[definition]]. The kind is a fact on disk, so every entry point
    * (register, refresh, drop, the listings) dispatches on this value
    * and no caller ever names the kind it holds. */
  sealed trait ViewDef {
    /** "fold", "join", "live" or "extrema" — the SHOW/DROP vocabulary. */
    def kind: String
    /** Every table whose log this view's incremental contract reads. */
    def tables: Seq[String]
  }

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Publish a definition file, one line per field, each terminated —
    * written once, whole or not at all ([[LogFile.publish]]), after the
    * view's first commit, so a reader never parses a torn definition. */
  private def writeDefFile(s: SparkSession, mv: String, file: String,
      lines: Seq[String]): Unit = {
    val p = new Path(s"$mv/$file")
    require(LogFile.publish(fs(s, p), TxnTable.logDir(mv), p,
      lines.mkString("", "\n", "\n")), s"$mv already holds a $file definition")
  }

  /** The view's stored definition: the first of `_mv`, `_mvj`, `_mvx`,
    * `_mvl` that exists, decoded by its kind's parser. A fold view
    * costs one read, like any single-file definition read; refuses
    * loudly when `mv` holds no definition. */
  def definition(s: SparkSession, mv: String): ViewDef = {
    def read(file: String)(parse: Seq[String] => ViewDef) = {
      val p = new Path(s"$mv/$file")
      LogFile.read(fs(s, p), p).map(t => parse(t.linesIterator.toSeq))
    }
    read("_mv")(parseFold(mv, _))
      .orElse(read("_mvj")(parseJoin(mv, _)))
      .orElse(read("_mvx")(parseExtrema(mv, _)))
      .orElse(read("_mvl")(parseLive(mv, _)))
      .getOrElse(throw new IllegalArgumentException(
        s"$mv is not a materialized view (no _mv/_mvj/_mvx/_mvl " +
          "definition)"))
  }

  private val AllAggs = Set("count", "sum", "avg")

  private def parseFold(mv: String, lines: Seq[String]): MvDef =
    lines match {
      // pre-aggs definitions (3 lines) served every fold-derivable
      // aggregate — keep that behavior for existing views
      case Seq(base, keys, value) =>
        MvDef(base, keys.split(',').toSeq, value, AllAggs)
      case Seq(base, keys, value, aggs) =>
        // "".split(',') is Array("") — an empty declared-aggs line is a
        // malformed definition (create refuses it), not a served state
        require(aggs.nonEmpty, s"$mv: malformed _mv definition " +
          "(empty declared-aggregate line)")
        MvDef(base, keys.split(',').toSeq, value,
          aggs.split(',').toSet)
      case Seq(base, keys, value, aggs, pred) =>
        require(aggs.nonEmpty, s"$mv: malformed _mv definition " +
          "(empty declared-aggregate line)")
        require(pred.nonEmpty, s"$mv: malformed _mv definition " +
          "(empty predicate line)")
        MvDef(base, keys.split(',').toSeq, value,
          aggs.split(',').toSet, Some(pred))
      case other => throw new IllegalArgumentException(
        s"$mv: malformed _mv definition (${other.size} lines)")
    }

  /** The base version this MV reflects — the fold or extrema base's
    * cursor, a join or live view's fact cursor (see [[cursors]]). */
  def lastRefreshed(s: SparkSession, mv: String): Long =
    cursorHeader(s, mv)._2("mv_base_version")

  /** The MV's newest version and the `#metrics=` header of its newest
    * CURSOR-CARRYING commit: one log listing, then header-only reads
    * newest-first (O(headers),
    * never O(entries) manifest parses). Walking past non-refresh MV
    * commits (a compact() of the MV, a checkpoint — those carry
    * entries, not cursors) keeps the cursor correct. */
  private def cursorHeader(s: SparkSession, mv: String)
      : (Long, Map[String, Long]) = {
    val vs = TxnTable.versions(s, mv)
    val h = vs.reverseIterator
      .map(v => TxnTable.manifestHeaderMetrics(s, mv, v))
      .find(_.get("mv_base_version").exists(_ >= 0))
      .getOrElse(throw new IllegalArgumentException(
        s"$mv: no refresh cursor in any retained commit"))
    (vs.last, h)
  }

  /** THE cursor reader. Returns the MV version pinned for one read
    * (its newest) and, for every table whose log
    * the view reads, the version of that table the pinned rows
    * reflect: the primary table first — a fold view's EFFECTIVE base,
    * an extrema base, a join or live view's fact — then a join view's
    * dims in definition order. A live view reads no dim log (its dims
    * join back at query time), so it lists its fact alone.
    *
    * Every cursor comes from ONE commit, the newest carrying
    * `mv_base_version` (each refresh stamps all of a view's cursors
    * together), so cursors can never mix refreshes. Callers read the
    * MV rows at the SAME pinned version: a refresh landing between the
    * two reads would otherwise have its feed tail counted twice. A
    * TRANSPLANTED fold view ([[transplant]]) keys its cursor by the
    * branch's PARENT: the `mv_retarget` flag rides the cursor's own
    * commit, because a cursor value is meaningless without the log it
    * indexes. */
  private[graft] def cursors(s: SparkSession, mv: String, d: ViewDef)
      : (Long, ListMap[String, Long]) = {
    val (mvVer, h) = cursorHeader(s, mv)
    def at(metric: String): Long = h.get(metric).filter(_ >= 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$mv: its cursor commit carries no $metric"))
    val primary = d match {
      case f: MvDef if h.get("mv_retarget").contains(1L) =>
        parentOf(f.base)
      case _ => d.tables.head
    }
    (mvVer, ListMap(primary -> at("mv_base_version")) ++ (d match {
      case j: MvJoinDef =>
        j.dims.indices.map(i => j.dims(i).dim -> at(dimCursorMetric(i)))
      case _ => Nil
    }))
  }

  /** [[cursors]]' inverse: the cursor metrics a commit stamps so that
    * the view reflects `at` (same tables, same order). A fold view
    * keyed off its stored base is a transplanted one, so every later
    * cursor commit re-stamps `mv_retarget`. */
  private def cursorMetrics(d: ViewDef, at: ListMap[String, Long])
      : Seq[(String, Long)] =
    ("mv_base_version" -> at.head._2) +: (d match {
      case f: MvDef if at.head._1 != f.base => Seq("mv_retarget" -> 1L)
      case j: MvJoinDef =>
        j.dims.indices.map(i => dimCursorMetric(i) -> at(j.dims(i).dim))
      case _ => Nil
    })

  /** The per-dim cursor metric name: dim 0 keeps the original
    * `mv_dim_version` (single-dim views are unchanged on disk), later
    * dims suffix their index. */
  private def dimCursorMetric(i: Int): String =
    if (i == 0) "mv_dim_version" else s"mv_dim_version_$i"

  /** The parent table of a branch directory (`<parent>/_branches/<leaf>`)
    * — what a transplanted MV's cursor speaks against. Refuses a base
    * that is not a branch dir: only branch MVs can transplant. */
  private[graft] def parentOf(base: String): String = {
    val i = base.lastIndexOf("/_branches/")
    require(i > 0 && !base.drop(i + "/_branches/".length).contains("/"),
      s"$base is not a branch directory — only an MV over a branch " +
        "can be transplanted onto a parent timeline")
    base.take(i)
  }

  /** Base ops with NO row-content change — a feed-less commit of one of
    * these is safe to skip when folding a version range; the list is
    * the actual commit-op vocabulary (TxnTable's `op = "..."` sites),
    * layout/stats maintenance plus metadata-only schema additions.
    * `rename` is deliberately absent: renaming the MV's key or value
    * column would break the definition — refuse loudly instead.
    * Everything else without a feed refuses (see object doc). */
  private val ContentInvariantOps = Set("compact", "compact_range",
    "recluster", "reindex", "zorder", "rewrite_tombstones",
    "build_bloom", "constraint", "evolve", "widen",
    // an MV's cursor-advance commit (content-invariant range): entries
    // carried verbatim by construction — a CHAINED view walking this
    // MV's log must skip it, not refuse
    "mv_refresh")

  /** Single-key [[create]]: every fold aggregate declared, no
    * predicate. */
  def create(s: SparkSession, mv: String, base: String, key: String,
      value: String): Long = create(s, mv, base, Seq(key), value)

  /** Aggregates the fold can answer: `count`/`sum` ARE the fold,
    * `avg` derives at rewrite time (total / nn — no new state). MIN and
    * MAX are declared-and-REFUSED: a delete of the group's current
    * extreme cannot be folded from the feed alone (the new extreme
    * lives in rows the feed never mentions) — maintaining them
    * incrementally under deletes requires a group rescan, which is
    * exactly the cost an MV exists to avoid. Loud beats a silently
    * wrong or silently expensive view. */
  private def validateShape(keys: Seq[String], aggs: Seq[String]): Unit = {
    require(keys.nonEmpty, "MV needs at least one grouping key")
    // an empty declaration would create a view that refreshes normally
    // but can never serve ANY rewrite — silently useless; the declared-
    // aggregate contract refuses loudly everywhere else, so here too
    require(aggs.nonEmpty, "MV needs at least one declared aggregate " +
      "(count, sum, avg) — an MV no query can be served from is a bug " +
      "at the call site, not a view")
    aggs.map(_.toLowerCase).foreach {
      case "count" | "sum" | "avg" => ()
      case a @ ("min" | "max") => throw new IllegalArgumentException(
        s"MV cannot maintain ${a.toUpperCase} incrementally: deleting " +
          "a group's current extreme cannot be folded from the change " +
          "feed (the new extreme lives in rows the feed never " +
          "mentions) — recompute the aggregate directly, or drop + " +
          "create the MV per refresh")
      case other => throw new IllegalArgumentException(
        s"unsupported MV aggregate '$other' (count, sum and avg fold " +
          "incrementally)")
    }
    keys.foreach { key =>
      // 'w' included: the refresh merge publishes its own signed feed,
      // whose sign column would clobber a key of that name
      require(!Seq("n", "nn", "total", "op", "w").contains(key),
        s"MV key column '$key' collides with the MV's own columns")
      require(!key.contains(","),
        s"MV key column '$key' contains a comma (the _mv definition's " +
          "key separator)")
    }
    require(keys.distinct.size == keys.size,
      s"MV keys repeat a column: ${keys.mkString(", ")}")
  }

  /** The lossless-fold gate: a value type whose cast into the exact
    * DECIMAL(18,2) fold can ROUND (float/double, scale > 2) or overflow
    * 16 integer digits would make the MV — and the transparent rewrite
    * serving from it — silently answer different SUMs than the base
    * scan. Refuse at create: correctness beats acceleration. (Integral
    * types are exact; a Long sum overflowing 16 digits fails LOUDLY at
    * fold time under ANSI, never silently.) */
  private def validateValueType(value: String,
      dt: org.apache.spark.sql.types.DataType): Unit = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType => ()
    case d: DecimalType if d.scale <= 2 &&
      d.precision - d.scale <= 16 => ()
    case other => throw new IllegalArgumentException(
      s"MV value column '$value' is $other, not losslessly " +
        "representable in the DECIMAL(18,2) fold — an incremental MV " +
        "over it would drift from the base; use an exact column " +
        "(integral, or decimal with scale <= 2 and <= 16 integer " +
        "digits) or recompute the aggregate directly")
  }

  /** The key columns the manifest can stat-index SOUNDLY, by type:
    * strings carry string bounds; integral types carry long boxes +
    * NDV sketches; NARROW DECIMALS (integral part fits a long) carry
    * floor/ceil-WIDENED long boxes — a sound superset the stats choke
    * point produces (TxnTable.widenedSpecs), so a value-grain MV
    * keyed on a money column (price, cents, score) range-prunes its
    * own files. Anything else (double/float — NaN poisons the box
    * algebra — or a wide decimal) CLUSTERS but carries no stats:
    * per-entry skipping is conservative, an unindexed key never
    * mis-prunes, it just reads. */
  private def indexableKeys(schema: org.apache.spark.sql.types
      .StructType, keys: Seq[String]): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    val strKeys = keys.filter(k => schema(k).dataType == StringType)
    val intKeys = keys.filter(k => schema(k).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.precision - d.scale <= 18
      case _ => false
    })
    (intKeys, strKeys)
  }

  /** One full compute of the (n, nn, total) fold of `src`, committed as
    * the MV's version 0, range-clustered and stat-indexed on the keys
    * so every later refresh merge can file-prune.
    *
    * The fold column is DECIMAL(18,2) EXACTLY: sum() widens its input
    * (18,2 → 28,2), and letting the widened type into the committed
    * schema would make every refresh (which writes 18,2) drift from
    * carried files — pin it at create so create and refresh agree.
    * `nn` counts NON-NULL values: total folds NULLs as 0 (what the
    * signed algebra needs to telescope), and nn is what lets a reader
    * — the transparent rewrite especially — reconstruct the
    * null-skipping SQL semantics (an all-NULL group is nn == 0 with
    * total 0, which SUM must surface as NULL) and answer COUNT(value). */
  private def commitMvRows(s: SparkSession, mv: String, src: DataFrame,
      keys: Seq[String], value: String,
      metrics: Seq[(String, Long)]): Long = {
    val rows = src.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"),
      count(col(value)).as("nn"),
      sum(coalesce(col(value).cast(D18), lit(0).cast(D18)))
        .cast(D18).as("total"))
    val (intKeys, strKeys) = indexableKeys(src.schema, keys)
    val clustered = rows.repartitionByRange(8, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    val staged = TxnTable.stageIndexed(s, mv, clustered, intKeys, strKeys)
    TxnTable.commit(s, mv, staged, expected = -1L,
      op = "mv_create", schemaJson = rows.schema.json,
      idxCols = intKeys, strIdxCols = strKeys, metrics = metrics)
  }

  /** Create a fold view over `base`: ONE full compute of the aggregate
    * at the base's current version — the last time the base is ever
    * scanned ([[commitMvRows]]). `aggs` is the declared aggregate set;
    * `pred` makes the view PARTIAL: only base rows satisfying it
    * (row-local SQL over the base's columns — `price > 100`) fold. The
    * predicate must be DETERMINISTIC and subquery-free: membership is
    * decided per row at fold time, and a nondeterministic predicate
    * would make −old/+new pairs disagree with the rows the view
    * actually holds — refuse at create, the one honest moment. */
  def create(s: SparkSession, mv: String, base: String,
      keys: Seq[String], value: String,
      aggs: Seq[String] = Seq("count", "sum", "avg"),
      pred: Option[String] = None): Long = {
    validateShape(keys, aggs)
    val bv = TxnTable.currentVersion(s, base)
    val snap = TxnTable.snapshot(s, base, bv)
    validateValueType(value, snap.schema(value).dataType)
    pred.foreach(validatePartialPred(snap, _, "the base"))
    val src = pred.fold(snap)(snap.filter)
    val v = commitMvRows(s, mv, src, keys, value,
      Seq("mv_base_version" -> bv))
    // comma-joined keys on one line: a pre-multi-key _mv (single bare
    // name) parses identically, so old views keep reading; the 4th
    // line is the declared aggregate set; a PARTIAL view appends its
    // predicate as the 5th line (full views stay 4-line on disk)
    writeDefFile(s, mv, "_mv", Seq(base, keys.mkString(","), value,
      aggs.map(_.toLowerCase).distinct.sorted.mkString(",")) ++ pred)
    v
  }

  /** Validate a PARTIAL view's stored predicate against the frame it
    * must decide membership on: resolves + type-coerces there (unknown
    * columns or bad syntax refuse at create, never at the first
    * refresh), deterministic, subquery-free. `side` names the frame in
    * the refusal ("the base" for fold views, "the fact" for stars —
    * where a dim-column reference must fail to resolve, because
    * dim-dependent membership is exactly what no fact feed folds). */
  private def validatePartialPred(snap: DataFrame, p: String,
      side: String): Unit = {
    require(p.trim.nonEmpty && !p.contains("\n"),
      "a partial-view predicate must be one non-empty line")
    def firstLine(e: Throwable): String =
      Option(e.getMessage).flatMap(_.linesIterator.nextOption())
        .getOrElse(e.getClass.getSimpleName)
    val cond = try snap.filter(p).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"partial-view predicate '$p' did not analyze to a filter"))
    catch {
      // a SYNTAX error is not a resolution failure — name it as such
      case e: org.apache.spark.sql.catalyst.parser.ParseException =>
        throw new IllegalArgumentException(
          s"partial-view predicate '$p' does not parse " +
            s"(${firstLine(e)})")
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"partial-view predicate '$p' does not resolve against " +
            s"$side's columns (membership must be decidable per row " +
            s"there — ${firstLine(e)})")
    }
    require(cond.deterministic, s"partial-view predicate '$p' is " +
      "nondeterministic — membership must be decidable per row, " +
      "identically at create and at every refresh")
    require(cond.collectFirst {
      case sq: org.apache.spark.sql.catalyst.expressions
        .SubqueryExpression => sq
    }.isEmpty, s"partial-view predicate '$p' contains a subquery — " +
      "its value can change with OTHER tables' content, which no " +
      "feed can fold")
  }

  /** Outcome of one refresh: the MV version (unchanged on no-op), the
    * base version now reflected, and how many base commits were
    * folded. */
  case class RefreshResult(mvVersion: Long, baseVersion: Long,
      commitsFolded: Int)

  /** Incremental refresh of the view at `mv`, whatever its kind. One
    * prologue serves all four: pin ONE MV version for the cursors, the
    * rows AND the merge's CAS (two concurrent refreshes otherwise
    * interleave so the second folds the tail onto rows that already
    * include it — with the pin, the loser fails the commit CAS loudly);
    * refuse a table behind its cursor; no-op when every table is at
    * its cursor; resolve each tail's published feeds from manifests
    * alone ([[feedRefs]] — a feed-less content change refuses there);
    * and advance the cursors with one metadata-only commit when no
    * tail carries a feed. Only the fold of the feeds is per kind. */
  def refresh(s: SparkSession, mv: String): RefreshResult = {
    val d = definition(s, mv)
    val (mvVer, cur) = cursors(s, mv, d)
    val heads = cur.map { case (t, c) =>
      val h = TxnTable.currentVersion(s, t)
      require(h >= c, s"$t is at version $h, behind the MV's cursor $c " +
        "— the table was restored/recreated; recompute the MV")
      t -> h
    }
    val (primary, last) = cur.head
    val head = heads(primary)
    if (heads == cur) return RefreshResult(mvVer, last, 0)
    val refs = cur.map { case (t, c) => t -> feedRefs(s, t, c, heads(t)) }
    val metrics = cursorMetrics(d, heads)
    val v =
      if (refs.values.forall(_.isEmpty))
        advanceCursor(s, mv, mvVer, metrics)
      else d match {
        // a PARTIAL view folds only the feed rows satisfying its stored
        // predicate: membership is row-local, so a −old/+new update
        // pair crossing the boundary folds as exactly the membership
        // change it is
        case f: MvDef => foldAndMerge(s, mv, mvVer, f.keys, f.value,
          predFeed(s, primary, head, refs(primary), f.pred), metrics)
        // feed rows with a NULL join key are excluded exactly like
        // create's scan (the served inner join never sees them)
        case LiveDef(j, grain) => foldAndMerge(s, mv, mvVer, grain,
          j.value, predFeed(s, primary, head, refs(primary), j.pred)
            .filter(joinKeysPresent(j)), metrics)
        case j: MvJoinDef =>
          refreshJoin(s, mv, j, mvVer, cur, heads, refs, metrics)
        case x: MvExtremaDef =>
          refreshExtrema(s, mv, x, mvVer, head, refs(primary), metrics)
      }
    RefreshResult(v, head, (head - last).toInt)
  }

  /** The signed feed rows of `refs`, gated by a PARTIAL view's stored
    * predicate — the one reader every refresh and serve path folds. */
  private[graft] def predFeed(s: SparkSession, table: String, v: Long,
      refs: Seq[String], pred: Option[String]): DataFrame = {
    val feed = feedRead(s, table, v, refs)
    pred.fold(feed)(feed.filter)
  }

  /** The rows of `refs` — signed feeds `table` published up to version
    * `v` — read with the schema the engine already knows: the table's
    * logical schema at `v` (feed writers write logical names) plus the
    * sign, `w INT`. No feed read infers a schema with a Spark job; only
    * a manifest that records no schema leaves it to inference. */
  private def feedRead(s: SparkSession, table: String, v: Long,
      refs: Seq[String]): DataFrame =
    TxnTable.manifest(s, table, v).schema match {
      case Some(sch) => s.read.schema(StructType(sch.fields.map(
          _.copy(metadata = Metadata.empty)) :+ StructField("w", IntegerType)))
        .parquet(refs: _*)
      case None => s.read.parquet(refs: _*)
    }

  /** TRANSPLANT a branch MV onto the parent timeline after a
    * [[TxnTable.fastForward]] publish: the branch ref's invariant —
    * `branch@localBase ≡ parent@base`, maintained by branch creation,
    * fastForward and rebase alike — is the content-identity proof, so
    * a view whose cursor sits EXACTLY at the published point can start
    * speaking parent versions with ONE metadata-only commit (cursor :=
    * ref.base, `mv_retarget` stamped on the same line — a cursor value
    * is meaningless without its timeline, so the two facts are never
    * separable). A cursor behind the publish point must refresh first;
    * a branch that moved PAST the publish refuses (the parent does not
    * have those commits — re-publish, then transplant). After the
    * transplant the view serves and refreshes against the PARENT: the
    * dev dashboard follows its table into production for free. */
  def transplant(s: SparkSession, mv: String): Long = {
    // a join/extrema/live view has no single transplantable cursor
    // (multiple dim timelines / a recompute-bound contract) — refuse
    // with the SPECIFIC reason
    val d = definition(s, mv) match {
      case d: MvDef => d
      case _ => throw new IllegalArgumentException(
        s"$mv: transplant applies to fold MVs only — join, extrema and " +
          "live views track multiple or recompute-bound cursors; " +
          "recompute them on the parent instead")
    }
    val parent = parentOf(d.base)
    val leaf = d.base.drop(parent.length + "/_branches/".length)
    val ref = TxnTable.branches(s, parent).map(_._1)
      .flatMap(n => TxnTable.branchInfo(s, parent, n))
      .find(_.leaf == leaf)
      .getOrElse(throw new IllegalArgumentException(
        s"$mv: base ${d.base} is not a live branch of $parent " +
          "(dropped branches cannot transplant — their publish point " +
          "is gone)"))
    require(ref.localBase >= 0,
      s"$mv: branch '$leaf' predates rebase support (no recorded " +
        "publish point) — recompute the MV on the parent instead")
    val (mvVer, cur) = cursors(s, mv, d)
    val (onto, cursor) = cur.head
    require(onto == d.base, s"$mv: already transplanted onto $parent")
    require(cursor == ref.localBase,
      s"$mv: cursor $cursor is not the branch's published point " +
        s"${ref.localBase} — refresh the MV to the publish point " +
        "first, or (if the branch moved past the publish) fastForward " +
        "again before transplanting; the parent does not hold " +
        "unpublished branch commits")
    advanceCursor(s, mv, mvVer, cursorMetrics(d, ListMap(parent -> ref.base)))
  }

  /** Content-invariant refresh range: advance the cursor(s) with ONE
    * metadata-only commit — entries carried verbatim from the SAME
    * pinned version, CAS at mvVer so a racing refresh loses loudly. */
  private def advanceCursor(s: SparkSession, mv: String, mvVer: Long,
      metrics: Seq[(String, Long)]): Long = {
    val m = TxnTable.manifest(s, mv, mvVer)
    TxnTable.commit(s, mv, m.entries.map(TxnTable.render), mvVer,
      op = "mv_refresh", schemaJson = m.schema.map(_.json).orNull,
      deleteLines = m.deletes, idxCols = m.idxCols,
      strIdxCols = m.strIdxCols, blooms = m.blooms,
      metrics = metrics, retired = m.retired, checks = m.checks)
  }

  /** Resolve the published-feed refs for base commits `(last, head]` —
    * THE single site encoding which commits count (published feeds,
    * content-invariant ops, change_noop markers): [[refresh]] and the
    * serve decision ([[tailRefs]]) both read this contract here, so they
    * can never diverge on the same log. Left = why the range
    * cannot be folded; Right = every feed ref in the range. NO data or
    * file-existence I/O here — this runs on the OPTIMIZER path, where
    * a vacuumed feed already falls through safely (the served plan's
    * parquet resolution throws inside the rule's NonFatal guard). */
  private[graft] def feedRefsE(s: SparkSession, base: String, last: Long,
      head: Long): Either[String, Seq[String]] = {
    // short-circuit at the FIRST feed-less content change: this runs
    // on the optimizer path, and a cursor 1000 commits behind a
    // feed-less write must cost one manifest read, not 1000
    val acc = Seq.newBuilder[String]
    var bad: Option[String] = None
    val it = (last + 1 to head).iterator
    while (bad.isEmpty && it.hasNext) {
      val v = it.next()
      val m = TxnTable.manifest(s, base, v)
      // through pathFor: an ABSOLUTE feed ref (clone/branch lineage)
      // must resolve verbatim, exactly as the lenient CDC reader and
      // every data-entry read resolve it — "$base/$abs" would 404
      if (m.cdcRefs.nonEmpty)
        acc ++= m.cdcRefs.map(r => TxnTable.pathFor(base, r))
      else if (ContentInvariantOps(m.op) ||
        m.metrics.get("change_noop").contains(1L)) ()
      else bad = Some(s"$base version $v ('${m.op}') changed content " +
        "without publishing a change feed; incremental refresh cannot " +
        "cover it — recompute the MV (drop + create), or write " +
        "through the cdc-publishing paths")
    }
    bad.toLeft(acc.result())
  }

  /** [[feedRefsE]] for the REFRESH paths, where failure must be loud:
    * a feed-less content change refuses, and so does a feed swept by
    * expire_snapshots + vacuum (one existence probe per feed dir —
    * O(commits in range) metadata RPCs, paid on refresh only, never on
    * the query-planning path, where all feeds existing is the common
    * case and a missing one falls through via the rule's guard). */
  private[graft] def feedRefs(s: SparkSession, base: String, last: Long,
      head: Long): Seq[String] =
    feedRefsE(s, base, last, head) match {
      case Right(refs) =>
        refs.find(r => !fs(s, new Path(r)).exists(new Path(r))) match {
          case Some(gone) => throw new IllegalArgumentException(
            s"$base: feed $gone was vacuumed (expire_snapshots " +
              "dropped a version this MV's cursor still needs) — " +
              "recompute the MV (drop + create), and refresh more " +
              "often than the base's retention window")
          case None => refs
        }
      case Left(msg) => throw new IllegalArgumentException(msg)
    }

  /** The shared refresh tail: fold a signed frame (`keys…, value, w`)
    * into the MV pinned at `mvVer`, as ONE CAS-guarded merge commit
    * carrying the cursor metrics.
    *
    * The signed fold gives one delta row per touched group, and the
    * driver-size guard ([[DriverRows.collect]]) collects it once when it
    * holds at most [[DriverRows.Cap]] groups. Then
    * [[TxnTable.mergeLocal]] applies it from local rows whenever the MV
    * files those groups can live in are driver-sized too: the null-key
    * refusal and the touched-file box test are driver computations, one
    * read of the touched files gives the MV's current rows for the
    * merge arithmetic (evaluated as Spark expressions over a local
    * relation — no job, and DECIMAL(18,2) overflow raises exactly as it
    * does in a plan) and the survivors, and the rewrite and the
    * refresh's own feed are written from local rows.
    *
    * Otherwise the merge is planned: the MV rows at the delta's groups
    * are a semi-join of the pinned snapshot against the delta keys and
    * the delta left-outer-joins them, both broadcast only when the guard
    * measured the delta driver-sized (it then stays as its local rows);
    * the change set is localCheckpoint'ed once, because the null-key
    * guard and the merge's key, add and feed sides would each re-run
    * the feed scan → fold → join pipeline. */
  private def foldAndMerge(s: SparkSession, mv: String, mvVer: Long,
      keys: Seq[String], value: String, feed: DataFrame,
      metrics: Seq[(String, Long)]): Long = {
    // the signed fold: per group, dn = Σw, dnn = Σw over non-null
    // values, dtotal = Σ(w·value); a key appearing in several feeds
    // telescopes here, in ONE aggregate
    val delta = feed.select(keys.map(col) ++ signedFold(col("w"),
        col(value)): _*)
      .groupBy(keys.map(col): _*).agg(sum(col("n")).as("dn"),
        sum(col("nn")).as("dnn"), sum(col("total")).cast(D18).as("dtotal"))
      .filter(col("dn") =!= 0 || col("dnn") =!= 0 || col("dtotal") =!= 0)
    // a NULL grouping-key group cannot be addressed by the keyed merge
    // (the anti-join is plain SQL equality — the old null-key row would
    // SURVIVE while its replacement inserts, silently duplicating the
    // group on every refresh). LOUD beats silent corruption; null-keyed
    // groups are a recompute-only shape
    def refuseNullKeys(found: Boolean): Unit =
      if (found) throw new IllegalArgumentException(
        s"$mv: the delta touches a NULL grouping-key group, which the " +
          "keyed refresh merge cannot address — recompute the MV " +
          "(drop + create)")
    // the refresh merge publishes ITS OWN signed feed: a refreshed MV
    // is a feeding base like any other, so views stack into pipelines
    // (mv over mv — per-level refresh stays O(that level's delta)).
    // A legacy view keyed 'w' (reserved only since the feed existed)
    // skips publication gracefully instead of bricking at refresh.
    val cdc = !keys.contains("w")
    val small = DriverRows.collect(delta)
    val local = small.flatMap { rows =>
      refuseNullKeys(rows.exists(r => keys.exists(k =>
        r.isNullAt(r.fieldIndex(k)))))
      val keyTuple = (r: Row) => keys.map(k => r.get(r.fieldIndex(k)))
      // the delta joined to the MV's current fold columns (m_*, NULL for
      // a group the MV lacks), then the merge arithmetic over it
      val mCols = Seq("n", "nn", "total")
      def joined(pre: Seq[Row]): DataFrame = {
        val cur = pre.map(r => keyTuple(r) -> r).toMap
        DriverRows.frame(s, rows.toSeq.map { r =>
          val m = cur.get(keyTuple(r))
          Row.fromSeq(r.toSeq ++ mCols.map(c => m.map(_.getAs[Any](c)).orNull))
        }, StructType(delta.schema.fields ++ Seq(
          StructField("m_n", LongType), StructField("m_nn", LongType),
          StructField("m_total", D18))))
      }
      def changeSet(pre: Seq[Row]) = withOp(joined(pre).select(
        foldInto(keys.map(col), c => col(s"m_$c"), col): _*))
      val addsOf = (pre: Seq[Row]) =>
        changeSet(pre).filter(col("op") =!= "D").drop("op").collect().toSeq
      TxnTable.mergeLocal(s, mv, TxnTable.LocalRows(
          rows.toSeq.map(r => Row.fromSeq(keyTuple(r))),
          changeSet(Nil).drop("op").schema, addsOf),
        keys, metrics, cdc, mvVer)
    }
    local.map(_.version).getOrElse {
      // a measured delta stays its local rows, and may broadcast
      val deltaF = small.fold(delta)(DriverRows.frame(s, _, delta.schema))
      def bc(df: DataFrame) = if (small.isDefined) broadcast(df) else df
      def keyCond(a: String, b: String) =
        keys.map(k => col(s"$a.$k") <=> col(s"$b.$k")).reduce(_ && _)
      val mvTouched = TxnTable.snapshot(s, mv, mvVer).alias("t")
        .join(bc(deltaF.select(keys.map(col): _*).alias("k")),
          keyCond("t", "k"), "left_semi")
      val changeSet = withOp(deltaF.alias("d")
        .join(bc(mvTouched.alias("m")), keyCond("d", "m"), "left_outer")
        .select(foldInto(keys.map(k => col(s"d.$k").as(k)),
          c => col(s"m.$c"), c => col(s"d.$c")): _*))
        .localCheckpoint(true)
      refuseNullKeys(changeSet.filter(keys.map(col(_).isNull).reduce(_ || _))
        .limit(1).count() > 0)
      TxnTable.applyChangesWithMetrics(s, mv, changeSet, keys, metrics,
        cdc = cdc, expectedVer = mvVer, pinned = true).version
    }
  }

  /** The refresh merge's arithmetic — one set of expressions for both
    * paths: the MV's current fold `m(c)` (NULL for a group the MV lacks)
    * plus the delta's `d("dn")`, `d("dnn")`, `d("dtotal")`. */
  private def foldInto(keys: Seq[Column], m: String => Column,
      d: String => Column): Seq[Column] =
    keys ++ Seq(
      (coalesce(m("n"), lit(0L)) + d("dn")).as("n"),
      (coalesce(m("nn"), lit(0L)) + d("dnn")).as("nn"),
      (coalesce(m("total"), lit(0).cast(D18)) + d("dtotal"))
        .cast(D18).as("total"))

  /** A folded change set's op: 'D' for a group whose count reaches 0. */
  private def withOp(df: DataFrame): DataFrame =
    df.withColumn("op", when(col("n") === 0L, lit("D")).otherwise(lit("U")))

  // ---- SERVING: THE ONE FRESHNESS DECISION --------------------------------

  /** The SERVE DECISION, from the log alone: whether the view's
    * algebra proves its answer at the query's `pinned` versions (table
    * → version) given its cursors `cur`, and if so the feed refs of
    * the primary table's tail (cursor, pinned] to fold on top of the
    * MV rows (Nil: the rows answer as they are). None when:
    *  - a cursor is AHEAD of its pinned version (the MV cannot answer a
    *    time-travel read of the past), or the query does not pin the
    *    table at all (a fold view transplanted since it registered —
    *    serving the wrong timeline is the one unforgivable rewrite
    *    bug);
    *  - a fold, live or join-fact tail holds a content change without
    *    a published feed;
    *  - a join-dim tail is not content-invariant (a moved dim
    *    attribute regroups rows no fact feed mentions — the live kind
    *    exists for exactly that), or an extrema tail is not (the
    *    extrema algebra has no signed compensation: a delete can fell
    *    an extreme only the dirty-group recompute re-derives).
    * Manifest reads only, never a data file: this runs on the
    * optimizer path and under the `t.matviews` listing. */
  private def tailRefs(s: SparkSession, d: ViewDef,
      cur: ListMap[String, Long], pinned: Map[String, Long])
      : Option[Seq[String]] = {
    if (!cur.forall { case (t, c) => pinned.get(t).exists(_ >= c) })
      return None
    def refs(t: String) = feedRefsE(s, t, cur(t), pinned(t)).toOption
    def invariant(t: String) = refs(t).contains(Nil)
    d match {
      case x: MvExtremaDef => if (invariant(x.base)) Some(Nil) else None
      case j: MvJoinDef if !j.dims.forall(r => invariant(r.dim)) => None
      case _ => refs(cur.head._1)
    }
  }

  /** The view's rows at the query's `pinned` versions (table → version;
    * every table the view reads), in the view's own vocabulary — the
    * frame the rewrite substitutes for the base aggregate. None
    * whenever [[tailRefs]] cannot prove the answer; the rewrite then
    * falls through to the base scan. A stale fold, join or live view
    * serves its MV rows ⊕ the signed-feed tail — [[refresh]]'s fold as
    * a plan fragment, O(MV) + O(changes since the cursor) at ANY base
    * size; without it, ONE commit after a refresh sends the dashboard
    * back to the full base scan. The MV rows come from the SAME pinned
    * version the cursors were read at; a key filter the caller applies
    * on top reaches the MV's own scan through Catalyst's pushdown,
    * where ManifestPrune skips the MV files its keys cannot live in
    * (the MV commits range-clustered and stat-indexed on its keys).
    * Columns: (keys, n, nn, total) for
    * fold, join and live views, (keys, n, nn, vmin, vmax) for extrema;
    * a group whose compensated count reaches 0 leaves, mirroring
    * refresh's op-'D' rule. */
  private[graft] def rowsAt(s: SparkSession, mv: String, d: ViewDef,
      pinned: Map[String, Long]): Option[DataFrame] = {
    val (mvVer, cur) = cursors(s, mv, d)
    tailRefs(s, d, cur, pinned).map { refs =>
      // the tail's feeds are the primary cursor's table's, which a
      // transplanted fold view names instead of its stored base
      def feedTail(pred: Option[String]) =
        predFeed(s, cur.head._1, pinned(cur.head._1), refs, pred)
      def rows(keys: Seq[String], cols: Seq[String]) =
        TxnTable.snapshot(s, mv, mvVer).select((keys ++ cols).map(col): _*)
      // MV rows ⊕ the signed tail rows, one union + one aggregate
      def withTail(keys: Seq[String], mvRows: DataFrame,
          tail: => DataFrame) =
        if (refs.isEmpty) mvRows
        else telescope(keys, mvRows.unionByName(tail))
      val fold = Seq("n", "nn", "total")
      d match {
        case x: MvExtremaDef =>
          rows(x.keys, Seq("n", "nn", "vmin", "vmax"))
        case f: MvDef => withTail(f.keys, rows(f.keys, fold),
          feedTail(f.pred).select(f.keys.map(col) ++
            signedFold(col("w"), col(f.value)): _*))
        // each signed fact row re-joins the dims at the pinned versions
        // to find its group
        case j: MvJoinDef => withTail(j.keys, rows(j.keys, fold),
          enrichWithDims(s, j, feedTail(j.pred),
            j.dims.map(r => pinned(r.dim)),
            signedFold(col("f.w"), col(s"f.${j.value}"))))
        // the fact-key grain compensates like a fold view, then joins
        // the dims back at the QUERY's pinned versions — any dim state
        // (current, moved, time-travelled) serves — and re-groups to
        // the declared keys
        case LiveDef(j, grain) =>
          val sub = withTail(grain, rows(grain, fold),
            feedTail(j.pred).filter(joinKeysPresent(j))
              .select(grain.map(col) ++
                signedFold(col("w"), col(j.value)): _*))
          telescope(j.keys, enrichWithDims(s, j, sub,
            j.dims.map(r => pinned(r.dim)),
            fold.map(c => col(s"f.$c").as(c))))
      }
    }
  }

  /** A signed feed row as fold columns: n = w, nn = w·nonnull,
    * total = w·value — the algebra refresh and serving share. */
  private def signedFold(w: Column, value: Column): Seq[Column] =
    Seq(w.cast("long").as("n"),
      (w.cast("long") * when(value.isNull, 0L).otherwise(1L)).as("nn"),
      (w * coalesce(value.cast(D18), lit(0).cast(D18))).cast(D18)
        .as("total"))

  /** Fold rows summed per `keys` group, emptied groups dropped. */
  private def telescope(keys: Seq[String], rows: DataFrame): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("nn")).as("nn"),
        sum(col("total")).cast(D18).as("total"))
      .filter(col("n") =!= 0L)

  /** A live star view's row-local membership: fact rows with a NULL
    * join key never meet a dim row in the served inner join, so create,
    * refresh and serving all exclude them. */
  private def joinKeysPresent(j: MvJoinDef): Column =
    j.dims.map(r => col(r.factKey).isNotNull).reduce(_ && _)

  // ---- JOIN MATERIALIZED VIEWS ---------------------------------------------

  /** One dimension of a star-join MV: the dim table's location and the
    * fact→dim equality it joins on. */
  case class MvDimRef(dim: String, factKey: String, dimKey: String)

  /** A materialized aggregate OVER A JOIN — the q03/q06 dashboard shape:
    * fact ⋈ dim_0 ⋈ … ⋈ dim_{n-1}, each dim on its own equality, GROUP
    * BY dim (or fact) attributes, aggregate a fact measure. Each key
    * column must live on exactly one side so ownership is unambiguous —
    * validated at create, re-resolved via [[resolveOwners]] where the
    * enrichment join needs the owning alias. FACT-side changes fold
    * from the fact's published signed feeds (each feed row joins the
    * dims to find its group); DIM-side changes fold from the dims'
    * feeds at refresh ([[refreshJoin]]), but disqualify serving until
    * then (a changed dim attribute moves whole groups in ways no fact
    * feed mentions). Dim maintenance commits (compact/zorder/…) are
    * content-invariant and advance the dim cursor for free. Fact rows
    * whose key has no dim match fold to nothing — exactly the inner
    * join's semantics.
    *
    * `pred`: a PARTIAL star view's stored membership rule — a
    * deterministic, subquery-free predicate over FACT columns only
    * (fact-side membership is row-local on the fact log, so it folds
    * exactly like the single-table partial view: filter the create
    * scan and every fact feed, and filter the re-grouped fact slice in
    * each dim-delta term; a DIM-side predicate would change fact-row
    * membership when the dim moves — no fact feed mentions that — so
    * create refuses it). */
  case class MvJoinDef(fact: String, dims: Seq[MvDimRef],
      keys: Seq[String], value: String, aggs: Set[String],
      pred: Option[String] = None) extends ViewDef {
    def kind: String = "join"
    def tables: Seq[String] = fact +: dims.map(_.dim)
  }

  /** The multi-dim star definition LINE PROTOCOL — ONE render/parse
    * pair shared by `_mvj` (no trailing lines) and `_mvl` (one
    * trailing grain line), so a future format change can never
    * silently diverge the two kinds: fact, #dims,
    * (dim TAB factKey TAB dimKey)*, keys, value, aggs, trailing*. */
  private def starLines(d: MvJoinDef, trailing: Seq[String])
      : Seq[String] =
    Seq(d.fact, d.dims.size.toString) ++
      d.dims.map(r => s"${r.dim}\t${r.factKey}\t${r.dimKey}") ++
      Seq(d.keys.mkString(","), d.value,
        d.aggs.toSeq.sorted.mkString(",")) ++ trailing

  private def parseStarDef(mv: String, kindFile: String,
      lines: Seq[String], minTrailing: Int, maxTrailing: Int)
      : (MvJoinDef, Seq[String]) =
    lines match {
      case fact +: nStr +: rest if nStr.toIntOption.isDefined =>
        val n = nStr.toInt
        require(rest.size >= n + 3 + minTrailing &&
          rest.size <= n + 3 + maxTrailing,
          s"$mv: malformed $kindFile definition " +
            s"(${lines.size} lines for $n dims)")
        val dims = rest.take(n).map { l =>
          val ps = l.split('\t')
          require(ps.length == 3,
            s"$mv: malformed $kindFile dim line '$l'")
          MvDimRef(ps(0), ps(1), ps(2))
        }
        val Seq(keys, value, aggs) = rest.slice(n, n + 3)
        require(aggs.nonEmpty, s"$mv: malformed $kindFile definition " +
          "(empty declared-aggregate line)")
        val trailing = rest.drop(n + 3)
        // a BLANK trailing line is corruption (a stray newline from a
        // partial write or hand edit), not an empty predicate/grain —
        // parsing it as one would silently disable the rewrite and
        // crash refresh with an unrelated parse error later
        trailing.foreach(t => require(t.trim.nonEmpty,
          s"$mv: malformed $kindFile definition (blank trailing line)"))
        (MvJoinDef(fact, dims, keys.split(',').toSeq, value,
          aggs.split(',').toSet), trailing)
      case other => throw new IllegalArgumentException(
        s"$mv: malformed $kindFile definition (${other.size} lines)")
    }

  // a PARTIAL star stores its predicate as the one trailing line —
  // full views keep the trailing-free format unchanged on disk
  private def parseJoin(mv: String, lines: Seq[String]): MvJoinDef =
    lines match {
      // the legacy 7-line single-dim format (line 2 a path, not an
      // integer) still parses
      case Seq(fact, dim, fk, dk, keys, value, aggs)
          if dim.toIntOption.isEmpty =>
        require(aggs.nonEmpty, s"$mv: malformed _mvj definition " +
          "(empty declared-aggregate line)")
        MvJoinDef(fact, Seq(MvDimRef(dim, fk, dk)),
          keys.split(',').toSeq, value, aggs.split(',').toSet)
      case _ =>
        val (d, trailing) = parseStarDef(mv, "_mvj", lines, 0, 1)
        d.copy(pred = trailing.headOption)
    }

  /** key column → owning side, validated unique across the FACT and
    * every dim: −1 = the fact owns it (the q03 "GROUP BY a fact
    * attribute over fact ⋈ dim" shape — r19), 0.. = that dim. A key
    * living on several sides is ambiguous and refuses. */
  private def keyOwnership(s: SparkSession, d: MvJoinDef)
      : Map[String, Int] = {
    val factCols = TxnTable.snapshot(s, d.fact).columns.toSet
    val dimCols: Seq[Set[String]] = d.dims.map(r =>
      TxnTable.snapshot(s, r.dim).columns.toSet)
    d.keys.map { k =>
      val owners = (if (factCols.contains(k)) Seq(-1) else Nil) ++
        dimCols.zipWithIndex.collect {
          case (cs, i) if cs.contains(k) => i }
      require(owners.size == 1, s"join-MV key '$k' must live in exactly " +
        s"one of the fact and the dims (found in ${owners.size})")
      k -> owners.head
    }.toMap
  }

  /** Single-dim [[createJoinStar]] — the common star has one dim. */
  def createJoin(s: SparkSession, mv: String, fact: String, dim: String,
      factKey: String, dimKey: String, keys: Seq[String], value: String,
      aggs: Seq[String] = Seq("count", "sum", "avg")): Long =
    createJoinStar(s, mv, fact, Seq(MvDimRef(dim, factKey, dimKey)),
      keys, value, aggs)

  /** Create the star MV: ONE full compute of fact ⋈ dims at every
    * table's current version — the last time any is scanned whole. The
    * fact cursor and one cursor PER DIM ride the create commit's
    * metrics, so refresh/serve freshness is decided by the logs alone.
    * `pred` makes the star PARTIAL: only fact rows satisfying it
    * (row-local SQL over FACT columns — `price > 100`) fold. It is
    * validated against the FACT snapshot alone: a dim-column reference
    * refuses — dim-dependent membership moves when the dim moves, and
    * no fact feed mentions that. */
  def createJoinStar(s: SparkSession, mv: String, fact: String,
      dims: Seq[MvDimRef], keys: Seq[String], value: String,
      aggs: Seq[String] = Seq("count", "sum", "avg"),
      pred: Option[String] = None): Long = {
    validateShape(keys, aggs)
    require(dims.nonEmpty, "a join MV needs at least one dim")
    require(dims.map(_.dim).distinct.size == dims.size,
      "join-MV dims repeat a table")
    // a self-star (fact as its own dim) would refuse refresh FOREVER:
    // any fact commit moves the "dim" head with a non-invariant op —
    // an MV no change can ever refresh is a bug at the call site
    require(!dims.exists(_.dim == fact),
      "join-MV dims must not include the fact table itself — every " +
        "fact commit would trip the dim-content refusal and the view " +
        "could never refresh")
    val fv = TxnTable.currentVersion(s, fact)
    val dvs = dims.map(r => TxnTable.currentVersion(s, r.dim))
    val fsnap0 = TxnTable.snapshot(s, fact, fv)
    validateValueType(value, fsnap0.schema(value).dataType)
    pred.foreach(validatePartialPred(fsnap0, _, "the fact"))
    val fsnap = pred.fold(fsnap0)(fsnap0.filter)
    val d0 = MvJoinDef(fact, dims, keys, value,
      aggs.map(_.toLowerCase).toSet, pred)
    val owner = keyOwnership(s, d0) // validates keys live in the dims
    // aliased N-sided select: grouping columns may share names with
    // fact columns without ambiguity
    val joined = dims.zipWithIndex.foldLeft(fsnap.alias("f")) {
      case (acc, (r, i)) =>
        acc.join(TxnTable.snapshot(s, r.dim, dvs(i)).alias(s"d$i"),
          col(s"f.${r.factKey}") === col(s"d$i.${r.dimKey}"))
    }.select(keys.map(k => keyCol(owner, k).as(k)) :+
      col(s"f.$value").as(value): _*)
    val v = commitMvRows(s, mv, joined, keys, value,
      cursorMetrics(d0, ListMap(fact -> fv) ++ dims.map(_.dim).zip(dvs)))
    writeDefFile(s, mv, "_mvj", starLines(d0, pred.toSeq))
    v
  }

  /** Key-column → owning-side-index (−1 = fact) against the FRAMES
    * BEING JOINED — the refresh-time twin of the create-time
    * [[keyOwnership]], shared by [[enrichWithDims]] and
    * [[dimDeltaTerm]] so the drift contract (message, uniqueness rule)
    * can never diverge between them. `colsOf(-1)` answers the
    * fact-side frame's columns. */
  private def resolveOwners(d: MvJoinDef, colsOf: Int => Seq[String])
      : Map[String, Int] =
    d.keys.map { k =>
      val dimOwners = d.dims.indices.filter(i => colsOf(i).contains(k))
      val inFact = colsOf(-1).contains(k)
      // fact + exactly one dim: the DIM owns it — that is the only
      // binding a CREATE ever accepted (pre-r19 creates validated keys
      // against dims alone, and the r19 create refuses this shape as
      // ambiguous), so a legacy view whose fact happens to share a dim
      // key's name keeps refreshing instead of being bricked by an
      // upgrade
      val owner = (inFact, dimOwners) match {
        case (_, Seq(i)) => i
        case (true, Seq()) => -1
        case _ => throw new IllegalArgumentException(
          s"join-MV key '$k' no longer lives in exactly one of the " +
            s"fact and the dims (${dimOwners.size} dims" +
            s"${if (inFact) " + the fact" else ""} — the schemas " +
            "drifted since create); recompute the MV (drop + create)")
      }
      k -> owner
    }.toMap

  /** The owning alias' key column: `f` for a fact-owned key, `d<i>`
    * for a dim-owned one. */
  private def keyCol(owner: Map[String, Int], k: String): Column =
    if (owner(k) < 0) col(s"f.$k") else col(s"d${owner(k)}.$k")

  /** Chain-join a fact-rowed frame (alias "f") to every dim at the
    * given versions and project the grouping keys (from their owning
    * aliases) plus `extra` fact-side columns. The inner joins drop
    * unmatched fact keys — exactly the base join's semantics — and the
    * result is feed-sized ⋈ dims, never O(fact). Key ownership resolves
    * against the SAME pinned snapshots being joined (one construction
    * each), so a dim schema drift since create refuses with its own
    * message instead of a misleading create-time one. */
  private def enrichWithDims(s: SparkSession, d: MvJoinDef,
      feed: DataFrame, dimVers: Seq[Long],
      extra: Seq[Column]): DataFrame = {
    val dimSnaps = d.dims.indices.map(i =>
      TxnTable.snapshot(s, d.dims(i).dim, dimVers(i)))
    val owner = resolveOwners(d, i =>
      if (i < 0) feed.columns.toSeq else dimSnaps(i).columns.toSeq)
    d.dims.indices.foldLeft(feed.alias("f")) { (acc, i) =>
      acc.join(dimSnaps(i).alias(s"d$i"),
        col(s"f.${d.dims(i).factKey}") === col(s"d$i.${d.dims(i).dimKey}"))
    }.select(d.keys.map(k => keyCol(owner, k).as(k)) ++ extra: _*)
  }

  /** [[refresh]]'s fold for a star MV: fold the FACT's signed-feed tail
    * — each feed row joined to the dim snapshots to recover its group —
    * into the MV, and fold each DIM's signed-feed tail (the SCD type-1
    * shape: a dim attribute update moves whole groups) by re-grouping
    * the key-pruned fact slice the changed dim rows touch. A dim
    * content change WITHOUT a published feed still refuses with the
    * recompute remedy — the fold needs the −pre/+post rows.
    *
    * The exact telescoping, for fact F and dims D₁…Dₙ between cursors
    * c and heads h (ΔX = X@h − X@c as signed rows):
    *
    *   Δ(F⋈D₁⋈…⋈Dₙ) = ΔF ⋈ D₁@h ⋈ … ⋈ Dₙ@h
    *                + Σᵢ F@c ⋈ D₁@c ⋈ … ⋈ Dᵢ₋₁@c ⋈ ΔDᵢ ⋈ Dᵢ₊₁@h ⋈ … ⋈ Dₙ@h
    *
    * — each dim's delta term joins earlier dims at their CURSOR and
    * later dims at HEAD, so simultaneous multi-table movement folds
    * without double counting. The fact slice in every dim term is
    * pinned at the FACT CURSOR (ΔF is already accounted by the first
    * term) and pruned to the changed dim keys via manifest key stats
    * ([[prunedSlice]]: one stat-pruned IN-read when few keys; a
    * broadcast left-semi join otherwise) — the `mv_scd_files_kept/
    * total` metrics on the refresh commit carry the prune evidence.
    * Cost is O(fact changes ⋈ dims) + O(dim changes ⋈ touched fact
    * files) + O(MV) — never O(fact). */
  private def refreshJoin(s: SparkSession, mv: String, d: MvJoinDef,
      mvVer: Long, cur: ListMap[String, Long], heads: ListMap[String, Long],
      refs: ListMap[String, Seq[String]], metrics: Seq[(String, Long)])
      : Long = {
    val dimCurs = d.dims.map(r => cur(r.dim))
    val dimHeads = d.dims.map(r => heads(r.dim))
    // a PARTIAL star folds only the fact feed rows satisfying its
    // stored predicate (the fold view's rule, verbatim)
    val factTerm =
      if (refs(d.fact).isEmpty) None
      else Some(enrichWithDims(s, d,
        predFeed(s, d.fact, heads(d.fact), refs(d.fact), d.pred),
        dimHeads, Seq(col(s"f.${d.value}").as(d.value), col("f.w"))))
    // prune accounting across the dim terms: kept = fact-file READS
    // the point probes performed (a file shared by two probes counts
    // twice — the true read cost), total = the fact-file count a naive
    // full-slice scan would read once per changed dim (the cost the
    // probes avoid). kept < total is the "cheaper than a full scan"
    // evidence; −1/−1 reports the broadcast-semi-join fallback.
    var keptSum = 0L; var totalSum = 0L; var unpruned = false
    val dimTerms = d.dims.indices.flatMap { i =>
      val dimRefs = refs(d.dims(i).dim)
      if (dimRefs.isEmpty) None
      else {
        val (term, kept, total) = dimDeltaTerm(s, d, i, dimRefs,
          cur(d.fact), dimCurs, dimHeads)
        if (kept < 0) unpruned = true
        else { keptSum += kept; totalSum += total }
        Some(term)
      }
    }
    val scdMetrics =
      if (dimTerms.isEmpty) Nil
      else if (unpruned) Seq("mv_scd_files_kept" -> -1L,
        "mv_scd_files_total" -> -1L)
      else Seq("mv_scd_files_kept" -> keptSum,
        "mv_scd_files_total" -> totalSum)
    foldAndMerge(s, mv, mvVer, d.keys, d.value,
      (factTerm.toSeq ++ dimTerms).reduce(_ unionByName _),
      metrics ++ scdMetrics)
  }

  /** One dim's delta term of the star telescoping: the fact slice at
    * the FACT CURSOR whose `factKey` matches a changed dim key, joined
    * to the dim's signed feed (±w — the feed row carries dim i's key
    * attributes: old values on −rows, new on +rows) and to every other
    * dim at its telescoping version (before i: cursor; after i: head).
    * Returns (term, keptFiles, totalFiles); kept = −1 marks the
    * unpruned broadcast-semi-join fallback (many changed keys, or a
    * key type without sound manifest stats). */
  private def dimDeltaTerm(s: SparkSession, d: MvJoinDef, i: Int,
      refs: Seq[String], factVer: Long, dimCurs: Seq[Long],
      dimHeads: Seq[Long]): (DataFrame, Long, Long) = {
    val r = d.dims(i)
    val dimFeed = feedRead(s, r.dim, dimHeads(i), refs)
    val (factSlice0, kept, total) = prunedSlice(s, d.fact, factVer,
      Seq(r.factKey), dimFeed.select(col(r.dimKey)).distinct())
    // a PARTIAL star's dim-delta term re-groups only the SLICE's fact
    // rows: the predicate is row-local on the fact, so it filters the
    // key-pruned slice exactly like the create scan
    val factSlice = d.pred.fold(factSlice0)(factSlice0.filter)
    val otherSnaps: Map[Int, DataFrame] =
      d.dims.indices.filterNot(_ == i).map { j =>
        j -> TxnTable.snapshot(s, d.dims(j).dim,
          if (j < i) dimCurs(j) else dimHeads(j))
      }.toMap
    // ownership against the FRAMES BEING JOINED (the feed carries dim
    // i's full schema; the fact slice the fact's) — a drifted schema
    // refuses here, like enrichWithDims
    val owner = resolveOwners(d, j =>
      (if (j == i) dimFeed.columns
       else if (j < 0) factSlice.columns
       else otherSnaps(j).columns).toSeq)
    val joined = d.dims.indices.foldLeft(factSlice.alias("f")) {
      (acc, j) =>
        if (j == i) acc.join(dimFeed.alias("fd"),
          col(s"f.${r.factKey}") === col(s"fd.${r.dimKey}"))
        else acc.join(otherSnaps(j).alias(s"d$j"),
          col(s"f.${d.dims(j).factKey}") ===
            col(s"d$j.${d.dims(j).dimKey}"))
    }
    (joined.select(d.keys.map(k =>
      (if (owner(k) == i) col(s"fd.$k") else keyCol(owner, k))
        .as(k)) ++
      Seq(col(s"f.${d.value}").as(d.value), col("fd.w").as("w")): _*),
      kept, total)
  }

  /** The rows of `table` at `ver` whose `cols` match a row of `keys` —
    * a small frame of changed keys (a dim feed's join keys, an extrema
    * view's dirty groups) — manifest-pruned when the shape allows: one
    * long or string column and ≤16 keys read through ONE
    * [[TxnTable.snapshotWhere]] over `c IN (keys)` (row-exact: the
    * residual filter applies inside the surviving files); otherwise one
    * broadcast left-semi join over the pinned snapshot — map-only, but
    * every file opens (kept = −1 reports the fallback honestly). The
    * IN-read runs only when it can BITE: the key frame's own type must
    * match the column's, and the manifest must carry stats on the
    * column — on a stat-less table the fallback's map-only pass is the
    * same read. Returns (slice, files kept, files total). */
  private def prunedSlice(s: SparkSession, table: String, ver: Long,
      cols: Seq[String], keys: DataFrame): (DataFrame, Long, Long) = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val snap = TxnTable.snapshot(s, table, ver)
    val c = cols.head
    val kt = snap.schema(c).dataType
    lazy val m = TxnTable.manifest(s, table, ver)
    val probeable = cols.size == 1 && keys.schema.head.dataType == kt &&
      (kt match {
        case LongType => m.idxCols.contains(c)
        case StringType => m.strIdxCols.contains(c)
        case _ => false
      })
    val few =
      if (probeable) keys.limit(17).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (!probeable || few.length > 16)
      (snap.join(broadcast(keys.toDF(cols: _*)), cols, "left_semi"),
        -1L, -1L)
    else {
      val vs = few.filterNot(_.isNullAt(0)).map(_.get(0))
      // no key at all (an empty cdc feed): no file is read
      if (vs.isEmpty) (snap.filter(lit(false)), 0L, 0L)
      else {
        val (slice, kept, total) = TxnTable.snapshotWhere(s, table,
          col(c).isin(vs.toIndexedSeq: _*), ver)
        (slice, kept.toLong, total.toLong)
      }
    }
  }

  // ---- LIVE (KEY-GRAINED) STAR MATERIALIZED VIEWS --------------------------

  /** The LIVE star view: the fold materialized at the FACT-KEY GRAIN —
    * grouped by the dims' join keys (plus any fact-owned group keys)
    * instead of the dim attributes — with the dims joined back AT
    * QUERY TIME. The payoff is the property a join view's serve can
    * never have: dim movement NEVER stales the view. An SCD type-1
    * attribute update regroups the serve-time join-back (the dims are
    * read at the query's own pinned versions), so the dashboard stays
    * MV-priced between refreshes — no dim cursor exists at all, and
    * refresh folds ONLY the fact's signed feeds, without reading a
    * single dim. Serve cost is O(sub-view ⋈ dims): the sub-view holds
    * one row per live fact-key combination — bounded by the dims'
    * key-product and typically orders of magnitude under the fact —
    * and the dims are the small side of every star by definition, so
    * the planner broadcasts them. This is the classic pre-aggregation-
    * with-join-back design from the view-matching literature, chosen
    * over serve-time dim-delta telescoping because the group-grain MV
    * fundamentally lacks per-dim-key subtotals — no plan fragment over
    * it can reattribute a moved dim key without re-reading fact rows,
    * while the key-grain fold answers with ZERO fact data files in the
    * served plan. `star` is the declared view (keys are the dim
    * attributes the queries group by); `grain` the persisted fact-side
    * grouping the view is stored at, so refresh never re-resolves
    * ownership (it reads no dim). */
  case class LiveDef(star: MvJoinDef, grain: Seq[String]) extends ViewDef {
    def kind: String = "live"
    def tables: Seq[String] = star.tables
  }

  /** The `_mvl` format is [[starLines]]' shared protocol plus ONE
    * mandatory trailing line — the grain — and, for a PARTIAL live
    * view, the stored fact-side predicate as a second. */
  private def parseLive(mv: String, lines: Seq[String]): LiveDef = {
    val (d, trailing) = parseStarDef(mv, "_mvl", lines, 1, 2)
    LiveDef(d.copy(pred = trailing.drop(1).headOption),
      trailing.head.split(',').toSeq)
  }

  /** Create the live star view: ONE scan of the FACT alone (the dims
    * are read only to validate key ownership — never materialized),
    * grouped by the grain = every dim's fact-side join key plus the
    * fact-owned group keys. Fact rows carrying a NULL join key are
    * excluded at the fold: the inner join the view serves drops them
    * identically, at create, at every refresh, and at serve — the
    * three sites can never disagree because membership is the same
    * row-local non-null test ([[joinKeysPresent]]). `pred` makes the
    * view PARTIAL: only fact rows satisfying it (row-local SQL over FACT
    * columns) fold into the grain — the partial-star rule verbatim. */
  def createStarLive(s: SparkSession, mv: String, fact: String,
      dims: Seq[MvDimRef], keys: Seq[String], value: String,
      aggs: Seq[String] = Seq("count", "sum", "avg"),
      pred: Option[String] = None): Long = {
    validateShape(keys, aggs)
    require(dims.nonEmpty, "a live star MV needs at least one dim")
    require(dims.map(_.dim).distinct.size == dims.size,
      "live-star-MV dims repeat a table")
    require(!dims.exists(_.dim == fact),
      "live-star-MV dims must not include the fact table itself")
    val fv = TxnTable.currentVersion(s, fact)
    val fsnap0 = TxnTable.snapshot(s, fact, fv)
    validateValueType(value, fsnap0.schema(value).dataType)
    pred.foreach(validatePartialPred(fsnap0, _, "the fact"))
    val fsnap = pred.fold(fsnap0)(fsnap0.filter)
    val d0 = MvJoinDef(fact, dims, keys, value,
      aggs.map(_.toLowerCase).toSet, pred)
    val owner = keyOwnership(s, d0) // each key owned by exactly one side
    val grain = (dims.map(_.factKey) ++
      keys.filter(k => owner(k) < 0)).distinct
    grain.foreach { g =>
      require(fsnap.columns.contains(g),
        s"live-star-MV grain column '$g' is not a fact column")
      require(!Seq("n", "nn", "total", "op", "w").contains(g),
        s"live-star-MV grain column '$g' collides with the fold's own " +
          "columns")
      // grain columns are the keyed-merge dimensions AND the manifest
      // prune handles — only integral and string columns have sound
      // stats; anything else would refresh unpruned forever
      fsnap.schema(g).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => ()
        case other => throw new IllegalArgumentException(
          s"live-star-MV grain column '$g' is $other — join keys and " +
            "fact-owned group keys must be integral or string so the " +
            "keyed refresh merge can file-prune")
      }
    }
    val src = fsnap.filter(joinKeysPresent(d0))
    val v = commitMvRows(s, mv, src, grain, value,
      Seq("mv_base_version" -> fv))
    writeDefFile(s, mv, "_mvl",
      starLines(d0, grain.mkString(",") +: pred.toSeq))
    v
  }

  // ---- MIN/MAX (EXTREMA) MATERIALIZED VIEWS --------------------------------

  /** A grouped MIN/MAX view — the aggregate [[create]] REFUSES in the
    * telescoping fold, maintained here under the honest asymmetric
    * contract: INSERTS merge monotonically (`least`/`greatest` against
    * the feed's +w extremes — no base read ever), while a DELETE whose
    * value reaches the group's candidate extreme marks the group DIRTY
    * and refresh recomputes ONLY dirty groups, with manifest stats
    * bounding the files re-read (per-group point probes on the base's
    * key stats). Deleting an interior value updates counts without
    * dirtying — the common retention case costs nothing extra. This is
    * the published partial-recompute design (Napa/Calcite call these
    * non-distributive aggregates): O(feed) when clean, O(dirty groups'
    * files) when an extreme falls, never O(base). */
  case class MvExtremaDef(base: String, keys: Seq[String], value: String,
      pred: Option[String] = None) extends ViewDef {
    def kind: String = "extrema"
    def tables: Seq[String] = Seq(base)
  }

  // a PARTIAL extrema view appends its predicate as the 4th line — the
  // `_mv` definition's convention; full views stay 3-line on disk
  private def parseExtrema(mv: String, lines: Seq[String]): MvExtremaDef =
    lines match {
      case Seq(base, keys, value) =>
        MvExtremaDef(base, keys.split(',').toSeq, value)
      case Seq(base, keys, value, pred) =>
        require(pred.nonEmpty, s"$mv: malformed _mvx definition " +
          "(empty predicate line)")
        MvExtremaDef(base, keys.split(',').toSeq, value, Some(pred))
      case other => throw new IllegalArgumentException(
        s"$mv: malformed _mvx definition (${other.size} lines)")
    }

  /** Create the extrema MV: rows are (keys…, n, nn, vmin, vmax), the
    * extremes carried in the value's OWN type — MIN/MAX do no
    * arithmetic, so the fold's lossless-decimal gate does not apply.
    * `pred` makes the view PARTIAL — only base rows satisfying the
    * stored row-local predicate contribute (the `WHERE price > 1000`
    * worst-latency pane). The same exactness argument as the fold's
    * partial view (membership is row-local, an update is a −old/+new
    * pair evaluated independently) extends to the dirty path: the
    * dirty test sees only IN-SLICE feed rows, and the dirty-group
    * recompute re-derives extremes from the base's PREDICATE SLICE —
    * the pruned point probes stay sound because a probe is a
    * key-superset read with the predicate applied before the
    * re-aggregation. */
  def createExtrema(s: SparkSession, mv: String, base: String,
      keys: Seq[String], value: String,
      pred: Option[String] = None): Long = {
    require(keys.nonEmpty, "MV needs at least one grouping key")
    keys.foreach { key =>
      require(!Seq("n", "nn", "vmin", "vmax", "op", "w").contains(key),
        s"extrema-MV key column '$key' collides with the MV's own " +
          "columns")
      require(!key.contains(","),
        s"MV key column '$key' contains a comma (the _mvx definition's " +
          "key separator)")
    }
    require(keys.distinct.size == keys.size,
      s"MV keys repeat a column: ${keys.mkString(", ")}")
    val bv = TxnTable.currentVersion(s, base)
    val snap0 = TxnTable.snapshot(s, base, bv)
    pred.foreach(validatePartialPred(snap0, _, "the base"))
    val snap = pred.fold(snap0)(snap0.filter)
    val rows = snap.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"), count(col(value)).as("nn"),
      org.apache.spark.sql.functions.min(col(value)).as("vmin"),
      org.apache.spark.sql.functions.max(col(value)).as("vmax"))
    val (intKeys, strKeys) = indexableKeys(snap.schema, keys)
    val clustered = rows.repartitionByRange(8, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    val staged = TxnTable.stageIndexed(s, mv, clustered, intKeys, strKeys)
    val v = TxnTable.commit(s, mv, staged, expected = -1L,
      op = "mv_create", schemaJson = rows.schema.json,
      idxCols = intKeys, strIdxCols = strKeys,
      metrics = Seq("mv_base_version" -> bv))
    writeDefFile(s, mv, "_mvx",
      Seq(base, keys.mkString(","), value) ++ pred)
    v
  }

  /** Refresh the extrema MV from the base's signed feeds. Per touched
    * group: counts fold exactly (n += Σw, nn += Σ(w·nonnull)); the
    * candidate extremes merge monotonically from the feed's INSERTED
    * values; the group is DIRTY iff some DELETED value reaches a
    * candidate extreme (d ≥ candMax or d ≤ candMin — conservative
    * under duplicates: a recompute that lands on the same extreme is
    * wasted work, never a wrong answer; a deleted NULL never dirties).
    * Dirty groups recompute (n, nn, vmin, vmax) from the base AT HEAD
    * through [[prunedSlice]] — one stat-pruned IN-read for a single
    * stat-bearing key with few dirty groups
    * (`mv_dirty_files_kept/total` metrics carry the prune evidence),
    * otherwise one filtered scan (kept = −1). The merge
    * is the same CAS-pinned keyed commit as [[refresh]]'s, and it
    * PUBLISHES ITS OWN SIGNED FEED (−old/+new extrema rows — the merge
    * preimage IS the old side, and the dirty-group recompute knows the
    * new): an extrema view is a feeding base like any other, so fold
    * views stack ON it (sum/count of per-group extremes — the
    * "sum of worst-latency per service" pane) at O(changed groups)
    * per level, never O(view). */
  private def refreshExtrema(s: SparkSession, mv: String,
      d: MvExtremaDef, mvVer: Long, head: Long, refs: Seq[String],
      metrics: Seq[(String, Long)]): Long = {
    // a PARTIAL view folds only its slice's membership changes: the
    // signed feed filtered by the stored row-local predicate is exact
    // (−old/+new pairs evaluate independently — a value crossing the
    // boundary folds as the membership change it is), and the dirty
    // test below then sees only in-slice deletes/inserts
    val feed = predFeed(s, d.base, head, refs, d.pred)
    val w = col("w").cast("long")
    val v = col(d.value)
    val delta = feed.groupBy(d.keys.map(col): _*).agg(
      sum(w).as("dn"),
      sum(w * when(v.isNull, 0L).otherwise(1L)).as("dnn"),
      org.apache.spark.sql.functions.min(when(w > 0, v)).as("pmin"),
      org.apache.spark.sql.functions.max(when(w > 0, v)).as("pmax"),
      org.apache.spark.sql.functions.min(when(w < 0, v)).as("dmin"),
      org.apache.spark.sql.functions.max(when(w < 0, v)).as("dmax"))
    val mvCur = TxnTable.snapshot(s, mv, mvVer)
    val merged = delta.alias("d")
      .join(mvCur.alias("m"),
        d.keys.map(k => col(s"d.$k") <=> col(s"m.$k")).reduce(_ && _),
        "left_outer")
      .select(d.keys.map(k => col(s"d.$k").as(k)) ++ Seq(
        (coalesce(col("m.n"), lit(0L)) + col("dn")).as("n"),
        (coalesce(col("m.nn"), lit(0L)) + col("dnn")).as("nn"),
        least(col("m.vmin"), col("pmin")).as("vmin"),
        greatest(col("m.vmax"), col("pmax")).as("vmax"),
        // least/greatest SKIP nulls, so the candidates are the merged
        // extremes of (current MV row, inserted values) — exactly the
        // set a deleted value must be tested against: a delete reaching
        // either candidate may expose a different survivor
        ((col("dmax").isNotNull && col("dmax") >= greatest(col("m.vmax"),
          col("pmax"))) ||
         (col("dmin").isNotNull && col("dmin") <= least(col("m.vmin"),
           col("pmin")))).as("dirty")): _*)
    // the delta-sized split is materialized ONCE: the NULL-key check,
    // the clean rows, the dirty key list (driver-sized by construction
    // — it is a set of GROUP keys, the MV's own cardinality bound) and
    // the merge all read the checkpoint, never the raw delta job again
    val pinned = merged.localCheckpoint(true)
    if (pinned.filter(d.keys.map(col(_).isNull).reduce(_ || _))
        .limit(1).count() > 0)
      throw new IllegalArgumentException(
        s"$mv: the delta touches a NULL grouping-key group, which the " +
          "keyed refresh merge cannot address — recompute the MV " +
          "(drop + create)")
    val clean = pinned.filter(!col("dirty"))
      .select(d.keys.map(col) ++ Seq(col("n"), col("nn"), col("vmin"),
        col("vmax"),
        when(col("n") === 0L, lit("D")).otherwise(lit("U")).as("op")): _*)
    val dirtyKeys = pinned.filter(col("dirty")).select(d.keys.map(col): _*)
    val nDirty = dirtyKeys.count()
    val (changeSet, keptFiles, totalFiles) =
      if (nDirty == 0) (clean, 0L, 0L)
      else {
        // per-group stat-pruned point probes when the shape allows —
        // the manifest bounds the files each recompute re-reads
        val (src, kept, total) =
          prunedSlice(s, d.base, head, d.keys, dirtyKeys)
        // the dirty-group recompute reads the base's PREDICATE SLICE:
        // the probes/semi-join bound WHICH files and keys are read,
        // the predicate then decides membership row-locally — the
        // felled in-slice extreme re-derives from in-slice survivors
        // only (an out-of-slice higher value must never surface)
        val srcSlice = d.pred.fold(src)(src.filter)
        val recomputed = srcSlice.groupBy(d.keys.map(col): _*).agg(
          count(lit(1)).as("rn"), count(col(d.value)).as("rnn"),
          org.apache.spark.sql.functions.min(col(d.value)).as("rvmin"),
          org.apache.spark.sql.functions.max(col(d.value)).as("rvmax"))
        // a dirty group absent from the recompute lost its last row
        val dirtyRows = dirtyKeys.alias("k")
          .join(recomputed.alias("r"),
            d.keys.map(k => col(s"k.$k") === col(s"r.$k")).reduce(_ && _),
            "left_outer")
          .select(d.keys.map(k => col(s"k.$k").as(k)) ++ Seq(
            coalesce(col("rn"), lit(0L)).as("n"),
            coalesce(col("rnn"), lit(0L)).as("nn"),
            col("rvmin").as("vmin"), col("rvmax").as("vmax"),
            when(col("rn").isNull, lit("D")).otherwise(lit("U"))
              .as("op")): _*)
        (clean.unionByName(dirtyRows), kept, total)
      }
    TxnTable.applyChangesWithMetrics(s, mv, changeSet, d.keys,
      metrics ++ Seq("mv_dirty_groups" -> nDirty,
        "mv_dirty_files_kept" -> keptFiles,
        "mv_dirty_files_total" -> totalFiles),
      cdc = true, expectedVer = mvVer).version
  }

  /** op_mv_delete: COPY-ON-WRITE DELETES WITH PUBLISHED FEEDS — closing
    * the MV's DML gap. Before this, only the merge-on-read paths
    * published change feeds: one plain `DELETE FROM` on the base and
    * every MV over it refuses refresh FOREVER (the loud contract) —
    * honest, but it forces recompute for the most ordinary retention
    * job there is. `cdc = true` on [[TxnTable.delete]] stages every
    * deleted row (w = −1) as a signed feed IN the delete commit —
    * naming the rows costs reading the dropped files too, the price of
    * an exact feed, paid only on request. The scenario runs the
    * retention double-header: a contiguous range delete (file-pruned —
    * whole files drop, boundary files rewrite) and a scattered id-list
    * delete (`isin`; per-member file verdicts, one binary search per
    * file however long the list), then ONE refresh folds BOTH feeds.
    * `mvdel_ok` pins: two commits folded, both carrying `#cdc=` refs,
    * the range delete really dropped whole files and kept others
    * verbatim.
    * Hashed output = the refreshed MV, oracle = direct recompute of
    * the retained base. At 100 TB: retention DELETEs flow into every
    * downstream MV at O(deleted rows), never O(base rescan). */
  def mvCowDelete(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir("mvdel_base")
    val mv = freshDir("mvdel_view")
    val src = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice").cast(D12).as("price"))
    val k = col("o_orderkey")
    TxnTable.commit(s, base, TxnTable.stageIndexed(s, base,
      src.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = src.schema.json)
    create(s, mv, base, "o_orderstatus", "price")
    val b = src.agg(org.apache.spark.sql.functions.min(k),
      org.apache.spark.sql.functions.max(k)).collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val cut = kmin + (kmax - kmin + 1) / 5
    // retention pass 1: drop everything below the cut (the age-out
    // shape) — contiguous, so the clustered layout drops whole files
    val r1 = TxnTable.delete(s, base, k <= cut - 1, cdc = true)
    // retention pass 2: a scattered id list (the GDPR shape)
    val ids = src.filter(pmod(k, lit(9)) === 0).select(k)
      .collect().map(_.getLong(0)).toSeq
    val r2 = TxnTable.delete(s, base, k.isin(ids: _*), cdc = true)
    val r = refresh(s, mv)
    val ok = r.commitsFolded == 2 && r.baseVersion == 2L &&
      TxnTable.manifest(s, base, r1.version).cdcRefs.nonEmpty &&
      TxnTable.manifest(s, base, r2.version).cdcRefs.nonEmpty &&
      r1.dropped > 0 && r1.kept > 0
    TxnTable.snapshot(s, mv)
      .select(col("o_orderstatus"), col("n"),
        col("total").cast("double").as("total"))
      .withColumn("mvdel_ok", lit(ok))
  }

  /** op_mv_merge: COPY-ON-WRITE MERGE WITH A PUBLISHED FEED — the last
    * DML gap closed: `cdc = true` on [[TxnTable.applyChangesMulti]]
    * (the path SQL MERGE and UPDATE compile to) stages −preimage ∪
    * +postimage as a signed feed in the merge commit, so an MV refresh
    * folds the batch instead of refusing. With op_matview (MoR apply),
    * op_mv_delete (CoW delete) and this, EVERY DML path can feed an
    * incremental view. One change set carries all three shapes —
    * deletes (every 8th key), whole-row repricing updates (every 10th
    * ≡ 3), and inserts into a brand-new status group — and ONE refresh
    * folds it; `mvm_ok` pins the feed's presence, the single folded
    * commit, and exact signed accounting (feed rows == |preimage| +
    * |postimage|). Hashed output = the refreshed MV; oracle = direct
    * recompute of the merged base. At 100 TB: the feed costs one extra
    * read of the TOUCHED files only — proportional to the change
    * region, never the table. */
  def mvCowMerge(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir("mvm_base")
    val mv = freshDir("mvm_view")
    val src = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice").cast(D12).as("price"))
    val k = col("o_orderkey")
    TxnTable.commit(s, base, TxnTable.stageIndexed(s, base,
      src.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = src.schema.json)
    create(s, mv, base, "o_orderstatus", "price")
    val changes = src.filter(pmod(k, lit(8)) === 0)
      .select(k, col("o_orderstatus"), col("price"), lit("D").as("op"))
      .unionByName(src.filter(pmod(k, lit(10)) === 3 &&
          pmod(k, lit(8)) =!= 0)
        .select(k, col("o_orderstatus"),
          (col("price") + lit(3).cast(D12)).cast(D12).as("price"),
          lit("U").as("op")))
      .unionByName(src.filter(pmod(k, lit(17)) === 0)
        .select((k + 500000000L).as("o_orderkey"), lit("M")
          .as("o_orderstatus"), col("price"), lit("U").as("op")))
    val r1 = TxnTable.applyChangesMulti(s, base, changes,
      Seq("o_orderkey"), cdc = true)
    val m1 = TxnTable.manifest(s, base, r1.version)
    // exact signed accounting: −(matched preimage) + (non-D change
    // rows) — one aggregate pass per frame, and no read at all if the
    // feed unexpectedly failed to publish (ok then reports false
    // instead of crashing on a zero-path parquet read)
    val cRow = changes.agg(
      sum(when(col("op") === "D", 1L).otherwise(0L)),
      sum(when(col("op") === "U" &&
        col("o_orderkey") < 500000000L, 1L).otherwise(0L)),
      sum(when(col("o_orderkey") >= 500000000L, 1L).otherwise(0L)))
      .collect()(0)
    val (nDel, nUpd, nIns) =
      (cRow.getLong(0), cRow.getLong(1), cRow.getLong(2))
    val feedOk = m1.cdcRefs.nonEmpty && {
      val f = s.read.parquet(m1.cdcRefs.map(r => s"$base/$r"): _*)
        .agg(sum(when(col("w") === -1, 1L).otherwise(0L)),
          sum(when(col("w") === 1, 1L).otherwise(0L))).collect()(0)
      f.getLong(0) == nDel + nUpd && f.getLong(1) == nUpd + nIns
    }
    val r = refresh(s, mv)
    val ok = feedOk && r.commitsFolded == 1
    TxnTable.snapshot(s, mv)
      .select(col("o_orderstatus"), col("n"),
        col("total").cast("double").as("total"))
      .withColumn("mvm_ok", lit(ok))
  }

  /** op_mv_chain: MATERIALIZED-VIEW PIPELINES — views stacked on views,
    * each level refreshing from the level below's published feed. The
    * refresh merge publishes ITS OWN signed feed ([[TxnTable
    * .applyChangesWithMetrics]] cdc), so a refreshed MV is a feeding
    * base like any other: base → mv1 (status, priority) → mv2 (status,
    * value = mv1's fold total). Per-level refresh cost is O(that
    * level's delta) — mv2 folds mv1's −old/+new GROUP rows, never
    * mv1's (let alone the base's) data. Content-invariant interleaves
    * thread through the chain: a base compact makes mv1's refresh a
    * metadata-only cursor advance (op `mv_refresh`), which mv2's walk
    * SKIPS like any other invariant op — the chain never stalls on
    * maintenance. `chain_ok` pins: both real mv1 refreshes published
    * feeds, mv2 folded exactly the merge commits, and the
    * cursor-advance + mv1-compact interleave crossed without a feed.
    * Hashed output = mv2 after two change waves (n = #priority groups
    * per status, total = the status's sum — the fold OF a fold);
    * oracle recomputes both levels from the base's final content. At
    * 100 TB: dashboard DAGs refresh top-down in O(Σ level deltas). */
  def mvChain(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir("mvc_base")
    val mv1 = freshDir("mvc_mid")
    val mv2 = freshDir("mvc_top")
    val src = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderstatus").as("st"), col("o_orderpriority").as("pri"),
      col("o_totalprice").cast(D12).as("price"))
    val k = col("o_orderkey")
    TxnTable.commit(s, base, TxnTable.stageIndexed(s, base,
      src.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = src.schema.json)
    create(s, mv1, base, Seq("st", "pri"), "price")
    // the fold OF a fold: mv2's value is mv1's exact DECIMAL(18,2)
    // total (passes the lossless gate by construction)
    create(s, mv2, mv1, Seq("st"), "total")
    // insert shifts derive from the keyspace so synthetic keys can
    // never collide with a real order at ANY scale factor (a collision
    // would silently turn an insert into an update)
    val shift1 = src.agg(org.apache.spark.sql.functions.max(k))
      .collect()(0).getLong(0) + 1
    def del(c: org.apache.spark.sql.Column) = src.filter(c)
      .select(k, col("st"), col("pri"), col("price"), lit("D").as("op"))
    def upd(c: org.apache.spark.sql.Column, bump: Int) = src.filter(c)
      .select(k, col("st"), col("pri"),
        (col("price") + lit(bump).cast(D12)).cast(D12).as("price"),
        lit("U").as("op"))
    def ins(c: org.apache.spark.sql.Column, st: String, pri: String,
        shift: Long) = src.filter(c)
      .select((k + shift).as("o_orderkey"), lit(st).as("st"),
        lit(pri).as("pri"), col("price"), lit("U").as("op"))
    // wave 1
    TxnTable.applyChangesMor(s, base,
      del(pmod(k, lit(9)) === 0)
        .unionByName(upd(pmod(k, lit(10)) === 0 && pmod(k, lit(9)) =!= 0,
          100))
        .unionByName(ins(pmod(k, lit(97)) === 0, "N", "9-NEW",
          shift1)),
      "o_orderkey", cdc = true)
    val r1a = refresh(s, mv1)
    val feed1 = TxnTable.manifest(s, mv1, r1a.mvVersion).cdcRefs.nonEmpty
    val r1b = refresh(s, mv2)
    // content-invariant interleaves across the chain: base compact →
    // mv1 cursor-advance (op mv_refresh, feed-less) + an mv1 compact —
    // mv2's walk must SKIP both
    TxnTable.compact(s, base)
    val rAdv = refresh(s, mv1)
    TxnTable.compact(s, mv1)
    val rSkip = refresh(s, mv2)
    // wave 2 (original-key arithmetic only, so the oracle replays)
    TxnTable.applyChangesMor(s, base,
      del(pmod(k, lit(11)) === 0 && pmod(k, lit(9)) =!= 0)
        .unionByName(upd(pmod(k, lit(13)) === 0 && pmod(k, lit(9)) =!= 0
          && pmod(k, lit(11)) =!= 0, 200))
        .unionByName(ins(pmod(k, lit(89)) === 0, "M", "8-CHAIN",
          2 * shift1)),
      "o_orderkey", cdc = true)
    val r2a = refresh(s, mv1)
    val feed2 = TxnTable.manifest(s, mv1, r2a.mvVersion).cdcRefs.nonEmpty
    val r2b = refresh(s, mv2)
    val ok = feed1 && feed2 &&
      r1b.commitsFolded == 1 && r2b.commitsFolded == 1 &&
      rAdv.commitsFolded == 1 && rSkip.commitsFolded == 2 &&
      rSkip.baseVersion == rAdv.mvVersion + 1 // advance + mv1 compact
    TxnTable.snapshot(s, mv2)
      .select(col("st"), col("n"), col("total").cast("double").as("total"))
      .withColumn("chain_ok", lit(ok))
  }

  /** op_mv_minmax: the EXTREMA MV end to end — create over a
    * status-clustered base, then the asymmetric maintenance contract
    * under fire. Wave 1 is the CLEAN shape: inserts above group 'O's
    * max (monotone greatest — no base read), a brand-new group 'N',
    * and interior deletes in 'F' (count updates only — deleting
    * non-extreme rows costs nothing); `mv_dirty_groups` must be 0.
    * Wave 2 is the ADVERSARIAL shape: delete every row HOLDING group
    * 'F's max and every row holding 'P's min — exactly the deletes the
    * telescoping fold cannot answer (the new extreme lives in rows the
    * feed never mentions); refresh marks BOTH groups dirty
    * (`mv_dirty_groups` = 2) and recomputes them via per-group
    * stat-pruned point probes on the status-clustered layout
    * (`mv_dirty_files_kept` < `mv_dirty_files_total` — the prune
    * evidence), after which the SECOND-max/min answer. Hashed output =
    * the refreshed MV (n, vmin, vmax per status); oracle replays both
    * waves. At 100 TB: MIN/MAX views ride the same feed pipeline as
    * the fold views — clean changes cost O(feed), and an extreme
    * falling costs O(that group's files), never a base rescan. */
  def mvMinMax(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir("mvx_base")
    val mv = freshDir("mvx_view")
    val src = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice").cast(D12).as("price"))
    val st = col("o_orderstatus")
    val k = col("o_orderkey")
    // the base clusters by the GROUP key, so a dirty-group recompute's
    // point probe prunes to that group's files
    TxnTable.commit(s, base, TxnTable.stageIndexed(s, base,
      src.repartitionByRange(8, st, k).sortWithinPartitions(st, k),
      Nil, Seq("o_orderstatus")),
      expected = -1L, op = "create", schemaJson = src.schema.json,
      strIdxCols = Seq("o_orderstatus"))
    createExtrema(s, mv, base, Seq("o_orderstatus"), "price")
    // wave 1 (clean): monotone inserts + a new group + interior deletes
    val lim = src.filter(st === "F").agg(
      org.apache.spark.sql.functions.min(col("price")),
      org.apache.spark.sql.functions.max(col("price"))).collect()(0)
    val (fmin, fmax) = (lim.getDecimal(0), lim.getDecimal(1))
    val ch1 = src.filter(pmod(k, lit(21)) === 0)
      .select((k + 800000000L).as("o_orderkey"), lit("O").as(
        "o_orderstatus"),
        (col("price") + lit(100000).cast(D12)).cast(D12).as("price"),
        lit("U").as("op"))
      .unionByName(src.filter(pmod(k, lit(97)) === 0)
        .select((k + 900000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("price"), lit("U").as("op")))
      .unionByName(src.filter(st === "F" && pmod(k, lit(7)) === 0 &&
          col("price") > lit(fmin) && col("price") < lit(fmax))
        .select(k, st, col("price"), lit("D").as("op")))
    TxnTable.applyChangesMor(s, base, ch1, "o_orderkey", cdc = true)
    val r1 = refresh(s, mv)
    val m1 = TxnTable.commitMetrics(s, mv, r1.mvVersion)
    // wave 2 (adversarial): fell the extremes themselves — every row
    // holding F's max and P's min (ties included: deterministic both
    // here and in the oracle)
    val snap1 = TxnTable.snapshot(s, base)
    val l2 = snap1.agg(
      org.apache.spark.sql.functions.max(when(st === "F", col("price"))),
      org.apache.spark.sql.functions.min(when(st === "P", col("price"))))
      .collect()(0)
    val (fmax2, pmin2) = (l2.getDecimal(0), l2.getDecimal(1))
    val ch2 = snap1.filter(st === "F" && col("price") === lit(fmax2))
      .unionByName(snap1.filter(st === "P" && col("price") === lit(pmin2)))
      .select(k, st, col("price"), lit("D").as("op"))
    TxnTable.applyChangesMor(s, base, ch2, "o_orderkey", cdc = true)
    val r2 = refresh(s, mv)
    val m2 = TxnTable.commitMetrics(s, mv, r2.mvVersion)
    val r3 = refresh(s, mv) // at head: no commit
    val ok = r1.commitsFolded == 1 && r2.commitsFolded == 1 &&
      m1.get("mv_dirty_groups").contains(0L) &&
      m2.get("mv_dirty_groups").contains(2L) &&
      m2.get("mv_dirty_files_kept").exists(kf => kf > 0L &&
        m2.get("mv_dirty_files_total").exists(tf => kf < tf)) &&
      r3.mvVersion == r2.mvVersion && r3.commitsFolded == 0
    TxnTable.snapshot(s, mv)
      .select(st, col("n"), col("vmin").cast("double").as("vmin"),
        col("vmax").cast("double").as("vmax"))
      .withColumn("mm_ok", lit(ok))
  }

  /** op_mvx_chain: FOLD VIEWS STACKED ON AN EXTREMA VIEW — the piece
    * the extrema [[refresh]]'s published feed unlocks: base → extrema MV
    * (max price per (st, pri)) → fold MV over it (per st: group count
    * + SUM of per-group maxima — the "sum of worst-latency per
    * service" dashboard). Wave 1 is the CLEAN shape (keyspace-shifted
    * inserts +100000 above every max): the extrema refresh merges
    * monotonically (`mv_dirty_groups` = 0), publishes its −old/+new
    * merge feed in the SAME commit, and the top fold folds exactly
    * that feed (one commit, O(changed groups)). Wave 2 is the DIRTY
    * shape (delete the inserted 'F' maxima): the dirty-group recompute
    * re-derives the previous extremes and the feed carries the fall —
    * the top view follows at O(delta) again. `mvxc_ok` pins: both
    * refresh commits carry `#cdc=` refs, wave 1 dirties nothing, wave
    * 2 dirties ≥1 group, each top refresh folds exactly ONE commit,
    * and both levels equal direct recomputes. Hashed output = the top
    * view; the oracle replays both waves. At 100 TB: extrema views
    * join the derived-pipeline DAG — every level refreshes at O(its
    * delta), never O(the level below). */
  def mvxChain(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir("mvxc_base")
    val xmv = freshDir("mvxc_x")
    val top = freshDir("mvxc_top")
    val src = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderstatus").as("st"), col("o_orderpriority").as("pri"),
      col("o_totalprice").cast(D12).as("price"))
    val k = col("o_orderkey")
    TxnTable.commit(s, base, TxnTable.stageIndexed(s, base,
      src.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = src.schema.json)
    createExtrema(s, xmv, base, Seq("st", "pri"), "price")
    create(s, top, xmv, Seq("st"), "vmax")
    val shift = src.agg(org.apache.spark.sql.functions.max(k))
      .collect()(0).getLong(0) + 1
    // wave 1 — CLEAN: +100000 sits above every group's max at any SF
    val ins = src.filter(pmod(k, lit(19)) === 0)
      .select((k + shift).as("o_orderkey"), col("st"), col("pri"),
        (col("price") + lit(100000).cast(D12)).cast(D12).as("price"))
    TxnTable.applyChangesMor(s, base, ins.withColumn("op", lit("U")),
      "o_orderkey", cdc = true)
    val rx1 = refresh(s, xmv)
    val m1 = TxnTable.commitMetrics(s, xmv, rx1.mvVersion)
    val feed1 = TxnTable.manifest(s, xmv, rx1.mvVersion).cdcRefs.nonEmpty
    val rt1 = refresh(s, top)
    def topRows() = TxnTable.snapshot(s, top)
      .select(col("st"), col("n"), col("total").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    def directTop() = TxnTable.snapshot(s, base)
      .groupBy(col("st"), col("pri"))
      .agg(org.apache.spark.sql.functions.max(col("price")).as("vmax"))
      .groupBy(col("st")).agg(count(lit(1)).as("n"),
        sum(col("vmax")).cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val eq1 = topRows() == directTop()
    // wave 2 — DIRTY: fell the 'F' groups' new maxima
    TxnTable.applyChangesMor(s, base,
      ins.filter(col("st") === "F").withColumn("op", lit("D")),
      "o_orderkey", cdc = true)
    val rx2 = refresh(s, xmv)
    val m2 = TxnTable.commitMetrics(s, xmv, rx2.mvVersion)
    val feed2 = TxnTable.manifest(s, xmv, rx2.mvVersion).cdcRefs.nonEmpty
    val rt2 = refresh(s, top)
    val eq2 = topRows() == directTop()
    val ok = feed1 && feed2 &&
      m1.get("mv_dirty_groups").contains(0L) &&
      m2.get("mv_dirty_groups").exists(_ >= 1L) &&
      rt1.commitsFolded == 1 && rt2.commitsFolded == 1 && eq1 && eq2
    TxnTable.snapshot(s, top)
      .select(col("st"), col("n"), col("total").cast("double").as("total"))
      .withColumn("mvxc_ok", lit(ok))
  }

  // ---- TRANSPARENT QUERY REWRITING ----------------------------------------

  /** Session-wide MV registry, ONE map for every kind: (kind, key) →
    * (MV location, cached definition). The key is [[keyOf]] the view's
    * tables — for a fold view its EFFECTIVE base instead, so a
    * transplanted branch view serves the parent — so its first
    * tab-separated field is always the view's base or fact.
    * Exact-string keyed (both sides come from the same
    * catalog/warehouse path convention); latest registration per key
    * wins. The definition is immutable by contract, so caching it here
    * removes the per-query definition read the rewrite rule would
    * otherwise pay on every analyzer iteration. */
  private val registry = new java.util.concurrent
    .ConcurrentHashMap[(String, String), (String, ViewDef)]()

  /** A view's tables as one registry key: the base or fact, then the
    * sorted dim set — the rewrite rule probes every fact candidate of
    * the matched join tree. Tab is the separator the star definition's
    * dim lines already reserve. */
  private def keyOf(tables: Seq[String]): String =
    (tables.head +: tables.tail.sorted).mkString("\t")

  /** Register the view at `mv` for the transparent rewrite, whatever
    * its kind. Every entry this view already owns goes first: a
    * transplanted fold view re-keys from its branch dir onto the parent,
    * and a stale branch key would make every branch-addressed aggregate
    * pay a cursor walk just to disqualify, forever. The serve decision
    * re-reads a fold view's cursors per query, so a
    * registration gone stale (a transplant after register) disqualifies
    * rather than serving the wrong timeline — re-register after
    * transplant. */
  def register(s: SparkSession, mv: String): Unit = {
    val d = definition(s, mv)
    val key = d match {
      case _: MvDef => cursors(s, mv, d)._2.head._1
      case _ => keyOf(d.tables)
    }
    deregister(mv)
    registry.put((d.kind, key), (mv, d))
  }

  /** Remove every registry entry `mv` owns; other views' entries stay. */
  private def deregister(mv: String): Unit =
    registry.values.removeIf(_._1 == mv)

  private def registeredAt(kind: String, key: String)
      : Option[(String, ViewDef)] = Option(registry.get((kind, key)))

  private[graft] def registeredFor(base: String): Option[(String, MvDef)] =
    registeredAt("fold", base).collect { case (mv, d: MvDef) => (mv, d) }

  private[graft] def registeredJoinFor(fact: String, dims: Seq[String])
      : Option[(String, MvJoinDef)] =
    registeredAt("join", keyOf(fact +: dims)).collect {
      case (mv, d: MvJoinDef) => (mv, d) }

  /** The live star view for the same (fact, dim set) key — the rewrite
    * falls back to it when no group-grain join MV matches (or the
    * matched one disqualified on dim movement — the live view's reason
    * to exist). */
  private[graft] def registeredLiveFor(fact: String, dims: Seq[String])
      : Option[(String, LiveDef)] =
    registeredAt("live", keyOf(fact +: dims)).collect {
      case (mv, l: LiveDef) => (mv, l) }

  private[graft] def registeredExtremaFor(base: String)
      : Option[(String, MvExtremaDef)] =
    registeredAt("extrema", base).collect {
      case (mv, d: MvExtremaDef) => (mv, d) }

  /** Every view REGISTERED for the transparent rewrite in this
    * session, across the four kinds — the SHOW MATERIALIZED VIEWS
    * listing: (view location, kind, base/fact location). Session
    * state by design: the durable inventory is the per-table
    * `.matviews` metadata table; this answers "what can the rewrite
    * serve RIGHT NOW". */
  def registered(): Seq[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq.map { case ((kind, key), (mv, _)) =>
      (mv, kind, key.takeWhile(_ != '\t')) }.sortBy(_._1)
  }

  /** DROP the materialized view: deregister it from the transparent
    * rewrite (only the entry THIS view owns — a different view
    * registered for the same base stays), then delete its directory.
    * The deregistration happens FIRST so no query window can plan
    * against files being deleted under it. Registration is
    * LATEST-WINS per base, so dropping the latest view leaves an
    * earlier view over the same base UNREGISTERED — the remedy is one
    * idempotent [[register]] of the survivor (spec-pinned); drop
    * cannot restore it because the registry keeps no history.
    * Returns the view's kind. */
  def drop(s: SparkSession, mv: String): String = {
    // refuses loudly when mv is not a view
    val kind = definition(s, mv).kind
    // a refreshed view publishes its own signed feed, so views STACK
    // (fold-over-fold chains, folds over extrema feeds) — deleting a
    // base out from under a registered dependent would surface later
    // as a misleading 'base was restored/recreated; recompute' on the
    // dependent's next refresh. Refuse NOW, naming the dependents,
    // BEFORE anything deregisters or deletes. (The session registry is
    // the dependency source of truth the rewrite itself uses; an
    // unregistered dependent is already serving nothing.)
    locally {
      import scala.jdk.CollectionConverters._
      // a base MATCHES when it is this view, or lives UNDER it (a
      // branch of this view, the transplant shape — the recursive
      // delete below would wipe it too): the same effective-base
      // reach retentionPins/statusFor apply via mayRead/parentOf
      def under(b: String): Boolean = b == mv ||
        b.startsWith(s"$mv/")
      val dependents = registry.asScala.values
        .flatMap { case (m, d) => d.tables.map((m, _)) }
        .collect { case (m, b) if under(b) && m != mv => m }
        // a GHOST dependent — its registry entry survived but its
        // definition no longer reads (directory removed out-of-band)
        // — must not wedge the drop: the prescribed remedy ("drop the
        // dependent first") is impossible for it, and it can never
        // refresh anyway. ONLY the definitive not-a-view probe result
        // counts as ghost: a transient filesystem failure during the
        // probe must ABORT the drop, not silently wave a live
        // dependent through to have its base deleted
        .filter { m =>
          try { definition(s, m); true }
          catch {
            case _: IllegalArgumentException => false // no def reads
            case _: java.io.FileNotFoundException => false
            case scala.util.control.NonFatal(e) =>
              throw new IllegalStateException(s"DROP $mv: could not " +
                s"probe registered dependent '$m' (${e.getMessage}); " +
                "aborting — a failed probe must not pass for a ghost",
                e)
          }
        }
        .toSeq.distinct.sorted
      require(dependents.isEmpty, s"$mv feeds registered view(s) " +
        s"${dependents.mkString(", ")} — drop those first, or " +
        "recompute them on a different base; deleting their base " +
        "would brick their next refresh")
    }
    deregister(mv)
    // through the Hadoop FileSystem like every other MatView/TxnTable
    // path operation — a java.io delete would silently no-op on a
    // non-local warehouse and leave a "successful" drop fully on disk
    val p = new Path(mv)
    require(fs(s, p).delete(p, true),
      s"$mv: the filesystem refused the recursive delete")
    kind
  }

  private[graft] def registryEmpty: Boolean = registry.isEmpty

  /** Whether view `d` may read `base`'s log — the cheap pre-filter (no
    * I/O) before the per-view cursor read in [[retentionPins]] and
    * [[statusFor]]: a fold view over `base` or over a branch of it (the
    * transplant shape), any other kind naming it among its tables. */
  private def mayRead(d: ViewDef, base: String): Boolean = d match {
    case f: MvDef => f.base == base ||
      (try parentOf(f.base) == base
       catch { case _: IllegalArgumentException => false })
    case _ => d.tables.contains(base)
  }

  /** The version pins an MV-RESPECTING retention pass hands to
    * [[TxnTable.vacuum]] / [[TxnTable.expireSnapshots]] for `base`:
    * for every registered view whose [[cursors]] include `base`, the
    * commits `(cursor, head]`. That is the feed tail for fold views and
    * join and live FACTS (the range refresh and serving fold), the
    * manifest-header tail for extrema bases AND join dims (proving a
    * range content-invariant reads every manifest in it — vacuuming
    * those turns the view recompute-only just as surely as a lost
    * feed). A live view's dims pin nothing: they join back at query
    * time from their own snapshots, and no log tail of theirs is read.
    * A transplanted fold view pins its EFFECTIVE base, the timeline
    * its cursor speaks. Pinned versions survive the window like tagged
    * ones, so however aggressive the retention, the registered fleet's
    * refreshes keep working — without this, ONE vacuum(1) on a busy
    * base turns every stale view into a drop-and-recompute (at
    * 100 TB: the full base scan the MV exists to avoid, destroyed by
    * routine maintenance). A view whose cursor cannot be probed pins
    * nothing — it is already recompute-only. O(views) header walks,
    * no data reads; the SQL vacuum / expire_snapshots /
    * vacuum_preview procedures include these pins automatically. */
  def retentionPins(s: SparkSession, base: String): Set[Long] = {
    import scala.jdk.CollectionConverters._
    // ONE head probe for the vacuum target, shared across every view
    lazy val head = TxnTable.currentVersion(s, base)
    registry.asScala.values.toSeq.flatMap { case (mv, d) =>
      if (!mayRead(d, base)) Nil
      else try cursors(s, mv, d)._2.get(base).toSeq
        .flatMap(cursor => cursor + 1 to head)
      catch { case scala.util.control.NonFatal(_) => Nil }
    }.toSet
  }

  /** One registered view's LOG-decided status: its primary cursor (the
    * first of its [[cursors]] — the fold or extrema base's, a join or
    * live view's fact's) and that table's head; `fresh` = every cursor
    * at its head; `servable` = the serve decision of [[rowsAt]] at the
    * heads, so the listing and the rewrite can never disagree. */
  case class MvStatus(mv: String, kind: String, fresh: Boolean,
      servable: Boolean, cursor: Long, head: Long)

  /** Every registered view whose definition involves `base` — fold and
    * extrema views over it, join and live views where it is the fact
    * or one of the dims — each probed against the LOG (O(tail headers)
    * per view, never a data file). A fold view lists under its
    * EFFECTIVE base only (a transplanted view under the parent, never
    * under its branch). A view whose probe throws (vacuumed cursor,
    * deleted directory) reports (fresh = false, servable = false,
    * cursor = -1) instead of failing the listing: an operator asking
    * "which views serve this table?" must see the broken one, not an
    * exception. Powers the `graft.ns.t.matviews` metadata table. */
  def statusFor(s: SparkSession, base: String): Seq[MvStatus] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq.flatMap { case ((kind, _), (mv, d)) =>
      if (!mayRead(d, base)) None
      else try {
        val (_, cur) = cursors(s, mv, d)
        if (d.isInstanceOf[MvDef] && !cur.contains(base)) None
        else {
          val heads = cur.map { case (t, _) =>
            t -> TxnTable.currentVersion(s, t) }
          val (primary, cursor) = cur.head
          Some(MvStatus(mv, kind, fresh = heads == cur,
            servable = tailRefs(s, d, cur, heads).isDefined, cursor,
            heads(primary)))
        }
      } catch { case scala.util.control.NonFatal(_) =>
        Some(MvStatus(mv, kind, fresh = false, servable = false, -1L, -1L))
      }
    }.sortBy(st => (st.kind, st.mv))
  }

  private def freshDir(name: String): String =
    graft.Fs.freshScratch("graft_mv", name)

  private val D12 = DecimalType(12, 2)

  /** op_matview: the MANAGED incremental materialized view, end to end
    * — create at v0 (the only full base scan the MV ever pays), two
    * scattered merge-on-read CDC batches move the base (zero base data
    * files rewritten, feeds published from the same manifest writes),
    * ONE refresh folds both feeds into the per-status aggregate, a
    * second refresh no-ops (cursor already at head), and an MV
    * compact() between refreshes must not disturb the cursor (the
    * newest-first metrics walk). `mv_ok` carries the mechanics: the
    * refresh commit's cursor metric, the no-op (version unchanged),
    * the folded-commit counts, and — the scale claim made physical —
    * the refresh plan's input files contain NO base data file (its
    * reads are the two feed files plus the MV itself). Hashed output =
    * the refreshed MV rows, which the oracle checks against a DIRECT
    * recompute of the base's final content: incremental ≡ recompute,
    * through the managed object. At 100 TB: create pays the table
    * scan once; every refresh after that costs the delta. */
  def matView(s: SparkSession, dir: String): DataFrame = {
    val base = freshDir("mv_base")
    val mv = freshDir("mv_view")
    val src = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice").cast(D12).as("price"))
    val k = col("o_orderkey")
    TxnTable.commit(s, base, TxnTable.stageIndexed(s, base,
      src.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = src.schema.json)
    create(s, mv, base, "o_orderstatus", "price")
    // two scattered MoR change batches, feeds published in-commit
    def del(df: DataFrame) = df.select(k, col("o_orderstatus"),
      col("price"), lit("D").as("op"))
    def upd(df: DataFrame, st: String, bump: Int) = df.select(k,
      lit(st).as("o_orderstatus"),
      (col("price") + lit(bump).cast(D12)).cast(D12).as("price"),
      lit("U").as("op"))
    def ins(df: DataFrame, st: String, shift: Long) = df.select(
      (k + shift).as("o_orderkey"), lit(st).as("o_orderstatus"),
      col("price"), lit("U").as("op"))
    val ch1 = del(src.filter(pmod(k, lit(9)) === 0))
      .unionByName(upd(src.filter(pmod(k, lit(10)) === 0 &&
        pmod(k, lit(9)) =!= 0), "U", 100))
      .unionByName(ins(src.filter(pmod(k, lit(97)) === 0),
        "N", 100000000L))
    TxnTable.applyChangesMor(s, base, ch1, "o_orderkey", cdc = true)
    val untouched = pmod(k, lit(9)) =!= 0 && pmod(k, lit(10)) =!= 0
    val ch2 = del(src.filter(pmod(k, lit(11)) === 0 && untouched))
      .unionByName(upd(src.filter(pmod(k, lit(13)) === 0 && untouched &&
        pmod(k, lit(11)) =!= 0), "V", 200))
      .unionByName(ins(src.filter(pmod(k, lit(89)) === 0),
        "M", 200000000L))
    TxnTable.applyChangesMor(s, base, ch2, "o_orderkey", cdc = true)
    // an unrelated MV maintenance commit must not move the cursor
    TxnTable.compact(s, mv)
    val cursorBefore = lastRefreshed(s, mv)
    val r1 = refresh(s, mv)
    val r2 = refresh(s, mv) // already at head: no commit
    // the scale claim, physically: the refresh reads the feeds + the
    // MV — never a base DATA file (checked from the executed plan's
    // input files in MatViewSpec; here via the cheap manifest facts)
    val m = TxnTable.commitMetrics(s, mv, r1.mvVersion)
    val ok = cursorBefore == 0L && r1.baseVersion == 2L &&
      r1.commitsFolded == 2 && m.get("mv_base_version").contains(2L) &&
      r2.mvVersion == r1.mvVersion && r2.commitsFolded == 0 &&
      lastRefreshed(s, mv) == 2L
    TxnTable.snapshot(s, mv)
      .select(col("o_orderstatus"), col("n"),
        col("total").cast("double").as("total"))
      .withColumn("mv_ok", lit(ok))
  }
}
