package graft.sources

import graft.operators.{MatView, TxnTable}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StructType}

/** DECLARATIVE MATERIALIZED-VIEW DDL — the SQL front half of
  * [[MatView]], completing the CALL surface (GraftMaintenance's
  * create_matview / create_matview_extrema / create_matview_join /
  * create_matview_live / refresh_matview) with the statement a
  * warehouse user actually writes:
  *
  *   CREATE MATERIALIZED VIEW ns.mv AS
  *     SELECT st, COUNT(*), SUM(price) FROM ns.orders GROUP BY st
  *   REFRESH MATERIALIZED VIEW ns.mv
  *
  * Spark's parser has no MATERIALIZED VIEW grammar, so this
  * [[ParserInterface]] wrapper (injected via SparkSessionExtensions)
  * intercepts exactly these two statement shapes and delegates EVERY
  * other string to the session's own parser untouched. The CREATE's
  * defining query is parsed by the DELEGATE and the view KIND is
  * dispatched from the UNRESOLVED tree's shape — before analysis, so
  * the merge-on-read swap and the MV rewrite can never disturb the
  * extraction:
  *
  *   - `Aggregate(keys, count/sum/avg, relation)`  → fold MV
  *     ([[MatView.create]] — the telescoping signed fold)
  *   - `Aggregate(keys, count/min/max, relation)`  → extrema MV
  *     ([[MatView.createExtrema]] — monotone merge + dirty recompute;
  *     MIXING sum/avg with min/max refuses: no single view kind
  *     maintains both honestly)
  *   - `Aggregate(keys, count/sum/avg, inner-join tree)` → star MV
  *     ([[MatView.createJoinStar]] — the fact is the relation owning
  *     the aggregated value column, every other relation a dim, the
  *     equality conjuncts become the fact→dim references)
  *
  * REFRESH reads the view's own stored definition
  * ([[MatView.refresh]]) and (re-)registers for the transparent
  * rewrite — the registry is session state, and refresh is the
  * natural re-entry a new session hits first. Both commands return
  * the committed version. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    sqlText match {
      case CreateLiveMv(ident, select) =>
        CreateLiveMatViewCommand(ident.trim, select.trim, delegate)
      case CreateMv(ident, select) =>
        CreateMatViewCommand(ident.trim, select.trim, delegate)
      case RefreshMv(ident) => RefreshMatViewCommand(ident.trim)
      case DropMv(ident) => DropMatViewCommand(ident.trim)
      case ShowMv() => ShowMatViewsCommand()
      case _ => delegate.parsePlan(sqlText)
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  // identifiers: dotted, optionally backquoted parts — captured raw
  // and split on '.' after stripping backquotes
  private val CreateMv =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([`\w.]+)\s+AS\s+(.+?)\s*;?\s*""".r
  private val CreateLiveMv =
    """(?is)\s*CREATE\s+LIVE\s+MATERIALIZED\s+VIEW\s+([`\w.]+)\s+AS\s+(.+?)\s*;?\s*""".r
  private val RefreshMv =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([`\w.]+)\s*;?\s*""".r
  private val DropMv =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+([`\w.]+)\s*;?\s*""".r
  private val ShowMv =
    """(?is)\s*SHOW\s+MATERIALIZED\s+VIEWS\s*;?\s*""".r

  private val CatName = "graft"

  /** Split a dotted identifier respecting backquotes: `` `a.b`.c `` →
    * Seq("a.b", "c") — a raw split('.') would break the quoted part. */
  private def splitIdent(ident: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    ident.foreach {
      case '`' => quoted = !quoted
      case '.' if !quoted => out += cur.result(); cur.clear()
      case c => cur += c
    }
    out += cur.result()
    out.result()
  }

  /** `graft.ns.t` / `ns.t` → the warehouse location (the same
    * resolution the CALL procedures use). Only a LEADING catalog part
    * strips — a namespace legitimately named 'graft' keeps its name. */
  private def locOf(ident: String): String =
    GraftMaintenance.resolveTable(GraftCatalog.defaultWarehouse,
      stripCat(splitIdent(ident)).mkString("."))

  // the statement matched the MATERIALIZED VIEW grammar; what failed
  // is its SHAPE — the engine's loud-refusal idiom, not a parse error
  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => strip(c)
    case other => other
  }

  /** The defining query's shape, read off the UNRESOLVED tree:
    * (grouping key names, aggregate function → bare-column arg pairs,
    * the FROM tree, the WHERE clause's SQL — a PARTIAL view — and the
    * WHERE's raw (qualifier, column) references, kept so a star/live
    * create can refuse a dim-side reference BEFORE the stripped text
    * silently rebinds to a same-named fact column). */
  private case class MvShape(keys: Seq[String],
      aggs: Seq[(String, Option[String])], from: LogicalPlan,
      pred: Option[String], predRefs: Seq[QCol] = Nil)

  private def shapeOf(parsed: LogicalPlan): MvShape = strip(parsed) match {
    case a: Aggregate =>
      val keys = a.groupingExpressions.map {
        case u: UnresolvedAttribute => u.nameParts.last
        case other => fail("CREATE MATERIALIZED VIEW: grouping " +
          s"expressions must be bare columns, got '${other.sql}'")
      }
      val aggs = a.aggregateExpressions.flatMap(_.collect {
        case f: UnresolvedFunction =>
          val fn = f.nameParts.last.toLowerCase
          // DISTINCT and FILTER change the aggregate's semantics in
          // ways no fold/extrema view materializes — refuse loudly
          // (the engine's contract), never create a silently-useless
          // view
          if (f.isDistinct) fail("CREATE MATERIALIZED VIEW: " +
            s"${fn.toUpperCase}(DISTINCT …) is not a foldable view " +
            "aggregate (the fold keeps no value multiset) — " +
            "materialize the plain aggregate, or use a key-column " +
            "distinct served by the rewrite")
          if (f.filter.isDefined) fail("CREATE MATERIALIZED VIEW: " +
            "FILTER clauses are not materializable — fold the " +
            "unfiltered aggregate, or pre-filter into a separate table")
          val arg = f.arguments match {
            case Seq(u: UnresolvedAttribute) => Some(u.nameParts.last)
            case Seq(_: UnresolvedStar) => None
            case Seq(l: org.apache.spark.sql.catalyst.expressions
                .Literal) => None // COUNT(1)
            case _ => fail("CREATE MATERIALIZED VIEW: aggregate " +
              s"arguments must be bare columns, got '${f.sql}'")
          }
          (fn, arg)
      })
      require(aggs.nonEmpty, "CREATE MATERIALIZED VIEW: the defining " +
        "query declares no aggregate")
      // a WHERE between the aggregate and the FROM makes the view
      // PARTIAL — the predicate's SQL text is the stored membership
      // rule (round-trips through parseExpression at create/serve).
      // Qualifiers strip to the BARE column name: the stored text is
      // re-resolved against the base snapshot and the served relation,
      // neither of which carries the query's alias (`x.price > 100`
      // must store as `price > 100`)
      strip(a.child) match {
        case org.apache.spark.sql.catalyst.plans.logical
            .Filter(cond, inner) =>
          val refs = cond.collect {
            case u: UnresolvedAttribute =>
              (u.nameParts.init.lastOption, u.nameParts.last): QCol
          }
          val bare = cond.transform {
            case u: UnresolvedAttribute =>
              UnresolvedAttribute(Seq(u.nameParts.last))
          }
          MvShape(keys, aggs, strip(inner), Some(bare.sql), refs)
        case other => MvShape(keys, aggs, other, None)
      }
    case other => fail("CREATE MATERIALIZED VIEW: the defining query " +
      "must be a GROUP BY aggregate (got " +
      s"${other.getClass.getSimpleName})")
  }

  /** One joined relation: its (catalog-stripped) dotted name and the
    * alias the query gave it, if any — the alias is what a QUALIFIED
    * join column (`f.fk = d2.pk`) resolves against. */
  private case class RelRef(name: String, alias: Option[String]) {
    /** Does a qualifier name THIS relation? Unqualified columns match
      * any relation (membership decides); qualified ones must name the
      * alias or the table's last name part. */
    def answersTo(qual: Option[String]): Boolean = qual.forall(q =>
      alias.contains(q) || name.split('.').last == q)
  }

  /** A join-equality side: (qualifier, column name). */
  private type QCol = (Option[String], String)

  /** Flatten an all-INNER join tree of plain relations into
    * (relations with aliases, qualified equality conjuncts). */
  private def flatJoin(p: LogicalPlan)
      : Option[(Seq[RelRef], Seq[(QCol, QCol)])] = p match {
    case SubqueryAlias(id, child) => strip(child) match {
      case r: UnresolvedRelation => Some((Seq(RelRef(
        stripCat(r.multipartIdentifier).mkString("."),
        Some(id.name))), Nil))
      case other => flatJoin(other) // alias over a join — no binding
    }
    case r: UnresolvedRelation => Some((Seq(RelRef(
      stripCat(r.multipartIdentifier).mkString("."), None)), Nil))
    case j: Join if j.joinType == Inner =>
      def qcol(u: UnresolvedAttribute): QCol =
        (u.nameParts.init.lastOption, u.nameParts.last)
      def conj(e: Expression): Seq[(QCol, QCol)] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conj(l) ++ conj(r)
        case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
          Seq((qcol(a), qcol(b)))
        case other => fail("CREATE MATERIALIZED VIEW: join conditions " +
          s"must be column equalities, got '${other.sql}'")
      }
      for {
        (lr, lc) <- flatJoin(j.left)
        (rr, rc) <- flatJoin(j.right)
      } yield (lr ++ rr, lc ++ rc ++ j.condition.map(conj).getOrElse(Nil))
    case _ => None
  }

  private val FoldFns = Set("count", "sum", "avg")
  private val ExtremaFns = Set("count", "min", "max")

  /** ONE aggregated value column, or the named refusal. `stmt` names
    * the statement the user actually typed (CREATE [LIVE]
    * MATERIALIZED VIEW) in every diagnostic. */
  private def valueOf(shape: MvShape, stmt: String): String = {
    val aggCols = shape.aggs.flatMap(_._2).distinct
    // non-key aggregated columns bind first; when every aggregated
    // column is itself a grouping key, the VALUE-GRAIN shape binds
    // instead (`GROUP BY st, price` + SUM(price)) — the view holds one
    // row per live (keys, value) with n as the multiplicity, exactly
    // the value→count map the percentile/distinct serving arms read
    val values = aggCols.filterNot(shape.keys.contains)
    (if (values.nonEmpty) values else aggCols) match {
      case Seq(v) => v
      case Seq() => fail(s"$stmt: no aggregated " +
        "value column (COUNT(*)-only views are a fold over any " +
        "value — aggregate one column)")
      case many => fail(s"$stmt: one view folds " +
        s"ONE value column, got ${many.mkString(", ")}")
    }
  }

  /** Bind a CREATE's inner-join FROM tree to (fact location, dim
    * refs): the fact is the relation owning the aggregated value
    * column, every other relation a dim, the equality conjuncts the
    * fact→dim references — ONE binder shared by the star and LIVE
    * create commands, so the two kinds can never bind the same
    * statement differently. */
  private def bindStar(s: SparkSession, j: Join, value: String,
      stmt: String, predRefs: Seq[QCol])
      : (String, Seq[MatView.MvDimRef]) = {
    val (rels, conds) = flatJoin(j).getOrElse(
      fail(s"$stmt: the FROM tree must be " +
        "plain INNER joins of tables"))
    val locs = rels.map(r => locOf(r.name))
    val cols: Seq[Set[String]] =
      locs.map(l => TxnTable.snapshot(s, l).columns.toSet)
    val factIdx = locs.indices.filter(i => cols(i).contains(value))
    require(factIdx.size == 1, s"$stmt: the " +
      s"aggregated column '$value' must live in exactly one " +
      s"joined table (found in ${factIdx.size})")
    val fi = factIdx.head
    val dimIdxs = locs.indices.filterNot(_ == fi)
    require(conds.size == dimIdxs.size,
      s"$stmt: expected one fact→dim equality " +
        s"per dim (${dimIdxs.size}), got ${conds.size}")
    // each equality conjunct must bind to exactly ONE dim — two
    // dims sharing a key column name (the common `pk`
    // convention) would otherwise silently materialize a
    // DIFFERENT join than the AS SELECT text declared.
    // Membership decides where names are unique; QUALIFIERS
    // (`f.fk2 = d2.pk`) decide where they are not; a conjunct
    // still bindable to two dims refuses with the remedy.
    def owns(i: Int, qc: QCol): Boolean =
      cols(i).contains(qc._2) && rels(i).answersTo(qc._1)
    val bound: Seq[(Int, MatView.MvDimRef)] = conds.map {
      case (a, b) =>
        val hits = dimIdxs.flatMap { di =>
          (if (owns(fi, a) && owns(di, b))
            Some(di -> MatView.MvDimRef(locs(di), a._2, b._2))
          else None) ++
          (if (owns(fi, b) && owns(di, a))
            Some(di -> MatView.MvDimRef(locs(di), b._2, a._2))
          else None)
        }.distinct
        hits match {
          case Seq(one) => one
          case Seq() => fail(s"$stmt: the " +
            s"equality '${a._2} = ${b._2}' joins no fact→dim " +
            "pair (each condition must equate a fact column " +
            "with one dim's column)")
          case _ => fail(s"$stmt: the " +
            s"equality '${a._2} = ${b._2}' could join more than " +
            "one dim — qualify the join columns with the " +
            "table aliases (f.k = d2.pk)")
        }
    }
    require(bound.map(_._1).distinct.size == dimIdxs.size,
      s"$stmt: every dim needs exactly one " +
        "fact→dim equality")
    // a WHERE reference must bind to the FACT, checked against the
    // statement's OWN qualifiers BEFORE the stripped predicate text
    // can silently rebind to a same-named fact column: a dim-qualified
    // reference (d.region) or an unqualified name that also lives on a
    // dim refuses here with the partial contract's reason — the view
    // the stripped text would define is NOT the view the statement
    // declared
    predRefs.foreach { case qc @ (qual, name) =>
      val dimOwners = dimIdxs.filter(di => owns(di, qc))
      if (dimOwners.nonEmpty)
        fail(s"$stmt: the WHERE references '" +
          qual.fold(name)(q => s"$q.$name") + "' on a dim — a " +
          "partial view's predicate must be decidable on FACT rows " +
          "alone (dim-dependent membership moves when the dim moves, " +
          "which no fact feed folds)" +
          (if (qual.isEmpty && cols(fi).contains(name))
            s"; qualify the fact column explicitly" else ""))
      // a reference NO joined relation owns (a qualifier naming
      // neither the fact nor any dim) must refuse too: the stripped
      // predicate text would otherwise silently REBIND a same-named
      // fact column — `x.price > 100` materializing as `f.price > 100`
      // is not the view the statement declared
      if (dimOwners.isEmpty && !owns(fi, qc))
        fail(s"$stmt: the WHERE references '" +
          qual.fold(name)(q => s"$q.$name") + "', which resolves to " +
          "no relation joined in this statement — check the " +
          "qualifier against the declared aliases")
    }
    (locs(fi), dimIdxs.map(di =>
      bound.collectFirst { case (`di`, ref) => ref }.get))
  }

  /** CREATE LIVE MATERIALIZED VIEW — the key-grained star kind
    * ([[MatView.createStarLive]]): same statement shape as the star
    * create, but materialized at the FACT-KEY grain with the dims
    * joined back at query time, so dim movement never stales it and
    * refresh reads no dim. */
  case class CreateLiveMatViewCommand(ident: String, select: String,
      @transient delegate: ParserInterface) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())

    override def run(s: SparkSession): Seq[Row] = {
      val mvLoc = locOf(ident)
      require(TxnTable.versions(s, mvLoc).isEmpty,
        s"CREATE LIVE MATERIALIZED VIEW: '$mvLoc' already exists")
      val shape = shapeOf(delegate.parsePlan(select))
      val fnNames = shape.aggs.map(_._1).toSet
      if (!fnNames.subsetOf(FoldFns))
        fail("CREATE LIVE MATERIALIZED VIEW: a live view folds " +
          "count/sum/avg only")
      strip(shape.from) match {
        case j: Join =>
          // a WHERE makes the live view PARTIAL: the same fact-side
          // row-local rule as the partial star — bindStar refuses a
          // dim-qualified/ambiguous reference against the statement's
          // OWN qualifiers, createStarLive the rest
          val value = valueOf(shape, "CREATE LIVE MATERIALIZED VIEW")
          val (factLoc, dims) = bindStar(s, j, value,
            "CREATE LIVE MATERIALIZED VIEW", shape.predRefs)
          val v = MatView.createStarLive(s, mvLoc, factLoc, dims,
            shape.keys, value,
            shape.aggs.map(_._1).distinct, shape.pred)
          MatView.register(s, mvLoc)
          Seq(Row(v))
        case _ => fail("CREATE LIVE MATERIALIZED VIEW: a live view " +
          "joins dims back at query time — the defining query must " +
          "be an inner join of a fact with dims; over a single " +
          "table use a plain materialized view (its refresh never " +
          "reads the base either)")
      }
    }
  }

  case class CreateMatViewCommand(ident: String, select: String,
      @transient delegate: ParserInterface) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())

    override def run(s: SparkSession): Seq[Row] = {
      val mvLoc = locOf(ident)
      require(TxnTable.versions(s, mvLoc).isEmpty,
        s"CREATE MATERIALIZED VIEW: '$mvLoc' already exists")
      val shape = shapeOf(delegate.parsePlan(select))
      val fnNames = shape.aggs.map(_._1).toSet
      def value: String = valueOf(shape, "CREATE MATERIALIZED VIEW")
      val v = strip(shape.from) match {
        case _: UnresolvedRelation if fnNames.subsetOf(FoldFns) =>
          val base = locOf(relName(shape.from))
          MatView.create(s, mvLoc, base, shape.keys, value,
            shape.aggs.map(_._1).distinct, shape.pred)
        case _: UnresolvedRelation if fnNames.subsetOf(ExtremaFns) =>
          // a WHERE makes the extrema view PARTIAL: createExtrema
          // validates the predicate row-local (deterministic,
          // subquery-free) against the base and the dirty-group
          // recompute re-derives felled extremes from the predicate's
          // slice — same membership algebra as the partial fold view
          val base = locOf(relName(shape.from))
          MatView.createExtrema(s, mvLoc, base, shape.keys, value,
            shape.pred)
        case _: UnresolvedRelation => fail("CREATE MATERIALIZED VIEW: " +
          s"no view kind maintains {${fnNames.mkString(", ")}} " +
          "honestly — count/sum/avg fold incrementally, count/min/max " +
          "maintain as an extrema view; mixing them needs two views")
        case j: Join =>
          if (!fnNames.subsetOf(FoldFns))
            fail("CREATE MATERIALIZED VIEW: a join view folds " +
              "count/sum/avg only")
          // a WHERE makes the star PARTIAL: the predicate must be
          // FACT-side (row-local on the fact log) — createJoinStar
          // validates it against the fact snapshot and refuses a
          // dim-column reference with the named reason
          val (factLoc, dims) = bindStar(s, j, value,
            "CREATE MATERIALIZED VIEW", shape.predRefs)
          MatView.createJoinStar(s, mvLoc, factLoc, dims, shape.keys,
            value, shape.aggs.map(_._1).distinct, shape.pred)
        case other => fail("CREATE MATERIALIZED VIEW: unsupported " +
          s"FROM shape (${other.getClass.getSimpleName})")
      }
      MatView.register(s, mvLoc)
      Seq(Row(v))
    }
  }

  /** Strip only a LEADING catalog part from an already-split
    * multipart identifier — a middle part named 'graft' is a real
    * namespace name. */
  private def stripCat(parts: Seq[String]): Seq[String] =
    if (parts.size > 1 && parts.head == CatName) parts.tail else parts

  private def relName(p: LogicalPlan): String = strip(p) match {
    case r: UnresolvedRelation =>
      stripCat(r.multipartIdentifier).mkString(".")
    case other => fail("CREATE MATERIALIZED VIEW: expected a table, " +
      s"got ${other.getClass.getSimpleName}")
  }

  /** SHOW MATERIALIZED VIEWS: every view REGISTERED with the
    * transparent rewrite in this session (all four kinds). View and
    * base render as CATALOG IDENTIFIERS when they live under the
    * warehouse — the spelling DROP/REFRESH accept — and as raw
    * locations otherwise (API-created views at scratch paths).
    * `defined` probes whether the view's definition still reads: a
    * registry entry whose directory was dropped out-of-band lists
    * false here (the rewrite disqualifies it per query) instead of
    * masquerading as servable. Deep freshness/servability stays the
    * per-table `.matviews` metadata table's job. */
  case class ShowMatViewsCommand() extends LeafRunnableCommand {
    private val str = org.apache.spark.sql.types.StringType
    override val output: Seq[Attribute] = Seq(
      AttributeReference("view", str, nullable = false)(),
      AttributeReference("kind", str, nullable = false)(),
      AttributeReference("base", str, nullable = false)(),
      AttributeReference("defined",
        org.apache.spark.sql.types.BooleanType, nullable = false)())
    override def run(s: SparkSession): Seq[Row] = {
      val wh = GraftCatalog.defaultWarehouse
      def render(loc: String): String =
        if (loc.startsWith(s"$wh/"))
          s"$CatName." + loc.stripPrefix(s"$wh/").replace('/', '.')
        else loc
      MatView.registered().map { case (mv, kind, base) =>
        Row(render(mv), kind, render(base),
          scala.util.Try(MatView.definition(s, mv)).isSuccess)
      }
    }
  }

  /** DROP MATERIALIZED VIEW: deregister from the rewrite, delete the
    * view's data — [[MatView.drop]]; refuses loudly on a non-view. */
  case class DropMatViewCommand(ident: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(AttributeReference(
      "kind", org.apache.spark.sql.types.StringType,
      nullable = false)())
    override def run(s: SparkSession): Seq[Row] =
      Seq(Row(MatView.drop(s, locOf(ident))))
  }

  case class RefreshMatViewCommand(ident: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())

    override def run(s: SparkSession): Seq[Row] = {
      val mvLoc = locOf(ident)
      val r = MatView.refresh(s, mvLoc)
      MatView.register(s, mvLoc)
      Seq(Row(r.mvVersion))
    }
  }
}
