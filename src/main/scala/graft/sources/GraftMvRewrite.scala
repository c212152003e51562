package graft.sources

import graft.operators.MatView
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, CaseWhen, Cast, Divide, EqualTo, EvalMode, Expression, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Median, Min, Percentile, Sum}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.Bridge

/** TRANSPARENT MATERIALIZED-VIEW REWRITING — the optimizer half of
  * [[MatView]]: a plain SQL aggregate over the BASE table is served
  * from its registered, FRESH materialized view without the query
  * author knowing the MV exists (the BigQuery/Calcite
  * materialized-view-rewrite contract). The rule matches
  * `Aggregate(groupBy def.key, [key, COUNT(*) …, COUNT(def.value) …,
  * SUM(def.value) …], relation(base))` — unfiltered, single-key, the
  * exact shape the MV materializes — asks [[MatView.rowsAt]] for the
  * view's rows at the relation's PINNED version (decided from the log
  * alone; when the log cannot prove the answer — a time-travel read
  * behind the cursor, a feed-less change since it — the view never
  * serves: correctness beats acceleration, the query silently falls
  * through to the base scan), and substitutes the MV snapshot plan
  * with every output attribute id preserved (the [[GraftMorReadRule]]
  * swap pattern). SUM reconstructs SQL's null-skipping semantics from
  * the fold: `CASE WHEN nn = 0 THEN NULL ELSE total END` — an all-NULL
  * group answers NULL, exactly like the base scan. A WHERE under the
  * aggregate that references ONLY key columns is SERVED by filtering
  * the MV's own rows (key predicates select whole groups — the
  * `WHERE status = 'F' GROUP BY status` dashboard shape, including
  * predicates on keys the query doesn't group by, applied before the
  * rollup). COUNT(DISTINCT c) where c is a KEY column serves with no
  * new fold state — MV rows are one per live key combination, so
  * count_distinct over the MV's own rows IS the base's distinct count
  * (the "distinct users per day" shape at O(MV)); a distinct count of
  * the value or any non-key column, filter clauses, COUNT of a
  * non-fold column, extra grouping keys, or a Filter touching any
  * NON-key column disqualify; ANY error while probing
  * the MV (deleted directory, vacuumed cursor) also just disqualifies
  * — the rewrite only ever fires when the MV provably holds the
  * answer, and can never fail a query that would otherwise run. At
  * 100 TB: the dashboard query that would scan the table costs an MV
  * read — typically 5-6 orders of magnitude smaller — and staleness is
  * decided by the LOG, not by trust. */
case class GraftMvRewriteRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MatView.registryEmpty) plan else rewrite(plan)

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    // an Aggregate under a PENDING aggregate-pushdown parent must not
    // rewrite yet: HAVING parses as UnresolvedHaving(count(*) > …,
    // Aggregate) and ORDER BY COUNT(*) as Sort with raw aggregate
    // functions — ResolveAggregateFunctions later pushes those INTO
    // the child Aggregate, and swapping it for the MV projection first
    // leaves the parent unresolvable (INVALID_WHERE_CONDITION — the
    // query would CRASH, not fall through). Skip this subtree; the
    // analyzer iterates, and once the parent is a plain Filter/Sort
    // over attribute references the rewrite fires on the extended
    // Aggregate below it.
    case h: org.apache.spark.sql.catalyst.analysis.UnresolvedHaving => h
    case srt: org.apache.spark.sql.catalyst.plans.logical.Sort
        if srt.order.exists(_.exists {
          case _: AggregateExpression => true
          case _ => false
        }) => srt
    case agg @ Aggregate(groups, aggExprs, child, _) if agg.resolved =>
      tryRewrite(agg, groups, aggExprs, child)
        .getOrElse(agg.mapChildren(rewrite))
    case other => other.mapChildren(rewrite)
  }

  /** Unwrap alias wrappers down to the bare relation, COLLECTING any
    * Filter conditions on the way (a Project in between still
    * disqualifies — the MV has no residual info for projected-away or
    * computed columns). Whether the collected predicates are servable
    * is decided by the caller: only key-column predicates qualify. */
  private def relationOf(p: LogicalPlan)
      : Option[(DataSourceV2Relation, Seq[Expression])] =
    p match {
      case SubqueryAlias(_, child) => relationOf(child)
      case Filter(cond, child) =>
        relationOf(child).map { case (r, ps) => (r, cond +: ps) }
      case r: DataSourceV2Relation => Some((r, Nil))
      // a merge-on-read swap that already replaced the relation: the
      // swapped plan's root carries its source-relation provenance
      // ([[GraftMorReadRule.SwappedFrom]]), and the swap preserved the
      // relation's attribute ids — so predicates above still reference
      // the stashed relation's own attributes and every ownership /
      // freshness check binds identically. This is what makes analyzer
      // rule ORDER irrelevant: a query shape that resolves an
      // iteration late (global aggregates, grouping sets) no longer
      // pays the base scan just because the swap won the race.
      case proj: Project =>
        proj.getTagValue(GraftMorReadRule.SwappedFrom).map((_, Nil))
      case _ => None
    }

  private def tryRewrite(agg: Aggregate, groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] =
    // an MV that cannot be probed (directory deleted, every cursor
    // commit vacuumed) must DISQUALIFY, never fail the user's query —
    // the base scan always remains the sound fallback
    try tryRewriteUnsafe(agg, groups, aggExprs, child)
    catch { case scala.util.control.NonFatal(e) =>
      debug(s"tryRewrite threw: $e"); None }

  private def tryRewriteUnsafe(agg: Aggregate, groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] =
    trySingle(groups, aggExprs, child)
      .orElse(tryJoin(groups, aggExprs, child))
      .orElse(tryExtrema(groups, aggExprs, child))
      .orElse(tryGroupingSets(groups, aggExprs, child))

  /** Qualify under-aggregate predicates against a single relation:
    * servable iff deterministic, subquery-free, and every reference is
    * one of the view's KEY columns owned by THIS relation (a
    * correlated outer attribute sharing a key's name must disqualify,
    * not silently bind) — whole-group selection, the one shared rule
    * for the fold, extrema, and grouping-sets single arms. */
  private def relKeyPredsOk(r: DataSourceV2Relation, keys: Seq[String],
      preds: Seq[Expression]): Boolean =
    preds.forall(p => p.deterministic &&
      p.collectFirst { case s: SubqueryExpression => s }.isEmpty &&
      p.references.forall(a => r.outputSet.contains(a) &&
        keys.contains(a.name)))

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** Opt-in rewrite diagnostics (GRAFT_MV_DEBUG=1): why an attempt
    * fell through, on stderr — read once, not per analyzer
    * iteration. */
  private val mvDebug = sys.env.contains("GRAFT_MV_DEBUG")
  private def debug(msg: => String): Unit =
    if (mvDebug) System.err.println(s"[mvdbg] $msg")

  /** A PARTIAL view's predicate consumption: resolve the STORED
    * predicate against the exact relation being served (analysis
    * binds it to the same attribute ids and applies the same type
    * coercion the query's own conjuncts got), require every stored
    * conjunct to appear among the query's (canonicalized — AND is
    * idempotent, so set containment is the right test), and return the
    * RESIDUAL conjuncts for the ordinary key-only gate. None = the
    * query does not restrict to the view's slice, or the stored
    * predicate no longer resolves (schema drift) — fall through, the
    * view holds only a subset of the base's rows. Full views (no
    * pred) pass their predicates through untouched. */
  private def partialResidual(r: DataSourceV2Relation,
      pred: Option[String], preds: Seq[Expression])
      : Option[Seq[Expression]] = pred match {
    case None => Some(preds)
    // no WHERE at all can never cover the stored predicate: skip the
    // nested analysis (which on a tombstoned base also pays the MoR
    // snapshot construction) before doing any work
    case Some(_) if preds.isEmpty => None
    case Some(sql) =>
      val stored = try {
        val parsed = session.sessionState.sqlParser.parseExpression(sql)
        Bridge.ofRows(session,
          Filter(parsed, r)).queryExecution.analyzed.collectFirst {
            case f: Filter => conjunctsOf(f.condition)
          }.getOrElse {
            debug("stored pred analyzed to NO filter"); return None }
      } catch { case scala.util.control.NonFatal(e) =>
        debug(s"stored pred threw: $e"); return None }
      val conjs = preds.flatMap(conjunctsOf)
      val storedSet = stored.map(_.canonicalized).toSet
      if (!storedSet.subsetOf(conjs.map(_.canonicalized).toSet)) {
        debug("partial mismatch stored=" + stored.map(_.canonicalized) +
          " query=" + conjs.map(_.canonicalized))
        return None
      }
      Some(conjs.filterNot(c => storedSet.contains(c.canonicalized)))
  }

  private def trySingle(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = {
    val (r, preds) = relationOf(child).getOrElse {
      debug("trySingle: no relation in\n" + child.treeString.take(600))
      return None }
    val g = r.table match {
      case t: GraftTable => t
      case _ => debug("trySingle: not a GraftTable"); return None
    }
    val (mvLoc, d) = MatView.registeredFor(g.location).getOrElse {
      debug(s"trySingle: not registered ${g.location}")
      return None }
    // a PARTIAL view first consumes ITS OWN predicate from the query's
    // conjuncts (the `WHERE price > 100` dashboard served from the
    // view that holds exactly those rows' groups); a query that does
    // not restrict to the view's slice falls through. THEN the
    // remaining WHERE is servable iff it references ONLY the MV's key
    // columns: MV rows are exactly one row per key combination, so a
    // key predicate selects whole groups — filtering the MV's rows
    // answers it (the filtered-aggregate rewrite, the
    // `WHERE status = 'F' GROUP BY status` dashboard shape). References
    // may include key columns the query does NOT group by (the filter
    // then runs BEFORE the rollup re-aggregation). Anything touching a
    // non-key column — the value, a computed expression's source — or
    // nondeterminism/subqueries disqualifies: the MV folded those rows
    // away and holds no residual to re-check.
    val resid = partialResidual(r, d.pred, preds).getOrElse(return None)
    if (!relKeyPredsOk(r, d.keys, resid)) return None
    val owned = (a: AttributeReference) => r.outputSet.contains(a)
    // FRESHNESS BY THE LOG, against the relation's PINNED version: a
    // fresh MV serves directly, a stale one serves MV ⊕ signed-feed
    // tail, and a feed-less tail, an MV AHEAD of a time-travel read or
    // a view transplanted off this table falls through to the base scan
    // (MatView.rowsAt — the rewrite only fires when the log PROVES the
    // answer)
    serve(groups, aggExprs, d.keys, d.value, d.aggs, owned, owned,
      servedRows(mvLoc, d, Seq(g), resid))
  }

  /** The view's rows at every relation's PINNED version with the
    * qualified key predicates applied — None falls through. One
    * [[MatView.rowsAt]] call decides freshness for every kind. */
  private def servedRows(mvLoc: String, d: MatView.ViewDef,
      pinned: Seq[GraftTable], preds: Seq[Expression])
      : Option[org.apache.spark.sql.DataFrame] =
    MatView.rowsAt(session, mvLoc, d,
      pinned.map(g => g.location -> g.pinnedVersion).toMap)
      .map(applyKeyPreds(_, preds))

  private def servedRows(m: JoinMvMatch, preds: Seq[Expression])
      : Option[org.apache.spark.sql.DataFrame] =
    servedRows(m.mvLoc, m.view, m.factG +: m.dimGs, preds)

  /** Qualified key predicates, remapped BY NAME onto the MV frame's own
    * attributes and applied before any rollup re-aggregation. Catalyst
    * then pushes the filter through the compensation union down to the
    * MV scan and the feed parquets, where ManifestPrune skips the MV
    * files the keys cannot live in — the served plan reads only those.
    * (Callers guarantee every reference names an MV key column.) */
  private def applyKeyPreds(df: org.apache.spark.sql.DataFrame,
      preds: Seq[Expression]): org.apache.spark.sql.DataFrame =
    if (preds.isEmpty) df
    else {
      val byName = df.queryExecution.analyzed.output
        .map(a => a.name -> a).toMap
      val remapped = preds.map(_.transform {
        case a: AttributeReference => byName(a.name)
      }).reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
      df.filter(Bridge.column(remapped))
    }

  /** Flatten a tree of INNER joins over catalog relations into
    * (relations, equality conjuncts, filter predicates). Any alias
    * wrapper unwraps; Filters ANYWHERE in the tree collect — above,
    * between, or directly over a relation (the DataFrame-API
    * `dim.filter(...).join(fact, …)` shape): over all-inner joins a
    * filter's position is semantically irrelevant, so they are gated
    * UNIFORMLY by the caller's key-only qualification, never by where
    * they sat. Anything else — an outer join, a Project, a
    * non-relation leaf — returns None. */
  private def flattenJoin(p: LogicalPlan)
      : Option[(Seq[DataSourceV2Relation], Seq[Expression],
        Seq[Expression])] = p match {
    case SubqueryAlias(_, child) => flattenJoin(child)
    case Filter(cond, child) =>
      flattenJoin(child).map { case (rs, cs, ps) => (rs, cs, cond +: ps) }
    case j: Join =>
      if (j.joinType != Inner) return None
      val cond = j.condition.getOrElse(return None)
      for {
        (lr, lc, lp) <- flattenJoin(j.left)
        (rr, rc, rp) <- flattenJoin(j.right)
      } yield (lr ++ rr, splitConjuncts(cond) ++ lc ++ rc, lp ++ rp)
    case r: DataSourceV2Relation => Some((Seq(r), Nil, Nil))
    // a MoR-swapped relation, recovered from its provenance tag — the
    // same see-through [[relationOf]] applies (attribute ids are
    // preserved by the swap, so join conditions above bind unchanged)
    case proj: Project =>
      proj.getTagValue(GraftMorReadRule.SwappedFrom)
        .map(r => (Seq(r), Nil, Nil))
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case x => Seq(x)
  }

  /** The STAR-MV rewrite: `Aggregate(groupBy dim attrs, …,
    * fact ⋈ dim_0 ⋈ … ⋈ dim_{n-1})` served from the registered join MV.
    * The flattened tree must be all-INNER over bare catalog relations,
    * in ANY syntactic shape or order, and its equality conjuncts must
    * BIJECT with the definition's fact→dim equalities — exactly one
    * conjunct per dim, no leftovers (an extra equality would change the
    * joined row set; a missing one makes the query a cross product the
    * MV never materialized). Filter predicates from ANYWHERE in the
    * tree qualify uniformly: only those referencing dim KEY columns
    * alone serve (they select whole groups — positionally irrelevant
    * over inner joins); anything touching the fact or a non-key dim
    * column falls through.
    * Freshness needs EVERY log: the fact tail compensates from
    * published feeds (each signed row re-joined to the dims), while
    * ANY dim content change past its cursor disqualifies — a moved dim
    * attribute regroups rows no fact feed mentions. */
  /** A join tree resolved against the join-MV registry: the matched
    * view plus everything the serving tails need — the per-side
    * ownership checks and the pinned relations the freshness closure
    * speaks about. */
  private case class JoinMvMatch(mvLoc: String,
      // the registered definition (a live view's grain included),
      // captured from the SAME registry probe the match hit: re-probing
      // at serve time would race a concurrent re-register — a recreated
      // view's grain paired with the old view's rows
      view: MatView.ViewDef, d: MatView.MvJoinDef,
      factRel: DataSourceV2Relation, factG: GraftTable,
      dimRels: Seq[DataSourceV2Relation], dimGs: Seq[GraftTable]) {
    /** Key column → owning side, re-derived from the RELATIONS being
      * served: −1 = the fact (the r19 fact-owned grouping-key shape),
      * 0.. = that dim; None = the column no longer lives on exactly
      * one side (schema drift since create) — such a key never binds,
      * so the query falls through instead of binding ambiguously. */
    private lazy val ownerOf: Map[String, Option[Int]] =
      d.keys.map { k =>
        val inFact = factRel.output.exists(_.name == k)
        val dimIdx = dimRels.indices.filter(i =>
          dimRels(i).output.exists(_.name == k))
        k -> ((inFact, dimIdx) match {
          case (true, Seq()) => Some(-1)
          // fact + exactly one dim: the DIM owns it — the only binding
          // any create accepted (matches MatView.resolveOwners, so the
          // serve and refresh sides can never bind differently)
          case (_, Seq(i)) => Some(i)
          case _ => None
        })
      }.toMap
    /** MV key column ownership: MV rows are one per key combination,
      * so only an attribute bound to the key's OWNING relation may
      * appear as a grouping key or servable-filter reference (a
      * non-key column, or a same-named column on the wrong side, must
      * not bind). */
    def dimKeyOwned(a: AttributeReference): Boolean =
      ownerOf.get(a.name).flatten.exists {
        case -1 => factRel.outputSet.contains(a)
        case i => dimRels(i).outputSet.contains(a)
      }
    def valueOwned(a: AttributeReference): Boolean =
      factRel.outputSet.contains(a)
  }

  /** Probe the join-MV registry for a flattened all-inner join tree:
    * every relation is a fact CANDIDATE against the remaining
    * locations as the dim set, and the equality conjuncts must BIJECT
    * with the matched definition's fact→dim equalities — one conjunct
    * per dim, no leftovers (an extra equality would change the joined
    * row set; a missing one makes the query a cross product the MV
    * never materialized; a self-join never matches because createJoinStar
    * refuses duplicate dim locations at create, so no registered key
    * ever names a repeat). */
  private def matchJoinMv(rels0: Seq[DataSourceV2Relation],
      conds: Seq[Expression]): Option[JoinMvMatch] =
    matchStar(rels0, conds,
      (f, ds) => MatView.registeredJoinFor(f, ds)
        .map { case (mv, d) => (mv, d, d) })

  /** [[matchJoinMv]] generalized over the registry probed — the live
    * star registry shares the (fact, dim set) key and the definition
    * shape, so ONE matcher serves both kinds and the
    * equality-bijection rule can never diverge between them. */
  private def matchStar(rels0: Seq[DataSourceV2Relation],
      conds: Seq[Expression],
      lookup: (String, Seq[String]) =>
        Option[(String, MatView.ViewDef, MatView.MvJoinDef)])
      : Option[JoinMvMatch] = {
    if (rels0.size < 2) return None
    val gts: Seq[(DataSourceV2Relation, GraftTable)] = rels0.map { r =>
      r.table match {
        case t: GraftTable => (r, t)
        case _ => return None
      }
    }
    val hit = gts.indices.iterator.flatMap { i =>
      val (fr, fg) = gts(i)
      val dims = gts.patch(i, Nil, 1)
      lookup(fg.location, dims.map(_._2.location))
        .map(x => (x, fr, fg, dims))
    }.find { case ((_, _, d), fr, _, dims) =>
      val dimByLoc = dims.map(x => x._2.location -> x._1).toMap
      conds.size == d.dims.size && d.dims.forall { ref =>
        dimByLoc.get(ref.dim).exists { dimRel =>
          conds.exists {
            case EqualTo(a: AttributeReference, b: AttributeReference) =>
              (a.name == ref.factKey && fr.outputSet.contains(a) &&
                b.name == ref.dimKey && dimRel.outputSet.contains(b)) ||
              (b.name == ref.factKey && fr.outputSet.contains(b) &&
                a.name == ref.dimKey && dimRel.outputSet.contains(a))
            case _ => false
          }
        }
      }
    }
    hit.map { case ((mvLoc, view, d), factRel, factG, dimPairs) =>
      val dimRelByLoc = dimPairs.map(x => x._2.location -> x._1).toMap
      val dimGByLoc = dimPairs.map(x => x._2.location -> x._2).toMap
      JoinMvMatch(mvLoc, view, d, factRel, factG,
        d.dims.map(r => dimRelByLoc(r.dim)),
        d.dims.map(r => dimGByLoc(r.dim)))
    }
  }

  /** Qualify above-join predicates: servable iff every reference is a
    * DIM key column (whole-group selection); nondeterminism,
    * subqueries, fact-side or non-key references fall through. */
  private def dimKeyPredsOk(m: JoinMvMatch,
      preds: Seq[Expression]): Boolean =
    preds.forall(p => p.deterministic &&
      p.collectFirst { case s: SubqueryExpression => s }.isEmpty &&
      p.references.forall {
        case ar: AttributeReference => m.dimKeyOwned(ar)
        case _ => false
      })

  private def tryJoin(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = {
    val (rels0, conds, preds) = flattenJoin(child).getOrElse(return None)
    def serveStar(m: JoinMvMatch): Option[LogicalPlan] = {
      // a PARTIAL star first consumes ITS OWN predicate from the
      // query's conjuncts, resolved against the FACT relation (the
      // side the stored text speaks — [[partialResidual]]); a query
      // not restricted to the view's slice falls through
      val resid = partialResidual(m.factRel, m.d.pred, preds)
        .getOrElse(return None)
      if (!dimKeyPredsOk(m, resid)) return None
      serve(groups, aggExprs, m.d.keys, m.d.value, m.d.aggs,
        keyOwned = m.dimKeyOwned,
        valueOwned = m.valueOwned,
        mvRows = servedRows(m, resid))
    }
    // the LIVE star view serves the same query shape when the
    // group-grain view is absent — or disqualified by dim movement,
    // which can never disqualify the live kind (its dims join back at
    // the query's own pinned versions)
    matchJoinMv(rels0, conds).flatMap(serveStar)
      .orElse(matchLiveMv(rels0, conds).flatMap(serveStar))
  }

  private def matchLiveMv(rels0: Seq[DataSourceV2Relation],
      conds: Seq[Expression]): Option[JoinMvMatch] =
    matchStar(rels0, conds, (f, ds) => MatView.registeredLiveFor(f, ds)
      .map { case (mv, l) => (mv, l, l.star) })

  /** The EXTREMA-MV rewrite: `MIN(value)` / `MAX(value)` / COUNTs over
    * the base served from a registered [[MatView.createExtrema]] view —
    * the non-distributive aggregates the fold MV refuses. The extrema
    * carry the value's own type and SQL's null semantics directly
    * (an all-NULL group's vmin/vmax IS NULL), and they are summable
    * upward: MIN of group-mins answers every coarser grouping and the
    * global aggregate, so the rollup and key-predicate filters compose
    * exactly like the fold path. Freshness is STRICTER than the fold
    * MV's: the extrema algebra has no signed compensation (a delete in
    * the tail can fell an extreme that only the dirty-group recompute
    * can re-derive), and deciding insert-only-ness would need a data
    * read inside the optimizer — so a stale view serves ONLY across a
    * content-invariant tail and otherwise falls through to the base.
    * SUM/AVG are never answerable here (the view holds no total). */
  private def tryExtrema(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = {
    val (r, preds) = relationOf(child).getOrElse(return None)
    val g = r.table match {
      case t: GraftTable => t
      case _ => return None
    }
    val (mvLoc, d) = MatView.registeredExtremaFor(g.location).getOrElse(
      return None)
    // a PARTIAL extrema view first consumes ITS OWN predicate from the
    // query's conjuncts ([[partialResidual]]); the residual then
    // faces the ordinary key-only qualification — an extrema MV also
    // holds exactly one row per key combination
    val resid = partialResidual(r, d.pred, preds).getOrElse(return None)
    if (!relKeyPredsOk(r, d.keys, resid)) return None
    val keyAttrs = groupKeyAttrs(groups, d.keys,
      a => r.outputSet.contains(a)).getOrElse(return None)
    val rollup = keyAttrs.size < d.keys.size
    if (!aggExprs.forall(extremaAnswerable(d.value,
      a => r.outputSet.contains(a)))) return None
    if (!outputsAreKeys(aggExprs, keyAttrs)) return None
    val mvDf0 = servedRows(mvLoc, d, Seq(g), resid).getOrElse(return None)
    val mvDf =
      if (!rollup) mvDf0
      else rollupExtrema(mvDf0, keyAttrs.map(_.name))
    substitute(aggExprs, keyAttrs, mvDf.queryExecution.analyzed,
      ExtremaGsNames, extremaArm)
  }

  /** The extrema vocabulary's frame columns — ONE definition shared by
    * tryExtrema's substitution and the grouping-sets extrema arm (and
    * kept in sync with rollupExtrema's output and createExtrema's
    * key-collision guard). */
  private val ExtremaGsNames = Seq("n", "nn", "vmin", "vmax")

  /** Answerability against the EXTREMA vocabulary: COUNT(<non-null
    * literal>) → n, COUNT(value) → nn (a provably-widening cast
    * tolerated — a narrowing one can null values out), MIN/MAX of the
    * BARE value attribute only (a cast inside could round through a
    * narrowing cast — not worth reasoning about monotonicity); all
    * non-distinct, no filter clauses. SUM/AVG never answer — the view
    * holds no total. */
  private def extremaAnswerable(value: String,
      owned: AttributeReference => Boolean)(e: Expression): Boolean = {
    def valueAttr(c: Expression): Boolean = c match {
      case a: AttributeReference => a.name == value && owned(a)
      case _ => false
    }
    def walk(e: Expression): Boolean = e match {
      case ae: AggregateExpression =>
        !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
          case Count(Seq(l: Literal)) => l.value != null
          case Count(Seq(c)) => valueAttr(stripWideningCast(c))
          case Min(c) => valueAttr(c)
          case Max(c) => valueAttr(c)
          case _ => false
        })
      case _: AttributeReference => true
      case other => other.children.forall(walk)
    }
    walk(e)
  }

  /** ONE summation of the summable extrema vocabulary to `groupNames`
    * (possibly with the grouping-id constant column riding along):
    * counts re-sum (coalescing to 0 for the empty global), extremes
    * re-extremize — min-of-mins skips NULL group extremes exactly like
    * MIN over the union skips NULL values. */
  private def rollupExtrema(mvDf0: org.apache.spark.sql.DataFrame,
      groupNames: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce => fcoalesce, col => fcol, lit => flit, max => fmax, min => fmin, sum => fsum}
    mvDf0.groupBy(groupNames.map(fcol): _*)
      .agg(fcoalesce(fsum(fcol("n")), flit(0L)).as("n"),
        fcoalesce(fsum(fcol("nn")), flit(0L)).as("nn"),
        fmin(fcol("vmin")).as("vmin"), fmax(fcol("vmax")).as("vmax"))
  }

  private def extremaArm(ae: AggregateExpression,
      byName: Map[String, Attribute]): Expression =
    ae.aggregateFunction match {
      case Count(Seq(_: Literal)) => castTo(byName("n"), ae.dataType)
      case Count(_) => castTo(byName("nn"), ae.dataType)
      case _: Min => castTo(byName("vmin"), ae.dataType)
      case _: Max => castTo(byName("vmax"), ae.dataType)
      case other => throw new IllegalStateException(
        s"unreachable: unanswerable aggregate $other survived")
    }

  /** The grouping keys must be a SUBSET of the MV's key columns (any
    * order, bare owned references, no duplicates — and possibly EMPTY:
    * the global aggregate). */
  private def groupKeyAttrs(groups: Seq[Expression], keys: Seq[String],
      owned: AttributeReference => Boolean)
      : Option[Seq[AttributeReference]] = {
    val as = groups.collect { case a: AttributeReference => a }
    if (as.size != groups.size ||
      !as.map(_.name).toSet.subsetOf(keys.toSet) ||
      as.map(_.name).distinct.size != as.size ||
      !as.forall(owned)) None
    else Some(as)
  }

  /** Attribute references OUTSIDE aggregates must be group keys. */
  private def outputsAreKeys(aggExprs: Seq[NamedExpression],
      keyAttrs: Seq[AttributeReference]): Boolean = {
    val keyIds = keyAttrs.map(_.exprId).toSet
    aggExprs.flatMap(_.collect {
      case a: AttributeReference => a
    }).filterNot(a => aggExprs.exists(_.exists {
      case ae: AggregateExpression => ae.references.contains(a)
      case _ => false
    })).forall(a => keyIds.contains(a.exprId))
  }

  private def castTo(a: Attribute,
      dt: org.apache.spark.sql.types.DataType): Expression =
    if (a.dataType == dt) a else Cast(a, dt)

  /** The shared substitution tail: swap every AggregateExpression for
    * its MV column (via `arm`, fed the analyzed MV plan's by-name
    * attribute map) and every group key for its MV column, preserving
    * OUTPUT attribute ids by re-aliasing under the original exprIds —
    * bare group-key outputs are handled BEFORE the transform so their
    * ids survive for operators resolved above (HAVING, ORDER BY). */
  private def substitute(aggExprs: Seq[NamedExpression],
      keyAttrs: Seq[AttributeReference], mvPlan: LogicalPlan,
      needed: Seq[String],
      arm: (AggregateExpression, Map[String, Attribute]) => Expression)
      : Option[LogicalPlan] = {
    val byName = mvPlan.output.map(a => a.name -> a).toMap
    // the arm's fold columns must all be present — a typed fall-through
    // here, not a NoSuchElementException eaten by the NonFatal guard
    // (which would silently revert every query to base scans with zero
    // signal if a frame construction ever drops a column)
    if (!needed.forall(byName.contains)) return None
    val mvKeyOf: Map[Long, Attribute] = keyAttrs.flatMap(a =>
      byName.get(a.name).map(a.exprId.id -> _)).toMap
    if (mvKeyOf.size != keyAttrs.size) return None
    val projected = aggExprs.map {
      case a: AttributeReference if mvKeyOf.contains(a.exprId.id) =>
        Alias(mvKeyOf(a.exprId.id), a.name)(exprId = a.exprId)
      case ne =>
        val swapped = ne.transform {
          case ae: AggregateExpression => arm(ae, byName)
          case a: AttributeReference if mvKeyOf.contains(a.exprId.id) =>
            mvKeyOf(a.exprId.id)
        }
        swapped match {
          case al: Alias => Alias(al.child, al.name)(exprId = al.exprId)
          case other => Alias(other, ne.name)(exprId = ne.exprId)
        }
    }
    Some(Project(projected, mvPlan))
  }

  /** The shared serving tail: shape-check the aggregate against the
    * MV's declared (keys, value, aggs), then substitute the MV frame —
    * rolled up when the grouping is a proper key subset — preserving
    * every output attribute id. `mvRows` (lazy: evaluated only after
    * every cheap plan-shape check passes) resolves freshness and
    * returns the servable MV frame, or None to fall through. */
  private def serve(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], keys: Seq[String], value: String,
      aggsSet: Set[String], keyOwned: AttributeReference => Boolean,
      valueOwned: AttributeReference => Boolean,
      mvRows: => Option[org.apache.spark.sql.DataFrame])
      : Option[LogicalPlan] = {
    // the grouping keys must be a SUBSET of the MV's key columns (any
    // order, bare references, no duplicates — and possibly EMPTY: the
    // global aggregate). A proper subset serves by ROLLUP: the fold is
    // summable, so re-aggregating MV rows to the coarser grouping
    // answers exactly (the Calcite materialized-rollup rewrite) at
    // O(MV) — never O(base)
    val keyAttrs = groupKeyAttrs(groups, keys, keyOwned)
      .getOrElse { debug("serve: groups not a key subset"); return None }
    // COUNT(DISTINCT c) where c is an MV KEY column is answerable with
    // NO new fold state: MV rows are exactly one per live key
    // combination (create materializes present groups, refresh op-'D's
    // emptied ones, compensation filters n != 0), so the distinct
    // non-null c values within any coarser group are exactly
    // count_distinct(c) over the MV's own rows — the "distinct users
    // per day" dashboard at O(MV), never a base-wide expand. A distinct
    // count of the VALUE column (or any non-key) can never serve: the
    // fold collapsed those rows and keeps no value multiset.
    val dcols = distinctKeyTargets(aggExprs)
    // the derived columns ride the rollup frame under generated names;
    // a user key that happens to collide falls through (never misbinds)
    if (dcols.exists(c => keys.contains(s"gdc_$c"))) return None
    // PERCENTILE(c, p) / MEDIAN(c) where c is an MV KEY column rides
    // the SAME invariant with the fold's n as the multiplicity: the
    // frequency-weighted percentile over MV rows aggregates the
    // identical value→count map the base scan would, so rank position
    // and interpolation land on the SAME doubles — exact, not
    // approximate (the "p95 latency per service" pane at O(MV), never
    // a base-wide sort)
    val pctOfFn = pctOf(keys, keyOwned, aggsSet) _
    val pcts = pctTargets(aggExprs, pctOfFn)
    if (pcts.exists(t => keys.contains(pctName(t._1, t._2))))
      return None
    val rollup = keyAttrs.size < keys.size || dcols.nonEmpty ||
      pcts.nonEmpty
    // every aggregate in the output must be answerable from the fold
    // (see foldAnswerable for the per-aggregate contract)
    if (!aggExprs.forall(foldAnswerable(keys, value, aggsSet, keyOwned,
      valueOwned, ae => pctOfFn(ae).isDefined))) {
      debug("serve: unanswerable aggregate"); return None }
    if (!outputsAreKeys(aggExprs, keyAttrs)) {
      debug("serve: non-key bare output"); return None }
    val mvDf0 = mvRows.getOrElse {
      debug("serve: no servable MV frame (freshness/feeds)")
      return None }
    val mvDf =
      if (!rollup) mvDf0
      else rollupAgg(mvDf0, keyAttrs.map(_.name), dcols, pcts)
    // substitute: AggregateExpressions → the fold columns (cast to the
    // aggregate's result type), each group key → its MV column; outer
    // expressions (casts, arithmetic) survive untouched
    substitute(aggExprs, keyAttrs, mvDf.queryExecution.analyzed,
      Seq("n", "nn", "total") ++ dcols.map(c => s"gdc_$c") ++
        pcts.map(t => pctName(t._1, t._2)), withPctArm(pctOfFn))
  }

  /** The deduped (key, percentage) targets the output asks for. */
  private def pctTargets(aggExprs: Seq[NamedExpression],
      pctOfFn: AggregateExpression => Option[(String, Double)])
      : Seq[(String, Double)] =
    aggExprs.flatMap(_.collect {
      case ae: AggregateExpression => pctOfFn(ae)
    }.flatten).distinct

  /** [[foldArm]] extended with the percentile targets: an answerable
    * percentile substitutes its generated frame column, everything
    * else takes the fold arm. */
  private def withPctArm(
      pctOfFn: AggregateExpression => Option[(String, Double)])
      : (AggregateExpression, Map[String, Attribute]) => Expression =
    (ae, byName) => pctOfFn(ae) match {
      case Some((k, p)) => castTo(byName(pctName(k, p)), ae.dataType)
      case None => foldArm(ae, byName)
    }

  /** One generated frame-column name per (key, percentage) target —
    * bit-encoded so distinct percentages can never collide. */
  private def pctName(key: String, pct: Double): String =
    s"gpc_${key}_${java.lang.Double.doubleToLongBits(pct)}"

  /** PERCENTILE answerability: PERCENTILE(c, p) (the default unit
    * frequency only) or MEDIAN(c) — non-distinct, filter-free — where
    * c is a bare owned MV KEY column and p is a foldable scalar in
    * [0, 1]. Gated on the declared count family: the serve weights by
    * the fold's n, which IS the count declaration. Array percentages,
    * explicit non-unit frequencies, value/non-key children and
    * non-literal percentages fall through. */
  private def pctOf(keys: Seq[String],
      owned: AttributeReference => Boolean, aggsSet: Set[String])(
      ae: AggregateExpression): Option[(String, Double)] = {
    if (ae.isDistinct || ae.filter.nonEmpty ||
      !aggsSet.contains("count")) return None
    val (child, pctE) = ae.aggregateFunction match {
      case p: Percentile =>
        val f = p.frequencyExpression
        val unitFreq = f.foldable && (f.eval() match {
          case l: java.lang.Long => l.longValue == 1L
          case i: java.lang.Integer => i.intValue == 1
          case _ => false
        })
        if (!unitFreq) return None
        (p.child, p.percentageExpression)
      case m: Median => (m.child, Literal(0.5d))
      case _ => return None
    }
    child match {
      case a: AttributeReference if keys.contains(a.name) &&
          owned(a) && pctE.foldable =>
        pctE.eval() match {
          case d: java.lang.Double
            if d.doubleValue >= 0d && d.doubleValue <= 1d =>
            Some((a.name, d.doubleValue))
          case dec: org.apache.spark.sql.types.Decimal
            if dec.toDouble >= 0d && dec.toDouble <= 1d =>
            Some((a.name, dec.toDouble))
          case _ => None
        }
      case _ => None
    }
  }

  /** Whether one output expression is answerable from the fold
    * vocabulary: COUNT(<non-null literal>) → n, COUNT(def.value) → nn,
    * SUM(def.value) → total with null-skipping reconstructed from nn,
    * AVG(def.value) → total / nn for DECIMAL values (the exact mirror
    * of Average's own decimal arithmetic — a float/double AVG is an
    * order-dependent FP sum the exact fold can't reproduce
    * bit-for-bit, so it falls through), COUNT(DISTINCT <key column>) →
    * a count_distinct over the MV's own rows (bare attribute only — a
    * cast could merge values the base kept distinct); no filter
    * clauses anywhere. COUNT and SUM tolerate a provably-WIDENING cast
    * around the value only: a narrowing cast can null values out
    * (changing counts) or round (changing sums), and a cast to
    * float/double makes the base's sum an order-dependent FP fold the
    * exact total can't mirror. ...and each must be DECLARED on the
    * view (aggsSet — a count-only MV never silently answers SUM,
    * however derivable the fold makes it). */
  private def foldAnswerable(keys: Seq[String], value: String,
      aggsSet: Set[String], keyOwned: AttributeReference => Boolean,
      valueOwned: AttributeReference => Boolean,
      pctAnswerable: AggregateExpression => Boolean = _ => false)(
      e: Expression): Boolean = {
    def valueAttr(c: Expression): Boolean = c match {
      case a: AttributeReference => a.name == value && valueOwned(a)
      case _ => false
    }
    def walk(e: Expression): Boolean = e match {
      case ae: AggregateExpression if pctAnswerable(ae) => true
      case ae: AggregateExpression if ae.isDistinct =>
        // distinct-count of a KEY column only, gated on the declared
        // count family like every count
        ae.filter.isEmpty && (ae.aggregateFunction match {
          case Count(Seq(a: AttributeReference)) =>
            keys.contains(a.name) && keyOwned(a) &&
              aggsSet.contains("count")
          case _ => false
        })
      case ae: AggregateExpression =>
        ae.filter.isEmpty && (ae.aggregateFunction match {
          case Count(Seq(l: Literal)) =>
            l.value != null && aggsSet.contains("count")
          case Count(Seq(c)) =>
            valueAttr(stripWideningCast(c)) && aggsSet.contains("count")
          case Sum(c, _) =>
            valueAttr(stripWideningCast(c)) && aggsSet.contains("sum")
          case Average(c, _) => c match {
            case a: AttributeReference => a.name == value &&
              valueOwned(a) && a.dataType.isInstanceOf[DecimalType] &&
              aggsSet.contains("avg")
            case _ => false
          }
          case _ => false
        })
      case _: AttributeReference => true
      case other => other.children.forall(walk)
    }
    walk(e)
  }

  /** ONE summation of the summable fold to `groupNames` (possibly
    * empty: the global aggregate), plus the requested distinct-count
    * columns. The total keeps its WIDENED sum type deliberately —
    * re-bounding it to the fold's decimal could overflow at execution
    * on a sum the base scan would have answered; the substitution's
    * cast to the query's own SUM result type has exactly the base
    * scan's overflow behavior (Sum accumulates in the same bounded
    * type). Counts coalesce to 0 for the empty-MV GLOBAL aggregate
    * (one row with NULL sums, where COUNT(*) must answer 0); total
    * stays NULL there — which is exactly SUM-over-nothing.
    * count_distinct skips NULL key values exactly like the base's
    * COUNT(DISTINCT c) skips NULL rows (and answers 0 over nothing). */
  private def rollupAgg(mvDf0: org.apache.spark.sql.DataFrame,
      groupNames: Seq[String], dcols: Seq[String],
      pcts: Seq[(String, Double)] = Nil)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce => fcoalesce, col => fcol, count_distinct => fcountd, lit => flit, percentile => fpct, sum => fsum}
    val folds = Seq(fcoalesce(fsum(fcol("n")), flit(0L)).as("n"),
      fcoalesce(fsum(fcol("nn")), flit(0L)).as("nn"),
      fsum(fcol("total")).as("total")) ++
      dcols.map(c => fcountd(fcol(c)).as(s"gdc_$c")) ++
      // the fold's n as the frequency: MV rows aggregate the identical
      // value→multiplicity map the base rows would
      pcts.map { case (c, p) =>
        fpct(fcol(c), flit(p), fcol("n")).as(pctName(c, p)) }
    mvDf0.groupBy(groupNames.map(fcol): _*)
      .agg(folds.head, folds.tail: _*)
  }

  /** The shared aggregate arm: one answerable AggregateExpression →
    * its expression over the fold columns (callers guarantee
    * answerability via [[foldAnswerable]]). */
  private def foldArm(ae: AggregateExpression,
      byName: Map[String, Attribute]): Expression =
    ae.aggregateFunction match {
      case Count(Seq(a: AttributeReference)) if ae.isDistinct =>
        castTo(byName(s"gdc_${a.name}"), ae.dataType)
      case Count(Seq(_: Literal)) => castTo(byName("n"), ae.dataType)
      case Count(_) => castTo(byName("nn"), ae.dataType)
      case _: Sum =>
        // SQL SUM skips NULLs but answers NULL for an all-NULL
        // group; the fold's 0-convention plus nn reconstructs it
        CaseWhen(Seq((EqualTo(byName("nn"), Literal(0L)),
          Cast(Literal(null), ae.dataType))),
          Some(Cast(byName("total"), ae.dataType)))
      case avg: Average =>
        // the EXACT mirror of Average.evaluateExpression for a
        // decimal child: Divide(sum as DecimalType(p+10, s),
        // count as DecimalType(20, 0)) in LEGACY mode (0 divisor
        // → NULL: the all-NULL group answers NULL like the base
        // scan), cast to Average's own result type. total holds
        // the same numeric value as the true sum (the create
        // gate), so the derived quotient is identical.
        val vt = avg.child.dataType.asInstanceOf[DecimalType]
        val sumType = DecimalType(math.min(38, vt.precision + 10),
          vt.scale)
        Cast(Divide(Cast(byName("total"), sumType),
          Cast(byName("nn"), DecimalType(20, 0)), EvalMode.LEGACY),
          ae.dataType)
      case other => throw new IllegalStateException(
        s"unreachable: unanswerable aggregate $other survived")
    }

  /** The GROUPING-SETS rewrite: `GROUP BY ROLLUP / CUBE / GROUPING
    * SETS` over the base — the subtotals dashboard — served from ONE
    * fold MV as a UNION of per-set rollups. By the time the rule sees
    * it, ResolveGroupingAnalytics has rewritten the query to
    * `Aggregate([keyAttrs…, spark_grouping_id], aggs,
    * Expand(projections, output, Project(child.output ++ aliases,
    * [Filter] relation)))`: each projection is one grouping set —
    * child.output verbatim, then per grouping column either its alias
    * attribute (present) or a NULL literal (rolled up), then the set's
    * grouping-id literal. The served plan replays exactly that algebra
    * over MV rows: per set, one [[rollupAgg]] to the set's present
    * keys, projected to the full key list (NULLs for absent keys, the
    * gid literal), unioned — O(sets × MV), never O(base), and every
    * aggregate/grouping()/grouping_id() output substitutes over the
    * union frame with its attribute id preserved. Grouping columns
    * must trace through the Expand/Project aliases to bare relation
    * attributes that are MV keys; predicates under the Expand qualify
    * key-only exactly like [[trySingle]] (and compose with delta
    * compensation); aggregates use the shared fold vocabulary incl.
    * key-column COUNT(DISTINCT). Anything else — computed grouping
    * expressions, non-key groupings, a non-literal gid — falls
    * through. At 100 TB: the subtotal dashboard (every level of
    * ROLLUP(status, priority)) costs a few MV-sized aggregates instead
    * of an Expand that MULTIPLIES the base scan by the number of
    * grouping sets. */
  private def tryGroupingSets(groups: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = {
    val expand = child match {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
      case _ => return None
    }
    val (projList, inner) = expand.child match {
      case Project(pl, c) => (pl, c)
      case _ => return None
    }
    val gs = parseGroupingSets(groups, expand).getOrElse(return None)
    val dcols = distinctKeyTargets(aggExprs)
    // trace each grouping position to its BASE column through the
    // projection aliases (GROUP BY ROLLUP(a+b) aliases an expression →
    // None here); ownership is the arm's to decide
    val byId = projList.map(ne => ne.exprId -> ne).toMap
    def tracedBase(pos: Int): Option[AttributeReference] =
      expand.projections.iterator.map(_(pos)).collectFirst {
        case a: Attribute => a
      }.flatMap(a => byId.get(a.exprId)).flatMap {
        case Alias(b: AttributeReference, _) => Some(b)
        case b: AttributeReference => Some(b)
        case _ => None
      }
    def keyNamesIf(owned: AttributeReference => Boolean)
        : Option[Seq[String]] = {
      val traced = gs.keyPos.map(pos => tracedBase(pos).filter(owned))
      if (traced.exists(_.isEmpty)) None
      else Some(traced.map(_.get.name))
        // the Expand-output attr keeps the base column's NAME; the
        // union frame binds by name, so a mismatch would misbind
        .filter(_ == gs.keyAttrs.map(_.name))
    }
    // the fold-vocabulary tail every fold-shaped arm shares (single/
    // join/live): percentile-subtotal targets (the weighted percentile
    // at every level aggregates that level's exact value→count
    // partition of the base rows) + answerability + the
    // union-of-per-set-rollups serve — one contract, three call sites
    def serveFoldGs(keys: Seq[String], value: String,
        aggs: Set[String], keyOwned: AttributeReference => Boolean,
        valueOwned: AttributeReference => Boolean,
        keyNames: Seq[String],
        mvRows: => Option[org.apache.spark.sql.DataFrame])
        : Option[LogicalPlan] = {
      val pctOfFn = pctOf(keys, keyOwned, aggs) _
      val pcts = pctTargets(aggExprs, pctOfFn)
      if (pcts.exists(t => keys.contains(pctName(t._1, t._2))))
        return None
      if (!aggExprs.forall(foldAnswerable(keys, value, aggs, keyOwned,
        valueOwned, ae => pctOfFn(ae).isDefined))) return None
      if (!outputsAreKeys(aggExprs, gs.keyAttrs :+ gs.gid)) return None
      val mvDf0 = mvRows.getOrElse(return None)
      serveGroupingSets(gs, keyNames, aggExprs,
        foldGsNames(dcols) ++ pcts.map(t => pctName(t._1, t._2)),
        rollupAgg(_, _, dcols, pcts), withPctArm(pctOfFn), mvDf0)
    }
    // ARM 1 — a bare relation with its registered fold MV: freshness
    // identical to trySingle (one MatView.rowsAt decision)
    def single(): Option[LogicalPlan] = {
      val (r, preds) = relationOf(inner).getOrElse(return None)
      val g = r.table match {
        case t: GraftTable => t
        case _ => return None
      }
      val (mvLoc, d) = MatView.registeredFor(g.location).getOrElse(
        return None)
      val owned = (a: AttributeReference) =>
        r.outputSet.contains(a) && d.keys.contains(a.name)
      val keyNames = keyNamesIf(owned).getOrElse(return None)
      if (dcols.exists(c => d.keys.contains(s"gdc_$c"))) return None
      // a PARTIAL view consumes its own predicate first
      val resid = partialResidual(r, d.pred, preds).getOrElse(
        return None)
      if (!relKeyPredsOk(r, d.keys, resid)) return None
      val relOwned = (a: AttributeReference) => r.outputSet.contains(a)
      serveFoldGs(d.keys, d.value, d.aggs, relOwned, relOwned,
        keyNames, servedRows(mvLoc, d, Seq(g), resid))
    }
    // ARM 2 — the EXTREMA view: MIN/MAX SUBTOTALS (the "worst latency
    // per region, with the global worst on the last line" pane) — the
    // extrema vocabulary is summable upward exactly like the fold, so
    // the same union-of-per-set-rollups serves it; distinct counts
    // never answer here, and freshness keeps the extrema view's
    // stricter contract (at-cursor or content-invariant tail only)
    def extrema(): Option[LogicalPlan] = {
      if (dcols.nonEmpty) return None
      val (r, preds) = relationOf(inner).getOrElse(return None)
      val g = r.table match {
        case t: GraftTable => t
        case _ => return None
      }
      val (mvLoc, d) = MatView.registeredExtremaFor(g.location)
        .getOrElse(return None)
      val owned = (a: AttributeReference) =>
        r.outputSet.contains(a) && d.keys.contains(a.name)
      val keyNames = keyNamesIf(owned).getOrElse(return None)
      // the partial extrema view's predicate consumption
      val resid = partialResidual(r, d.pred, preds)
        .getOrElse(return None)
      if (!relKeyPredsOk(r, d.keys, resid)) return None
      if (!aggExprs.forall(extremaAnswerable(d.value,
        a => r.outputSet.contains(a)))) return None
      if (!outputsAreKeys(aggExprs, gs.keyAttrs :+ gs.gid)) return None
      val mvDf0 = servedRows(mvLoc, d, Seq(g), resid)
        .getOrElse(return None)
      serveGroupingSets(gs, keyNames, aggExprs,
        ExtremaGsNames, rollupExtrema, extremaArm, mvDf0)
    }
    // ARM 3 — an all-inner join tree with its registered star view
    // (the group-grain join view, else the live view, whose dims never
    // disqualify it): the SUBTOTAL STAR DASHBOARD (ROLLUP/CUBE over
    // fact ⋈ dims) served as the same union of per-set rollups over the
    // view's frame — grouping keys must trace to the view's key
    // columns, aggregates to the fact measure
    def star(): Option[LogicalPlan] = {
      val (rels0, conds, preds) = flattenJoin(inner).getOrElse(
        return None)
      def arm(m: JoinMvMatch): Option[LogicalPlan] = {
        val keyNames = keyNamesIf(m.dimKeyOwned).getOrElse(return None)
        if (dcols.exists(c => m.d.keys.contains(s"gdc_$c"))) return None
        // the partial star's predicate consumption
        val resid = partialResidual(m.factRel, m.d.pred, preds)
          .getOrElse(return None)
        if (!dimKeyPredsOk(m, resid)) return None
        serveFoldGs(m.d.keys, m.d.value, m.d.aggs, m.dimKeyOwned,
          m.valueOwned, keyNames, servedRows(m, resid))
      }
      matchJoinMv(rels0, conds).flatMap(arm)
        .orElse(matchLiveMv(rels0, conds).flatMap(arm))
    }
    single().orElse(extrema()).orElse(star())
  }

  /** The fold vocabulary's grouping-sets frame columns. */
  private def foldGsNames(dcols: Seq[String]): Seq[String] =
    Seq("n", "nn", "total") ++ dcols.map(c => s"gdc_$c")

  /** The source-independent STRUCTURAL parse of a resolved
    * grouping-sets aggregate: the grouping attributes must be bare
    * references ending in the synthetic grouping id (that trailing id
    * is what certifies this Expand as grouping analytics and nothing
    * else), each with a position in the Expand output the projections
    * are aligned to by construction, and every projection must carry
    * attr/NULL-literal at the key positions plus a non-null literal
    * grouping id. */
  private case class GsShape(keyAttrs: Seq[AttributeReference],
      gid: AttributeReference, keyPos: Seq[Int],
      shapes: Seq[(Seq[Boolean], Any)])

  private def parseGroupingSets(groups: Seq[Expression],
      expand: org.apache.spark.sql.catalyst.plans.logical.Expand)
      : Option[GsShape] = {
    val gAttrs = groups.collect { case a: AttributeReference => a }
    if (gAttrs.size != groups.size || gAttrs.isEmpty) return None
    val gid = gAttrs.last
    if (gid.name != org.apache.spark.sql.catalyst.expressions
      .VirtualColumn.groupingIdName) return None
    val keyAttrs = gAttrs.init
    if (keyAttrs.map(_.name).distinct.size != keyAttrs.size) return None
    val posOf = (keyAttrs :+ gid).map(a =>
      expand.output.indexWhere(_.exprId == a.exprId))
    if (posOf.exists(_ < 0)) return None
    val gidPos = posOf.last
    val shapes: Seq[(Seq[Boolean], Any)] = expand.projections.map { p =>
      val present = posOf.init.map(pos => p(pos) match {
        case _: Attribute => true
        case Literal(null, _) => false
        case _ => return None
      })
      val gv = p(gidPos) match {
        case Literal(v, _) if v != null => v
        case _ => return None
      }
      (present, gv)
    }
    // duplicate (present, id) pairs — e.g. GROUPING SETS ((a,b),(b,a)),
    // which Spark's Expand dedup does NOT flag (it compares attribute
    // SEQUENCES) — are executed by Spark as ONE group fed twice
    // (doubled aggregates), while a union of per-set rollups would
    // emit two singly-counted rows: neither shape is reproducible from
    // the fold, so fall through
    if (shapes.distinct.size != shapes.size) return None
    Some(GsShape(keyAttrs, gid, posOf.init, shapes))
  }

  /** The source-independent grouping-sets serving tail: one
    * [[rollupAgg]] per grouping set over the servable frame (fold or
    * join MV, fresh or compensated — the caller resolved that),
    * projected to the full key list with NULLs for the absent keys and
    * the set's grouping-id literal, unioned — the Expand algebra
    * replayed over MV rows — then substituted under the original
    * output attribute ids. */
  private def serveGroupingSets(gs: GsShape, keyNames: Seq[String],
      aggExprs: Seq[NamedExpression], foldNames: Seq[String],
      rollupFn: (org.apache.spark.sql.DataFrame, Seq[String]) =>
        org.apache.spark.sql.DataFrame,
      arm: (AggregateExpression, Map[String, Attribute]) => Expression,
      mvDf0: org.apache.spark.sql.DataFrame): Option[LogicalPlan] = {
    import Bridge.column
    // the gid column rides the frames under its OWN name — an MV key
    // or fold column sharing it would misbind in the union. Guard
    // against the WHOLE MV frame (withColumn below replaces any
    // same-named column CASE-INSENSITIVELY — e.g. a gdc_* distinct
    // column named like the gid would be overwritten by the constant
    // before rollupAgg counts it), not just keyNames ++ foldNames.
    if (mvDf0.columns.exists(_.equalsIgnoreCase(gs.gid.name)) ||
        (keyNames ++ foldNames).exists(_.equalsIgnoreCase(gs.gid.name)))
      return None
    val frames = gs.shapes.map { case (present, gv) =>
      val presentNames = keyNames.zip(present).collect {
        case (n2, true) => n2
      }
      // the set's grouping id enters as a CONSTANT GROUPING COLUMN,
      // not a post-aggregation literal: over a non-empty frame it
      // changes nothing (one constant value per set), and over an
      // EMPTY frame it makes the aggregate produce ZERO rows — which
      // is what Spark's Expand-based execution answers (zero input
      // rows yield zero groups even for the () set, unlike a bare
      // global aggregate's one row). A literal appended after a
      // groupBy() would mint a phantom grand-total row the base scan
      // never returns.
      val withGid = mvDf0.withColumn(gs.gid.name,
        column(Literal.create(gv, gs.gid.dataType)))
      val agged = rollupFn(withGid, presentNames :+ gs.gid.name)
      val cols = gs.keyAttrs.zip(keyNames).zip(present).map {
        case ((a, n2), p) =>
          if (p) org.apache.spark.sql.functions.col(n2)
          else column(Literal.create(null, a.dataType)).as(n2)
      } ++ Seq(org.apache.spark.sql.functions.col(gs.gid.name)) ++
        foldNames.map(org.apache.spark.sql.functions.col)
      agged.select(cols: _*)
    }
    val unioned = frames.reduce(_.unionByName(_))
    substitute(aggExprs, gs.keyAttrs :+ gs.gid,
      unioned.queryExecution.analyzed, foldNames, arm)
  }

  /** Distinct-count targets: COUNT(DISTINCT <bare attr>) column names
    * collected from the output expressions — qualification happens in
    * [[foldAnswerable]]; this just names the derived gdc_* columns. */
  private def distinctKeyTargets(aggExprs: Seq[NamedExpression])
      : Seq[String] =
    aggExprs.flatMap(_.collect {
      case ae: AggregateExpression if ae.isDistinct =>
        ae.aggregateFunction match {
          case Count(Seq(a: AttributeReference)) => Seq(a.name)
          case _ => Nil
        }
    }.flatten).distinct

  /** Strip ONLY provably-widening casts: a narrowing cast can null a
    * value out (COUNT changes) or round it (SUM changes), and any cast
    * to float/double turns the base's aggregate into an
    * order-dependent FP fold the exact MV columns cannot mirror. */
  private def stripWideningCast(e: Expression): Expression = e match {
    case c: Cast if widens(c.child.dataType, c.dataType) =>
      stripWideningCast(c.child)
    case x => x
  }

  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(t: DataType): Option[Int] = t match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(19)
      case _ => None
    }
    (from, to) match {
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (f, t: DecimalType) =>
        intDigits(f).exists(d => t.precision - t.scale >= d)
      case _ => false
    }
  }
}
