package graft.sources

import graft.operators.TxnTable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** SQL `MERGE INTO` / `UPDATE` / `DELETE FROM` over [[GraftCatalog]]
  * tables — the DML statements DataSourceV2 only offers through the
  * heavyweight row-level-operation API — routed instead to the
  * FILE-PRUNED TxnTable machinery by one resolution rule: once the
  * analyzer has resolved the statement (stars expanded, references
  * bound), a Graft target swaps the plan for an eager command. MERGE and
  * UPDATE compile their actions into a keyed CHANGE SET and hand it to
  * [[TxnTable.applyChanges]]/[[TxnTable.merge]] — so a SQL MERGE
  * touching one key region rewrites that region's files, exactly like
  * the library call (the pre-row-level-API Delta shape). DELETE hands
  * its condition (`true` without WHERE) to [[TxnTable.delete]], whose
  * file verdicts come from the read path's own file-skipping rule.
  * Supported MERGE form (the standard CDC statement):
  * a conjunction of integral or STRING target-column equalities over a
  * KEY-UNIQUE target (single or COMPOSITE merge key — the key tuple
  * must be unique, or rows collapse under keyed replacement;
  * per-dimension manifest boxes — value ranges for integral keys,
  * truncated string bounds for string keys — intersect to prune the
  * rewrite), at most one UPDATE
  * action + any DELETE
  * actions (each optionally conditional, first-match-wins), at most one
  * INSERT action, and NOT MATCHED BY SOURCE UPDATE/DELETE actions (the
  * full-sync clause — target keys the source no longer carries age out
  * or delete; expressions there reference only the target). Matched-ness AND the target's current column values
  * are resolved with ONE left join of the source against the target
  * snapshot — so a PARTIAL `UPDATE SET` keeps the target's existing
  * values for unassigned columns (standard MERGE semantics), and
  * matched-action conditions / UPDATE expressions may reference target
  * columns. The planner chooses the join strategy (broadcast only when
  * a side is actually small — a 100 TB target must shuffle, not
  * broadcast its key set). Anything else fails loudly at analysis —
  * never a silent wrong answer. */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftTable(plan: LogicalPlan): Option[GraftTable] = plan match {
    case SubqueryAlias(_, child) => graftTable(child)
    case r: DataSourceV2Relation => r.table match {
      case g: GraftTable => Some(g)
      case _ => None
    }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.resolved =>
      graftTable(m.targetTable)
        .map(g => GraftMergeCommand(g.location, m): LogicalPlan)
        .getOrElse(plan)
    case u: UpdateTable if u.resolved =>
      graftTable(u.table)
        .map(g => GraftUpdateCommand(g.location, u): LogicalPlan)
        .getOrElse(plan)
    case d: DeleteFromTable if d.resolved =>
      graftTable(d.table)
        .map(g => GraftDeleteCommand(g.location, d.condition): LogicalPlan)
        .getOrElse(plan)
    case _ => plan
  }
}

/** Merge-on-read SQL READS: a [[GraftTable]] snapshot carrying pending
  * sequenced tombstones cannot be served by a plain parquet scan of its
  * live files — the scan would resurrect the tombstoned rows. This rule
  * swaps such a relation (READ positions only — DML targets keep their
  * relation so the DML rules above and the delete path still see the
  * table) for the exact plan the library read builds:
  * [[TxnTable.snapshot]]'s one scan (each row carrying its entry seq
  * and canonical file path) with the tombstone anti-joins, projected
  * back onto the relation's output attribute ids.
  * SQL readers — current or pinned via `VERSION AS OF` — then see
  * through tombstones precisely like library readers; filter pushdown
  * and column pruning still apply to the underlying parquet relation
  * through Catalyst. The scan-builder refusal remains as the loud
  * backstop for paths that bypass analysis. */
object GraftMorReadRule {
  /** Provenance of a merge-on-read swap: the swapped snapshot plan's
    * root Project carries the RELATION it replaced, so a downstream
    * analysis rule (the MV rewrite) can recognize the table through
    * the swap regardless of which analyzer iteration each node
    * resolved in. This is what makes rule ORDER irrelevant for
    * rewrite eligibility: a query shape that resolves an iteration
    * after the relation (global aggregates via GlobalAggregates,
    * grouping sets via ResolveGroupingAnalytics, type-coerced
    * predicates) no longer loses the relation to the swap — the
    * rewrite sees through it. The tag lives on the root Project only;
    * analyzer rules rebuild PARENTS and reuse resolved children by
    * reference, so it survives until the rewrite fires or the plan
    * executes (where an unread tag is inert). */
  val SwappedFrom: org.apache.spark.sql.catalyst.trees.TreeNodeTag[
    DataSourceV2Relation] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag(
      "graft.morSwappedFrom")
}

case class GraftMorReadRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Alias

  /** The attribute really is the table's DECLARED `_metadata` column
    * (AddMetadataColumns stamps the metadata-col marker) — a USER
    * column that happens to be named `_metadata` suppresses the
    * declared one and must read as the plain data column it is, never
    * be hijacked into coordinates. */
  private def isGraftMetaCol(
      a: org.apache.spark.sql.catalyst.expressions.Attribute): Boolean =
    a.name == "_metadata" &&
      org.apache.spark.sql.catalyst.expressions.MetadataAttribute
        .isValid(a.metadata)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // a still-unresolved `_metadata` reference must resolve against the
    // RELATION's declared metadata column (AddMetadataColumns) before
    // any swap: replacing the relation in this iteration would orphan
    // the reference forever. Defer one analyzer iteration; the
    // metadata-serving case below then owns the read.
    val pendingMeta = plan.exists(p =>
      // resolved against metadataOutput but not yet propagated into the
      // relation's output by AddMetadataColumns
      p.missingInput.exists(_.name == "_metadata") ||
        p.expressions.exists(_.exists {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute =>
            // case-INSENSITIVE: Spark resolves `_METADATA.file_path`
            // too, and the resolved attribute carries the declared
            // lowercase name — only the pre-resolution spelling varies
            u.nameParts.headOption.exists(_.equalsIgnoreCase("_metadata"))
          case _ => false
        }))
    // NO OTHER DEFERRAL: query shapes that resolve an iteration after
    // the relation (grouping analytics, type-coerced predicates,
    // global aggregates via GlobalAggregates) used to need the swap
    // held back so GraftMvRewriteRule could still see the bare
    // relation — a per-shape race that was lost the moment a new late
    // shape appeared (the global COUNT(DISTINCT) regression). The swap
    // now stamps its provenance ([[GraftMorReadRule.SwappedFrom]]) and
    // the rewrite sees THROUGH it, so rule order is irrelevant and the
    // swap fires as soon as the relation itself is sound to replace.
    if (pendingMeta) plan
    else swap(plan)
  }

  private def swap(plan: LogicalPlan): LogicalPlan = plan match {
    // DML targets are compiled by GraftDmlRule and resolve tombstones
    // inside the TxnTable machinery — only the MERGE
    // source position is a read
    case m: MergeIntoTable => m.copy(sourceTable = swap(m.sourceTable))
    case u: UpdateTable => u
    case d: DeleteFromTable => d
    case r: DataSourceV2Relation => r.table match {
      // a query referencing `_metadata` (AddMetadataColumns appended it
      // to the relation's output from the table's declaration): serve
      // the library's coordinate-exposing read — __gcanon/__gpos ARE
      // the declared (file_path, row_index), in the same canonical
      // space ~pos deletion vectors record. Handled FIRST: the
      // coordinate read also applies tombstones/mapping/defaults, so a
      // metadata query over any table state is sound.
      case g: GraftTable if r.output.exists(isGraftMetaCol) =>
        val snap = TxnTable.snapshotWithCoords(session, g.location,
          g.pinnedVersion)
        val child = snap.queryExecution.analyzed
        val byName = child.output.map(a => a.name -> a).toMap
        import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Literal => CatLit}
        val proj = Project(r.output.map { a =>
          if (isGraftMetaCol(a))
            Alias(CreateNamedStruct(Seq(
              CatLit("file_path"), byName("__gcanon"),
              CatLit("row_index"), byName("__gpos"))),
              a.name)(exprId = a.exprId)
          else Alias(byName(a.name), a.name)(exprId = a.exprId)
        }, child)
        proj.setTagValue(GraftMorReadRule.SwappedFrom, r)
        proj
      // tombstoned AND column-mapped snapshots both need the library
      // read plan: the former to anti-join deletes, the latter to
      // request PHYSICAL file columns and project to logical names
      case g: GraftTable
          if g.hasTombstones || g.hasColumnMapping || g.hasDefaults =>
        val snap = TxnTable.snapshot(session, g.location, g.pinnedVersion)
        val child = snap.queryExecution.analyzed
        val byName = child.output.map(a => a.name -> a).toMap
        // preserve the relation's attribute ids: downstream operators
        // were resolved against them
        val proj = Project(r.output.map(a =>
          Alias(byName(a.name), a.name)(exprId = a.exprId)), child)
        proj.setTagValue(GraftMorReadRule.SwappedFrom, r)
        proj
      case _ => r
    }
    case other => other.mapChildren(swap)
  }
}

/** Shared compile helpers for the eager DML commands. */
private[sources] object GraftDml {
  def df(session: SparkSession, plan: LogicalPlan): DataFrame =
    Bridge.ofRows(session, plan)

  def exprCol(e: Expression): Column = Bridge.column(e)

  def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft MERGE/UPDATE supports the standard CDC shape; $what")
}

/** Eager `MERGE INTO` — compiles the resolved actions into a keyed
  * change set (op ∈ U/D) and applies it through the file-pruned
  * [[TxnTable.applyChanges]]. */
case class GraftMergeCommand(location: String, merge: MergeIntoTable)
    extends LeafRunnableCommand {
  import GraftDml._

  override def run(session: SparkSession): Seq[Row] = {
    val tgtOut = AttributeSet(merge.targetTable.output)
    val srcOut = AttributeSet(merge.sourceTable.output)
    // the merge key: a CONJUNCTION of target-column = source-expression
    // equalities (composite keys supported — the key TUPLE must be
    // unique in the target, and every key column integral so manifest
    // boxes can prune the rewrite)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val keyPairs: Seq[(AttributeReference, Expression)] =
      conjuncts(merge.mergeCondition).map {
        case EqualTo(a: AttributeReference, b)
            if tgtOut.contains(a) && b.references.subsetOf(srcOut) => (a, b)
        case EqualTo(b, a: AttributeReference)
            if tgtOut.contains(a) && b.references.subsetOf(srcOut) => (a, b)
        case other => unsupported(
          s"ON must be a conjunction of target-column equalities, got $other")
      }
    require(keyPairs.map(_._1.name).distinct.size == keyPairs.size,
      "ON must not repeat a target column")
    // integral keys prune via manifest value boxes, string keys via the
    // truncated string stats (conservative by construction — the same
    // machinery sql_txn_delete_str uses); float/decimal keys have no
    // sound manifest stats AND make key equality itself treacherous —
    // loud, never silently unpruned or wrong
    keyPairs.foreach { case (a, _) =>
      require(Seq("long", "integer", "short", "string").contains(
        a.dataType.typeName),
        s"merge key column '${a.name}' must be integral or string " +
          s"(manifest box / string-stat pruning), got ${a.dataType.typeName}")
    }
    val tKey = keyPairs.head._1
    // "assigns the key to itself" must tolerate the analyzer's type
    // coercion: the ON condition may carry CAST(srcExpr AS cmpType)
    // while the assignment holds the bare srcExpr (both end up cast to
    // the target column's type, so equal BASES mean equal key values)
    def stripCast(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        stripCast(c.child)
      case x => x
    }
    def keyIdentity(v: Expression, a: AttributeReference,
        b: Expression): Boolean =
      stripCast(v).semanticEquals(stripCast(b)) || v.semanticEquals(a)
    merge.matchedActions.foreach {
      case _: UpdateAction | _: DeleteAction => ()
      case a => unsupported(s"matched action $a")
    }
    val updates = merge.matchedActions.collect { case u: UpdateAction => u }
    if (updates.size > 1) unsupported("more than one UPDATE action")
    // a matched UPDATE must not RE-KEY rows: the change set replaces
    // rows by key, so an assignment moving the key would leave the
    // old-key row alive AND insert the new key — silent duplication.
    // Assigning the key to itself (what `UPDATE SET *` expands to:
    // k = s.k, equal to t.k by the ON condition) is the identity and
    // stays legal.
    updates.foreach(_.assignments.foreach {
      case Assignment(k: AttributeReference, v) =>
        keyPairs.find(_._1.name == k.name).foreach { case (a, b) =>
          require(keyIdentity(v, a, b),
            s"MERGE must not re-key matched rows: UPDATE SET ${k.name} " +
              s"= $v moves the merge key (use DELETE + INSERT to re-key)")
        }
      case _ => ()
    })
    val inserts = merge.notMatchedActions.map {
      case i: InsertAction => i
      case a => unsupported(s"not-matched action $a")
    }
    if (inserts.size > 1) unsupported("more than one INSERT action")
    // NOT MATCHED BY SOURCE (the full-sync/replication clause): target
    // rows whose key is ABSENT from the source — standard SQL allows
    // only UPDATE/DELETE here, and their expressions may reference only
    // the target (there is no source row to read)
    merge.notMatchedBySourceActions.foreach {
      case u: UpdateAction =>
        (u.condition.toSeq ++ u.assignments.map(_.value))
          .foreach(e => require(e.references.subsetOf(tgtOut),
            "NOT MATCHED BY SOURCE expressions may reference only the " +
              s"target, got $e"))
        u.assignments.foreach {
          case Assignment(k: AttributeReference, _)
              if keyPairs.exists(_._1.name == k.name) =>
            unsupported("NOT MATCHED BY SOURCE must not assign the merge " +
              s"key '${k.name}' — the keyed change set would insert " +
              "the new key while the old-key row survives")
          case _ => ()
        }
      case _: DeleteAction => ()
      case a => unsupported(s"not-matched-by-source action $a")
    }
    val nmbsUpdates = merge.notMatchedBySourceActions
      .collect { case u: UpdateAction => u }
    if (nmbsUpdates.size > 1)
      unsupported("more than one NOT MATCHED BY SOURCE UPDATE action")
    // INSERT actions fire on UNMATCHED rows: a target reference there
    // has no row to read — standard MERGE forbids it, so do we (loudly)
    (inserts.flatMap(_.condition) ++
      inserts.flatMap(_.assignments.map(_.value)))
      .foreach(e => require(e.references.subsetOf(srcOut),
        s"INSERT expressions may reference only the source, got $e"))
    // ...and must insert AT the source key (what `INSERT *` expands to):
    // an INSERT assigning a key column to anything else mints a change
    // row whose key can collide with an EXISTING target row, which
    // keyed replacement would then silently overwrite — standard MERGE
    // would have inserted a duplicate instead, never destroyed data
    inserts.foreach(_.assignments.foreach {
      case Assignment(k: AttributeReference, v) =>
        keyPairs.find(_._1.name == k.name).foreach { case (a, b) =>
          require(stripCast(v).semanticEquals(stripCast(b)),
            s"MERGE INSERT must set the merge key '${k.name}' to the ON " +
              s"clause's source expression, got $v — anything else could " +
              "collide with an existing target row and silently replace it")
        }
      case _ => ()
    })

    val src = df(session, merge.sourceTable)
    val tableCols = merge.targetTable.output.map(_.name)
    // ONE left join of the source against the target snapshot resolves
    // BOTH matched-ness and the target's current values — so partial
    // UPDATE SET keeps unassigned columns (standard MERGE semantics; a
    // change-set row replaces the whole row, so it must carry them) and
    // matched conditions / UPDATE expressions may read target columns.
    // No broadcast hint: the target is the BIG side at scale — the
    // planner (armed with AQE) picks the join strategy.
    val snap = TxnTable.snapshot(session, location)
    val tgt = snap.select(
      keyPairs.map { case (a, _) => snap(a.name).as(s"__tk_${a.name}") } ++
        tableCols.map(c => snap(c).as(s"__t_$c")): _*)
    val joinCond = keyPairs.map { case (a, b) =>
      exprCol(b) === col(s"__tk_${a.name}") }.reduce(_ && _)
    val withM = src.join(tgt, joinCond, "left")
      .withColumn("__matched", col(s"__tk_${tKey.name}").isNotNull)
      .drop(keyPairs.map(p => s"__tk_${p._1.name}"): _*)
    // rebind TARGET attribute references in matched-side expressions to
    // the joined __t_ columns (by NAME — the resolved refs carry the
    // DSv2 relation's attribute ids, which the join output doesn't)
    def rebind(e: Expression): Column = exprCol(e.transform {
      case a: AttributeReference if tgtOut.contains(a) =>
        Bridge.expression(col(s"__t_${a.name}"))
    })
    // first matching action in declaration order decides the op;
    // a matched row matching no action, or an unmatched row failing the
    // insert condition, is NO change (filtered out)
    val matchedOp = merge.matchedActions.foldRight(lit(null)) {
      (a, rest) =>
        val op = a match {
          case _: UpdateAction => lit("U")
          case _: DeleteAction => lit("D")
        }
        a.condition.map(c => when(rebind(c), op).otherwise(rest))
          .getOrElse(op)
    }
    val insertOp = inserts.headOption.map { i =>
      i.condition.map(c => when(exprCol(c), lit("U"))
        .otherwise(lit(null))).getOrElse(lit("U"))
    }.getOrElse(lit(null))
    // change-row values, per table column in table order: when MATCHED,
    // the UPDATE assignment or (unassigned) the target's CURRENT value;
    // when not matched, the INSERT assignment or (unassigned) NULL
    def assigned(as: Seq[Assignment], colName: String): Option[Expression] =
      as.collectFirst {
        case Assignment(k: AttributeReference, v) if k.name == colName => v
      }
    val valueCols = merge.targetTable.output.map { attr =>
      val c = attr.name
      val matchedVal = updates.headOption
        .flatMap(u => assigned(u.assignments, c))
        .map(rebind).getOrElse(col(s"__t_$c"))
      val insertVal = inserts.headOption
        .flatMap(i => assigned(i.assignments, c))
        .map(exprCol).getOrElse(lit(null).cast(attr.dataType))
      // cast to the TARGET's type: a narrower source expression (an INT
      // literal into a BIGINT column) must not narrow the change set —
      // the merge commit records the change frame's schema as the
      // table's
      when(col("__matched"), matchedVal).otherwise(insertVal)
        .cast(attr.dataType).as(c)
    }
    val changes = withM
      .withColumn("op", when(col("__matched"), matchedOp)
        .otherwise(insertOp))
      .filter(col("op").isNotNull)
      .select(valueCols :+ col("op"): _*)
    // NOT MATCHED BY SOURCE rows come from the TARGET side: anti-join
    // the snapshot against the source's key values (a key can never be
    // in both change sets — matched ⇔ present in the source), apply the
    // first matching action. Deleting/aging every key the source no
    // longer carries is inherently a wide touch; the change set still
    // routes through the same file-pruned machinery, so a source
    // covering most keys rewrites only the files holding the absentees.
    val allChanges =
      if (merge.notMatchedBySourceActions.isEmpty) changes
      else {
        val srcKeys = src.select(keyPairs.map { case (a, b) =>
          exprCol(b).as(s"__sk_${a.name}") }: _*).distinct()
        val unmatched = snap.join(srcKeys,
          keyPairs.map { case (a, _) =>
            snap(a.name) === col(s"__sk_${a.name}") }.reduce(_ && _),
          "left_anti")
        def rebindT(e: Expression): Column = exprCol(e.transform {
          case a: AttributeReference if tgtOut.contains(a) =>
            Bridge.expression(snap.col(a.name))
        })
        // lower-case op markers tag NMBS rows through the union so the
        // persisted change set can be audited for NULL-key absentees
        // (below) without a second scan of the target; normalized to
        // U/D right before applyChangesMulti
        val nmbsOp = merge.notMatchedBySourceActions
          .foldRight(lit(null)) { (a, rest) =>
            val op = a match {
              case _: UpdateAction => lit("u")
              case _: DeleteAction => lit("d")
            }
            a.condition.map(c => when(rebindT(c), op).otherwise(rest))
              .getOrElse(op)
          }
        val nmbsVals = merge.targetTable.output.map { attr =>
          val c = attr.name
          nmbsUpdates.headOption
            .flatMap(u => assigned(u.assignments, c))
            .map(e => rebindT(e).cast(attr.dataType))
            .getOrElse(snap.col(c)).as(c)
        }
        changes.unionByName(unmatched
          .withColumn("op", nmbsOp)
          .filter(col("op").isNotNull)
          .select(nmbsVals :+ col("op"): _*))
      }
    val keyNames = keyPairs.map(_._1.name)
    // the change plan (src ⋈ target snapshot) is read several times —
    // the cardinality check below, then applyChanges' key probe and row
    // union — so compute it once
    allChanges.persist()
    try {
      // standard MERGE raises when multiple source rows match one target
      // row; here EVERY change row is keyed, so any duplicated non-null
      // key tuple (two matches, or two inserts of one key) would
      // silently collapse or duplicate under keyed replacement. One
      // aggregate over the CHANGE SET (change-set-sized, never the
      // table) turns that into a loud error.
      val dup = allChanges
        .filter(keyNames.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keyNames.map(col): _*)
        // reserved alias: a key column legally named "count" must not
        // collide with the aggregate
        .agg(count(lit(1)).as("__graft_cnt"))
        .filter(col("__graft_cnt") > 1).limit(1).count() > 0
      if (dup) unsupported(
        "multiple source rows produce the same merge key tuple " +
          "(standard MERGE cardinality violation)")
      // a target row with a NULL merge key never matches any source row,
      // so standard SQL routes it to NOT MATCHED BY SOURCE — but the
      // KEYED change set cannot address it (NULL matches no key
      // equality): a silent pass-through would leave an NMBS DELETE
      // alive and DUPLICATE an NMBS UPDATE (old row survives the
      // anti-join while the updated copy unions in). Loud, never wrong.
      if (merge.notMatchedBySourceActions.nonEmpty) {
        val nmbsNullKey = allChanges
          .filter(col("op").isin("u", "d") &&
            keyNames.map(col(_).isNull).reduce(_ || _))
          .limit(1).count() > 0
        if (nmbsNullKey) unsupported(
          "NOT MATCHED BY SOURCE cannot act on target rows whose merge " +
            "key is NULL — the keyed change set cannot address them " +
            "(delete or re-key the NULL-key rows first)")
      }
      TxnTable.applyChangesMulti(session, location,
        allChanges.withColumn("op", upper(col("op"))), keyNames)
    } finally allChanges.unpersist(blocking = false)
    Seq.empty
  }
}

/** Eager `UPDATE` — the assigned rows become a keyed 'U' change set
  * (key = the table's FULL index tuple, which must be UNIQUE as a
  * tuple — the change set replaces whole rows by key, so a duplicated
  * tuple would collapse its rows; the 'index' table property is the
  * declaration of that contract), applied through the file-pruned
  * merge: an UPDATE
  * touching one key region rewrites that region's files, not the table.
  * Assigning the KEY column itself is rejected loudly — the change rows
  * would carry the new key while the old-key rows survive the keyed
  * anti-join, silently duplicating every updated row. The row lookup
  * itself is a manifest-resolved scan with the condition pushed to
  * parquet. */
case class GraftUpdateCommand(location: String, update: UpdateTable)
    extends LeafRunnableCommand {
  import GraftDml._

  override def run(session: SparkSession): Seq[Row] = {
    // key = the FULL index tuple (integral AND string index columns):
    // the change set replaces rows by the tuple, so uniqueness is
    // required of the tuple — a strictly weaker contract than any
    // single column's (an ('index'='a,b') table may repeat values of
    // both a and b)
    val m0 = TxnTable.manifest(session, location,
        TxnTable.currentVersion(session, location))
    // index headers speak PHYSICAL names; the statement (and the change
    // set it compiles to) speaks logical — map back
    val (logIdx, logStrIdx) = TxnTable.logicalIndexCols(m0)
    val keys = logIdx ++ logStrIdx
    // transform specs (days(ts)/bucketN(k)) are PRUNING metadata, not
    // row identity: the keyed-change contract requires the FULL index
    // tuple to be unique per row, and a derived day/bucket can never be
    // part of that tuple — refuse cleanly. Silently DROPPING the spec
    // from the tuple would be worse than the unresolved-column error it
    // replaces: a narrowed key collapses rows that are distinct only in
    // the dropped dimension.
    if (keys.exists {
      case TxnTable.DaysSpec(_) | TxnTable.BucketSpec(_, _) => true
      case _ => false
    }) unsupported(
      "UPDATE on a table whose index declares partition-transform " +
        "specs (days(ts)/bucketN(k)): the keyed change set needs the " +
        "full index tuple as row identity, and a derived day/bucket " +
        "is pruning metadata, not a key column")
    if (keys.isEmpty) unsupported(
      "UPDATE needs an indexed key column ('index' or 'strindex' table " +
        "property)")
    update.assignments.foreach {
      case Assignment(k: AttributeReference, _) =>
        if (keys.contains(k.name)) unsupported(
          s"UPDATE must not assign the key column '${k.name}' — the " +
            "keyed change set would insert the new key while the " +
            "old-key row survives (use DELETE + INSERT to re-key rows)")
      case _ => ()
    }
    val snap = TxnTable.snapshot(session, location)
    // rebind target attributes to the snapshot's columns by NAME: the
    // resolved condition/assignments reference the DSv2 relation's
    // attribute ids, which a fresh snapshot read does not carry
    def rebind(e: Expression): Column = exprCol(e.transform {
      case a: AttributeReference =>
        Bridge.expression(snap.col(a.name))
    })
    val cond = update.condition.map(rebind).getOrElse(lit(true))
    val cols = update.table.output.map(_.name)
    val valueCols = cols.map { c =>
      update.assignments.collectFirst {
        case Assignment(k: AttributeReference, v) if k.name == c => v
      }.map(v => rebind(v).as(c)).getOrElse(snap.col(c))
    }
    val changes = snap.filter(cond).select(valueCols: _*)
      .withColumn("op", lit("U"))
    TxnTable.applyChangesMulti(session, location, changes, keys)
    Seq.empty
  }
}

/** Eager `DELETE FROM` — the resolved condition, rebound by column NAME
  * (its references carry the DSv2 relation's attribute ids, which the
  * snapshot [[TxnTable.delete]] resolves against does not), becomes the
  * one copy-on-write delete predicate. A subquery condition is refused:
  * its plan cannot be rebound onto the snapshot. */
case class GraftDeleteCommand(location: String, condition: Expression)
    extends LeafRunnableCommand {
  import GraftDml._

  override def run(session: SparkSession): Seq[Row] = {
    if (org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        .hasSubquery(condition))
      throw new UnsupportedOperationException(
        s"graft DELETE does not support subquery conditions: $condition")
    TxnTable.delete(session, location, exprCol(condition.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(a.name)
    }))
    Seq.empty
  }
}
