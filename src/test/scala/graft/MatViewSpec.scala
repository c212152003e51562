package graft

import graft.operators.{MatView, TxnTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The materialized-view contract: refresh reads feeds, never the base;
  * the cursor is atomic with the delta; refusal over feed-less content
  * changes; group deletion when a count reaches zero. */
class MatViewSpec extends SparkSpec {

  private val D12 = DecimalType(12, 2)

  private def fresh(name: String): String = {
    val dir = Fs.scratch("graft_mvspec", name)
    Fs.deleteRecursively(dir)
    dir
  }

  /** The view's stored definition, as the kind the test created. */
  private def defOf[D <: MatView.ViewDef](mv: String): D =
    MatView.definition(spark, mv).asInstanceOf[D]

  /** A fold view's (cursor, transplanted) pair, read through the one
    * cursor reader: a transplanted view keys its cursor by the parent. */
  private def foldCursor(mv: String): (Long, Boolean) = {
    val d = defOf[MatView.MvDef](mv)
    val (onto, cursor) = MatView.cursors(spark, mv, d)._2.head
    (cursor, onto != d.base)
  }

  /** "Served from the MV" = the OPTIMIZED plan holds no catalog (v2)
    * relation and every parquet root lives under the MV path — the one
    * plan-inspection contract every rewrite test checks. */
  private def planServedFrom(df: org.apache.spark.sql.DataFrame,
      mv: String): Boolean = {
    val p = df.queryExecution.optimizedPlan
    val hasV2 = p.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation => r
    }.nonEmpty
    val roots = ScanFiles.roots(p)
    !hasV2 && roots.nonEmpty && roots.forall(_.contains(mv))
  }

  /** [[planServedFrom]], accepting the plan-time COLLAPSE a provably
    * empty key selection now produces: the key filter prunes every MV
    * file, and the MV scan becomes an empty local relation — the
    * metadata-only answer.
    * Either plan is a win; a BASE scan is the one thing it must never
    * be (and a folded plan has no scan at all). */
  private def planServedOrFolded(df: org.apache.spark.sql.DataFrame,
      mv: String): Boolean =
    planServedFrom(df, mv) || df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources
          .LogicalRelation => l
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation => r
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
    }.isEmpty

  private def baseDf(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, if (i % 3 == 0) "A" else "B",
      BigDecimal(i).setScale(2))).toDF("k", "g", "v")
      .withColumn("v", col("v").cast(D12))
  }

  private def mkBase(t: String, n: Int): Unit =
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      baseDf(n).repartitionByRange(4, col("k"))
        .sortWithinPartitions(col("k")), "k"),
      expected = -1L, op = "create", schemaJson = baseDf(n).schema.json)

  private def change(df: org.apache.spark.sql.DataFrame, op: String) =
    df.withColumn("op", lit(op))

  test("refresh PHYSICALLY never reads a base data file: the base's " +
      "data dir is renamed away and refresh still lands, exactly") {
    val t = fresh("mv_nobase")
    val mv = fresh("mv_nobase_view")
    mkBase(t, 300)
    MatView.create(spark, mv, t, "g", "v")
    // two MoR change batches with in-commit feeds
    TxnTable.applyChangesMor(spark, t,
      change(baseDf(300).filter(col("k") % 7 === 0), "D"),
      "k", cdc = true)
    TxnTable.applyChangesMor(spark, t,
      change(baseDf(300).filter(col("k") % 11 === 0 && col("k") % 7 =!= 0)
        .withColumn("v", (col("v") + lit(100).cast(D12)).cast(D12)), "U"),
      "k", cdc = true)
    // make any base data read IMPOSSIBLE, not merely uncounted
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = new org.apache.hadoop.fs.Path(s"$t/data")
    val hidden = new org.apache.hadoop.fs.Path(s"$t/data_hidden")
    val fs = dataDir.getFileSystem(conf)
    assert(fs.rename(dataDir, hidden), "test setup: rename failed")
    val r = try MatView.refresh(spark, mv)
      finally fs.rename(hidden, dataDir)
    assert(r.baseVersion === 2L && r.commitsFolded === 2)
    // the refreshed MV equals a direct recompute of the base head
    val direct = TxnTable.snapshot(spark, t).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nn"),
        sum(col("v").cast(DecimalType(18, 2))).as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).toPlainString)).toSet
    val got = TxnTable.snapshot(spark, mv)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).toPlainString)).toSet
    assert(got === direct, "incremental refresh diverged from recompute")
  }

  test("a feed-less content change refuses refresh loudly; a " +
      "content-invariant compact advances the cursor metadata-only") {
    val t = fresh("mv_refuse")
    val mv = fresh("mv_refuse_view")
    mkBase(t, 120)
    MatView.create(spark, mv, t, "g", "v")
    // compact() is content-invariant: refresh must advance the cursor
    // without touching MV entries
    TxnTable.compact(spark, t)
    val mvV0 = TxnTable.currentVersion(spark, mv)
    val entries0 = TxnTable.manifest(spark, mv, mvV0).entries
      .map(TxnTable.render).toSet
    val r = MatView.refresh(spark, mv)
    assert(r.baseVersion === 1L && r.mvVersion === mvV0 + 1)
    assert(TxnTable.manifest(spark, mv, r.mvVersion).entries
      .map(TxnTable.render).toSet === entries0,
      "cursor advance must carry MV entries verbatim")
    // a plain (cdc = false) DELETE whose verdicts touch NO file is a
    // provable no-op — it must carry the change_noop marker and never
    // block incremental refresh
    val rPlainNop = TxnTable.delete(spark, t,
      col("k") >= 800000L && col("k") <= 899999L)
    assert(TxnTable.manifest(spark, t, rPlainNop.version).metrics
      .get("change_noop").contains(1L))
    assert(MatView.refresh(spark, mv).baseVersion === rPlainNop.version,
      "a zero-file plain delete must not block incremental refresh")
    // a cdc-requested DELETE that matches nothing publishes no feed
    // file but marks the zero-length delta the same way
    val rNop = TxnTable.delete(spark, t,
      col("k") >= 900000L && col("k") <= 999999L, cdc = true)
    assert(TxnTable.manifest(spark, t, rNop.version).cdcRefs.isEmpty)
    val rAfterNop = MatView.refresh(spark, mv)
    assert(rAfterNop.baseVersion === rNop.version,
      "a zero-row cdc delete must not block incremental refresh")
    // a cdc delete that REMOVES rows publishes a real feed and folds
    val rDel = TxnTable.delete(spark, t, col("k") >= 0L && col("k") <= 9L,
      cdc = true)
    assert(TxnTable.manifest(spark, t, rDel.version).cdcRefs.nonEmpty)
    MatView.refresh(spark, mv)
    val direct = TxnTable.snapshot(spark, t).groupBy(col("g"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val got = TxnTable.snapshot(spark, mv).select(col("g"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === direct, "delete-feed refresh diverged from recompute")
    // a cdc MERGE whose change set is EMPTY marks change_noop (the
    // signed feed is provably empty) and refreshes cleanly
    val s2 = spark
    import s2.implicits._
    val rMNop = TxnTable.applyChangesMulti(spark, t,
      Seq.empty[(Long, String, java.math.BigDecimal, String)]
        .toDF("k", "g", "v", "op")
        .withColumn("v", col("v").cast(D12)),
      Seq("k"), cdc = true)
    assert(TxnTable.manifest(spark, t, rMNop.version).metrics
      .get("change_noop").contains(1L),
      "an empty cdc merge must mark change_noop")
    assert(MatView.refresh(spark, mv).baseVersion === rMNop.version)
    // an all-D cdc MERGE publishes the preimage feed and folds exactly
    val rMDel = TxnTable.applyChangesMulti(spark, t,
      TxnTable.snapshot(spark, t).filter(col("k") % 13 === 0)
        .withColumn("op", lit("D")), Seq("k"), cdc = true)
    assert(TxnTable.manifest(spark, t, rMDel.version).cdcRefs.nonEmpty)
    MatView.refresh(spark, mv)
    val directM = TxnTable.snapshot(spark, t).groupBy(col("g"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val gotM = TxnTable.snapshot(spark, mv).select(col("g"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotM === directM, "merge-feed refresh diverged from recompute")
    // a table with a data column named 'w' refuses the feed loudly
    val tw = fresh("mv_wcol")
    TxnTable.create(spark, tw,
      Seq((1L, 2.0)).toDF("k", "w"))
    val ew = intercept[IllegalArgumentException] {
      TxnTable.applyChangesMulti(spark, tw,
        Seq((1L, 3.0, "U")).toDF("k", "w", "op"), Seq("k"), cdc = true)
    }
    assert(ew.getMessage.contains("reserve the column name 'w'"),
      ew.getMessage)
    // a plain append publishes no feed — incremental refresh cannot
    // cover it and must say so, not silently rescan the base
    TxnTable.append(spark, t, baseDf(30)
      .withColumn("k", col("k") + 1000L))
    val e = intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv)
    }
    assert(e.getMessage.contains("without publishing a change feed"),
      s"wrong refusal: ${e.getMessage}")
    // the failed refresh moved nothing: cursor intact
    assert(MatView.lastRefreshed(spark, mv) === rMDel.version)
  }

  test("transparent rewrite DISQUALIFIES on shapes the MV cannot " +
      "answer: COUNT(col), a filter under the aggregate, extra keys") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.rw")
    s.sql("CREATE TABLE graft.mvspec.rw (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.rw SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(300)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/rw"
    val mv = fresh("mv_rw_view")
    MatView.create(spark, mv, loc, "g", "v")
    MatView.register(spark, mv)
    // "served from the MV" = the optimized plan holds NO catalog
    // relation and every parquet root lives under the MV path
    // (plan.toString truncates paths — collect the nodes instead)
    def mvServed(q: String): Boolean = {
      val p = s.sql(q).queryExecution.optimizedPlan
      val roots = ScanFiles.roots(p)
      val hasV2 = p.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.relation
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.nonEmpty
      !hasV2 && roots.nonEmpty && roots.forall(_.contains(mv))
    }
    def plan(q: String): String = if (mvServed(q)) mv else "base"
    // the answerable shape rewrites...
    assert(plan("SELECT g, COUNT(*) AS n, SUM(v) AS t " +
      "FROM graft.mvspec.rw GROUP BY g").contains(mv))
    // ...and answers exactly what the base would
    val got = s.sql("SELECT g, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) " +
      "AS t FROM graft.mvspec.rw GROUP BY g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val a = (0 until 300).filter(_ % 3 == 0)
    val b = (0 until 300).filterNot(_ % 3 == 0)
    assert(got === Set(("A", a.size.toLong, a.sum.toDouble),
      ("B", b.size.toLong, b.sum.toDouble)))
    // COUNT(def.value) is answerable (the nn fold) — and null-correct
    assert(plan("SELECT g, COUNT(v) AS n FROM graft.mvspec.rw " +
      "GROUP BY g").contains(mv), "COUNT(value) should rewrite via nn")
    // COUNT of a NON-fold column is not
    assert(!plan("SELECT g, COUNT(k) AS n FROM graft.mvspec.rw " +
      "GROUP BY g").contains(mv), "COUNT(other col) must not rewrite")
    // COUNT(NULL) is null-skipping of nothing — the n fold can't serve
    assert(!plan("SELECT g, COUNT(NULL) AS n FROM graft.mvspec.rw " +
      "GROUP BY g").contains(mv), "COUNT(NULL) must not rewrite")
    // a filter under the aggregate: the MV has no residual info
    assert(!plan("SELECT g, COUNT(*) AS n FROM graft.mvspec.rw " +
      "WHERE k > 10 GROUP BY g").contains(mv),
      "filtered aggregates must not rewrite")
    // extra grouping keys
    assert(!plan("SELECT g, k % 2, COUNT(*) AS n FROM graft.mvspec.rw " +
      "GROUP BY g, k % 2").contains(mv),
      "multi-key grouping must not rewrite")
    // SUM of a different column
    assert(!plan("SELECT g, SUM(k) AS t FROM graft.mvspec.rw " +
      "GROUP BY g").contains(mv), "SUM(other col) must not rewrite")
    // DISTINCT aggregates
    assert(!plan("SELECT g, COUNT(DISTINCT v) AS n FROM graft.mvspec.rw " +
      "GROUP BY g").contains(mv), "DISTINCT must not rewrite")
  }

  test("CALL create_matview / refresh_matview: the MV is a catalog " +
      "table, the rewrite serves SQL aggregates over the base") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    Seq("pbase", "pview").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvspec.$t"))
    Fs.deleteRecursively(s"${GraftCatalog.defaultWarehouse}/mvspec/pview")
    s.sql("CREATE TABLE graft.mvspec.pbase (k BIGINT, g STRING, " +
      "v DECIMAL(12,2)) TBLPROPERTIES ('index' = 'k')")
    s.sql("INSERT INTO graft.mvspec.pbase SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'E' ELSE 'O' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(200)")
    s.sql("CALL graft.system.create_matview('mvspec.pview', " +
      "'mvspec.pbase', 'g', 'v')")
    // the MV IS a catalog table
    val mvRows = s.sql("SELECT g, n FROM graft.mvspec.pview").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mvRows === Map("E" -> 100L, "O" -> 100L))
    // the transparent rewrite serves the base aggregate from it
    val q = "SELECT g, COUNT(*) AS n, SUM(v) AS t " +
      "FROM graft.mvspec.pbase GROUP BY g"
    assert(s.sql(q).queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
    }.isEmpty, "CALL-created MV must feed the rewrite")
    // move the base with a cdc-publishing change, refresh via CALL
    val baseLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/pbase"
    TxnTable.applyChangesMor(spark, baseLoc,
      baseDf(0).sparkSession.range(1000, 1010)
        .selectExpr("id AS k", "'N' AS g",
          "CAST(id AS DECIMAL(12,2)) AS v", "'U' AS op"),
      "k", cdc = true)
    s.sql("CALL graft.system.refresh_matview('mvspec.pview')")
    val after = s.sql("SELECT g, n FROM graft.mvspec.pview").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after === Map("E" -> 100L, "O" -> 100L, "N" -> 10L))
  }

  test("every view kind refreshes through CALL refresh_matview and " +
      "REFRESH MATERIALIZED VIEW, lists its kind, and drops") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvkinds")
    Seq("f", "d").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvkinds.$t"))
    s.sql("CREATE TABLE graft.mvkinds.f (k BIGINT, fk BIGINT, " +
      "g STRING, v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvkinds.f SELECT id, id % 10, " +
      "CASE WHEN id % 2 = 0 THEN 'E' ELSE 'O' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(100)")
    s.sql("CREATE TABLE graft.mvkinds.d (pk BIGINT, seg STRING)")
    s.sql("INSERT INTO graft.mvkinds.d SELECT id, " +
      "CASE WHEN id < 5 THEN 'X' ELSE 'Y' END FROM RANGE(10)")
    val w = GraftCatalog.defaultWarehouse
    val fact = s"$w/mvkinds/f"
    val star = "FROM graft.mvkinds.f f JOIN graft.mvkinds.d d " +
      "ON f.fk = d.pk GROUP BY seg"
    // (kind, CREATE statement, defining query)
    val kinds = Seq(
      ("fold", "CREATE MATERIALIZED VIEW",
        "SELECT g, COUNT(*) AS n, SUM(v) AS t FROM graft.mvkinds.f " +
          "GROUP BY g"),
      ("extrema", "CREATE MATERIALIZED VIEW",
        "SELECT g, MIN(v) AS lo, MAX(v) AS hi FROM graft.mvkinds.f " +
          "GROUP BY g"),
      ("join", "CREATE MATERIALIZED VIEW",
        s"SELECT seg, COUNT(*) AS n, SUM(v) AS t $star"),
      ("live", "CREATE LIVE MATERIALIZED VIEW",
        s"SELECT seg, COUNT(*) AS n, SUM(v) AS t $star"))
    var nextKey = 1000L
    kinds.foreach { case (kind, create, select) =>
      val ident = s"graft.mvkinds.v_$kind"
      val loc = s"$w/mvkinds/v_$kind"
      Fs.deleteRecursively(loc)
      s.sql(s"$create $ident AS $select")
      Seq(s"CALL graft.system.refresh_matview('mvkinds.v_$kind')",
          s"REFRESH MATERIALIZED VIEW $ident").foreach { refreshSql =>
        // move the fact with a feed-publishing insert, then refresh
        TxnTable.applyChangesMor(spark, fact, s.range(nextKey,
          nextKey + 5).selectExpr("id AS k", "id % 10 AS fk", "'N' AS g",
          "CAST(id AS DECIMAL(12,2)) AS v", "'U' AS op"), "k", cdc = true)
        nextKey += 5
        s.sql(refreshSql)
        assert(MatView.lastRefreshed(spark, loc) ===
          TxnTable.currentVersion(spark, fact),
          s"$kind view: `$refreshSql` must move the cursor to the head")
        val shown = s.sql("SHOW MATERIALIZED VIEWS").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        assert(shown.contains((ident, kind)),
          s"SHOW must list $ident as $kind, got $shown")
      }
      assert(s.sql(s"DROP MATERIALIZED VIEW $ident").collect()(0)
        .getString(0) === kind)
      assert(!MatView.registered().exists(_._1 == loc),
        s"DROP must deregister the $kind view")
    }
  }

  test("rewrite reconstructs null-skipping SUM (all-NULL group answers " +
      "NULL) and never serves a time-travel read of another version") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.rwn")
    s.sql("CREATE TABLE graft.mvspec.rwn (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    // group C carries ONLY NULL values
    s.sql("INSERT INTO graft.mvspec.rwn SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'C' ELSE 'B' END, " +
      "CASE WHEN id % 3 = 0 THEN CAST(NULL AS DECIMAL(12,2)) " +
      "ELSE CAST(id AS DECIMAL(12,2)) END FROM RANGE(90)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/rwn"
    val mv = fresh("mv_rwn_view")
    MatView.create(spark, mv, loc, "g", "v")
    MatView.register(spark, mv)
    val q = "SELECT g, COUNT(*) AS n, COUNT(v) AS nn, SUM(v) AS t " +
      "FROM graft.mvspec.rwn GROUP BY g"
    // served from the MV (no catalog relation in the optimized plan)...
    val optimized = s.sql(q).queryExecution.optimizedPlan
    assert(optimized.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
    }.isEmpty, "the null-semantics query should be MV-served")
    // ...and the all-NULL group answers NULL, 0 non-null, full count
    val rows = s.sql(q).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.getDecimal(3))))).toMap
    assert(rows("C") === ((30L, 0L, None)),
      s"all-NULL group must SUM to NULL through the rewrite: $rows")
    assert(rows("B")._2 === 60L)
    // advance the base + refresh: a pinned read of the OLD version must
    // fall through to the base scan (and answer from v0, not the MV)
    s.sql("INSERT INTO graft.mvspec.rwn VALUES (1000, 'D', " +
      "CAST(7 AS DECIMAL(12,2)))")
    // plain INSERT publishes no feed: recreate the MV at the new head
    Fs.deleteRecursively(mv)
    MatView.create(spark, mv, loc, "g", "v")
    MatView.register(spark, mv)
    val tt = "SELECT g, COUNT(*) AS n FROM graft.mvspec.rwn " +
      "VERSION AS OF 1 GROUP BY g"
    val pinnedPlan = s.sql(tt).queryExecution.optimizedPlan
    assert(pinnedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
    }.nonEmpty, "a time-travel read of another version must NOT be " +
      "served from the current MV")
    assert(s.sql(tt).collect().map(_.getString(0)).toSet === Set("B", "C"),
      "the pinned read must answer from its own version")
    // the CURRENT read serves from the fresh MV and sees group D
    assert(s.sql("SELECT g, COUNT(*) AS n FROM graft.mvspec.rwn " +
      "GROUP BY g").collect().map(_.getString(0)).toSet ===
      Set("B", "C", "D"))
  }

  test("a group whose count reaches zero LEAVES the MV; an MV compact " +
      "between refreshes does not disturb the cursor") {
    val t = fresh("mv_del")
    val mv = fresh("mv_del_view")
    mkBase(t, 90)
    MatView.create(spark, mv, t, "g", "v")
    assert(TxnTable.snapshot(spark, mv).count() === 2L) // groups A, B
    // delete EVERY 'A' row (k % 3 == 0)
    TxnTable.applyChangesMor(spark, t,
      change(baseDf(90).filter(col("g") === "A"), "D"), "k", cdc = true)
    TxnTable.compact(spark, mv) // interleaved MV maintenance
    val r = MatView.refresh(spark, mv)
    assert(r.baseVersion === 1L)
    val rows = TxnTable.snapshot(spark, mv).collect()
    assert(rows.length === 1 && rows.head.getString(0) === "B",
      s"emptied group must leave the MV: ${rows.mkString(", ")}")
    // and the surviving group's fold is exact
    val wantN = (0 until 90).count(_ % 3 != 0).toLong
    assert(rows.head.getLong(1) === wantN)
  }

  test("stale-MV compensation: the rewrite serves MV ⊕ feed tail when " +
      "every tail commit published a feed; time travel behind the " +
      "cursor and feed-less tails fall through; a content-invariant " +
      "tail serves the MV alone") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.comp")
    s.sql("CREATE TABLE graft.mvspec.comp (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.comp SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(200)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/comp"
    val mv = fresh("mv_comp_view")
    MatView.create(spark, mv, loc, "g", "v")
    MatView.register(spark, mv)
    val q = "SELECT g, COUNT(*) AS n, COUNT(v) AS nn, " +
      "CAST(SUM(v) AS DOUBLE) AS t FROM graft.mvspec.comp GROUP BY g"
    def srcs(query: String): (Seq[String], Boolean) = {
      val p = s.sql(query).queryExecution.optimizedPlan
      val roots = ScanFiles.roots(p)
      val hasV2 = p.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.relation
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.nonEmpty
      (roots, hasV2)
    }
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(count(lit(1)).as("n"),
        count(col("v")).as("nn"), sum(col("v")).cast("double").as("t"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    // cdc batch: delete EVERY 'A' row (group leaves), insert a new 'C'
    // group that is ALL NULL values (n > 0, nn == 0 → SUM must be NULL)
    val ch = s.sql("SELECT k, g, v, 'D' AS op FROM graft.mvspec.comp " +
      "WHERE g = 'A' UNION ALL SELECT id + 1000, 'C', " +
      "CAST(NULL AS DECIMAL(12,2)), 'U' FROM RANGE(10)")
    TxnTable.applyChangesMor(spark, loc, ch, "k", cdc = true)
    // COMPENSATED serve: MV + feed files only — no base data, no v2
    val (r1, v1) = srcs(q)
    assert(!v1 && r1.nonEmpty &&
      r1.forall(p => p.contains(mv) || p.contains(s"$loc/_cdc")) &&
      r1.exists(_.contains(s"$loc/_cdc")) && r1.exists(_.contains(mv)),
      s"compensated plan must read MV + feeds only: $r1")
    val compRows = agg(TxnTable.snapshot(spark, loc).select(col("g"),
      col("v")))
    val served = s.sql(q).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(served === compRows, "compensated != direct recompute")
    assert(!served.exists(_._1 == "A") &&
      served.exists(t => t._1 == "C" && t._2 == 10L && t._3 == 0L &&
        t._4.isEmpty),
      s"deleted group must leave; all-NULL group must SUM to NULL: $served")
    // refresh → cursor = 1; TIME TRAVEL to v0 is BEHIND the cursor:
    // the MV (even compensated) can't answer the past — base scan
    MatView.refresh(spark, mv)
    val (r2, v2) = srcs(q.replace("graft.mvspec.comp",
      "graft.mvspec.comp VERSION AS OF 0"))
    // a BASE scan, specifically (the v2 relation when the pinned
    // version is tombstone-free, base data files otherwise) — and
    // NEVER an MV or feed file: a (wrong) compensated serve would read
    // MV + _cdc paths, which the old any-non-mv-path check missed
    assert((v2 || r2.exists(_.contains(s"$loc/data"))) &&
      !r2.exists(p => p.contains(mv) || p.contains(s"$loc/_cdc")),
      s"a time-travel read behind the cursor must scan the base: $r2")
    // a content-invariant tail (compact) serves the MV ALONE
    TxnTable.compact(spark, loc)
    val (r3, v3) = srcs(q)
    assert(!v3 && r3.nonEmpty && r3.forall(_.contains(mv)),
      s"content-invariant tail must serve the MV alone: $r3")
    // a FEED-LESS content commit breaks compensation: base scan again
    s.sql("INSERT INTO graft.mvspec.comp VALUES (5000, 'Z', 1.00)")
    val (r4, v4) = srcs(q)
    assert(v4 || r4.exists(p => !p.contains(mv)),
      "a feed-less tail must fall through to the base scan")
    assert(s.sql(q).collect().map(_.getString(0)).toSet.contains("Z"))
  }

  test("aggregate widening: AVG over a decimal value rewrites (exactly " +
      "the base's decimal arithmetic, NULL for all-NULL groups); AVG " +
      "over a non-decimal falls through; MIN/MAX refuse at create") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.avg")
    s.sql("CREATE TABLE graft.mvspec.avg (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    // group 'N' is ALL NULL values: AVG must answer NULL through the MV
    s.sql("INSERT INTO graft.mvspec.avg SELECT id, " +
      "CASE WHEN id % 7 = 0 THEN 'N' WHEN id % 3 = 0 THEN 'A' " +
      "ELSE 'B' END, CASE WHEN id % 7 = 0 THEN NULL " +
      "ELSE CAST(id * 1.37 AS DECIMAL(12,2)) END FROM RANGE(210)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/avg"
    val mv = fresh("mv_avg_view")
    MatView.create(spark, mv, loc, "g", "v")
    MatView.register(spark, mv)
    def servedFromMv(q: String): Boolean = {
      val p = s.sql(q).queryExecution.optimizedPlan
      val hasV2 = p.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.nonEmpty
      val roots = ScanFiles.roots(p)
      !hasV2 && roots.nonEmpty && roots.forall(_.contains(mv))
    }
    val q = "SELECT g, AVG(v) AS a FROM graft.mvspec.avg GROUP BY g"
    assert(servedFromMv(q), "decimal AVG must rewrite via total/nn")
    // exactness: the MV-served AVG equals the base recompute COLLECTED
    // — same values, same result type, bit for bit
    val served = s.sql(q).collect()
      .map(r => (r.getString(0), Option(r.getDecimal(1)))).toMap
    MatView.registeredFor(loc) // (registry intact)
    val direct = TxnTable.snapshot(spark, loc)
      .groupBy(col("g")).agg(avg(col("v")).as("a")).collect()
      .map(r => (r.getString(0), Option(r.getDecimal(1)))).toMap
    assert(served === direct, s"AVG rewrite diverged: $served vs $direct")
    assert(served("N").isEmpty, "all-NULL group must answer NULL")
    // AVG wrapped in a cast still rewrites through the outer expression
    assert(servedFromMv("SELECT g, CAST(AVG(v) AS DOUBLE) AS a " +
      "FROM graft.mvspec.avg GROUP BY g"))
    // a LONG value column: AVG is FP arithmetic the exact fold can't
    // mirror bit-for-bit — falls through (COUNT/SUM still rewrite)
    s.sql("DROP TABLE IF EXISTS graft.mvspec.avgl")
    s.sql("CREATE TABLE graft.mvspec.avgl (k BIGINT, g STRING, v BIGINT)")
    s.sql("INSERT INTO graft.mvspec.avgl SELECT id, 'A', id FROM RANGE(50)")
    val locL = s"${GraftCatalog.defaultWarehouse}/mvspec/avgl"
    val mvL = fresh("mv_avgl_view")
    MatView.create(spark, mvL, locL, "g", "v")
    MatView.register(spark, mvL)
    def servedL(q: String): Boolean = {
      val p = s.sql(q).queryExecution.optimizedPlan
      p.collect {
        case l: org.apache.spark.sql.execution.datasources
            .LogicalRelation => l
      }.nonEmpty && p.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.isEmpty
    }
    assert(servedL("SELECT g, SUM(v) AS t FROM graft.mvspec.avgl " +
      "GROUP BY g"), "SUM over the long value must still rewrite")
    assert(!servedL("SELECT g, AVG(v) AS a FROM graft.mvspec.avgl " +
      "GROUP BY g"), "long AVG must fall through to the base")
    // MIN/MAX: declared-and-refused at create, with the remedy
    val e = intercept[IllegalArgumentException] {
      MatView.create(spark, fresh("mv_minmax"), loc, Seq("g"), "v",
        aggs = Seq("count", "max"))
    }
    assert(e.getMessage.contains("cannot maintain MAX"), e.getMessage)
    // the declared aggregate set is a CONTRACT: a count-only MV never
    // serves SUM, however derivable the fold would make it
    s.sql("DROP TABLE IF EXISTS graft.mvspec.conly")
    s.sql("CREATE TABLE graft.mvspec.conly (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.conly SELECT id, 'A', " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(40)")
    val locC = s"${GraftCatalog.defaultWarehouse}/mvspec/conly"
    val mvC = fresh("mv_conly_view")
    MatView.create(spark, mvC, locC, Seq("g"), "v",
      aggs = Seq("count"))
    MatView.register(spark, mvC)
    def servedC(q: String): Boolean = {
      val p = s.sql(q).queryExecution.optimizedPlan
      p.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.isEmpty
    }
    assert(servedC("SELECT g, COUNT(*) AS n FROM graft.mvspec.conly " +
      "GROUP BY g"), "declared COUNT must serve")
    assert(!servedC("SELECT g, SUM(v) AS t FROM graft.mvspec.conly " +
      "GROUP BY g"), "undeclared SUM must fall through")
    assert(!servedC("SELECT g, AVG(v) AS a FROM graft.mvspec.conly " +
      "GROUP BY g"), "undeclared AVG must fall through")
  }

  test("aggregate widening: a multi-key MV rewrites GROUP BY over the " +
      "key set in any order, refreshes through the composite-key " +
      "merge, and serves subset/global groupings by rollup") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.mk")
    s.sql("CREATE TABLE graft.mvspec.mk (k BIGINT, g STRING, h BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.mk SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, id % 4, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(240)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/mk"
    val mv = fresh("mv_mk_view")
    MatView.create(spark, mv, loc, Seq("g", "h"), "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    // both key orders rewrite; a SUBSET grouping serves by ROLLUP (the
    // fold is summable — one more aggregation of MV rows answers the
    // coarser grouping exactly), including the GLOBAL aggregate; a
    // non-key grouping still falls through
    assert(served("SELECT g, h, COUNT(*) AS n, SUM(v) AS t " +
      "FROM graft.mvspec.mk GROUP BY g, h"))
    assert(served("SELECT h, g, SUM(v) AS t FROM graft.mvspec.mk " +
      "GROUP BY h, g"))
    assert(served("SELECT g, COUNT(*) AS n FROM graft.mvspec.mk " +
      "GROUP BY g"), "subset grouping must serve by rollup")
    assert(served("SELECT COUNT(*) AS n, SUM(v) AS t " +
      "FROM graft.mvspec.mk"), "the global aggregate must serve by rollup")
    assert(!served("SELECT k, COUNT(*) AS n FROM graft.mvspec.mk " +
      "GROUP BY k"), "a non-key grouping must fall through")
    // rollup answers == base recompute, at both levels
    val gOnly = s.sql("SELECT g, COUNT(*) AS n, COUNT(v) AS nn, " +
      "CAST(SUM(v) AS DOUBLE) AS t, AVG(v) AS a " +
      "FROM graft.mvspec.mk GROUP BY g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), Option(r.getDecimal(4)))).toSet
    val gDirect = TxnTable.snapshot(spark, loc)
      .groupBy(col("g")).agg(count(lit(1)).as("n"),
        count(col("v")).as("nn"), sum(col("v")).cast("double").as("t"),
        avg(col("v")).as("a")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), Option(r.getDecimal(4)))).toSet
    assert(gOnly === gDirect, "rollup diverged from recompute")
    val glob = s.sql("SELECT COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS t " +
      "FROM graft.mvspec.mk").collect()(0)
    val globD = TxnTable.snapshot(spark, loc)
      .agg(count(lit(1)), sum(col("v")).cast("double")).collect()(0)
    assert(glob.getLong(0) === globD.getLong(0) &&
      glob.getDouble(1) === globD.getDouble(1))
    // answers match the base exactly
    val q = "SELECT g, h, COUNT(*) AS n, COUNT(v) AS nn, " +
      "CAST(SUM(v) AS DOUBLE) AS t, AVG(v) AS a " +
      "FROM graft.mvspec.mk GROUP BY g, h"
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
      Option(r.getDecimal(5)))).toSet
    val fresh0 = rows()
    val direct = TxnTable.snapshot(spark, loc)
      .groupBy(col("g"), col("h")).agg(count(lit(1)).as("n"),
        count(col("v")).as("nn"), sum(col("v")).cast("double").as("t"),
        avg(col("v")).as("a")).collect().map(r => (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        Option(r.getDecimal(5)))).toSet
    assert(fresh0 === direct)
    // a cdc change batch + refresh: the composite-key merge folds it
    val ch = s.sql("SELECT k, g, h, v, 'D' AS op FROM graft.mvspec.mk " +
      "WHERE g = 'A' AND h = 1 UNION ALL " +
      "SELECT k + 1000, 'C', CAST(9 AS BIGINT), v, 'U' " +
      "FROM graft.mvspec.mk WHERE k % 10 = 0")
    TxnTable.applyChangesMor(spark, loc, ch, "k", cdc = true)
    val r = MatView.refresh(spark, mv)
    assert(r.commitsFolded === 1)
    val after = rows()
    val directAfter = TxnTable.snapshot(spark, loc)
      .groupBy(col("g"), col("h")).agg(count(lit(1)).as("n"),
        count(col("v")).as("nn"), sum(col("v")).cast("double").as("t"),
        avg(col("v")).as("a")).collect().map(r => (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        Option(r.getDecimal(5)))).toSet
    assert(after === directAfter,
      "multi-key refresh diverged from recompute")
    assert(!after.exists(t => t._1 == "A" && t._2 == 1L),
      "the emptied (A,1) group must leave the MV")
    assert(after.exists(t => t._1 == "C" && t._2 == 9L),
      "the new (C,9) group must be born")
  }

  test("a fold view keyed on a DECIMAL column stat-indexes floor/ceil-" +
      "widened boxes: money-range dashboards serve pruned and exact, " +
      "and the prune survives a refresh merge") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.dk")
    s.sql("CREATE TABLE graft.mvspec.dk (k BIGINT, p DECIMAL(12,2), " +
      "v BIGINT)")
    // 32 distinct FRACTIONAL price points — every box boundary is a
    // non-integer, so a truncating cast would mis-box every file
    s.sql("INSERT INTO graft.mvspec.dk SELECT id, " +
      "CAST((id % 32) * 10 + 0.75 AS DECIMAL(12,2)), id FROM RANGE(320)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/dk"
    val mv = fresh("mv_dk_view")
    MatView.create(spark, mv, loc, Seq("p"), "v")
    MatView.register(spark, mv)
    // the MV's own manifest stat-indexes the decimal key, widened:
    // global box = [floor(0.75), ceil(310.75)] = [0, 311]
    val m = TxnTable.manifest(spark, mv,
      TxnTable.currentVersion(spark, mv))
    assert(m.idxCols === Seq("p"), m.idxCols.toString)
    val mvLive = m.entries.size
    assert(mvLive > 1, s"need a multi-file MV, got $mvLive")
    val boxes = m.entries.flatMap(_.statFor("p"))
    assert(boxes.size === mvLive && boxes.forall(b => b._1 <= b._2))
    assert(boxes.map(_._1).min === 0L && boxes.map(_._2).max === 311L,
      s"widened global box expected [0, 311], got " +
        s"[${boxes.map(_._1).min}, ${boxes.map(_._2).max}]")
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    def mvFilesIn(q: String): Int =
      ScanFiles.roots(s.sql(q).queryExecution.optimizedPlan)
        .count(p => p.contains(mv) && p.endsWith(".parquet"))
    def check(q: String): Unit = {
      assert(served(q), s"must serve from the MV: $q")
      val opened = mvFilesIn(q)
      assert(opened >= 1 && opened < TxnTable.manifest(spark, mv,
        TxnTable.currentVersion(spark, mv)).entries.size,
        s"the decimal slice must prune MV files (opened $opened): $q")
      val got = s.sql(q).collect().map(r =>
        (r.getDecimal(0).toPlainString, r.getLong(1), r.getLong(2))).toSet
      val direct = {
        val pred = q.split("WHERE ")(1).split(" GROUP BY")(0)
        TxnTable.snapshot(spark, loc).createOrReplaceTempView("dk_direct")
        s.sql(s"SELECT p, COUNT(*) AS n, SUM(v) AS t FROM dk_direct " +
          s"WHERE $pred GROUP BY p").collect().map(r =>
          (r.getDecimal(0).toPlainString, r.getLong(1), r.getLong(2)))
          .toSet
      }
      assert(got === direct, s"served answer diverged from recompute: $q")
    }
    check("SELECT p, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.dk " +
      "WHERE p >= 100.50 AND p <= 200.25 GROUP BY p")
    check("SELECT p, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.dk " +
      "WHERE p = 200.75 GROUP BY p")
    check("SELECT p, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.dk " +
      "WHERE p IN (0.75, 10.75) GROUP BY p")
    // a cdc batch + refresh: the self-clustering merge keeps the
    // decimal key stats, the widened global box grows to the new
    // maximum, and slices keep pruning
    val ch = s.sql("SELECT k, p, v, 'D' AS op FROM graft.mvspec.dk " +
      "WHERE k % 7 = 0 UNION ALL SELECT k + 1000, " +
      "CAST(500.25 AS DECIMAL(12,2)), v, 'U' FROM graft.mvspec.dk " +
      "WHERE k % 16 = 0")
    TxnTable.applyChangesMor(spark, loc, ch, "k", cdc = true)
    assert(MatView.refresh(spark, mv).commitsFolded === 1)
    val m2 = TxnTable.manifest(spark, mv,
      TxnTable.currentVersion(spark, mv))
    assert(m2.idxCols === Seq("p"),
      "the refresh merge must keep the decimal index")
    val boxes2 = m2.entries.flatMap(_.statFor("p"))
    assert(boxes2.map(_._2).max === 501L,
      s"the new group's ceil(500.25) must enter the stats, got " +
        s"${boxes2.map(_._2).max}")
    check("SELECT p, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.dk " +
      "WHERE p >= 100.50 AND p <= 200.25 GROUP BY p")
    check("SELECT p, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.dk " +
      "WHERE p = 500.25 GROUP BY p")
  }

  test("filtered-aggregate rewrite: key-only predicates serve from the " +
      "MV (incl. before a rollup); anything touching a non-key column " +
      "falls through") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.fk")
    s.sql("CREATE TABLE graft.mvspec.fk (k BIGINT, g STRING, h BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.fk SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, id % 4, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(240)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/fk"
    val mv = fresh("mv_fk_view")
    MatView.create(spark, mv, loc, Seq("g", "h"), "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    // predicate on the grouped key
    assert(served("SELECT g, COUNT(*) AS n, SUM(v) AS t " +
      "FROM graft.mvspec.fk WHERE g = 'A' GROUP BY g"),
      "a grouped-key predicate must serve from the MV")
    // predicate on a key the query does NOT group by: the filter runs
    // before the rollup re-aggregation
    assert(served("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE h IN (1, 2) GROUP BY g"),
      "a non-grouped key predicate must serve before the rollup")
    // ...and filtered-to-global
    assert(served("SELECT COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE g = 'B'"), "filtered global aggregate must serve")
    // the value column, a non-key column, or a MIX must fall through:
    // the MV folded those rows away and holds no residual
    assert(!served("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE v > 5 GROUP BY g"), "a value predicate must fall through")
    assert(!served("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE k > 10 GROUP BY g"), "a non-key predicate must fall through")
    assert(!served("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE g = 'A' AND k > 10 GROUP BY g"),
      "a mixed key/non-key predicate must fall through")
    // a nondeterministic predicate never serves, even on a key
    assert(!served("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE g = CASE WHEN rand() < 2 THEN 'A' ELSE 'B' END GROUP BY g"),
      "a nondeterministic predicate must fall through")
    // answers == base recompute, for every served shape (incl. an IN
    // with a repeated-reference OR form, and a filtered AVG)
    def q1 = s.sql("SELECT g, COUNT(*) AS n, COUNT(v) AS nn, " +
      "CAST(SUM(v) AS DOUBLE) AS t, AVG(v) AS a FROM graft.mvspec.fk " +
      "WHERE h = 1 OR h = 3 GROUP BY g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), Option(r.getDecimal(4)))).toSet
    def direct1 = TxnTable.snapshot(spark, loc)
      .filter(col("h") === 1 || col("h") === 3)
      .groupBy(col("g")).agg(count(lit(1)).as("n"),
        count(col("v")).as("nn"), sum(col("v")).cast("double").as("t"),
        avg(col("v")).as("a")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), Option(r.getDecimal(4)))).toSet
    assert(served("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE h = 1 OR h = 3 GROUP BY g"))
    assert(q1 === direct1, "filtered rollup diverged from recompute")
    // a predicate selecting NO groups answers empty — served from the
    // MV, or collapsed away entirely ([[planServedOrFolded]])
    def servedOrFolded(q: String): Boolean =
      planServedOrFolded(s.sql(q), mv)
    assert(servedOrFolded("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE g = 'Z' GROUP BY g"))
    assert(s.sql("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE g = 'Z' GROUP BY g").collect().isEmpty)
    // MANIFEST-LEVEL MV FILE PRUNING: the rewrite's key filter reaches
    // the view's scan through Catalyst's pushdown and ManifestPrune
    // prunes it, so the served plan's parquet roots ARE the kept
    // files — a point predicate over the (g, h)-clustered 8-group view
    // must open strictly fewer files than the view holds
    def mvFilesIn(q: String): Int =
      ScanFiles.roots(s.sql(q).queryExecution.optimizedPlan)
        .count(p => p.contains(mv) && p.endsWith(".parquet"))
    val mvLive = TxnTable.manifest(spark, mv,
      TxnTable.currentVersion(spark, mv)).entries.size
    val openedPoint = mvFilesIn("SELECT g, COUNT(*) AS n " +
      "FROM graft.mvspec.fk WHERE g = 'A' AND h = 2 GROUP BY g")
    assert(openedPoint >= 1 && openedPoint < mvLive,
      s"the mixed int+string point probe must prune MV files " +
        s"(opened $openedPoint of $mvLive)")
    // a RANGE conjunct pair prunes too; an OR contributes no bound —
    // full MV read, answers stay exact either way
    val openedRange = mvFilesIn("SELECT g, COUNT(*) AS n " +
      "FROM graft.mvspec.fk WHERE h >= 2 AND h <= 3 GROUP BY g")
    assert(openedRange >= 1 && openedRange < mvLive,
      s"the range probe must prune MV files ($openedRange of $mvLive)")
    assert(mvFilesIn("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE h = 1 OR h = 3 GROUP BY g") == mvLive,
      "an OR predicate contributes no bound — every MV file reads")
    // a provably-empty predicate (h = 1 AND h = 2) keeps zero files:
    // the read plans no MV file scan (or folds away), answering empty
    assert(servedOrFolded("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE h = 1 AND h = 2 GROUP BY g"))
    assert(s.sql("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE h = 1 AND h = 2 GROUP BY g").collect().isEmpty)
    // staleness composes: one unrefreshed cdc batch — the served plan
    // is filter-over-(MV ⊕ feed tail) and still answers exactly
    val ch = s.sql("SELECT k, g, h, v, 'D' AS op FROM graft.mvspec.fk " +
      "WHERE g = 'A' AND h = 1 UNION ALL " +
      "SELECT k + 1000, 'C', CAST(1 AS BIGINT), v, 'U' " +
      "FROM graft.mvspec.fk WHERE k % 10 = 0")
    TxnTable.applyChangesMor(spark, loc, ch, "k", cdc = true)
    val q2 = s.sql("SELECT g, COUNT(*) AS n FROM graft.mvspec.fk " +
      "WHERE h = 1 GROUP BY g").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val direct2 = TxnTable.snapshot(spark, loc).filter(col("h") === 1)
      .groupBy(col("g")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(q2 === direct2, "filtered compensation diverged")
    assert(q2.exists(_._1 == "C") && !q2.exists(_._1 == "A"),
      "the feed-born group must surface and the emptied one must leave")
  }

  test("distinct-count rewrite: COUNT(DISTINCT key-column) serves from " +
      "the MV's own rows; value/non-key distincts and an undeclared " +
      "count fall through; deletion keeps it exact") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.dk")
    s.sql("CREATE TABLE graft.mvspec.dk (k BIGINT, g STRING, h BIGINT, " +
      "v DECIMAL(12,2))")
    // h takes 6 values, unevenly across g: distinct-per-group differs
    s.sql("INSERT INTO graft.mvspec.dk SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, " +
      "CASE WHEN id % 3 = 0 THEN id % 4 ELSE id % 6 END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(240)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/dk"
    val mv = fresh("mv_dk_view")
    MatView.create(spark, mv, loc, Seq("g", "h"), "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    // the canonical shape, mixed with plain fold aggregates
    val qMix = "SELECT g, COUNT(DISTINCT h) AS dh, COUNT(*) AS n, " +
      "CAST(SUM(v) AS DOUBLE) AS t FROM graft.mvspec.dk GROUP BY g"
    assert(served(qMix), "COUNT(DISTINCT key) must serve from the MV")
    def gotMix = s.sql(qMix).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    def dirMix = TxnTable.snapshot(spark, loc).groupBy(col("g"))
      .agg(countDistinct(col("h")).as("dh"), count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("t")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(gotMix === dirMix, "distinct rollup diverged from recompute")
    // the global distinct, and a key-filtered distinct, both serve
    assert(served("SELECT COUNT(DISTINCT h) AS dh FROM graft.mvspec.dk"))
    assert(s.sql("SELECT COUNT(DISTINCT h) AS dh FROM graft.mvspec.dk")
      .collect()(0).getLong(0) === 6L)
    assert(served("SELECT g, COUNT(DISTINCT h) AS dh " +
      "FROM graft.mvspec.dk WHERE g = 'A' GROUP BY g"))
    // DISTINCT of a grouped key is degenerate but exact (1 per group)
    assert(served("SELECT g, COUNT(DISTINCT g) AS dg " +
      "FROM graft.mvspec.dk GROUP BY g"))
    assert(s.sql("SELECT g, COUNT(DISTINCT g) AS dg " +
      "FROM graft.mvspec.dk GROUP BY g").collect()
      .forall(_.getLong(1) == 1L))
    // the VALUE column (fold collapsed its multiset), a non-key, a
    // cast around the key, and a filter clause all fall through
    assert(!served("SELECT g, COUNT(DISTINCT v) AS dv " +
      "FROM graft.mvspec.dk GROUP BY g"),
      "value-column distinct must fall through")
    assert(!served("SELECT g, COUNT(DISTINCT k) AS dk " +
      "FROM graft.mvspec.dk GROUP BY g"),
      "non-key distinct must fall through")
    assert(!served("SELECT g, COUNT(DISTINCT CAST(h AS STRING)) AS dh " +
      "FROM graft.mvspec.dk GROUP BY g"),
      "a cast around the key must fall through")
    assert(!served("SELECT g, COUNT(DISTINCT h) FILTER (WHERE h > 1) " +
      "AS dh FROM graft.mvspec.dk GROUP BY g"),
      "a filter clause must fall through")
    // an MV declared WITHOUT the count family never answers distincts
    s.sql("DROP TABLE IF EXISTS graft.mvspec.dk2")
    s.sql("CREATE TABLE graft.mvspec.dk2 (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.dk2 SELECT id, 'A', " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(10)")
    val loc2 = s"${GraftCatalog.defaultWarehouse}/mvspec/dk2"
    val mv2 = fresh("mv_dk2_view")
    MatView.create(spark, mv2, loc2, Seq("g"), "v", aggs = Seq("sum"))
    MatView.register(spark, mv2)
    assert(!planServedFrom(s.sql("SELECT g, COUNT(DISTINCT g) AS dg " +
      "FROM graft.mvspec.dk2 GROUP BY g"), mv2),
      "an undeclared count family must not answer distincts")
    // deletion keeps the distinct exact THROUGH compensation: delete
    // every row of (g='B', h=5) — that h value must leave B's count —
    // and insert a brand-new h=9 under 'A'; never refreshed
    val ch = s.sql("SELECT k, g, h, v, 'D' AS op FROM graft.mvspec.dk " +
      "WHERE g = 'B' AND h = 5 UNION ALL " +
      "SELECT k + 1000, 'A', CAST(9 AS BIGINT), v, 'U' " +
      "FROM graft.mvspec.dk WHERE k % 30 = 0")
    TxnTable.applyChangesMor(spark, loc, ch, "k", cdc = true)
    assert(gotMix === dirMix,
      "compensated distinct diverged after delete + insert")
    val dh = s.sql("SELECT g, COUNT(DISTINCT h) AS dh " +
      "FROM graft.mvspec.dk GROUP BY g").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dh("B") === 3L, "the emptied h value must leave B's count")
    assert(dh("A") === 5L, "the feed-born h value must join A's count")
  }

  test("grouping-sets rewrite: ROLLUP/CUBE/GROUPING SETS serve as a " +
      "union of per-set MV rollups; grouping()/grouping_id() and " +
      "key filters compose; non-key groupings fall through") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.gs")
    s.sql("CREATE TABLE graft.mvspec.gs (k BIGINT, g STRING, h BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.gs SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, id % 4, " +
      "CASE WHEN id % 5 = 0 THEN NULL " +
      "ELSE CAST(id AS DECIMAL(12,2)) END FROM RANGE(240)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/gs"
    val mv = fresh("mv_gs_view")
    MatView.create(spark, mv, loc, Seq("g", "h"), "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    def rows(q: String) = s.sql(q).collect().map(_.toSeq.map {
      case null => "∅"
      case d: java.math.BigDecimal => d.toPlainString
      case x => x.toString
    }).map(_.mkString("|")).sorted.toSeq
    val qRollup = "SELECT g, h, COUNT(*) AS n, COUNT(v) AS nn, " +
      "CAST(SUM(v) AS DOUBLE) AS t FROM graft.mvspec.gs " +
      "GROUP BY ROLLUP(g, h)"
    assert(served(qRollup), "ROLLUP over MV keys must serve")
    // direct recompute via a temp view over the snapshot (same SQL)
    TxnTable.snapshot(spark, loc).createOrReplaceTempView("gs_direct")
    def directRows(q: String) =
      rows(q.replace("graft.mvspec.gs", "gs_direct"))
    assert(rows(qRollup) === directRows(qRollup),
      "ROLLUP served answer diverged from recompute")
    // CUBE, with a key-only WHERE (composes via applyKeyPreds)
    val qCube = "SELECT g, h, COUNT(*) AS n FROM graft.mvspec.gs " +
      "WHERE g = 'A' GROUP BY CUBE(g, h)"
    assert(served(qCube), "filtered CUBE must serve")
    assert(rows(qCube) === directRows(qCube), "CUBE diverged")
    // grouping() / grouping_id() resolve over the union frame's gid
    val qGid = "SELECT g, grouping(g) AS gg, grouping_id() AS gid, " +
      "COUNT(*) AS n, AVG(v) AS a FROM graft.mvspec.gs " +
      "GROUP BY GROUPING SETS ((g), ())"
    assert(served(qGid), "GROUPING SETS with grouping_id must serve")
    assert(rows(qGid) === directRows(qGid), "grouping_id diverged")
    // COUNT(DISTINCT key) composes with grouping sets
    val qDist = "SELECT g, COUNT(DISTINCT h) AS dh " +
      "FROM graft.mvspec.gs GROUP BY ROLLUP(g)"
    assert(served(qDist), "distinct-count under ROLLUP must serve")
    assert(rows(qDist) === directRows(qDist), "rollup distinct diverged")
    // an EMPTY selection: Spark's Expand-based execution returns ZERO
    // rows even for the () grouping set (zero input rows expand to
    // zero groups) — the served union must match, which is why the
    // grouping id enters each per-set rollup as a CONSTANT GROUPING
    // column instead of a post-aggregation literal
    val qEmpty = "SELECT g, COUNT(*) AS n FROM graft.mvspec.gs " +
      "WHERE g = 'ZZZ' GROUP BY ROLLUP(g)"
    assert(planServedOrFolded(s.sql(qEmpty), mv),
      "an empty key selection must serve (or fold away at plan time)")
    assert(rows(qEmpty) === directRows(qEmpty),
      "empty-input grouping sets diverged from Spark's execution")
    // reorder-duplicated grouping sets: Spark merges them into ONE
    // group fed twice (doubled aggregates) — irreproducible from the
    // fold, must fall through
    assert(!served("SELECT g, h, COUNT(*) AS n FROM graft.mvspec.gs " +
      "GROUP BY GROUPING SETS ((g, h), (h, g))"),
      "duplicate grouping sets must fall through")
    // non-key grouping column, computed grouping expression, and a
    // non-key WHERE all fall through
    assert(!served("SELECT k, COUNT(*) AS n FROM graft.mvspec.gs " +
      "GROUP BY ROLLUP(k)"), "non-key grouping must fall through")
    assert(!served("SELECT g, h + 1, COUNT(*) AS n " +
      "FROM graft.mvspec.gs GROUP BY ROLLUP(g, h + 1)"),
      "computed grouping expression must fall through")
    assert(!served("SELECT g, COUNT(*) AS n FROM graft.mvspec.gs " +
      "WHERE v > 5 GROUP BY ROLLUP(g)"),
      "non-key predicate must fall through")
    // staleness composes: one unrefreshed cdc batch (delete the whole
    // (A,1) group, insert a brand-new g='C') — served plan is the
    // union-of-rollups over (MV ⊕ feed tail), still exact
    val ch = s.sql("SELECT k, g, h, v, 'D' AS op FROM graft.mvspec.gs " +
      "WHERE g = 'A' AND h = 1 UNION ALL " +
      "SELECT k + 1000, 'C', CAST(0 AS BIGINT), v, 'U' " +
      "FROM graft.mvspec.gs WHERE k % 24 = 0")
    TxnTable.applyChangesMor(spark, loc, ch, "k", cdc = true)
    TxnTable.snapshot(spark, loc).createOrReplaceTempView("gs_direct")
    // the served plan must stay on the MV ⊕ feed plane — this pins the
    // MoR-swap DEFERRAL (GraftMorReadRule waits for grouping analytics
    // to resolve; without it the tombstoned relation is swapped away
    // before the rewrite can see it and the query silently pays the
    // base scan)
    def servedCompensated(q: String): Boolean = {
      val p = s.sql(q).queryExecution.optimizedPlan
      val hasV2 = p.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.nonEmpty
      val roots = ScanFiles.roots(p)
      !hasV2 && roots.nonEmpty && roots.exists(_.contains(mv)) &&
        roots.forall(r2 => r2.contains(mv) || r2.contains(s"$loc/_cdc"))
    }
    assert(servedCompensated(qRollup),
      "stale grouping sets must serve from MV + feed, never the base")
    assert(rows(qRollup) === directRows(qRollup),
      "compensated ROLLUP diverged")
    assert(rows(qRollup).exists(_.startsWith("C|")),
      "the feed-born group must surface at the detail level")
  }

  test("join MV: both join orientations serve; unmatched fact keys " +
      "fold to nothing; dim maintenance advances the cursor; a cdc dim " +
      "content change FOLDS (SCD-1) while a feed-less one refuses") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.jf")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.jd")
    s.sql("CREATE TABLE graft.mvspec.jf (k BIGINT, fk BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.jf SELECT id, id % 20, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(300)")
    // dim covers keys 0..14 only: fact rows with fk 15..19 are
    // unmatched and must fold to nothing (inner-join semantics)
    s.sql("CREATE TABLE graft.mvspec.jd (pk BIGINT, seg STRING)")
    s.sql("INSERT INTO graft.mvspec.jd SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'X' ELSE 'Y' END FROM RANGE(15)")
    val factLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/jf"
    val dimLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/jd"
    val mv = fresh("mv_join_view")
    // keys must be DIM columns; the value gate still applies
    val eKeys = intercept[IllegalArgumentException] {
      MatView.createJoin(spark, fresh("mv_join_bad"), factLoc, dimLoc,
        "fk", "pk", Seq("nosuch"), "v")
    }
    assert(eKeys.getMessage.contains("must live in exactly one"),
      eKeys.getMessage)
    MatView.createJoin(spark, mv, factLoc, dimLoc, "fk", "pk",
      Seq("seg"), "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    def direct() = TxnTable.snapshot(spark, factLoc).alias("f")
      .join(TxnTable.snapshot(spark, dimLoc).alias("d"),
        col("f.fk") === col("d.pk"))
      .groupBy(col("d.seg")).agg(count(lit(1)).as("n"),
        sum(col("f.v")).cast("double").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val q1 = "SELECT seg, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS t " +
      "FROM graft.mvspec.jf f JOIN graft.mvspec.jd d ON f.fk = d.pk " +
      "GROUP BY seg"
    def rows() = s.sql(q1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served(q1), "fact JOIN dim must serve from the join MV")
    // the flipped orientation and the flipped equality serve too
    assert(served("SELECT seg, COUNT(*) AS n FROM graft.mvspec.jd d " +
      "JOIN graft.mvspec.jf f ON d.pk = f.fk GROUP BY seg"),
      "dim JOIN fact must serve")
    // the global rollup over the join
    assert(served("SELECT COUNT(*) AS n FROM graft.mvspec.jf f " +
      "JOIN graft.mvspec.jd d ON f.fk = d.pk"),
      "the global aggregate over the join must serve by rollup")
    assert(rows() === direct(), "fresh join-MV serve diverged")
    // an above-join WHERE on the DIM KEY columns serves (whole groups);
    // anything touching the fact side falls through
    assert(served("SELECT seg, COUNT(*) AS n FROM graft.mvspec.jf f " +
      "JOIN graft.mvspec.jd d ON f.fk = d.pk WHERE d.seg = 'X' " +
      "GROUP BY seg"), "a dim-key predicate over the join must serve")
    val fX = s.sql("SELECT seg, COUNT(*) AS n FROM graft.mvspec.jf f " +
      "JOIN graft.mvspec.jd d ON f.fk = d.pk WHERE d.seg = 'X' " +
      "GROUP BY seg").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet
    assert(fX === direct().filter(_._1 == "X").map(t => (t._1, t._2)),
      "the filtered join serve diverged")
    // a DIFFERENT equality, an outer join, or a non-dim-key filter
    // must fall through — the MV materializes exactly one join
    assert(!served("SELECT seg, COUNT(*) AS n FROM graft.mvspec.jf f " +
      "JOIN graft.mvspec.jd d ON f.k = d.pk GROUP BY seg"),
      "a different join key must fall through")
    assert(!served("SELECT seg, COUNT(*) AS n FROM graft.mvspec.jf f " +
      "LEFT JOIN graft.mvspec.jd d ON f.fk = d.pk GROUP BY seg"),
      "an outer join must fall through")
    assert(!served("SELECT seg, COUNT(*) AS n FROM graft.mvspec.jf f " +
      "JOIN graft.mvspec.jd d ON f.fk = d.pk WHERE f.v > 5 GROUP BY seg"),
      "a fact-side predicate must fall through")
    assert(!served("SELECT seg, COUNT(*) AS n FROM graft.mvspec.jf f " +
      "JOIN graft.mvspec.jd d ON f.fk = d.pk WHERE d.pk > 3 " +
      "GROUP BY seg"),
      "a non-key dim-column predicate must fall through")
    // fact-side cdc staleness compensates; an insert with an UNKNOWN
    // fk (99) must fold to nothing, exactly like the base join
    val ch = s.sql("SELECT k, fk, v, 'D' AS op FROM graft.mvspec.jf " +
      "WHERE k % 4 = 0 UNION ALL " +
      "SELECT k + 1000, CAST(99 AS BIGINT), v, 'U' FROM graft.mvspec.jf " +
      "WHERE k % 50 = 0 UNION ALL " +
      "SELECT k + 2000, CAST(3 AS BIGINT), v, 'U' FROM graft.mvspec.jf " +
      "WHERE k % 60 = 0")
    TxnTable.applyChangesMor(spark, factLoc, ch, "k", cdc = true)
    assert(rows() === direct(), "compensated join serve diverged")
    // refresh folds the feed; a dim COMPACT is content-invariant and
    // advances the dim cursor without disturbing anything
    TxnTable.compact(spark, dimLoc)
    val r1 = MatView.refresh(spark, mv)
    assert(r1.commitsFolded === 1)
    assert(rows() === direct(), "refreshed join MV diverged")
    assert(served(q1), "post-refresh serve must come from the MV alone")
    val r2 = MatView.refresh(spark, mv)
    assert(r2.mvVersion === r1.mvVersion && r2.commitsFolded === 0,
      "an up-to-date refresh must no-op")
    // the join refresh publishes ITS OWN feed, so a fold view can
    // CHAIN on the join MV — the dashboard DAG over a star join; the
    // chained view folds the join MV's group deltas, never its rows
    assert(TxnTable.manifest(spark, mv,
      TxnTable.currentVersion(spark, mv)).cdcRefs.nonEmpty,
      "refreshJoin must publish its merge feed for chaining")
    val mv2 = fresh("mv_join_chain")
    MatView.create(spark, mv2, mv, Seq("seg"), "n")
    TxnTable.applyChangesMor(spark, factLoc,
      s.sql("SELECT k, fk, v, 'D' AS op FROM graft.mvspec.jf " +
        "WHERE k % 6 = 0 AND k % 4 <> 0"), "k", cdc = true)
    MatView.refresh(spark, mv)
    val rc = MatView.refresh(spark, mv2)
    assert(rc.commitsFolded === 1)
    // mv2's n = #(seg) group rows in the join MV = 1 per live segment
    val chain = TxnTable.snapshot(spark, mv2).select(col("seg"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(chain === direct().map(t => (t._1, 1L)),
      "the chained view over the join MV diverged")
    // a dim CONTENT change WITH a feed (SCD type-1): serving falls
    // through until refresh, then the dim delta FOLDS — the changed
    // dim rows re-group the key-pruned fact slice, no full recompute
    TxnTable.applyChangesMor(spark, dimLoc,
      s.sql("SELECT pk, 'Z' AS seg, 'U' AS op FROM graft.mvspec.jd " +
        "WHERE pk % 5 = 0"), "pk", cdc = true)
    assert(!served(q1), "a moved dim must disqualify serving")
    assert(rows() === direct(), "fall-through answer must be the base's")
    val rScd = MatView.refresh(spark, mv)
    assert(rScd.commitsFolded === 0,
      "the SCD refresh folded no FACT commit (only the dim moved)")
    assert(served(q1), "post-SCD-refresh serve must come from the MV")
    assert(rows() === direct(), "the SCD-folded join MV diverged")
    // ...and the chained fold view keeps folding the join MV's deltas
    val rc2 = MatView.refresh(spark, mv2)
    assert(rc2.commitsFolded === 1)
    assert(TxnTable.snapshot(spark, mv2).select(col("seg"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      direct().map(t => (t._1, 1L)),
      "the chained view over the SCD-refreshed join MV diverged")
    // a FEED-LESS dim content change is the honest remainder: nothing
    // names the −pre/+post rows, so refresh refuses with the remedy
    TxnTable.applyChangesMor(spark, dimLoc,
      s.sql("SELECT pk, 'Y' AS seg, 'U' AS op FROM graft.mvspec.jd " +
        "WHERE pk % 7 = 0"), "pk", cdc = false)
    assert(!served(q1), "a feed-less moved dim must disqualify serving")
    val e = intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv)
    }
    assert(e.getMessage.contains("recompute the MV"), e.getMessage)
    assert(e.getMessage.contains("change feed"),
      s"the refusal must name the missing feed: ${e.getMessage}")
  }

  test("extrema MV: a clean refresh PHYSICALLY reads no base file; " +
      "ties, in-tail insert+delete, emptied groups and NULLs recompute " +
      "correctly") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("mvx_spec_base")
    val mv = fresh("mvx_spec_view")
    def df(rows: (Long, String, java.lang.Double)*) =
      rows.toDF("k", "g", "v").withColumn("v", col("v").cast(D12))
    val base0 = df((1L, "A", 10.0), (2L, "A", 20.0), (3L, "A", 20.0),
      (4L, "B", 5.0), (5L, "B", 7.0), (6L, "B", 9.0),
      (7L, "C", 1.0), (8L, "C", 2.0), (9L, "A", null))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      base0.repartitionByRange(2, col("g"), col("k"))
        .sortWithinPartitions(col("g"), col("k")), Nil, Seq("g")),
      expected = -1L, op = "create", schemaJson = base0.schema.json,
      strIdxCols = Seq("g"))
    MatView.createExtrema(spark, mv, t, Seq("g"), "v")
    def mvRows() = TxnTable.snapshot(spark, mv).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.getDecimal(3)).map(_.toPlainString),
        Option(r.getDecimal(4)).map(_.toPlainString))).toSet
    assert(mvRows() === Set(
      ("A", 4L, 3L, Some("10.00"), Some("20.00")),
      ("B", 3L, 3L, Some("5.00"), Some("9.00")),
      ("C", 2L, 2L, Some("1.00"), Some("2.00"))))
    // wave 1 — CLEAN: a new A max, interior B churn, a B tie at 9;
    // the refresh must work with the base's data dir renamed away
    TxnTable.applyChangesMor(spark, t,
      df((10L, "A", 100.0), (11L, "B", 6.0), (13L, "B", 9.0))
        .withColumn("op", lit("U"))
        .unionByName(df((5L, "B", 7.0)).withColumn("op", lit("D"))),
      "k", cdc = true)
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = new org.apache.hadoop.fs.Path(s"$t/data")
    val hidden = new org.apache.hadoop.fs.Path(s"$t/data_hidden")
    val hfs = dataDir.getFileSystem(conf)
    assert(hfs.rename(dataDir, hidden), "test setup: rename failed")
    val r1 = try MatView.refresh(spark, mv)
      finally hfs.rename(hidden, dataDir)
    assert(TxnTable.commitMetrics(spark, mv, r1.mvVersion)
      .get("mv_dirty_groups").contains(0L),
      "monotone inserts + interior deletes must not dirty any group")
    assert(mvRows() === Set(
      ("A", 5L, 4L, Some("10.00"), Some("100.00")),
      ("B", 4L, 4L, Some("5.00"), Some("9.00")),
      ("C", 2L, 2L, Some("1.00"), Some("2.00"))))
    // wave 2 — ADVERSARIAL, two commits folded by one refresh:
    //  - in-tail insert+delete of a would-be A max (500): cancels, but
    //    conservatively dirties A → recompute answers 100
    //  - delete ONE of B's two 9s: dirty, the tied survivor answers 9
    //  - empty group C entirely: dirty, the group LEAVES
    //  - delete A's NULL row: nn drops, no extra dirt
    TxnTable.applyChangesMor(spark, t,
      df((12L, "A", 500.0)).withColumn("op", lit("U")), "k", cdc = true)
    TxnTable.applyChangesMor(spark, t,
      df((12L, "A", 500.0), (6L, "B", 9.0), (7L, "C", 1.0),
        (8L, "C", 2.0), (9L, "A", null)).withColumn("op", lit("D")),
      "k", cdc = true)
    val r2 = MatView.refresh(spark, mv)
    assert(r2.commitsFolded === 2)
    assert(TxnTable.commitMetrics(spark, mv, r2.mvVersion)
      .get("mv_dirty_groups").contains(3L))
    assert(mvRows() === Set(
      ("A", 4L, 4L, Some("10.00"), Some("100.00")),
      ("B", 3L, 3L, Some("5.00"), Some("9.00"))),
      "tie survival / cancel recompute / group exit diverged")
    // a recompute equals the direct answer, always
    val direct = TxnTable.snapshot(spark, t).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nn"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.getDecimal(3)).map(_.toPlainString),
        Option(r.getDecimal(4)).map(_.toPlainString))).toSet
    assert(mvRows() === direct)
    // at head: refresh no-ops
    val r3 = MatView.refresh(spark, mv)
    assert(r3.mvVersion === r2.mvVersion && r3.commitsFolded === 0)
  }

  test("refreshExtrema publishes its merge feed (−old/+new extrema " +
      "rows) so fold views chain on an extrema view") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("mvxf_base")
    val xmv = fresh("mvxf_x")
    val top = fresh("mvxf_top")
    def df(rows: (Long, String, String, java.lang.Double)*) =
      rows.toDF("k", "g", "h", "v").withColumn("v", col("v").cast(D12))
    val base0 = df((1L, "A", "x", 10.0), (2L, "A", "y", 20.0),
      (3L, "B", "x", 5.0))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      base0.repartitionByRange(2, col("k"))
        .sortWithinPartitions(col("k")), "k"),
      expected = -1L, op = "create", schemaJson = base0.schema.json)
    MatView.createExtrema(spark, xmv, t, Seq("g", "h"), "v")
    MatView.create(spark, top, xmv, Seq("g"), "vmax")
    def topRows() = TxnTable.snapshot(spark, top)
      .select(col("g"), col("n"), col("total").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(topRows() === Set(("A", 2L, 30.0), ("B", 1L, 5.0)))
    // CLEAN wave: a new (A,x) max — the feed must carry the signed
    // pair −(A,x,…,10) +(A,x,…,100)
    TxnTable.applyChangesMor(spark, t,
      df((4L, "A", "x", 100.0)).withColumn("op", lit("U")), "k",
      cdc = true)
    val rx1 = MatView.refresh(spark, xmv)
    val refs1 = TxnTable.manifest(spark, xmv, rx1.mvVersion).cdcRefs
    assert(refs1.nonEmpty, "the extrema refresh must publish its feed")
    val feed1 = spark.read
      .parquet(refs1.map(r => s"$xmv/$r"): _*)
      .select(col("g"), col("h"), col("w"),
        col("vmax").cast("double"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getDouble(3))).toSet
    assert(feed1 === Set(("A", "x", -1, 10.0), ("A", "x", 1, 100.0)),
      s"signed extrema pair expected, got $feed1")
    val rt1 = MatView.refresh(spark, top)
    assert(rt1.commitsFolded === 1)
    assert(topRows() === Set(("A", 2L, 120.0), ("B", 1L, 5.0)))
    // DIRTY wave: fell the new max — the recompute re-derives 10 and
    // the feed carries the fall; the chain follows at O(delta)
    TxnTable.applyChangesMor(spark, t,
      df((4L, "A", "x", 100.0)).withColumn("op", lit("D")), "k",
      cdc = true)
    val rx2 = MatView.refresh(spark, xmv)
    assert(TxnTable.commitMetrics(spark, xmv, rx2.mvVersion)
      .get("mv_dirty_groups").contains(1L))
    val rt2 = MatView.refresh(spark, top)
    assert(rt2.commitsFolded === 1)
    assert(topRows() === Set(("A", 2L, 30.0), ("B", 1L, 5.0)))
  }

  test("transplant: refuses non-branch MVs, unpublished branch work, " +
      "and double transplants; the retarget stamp survives later " +
      "refreshes") {
    val t = fresh("mv_tp_base")
    mkBase(t, 120)
    // a non-branch MV can never transplant
    val mvPlain = fresh("mv_tp_plain")
    MatView.create(spark, mvPlain, t, "g", "v")
    val ePlain = intercept[IllegalArgumentException] {
      MatView.transplant(spark, mvPlain)
    }
    assert(ePlain.getMessage.contains("not a branch directory"),
      ePlain.getMessage)
    // branch + MV on it
    TxnTable.branch(spark, t, "dev")
    val bd = TxnTable.branchDir(spark, t, "dev")
    val mv = fresh("mv_tp_view")
    MatView.create(spark, mv, bd, "g", "v")
    // branch moves + refresh; then ANOTHER branch commit past what we
    // will publish: transplant must refuse (the parent lacks it)
    TxnTable.applyChangesMor(spark, bd,
      change(baseDf(120).filter(col("k") % 5 === 0), "D"), "k",
      cdc = true)
    MatView.refresh(spark, mv)
    TxnTable.fastForward(spark, t, "dev")
    TxnTable.applyChangesMor(spark, bd,
      change(baseDf(120).filter(col("k") % 7 === 0 && col("k") % 5 =!= 0),
        "D"), "k", cdc = true)
    MatView.refresh(spark, mv) // cursor now PAST the publish point
    val ePast = intercept[IllegalArgumentException] {
      MatView.transplant(spark, mv)
    }
    assert(ePast.getMessage.contains("not the branch's published point"),
      ePast.getMessage)
    // publish the new work too — now the cursor IS the publish point
    TxnTable.fastForward(spark, t, "dev")
    val v = MatView.transplant(spark, mv)
    assert(TxnTable.commitMetrics(spark, mv, v)
      .get("mv_retarget").contains(1L))
    // double transplant refuses
    val eTwice = intercept[IllegalArgumentException] {
      MatView.transplant(spark, mv)
    }
    assert(eTwice.getMessage.contains("already transplanted"),
      eTwice.getMessage)
    // the view now refreshes against the PARENT — and the retarget
    // stamp survives subsequent refreshes (both fold and cursor-advance)
    TxnTable.applyChangesMor(spark, t,
      change(baseDf(120).filter(col("k") % 11 === 0 && col("k") % 5 =!= 0
        && col("k") % 7 =!= 0), "D"), "k", cdc = true)
    val r1 = MatView.refresh(spark, mv)
    assert(r1.commitsFolded === 1)
    TxnTable.compact(spark, t) // content-invariant: cursor advance
    val r2 = MatView.refresh(spark, mv)
    val (cur2, still2) = foldCursor(mv)
    assert(still2 && cur2 === TxnTable.currentVersion(spark, t),
      "the retarget stamp must ride every later cursor commit")
    val direct = TxnTable.snapshot(spark, t).groupBy(col("g"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val got = TxnTable.snapshot(spark, mv).select(col("g"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === direct, "post-transplant refresh diverged")
    assert(r2.mvVersion > r1.mvVersion)
  }

  test("extrema rewrite: MIN/MAX/COUNT serve with rollup and key " +
      "filters; SUM, casts inside MIN, non-value columns, DISTINCT, " +
      "time travel and stale non-invariant tails fall through") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.ex")
    s.sql("CREATE TABLE graft.mvspec.ex (k BIGINT, g STRING, h BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.ex SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, id % 4, " +
      "CASE WHEN id % 17 = 0 THEN NULL ELSE CAST(id AS DECIMAL(12,2)) " +
      "END FROM RANGE(240)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/ex"
    val mv = fresh("mv_ex_view")
    MatView.createExtrema(spark, mv, loc, Seq("g", "h"), "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    val q = "SELECT g, h, COUNT(*) AS n, COUNT(v) AS nn, MIN(v) AS lo, " +
      "MAX(v) AS hi FROM graft.mvspec.ex GROUP BY g, h"
    assert(served(q), "the exact extrema shape must serve")
    // answers match, incl. the NULL-valued rows (nn < n; extremes skip)
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getLong(3),
      Option(r.getDecimal(4)).map(_.toPlainString),
      Option(r.getDecimal(5)).map(_.toPlainString))).toSet
    def direct() = TxnTable.snapshot(spark, loc)
      .groupBy(col("g"), col("h")).agg(count(lit(1)).as("n"),
        count(col("v")).as("nn"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.getDecimal(4)).map(_.toPlainString),
        Option(r.getDecimal(5)).map(_.toPlainString))).toSet
    assert(rows() === direct(), "fresh extrema serve diverged")
    // rollup, global, filtered
    assert(served("SELECT g, MIN(v) AS lo FROM graft.mvspec.ex " +
      "GROUP BY g"), "subset rollup must serve (min of mins)")
    assert(served("SELECT MAX(v) AS hi, COUNT(*) AS n " +
      "FROM graft.mvspec.ex"), "the global extrema must serve")
    assert(served("SELECT g, MAX(v) AS hi FROM graft.mvspec.ex " +
      "WHERE h = 2 GROUP BY g"), "a key predicate must serve")
    // disqualifications
    assert(!served("SELECT g, SUM(v) AS t FROM graft.mvspec.ex " +
      "GROUP BY g"), "SUM must fall through (no total in the view)")
    assert(!served("SELECT g, MIN(k) AS lo FROM graft.mvspec.ex " +
      "GROUP BY g"), "MIN of a non-value column must fall through")
    assert(!served("SELECT g, MIN(CAST(v AS DOUBLE)) AS lo " +
      "FROM graft.mvspec.ex GROUP BY g"),
      "MIN through a cast must fall through")
    assert(!served("SELECT g, COUNT(DISTINCT v) AS n " +
      "FROM graft.mvspec.ex GROUP BY g"), "DISTINCT must fall through")
    assert(!served("SELECT g, MAX(v) AS hi FROM graft.mvspec.ex " +
      "WHERE v > 5 GROUP BY g"), "a value predicate must fall through")
    // time travel BEHIND the view's creation point never serves
    s.sql("INSERT INTO graft.mvspec.ex SELECT id + 1000, 'C', 0, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(5)")
    val eFeed = intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv) // refused: feed-less append
    }
    assert(eFeed.getMessage.contains("without publishing a change feed"),
      eFeed.getMessage)
    assert(!served("SELECT g, MAX(v) AS hi FROM graft.mvspec.ex " +
      "VERSION AS OF 0 GROUP BY g"),
      "a time-travel read behind the cursor must fall through")
    // the feed-less append makes the tail non-invariant: fall through
    assert(!served(q), "a stale non-invariant tail must fall through")
  }

  test("partial (filtered) EXTREMA view: the sliced worst-value pane " +
      "serves from the view; boundary crossings fold as membership " +
      "changes and a felled in-slice extreme recomputes from the " +
      "SLICE; nondeterministic/subquery predicates refuse") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.pxe")
    s.sql("CREATE TABLE graft.mvspec.pxe (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    // v = k; slice v <= 150 — out-of-slice A values (152..198, even)
    // sit ABOVE every in-slice extreme, so a recompute that ignored
    // the predicate would surface them
    s.sql("INSERT INTO graft.mvspec.pxe SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(200)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/pxe"
    s.sql("""CREATE MATERIALIZED VIEW graft.mvspec.pxe_mv AS
      SELECT g, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi
      FROM graft.mvspec.pxe WHERE v <= 150 GROUP BY g""")
    val mv = s"${GraftCatalog.defaultWarehouse}/mvspec/pxe_mv"
    assert(defOf[MatView.MvExtremaDef](mv).pred.isDefined,
      "the DDL predicate must persist in the _mvx definition")
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    val q = "SELECT g, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi " +
      "FROM graft.mvspec.pxe WHERE v <= 150 GROUP BY g"
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getLong(1), r.getDecimal(2).toPlainString,
      r.getDecimal(3).toPlainString)).toSet
    def direct() = TxnTable.snapshot(spark, loc)
      .filter(col("v") <= 150).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString,
        r.getDecimal(3).toPlainString)).toSet
    assert(served(q), "the sliced extrema pane must serve")
    // composed key cut, the sliced GLOBAL, and two fall-throughs: a
    // different threshold and the unsliced pane need rows the view
    // folded away
    assert(served("SELECT g, MAX(v) AS hi FROM graft.mvspec.pxe " +
      "WHERE v <= 150 AND g = 'A' GROUP BY g"),
      "slice + key cut must serve")
    assert(served("SELECT MAX(v) AS hi FROM graft.mvspec.pxe " +
      "WHERE v <= 150"), "the sliced global must serve")
    assert(!served("SELECT g, MAX(v) AS hi FROM graft.mvspec.pxe " +
      "WHERE v <= 100 GROUP BY g"), "another threshold falls through")
    assert(!served("SELECT g, MAX(v) AS hi FROM graft.mvspec.pxe " +
      "GROUP BY g"), "the unsliced pane falls through")
    assert(rows() === direct(), "fresh sliced serve diverged")
    // predicate validation shares the fold view's rules
    val eRand = intercept[IllegalArgumentException] {
      MatView.createExtrema(spark, fresh("mv_pxe_rand"), loc,
        Seq("g"), "v", Some("rand() > 0.5"))
    }
    assert(eRand.getMessage.contains("nondeterministic"),
      eRand.getMessage)
    val eSub = intercept[IllegalArgumentException] {
      MatView.createExtrema(spark, fresh("mv_pxe_sub"), loc,
        Seq("g"), "v", Some("v > (SELECT 1)"))
    }
    assert(eSub.getMessage.contains("subquery"), eSub.getMessage)
    // the boundary-crossing batch:
    //  - DELETE A's two in-slice tops (150, 148) → A dirty; the
    //    recompute must land 146, never the out-of-slice 198
    //  - B's 161 repriced to 149.50: ENTERS the slice → new B max
    //  - A's 140 repriced to 190: LEAVES the slice (a membership
    //    delete — the −old folds, the +new filters away)
    //  - DELETE B's out-of-slice 199: invisible to the view
    TxnTable.applyChangesMor(spark, loc, s.sql(
      """SELECT k, g, v, 'D' AS op FROM graft.mvspec.pxe
           WHERE k IN (150, 148, 199)
         UNION ALL
         SELECT k, g, CAST(149.50 AS DECIMAL(12,2)), 'U'
           FROM graft.mvspec.pxe WHERE k = 161
         UNION ALL
         SELECT k, g, CAST(190 AS DECIMAL(12,2)), 'U'
           FROM graft.mvspec.pxe WHERE k = 140"""),
      "k", cdc = true)
    // the extrema algebra has no signed compensation: a content-
    // changing tail falls through to the base — answers stay exact
    assert(!served(q), "a content-changing tail must fall through")
    assert(rows() === direct(), "fall-through answers diverged")
    // pure-SQL refresh: the dirty recompute reads the SLICE
    assert(s.sql("REFRESH MATERIALIZED VIEW graft.mvspec.pxe_mv")
      .collect()(0).getLong(0) >= 1L)
    val mvVer = TxnTable.currentVersion(spark, mv)
    assert(TxnTable.commitMetrics(spark, mv, mvVer)
      .get("mv_dirty_groups").exists(_ >= 1L),
      "felling the in-slice max must dirty the group")
    assert(served(q) && rows() === direct(),
      "the refreshed sliced pane must serve exactly")
    val byG = s.sql(q).collect()
      .map(r => r.getString(0) -> r.getDecimal(3).toPlainString).toMap
    assert(byG("A") === "146.00",
      s"A's recomputed max must be the next IN-SLICE value, got $byG")
    assert(byG("B") === "149.50",
      s"B's max must reflect the boundary-entering reprice, got $byG")
    // SHOW knows the kind; DROP completes the lifecycle
    assert(s.sql("SHOW MATERIALIZED VIEWS").collect().exists(r =>
      r.getString(0) == "graft.mvspec.pxe_mv" &&
        r.getString(1) == "extrema" && r.getBoolean(3)))
    assert(s.sql("DROP MATERIALIZED VIEW graft.mvspec.pxe_mv")
      .collect()(0).getString(0) === "extrema")
  }

  test("percentile/median served from a VALUE-GRAIN fold MV: the " +
      "frequency-weighted percentile over (key, value, n) rows equals " +
      "the base's exactly, fresh, compensated and refreshed; non-key " +
      "children, array percentages and non-unit frequencies fall " +
      "through") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.pct")
    s.sql("CREATE TABLE graft.mvspec.pct (k BIGINT, st STRING, " +
      "price DECIMAL(12,2))")
    // ties on purpose (id % 97): the value→multiplicity map must
    // aggregate identically through the MV's n
    s.sql("INSERT INTO graft.mvspec.pct SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'F' ELSE 'O' END, " +
      "CAST(id % 97 AS DECIMAL(12,2)) FROM RANGE(500)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/pct"
    // the VALUE column doubles as the finest grouping key — the
    // value-grain view: one row per live (st, price) with n = the
    // multiplicity, the exact value→count map percentile needs
    s.sql("""CREATE MATERIALIZED VIEW graft.mvspec.pct_mv AS
      SELECT st, price, COUNT(*) AS n, SUM(price) AS t
      FROM graft.mvspec.pct GROUP BY st, price""")
    val mv = s"${GraftCatalog.defaultWarehouse}/mvspec/pct_mv"
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    val q = "SELECT st, percentile(price, 0.5) AS p50, " +
      "percentile(price, 0.95) AS p95, median(price) AS med, " +
      "COUNT(*) AS n FROM graft.mvspec.pct GROUP BY st"
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toSet
    def direct() = TxnTable.snapshot(spark, loc).groupBy(col("st"))
      .agg(percentile(col("price"), lit(0.5)).as("p50"),
        percentile(col("price"), lit(0.95)).as("p95"),
        percentile(col("price"), lit(0.5)).as("med"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4))).toSet
    assert(served(q), "the percentile pane must serve")
    assert(rows() === direct(), "fresh percentile serve diverged")
    // the GLOBAL percentile and a key-filtered cut ride the same plane
    assert(served("SELECT percentile(price, 0.25) AS q1 " +
      "FROM graft.mvspec.pct"), "the global percentile must serve")
    assert(served("SELECT st, median(price) AS med " +
      "FROM graft.mvspec.pct WHERE st = 'F' GROUP BY st"),
      "a key-filtered median must serve")
    // fall-throughs: a non-key child (the fold kept no k multiset),
    // array percentages, an explicit non-unit frequency
    assert(!served("SELECT st, percentile(k, 0.5) AS p " +
      "FROM graft.mvspec.pct GROUP BY st"),
      "percentile of a non-key column must fall through")
    assert(!served("SELECT st, percentile(price, array(0.5, 0.9)) " +
      "AS ps FROM graft.mvspec.pct GROUP BY st"),
      "array percentages must fall through")
    assert(!served("SELECT st, percentile(price, 0.5, 2) AS p " +
      "FROM graft.mvspec.pct GROUP BY st"),
      "a non-unit frequency must fall through")
    // a cdc batch (deletes, a reprice, inserts of a NEW value) —
    // unrefreshed: the compensated frame keeps the one-row-per-live-
    // (st, price) invariant, so the weighted percentile stays exact
    TxnTable.applyChangesMor(spark, loc, s.sql(
      """SELECT k, st, price, 'D' AS op FROM graft.mvspec.pct
           WHERE k % 11 = 0
         UNION ALL
         SELECT k, st, CAST(500 AS DECIMAL(12,2)), 'U'
           FROM graft.mvspec.pct WHERE k % 13 = 1 AND k % 11 <> 0
         UNION ALL
         SELECT k + 9000, 'F', CAST(42.50 AS DECIMAL(12,2)), 'U'
           FROM graft.mvspec.pct WHERE k % 17 = 2"""),
      "k", cdc = true)
    val p2 = ScanFiles.roots(s.sql(q).queryExecution.optimizedPlan)
    assert(p2.exists(_.contains(mv)) &&
      p2.exists(_.contains(s"$loc/_cdc")) &&
      !p2.exists(r => r.contains(s"$loc/data")),
      s"stale percentile must serve MV ⊕ feed, got $p2")
    assert(rows() === direct(), "compensated percentile diverged")
    // refresh → MV alone again
    assert(s.sql("REFRESH MATERIALIZED VIEW graft.mvspec.pct_mv")
      .collect()(0).getLong(0) >= 1L)
    assert(served(q) && rows() === direct(),
      "the refreshed percentile pane must serve exactly")
    // percentile SUBTOTALS: ROLLUP rides the union-of-rollups — the
    // weighted percentile at each level aggregates that level's exact
    // value→count partition
    val qr = "SELECT st, percentile(price, 0.5) AS p50, COUNT(*) AS n " +
      "FROM graft.mvspec.pct GROUP BY ROLLUP(st)"
    assert(served(qr), "the percentile ROLLUP must serve")
    val gotR = s.sql(qr).collect().map(r => (Option(r.getString(0)),
      r.getDouble(1), r.getLong(2))).toSet
    val wantR = TxnTable.snapshot(spark, loc)
      .rollup(col("st"))
      .agg(percentile(col("price"), lit(0.5)).as("p50"),
        count(lit(1)).as("n"))
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1),
        r.getLong(2))).toSet
    assert(gotR === wantR, "rolled-up percentile diverged")
    assert(s.sql("DROP MATERIALIZED VIEW graft.mvspec.pct_mv")
      .collect()(0).getString(0) === "fold")
  }

  test("percentile rides the STAR and LIVE serve paths too: the " +
      "weighted percentile of a fact-owned integral grain key over " +
      "join-MV rows equals the base join's exactly") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    Seq("pjf", "pjd", "plf", "pld").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvspec.$t"))
    def mkPair(f: String, d: String): (String, String) = {
      s.sql(s"CREATE TABLE graft.mvspec.$f (k BIGINT, fk BIGINT, " +
        "m BIGINT, v DECIMAL(12,2))")
      s.sql(s"INSERT INTO graft.mvspec.$f SELECT id, id % 10, " +
        "id % 7, CAST(id AS DECIMAL(12,2)) FROM RANGE(300)")
      s.sql(s"CREATE TABLE graft.mvspec.$d (pk BIGINT, seg STRING)")
      s.sql(s"INSERT INTO graft.mvspec.$d SELECT id, " +
        "CASE WHEN id < 4 THEN 'X' ELSE 'Y' END FROM RANGE(10)")
      val w = GraftCatalog.defaultWarehouse
      (s"$w/mvspec/$f", s"$w/mvspec/$d")
    }
    def direct(f: String, d: String) = TxnTable.snapshot(spark, f)
      .alias("f").join(TxnTable.snapshot(spark, d).alias("d"),
        col("f.fk") === col("d.pk"))
      .groupBy(col("seg"))
      .agg(percentile(col("m"), lit(0.5)).as("p50"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2))).toSet
    def got(f: String, d: String) = {
      val (fn, dn) = (f.split('/').last, d.split('/').last)
      s.sql(s"SELECT seg, percentile(m, 0.5) AS p50, COUNT(*) AS n " +
        s"FROM graft.mvspec.$fn f JOIN graft.mvspec.$dn d " +
        "ON f.fk = d.pk GROUP BY seg")
    }
    // the STAR (group-grain) arm: keys = dim seg + fact-owned m
    val (f1, d1) = mkPair("pjf", "pjd")
    val starMv = fresh("mv_pct_star")
    MatView.createJoinStar(spark, starMv, f1,
      Seq(MatView.MvDimRef(d1, "fk", "pk")), Seq("seg", "m"), "v")
    MatView.register(spark, starMv)
    assert(planServedFrom(got(f1, d1), starMv),
      "the star percentile must serve from the join MV")
    assert(got(f1, d1).collect().map(r => (r.getString(0),
      r.getDouble(1), r.getLong(2))).toSet === direct(f1, d1),
      "star-served percentile diverged")
    // the LIVE arm: same declared keys, dims join back at query time —
    // a FEED-LESS dim move keeps the percentile served AND exact
    val (f2, d2) = mkPair("plf", "pld")
    val liveMv = fresh("mv_pct_live")
    MatView.createStarLive(spark, liveMv, f2,
      Seq(MatView.MvDimRef(d2, "fk", "pk")), Seq("seg", "m"), "v")
    MatView.register(spark, liveMv)
    // a live serve legitimately opens the DIM at query time — "served"
    // = the sub-view is in the plan and no FACT data file is
    def servedLive(df: org.apache.spark.sql.DataFrame): Boolean = {
      val roots = ScanFiles.roots(df.queryExecution.optimizedPlan)
      roots.exists(_.contains(s"$liveMv/")) &&
        !roots.exists(r => r.contains(f2) && !r.contains("_cdc"))
    }
    assert(servedLive(got(f2, d2)),
      "the live percentile must serve through the join-back")
    TxnTable.applyChangesMor(spark, d2,
      s.sql("SELECT pk, 'Z' AS seg, 'U' AS op FROM graft.mvspec.pld " +
        "WHERE pk = 1"), "pk", cdc = false)
    assert(servedLive(got(f2, d2)),
      "a feed-less dim move must not stale the live percentile")
    assert(got(f2, d2).collect().map(r => (r.getString(0),
      r.getDouble(1), r.getLong(2))).toSet === direct(f2, d2),
      "live-served percentile diverged after the dim move")
  }

  test("a vacuumed feed refuses refresh loudly (and the rewrite falls " +
      "through); HAVING and ORDER BY compose over a rewritten aggregate") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.hv")
    s.sql("CREATE TABLE graft.mvspec.hv (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.hv SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' WHEN id % 3 = 1 THEN 'B' " +
      "ELSE 'C' END, CAST(id AS DECIMAL(12,2)) FROM RANGE(300)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/hv"
    val mv = fresh("mv_hv_view")
    MatView.create(spark, mv, loc, "g", "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    // HAVING analyzes as a Filter ABOVE the Aggregate on the agg's own
    // output ids — the substitution preserves every id, so the whole
    // pipeline (HAVING + ORDER BY + LIMIT) rides the rewritten plan
    val qh = "SELECT g, COUNT(*) AS n FROM graft.mvspec.hv GROUP BY g " +
      "HAVING COUNT(*) > 99 ORDER BY n DESC, g LIMIT 2"
    assert(served(qh), "HAVING/ORDER BY/LIMIT must ride the rewrite")
    val got = s.sql(qh).collect().map(r => (r.getString(0), r.getLong(1)))
    val direct = TxnTable.snapshot(spark, loc).groupBy(col("g"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 99)
      .orderBy(col("n").desc, col("g")).limit(2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === direct.toSeq, "HAVING pipeline diverged")
    // a cdc change whose feed is then VACUUMED away: refresh refuses
    // with the recompute remedy (never a raw FileNotFound), and the
    // rewrite falls through to the base instead of crashing the query
    TxnTable.applyChangesMor(spark, loc,
      s.sql("SELECT k, g, v, 'D' AS op FROM graft.mvspec.hv " +
        "WHERE k % 7 = 0"), "k", cdc = true)
    val head = TxnTable.currentVersion(spark, loc)
    val refs = TxnTable.manifest(spark, loc, head).cdcRefs
    assert(refs.nonEmpty)
    val conf = spark.sparkContext.hadoopConfiguration
    refs.foreach { r =>
      val p = new org.apache.hadoop.fs.Path(s"$loc/$r")
      assert(p.getFileSystem(conf).delete(p, true), "test setup: delete")
    }
    val e = intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv)
    }
    assert(e.getMessage.contains("was vacuumed"), e.getMessage)
    assert(!served("SELECT g, COUNT(*) AS n FROM graft.mvspec.hv " +
      "GROUP BY g"), "a vacuumed feed must fall through, not crash")
    val after = s.sql("SELECT g, COUNT(*) AS n FROM graft.mvspec.hv " +
      "GROUP BY g").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet
    val afterDirect = TxnTable.snapshot(spark, loc).groupBy(col("g"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after === afterDirect)
  }

  test("CALL surface for the new view kinds: create/refresh extrema " +
      "and join MVs, and transplant_matview — all discoverable") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    // the listing is the discovery contract: every new procedure shows
    val listed = s.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].listProcedures(Array("system"))
      .map(_.name()).toSet
    Seq("create_matview_extrema", "create_matview_join",
      "transplant_matview").foreach(n =>
      assert(listed.contains(n), s"procedure $n must be listed"))
    // extrema via CALL
    s.sql("DROP TABLE IF EXISTS graft.mvspec.ce")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.ce_mv")
    s.sql("CREATE TABLE graft.mvspec.ce (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.ce SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'A' ELSE 'B' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(100)")
    s.sql("CALL graft.system.create_matview_extrema(" +
      "'mvspec.ce_mv', 'mvspec.ce', 'g', 'v')")
    val ceLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/ce"
    val ceMv = s"${GraftCatalog.defaultWarehouse}/mvspec/ce_mv"
    TxnTable.applyChangesMor(spark, ceLoc,
      s.sql("SELECT k, g, v, 'D' AS op FROM graft.mvspec.ce " +
        "WHERE k = 98"), "k", cdc = true) // fell A's max
    s.sql("CALL graft.system.refresh_matview('mvspec.ce_mv')")
    val ce = TxnTable.snapshot(spark, ceMv)
      .collect().map(r => (r.getString(0), r.getDecimal(4).toPlainString))
      .toMap
    assert(ce("A") === "96.00" && ce("B") === "99.00",
      s"extrema CALL pipeline diverged: $ce")
    // the optional `where` argument creates PARTIAL views through the
    // CALL surface (fold and extrema alike), persisting the predicate
    // in the definition; the shared validation still refuses loudly
    s.sql("DROP TABLE IF EXISTS graft.mvspec.ce_pmv")
    s.sql("CALL graft.system.create_matview_extrema(" +
      "'mvspec.ce_pmv', 'mvspec.ce', 'g', 'v', 'v <= 50')")
    assert(defOf[MatView.MvExtremaDef](
      s"${GraftCatalog.defaultWarehouse}/mvspec/ce_pmv").pred ===
      Some("v <= 50"), "the CALL's where must persist in _mvx")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.ce_pf")
    s.sql("CALL graft.system.create_matview(" +
      "'mvspec.ce_pf', 'mvspec.ce', 'g', 'v', 'v > 10')")
    assert(defOf[MatView.MvDef](
      s"${GraftCatalog.defaultWarehouse}/mvspec/ce_pf").pred ===
      Some("v > 10"), "the CALL's where must persist in _mv")
    val eCallRand = intercept[IllegalArgumentException] {
      s.sql("CALL graft.system.create_matview_extrema(" +
        "'mvspec.ce_bad', 'mvspec.ce', 'g', 'v', 'rand() > 0.5')")
    }
    assert(eCallRand.getMessage.contains("nondeterministic"),
      eCallRand.getMessage)
    // join MV via CALL
    s.sql("DROP TABLE IF EXISTS graft.mvspec.cjf")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.cjd")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.cj_mv")
    s.sql("CREATE TABLE graft.mvspec.cjf (k BIGINT, fk BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.cjf SELECT id, id % 5, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(100)")
    s.sql("CREATE TABLE graft.mvspec.cjd (pk BIGINT, seg STRING)")
    s.sql("INSERT INTO graft.mvspec.cjd SELECT id, " +
      "CASE WHEN id < 3 THEN 'X' ELSE 'Y' END FROM RANGE(5)")
    s.sql("CALL graft.system.create_matview_join('mvspec.cj_mv', " +
      "'mvspec.cjf', 'mvspec.cjd', 'fk', 'pk', 'seg', 'v')")
    val cjf = s"${GraftCatalog.defaultWarehouse}/mvspec/cjf"
    val cjMv = s"${GraftCatalog.defaultWarehouse}/mvspec/cj_mv"
    TxnTable.applyChangesMor(spark, cjf,
      s.sql("SELECT k, fk, v, 'D' AS op FROM graft.mvspec.cjf " +
        "WHERE k % 10 = 0"), "k", cdc = true)
    s.sql("CALL graft.system.refresh_matview('mvspec.cj_mv')")
    val cj = TxnTable.snapshot(spark, cjMv)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val cjDirect = TxnTable.snapshot(spark, cjf).alias("f")
      .join(TxnTable.snapshot(spark,
        s"${GraftCatalog.defaultWarehouse}/mvspec/cjd").alias("d"),
        col("f.fk") === col("d.pk"))
      .groupBy(col("d.seg")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(cj === cjDirect, "join-MV CALL pipeline diverged")
    // transplant via CALL: branch MV published onto the parent
    s.sql("DROP TABLE IF EXISTS graft.mvspec.ct")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.ct_mv")
    s.sql("CREATE TABLE graft.mvspec.ct (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.ct SELECT id, 'A', " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(50)")
    s.sql("CALL graft.system.branch('mvspec.ct', 'dev')")
    val ctLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/ct"
    val bd = TxnTable.branchDir(spark, ctLoc, "dev")
    val ctMv = s"${GraftCatalog.defaultWarehouse}/mvspec/ct_mv"
    MatView.create(spark, ctMv, bd, "g", "v")
    s.sql("CALL graft.system.fastforward('mvspec.ct', 'dev')")
    s.sql("CALL graft.system.transplant_matview('mvspec.ct_mv')")
    val (cur, retargeted) = foldCursor(ctMv)
    assert(retargeted && cur === TxnTable.currentVersion(spark, ctLoc),
      "transplant_matview must re-point the cursor onto the parent")
  }

  test("star MV: any join-tree shape/order serves; extra or missing " +
      "equalities, a dim subset, and ambiguous keys fall through/refuse") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    Seq("sf", "sd1", "sd2").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvspec.$t"))
    s.sql("CREATE TABLE graft.mvspec.sf (k BIGINT, a BIGINT, b BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.sf SELECT id, id % 4, id % 3, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(240)")
    s.sql("CREATE TABLE graft.mvspec.sd1 (pk BIGINT, g1 STRING)")
    s.sql("INSERT INTO graft.mvspec.sd1 SELECT id, " +
      "CASE WHEN id < 2 THEN 'P' ELSE 'Q' END FROM RANGE(4)")
    s.sql("CREATE TABLE graft.mvspec.sd2 (pk2 BIGINT, g2 STRING)")
    s.sql("INSERT INTO graft.mvspec.sd2 SELECT id, " +
      "CASE WHEN id = 0 THEN 'X' ELSE 'Y' END FROM RANGE(3)")
    val w = GraftCatalog.defaultWarehouse
    val mv = fresh("mv_star_view")
    // ambiguous grouping keys refuse at create
    s.sql("CREATE TABLE IF NOT EXISTS graft.mvspec.sd2b (pk2 BIGINT, " +
      "g1 STRING)")
    val eAmb = intercept[IllegalArgumentException] {
      MatView.createJoinStar(spark, fresh("mv_star_amb"),
        s"$w/mvspec/sf", Seq(
          MatView.MvDimRef(s"$w/mvspec/sd1", "a", "pk"),
          MatView.MvDimRef(s"$w/mvspec/sd2b", "b", "pk2")),
        Seq("g1"), "v")
    }
    assert(eAmb.getMessage.contains("exactly one"), eAmb.getMessage)
    MatView.createJoinStar(spark, mv, s"$w/mvspec/sf", Seq(
      MatView.MvDimRef(s"$w/mvspec/sd1", "a", "pk"),
      MatView.MvDimRef(s"$w/mvspec/sd2", "b", "pk2")),
      Seq("g1", "g2"), "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    // every tree shape and order serves
    val shapes = Seq(
      "graft.mvspec.sf f JOIN graft.mvspec.sd1 d1 ON f.a = d1.pk " +
        "JOIN graft.mvspec.sd2 d2 ON f.b = d2.pk2",
      "graft.mvspec.sd2 d2 JOIN graft.mvspec.sf f ON f.b = d2.pk2 " +
        "JOIN graft.mvspec.sd1 d1 ON d1.pk = f.a",
      "graft.mvspec.sd1 d1 JOIN (graft.mvspec.sf f JOIN " +
        "graft.mvspec.sd2 d2 ON f.b = d2.pk2) ON f.a = d1.pk")
    shapes.foreach(sh => assert(
      served(s"SELECT g1, g2, COUNT(*) AS n, SUM(v) AS t FROM $sh " +
        "GROUP BY g1, g2"), s"shape must serve: $sh"))
    // answers match, including the cross-dim filtered rollup
    val got = s.sql("SELECT g1, g2, COUNT(*) AS n, " +
      "CAST(SUM(v) AS DOUBLE) AS t FROM " + shapes.head +
      " GROUP BY g1, g2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val direct = TxnTable.snapshot(spark, s"$w/mvspec/sf").alias("f")
      .join(TxnTable.snapshot(spark, s"$w/mvspec/sd1").alias("d1"),
        col("f.a") === col("d1.pk"))
      .join(TxnTable.snapshot(spark, s"$w/mvspec/sd2").alias("d2"),
        col("f.b") === col("d2.pk2"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got === direct, "star serve diverged")
    assert(served("SELECT g2, COUNT(*) AS n FROM " + shapes.head +
      " WHERE g1 = 'P' GROUP BY g2"),
      "the cross-dim filtered rollup must serve")
    // the DataFrame-API dim-side filter (Filter directly over the dim
    // relation): positionally irrelevant over inner joins, so it is
    // gated and served exactly like the above-join WHERE
    val dfSide = s.table("graft.mvspec.sd1").alias("d1")
      .filter(col("g1") === "P")
      .join(s.table("graft.mvspec.sf").alias("f"),
        col("f.a") === col("d1.pk"))
      .join(s.table("graft.mvspec.sd2").alias("d2"),
        col("f.b") === col("d2.pk2"))
      .groupBy(col("g2")).agg(count(lit(1)).as("n"))
    assert(planServedFrom(dfSide, mv),
      "a dim-side key filter (DataFrame shape) must serve")
    val sideGot = dfSide.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val sideDirect = s.sql("SELECT g2, COUNT(*) AS n FROM " +
      shapes.head + " WHERE g1 = 'P' GROUP BY g2").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(sideGot === sideDirect, "dim-side filter serve diverged")
    // an EXTRA equality changes the joined row set: fall through
    assert(!served("SELECT g1, g2, COUNT(*) AS n FROM graft.mvspec.sf " +
      "f JOIN graft.mvspec.sd1 d1 ON f.a = d1.pk JOIN " +
      "graft.mvspec.sd2 d2 ON f.b = d2.pk2 AND f.a = d2.pk2 " +
      "GROUP BY g1, g2"), "an extra equality must fall through")
    // a SUBSET of the dims is a different join: fall through
    assert(!served("SELECT g1, COUNT(*) AS n FROM graft.mvspec.sf f " +
      "JOIN graft.mvspec.sd1 d1 ON f.a = d1.pk GROUP BY g1"),
      "a dim-subset join must fall through")
    // SIMULTANEOUS movement on EVERY log — the exact telescoping's
    // ordering pin: ONE refresh folds the fact feed (dims at head),
    // dim₁'s delta (fact at cursor, dim₂ at head) and dim₂'s delta
    // (fact at cursor, dim₁ at cursor). Each change alone is easy;
    // the cross terms between them are where a wrong version choice
    // double- or under-counts — the equality against a direct
    // recompute is the proof.
    TxnTable.applyChangesMor(spark, s"$w/mvspec/sf",
      s.sql("SELECT k, a, b, v, 'D' AS op FROM graft.mvspec.sf " +
        "WHERE k % 5 = 0 UNION ALL " +
        "SELECT k + 1000, a, b, CAST(v + 7 AS DECIMAL(12,2)), 'U' " +
        "FROM graft.mvspec.sf WHERE k % 8 = 0"), "k", cdc = true)
    TxnTable.applyChangesMor(spark, s"$w/mvspec/sd1",
      s.sql("SELECT pk, 'R' AS g1, 'U' AS op FROM graft.mvspec.sd1 " +
        "WHERE pk IN (1, 2)"), "pk", cdc = true)
    TxnTable.applyChangesMor(spark, s"$w/mvspec/sd2",
      s.sql("SELECT pk2, 'Z' AS g2, 'U' AS op FROM graft.mvspec.sd2 " +
        "WHERE pk2 = 0"), "pk2", cdc = true)
    val r3 = MatView.refresh(spark, mv)
    assert(r3.commitsFolded === 1)
    val got3 = s.sql("SELECT g1, g2, COUNT(*) AS n, " +
      "CAST(SUM(v) AS DOUBLE) AS t FROM " + shapes.head +
      " GROUP BY g1, g2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val direct3 = TxnTable.snapshot(spark, s"$w/mvspec/sf").alias("f")
      .join(TxnTable.snapshot(spark, s"$w/mvspec/sd1").alias("d1"),
        col("f.a") === col("d1.pk"))
      .join(TxnTable.snapshot(spark, s"$w/mvspec/sd2").alias("d2"),
        col("f.b") === col("d2.pk2"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got3 === direct3,
      "the three-log simultaneous fold diverged from recompute")
    assert(planServedFrom(s.sql("SELECT g1, g2, COUNT(*) AS n FROM " +
      shapes.head + " GROUP BY g1, g2"), mv),
      "post-three-log-refresh must serve from the MV alone")
    // and a SECOND refresh no-ops: the cursors landed atomically
    val r4 = MatView.refresh(spark, mv)
    assert(r4.mvVersion === r3.mvVersion && r4.commitsFolded === 0)
  }

  test("live star MV: dim movement — even FEED-LESS — never stales " +
      "it (the dims join back at query time); fact feeds compensate; " +
      "the served plan never opens a fact data file; a feed-less FACT " +
      "change is the one thing that disqualifies") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    Seq("lf", "ld1", "ld2").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvspec.$t"))
    s.sql("CREATE TABLE graft.mvspec.lf (k BIGINT, a BIGINT, " +
      "b BIGINT, v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.lf SELECT id, id % 4, id % 3, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(240)")
    s.sql("CREATE TABLE graft.mvspec.ld1 (pk BIGINT, g1 STRING)")
    s.sql("INSERT INTO graft.mvspec.ld1 SELECT id, " +
      "CASE WHEN id < 2 THEN 'P' ELSE 'Q' END FROM RANGE(4)")
    s.sql("CREATE TABLE graft.mvspec.ld2 (pk2 BIGINT, g2 STRING)")
    s.sql("INSERT INTO graft.mvspec.ld2 SELECT id, " +
      "CASE WHEN id = 0 THEN 'X' ELSE 'Y' END FROM RANGE(3)")
    val w = GraftCatalog.defaultWarehouse
    val (fact, d1, d2) =
      (s"$w/mvspec/lf", s"$w/mvspec/ld1", s"$w/mvspec/ld2")
    val mv = fresh("mv_live_view")
    MatView.createStarLive(spark, mv, fact, Seq(
      MatView.MvDimRef(d1, "a", "pk"),
      MatView.MvDimRef(d2, "b", "pk2")), Seq("g1", "g2"), "v")
    MatView.register(spark, mv)
    assert(MatView.definition(spark, mv).kind === "live")
    // the live serve contract: parquet roots = sub-view + dims (+ the
    // fact's `_cdc` when compensating), no v2 relation, and NEVER a
    // fact data file
    def servedLive(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.optimizedPlan
      val hasV2 = p.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.nonEmpty
      val roots = ScanFiles.roots(p)
      !hasV2 && roots.exists(_.contains(s"$mv/")) &&
        roots.forall(r => r.contains(s"$mv/") || r.contains(d1) ||
          r.contains(d2) || r.contains(s"$fact/_cdc")) &&
        !roots.exists(r => r.contains(fact) && !r.contains("_cdc"))
    }
    val q = "SELECT g1, g2, COUNT(*) AS n, SUM(v) AS t FROM " +
      "graft.mvspec.lf f JOIN graft.mvspec.ld1 dd1 ON f.a = dd1.pk " +
      "JOIN graft.mvspec.ld2 dd2 ON f.b = dd2.pk2 GROUP BY g1, g2"
    def got() = s.sql(q.replace("SUM(v)", "CAST(SUM(v) AS DOUBLE)"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    def direct() = TxnTable.snapshot(spark, fact).alias("f")
      .join(TxnTable.snapshot(spark, d1).alias("d1"),
        col("f.a") === col("d1.pk"))
      .join(TxnTable.snapshot(spark, d2).alias("d2"),
        col("f.b") === col("d2.pk2"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("t"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(servedLive(s.sql(q)), "fresh live view must serve")
    assert(got() === direct(), "fresh live serve diverged")
    // the rollup and the dim-key cut ride the same plane
    assert(servedLive(s.sql("SELECT g1, COUNT(*) AS n FROM " +
      "graft.mvspec.lf f JOIN graft.mvspec.ld1 dd1 ON f.a = dd1.pk " +
      "JOIN graft.mvspec.ld2 dd2 ON f.b = dd2.pk2 GROUP BY g1")),
      "the rollup must serve")
    assert(servedLive(s.sql("SELECT g2, COUNT(*) AS n FROM " +
      "graft.mvspec.lf f JOIN graft.mvspec.ld1 dd1 ON f.a = dd1.pk " +
      "JOIN graft.mvspec.ld2 dd2 ON f.b = dd2.pk2 WHERE g1 = 'P' " +
      "GROUP BY g2")), "the dim-key cut must serve")
    // the headline: a FEED-LESS dim move (cdc = false — the shape that
    // bricks the group-grain star into a recompute) serves, exactly
    TxnTable.applyChangesMor(spark, d1,
      s.sql("SELECT pk, 'R' AS g1, 'U' AS op FROM graft.mvspec.ld1 " +
        "WHERE pk IN (1, 2)"), "pk", cdc = false)
    assert(servedLive(s.sql(q)), "a feed-less dim move must not stale " +
      "the live view")
    val g2 = got()
    assert(g2 === direct() && g2.exists(_._1 == "R"),
      "post-dim-move live serve diverged")
    // ...and refresh has nothing to do: the fact log never moved
    val r0 = MatView.refresh(spark, mv)
    assert(r0.commitsFolded === 0, "dim movement must not dirty the " +
      "live view's cursor")
    assert(MatView.statusFor(spark, fact).exists(st =>
      st.kind == "live" && st.fresh && st.servable),
      "the live view must list FRESH despite the moved dim")
    // a fact cdc batch, unrefreshed: sub-view ⊕ feed ⋈ (moved) dims
    TxnTable.applyChangesMor(spark, fact,
      s.sql("SELECT k, a, b, v, 'D' AS op FROM graft.mvspec.lf " +
        "WHERE k % 5 = 0 UNION ALL " +
        "SELECT k + 1000, a, b, CAST(v + 7 AS DECIMAL(12,2)), 'U' " +
        "FROM graft.mvspec.lf WHERE k % 8 = 0"), "k", cdc = true)
    assert(servedLive(s.sql(q)), "the fact feed tail must compensate")
    assert(got() === direct(), "compensated live serve diverged")
    // refresh folds exactly the fact tail — no dim cursor moves
    // because none exists
    val r1 = MatView.refresh(spark, mv)
    assert(r1.commitsFolded === 1)
    assert(servedLive(s.sql(q)) && got() === direct(),
      "post-refresh live serve diverged")
    // the one honest disqualifier: a feed-less FACT content change —
    // the tail cannot compensate and refresh refuses with the remedy
    TxnTable.applyChangesMor(spark, fact,
      s.sql("SELECT k, a, b, CAST(v + 1 AS DECIMAL(12,2)) AS v, " +
        "'U' AS op FROM graft.mvspec.lf WHERE k = 3"), "k", cdc = false)
    assert(!servedLive(s.sql(q)),
      "a feed-less fact change must fall through")
    assert(got() === direct(), "the fall-through answer must be exact")
    val eRef = intercept[IllegalArgumentException] {
      MatView.refresh(spark, mv)
    }
    assert(eRef.getMessage.contains("recompute the MV"), eRef.getMessage)
    // grain hygiene: a non-integral/string join key refuses at create
    s.sql("DROP TABLE IF EXISTS graft.mvspec.lfdec")
    s.sql("CREATE TABLE graft.mvspec.lfdec (k BIGINT, " +
      "a DECIMAL(10,2), v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.lfdec SELECT id, " +
      "CAST(id AS DECIMAL(10,2)), CAST(id AS DECIMAL(12,2)) " +
      "FROM RANGE(10)")
    val eGrain = intercept[IllegalArgumentException] {
      MatView.createStarLive(spark, fresh("mv_live_dec"),
        s"$w/mvspec/lfdec", Seq(MatView.MvDimRef(d1, "a", "pk")),
        Seq("g1"), "v")
    }
    assert(eGrain.getMessage.contains("integral or string"),
      eGrain.getMessage)
    // drop deregisters: the query falls back to the base join
    assert(MatView.drop(spark, mv) === "live")
    assert(!servedLive(s.sql(q)) && got() === direct(),
      "after DROP the base join must answer")
  }

  test("live star MV with a FACT-owned group key: the grain carries " +
      "it; fact-key cuts, rollups and the global COUNT(DISTINCT " +
      "dim-key) all serve through the join-back") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    Seq("lfk", "lkd").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvspec.$t"))
    s.sql("CREATE TABLE graft.mvspec.lfk (k BIGINT, a BIGINT, " +
      "flag STRING, v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.lfk SELECT id, id % 5, " +
      "CASE WHEN id % 2 = 0 THEN 'E' ELSE 'O' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(200)")
    s.sql("CREATE TABLE graft.mvspec.lkd (pk BIGINT, g1 STRING)")
    s.sql("INSERT INTO graft.mvspec.lkd SELECT id, " +
      "CASE WHEN id < 2 THEN 'P' ELSE 'Q' END FROM RANGE(5)")
    val w = GraftCatalog.defaultWarehouse
    val (fact, dim) = (s"$w/mvspec/lfk", s"$w/mvspec/lkd")
    val mv = fresh("mv_livefk_view")
    MatView.createStarLive(spark, mv, fact,
      Seq(MatView.MvDimRef(dim, "a", "pk")), Seq("g1", "flag"), "v")
    MatView.register(spark, mv)
    // the persisted grain = the join key + the fact-owned group key
    assert(defOf[MatView.LiveDef](mv).grain === Seq("a", "flag"))
    def servedLive(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.optimizedPlan
      val roots = ScanFiles.roots(p)
      roots.exists(_.contains(s"$mv/")) &&
        !roots.exists(r => r.contains(fact) && !r.contains("_cdc"))
    }
    val base = "graft.mvspec.lfk f JOIN graft.mvspec.lkd d " +
      "ON f.a = d.pk"
    // the exact grouping, a fact-owned-key CUT, and the rollup to the
    // fact-owned key alone
    assert(servedLive(s.sql(
      s"SELECT g1, flag, COUNT(*) AS n, SUM(v) AS t FROM $base " +
        "GROUP BY g1, flag")), "the mixed-ownership grouping must serve")
    assert(servedLive(s.sql(
      s"SELECT g1, COUNT(*) AS n FROM $base WHERE flag = 'E' " +
        "GROUP BY g1")), "the fact-owned-key cut must serve")
    assert(servedLive(s.sql(
      s"SELECT flag, SUM(v) AS t FROM $base GROUP BY flag")),
      "the fact-owned-key rollup must serve")
    // the GLOBAL COUNT(DISTINCT dim-key): resolves an analyzer
    // iteration late (GlobalAggregates) AND sits over a join — pins
    // the MoR-swap see-through composing with the live join-back and
    // the key-distinct vocabulary in one plan
    val qd = s"SELECT COUNT(DISTINCT g1) AS dg FROM $base"
    assert(servedLive(s.sql(qd)),
      "the global distinct dim-key count must serve")
    assert(s.sql(qd).collect()(0).getLong(0) ===
      TxnTable.snapshot(spark, fact).alias("f")
        .join(TxnTable.snapshot(spark, dim).alias("d"),
          col("f.a") === col("d.pk"))
        .select(col("g1")).distinct().count(),
      "the distinct count diverged")
    // answers stay exact through a fact cdc batch + refresh
    TxnTable.applyChangesMor(spark, fact,
      s.sql("SELECT k, a, flag, v, 'D' AS op FROM graft.mvspec.lfk " +
        "WHERE k % 7 = 0"), "k", cdc = true)
    val got = s.sql(s"SELECT g1, flag, COUNT(*) AS n, " +
      s"CAST(SUM(v) AS DOUBLE) AS t FROM $base GROUP BY g1, flag")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    val want = TxnTable.snapshot(spark, fact).alias("f")
      .join(TxnTable.snapshot(spark, dim).alias("d"),
        col("f.a") === col("d.pk"))
      .groupBy(col("g1"), col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(got === want, "compensated mixed-ownership serve diverged")
    val r = MatView.refresh(spark, mv)
    assert(r.commitsFolded === 1)
  }

  test("partial (filtered) STAR view: fact-side predicate folds " +
      "boundary-crossing updates exactly through create/refresh/" +
      "compensation; dim-column and nondeterministic predicates " +
      "refuse; only slice-restricted queries serve") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    Seq("pjf", "pjd").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvspec.$t"))
    s.sql("CREATE TABLE graft.mvspec.pjf (k BIGINT, fk BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.pjf SELECT id, id % 10, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(200)")
    s.sql("CREATE TABLE graft.mvspec.pjd (pk BIGINT, seg STRING)")
    s.sql("INSERT INTO graft.mvspec.pjd SELECT id, " +
      "CASE WHEN id < 5 THEN 'X' ELSE 'Y' END FROM RANGE(10)")
    val w = GraftCatalog.defaultWarehouse
    val (fact, dim) = (s"$w/mvspec/pjf", s"$w/mvspec/pjd")
    // a DIM-column predicate refuses: dim-dependent membership moves
    // when the dim moves — no fact feed folds that
    val eDim = intercept[IllegalArgumentException] {
      MatView.createJoinStar(spark, fresh("mv_pjs_dim"), fact,
        Seq(MatView.MvDimRef(dim, "fk", "pk")), Seq("seg"), "v",
        Seq("count", "sum"), Some("seg = 'X'"))
    }
    assert(eDim.getMessage.contains("does not resolve against the " +
      "fact's columns"), eDim.getMessage)
    val eRand = intercept[IllegalArgumentException] {
      MatView.createJoinStar(spark, fresh("mv_pjs_rand"), fact,
        Seq(MatView.MvDimRef(dim, "fk", "pk")), Seq("seg"), "v",
        Seq("count", "sum"), Some("rand() > 0.5"))
    }
    assert(eRand.getMessage.contains("nondeterministic"),
      eRand.getMessage)
    val mv = fresh("mv_pjs_view")
    MatView.createJoinStar(spark, mv, fact,
      Seq(MatView.MvDimRef(dim, "fk", "pk")), Seq("seg"), "v",
      Seq("count", "sum"), Some("v > 50"))
    MatView.register(spark, mv)
    val q = "SELECT seg, COUNT(*) AS n, SUM(v) AS t FROM " +
      "graft.mvspec.pjf f JOIN graft.mvspec.pjd d ON f.fk = d.pk " +
      "WHERE v > 50 GROUP BY seg"
    def got() = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue())).toSet
    def direct() = TxnTable.snapshot(spark, fact).alias("f")
      .filter(col("v") > 50)
      .join(TxnTable.snapshot(spark, dim).alias("d"),
        col("f.fk") === col("d.pk"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue())).toSet
    assert(planServedFrom(s.sql(q), mv), "the sliced star must serve")
    assert(got() === direct(), "fresh partial star diverged")
    // a different threshold and the unsliced query fall through
    assert(!planServedFrom(s.sql(q.replace("v > 50", "v > 20")), mv),
      "a different threshold must fall through")
    assert(!planServedFrom(s.sql(q.replace("WHERE v > 50 ", "")), mv),
      "the unsliced query must fall through")
    // boundary crossings BOTH ways + deletes, one cdc batch
    TxnTable.applyChangesMor(spark, fact,
      s.sql("SELECT k, fk, v, 'D' AS op FROM graft.mvspec.pjf " +
        "WHERE k % 9 = 0 UNION ALL " +
        // out of the slice (→ 10) and INTO it (+500)
        "SELECT k, fk, CAST(10 AS DECIMAL(12,2)), 'U' " +
        "FROM graft.mvspec.pjf WHERE k % 9 <> 0 AND k % 5 = 1 " +
        "UNION ALL " +
        "SELECT k, fk, CAST(v + 500 AS DECIMAL(12,2)), 'U' " +
        "FROM graft.mvspec.pjf WHERE k % 9 <> 0 AND k % 5 = 2"),
      "k", cdc = true)
    // stale: compensated from MV ⊕ pred-filtered feed ⋈ dim — exact
    assert(got() === direct(), "compensated partial star diverged")
    // an SCD dim move on top: ONE refresh folds both telescoping
    // terms through the predicate
    TxnTable.applyChangesMor(spark, dim,
      s.sql("SELECT pk, 'Z' AS seg, 'U' AS op FROM graft.mvspec.pjd " +
        "WHERE pk IN (1, 7)"), "pk", cdc = true)
    val r = MatView.refresh(spark, mv)
    assert(r.commitsFolded === 1)
    assert(planServedFrom(s.sql(q), mv), "post-refresh must serve")
    val g = got()
    assert(g === direct() && g.exists(_._1 == "Z"),
      "refreshed partial star diverged")
  }

  test("DROP of a view that feeds a registered dependent refuses, " +
      "naming the dependent; dropping the dependent first unblocks it") {
    val s = spark
    val t = fresh("mv_dropdep_base")
    mkBase(t, 60)
    val mvA = fresh("mv_dropdep_a")
    MatView.create(spark, mvA, t, "g", "v")
    MatView.register(spark, mvA)
    // stack a second fold view on the FIRST view's own feed — the
    // mvChain construction (refresh publishes a signed feed, so a
    // refreshed MV is a feeding base like any other)
    val mvB = fresh("mv_dropdep_b")
    MatView.create(spark, mvB, mvA, "g", "total")
    MatView.register(spark, mvB)
    val e = intercept[IllegalArgumentException] {
      MatView.drop(spark, mvA)
    }
    assert(e.getMessage.contains(mvB) &&
      e.getMessage.contains("drop those first"), e.getMessage)
    // the refusal mutated nothing: A still serves its base
    assert(MatView.registeredFor(t).exists(_._1 == mvA),
      "the refused drop must leave A registered")
    assert(MatView.drop(spark, mvB) === "fold")
    // a dependent registered over a BRANCH of A (the transplant
    // lineage): the recursive delete would wipe the branch too, so the
    // guard must reach bases UNDER the view, not just the exact dir
    TxnTable.branch(spark, mvA, "dev")
    val mvC = fresh("mv_dropdep_c")
    MatView.create(spark, mvC, s"$mvA/_branches/dev", "g", "total")
    MatView.register(spark, mvC)
    val eBr = intercept[IllegalArgumentException] {
      MatView.drop(spark, mvA)
    }
    assert(eBr.getMessage.contains(mvC), eBr.getMessage)
    // a GHOST dependent (registered, directory gone out-of-band) must
    // NOT wedge the drop: its prescribed remedy is impossible and it
    // can never refresh anyway
    Fs.deleteRecursively(mvC)
    assert(MatView.drop(spark, mvA) === "fold",
      "a ghost dependent must not block the drop")
  }

  test("feed refs resolve through pathFor and a swept feed refuses " +
      "with the named vacuum remedy (the refresh AND strict-CDC-stream " +
      "shared contract)") {
    val s = spark
    val t = fresh("mv_sweptfeed_base")
    mkBase(t, 40)
    TxnTable.applyChangesMor(spark, t,
      change(baseDf(40).filter(col("k") % 7 === 0), "D"), "k",
      cdc = true)
    val head = TxnTable.currentVersion(spark, t)
    // intact feed: refs resolve (relative refs through pathFor)
    val refs = MatView.feedRefs(spark, t, head - 1, head)
    assert(refs.nonEmpty && refs.forall(_.startsWith(t)),
      refs.toString)
    // sweep the feed dir out from under the cursor: the refusal names
    // the vacuumed feed and the remedy, never a raw FileNotFound deep
    // in a scan
    refs.foreach(r => Fs.deleteRecursively(r))
    val e = intercept[IllegalArgumentException] {
      MatView.feedRefs(spark, t, head - 1, head)
    }
    assert(e.getMessage.contains("was vacuumed") &&
      e.getMessage.contains("recompute the MV"), e.getMessage)
  }

  test("fact-owned join-MV keys: create validates ownership across " +
      "fact AND dims; both logs fold in ONE refresh; the non-key fact " +
      "column never binds") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.f2f")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.f2d")
    s.sql("CREATE TABLE graft.mvspec.f2f (k BIGINT, fk BIGINT, " +
      "flag STRING, v DECIMAL(12,2)) TBLPROPERTIES ('index' = 'fk')")
    s.sql("INSERT INTO graft.mvspec.f2f SELECT id, id % 20, " +
      "CASE WHEN id % 2 = 0 THEN 'E' ELSE 'O' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(200)")
    s.sql("CREATE TABLE graft.mvspec.f2d (pk BIGINT, seg STRING)")
    s.sql("INSERT INTO graft.mvspec.f2d SELECT id, " +
      "CASE WHEN id < 10 THEN 'X' ELSE 'Y' END FROM RANGE(20)")
    val factLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/f2f"
    val dimLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/f2d"
    val mv = fresh("mv_f2f_view")
    // MIXED ownership: 'flag' lives on the FACT, 'seg' on the dim
    MatView.createJoinStar(spark, mv, factLoc,
      Seq(MatView.MvDimRef(dimLoc, "fk", "pk")), Seq("flag", "seg"), "v")
    MatView.register(spark, mv)
    // an AMBIGUOUS key (a column on both sides) refuses at create
    s.sql("DROP TABLE IF EXISTS graft.mvspec.f2amb")
    s.sql("CREATE TABLE graft.mvspec.f2amb (pk BIGINT, flag STRING)")
    s.sql("INSERT INTO graft.mvspec.f2amb SELECT id, 'Z' FROM RANGE(20)")
    val eAmb = intercept[IllegalArgumentException] {
      MatView.createJoinStar(spark, fresh("mv_f2amb"), factLoc,
        Seq(MatView.MvDimRef(
          s"${GraftCatalog.defaultWarehouse}/mvspec/f2amb", "fk", "pk")),
        Seq("flag"), "v")
    }
    assert(eAmb.getMessage.contains("exactly one"), eAmb.getMessage)
    val q1 = "SELECT flag, seg, COUNT(*) AS n, " +
      "CAST(SUM(v) AS DOUBLE) AS t FROM graft.mvspec.f2f f " +
      "JOIN graft.mvspec.f2d d ON f.fk = d.pk GROUP BY flag, seg"
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    def rows() = s.sql(q1).collect().map(r => (r.getString(0),
      r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    def direct() = TxnTable.snapshot(spark, factLoc).alias("f")
      .join(TxnTable.snapshot(spark, dimLoc).alias("d"),
        col("f.fk") === col("d.pk"))
      .groupBy(col("f.flag"), col("d.seg"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(served(q1), "mixed fact/dim keys must serve")
    assert(rows() === direct(), "fresh fact-owned-key serve diverged")
    // a fact-owned-key FILTER serves; a non-key fact column never binds
    assert(served("SELECT seg, COUNT(*) AS n FROM graft.mvspec.f2f f " +
      "JOIN graft.mvspec.f2d d ON f.fk = d.pk WHERE flag = 'E' " +
      "GROUP BY seg"), "a fact-owned key predicate must serve")
    assert(!served("SELECT k, COUNT(*) AS n FROM graft.mvspec.f2f f " +
      "JOIN graft.mvspec.f2d d ON f.fk = d.pk GROUP BY k"),
      "a non-key fact column must fall through")
    // BOTH logs move; ONE refresh folds both telescoping terms
    TxnTable.applyChangesMor(spark, factLoc,
      s.sql("SELECT k, fk, flag, v, 'D' AS op FROM graft.mvspec.f2f " +
        "WHERE k % 4 = 0 UNION ALL " +
        "SELECT k + 1000, fk, 'N', v, 'U' FROM graft.mvspec.f2f " +
        "WHERE k % 50 = 0"), "k", cdc = true)
    TxnTable.applyChangesMor(spark, dimLoc,
      s.sql("SELECT pk, 'Z' AS seg, 'U' AS op FROM graft.mvspec.f2d " +
        "WHERE pk IN (3, 7)"), "pk", cdc = true)
    assert(!served(q1), "a moved dim must disqualify serving")
    assert(rows() === direct(), "fall-through diverged")
    val r = MatView.refresh(spark, mv)
    assert(r.commitsFolded === 1)
    assert(served(q1), "post-both-sides-refresh must serve from the MV")
    assert(rows() === direct(), "both-logs fold diverged")
    // drift tolerance: the FACT gaining a column that shares a DIM
    // key's name must NOT brick the view — the dim owned 'seg' at
    // create (the only binding any create accepts), so refresh and
    // serve keep binding the dim side
    s.sql("ALTER TABLE graft.mvspec.f2f ADD COLUMN seg STRING")
    TxnTable.applyChangesMor(spark, factLoc,
      s.sql("SELECT k, fk, flag, v, CAST(NULL AS STRING) AS seg, " +
        "'D' AS op FROM graft.mvspec.f2f WHERE k % 30 = 1"), "k",
      cdc = true)
    val r2 = MatView.refresh(spark, mv)
    // 2 commits walked: the evolve (content-invariant) + the change
    assert(r2.commitsFolded === 2,
      "a fact column shadowing a dim key must not brick the refresh")
    // the bare column is now SQL-ambiguous (Spark's own rule); the
    // QUALIFIED dim reference serves — bound to the owning side
    val q1q = "SELECT flag, d.seg AS seg, COUNT(*) AS n, " +
      "CAST(SUM(v) AS DOUBLE) AS t FROM graft.mvspec.f2f f " +
      "JOIN graft.mvspec.f2d d ON f.fk = d.pk GROUP BY flag, d.seg"
    assert(served(q1q),
      "dim-owned binding must survive the fact's shadowing column")
    assert(s.sql(q1q).collect().map(r => (r.getString(0),
      r.getString(1), r.getLong(2), r.getDouble(3))).toSet === direct(),
      "post-shadowing dim-owned serve diverged")
  }

  test("partial (filtered) MV: boundary-crossing updates fold exactly; " +
      "create refuses nondeterministic and subquery predicates; only " +
      "slice-restricted queries serve") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.pslice")
    s.sql("CREATE TABLE graft.mvspec.pslice (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.pslice SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(100)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/pslice"
    val mv = fresh("mv_pslice_view")
    // predicate validation: nondeterminism and subqueries refuse
    val eRand = intercept[IllegalArgumentException] {
      MatView.create(spark, fresh("mv_pbad1"), loc, Seq("g"), "v",
        Seq("count", "sum"), Some("v > rand() * 100"))
    }
    assert(eRand.getMessage.contains("nondeterministic"),
      eRand.getMessage)
    val eSub = intercept[IllegalArgumentException] {
      MatView.create(spark, fresh("mv_pbad2"), loc, Seq("g"), "v",
        Seq("count", "sum"), Some("v > (SELECT 1)"))
    }
    assert(eSub.getMessage.contains("subquery"), eSub.getMessage)
    MatView.create(spark, mv, loc, Seq("g"), "v", Seq("count", "sum"),
      Some("v > 50"))
    assert(defOf[MatView.MvDef](mv).pred === Some("v > 50"),
      "the predicate must persist in the definition")
    MatView.register(spark, mv)
    val q = "SELECT g, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS t " +
      "FROM graft.mvspec.pslice WHERE v > 50 GROUP BY g"
    def got() = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct() = TxnTable.snapshot(spark, loc).filter(col("v") > 50)
      .groupBy(col("g")).agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2))).toSet
    assert(planServedFrom(s.sql(q), mv), "the sliced query must serve")
    assert(got() === direct(), "fresh partial serve diverged")
    // slice + key filter composes; wrong slice and no slice fall
    // through (the view holds only a subset of the base's rows)
    assert(planServedFrom(s.sql("SELECT g, COUNT(*) AS n FROM " +
      "graft.mvspec.pslice WHERE v > 50 AND g = 'A' GROUP BY g"), mv))
    assert(!planServedFrom(s.sql("SELECT g, COUNT(*) AS n FROM " +
      "graft.mvspec.pslice WHERE v > 40 GROUP BY g"), mv),
      "a different threshold must fall through")
    assert(!planServedFrom(s.sql("SELECT g, COUNT(*) AS n FROM " +
      "graft.mvspec.pslice GROUP BY g"), mv),
      "the unsliced query must fall through")
    // the boundary-crossing wave: k%10=3 reprices to 200 (into the
    // slice for k<50), k%10=7 to 10 (out of it for k>57), k%9=0
    // deletes — each −old/+new side evaluated independently
    TxnTable.applyChangesMor(spark, loc,
      s.sql("SELECT k, g, v, 'D' AS op FROM graft.mvspec.pslice " +
        "WHERE k % 9 = 0 UNION ALL " +
        "SELECT k, g, CAST(200 AS DECIMAL(12,2)), 'U' " +
        "FROM graft.mvspec.pslice WHERE k % 10 = 3 AND k % 9 <> 0 " +
        "UNION ALL " +
        "SELECT k, g, CAST(10 AS DECIMAL(12,2)), 'U' " +
        "FROM graft.mvspec.pslice WHERE k % 10 = 7 AND k % 9 <> 0"),
      "k", cdc = true)
    // stale: compensated from MV ⊕ pred-filtered feed, exact
    assert(got() === direct(), "compensated partial serve diverged")
    val r = MatView.refresh(spark, mv)
    assert(r.commitsFolded === 1)
    assert(planServedFrom(s.sql(q), mv), "post-refresh must serve")
    assert(got() === direct(), "refreshed partial view diverged")
    // distinct counts COMPOSE with the slice for free (the partial
    // consumption runs before the ordinary fold gates): COUNT(DISTINCT
    // key) over the sliced query answers from the partial view's own
    // rows
    val qd = "SELECT COUNT(DISTINCT g) AS dg FROM graft.mvspec.pslice " +
      "WHERE v > 50"
    assert(planServedFrom(s.sql(qd), mv),
      "sliced COUNT(DISTINCT key) must serve from the partial view")
    assert(s.sql(qd).collect()(0).getLong(0) ===
      TxnTable.snapshot(spark, loc).filter(col("v") > 50)
        .select(col("g")).distinct().count(),
      "sliced distinct count diverged")
    // the DDL path with an ALIAS-QUALIFIED predicate: the stored text
    // strips to the bare column, so it re-resolves against both the
    // unaliased base snapshot (create) and the served relation
    s.sql("DROP TABLE IF EXISTS graft.mvspec.pslice_ddl")
    s.sql("CREATE MATERIALIZED VIEW graft.mvspec.pslice_ddl AS " +
      "SELECT g, COUNT(*) AS n, SUM(v) AS t " +
      "FROM graft.mvspec.pslice x WHERE x.v > 50 GROUP BY g")
    val mvDdl = s"${GraftCatalog.defaultWarehouse}/mvspec/pslice_ddl"
    assert(defOf[MatView.MvDef](mvDdl).pred === Some("(v > 50)"),
      "the DDL predicate must store qualifier-free")
    assert(s.sql("DROP MATERIALIZED VIEW graft.mvspec.pslice_ddl")
      .collect()(0).getString(0) === "fold")
    // register is LATEST-WINS per base: creating pslice_ddl evicted
    // mv's registration, and dropping it removed its own — the remedy
    // after dropping the latest view is one idempotent re-register of
    // the survivor
    assert(!planServedFrom(s.sql(q), mv),
      "after the latest view dropped, the base has no registration")
    MatView.register(spark, mv)
    assert(planServedFrom(s.sql(q), mv) && got() === direct(),
      "re-registering the surviving view restores the serve")
  }

  test("CREATE/REFRESH MATERIALIZED VIEW DDL: kind dispatch (fold/" +
      "extrema/star) from the defining query, loud shape refusals, " +
      "delegation leaves every other statement untouched") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    Seq("ddlf", "ddld").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvspec.$t"))
    s.sql("CREATE TABLE graft.mvspec.ddlf (k BIGINT, fk BIGINT, " +
      "g STRING, v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.ddlf SELECT id, id % 10, " +
      "CASE WHEN id % 2 = 0 THEN 'E' ELSE 'O' END, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(100)")
    s.sql("CREATE TABLE graft.mvspec.ddld (pk BIGINT, seg STRING)")
    s.sql("INSERT INTO graft.mvspec.ddld SELECT id, " +
      "CASE WHEN id < 5 THEN 'X' ELSE 'Y' END FROM RANGE(10)")
    // the star kind, from SQL text alone — with a trailing semicolon
    // and mixed case (the grammar is case-insensitive like Spark's)
    val v = s.sql("""create materialized view graft.mvspec.ddl_star as
      SELECT seg, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.ddlf f
      JOIN graft.mvspec.ddld d ON f.fk = d.pk GROUP BY seg;""")
      .collect()(0).getLong(0)
    assert(v === 0L)
    val mvLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/ddl_star"
    assert(planServedFrom(s.sql("SELECT seg, COUNT(*) AS n " +
      "FROM graft.mvspec.ddlf f JOIN graft.mvspec.ddld d " +
      "ON f.fk = d.pk GROUP BY seg"), mvLoc),
      "the DDL-created star view must serve")
    // a cdc fact batch + pure-SQL refresh through the join dispatch
    TxnTable.applyChangesMor(spark,
      s"${GraftCatalog.defaultWarehouse}/mvspec/ddlf",
      s.sql("SELECT k, fk, g, v, 'D' AS op FROM graft.mvspec.ddlf " +
        "WHERE k % 3 = 0"), "k", cdc = true)
    assert(s.sql("REFRESH MATERIALIZED VIEW graft.mvspec.ddl_star")
      .collect()(0).getLong(0) >= 1L)
    val got = s.sql("SELECT seg, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) " +
      "AS t FROM graft.mvspec.ddlf f JOIN graft.mvspec.ddld d " +
      "ON f.fk = d.pk GROUP BY seg").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = TxnTable.snapshot(spark,
      s"${GraftCatalog.defaultWarehouse}/mvspec/ddlf").alias("f")
      .join(TxnTable.snapshot(spark,
        s"${GraftCatalog.defaultWarehouse}/mvspec/ddld").alias("d"),
        col("f.fk") === col("d.pk"))
      .groupBy(col("d.seg")).agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2))).toSet
    assert(got === want, "post-DDL-refresh star serve diverged")
    // shape refusals: non-aggregate query, and REFRESH of a non-MV
    val eShape = intercept[IllegalArgumentException] {
      s.sql("CREATE MATERIALIZED VIEW graft.mvspec.ddl_bad AS " +
        "SELECT k, v FROM graft.mvspec.ddlf")
    }
    assert(eShape.getMessage.contains("GROUP BY aggregate"),
      eShape.getMessage)
    val eNotMv = intercept[IllegalArgumentException] {
      s.sql("REFRESH MATERIALIZED VIEW graft.mvspec.ddlf")
    }
    assert(eNotMv.getMessage.contains("not a materialized view"),
      eNotMv.getMessage)
    // delegation: ordinary statements still parse and run through the
    // wrapped parser (a SELECT with the words inside a string literal
    // must NOT be intercepted)
    assert(s.sql("SELECT 'CREATE MATERIALIZED VIEW nope AS x' AS t")
      .collect()(0).getString(0).startsWith("CREATE"))
    // SHOW lists the session-registered views with their kinds, as
    // CATALOG identifiers (the spelling DROP/REFRESH accept), and
    // probes that each definition still reads
    val shown = s.sql("SHOW MATERIALIZED VIEWS").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(3))).toSet
    assert(shown.contains(("graft.mvspec.ddl_star", "join", true)),
      s"SHOW must list the DDL-created star view by identifier, " +
        s"got $shown")
    // DROP completes the lifecycle: deregisters (the query returns to
    // the base join) and deletes the view's data; a second drop — or
    // refreshing the dropped view — refuses
    assert(s.sql("DROP MATERIALIZED VIEW graft.mvspec.ddl_star")
      .collect()(0).getString(0) === "join")
    assert(!s.sql("SHOW MATERIALIZED VIEWS").collect()
      .exists(_.getString(0) == "graft.mvspec.ddl_star"),
      "a dropped view must leave the SHOW listing")
    assert(!planServedFrom(s.sql("SELECT seg, COUNT(*) AS n " +
      "FROM graft.mvspec.ddlf f JOIN graft.mvspec.ddld d " +
      "ON f.fk = d.pk GROUP BY seg"), mvLoc),
      "a dropped view must stop serving")
    val eGone = intercept[IllegalArgumentException] {
      s.sql("DROP MATERIALIZED VIEW graft.mvspec.ddl_star")
    }
    assert(eGone.getMessage.contains("not a materialized view"),
      eGone.getMessage)
    // the LIVE kind's DDL spelling: same statement shape with the LIVE
    // keyword → key-grained star (dims join back at query time), full
    // lifecycle through CREATE/SHOW/REFRESH/DROP
    s.sql("""CREATE LIVE MATERIALIZED VIEW graft.mvspec.ddl_live AS
      SELECT seg, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.ddlf f
      JOIN graft.mvspec.ddld d ON f.fk = d.pk GROUP BY seg""")
    val liveLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/ddl_live"
    assert(MatView.definition(spark, liveLoc).kind === "live")
    // a dim move WITHOUT a feed — the live kind keeps serving exactly
    TxnTable.applyChangesMor(spark,
      s"${GraftCatalog.defaultWarehouse}/mvspec/ddld",
      s.sql("SELECT pk, 'LQ' AS seg, 'U' AS op FROM graft.mvspec.ddld " +
        "WHERE pk = 2"), "pk", cdc = false)
    val liveQ = "SELECT seg, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) " +
      "AS t FROM graft.mvspec.ddlf f JOIN graft.mvspec.ddld d " +
      "ON f.fk = d.pk GROUP BY seg"
    val liveGot = s.sql(liveQ).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val liveWant = TxnTable.snapshot(spark,
      s"${GraftCatalog.defaultWarehouse}/mvspec/ddlf").alias("f")
      .join(TxnTable.snapshot(spark,
        s"${GraftCatalog.defaultWarehouse}/mvspec/ddld").alias("d"),
        col("f.fk") === col("d.pk"))
      .groupBy(col("d.seg")).agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2))).toSet
    assert(liveGot === liveWant && liveGot.exists(_._1 == "LQ"),
      "the DDL-created live view must serve the moved dim exactly")
    // the optimized plan reads the sub-view + dim, never a fact file
    val roots = ScanFiles.roots(s.sql(liveQ).queryExecution.optimizedPlan)
    assert(roots.exists(_.contains(s"$liveLoc/")) &&
      !roots.exists(r => r.contains("/mvspec/ddlf") &&
        !r.contains("_cdc")),
      s"live DDL serve must read no fact data file, got $roots")
    assert(s.sql("SHOW MATERIALIZED VIEWS").collect()
      .exists(r => r.getString(0) == "graft.mvspec.ddl_live" &&
        r.getString(1) == "live" && r.getBoolean(3)))
    assert(s.sql("REFRESH MATERIALIZED VIEW graft.mvspec.ddl_live")
      .collect()(0).getLong(0) >= 0L)
    // a FACT-side WHERE makes the live view PARTIAL (the partial-star
    // rule, composed with join-back): the sliced query serves, the
    // unsliced falls through; a DIM-column WHERE refuses, named
    s.sql("CREATE LIVE MATERIALIZED VIEW graft.mvspec.ddl_lw AS " +
      "SELECT seg, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.ddlf " +
      "f JOIN graft.mvspec.ddld d ON f.fk = d.pk WHERE v > 10 " +
      "GROUP BY seg")
    val lwLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/ddl_lw"
    assert(MatView.definition(spark, lwLoc).kind === "live")
    assert(defOf[MatView.LiveDef](lwLoc).star.pred ===
      Some("(v > 10)"), "the live def must store the predicate")
    val lwQ = "SELECT seg, COUNT(*) AS n FROM graft.mvspec.ddlf f " +
      "JOIN graft.mvspec.ddld d ON f.fk = d.pk WHERE v > 10 " +
      "GROUP BY seg"
    def lwRoots(q: String) =
      ScanFiles.roots(s.sql(q).queryExecution.optimizedPlan)
    assert(lwRoots(lwQ).exists(_.contains(s"$lwLoc/")) &&
      !lwRoots(lwQ).exists(r => r.contains("/mvspec/ddlf") &&
        !r.contains("_cdc")),
      "the sliced live query must serve with no fact data file")
    val lwGot = s.sql(lwQ).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val lwWant = TxnTable.snapshot(spark,
      s"${GraftCatalog.defaultWarehouse}/mvspec/ddlf").alias("f")
      .filter(col("v") > 10)
      .join(TxnTable.snapshot(spark,
        s"${GraftCatalog.defaultWarehouse}/mvspec/ddld").alias("d"),
        col("f.fk") === col("d.pk"))
      .groupBy(col("d.seg")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(lwGot === lwWant, "partial live DDL serve diverged")
    assert(!lwRoots(lwQ.replace("WHERE v > 10 ", ""))
      .exists(_.contains(s"$lwLoc/")),
      "the unsliced query must fall through")
    assert(s.sql("DROP MATERIALIZED VIEW graft.mvspec.ddl_lw")
      .collect()(0).getString(0) === "live")
    val eLiveDim = intercept[IllegalArgumentException] {
      s.sql("CREATE LIVE MATERIALIZED VIEW graft.mvspec.ddl_lwd AS " +
        "SELECT seg, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.ddlf " +
        "f JOIN graft.mvspec.ddld d ON f.fk = d.pk WHERE seg = 'X' " +
        "GROUP BY seg")
    }
    // refused by the DDL binder against the statement's OWN
    // qualifiers — before the stripped predicate text could silently
    // rebind to a same-named fact column
    assert(eLiveDim.getMessage.contains("decidable on FACT rows alone"),
      eLiveDim.getMessage)
    // a qualifier naming NO joined relation refuses too: 'x.v' would
    // otherwise strip to 'v' and silently rebind to the fact column —
    // a view the statement never declared (plain Spark would reject
    // the unresolved x.v outright)
    val eNoOwner = intercept[IllegalArgumentException] {
      s.sql("CREATE LIVE MATERIALIZED VIEW graft.mvspec.ddl_lwx AS " +
        "SELECT seg, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.ddlf " +
        "f JOIN graft.mvspec.ddld d ON f.fk = d.pk WHERE x.v > 10 " +
        "GROUP BY seg")
    }
    assert(eNoOwner.getMessage.contains("resolves to no relation"),
      eNoOwner.getMessage)
    // a single-table LIVE refuses with the plain-view remedy
    val eLive1 = intercept[IllegalArgumentException] {
      s.sql("CREATE LIVE MATERIALIZED VIEW graft.mvspec.ddl_l1 AS " +
        "SELECT g, COUNT(*) AS n, SUM(v) AS t FROM graft.mvspec.ddlf " +
        "GROUP BY g")
    }
    assert(eLive1.getMessage.contains("inner join of a fact"),
      eLive1.getMessage)
    assert(s.sql("DROP MATERIALIZED VIEW graft.mvspec.ddl_live")
      .collect()(0).getString(0) === "live")
  }

  test("the matviews metadata table lists every registered view with " +
      "log-decided freshness; a broken view reports instead of failing " +
      "the listing") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.shw")
    s.sql("CREATE TABLE graft.mvspec.shw (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.shw SELECT id, 'A', " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(40)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/shw"
    val mv = fresh("mv_shw_fold")
    MatView.create(spark, mv, loc, Seq("g"), "v")
    MatView.register(spark, mv)
    val mvx = fresh("mv_shw_extrema")
    MatView.createExtrema(spark, mvx, loc, Seq("g"), "v")
    MatView.register(spark, mvx)
    def listing() = s.sql("SELECT mv, kind, fresh, servable, cursor, " +
      "head FROM graft.mvspec.shw.matviews ORDER BY kind").collect()
      .map(r => (r.getString(1), r.getBoolean(2), r.getBoolean(3),
        r.getLong(4), r.getLong(5)))
    assert(listing().toSet === Set(("fold", true, true, 1L, 1L),
      ("extrema", true, true, 1L, 1L)), "two fresh views at cursor 1")
    // one cdc batch: the fold compensates, the extrema cannot
    val ch = s.sql("SELECT k, g, v, 'D' AS op FROM graft.mvspec.shw " +
      "WHERE k % 4 = 0")
    TxnTable.applyChangesMor(spark, loc, ch, "k", cdc = true)
    assert(listing().toSet === Set(("fold", false, true, 1L, 2L),
      ("extrema", false, false, 1L, 2L)),
      "fold compensable, extrema not, after a feed-carrying commit")
    // a BROKEN view (directory deleted out from under the registry)
    // reports (false, false, -1) — the listing never throws
    Fs.deleteRecursively(mvx)
    val rows = listing()
    assert(rows.toSet === Set(("fold", false, true, 1L, 2L),
      ("extrema", false, false, -1L, -1L)),
      "a broken view must surface as a row, not an exception")
    // the listing is a LocalScan: no jobs, no data-file reads
    val plan = s.sql("SELECT * FROM graft.mvspec.shw.matviews")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("LocalScan"),
      s"matviews must plan as a local scan, got:\n$plan")
  }

  test("the matviews listing agrees with the rewrite for every view " +
      "kind and tail state: servable = served, fresh = every cursor at " +
      "its head") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvlist")
    Seq("f", "d1", "d2").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.mvlist.$t"))
    s.sql("CREATE TABLE graft.mvlist.f (k BIGINT, g STRING, a BIGINT, " +
      "b BIGINT, v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvlist.f SELECT id, IF(id % 3 = 0, 'A', " +
      "'B'), id % 4, id % 3, CAST(id AS DECIMAL(12,2)) FROM RANGE(120)")
    s.sql("CREATE TABLE graft.mvlist.d1 (pk BIGINT, dg1 STRING)")
    s.sql("INSERT INTO graft.mvlist.d1 SELECT id, IF(id < 2, 'P', 'Q') " +
      "FROM RANGE(4)")
    s.sql("CREATE TABLE graft.mvlist.d2 (pk2 BIGINT, dg2 STRING)")
    s.sql("INSERT INTO graft.mvlist.d2 SELECT id, IF(id = 0, 'X', 'Y') " +
      "FROM RANGE(3)")
    val w = GraftCatalog.defaultWarehouse
    val (fact, d1, d2) = (s"$w/mvlist/f", s"$w/mvlist/d1", s"$w/mvlist/d2")
    // one view per kind over the same fact; the join and live views
    // read different dims, so each dashboard has exactly one candidate
    val views = Seq("fold", "extrema", "join", "live")
      .map(k => k -> fresh(s"mv_list_$k")).toMap
    MatView.create(spark, views("fold"), fact, Seq("g"), "v")
    MatView.createExtrema(spark, views("extrema"), fact, Seq("g"), "v")
    MatView.createJoinStar(spark, views("join"), fact,
      Seq(MatView.MvDimRef(d1, "a", "pk")), Seq("dg1"), "v")
    MatView.createStarLive(spark, views("live"), fact,
      Seq(MatView.MvDimRef(d2, "b", "pk2")), Seq("dg2"), "v")
    views.values.foreach(MatView.register(spark, _))
    val dashboards = Map(
      "fold" -> ("SELECT g, COUNT(*) AS n, SUM(v) AS t " +
        "FROM graft.mvlist.f GROUP BY g"),
      "extrema" -> ("SELECT g, MIN(v) AS lo, MAX(v) AS hi " +
        "FROM graft.mvlist.f GROUP BY g"),
      "join" -> ("SELECT dg1, COUNT(*) AS n, SUM(v) AS t FROM " +
        "graft.mvlist.f f JOIN graft.mvlist.d1 d ON f.a = d.pk " +
        "GROUP BY dg1"),
      "live" -> ("SELECT dg2, COUNT(*) AS n, SUM(v) AS t FROM " +
        "graft.mvlist.f f JOIN graft.mvlist.d2 d ON f.b = d.pk2 " +
        "GROUP BY dg2"))
    // served = no catalog relation, and every parquet root is the view's
    // own files, a table's published feed, or (for the stars) a dim the
    // serve joins back — never a fact data file
    def served(kind: String): Boolean = {
      val mv = views(kind)
      val p = s.sql(dashboards(kind)).queryExecution.optimizedPlan
      val hasV2 = p.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => r
      }.nonEmpty
      val roots = ScanFiles.roots(p)
      !hasV2 && roots.exists(_.contains(mv)) && roots.forall(r =>
        r.contains(mv) || r.contains(s"$fact/_cdc") ||
          Seq(d1, d2).exists(d => r.contains(s"$d/")))
    }
    def listing(): Map[String, (Boolean, Boolean)] =
      s.sql("SELECT kind, fresh, servable FROM graft.mvlist.f.matviews")
        .collect().map(r => r.getString(0) ->
          (r.getBoolean(1), r.getBoolean(2))).toMap
    def atHeads(mv: String): Boolean =
      MatView.cursors(spark, mv, MatView.definition(spark, mv))._2
        .forall { case (t, c) => c == TxnTable.currentVersion(spark, t) }
    def cdc(t: String, key: String, q: String): Unit =
      TxnTable.applyChangesMor(spark, t, s.sql(q), key, cdc = true)
    // (tail state, how to reach it from fresh views, expected
    // (fresh, servable) per kind)
    val states: Seq[(String, () => Unit, Map[String, (Boolean, Boolean)])] =
      Seq(
        ("fresh", () => (), Map("fold" -> (true, true),
          "extrema" -> (true, true), "join" -> (true, true),
          "live" -> (true, true))),
        ("compact only", () => { TxnTable.compact(spark, fact); () },
          Map("fold" -> (false, true), "extrema" -> (false, true),
            "join" -> (false, true), "live" -> (false, true))),
        ("a dim cdc commit", () => {
          cdc(d1, "pk", "SELECT pk, 'R' AS dg1, 'U' AS op " +
            "FROM graft.mvlist.d1 WHERE pk = 1")
          cdc(d2, "pk2", "SELECT pk2, 'Z' AS dg2, 'U' AS op " +
            "FROM graft.mvlist.d2 WHERE pk2 = 2")
        }, Map("fold" -> (true, true), "extrema" -> (true, true),
          "join" -> (false, false), "live" -> (true, true))),
        ("a fact cdc commit", () => cdc(fact, "k", "SELECT k, g, a, b, " +
          "v, 'D' AS op FROM graft.mvlist.f WHERE k % 5 = 0"),
          Map("fold" -> (false, true), "extrema" -> (false, false),
            "join" -> (false, true), "live" -> (false, true))),
        ("a fact commit with no feed", () =>
          TxnTable.applyChangesMor(spark, fact, s.sql("SELECT k, g, a, " +
            "b, v, 'D' AS op FROM graft.mvlist.f WHERE k % 7 = 0"), "k",
            cdc = false),
          Map("fold" -> (false, false), "extrema" -> (false, false),
            "join" -> (false, false), "live" -> (false, false))))
    states.foreach { case (state, reach, want) =>
      reach()
      val listed = listing()
      assert(listed === want, s"$state: listing")
      views.foreach { case (kind, mv) =>
        assert(listed(kind)._2 === served(kind),
          s"$state: $kind listed servable=${listed(kind)._2} but the " +
            "rewrite disagrees")
        assert(listed(kind)._1 === atHeads(mv), s"$state: $kind fresh")
      }
      // back to fresh views for the next state (the feed-less state is
      // last: no view refreshes past it)
      if (state != states.last._1)
        views.values.foreach(MatView.refresh(spark, _))
    }
  }

  test("extrema refresh over a base WITHOUT stats on the view key " +
      "recomputes dirty groups with ONE semi-join scan, never per-group " +
      "probes that each read every file") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("mvx_nostats_base")
    val mv = fresh("mvx_nostats_view")
    val base0 = (0 until 120).map(i => (i.toLong, s"g${i % 6}",
      BigDecimal(i).setScale(2))).toDF("k", "g", "v")
      .withColumn("v", col("v").cast(D12))
    // four files, stats on k only: the view key g carries none
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      base0.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      "k"), expected = -1L, op = "create", schemaJson = base0.schema.json)
    assert(!TxnTable.manifest(spark, t, 0L).strIdxCols.contains("g"),
      "test setup: the view key must carry no stats")
    MatView.createExtrema(spark, mv, t, Seq("g"), "v")
    // fell the maxima of three groups (g0, g1, g2: k = 114, 115, 116)
    TxnTable.applyChangesMor(spark, t, base0.filter(col("k") >= 114L &&
      col("k") <= 116L).withColumn("op", lit("D")), "k", cdc = true)
    val r = MatView.refresh(spark, mv)
    val m = TxnTable.commitMetrics(spark, mv, r.mvVersion)
    assert(m.get("mv_dirty_groups").contains(3L))
    assert(m.get("mv_dirty_files_kept").contains(-1L),
      s"a stat-less key must take the one-scan fallback: $m")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("g"), col("n"), col("nn"), col("vmin"), col("vmax"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).toPlainString, r.getDecimal(4).toPlainString)).toSet
    assert(rows(TxnTable.snapshot(spark, mv)) === rows(
      TxnTable.snapshot(spark, t).groupBy(col("g")).agg(
        count(lit(1)).as("n"), count(col("v")).as("nn"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))),
      "the MV must equal the recompute")
  }

  test("grouping sets over an extrema view: MIN/MAX subtotals serve " +
      "as union-of-rollups; SUM falls through; a content change falls " +
      "back to the base") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.xgs")
    s.sql("CREATE TABLE graft.mvspec.xgs (k BIGINT, g STRING, " +
      "h BIGINT, v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.xgs SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, id % 2, " +
      "CASE WHEN id % 7 = 0 THEN NULL " +
      "ELSE CAST(id AS DECIMAL(12,2)) END FROM RANGE(200)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/xgs"
    val mv = fresh("mv_xgs_view")
    MatView.createExtrema(spark, mv, loc, Seq("g", "h"), "v")
    MatView.register(spark, mv)
    def served(q: String): Boolean = planServedFrom(s.sql(q), mv)
    def rows(q: String) = s.sql(q).collect().map(_.toSeq.map {
      case null => "∅"
      case d2: java.math.BigDecimal => d2.toPlainString
      case x => x.toString
    }.mkString("|")).sorted.toSeq
    TxnTable.snapshot(spark, loc).createOrReplaceTempView("xgs_direct")
    def directRows(q: String) =
      rows(q.replace("graft.mvspec.xgs", "xgs_direct"))
    val qRollup = "SELECT g, h, MIN(v) AS mn, MAX(v) AS mx, " +
      "COUNT(*) AS n, COUNT(v) AS nn FROM graft.mvspec.xgs " +
      "GROUP BY ROLLUP(g, h)"
    assert(served(qRollup), "extrema ROLLUP must serve")
    assert(rows(qRollup) === directRows(qRollup),
      "extrema ROLLUP diverged (incl. NULL-value groups)")
    val qCube = "SELECT g, h, grouping_id() AS gid, MAX(v) AS mx " +
      "FROM graft.mvspec.xgs WHERE g = 'A' GROUP BY CUBE(g, h)"
    assert(served(qCube), "filtered extrema CUBE must serve")
    assert(rows(qCube) === directRows(qCube), "extrema CUBE diverged")
    // the empty selection answers ZERO rows, like Spark's execution
    val qEmpty = "SELECT g, MIN(v) AS mn FROM graft.mvspec.xgs " +
      "WHERE g = 'Z' GROUP BY ROLLUP(g)"
    assert(planServedOrFolded(s.sql(qEmpty), mv))
    assert(rows(qEmpty) === directRows(qEmpty),
      "empty extrema grouping sets diverged")
    // SUM is not in the extrema vocabulary
    assert(!served("SELECT g, SUM(v) AS t FROM graft.mvspec.xgs " +
      "GROUP BY ROLLUP(g)"), "SUM must fall through")
    // a content change past the cursor: the stricter extrema contract
    // refuses (no signed compensation) — base scan, still exact
    TxnTable.applyChangesMor(spark, loc,
      s.sql("SELECT k, g, h, v, 'D' AS op FROM graft.mvspec.xgs " +
        "WHERE v = (SELECT MAX(v) FROM graft.mvspec.xgs)"), "k",
      cdc = true)
    TxnTable.snapshot(spark, loc).createOrReplaceTempView("xgs_direct")
    assert(!served(qRollup),
      "a non-invariant tail must fall through for extrema")
    assert(rows(qRollup) === directRows(qRollup),
      "post-delete fall-through diverged")
  }

  test("grouping sets over a star join serve as union-of-rollups from " +
      "the join MV; fact-side groupings fall through; a fact cdc batch " +
      "compensates") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.gsf")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.gsd")
    s.sql("CREATE TABLE graft.mvspec.gsf (k BIGINT, fk BIGINT, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.gsf SELECT id, id % 20, " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(300)")
    s.sql("CREATE TABLE graft.mvspec.gsd (pk BIGINT, seg STRING, " +
      "region STRING)")
    s.sql("INSERT INTO graft.mvspec.gsd SELECT id, " +
      "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END, " +
      "CASE WHEN id % 2 = 0 THEN 'E' ELSE 'W' END FROM RANGE(20)")
    val factLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/gsf"
    val dimLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/gsd"
    val mv = fresh("mv_gsj_view")
    MatView.createJoin(spark, mv, factLoc, dimLoc, "fk", "pk",
      Seq("seg", "region"), "v")
    MatView.register(spark, mv)
    val qRollup = "SELECT seg, region, COUNT(*) AS n, " +
      "CAST(SUM(v) AS DOUBLE) AS t " +
      "FROM graft.mvspec.gsf f JOIN graft.mvspec.gsd d " +
      "ON f.fk = d.pk GROUP BY ROLLUP(seg, region)"
    def rows(q: String) = s.sql(q).collect().map(_.toSeq.map {
      case null => "∅"
      case x => x.toString
    }.mkString("|")).sorted.toSeq
    def direct(q: String) = {
      TxnTable.snapshot(spark, factLoc).createOrReplaceTempView("gsf_d")
      TxnTable.snapshot(spark, dimLoc).createOrReplaceTempView("gsd_d")
      rows(q.replace("graft.mvspec.gsf", "gsf_d")
        .replace("graft.mvspec.gsd", "gsd_d"))
    }
    assert(planServedFrom(s.sql(qRollup), mv),
      "a fresh star ROLLUP must serve from the join MV alone")
    assert(rows(qRollup) === direct(qRollup), "star ROLLUP diverged")
    // a key-filtered CUBE with grouping_id, same plane
    val qCube = "SELECT seg, region, grouping_id() AS gid, " +
      "COUNT(*) AS n FROM graft.mvspec.gsf f JOIN graft.mvspec.gsd d " +
      "ON f.fk = d.pk WHERE seg = 'A' GROUP BY CUBE(seg, region)"
    assert(planServedFrom(s.sql(qCube), mv),
      "filtered star CUBE must serve")
    assert(rows(qCube) === direct(qCube), "star CUBE diverged")
    // a FACT-side grouping column can never serve (the MV has no fk
    // residual), nor can a rollup over a non-key dim column
    assert(!planServedFrom(s.sql("SELECT fk, COUNT(*) AS n " +
      "FROM graft.mvspec.gsf f JOIN graft.mvspec.gsd d " +
      "ON f.fk = d.pk GROUP BY ROLLUP(fk)"), mv),
      "fact-side grouping must fall through")
    // staleness: one fact cdc batch, never refreshed — the served plan
    // is union-of-rollups over (MV ⊕ fact feed ⋈ dim), still exact
    val ch = s.sql("SELECT k, fk, v, 'D' AS op FROM graft.mvspec.gsf " +
      "WHERE k % 5 = 0 UNION ALL " +
      "SELECT k + 1000, fk, CAST(v + 3 AS DECIMAL(12,2)), 'U' " +
      "FROM graft.mvspec.gsf WHERE k % 30 = 0")
    TxnTable.applyChangesMor(spark, factLoc, ch, "k", cdc = true)
    val p = s.sql(qRollup).queryExecution.optimizedPlan
    val hasV2 = p.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation => r
    }.nonEmpty
    val roots = ScanFiles.roots(p)
    assert(!hasV2 && roots.exists(_.contains(mv)) &&
      roots.forall(r2 => r2.contains(mv) ||
        r2.contains(s"$factLoc/_cdc") || r2.contains(dimLoc)),
      s"stale star grouping sets must serve from MV + feed + dim, " +
        s"never a fact data file; got $roots")
    assert(rows(qRollup) === direct(qRollup),
      "compensated star ROLLUP diverged")
  }

  test("retentionPins names exactly the feed tail (cursor, head] per " +
      "registered view; a pinned vacuum keeps a stale view refreshable " +
      "while sweeping everything else") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
    s.sql("DROP TABLE IF EXISTS graft.mvspec.rp")
    s.sql("CREATE TABLE graft.mvspec.rp (k BIGINT, g STRING, " +
      "v DECIMAL(12,2))")
    s.sql("INSERT INTO graft.mvspec.rp SELECT id, 'A', " +
      "CAST(id AS DECIMAL(12,2)) FROM RANGE(60)")
    val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/rp"
    val mv = fresh("mv_rp_fold")
    MatView.create(spark, mv, loc, Seq("g"), "v")
    MatView.register(spark, mv)
    // a FRESH view pins nothing: cursor == head
    assert(MatView.retentionPins(spark, loc) === Set.empty[Long])
    // two feed-carrying batches → the fold view needs (1, 3]
    TxnTable.applyChangesMor(spark, loc,
      s.sql("SELECT k, g, v, 'D' AS op FROM graft.mvspec.rp " +
        "WHERE k % 4 = 0"), "k", cdc = true)
    TxnTable.applyChangesMor(spark, loc,
      s.sql("SELECT k, g, CAST(v + 2 AS DECIMAL(12,2)), 'U' " +
        "FROM graft.mvspec.rp WHERE k % 9 = 0")
        .toDF("k", "g", "v", "op"), "k", cdc = true)
    assert(MatView.retentionPins(spark, loc) === Set(2L, 3L))
    // an extrema view created NOW is fresh and adds nothing; the union
    // stays the fold view's tail
    val mvx = fresh("mv_rp_extrema")
    MatView.createExtrema(spark, mvx, loc, Seq("g"), "v")
    MatView.register(spark, mvx)
    assert(MatView.retentionPins(spark, loc) === Set(2L, 3L))
    // vacuum with the pins: only v0/v1 manifests die, the feed tail
    // survives, and the stale view still refreshes (2 commits folded)
    TxnTable.vacuum(spark, loc, retain = 1,
      pinned = MatView.retentionPins(spark, loc))
    assert(TxnTable.versions(spark, loc) === Seq(2L, 3L))
    val r = MatView.refresh(spark, mv)
    assert(r.commitsFolded === 2, "both surviving feeds must fold")
    val got = TxnTable.snapshot(spark, mv)
      .select("g", "n").collect().map(r2 => (r2.getString(0),
        r2.getLong(1))).toSet
    val direct = TxnTable.snapshot(spark, loc).groupBy(col("g"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r2 => (r2.getString(0), r2.getLong(1))).toSet
    assert(got === direct, "post-vacuum refresh diverged from recompute")
    // one more batch: both views go stale at (3, 4]
    TxnTable.applyChangesMor(spark, loc,
      s.sql("SELECT k, g, v, 'D' AS op FROM graft.mvspec.rp " +
        "WHERE k % 25 = 0"), "k", cdc = true)
    assert(MatView.retentionPins(spark, loc) === Set(4L))
    // a broken view (dir gone) pins nothing and crashes nothing —
    // retention never blocks on a view that is already recompute-only
    Fs.deleteRecursively(mvx)
    assert(MatView.retentionPins(spark, loc) === Set(4L))
    // join views pin BOTH logs: the dim's manifest-header tail too —
    // the invariance proof reads every manifest in (dimCursor, dimHead],
    // so vacuuming them would turn the view recompute-only exactly
    // like a lost fact feed
    s.sql("DROP TABLE IF EXISTS graft.mvspec.rpd")
    s.sql("CREATE TABLE graft.mvspec.rpd (c BIGINT, seg STRING)")
    s.sql("INSERT INTO graft.mvspec.rpd SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'X' ELSE 'Y' END FROM RANGE(60)")
    val dimLoc = s"${GraftCatalog.defaultWarehouse}/mvspec/rpd"
    val mvj = fresh("mv_rp_join")
    MatView.createJoin(spark, mvj, loc, dimLoc, "k", "c", Seq("seg"),
      "v")
    MatView.register(spark, mvj)
    assert(MatView.retentionPins(spark, dimLoc) === Set.empty[Long],
      "a fresh dim cursor pins nothing")
    TxnTable.compact(spark, dimLoc)
    TxnTable.compact(spark, dimLoc)
    assert(MatView.retentionPins(spark, dimLoc) === Set(2L, 3L),
      "the dim's manifest tail (dimCursor, dimHead] must pin")
    TxnTable.vacuum(spark, dimLoc, retain = 1,
      pinned = MatView.retentionPins(spark, dimLoc))
    // the invariance proof still reads: refreshJoin advances the dim
    // cursor across the compacts instead of refusing on a swept log
    MatView.refresh(spark, mvj)
    assert(MatView.retentionPins(spark, dimLoc) === Set.empty[Long])
  }

  test("create REFUSES a value column the DECIMAL(18,2) fold cannot " +
      "hold losslessly — an MV that silently rounds must never exist") {
    val s = spark
    import s.implicits._
    def mk(name: String, cast: String): String = {
      val base = fresh(name)
      val df = (0 until 10).map(i => (i.toLong, if (i % 2 == 0) "A" else "B",
        BigDecimal(i).setScale(4).toDouble)).toDF("k", "g", "v")
        .withColumn("v", col("v").cast(cast))
      TxnTable.create(spark, base, df)
      base
    }
    // DOUBLE rounds at scale 2; DECIMAL(20,4) both rounds and overflows
    Seq(mk("mv_lossy_dbl", "double") -> "double",
        mk("mv_lossy_dec", "decimal(20,4)") -> "decimal").foreach {
      case (base, what) =>
        val e = intercept[IllegalArgumentException] {
          MatView.create(spark, fresh(s"mv_lossy_view_$what"), base,
            "g", "v")
        }
        assert(e.getMessage.contains("losslessly"), s"$what: ${e.getMessage}")
    }
    // the exact shapes still create: integral and decimal(18,2)
    val okBase = mk("mv_ok_dec", "decimal(18,2)")
    MatView.create(spark, fresh("mv_ok_view"), okBase, "g", "v")
  }
}
