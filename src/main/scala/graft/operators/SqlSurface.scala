package graft.operators

import graft.Tables
import graft.sources.GraftCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** SQL-text front-end (SURVEY.md §2C): the engine's capabilities exercised
  * through `spark.sql("...")` strings instead of the DataFrame API —
  * including the GraftExtensions-registered native expressions
  * (`rolling_hash`, `cosine_similarity`) — proving a SQL-only user gets
  * the same surface, plans, and answers. Each query here shares its DuckDB
  * oracle with the DataFrame twin it mirrors, so the two front-ends are
  * held to the same hash.
  */
object SqlSurface {

  private def view(s: SparkSession, d: String, name: String): Unit =
    Tables.table(s, d, name).createOrReplaceTempView(name)

  /** sql_text_agg: the q02 pricing summary through SQL text. The statement
    * is the engine-portable ANSI subset — the same string runs on DuckDB —
    * and Catalyst plans it identically to the DataFrame formulation (one
    * hash aggregate over the pushed-down scan). */
  val TextAggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  def textAgg(s: SparkSession, d: String): DataFrame = {
    view(s, d, "lineitem")
    s.sql(TextAggSql)
  }

  /** sql_text_rolling: the native codegen'd RollingHash expression called
    * by its SQL name — the function registration path
    * (SparkSessionExtensions.injectFunction), not the Column builder. */
  def textRolling(s: SparkSession, d: String): DataFrame = {
    view(s, d, "documents")
    s.sql("SELECT doc_id, rolling_hash(text) AS rh FROM documents")
  }

  /** sql_text_minhash: the native one-pass MinHash signature called by
    * its SQL name, probed at three permutation positions (first, middle,
    * last). The oracle recomputes those three minima from the replayable
    * modular shingle hashes — the SQL front-end, the native kernel, and
    * the oracle's aggregate formulation all held to one hash. */
  def textMinhash(s: SparkSession, d: String): DataFrame = {
    view(s, d, "documents")
    s.sql(
      """SELECT doc_id,
        |  element_at(minhash_signature(text), 1) AS m1,
        |  element_at(minhash_signature(text), 64) AS m64,
        |  element_at(minhash_signature(text), 128) AS m128
        |FROM documents
        |WHERE minhash_signature(text) IS NOT NULL""".stripMargin)
  }

  /** sql_text_knn: exact cosine top-k per query vector via SQL text, the
    * native cosine_similarity expression in a window ORDER BY. Same
    * oracle as sim_knn_brute — SQL front-end and DataFrame API are held
    * to identical results. The 10-row query side broadcasts, so the plan
    * is the same map-side scan as the DataFrame twin. */
  def textKnn(s: SparkSession, d: String): DataFrame = {
    view(s, d, "embeddings")
    s.sql(
      """SELECT q_id, n_id, rank FROM (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY cosine_similarity(CAST(n.embedding AS ARRAY<DOUBLE>),
        |                 CAST(q.embedding AS ARRAY<DOUBLE>)) DESC, n.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10) t
        |WHERE rank <= 5""".stripMargin)
  }

  /** sql_recursive_cte: WITH RECURSIVE through Spark 4's UnionLoop — the
    * iterative-closure surface (org charts, BOM explosions, graph
    * reachability) that until 4.0 required a driver-side loop. The
    * hierarchy is a deterministic digit-tree over customer keys
    * (parent(k) = k DIV 10, roots are the single-digit keys), so every
    * customer resolves to a root and a depth in ⌈log10(N)⌉ recursive
    * steps — each step one key-equi join, so the whole closure is
    * O(depth) shuffles, never a driver loop, and depth grows only
    * logarithmically at 100 TB. Balances aggregate in DECIMAL (exact,
    * order-free); DuckDB replays the identical recursion with `//`
    * integer division. */
  def recursiveCte(s: SparkSession, d: String): DataFrame = {
    view(s, d, "customer")
    s.sql(
      """WITH RECURSIVE tree AS (
        |  SELECT c_custkey AS k, c_custkey AS root, 0 AS depth,
        |         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, t.root, t.depth + 1,
        |         CAST(c.c_acctbal AS DECIMAL(12,2))
        |  FROM customer c JOIN tree t ON c.c_custkey DIV 10 = t.k
        |  WHERE c.c_custkey >= 10  -- root 0 would otherwise self-loop
        |)
        |SELECT root, depth, COUNT(*) AS n_members,
        |       CAST(SUM(bal) AS DOUBLE) AS sum_bal, MAX(k) AS max_key
        |FROM tree GROUP BY root, depth""".stripMargin)
  }

  /** Stand up a fresh catalog-addressed TxnTable `graft.q.<name>` —
    * shared scaffolding for the sql_txn_* scenarios. Registration is
    * idempotent; the warehouse is process-stable (catalog instances are
    * cached per session after first use). */
  private def freshSqlTable(s: SparkSession, name: String): String = {
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.q")
    s.sql(s"DROP TABLE IF EXISTS graft.q.$name")
    s"${GraftCatalog.defaultWarehouse}/q/$name"
  }

  /** sql_txn_timetravel: the snapshot log addressed by PURE SQL TEXT
    * through the DataSourceV2 catalog (graft.sources.GraftCatalog) —
    * CREATE TABLE / INSERT INTO (append commit) / `VERSION AS OF` /
    * `TIMESTAMP AS OF`. Two inserts land versions 1 and 2; the hashed
    * output is `VERSION AS OF 1` (exactly the base slice — the second
    * insert's keyspace-shifted rows must be invisible), and `tt_ok`
    * carries the resolution mechanics: TIMESTAMP AS OF v1's recorded
    * commit time returns v1's count, the instant before returns v0's
    * (the empty created table), and the latest read sees both inserts.
    * Wall-clock isn't replayable, so timestamps travel only as these
    * booleans — the content hash is the time-travel read itself. */
  def txnTimeTravel(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "tt_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.tt_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.tt_orders
      SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders""")
    s.sql("""INSERT INTO graft.q.tt_orders
      SELECT o_orderkey + 100000000, 'T', CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 97 = 0""")
    def cnt(q: String): Long = s.sql(q).collect()(0).getLong(0)
    val ts1 = TxnTable.manifest(s, loc, 1L).ts
    val nV1 = cnt("SELECT COUNT(*) AS n FROM graft.q.tt_orders VERSION AS OF 1")
    val nBase = cnt("SELECT COUNT(*) AS n FROM orders")
    val nDelta = cnt("SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 97 = 0")
    val ok = nV1 == nBase &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.tt_orders VERSION AS OF 0") == 0L &&
      cnt(s"SELECT COUNT(*) AS n FROM graft.q.tt_orders " +
        s"TIMESTAMP AS OF timestamp_millis($ts1)") == nBase &&
      cnt(s"SELECT COUNT(*) AS n FROM graft.q.tt_orders " +
        s"TIMESTAMP AS OF timestamp_millis(${ts1 - 1})") == 0L &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.tt_orders") == nBase + nDelta
    s.sql("""SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      FROM graft.q.tt_orders VERSION AS OF 1""")
      .withColumn("tt_ok", lit(ok))
  }

  /** sql_txn_skip: manifest-stat FILE SKIPPING on the pure-SQL read
    * path — the catalog's scan builder intercepts the pushed WHERE
    * conjuncts and shrinks the live-file list from per-file manifest
    * stats BEFORE Spark's parquet scan ever lists or opens a file, the
    * same rule (ManifestPrune) library reads prune with (op_manifest_skip).
    * Four quarter-slice single-file inserts give every file a tight key
    * range; the selective SELECT over the second quarter must plan a
    * scan over exactly 1 of the 5 live files (the quarter's file; the
    * stat-less create sentinel holds no rows). Hashed output
    * = the quarter's rows (oracle replays the cut arithmetic); `skip_ok`
    * carries the measured kept/total file accounting from the scan
    * instrumentation. At 100 TB this is the difference between O(#files)
    * footer opens and touching only the files the predicate can reach. */
  def txnSkip(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "sk_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.sk_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    val b = s.sql("SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi " +
      "FROM orders").collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val span = kmax - kmin
    val qc = (0L to 4L).map(i => kmin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.sk_orders
        SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders
        WHERE o_orderkey >= ${qc(i)} AND o_orderkey < ${qc(i + 1)}""")
    }
    val sel = "SELECT o_orderkey, o_orderstatus, " +
      "CAST(price AS DOUBLE) AS price FROM graft.q.sk_orders " +
      s"WHERE o_orderkey >= ${qc(1)} AND o_orderkey <= ${qc(2) - 1}"
    val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    val n = s.sql(sel).count() // one planned scan: counters move once
    val (kept, total) = (GraftCatalog.scanKept.get - k0,
      GraftCatalog.scanTotal.get - t0)
    // 5 live files (4 quarters + sentinel); the prune must keep exactly
    // the quarter file — the zero-row sentinel is skipped — and return
    // rows
    val ok = kept == 1L && total == 5L && n > 0L &&
      TxnTable.versions(s, loc).size == 5
    s.sql(sel).withColumn("skip_ok", lit(ok))
  }

  /** sql_txn_delete_in: the GDPR-ID-LIST DELETE — `DELETE FROM t WHERE
    * k IN (v1..vn)` compiled to [[graft.operators.TxnTable.delete]],
    * whose file verdicts for an IN list are PER MEMBER (the read path's
    * IN test): a range fold would span [min(vs), max(vs)] — nearly the
    * whole table for a scattered id list — while per-member verdicts
    * touch only the files some member can actually reach. Four
    * single-file quarter inserts give every file a tight key box; the
    * id list is every 31st key of QUARTER 2 only, so the delete must
    * keep the other three quarters AND the zero-row create sentinel
    * VERBATIM (same entry lines before and after — never listed or
    * opened), rewrite exactly the quarter-2 file, and drop nothing; the
    * three-way (drop/rewrite/keep) accounting rides the commit's
    * `#metrics=` header and `din_ok` pins it, plus the
    * carried-verbatim entry check. Hashed output = the surviving rows;
    * the oracle replays the same id arithmetic. At 100 TB: deleting
    * 10k scattered ids costs O(files the ids live in), not O(table),
    * and planning one binary search per file. */
  def txnDeleteIn(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "din_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.din_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    val b = s.sql("SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi " +
      "FROM orders").collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val span = kmax - kmin
    val qc = (0L to 4L).map(i => kmin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.din_orders
        SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders
        WHERE o_orderkey >= ${qc(i)} AND o_orderkey < ${qc(i + 1)}""")
    }
    val before = graft.operators.TxnTable.manifest(s, loc,
      graft.operators.TxnTable.currentVersion(s, loc)).entries
      .map(graft.operators.TxnTable.render)
    // the id list: every 31st key of quarter 2 — scattered WITHIN the
    // quarter, disjoint from the other three
    val ids = s.sql(s"""SELECT o_orderkey FROM orders
      WHERE o_orderkey >= ${qc(1)} AND o_orderkey < ${qc(2)}
        AND o_orderkey % 31 = 0""").collect().map(_.getLong(0)).toSeq
    s.sql(s"DELETE FROM graft.q.din_orders WHERE o_orderkey IN " +
      s"(${ids.mkString(", ")})")
    val v = graft.operators.TxnTable.currentVersion(s, loc)
    val mAfter = graft.operators.TxnTable.manifest(s, loc, v)
    val metrics = graft.operators.TxnTable.commitMetrics(s, loc, v)
    // kept = quarters 1/3/4 and the zero-row create sentinel carried
    // BYTE-VERBATIM; rewritten = the quarter-2 file; dropped = none (no
    // single-point file here)
    val afterLines = mAfter.entries.map(graft.operators.TxnTable.render)
      .toSet
    // exactly the three untouched quarter files and the sentinel carry
    // byte-verbatim (the rewritten quarter-2 file does not)
    val carried = (before.toSet & afterLines).size == 4
    val ok = ids.nonEmpty &&
      metrics.get("kept").contains(4L) &&
      metrics.get("rewritten").contains(1L) &&
      metrics.get("dropped").contains(0L) &&
      carried
    s.sql("SELECT o_orderkey, o_orderstatus, " +
      "CAST(price AS DOUBLE) AS price FROM graft.q.din_orders")
      .withColumn("din_ok", lit(ok))
  }

  /** sql_txn_delete_in_str: the STRING-keyed GDPR-id-list DELETE — the
    * real retraction list is UUIDs/URLs/emails, not longs.
    * `CALL graft.system.delete_in(t, 'uid', 'u…,u…', true)` builds one
    * `isin` over the key column's type for [[graft.operators.TxnTable
    * .delete]]: the same per-member verdicts as sql_txn_delete_in, run
    * over the manifest's TRUNCATED string stats in UTF-8 binary order
    * (conservative boxes — over-touch possible, misses impossible; the
    * single-point metadata drop stays sound because lo == hi == v pins
    * every row). Four single-file quarter inserts of a zero-padded
    * synthetic uid (lexicographic == key order, so the quarters carry
    * tight string boxes); the id list is every 31st key of QUARTER 2 as
    * uids — the other three quarters and the zero-row create sentinel
    * must carry BYTE-VERBATIM, the quarter-2 file rewrites, nothing
    * drops. `cdc = true` stages the deleted rows as a signed feed IN
    * the delete commit, and ONE MatView.refresh folds it — string-keyed
    * retraction flows into downstream MVs exactly like op_mv_delete.
    * `dins_ok` pins the three-way accounting, the carried-verbatim
    * check, the single folded commit and MV == direct recompute.
    * Hashed output = the surviving rows; the oracle replays the uid
    * arithmetic. At 100 TB: deleting 10k scattered UUIDs costs O(files
    * they live in), not O(table), and the downstream views pay O(feed). */
  def txnDeleteInStr(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "dins_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.dins_orders (
      uid STRING, st STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('strindex' = 'uid')""")
    val b = s.sql("SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi " +
      "FROM orders").collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val span = kmax - kmin
    val qc = (0L to 4L).map(i => kmin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.dins_orders
        SELECT /*+ REPARTITION(1) */
          CONCAT('u', LPAD(CAST(o_orderkey AS STRING), 12, '0')),
          o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders
        WHERE o_orderkey >= ${qc(i)} AND o_orderkey < ${qc(i + 1)}""")
    }
    val mv = graft.Fs.freshScratch("graft_mv", "sql_dins")
    graft.operators.MatView.create(s, mv, loc, "st", "price")
    val before = graft.operators.TxnTable.manifest(s, loc,
      graft.operators.TxnTable.currentVersion(s, loc)).entries
      .map(graft.operators.TxnTable.render)
    val ids = s.sql(s"""SELECT
        CONCAT('u', LPAD(CAST(o_orderkey AS STRING), 12, '0'))
      FROM orders WHERE o_orderkey >= ${qc(1)} AND o_orderkey < ${qc(2)}
        AND o_orderkey % 31 = 0""").collect().map(_.getString(0)).toSeq
    s.sql(s"CALL graft.system.delete_in('q.dins_orders', 'uid', " +
      s"'${ids.mkString(",")}', true)")
    val v = graft.operators.TxnTable.currentVersion(s, loc)
    val mAfter = graft.operators.TxnTable.manifest(s, loc, v)
    val metrics = graft.operators.TxnTable.commitMetrics(s, loc, v)
    val afterLines = mAfter.entries.map(graft.operators.TxnTable.render)
      .toSet
    val carried = (before.toSet & afterLines).size == 4
    // the signed feed folds into the MV: string-keyed retraction
    // reaches downstream views at O(feed)
    val r = graft.operators.MatView.refresh(s, mv)
    val mvRows = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, mv)
        .select(col("st"), col("n"), col("total").cast("double"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
        .toSet
    }
    val direct = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, loc).groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
        .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
        .toSet
    }
    val ok = ids.nonEmpty &&
      metrics.get("kept").contains(4L) &&
      metrics.get("rewritten").contains(1L) &&
      metrics.get("dropped").contains(0L) &&
      carried && mAfter.cdcRefs.nonEmpty &&
      r.commitsFolded == 1 && mvRows == direct
    s.sql("SELECT uid, st, CAST(price AS DOUBLE) AS price " +
      "FROM graft.q.dins_orders").withColumn("dins_ok", lit(ok))
  }

  /** "Served from MV ⊕ feed tail": every optimized-plan scan root
    * lives under the MV or the base's `_cdc` feed dir, with at least
    * one of each present — the compensated-serve plan assertion every
    * stale-MV scenario checks (one definition, so a future change to
    * the served-plan contract edits one place). */
  private def servedFromMvAndFeed(mv: String, loc: String)(
      ps: Seq[String]): Boolean = ps.nonEmpty &&
    ps.forall(p => p.contains(mv) || p.contains(s"$loc/_cdc")) &&
    ps.exists(_.contains(mv)) && ps.exists(_.contains(s"$loc/_cdc"))

  /** The optimized plan's SCAN SOURCES (toString truncates paths):
    * parquet LogicalRelations expose their file roots, a surviving
    * catalog relation its table identifier. */
  private[graft] def scanSrcsOf(s: SparkSession, q: String): Seq[String] =
    s.sql(q).queryExecution.optimizedPlan
      .collect {
        case l: org.apache.spark.sql.execution.datasources
            .LogicalRelation => l.relation match {
          case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
        // by optimization time a surviving catalog read is a
        // DataSourceV2ScanRelation (pushdown already ran); the plain
        // relation case covers pre-pushdown callers
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => Seq(s"v2:${r.relation.table.name}")
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => Seq(s"v2:${r.table.name}")
      }.flatten

  /** sql_mv_rewrite: TRANSPARENT MATERIALIZED-VIEW REWRITING on the SQL
    * surface — the query author writes a plain GROUP-BY aggregate over
    * the BASE table and never learns the MV exists: when the registered
    * MV can PROVE the answer from the log, the analyzer swaps the
    * aggregate for an MV read (GraftMvRewriteRule — the BigQuery/
    * Calcite rewrite contract); when it can't, the SAME query silently
    * falls through to the base scan — a wrong answer is never served,
    * correctness beats acceleration. Four phases, each pinned by the
    * OPTIMIZED PLAN'S scan locations (not timing): (1) fresh → the plan
    * reads the MV path and never the base; (2) after a cdc-publishing
    * MoR insert of 'Z' rows → the plan reads the MV plus the base's
    * `_cdc` feed files — NEVER a base data file — and the answer
    * already contains the 'Z' group (stale-MV delta compensation,
    * matching a direct base recompute exactly); (3) after
    * MatView.refresh folds the feed → the MV serves ALONE again,
    * answering identically; (4) after a FEED-LESS insert of 'W' rows →
    * compensation is impossible, the plan reads the base, and the
    * result contains 'W'. `mvr_ok` carries all four plan facts; the
    * hashed output is the final answer, which the oracle recomputes
    * directly. At 100 TB: the dashboard aggregate costs an MV read plus
    * the delta since the last refresh — orders of magnitude under the
    * table scan — with staleness decided by the log, never trust. */
  def mvRewrite(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvr_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvr_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvr_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_rewrite")
    graft.operators.MatView.create(s, mv, loc, "o_orderstatus", "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.mvr_orders GROUP BY o_orderstatus"""
    def scanSrcs: Seq[String] = scanSrcsOf(s, q)
    def rows() = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def readsMv(ps: Seq[String]) =
      ps.nonEmpty && ps.forall(_.contains(mv))
    def readsBase(ps: Seq[String]) =
      ps.exists(p => p.contains(loc) || p.startsWith("v2:"))
    // phase 1: fresh — served from the MV, base never scanned
    val p1 = scanSrcs
    val fresh = rows()
    val servedFresh = readsMv(p1)
    // phase 2: stale the MV with a cdc-publishing MoR insert — the
    // rewrite COMPENSATES from the published feed: plan = MV + feed
    // files, never a base data file, and the answer matches a direct
    // recompute of the moved base (DataFrame path — no catalog
    // relation, so the rule can't touch it)
    val zrows = s.sql("""SELECT o_orderkey + 100000000 AS o_orderkey,
      'Z' AS o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
      'U' AS op FROM orders WHERE o_orderkey % 10 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, zrows, "o_orderkey",
      cdc = true)
    val p2 = scanSrcs
    val stale = rows()
    val direct = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, loc).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double")
          .as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    }
    val compensatedServe = p2.nonEmpty &&
      p2.forall(p => p.contains(mv) || p.contains(s"$loc/_cdc")) &&
      p2.exists(_.contains(s"$loc/_cdc")) && p2.exists(_.contains(mv)) &&
      stale.exists(_._1 == "Z") && !fresh.exists(_._1 == "Z") &&
      stale == direct
    // phase 3: refresh folds the feed — the MV serves ALONE, identically
    graft.operators.MatView.refresh(s, mv)
    val p3 = scanSrcs
    val again = rows()
    val servedAgain = readsMv(p3) && again == stale
    // phase 4: a FEED-LESS append — compensation impossible, the same
    // query falls through to the base scan and sees the 'W' rows
    s.sql("""INSERT INTO graft.q.mvr_orders
      SELECT o_orderkey + 200000000, 'W', CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 20 = 0""")
    val p4 = scanSrcs
    val fin = rows()
    val fellThrough = readsBase(p4) && !p4.exists(_.contains(mv)) &&
      fin.exists(_._1 == "W")
    val ok = servedFresh && compensatedServe && servedAgain && fellThrough
    s.sql(q).withColumn("mvr_ok", lit(ok))
  }

  /** sql_mv_delta: STALE-MV DELTA COMPENSATION end to end — the MV is
    * TWO cdc batches behind (a whole group deleted, scattered repricing,
    * a brand-new group with NULL values) and is NEVER refreshed; the
    * plain SQL aggregate over the base is still served from
    * `MV ⊕ signed-feed tail (cursor, head]` (GraftMvRewriteRule →
    * MatView.rowsAt): the optimized plan's scans are the MV files
    * plus the base's `_cdc` feed files and NEVER a base data file —
    * `mvd_ok` pins exactly that — while the answer is hash-equal to a
    * direct recompute (the oracle). The fold algebra is exercised at
    * its edges: group 'P' is deleted ENTIRELY (its compensated count
    * telescopes to 0, so it must LEAVE the result), group 'X' exists
    * ONLY in the feed tail (born from compensation, with NULL prices
    * proving the nn/null-skipping reconstruction), and repriced rows
    * telescope a -old/+new pair. At 100 TB: one commit after a refresh
    * no longer costs the dashboard a full base scan — the query pays
    * O(MV + delta), which is the MV's entire point. */
  def mvDelta(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvd_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvd_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvd_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_delta")
    graft.operators.MatView.create(s, mv, loc, "o_orderstatus", "price")
    graft.operators.MatView.register(s, mv)
    // batch 1: delete group 'P' entirely (compensated count → 0)
    val b1 = s.sql("""SELECT o_orderkey, o_orderstatus,
      CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM orders WHERE o_orderstatus = 'P'""")
    graft.operators.TxnTable.applyChangesMor(s, loc, b1, "o_orderkey",
      cdc = true)
    // batch 2: reprice every 7th surviving row (+5), and insert a
    // brand-new 'X' group — every 13th key, with NULL price on every
    // 3rd — a group the MV has never seen, with nulls in the fold
    val b2 = s.sql("""SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 5 AS DECIMAL(12,2))
          AS price, 'U' AS op
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderstatus <> 'P'
      UNION ALL
      SELECT o_orderkey + 300000000, 'X',
        CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS DECIMAL(12,2))
          ELSE CAST(o_totalprice AS DECIMAL(12,2)) END, 'U'
      FROM orders WHERE o_orderkey % 13 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, b2, "o_orderkey",
      cdc = true)
    // NO refresh: the MV cursor is two commits behind head
    val q = """SELECT o_orderstatus, COUNT(*) AS n, COUNT(price) AS nn,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.mvd_orders GROUP BY o_orderstatus"""
    val ps = scanSrcsOf(s, q)
    val got = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val ok = ps.nonEmpty &&
      ps.forall(p => p.contains(mv) || p.contains(s"$loc/_cdc")) &&
      ps.exists(_.contains(s"$loc/_cdc")) && ps.exists(_.contains(mv)) &&
      !got.exists(_._1 == "P") && got.exists(_._1 == "X")
    s.sql(q).withColumn("mvd_ok", lit(ok))
  }

  /** sql_mv_rollup: the MATERIALIZED-ROLLUP rewrite — one MV keyed
    * (status, priority) serves a whole FAMILY of aggregates: the exact
    * grouping, every coarser grouping (GROUP BY status alone), and the
    * global aggregate, because the count/sum/avg fold is SUMMABLE —
    * the rewrite re-aggregates MV rows to the queried level (the
    * Calcite rollup contract) at O(MV), never O(base). Composed with
    * delta compensation: the base moves by one cdc batch and the MV is
    * NEVER refreshed, so the served plan is rollup-over-(MV ⊕ feed
    * tail) — `rollup_ok` pins the optimized plan's scans as MV files +
    * `_cdc` feeds and NEVER a base data file, for BOTH the coarse and
    * the global query, plus the global answer matching a direct
    * recompute. Hashed output = the status-level rollup; oracle =
    * direct replay of the moved base. At 100 TB: ONE materialization
    * pays for every dashboard cut above it — N rollup MVs collapse
    * into one. */
  def mvRollup(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvru_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvru_orders (
      o_orderkey BIGINT, st STRING, pri STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvru_orders
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_rollup")
    graft.operators.MatView.create(s, mv, loc, Seq("st", "pri"), "price")
    graft.operators.MatView.register(s, mv)
    // stale the MV: one cdc batch (scattered deletes + repricing + a
    // brand-new (status, priority) group) — never refreshed
    val ch = s.sql("""SELECT o_orderkey, o_orderstatus AS st,
        o_orderpriority AS pri, CAST(o_totalprice AS DECIMAL(12,2))
          AS price, 'D' AS op
      FROM orders WHERE o_orderkey % 6 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus,  o_orderpriority,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 7 AS DECIMAL(12,2)),
        'U'
      FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 6 <> 0
      UNION ALL
      SELECT o_orderkey + 400000000, 'R', '9-NEW',
        CAST(o_totalprice AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 13 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, ch, "o_orderkey",
      cdc = true)
    val coarse = """SELECT st, COUNT(*) AS n, COUNT(price) AS nn,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.mvru_orders GROUP BY st"""
    val global = """SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.mvru_orders"""
    def mvOnly = servedFromMvAndFeed(mv, loc) _
    val pCoarse = scanSrcsOf(s, coarse)
    val pGlobal = scanSrcsOf(s, global)
    val g = s.sql(global).collect()(0)
    val gd = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, loc)
        .agg(count(lit(1)), sum(col("price")).cast("double")).collect()(0)
    }
    val ok = mvOnly(pCoarse) && mvOnly(pGlobal) &&
      g.getLong(0) == gd.getLong(0) && g.getDouble(1) == gd.getDouble(1)
    s.sql(coarse).withColumn("rollup_ok", lit(ok))
  }

  /** sql_mv_filter: the FILTERED-AGGREGATE rewrite — a WHERE under the
    * aggregate that references ONLY the MV's key columns is served by
    * filtering the MV's own rows (key predicates select whole groups),
    * instead of disqualifying to a full base scan. This is the single
    * most common dashboard shape there is (`WHERE status = 'F' GROUP BY
    * status`), and before this round it paid the base scan with a
    * perfectly good MV sitting there. Three probes, composed with
    * staleness (one unrefreshed cdc batch, so every served plan is
    * filter-over-(MV ⊕ feed tail)): (1) a predicate on the GROUPED key
    * (`st IN (…)`); (2) a predicate on a key the query does NOT group
    * by (`pri = '1-URGENT' GROUP BY st` — the filter applies BEFORE the
    * rollup re-aggregation, and the feed-born ('Q','1-URGENT') group
    * must surface); (3) a NON-key predicate (`price > 100`), which must
    * fall through to the base scan — the MV folded those rows away and
    * holds no residual to re-check; (4) `st = 'F'` — the
    * MANIFEST-PRUNED MV read: the rewrite's key filter reaches the MV
    * scan through Catalyst's pushdown and prunes it with the MV's OWN
    * key stats (ManifestPrune), so the served plan's parquet
    * roots list FEWER mv files than the view's live total — file-level
    * pruning of the view itself, plan-proven. `mvf_ok` pins all four
    * plans by their optimized-plan scan roots plus answer-equality
    * against direct recomputes. Hashed output = probe (2); oracle
    * replays the moved base. At 100 TB: the filtered dashboard cut
    * costs O(MV rows + feed tail) — and Catalyst pushes the key
    * predicate into the MV/feed parquet scans, so it reads even less
    * than the unfiltered rewrite would. */
  def mvFilter(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvf_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvf_orders (
      o_orderkey BIGINT, st STRING, pri STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvf_orders
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_filter")
    graft.operators.MatView.create(s, mv, loc, Seq("st", "pri"), "price")
    graft.operators.MatView.register(s, mv)
    // stale the MV: scattered deletes + repricing + a brand-new
    // ('Q', '1-URGENT') group that the FILTERED rollup must surface
    // from the feed alone — never refreshed
    val ch = s.sql("""SELECT o_orderkey, o_orderstatus AS st,
        o_orderpriority AS pri, CAST(o_totalprice AS DECIMAL(12,2))
          AS price, 'D' AS op
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 9 AS DECIMAL(12,2)),
        'U'
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey + 500000000, 'Q', '1-URGENT',
        CAST(o_totalprice AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 13 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, ch, "o_orderkey",
      cdc = true)
    val qKey = """SELECT st, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.mvf_orders WHERE st IN ('F', 'Q')
      GROUP BY st"""
    val qRollup = """SELECT st, COUNT(*) AS n, COUNT(price) AS nn,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.mvf_orders WHERE pri = '1-URGENT' GROUP BY st"""
    val qNonKey = """SELECT st, COUNT(*) AS n FROM graft.q.mvf_orders
      WHERE price > 100 GROUP BY st"""
    def mvOnly = servedFromMvAndFeed(mv, loc) _
    val (pK, pR, pN) =
      (scanSrcsOf(s, qKey), scanSrcsOf(s, qRollup), scanSrcsOf(s, qNonKey))
    // answer-equality against direct recomputes of the moved base
    import org.apache.spark.sql.functions.{col, count, sum}
    val snap = graft.operators.TxnTable.snapshot(s, loc)
    val dirK = snap.filter(col("st").isin("F", "Q")).groupBy(col("st"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val gotK = s.sql(qKey).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val dirR = snap.filter(col("pri") === "1-URGENT").groupBy(col("st"))
      .agg(count(lit(1)).as("n"), count(col("price")).as("nn"),
        sum(col("price")).cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val gotR = s.sql(qRollup).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    // (4) the MANIFEST-PRUNED MV read: an equality on the first
    // cluster key opens only the MV files whose key stats can hold it
    // (the pushed-down key filter meets ManifestPrune — the MV is
    // range-clustered and stat-indexed on its keys at create and at
    // every refresh merge, so the key predicate prunes MV FILES
    // from the manifest, not just rows from the scan). The plan's
    // parquet roots ARE the kept file list, so the prune is
    // plan-proven: fewer mv data files in the served plan than the
    // MV's live total, and the answer still exact.
    val qPoint = """SELECT pri, COUNT(*) AS n FROM graft.q.mvf_orders
      WHERE st = 'F' GROUP BY pri"""
    val pP = scanSrcsOf(s, qPoint)
    val mvLive = graft.operators.TxnTable.manifest(s, mv,
      graft.operators.TxnTable.currentVersion(s, mv)).entries.size
    val mvOpened = pP.count(p => p.contains(mv) && p.endsWith(".parquet"))
    val dirP = snap.filter(col("st") === "F").groupBy(col("pri"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val gotP = s.sql(qPoint).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val prunedServe = mvOnly(pP) && mvOpened >= 1 && mvOpened < mvLive &&
      gotP == dirP
    // (5) the prune SURVIVES the refresh merge: foldAndMerge →
    // mergeCore re-clusters the rewritten region by the MV's own keys
    // and re-lands stats through the manifest's idx/strIdx columns, so
    // the key-filtered dashboard keeps opening ≤ the key's
    // stat-bearing files AFTER the fold — self-clustering at refresh,
    // plan-proven against the refreshed manifest's live total
    val rr = graft.operators.MatView.refresh(s, mv)
    val pP2 = scanSrcsOf(s, qPoint)
    val mvLive2 = graft.operators.TxnTable.manifest(s, mv,
      rr.mvVersion).entries.size
    val mvOpened2 = pP2.count(p => p.contains(mv) &&
      p.endsWith(".parquet"))
    val gotP2 = s.sql(qPoint).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val prunedAfterRefresh = rr.commitsFolded == 1 &&
      pP2.nonEmpty && pP2.forall(_.contains(mv)) &&
      mvOpened2 >= 1 && mvOpened2 < mvLive2 &&
      gotP2 == dirP
    val ok = mvOnly(pK) && mvOnly(pR) &&
      pN.exists(p => p.contains(loc) || p.startsWith("v2:")) &&
      !pN.exists(_.contains(mv)) &&
      gotK == dirK && gotR == dirR && gotR.exists(_._1 == "Q") &&
      prunedServe && prunedAfterRefresh
    s.sql(qRollup).withColumn("mvf_ok", lit(ok))
  }

  /** sql_mv_decimal: a fold view keyed on the DECIMAL money column —
    * the value-grain "orders at price X" dashboard. The MV
    * stat-indexes its decimal key with floor/ceil-WIDENED long boxes
    * (a sound superset — TxnTable.widenedSpecs; a truncating cast
    * would mis-box every fractional boundary) and ManifestPrune
    * compares decimal literals DIRECTION-AWARE against those boxes
    * (lower bounds floor, upper bounds ceil, widening casts on the
    * attribute unwrap), so a money-range dashboard opens only
    * the MV files whose widened boxes can intersect the slice.
    * `mvdec_ok` asserts: the sliced query serves from MV + feed only
    * while STALE (one unrefreshed cdc batch: deletes, repricings, and
    * a brand-new price point landing INSIDE the slice — compensation
    * must surface it), the served plan opens fewer MV data files than
    * the view holds, and both the prune and the new price's stats
    * survive the refresh merge (self-clustering re-lands widened
    * boxes). Hashed output = the sliced per-price aggregate,
    * oracle-replayed arithmetically. */
  def mvDecimal(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvd_prices")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvd_prices (
      o_orderkey BIGINT, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvd_prices
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_decimal")
    graft.operators.MatView.create(s, mv, loc, Seq("price"), "price")
    graft.operators.MatView.register(s, mv)
    // stale the MV: scattered deletes + repricings + a new price point
    // INSIDE the dashboard's slice, visible through compensation alone
    val ch = s.sql("""SELECT o_orderkey,
        CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 9.50
          AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey + 500000000,
        CAST(150000.75 AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 13 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, ch, "o_orderkey",
      cdc = true)
    val q = """SELECT CAST(price AS DOUBLE) AS p, COUNT(*) AS n,
      CAST(SUM(price) AS DOUBLE) AS total FROM graft.q.mvd_prices
      WHERE price >= 100000.50 AND price <= 200000.25 GROUP BY price"""
    import org.apache.spark.sql.functions.{col, count, sum}
    def gotNow() = s.sql(q).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2))).toSet
    val dir = graft.operators.TxnTable.snapshot(s, loc)
      .filter("price >= 100000.50 AND price <= 200000.25")
      .groupBy(col("price"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
      .collect()
      .map(r => (r.getDecimal(0).doubleValue(), r.getLong(1),
        r.getDouble(2))).toSet
    val srcs = scanSrcsOf(s, q)
    val mvLive = graft.operators.TxnTable.manifest(s, mv,
      graft.operators.TxnTable.currentVersion(s, mv)).entries.size
    val opened = srcs.count(p => p.contains(mv) && p.endsWith(".parquet"))
    val prunedStale = servedFromMvAndFeed(mv, loc)(srcs) &&
      opened >= 1 && opened < mvLive && gotNow() == dir &&
      dir.exists(_._1 == 150000.75)
    // the fold re-clusters and re-indexes: still pruned, still exact
    val rr = graft.operators.MatView.refresh(s, mv)
    val srcs2 = scanSrcsOf(s, q)
    val mvLive2 = graft.operators.TxnTable.manifest(s, mv,
      rr.mvVersion).entries.size
    val opened2 = srcs2.count(p => p.contains(mv) &&
      p.endsWith(".parquet"))
    val prunedFresh = rr.commitsFolded == 1 &&
      srcs2.nonEmpty && srcs2.forall(_.contains(mv)) &&
      opened2 >= 1 && opened2 < mvLive2 && gotNow() == dir
    val ok = prunedStale && prunedFresh
    s.sql(q).withColumn("mvdec_ok", lit(ok))
  }

  /** sql_mv_distinct: EXACT COUNT(DISTINCT key-column) served from the
    * fold MV — the "distinct users per day" dashboard. MV rows are one
    * per LIVE key combination (create materializes present groups,
    * refresh op-'D's emptied ones, compensation filters n != 0), so the
    * distinct non-null `cust` values within any coarser group are
    * exactly count_distinct(cust) over the MV's own rows: NO new fold
    * state, no base-wide distinct expand — a (day, cust) view answers
    * per-day users, global users, and mixed COUNT(*)/SUM alongside, at
    * O(MV). Four phases pinned by optimized-plan scan roots: (1) fresh
    * → MV alone, == direct; (2) one cdc batch, never refreshed (every
    * cust%10 user deleted row-complete — their groups telescope to
    * n = 0 and must LEAVE the distinct count — plus brand-new +900000
    * users and repricings that move sums but not distincts) → MV +
    * `_cdc` only, == a direct recompute of the moved base; (3) the
    * GLOBAL distinct rolls up on the same plane; (4) COUNT(DISTINCT
    * price) — the VALUE column — falls through to the base scan: the
    * fold collapsed those rows and keeps no value multiset. Hashed
    * output = the stale per-day query; the oracle replays the change
    * algebra. At 100 TB: the distinct-users pane costs an MV read —
    * the one dashboard aggregate that otherwise forces a base-wide
    * shuffle of every user id. */
  def mvDistinct(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvdc_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvdc_orders (
      o_orderkey BIGINT, day STRING, cust BIGINT, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvdc_orders
      SELECT o_orderkey, o_orderpriority, o_custkey,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_distinct")
    graft.operators.MatView.create(s, mv, loc, Seq("day", "cust"),
      "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT day, COUNT(DISTINCT cust) AS users, COUNT(*) AS n,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.mvdc_orders GROUP BY day"""
    val qGlobal =
      "SELECT COUNT(DISTINCT cust) AS users FROM graft.q.mvdc_orders"
    val qValue = """SELECT day, COUNT(DISTINCT price) AS prices
      FROM graft.q.mvdc_orders GROUP BY day"""
    import org.apache.spark.sql.functions.{col, count, countDistinct, sum}
    def direct() = graft.operators.TxnTable.snapshot(s, loc)
      .groupBy(col("day"))
      .agg(countDistinct(col("cust")).as("users"), count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    def got() = s.sql(q).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // phase 1: FRESH — the distinct rollup serves from the MV alone
    val pFresh = scanSrcsOf(s, q)
    val servedFresh = pFresh.nonEmpty && pFresh.forall(_.contains(mv)) &&
      got() == direct()
    // phase 2: one cdc batch, never refreshed — every row of cust%10
    // users deleted (those users must LEAVE the per-day distinct count:
    // their MV groups telescope to n=0 and the compensation filters
    // them), brand-new +900000 users inserted on every 17th key, every
    // 7th surviving row repriced (+11: sums move, distincts don't)
    val ch = s.sql("""SELECT o_orderkey, o_orderpriority AS day,
        o_custkey AS cust, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
        'D' AS op
      FROM orders WHERE o_custkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_orderpriority, o_custkey,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 11 AS DECIMAL(12,2)),
        'U'
      FROM orders WHERE o_orderkey % 7 = 0 AND o_custkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 600000000, o_orderpriority,
        o_custkey + 900000, CAST(o_totalprice AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 17 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, ch, "o_orderkey",
      cdc = true)
    def mvFeedOnly = servedFromMvAndFeed(mv, loc) _
    val pStale = scanSrcsOf(s, q)
    val servedStale = mvFeedOnly(pStale) && got() == direct()
    // phase 3: the GLOBAL distinct (rollup to no keys) — same plane
    val pGlobal = scanSrcsOf(s, qGlobal)
    val gotG = s.sql(qGlobal).collect()(0).getLong(0)
    val dirG = graft.operators.TxnTable.snapshot(s, loc)
      .agg(countDistinct(col("cust"))).collect()(0).getLong(0)
    val servedGlobal = mvFeedOnly(pGlobal) && gotG == dirG
    // phase 4: COUNT(DISTINCT price) — the VALUE column: the fold
    // collapsed those rows and keeps no value multiset, so the query
    // must fall through to the base scan
    val pValue = scanSrcsOf(s, qValue)
    val fellThrough = pValue.exists(p => p.contains(loc) ||
      p.startsWith("v2:")) && !pValue.exists(_.contains(mv))
    val ok = servedFresh && servedStale && servedGlobal && fellThrough
    s.sql(q).withColumn("mvdc_ok", lit(ok))
  }

  /** sql_mv_show: the MATERIALIZED-VIEW FLEET as a queryable metadata
    * table — `graft.ns.t.matviews` (GraftMaintenance.matviewsTable over
    * MatView.statusFor), answering the operator's question "is my
    * dashboard accelerated RIGHT NOW, and if not, why not" from
    * manifest headers alone (a LocalScan — no jobs, no data files).
    * One row per registered view involving the table — fold, extrema,
    * and join (as fact or dim) — with the LOG-decided status the
    * rewrite rule itself would decide: `fresh` (every cursor at its
    * head) and `servable` (fresh, or stale in a way the view's serving
    * algebra provably covers — feed-complete tail for fold/join facts,
    * content-invariant tail for extrema and join dims). The scenario
    * drives one table through its MV lifecycle and probes the listing
    * at each state: (1) three fresh views → all (T, T); (2) one cdc
    * batch → fold and join compensate (F, T) while extrema — whose
    * algebra has no signed compensation — reports (F, F); (3) a
    * content-invariant compact leaves all three verdicts unchanged at
    * the new head; (4) refreshes → all (T, T) at the folded cursor;
    * (5) a FEED-LESS append → every view reports (F, F): the listing
    * tells the operator the acceleration is gone and refresh will
    * refuse, BEFORE the dashboard quietly pays a base scan. Hashed
    * output = the final listing (kind, fresh, servable, cursor, head —
    * the mv path is scratch-random and stays out); the oracle is the
    * deterministic version arithmetic. At 100 TB: fleet observability
    * costs O(views × tail headers) — and staleness is a fact read off
    * the log, never a guess. */
  def mvShow(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvs_orders")
    val dimLoc = freshSqlTable(s, "mvs_dim")
    view(s, d, "orders")
    view(s, d, "customer")
    s.sql("""CREATE TABLE graft.q.mvs_orders (
      o_orderkey BIGINT, o_custkey BIGINT, st STRING,
      price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvs_orders
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    s.sql("CREATE TABLE graft.q.mvs_dim (c_custkey BIGINT, seg STRING)")
    s.sql("""INSERT INTO graft.q.mvs_dim
      SELECT c_custkey, c_mktsegment FROM customer""")
    val mvFold = graft.Fs.freshScratch("graft_mv", "show_fold")
    graft.operators.MatView.create(s, mvFold, loc, Seq("st"), "price")
    graft.operators.MatView.register(s, mvFold)
    val mvX = graft.Fs.freshScratch("graft_mv", "show_extrema")
    graft.operators.MatView.createExtrema(s, mvX, loc, Seq("st"),
      "price")
    graft.operators.MatView.register(s, mvX)
    val mvJ = graft.Fs.freshScratch("graft_mv", "show_join")
    graft.operators.MatView.createJoin(s, mvJ, loc, dimLoc,
      "o_custkey", "c_custkey", Seq("seg"), "price")
    graft.operators.MatView.register(s, mvJ)
    val q = """SELECT kind, fresh, servable, cursor, head
      FROM graft.q.mvs_orders.matviews ORDER BY kind"""
    def probe() = s.sql(q).collect().map(r => (r.getString(0),
      r.getBoolean(1), r.getBoolean(2), r.getLong(3), r.getLong(4)))
      .toSeq
    def all3(p: Seq[(String, Boolean, Boolean, Long, Long)],
        f: Boolean, sv: Boolean, c: Long, h: Long) =
      p.map(_._1).sorted == Seq("extrema", "fold", "join") &&
        p.forall(x => x._2 == f && x._3 == sv && x._4 == c && x._5 == h)
    // (1) three fresh views, cursor == head == 1
    val ok1 = all3(probe(), f = true, sv = true, 1L, 1L)
    // (2) one cdc batch: fold/join compensate, extrema cannot
    val ch = s.sql("""SELECT o_orderkey, o_custkey, st, price, 'D' AS op
      FROM graft.q.mvs_orders WHERE o_orderkey % 6 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, ch, "o_orderkey",
      cdc = true)
    val p2 = probe()
    val ok2 = p2.map(x => (x._1, x._2, x._3, x._4, x._5)).toSet == Set(
      ("fold", false, true, 1L, 2L), ("join", false, true, 1L, 2L),
      ("extrema", false, false, 1L, 2L))
    // (3) a content-invariant compact: verdicts unchanged, head moves
    graft.operators.TxnTable.compact(s, loc)
    val p3 = probe()
    val ok3 = p3.toSet == Set(
      ("fold", false, true, 1L, 3L), ("join", false, true, 1L, 3L),
      ("extrema", false, false, 1L, 3L))
    // (4) refresh all three → fresh at the folded cursor
    graft.operators.MatView.refresh(s, mvFold)
    graft.operators.MatView.refresh(s, mvX)
    graft.operators.MatView.refresh(s, mvJ)
    val ok4 = all3(probe(), f = true, sv = true, 3L, 3L)
    // (5) a feed-less append: acceleration gone, the listing says so
    s.sql("""INSERT INTO graft.q.mvs_orders
      SELECT o_orderkey + 900000000, o_custkey, 'W',
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 20 = 0""")
    val ok5 = all3(probe(), f = false, sv = false, 3L, 4L)
    val ok = ok1 && ok2 && ok3 && ok4 && ok5
    s.sql(q).withColumn("show_ok", lit(ok))
  }

  /** sql_mv_timetravel: TIME-TRAVEL READS SERVED FROM THE MV — the
    * capability the pinned-version freshness contract gives for free
    * and mainstream formats lack: `VERSION AS OF v` on an aggregate is
    * answered by MV ⊕ the PARTIAL feed tail `(cursor, v]`
    * (MatView.rowsAt is keyed on the relation's PINNED version,
    * not the head), so the dashboard's "as of yesterday" pane costs
    * O(MV + the slice of history up to v) — never a historical base
    * scan. Four pins by optimized-plan roots + answer equality against
    * the pinned snapshot: (1) AS OF the cursor itself → the MV ALONE
    * (empty tail — no feed file touched); (2) AS OF mid-history
    * (cursor < v < head) → MV + exactly v2's feed, with v3's changes
    * provably absent from the answer; (3) the head read → MV + both
    * feeds; (4) AS OF a version BEHIND the cursor → the MV is AHEAD of
    * the asked-for past and must fall through to the pinned base scan
    * (serving it would leak future rows into history). Hashed output =
    * the mid-history read; the oracle replays batch 1 only. At 100 TB:
    * audit and repro queries ("what did the dashboard say at version
    * v?") ride the same MV plane as the live ones, with staleness
    * arithmetic decided by the log per PINNED version. */
  def mvTimeTravel(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvtt_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvtt_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvtt_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_tt")
    graft.operators.MatView.create(s, mv, loc, Seq("st"), "price")
    graft.operators.MatView.register(s, mv)
    // v2: delete group 'P' entirely; v3: a brand-new 'Z' group — two
    // feed batches whose EFFECTS are version-distinguishable
    val b1 = s.sql("""SELECT o_orderkey, o_orderstatus AS st,
        CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM orders WHERE o_orderstatus = 'P'""")
    graft.operators.TxnTable.applyChangesMor(s, loc, b1, "o_orderkey",
      cdc = true)
    val b2 = s.sql("""SELECT o_orderkey + 700000000, 'Z',
        CAST(o_totalprice AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 9 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc,
      b2.toDF("o_orderkey", "st", "price", "op"), "o_orderkey",
      cdc = true)
    def q(asOf: String) = s"""SELECT st, COUNT(*) AS n,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.mvtt_orders $asOf GROUP BY st"""
    def got(asOf: String) = s.sql(q(asOf)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct(v: Long) = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, loc, v).groupBy(col("st"))
        .agg(count(lit(1)).as("n"),
          sum(col("price")).cast("double").as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).toSet
    }
    // (1) AS OF the cursor: the MV alone, no feed file in the plan
    val p1 = scanSrcsOf(s, q("VERSION AS OF 1"))
    val ok1 = p1.nonEmpty && p1.forall(_.contains(mv)) &&
      got("VERSION AS OF 1") == direct(1L)
    // (2) mid-history: MV + exactly the v2 feed; v3's 'Z' group absent
    val v2Feed = graft.operators.TxnTable.manifest(s, loc, 2L).cdcRefs
    val v3Feed = graft.operators.TxnTable.manifest(s, loc, 3L).cdcRefs
    val p2 = scanSrcsOf(s, q("VERSION AS OF 2"))
    val g2 = got("VERSION AS OF 2")
    val ok2 = p2.nonEmpty &&
      p2.forall(p => p.contains(mv) ||
        v2Feed.exists(f => p.contains(f))) &&
      p2.exists(p => v2Feed.exists(f => p.contains(f))) &&
      !p2.exists(p => v3Feed.exists(f => p.contains(f))) &&
      g2 == direct(2L) && !g2.exists(_._1 == "P") &&
      !g2.exists(_._1 == "Z")
    // (3) the head read: MV + both feeds, the 'Z' group present
    val p3 = scanSrcsOf(s, q(""))
    val g3 = got("")
    val ok3 = p3.nonEmpty &&
      p3.forall(p => p.contains(mv) || p.contains(s"$loc/_cdc")) &&
      g3 == direct(3L) && g3.exists(_._1 == "Z")
    // (4) BEHIND the cursor: the MV is ahead of the asked-for past —
    // serving it would leak future rows into history; base scan only
    val p4 = scanSrcsOf(s, q("VERSION AS OF 0"))
    val ok4 = p4.exists(p => p.contains(loc) || p.startsWith("v2:")) &&
      !p4.exists(_.contains(mv)) &&
      got("VERSION AS OF 0").isEmpty
    val ok = ok1 && ok2 && ok3 && ok4
    s.sql(q("VERSION AS OF 2")).withColumn("mvtt_ok", lit(ok))
  }

  /** sql_mv_retention: RETENTION THAT RESPECTS THE MV FLEET — the
    * missing half of the vacuumed-feed refusal. The refusal (r18:
    * feedRefs probes existence, refresh refuses with the recompute
    * remedy) makes feed loss LOUD; this makes it not happen: the SQL
    * vacuum / vacuum_preview / expire_snapshots procedures now include
    * MatView.retentionPins — for every registered view folding this
    * base's feed tail, the commits (cursor, head], the exact range
    * refresh and query-time compensation read — alongside the branch
    * pins, so routine retention can never turn a stale view into a
    * drop-and-recompute. The scenario stales an MV by two cdc batches,
    * then: (1) the EVIDENCE — a fleet-blind library vacuumPreview
    * (retain = 1, no pins) would sweep both feed-carrying manifests
    * and the older feed's files; (2) CALL vacuum_preview reports only
    * the two harmless manifests (v0 create + v1 insert, whose parquet
    * the retained manifests still reference), write-debris _SUCCESS
    * markers, and ZERO feed files; (3) CALL vacuum(1) — afterwards
    * only the feed-carrying
    * versions remain, the stale dashboard STILL serves from MV ⊕ feed
    * tail (plan-pinned), refresh folds both commits, and the refreshed
    * answer is hash-equal to the direct recompute (the oracle). At
    * 100 TB: retention and acceleration stop fighting — vacuum(1) on a
    * busy base keeps the ~KB of feed tail a registered view needs and
    * sweeps everything else. */
  def mvRetention(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvrt_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvrt_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvrt_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_retention")
    graft.operators.MatView.create(s, mv, loc, Seq("st"), "price")
    graft.operators.MatView.register(s, mv)
    // two feed-carrying batches the stale MV will need: v2 deletes,
    // v3 repricings — never refreshed until after the vacuum
    val b1 = s.sql("""SELECT o_orderkey, o_orderstatus AS st,
        CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM orders WHERE o_orderkey % 6 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, b1, "o_orderkey",
      cdc = true)
    val b2 = s.sql("""SELECT o_orderkey, o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 13 AS DECIMAL(12,2)),
        'U' FROM orders
      WHERE o_orderkey % 11 = 0 AND o_orderkey % 6 <> 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc,
      b2.toDF("o_orderkey", "st", "price", "op"), "o_orderkey",
      cdc = true)
    val v2Feed = graft.operators.TxnTable.manifest(s, loc, 2L).cdcRefs
    // (1) the evidence: a fleet-BLIND vacuum would sweep the feed tail
    val (blindMs, _, blindCdc) =
      graft.operators.TxnTable.vacuumPreview(s, loc, 1)
    val blindWouldBreak = blindMs.toSet == Set(0L, 1L, 2L) &&
      v2Feed.nonEmpty && v2Feed.forall(r => blindCdc.contains(r))
    // (2) the SQL preview carries the fleet pins: two harmless
    // manifests (v0 create, v1 insert — their data files stay
    // referenced by the retained manifests), zero feed files
    val previewed = s.sql(
      "CALL graft.system.vacuum_preview('q.mvrt_orders', 1)")
      .collect()(0).getLong(0)
    // the pinned blast radius, itemized: the two harmless manifests
    // (v0 create, v1 insert), ZERO feed files — dead data files are
    // write-debris only (_SUCCESS markers; every parquet of v1 stays
    // referenced by the retained manifests)
    val (pinMs, pinFls, pinCdc) = graft.operators.TxnTable
      .vacuumPreview(s, loc, 1,
        graft.operators.MatView.retentionPins(s, loc))
    val previewOk = pinMs == Seq(0L, 1L) && pinCdc.isEmpty &&
      pinFls.forall(_.endsWith("/_SUCCESS")) &&
      previewed == pinMs.size.toLong + pinFls.size + pinCdc.size
    // (3) the real vacuum through SQL: the feed tail survives
    s.sql("CALL graft.system.vacuum('q.mvrt_orders', 1)")
    val vsAfter = graft.operators.TxnTable.versions(s, loc)
    val feedAlive = v2Feed.forall { r =>
      val p = new org.apache.hadoop.fs.Path(s"$loc/$r")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    }
    val q = """SELECT st, COUNT(*) AS n, COUNT(price) AS nn,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.mvrt_orders GROUP BY st"""
    def mvFeedOnly = servedFromMvAndFeed(mv, loc) _
    val pStale = scanSrcsOf(s, q)
    def got() = s.sql(q).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, loc).groupBy(col("st"))
        .agg(count(lit(1)).as("n"), count(col("price")).as("nn"),
          sum(col("price")).cast("double").as("total"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    val servedStale = mvFeedOnly(pStale) && got() == direct()
    // refresh folds BOTH surviving feeds; the MV then serves alone
    val r = graft.operators.MatView.refresh(s, mv)
    val pFresh = scanSrcsOf(s, q)
    val servedFresh = pFresh.nonEmpty && pFresh.forall(_.contains(mv)) &&
      got() == direct()
    val ok = blindWouldBreak && previewOk &&
      vsAfter == Seq(2L, 3L) && feedAlive && servedStale &&
      r.commitsFolded == 2 && servedFresh
    s.sql(q).withColumn("mvrt_ok", lit(ok))
  }

  /** sql_mv_groupsets: the SUBTOTALS DASHBOARD — `GROUP BY ROLLUP /
    * CUBE / GROUPING SETS` over the base served from ONE fold MV as a
    * union of per-set rollups (GraftMvRewriteRule.tryGroupingSets).
    * Spark plans a cold grouping-set aggregate as an Expand that
    * MULTIPLIES the base scan by the number of sets — at 100 TB,
    * ROLLUP(status, priority) is 3× the table pushed through the
    * shuffle; the rewrite replays exactly that algebra over MV rows
    * instead (per set: one rollup of the summable fold, NULLs for the
    * absent keys, the set's grouping-id literal, unioned — O(sets ×
    * MV), never O(base)), with grouping_id() resolving over the union
    * frame. Phases pinned by optimized-plan scan roots: (1) fresh
    * ROLLUP(st, pri) incl. grouping_id() → MV alone, == direct; (2)
    * one cdc batch (scattered deletes, repricing, a feed-born (R,
    * 9-NEW) group), never refreshed → every grouping LEVEL of the
    * union served from MV + `_cdc` only, == direct, the new group
    * surfacing at the detail level AND inside the subtotals; (3) a
    * key-filtered CUBE on the same plane; (4) ROLLUP over a NON-key
    * column falls through to the base scan. Hashed output = the stale
    * ROLLUP with grouping_id; the oracle replays the union-of-rollups
    * explicitly (no engine grouping_id dialect dependence). */
  def mvGroupSets(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvgs_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvgs_orders (
      o_orderkey BIGINT, st STRING, pri STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvgs_orders
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_gsets")
    graft.operators.MatView.create(s, mv, loc, Seq("st", "pri"), "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT st, pri, COUNT(*) AS n, COUNT(price) AS nn,
      CAST(SUM(price) AS DOUBLE) AS total, grouping_id() AS gid
      FROM graft.q.mvgs_orders GROUP BY ROLLUP(st, pri)"""
    val qCube = """SELECT st, pri, COUNT(*) AS n
      FROM graft.q.mvgs_orders WHERE pri = '1-URGENT'
      GROUP BY CUBE(st, pri)"""
    val qNonKey = """SELECT o_orderkey, COUNT(*) AS n
      FROM graft.q.mvgs_orders GROUP BY ROLLUP(o_orderkey)"""
    def got(sql: String) = s.sql(sql).collect().map(_.toSeq.map {
      case null => "∅"
      case x => x.toString
    }.mkString("|")).sorted.toSeq
    def direct(sql: String) = {
      graft.operators.TxnTable.snapshot(s, loc)
        .createOrReplaceTempView("mvgs_direct")
      got(sql.replace("graft.q.mvgs_orders", "mvgs_direct"))
    }
    // phase 1: FRESH — the whole rollup family serves from the MV alone
    val pFresh = scanSrcsOf(s, q)
    val servedFresh = pFresh.nonEmpty && pFresh.forall(_.contains(mv)) &&
      got(q) == direct(q)
    // phase 2: one cdc batch, never refreshed — subtotals still exact
    val ch = s.sql("""SELECT o_orderkey, o_orderstatus AS st,
        o_orderpriority AS pri, CAST(o_totalprice AS DECIMAL(12,2))
          AS price, 'D' AS op
      FROM orders WHERE o_orderkey % 6 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 7 AS DECIMAL(12,2)),
        'U'
      FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 6 <> 0
      UNION ALL
      SELECT o_orderkey + 800000000, 'R', '9-NEW',
        CAST(o_totalprice AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 13 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, ch, "o_orderkey",
      cdc = true)
    def mvFeedOnly = servedFromMvAndFeed(mv, loc) _
    val pStale = scanSrcsOf(s, q)
    val gotStale = got(q)
    val servedStale = mvFeedOnly(pStale) && gotStale == direct(q) &&
      gotStale.exists(_.startsWith("R|9-NEW|")) &&
      gotStale.exists(_.startsWith("R|∅|"))
    // phase 3: the key-filtered CUBE on the same MV ⊕ feed plane
    val pCube = scanSrcsOf(s, qCube)
    val servedCube = mvFeedOnly(pCube) && got(qCube) == direct(qCube)
    // phase 4: ROLLUP over a non-key column → the base scan
    val pNonKey = scanSrcsOf(s, qNonKey)
    val fellThrough = pNonKey.exists(p => p.contains(loc) ||
      p.startsWith("v2:")) && !pNonKey.exists(_.contains(mv))
    val ok = servedFresh && servedStale && servedCube && fellThrough
    s.sql(q).withColumn("gsets_ok", lit(ok))
  }

  /** sql_mv_join: MATERIALIZED AGGREGATE OVER A JOIN — the q03/q06
    * dashboard shape (fact ⋈ dim ON fact.fk = dim.pk, GROUP BY a dim
    * attribute, aggregate a fact measure) served from one join MV
    * (MatView.createJoin + the GraftMvRewriteRule join branch). The
    * honest two-log contract: FACT-side changes compensate from the
    * fact's published signed feeds — each signed row re-joins to the
    * dim to recover its group, so the served plan reads MV + feed tail
    * + dim (the small lookup side), NEVER a fact data file; ANY dim
    * content change past the MV's dim cursor disqualifies serving AND
    * refuses refresh loudly (a moved dim attribute regroups rows no
    * fact feed mentions — recompute is the only sound answer). Four
    * phases pinned by optimized-plan scan roots: (1) fresh → MV only,
    * == direct; (2) after a fact cdc batch (deletes + inserts),
    * unrefreshed → MV + fact `_cdc` + dim, no fact data file, == a
    * direct recompute of the moved join; (3) the join refresh folds the
    * feed (one commit) → MV alone, identical answer; (4) a dim segment
    * reassignment → the SAME query falls through to the base join and
    * sees the 'MOVED' group, while the join refresh refuses with the
    * recompute remedy. Hashed output = the final query; oracle replays
    * the join. At 100 TB: the star-schema dashboard aggregate costs an
    * MV read plus the fact delta joined to the dim — the fact table,
    * the 100 TB side, is never rescanned. */
  def mvJoin(s: SparkSession, d: String): DataFrame = {
    val factLoc = freshSqlTable(s, "mvj_fact")
    val dimLoc = freshSqlTable(s, "mvj_dim")
    view(s, d, "orders")
    view(s, d, "customer")
    s.sql("""CREATE TABLE graft.q.mvj_fact (
      o_orderkey BIGINT, o_custkey BIGINT, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvj_fact
      SELECT o_orderkey, o_custkey,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    s.sql("CREATE TABLE graft.q.mvj_dim (c_custkey BIGINT, seg STRING)")
    s.sql("""INSERT INTO graft.q.mvj_dim
      SELECT c_custkey, c_mktsegment FROM customer""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_join")
    graft.operators.MatView.createJoin(s, mv, factLoc, dimLoc,
      "o_custkey", "c_custkey", Seq("seg"), "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT seg, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.mvj_fact f JOIN graft.q.mvj_dim c
      ON f.o_custkey = c.c_custkey GROUP BY seg"""
    def ps() = scanSrcsOf(s, q)
    def rows() = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, factLoc).alias("f")
        .join(graft.operators.TxnTable.snapshot(s, dimLoc).alias("c"),
          col("f.o_custkey") === col("c.c_custkey"))
        .groupBy(col("c.seg")).agg(count(lit(1)).as("n"),
          sum(col("f.price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    }
    // phase 1: fresh — MV only, never fact or dim
    val p1 = ps()
    val servedFresh = p1.nonEmpty && p1.forall(_.contains(mv)) &&
      rows() == direct()
    // phase 2: a fact-side cdc batch, unrefreshed — served plan = MV +
    // fact feed + dim lookup; the FACT's data files never appear
    val ch = s.sql("""SELECT o_orderkey, o_custkey,
        CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM orders WHERE o_orderkey % 6 = 0
      UNION ALL
      SELECT o_orderkey + 700000000, o_custkey,
        CAST(o_totalprice AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 9 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, factLoc, ch, "o_orderkey",
      cdc = true)
    val p2 = ps()
    val compensatedServe = p2.nonEmpty &&
      p2.forall(p => p.contains(mv) || p.contains(s"$factLoc/_cdc") ||
        p.contains(dimLoc)) &&
      p2.exists(_.contains(mv)) &&
      p2.exists(_.contains(s"$factLoc/_cdc")) &&
      !p2.exists(p => p.contains(factLoc) && !p.contains("_cdc")) &&
      rows() == direct()
    // phase 3: refresh folds the feed — MV serves alone again
    val r = graft.operators.MatView.refresh(s, mv)
    val p3 = ps()
    val servedAgain = r.commitsFolded == 1 && p3.nonEmpty &&
      p3.forall(_.contains(mv)) && rows() == direct()
    // phase 4: the dim moves WITHOUT a feed — serving falls through to
    // the base join, refresh refuses with the recompute remedy (a cdc
    // dim move folds instead — the SCD-1 path sql_mv_star_scd pins)
    val move = s.sql("""SELECT c_custkey, 'MOVED' AS seg, 'U' AS op
      FROM customer WHERE c_custkey % 10 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, dimLoc, move, "c_custkey",
      cdc = false)
    val p4 = ps()
    val fin = rows()
    val fellThrough = !p4.exists(_.contains(mv)) &&
      fin.exists(_._1 == "MOVED") && fin == direct()
    val refused =
      try { graft.operators.MatView.refresh(s, mv); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("recompute the MV") }
    val ok = servedFresh && compensatedServe && servedAgain &&
      fellThrough && refused
    s.sql(q).withColumn("mvj_ok", lit(ok))
  }

  /** sql_mv_extrema: MIN/MAX DASHBOARDS SERVED FROM THE EXTREMA MV —
    * the transparent-rewrite half of op_mv_minmax. MIN(value) /
    * MAX(value) / COUNT(*) / COUNT(value) over the base are answered
    * from the registered [[graft.operators.MatView.createExtrema]]
    * view; the extrema carry the value's own type and SQL's null
    * semantics directly, and they are summable UPWARD, so coarser
    * groupings, the global aggregate and key-only WHERE clauses all
    * compose (min-of-mins ≡ min-of-union). Freshness is deliberately
    * STRICTER than the fold MV's: the extrema algebra has no signed
    * compensation — a delete in the tail can fell an extreme that only
    * the dirty-group recompute re-derives — so a stale view serves
    * only across a provably content-invariant tail (a compact) and
    * otherwise FALLS THROUGH to the base scan. Phases pinned by plan
    * roots: (1) fresh → MV only, == direct; (2) after a base compact,
    * unrefreshed → STILL the MV (invariant tail); (3) after a cdc
    * delete that fells group F's max → falls through to the base and
    * answers correctly; (4) the extrema refresh (folds both commits, dirty
    * recompute runs) → MV again, the SECOND max answering; plus SUM
    * never serves (no total in the view) and the filtered + global
    * shapes serve. Hashed output = the final per-status extrema;
    * oracle replays the delete. At 100 TB: the MIN/MAX dashboard —
    * the p0 "worst latency / biggest order" pane — costs an MV read
    * with staleness decided by the log. */
  def mvExtrema(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mve_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mve_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mve_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_extrema")
    graft.operators.MatView.createExtrema(s, mv, loc, Seq("st"), "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT st, COUNT(*) AS n, COUNT(price) AS nn,
      CAST(MIN(price) AS DOUBLE) AS vmin, CAST(MAX(price) AS DOUBLE)
      AS vmax FROM graft.q.mve_orders GROUP BY st"""
    val qSum = """SELECT st, CAST(SUM(price) AS DOUBLE) AS t
      FROM graft.q.mve_orders GROUP BY st"""
    val qGlobal = """SELECT COUNT(*) AS n, CAST(MIN(price) AS DOUBLE)
      AS vmin, CAST(MAX(price) AS DOUBLE) AS vmax
      FROM graft.q.mve_orders"""
    val qFiltered = """SELECT st, CAST(MAX(price) AS DOUBLE) AS vmax
      FROM graft.q.mve_orders WHERE st IN ('F', 'O') GROUP BY st"""
    def mvOnly(ps: Seq[String]) = ps.nonEmpty && ps.forall(_.contains(mv))
    def readsBase(ps: Seq[String]) =
      ps.exists(p => (p.contains(loc) && !p.contains("_cdc")) ||
        p.startsWith("v2:"))
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, max, min}
      graft.operators.TxnTable.snapshot(s, loc).groupBy(col("st"))
        .agg(count(lit(1)), count(col("price")),
          min(col("price")).cast("double"), max(col("price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toSet
    }
    // phase 1: fresh — extrema, rollup-to-global and filtered serve;
    // SUM never does (the view holds no total)
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qGlobal)) && mvOnly(scanSrcsOf(s, qFiltered)) &&
      readsBase(scanSrcsOf(s, qSum)) && rows() == direct()
    // phase 2: a content-invariant commit — still served, unrefreshed
    graft.operators.TxnTable.compact(s, loc)
    val servedInvariant = mvOnly(scanSrcsOf(s, q)) && rows() == direct()
    // phase 3: fell group F's max (every holder — deterministic); the
    // stale view must fall through, not guess
    val snap = graft.operators.TxnTable.snapshot(s, loc)
    import org.apache.spark.sql.functions.{col, max, when}
    val fmax = snap.agg(max(when(col("st") === "F", col("price"))))
      .collect()(0).getDecimal(0)
    graft.operators.TxnTable.applyChangesMor(s, loc,
      snap.filter(col("st") === "F" && col("price") === lit(fmax))
        .withColumn("op", lit("D")), "o_orderkey", cdc = true)
    val fellThrough = readsBase(scanSrcsOf(s, q)) && rows() == direct()
    // phase 4: refresh (the dirty recompute re-derives F's extreme) —
    // served again, the second max answering
    val r = graft.operators.MatView.refresh(s, mv)
    val servedAgain = r.commitsFolded == 2 && mvOnly(scanSrcsOf(s, q)) &&
      rows() == direct()
    val ok = servedFresh && servedInvariant && fellThrough && servedAgain
    s.sql(q).withColumn("mve_ok", lit(ok))
  }

  /** sql_mv_star: the FULL STAR-SCHEMA MV — fact ⋈ dim₁ ⋈ dim₂ (the
    * q06 three-table shape), grouped by attributes drawn from BOTH
    * dims, served from ONE materialized view. The rewrite flattens the
    * inner-join tree in any syntactic shape/order and requires its
    * equality conjuncts to biject with the definition's fact→dim
    * equalities; grouping keys resolve to their owning dim; the
    * filtered rollup composes ACROSS dims (`WHERE st = 'F' GROUP BY
    * brand` — the predicate keys one dim, the grouping the other, and
    * both are MV columns). Freshness needs every log: the fact tail
    * compensates from feeds re-joined to the dims; ANY dim content
    * change disqualifies serving, and a FEED-LESS one refuses refresh
    * (a cdc dim change folds — sql_mv_star_scd). Phases by plan
    * roots: (1) fresh → MV only for the exact grouping, the cross-dim
    * filtered rollup AND the global; (2) fact cdc batch, unrefreshed →
    * MV + fact `_cdc` + the dims (the lookup sides), NEVER a fact data
    * file; (3) the join refresh (one fold) → MV alone; (4) a feed-less dim₂
    * brand reassignment → fall-through seeing 'MOVED' + loud refusal.
    * Hashed output = the final star aggregate; oracle replays it. At
    * 100 TB: the multi-dim dashboard — THE warehouse workload — costs
    * an MV read plus the fact delta joined to the small sides; the
    * fact is never rescanned. */
  /** sql_mv_extrema_gsets: MIN/MAX SUBTOTALS FROM THE EXTREMA VIEW —
    * the "worst latency per (status, priority), per status, and
    * overall, one pane" dashboard: `GROUP BY ROLLUP(st, pri)` over
    * MIN/MAX/COUNT served from the `_mvx` view
    * (GraftMvRewriteRule.tryGroupingSets' extrema arm — the extrema
    * vocabulary is summable upward exactly like the fold: min-of-mins
    * ≡ min-of-union at every subtotal level, so the same
    * union-of-per-set-rollups machinery serves it with
    * rollupExtrema/extremaArm swapped in). Freshness keeps the extrema
    * view's STRICTER contract (no signed compensation): serve at the
    * cursor or across a content-invariant tail only. Phases by plan
    * roots: (1) fresh ROLLUP + a key-filtered CUBE with grouping_id →
    * MV alone, == direct; (2) a compact (content-invariant tail) →
    * still MV alone; (3) delete every row holding F's max → the SAME
    * query falls through to the base (the fell extreme is only
    * re-derivable by recompute) while SUM under ROLLUP never serves at
    * all; (4) the extrema refresh (dirty-group recompute) → served again,
    * the SECOND max answering at every level. Hashed output = the
    * post-refresh rollup; the oracle replays the delete and the three
    * levels as an explicit union. At 100 TB: the extrema subtotal pane
    * costs an MV read at every level, with the felled-extreme case
    * paying only the dirty groups' recompute. */
  def mvExtremaGsets(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvxg_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvxg_orders (
      o_orderkey BIGINT, st STRING, pri STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvxg_orders
      SELECT o_orderkey, o_orderstatus, o_orderpriority,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_xgsets")
    graft.operators.MatView.createExtrema(s, mv, loc, Seq("st", "pri"),
      "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT st, pri, COUNT(*) AS n, COUNT(price) AS nn,
      CAST(MIN(price) AS DOUBLE) AS vmin,
      CAST(MAX(price) AS DOUBLE) AS vmax, grouping_id() AS gid
      FROM graft.q.mvxg_orders GROUP BY ROLLUP(st, pri)"""
    val qCube = """SELECT st, pri, grouping_id() AS gid,
      CAST(MAX(price) AS DOUBLE) AS vmax FROM graft.q.mvxg_orders
      WHERE st = 'F' GROUP BY CUBE(st, pri)"""
    val qSum = """SELECT st, CAST(SUM(price) AS DOUBLE) AS t
      FROM graft.q.mvxg_orders GROUP BY ROLLUP(st)"""
    def got(sql: String) = s.sql(sql).collect().map(_.toSeq.map {
      case null => "∅"
      case x => x.toString
    }.mkString("|")).sorted.toSeq
    def direct(sql: String) = {
      graft.operators.TxnTable.snapshot(s, loc)
        .createOrReplaceTempView("mvxg_direct")
      got(sql.replace("graft.q.mvxg_orders", "mvxg_direct"))
    }
    def mvOnly(ps: Seq[String]) = ps.nonEmpty && ps.forall(_.contains(mv))
    // (1) fresh: every subtotal level from the view alone — and SUM
    // must fall through HERE, while the view is fresh, so the check
    // exercises the vocabulary gate rather than staleness
    val sumNever = !scanSrcsOf(s, qSum).exists(_.contains(mv))
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qCube)) &&
      got(q) == direct(q) && got(qCube) == direct(qCube)
    // (2) a content-invariant tail (compact) still serves
    graft.operators.TxnTable.compact(s, loc)
    val servedInvariant = mvOnly(scanSrcsOf(s, q)) &&
      got(q) == direct(q)
    // (3) fell F's max: the stricter contract falls through; SUM never
    // serves at all
    val del = s.sql("""SELECT o_orderkey, st, pri, price, 'D' AS op
      FROM graft.q.mvxg_orders WHERE st = 'F' AND price =
        (SELECT MAX(price) FROM graft.q.mvxg_orders WHERE st = 'F')""")
    graft.operators.TxnTable.applyChangesMor(s, loc, del, "o_orderkey",
      cdc = true)
    val pStale = scanSrcsOf(s, q)
    val fellThrough = pStale.exists(p => p.contains(loc) ||
      p.startsWith("v2:")) && !pStale.exists(_.contains(mv)) &&
      got(q) == direct(q)
    // (4) the extrema refresh recomputes the dirty group; the second max
    // answers at every level, from the view alone
    graft.operators.MatView.refresh(s, mv)
    val servedAgain = mvOnly(scanSrcsOf(s, q)) && got(q) == direct(q)
    val ok = servedFresh && servedInvariant && fellThrough &&
      sumNever && servedAgain
    s.sql(q).withColumn("xgs_ok", lit(ok))
  }

  /** sql_mv_star_gsets: the SUBTOTAL STAR DASHBOARD — `GROUP BY
    * ROLLUP(st, brand)` over fact ⋈ orders ⋈ part served from ONE star
    * MV (GraftMvRewriteRule.tryGroupingSets' join arm: the same
    * union-of-per-set-rollups algebra, over the join MV's compensated
    * frame, with grouping keys traced through the Expand/Project
    * aliases to DIM key columns of the matched definition). This is
    * the worst cold plan in the warehouse — grouping sets EXPAND the
    * joined fact (sets × |fact ⋈ dims| rows through the shuffle) — and
    * it becomes a few MV-sized aggregates. Phases pinned by
    * optimized-plan scan roots: (1) fresh ROLLUP + a dim-key-filtered
    * CUBE with grouping_id → MV alone, == direct recomputes; (2) one
    * fact cdc batch, unrefreshed → MV + fact `_cdc` + dims, never a
    * fact data file, every subtotal level still exact; (3) a fact-side
    * grouping (ROLLUP(l_partkey)) falls through — the MV holds no fact
    * residual. Hashed output = the stale ROLLUP with grouping_id; the
    * oracle replays the three levels as an explicit union over the
    * moved star (no engine grouping_id dialect dependence). At 100 TB:
    * the subtotal star dashboard stops multiplying the fact scan. */
  def mvStarGsets(s: SparkSession, d: String): DataFrame = {
    val factLoc = freshSqlTable(s, "gsets_li")
    val ordLoc = freshSqlTable(s, "gsets_ord")
    val partLoc = freshSqlTable(s, "gsets_part")
    view(s, d, "lineitem"); view(s, d, "orders"); view(s, d, "part")
    s.sql("""CREATE TABLE graft.q.gsets_li (
      lid BIGINT, l_orderkey BIGINT, l_partkey BIGINT,
      price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.gsets_li
      SELECT l_orderkey * 10 + l_linenumber, l_orderkey, l_partkey,
        CAST(l_extendedprice AS DECIMAL(12,2)) FROM lineitem""")
    s.sql("CREATE TABLE graft.q.gsets_ord (o_orderkey BIGINT, st STRING)")
    s.sql("""INSERT INTO graft.q.gsets_ord
      SELECT o_orderkey, o_orderstatus FROM orders""")
    s.sql("CREATE TABLE graft.q.gsets_part (p_partkey BIGINT, " +
      "brand STRING)")
    s.sql("""INSERT INTO graft.q.gsets_part
      SELECT p_partkey, p_brand FROM part""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_star_gsets")
    graft.operators.MatView.createJoinStar(s, mv, factLoc, Seq(
      graft.operators.MatView.MvDimRef(ordLoc, "l_orderkey",
        "o_orderkey"),
      graft.operators.MatView.MvDimRef(partLoc, "l_partkey",
        "p_partkey")),
      Seq("st", "brand"), "price")
    graft.operators.MatView.register(s, mv)
    val joinSql = """FROM graft.q.gsets_li f
      JOIN graft.q.gsets_ord o ON f.l_orderkey = o.o_orderkey
      JOIN graft.q.gsets_part p ON f.l_partkey = p.p_partkey"""
    val q = s"""SELECT st, brand, COUNT(*) AS n, COUNT(price) AS nn,
      CAST(SUM(price) AS DOUBLE) AS total, grouping_id() AS gid
      $joinSql GROUP BY ROLLUP(st, brand)"""
    val qCube = s"""SELECT st, brand, grouping_id() AS gid,
      COUNT(*) AS n $joinSql WHERE st = 'F' GROUP BY CUBE(st, brand)"""
    val qFact = s"""SELECT l_partkey, COUNT(*) AS n
      $joinSql GROUP BY ROLLUP(l_partkey)"""
    def got(sql: String) = s.sql(sql).collect().map(_.toSeq.map {
      case null => "∅"
      case x => x.toString
    }.mkString("|")).sorted.toSeq
    def direct(sql: String) = {
      graft.operators.TxnTable.snapshot(s, factLoc)
        .createOrReplaceTempView("gsets_li_d")
      graft.operators.TxnTable.snapshot(s, ordLoc)
        .createOrReplaceTempView("gsets_ord_d")
      graft.operators.TxnTable.snapshot(s, partLoc)
        .createOrReplaceTempView("gsets_part_d")
      got(sql.replace("graft.q.gsets_li", "gsets_li_d")
        .replace("graft.q.gsets_ord", "gsets_ord_d")
        .replace("graft.q.gsets_part", "gsets_part_d"))
    }
    def mvOnly(ps: Seq[String]) = ps.nonEmpty && ps.forall(_.contains(mv))
    // phase 1: fresh — every subtotal level from the MV alone
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qCube)) &&
      got(q) == direct(q) && got(qCube) == direct(qCube)
    // phase 2: one fact cdc batch (deletes + shifted inserts),
    // unrefreshed — union-of-rollups over (MV ⊕ fact feed ⋈ dims)
    val ch = s.sql("""SELECT l_orderkey * 10 + l_linenumber AS lid,
        l_orderkey, l_partkey,
        CAST(l_extendedprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 6 = 0
      UNION ALL
      SELECT l_orderkey * 10 + l_linenumber + 900000000, l_orderkey,
        l_partkey, CAST(l_extendedprice AS DECIMAL(12,2)), 'U'
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 11 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, factLoc, ch, "lid",
      cdc = true)
    val p2 = scanSrcsOf(s, q)
    val servedStale = p2.nonEmpty &&
      p2.forall(p => p.contains(mv) || p.contains(s"$factLoc/_cdc") ||
        p.contains(ordLoc) || p.contains(partLoc)) &&
      p2.exists(_.contains(mv)) &&
      p2.exists(_.contains(s"$factLoc/_cdc")) &&
      !p2.exists(p => p.contains(factLoc) && !p.contains("_cdc")) &&
      got(q) == direct(q)
    // phase 3: a FACT-side grouping — no residual in the MV
    val pFact = scanSrcsOf(s, qFact)
    val fellThrough = pFact.exists(p => p.contains(factLoc) ||
      p.startsWith("v2:")) && !pFact.exists(_.contains(mv))
    val ok = servedFresh && servedStale && fellThrough
    s.sql(q).withColumn("sgs_ok", lit(ok))
  }

  def mvStar(s: SparkSession, d: String): DataFrame = {
    val factLoc = freshSqlTable(s, "star_li")
    val ordLoc = freshSqlTable(s, "star_ord")
    val partLoc = freshSqlTable(s, "star_part")
    view(s, d, "lineitem"); view(s, d, "orders"); view(s, d, "part")
    s.sql("""CREATE TABLE graft.q.star_li (
      lid BIGINT, l_orderkey BIGINT, l_partkey BIGINT,
      price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.star_li
      SELECT l_orderkey * 10 + l_linenumber, l_orderkey, l_partkey,
        CAST(l_extendedprice AS DECIMAL(12,2)) FROM lineitem""")
    s.sql("CREATE TABLE graft.q.star_ord (o_orderkey BIGINT, st STRING)")
    s.sql("""INSERT INTO graft.q.star_ord
      SELECT o_orderkey, o_orderstatus FROM orders""")
    s.sql("CREATE TABLE graft.q.star_part (p_partkey BIGINT, brand STRING)")
    s.sql("""INSERT INTO graft.q.star_part
      SELECT p_partkey, p_brand FROM part""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_star")
    graft.operators.MatView.createJoinStar(s, mv, factLoc, Seq(
      graft.operators.MatView.MvDimRef(ordLoc, "l_orderkey", "o_orderkey"),
      graft.operators.MatView.MvDimRef(partLoc, "l_partkey", "p_partkey")),
      Seq("st", "brand"), "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT st, brand, COUNT(*) AS n,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.star_li f
      JOIN graft.q.star_ord o ON f.l_orderkey = o.o_orderkey
      JOIN graft.q.star_part p ON f.l_partkey = p.p_partkey
      GROUP BY st, brand"""
    // the cross-dim cut: predicate on dim₁'s key, grouping dim₂'s
    val qCross = """SELECT brand, COUNT(*) AS n
      FROM graft.q.star_li f
      JOIN graft.q.star_ord o ON f.l_orderkey = o.o_orderkey
      JOIN graft.q.star_part p ON f.l_partkey = p.p_partkey
      WHERE st = 'F' GROUP BY brand"""
    val qGlobal = """SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.star_li f
      JOIN graft.q.star_ord o ON f.l_orderkey = o.o_orderkey
      JOIN graft.q.star_part p ON f.l_partkey = p.p_partkey"""
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, factLoc).alias("f")
        .join(graft.operators.TxnTable.snapshot(s, ordLoc).alias("o"),
          col("f.l_orderkey") === col("o.o_orderkey"))
        .join(graft.operators.TxnTable.snapshot(s, partLoc).alias("p"),
          col("f.l_partkey") === col("p.p_partkey"))
        .groupBy(col("o.st"), col("p.brand"))
        .agg(count(lit(1)).as("n"), sum(col("f.price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
    }
    def mvOnly(ps: Seq[String]) = ps.nonEmpty && ps.forall(_.contains(mv))
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qCross)) && mvOnly(scanSrcsOf(s, qGlobal)) &&
      rows() == direct()
    // fact moves: deletes + inserts, one cdc batch, unrefreshed
    val ch = s.sql("""SELECT l_orderkey * 10 + l_linenumber AS lid,
        l_orderkey, l_partkey,
        CAST(l_extendedprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 6 = 0
      UNION ALL
      SELECT l_orderkey * 10 + l_linenumber + 900000000, l_orderkey,
        l_partkey, CAST(l_extendedprice AS DECIMAL(12,2)), 'U'
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 11 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, factLoc, ch, "lid",
      cdc = true)
    val p2 = scanSrcsOf(s, q)
    val compensatedServe = p2.nonEmpty &&
      p2.forall(p => p.contains(mv) || p.contains(s"$factLoc/_cdc") ||
        p.contains(ordLoc) || p.contains(partLoc)) &&
      p2.exists(_.contains(mv)) &&
      p2.exists(_.contains(s"$factLoc/_cdc")) &&
      !p2.exists(p => p.contains(factLoc) && !p.contains("_cdc")) &&
      rows() == direct()
    val r = graft.operators.MatView.refresh(s, mv)
    val servedAgain = r.commitsFolded == 1 &&
      mvOnly(scanSrcsOf(s, q)) && rows() == direct()
    // dim₂ moves WITHOUT a feed: fall through + refuse (the cdc=true
    // dim move — SCD type-1 — folds instead; sql_mv_star_scd pins it)
    graft.operators.TxnTable.applyChangesMor(s, partLoc,
      s.sql("""SELECT p_partkey, 'MOVED' AS brand, 'U' AS op
        FROM part WHERE p_partkey % 7 = 0"""), "p_partkey", cdc = false)
    val p4 = scanSrcsOf(s, q)
    val fin = rows()
    val fellThrough = !p4.exists(_.contains(mv)) &&
      fin.exists(_._2 == "MOVED") && fin == direct()
    val refused =
      try { graft.operators.MatView.refresh(s, mv); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("recompute the MV") }
    val ok = servedFresh && compensatedServe && servedAgain &&
      fellThrough && refused
    s.sql(q).withColumn("star_ok", lit(ok))
  }

  /** sql_mv_star_scd: SCD TYPE-1 DIM FOLDING for the star MV — the
    * refusal sql_mv_star pins is now only the FEED-LESS case: a dim
    * UPDATE committed WITH its signed feed (−pre/+post rows) refreshes
    * the star view incrementally by the exact telescoping
    * Δ = ΔF ⋈ D@h + F@c ⋈ ΔD — the changed dim rows re-group the fact
    * slice they touch, and that slice is KEY-PRUNED from the fact's
    * manifest stats (point probes on the join key), never a full fact
    * scan. Phases: (1) fresh → MV-only plan roots; (2) an SCD-1 brand
    * move (3 scattered part keys, cdc) PLUS a fact cdc batch, both
    * unrefreshed → serving falls through / compensates correctly; (3)
    * ONE join refresh folds BOTH terms — `mv_scd_files_kept <
    * mv_scd_files_total` on the refresh commit is the zero-full-scan
    * evidence (the fact is clustered on l_partkey, so 3 point probes
    * open ≤3 of its 8 files) — and the query serves from the MV alone
    * again. Hashed output = the post-refresh star aggregate; the
    * oracle replays the fact batch and the brand move. At 100 TB: the
    * nightly SCD-1 dim correction costs O(changed dim rows ⋈ touched
    * fact files) + O(MV) instead of bricking every star view over the
    * dim into a full recompute. */
  def mvStarScd(s: SparkSession, d: String): DataFrame = {
    val factLoc = freshSqlTable(s, "scd_li")
    val ordLoc = freshSqlTable(s, "scd_ord")
    val partLoc = freshSqlTable(s, "scd_part")
    view(s, d, "lineitem"); view(s, d, "orders"); view(s, d, "part")
    // the fact lands range-clustered + stat-indexed on l_partkey (the
    // SCD prune key) in a FIXED 8-file layout, so the prune accounting
    // below is deterministic at every SF
    val li = s.sql("""SELECT l_orderkey * 10 + l_linenumber AS lid,
      l_orderkey, l_partkey,
      CAST(l_extendedprice AS DECIMAL(12,2)) AS price FROM lineitem""")
    graft.operators.TxnTable.commit(s, factLoc,
      graft.operators.TxnTable.stageIndexed(s, factLoc,
        li.repartitionByRange(8, li("l_partkey"))
          .sortWithinPartitions(li("l_partkey")), "l_partkey"),
      expected = -1L, op = "create", schemaJson = li.schema.json,
      idxCols = Seq("l_partkey"))
    s.sql("CREATE TABLE graft.q.scd_ord (o_orderkey BIGINT, st STRING)")
    s.sql("""INSERT INTO graft.q.scd_ord
      SELECT o_orderkey, o_orderstatus FROM orders""")
    s.sql("CREATE TABLE graft.q.scd_part (p_partkey BIGINT, brand STRING)")
    s.sql("""INSERT INTO graft.q.scd_part
      SELECT p_partkey, p_brand FROM part""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_scd")
    graft.operators.MatView.createJoinStar(s, mv, factLoc, Seq(
      graft.operators.MatView.MvDimRef(ordLoc, "l_orderkey", "o_orderkey"),
      graft.operators.MatView.MvDimRef(partLoc, "l_partkey", "p_partkey")),
      Seq("st", "brand"), "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT st, brand, COUNT(*) AS n,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.scd_li f
      JOIN graft.q.scd_ord o ON f.l_orderkey = o.o_orderkey
      JOIN graft.q.scd_part p ON f.l_partkey = p.p_partkey
      GROUP BY st, brand"""
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, factLoc).alias("f")
        .join(graft.operators.TxnTable.snapshot(s, ordLoc).alias("o"),
          col("f.l_orderkey") === col("o.o_orderkey"))
        .join(graft.operators.TxnTable.snapshot(s, partLoc).alias("p"),
          col("f.l_partkey") === col("p.p_partkey"))
        .groupBy(col("o.st"), col("p.brand"))
        .agg(count(lit(1)).as("n"), sum(col("f.price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
    }
    def mvOnly(ps: Seq[String]) = ps.nonEmpty && ps.forall(_.contains(mv))
    val servedFresh = mvOnly(scanSrcsOf(s, q)) && rows() == direct()
    // the SCD-1 move: three scattered part keys change brand, WITH the
    // signed feed — the fold's raw material
    graft.operators.TxnTable.applyChangesMor(s, partLoc,
      s.sql("""SELECT p_partkey, 'SCD1' AS brand, 'U' AS op
        FROM part WHERE p_partkey IN (5, 77, 150)"""),
      "p_partkey", cdc = true)
    // ...and a fact cdc batch on top: ONE refresh must fold BOTH
    // telescoping terms (ΔF joins the dims at head, ΔD re-groups the
    // fact at its cursor)
    val ch = s.sql("""SELECT l_orderkey * 10 + l_linenumber AS lid,
        l_orderkey, l_partkey,
        CAST(l_extendedprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 6 = 0
      UNION ALL
      SELECT l_orderkey * 10 + l_linenumber + 900000000, l_orderkey,
        l_partkey, CAST(l_extendedprice AS DECIMAL(12,2)), 'U'
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 11 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, factLoc, ch, "lid",
      cdc = true)
    // stale: a moved dim disqualifies serving outright (no dim-side
    // query compensation — refresh is the remedy), and the fall-through
    // answer is the base's
    val p2 = scanSrcsOf(s, q)
    val fellThrough = !p2.exists(_.contains(mv)) &&
      rows() == direct() && rows().exists(_._2 == "SCD1")
    val r = graft.operators.MatView.refresh(s, mv)
    val m = graft.operators.TxnTable.commitMetrics(s, mv, r.mvVersion)
    val kept = m.getOrElse("mv_scd_files_kept", -1L)
    val total = m.getOrElse("mv_scd_files_total", -1L)
    val pruned = kept >= 1 && total >= 2 && kept < total
    val servedAgain = r.commitsFolded == 1 && mvOnly(scanSrcsOf(s, q)) &&
      rows() == direct()
    val ok = servedFresh && fellThrough && pruned && servedAgain
    s.sql(q).withColumn("scd_ok", lit(ok))
  }

  /** sql_mv_star_live: the LIVE (key-grained) star view — the star
    * dashboard that stays MV-priced BETWEEN refreshes even while the
    * dims move. The view materializes the fold at the FACT-KEY grain
    * (GROUP BY the join keys) and joins the dims back at QUERY time,
    * so dim content is never baked into the view: where sql_mv_star
    * pins that a dim move makes the group-grain view fall through to a
    * full base join until someone refreshes, the live view keeps
    * serving — with ZERO fact data files in the plan — because the
    * moved dim rows regroup the sub-view rows in the serve-time join
    * itself. Phases, each plan-pinned by optimized-plan scan roots:
    * (1) fresh → sub-view + dim files only, == direct; (2) an SCD-1
    * brand move committed WITHOUT a feed (the case that bricks every
    * other star kind) → STILL served, the 'LIVE1' groups surface, the
    * plan reads no fact data file, and the live refresh no-ops (the fact
    * log never moved — dim state is simply not the view's problem);
    * (3) a fact cdc batch, unrefreshed → sub-view ⊕ fact `_cdc` ⋈
    * dims, still no fact data file; (4) the live refresh folds exactly the
    * fact tail (no dim opened) → sub-view + dims again; a dim-key cut
    * (`WHERE st = 'F' GROUP BY brand`) serves on the same plane.
    * Hashed output = the final star aggregate; the oracle replays the
    * brand move and the fact batch. At 100 TB: the SCD-correction
    * window — hours on a nightly-refresh star — costs O(sub-view ⋈
    * dims) per query instead of a fact rescan, and refresh never
    * touches a dim at all. */
  def mvStarLive(s: SparkSession, d: String): DataFrame = {
    val factLoc = freshSqlTable(s, "live_li")
    val ordLoc = freshSqlTable(s, "live_ord")
    val partLoc = freshSqlTable(s, "live_part")
    view(s, d, "lineitem"); view(s, d, "orders"); view(s, d, "part")
    s.sql("""CREATE TABLE graft.q.live_li (
      lid BIGINT, l_orderkey BIGINT, l_partkey BIGINT,
      price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.live_li
      SELECT l_orderkey * 10 + l_linenumber, l_orderkey, l_partkey,
        CAST(l_extendedprice AS DECIMAL(12,2)) FROM lineitem""")
    s.sql("CREATE TABLE graft.q.live_ord (o_orderkey BIGINT, st STRING)")
    s.sql("""INSERT INTO graft.q.live_ord
      SELECT o_orderkey, o_orderstatus FROM orders""")
    s.sql("""CREATE TABLE graft.q.live_part (p_partkey BIGINT,
      brand STRING)""")
    s.sql("""INSERT INTO graft.q.live_part
      SELECT p_partkey, p_brand FROM part""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_live")
    graft.operators.MatView.createStarLive(s, mv, factLoc, Seq(
      graft.operators.MatView.MvDimRef(ordLoc, "l_orderkey",
        "o_orderkey"),
      graft.operators.MatView.MvDimRef(partLoc, "l_partkey",
        "p_partkey")),
      Seq("st", "brand"), "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT st, brand, COUNT(*) AS n,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.live_li f
      JOIN graft.q.live_ord o ON f.l_orderkey = o.o_orderkey
      JOIN graft.q.live_part p ON f.l_partkey = p.p_partkey
      GROUP BY st, brand"""
    val qCut = """SELECT brand, COUNT(*) AS n
      FROM graft.q.live_li f
      JOIN graft.q.live_ord o ON f.l_orderkey = o.o_orderkey
      JOIN graft.q.live_part p ON f.l_partkey = p.p_partkey
      WHERE st = 'F' GROUP BY brand"""
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, factLoc).alias("f")
        .join(graft.operators.TxnTable.snapshot(s, ordLoc).alias("o"),
          col("f.l_orderkey") === col("o.o_orderkey"))
        .join(graft.operators.TxnTable.snapshot(s, partLoc).alias("p"),
          col("f.l_partkey") === col("p.p_partkey"))
        .groupBy(col("o.st"), col("p.brand"))
        .agg(count(lit(1)).as("n"), sum(col("f.price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
    }
    // the live serve contract: sub-view + dim snapshots, and NEVER a
    // fact data file (the fact's `_cdc` feeds are the one fact-side
    // read compensation may add)
    def servedLive(ps: Seq[String]) = ps.nonEmpty &&
      ps.forall(p => p.contains(s"$mv/") || p.contains(ordLoc) ||
        p.contains(partLoc) || p.contains(s"$factLoc/_cdc")) &&
      ps.exists(_.contains(s"$mv/")) &&
      !ps.exists(p => p.contains(factLoc) && !p.contains("_cdc"))
    val p1 = scanSrcsOf(s, q)
    val servedFresh = servedLive(p1) &&
      !p1.exists(_.contains("_cdc")) && servedLive(scanSrcsOf(s, qCut)) &&
      rows() == direct()
    // the SCD-1 move, committed WITHOUT a feed — the live view's
    // reason to exist: still served, still exact, refresh untouched
    graft.operators.TxnTable.applyChangesMor(s, partLoc,
      s.sql("""SELECT p_partkey, 'LIVE1' AS brand, 'U' AS op
        FROM part WHERE p_partkey % 7 = 0"""), "p_partkey", cdc = false)
    val p2 = scanSrcsOf(s, q)
    val r0 = graft.operators.MatView.refresh(s, mv)
    val servedDimMove = servedLive(p2) && rows() == direct() &&
      rows().exists(_._2 == "LIVE1") && r0.commitsFolded == 0
    // a fact cdc batch on top, unrefreshed → feed compensation joins
    // back through the SAME moved dims
    val ch = s.sql("""SELECT l_orderkey * 10 + l_linenumber AS lid,
        l_orderkey, l_partkey,
        CAST(l_extendedprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 6 = 0
      UNION ALL
      SELECT l_orderkey * 10 + l_linenumber + 900000000, l_orderkey,
        l_partkey, CAST(l_extendedprice AS DECIMAL(12,2)), 'U'
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 11 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, factLoc, ch, "lid",
      cdc = true)
    val p3 = scanSrcsOf(s, q)
    val compensated = servedLive(p3) &&
      p3.exists(_.contains(s"$factLoc/_cdc")) && rows() == direct()
    val r = graft.operators.MatView.refresh(s, mv)
    val p4 = scanSrcsOf(s, q)
    val servedAgain = r.commitsFolded == 1 && servedLive(p4) &&
      !p4.exists(_.contains("_cdc")) && rows() == direct()
    val ok = servedFresh && servedDimMove && compensated && servedAgain
    s.sql(q).withColumn("live_ok", lit(ok))
  }

  /** sql_mv_partial_star: PARTIAL (FILTERED) STAR VIEWS — the DDL
    * refusal retired: `CREATE MATERIALIZED VIEW … AS SELECT st, …
    * FROM fact JOIN dim ON … WHERE price > 100 GROUP BY st` now
    * creates a star view over exactly the fact slice. A FACT-side
    * deterministic predicate folds like the single-table partial view
    * (membership is row-local on the fact log): create filters the
    * fact scan, refresh and query-time compensation filter every fact
    * feed by the SAME predicate — a −old/+new reprice crossing the
    * boundary folds as the membership change it is — and each SCD
    * dim-delta term re-groups only the key-pruned fact slice's
    * IN-SLICE rows. A DIM-column predicate refuses at create with the
    * named reason (dim-dependent membership moves when the dim moves —
    * no fact feed mentions that). The rewrite consumes the stored
    * predicate from the query's conjuncts resolved against the FACT
    * relation (partialResidual, trySingle's rule verbatim), then gates
    * the residual dim-key-only. Phases: (1) fresh — the sliced star
    * query and the composed `AND st = 'F'` cut serve MV-only; a
    * different threshold and the unsliced query fall through; the
    * dim-predicate create refuses; (2) a boundary-crossing fact cdc
    * batch (reprices INTO and OUT of the slice, deletes, below- and
    * in-slice inserts), unrefreshed → compensated from MV ⊕
    * pred-filtered feed ⋈ dims, no fact data file in the plan; (3) an
    * SCD dim move (cdc) + ONE pure-SQL REFRESH folds BOTH telescoping
    * terms through the predicate → MV-only again. Oracle replays
    * batch + move + slice. At 100 TB: the sliced star dashboard — the
    * shape that paid a full base join even with a star view sitting
    * there — costs O(slice groups + filtered delta). */
  def mvPartialStar(s: SparkSession, d: String): DataFrame = {
    val factLoc = freshSqlTable(s, "ps_li")
    val ordLoc = freshSqlTable(s, "ps_ord")
    view(s, d, "lineitem"); view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.ps_li (
      lid BIGINT, l_orderkey BIGINT, price DECIMAL(12,2))""")
    // keyed-merge tables need a UNIQUE key: the synthetic lineitem
    // carries duplicate (orderkey, linenumber) pairs, so the fact
    // dedupes to one row per lid (MAX price — deterministic, and the
    // oracle replays the same GROUP BY)
    s.sql("""INSERT INTO graft.q.ps_li
      SELECT l_orderkey * 10 + l_linenumber, l_orderkey,
        MAX(CAST(l_extendedprice AS DECIMAL(12,2)))
      FROM lineitem GROUP BY 1, 2""")
    s.sql("CREATE TABLE graft.q.ps_ord (o_orderkey BIGINT, st STRING)")
    s.sql("""INSERT INTO graft.q.ps_ord
      SELECT o_orderkey, o_orderstatus FROM orders""")
    freshSqlTable(s, "ps_mv"); freshSqlTable(s, "ps_bad")
    // a DIM-column predicate refuses at create, with the named reason
    val dimPredRefused =
      try { s.sql("""CREATE MATERIALIZED VIEW graft.q.ps_bad AS
        SELECT st, COUNT(*) AS n, SUM(price) AS total
        FROM graft.q.ps_li f
        JOIN graft.q.ps_ord o ON f.l_orderkey = o.o_orderkey
        WHERE st = 'F' GROUP BY st"""); false }
      catch { case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
          .exists(c => c.getMessage != null &&
            c.getMessage.contains("decidable on FACT rows alone"))
      }
    s.sql("""CREATE MATERIALIZED VIEW graft.q.ps_mv AS
      SELECT st, COUNT(*) AS n, SUM(price) AS total
      FROM graft.q.ps_li f
      JOIN graft.q.ps_ord o ON f.l_orderkey = o.o_orderkey
      WHERE price > 1000 GROUP BY st""")
    val mv = s"${GraftCatalog.defaultWarehouse}/q/ps_mv"
    val q = """SELECT st, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.ps_li f
      JOIN graft.q.ps_ord o ON f.l_orderkey = o.o_orderkey
      WHERE price > 1000 GROUP BY st"""
    val qCut = q.replace("GROUP BY st", "AND st = 'F' GROUP BY st")
    val qOther = q.replace("price > 1000", "price > 500")
    val qAll = q.replace("WHERE price > 1000 ", "")
    def rows() = s.sql(q).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, factLoc).alias("f")
        .filter(col("price") > 1000)
        .join(graft.operators.TxnTable.snapshot(s, ordLoc).alias("o"),
          col("f.l_orderkey") === col("o.o_orderkey"))
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).toSet
    }
    def mvOnly(ps: Seq[String]) =
      ps.nonEmpty && ps.forall(_.contains(s"$mv/"))
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qCut)) &&
      !scanSrcsOf(s, qOther).exists(_.contains(mv)) &&
      !scanSrcsOf(s, qAll).exists(_.contains(mv)) &&
      rows() == direct()
    // the boundary-crossing fact batch: deletes, a reprice OUT of the
    // slice (→ 600), a reprice further IN (+5000), a below-threshold
    // insert (750 — must never surface) and an in-slice insert (+5000)
    graft.operators.TxnTable.applyChangesMor(s, factLoc,
      s.sql("""SELECT lid, l_orderkey, price, 'D' AS op
        FROM graft.q.ps_li WHERE lid % 6 = 0
        UNION ALL
        SELECT lid, l_orderkey, CAST(600 AS DECIMAL(12,2)), 'U'
        FROM graft.q.ps_li WHERE lid % 6 <> 0 AND lid % 7 = 1
        UNION ALL
        SELECT lid, l_orderkey,
          CAST(price + 5000 AS DECIMAL(12,2)), 'U'
        FROM graft.q.ps_li WHERE lid % 6 <> 0 AND lid % 7 <> 1
          AND lid % 9 = 2
        UNION ALL
        SELECT lid + 800000000, l_orderkey,
          CAST(750 AS DECIMAL(12,2)), 'U'
        FROM graft.q.ps_li WHERE lid % 13 = 0
        UNION ALL
        SELECT lid + 900000000, l_orderkey,
          CAST(price + 5000 AS DECIMAL(12,2)), 'U'
        FROM graft.q.ps_li WHERE lid % 17 = 0"""),
      "lid", cdc = true)
    val p2 = scanSrcsOf(s, q)
    val compensated = p2.nonEmpty &&
      p2.forall(p => p.contains(s"$mv/") ||
        p.contains(s"$factLoc/_cdc") || p.contains(ordLoc)) &&
      p2.exists(_.contains(s"$mv/")) &&
      p2.exists(_.contains(s"$factLoc/_cdc")) &&
      !p2.exists(p => p.contains(factLoc) && !p.contains("_cdc")) &&
      rows() == direct()
    // an SCD dim move on top (cdc): the dim-delta term re-groups the
    // key-pruned fact slice THROUGH the predicate; one pure-SQL
    // REFRESH folds both telescoping terms
    graft.operators.TxnTable.applyChangesMor(s, ordLoc,
      s.sql("""SELECT o_orderkey, 'Z' AS st, 'U' AS op
        FROM orders WHERE o_orderkey IN (7, 66, 129)"""),
      "o_orderkey", cdc = true)
    val rv = s.sql("REFRESH MATERIALIZED VIEW graft.q.ps_mv")
      .collect()(0).getLong(0)
    val servedAgain = rv >= 1L && mvOnly(scanSrcsOf(s, q)) &&
      rows() == direct()
    val ok = dimPredRefused && servedFresh && compensated && servedAgain
    s.sql(q).withColumn("pstar_ok", lit(ok))
  }

  /** sql_mv_partial_live: PARTIAL × LIVE — the two r20 star
    * generalizations COMPOSED: `CREATE LIVE MATERIALIZED VIEW … WHERE
    * price > 1000` materializes the fact-key-grain fold of exactly the
    * fact slice, and the dims still join back at query time. The
    * payoff is the strongest serve contract in the MV family: the
    * sliced dashboard stays accelerated through BOTH a feed-less SCD
    * dim move (the live property — dim state is never baked in) AND
    * unrefreshed boundary-crossing fact churn (the partial property —
    * the stored predicate gates the compensating feed row-locally),
    * with zero fact data files in every served plan. Phases: (1)
    * fresh — sliced query serves sub-view + dims only, a different
    * threshold and the unsliced query fall through; (2) a FEED-LESS
    * dim move → still served, exact, the live refresh no-ops; (3) a
    * boundary-crossing fact cdc batch (reprices in/out, deletes,
    * below- and in-slice inserts), unrefreshed → sub-view ⊕ filtered
    * feed ⋈ moved dims; (4) pure-SQL REFRESH folds the filtered fact
    * tail (no dim read) → sub-view + dims again. Oracle replays
    * dedupe + batch + move + slice. At 100 TB: the sliced star
    * dashboard keeps MV pricing across the two staleness sources that
    * each alone used to force a base rescan. */
  def mvPartialLive(s: SparkSession, d: String): DataFrame = {
    val factLoc = freshSqlTable(s, "pl_li")
    val ordLoc = freshSqlTable(s, "pl_ord")
    view(s, d, "lineitem"); view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.pl_li (
      lid BIGINT, l_orderkey BIGINT, price DECIMAL(12,2))""")
    // deduped per lid: keyed merges need a unique key (the synthetic
    // lineitem repeats (orderkey, linenumber) pairs)
    s.sql("""INSERT INTO graft.q.pl_li
      SELECT l_orderkey * 10 + l_linenumber, l_orderkey,
        MAX(CAST(l_extendedprice AS DECIMAL(12,2)))
      FROM lineitem GROUP BY 1, 2""")
    s.sql("CREATE TABLE graft.q.pl_ord (o_orderkey BIGINT, st STRING)")
    s.sql("""INSERT INTO graft.q.pl_ord
      SELECT o_orderkey, o_orderstatus FROM orders""")
    freshSqlTable(s, "pl_mv")
    s.sql("""CREATE LIVE MATERIALIZED VIEW graft.q.pl_mv AS
      SELECT st, COUNT(*) AS n, SUM(price) AS total
      FROM graft.q.pl_li f
      JOIN graft.q.pl_ord o ON f.l_orderkey = o.o_orderkey
      WHERE price > 1000 GROUP BY st""")
    val mv = s"${GraftCatalog.defaultWarehouse}/q/pl_mv"
    val q = """SELECT st, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.pl_li f
      JOIN graft.q.pl_ord o ON f.l_orderkey = o.o_orderkey
      WHERE price > 1000 GROUP BY st"""
    def rows() = s.sql(q).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, factLoc).alias("f")
        .filter(col("price") > 1000)
        .join(graft.operators.TxnTable.snapshot(s, ordLoc).alias("o"),
          col("f.l_orderkey") === col("o.o_orderkey"))
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).toSet
    }
    def servedLive(ps: Seq[String]) = ps.nonEmpty &&
      ps.forall(p => p.contains(s"$mv/") || p.contains(ordLoc) ||
        p.contains(s"$factLoc/_cdc")) &&
      ps.exists(_.contains(s"$mv/")) &&
      !ps.exists(p => p.contains(factLoc) && !p.contains("_cdc"))
    val servedFresh = servedLive(scanSrcsOf(s, q)) &&
      !scanSrcsOf(s, q.replace("price > 1000", "price > 500"))
        .exists(_.contains(mv)) &&
      !scanSrcsOf(s, q.replace("WHERE price > 1000 ", ""))
        .exists(_.contains(mv)) &&
      rows() == direct()
    // the FEED-LESS dim move: still served, still exact
    graft.operators.TxnTable.applyChangesMor(s, ordLoc,
      s.sql("""SELECT o_orderkey, 'Z' AS st, 'U' AS op
        FROM orders WHERE o_orderkey % 7 = 0"""),
      "o_orderkey", cdc = false)
    val r0 = graft.operators.MatView.refresh(s, mv)
    val servedDimMove = servedLive(scanSrcsOf(s, q)) &&
      rows() == direct() && rows().exists(_._1 == "Z") &&
      r0.commitsFolded == 0
    // the boundary-crossing fact batch, unrefreshed → filtered-feed
    // compensation through the MOVED dims
    graft.operators.TxnTable.applyChangesMor(s, factLoc,
      s.sql("""SELECT lid, l_orderkey, price, 'D' AS op
        FROM graft.q.pl_li WHERE lid % 6 = 0
        UNION ALL
        SELECT lid, l_orderkey, CAST(600 AS DECIMAL(12,2)), 'U'
        FROM graft.q.pl_li WHERE lid % 6 <> 0 AND lid % 7 = 1
        UNION ALL
        SELECT lid, l_orderkey,
          CAST(price + 5000 AS DECIMAL(12,2)), 'U'
        FROM graft.q.pl_li WHERE lid % 6 <> 0 AND lid % 7 <> 1
          AND lid % 9 = 2
        UNION ALL
        SELECT lid + 800000000, l_orderkey,
          CAST(750 AS DECIMAL(12,2)), 'U'
        FROM graft.q.pl_li WHERE lid % 13 = 0
        UNION ALL
        SELECT lid + 900000000, l_orderkey,
          CAST(price + 5000 AS DECIMAL(12,2)), 'U'
        FROM graft.q.pl_li WHERE lid % 17 = 0"""),
      "lid", cdc = true)
    val p3 = scanSrcsOf(s, q)
    val compensated = servedLive(p3) &&
      p3.exists(_.contains(s"$factLoc/_cdc")) && rows() == direct()
    val rv = s.sql("REFRESH MATERIALIZED VIEW graft.q.pl_mv")
      .collect()(0).getLong(0)
    val p4 = scanSrcsOf(s, q)
    val servedAgain = rv >= 1L && servedLive(p4) &&
      !p4.exists(_.contains("_cdc")) && rows() == direct()
    val ok = servedFresh && servedDimMove && compensated && servedAgain
    s.sql(q).withColumn("plive_ok", lit(ok))
  }

  /** sql_mv_fact2: the FACT-TO-FACT JOIN MV — q03's own shape:
    * lineitem ⋈ orders on the join key, grouped by a FACT-side
    * attribute (l_returnflag) alongside a dim-side one (o_orderstatus),
    * both large tables CHANGING, BOTH logs feeding ONE fold. The r19
    * generalization: join-MV keys may be owned by the FACT (ownership
    * −1, validated unique across fact ∪ dims at create, re-derived
    * per serve so a same-named column on the wrong relation never
    * binds), and the SCD telescoping makes the orders side a feeding
    * log like the lineitem side — its delta re-groups the lineitem
    * slice it touches, key-pruned via point probes on the fact's own
    * l_orderkey clustering. Phases: (1) fresh → MV-only roots for the
    * exact grouping AND a filtered cut on the FACT-owned key
    * (`WHERE flag = 'R' GROUP BY st`), while grouping by the join key
    * itself falls through (not an MV key); (2) a lineitem cdc batch
    * PLUS an orders-side status reassignment (3 lowest keys, cdc),
    * both unrefreshed → fall-through correct; (3) ONE join refresh
    * folds BOTH terms (`mv_scd_files_kept < total` — the orders delta
    * opened ≤3 of the fact's 8 files) → MV-only again. Hashed output =
    * the final aggregate; the oracle replays both sides. At 100 TB:
    * the fact-to-fact dashboard — the shape where BOTH sides are too
    * big to rescan — maintains at O(each side's delta ⋈ the other's
    * touched slice). */
  def mvFact2(s: SparkSession, d: String): DataFrame = {
    val liLoc = freshSqlTable(s, "f2_li")
    val ordLoc = freshSqlTable(s, "f2_ord")
    view(s, d, "lineitem"); view(s, d, "orders")
    val li = s.sql("""SELECT l_orderkey * 10 + l_linenumber AS lid,
      l_orderkey, l_returnflag AS flag,
      CAST(l_extendedprice AS DECIMAL(12,2)) AS price FROM lineitem""")
    graft.operators.TxnTable.commit(s, liLoc,
      graft.operators.TxnTable.stageIndexed(s, liLoc,
        li.repartitionByRange(8, li("l_orderkey"))
          .sortWithinPartitions(li("l_orderkey")), "l_orderkey"),
      expected = -1L, op = "create", schemaJson = li.schema.json,
      idxCols = Seq("l_orderkey"))
    s.sql("CREATE TABLE graft.q.f2_ord (o_orderkey BIGINT, st STRING)")
    s.sql("""INSERT INTO graft.q.f2_ord
      SELECT o_orderkey, o_orderstatus FROM orders""")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_fact2")
    graft.operators.MatView.createJoinStar(s, mv, liLoc, Seq(
      graft.operators.MatView.MvDimRef(ordLoc, "l_orderkey",
        "o_orderkey")),
      Seq("flag", "st"), "price")
    graft.operators.MatView.register(s, mv)
    val q = """SELECT flag, st, COUNT(*) AS n,
      CAST(SUM(price) AS DOUBLE) AS total
      FROM graft.q.f2_li f JOIN graft.q.f2_ord o
      ON f.l_orderkey = o.o_orderkey GROUP BY flag, st"""
    val qCut = """SELECT st, COUNT(*) AS n FROM graft.q.f2_li f
      JOIN graft.q.f2_ord o ON f.l_orderkey = o.o_orderkey
      WHERE flag = 'R' GROUP BY st"""
    val qJoinKey = """SELECT o.o_orderkey, COUNT(*) AS n
      FROM graft.q.f2_li f JOIN graft.q.f2_ord o
      ON f.l_orderkey = o.o_orderkey GROUP BY o.o_orderkey"""
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, liLoc).alias("f")
        .join(graft.operators.TxnTable.snapshot(s, ordLoc).alias("o"),
          col("f.l_orderkey") === col("o.o_orderkey"))
        .groupBy(col("f.flag"), col("o.st"))
        .agg(count(lit(1)).as("n"), sum(col("f.price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
    }
    def mvOnly(ps: Seq[String]) = ps.nonEmpty && ps.forall(_.contains(mv))
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qCut)) &&
      !scanSrcsOf(s, qJoinKey).exists(_.contains(mv)) &&
      rows() == direct()
    // both logs move: a lineitem cdc batch...
    val ch = s.sql("""SELECT l_orderkey * 10 + l_linenumber AS lid,
        l_orderkey, l_returnflag AS flag,
        CAST(l_extendedprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 6 = 0
      UNION ALL
      SELECT l_orderkey * 10 + l_linenumber + 900000000, l_orderkey,
        l_returnflag, CAST(l_extendedprice AS DECIMAL(12,2)), 'U'
      FROM lineitem WHERE (l_orderkey * 10 + l_linenumber) % 11 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, liLoc, ch, "lid",
      cdc = true)
    // ...and an orders-side reassignment of the 3 lowest keys, cdc
    graft.operators.TxnTable.applyChangesMor(s, ordLoc,
      s.sql("""SELECT o_orderkey, 'Z9' AS st, 'U' AS op FROM orders
        ORDER BY o_orderkey LIMIT 3"""), "o_orderkey", cdc = true)
    val p2 = scanSrcsOf(s, q)
    val fellThrough = !p2.exists(_.contains(mv)) &&
      rows() == direct() && rows().exists(_._2 == "Z9")
    val r = graft.operators.MatView.refresh(s, mv)
    val m = graft.operators.TxnTable.commitMetrics(s, mv, r.mvVersion)
    val kept = m.getOrElse("mv_scd_files_kept", -1L)
    val total = m.getOrElse("mv_scd_files_total", -1L)
    val pruned = kept >= 1 && total >= 2 && kept < total
    val servedAgain = r.commitsFolded == 1 && mvOnly(scanSrcsOf(s, q)) &&
      rows() == direct()
    val ok = servedFresh && fellThrough && pruned && servedAgain
    s.sql(q).withColumn("f2_ok", lit(ok))
  }

  /** sql_mv_ddl: DECLARATIVE MATERIALIZED-VIEW DDL — sql_mv_rewrite's
    * whole lifecycle rerun through PURE SQL TEXT (GraftSqlParser,
    * injected via SparkSessionExtensions): `CREATE MATERIALIZED VIEW …
    * AS SELECT` dispatches the view KIND from the defining query's
    * unresolved shape (count/sum → fold, count/min/max → extrema,
    * aggregate-over-inner-join → star; MIXING sum with max refuses —
    * no single view kind maintains both honestly — and re-creating an
    * existing view refuses), and `REFRESH MATERIALIZED VIEW`
    * dispatches on the view's own `_mv`/`_mvj`/`_mvx` definition and
    * re-registers it for the transparent rewrite. Phases: (1) both
    * DDL-created views serve their shapes fresh (fold: COUNT/SUM;
    * extrema: MAX) — plan roots MV-only; (2) a cdc batch, unrefreshed
    * → the fold COMPENSATES (MV ⊕ `_cdc`) while the extrema view's
    * stricter contract falls through to the base; (3) `REFRESH
    * MATERIALIZED VIEW` on each → both serve alone again, == direct.
    * Hashed output = the fold dashboard post-refresh; oracle replays
    * the batch. At 100 TB: the warehouse-standard DDL statement — not
    * an engine-specific CALL — creates and maintains every view kind. */
  def mvDdl(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "ddl_orders")
    val mvLoc = freshSqlTable(s, "ddl_orders_mv")
    val mvxLoc = freshSqlTable(s, "ddl_orders_mvx")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.ddl_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.ddl_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    val vF = s.sql("""CREATE MATERIALIZED VIEW graft.q.ddl_orders_mv AS
      SELECT st, COUNT(*) AS n, SUM(price) AS total
      FROM graft.q.ddl_orders GROUP BY st""").collect()(0).getLong(0)
    val vX = s.sql("""CREATE MATERIALIZED VIEW graft.q.ddl_orders_mvx AS
      SELECT st, COUNT(*) AS n, MIN(price) AS mn, MAX(price) AS mx
      FROM graft.q.ddl_orders GROUP BY st""").collect()(0).getLong(0)
    // kind-dispatch refusals: a mixed vocabulary, and a double create
    val mixedRefused =
      try { s.sql("""CREATE MATERIALIZED VIEW graft.q.ddl_mixed AS
        SELECT st, SUM(price) AS t, MAX(price) AS mx
        FROM graft.q.ddl_orders GROUP BY st"""); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("two views") }
    val dupRefused =
      try { s.sql("""CREATE MATERIALIZED VIEW graft.q.ddl_orders_mv AS
        SELECT st, COUNT(*) AS n, SUM(price) AS total
        FROM graft.q.ddl_orders GROUP BY st"""); false }
      catch { case e: Exception =>
        e.getMessage.contains("already exists") }
    val q = """SELECT st, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.ddl_orders GROUP BY st"""
    val qMax = """SELECT st, CAST(MAX(price) AS DOUBLE) AS mx
      FROM graft.q.ddl_orders GROUP BY st"""
    def rows() = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, loc).groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).toSet
    }
    // the DIRECTORY boundary matters: `…/ddl_orders_mv` is a substring
    // of `…/ddl_orders_mvx`, so a bare contains() could not tell the
    // fold view's files from the extrema view's
    def only(ps: Seq[String], mv: String) =
      ps.nonEmpty && ps.forall(_.contains(s"$mv/"))
    val servedFresh = vF == 0L && vX == 0L &&
      only(scanSrcsOf(s, q), mvLoc) &&
      only(scanSrcsOf(s, qMax), mvxLoc) && rows() == direct()
    // stale: the fold compensates, the extrema falls through
    graft.operators.TxnTable.applyChangesMor(s, loc,
      s.sql("""SELECT o_orderkey + 100000000 AS o_orderkey,
        'Z' AS st, CAST(o_totalprice AS DECIMAL(12,2)) AS price,
        'U' AS op FROM orders WHERE o_orderkey % 10 = 0"""),
      "o_orderkey", cdc = true)
    val p2 = scanSrcsOf(s, q)
    val compensated = servedFromMvAndFeed(mvLoc, loc)(p2) &&
      rows() == direct()
    val xFell = !scanSrcsOf(s, qMax).exists(_.contains(mvxLoc))
    // pure-SQL refresh, kind-dispatched
    val rF = s.sql("REFRESH MATERIALIZED VIEW graft.q.ddl_orders_mv")
      .collect()(0).getLong(0)
    val rX = s.sql("REFRESH MATERIALIZED VIEW graft.q.ddl_orders_mvx")
      .collect()(0).getLong(0)
    val servedAgain = rF >= 1L && rX >= 1L &&
      only(scanSrcsOf(s, q), mvLoc) &&
      only(scanSrcsOf(s, qMax), mvxLoc) && rows() == direct()
    val ok = servedFresh && mixedRefused && dupRefused && compensated &&
      xFell && servedAgain
    s.sql(q).withColumn("ddl_ok", lit(ok))
  }

  /** sql_mv_partial: PARTIAL (FILTERED) MATERIALIZED VIEWS — the
    * non-key-predicate gap closed: sql_mv_filter pins that
    * `WHERE price > 100 GROUP BY st` falls through to the base (the
    * full view folded those rows away and holds no residual), and a
    * view DEFINED with that predicate now serves it. `CREATE
    * MATERIALIZED VIEW … AS SELECT st, COUNT(*), SUM(price) FROM t
    * WHERE price > 100 GROUP BY st` stores the predicate in the view
    * definition; create folds only the slice, every refresh filters
    * the signed feed by the SAME predicate — exact, because
    * membership is row-local and an update is a −old/+new pair
    * evaluated independently (a reprice crossing the boundary folds
    * as the membership change it is). The rewrite consumes the stored
    * predicate from the query's conjuncts (canonicalized set
    * containment after resolving the stored text against the SAME
    * relation — identical attribute ids and type coercion) and gates
    * the residual by the ordinary key-only rule. Phases: (1) the
    * sliced dashboard + a composed `AND st = 'F'` cut serve MV-only;
    * a different threshold, and the UNSLICED query, fall through; (2)
    * a cdc batch crossing the boundary BOTH ways (reprices into and
    * out of the slice, deletes, in- and out-of-slice inserts),
    * unrefreshed → compensated serve (MV ⊕ filtered feed) == direct;
    * (3) refresh → MV alone again. Hashed output = the sliced
    * dashboard post-refresh; oracle replays the batch and the slice.
    * At 100 TB: the value-predicate dashboard — previously the ONE
    * aggregate shape that always paid the base scan — costs O(slice
    * groups + filtered delta). */
  def mvPartial(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "par_orders")
    val mvLoc = freshSqlTable(s, "par_orders_mv")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.par_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.par_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    s.sql("""CREATE MATERIALIZED VIEW graft.q.par_orders_mv AS
      SELECT st, COUNT(*) AS n, SUM(price) AS total
      FROM graft.q.par_orders WHERE price > 100 GROUP BY st""")
    val q = """SELECT st, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.par_orders WHERE price > 100 GROUP BY st"""
    val qCut = """SELECT st, COUNT(*) AS n FROM graft.q.par_orders
      WHERE price > 100 AND st = 'F' GROUP BY st"""
    val qOther = """SELECT st, COUNT(*) AS n FROM graft.q.par_orders
      WHERE price > 50 GROUP BY st"""
    val qAll = """SELECT st, COUNT(*) AS n FROM graft.q.par_orders
      GROUP BY st"""
    def rows() = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, loc)
        .filter(col("price") > 100).groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2))).toSet
    }
    def mvOnly(ps: Seq[String]) =
      ps.nonEmpty && ps.forall(_.contains(s"$mvLoc/"))
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qCut)) &&
      !scanSrcsOf(s, qOther).exists(_.contains(mvLoc)) &&
      !scanSrcsOf(s, qAll).exists(_.contains(mvLoc)) &&
      rows() == direct()
    // the boundary-crossing batch: deletes, a reprice OUT of the slice
    // (→ 60), a reprice further IN (+1000), a below-threshold insert
    // (75 — must never surface) and an in-slice insert (+200)
    graft.operators.TxnTable.applyChangesMor(s, loc,
      s.sql("""SELECT o_orderkey, o_orderstatus AS st,
          CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
        FROM orders WHERE o_orderkey % 6 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, CAST(60 AS DECIMAL(12,2)), 'U'
        FROM orders WHERE o_orderkey % 7 = 1 AND o_orderkey % 6 <> 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 1000
            AS DECIMAL(12,2)), 'U'
        FROM orders WHERE o_orderkey % 9 = 2 AND o_orderkey % 6 <> 0
          AND o_orderkey % 7 <> 1
        UNION ALL
        SELECT o_orderkey + 400000000, 'Q', CAST(75 AS DECIMAL(12,2)),
          'U' FROM orders WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey + 500000000, 'Z',
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 200
            AS DECIMAL(12,2)), 'U'
        FROM orders WHERE o_orderkey % 17 = 0"""),
      "o_orderkey", cdc = true)
    val p2 = scanSrcsOf(s, q)
    val compensated = p2.nonEmpty &&
      p2.forall(p => p.contains(s"$mvLoc/") ||
        p.contains(s"$loc/_cdc")) &&
      p2.exists(_.contains(s"$mvLoc/")) &&
      p2.exists(_.contains(s"$loc/_cdc")) &&
      rows() == direct() && rows().exists(_._1 == "Z") &&
      !rows().exists(_._1 == "Q")
    val rv = s.sql("REFRESH MATERIALIZED VIEW graft.q.par_orders_mv")
      .collect()(0).getLong(0)
    val servedAgain = rv >= 1L && mvOnly(scanSrcsOf(s, q)) &&
      rows() == direct()
    // the GLOBAL COUNT(DISTINCT key) over the sliced query resolves an
    // analyzer iteration late (GlobalAggregates converts the Project
    // after the filter coerces), so it used to lose the relation to
    // the merge-on-read swap and pay the base scan; the rewrite now
    // sees THROUGH the swap via its provenance tag — pin the plan root
    // AND answer-equality against the direct snapshot
    val qd = """SELECT COUNT(DISTINCT st) AS dst
      FROM graft.q.par_orders WHERE price > 100"""
    val servedDistinct = mvOnly(scanSrcsOf(s, qd)) && {
      import org.apache.spark.sql.functions.col
      s.sql(qd).collect()(0).getLong(0) ==
        graft.operators.TxnTable.snapshot(s, loc)
          .filter(col("price") > 100).select(col("st"))
          .distinct().count()
    }
    val ok = servedFresh && compensated && servedAgain && servedDistinct
    s.sql(q).withColumn("par_ok", lit(ok))
  }

  /** sql_mv_partial_extrema: PARTIAL (FILTERED) EXTREMA VIEWS — the
    * last partial-DDL refusal retired: `CREATE MATERIALIZED VIEW … AS
    * SELECT st, COUNT(*), MIN(price), MAX(price) FROM t WHERE price >
    * 10000 GROUP BY st` — the "worst/best value inside a slice" pane
    * (p99-band latency, premium-tier order extremes). The predicate
    * rides the `_mvx` definition as the optional 4th line (full views
    * stay 3-line on disk) under the SAME validation as the fold's
    * partial view (deterministic, subquery-free, row-local — shared
    * validatePartialPred); refresh filters each signed feed by it, so
    * boundary crossings fold as the membership changes they are, and
    * the DIRTY-GROUP RECOMPUTE — the extrema algebra's recovery path
    * when a delete fells a current extreme — re-derives from the
    * base's PREDICATE SLICE: the key-pruned probes bound WHICH files
    * are read, the predicate decides membership row-locally on them
    * (a felled in-slice MIN must re-derive from in-slice survivors;
    * the out-of-slice values below the threshold must never surface).
    * The rewrite consumes the stored predicate from the query's
    * conjuncts (partialResidual, trySingle's rule verbatim) before
    * the ordinary key-only gate, in both the plain and grouping-sets
    * extrema arms. Phases: (1) the sliced pane + a composed key cut
    * serve MV-only; another threshold and the unsliced pane fall
    * through; (2) a membership batch (the in-slice MIN BAND deleted
    * across every group, out-of-slice rows entering high, in-slice
    * rows leaving, an invisible out-of-slice delete) — extrema has no
    * signed compensation, so the stale pane falls through to the base
    * (answers exact); (3) pure-SQL REFRESH dirty-recomputes from the
    * slice (mv_dirty_groups ≥ 1 asserted) and serves MV-only again
    * with every recomputed MIN strictly above the threshold. Hashed
    * output = the post-refresh sliced pane; oracle replays the batch
    * and the slice. At 100 TB: the sliced worst-value dashboard costs
    * O(slice groups) reads when clean and O(dirty groups' files) when
    * an extreme falls — never the base. */
  def mvPartialExtrema(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "parx_orders")
    val mvLoc = freshSqlTable(s, "parx_orders_mv")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.parx_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.parx_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    s.sql("""CREATE MATERIALIZED VIEW graft.q.parx_orders_mv AS
      SELECT st, COUNT(*) AS n, MIN(price) AS lo, MAX(price) AS hi
      FROM graft.q.parx_orders WHERE price > 10000 GROUP BY st""")
    val q = """SELECT st, COUNT(*) AS n, CAST(MIN(price) AS DOUBLE)
      AS lo, CAST(MAX(price) AS DOUBLE) AS hi
      FROM graft.q.parx_orders WHERE price > 10000 GROUP BY st"""
    val qCut = """SELECT st, MAX(price) AS hi FROM graft.q.parx_orders
      WHERE price > 10000 AND st = 'F' GROUP BY st"""
    val qOther = """SELECT st, MAX(price) AS hi
      FROM graft.q.parx_orders WHERE price > 500 GROUP BY st"""
    val qAll = """SELECT st, MAX(price) AS hi FROM graft.q.parx_orders
      GROUP BY st"""
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, max, min}
      graft.operators.TxnTable.snapshot(s, loc)
        .filter(col("price") > 10000).groupBy(col("st"))
        .agg(count(lit(1)).as("n"), min(col("price")).cast("double"),
          max(col("price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toSet
    }
    def mvOnly(ps: Seq[String]) =
      ps.nonEmpty && ps.forall(_.contains(s"$mvLoc/"))
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qCut)) &&
      !scanSrcsOf(s, qOther).exists(_.contains(mvLoc)) &&
      !scanSrcsOf(s, qAll).exists(_.contains(mvLoc)) &&
      rows() == direct()
    // the membership batch: every group's in-slice MIN BAND deleted
    // (10000 < p ≤ 20000 → the felled minimum forces the dirty
    // recompute, which must land ABOVE 20000, never on an
    // out-of-slice value ≤ 10000); out-of-slice rows entering high
    // (+100000 → candidate maxes); in-slice rows leaving (→ 500);
    // an out-of-slice delete the view must never notice
    graft.operators.TxnTable.applyChangesMor(s, loc,
      s.sql("""SELECT o_orderkey, o_orderstatus AS st,
          CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
        FROM orders WHERE o_totalprice > 10000
          AND o_totalprice <= 20000
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 100000
            AS DECIMAL(12,2)), 'U'
        FROM orders WHERE o_totalprice <= 10000 AND o_orderkey % 3 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, CAST(500 AS DECIMAL(12,2)),
          'U' FROM orders WHERE o_totalprice > 100000
          AND o_orderkey % 5 = 1
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2)), 'D'
        FROM orders WHERE o_totalprice <= 10000 AND o_orderkey % 3 = 1
          AND o_orderkey % 7 = 0"""),
      "o_orderkey", cdc = true)
    // the extrema algebra has no signed compensation: the stale pane
    // falls through to the base — answers stay exact
    val p2 = scanSrcsOf(s, q)
    val staleFell = p2.nonEmpty && !p2.exists(_.contains(mvLoc)) &&
      rows() == direct()
    val rv = s.sql("REFRESH MATERIALIZED VIEW graft.q.parx_orders_mv")
      .collect()(0).getLong(0)
    val mvVer = graft.operators.TxnTable.currentVersion(s, mvLoc)
    val dirtied = graft.operators.TxnTable.commitMetrics(s, mvLoc, mvVer)
      .get("mv_dirty_groups").exists(_ >= 1L)
    val servedAgain = rv >= 1L && mvOnly(scanSrcsOf(s, q)) &&
      rows() == direct() &&
      rows().forall(_._3 > 10000d) // every recomputed MIN is in-slice
    val ok = servedFresh && staleFell && dirtied && servedAgain
    s.sql(q).withColumn("parx_ok", lit(ok))
  }

  /** sql_mv_percentile: EXACT PERCENTILE/MEDIAN DASHBOARDS FROM A
    * VALUE-GRAIN FOLD MV — the "p95 latency per service" pane, the one
    * dashboard shape that otherwise always pays a base-wide sort
    * (percentile is holistic: no constant-size fold state answers it).
    * The trick needs NO new view kind: `CREATE MATERIALIZED VIEW … AS
    * SELECT st, price, COUNT(*), SUM(price) FROM t GROUP BY st, price`
    * folds at the VALUE GRAIN — one row per live (st, price) with n =
    * the multiplicity — which IS the value→count map a percentile
    * computation consumes. The rewrite (GraftMvRewriteRule's pctOf/
    * pctName arm, riding the same one-row-per-live-key-combination
    * invariant as COUNT(DISTINCT key)) substitutes PERCENTILE(price,
    * p) / MEDIAN(price) over the base with the frequency-weighted
    * percentile(price, p, n) over MV rows: the aggregated map is
    * IDENTICAL to the base scan's, so rank position and interpolation
    * land on the same doubles — exact, not approximate, under any
    * coarser grouping incl. the global, composed with key-only WHERE,
    * COUNT/SUM/AVG/COUNT(DISTINCT) on the same frame, and delta
    * compensation (the compensated union keeps the invariant: new
    * values surface as new rows, emptied ones leave at n == 0).
    * Non-key children (the fold kept no multiset of non-key columns),
    * array percentages, explicit non-unit frequencies, distinct/
    * filter clauses all fall through. Value-grain DDL rides the
    * valueOf extension (the one aggregated column may BE the finest
    * grouping key); the decimal grain key CLUSTERS and stat-indexes
    * with floor/ceil-WIDENED long boxes (indexableKeys admits narrow
    * decimals; widenedSpecs widens, a sound superset — see
    * sql_mv_decimal for the prune this buys).
    * Phases: (1) fresh per-status p50/p95/median + the global
    * quartile serve MV-only; percentile of a non-key column and array
    * percentages fall through; (2) a cdc batch (deletes, reprices, a
    * NEW half-cent value) unrefreshed → compensated serve (MV ⊕
    * `_cdc`) == direct; (3) pure-SQL REFRESH → MV-only again. Hashed
    * output = the post-refresh pane; oracle replays the batch with
    * DuckDB's quantile_cont (the q29-proven cross-engine pair). At
    * 100 TB: the percentile pane costs O(live value combinations) —
    * bounded by value cardinality, never row count — instead of a
    * base-wide shuffle-sort per query. */
  def mvPercentile(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "parp_orders")
    val mvLoc = freshSqlTable(s, "parp_orders_mv")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.parp_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.parp_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    s.sql("""CREATE MATERIALIZED VIEW graft.q.parp_orders_mv AS
      SELECT st, price, COUNT(*) AS n, SUM(price) AS t
      FROM graft.q.parp_orders GROUP BY st, price""")
    val q = """SELECT st, percentile(price, 0.5) AS p50,
      percentile(price, 0.95) AS p95, median(price) AS med,
      COUNT(*) AS n FROM graft.q.parp_orders GROUP BY st"""
    val qGlobal = """SELECT percentile(price, 0.25) AS q1
      FROM graft.q.parp_orders"""
    val qNonKey = """SELECT st, percentile(o_orderkey, 0.5) AS p
      FROM graft.q.parp_orders GROUP BY st"""
    val qArray = """SELECT st, percentile(price, array(0.5, 0.9)) AS p
      FROM graft.q.parp_orders GROUP BY st"""
    def rows() = s.sql(q).collect().map(r => (r.getString(0),
      r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, percentile}
      graft.operators.TxnTable.snapshot(s, loc).groupBy(col("st"))
        .agg(percentile(col("price"), lit(0.5)).as("p50"),
          percentile(col("price"), lit(0.95)).as("p95"),
          percentile(col("price"), lit(0.5)).as("med"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2), r.getDouble(3), r.getLong(4))).toSet
    }
    def mvOnly(ps: Seq[String]) =
      ps.nonEmpty && ps.forall(_.contains(s"$mvLoc/"))
    val servedFresh = mvOnly(scanSrcsOf(s, q)) &&
      mvOnly(scanSrcsOf(s, qGlobal)) &&
      !scanSrcsOf(s, qNonKey).exists(_.contains(mvLoc)) &&
      !scanSrcsOf(s, qArray).exists(_.contains(mvLoc)) &&
      rows() == direct()
    // deletes, reprices (an existing-value merge AND a brand-new
    // half-cent value no base row ever held), disjoint by key
    graft.operators.TxnTable.applyChangesMor(s, loc,
      s.sql("""SELECT o_orderkey, o_orderstatus AS st,
          CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
        FROM orders WHERE o_orderkey % 6 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 1000
            AS DECIMAL(12,2)), 'U'
        FROM orders WHERE o_orderkey % 7 = 1 AND o_orderkey % 6 <> 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
          CAST(77777.77 AS DECIMAL(12,2)), 'U'
        FROM orders WHERE o_orderkey % 13 = 2 AND o_orderkey % 6 <> 0
          AND o_orderkey % 7 <> 1"""),
      "o_orderkey", cdc = true)
    val p2 = scanSrcsOf(s, q)
    val compensated = p2.nonEmpty &&
      p2.forall(p => p.contains(s"$mvLoc/") ||
        p.contains(s"$loc/_cdc")) &&
      p2.exists(_.contains(s"$mvLoc/")) &&
      p2.exists(_.contains(s"$loc/_cdc")) &&
      rows() == direct()
    val rv = s.sql("REFRESH MATERIALIZED VIEW graft.q.parp_orders_mv")
      .collect()(0).getLong(0)
    val servedAgain = rv >= 1L && mvOnly(scanSrcsOf(s, q)) &&
      rows() == direct()
    val ok = servedFresh && compensated && servedAgain
    s.sql(q).withColumn("parp_ok", lit(ok))
  }

  /** op_mv_branch: BRANCH-AWARE MATERIALIZED VIEWS — a branch is a full
    * TxnTable, so an MV created ON the branch dir composes for free:
    * refresh walks the BRANCH log, and the rewrite serves
    * branch-addressed reads (`…t.branch_dev`) only — a main reader is
    * untouched by construction (the registry keys on location). The
    * new piece is the TRANSPLANT after publish: fastForward maintains
    * the ref invariant `branch@localBase ≡ parent@base`, which is a
    * content-identity PROOF — MatView.transplant re-points a view whose
    * cursor sits exactly at the published point onto the parent
    * timeline with ONE metadata-only commit (cursor := ref.base,
    * `mv_retarget` stamped on the SAME line: a cursor is meaningless
    * without its timeline, so the two facts are never separable — no
    * def-file rewrite, no two-object crash window). Phases: (1) branch
    * cdc batch + refresh → the branch query serves from the MV, the
    * main query reads the base and answers differently; (2)
    * fastForward + transplant + re-register → the MAIN query serves
    * from the MV (the dev dashboard followed its table into
    * production), while a branch-addressed read now DISQUALIFIES (the
    * per-query effective-base guard — the stale registry key must
    * never serve the wrong timeline); (3) a parent cdc batch,
    * unrefreshed → compensated serve from MV + parent `_cdc`; (4)
    * refresh folds from the PARENT log. `mvb_ok` pins all plans and
    * answer-equality; oracle replays branch + parent changes. At
    * 100 TB: the staging pattern — branch, backfill, validate with the
    * same MVs, publish — keeps its acceleration through the publish
    * for one metadata commit. */
  def mvBranch(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mvb_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mvb_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))""")
    s.sql("""INSERT INTO graft.q.mvb_orders
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    s.sql("CALL graft.system.branch('q.mvb_orders', 'dev')")
    val bd = graft.operators.TxnTable.branchDir(s, loc, "dev")
    val mv = graft.Fs.freshScratch("graft_mv", "sql_branch")
    graft.operators.MatView.create(s, mv, bd, "st", "price")
    graft.operators.MatView.register(s, mv)
    // the branch moves: deletes + a branch-only 'B' group, cdc feed
    val ch = s.sql("""SELECT o_orderkey, o_orderstatus AS st,
        CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
      FROM orders WHERE o_orderkey % 6 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'B',
        CAST(o_totalprice AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 13 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, bd, ch, "o_orderkey",
      cdc = true)
    val r1 = graft.operators.MatView.refresh(s, mv) // walks the BRANCH log
    val qBr = """SELECT st, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.mvb_orders.branch_dev GROUP BY st"""
    val qMain = """SELECT st, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.mvb_orders GROUP BY st"""
    def rowsOf(q: String) = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct() = {
      import org.apache.spark.sql.functions.{col, count, sum}
      graft.operators.TxnTable.snapshot(s, loc).groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    }
    val pBr = scanSrcsOf(s, qBr)
    val servedBranch = r1.commitsFolded == 1 && pBr.nonEmpty &&
      pBr.forall(_.contains(mv))
    val pM1 = scanSrcsOf(s, qMain)
    val mainUntouched = !pM1.exists(_.contains(mv)) &&
      rowsOf(qMain) != rowsOf(qBr) && rowsOf(qMain) == direct()
    // publish the branch; transplant the view onto the parent timeline
    s.sql("CALL graft.system.fastforward('q.mvb_orders', 'dev')")
    graft.operators.MatView.transplant(s, mv)
    graft.operators.MatView.register(s, mv) // re-key on the parent
    val pM2 = scanSrcsOf(s, qMain)
    val servedMain = pM2.nonEmpty && pM2.forall(_.contains(mv)) &&
      rowsOf(qMain) == direct()
    // the stale branch address must NOT serve the transplanted view
    val pBr2 = scanSrcsOf(s, qBr)
    val branchDisqualified = !pBr2.exists(_.contains(mv))
    // parent moves: compensated serve, then refresh folds PARENT feeds
    val ch2 = s.sql("""SELECT o_orderkey, o_orderstatus AS st,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 11 AS DECIMAL(12,2))
          AS price, 'U' AS op
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 6 <> 0
      UNION ALL
      SELECT o_orderkey + 200000000, 'M',
        CAST(o_totalprice AS DECIMAL(12,2)), 'U'
      FROM orders WHERE o_orderkey % 17 = 0""")
    graft.operators.TxnTable.applyChangesMor(s, loc, ch2, "o_orderkey",
      cdc = true)
    val pM3 = scanSrcsOf(s, qMain)
    // one direct recompute for phases 3+4: the refresh between them
    // commits to the MV only, the base is untouched, so both
    // answer-equality checks compare against the same ground truth
    val truth34 = direct()
    val compensatedServe = pM3.nonEmpty &&
      pM3.forall(p => p.contains(mv) || p.contains(s"$loc/_cdc")) &&
      pM3.exists(_.contains(s"$loc/_cdc")) &&
      rowsOf(qMain) == truth34
    val r2 = graft.operators.MatView.refresh(s, mv) // folds the PARENT
    val pM4 = scanSrcsOf(s, qMain)
    val refreshedServe = r2.commitsFolded == 1 && pM4.nonEmpty &&
      pM4.forall(_.contains(mv)) && rowsOf(qMain) == truth34
    val ok = servedBranch && mainUntouched && servedMain &&
      branchDisqualified && compensatedServe && refreshedServe
    s.sql(qMain).withColumn("mvb_ok", lit(ok))
  }

  /** sql_txn_dpp: RUNTIME join-driven file pruning — the DSv2 dynamic
    * partition pruning contract (`SupportsRuntimeV2Filtering`) answered
    * from MANIFEST stats. The star-join shape: a fact table
    * range-clustered on its join key, a dim side carrying a selective
    * filter; Spark's PartitionPruning rule plants a dynamic-pruning
    * subquery on the fact scan's key (the scan advertises its indexed
    * columns via `filterAttributes`), and at EXECUTION the broadcast
    * build side's actual key set re-prunes the fact's manifest entries
    * (`RuntimeFilterableScan.filter` → `PruningScanBuilder.rebuiltWith`)
    * — only the files whose key box intersects the dim's keys are ever
    * listed or opened. Static pushdown can't do this: the filter lives
    * on the OTHER table. Classic DPP prunes hive partition directories;
    * here the unit is the manifest entry, so it bites on
    * range-clustered, z-ordered and hash-bucketed layouts alike. Four
    * quarter-slice single-file inserts give every fact file a tight key
    * range; the dim keeps only second-quarter even keys, so the join
    * must plan 5 files and EXECUTE over the quarter file (the stat-less
    * zero-row sentinel is skipped). Hashed output = the joined per-key
    * aggregate (oracle replays the join); `dpp_ok` carries the runtime
    * kept/total file accounting. At 100 TB: a selective dim predicate
    * makes the fact scan cost O(matching files), not O(table) — the
    * single biggest lever on star-schema queries. */
  def txnDpp(s: SparkSession, d: String): DataFrame = {
    freshSqlTable(s, "dpp_li")
    view(s, d, "lineitem")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.dpp_li (
      l_orderkey BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'l_orderkey')""")
    val b = s.sql("SELECT MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi " +
      "FROM lineitem").collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val span = kmax - kmin
    val qc = (0L to 4L).map(i => kmin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.dpp_li
        SELECT /*+ REPARTITION(1) */ l_orderkey,
          CAST(l_extendedprice AS DECIMAL(12,2))
        FROM lineitem
        WHERE l_orderkey >= ${qc(i)} AND l_orderkey < ${qc(i + 1)}""")
    }
    // the dim filter is on ORDERS — nothing here is statically pushable
    // to the fact scan; only the runtime key set can prune it
    val sel = s"""SELECT f.l_orderkey, COUNT(*) AS nli,
      CAST(SUM(f.price) AS DOUBLE) AS amt
      FROM graft.q.dpp_li f JOIN orders d ON f.l_orderkey = d.o_orderkey
      WHERE d.o_orderkey >= ${qc(1)} AND d.o_orderkey < ${qc(2)}
        AND d.o_orderkey % 2 = 0
      GROUP BY f.l_orderkey"""
    val (k0, t0) = (GraftCatalog.runtimeKept.get, GraftCatalog.runtimeTotal.get)
    val n = s.sql(sel).count() // one executed join: runtime prune fires once
    val (kept, total) = (GraftCatalog.runtimeKept.get - k0,
      GraftCatalog.runtimeTotal.get - t0)
    // 5 live files; the runtime key set must keep only the second
    // quarter's file (the zero-row create sentinel is skipped).
    // total == 5 also certifies DPP actually FIRED (no re-plan = 0/0)
    val ok = total == 5L && kept == 1L && n > 0L
    s.sql(sel).withColumn("dpp_ok", lit(ok))
  }

  /** sql_txn_bloom: BLOOM-SIDECAR point-lookup pruning on the pure-SQL
    * read path — the production "time-partitioned table probed by id"
    * shape where range stats are USELESS: the table is day-clustered
    * (`'index' = 'od'`), so every file's o_orderkey range spans ~the
    * whole keyspace and a `WHERE o_orderkey = ?` can never range-prune
    * (the pre-bloom control SELECT proves it: all files kept). `CALL
    * graft.system.build_bloom` then commits a per-file bloom sidecar in
    * one metadata commit, and the SAME point lookup prunes files the
    * bloom proves empty — the DSv2 scan probes each committed bloom
    * once per pushed equality conjunct (one small sidecar job at
    * planning vs opening every stat-ambiguous file; at 100 TB the
    * difference between O(#files) footer opens and O(hits)). A day-range
    * SELECT on the same table still prunes via the od stats — the two
    * stat kinds answer different predicates side by side. Hashed output
    * = the minimum key's aggregate (deterministic, oracle-replayable);
    * the before/after scan accounting travels as `bloom_ok`. */
  def txnBloomSql(s: SparkSession, d: String): DataFrame = {
    freshSqlTable(s, "bl_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.bl_orders (
      o_orderkey BIGINT, od BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'od')""")
    val dd = "DATEDIFF(CAST(o_orderdate AS DATE), DATE '1995-01-01')"
    val b = s.sql(s"SELECT MIN($dd) AS lo, MAX($dd) AS hi, " +
      "MIN(o_orderkey) AS kv FROM orders").collect()(0)
    val (dMin, dMax) = (b.getInt(0).toLong, b.getInt(1).toLong)
    val kv = b.getLong(2)
    val span = dMax - dMin
    val qc = (0L to 4L).map(i => dMin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.bl_orders
        SELECT /*+ REPARTITION(1) */ o_orderkey, CAST($dd AS BIGINT),
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders
        WHERE $dd >= ${qc(i)} AND $dd < ${qc(i + 1)}""")
    }
    val sel = "SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS " +
      s"total FROM graft.q.bl_orders WHERE o_orderkey = $kv"
    // CONTROL: before the bloom, the point lookup can prune NOTHING —
    // no o_orderkey stat group exists (day-clustered files)
    val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    s.sql(sel).collect()
    val (kPre, tPre) = (GraftCatalog.scanKept.get - k0,
      GraftCatalog.scanTotal.get - t0)
    s.sql("CALL graft.system.build_bloom('q.bl_orders', 'o_orderkey')")
    val (k1, t1) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    val r = s.sql(sel).collect()(0)
    val (kPost, tPost) = (GraftCatalog.scanKept.get - k1,
      GraftCatalog.scanTotal.get - t1)
    // the od RANGE read still prunes via ordinary stats post-bloom
    val (k2, t2) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    s.sql("SELECT COUNT(*) AS n FROM graft.q.bl_orders WHERE od >= " +
      s"${qc(0)} AND od < ${qc(1)}").collect()
    val (kDay, tDay) = (GraftCatalog.scanKept.get - k2,
      GraftCatalog.scanTotal.get - t2)
    // 5 live files (4 day-quarters + create sentinel). Pre-bloom: the 4
    // quarters (the zero-row sentinel is skipped under any filter).
    // Post-bloom: the hit file (± the ~1% false-positive tax). Day
    // range: the quarter.
    val ok = kPre == 4L && tPre == 5L &&
      kPost >= 1L && kPost <= 2L && tPost == 5L &&
      kDay == 1L && tDay == 5L && r.getLong(0) > 0L
    s.sql(sel).withColumn("bloom_ok", lit(ok))
  }

  /** sql_txn_days: the `days(ts)` PARTITION TRANSFORM through pure SQL
    * text — `CREATE TABLE … TBLPROPERTIES ('index' = 'days(ts)')`
    * (hidden partitioning: the day column never exists in the schema),
    * day-quartered INSERTs whose files carry tight per-file day stats,
    * and a timestamp-range SELECT whose pushed predicate the DSv2 scan
    * maps to DAY granularity (ManifestPrune's days(c) rule) and prunes
    * files from the manifest alone. Range bounds ride
    * `timestamp_micros(<literal>)` so no session-timezone parsing is
    * involved on either side. `days_ok` asserts the accounting: of the
    * 5 live files (4 day-quarters + the create sentinel) the scan keeps
    * exactly the matching quarter; the zero-row sentinel is skipped. */
  def txnDaysSql(s: SparkSession, d: String): DataFrame = {
    freshSqlTable(s, "days_events")
    Tables.events(s, d).createOrReplaceTempView("events")
    s.sql("""CREATE TABLE graft.q.days_events (
      event_id BIGINT, event_type STRING, ts TIMESTAMP,
      value DECIMAL(12,2)) TBLPROPERTIES ('index' = 'days(ts)')""")
    val b = s.sql("SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events")
      .collect()(0)
    val dMin = TxnTable.epochDayMs(b.getTimestamp(0).getTime)
    val dMax = TxnTable.epochDayMs(b.getTimestamp(1).getTime)
    val span = dMax - dMin
    val qc = (0L to 4L).map(i => dMin + i * (span + 1) / 4)
    def us(day: Long): Long = day * 86400000000L
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.days_events
        SELECT /*+ REPARTITION(1) */ event_id, event_type, ts,
          CAST(value AS DECIMAL(12,2))
        FROM events
        WHERE ts >= timestamp_micros(${us(qc(i))})
          AND ts < timestamp_micros(${us(qc(i + 1))})""")
    }
    val sel = "SELECT event_id, event_type, CAST(value AS DOUBLE) AS value " +
      "FROM graft.q.days_events " +
      s"WHERE ts >= timestamp_micros(${us(qc(0))}) " +
      s"AND ts < timestamp_micros(${us(qc(1))})"
    val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    val n = s.sql(sel).count() // one planned scan: counters move once
    val (kept, total) = (GraftCatalog.scanKept.get - k0,
      GraftCatalog.scanTotal.get - t0)
    val ok = kept == 1L && total == 5L && n > 0L
    s.sql(sel).withColumn("days_ok", lit(ok))
  }

  /** sql_txn_evolve: ADD-COLUMN schema evolution as PURE SQL TEXT —
    * `ALTER TABLE … ADD COLUMN` routed to the metadata-only evolve
    * commit: ONE manifest write records the widened schema, every data
    * file carries verbatim (asserted: the evolve commit's entry paths
    * are byte-identical to the previous version's), old files read the
    * new column as NULL from the committed schema. A post-evolution
    * INSERT then lands rows WITH the column. Hashed output = the full
    * table (old rows NULL bonus, new rows computed bonus — replayable
    * arithmetic); `evolve_ok` asserts the pre-evolution version keeps
    * its 2-column schema, the audit trail, and the zero-rewrite
    * property. At 100 TB: adding a column costs O(metadata). */
  def txnEvolve(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "ev_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.ev_orders (
      o_orderkey BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.ev_orders
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    s.sql("ALTER TABLE graft.q.ev_orders ADD COLUMN bonus DOUBLE")
    s.sql("""INSERT INTO graft.q.ev_orders
      SELECT o_orderkey + 100000000, CAST(o_totalprice AS DECIMAL(12,2)),
        CAST(o_orderkey % 100 AS DOUBLE)
      FROM orders WHERE o_orderkey % 13 = 0""")
    val preCols = s.sql(
      "SELECT * FROM graft.q.ev_orders VERSION AS OF 1").schema.fieldNames
    val nowCols = s.sql("SELECT * FROM graft.q.ev_orders").schema.fieldNames
    // the evolve commit rewrote NOTHING: same entry paths as version 1
    val zeroRewrite = TxnTable.manifest(s, loc, 2L).entries.map(_.path) ==
      TxnTable.manifest(s, loc, 1L).entries.map(_.path)
    // (r14) DECIMAL precision widening rides the same metadata-only
    // lane: (12,2) -> (18,2) is one manifest write, entries verbatim,
    // old files read through Spark 4's parquet decimal promotion, and
    // the pinned pre-widening version keeps the narrow type
    s.sql("ALTER TABLE graft.q.ev_orders ALTER COLUMN price " +
      "TYPE DECIMAL(18,2)")
    val widenVerbatim = TxnTable.manifest(s, loc, 4L).entries ==
      TxnTable.manifest(s, loc, 3L).entries
    val widened = s.sql("SELECT * FROM graft.q.ev_orders")
      .schema.apply("price").dataType.sql == "DECIMAL(18,2)" &&
      s.sql("SELECT * FROM graft.q.ev_orders VERSION AS OF 3")
        .schema.apply("price").dataType.sql == "DECIMAL(12,2)"
    val ok = preCols.toSeq == Seq("o_orderkey", "price") &&
      nowCols.toSeq == Seq("o_orderkey", "price", "bonus") &&
      zeroRewrite && widenVerbatim && widened &&
      TxnTable.history(s, loc).map(_._2) ==
        Seq("create", "append", "evolve", "append", "widen")
    s.sql("""SELECT o_orderkey, CAST(price AS DOUBLE) AS price, bonus
      FROM graft.q.ev_orders""")
      .withColumn("evolve_ok", lit(ok))
  }

  /** sql_txn_mor: merge-on-read DELETE visible to PURE SQL READS — the
    * GDPR-shape delete ([[TxnTable.deleteKeysMor]]: one tombstone file
    * committed as manifest metadata, ZERO data rewritten — asserted:
    * the delete commit's entry paths are byte-identical to the previous
    * version's) followed by a plain `SELECT … FROM graft.q.t`: the
    * analyzer swaps the tombstoned relation for the snapshot anti-join
    * plan, so SQL readers see through tombstones exactly like library
    * readers — no refusal, no resurrected rows. Hashed output = the
    * surviving rows (the %9 rule is oracle-replayable); `mor_ok`
    * asserts SQL/library parity, the pinned pre-delete version still
    * seeing every row through SQL, the zero-rewrite property, and the
    * audit trail. */
  def txnMor(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "mor_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.mor_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.mor_orders
      SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders""")
    TxnTable.deleteKeysMor(s, loc,
      s.sql("SELECT o_orderkey FROM orders WHERE o_orderkey % 9 = 0"),
      "o_orderkey")
    def cnt(q: String): Long = s.sql(q).collect()(0).getLong(0)
    val nBase = cnt("SELECT COUNT(*) AS n FROM orders")
    val nDead = cnt(
      "SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 9 = 0")
    val zeroRewrite = TxnTable.manifest(s, loc, 2L).entries.map(_.path) ==
      TxnTable.manifest(s, loc, 1L).entries.map(_.path)
    val ok = cnt("SELECT COUNT(*) AS n FROM graft.q.mor_orders") ==
        nBase - nDead &&
      TxnTable.snapshot(s, loc).count() == nBase - nDead &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.mor_orders VERSION AS OF 1") ==
        nBase &&
      zeroRewrite &&
      TxnTable.history(s, loc).map(_._2) ==
        Seq("create", "append", "delete_mor")
    s.sql("""SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      FROM graft.q.mor_orders""")
      .withColumn("mor_ok", lit(ok))
  }

  /** sql_txn_agg_push: METADATA-ONLY AGGREGATES — a whole-table
    * `SELECT count(*), count(k), min(k), max(k)` answered ENTIRELY
    * from the manifest's per-file stat groups: the DSv2 scan builder
    * serves the pushed [[org.apache.spark.sql.connector.expressions.aggregate.Aggregation]]
    * as a driver-side LocalScan holding the one result row, and the
    * lazy parquet builder is never constructed — not one data file is
    * listed, opened or scanned ([[GraftTable.manifestAggregate]]). On
    * 100 TB this is the difference between a full-table scan and one
    * manifest read — the public-format "metadata-only query". Hashed
    * output = the aggregate row itself (the DuckDB oracle computes the
    * same aggregates over the same source slice); `agg_ok` certifies
    * the MECHANICS:
    *   - the unfiltered aggregate took the metadata path (instrumented
    *     counter) without building a file index (scan accounting
    *     untouched),
    *   - a FILTERED aggregate refuses the path (per-file min/max
    *     cannot answer it exactly), scans, and agrees,
    *   - a table with pending MoR tombstones never takes the path and
    *     counts only VISIBLE rows (visible rows ≠ file rows — the
    *     wrong-answer case the refusal list exists for). */
  def txnAggPush(s: SparkSession, d: String): DataFrame = {
    freshSqlTable(s, "ap_orders")
    val morLoc = freshSqlTable(s, "ap_mor")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.ap_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    val b = s.sql(
      "SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi FROM orders")
      .collect()(0)
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    Seq(s"o_orderkey <= $mid", s"o_orderkey > $mid").foreach(w =>
      s.sql(s"""INSERT INTO graft.q.ap_orders
        SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders WHERE $w"""))
    val agg = """SELECT count(*) AS cnt, count(o_orderkey) AS cnt_k,
      min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
      FROM graft.q.ap_orders"""
    val (hits0, scans0, builds0) =
      (GraftCatalog.aggAnswered.get(), GraftCatalog.scanTotal.get(),
        GraftCatalog.indexBuilds.get())
    val metaRow = s.sql(agg).collect()(0)
    val hits = GraftCatalog.aggAnswered.get() - hits0
    val scans = GraftCatalog.scanTotal.get() - scans0
    // builds counts INDEX CONSTRUCTIONS, not prune invocations: the
    // prune callback never fires for an unfiltered query, so scans==0
    // alone could not catch an eager-build regression here
    val builds = GraftCatalog.indexBuilds.get() - builds0
    // the same aggregate WITH a (vacuously true) filter must refuse
    // the metadata path, really scan, and agree on every value
    val hits1 = GraftCatalog.aggAnswered.get()
    val scanRow = s.sql(
      agg + s" WHERE o_orderkey >= ${b.getLong(0)}").collect()(0)
    val filteredRefused = GraftCatalog.aggAnswered.get() == hits1
    // pending tombstones: visible rows ≠ file rows — the count must
    // come from the anti-join snapshot plan, never the manifest
    s.sql("""CREATE TABLE graft.q.ap_mor (k BIGINT, v STRING)
      TBLPROPERTIES ('index' = 'k')""")
    s.sql("INSERT INTO graft.q.ap_mor SELECT id, CAST(id AS STRING) " +
      "FROM range(100)")
    val s2 = s; import s2.implicits._
    TxnTable.deleteKeysMor(s, morLoc,
      Seq(7L, 13L, 42L).toDF("k"), "k")
    val hits2 = GraftCatalog.aggAnswered.get()
    val morCnt = s.sql("SELECT count(*) AS n FROM graft.q.ap_mor")
      .collect()(0).getLong(0)
    val morRefused = GraftCatalog.aggAnswered.get() == hits2
    val ok = hits == 1L && scans == 0L && builds == 0L &&
      (0 until 4).forall(i => metaRow.getLong(i) == scanRow.getLong(i)) &&
      filteredRefused && morCnt == 97L && morRefused
    s.sql(agg).withColumn("agg_ok", lit(ok))
  }

  /** sql_txn_history: table MAINTENANCE as PURE SQL — the audit trail
    * as a metadata TABLE (`SELECT … FROM graft.q.t.history`, the
    * Delta/Iceberg shape, planned as a LocalScan over the log: no jobs,
    * no data I/O) and the maintenance operations as PROCEDURES
    * (`CALL graft.system.compact/checkpoint/restore/vacuum`). The
    * scenario runs the production lifecycle — append, append, OPTIMIZE-
    * equivalent compact, checkpoint, append, rollback via restore,
    * checkpoint again, VACUUM retain 1 — and hashes the trail read back
    * through pure SQL. `maint_ok` asserts: compaction preserved count;
    * restore rolled content back to the compacted version (the
    * post-compact append's rows gone); the checkpointed history read
    * costs ONE log read even after vacuum erased five manifests (audit
    * outlives retention); the current read still serves; and a vacuumed
    * version fails loudly instead of resolving. */
  def txnHistory(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "h_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.h_orders (
      o_orderkey BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    def cnt(q: String): Long = s.sql(q).collect()(0).getLong(0)
    val mid = cnt("SELECT (MIN(o_orderkey) + MAX(o_orderkey)) DIV 2 AS m " +
      "FROM orders")
    s.sql(s"""INSERT INTO graft.q.h_orders
      SELECT /*+ REPARTITION(1) */ o_orderkey,
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey < $mid""")
    s.sql(s"""INSERT INTO graft.q.h_orders
      SELECT /*+ REPARTITION(1) */ o_orderkey,
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey >= $mid""")
    val nBase = cnt("SELECT COUNT(*) AS n FROM orders")
    s.sql("CALL graft.system.compact('q.h_orders')")
    val afterCompact = cnt("SELECT COUNT(*) AS n FROM graft.q.h_orders")
    s.sql("CALL graft.system.checkpoint('q.h_orders')")
    s.sql("""INSERT INTO graft.q.h_orders
      SELECT /*+ REPARTITION(1) */ o_orderkey + 100000000,
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 7 = 0""")
    s.sql("CALL graft.system.restore('q.h_orders', 3)")
    val afterRestore = cnt("SELECT COUNT(*) AS n FROM graft.q.h_orders")
    // checkpoint THEN vacuum — the production discipline that keeps the
    // audit complete once retention erases the old manifests
    s.sql("CALL graft.system.checkpoint('q.h_orders')")
    s.sql("CALL graft.system.vacuum('q.h_orders', 1)")
    val r0 = TxnTable.logReads.get()
    val trail = TxnTable.history(s, loc)
    val historyReads = TxnTable.logReads.get() - r0
    val vacuumedGone = scala.util.Try(
      s.sql("SELECT COUNT(*) AS n FROM graft.q.h_orders VERSION AS OF 1")
        .collect()).isFailure
    val ok = afterCompact == nBase && afterRestore == nBase &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.h_orders") == nBase &&
      historyReads == 1L && trail.size == 6 && vacuumedGone
    s.sql("""SELECT version, operation, live_files
      FROM graft.q.h_orders.history""")
      .withColumn("maint_ok", lit(ok))
  }

  /** sql_txn_check: WRITE-TIME CHECK CONSTRAINTS in the log (the Delta
    * ADD CONSTRAINT shape, spelled as `check.<name>` table
    * properties): declared at CREATE or added via `ALTER TABLE … SET
    * TBLPROPERTIES ('check.n'='<boolean sql>')` — adding validates the
    * EXISTING rows first (one scan, loud) — and from then on EVERY
    * batch write path (INSERT/append, INSERT OVERWRITE, MERGE change
    * sets, CTAS) enforces at CHANGE-SET cost before committing: a
    * violating write fails loudly with the constraint named and
    * nothing lands (NULL passes — SQL CHECK three-valued semantics).
    * `UNSET TBLPROPERTIES` drops a constraint; un-enforcement is
    * always explicit (overwrites carry constraints; streaming sinks
    * refuse constrained tables rather than bypass). Scenario: a
    * positive-price check from birth, a keyspace check added then
    * dropped, violating INSERT + MERGE rejected with content proven
    * unchanged, an impossible constraint refused by existing data,
    * valid writes flowing throughout. Final content fully
    * hash-checked; the rejection/validation mechanics travel as
    * `check_ok`. At 100 TB: enforcement cost follows the CHANGE SET,
    * never the table — the invariant the whole write path keeps. */
  def txnCheck(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "ck_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.ck_orders (
      o_orderkey BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey',
        'check.positive' = 'price >= 0')""")
    s.sql("""INSERT INTO graft.q.ck_orders
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    def cnt(q: String): Long = s.sql(q).collect()(0).getLong(0)
    val nBase = cnt("SELECT COUNT(*) AS n FROM orders")
    // the keyspace cut is DERIVED (max key + 1), so the constraint is
    // satisfiable — and the shifted inserts violate it — at ANY SF
    val bound = cnt("SELECT MAX(o_orderkey) + 1 AS b FROM orders")
    // a violating INSERT fails loudly and lands NOTHING
    val insRejected = scala.util.Try(s.sql(
      s"""INSERT INTO graft.q.ck_orders
        SELECT o_orderkey + $bound,
          CAST(-CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(12,2))
        FROM orders""")).isFailure
    val nAfterIns = cnt("SELECT COUNT(*) AS n FROM graft.q.ck_orders")
    // ADD CONSTRAINT validates existing rows: an impossible one refuses
    val impossibleRefused = scala.util.Try(s.sql(
      """ALTER TABLE graft.q.ck_orders SET TBLPROPERTIES
        ('check.impossible' = 'o_orderkey < 0')""")).isFailure
    // ... a satisfiable one lands as ONE metadata commit
    s.sql(s"""ALTER TABLE graft.q.ck_orders SET TBLPROPERTIES
      ('check.keyspace' = 'o_orderkey < $bound')""")
    // a violating MERGE change set fails loudly, content unchanged
    val mergeRejected = scala.util.Try(s.sql(
      """MERGE INTO graft.q.ck_orders t
        USING (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0) s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET price = CAST(-1 AS DECIMAL(12,2))""")
      ).isFailure
    val negAfterMerge = cnt(
      "SELECT COUNT(*) AS n FROM graft.q.ck_orders WHERE price < 0")
    // valid writes flow: a repricing merge under both constraints
    s.sql("""MERGE INTO graft.q.ck_orders t
      USING (SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 5
                 AS DECIMAL(12,2)) AS price
             FROM orders WHERE o_orderkey % 19 = 0) s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET price = s.price""")
    // dropping the keyspace check re-opens the shifted keyspace
    s.sql("ALTER TABLE graft.q.ck_orders UNSET TBLPROPERTIES " +
      "('check.keyspace')")
    s.sql(s"""INSERT INTO graft.q.ck_orders
      SELECT o_orderkey + $bound, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 23 = 0""")
    // the STREAMING sink enforces the same constraints per epoch: one
    // change-set-sized read of the epoch's staged files before the
    // manifest CAS — a clean epoch commits, a violating epoch drops
    // its stage and lands nothing
    freshSqlTable(s, "ck_src")
    s.sql("""CREATE TABLE graft.q.ck_src (
      o_orderkey BIGINT, price DECIMAL(12,2))""")
    s.sql(s"""INSERT INTO graft.q.ck_src
      SELECT o_orderkey + ${2 * bound}, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 29 = 0""")
    val ckpt = graft.Fs.scratch("graft_sqlcheck", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    def drain(): Unit = {
      val q = s.readStream.table("graft.q.ck_src")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graft.q.ck_orders")
      q.awaitTermination()
    }
    drain() // the clean epoch commits under 'positive'
    val nAfterStream = cnt("SELECT COUNT(*) AS n FROM graft.q.ck_orders")
    s.sql(s"""INSERT INTO graft.q.ck_src
      SELECT o_orderkey + ${3 * bound},
        CAST(-CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 31 = 0""")
    val streamRejected = scala.util.Try(drain()).isFailure
    val nAfterReject = cnt("SELECT COUNT(*) AS n FROM graft.q.ck_orders")
    val ok = insRejected && nAfterIns == nBase && impossibleRefused &&
      mergeRejected && negAfterMerge == 0L &&
      streamRejected && nAfterReject == nAfterStream &&
      TxnTable.manifest(s, loc, TxnTable.currentVersion(s, loc))
        .checks.map(_._1) == Seq("positive") &&
      // write-attempt accounting: rejected writes leave NO version —
      // create, base insert, keyspace add, merge, keyspace unset,
      // %23 insert, streamed epoch. Growing this scenario means
      // updating this pin deliberately.
      TxnTable.versions(s, loc).size == 7
    s.sql("""SELECT o_orderkey, CAST(price AS DOUBLE) AS price
      FROM graft.q.ck_orders""")
      .withColumn("check_ok", lit(ok))
  }

  /** sql_txn_tag: NAMED TAGS — durable, vacuum-shielded version pins
    * (the Iceberg tag shape): `CALL graft.system.tag('q.t', 'baseline',
    * 1)` pins version 1 by name; `SELECT … VERSION AS OF 'baseline'`
    * resolves it; and VACUUM keeps the tagged version's manifest AND
    * files however far retention advances — load-bearing here because
    * the tagged version was OVERWRITTEN (its files are referenced by no
    * newer version: without the tag, retention would have deleted
    * them). Tags are immutable (re-tagging refused — a silently moved
    * tag would un-pin what someone depends on); `drop_tag` releases the
    * pin and the next vacuum ages the version out like any other.
    * Hashed output = the final content (replayable slices); the pin /
    * shield / immutability / release mechanics travel as `tag_ok`. */
  def txnTag(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "tg_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.tg_orders (
      o_orderkey BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.tg_orders
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    s.sql("CALL graft.system.tag('q.tg_orders', 'baseline', 1)")
    // OVERWRITE: v1's files are now referenced by NOTHING newer — only
    // the tag keeps them alive past retention
    s.sql("""INSERT OVERWRITE graft.q.tg_orders
      SELECT o_orderkey + 100000000, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 13 = 0""")
    s.sql("""INSERT INTO graft.q.tg_orders
      SELECT o_orderkey + 200000000, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 17 = 0""")
    s.sql("CALL graft.system.vacuum('q.tg_orders', 1)")
    def cnt(q: String): Long = s.sql(q).collect()(0).getLong(0)
    val nBase = cnt("SELECT COUNT(*) AS n FROM orders")
    val n13 = cnt("SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 13 = 0")
    val n17 = cnt("SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 17 = 0")
    val baselineAlive = cnt("SELECT COUNT(*) AS n FROM graft.q.tg_orders " +
      "VERSION AS OF 'baseline'") == nBase &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.tg_orders VERSION AS OF 1") ==
        nBase
    val untaggedGone = scala.util.Try(s.sql(
      "SELECT COUNT(*) AS n FROM graft.q.tg_orders VERSION AS OF 2")
      .collect()).isFailure
    val immutable = scala.util.Try(s.sql(
      "CALL graft.system.tag('q.tg_orders', 'baseline', 3)")
      .collect()).isFailure
    val unknownLoud = scala.util.Try(s.sql(
      "SELECT COUNT(*) AS n FROM graft.q.tg_orders VERSION AS OF 'nope'")
      .collect()).isFailure
    // release the pin: the next vacuum ages v1 out like any version
    s.sql("CALL graft.system.drop_tag('q.tg_orders', 'baseline')")
    s.sql("CALL graft.system.vacuum('q.tg_orders', 1)")
    val released = scala.util.Try(s.sql(
      "SELECT COUNT(*) AS n FROM graft.q.tg_orders VERSION AS OF 1")
      .collect()).isFailure
    val ok = baselineAlive && untaggedGone && immutable && unknownLoud &&
      released &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.tg_orders") == n13 + n17
    s.sql("""SELECT o_orderkey, CAST(price AS DOUBLE) AS price
      FROM graft.q.tg_orders""")
      .withColumn("tag_ok", lit(ok))
  }

  /** sql_txn_branch: named WRITABLE BRANCHES as pure SQL — the staging
    * lifecycle first-class instead of the clone+publish namespace
    * convention. `CALL graft.system.branch('q.t', 'dev')` forks a
    * writable lineage at the current version (one manifest write, zero
    * data moved); writes address the branch BY NAME through the
    * catalog (`INSERT INTO graft.q.t.branch_dev` — the Iceberg
    * `t.branch_<name>` shape) and advance only the branch's version
    * counter; reads come back via the same identifier or `VERSION AS
    * OF 'dev'`; `CALL graft.system.fastforward` publishes the branch
    * head onto main as ONE commit (the ref base advances, so continued
    * branch work fast-forwards again); a fast-forward after main moved
    * independently is REFUSED loudly (that is publish/merge
    * territory). br_ok carries: main pinned (content AND version
    * count) through two branch writes, branch readable both ways,
    * each fast-forward advancing main exactly once, and the non-FF
    * refusal. Final content is replayable arithmetic. */
  def txnBranch(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "br_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.br_orders (
      o_orderkey BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.br_orders
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) FROM orders""")
    def cnt(q: String): Long = s.sql(q).collect()(0).getLong(0)
    def modCnt(m: Int): Long =
      cnt(s"SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % $m = 0")
    val nBase = cnt("SELECT COUNT(*) AS n FROM orders")
    val (n13, n17, n19, n23) = (modCnt(13), modCnt(17), modCnt(19), modCnt(23))
    s.sql("CALL graft.system.branch('q.br_orders', 'dev')")
    def insBranch(shift: Long, m: Int): Unit =
      s.sql(s"""INSERT INTO graft.q.br_orders.branch_dev
        SELECT o_orderkey + $shift, CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders WHERE o_orderkey % $m = 0""")
    insBranch(100000000L, 13)
    insBranch(200000000L, 17)
    // two branch commits later: main's content AND version count pinned
    val mainPinned =
      cnt("SELECT COUNT(*) AS n FROM graft.q.br_orders") == nBase &&
        TxnTable.versions(s, loc) == Seq(0L, 1L)
    val branchRead =
      cnt("SELECT COUNT(*) AS n FROM graft.q.br_orders.branch_dev") ==
        nBase + n13 + n17 &&
        cnt("SELECT COUNT(*) AS n FROM graft.q.br_orders " +
          "VERSION AS OF 'dev'") == nBase + n13 + n17
    s.sql("CALL graft.system.fastforward('q.br_orders', 'dev')")
    val ff1 = TxnTable.versions(s, loc) == Seq(0L, 1L, 2L) &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.br_orders") ==
        nBase + n13 + n17
    // the ref base advanced with the fast-forward: continued branch
    // work fast-forwards again
    insBranch(300000000L, 19)
    s.sql("CALL graft.system.fastforward('q.br_orders', 'dev')")
    val ff2 = TxnTable.versions(s, loc) == Seq(0L, 1L, 2L, 3L) &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.br_orders") ==
        nBase + n13 + n17 + n19
    // main moves INDEPENDENTLY → the next fast-forward is refused
    // (the branch's %29 rows never land; publish/merge territory)
    s.sql(s"""INSERT INTO graft.q.br_orders
      SELECT o_orderkey + 400000000, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 23 = 0""")
    insBranch(500000000L, 29)
    val nonFfLoud = scala.util.Try(s.sql(
      "CALL graft.system.fastforward('q.br_orders', 'dev')")
      .collect()).isFailure
    // REBASE replays the branch's pending change onto main's moved
    // head: two disjoint appends → pure metadata (zero data files
    // read or moved — asserted from op metrics), the ref base
    // advances, and the fast-forward that was just refused lands BOTH
    val n29 = modCnt(29)
    s.sql("CALL graft.system.rebase('q.br_orders', 'dev')")
    val wantAll = nBase + n13 + n17 + n19 + n23 + n29
    val bdv = TxnTable.branchDir(s, loc, "dev")
    val metadataOnly = TxnTable.manifest(s, bdv,
      TxnTable.currentVersion(s, bdv)).metrics.get("recomputed").isEmpty
    val rebased = metadataOnly &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.br_orders.branch_dev") ==
        wantAll
    s.sql("CALL graft.system.fastforward('q.br_orders', 'dev')")
    val ok = mainPinned && branchRead && ff1 && ff2 && nonFfLoud &&
      rebased &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.br_orders") == wantAll
    s.sql("""SELECT o_orderkey, CAST(price AS DOUBLE) AS price
      FROM graft.q.br_orders""")
      .withColumn("br_ok", lit(ok))
  }

  /** sql_txn_rename: RENAME and DROP COLUMN as pure metadata — COLUMN
    * MAPPING through the log (the Delta 'name'-mode / Iceberg field-id
    * shape): every column's PHYSICAL name is frozen at birth in the
    * committed schema's field metadata, so `ALTER TABLE … RENAME
    * COLUMN` is ONE manifest write with every data file carried
    * verbatim (asserted: entry paths byte-identical) — old files
    * resolve under the NEW name because reads request physical names
    * and project to logical — and a pinned pre-rename `VERSION AS OF`
    * keeps the OLD name by construction (it reads its own committed
    * schema). DROP COLUMN retires the physical name in the log; a
    * later ADD COLUMN of the same name mints a FRESH physical, so the
    * dropped column's old values can never resurrect through by-name
    * parquet resolution (asserted: re-added column reads NULL for
    * every pre-drop row). Post-rename INSERTs write physical names;
    * the lifecycle ends with three generations of files under one
    * logical schema, fully hash-checked; `rn_ok` carries the
    * zero-rewrite, pinning, mapping-metadata, and trail assertions.
    * At 100 TB: renaming or dropping a column costs O(metadata). */
  def txnRename(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "rn_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.rn_orders (
      o_orderkey BIGINT, price DECIMAL(12,2), note STRING)
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.rn_orders
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)), o_orderstatus
      FROM orders""")
    s.sql("ALTER TABLE graft.q.rn_orders RENAME COLUMN price TO amount")
    s.sql("""INSERT INTO graft.q.rn_orders
      SELECT o_orderkey + 100000000, CAST(o_totalprice AS DECIMAL(12,2)),
        CAST(NULL AS STRING)
      FROM orders WHERE o_orderkey % 13 = 0""")
    s.sql("ALTER TABLE graft.q.rn_orders DROP COLUMN note")
    s.sql("ALTER TABLE graft.q.rn_orders ADD COLUMN note STRING")
    s.sql("""INSERT INTO graft.q.rn_orders
      SELECT o_orderkey + 200000000, CAST(o_totalprice AS DECIMAL(12,2)), 'R'
      FROM orders WHERE o_orderkey % 17 = 0""")
    def cnt(q: String): Long = s.sql(q).collect()(0).getLong(0)
    val nBase = cnt("SELECT COUNT(*) AS n FROM orders")
    // rename (v1→v2), drop (v3→v4), re-add (v4→v5): all metadata-only
    def samePaths(a: Long, b: Long): Boolean =
      TxnTable.manifest(s, loc, a).entries.map(_.path) ==
        TxnTable.manifest(s, loc, b).entries.map(_.path)
    val pinned = s.sql("SELECT * FROM graft.q.rn_orders VERSION AS OF 1")
    val sch = TxnTable.manifest(s, loc, 6L).schema.get
    val ok = samePaths(1L, 2L) && samePaths(3L, 4L) && samePaths(4L, 5L) &&
      // the pinned pre-rename version keeps the OLD names and the OLD
      // note values
      pinned.schema.fieldNames.toSeq ==
        Seq("o_orderkey", "price", "note") &&
      pinned.filter("note IS NOT NULL").count() == nBase &&
      // the current version resolves old files' price bytes under the
      // NEW logical name, and the re-added note reads NULL everywhere
      // except the post-re-add insert
      s.sql("SELECT * FROM graft.q.rn_orders").schema.fieldNames.toSeq ==
        Seq("o_orderkey", "amount", "note") &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.rn_orders " +
        "WHERE note IS NOT NULL") ==
        cnt("SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 17 = 0") &&
      // the mapping itself: amount's physical is its birth name, the
      // re-added note minted a FRESH physical (never the retired one)
      sch("amount").metadata.getString("gphys") == "price" &&
      sch("note").metadata.getString("gphys") != "note" &&
      TxnTable.history(s, loc).map(_._2) == Seq("create", "append",
        "rename", "append", "drop", "evolve", "append")
    s.sql("""SELECT o_orderkey, CAST(amount AS DOUBLE) AS amount, note
      FROM graft.q.rn_orders""")
      .withColumn("rn_ok", lit(ok))
  }

  /** sql_txn_detail: the DESCRIBE-DETAIL-equivalent one-row operational
    * summary as a metadata table — `SELECT * FROM graft.q.t.detail`
    * (the Delta shape): manifest format version, current version with
    * its op + commit timestamp, live file count, live BYTES from the
    * manifest v5 per-file sizes, clustering declaration, pending
    * tombstones, change-feed refs, newest checkpoint — the at-a-glance
    * surface an operator reads before touching a 100 TB table, all
    * from the LOG (LocalScan: no jobs, no data I/O — asserted from the
    * physical plan). Hashed output = the replayable columns (literal
    * at any SF: single-file inserts); the non-replayable ones
    * (wall-clock ts, parquet byte sizes) are asserted against
    * TxnTable state and travel as `detail_ok`. */
  def txnDetail(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "dt_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.dt_orders (
      o_orderkey BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    val mid = s.sql("SELECT (MIN(o_orderkey) + MAX(o_orderkey)) DIV 2 AS m " +
      "FROM orders").collect()(0).getLong(0)
    s.sql(s"""INSERT INTO graft.q.dt_orders
      SELECT /*+ REPARTITION(1) */ o_orderkey,
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey < $mid""")
    s.sql(s"""INSERT INTO graft.q.dt_orders
      SELECT /*+ REPARTITION(1) */ o_orderkey,
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey >= $mid""")
    s.sql("CALL graft.system.checkpoint('q.dt_orders')")
    val detail = s.sql("SELECT * FROM graft.q.dt_orders.detail")
    // the operational surface must cost NO jobs: a driver-computed
    // LocalScan over the log, never a distributed read
    val localScan = detail.queryExecution.executedPlan.toString
      .contains("LocalTableScan")
    val row = detail.collect()(0)
    val m = TxnTable.manifest(s, loc, 2L)
    val ok = localScan &&
      row.getLong(row.fieldIndex("committed_ts")) == m.ts &&
      TxnTable.tableBytes(s, loc, 2L)
        .contains(row.getLong(row.fieldIndex("total_bytes"))) &&
      row.getLong(row.fieldIndex("total_bytes")) > 0L
    s.sql("""SELECT format, version, operation, num_files, index_cols,
      str_index_cols, num_tombstones, num_cdc_files, checkpoint_version
      FROM graft.q.dt_orders.detail""")
      .withColumn("detail_ok", lit(ok))
  }

  /** sql_txn_merge: MERGE INTO as PURE SQL TEXT — the full CDC
    * statement (conditional DELETE + UPDATE SET * + INSERT *) resolved
    * by the analyzer, swapped by GraftDmlRule for the eager command
    * that compiles the actions into a keyed change set, and applied
    * through the FILE-PRUNED [[TxnTable.applyChanges]] — a SQL MERGE
    * touching one key region rewrites that region's files, exactly like
    * the library call. The change rules are deterministic arithmetic
    * (update keys %5 outside %7, delete keys %7, insert keyspace-shifted
    * %11), so the merged content is fully oracle-replayable; `merge_ok`
    * asserts the audit trail and copy-on-write pinning. */
  def txnMerge(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "m_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.m_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.m_orders
      SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders""")
    s.sql("""CREATE OR REPLACE TEMP VIEW merge_src AS
      SELECT o_orderkey, 'U' AS o_orderstatus,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 100 AS DECIMAL(12,2))
          AS price, 'D' AS is_del
      FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)), 'Y'
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'N',
        CAST(o_totalprice AS DECIMAL(12,2)), 'D'
      FROM orders WHERE o_orderkey % 11 = 0""")
    s.sql("""MERGE INTO graft.q.m_orders t USING merge_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.is_del = 'Y' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val nBase = s.sql("SELECT COUNT(*) AS n FROM orders")
      .collect()(0).getLong(0)
    val pinned = s.sql(
      "SELECT COUNT(*) AS n FROM graft.q.m_orders VERSION AS OF 1")
      .collect()(0).getLong(0)
    val ok = pinned == nBase &&
      TxnTable.history(s, loc).map(_._2) == Seq("create", "append", "merge")
    s.sql("""SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      FROM graft.q.m_orders""")
      .withColumn("merge_ok", lit(ok))
  }

  /** sql_txn_merge_sync: MERGE with `WHEN NOT MATCHED BY SOURCE` — the
    * FULL-SYNC/replication statement (mirror a target to its source in
    * one MERGE): matched keys update, unmatched-by-target keys insert,
    * and keys the source NO LONGER CARRIES — resolved by anti-joining
    * the target snapshot against the source's key set, never a full
    * compare — either DELETE or age out via a conditional target-only
    * UPDATE, first-match-wins. Source = a deterministic reshape of
    * orders (keys %3 ∈ {0,1} kept, %3=0 repriced, +shifted %17 keys);
    * the absentees (%3=2) split on a target-only condition: high-price
    * rows age to status 'X', the rest delete. Everything is replayable
    * arithmetic → the merged table is fully hash-checked; `sync_ok`
    * asserts trail + copy-on-write pinning. */
  def txnMergeSync(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "ms_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.ms_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.ms_orders
      SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders""")
    s.sql("""CREATE OR REPLACE TEMP VIEW sync_src AS
      SELECT o_orderkey, o_orderstatus,
        CASE WHEN o_orderkey % 3 = 0
          THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 50 AS DECIMAL(12,2))
          ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price
      FROM orders WHERE o_orderkey % 3 < 2
      UNION ALL
      SELECT o_orderkey + 300000000, 'S',
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 17 = 0""")
    s.sql("""MERGE INTO graft.q.ms_orders t USING sync_src s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.price > 1000 THEN
        UPDATE SET o_orderstatus = 'X'
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val nBase = s.sql("SELECT COUNT(*) AS n FROM orders")
      .collect()(0).getLong(0)
    val pinned = s.sql(
      "SELECT COUNT(*) AS n FROM graft.q.ms_orders VERSION AS OF 1")
      .collect()(0).getLong(0)
    val ok = pinned == nBase &&
      TxnTable.history(s, loc).map(_._2) == Seq("create", "append", "merge")
    s.sql("""SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      FROM graft.q.ms_orders""")
      .withColumn("sync_ok", lit(ok))
  }

  /** sql_txn_changes: the CHANGE FEED as a metadata TABLE —
    * `graft.q.t.changes` (the Delta CDF / `table_changes` shape) serves
    * the `_cdc/` files [[TxnTable.overwriteCdc]] publishes, through
    * Spark's own parquet scan: BATCH (`SELECT … FROM
    * graft.q.t.changes` — the whole committed feed, data-sized and
    * distributed, never a LocalScan) and STREAMING
    * (`readStream.table("graft.q.t.changes")` — offsets are the parent
    * table's commit versions, one commit per micro-batch under the rate
    * limit; commits that published no feed pass as empty batches). The
    * scenario publishes two deterministic change sets, reads the feed
    * both ways, and proves the incremental contract: v1-snapshot + the
    * STREAMED signed deltas ≡ a direct recompute of the latest version,
    * group for group. Hashed output = the batch feed (both diffs are
    * replayable arithmetic); `ch_ok` carries the fold equality and the
    * commit trail. At 100 TB the feed is the product: downstream
    * consumers fold deltas instead of rescanning the table. */
  def txnChanges(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "ch_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.ch_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(14,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    TxnTable.append(s, loc, TxnTable.ordersSlice14(s, d).repartition(4))
    TxnTable.overwriteCdc(s, loc, TxnTable.applyOrderChanges(
      TxnTable.snapshot(s, loc, 1), 50, 100, 61, 97, 100000000L, "N"),
      "o_orderkey")
    TxnTable.overwriteCdc(s, loc, TxnTable.applyOrderChanges(
      TxnTable.snapshot(s, loc, 2), 30, 50, 77, 89, 200000000L, "M"),
      "o_orderkey")
    // STREAM the feed behind the identifier; fold v1 + signed deltas
    import org.apache.spark.sql.functions.{count, sum}
    val q = s.readStream
      .option("maxVersionsPerTrigger", "1")
      .table("graft.q.ch_orders.changes")
      .groupBy(org.apache.spark.sql.functions.col("o_orderstatus"))
      .agg(sum(org.apache.spark.sql.functions.col("w")).as("n"),
        sum(org.apache.spark.sql.functions.col("w") *
          org.apache.spark.sql.functions.col("price")).as("total"))
      .writeStream.format("memory").queryName("sql_txn_changes_delta")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val c = org.apache.spark.sql.functions.col _
    def groups(df: org.apache.spark.sql.DataFrame): Map[String, (Long, BigDecimal)] =
      df.collect().map(r => (r.getString(0),
        (r.getLong(1), BigDecimal(r.getDecimal(2))))).toMap
    val fold = groups(
      TxnTable.snapshot(s, loc, 1).groupBy(c("o_orderstatus"))
        .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"),
          sum(c("price")).as("total"))
        .unionByName(s.table("sql_txn_changes_delta"))
        .groupBy(c("o_orderstatus"))
        .agg(sum(c("n")).as("n"), sum(c("total")).as("total"))
        .filter(c("n") =!= 0))
    val direct = groups(
      TxnTable.snapshot(s, loc).groupBy(c("o_orderstatus"))
        .agg(count(org.apache.spark.sql.functions.lit(1)).as("n"),
          sum(c("price")).as("total")))
    val ok = fold == direct && fold.nonEmpty &&
      TxnTable.versions(s, loc) == Seq(0L, 1L, 2L, 3L)
    s.sql("""SELECT o_orderkey, w, o_orderstatus,
      CAST(price AS DOUBLE) AS price FROM graft.q.ch_orders.changes""")
      .withColumn("ch_ok", lit(ok))
  }

  /** sql_txn_merge_multi: COMPOSITE-KEY MERGE — `ON t.ck = s.ck AND
    * t.ok = s.ok`: the key tuple (custkey, orderkey) is unique, and
    * file pruning INTERSECTS the per-dimension manifest boxes — a file
    * rewrites only when some change key falls inside its box in EVERY
    * key dimension. Four single-file inserts clustered by `ck` give
    * tight ck boxes (ok spans everywhere), and the change set touches
    * one ck quarter only, so exactly that quarter's file (+ the
    * stat-less sentinel) rewrites — asserted from the merge commit's
    * touched/untouched metrics. The keyspace-shifted inserts
    * (ok + 5e8) fall outside every file's ok box and prune on THAT
    * dimension instead. All rules replayable; survivors hash-checked;
    * `cmulti_ok` carries accounting + trail. */
  def txnMergeMulti(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "cm_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.cm_orders (
      ck BIGINT, ok BIGINT, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'ck,ok')""")
    val b = s.sql("SELECT MIN(o_custkey) AS lo, MAX(o_custkey) AS hi " +
      "FROM orders").collect()(0)
    val (cmin, cmax) = (b.getLong(0), b.getLong(1))
    val span = cmax - cmin
    val qc = (0L to 4L).map(i => cmin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.cm_orders
        SELECT /*+ REPARTITION(1) */ o_custkey, o_orderkey,
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders
        WHERE o_custkey >= ${qc(i)} AND o_custkey < ${qc(i + 1)}""")
    }
    s.sql(s"""CREATE OR REPLACE TEMP VIEW cm_src AS
      SELECT o_custkey AS ck, o_orderkey AS ok,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 10 AS DECIMAL(12,2))
          AS price,
        CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS act
      FROM orders WHERE o_custkey >= ${qc(1)} AND o_custkey < ${qc(2)}
      UNION ALL
      SELECT o_custkey, o_orderkey + 500000000,
        CAST(o_totalprice AS DECIMAL(12,2)), 'I'
      FROM orders WHERE o_custkey >= ${qc(1)} AND o_custkey < ${qc(2)}
        AND o_orderkey % 11 = 0""")
    s.sql("""MERGE INTO graft.q.cm_orders t USING cm_src s
      ON t.ck = s.ck AND t.ok = s.ok
      WHEN MATCHED AND s.act = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET price = s.price
      WHEN NOT MATCHED THEN INSERT (ck, ok, price)
        VALUES (s.ck, s.ok, s.price)""")
    val res = TxnTable.commitMetrics(s, loc)
    val ok = res("touched") <= 2 && res("untouched") >= 3 &&
      TxnTable.history(s, loc).map(_._2) == Seq("create", "append",
        "append", "append", "append", "merge")
    s.sql("""SELECT ck, ok, CAST(price AS DOUBLE) AS price
      FROM graft.q.cm_orders""")
      .withColumn("cmulti_ok", lit(ok))
  }

  /** sql_txn_update: UPDATE as PURE SQL TEXT — the statement routes
    * through GraftDmlRule to a keyed 'U' change set applied by the
    * file-pruned merge (key = the table's index column), so an UPDATE
    * touching one key region rewrites that region's files. The
    * assignment and predicate are deterministic arithmetic; `upd_ok`
    * asserts the audit trail and that the pre-update version stays
    * pinned-readable (copy-on-write through the log). */
  def txnUpdate(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "u_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.u_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    s.sql("""INSERT INTO graft.q.u_orders
      SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders""")
    s.sql("""UPDATE graft.q.u_orders
      SET o_orderstatus = 'R', price = CAST(price + 50 AS DECIMAL(12,2))
      WHERE o_orderkey % 13 = 0""")
    val nBase = s.sql("SELECT COUNT(*) AS n FROM orders")
      .collect()(0).getLong(0)
    val pinnedUntouched = s.sql(
      "SELECT COUNT(*) AS n FROM graft.q.u_orders VERSION AS OF 1 " +
        "WHERE o_orderstatus = 'R'").collect()(0).getLong(0)
    val ok = pinnedUntouched == 0L &&
      s.sql("SELECT COUNT(*) AS n FROM graft.q.u_orders")
        .collect()(0).getLong(0) == nBase &&
      TxnTable.history(s, loc).map(_._2) == Seq("create", "append", "merge")
    s.sql("""SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      FROM graft.q.u_orders""")
      .withColumn("upd_ok", lit(ok))
  }

  /** sql_txn_delete: file-pruned DELETE as PURE SQL TEXT — `DELETE FROM
    * graft.q.del_orders WHERE k >= … AND k <= …` compiled to
    * [[TxnTable.delete]]. Four quarter-slice single-file inserts give
    * every file a tight key range; deleting exactly the second quarter
    * must DROP that file from the manifest without reading it, rewrite
    * nothing, and keep the other quarters and the zero-row create
    * sentinel verbatim (no row of the sentinel can match). Hashed
    * output = the survivors (the quarter rule is oracle-replayable);
    * `del_ok` asserts the accounting and the audit trail. */
  def txnDelete(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "del_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.del_orders (
      o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    val b = s.sql("SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi " +
      "FROM orders").collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val span = kmax - kmin
    // quarter cuts, same arithmetic the oracle replays
    val qc = (0L to 4L).map(i => kmin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.del_orders
        SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders
        WHERE o_orderkey >= ${qc(i)} AND o_orderkey < ${qc(i + 1)}""")
    }
    s.sql("DELETE FROM graft.q.del_orders " +
      s"WHERE o_orderkey >= ${qc(1)} AND o_orderkey <= ${qc(2) - 1}")
    // the accounting comes from the DELETE commit's own #metrics=
    // header — in the log, not a session global
    val res = TxnTable.commitMetrics(s, loc)
    val trail = TxnTable.history(s, loc).map(_._2)
    val ok = res("dropped") == 1 && res("rewritten") == 0 &&
      res("kept") == 4 &&
      trail == Seq("create", "append", "append", "append", "append", "delete")
    s.sql("""SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price
      FROM graft.q.del_orders""")
      .withColumn("del_ok", lit(ok))
  }

  /** sql_txn_delete_str: file-pruned DELETE keyed on a STRING column —
    * `DELETE FROM graft.q.t WHERE st = '…'` compiled to
    * [[TxnTable.delete]], pruning from the manifest's TRUNCATED string
    * stats (conservative by construction: recorded lo ≤ true min,
    * recorded hi ≥ true max, so a metadata-only drop under truncation is
    * still exact). Per-status single-file inserts give each file a
    * single-value [st, st] range; deleting one status must DROP exactly
    * that file without reading it, rewrite nothing, and keep the other
    * files and the zero-row create sentinel verbatim. Hashed output =
    * the survivors (the status rule is oracle-replayable); `dstr_ok`
    * asserts the accounting and the audit trail. */
  def txnDeleteStr(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "ds_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.ds_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('strindex' = 'st')""")
    // one single-file insert per status: each file's string range is the
    // single value [status, status] — the layout string stats can prune
    val statuses = s.sql(
      "SELECT DISTINCT o_orderstatus AS st FROM orders ORDER BY st")
      .collect().map(_.getString(0)).toSeq
    statuses.foreach { st =>
      s.sql(s"""INSERT INTO graft.q.ds_orders
        SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders WHERE o_orderstatus = '$st'""")
    }
    val victim = statuses.head // replayable: lexicographic min status
    s.sql(s"DELETE FROM graft.q.ds_orders WHERE st = '$victim'")
    val res = TxnTable.commitMetrics(s, loc)
    val trail = TxnTable.history(s, loc).map(_._2)
    val ok = res("dropped") == 1 && res("rewritten") == 0 &&
      res("kept") == statuses.size &&
      trail == Seq("create") ++ statuses.map(_ => "append") :+ "delete"
    s.sql("""SELECT o_orderkey, st, CAST(price AS DOUBLE) AS price
      FROM graft.q.ds_orders""")
      .withColumn("dstr_ok", lit(ok))
  }

  /** sql_txn_merge_str: MERGE keyed on a STRING column — the CDC
    * statement every real pipeline runs (string ids: uuids, emails,
    * SKUs) over a string-clustered table. The merge key routes through
    * the manifest's TRUNCATED string stats (the sql_txn_delete_str
    * machinery): per-status single-file inserts of `sid = status || '-'
    * || zero-padded key` give each file a tight prefix region, and a
    * change set confined to ONE status prefix must rewrite exactly that
    * file (+ the stat-less create sentinel) — asserted from the merge
    * commit's touched/untouched metrics. Truncated bounds are
    * conservative by construction (recorded lo ≤ true min, hi ≥ true
    * max), so pruning under truncation can only over-touch, never lose
    * a change. Inserts mint `status || '~'` ids — '~' sorts above every
    * digit, so they fall OUTSIDE every file's box and stage as their
    * own cluster. All rules replayable; survivors fully hash-checked;
    * `smstr_ok` carries the accounting + trail. */
  def txnMergeStr(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "sm_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.sm_orders (
      sid STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('strindex' = 'sid')""")
    val statuses = s.sql(
      "SELECT DISTINCT o_orderstatus AS st FROM orders ORDER BY st")
      .collect().map(_.getString(0)).toSeq
    statuses.foreach { st =>
      s.sql(s"""INSERT INTO graft.q.sm_orders
        SELECT /*+ REPARTITION(1) */
          o_orderstatus || '-' || lpad(CAST(o_orderkey AS STRING), 10, '0'),
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders WHERE o_orderstatus = '$st'""")
    }
    val victim = statuses.head // replayable: lexicographic min status
    s.sql(s"""CREATE OR REPLACE TEMP VIEW sm_src AS
      SELECT o_orderstatus || '-'
          || lpad(CAST(o_orderkey AS STRING), 10, '0') AS sid,
        CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 10 AS DECIMAL(12,2))
          AS price,
        CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END AS act
      FROM orders WHERE o_orderstatus = '$victim'
      UNION ALL
      SELECT o_orderstatus || '~'
          || lpad(CAST(o_orderkey AS STRING), 10, '0'),
        CAST(o_totalprice AS DECIMAL(12,2)), 'I'
      FROM orders WHERE o_orderstatus = '$victim' AND o_orderkey % 11 = 0""")
    s.sql("""MERGE INTO graft.q.sm_orders t USING sm_src s
      ON t.sid = s.sid
      WHEN MATCHED AND s.act = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET price = s.price
      WHEN NOT MATCHED THEN INSERT (sid, price) VALUES (s.sid, s.price)""")
    val res = TxnTable.commitMetrics(s, loc)
    val ok = res("touched") <= 2 &&
      res("untouched") == statuses.size - 1 &&
      TxnTable.history(s, loc).map(_._2) ==
        Seq("create") ++ statuses.map(_ => "append") :+ "merge"
    s.sql("""SELECT sid, CAST(price AS DOUBLE) AS price
      FROM graft.q.sm_orders""")
      .withColumn("smstr_ok", lit(ok))
  }

  /** sql_txn_delete_multi: MULTI-COLUMN DELETE conjunction — `WHERE k
    * >= a AND k <= b AND st = '…'` where only `k` is indexed: the key
    * bounds PRUNE files from manifest stats (quarters outside the range
    * and the zero-row create sentinel keep their lines verbatim, never
    * listed or opened), and the status conjunct — no stats — rides into
    * the surviving file's rewrite as a RESIDUAL filter. Nothing can be
    * dropped metadata-only (the stats can't prove every row of the
    * quarter file matches the status), so the accounting must read
    * dropped=0 / kept=4 / rewritten=1 (the quarter file). Hashed output
    * = the survivors (quarter-cut + status rules are oracle-replayable);
    * `dmulti_ok` asserts accounting, trail, and the survivor count. */
  def txnDeleteMulti(s: SparkSession, d: String): DataFrame = {
    val loc = freshSqlTable(s, "dm_orders")
    view(s, d, "orders")
    s.sql("""CREATE TABLE graft.q.dm_orders (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    val b = s.sql("SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi " +
      "FROM orders").collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val span = kmax - kmin
    val qc = (0L to 4L).map(i => kmin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.dm_orders
        SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders
        WHERE o_orderkey >= ${qc(i)} AND o_orderkey < ${qc(i + 1)}""")
    }
    def cnt(q: String): Long = s.sql(q).collect()(0).getLong(0)
    val nBase = cnt("SELECT COUNT(*) AS n FROM orders")
    val nDead = cnt("SELECT COUNT(*) AS n FROM orders WHERE " +
      s"o_orderkey >= ${qc(1)} AND o_orderkey <= ${qc(2) - 1} " +
      "AND o_orderstatus = 'O'")
    s.sql("DELETE FROM graft.q.dm_orders " +
      s"WHERE o_orderkey >= ${qc(1)} AND o_orderkey <= ${qc(2) - 1} " +
      "AND st = 'O'")
    val res = TxnTable.commitMetrics(s, loc)
    val trail = TxnTable.history(s, loc).map(_._2)
    val ok = res("dropped") == 0 && res("rewritten") == 1 &&
      res("kept") == 4 &&
      cnt("SELECT COUNT(*) AS n FROM graft.q.dm_orders") == nBase - nDead &&
      trail == Seq("create", "append", "append", "append", "append", "delete")
    s.sql("""SELECT o_orderkey, st, CAST(price AS DOUBLE) AS price
      FROM graft.q.dm_orders""")
      .withColumn("dmulti_ok", lit(ok))
  }
}
