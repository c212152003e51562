package graft

import graft.operators.TxnTable
import graft.sources.GraftCatalog
import org.apache.spark.sql.functions._

/** The DataSourceV2 catalog contract: every table-format operation as
  * pure SQL text — CREATE / INSERT / SELECT / VERSION AS OF /
  * TIMESTAMP AS OF / DELETE / DROP — routed through the snapshot log. */
class CatalogSpec extends SparkSpec {

  private def sql(q: String) = spark.sql(q)

  private def fresh(name: String): String = {
    GraftCatalog.register(spark)
    sql(s"CREATE NAMESPACE IF NOT EXISTS graft.spec")
    sql(s"DROP TABLE IF EXISTS graft.spec.$name")
    name
  }

  /** What the sink's executor-side writer reports for a file it staged:
    * the file, its row count, and its stats under the table's current
    * index — measured here from the file read back (the writer measures
    * them from the rows as it writes). */
  private def sinkFile(loc: String, rel: String, rows: Long)
      : graft.sources.GraftStagedFile = {
    val m = TxnTable.manifest(spark, loc, TxnTable.currentVersion(spark, loc))
    val p = new org.apache.hadoop.fs.Path(TxnTable.pathFor(loc, rel))
    val df = spark.read.parquet(p.toString)
    val acc = TxnTable.fileStatsTracker(spark, df.schema, m.idxCols,
      m.strIdxCols).accumulator()
    df.queryExecution.toRdd.map(_.copy()).collect().foreach(acc.add)
    graft.sources.GraftStagedFile(rel, rows, acc.result,
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen, (m.idxCols, m.strIdxCols))
  }

  test("CREATE / INSERT / SELECT round-trip through pure SQL") {
    val t = fresh("roundtrip")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    assert(sql(s"SELECT * FROM graft.spec.$t").count() === 0)
    sql(s"INSERT INTO graft.spec.$t SELECT id, CONCAT('r', id) " +
      "FROM RANGE(100)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 100)
    // predicate pushdown reaches the parquet scan through the catalog
    val plan = sql(s"SELECT v FROM graft.spec.$t WHERE k = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(k,7"),
      s"filter not pushed through the DSv2 scan:\n$plan")
    // second INSERT is an append commit: two versions now exist
    sql(s"INSERT INTO graft.spec.$t SELECT id + 100, CONCAT('r', id + 100) " +
      "FROM RANGE(50)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    assert(TxnTable.versions(spark, loc) === Seq(0L, 1L, 2L))
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 150)
  }

  test("UPDATE on a transform-only-indexed table refuses cleanly") {
    val t = fresh("txupd")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, ts TIMESTAMP, v STRING) " +
      "TBLPROPERTIES ('index' = 'days(ts)')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, " +
      "timestamp_micros(id * 86400000000), CONCAT('r', id) FROM RANGE(5)")
    // a derived day is pruning metadata, not a row key — the UPDATE
    // must refuse with the contract message, not die resolving the
    // spec string as a column
    val e = intercept[Exception] {
      sql(s"UPDATE graft.spec.$t SET v = 'x' WHERE k = 1")
    }
    assert(e.getMessage.contains("partition-transform"),
      s"wrong refusal: ${e.getMessage}")
  }

  test("VERSION AS OF and TIMESTAMP AS OF pin snapshots via SQL") {
    val t = fresh("timetravel")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING)")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'a' FROM RANGE(10)")
    sql(s"INSERT INTO graft.spec.$t SELECT id + 10, 'b' FROM RANGE(5)")
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 0").count() === 0)
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 1").count() === 10)
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 2").count() === 15)
    assert(sql(s"SELECT * FROM graft.spec.$t").count() === 15)
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val ts1 = TxnTable.manifest(spark, loc, 1L).ts
    assert(sql(s"SELECT * FROM graft.spec.$t TIMESTAMP AS OF " +
      s"timestamp_millis(${ts1})").count() === 10)
    assert(sql(s"SELECT * FROM graft.spec.$t TIMESTAMP AS OF " +
      s"timestamp_millis(${ts1 - 1})").count() === 0)
    // a target before the table existed fails loudly
    val before = TxnTable.manifest(spark, loc, 0L).ts - 1
    intercept[Exception] {
      sql(s"SELECT * FROM graft.spec.$t TIMESTAMP AS OF " +
        s"timestamp_millis($before)").count()
    }
  }

  test("DELETE FROM prunes files through the manifest; truncate works") {
    val t = fresh("sqldelete")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // 4 single-file appends so each file has a tight key range (the
    // zero-row create sentinel holds no row and carries verbatim)
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 100}, 'x' FROM RANGE(100)")
    }
    sql(s"DELETE FROM graft.spec.$t WHERE k >= 100 AND k <= 299")
    // accounting travels in the DELETE commit's #metrics= header
    val res = TxnTable.commitMetrics(spark, loc)
    assert(res("dropped") === 2 && res("rewritten") <= 1,
      s"whole-file delete should be metadata-only, got $res")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 200)
    // boundary-straddling delete rewrites, residual filter applies
    sql(s"DELETE FROM graft.spec.$t WHERE k > 350")
    assert(sql(s"SELECT MAX(k) AS m FROM graft.spec.$t")
      .collect()(0).getLong(0) === 350)
    // DELETE without WHERE truncates; table stays readable + appendable
    sql(s"DELETE FROM graft.spec.$t")
    assert(sql(s"SELECT * FROM graft.spec.$t").count() === 0)
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'y' FROM RANGE(3)")
    assert(sql(s"SELECT * FROM graft.spec.$t").count() === 3)
    // any row predicate deletes: shapes the stats answer only in part
    // (LIKE, OR, bare IS NOT NULL, IS NULL, a DECIMAL bound) delete
    // exactly the rows a three-valued model predicts — a NULL never
    // deletes — rewriting whatever files the stats cannot clear
    val t2 = fresh("sqldelshapes")
    sql(s"CREATE TABLE graft.spec.$t2 (k BIGINT, v STRING, d DECIMAL(10,2)) " +
      "TBLPROPERTIES ('index' = 'k,d', 'strindex' = 'v')")
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t2 SELECT /*+ REPARTITION(1) */ id, " +
        "CASE id % 3 WHEN 0 THEN 'xa' WHEN 1 THEN 'yb' END, " +
        "CASE WHEN id % 5 = 0 THEN NULL " +
        "ELSE CAST(id * 1.25 AS DECIMAL(10,2)) END " +
        s"FROM RANGE(${i * 40}, ${(i + 1) * 40})")
    }
    type R = (Long, Option[String], Option[BigDecimal])
    def rows: Seq[R] = sql(s"SELECT k, v, d FROM graft.spec.$t2").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.getDecimal(2)).map(BigDecimal(_)))).toSeq.sortBy(_._1)
    val model0: Seq[R] = (0L until 120L).map(k => (k,
      Seq(Some("xa"), Some("yb"), None)((k % 3).toInt),
      if (k % 5 == 0) None else Some(BigDecimal(k) * BigDecimal("1.25"))))
    assert(rows === model0)
    Seq[(String, R => Boolean)](
      "v LIKE 'x%'" -> (_._2.exists(_.startsWith("x"))),
      "k = 1 OR v = 'x'" -> (r => r._1 == 1L || r._2.contains("x")),
      "d IS NULL" -> (_._3.isEmpty),
      "d <= 62.5" -> (_._3.exists(_ <= BigDecimal("62.5"))),
      "v IS NOT NULL" -> (_._2.isDefined)
    ).foldLeft(model0) { case (model, (where, deletes)) =>
      sql(s"DELETE FROM graft.spec.$t2 WHERE $where")
      val left = model.filterNot(deletes)
      assert(left.size < model.size, s"WHERE $where deletes nothing")
      assert(rows === left, s"DELETE WHERE $where")
      left
    }
  }

  test("DELETE takes its file verdicts from the read rule: bucket stats " +
      "keep all but the member's file verbatim") {
    // a bucket16(k) layout: eight bucket-homogeneous single-file inserts,
    // so every file's raw key box spans the keyspace and only its bucket
    // box can clear it for `k = 13`
    val t = fresh("sqldelbucket")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'bucket16(k)')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val s2 = spark
    import s2.implicits._
    (0L until 320L).groupBy(k => TxnTable.bucketOf(k, 16) / 2).toSeq
      .sortBy(_._1).foreach { case (_, ks) =>
        ks.map(k => (k, s"v$k")).toDF("k", "v")
          .createOrReplaceTempView("sqldelbucket_in")
        sql(s"INSERT INTO graft.spec.$t " +
          "SELECT /*+ REPARTITION(1) */ k, v FROM sqldelbucket_in")
      }
    val n = TxnTable.liveFiles(spark, loc,
      TxnTable.currentVersion(spark, loc)).size
    sql(s"DELETE FROM graft.spec.$t WHERE k = 13")
    val res = TxnTable.commitMetrics(spark, loc)
    assert(res("kept") >= n - 1 && res("rewritten") <= 1,
      s"bucket stats must keep all but 13's file verbatim: $res of $n")
    assert(sql(s"SELECT COUNT(*) FROM graft.spec.$t").collect()(0)
      .getLong(0) === 319L)
  }

  test("DELETE never rewrites the CREATE TABLE sentinel: a zero-match " +
      "delete is a change_noop under a view, an all-keep/drop delete " +
      "runs no Spark job") {
    val r = fresh("sqldelnoop")
    sql(s"CREATE TABLE graft.spec.$r (k BIGINT, st STRING, " +
      "price DECIMAL(12,2)) TBLPROPERTIES ('index' = 'k')")
    val rloc = s"${GraftCatalog.defaultWarehouse}/spec/$r"
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO graft.spec.$r SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 100}, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END, " +
        "CAST(id AS DECIMAL(12,2)) FROM RANGE(100)")
    }
    val mv = graft.Fs.freshScratch("graft_mv", "catalog_sqldelnoop")
    graft.operators.MatView.create(spark, mv, rloc, "st", "price")
    // matching nothing touches no file — the sentinel included — so the
    // commit is a provable no-op and the view stays incremental
    sql(s"DELETE FROM graft.spec.$r WHERE k >= 100000")
    val vNoop = TxnTable.currentVersion(spark, rloc)
    assert(TxnTable.commitMetrics(spark, rloc).get("change_noop")
      .contains(1L), "a zero-match DELETE must commit change_noop")
    assert(graft.operators.MatView.refresh(spark, mv).baseVersion === vNoop)
    // every verdict keep (three files, the sentinel) or drop (one whole
    // file): pure metadata, no Spark job
    val jobs = org.apache.spark.SpecBus.jobsDuring(spark.sparkContext) {
      sql(s"DELETE FROM graft.spec.$r WHERE k >= 100 AND k <= 199")
    }
    val m = TxnTable.commitMetrics(spark, rloc)
    assert(m("dropped") === 1L && m("rewritten") === 0L && m("kept") === 4L,
      m.toString)
    assert(jobs === 0, s"an all-keep/drop DELETE ran $jobs Spark jobs")
    assert(sql(s"SELECT COUNT(*) FROM graft.spec.$r").collect()(0)
      .getLong(0) === 300L)
  }

  test("DELETE keyed on a STRING column prunes from truncated string stats") {
    val t = fresh("sqldelstr")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, grp STRING) " +
      "TBLPROPERTIES ('strindex' = 'grp')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // three single-group files: each file's string range is one value
    Seq("alpha", "beta", "gamma").foreach { g =>
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"id, '$g' FROM RANGE(50)")
    }
    sql(s"DELETE FROM graft.spec.$t WHERE grp = 'beta'")
    val res = TxnTable.commitMetrics(spark, loc)
    assert(res("dropped") === 1 && res("rewritten") <= 1,
      s"single-value file should drop metadata-only, got $res")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 100)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE grp = 'beta'").collect()(0).getLong(0) === 0)
    // string RANGE delete: alpha < gamma bounds prune to one file
    sql(s"DELETE FROM graft.spec.$t WHERE grp >= 'a' AND grp < 'b'")
    val res2 = TxnTable.commitMetrics(spark, loc)
    assert(res2("dropped") === 1 && res2("kept") >= 1,
      s"string range should drop alpha's file, got $res2")
    assert(sql(s"SELECT DISTINCT grp FROM graft.spec.$t")
      .collect().map(_.getString(0)).toSeq === Seq("gamma"))
    // values LONGER than the 16-char stat truncation still delete
    // exactly (truncated bounds are conservative: rewrite, never drop
    // unless provably covered)
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id, CONCAT('longprefix0123456789-', id % 2) FROM RANGE(40)")
    sql(s"DELETE FROM graft.spec.$t WHERE grp = 'longprefix0123456789-0'")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE grp LIKE 'longprefix%'").collect()(0).getLong(0) === 20)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 70)
  }

  test("DELETE multi-column conjunction: indexed bounds prune, rest residual") {
    val t = fresh("sqldelmulti")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, grp STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 100}, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END " +
        "FROM RANGE(100)")
    }
    // k prunes to ONE file; grp (unindexed) residual-filters inside it
    sql(s"DELETE FROM graft.spec.$t WHERE k >= 100 AND k <= 199 " +
      "AND grp = 'odd'")
    val res = TxnTable.commitMetrics(spark, loc)
    assert(res("dropped") === 0 && res("kept") === 4 && res("rewritten") === 1,
      s"multi-column delete should prune on k and rewrite one file, got $res")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 350)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE k BETWEEN 100 AND 199").collect()(0).getLong(0) === 50)
    // conjunction where BOTH dims are indexed int columns still works
    val t2 = fresh("sqldelmulti2")
    sql(s"CREATE TABLE graft.spec.$t2 (k BIGINT, b BIGINT) " +
      "TBLPROPERTIES ('index' = 'k,b')")
    sql(s"INSERT INTO graft.spec.$t2 SELECT /*+ REPARTITION(1) */ " +
      "id, id DIV 50 FROM RANGE(100)")
    sql(s"INSERT INTO graft.spec.$t2 SELECT /*+ REPARTITION(1) */ " +
      "id + 100, 9 FROM RANGE(100)")
    // b=9 excludes file 1 (b in [0,1]); k<=150 intersects file 2
    sql(s"DELETE FROM graft.spec.$t2 WHERE b = 9 AND k <= 150")
    val loc2 = s"${GraftCatalog.defaultWarehouse}/spec/$t2"
    val res2 = TxnTable.commitMetrics(spark, loc2)
    assert(res2("kept") >= 1, s"b-stats must keep file 1 verbatim: $res2")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t2")
      .collect()(0).getLong(0) === 149)
    // null semantics: a NULL in a bound column is never deleted
    val t3 = fresh("sqldelnull")
    sql(s"CREATE TABLE graft.spec.$t3 (k BIGINT, grp STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t3 VALUES (1, 'a'), (2, NULL), (3, 'b')")
    sql(s"DELETE FROM graft.spec.$t3 WHERE k >= 1 AND k <= 3 AND grp <= 'b'")
    val left = sql(s"SELECT k FROM graft.spec.$t3").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(left === Seq(2L), s"NULL grp row must survive, got $left")
  }

  test("INSERT OVERWRITE replaces content as one commit") {
    val t = fresh("sqloverwrite")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING)")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'a' FROM RANGE(10)")
    sql(s"INSERT OVERWRITE graft.spec.$t SELECT id, 'b' FROM RANGE(4)")
    val rows = sql(s"SELECT k, v FROM graft.spec.$t").collect()
    assert(rows.length === 4 && rows.forall(_.getString(1) == "b"))
    // the overwritten version is still pinned-readable
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 1").count() === 10)
  }

  test("SQL reads see through pending MoR tombstones like library reads") {
    val t = fresh("sqlmor")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING)")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'a' FROM RANGE(10)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val s2 = spark
    import s2.implicits._
    TxnTable.deleteKeysMor(spark, loc, Seq(3L, 7L).toDF("k"), "k")
    // the read swaps to the snapshot anti-join plan: tombstoned rows
    // invisible, everything else intact — no refusal, no resurrection
    val keys = sql(s"SELECT k FROM graft.spec.$t").collect()
      .map(_.getLong(0)).toSet
    assert(keys === (0L until 10L).toSet -- Set(3L, 7L))
    // filters and projections compose over the swapped plan
    assert(sql(s"SELECT v FROM graft.spec.$t WHERE k >= 5").count() === 4)
    // a pinned PRE-delete version still sees every row through SQL
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 1").count() === 10)
    // library parity at the tombstoned version
    assert(TxnTable.snapshot(spark, loc).count() ===
      sql(s"SELECT * FROM graft.spec.$t").count())
    // a re-inserted tombstoned key is NEWER than the delete: visible
    sql(s"INSERT INTO graft.spec.$t SELECT 3, 'back' FROM RANGE(1)")
    assert(sql(s"SELECT v FROM graft.spec.$t WHERE k = 3").collect()
      .map(_.getString(0)).toSeq === Seq("back"))
    // compaction applies tombstones; the plain scan path serves again
    TxnTable.compact(spark, loc)
    assert(sql(s"SELECT * FROM graft.spec.$t").count() === 9)
  }

  test("MERGE INTO applies conditional CDC through pure SQL") {
    val t = fresh("sqlmerge")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING, p BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id, 'a', id * 10 FROM RANGE(100)")
    sql("""CREATE OR REPLACE TEMP VIEW m_src AS
      SELECT id AS k, 'u' AS v, id * 10 + 1 AS p, 'U' AS act FROM RANGE(10)
      UNION ALL SELECT id + 90, 'x', 0, 'D' FROM RANGE(5)
      UNION ALL SELECT id + 200, 'n', id, 'I' FROM RANGE(5)""")
    sql(s"""MERGE INTO graft.spec.$t t USING m_src s ON t.k = s.k
      WHEN MATCHED AND s.act = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = sql(s"SELECT k, v, p FROM graft.spec.$t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.size === 100) // 100 - 5 deleted + 5 inserted
    assert(rows.contains((3L, "u", 31L)), "matched UPDATE missed")
    assert(rows.contains((42L, "a", 420L)), "untouched row changed")
    assert(!rows.exists(_._1 == 92L), "matched DELETE missed")
    assert(rows.contains((203L, "n", 3L)), "unmatched INSERT missed")
    // unsupported shapes fail loudly at execution, not silently
    intercept[Exception] {
      sql(s"""MERGE INTO graft.spec.$t t USING m_src s ON t.k < s.k
        WHEN MATCHED THEN DELETE""")
    }
  }

  test("MERGE with partial UPDATE SET keeps unassigned target columns") {
    val t = fresh("sqlmergepartial")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING, p BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, CONCAT('a', id), id * 10 " +
      "FROM RANGE(20)")
    sql("""CREATE OR REPLACE TEMP VIEW mp_src AS
      SELECT id AS k, id + 1000 AS np FROM RANGE(25)""")
    // UPDATE assigns only p; v must KEEP its current value on matched
    // rows (the r10 bug wrote the INSERT expression into v); the INSERT
    // covers all columns for unmatched keys 20..24
    sql(s"""MERGE INTO graft.spec.$t t USING mp_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET p = s.np
      WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, 'new', s.np)""")
    val rows = sql(s"SELECT k, v, p FROM graft.spec.$t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.size === 25)
    assert(rows.contains((3L, "a3", 1003L)),
      "matched row lost its unassigned column value")
    assert(rows.contains((22L, "new", 1022L)), "unmatched INSERT missed")
    // UPDATE expressions may reference target columns too
    sql(s"""MERGE INTO graft.spec.$t t USING mp_src s ON t.k = s.k
      WHEN MATCHED AND t.p < 1005 THEN UPDATE SET v = CONCAT(t.v, '!')""")
    val v3 = sql(s"SELECT v FROM graft.spec.$t WHERE k = 3")
      .collect()(0).getString(0)
    assert(v3 === "a3!", s"target-referencing condition/value broke: $v3")
    val v9 = sql(s"SELECT v FROM graft.spec.$t WHERE k = 9")
      .collect()(0).getString(0)
    assert(v9 === "a9", "condition false branch must leave the row alone")
  }

  test("MERGE NOT MATCHED BY SOURCE ages or deletes absent keys") {
    val t = fresh("mergesync")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, st STRING, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'live', id * 10 " +
      "FROM RANGE(100)")
    // source keeps keys < 60; absent keys split on a target-only
    // condition: v >= 800 ages to 'gone', the rest delete
    sql("""CREATE OR REPLACE TEMP VIEW sync_spec_src AS
      SELECT id AS k, 'fresh' AS st, id * 10 + 1 AS v FROM RANGE(60)""")
    sql(s"""MERGE INTO graft.spec.$t t USING sync_spec_src s
      ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.v >= 800 THEN UPDATE SET st = 'gone'
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val rows = sql(s"SELECT k, st, v FROM graft.spec.$t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // matched: updated from source
    assert(rows.count(_._2 == "fresh") === 60)
    assert(rows.filter(_._2 == "fresh").forall(r => r._3 == r._1 * 10 + 1))
    // absent with v >= 800 (keys 80..99): aged, values kept
    assert(rows.filter(_._2 == "gone").map(_._1).sorted.toSeq ===
      (80L until 100L))
    assert(rows.filter(_._2 == "gone").forall(r => r._3 == r._1 * 10))
    // absent with v < 800 (keys 60..79): deleted
    assert(rows.length === 80)
    // NMBS UPDATE assigning the merge key is rejected loudly
    val e = intercept[Exception] {
      sql(s"""MERGE INTO graft.spec.$t t USING sync_spec_src s
        ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = t.k + 1""")
    }
    assert(e.getMessage.contains("merge key"))
  }

  test("MIXED composite MERGE key (string + integral) prunes on both " +
      "dimensions' stats") {
    val t = fresh("mergemixed")
    sql(s"CREATE TABLE graft.spec.$t (sid STRING, ok BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'ok', 'strindex' = 'sid')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // four files = the cross of two sid prefixes × two ok ranges; the
    // change set hits ONE cell, so each pruning dimension alone spares
    // one file and only their INTERSECTION spares the diagonal
    for (p <- Seq("a", "b"); lo <- Seq(0, 1000)) {
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"CONCAT('$p', LPAD(CAST(id AS STRING), 3, '0')), $lo + id, id " +
        "FROM RANGE(100)")
    }
    // change keys: sid 'a…' AND ok < 50 → only the (a, low) file
    sql("""CREATE OR REPLACE TEMP VIEW mx_src AS
      SELECT CONCAT('a', LPAD(CAST(id AS STRING), 3, '0')) AS sid,
        id AS ok, id * 2 AS v FROM RANGE(50)""")
    sql(s"""MERGE INTO graft.spec.$t t USING mx_src s
      ON t.sid = s.sid AND t.ok = s.ok
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    val res = TxnTable.commitMetrics(spark, loc)
    // (b, low) pruned by the sid string-box, (a, high) by the ok box,
    // (b, high) by both — 3 of 4 data files carry verbatim (the
    // stat-less CREATE sentinel conservatively rides with the touched)
    assert(res("untouched") >= 3,
      s"mixed-key merge must prune on both dimensions: $res")
    assert(res("touched") <= 2,
      s"only the (a, low) file (+ sentinel) should rewrite: $res")
    val rows = sql(s"SELECT ok, v FROM graft.spec.$t " +
      "WHERE sid LIKE 'a%' AND ok < 50")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 50 && rows.forall(r => r._2 == r._1 * 2),
      "matched updates must land")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 400, "no phantom inserts")
    // untouched cells' content is intact
    assert(sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t " +
      "WHERE sid LIKE 'b%' OR ok >= 1000").collect()(0).getLong(0)
      === 3L * (0L until 100L).sum)
    // a mixed tuple matching NO row inserts
    sql(s"""MERGE INTO graft.spec.$t t
      USING (SELECT 'zz' AS sid, 7 AS ok, 999 AS v) s
      ON t.sid = s.sid AND t.ok = s.ok
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(sql(s"SELECT v FROM graft.spec.$t WHERE sid = 'zz'")
      .collect().map(_.getLong(0)).toSeq === Seq(999L))
  }

  test("composite-key MERGE prunes by intersecting per-dimension boxes") {
    val t = fresh("mergemulti")
    sql(s"CREATE TABLE graft.spec.$t (a BIGINT, b BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'a,b')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // two files split by `a`; `b` spans [0,99] in both
    (0 until 2).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"${i * 1000} + id, id, id FROM RANGE(100)")
    }
    // change keys live in a∈[0,99] only: file 2 (a∈[1000,1099]) must
    // carry verbatim even though its b box contains every change b
    sql("""CREATE OR REPLACE TEMP VIEW mm_src AS
      SELECT id AS a, id AS b, id * 2 AS v FROM RANGE(50)""")
    sql(s"""MERGE INTO graft.spec.$t t USING mm_src s
      ON t.a = s.a AND t.b = s.b
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    val res = TxnTable.commitMetrics(spark, loc)
    assert(res("untouched") >= 1,
      s"file 2's a-box must prune the composite merge: $res")
    val rows = sql(s"SELECT a, v FROM graft.spec.$t WHERE a < 50")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === 50 && rows.forall(r => r._2 == r._1 * 2))
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 200)
    // a key tuple matching NO row inserts (composite not-matched)
    sql(s"""MERGE INTO graft.spec.$t t
      USING (SELECT 5 AS a, 77 AS b, 999 AS v) s
      ON t.a = s.a AND t.b = s.b
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT *""")
    assert(sql(s"SELECT v FROM graft.spec.$t WHERE a = 5 AND b = 77")
      .collect().map(_.getLong(0)).toSeq === Seq(999L))
    // a STRING key column is supported since r12 — on an unindexed
    // table it degrades to the conservative full rewrite, never a
    // refusal and never wrong content (pruning coverage lives in
    // "string-keyed MERGE prunes via truncated stats")
    val t2 = fresh("mergemultistr")
    sql(s"CREATE TABLE graft.spec.$t2 (k STRING, v BIGINT)")
    sql(s"INSERT INTO graft.spec.$t2 VALUES ('x', 1)")
    sql(s"""MERGE INTO graft.spec.$t2 t
      USING (SELECT 'x' AS k, 2 AS v) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    assert(sql(s"SELECT v FROM graft.spec.$t2").collect()
      .map(_.getLong(0)).toSeq === Seq(2L))
    // a disjunctive ON fails loudly
    intercept[Exception] {
      sql(s"""MERGE INTO graft.spec.$t t USING mm_src s
        ON t.a = s.a OR t.b = s.b
        WHEN MATCHED THEN UPDATE SET v = s.v""")
    }
  }

  test("UPDATE assigning the key column is rejected loudly") {
    val t = fresh("sqlrekey")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'a' FROM RANGE(10)")
    val e = intercept[Exception] {
      sql(s"UPDATE graft.spec.$t SET k = k + 1 WHERE k < 5")
    }
    assert(e.getMessage.contains("key column"), e.getMessage)
    // nothing was committed
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 10)
  }

  test("negative or future VERSION AS OF fails loudly, never reads latest") {
    val t = fresh("sqlbadversion")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT)")
    sql(s"INSERT INTO graft.spec.$t SELECT id FROM RANGE(5)")
    val neg = intercept[Exception] {
      sql(s"SELECT * FROM graft.spec.$t VERSION AS OF '-3'").count()
    }
    assert(neg.getMessage.contains(">= 0"), neg.getMessage)
    val fut = intercept[Exception] {
      sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 99").count()
    }
    assert(fut.getMessage.contains("not committed"), fut.getMessage)
  }

  test("UPDATE routes through the file-pruned keyed merge") {
    val t = fresh("sqlupdate")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'a' FROM RANGE(100)")
    sql(s"UPDATE graft.spec.$t SET v = CONCAT(v, 'z') WHERE k >= 95")
    val got = sql(s"SELECT v, COUNT(*) AS n FROM graft.spec.$t GROUP BY v")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("a" -> 95L, "az" -> 5L))
    // prior version still pinned-readable (copy-on-write through the log)
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 1 " +
      "WHERE v = 'a'").count() === 100)
  }

  test("concurrent SQL INSERTs all land via file-level OCC rebase") {
    val t = fresh("sqlconcur")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { i =>
      new Thread(() => {
        try sql(s"INSERT INTO graft.spec.$t SELECT id + ${i * 1000}, " +
          s"'w$i' FROM RANGE(50)")
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent INSERT surfaced: ${errs.peek()}")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 200)
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    assert(TxnTable.versions(spark, loc) === (0L to 4L))
  }

  test("ALTER TABLE ADD COLUMN evolves as pure metadata") {
    val t = fresh("sqlevolve")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'a' FROM RANGE(10)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"ALTER TABLE graft.spec.$t ADD COLUMN w DOUBLE")
    // the evolve commit rewrote nothing
    assert(TxnTable.manifest(spark, loc, 2L).entries.map(_.path) ===
      TxnTable.manifest(spark, loc, 1L).entries.map(_.path))
    // old files read NULL; new inserts carry the column
    sql(s"INSERT INTO graft.spec.$t SELECT id + 10, 'b', CAST(id AS DOUBLE) " +
      "FROM RANGE(5)")
    val got = sql(s"SELECT k, w FROM graft.spec.$t").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1)))
      .toMap
    assert(got(3L) === -1.0 && got(12L) === 2.0)
    // pre-evolution version keeps its 2-column schema
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 1")
      .schema.fieldNames.toSeq === Seq("k", "v"))
    // library reads see the evolution identically
    assert(TxnTable.snapshot(spark, loc).schema.fieldNames.toSeq ===
      Seq("k", "v", "w"))
    // DROP COLUMN is supported since r12 — metadata-only, entries
    // verbatim (full coverage in "DROP then re-ADD COLUMN never
    // resurrects old values")
    sql(s"ALTER TABLE graft.spec.$t DROP COLUMN v")
    assert(sql(s"SELECT * FROM graft.spec.$t").schema.fieldNames.toSeq ===
      Seq("k", "w"))
    val vDrop = TxnTable.currentVersion(spark, loc)
    assert(TxnTable.manifest(spark, loc, vDrop).entries.map(_.path) ===
      TxnTable.manifest(spark, loc, vDrop - 1).entries.map(_.path))
    // unsupported shapes still fail loudly
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t ADD COLUMN z DOUBLE FIRST")
    }
  }

  test("maintenance procedures and metadata tables cover the lifecycle") {
    val t = fresh("sqlmaint")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 100}, 'x' FROM RANGE(100)")
    }
    // OPTIMIZE-equivalent: CALL compact preserves content, one commit
    val v = sql(s"CALL graft.system.compact('spec.$t')")
      .collect()(0).getLong(0)
    assert(v === 4L)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 300)
    // the files metadata table reflects the compacted layout
    assert(sql(s"SELECT * FROM graft.spec.$t.files").count() === 1)
    // history metadata table = the full audit trail
    val ops = sql(s"SELECT operation FROM graft.spec.$t.history ORDER BY version")
      .collect().map(_.getString(0)).toSeq
    assert(ops === Seq("create", "append", "append", "append", "compact"))
    // restore rolls content back as one commit; trail keeps rolling
    sql(s"CALL graft.system.restore('spec.$t', 3)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 300)
    // VACUUM-equivalent, with the op_vacuum safety contract: checkpoint
    // first (audit outlives retention), then vacuum retain 1 — old
    // versions fail loudly, the current read is untouched, and the
    // pre-compaction files are actually gone from disk
    sql(s"CALL graft.system.checkpoint('spec.$t')")
    val before = TxnTable.liveFiles(spark, loc, 1L).toSet
    // dry-run first: a positive blast radius, and nothing touched
    val blast = sql(s"CALL graft.system.vacuum_preview('spec.$t', 1)")
      .collect()(0).getLong(0)
    assert(blast > 0L, "vacuum preview saw nothing to sweep")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 300)
    sql(s"CALL graft.system.vacuum('spec.$t', 1)")
    // post-sweep the blast radius is zero
    assert(sql(s"CALL graft.system.vacuum_preview('spec.$t', 1)")
      .collect()(0).getLong(0) === 0L)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 300)
    intercept[Exception] {
      sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 1").count()
    }
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kept = TxnTable.liveFiles(spark, loc,
      TxnTable.currentVersion(spark, loc)).toSet
    before.diff(kept).foreach { rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$loc/$rel")),
        s"vacuum left dead file $rel")
    }
    // checkpointed history survives the vacuumed manifests
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t.history")
      .collect()(0).getLong(0) === 6)
    // unknown procedure fails loudly
    intercept[Exception] { sql(s"CALL graft.system.nonsense('spec.$t')") }
  }

  test("deletion-vector procedures: CALL dedup keeps one copy per key " +
      "group, CALL delete_dv erases by SQL predicate — both zero-rewrite") {
    val t = fresh("sqldv")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(2) */ " +
      "id, 'x' FROM RANGE(100)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id, 'x' FROM RANGE(100) WHERE id % 4 = 0") // 25 exact copies
    val files0 =
      TxnTable.liveFiles(spark, loc, TxnTable.currentVersion(spark, loc))
    sql(s"CALL graft.system.dedup('spec.$t', 'k,v')")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 100)
    sql(s"CALL graft.system.delete_dv('spec.$t', 'k % 10 = 7')")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 90)
    val m = TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc))
    assert(m.entries.map(_.path) === files0,
      "DV procedures rewrote data files")
    assert(m.deletes.map(_._2) === Seq("~pos", "~pos"))
    // the .tombstones metadata table surfaces the pending MoR state —
    // the "how much read-side debt" observability, no jobs, no data I/O
    assert(sql(s"SELECT kind FROM graft.spec.$t.tombstones")
      .collect().map(_.getString(0)).toSeq === Seq("~pos", "~pos"))
    // SQL readers see through both vectors; compact folds them away
    sql(s"CALL graft.system.compact('spec.$t')")
    assert(sql(s"SELECT COUNT(*) AS n, MIN(k) AS mn FROM graft.spec.$t " +
      "WHERE k % 10 = 7").collect()(0).getLong(0) === 0)
    assert(sql(s"SELECT * FROM graft.spec.$t.tombstones").count() === 0L)
    // both DV procedures are discoverable, not just loadable
    val listed = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].listProcedures(Array("system"))
      .map(_.name()).toSet
    assert(Set("dedup", "delete_dv", "build_bloom").subsetOf(listed),
      s"procedures not listed: $listed")
  }

  test("CALL graft.system.delete_in: the id-list delete as a " +
      "procedure, with the optional cdc feed; discoverable") {
    val t = fresh("proc_delin")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, CONCAT('r', id) " +
      "FROM RANGE(100)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"CALL graft.system.delete_in('spec.$t', 'k', '5, 7, 500')")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 98)
    assert(TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc)).cdcRefs.isEmpty)
    // cdc = true publishes the deleted rows as a signed feed
    sql(s"CALL graft.system.delete_in('spec.$t', 'k', '11,13', true)")
    val m = TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc))
    assert(m.cdcRefs.nonEmpty, "cdc=true must publish a feed")
    val feed = spark.read.parquet(m.cdcRefs.map(r => s"$loc/$r"): _*)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Int]("w"))).toSet
    assert(feed === Set((11L, -1), (13L, -1)),
      s"the feed must carry exactly the deleted rows, signed: $feed")
    val listed = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].listProcedures(Array("system"))
      .map(_.name()).toSet
    assert(listed.contains("delete_in"), s"not listed: $listed")
  }

  test("CALL graft.system.recluster_ivf: retrains the coarse quantizer " +
      "from the store's current rows and rewrites assignment content-" +
      "invariantly; discoverable via listProcedures") {
    val t = fresh("ivfrecl")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val s2 = spark
    import s2.implicits._
    // a degenerate store: every vector parked in cell 0 (the worst
    // possible quantizer — every probe scans everything)
    val df = (0 until 800).map { id =>
      (id.toLong,
        (0 until 64).map(i => ((id * 7 + i * 13) % 29 - 14).toDouble),
        0L)
    }.toDF("vec_id", "v", "c_id")
    TxnTable.commit(spark, loc, TxnTable.stageIndexed(spark, loc,
      df.repartition(4), "c_id"), expected = -1L, op = "create",
      schemaJson = df.schema.json)
    def sig: Set[(Long, String)] = TxnTable.snapshot(spark, loc)
      .select(col("vec_id"), col("v").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = sig
    sql(s"CALL graft.system.recluster_ivf('spec.$t')")
    val v = TxnTable.currentVersion(spark, loc)
    assert(v === 1L)
    // op is recluster_ivf, NOT the metadata-only "recluster": the
    // commit changes c_id values, so MatView's content-invariant
    // allow-list must treat it as a content change
    assert(TxnTable.manifest(spark, loc, v).op === "recluster_ivf")
    assert(sig === before,
      "recluster must be content-invariant in (vec_id, v)")
    val cells = TxnTable.snapshot(spark, loc).select("c_id")
      .distinct().count()
    assert(cells > 1,
      s"retraining must spread the degenerate single cell (got $cells)")
    // a non-IVF table refuses loudly
    val t2 = fresh("ivfrecl_not")
    sql(s"CREATE TABLE graft.spec.$t2 (k BIGINT, v STRING)")
    sql(s"INSERT INTO graft.spec.$t2 VALUES (1, 'a')")
    val e = intercept[Exception] {
      sql(s"CALL graft.system.recluster_ivf('spec.$t2')")
    }
    assert(e.getMessage.contains("not an IVF store"), e.getMessage)
    // discoverable, not just loadable (the hand-kept Seq gotcha)
    val listed = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].listProcedures(Array("system"))
      .map(_.name()).toSet
    assert(listed.contains("recluster_ivf"),
      s"recluster_ivf not listed: $listed")
  }

  test("bloom sidecar prunes SQL point lookups: pre-build full keep, " +
      "post-build prune, uncovered appends conservative, MoR refusal") {
    val t = fresh("sqlbloom")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // two files with fully-OVERLAPPING k ranges (parity split): range
    // stats can never answer a point lookup here
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id * 2, 'x' FROM RANGE(50)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id * 2 + 1, 'x' FROM RANGE(50)")
    val probe = s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE k = 4"
    def keptOf(q: String): (Long, Long) = {
      val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
      sql(q).collect()
      (GraftCatalog.scanKept.get - k0, GraftCatalog.scanTotal.get - t0)
    }
    // both data files; the zero-row create sentinel is skipped
    assert(keptOf(probe) === ((2L, 3L)),
      "pre-bloom lookup should keep every data file")
    sql(s"CALL graft.system.build_bloom('spec.$t', 'k')")
    val (kPost, tPost) = keptOf(probe)
    // the even-parity file (± false positive)
    assert(tPost === 3L && kPost >= 1L && kPost <= 2L,
      s"post-bloom lookup kept $kPost of $tPost")
    assert(sql(probe).collect()(0).getLong(0) === 1L)
    // files appended AFTER the build are uncovered -> conservatively
    // scanned, and their rows are FOUND (never a wrong result)
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id + 1000, 'y' FROM RANGE(10)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE k = 1005")
      .collect()(0).getLong(0) === 1L)
    // a bloom must never testify for tombstoned rows: refusal
    val s2 = spark; import s2.implicits._
    TxnTable.deleteKeysMor(spark, loc, Seq(4L).toDF("k"), "k")
    intercept[Exception] {
      sql(s"CALL graft.system.build_bloom('spec.$t', 'k')")
    }
    // the committed bloom still prunes and the tombstone still kills
    assert(sql(probe).collect()(0).getLong(0) === 0L)
  }

  test("streaming sink commits once per epoch; a replayed epoch skips and drops its stage") {
    import graft.sources.GraftStreamingWrite
    val t = fresh("streamsink")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val schema = sql(s"SELECT * FROM graft.spec.$t").schema
    val w = new GraftStreamingWrite(s"graft.spec.$t", loc, schema,
      "spec-query-1", truncate = false)
    def stageOne(tag: String, lo: Int): String = {
      val sub = s"data/spec-$tag"
      spark.range(lo, lo + 5).selectExpr("id AS k", s"'$tag' AS v")
        .coalesce(1).write.parquet(s"$loc/$sub")
      val dir = new org.apache.hadoop.fs.Path(s"$loc/$sub")
      val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val name = f.listStatus(dir).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).head
      s"$sub/$name"
    }
    w.commit(0L, Array(sinkFile(loc, stageOne("e0", 0), 5)))
    assert(TxnTable.currentVersion(spark, loc) === 1L)
    val metrics = TxnTable.commitMetrics(spark, loc)
    assert(metrics("epoch") === 0L && metrics("files") === 1L &&
      metrics.contains("qtag") && metrics.contains("qtag2"),
      s"stream commit must record its epoch ledger, got $metrics")
    // REPLAY of epoch 0 (the restart path): no new version, and the
    // orphaned stage is deleted
    val orphan = stageOne("e0b", 100)
    w.commit(0L, Array(sinkFile(loc, orphan, 5)))
    assert(TxnTable.currentVersion(spark, loc) === 1L, "replay committed!")
    val op = new org.apache.hadoop.fs.Path(TxnTable.pathFor(loc, orphan))
    assert(!op.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(op), "replayed epoch's stage not cleaned up")
    // the NEXT epoch lands
    w.commit(1L, Array(sinkFile(loc, stageOne("e1", 5), 5)))
    assert(TxnTable.currentVersion(spark, loc) === 2L)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 10)
    // a DIFFERENT query's epoch 0 is not a replay of ours
    val w2 = new GraftStreamingWrite(s"graft.spec.$t", loc, schema,
      "spec-query-2", truncate = false)
    w2.commit(0L, Array(sinkFile(loc, stageOne("q2e0", 200), 5)))
    assert(TxnTable.currentVersion(spark, loc) === 3L)
    // driver-restart path: a FRESH instance with the same query id
    // resolves the ledger from the LOG (not session state) and skips
    val w3 = new GraftStreamingWrite(s"graft.spec.$t", loc, schema,
      "spec-query-1", truncate = false)
    val orphan2 = stageOne("e1b", 300)
    w3.commit(1L, Array(sinkFile(loc, orphan2, 5)))
    assert(TxnTable.currentVersion(spark, loc) === 3L,
      "restarted query replayed an already-committed epoch")
    val op2 = new org.apache.hadoop.fs.Path(TxnTable.pathFor(loc, orphan2))
    assert(!op2.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(op2))
  }

  test("MERGE rejects re-keying and duplicate source keys loudly") {
    val t = fresh("mergeguards")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, id FROM RANGE(100)")
    // matched UPDATE moving the merge key would silently duplicate rows
    val e1 = intercept[Exception] {
      sql(s"""MERGE INTO graft.spec.$t t
        USING (SELECT id AS k, id AS v FROM RANGE(10)) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET k = t.k + 1000""")
    }
    assert(e1.getMessage.contains("re-key"))
    // UPDATE SET * (key assigned to ITSELF via the ON equality) is legal
    sql(s"""MERGE INTO graft.spec.$t t
      USING (SELECT id AS k, id * 2 AS v FROM RANGE(10)) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *""")
    assert(sql(s"SELECT SUM(v) AS s FROM graft.spec.$t WHERE k < 10")
      .collect()(0).getLong(0) === 90)
    // INSERT must land AT the source key: an arbitrary key expression
    // could collide with an existing row and silently replace it
    val e3 = intercept[Exception] {
      sql(s"""MERGE INTO graft.spec.$t t
        USING (SELECT 500 AS k, 9 AS v) s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (50, s.v)""")
    }
    assert(e3.getMessage.contains("INSERT must set the merge key"))
    // ...while INSERT * / INSERT (k,v) VALUES (s.k, s.v) stays legal
    sql(s"""MERGE INTO graft.spec.$t t
      USING (SELECT 500 AS k, 9 AS v) s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(sql(s"SELECT v FROM graft.spec.$t WHERE k = 500")
      .collect().map(_.getLong(0)).toSeq === Seq(9L))
    // duplicate source keys = standard MERGE cardinality violation
    val e2 = intercept[Exception] {
      sql(s"""MERGE INTO graft.spec.$t t
        USING (SELECT 7 AS k, 1 AS v UNION ALL SELECT 7, 2) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v""")
    }
    assert(e2.getMessage.contains("cardinality"))
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE k = 7")
      .collect()(0).getLong(0) === 1, "failed merge must not have landed")
  }

  test("narrowing casts never prune from untruncated manifest bounds") {
    val t = fresh("castprune")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    // one file far above INT range: CAST(k AS INT) wraps its values
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "4294967296 + id, id FROM RANGE(10)") // 2^32 + id casts to id
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id + 100, id FROM RANGE(10)")
    // ANSI: CAST(2^32+5 AS INT) overflows at RUNTIME — pruning the
    // big-key file from its untruncated [2^32, 2^32+9] bounds would
    // silently SUPPRESS that error (and under non-ANSI would lose the
    // wrapped match). The file must stay in the scan and the error
    // must surface.
    val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    val e = intercept[Exception] {
      spark.sql(s"SELECT k FROM graft.spec.$t WHERE CAST(k AS INT) = 5")
        .collect()
    }
    assert(e.getMessage.contains("CAST_OVERFLOW"),
      s"expected the overflow to surface, got: ${e.getMessage.take(120)}")
    val (kept, total) = (GraftCatalog.scanKept.get - k0,
      GraftCatalog.scanTotal.get - t0)
    // every data file stays; only the zero-row create sentinel goes
    assert(kept === total - 1,
      s"narrowing cast must not prune ($kept of $total kept)")
    // try_cast (overflow → NULL): the wrapped key must NOT match, but
    // the big file still can't be pruned by untruncated bounds
    val hits = spark.sql(
      s"SELECT k FROM graft.spec.$t WHERE TRY_CAST(k AS INT) = 105")
      .collect().map(_.getLong(0)).toSeq
    assert(hits === Seq(105L), s"try_cast narrowed wrong: $hits")
    // a WIDENING cast still prunes: only the low file can hold 105
    val (k1, t1) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    assert(spark.sql(
      s"SELECT k FROM graft.spec.$t WHERE CAST(k AS BIGINT) = 105")
      .count() === 1)
    assert(GraftCatalog.scanKept.get - k1 < GraftCatalog.scanTotal.get - t1,
      "widening cast should stay stat-transparent and prune")
  }

  test("streaming sink epochs rebase through OCC when batch INSERTs interleave") {
    import graft.sources.GraftStreamingWrite
    val t = fresh("streamrace")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val schema = sql(s"SELECT * FROM graft.spec.$t").schema
    val w = new GraftStreamingWrite(s"graft.spec.$t", loc, schema,
      "race-query", truncate = false)
    def stageOne(tag: String, lo: Int): String = {
      val sub = s"data/race-$tag"
      spark.range(lo, lo + 10).selectExpr("id AS k", s"'$tag' AS v")
        .coalesce(1).write.parquet(s"$loc/$sub")
      val dir = new org.apache.hadoop.fs.Path(s"$loc/$sub")
      val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      s"$sub/" + f.listStatus(dir).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).head
    }
    // interleave: epoch 0 lands, a BATCH insert lands, epoch 1 lands —
    // the sink's appendResolving must rebase over the insert (appends
    // never conflict), losing nothing
    w.commit(0L, Array(sinkFile(loc, stageOne("e0", 0), 10)))
    sql(s"INSERT INTO graft.spec.$t SELECT id + 1000, 'batch' FROM RANGE(10)")
    w.commit(1L, Array(sinkFile(loc, stageOne("e1", 100), 10)))
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 30)
    assert(sql(s"SELECT COUNT(DISTINCT v) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 3, "a writer's rows were lost")
    assert(TxnTable.history(spark, loc).map(_._2) ===
      Seq("create", "stream_write", "append", "stream_write"))
  }

  test("streaming source is append-only: a file-removing commit fails the tail loudly") {
    val t = fresh("streamsrc")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, 'a' " +
      "FROM RANGE(100)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id + 100, " +
      "'b' FROM RANGE(100)")
    val schema = sql(s"SELECT * FROM graft.spec.$t").schema
    val stream = new graft.sources.GraftMicroBatchStream(
      s"graft.spec.$t", loc, schema, None)
    import graft.sources.GraftStreaming.VersionOffset
    // appends stream fine: versions (0, 2] = both inserts' files
    assert(stream.planInputPartitions(
      VersionOffset(0), VersionOffset(2)).length === 2)
    // compact REMOVES live files: the tail across it must fail loudly
    TxnTable.compact(spark, loc)
    val v = TxnTable.currentVersion(spark, loc)
    val e = intercept[IllegalArgumentException] {
      stream.planInputPartitions(VersionOffset(v - 1), VersionOffset(v))
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("streaming source startingVersion picks where a fresh checkpoint begins") {
    import graft.sources.GraftStreaming.VersionOffset
    val t = fresh("streamstart")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    (0 until 3).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 10}, 'b$i' FROM RANGE(10)")
    }
    val schema = sql(s"SELECT * FROM graft.spec.$t").schema
    def stream(sv: Option[String]) = new graft.sources.GraftMicroBatchStream(
      s"graft.spec.$t", loc, schema, None, sv)
    // absent / "0" = the WHOLE table including version 0 (a CTAS table
    // carries content there), encoded as the −1 synthetic-parent offset
    assert(stream(None).initialOffset() === VersionOffset(-1))
    assert(stream(Some("latest")).initialOffset() === VersionOffset(3))
    assert(stream(Some("2")).initialOffset() === VersionOffset(1))
    assert(stream(Some("0")).initialOffset() === VersionOffset(-1))
    intercept[IllegalArgumentException] {
      stream(Some("-4")).initialOffset() }
    intercept[IllegalArgumentException] {
      stream(Some("bogus")).initialOffset() }
    // startingTimestamp anchors the same choice by COMMIT TIME: every
    // commit at-or-after the target streams; a future target tails
    def tstream(ts: String) = new graft.sources.GraftMicroBatchStream(
      s"graft.spec.$t", loc, schema, None, None, false, Some(ts))
    val ts2 = TxnTable.manifest(spark, loc, 2L).ts
    val tsLast = TxnTable.manifest(spark, loc, 3L).ts
    assert(ts2 > 0L && tsLast > ts2) // monotonized commit stamps
    assert(tstream(ts2.toString).initialOffset() === VersionOffset(1),
      "startingTimestamp = v2's stamp must stream v2 onward")
    assert(tstream("0").initialOffset() === VersionOffset(-1),
      "epoch start = everything")
    assert(tstream((tsLast + 1).toString).initialOffset()
      === VersionOffset(3), "future target = pure tail")
    assert(tstream(java.time.Instant.ofEpochMilli(ts2).toString)
      .initialOffset() === VersionOffset(1), "ISO-8601 instant accepted")
    intercept[IllegalArgumentException] { tstream("not-a-time")
      .initialOffset() }
    intercept[IllegalArgumentException] { // long overflow: same message
      tstream("99999999999999999999").initialOffset() }
    intercept[IllegalArgumentException] { // mutually exclusive
      new graft.sources.GraftMicroBatchStream(s"graft.spec.$t", loc,
        schema, None, Some("2"), false, Some("0")).initialOffset()
    }
    // the CDC stream threads the SAME timestamp anchoring (pins the
    // trailing-option constructor order); its offsets carry the
    // sub-version file split, 0 at any fresh start — and serialize to
    // the PLAIN version number there, so pre-split checkpoints
    // round-trip unchanged
    val cdcAnchor = new graft.sources.GraftCdcMicroBatchStream(
      s"graft.spec.$t", loc, schema, None, None, None,
      Some(ts2.toString))
    assert(cdcAnchor.initialOffset() ===
      graft.sources.GraftStreaming.CdcOffset(1, 0))
    assert(cdcAnchor.initialOffset().json === "1")
    assert(cdcAnchor.deserializeOffset("3") ===
      graft.sources.GraftStreaming.CdcOffset(3, 0))
    assert(cdcAnchor.deserializeOffset("3:2") ===
      graft.sources.GraftStreaming.CdcOffset(3, 2))
    // end-to-end: a fresh checkpoint starting at version 3 drains ONLY
    // the third insert into the destination
    val d = fresh("streamstartdst")
    sql(s"CREATE TABLE graft.spec.$d (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val ckpt = graft.Fs.scratch("graft_sstart", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val q = spark.readStream
      .option("startingVersion", "3")
      .table(s"graft.spec.$t")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft.spec.$d")
    q.awaitTermination()
    val rows = sql(s"SELECT k, v FROM graft.spec.$d").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length === 10 && rows.forall(_._2 == "b2"),
      s"startingVersion=3 must stream only the third insert, got " +
        s"${rows.take(5).toSeq}")
    // retention interplay: after vacuum(retain=2) keeps v2..v3 only, a
    // timestamp anchored AT v2 needs v1's manifest to replay — refused
    // LOUDLY with the timestamp named (a silently incomplete replay is
    // the one thing a time anchor must never give); anchoring at v3
    // still works (its parent v2 is retained)
    TxnTable.vacuum(spark, loc, 2)
    val eVac = intercept[IllegalArgumentException] {
      tstream(ts2.toString).initialOffset() }
    assert(eVac.getMessage.contains("timestamp"), eVac.getMessage)
    assert(tstream(tsLast.toString).initialOffset() === VersionOffset(2))
  }

  test("t.changes serves the committed feed, batch and streaming") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("changes")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // before any feed is published: loud failure, never empty-success
    val e = intercept[Exception] {
      sql(s"SELECT * FROM graft.spec.$t.changes").collect() }
    assert(e.getMessage.contains("no change feed"))
    TxnTable.append(spark, loc, (0L until 100L).map(i => (i, i)).toDF("k", "v"))
    // two publishing overwrites: +1 to v for even keys, then drop k>=90
    TxnTable.overwriteCdc(spark, loc,
      TxnTable.snapshot(spark, loc).withColumn("v",
        when(col("k") % 2 === 0, col("v") + 1).otherwise(col("v"))), "k")
    TxnTable.overwriteCdc(spark, loc,
      TxnTable.snapshot(spark, loc).filter(col("k") < 90), "k")
    // batch: the whole feed = the union of both signed diffs
    val batch = sql(s"SELECT k, w, v FROM graft.spec.$t.changes")
      .as[(Long, Int, Long)].collect().toSet
    val expected =
      TxnTable.cdcSigned(spark, loc, 1, 2, "k").select("k", "w", "v")
        .unionByName(
          TxnTable.cdcSigned(spark, loc, 2, 3, "k").select("k", "w", "v"))
        .as[(Long, Int, Long)].collect().toSet
    assert(batch === expected && batch.nonEmpty)
    // streaming: one commit per micro-batch; the folded deltas match
    val q = spark.readStream.option("maxVersionsPerTrigger", "1")
      .table(s"graft.spec.$t.changes")
      .groupBy(col("k") % 10).agg(sum(col("w") * col("v")).as("d"))
      .writeStream.format("memory").queryName("spec_changes_delta")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val deltaSum = spark.table("spec_changes_delta")
      .agg(sum(col("d"))).collect()(0).getLong(0)
    val v1Sum = TxnTable.snapshot(spark, loc, 1)
      .agg(sum(col("v"))).collect()(0).getLong(0)
    val curSum = TxnTable.snapshot(spark, loc)
      .agg(sum(col("v"))).collect()(0).getLong(0)
    assert(v1Sum + deltaSum === curSum,
      "streamed deltas must fold v1 to the current content")
    // a MERGE-ON-READ cdc commit's feed flows into the SAME .changes
    // surface: zero data files rewritten, the feed still arrives
    val preFeed = sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t.changes")
      .collect()(0).getLong(0)
    TxnTable.applyChangesMor(spark, loc, Seq(
      (5L, 0L, "D"), (7L, 777L, "U")).toDF("k", "v", "op"), "k",
      cdc = true)
    val morFeed = sql(s"SELECT k, w, v FROM graft.spec.$t.changes")
      .as[(Long, Int, Long)].collect().toSet
    assert(morFeed.size.toLong > preFeed &&
      morFeed.contains((5L, -1, 5L)) &&       // deleted key's OLD value
      morFeed.exists(r => r._1 == 7L && r._2 == -1) &&
      morFeed.contains((7L, 1, 777L)),
      s"MoR feed rows missing from .changes: ${morFeed.filter(r =>
        r._1 == 5L || r._1 == 7L)}")
  }

  test("readChangeFeed=true streams under the MatView contract: " +
      "maintenance passes empty, a feed-less content change throws, " +
      "the lenient default passes it silently") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("strictcdc")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // v1: cdc-publishing population; v2: a cdc MoR batch; v3: compact
    // (content-invariant — must pass as an EMPTY batch, not throw)
    TxnTable.applyChangesMor(spark, loc,
      (0L until 50L).map(i => (i, i, "U")).toDF("k", "v", "op"), "k",
      cdc = true)
    TxnTable.applyChangesMor(spark, loc, Seq(
      (3L, 0L, "D"), (4L, 444L, "U")).toDF("k", "v", "op"), "k",
      cdc = true)
    TxnTable.compact(spark, loc)
    def drain(name: String, ckpt: String, strict: Boolean): Unit = {
      val r = spark.readStream
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
      val r2 = if (strict) r.option("readChangeFeed", "true") else r
      val q = r2.table(s"graft.spec.$t.changes")
        .groupBy(lit(1).as("g"))
        .agg(sum(col("w")).as("n"), sum(col("w") * col("v")).as("sv"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val ckpt = graft.Fs.scratch("graft_spec_strictcdc", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    drain("spec_strict_cdc", ckpt, strict = true)
    val (n1, sv1) = spark.table("spec_strict_cdc")
      .select(col("n"), col("sv")).as[(Long, Long)].collect()(0)
    // +50 −1 at v2's delete, −1/+1 on the update: net 49 rows, and the
    // signed value-sum telescopes to the live content's sum
    assert(n1 === 49L)
    assert(sv1 === TxnTable.snapshot(spark, loc)
      .agg(sum(col("v"))).collect()(0).getLong(0))
    // v4: a feed-less content change — strict resume throws, NAMING the
    // missing feed; the lenient default from a fresh checkpoint passes
    // it as an empty batch (and silently misses its rows)
    TxnTable.append(spark, loc,
      (1000L until 1010L).map(i => (i, i)).toDF("k", "v"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain("spec_strict_cdc_2", ckpt, strict = true)
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8).exists(c => c.getMessage != null &&
        c.getMessage.contains("without publishing a change feed")),
      s"refusal must name the missing feed: ${e.getMessage}")
    val ckpt2 = graft.Fs.scratch("graft_spec_strictcdc", "ckpt2")
    graft.Fs.deleteRecursively(ckpt2)
    drain("spec_lenient_cdc", ckpt2, strict = false)
    val n2 = spark.table("spec_lenient_cdc")
      .select(col("n")).as[Long].collect()(0)
    assert(n2 === 49L, "the lenient walk passes the feed-less append " +
      "as empty — missing its 10 rows (the divergence strict makes loud)")
  }

  test("rows-capped strict CDC admission delivers the feed-complete " +
      "prefix in bounded batches BEFORE a feed-less commit refuses — " +
      "the refusal never strands deliverable feeds behind it") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("capcdc")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // v1: ONE commit whose feed splits into three 20-row files
    s2.conf.set("graft.cdc.maxRecordsPerFile", "20")
    try TxnTable.applyChangesMor(spark, loc,
      (0L until 60L).map(i => (i, i, "U")).toDF("k", "v", "op"), "k",
      cdc = true)
    finally s2.conf.unset("graft.cdc.maxRecordsPerFile")
    // v2: a feed-less content change — strict must refuse, but only
    // AFTER v1's feed has fully drained
    TxnTable.append(spark, loc,
      (1000L until 1010L).map(i => (i, i)).toDF("k", "v"))
    def run(name: String, cap: String) = {
      val ckpt = graft.Fs.scratch("graft_spec_capcdc", name)
      graft.Fs.deleteRecursively(ckpt)
      val q = spark.readStream
        .option("startingVersion", "1")
        .option("readChangeFeed", "true")
        .option("maxRowsPerTrigger", cap)
        .table(s"graft.spec.$t.changes")
        .groupBy(lit(1).as("g")).agg(sum(col("w")).as("n"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val e = intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination()
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8).exists(c => c.getMessage != null &&
          c.getMessage.contains("without publishing a change feed")),
        s"the refusal must name the missing feed: ${e.getMessage}")
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
    }
    // cap 20: the budget exhausts at each file boundary, so the walk
    // stops BEFORE probing the feed-less version — three bounded
    // batches land, THEN the next trigger refuses
    val p1 = run("spec_cap_cdc", "20")
    assert(p1.size >= 3 && p1.forall(_.numInputRows <= 20),
      s"expected >=3 bounded batches, got ${p1.map(_.numInputRows)}")
    assert(spark.table("spec_cap_cdc").select(col("n")).as[Long]
      .collect()(0) === 60L,
      "every feed-complete row must land before the refusal")
    // cap 100: budget REMAINS when the walk reaches the feed-less
    // version mid-stride — the admitted prefix still delivers (one
    // batch of 60), and the refusal lands on the NEXT trigger
    val p2 = run("spec_cap_cdc_wide", "100")
    assert(p2.size === 1 && p2.head.numInputRows === 60,
      s"expected one 60-row prefix batch, got ${p2.map(_.numInputRows)}")
    assert(spark.table("spec_cap_cdc_wide").select(col("n")).as[Long]
      .collect()(0) === 60L)
  }

  test("committed CDC offsets evict the stream's memoized refs and " +
      "footer counts — a long-running stream holds one trigger window " +
      "of metadata, never the table's whole history") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("cdcevict")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // v1 splits its feed into four 5-row files (the partial-slice
    // case); v2 and v3 land one file each
    s2.conf.set("graft.cdc.maxRecordsPerFile", "5")
    try TxnTable.applyChangesMor(spark, loc,
      (0L until 20L).map(i => (i, i, "U")).toDF("k", "v", "op"), "k",
      cdc = true)
    finally s2.conf.unset("graft.cdc.maxRecordsPerFile")
    (1 to 2).foreach(i => TxnTable.applyChangesMor(spark, loc,
      (0L until 10L).map(j => (i * 100L + j, j, "U"))
        .toDF("k", "v", "op"), "k", cdc = true))
    import graft.sources.{GraftCdcMicroBatchStream, GraftStreaming}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    def offsets(stream: GraftCdcMicroBatchStream) = {
      var cur = stream.initialOffset()
        .asInstanceOf[GraftStreaming.CdcOffset]
      Iterator.continually {
        val nxt = stream.latestOffset(cur, ReadLimit.allAvailable())
          .asInstanceOf[GraftStreaming.CdcOffset]
        val step = if (nxt == cur) None else Some(nxt)
        cur = nxt
        step
      }.takeWhile(_.isDefined).map(_.get).toSeq
    }
    // uncapped: one whole-version batch; its commit evicts EVERYTHING
    val whole = new GraftCdcMicroBatchStream(t, loc,
      new org.apache.spark.sql.types.StructType(), None,
      startingVersion = Some("1"), strict = true,
      maxRows = Some(1000L))
    val Seq(end1) = offsets(whole)
    assert(end1.files === 0, s"uncapped end must sit on a version " +
      s"boundary, got $end1")
    assert(whole.cacheFootprint._1 > 0, "the admission walk memoizes")
    whole.commit(end1)
    assert(whole.cacheFootprint === ((0, 0)),
      "a version-boundary commit must evict every memoized entry")
    // capped: the first offset slices v1 mid-stride — its commit keeps
    // EXACTLY the sliced version's refs (the next trigger needs them)
    // and drains to empty once the tail fully commits
    val sliced = new GraftCdcMicroBatchStream(t, loc,
      new org.apache.spark.sql.types.StructType(), None,
      startingVersion = Some("1"), strict = true,
      maxRows = Some(6L))
    var cur = sliced.initialOffset()
      .asInstanceOf[GraftStreaming.CdcOffset]
    val first = sliced.latestOffset(cur, ReadLimit.allAvailable())
      .asInstanceOf[GraftStreaming.CdcOffset]
    assert(first.files > 0, s"cap 6 must slice v1's 4x5-row feed, " +
      s"got $first")
    sliced.commit(first)
    assert(sliced.cacheFootprint._1 === 1,
      "a mid-version commit must keep only the sliced version's refs")
    cur = first
    var nxt = sliced.latestOffset(cur, ReadLimit.allAvailable())
      .asInstanceOf[GraftStreaming.CdcOffset]
    while (nxt != cur) {
      sliced.commit(nxt)
      cur = nxt
      nxt = sliced.latestOffset(cur, ReadLimit.allAvailable())
        .asInstanceOf[GraftStreaming.CdcOffset]
    }
    assert(sliced.cacheFootprint === ((0, 0)),
      "a fully drained, fully committed stream must hold no metadata")
  }

  test("CTAS, TRUNCATE TABLE, and SHOW TBLPROPERTIES round out the SQL surface") {
    val t = fresh("ctas")
    // CREATE TABLE AS SELECT carries the schema AND the index property,
    // and lands ATOMICALLY: the staged path publishes data + schema as
    // ONE create commit (version 0 already holds the rows — no visible
    // empty intermediate table)
    sql(s"CREATE TABLE graft.spec.$t TBLPROPERTIES ('index' = 'k') AS " +
      "SELECT id AS k, CONCAT('r', id) AS v FROM RANGE(200)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 200)
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    assert(TxnTable.versions(spark, loc) === Seq(0L),
      "CTAS must publish as one atomic create commit")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t VERSION AS OF 0")
      .collect()(0).getLong(0) === 200)
    // the CTAS data landed INDEXED (stats in the manifest)
    val m = TxnTable.manifest(spark, loc, TxnTable.currentVersion(spark, loc))
    assert(m.idxCols === Seq("k"))
    assert(m.entries.exists(_.statFor("k").isDefined),
      "CTAS rows must stage with manifest stats")
    // properties surface through SQL
    val props = sql(s"SHOW TBLPROPERTIES graft.spec.$t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("index") === Some("k"))
    // TRUNCATE is one empty overwrite commit; history survives
    sql(s"TRUNCATE TABLE graft.spec.$t")
    assert(sql(s"SELECT * FROM graft.spec.$t").count() === 0)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t VERSION AS OF 0")
      .collect()(0).getLong(0) === 200, "truncated version must stay pinned")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'y' FROM RANGE(7)")
    assert(sql(s"SELECT * FROM graft.spec.$t").count() === 7)
  }

  test("REPLACE TABLE AS SELECT swaps atomically; failures leave the old table") {
    val t = fresh("rtas")
    sql(s"CREATE TABLE graft.spec.$t TBLPROPERTIES ('index' = 'k') AS " +
      "SELECT id AS k, 'old' AS v FROM RANGE(100)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // REPLACE: new content AND new schema, one commit, old version pinned
    sql(s"CREATE OR REPLACE TABLE graft.spec.$t " +
      "TBLPROPERTIES ('index' = 'k') AS " +
      "SELECT id AS k, 'new' AS v, id * 2 AS extra FROM RANGE(50)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 50)
    assert(sql(s"SELECT * FROM graft.spec.$t").schema.fieldNames.toSeq ===
      Seq("k", "v", "extra"))
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t VERSION AS OF 0")
      .collect()(0).getLong(0) === 100, "replaced version must stay pinned")
    assert(TxnTable.history(spark, loc).map(_._2) === Seq("create", "replace"))
    // a FAILING replace aborts: the table keeps serving the old content
    intercept[Exception] {
      sql(s"CREATE OR REPLACE TABLE graft.spec.$t AS " +
        "SELECT id AS k, CAST(assert_true(id < 10) AS STRING) AS v " +
        "FROM RANGE(50)")
    }
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 50, "failed replace must change nothing")
    // plain REPLACE of a MISSING table fails at analysis
    intercept[Exception] {
      sql(s"REPLACE TABLE graft.spec.missing_$t AS SELECT 1 AS x")
    }
  }

  test("DROP and re-CREATE; listTables sees only tables") {
    val t = fresh("droppable")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT)")
    assert(sql("SHOW TABLES IN graft.spec").collect()
      .exists(_.getString(1) == t))
    sql(s"DROP TABLE graft.spec.$t")
    assert(!sql("SHOW TABLES IN graft.spec").collect()
      .exists(_.getString(1) == t))
  }

  test("CHECK constraints gate CTAS, block renames, and refuse the sink") {
    // CTAS: a table can't be born violating its declared invariant
    val t = fresh("checkctas")
    intercept[Exception] {
      sql(s"""CREATE TABLE graft.spec.$t
        TBLPROPERTIES ('check.pos' = 'v >= 0')
        AS SELECT id AS k, id - 50 AS v FROM RANGE(100)""")
    }
    assert(!sql("SHOW TABLES IN graft.spec").collect()
      .exists(_.getString(1) == t), "violating CTAS left a table behind")
    sql(s"""CREATE TABLE graft.spec.$t
      TBLPROPERTIES ('check.pos' = 'v >= 0')
      AS SELECT id AS k, id AS v FROM RANGE(100)""")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 100)
    // the constraint landed in the log and surfaces via properties
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    assert(TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc)).checks === Seq(("pos", "v >= 0")))
    assert(sql(s"SHOW TBLPROPERTIES graft.spec.$t").collect()
      .exists(r => r.getString(0) == "check.pos" &&
        r.getString(1) == "v >= 0"))
    // NULL passes (three-valued CHECK semantics); FALSE is loud
    sql(s"INSERT INTO graft.spec.$t VALUES (200, NULL)")
    intercept[Exception] {
      sql(s"INSERT INTO graft.spec.$t VALUES (201, -1)") }
    // renaming/dropping the referenced column is blocked
    val e = intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN v TO w") }
    assert(e.getMessage.contains("check"), e.getMessage.take(160))
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t DROP COLUMN v") }
    // ... but an unreferenced column renames fine
    sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN k TO id")
    // the streaming sink ENFORCES the constraint per epoch: a clean
    // epoch commits; a violating epoch drops its stage, nothing lands
    val src = fresh("checksrc")
    sql(s"CREATE TABLE graft.spec.$src (id BIGINT, v BIGINT)")
    val srcLoc = s"${GraftCatalog.defaultWarehouse}/spec/$src"
    sql(s"INSERT INTO graft.spec.$src VALUES (500, 1)")
    val ckpt = graft.Fs.scratch("graft_checksink", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    def drain(ck: String, opts: (String, String)*): Unit = {
      var r = spark.readStream
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.table(s"graft.spec.$src")
        .writeStream.option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"graft.spec.$t")
      q.awaitTermination()
    }
    drain(ckpt)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE id = 500")
      .collect()(0).getLong(0) === 1, "clean epoch must commit")
    val preV = TxnTable.currentVersion(spark, loc)
    val preRows = sql(s"SELECT * FROM graft.spec.$t").collect().toSet
    sql(s"INSERT INTO graft.spec.$src VALUES (501, -5)")
    val e2 = intercept[Exception] { drain(ckpt) }
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e2).exists(_.contains("CHECK")),
      s"sink must reject the violating epoch: ${messages(e2).take(3)}")
    // nothing landed: version unchanged, content bit-identical
    assert(TxnTable.currentVersion(spark, loc) === preV)
    assert(sql(s"SELECT * FROM graft.spec.$t").collect().toSet === preRows)
    // ... and the violating epoch's staged files were dropped: every
    // parquet file on disk is referenced by some retained manifest
    val referenced = TxnTable.versions(spark, loc).flatMap(v =>
      TxnTable.manifest(spark, loc, v).liveFiles).toSet
    val dataP = new org.apache.hadoop.fs.Path(s"$loc/data")
    val dfs = dataP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = dfs.listStatus(dataP).filter(_.isDirectory).flatMap(d =>
      dfs.listStatus(d.getPath).map(st =>
        s"data/${d.getPath.getName}/${st.getPath.getName}"))
      .filter(_.endsWith(".parquet")).toSet
    assert(onDisk.subsetOf(referenced),
      s"violating epoch leaked its stage: ${onDisk.diff(referenced)}")
    // a later clean epoch on the same constrained table commits
    val vs0 = TxnTable.currentVersion(spark, srcLoc)
    sql(s"INSERT INTO graft.spec.$src VALUES (502, 2)")
    val ckpt2 = graft.Fs.scratch("graft_checksink", "ckpt2")
    graft.Fs.deleteRecursively(ckpt2)
    drain(ckpt2, "startingVersion" -> (vs0 + 1).toString)
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE id = 502")
      .collect()(0).getLong(0) === 1, "later clean epoch must commit")
    // dropping the constraint re-opens the batch paths
    sql(s"ALTER TABLE graft.spec.$t UNSET TBLPROPERTIES ('check.pos')")
    sql(s"INSERT INTO graft.spec.$t VALUES (201, -1)")
    sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN v TO w")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE w < 0")
      .collect()(0).getLong(0) === 1)
  }

  test("ALTER COLUMN TYPE widens as pure metadata; narrowing stays loud") {
    val t = fresh("widen")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, n INT, x FLOAT) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, " +
      "CAST(id * 3 AS INT), CAST(id AS FLOAT) / 4 FROM RANGE(100)")
    sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN n TYPE BIGINT")
    sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN x TYPE DOUBLE")
    // both widenings were ONE manifest write each: entries verbatim
    val v = TxnTable.currentVersion(spark, loc)
    assert(TxnTable.manifest(spark, loc, v).entries.map(_.path) ===
      TxnTable.manifest(spark, loc, v - 2).entries.map(_.path))
    // old int32/float files read through the widened schema (Spark 4's
    // parquet widening promotions), and new appends land wide
    assert(sql(s"SELECT * FROM graft.spec.$t").schema.map(_.dataType.sql)
      .toSeq === Seq("BIGINT", "BIGINT", "DOUBLE"))
    sql(s"INSERT INTO graft.spec.$t VALUES (100, 5000000000, 0.5)")
    assert(sql(s"SELECT SUM(n) AS sn FROM graft.spec.$t")
      .collect()(0).getLong(0) === (0 until 100).map(_ * 3L).sum + 5000000000L)
    assert(sql(s"SELECT SUM(x) AS sx FROM graft.spec.$t WHERE k < 4")
      .collect()(0).getDouble(0) === (0 + 0.25 + 0.5 + 0.75))
    // the pinned pre-widening version keeps its narrow schema
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 1")
      .schema.map(_.dataType.sql).toSeq === Seq("BIGINT", "INT", "FLOAT"))
    // narrowing / unrelated retypes are refused loudly
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN n TYPE INT") }
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN k TYPE STRING") }
    // widening an INDEXED column keeps pruning sound (stats were
    // recorded as longs regardless of the stored width)
    val t2 = fresh("widenidx")
    sql(s"CREATE TABLE graft.spec.$t2 (k INT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t2 SELECT /*+ REPARTITION(1) */ " +
        s"CAST(id + ${i * 100} AS INT), id FROM RANGE(100)")
    }
    sql(s"ALTER TABLE graft.spec.$t2 ALTER COLUMN k TYPE BIGINT")
    sql(s"DELETE FROM graft.spec.$t2 WHERE k >= 100 AND k <= 199")
    val res = TxnTable.commitMetrics(spark,
      s"${GraftCatalog.defaultWarehouse}/spec/$t2")
    assert(res("dropped") === 1 && res("kept") >= 2,
      s"widened key must still prune: $res")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t2")
      .collect()(0).getLong(0) === 300)
  }

  test("DECIMAL precision widening and DATE -> TIMESTAMP_NTZ are pure " +
      "metadata; scale changes and narrowings stay loud") {
    val t = fresh("widendec")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, amt DECIMAL(10,2), " +
      "big DECIMAL(20,4), d DATE)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, " +
      "CAST(id / 4 + 9999999 AS DECIMAL(10,2)), " +
      "CAST(id * 1e12 + 0.0001 AS DECIMAL(20,4)), " +
      "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) FROM RANGE(50)")
    val sumNarrow = sql(s"SELECT CAST(SUM(amt) AS STRING) AS s, " +
      s"CAST(SUM(big) AS STRING) AS b FROM graft.spec.$t").collect()(0)
    // int64-backed (10,2)->(14,2), binary-backed boundary (10,2) stays
    // checked by the big column's (20,4)->(28,4) promotion
    sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN amt TYPE DECIMAL(14,2)")
    sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN big TYPE DECIMAL(28,4)")
    sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN d TYPE TIMESTAMP_NTZ")
    // three widenings = three manifest writes, entries verbatim
    val v = TxnTable.currentVersion(spark, loc)
    assert(TxnTable.manifest(spark, loc, v).entries ===
      TxnTable.manifest(spark, loc, v - 3).entries,
      "widening touched data entries")
    assert(sql(s"SELECT * FROM graft.spec.$t").schema.map(_.dataType.sql)
      .toSeq === Seq("BIGINT", "DECIMAL(14,2)", "DECIMAL(28,4)",
        "TIMESTAMP_NTZ"))
    // old narrow files read exactly through the widened schema
    val sumWide = sql(s"SELECT CAST(SUM(amt) AS STRING) AS s, " +
      s"CAST(SUM(big) AS STRING) AS b FROM graft.spec.$t").collect()(0)
    assert(sumWide.getString(0) === sumNarrow.getString(0) &&
      sumWide.getString(1) === sumNarrow.getString(1),
      s"widened read changed values: $sumWide vs $sumNarrow")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE d = TIMESTAMP_NTZ'2024-01-03 00:00:00'")
      .collect()(0).getLong(0) === 1,
      "date must read as midnight TIMESTAMP_NTZ of the stored day")
    // a post-widening append lands wide and aggregates with old files
    sql(s"INSERT INTO graft.spec.$t VALUES (50, 999999999999.25, " +
      "1234567890123456789012.9999, TIMESTAMP_NTZ'2030-06-15 12:30:00')")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE amt >= 9999999").collect()(0).getLong(0) === 51)
    // the pinned pre-widening version keeps the narrow schema
    assert(sql(s"SELECT * FROM graft.spec.$t VERSION AS OF 1")
      .schema.map(_.dataType.sql).toSeq ===
      Seq("BIGINT", "DECIMAL(10,2)", "DECIMAL(20,4)", "DATE"))
    // loud refusals: scale change (rescales stored values), precision
    // narrowing, decimal -> double cross-family
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN amt TYPE DECIMAL(16,4)") }
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN amt TYPE DECIMAL(12,2)") }
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN amt TYPE DOUBLE") }
    intercept[Exception] { // timestamp_ntz -> date would truncate
      sql(s"ALTER TABLE graft.spec.$t ALTER COLUMN d TYPE DATE") }
  }

  test("CALL zorder rewrites the layout so two-dimensional boxes prune") {
    val t = fresh("zorderproc")
    sql(s"CREATE TABLE graft.spec.$t (a BIGINT, b BIGINT, v BIGINT)")
    // round-robin layout: every file spans the full range of BOTH dims,
    // so nothing can prune before the rewrite
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(8) */ " +
      "id % 100, id DIV 100, id FROM RANGE(10000)")
    val before = sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t")
      .collect()(0).getLong(0)
    sql(s"CALL graft.system.zorder('spec.$t', 'a,b', 8)")
    // content invariant; the z spec adopted as the table's index
    assert(sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t")
      .collect()(0).getLong(0) === before)
    val d = sql(s"SELECT index_cols FROM graft.spec.$t.detail").collect()(0)
    assert(d.getString(0) === "a,b")
    // a quarter box in both dims prunes files from the manifest alone
    val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    val boxSum = sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t " +
      "WHERE a >= 0 AND a <= 24 AND b >= 0 AND b <= 24")
      .collect()(0).getLong(0)
    val (kept, total) = (GraftCatalog.scanKept.get - k0,
      GraftCatalog.scanTotal.get - t0)
    assert(total >= 8 && kept < total,
      s"z-layout box must prune from the manifest ($kept of $total kept)")
    assert(boxSum === (0 until 2500).filter(_ % 100 <= 24).map(_.toLong).sum)
    assert(TxnTable.history(spark,
      s"${GraftCatalog.defaultWarehouse}/spec/$t").map(_._2).last === "zorder")
  }

  test("CALL clone/publish run the branch lifecycle; tags list and pin") {
    val src = fresh("cpsrc")
    sql(s"CREATE TABLE graft.spec.$src (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$src SELECT /*+ REPARTITION(1) */ id, id " +
      "FROM RANGE(100)")
    val br = fresh("cpbranch")
    // zero-copy branch via CALL: no data dir is even created
    sql(s"CALL graft.system.clone('spec.$src', 'spec.$br')")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$br")
      .collect()(0).getLong(0) === 100)
    // stage on the branch only; main never moves
    sql(s"INSERT INTO graft.spec.$br SELECT /*+ REPARTITION(1) */ " +
      "id + 1000, id FROM RANGE(20)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$src")
      .collect()(0).getLong(0) === 100)
    // publish the branch's additions onto main as one metadata commit
    sql(s"CALL graft.system.publish('spec.$br', 'spec.$src')")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$src")
      .collect()(0).getLong(0) === 120)
    // clone onto an existing table is refused; publish onto a missing
    // one likewise
    intercept[Exception] {
      sql(s"CALL graft.system.clone('spec.$src', 'spec.$br')") }
    intercept[Exception] {
      sql(s"CALL graft.system.publish('spec.$br', 'spec.missing_zzz')") }
    // tags: create two, list, numeric names refused
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$src"
    sql(s"CALL graft.system.tag('spec.$src', 'a-1', 1)")
    sql(s"CALL graft.system.tag('spec.$src', 'b.2', 2)")
    assert(TxnTable.tags(spark, loc) === Seq(("a-1", 1L), ("b.2", 2L)))
    intercept[Exception] { TxnTable.tag(spark, loc, "7", 1L) }
    intercept[Exception] { TxnTable.tag(spark, loc, "a/b", 1L) }
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$src " +
      "VERSION AS OF 'a-1'").collect()(0).getLong(0) === 100)
    // ... and the pins read back as a metadata table (LocalScan)
    val tagsDf = sql(s"SELECT name, version FROM graft.spec.$src.tags " +
      "ORDER BY name")
    assert(tagsDf.queryExecution.executedPlan.toString
      .contains("LocalTableScan"))
    assert(tagsDf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("a-1", 1L), ("b.2", 2L)))
  }

  test("DML keeps working after RENAME COLUMN: pruning maps to physical stats") {
    val t = fresh("renamedml")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, st STRING, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // four quarter-clustered single-file inserts → tight k ranges
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 100}, 'q$i', id FROM RANGE(100)")
    }
    sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN k TO id")
    // the renamed key column still PRUNES: stats live under the
    // physical name 'k', the DELETE names logical 'id'
    sql(s"DELETE FROM graft.spec.$t WHERE id >= 100 AND id <= 199")
    val res = TxnTable.commitMetrics(spark, loc)
    assert(res("dropped") === 1 && res("kept") >= 2,
      s"renamed-column DELETE must still prune from physical stats: $res")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 300)
    // UPDATE keys on the renamed index tuple
    sql(s"UPDATE graft.spec.$t SET v = v + 1000 WHERE id < 100")
    assert(sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t WHERE id < 100")
      .collect()(0).getLong(0) === (0 until 100).map(_ + 1000L).sum)
    // MERGE on the renamed key, pruned to the touched quarter
    sql(s"""MERGE INTO graft.spec.$t t
      USING (SELECT id + 300 AS id, 'q3' AS st, id * 2 AS v
             FROM RANGE(100)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.v""")
    val mres = TxnTable.commitMetrics(spark, loc)
    assert(mres("untouched") >= 1,
      s"renamed-key MERGE must prune untouched quarters: $mres")
    assert(sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t WHERE id >= 300")
      .collect()(0).getLong(0) === (0 until 100).map(_ * 2L).sum)
    // INSERT post-rename writes physical names; a fresh read round-trips
    sql(s"INSERT INTO graft.spec.$t SELECT id + 1000, 'q9', id FROM RANGE(10)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 310)
    // compact preserves content across the mapping
    sql(s"CALL graft.system.compact('spec.$t')")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 310)
  }

  test("streaming reads and writes map to physical names on renamed tables") {
    val t = fresh("mappedstream")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, id " +
      "FROM RANGE(50)")
    sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN v TO w")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id + 100, id * 2 FROM RANGE(50)")
    // SOURCE: tail from the beginning — the pre-rename generation's
    // physical 'v' bytes and the post-rename generation's (also
    // physical 'v') both resolve under logical 'w'
    val qn = s"${t}_tail"
    val q = spark.readStream.table(s"graft.spec.$t")
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table(qn)
    assert(out.schema.fieldNames.toSeq === Seq("k", "w"))
    assert(out.count() === 100)
    assert(out.filter("k < 50").agg(org.apache.spark.sql.functions
      .sum("w")).collect()(0).getLong(0) === (0 until 50).map(_.toLong).sum)
    assert(out.filter("k >= 100").agg(org.apache.spark.sql.functions
      .sum("w")).collect()(0).getLong(0) === (0 until 50).map(_ * 2L).sum)
    // SINK: stream INTO the mapped table — epochs land under the
    // frozen physical names, and batch SQL reads them back
    val src = fresh("mappedstreamsrc")
    sql(s"CREATE TABLE graft.spec.$src (k BIGINT, w BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$src SELECT id + 500, id + 7 FROM RANGE(10)")
    val ckpt = graft.Fs.scratch("graft_mappedsink", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val q2 = spark.readStream.table(s"graft.spec.$src")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft.spec.$t")
    q2.awaitTermination()
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 110)
    assert(sql(s"SELECT SUM(w) AS sw FROM graft.spec.$t WHERE k >= 500")
      .collect()(0).getLong(0) === (0 until 10).map(_ + 7L).sum)
  }

  test("a tailing stream passes rewrite_tombstones as an empty batch") {
    val t = fresh("streamtombrw")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, id " +
      "FROM RANGE(50)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // two MoR merges accrete tombstones (a tail across THOSE stays
    // loud — they retract rows); maintenance then collapses them
    val s2 = spark
    import s2.implicits._
    TxnTable.applyChangesMor(spark, loc,
      Seq((1L, 0L, "D"), (100L, 100L, "U")).toDF("k", "v", "op"), "k")
    TxnTable.applyChangesMor(spark, loc,
      Seq((2L, 0L, "D")).toDF("k", "v", "op"), "k")
    val preRewrite = TxnTable.currentVersion(spark, loc) // = 3
    TxnTable.rewriteTombstones(spark, loc)
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id + 1000, id FROM RANGE(3)")
    // a tail starting AFTER the merges crosses the rewrite commit: the
    // tombstone SET changed but the content did not — it must pass as
    // an EMPTY batch (not fail the tombstone guard) and then emit the
    // later append
    val ckpt = graft.Fs.scratch("graft_streamtombrw", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val qn = s"${t}_tail"
    val q = spark.readStream
      .option("startingVersion", (preRewrite + 1).toString)
      .table(s"graft.spec.$t")
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table(qn).collect().map(_.getLong(0)).sorted.toSeq
    assert(out === Seq(1000L, 1001L, 1002L),
      s"stream must skip the rewrite commit and emit the append: $out")
  }

  test("DROP then re-ADD COLUMN never resurrects old values") {
    val t = fresh("dropreadd")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, secret STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, 'classified' FROM RANGE(50)")
    sql(s"ALTER TABLE graft.spec.$t DROP COLUMN secret")
    assert(sql(s"SELECT * FROM graft.spec.$t").schema.fieldNames.toSeq ===
      Seq("k"))
    sql(s"ALTER TABLE graft.spec.$t ADD COLUMN secret STRING")
    // by-name parquet resolution would read 'classified' back from the
    // old files — the fresh physical name must prevent exactly that
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE secret IS NOT NULL").collect()(0).getLong(0) === 0,
      "dropped column's values resurrected after re-add")
    sql(s"INSERT INTO graft.spec.$t SELECT id + 100, 'fresh' FROM RANGE(5)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE secret = 'fresh'").collect()(0).getLong(0) === 5)
    // dropping the LAST column is refused
    val t2 = fresh("droplast")
    sql(s"CREATE TABLE graft.spec.$t2 (k BIGINT)")
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t2 DROP COLUMN k") }
  }

  test("t.detail is a one-row LocalScan tracking the table's operational state") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("detail")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, id " +
      "FROM RANGE(100)")
    def detail(): org.apache.spark.sql.Row = {
      val df = sql(s"SELECT * FROM graft.spec.$t.detail")
      assert(df.queryExecution.executedPlan.toString
        .contains("LocalTableScan"), "detail must plan as a LocalScan")
      df.collect()(0)
    }
    val r1 = detail()
    assert(r1.getLong(r1.fieldIndex("version")) === 1L)
    assert(r1.getString(r1.fieldIndex("operation")) === "append")
    assert(r1.getLong(r1.fieldIndex("num_files")) === 2L) // sentinel + 1
    assert(r1.getString(r1.fieldIndex("index_cols")) === "k")
    assert(r1.getLong(r1.fieldIndex("num_tombstones")) === 0L)
    assert(r1.isNullAt(r1.fieldIndex("checkpoint_version")))
    assert(TxnTable.tableBytes(spark, loc)
      .contains(r1.getLong(r1.fieldIndex("total_bytes"))))
    // the row TRACKS state: tombstone commit, cdc publish, checkpoint
    TxnTable.deleteKeysMor(spark, loc,
      Seq(1L, 2L).toDF("k"), "k")
    TxnTable.overwriteCdc(spark, loc,
      TxnTable.snapshot(spark, loc).filter(col("k") < 50), "k")
    sql(s"CALL graft.system.checkpoint('spec.$t')")
    val r2 = detail()
    assert(r2.getLong(r2.fieldIndex("version")) === 3L)
    assert(r2.getString(r2.fieldIndex("operation")) === "overwrite")
    assert(r2.getLong(r2.fieldIndex("num_tombstones")) === 0L,
      "the cdc overwrite replaced the tombstoned snapshot")
    assert(r2.getLong(r2.fieldIndex("num_cdc_files")) === 1L)
    assert(r2.getLong(r2.fieldIndex("checkpoint_version")) === 3L)
    assert(r2.getLong(r2.fieldIndex("committed_ts")) >
      r1.getLong(r1.fieldIndex("committed_ts")))
    // ... and the tombstoned INTERMEDIATE version shows its tombstone
    // through the pinned manifest (the detail row reads CURRENT state)
    assert(TxnTable.manifest(spark, loc, 2L).deletes.size === 1)
  }

  test("skipChangeCommits: the tail survives compaction; retracting ops stay loud") {
    val t = fresh("streamskipcc")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, a BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val d = fresh("streamskipccdst")
    sql(s"CREATE TABLE graft.spec.$d (k BIGINT, a BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val ckpt = graft.Fs.scratch("graft_skipcc", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    def drain(): Unit = {
      val q = spark.readStream
        .option("skipChangeCommits", "true")
        .table(s"graft.spec.$t")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(s"graft.spec.$d")
      q.awaitTermination()
    }
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, " +
      "id % 7, 'a' FROM RANGE(100)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id + 100, " +
      "id % 7, 'b' FROM RANGE(100)")
    drain()
    // OPTIMIZE mid-stream: the next drain must pass the compact version
    // as an EMPTY batch — zero duplicate, zero missing
    sql(s"CALL graft.system.compact('spec.$t')")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id + 200, " +
      "id % 7, 'c' FROM RANGE(100)")
    drain()
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$d")
      .collect()(0).getLong(0) === 300, "compaction duplicated/lost rows")
    assert(sql(s"SELECT COUNT(DISTINCT k) AS n FROM graft.spec.$d")
      .collect()(0).getLong(0) === 300)
    // OPTIMIZE ZORDER is equally content-preserving — the tail passes
    // it as an empty batch too
    sql(s"CALL graft.system.zorder('spec.$t', 'k,a', 4)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id + 300, " +
      "id % 7, 'z' FROM RANGE(100)")
    drain()
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$d")
      .collect()(0).getLong(0) === 400, "zorder duplicated/lost rows")
    // a genuinely RETRACTING op (file-pruned DELETE) stays loud even
    // with the option — skipChangeCommits passes compactions only
    sql(s"DELETE FROM graft.spec.$t WHERE k >= 200 AND k <= 250")
    val e = intercept[Exception] { drain() }
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e).exists(_.contains("append-only")),
      s"expected the loud append-only failure, got: ${messages(e).take(3)}")
  }

  test("t.changes resolves from manifests with version bounds; listings are dead") {
    val s2 = spark
    import s2.implicits._
    val t = fresh("changesbounds")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    TxnTable.append(spark, loc, (0L until 100L).map(i => (i, i)).toDF("k", "v"))
    // three publishing overwrites → versions 2, 3, 4 carry feeds
    TxnTable.overwriteCdc(spark, loc, TxnTable.snapshot(spark, loc)
      .withColumn("v", when(col("k") % 2 === 0, col("v") + 1)
        .otherwise(col("v"))), "k")
    TxnTable.overwriteCdc(spark, loc,
      TxnTable.snapshot(spark, loc).filter(col("k") < 90), "k")
    TxnTable.overwriteCdc(spark, loc, TxnTable.snapshot(spark, loc)
      .withColumn("v", when(col("k") < 5, col("v") * 2)
        .otherwise(col("v"))), "k")
    // each publishing commit records its change file in ITS manifest
    assert(TxnTable.manifest(spark, loc, 2L).cdcRefs.size === 1)
    assert(TxnTable.manifest(spark, loc, 1L).cdcRefs.isEmpty)
    // GARBAGE lands in _cdc/ (a crashed writer's stage, a stray file):
    // a listing reader would serve it; the manifest-resolving reader
    // must not — this is the "no directory listing" proof
    (900L to 902L).map(i => (i, 7, i)).toDF("k", "w", "v")
      .coalesce(1).write.parquet(s"$loc/_cdc_garbage_stage")
    val gdir = new org.apache.hadoop.fs.Path(s"$loc/_cdc_garbage_stage")
    val gfs = gdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gsrc = gfs.listStatus(gdir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    assert(gfs.rename(gsrc,
      new org.apache.hadoop.fs.Path(s"$loc/_cdc/v00000099-garbage-0.parquet")))
    def diff(a: Long, b: Long): Set[(Long, Int, Long)] =
      TxnTable.cdcSigned(spark, loc, a, b, "k").select("k", "w", "v")
        .as[(Long, Int, Long)].collect().toSet
    def feed(opts: (String, String)*): Set[(Long, Int, Long)] = {
      var r = spark.read
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.table(s"graft.spec.$t.changes").select("k", "w", "v")
        .as[(Long, Int, Long)].collect().toSet
    }
    assert(feed() === diff(1, 2) ++ diff(2, 3) ++ diff(3, 4),
      "unbounded batch must serve exactly the manifest-referenced feed")
    // inclusive bounds slice by PUBLISHING version
    assert(feed("startingVersion" -> "2", "endingVersion" -> "3") ===
      diff(1, 2) ++ diff(2, 3))
    assert(feed("endingVersion" -> "2") === diff(1, 2))
    assert(feed("startingVersion" -> "4") === diff(3, 4))
    // a FUTURE startingVersion is a legal batch slice (empty — no
    // changes in that range yet) and what a tail-only stream starts
    // from; vacuumed, inverted, and non-numeric bounds stay loud
    assert(feed("startingVersion" -> "9") === Set.empty)
    intercept[Exception] {
      feed("startingVersion" -> "3", "endingVersion" -> "2") }
    intercept[Exception] { feed("startingVersion" -> "bogus") }
    // the STREAM also resolves from manifests: the garbage file must
    // not surface there either, and endingVersion pins the tail
    val qn = s"${t}_cdcsink"
    val q = spark.readStream.option("endingVersion", "3")
      .table(s"graft.spec.$t.changes")
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table(qn).select("k", "w", "v")
      .as[(Long, Int, Long)].collect().toSet === diff(1, 2) ++ diff(2, 3))
    // a bound naming a VACUUMED version stays loud — that read would
    // silently serve a truncated feed
    TxnTable.checkpoint(spark, loc)
    TxnTable.vacuum(spark, loc, retain = 2)
    intercept[Exception] { feed("startingVersion" -> "1") }
  }

  test("sink replay detection is atomic with the CAS loop (zombie same-epoch race)") {
    import graft.sources.GraftStreamingWrite
    val t = fresh("streamzombie")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val schema = sql(s"SELECT * FROM graft.spec.$t").schema
    def stageOne(tag: String, lo: Int): String = {
      val sub = s"data/zombie-$tag"
      spark.range(lo, lo + 5).selectExpr("id AS k", s"'$tag' AS v")
        .coalesce(1).write.parquet(s"$loc/$sub")
      val dir = new org.apache.hadoop.fs.Path(s"$loc/$sub")
      val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      s"$sub/" + f.listStatus(dir).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).head
    }
    // the zombie: a second live writer instance of the SAME query (the
    // cluster-mode restart where the old driver lingers)
    val zombie = new GraftStreamingWrite(s"graft.spec.$t", loc, schema,
      "toctou-query", truncate = false)
    // the victim's seam fires exactly inside the refresh↔CAS window:
    // on the armed attempt the zombie lands THE SAME epoch first
    var armed = false
    var fired = false
    val w = new GraftStreamingWrite(s"graft.spec.$t", loc, schema,
      "toctou-query", truncate = false, () => {
        if (armed && !fired) {
          fired = true
          zombie.commit(1L, Array(sinkFile(loc, stageOne("z1", 50), 5)))
        }
      })
    w.commit(0L, Array(sinkFile(loc, stageOne("e0", 0), 5)))
    assert(TxnTable.currentVersion(spark, loc) === 1L)
    armed = true
    w.commit(1L, Array(sinkFile(loc, stageOne("e1", 100), 5)))
    // exactly ONE epoch-1 commit landed (the zombie's); the victim's
    // duplicate was detected by the in-loop recheck and dropped
    assert(TxnTable.currentVersion(spark, loc) === 2L,
      "epoch 1 committed twice — replay detection raced")
    assert(fired, "seam never fired; the race was not exercised")
    val vs = sql(s"SELECT v, COUNT(*) AS n FROM graft.spec.$t GROUP BY v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vs === Map("e0" -> 5L, "z1" -> 5L),
      s"duplicate or missing epoch rows: $vs")
    assert(TxnTable.commitMetrics(spark, loc)("epoch") === 1L)
  }

  test("a constraint added inside the epoch's CAS window is re-enforced") {
    import graft.sources.{GraftStagedFile, GraftStreamingWrite}
    val t = fresh("streamcheckrace")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val schema = sql(s"SELECT * FROM graft.spec.$t").schema
    def stageOne(tag: String, lo: Int, vExpr: String): String = {
      val sub = s"data/race-$tag"
      spark.range(lo, lo + 5).selectExpr("id AS k", s"$vExpr AS v")
        .coalesce(1).write.parquet(s"$loc/$sub")
      val dir = new org.apache.hadoop.fs.Path(s"$loc/$sub")
      val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      s"$sub/" + f.listStatus(dir).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).head
    }
    // the ALTER lands exactly inside the refresh↔CAS window: rebasing
    // past it without re-validating would commit unchecked rows under
    // a constraint addCheck just verified
    var armed = false
    var fired = false
    val w = new GraftStreamingWrite(s"graft.spec.$t", loc, schema,
      "checkrace-query", truncate = false, () => {
        if (armed && !fired) {
          fired = true
          TxnTable.addCheck(spark, loc, "pos", "v >= 0")
        }
      })
    w.commit(0L, Array(GraftStagedFile(stageOne("e0", 0, "id"), 5)))
    armed = true
    val e = intercept[Exception] {
      w.commit(1L, Array(GraftStagedFile(stageOne("bad", 50, "-id"), 5)))
    }
    assert(e.getMessage.contains("CHECK"), e.getMessage.take(200))
    assert(fired, "seam never fired; the race was not exercised")
    // the constraint's commit is the newest version; the violating
    // epoch landed nothing and dropped its stage
    assert(TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc)).checks.map(_._1) === Seq("pos"))
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE v < 0")
      .collect()(0).getLong(0) === 0, "violating epoch rows landed")
    val referenced = TxnTable.versions(spark, loc).flatMap(v =>
      TxnTable.manifest(spark, loc, v).liveFiles).toSet
    val dataP = new org.apache.hadoop.fs.Path(s"$loc/data")
    val dfs = dataP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = dfs.listStatus(dataP).filter(_.isDirectory).flatMap(d =>
      dfs.listStatus(d.getPath).map(st =>
        s"data/${d.getPath.getName}/${st.getPath.getName}"))
      .filter(_.endsWith(".parquet")).toSet
    assert(onDisk.subsetOf(referenced),
      s"aborted epoch leaked its stage: ${onDisk.diff(referenced)}")
    // the SAME epoch retried with clean rows now validates against the
    // new constraint and commits
    w.commit(1L, Array(GraftStagedFile(stageOne("good", 50, "id"), 5)))
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 10)
  }

  test("streaming tail emits version 0's content for CTAS tables") {
    // v0 is NOT always the zero-row create sentinel: CTAS (and
    // TxnTable.create(df)) tables carry their full content at v0 — the
    // from-the-beginning tail must emit it, not start the walk at (0, n]
    val t = fresh("streamv0")
    sql(s"CREATE TABLE graft.spec.$t TBLPROPERTIES ('index' = 'k') " +
      "AS SELECT id AS k, 'seed' AS v FROM RANGE(50)")
    sql(s"INSERT INTO graft.spec.$t SELECT id + 100, 'delta' FROM RANGE(10)")
    val qn = s"${t}_sink"
    val q = spark.readStream.table(s"graft.spec.$t")
      .writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(qn).groupBy("v").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("seed" -> 50L, "delta" -> 10L),
      s"v0 content missing or duplicated in the tail: $got")
    // an explicit startingVersion=0 means the same thing
    val qn2 = s"${t}_sink2"
    val q2 = spark.readStream.option("startingVersion", "0")
      .table(s"graft.spec.$t")
      .writeStream.format("memory").queryName(qn2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.table(qn2).count() === 60)
  }

  test("string-keyed MERGE prunes via truncated stats; float keys stay loud") {
    val t = fresh("strmerge")
    sql(s"CREATE TABLE graft.spec.$t (sid STRING, v BIGINT) " +
      "TBLPROPERTIES ('strindex' = 'sid')")
    // two prefix-clustered single-file regions, keys LONGER than the
    // 16-char truncation width and sharing a prefix within each region:
    // the manifest records truncated bounds, which must stay
    // conservative (over-touch allowed, lost changes never)
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "'alpha-' || lpad(CAST(id AS STRING), 14, '0'), id FROM RANGE(50)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "'omega-' || lpad(CAST(id AS STRING), 14, '0'), id FROM RANGE(50)")
    // a change set confined to the alpha region: updates + an insert
    sql(s"""MERGE INTO graft.spec.$t t
      USING (SELECT 'alpha-' || lpad(CAST(id AS STRING), 14, '0') AS sid,
               id * 10 AS v FROM RANGE(60)) s
      ON t.sid = s.sid
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (sid, v) VALUES (s.sid, s.v)""")
    val m = TxnTable.commitMetrics(spark,
      s"${GraftCatalog.defaultWarehouse}/spec/$t")
    // alpha file + stat-less create sentinel touched; omega verbatim
    assert(m("touched") <= 2 && m("untouched") >= 1,
      s"string-key prune failed: $m")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 110)
    assert(sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t " +
      "WHERE sid LIKE 'alpha%'").collect()(0).getLong(0) ===
      (0 until 60).map(_ * 10L).sum)
    assert(sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t " +
      "WHERE sid LIKE 'omega%'").collect()(0).getLong(0) ===
      (0 until 50).map(_.toLong).sum, "untouched region changed")
    // a float/decimal merge key has no sound manifest stats: loud
    val tf = fresh("floatmerge")
    sql(s"CREATE TABLE graft.spec.$tf (k DOUBLE, v BIGINT)")
    sql(s"INSERT INTO graft.spec.$tf SELECT CAST(id AS DOUBLE), id " +
      "FROM RANGE(10)")
    val e = intercept[Exception] {
      sql(s"""MERGE INTO graft.spec.$tf t
        USING (SELECT CAST(1.0 AS DOUBLE) AS k, 5 AS v) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v""")
    }
    assert(e.getMessage.contains("integral or string"), e.getMessage.take(160))
  }

  test("string-keyed UPDATE routes through the strindex tuple") {
    val t = fresh("strupdate")
    sql(s"CREATE TABLE graft.spec.$t (sid STRING, v BIGINT) " +
      "TBLPROPERTIES ('strindex' = 'sid')")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "'a-' || lpad(CAST(id AS STRING), 6, '0'), id FROM RANGE(50)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "'b-' || lpad(CAST(id AS STRING), 6, '0'), id FROM RANGE(50)")
    sql(s"UPDATE graft.spec.$t SET v = v + 1000 WHERE sid < 'b'")
    val m = TxnTable.commitMetrics(spark,
      s"${GraftCatalog.defaultWarehouse}/spec/$t")
    assert(m("touched") <= 2 && m("untouched") >= 1,
      s"string-key UPDATE did not prune: $m")
    assert(sql(s"SELECT SUM(v) AS sv FROM graft.spec.$t")
      .collect()(0).getLong(0) === 2 * (0 until 50).map(_.toLong).sum + 50000)
  }

  test("NOT MATCHED BY SOURCE rejects NULL-key target rows loudly") {
    val t = fresh("nmbsnull")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, id FROM RANGE(20)")
    sql(s"INSERT INTO graft.spec.$t VALUES (NULL, 999)")
    // a NULL-key target row matches no source row, so standard SQL
    // routes it to NMBS — but a keyed change set cannot address it: a
    // silent pass-through would leave an NMBS DELETE alive (and
    // duplicate an NMBS UPDATE), so the statement must fail loudly
    val e = intercept[Exception] {
      sql(s"""MERGE INTO graft.spec.$t t
        USING (SELECT id AS k, id * 2 AS v FROM RANGE(10)) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage.take(200))
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 21, "failed merge must not have landed")
    // without NMBS actions the same table merges fine (NULL keys insert
    // or survive — SQL key-equality semantics)
    sql(s"""MERGE INTO graft.spec.$t t
      USING (SELECT id AS k, id * 2 AS v FROM RANGE(10)) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *""")
    assert(sql(s"SELECT v FROM graft.spec.$t WHERE k IS NULL")
      .collect().map(_.getLong(0)).toSeq === Seq(999L))
    // and NMBS on a NULL-free target still works
    sql(s"DELETE FROM graft.spec.$t WHERE v = 999")
    sql(s"""MERGE INTO graft.spec.$t t
      USING (SELECT id AS k, id * 3 AS v FROM RANGE(5)) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(sql(s"SELECT COUNT(*) AS n, SUM(v) AS sv FROM graft.spec.$t")
      .collect()(0).getLong(0) === 5)
  }

  test("branches: writable lineage; vacuum shields branch-referenced files") {
    val t = fresh("branchvac")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(2) */ id, id " +
      "FROM RANGE(100)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"CALL graft.system.branch('spec.$t', 'dev')")
    sql(s"INSERT INTO graft.spec.$t.branch_dev SELECT id + 1000, id " +
      "FROM RANGE(50)")
    def cnt(q: String): Long = sql(q).collect()(0).getLong(0)
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 100)
    assert(TxnTable.versions(spark, loc) === Seq(0L, 1L),
      "branch write moved the parent's timeline")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t.branch_dev")
      === 150)
    // main moves independently; retention advances past the version
    // the branch references — its files must survive the vacuum
    sql(s"INSERT OVERWRITE graft.spec.$t SELECT id + 5000, id " +
      "FROM RANGE(10)")
    sql(s"CALL graft.system.vacuum('spec.$t', 1)")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 10)
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t.branch_dev")
      === 150, "vacuum deleted files an open branch references")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "VERSION AS OF 'dev'") === 150)
    // main moved → fast-forward refuses; duplicate branch refuses
    val e = intercept[Exception] {
      sql(s"CALL graft.system.fastforward('spec.$t', 'dev')").collect() }
    assert(e.getMessage.contains("fast-forward"), e.getMessage.take(160))
    intercept[Exception] {
      sql(s"CALL graft.system.branch('spec.$t', 'dev')").collect() }
    // dropping the branch releases the shield: the next vacuum ages
    // the referenced files out, and the branch identifier unresolves
    sql(s"CALL graft.system.drop_branch('spec.$t', 'dev')")
    intercept[Exception] {
      sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t.branch_dev")
        .collect() }
    sql(s"CALL graft.system.vacuum('spec.$t', 1)")
    intercept[Exception] {
      TxnTable.snapshot(spark, TxnTable.branchDir(loc, "dev")).count() }
  }

  test("fastforward + drop_branch + vacuum keeps the parent's data; " +
      "a dropped branch name is reusable") {
    val t = fresh("ffvac")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(3) */ id, id " +
      "FROM RANGE(100)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    def cnt(q: String): Long = sql(q).collect()(0).getLong(0)
    def sums(): (Long, Long) = {
      val r = sql(s"SELECT COUNT(*) AS n, SUM(v) AS sv FROM graft.spec.$t")
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // branch, stage on the branch, fast-forward back onto main
    sql(s"CALL graft.system.branch('spec.$t', 'dev')")
    sql(s"INSERT INTO graft.spec.$t.branch_dev SELECT id + 1000, id + 7 " +
      "FROM RANGE(50)")
    sql(s"CALL graft.system.fastforward('spec.$t', 'dev')")
    val want = sums()
    assert(want._1 === 150)
    // the published manifest must reference the parent's own files
    // RELATIVELY — an absolute self-reference would fall out of
    // vacuum's keep-set the moment the branch shield drops
    val m = TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc))
    assert(m.entries.exists(_.path.startsWith("data/")),
      "fastforward lost the parent's relative self-references:\n" +
        m.entries.map(_.path).mkString("\n"))
    assert(!m.entries.exists(_.path.startsWith(s"$loc/data/")),
      "fastforward published absolute self-references:\n" +
        m.entries.map(_.path).mkString("\n"))
    // the bug: drop the branch (shield gone), vacuum to retain=1 —
    // the parent's live files must survive on the parent's OWN merits
    sql(s"CALL graft.system.drop_branch('spec.$t', 'dev')")
    sql(s"CALL graft.system.vacuum('spec.$t', 1)")
    assert(sums() === want,
      "vacuum after fastforward + drop_branch destroyed live parent data")
    // re-creating a branch under the dropped name must work (fresh
    // uuid-suffixed dir; the old dir with its published files is never
    // reused or touched)
    sql(s"CALL graft.system.branch('spec.$t', 'dev')")
    sql(s"INSERT INTO graft.spec.$t.branch_dev SELECT id + 9000, id " +
      "FROM RANGE(10)")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t.branch_dev")
      === 160)
    assert(sums() === want, "recreated branch moved the parent")
    // a second fastforward from the recreated branch also lands clean
    sql(s"CALL graft.system.fastforward('spec.$t', 'dev')")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 160)
    sql(s"CALL graft.system.drop_branch('spec.$t', 'dev')")
    sql(s"CALL graft.system.vacuum('spec.$t', 1)")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 160,
      "second ff + vacuum cycle destroyed data")
  }

  test("rebase: clean replay is pure metadata; a conflicting rewrite " +
      "recomputes at row level") {
    val t = fresh("rebase")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, id " +
      "FROM RANGE(100)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    def cnt(q: String): Long = sql(q).collect()(0).getLong(0)
    // ---- clean case: disjoint appends on branch and main ----
    sql(s"CALL graft.system.branch('spec.$t', 'dev')")
    sql(s"INSERT INTO graft.spec.$t.branch_dev SELECT id + 1000, id " +
      "FROM RANGE(10)")
    sql(s"INSERT INTO graft.spec.$t SELECT id + 2000, id FROM RANGE(5)")
    intercept[Exception] { // moved main: ff refuses
      sql(s"CALL graft.system.fastforward('spec.$t', 'dev')").collect() }
    sql(s"CALL graft.system.rebase('spec.$t', 'dev')")
    val bdv = TxnTable.branchDir(spark, loc, "dev")
    val mClean = TxnTable.manifest(spark, bdv,
      TxnTable.currentVersion(spark, bdv))
    assert(mClean.metrics.get("recomputed").isEmpty,
      "disjoint appends must rebase as pure metadata, not recompute")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t.branch_dev")
      === 115)
    sql(s"CALL graft.system.fastforward('spec.$t', 'dev')")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 115,
      "post-rebase fastforward must land both lineages' writes")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE k >= 2000") === 5, "rebase lost main's interim rows")
    // ---- conflict case: both sides rewrite the same file ----
    sql(s"DELETE FROM graft.spec.$t.branch_dev WHERE k < 10")
    sql(s"DELETE FROM graft.spec.$t WHERE k >= 90 AND k < 100")
    intercept[Exception] {
      sql(s"CALL graft.system.fastforward('spec.$t', 'dev')").collect() }
    sql(s"CALL graft.system.rebase('spec.$t', 'dev')")
    val mConf = TxnTable.manifest(spark, bdv,
      TxnTable.currentVersion(spark, bdv))
    assert(mConf.metrics.get("recomputed") === Some(1L),
      s"overlapping rewrites must force a recompute: ${mConf.metrics}")
    sql(s"CALL graft.system.fastforward('spec.$t', 'dev')")
    // three-way merge: base 0..99(+appends), branch removed 0..9,
    // main removed 90..99 — both removals land
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 95)
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE k < 10 OR (k >= 90 AND k < 100)") === 0,
      "conflicting rebase lost one side's delete")
    assert(cnt(s"SELECT SUM(k) AS sk FROM graft.spec.$t") ===
      (10L until 90L).sum + (0L until 10L).map(_ + 1000).sum +
        (0L until 5L).map(_ + 2000).sum)
  }

  test("rebase routes a branch with BOUNDED tombstones to the row-level " +
      "recompute (old-seq-space bounds never replay as metadata)") {
    val t = fresh("rebasetomb")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, id " +
      "FROM RANGE(100)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val s2 = spark
    import s2.implicits._
    sql(s"CALL graft.system.branch('spec.$t', 'dev')")
    val bd = TxnTable.branchDir(spark, loc, "dev")
    // two MoR merges on the BRANCH, collapsed by maintenance — the
    // bounded file's row bounds speak the branch's seq space
    TxnTable.applyChangesMor(spark, bd,
      Seq((3L, 0L, "D")).toDF("k", "v", "op"), "k")
    TxnTable.applyChangesMor(spark, bd,
      Seq((4L, 0L, "D"), (3L, 33L, "U")).toDF("k", "v", "op"), "k")
    TxnTable.rewriteTombstones(spark, bd)
    // main moves with a DISJOINT append — metadata-clean by the file
    // rule, but the bounded tombstone must still force the recompute
    sql(s"INSERT INTO graft.spec.$t SELECT id + 5000, id FROM RANGE(5)")
    sql(s"CALL graft.system.rebase('spec.$t', 'dev')")
    val mReb = TxnTable.manifest(spark, bd,
      TxnTable.currentVersion(spark, bd))
    assert(mReb.metrics.get("recomputed") === Some(1L),
      s"bounded tombstones must force the recompute path: ${mReb.metrics}")
    sql(s"CALL graft.system.fastforward('spec.$t', 'dev')")
    def cnt(q: String): Long = sql(q).collect()(0).getLong(0)
    // 100 base − k=4 (deleted) + k=3 updated + 5 main appends
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 104)
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE k = 4")
      === 0, "branch delete lost in rebase")
    assert(sql(s"SELECT v FROM graft.spec.$t WHERE k = 3").collect()
      .map(_.getLong(0)).toSeq === Seq(33L), "branch update lost")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t WHERE k >= 5000")
      === 5, "main's interim append lost")
  }

  test("streaming WAP: a stream lands on a branch, branch maintenance " +
      "runs by name, fastforward publishes") {
    val t = fresh("brstream")
    val src = fresh("brstreamsrc")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(2) */ id, id " +
      "FROM RANGE(50)")
    sql(s"CREATE TABLE graft.spec.$src (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO graft.spec.$src SELECT id + 1000, id FROM RANGE(20)")
    sql(s"CALL graft.system.branch('spec.$t', 'stage')")
    // the arriving stream writes to the BRANCH table by name — main's
    // timeline must not move while the staged data streams in
    val ckpt = graft.Fs.scratch("graft_brstream", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    val q = spark.readStream.table(s"graft.spec.$src")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft.spec.$t.branch_stage")
    q.awaitTermination()
    def cnt(q: String): Long = sql(q).collect()(0).getLong(0)
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 50,
      "streaming into the branch moved main")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t.branch_stage")
      === 70)
    // branch MAINTENANCE by its catalog name: compaction of the staged
    // lineage before publishing
    sql(s"CALL graft.system.compact('spec.$t.branch_stage')")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t.branch_stage")
      === 70, "branch compaction changed content")
    // vacuum of the BRANCH lineage by name: the pre-compact branch
    // versions age out, content survives, parent untouched (the
    // parent's files are absolute refs outside the branch's data dir)
    sql(s"CALL graft.system.vacuum('spec.$t.branch_stage', 1)")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t.branch_stage")
      === 70, "branch vacuum destroyed content")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 50,
      "branch vacuum touched the parent")
    // the .branches metadata table reports the lineage
    val br = sql(s"SELECT name, base_version, head_version, dir " +
      s"FROM graft.spec.$t.branches").collect()
    assert(br.length === 1 && br(0).getString(0) === "stage" &&
      br(0).getString(3) === "_branches/stage", br.mkString(","))
    sql(s"CALL graft.system.fastforward('spec.$t', 'stage')")
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t") === 70)
    assert(cnt(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE k >= 1000") === 20, "published stream rows missing")
    // a non-branch unknown ref still refuses loudly
    intercept[Exception] {
      sql(s"CALL graft.system.compact('spec.$t.branch_nosuch')")
        .collect() }
    // a literal CREATE under the reserved branch namespace refuses —
    // plain, CTAS, and RENAME TO all take the same guard
    intercept[Exception] {
      sql(s"CREATE TABLE graft.spec.$t.branch_other (k BIGINT)") }
    intercept[Exception] {
      sql(s"CREATE TABLE graft.spec.$t.branch_ctas AS SELECT 1 AS k") }
    val tmpT = fresh("brren")
    sql(s"CREATE TABLE graft.spec.$tmpT (k BIGINT)")
    intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$tmpT RENAME TO spec.$t.branch_ren") }
    // DROP TABLE on the branch ident routes to drop_branch (Spark
    // discards dropTable's boolean — a no-op would be silent)
    sql(s"DROP TABLE graft.spec.$t.branch_stage")
    assert(TxnTable.branches(spark,
      s"${GraftCatalog.defaultWarehouse}/spec/$t").isEmpty,
      "DROP TABLE on a branch ident must drop the branch ref")
  }

  test("expire_snapshots: age-based retention keeps the newest and " +
      "every pinned version") {
    val t = fresh("expire")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT)")
    sql(s"INSERT INTO graft.spec.$t SELECT id FROM RANGE(10)")
    sql(s"INSERT INTO graft.spec.$t SELECT id + 10 FROM RANGE(10)")
    sql(s"INSERT INTO graft.spec.$t SELECT id + 20 FROM RANGE(10)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    TxnTable.tag(spark, loc, "keepme", 1L)
    // a cutoff in the distant past expires nothing
    sql(s"CALL graft.system.expire_snapshots('spec.$t', 10000.0)")
    assert(TxnTable.versions(spark, loc) === Seq(0L, 1L, 2L, 3L))
    // cutoff = now: everything older than this instant goes — except
    // the newest version and the tagged pin
    sql(s"CALL graft.system.expire_snapshots('spec.$t', 0.0)")
    assert(TxnTable.versions(spark, loc) === Seq(1L, 3L),
      s"expected newest + tagged pin: ${TxnTable.versions(spark, loc)}")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 30, "expiration destroyed content")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "VERSION AS OF 'keepme'").collect()(0).getLong(0) === 10,
      "expiration destroyed the tagged pin")
  }

  test("tags and branches refuse to shadow each other's names") {
    val t = fresh("refns")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT)")
    sql(s"INSERT INTO graft.spec.$t SELECT id FROM RANGE(10)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    TxnTable.tag(spark, loc, "pin", 1L)
    // a branch named like the live tag would repoint VERSION AS OF
    // 'pin' from the immutable pin to a mutable head — refused
    val e1 = intercept[IllegalArgumentException] {
      TxnTable.branch(spark, loc, "pin") }
    assert(e1.getMessage.contains("tag"), e1.getMessage.take(160))
    TxnTable.branch(spark, loc, "dev")
    val e2 = intercept[IllegalArgumentException] {
      TxnTable.tag(spark, loc, "dev", 1L) }
    assert(e2.getMessage.contains("branch"), e2.getMessage.take(160))
    // the refusals left both existing refs intact
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "VERSION AS OF 'pin'").collect()(0).getLong(0) === 10)
    assert(TxnTable.branches(spark, loc).map(_._1) === Seq("dev"))
  }

  test("DROP COLUMN of an unreferenced column carries CHECK constraints") {
    val t = fresh("dropcheck")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT, z STRING) " +
      "TBLPROPERTIES ('check.pos' = 'v >= 0')")
    sql(s"INSERT INTO graft.spec.$t VALUES (1, 1, 'a')")
    // z is unreferenced by the constraint — the drop is legal, but the
    // constraint must SURVIVE it (un-enforcement is always explicit)
    sql(s"ALTER TABLE graft.spec.$t DROP COLUMN z")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    assert(TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc)).checks === Seq(("pos", "v >= 0")),
      "DROP COLUMN erased the table's CHECK constraints")
    intercept[Exception] {
      sql(s"INSERT INTO graft.spec.$t VALUES (2, -1)") }
    sql(s"INSERT INTO graft.spec.$t VALUES (2, 2)")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 2)
  }

  test("batch change feed refuses an interior vacuum hole loudly") {
    val s = spark
    import s.implicits._
    val t = fresh("cdchole")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v BIGINT)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    TxnTable.append(spark, loc,
      (0L until 20L).map(i => (i, i)).toDF("k", "v"))
    // publishing overwrites at versions 2, 3, 4, 5
    (1 to 4).foreach { i =>
      TxnTable.overwriteCdc(spark, loc, TxnTable.snapshot(spark, loc)
        .withColumn("v", col("v") + i), "k")
    }
    def feed(opts: (String, String)*): Long = {
      var r = spark.read
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.table(s"graft.spec.$t.changes").count()
    }
    // tag-shielded vacuum leaves an INTERIOR hole: retained = {2, 5}
    TxnTable.tag(spark, loc, "keep2", 2L)
    TxnTable.checkpoint(spark, loc)
    TxnTable.vacuum(spark, loc, retain = 1)
    assert(TxnTable.versions(spark, loc) === Seq(2L, 5L))
    // endpoint-valid ranges spanning the hole are loud — serving only
    // the surviving endpoints would read as "caught up" when versions
    // 3 and 4 are gone
    val e = intercept[Exception] {
      feed("startingVersion" -> "2", "endingVersion" -> "5") }
    assert(e.getMessage.contains("hole"), e.getMessage.take(200))
    intercept[Exception] { feed() }
    // bounded slices on either side of the hole still serve
    assert(feed("startingVersion" -> "2", "endingVersion" -> "2") > 0)
    assert(feed("startingVersion" -> "5") > 0)
  }

  test("initial defaults on the SQL surface: pre-add rows read the " +
      "default through the analyzer swap; streams refuse a replay " +
      "crossing the add; aggregate pushdown stands down") {
    val t = fresh("defaults")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, CONCAT('r', id) " +
      "FROM RANGE(100)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // the PURE-SQL surface: the catalog declares
    // SUPPORT_COLUMN_DEFAULT_VALUE, so the parser lets DEFAULT through
    // and alterTable stores it as the table format's initial default
    sql(s"ALTER TABLE graft.spec.$t ADD COLUMN tier STRING " +
      "DEFAULT 'bronze'")
    // a post-add insert stores a real value AND a real NULL
    sql(s"INSERT INTO graft.spec.$t VALUES " +
      "(1000, 'x', 'gold'), (1001, 'y', CAST(NULL AS STRING))")
    // a COLUMN-LIST insert omitting the defaulted column: Spark's own
    // ResolveDefaultColumns fills it from the CURRENT_DEFAULT metadata
    // the table's schema exposes — the WRITE-side half, engine-served
    sql(s"INSERT INTO graft.spec.$t (k, v) VALUES (2000, 'z')")
    // pre-add rows answer the default through SQL; post-add rows keep
    // their stored values — including the genuine NULL
    val tiers = sql(s"SELECT k, tier FROM graft.spec.$t").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(tiers(7L) === Some("bronze"), "pre-add row must read default")
    assert(tiers(1000L) === Some("gold"))
    assert(tiers(1001L) === None, "a post-add NULL must STAY NULL")
    assert(tiers(2000L) === Some("bronze"),
      "a column-list INSERT must fill the write-side default")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE tier = 'bronze'").collect()(0).getLong(0) === 101L)
    // manifest-answered aggregates stand down (stats lie about the
    // defaulted column); the count comes from a real read, still exact
    val a0 = GraftCatalog.aggAnswered.get()
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 103L)
    assert(GraftCatalog.aggAnswered.get() === a0,
      "aggregate pushdown must refuse a defaulted table")
    // a stream whose replay crosses the add refuses loudly; anchored
    // at-or-after the add it serves (those files carry real values)
    val ckpt = Fs.freshScratch("graft_catspec", "def_ckpt")
    val e = intercept[Exception] {
      spark.readStream.table(s"graft.spec.$t").writeStream
        .format("memory").queryName("def_refuse")
        .option("checkpointLocation", s"$ckpt/a")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("initial DEFAULT") ||
        Option(e.getCause).exists(_.getMessage.contains("initial DEFAULT"))),
      s"wrong refusal: ${e.getMessage}")
    val q = spark.readStream
      .option("startingVersion", TxnTable.currentVersion(spark, loc))
      .table(s"graft.spec.$t").writeStream
      .format("memory").queryName("def_tail")
      .option("checkpointLocation", s"$ckpt/b")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(sql("SELECT COUNT(*) AS n FROM def_tail")
      .collect()(0).getLong(0) === 1L,
      "an at-or-after anchor must stream the post-add files " +
        "(the current version's single-row insert)")
    // compact MATERIALIZES the defaults: no live file predates the add
    // any more, so the fast paths return — manifest-answered aggregates
    // fire again and the content is unchanged
    TxnTable.compact(spark, loc)
    val a1 = GraftCatalog.aggAnswered.get()
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t")
      .collect()(0).getLong(0) === 103L)
    assert(GraftCatalog.aggAnswered.get() === a1 + 1,
      "materialized defaults must restore aggregate pushdown")
    assert(sql(s"SELECT COUNT(*) AS n FROM graft.spec.$t " +
      "WHERE tier = 'bronze'").collect()(0).getLong(0) === 101L)
  }

  test("default since-version stamps survive branch transplants: " +
      "fastForward keeps the PARENT's stamp, streams stay guarded") {
    val t = fresh("defbranch")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING)")
    sql(s"INSERT INTO graft.spec.$t SELECT id, CONCAT('r', id) " +
      "FROM RANGE(40)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"ALTER TABLE graft.spec.$t ADD COLUMN tier STRING " +
      "DEFAULT 'bronze'") // parent version 2, sinceVer = 2
    TxnTable.branch(spark, loc, "dev")
    val bd = TxnTable.branchDir(spark, loc, "dev")
    val s2 = spark
    import s2.implicits._
    TxnTable.append(spark, bd,
      Seq((500L, "b", "silver")).toDF("k", "v", "tier"))
    TxnTable.fastForward(spark, loc, "dev") // branch schema → parent
    // the transplanted schema must carry the PARENT-timeline stamp (2),
    // not the branch clone's re-anchored one — or the stream guard dies
    val m = TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc))
    val sinceV = m.schema.toSeq.flatMap(TxnTable.defaultedFields)
      .map(_._4)
    assert(sinceV === Seq(2L),
      s"fastForward must keep the parent's since-version: $sinceV")
    // a full replay still refuses (versions 0-1 predate the default)...
    val ckpt = Fs.freshScratch("graft_catspec", "defbr_ckpt")
    val e = intercept[Exception] {
      spark.readStream.table(s"graft.spec.$t").writeStream
        .format("memory").queryName("defbr_refuse")
        .option("checkpointLocation", s"$ckpt/a")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert((e.getMessage != null && e.getMessage.contains("initial DEFAULT"))
      || Option(e.getCause).exists(_.getMessage.contains("initial DEFAULT")),
      s"guard lost after fastForward: ${e.getMessage}")
    // ...while an at-or-after anchor serves the branch's published row
    val q = spark.readStream.option("startingVersion", "3")
      .table(s"graft.spec.$t").writeStream
      .format("memory").queryName("defbr_tail")
      .option("checkpointLocation", s"$ckpt/b")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(sql("SELECT k FROM defbr_tail").collect().map(_.getLong(0))
      .toSet === Set(500L))
  }

  test("CREATE TABLE with DEFAULT: column-list INSERTs fill from the " +
      "declared default (write-side only — no pre-existing rows)") {
    val t = fresh("createdef")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING, " +
      "tier STRING DEFAULT 'basic')")
    sql(s"INSERT INTO graft.spec.$t (k, v) VALUES (1, 'a')")
    sql(s"INSERT INTO graft.spec.$t VALUES (2, 'b', 'pro')")
    val rows = sql(s"SELECT k, tier FROM graft.spec.$t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows === Map(1L -> "basic", 2L -> "pro"),
      s"declared default must fill omitted columns: $rows")
  }

  test("a tombstone keyed on a defaulted column matches the value rows " +
      "READ — the default — not the stored NULL") {
    val t = fresh("deftomb")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING)")
    sql(s"INSERT INTO graft.spec.$t SELECT id, CONCAT('r', id) " +
      "FROM RANGE(50)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"ALTER TABLE graft.spec.$t ADD COLUMN grade BIGINT DEFAULT 7")
    sql(s"INSERT INTO graft.spec.$t VALUES (100, 'x', 7), (101, 'y', 9)")
    // MoR-delete grade = 7: must kill ALL 50 pre-add rows (they read 7)
    // plus the one post-add row that stored 7 — never resurrect either
    val s2 = spark
    import s2.implicits._
    TxnTable.deleteKeysMor(spark, loc, Seq(7L).toDF("grade"), "grade")
    val left = sql(s"SELECT k FROM graft.spec.$t").collect()
      .map(_.getLong(0)).toSet
    assert(left === Set(101L),
      s"default-valued rows must fall to the tombstone: $left")
  }

  test("_metadata on catalog scans: (file_path, row_index) round-trips " +
      "against the manifest entry list, speaks the DV coordinate " +
      "space, and applies tombstones") {
    val t = fresh("metacols")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ id, " +
      "CONCAT('a', id) FROM RANGE(40)")
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id + 100, CONCAT('b', id) FROM RANGE(30)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val rows = sql(s"SELECT k, _metadata.file_path AS fp, " +
      s"_metadata.row_index AS ri FROM graft.spec.$t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length === 70)
    // file paths round-trip against the manifest's live entry list
    // (canonical absolute — the same normalization ~pos vectors store)
    val live = TxnTable.liveFiles(spark, loc,
      TxnTable.currentVersion(spark, loc))
      .map(rel => s"$loc/$rel".replaceFirst("^/+", "/")).toSet
    val seen = rows.map(_._2).toSet
    // 2 single-file inserts carry rows; the create sentinel is empty
    // and so never surfaces a coordinate
    assert(seen.size === 2, s"expected 2 row-bearing files, saw $seen")
    assert(seen.forall(p => live.exists(l => p.endsWith(l) || l.endsWith(p))),
      s"file paths must resolve within the manifest list:\n$seen\nvs\n$live")
    // row_index is a per-file ordinal: 0-based, dense
    rows.groupBy(_._2).foreach { case (f, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (0L until rs.length).toSeq,
        s"$f: row_index must be the dense 0-based file ordinal")
    }
    // coordinates ARE the DV space: positionally delete every k % 7 == 0
    // row, then prove the scan's surviving coordinates exclude exactly
    // the vector's rows
    val before = rows.map(r => (r._2, r._3)).toSet
    TxnTable.deleteWherePos(spark, loc, col("k") % 7 === 0)
    val m = TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc))
    val vec = spark.read.parquet(
      TxnTable.pathFor(loc, m.deletes.find(_._2 == "~pos").get._1))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val after = sql(s"SELECT _metadata.file_path AS fp, " +
      s"_metadata.row_index AS ri FROM graft.spec.$t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after === before -- vec,
      "_metadata coordinates must join exactly against the DV's rows")
    // the pinned pre-delete version still answers every coordinate
    val pinned = sql(s"SELECT _metadata.file_path AS fp, " +
      s"_metadata.row_index AS ri FROM graft.spec.$t VERSION AS OF 2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pinned === before)
  }

  test("ADD COLUMN ... NOT NULL DEFAULT is accepted — the default " +
      "covers existing rows, so no NULL can ever surface; NOT NULL " +
      "WITHOUT a default still refuses") {
    val t = fresh("notnull_default")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING)")
    sql(s"INSERT INTO graft.spec.$t VALUES (1, 'a'), (2, 'b')")
    sql(s"ALTER TABLE graft.spec.$t ADD COLUMN tier STRING NOT NULL " +
      "DEFAULT 'bronze'")
    val tiers = sql(s"SELECT tier FROM graft.spec.$t").collect()
      .map(_.getString(0)).toSet
    assert(tiers === Set("bronze"),
      s"pre-add rows must read the default: $tiers")
    // the undefaulted NOT NULL is the case that genuinely can't work
    val e = intercept[Exception] {
      sql(s"ALTER TABLE graft.spec.$t ADD COLUMN w INT NOT NULL")
    }
    assert(e.getMessage.contains("nullable or"), e.getMessage)
  }

  test("an AvailableNow epoch into an indexed sink runs no stats jobs") {
    val src = fresh("drainjobs_src")
    val dst = fresh("drainjobs_dst")
    sql(s"CREATE TABLE graft.spec.$src (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"CREATE TABLE graft.spec.$dst (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val ckpt = graft.Fs.freshScratch("graft_drainjobs", "ckpt")
    def drain(): Unit = spark.readStream.table(s"graft.spec.$src")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"graft.spec.$dst").awaitTermination()
    sql(s"INSERT INTO graft.spec.$src SELECT id, 'a' FROM RANGE(100)")
    drain() // warm: the stream's first epoch
    sql(s"INSERT INTO graft.spec.$src SELECT id + 100, 'b' FROM RANGE(100)")
    val jobs = org.apache.spark.SpecBus.jobsDuring(spark.sparkContext)(drain())
    // the epoch's write job alone — its files' stats come back with it
    assert(jobs === 1, s"one drained epoch ran $jobs Spark jobs")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$dst"
    val m = TxnTable.manifest(spark, loc, TxnTable.currentVersion(spark, loc))
    // every epoch file carries its stats (CREATE TABLE's zero-row
    // sentinel stays path-only)
    val epochFiles = m.entries.filter(_.path.contains("/stream-"))
    assert(epochFiles.nonEmpty && epochFiles.forall(e =>
      e.statFor("k").nonEmpty && e.hllFor("k").nonEmpty && e.bytes > 0))
    val rows = epochFiles.flatMap(_.hlls.map(_.rows)).sum
    assert(rows === 200L, s"sink stats count $rows rows")
    assert(sql(s"SELECT COUNT(*) FROM graft.spec.$dst WHERE k >= 150")
      .collect()(0).getLong(0) === 50)
  }

  test("a sink epoch measured under a moved index fails loudly, drops its stage") {
    import graft.sources.{GraftStagedFile, GraftStreamingWrite}
    val t = fresh("streamidxmove")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING)")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    val schema = sql(s"SELECT * FROM graft.spec.$t").schema
    val w = new GraftStreamingWrite(s"graft.spec.$t", loc, schema,
      "idxmove-query", truncate = false)
    // the epoch's writers measured the table while it was unindexed (no
    // stats); a reindex lands before the epoch commits
    val rel = TxnTable.stage(spark, loc,
      spark.range(5).selectExpr("id AS k", "'a' AS v").coalesce(1)).head
    sql(s"INSERT INTO graft.spec.$t SELECT 100, 'b'")
    TxnTable.reindex(spark, loc, Seq("k"))
    val v = TxnTable.currentVersion(spark, loc)
    val e = intercept[IllegalStateException] {
      w.commit(0L, Array(GraftStagedFile(rel, 5)))
    }
    assert(e.getMessage.contains("index moved"), e.getMessage)
    assert(TxnTable.currentVersion(spark, loc) === v, "the epoch landed")
    val p = new org.apache.hadoop.fs.Path(TxnTable.pathFor(loc, rel))
    assert(!p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(p), "the refused epoch's stage was not dropped")
  }

  test("a filtered read skips the zero-row CREATE TABLE sentinel") {
    val t = fresh("sentinelskip")
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    (0 until 4).foreach(i => sql(s"INSERT INTO graft.spec.$t SELECT " +
      s"/*+ REPARTITION(1) */ id + ${i * 100}, 'x' FROM RANGE(100)"))
    val m = TxnTable.manifest(spark, loc, TxnTable.currentVersion(spark, loc))
    assert(m.entries.size === 5 &&
      m.entries.count(e => e.stats.isEmpty && e.strStats.isEmpty) === 1,
      "four inserted files and the stat-less sentinel are live")
    val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    assert(sql(s"SELECT * FROM graft.spec.$t WHERE k > 100000")
      .collect().isEmpty)
    assert((GraftCatalog.scanKept.get - k0, GraftCatalog.scanTotal.get - t0)
      === ((0L, 5L)), "the SQL read kept a file")
    assert(TxnTable.snapshotWhere(spark, loc, col("k") > 100000L)._2 === 0,
      "the library read kept a file")
    // a matching filter keeps exactly the file that holds the key
    assert(TxnTable.snapshotWhere(spark, loc, col("k") === 150L)._2 === 1)
    assert(sql(s"SELECT COUNT(*) FROM graft.spec.$t").collect()(0)
      .getLong(0) === 400L)
  }

  test("a filter skips files on every manifest read") {
    val t = fresh("skipeach")
    val s = spark
    import s.implicits._
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    // four files with tight, disjoint k and j boxes
    val model0 = (0 until 4).flatMap(i => (0 until 100).map(id =>
      (id + i * 100L, id + i * 1000L, s"q$i")))
    val df = model0.toDF("k", "j", "v")
    TxnTable.commit(spark, loc, TxnTable.stageIndexed(spark, loc,
      TxnTable.clusterExact(spark, df, "k", 0L, 399L, 4), Seq("k", "j")),
      -1L, op = "create", schemaJson = df.schema.json)
    // the plain table reads through DSv2, whose scan builder keeps
    // files by the same rule
    val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    val dsv2 = sql(s"SELECT * FROM graft.spec.$t WHERE k BETWEEN 110 AND 180")
    assert(dsv2.count() === model0.count(r => r._1 >= 110 && r._1 <= 180))
    val dsv2Kept = GraftCatalog.scanKept.get - k0
    assert(GraftCatalog.scanTotal.get - t0 === 4 && dsv2Kept === 1,
      "the plain table must read through the pruned DSv2 scan")
    // a pending merge-on-read tombstone and a renamed indexed column:
    // every read below goes through the manifest scan, not DSv2
    TxnTable.deleteKeysMor(spark, loc,
      spark.range(0, 400).filter(col("id") % 7 === 0).toDF("k"), "k")
    sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN j TO jj")
    val model = model0.filter(_._1 % 7 != 0)
    val m = TxnTable.manifest(spark, loc, TxnTable.currentVersion(spark, loc))
    assert(m.deletes.nonEmpty && TxnTable.hasMappedSchema(m.schema))
    val live = m.entries.map(_.path)
    def opened(df: org.apache.spark.sql.DataFrame): Int =
      ScanFiles.roots(df.queryExecution.optimizedPlan)
        .count(r => live.exists(r.endsWith))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String)] =
      df.select("k", "jj", "v").as[(Long, Long, String)].collect().toSet
    val want = model.filter(r => r._1 >= 110 && r._1 <= 180).toSet
    val (where, kept, total) =
      TxnTable.snapshotWhere(spark, loc, col("k").between(110L, 180L))
    assert(kept === dsv2Kept && total === 4,
      s"snapshotWhere kept $kept/$total")
    Seq(
      "SQL" -> sql(s"SELECT * FROM graft.spec.$t WHERE k BETWEEN 110 AND 180"),
      "library" -> TxnTable.snapshot(spark, loc)
        .filter(col("k").between(110L, 180L)),
      "snapshotWhere" -> where).foreach { case (name, df) =>
      assert(opened(df) === kept, s"$name read opened ${opened(df)} files")
      assert(rows(df) === want, s"$name read diverged from the model")
    }
    // the renamed column prunes with the stats of its physical name
    val sqlJ = sql(s"SELECT * FROM graft.spec.$t WHERE jj BETWEEN 2010 AND 2050")
    val (libJ, keptJ, _) =
      TxnTable.snapshotWhere(spark, loc, col("jj").between(2010L, 2050L))
    val wantJ = model.filter(r => r._2 >= 2010 && r._2 <= 2050).toSet
    assert(keptJ === 1 && opened(sqlJ) === 1 && opened(libJ) === 1)
    assert(rows(sqlJ) === wantJ && rows(libJ) === wantJ)
    // a filter no file survives plans no data-file scan
    val none = sql(s"SELECT * FROM graft.spec.$t WHERE k > 100000")
    assert(opened(none) === 0)
    assert(none.collect().isEmpty)
    assert(TxnTable.snapshotWhere(spark, loc, col("k") > 100000L)._2 === 0)
    // compact applies the tombstone into one file and drops the column
    // mapping, so the read returns to the pruned DSv2 scan
    TxnTable.compact(spark, loc)
    val (k1, t1) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    val after = sql(s"SELECT * FROM graft.spec.$t WHERE k BETWEEN 110 AND 180")
    assert(rows(after) === want)
    assert((GraftCatalog.scanKept.get - k1, GraftCatalog.scanTotal.get - t1)
      === (1, 1))
  }

  test("compaction drops a renamed table's column mapping") {
    val t = fresh("unmapcompact")
    val s = spark
    import s.implicits._
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, j BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 100}, id * 3, 'q$i' FROM RANGE(100)")
    }
    sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN j TO jj")
    val model = (0 until 4).flatMap(i =>
      (0 until 100).map(id => (id + i * 100L, id * 3L, s"q$i"))).toSet
    intercept[IllegalArgumentException](
      sql(s"CALL graft.system.build_bloom('spec.$t', 'jj')"))
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id + 1000, 7, 'pre' FROM RANGE(10)")
    sql(s"CALL graft.system.compact('spec.$t')")
    val compacted = TxnTable.currentVersion(spark, loc)
    sql(s"INSERT INTO graft.spec.$t SELECT /*+ REPARTITION(1) */ " +
      "id + 2000, 10, 'post' FROM RANGE(10)")
    val all = model ++ (0 until 10).map(i => (i + 1000L, 7L, "pre")) ++
      (0 until 10).map(i => (i + 2000L, 10L, "post"))
    val m = TxnTable.manifest(spark, loc, TxnTable.currentVersion(spark, loc))
    assert(!TxnTable.hasMappedSchema(m.schema),
      "compaction must restage under the live names")
    assert(m.idxCols === Seq("k"))
    sql(s"CALL graft.system.build_bloom('spec.$t', 'jj')")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String)] =
      df.select("k", "jj", "v").as[(Long, Long, String)].collect().toSet
    val (k0, t0) = (GraftCatalog.scanKept.get, GraftCatalog.scanTotal.get)
    // jj = 10 is only in the post-compaction file: the bloom skips the
    // compacted one
    val got = sql(s"SELECT * FROM graft.spec.$t WHERE jj = 10")
    assert(rows(got) === all.filter(_._2 == 10L))
    assert(GraftCatalog.scanTotal.get - t0 > 0 &&
      GraftCatalog.scanKept.get - k0 < GraftCatalog.scanTotal.get - t0,
      "the unmapped table must read through the pruned DSv2 scan")
    assert(rows(sql(s"SELECT * FROM graft.spec.$t")) === all)
    // a tail over files older than the compaction reads them under the
    // physical name they carry: one batch spanning the compaction, and
    // one version per batch (each older batch planned after the
    // compaction landed)
    def tail(name: String, opts: (String, String)*) =
      spark.readStream.options(opts.toMap + ("skipChangeCommits" -> "true"))
        .table(s"graft.spec.$t").writeStream.format("memory")
        .queryName(s"${t}_$name")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    tail("span").awaitTermination()
    assert(rows(spark.table(s"${t}_span")) === all)
    tail("lag", "maxVersionsPerTrigger" -> "1").awaitTermination()
    assert(rows(spark.table(s"${t}_lag")) === all)
    tail("new", "startingVersion" -> compacted.toString).awaitTermination()
    assert(rows(spark.table(s"${t}_new")) === all.filter(_._3 == "post"))
  }

  test("writes staged under a mapping a compaction drops restage or fail") {
    val t = fresh("unmaprace")
    val s = spark
    import s.implicits._
    val loc = s"${GraftCatalog.defaultWarehouse}/spec/$t"
    sql(s"CREATE TABLE graft.spec.$t (k BIGINT, j BIGINT) " +
      "TBLPROPERTIES ('index' = 'k')")
    sql(s"INSERT INTO graft.spec.$t SELECT id, id * 3 FROM RANGE(50)")
    sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN j TO jj")
    def rows(): Set[(Long, Long)] = TxnTable.snapshot(spark, loc)
      .select(col("k"), col("jj")).as[(Long, Long)].collect().toSet
    val want = (0L until 50L).map(k => (k, k * 3)).toSet
    // a branch forks while the table is mapped and appends under `j`
    sql(s"CALL graft.system.branch('spec.$t', 'dev')")
    sql(s"INSERT INTO graft.spec.$t.branch_dev SELECT id + 500, id * 3 " +
      "FROM RANGE(5)")
    // an append stages under `j`, then a compaction lands before its CAS
    var fired = false
    val add = spark.range(100, 110)
      .select(col("id").as("k"), (col("id") * 3).as("jj"))
    val out = TxnTable.appendResolvingImpl(spark, loc, add, None,
      beforeCommit = _ => if (!fired) {
        fired = true; TxnTable.compact(spark, loc)
      }).get
    assert(out.recomputes === 1, "the append must restage, not rebase")
    assert(!TxnTable.hasMappedSchema(TxnTable.manifest(spark, loc,
      TxnTable.currentVersion(spark, loc)).schema))
    val withAdd = want ++ (100L until 110L).map(k => (k, k * 3))
    assert(rows() === withAdd)
    // the branch's files carry `j`, main now reads `jj`: rebase restages
    // the branch's rows instead of replaying its files as metadata
    sql(s"CALL graft.system.rebase('spec.$t', 'dev')")
    val bd = TxnTable.branchDir(spark, loc, "dev")
    assert(TxnTable.manifest(spark, bd, TxnTable.currentVersion(spark, bd))
      .metrics.get("recomputed") === Some(1L))
    assert(sql(s"SELECT k, jj FROM graft.spec.$t.branch_dev")
      .as[(Long, Long)].collect().toSet ===
      withAdd ++ (0L until 5L).map(i => (i + 500, i * 3)))
    // a write that can only land the files it staged fails loudly
    sql(s"ALTER TABLE graft.spec.$t RENAME COLUMN jj TO j2")
    val staged = TxnTable.stage(spark, loc, add)
    var fired2 = false
    val err = intercept[IllegalStateException](
      TxnTable.commitResolving(spark, loc, recheck = _ => if (!fired2) {
        fired2 = true; TxnTable.compact(spark, loc)
      })(_ => TxnTable.Change(staged, Set.empty, Set.empty, op = "append")))
    assert(err.getMessage.contains("restaged"), err.getMessage)
    assert(TxnTable.snapshot(spark, loc).select(col("k"), col("j2"))
      .as[(Long, Long)].collect().toSet === withAdd)
  }
}
