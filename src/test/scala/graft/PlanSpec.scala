package graft

import graft.operators.Relational

/** Physical-plan assertions — the scale contract (SURVEY.md §4). These
  * fail if a refactor silently loses filter pushdown, column pruning,
  * broadcast joins, or the top-k short-circuit.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 pushes filters to the parquet scan") {
    val p = plan(Relational.q01ScanFilterProject(spark, sf))
    // toString truncates the PushedFilters list; assert on its head plus
    // the full Filter node for the quantity predicate
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(800))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p.take(800))
    assert(p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("l_quantity") && l.contains("> 45")),
      p.take(800))
  }

  test("q01 prunes the read schema to used columns") {
    val p = plan(Relational.q01ScanFilterProject(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment"),
      s"scan reads unused columns: $readSchema")
  }

  test("q06 snowflake joins broadcast every dimension (stats/AQE, no hints)") {
    // only nation/region carry hints; customer/supplier must STILL come out
    // broadcast at this SF purely from statistics — proving the plan picks
    // broadcast when a side is small and can degrade to shuffle when not
    val df = Relational.q06MultiJoin(spark, sf)
    df.collect() // materialize so AQE's final plan is available
    val p = df.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts")
  }

  test("q47 broadcast decision comes from catalog stats (CBO, AQE off)") {
    // q47StatsJoin plans the same filtered join against an ANALYZEd dim
    // and a stats-less twin at one threshold strictly between the two
    // estimates; stats_broadcast_ok is true iff the analyzed plan
    // broadcasts AND the twin does not AND the stats estimate is smaller
    val row = Relational.q47StatsJoin(spark, sf).collect()
    assert(row.nonEmpty)
    assert(row.forall(_.getAs[Boolean]("stats_broadcast_ok")),
      "catalog stats did not flip the broadcast decision")
  }

  test("graft SQL scans report MANIFEST stats: rowCount + NDV, and the " +
      "broadcast flip needs no ANALYZE (AQE off)") {
    val s = spark
    import graft.operators.TxnTable
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.plan")
    Seq("fact", "dim").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.plan.$t"))
    s.sql("CREATE TABLE graft.plan.fact (k BIGINT, pad STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    (0 until 4).foreach(i =>
      s.sql("INSERT INTO graft.plan.fact SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 5000}, repeat('x', 64) FROM RANGE(5000)"))
    s.sql("CREATE TABLE graft.plan.dim (dk BIGINT, name STRING) " +
      "TBLPROPERTIES ('index' = 'dk')")
    s.sql("INSERT INTO graft.plan.dim SELECT /*+ REPARTITION(1) */ id, " +
      "CONCAT('n', id) FROM RANGE(500)")
    val locF = s"${GraftCatalog.defaultWarehouse}/plan/fact"
    val locD = s"${GraftCatalog.defaultWarehouse}/plan/dim"
    val (fb, db) = (TxnTable.tableBytes(s, locF).get,
      TxnTable.tableBytes(s, locD).get)
    assert(db < fb, s"test setup: dim ($db B) must be under fact ($fb B)")
    val prev = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.get(k))
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      def joined = s.sql("SELECT * FROM graft.plan.fact f " +
        "JOIN graft.plan.dim d ON f.k = d.dk")
      // threshold strictly between the two MANIFEST byte sizes → the
      // dim side broadcasts, purely from the scan's reported stats
      s.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((db + fb) / 2).toString)
      assert(plan(joined).contains("BroadcastHashJoin"),
        s"manifest sizes ($db vs $fb) did not flip the broadcast:\n" +
          plan(joined).take(600))
      // threshold below BOTH sizes → no broadcast (the decision really
      // reads the reported estimates, not a default)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (db / 2).toString)
      assert(!plan(joined).contains("BroadcastHashJoin"),
        "join broadcast despite both sides over the threshold")
      // exact manifest row counts surface in the logical plan's stats —
      // no ANALYZE ever ran on these tables
      val rels = joined.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.name -> r.stats
      }.toMap
      assert(rels.size === 2, s"expected 2 v2 scans, got ${rels.keys}")
      val rows = rels.map { case (n, st) => st.rowCount.map(_.toLong) }
      assert(rows.toSet === Set(Some(20000L), Some(500L)),
        s"manifest row counts must reach plan stats: $rows")
      // per-column NDV from the merged per-file HLL sketches rides the
      // scan's DSv2 column statistics
      val scans = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b.scan
      }
      val ndvs = scans.collect {
        case r: org.apache.spark.sql.connector.read
            .SupportsReportStatistics =>
          import scala.jdk.CollectionConverters._
          r.estimateStatistics().columnStats().asScala.collect {
            case (ref, cs) if cs.distinctCount().isPresent =>
              ref.toString -> cs.distinctCount().getAsLong
          }.toMap
      }.reduce(_ ++ _)
      def close(est: Long, truth: Long): Boolean =
        math.abs(est - truth) <= math.max(truth * 0.15, 8.0).toLong
      assert(ndvs.contains("k") && ndvs.contains("dk") &&
        close(ndvs("k"), 20000L) && close(ndvs("dk"), 500L),
        s"manifest NDV sketches must reach the scan stats: $ndvs")
      // a pruned scan reports the PRUNED subset's stats: a selective
      // filter on the indexed key shrinks rowCount with the file set
      val prunedStats = s.sql(
        "SELECT * FROM graft.plan.fact WHERE k < 5000")
        .queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation => r.stats
        }.head
      assert(prunedStats.rowCount.exists(_.toLong == 5000L),
        s"post-prune stats must cover kept files only: " +
          s"${prunedStats.rowCount}")
    } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("CBO join REORDER works on graft tables from manifest stats " +
      "alone (no ANALYZE)") {
    val s = spark
    import graft.sources.GraftCatalog
    import org.apache.spark.sql.functions._
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.plan")
    Seq("rcust", "rord", "rli").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft.plan.$t"))
    // the same deliberately-bad syntactic order as the ANALYZE-based
    // reorder test, but over graft DSv2 tables whose ONLY statistics
    // are the manifest sketches the scan reports
    s.sql("CREATE TABLE graft.plan.rcust (c_custkey BIGINT, nm STRING) " +
      "TBLPROPERTIES ('index' = 'c_custkey')")
    s.sql("INSERT INTO graft.plan.rcust SELECT id, CONCAT('c', id) " +
      "FROM RANGE(1500)")
    s.sql("CREATE TABLE graft.plan.rord (o_orderkey BIGINT, " +
      "o_custkey BIGINT) TBLPROPERTIES ('index' = 'o_orderkey,o_custkey')")
    s.sql("INSERT INTO graft.plan.rord SELECT id, id % 1500 " +
      "FROM RANGE(15000)")
    s.sql("CREATE TABLE graft.plan.rli (l_orderkey BIGINT, qty BIGINT) " +
      "TBLPROPERTIES ('index' = 'l_orderkey,qty')")
    s.sql("INSERT INTO graft.plan.rli SELECT id % 15000, id % 50 " +
      "FROM RANGE(60000)")
    val prev = Seq("spark.sql.cbo.enabled",
      "spark.sql.cbo.joinReorder.enabled").map(k => k -> s.conf.get(k))
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      def innermostLeaves(reorder: Boolean): String = {
        s.conf.set("spark.sql.cbo.joinReorder.enabled", reorder.toString)
        val df = s.table("graft.plan.rcust")
          .join(s.table("graft.plan.rord"),
            col("c_custkey") === col("o_custkey"))
          .join(s.table("graft.plan.rli").filter(col("qty") > 48),
            col("o_orderkey") === col("l_orderkey"))
          .agg(count(lit(1)).as("n"))
        val joins = df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }
        joins.last.collectLeaves().mkString("\n")
      }
      val syntactic = innermostLeaves(reorder = false)
      assert(syntactic.contains("rcust") && syntactic.contains("rord"),
        s"without reorder the syntactic pair joins first:\n$syntactic")
      val reordered = innermostLeaves(reorder = true)
      assert(reordered.contains("rli") && !reordered.contains("rcust"),
        "manifest-stat-fed reorder should join the filtered lineitem " +
          s"first:\n$reordered")
    } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("catalog stats drive join REORDER (CostBasedJoinReorder)") {
    // the other half of the CBO story next to q47's broadcast flip: a
    // 3-table join written in a deliberately bad syntactic order
    // (customer JOIN orders first, the selective lineitem filter last)
    // must be REORDERED by the stats-fed DP so the small filtered pair
    // joins innermost — the decision a 1000-executor driver takes from
    // the metastore before any task runs
    val s = spark
    import org.apache.spark.sql.functions._
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val ts = Seq("graft_cbo_ord", "graft_cbo_cust", "graft_cbo_li")
    ts.foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      graft.Fs.deleteRecursively(s"$wh/$t")
    }
    graft.Tables.orders(s, sf).select(col("o_orderkey"), col("o_custkey"))
      .write.saveAsTable("graft_cbo_ord")
    graft.Tables.customer(s, sf).select(col("c_custkey"), col("c_name"))
      .write.saveAsTable("graft_cbo_cust")
    graft.Tables.lineitem(s, sf).select(col("l_orderkey"), col("l_quantity"))
      .write.saveAsTable("graft_cbo_li")
    ts.foreach(t => s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    val prev = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> s.conf.get(k))
    try {
      s.conf.set("spark.sql.cbo.enabled", "true")
      def innermostJoinLeaves(reorder: Boolean): String = {
        s.conf.set("spark.sql.cbo.joinReorder.enabled", reorder.toString)
        val df = s.table("graft_cbo_cust")
          .join(s.table("graft_cbo_ord"), col("c_custkey") === col("o_custkey"))
          .join(s.table("graft_cbo_li").filter(col("l_quantity") > 49),
            col("o_orderkey") === col("l_orderkey"))
          .agg(count(lit(1)).as("n"))
        val joins = df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }
        joins.last.collectLeaves().mkString("\n")
      }
      val syntactic = innermostJoinLeaves(reorder = false)
      assert(syntactic.contains("graft_cbo_cust") &&
        syntactic.contains("graft_cbo_ord"),
        s"without reorder the syntactic (cust, ord) pair should join first:\n$syntactic")
      val reordered = innermostJoinLeaves(reorder = true)
      assert(reordered.contains("graft_cbo_li") &&
        !reordered.contains("graft_cbo_cust"),
        s"stats-fed reorder should join the filtered lineitem first:\n$reordered")
    } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("q08 global top-k avoids a full sort (TakeOrderedAndProject)") {
    val p = plan(Relational.q08SortLimit(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q02 aggregation is whole-stage codegen'd") {
    val df = Relational.q02AggGroup(spark, sf)
    df.collect() // materialize the AQE final plan
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // '*' before an operator marks whole-stage-codegen membership
    assert(p.contains("* HashAggregate"), p.take(1200))
  }

  test("q28 partitioned read prunes partitions at the scan") {
    val df = graft.operators.StorageRoundtrip.partitionedWrite(spark, sf)
    val p = plan(df)
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"), p.take(1200))
  }

  test("bucketed tables join co-located, with no shuffle exchange") {
    val s = spark
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevOrd = s.conf
      .get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // claim bucket sort order on scan (off by default since 3.0 because
      // multi-file buckets concatenate unordered; safe here — the
      // repartition below guarantees one file per bucket)
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // a fresh derby metastore doesn't know about table dirs left by a
      // previous JVM — clear the locations before CTAS
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq("li_bucketed", "ord_bucketed").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        graft.Fs.deleteRecursively(s"$wh/$t")
      }
      // repartition on the bucket key first: one writer task per bucket
      // => ONE file per bucket => the read preserves bucket sort order
      // and the SMJ can skip its sorts (multi-file buckets concatenate
      // and lose order, forcing a re-sort)
      Tables.lineitem(s, sf)
        .select("l_orderkey", "l_quantity")
        .repartition(4, org.apache.spark.sql.functions.col("l_orderkey"))
        .write.mode("overwrite").bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_bucketed")
      Tables.orders(s, sf)
        .select("o_orderkey", "o_totalprice")
        .repartition(4, org.apache.spark.sql.functions.col("o_orderkey"))
        .write.mode("overwrite").bucketBy(4, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("ord_bucketed")
      val j = s.table("li_bucketed").join(s.table("ord_bucketed"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), p.take(800))
      assert(!p.contains("Exchange"),
        s"bucketed join still shuffles: ${p.take(800)}")
      // sortBy buckets + single-file buckets + the outputOrdering conf:
      // the SMJ must also skip the per-partition sort — the layout pays
      // for BOTH the shuffle and the sort exactly once, at write time
      // "Sort [" matches the Sort node only, not SortMergeJoin; match it
      // anywhere in the line so nested nodes (":  +- Sort [") are caught too
      assert(!p.linesIterator.exists(_.matches(".*\\bSort \\[.*")),
        s"bucket-sorted join still sorts: ${p.take(3000)}")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prevOrd)
    }
  }

  test("mr_mapside_join broadcasts the bounded dim, never the fact side") {
    val df = graft.operators.MapReduceJobs.joinMapSide(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // the broadcast exchange must sit on the nation (dim) subtree
    val bcastIdx = p.indexOf("BroadcastExchange")
    assert(bcastIdx >= 0 && p.substring(bcastIdx).contains("nation"),
      s"broadcast side is not nation: ${p.take(800)}")
  }

  test("ta_pack_sequences reuses the shard partitioning for the final agg") {
    // the window shuffles on shard; the groupBy(shard, seq_id) must NOT
    // add a second exchange (hash(shard) already clusters (shard, seq_id))
    val p = plan(graft.operators.TextAnalysis.packSequences(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected exactly 1 shuffle, got $exchanges: ${p.take(1200)}")
  }

  test("dynamic partition pruning injects a runtime partition filter") {
    // at 100 TB the scan of a date/status-partitioned fact MUST be pruned
    // by the dim filter's runtime values, not read in full — assert Spark
    // plans the join that way over our partitioned layout
    val s = spark
    import org.apache.spark.sql.functions._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dpp_orders"
    Tables.orders(s, sf).write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(dir)
    val fact = s.read.parquet(dir)
    val dim = Tables.orders(s, sf)
      .select(col("o_orderstatus").as("st"), col("o_orderpriority"))
      .distinct().filter(col("o_orderpriority") === "1-URGENT")
    val p = plan(fact.join(dim, col("o_orderstatus") === col("st"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")))
    assert(p.contains("dynamicpruningexpression"),
      s"no DPP in plan: ${p.take(1000)}")
  }

  test("runtime bloom filter prunes the probe side of a shuffle join") {
    // the other runtime filter: when the build side is selective but too
    // big to broadcast, a bloom filter of its keys pre-filters the fact
    // scan before the shuffle — the difference between shuffling 100 TB
    // and shuffling the matching fraction
    val s = spark
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1000000000",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> s.conf.get(k) }
    try {
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      val li = Tables.lineitem(s, sf)
      val ord = Tables.orders(s, sf).filter(col("o_totalprice") > 450000)
      val p = plan(li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")))
      assert(p.contains("bloom_filter_agg") && p.contains("might_contain"),
        s"no runtime bloom filter in plan: ${p.take(1000)}")
    } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
  }

  test("q07 selective agg pushes both date bounds") {
    val p = plan(Relational.q07SelectiveAgg(spark, sf))
    val filterLine = p.linesIterator
      .find(l => l.contains("Filter") && l.contains("l_shipdate"))
      .getOrElse("")
    assert(filterLine.contains(">= 1997-01-01") &&
      filterLine.contains("< 1998-01-01"), filterLine)
  }

  test("dd_embed_cosine plans no cartesian or nested-loop join") {
    // the round-4 weak item: the embedding dedup used an all-pairs
    // inequality join (BroadcastNestedLoopJoin — O(n²) rows at any SF).
    // The bucketed path must plan only equi-joins on (table, bucket) and
    // candidate keys, never a cartesian product
    val p = plan(graft.operators.Dedup.embedCosine(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic join shape in plan: ${p.take(1200)}")
  }

  test("DSv2 catalog scan plans over only the manifest-surviving files") {
    import graft.sources.GraftCatalog
    GraftCatalog.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spec")
    spark.sql("DROP TABLE IF EXISTS graft.spec.planskip")
    spark.sql("CREATE TABLE graft.spec.planskip (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    (0 until 4).foreach { i =>
      spark.sql("INSERT INTO graft.spec.planskip SELECT " +
        s"/*+ REPARTITION(1) */ id + ${i * 100}, 'x' FROM RANGE(100)")
    }
    // 5 live files: 4 tight-ranged quarters + the stat-less zero-row
    // sentinel. A one-quarter WHERE must seed the parquet scan's file
    // index with exactly the quarter's file — the pruning happened at
    // PLAN time, inside the scan builder, not at execution
    val df = spark.sql(
      "SELECT v FROM graft.spec.planskip WHERE k >= 100 AND k <= 199")
    def plannedFiles(d: org.apache.spark.sql.DataFrame): Seq[Int] =
      d.queryExecution.executedPlan.collectLeaves().flatMap {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          // unwrap the streaming-capable wrapper to the parquet scan
          val scan = b.scan match {
            case w: graft.sources.GraftStreaming.StreamableScan => w.inner
            case s => s
          }
          scan match {
            case p: org.apache.spark.sql.execution.datasources.v2.parquet
              .ParquetScan => Some(p.fileIndex.inputFiles.length)
            case _ => None
          }
        case _ => None
      }.toSeq
    val files = plannedFiles(df)
    assert(files === Seq(1), s"scan should plan 1 of 5 files, got $files")
    assert(df.count() === 100)
    // no predicate: every live file stays in the index
    val all = spark.sql("SELECT v FROM graft.spec.planskip")
    val allFiles = plannedFiles(all)
    assert(allFiles === Seq(5), s"unfiltered scan lost files: $allFiles")
    // BLOOM survivors reach the plan the same way: two files with
    // fully-overlapping k ranges (parity split) make range stats
    // useless for a point lookup; after CALL build_bloom the scan's
    // file index must hold only the bloom's survivors — the hit file —
    // never all of them
    spark.sql("DROP TABLE IF EXISTS graft.spec.planbloom")
    spark.sql("CREATE TABLE graft.spec.planbloom (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    spark.sql("INSERT INTO graft.spec.planbloom SELECT " +
      "/*+ REPARTITION(1) */ id * 2, 'x' FROM RANGE(50)")
    spark.sql("INSERT INTO graft.spec.planbloom SELECT " +
      "/*+ REPARTITION(1) */ id * 2 + 1, 'x' FROM RANGE(50)")
    val point = "SELECT v FROM graft.spec.planbloom WHERE k = 4"
    assert(plannedFiles(spark.sql(point)) === Seq(2),
      "pre-bloom point lookup must keep both data files (ranges overlap)")
    spark.sql("CALL graft.system.build_bloom('spec.planbloom', 'k')")
    val post = plannedFiles(spark.sql(point))
    // the even-parity file (± false positive)
    assert(post.length == 1 && post.head >= 1 && post.head <= 2,
      s"post-bloom plan should hold 1-2 of 3 files, got $post")
    assert(spark.sql(point).count() === 1)
  }

  test("whole-table aggregates answer from the manifest: LocalScan in " +
      "the plan, zero file-index builds, exact values incl. all-null") {
    import graft.sources.GraftCatalog
    GraftCatalog.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spec")
    spark.sql("DROP TABLE IF EXISTS graft.spec.aggpush")
    spark.sql("CREATE TABLE graft.spec.aggpush (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    (0 until 3).foreach { i =>
      spark.sql("INSERT INTO graft.spec.aggpush SELECT " +
        s"/*+ REPARTITION(1) */ id + ${i * 100}, 'x' FROM RANGE(100)")
    }
    val (h0, s0, b0) =
      (GraftCatalog.aggAnswered.get(), GraftCatalog.scanTotal.get(),
        GraftCatalog.indexBuilds.get())
    val agg = spark.sql("SELECT count(*) AS c, count(k) AS ck, " +
      "min(k) AS mn, max(k) AS mx FROM graft.spec.aggpush")
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((300L, 300L, 0L, 299L)))
    // the optimized plan's leaf is the driver-side LocalScan relation —
    // the aggregation never became a file scan (asserted from the
    // LOGICAL side: AQE hides physical leaves)
    val localLeaf = agg.queryExecution.optimizedPlan.collectLeaves().exists {
      case rel: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation =>
        rel.scan.isInstanceOf[org.apache.spark.sql.connector.read.LocalScan]
      case _ => false
    }
    assert(localLeaf, "aggregate did not plan as a manifest LocalScan")
    assert(GraftCatalog.aggAnswered.get() - h0 >= 1L)
    assert(GraftCatalog.scanTotal.get() === s0,
      "metadata-only aggregate ran the prune callback")
    // the build counter is the non-vacuous witness: the prune callback
    // only fires when a WHERE was pushed, so scanTotal alone would stay
    // 0 even if ensure() regressed to eagerly building the index
    assert(GraftCatalog.indexBuilds.get() === b0,
      "metadata-only aggregate built a file index")
    // string min/max is NEVER metadata-answered (truncated bounds)
    val h1 = GraftCatalog.aggAnswered.get()
    val sv = spark.sql(
      "SELECT max(v) AS mv FROM graft.spec.aggpush").collect().head
    assert(sv.getString(0) === "x")
    assert(GraftCatalog.aggAnswered.get() === h1,
      "string bounds must not be answered from truncated stats")
    // an all-null indexed column: exact zero non-null count, NULL bounds,
    // still answered from the manifest (the empty-range convention)
    spark.sql("DROP TABLE IF EXISTS graft.spec.aggnull")
    spark.sql("CREATE TABLE graft.spec.aggnull (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    spark.sql("INSERT INTO graft.spec.aggnull SELECT /*+ REPARTITION(1) */ " +
      "CAST(NULL AS BIGINT), 'n' FROM RANGE(10)")
    val h2 = GraftCatalog.aggAnswered.get()
    val rn = spark.sql("SELECT count(*) AS c, count(k) AS ck, " +
      "min(k) AS mn, max(k) AS mx FROM graft.spec.aggnull").collect().head
    assert(rn.getLong(0) === 10L && rn.getLong(1) === 0L &&
      rn.isNullAt(2) && rn.isNullAt(3))
    assert(GraftCatalog.aggAnswered.get() - h2 === 1L)
  }

  test("manifest stats flip the broadcast decision for snapshot joins") {
    // r10: per-file HLL + row-count stats in the manifest must drive the
    // build-side pick with size-based planning OFF — the decision comes
    // from the log, nowhere else (op_ndv_broadcast pairs the full plans;
    // this pins the flip itself)
    val df = graft.operators.TxnTable.ndvBroadcast(spark, sf)
    assert(df.select("ndv_ok").collect().forall(_.getBoolean(0)),
      "manifest-stats broadcast pairing red")
  }

  test("runtime (DPP) join pruning: the build side's key set re-prunes " +
      "the fact scan's manifest entries at execution") {
    val s = spark
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.plan")
    s.sql("DROP TABLE IF EXISTS graft.plan.dppf")
    s.sql("CREATE TABLE graft.plan.dppf (k BIGINT, pad STRING) " +
      "TBLPROPERTIES ('index' = 'k')")
    (0 until 4).foreach(i =>
      s.sql("INSERT INTO graft.plan.dppf SELECT /*+ REPARTITION(1) */ " +
        s"id + ${i * 5000}, repeat('x', 32) FROM RANGE(5000)"))
    // the selective filter lives on a NON-join dim column — nothing is
    // statically pushable or constraint-inferable onto the fact scan;
    // only the runtime key set can prune it. The dim is a real table
    // (not a local relation): DPP's broadcast-reuse path needs the
    // build side to be a genuine scan
    s.sql("DROP TABLE IF EXISTS graft.plan.dppd")
    s.sql("CREATE TABLE graft.plan.dppd (dk BIGINT, tag STRING)")
    s.sql("INSERT INTO graft.plan.dppd " +
      "SELECT /*+ REPARTITION(1) */ id, CASE WHEN id >= 5000 AND " +
      "id < 10000 AND id % 500 = 0 THEN 'p' ELSE 'x' END FROM RANGE(20000)")
    val q = "SELECT f.k, f.pad FROM graft.plan.dppf f " +
      "JOIN graft.plan.dppd d ON f.k = d.dk WHERE d.tag = 'p'"
    val (k0, t0) = (GraftCatalog.runtimeKept.get, GraftCatalog.runtimeTotal.get)
    val rows = s.sql(q).collect()
    val (kept, total) = (GraftCatalog.runtimeKept.get - k0,
      GraftCatalog.runtimeTotal.get - t0)
    // 5 live files (4 range files + stat-less create sentinel); the
    // 10-key runtime IN-set lives entirely in the second range file
    assert(total === 5L && kept <= 2L && kept >= 1L,
      s"runtime prune did not bite: kept $kept of $total")
    assert(rows.map(_.getLong(0)).sorted.toSeq ===
      (5000L until 10000L by 500L).toSeq, "runtime prune lost rows")
    // the physical plan carries the dynamic-pruning subquery on the scan
    val p = s.sql(q).queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic-pruning expression planted:\n${p.take(800)}")
  }

  test("runtime (DPP) join pruning bites on a hash-BUCKETED layout, " +
      "where raw key ranges prune nothing") {
    val s = spark
    import graft.operators.TxnTable
    import graft.sources.GraftCatalog
    GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.plan")
    s.sql("DROP TABLE IF EXISTS graft.plan.dppb")
    s.sql("CREATE TABLE graft.plan.dppb (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('index' = 'bucket16(k)')")
    // eight bucket-homogeneous single-file inserts: every file's BUCKET
    // box is tight while its raw key box spans the whole keyspace — the
    // layout where a range envelope prunes nothing and only the
    // per-value bucket probe can bite
    val byBucket = (0L until 320L).groupBy(k => TxnTable.bucketOf(k, 16) / 2)
    import s.implicits._
    byBucket.toSeq.sortBy(_._1).foreach { case (_, ks) =>
      ks.map(k => (k, s"v$k")).toDF("k", "v").createOrReplaceTempView("dppb_in")
      s.sql("INSERT INTO graft.plan.dppb " +
        "SELECT /*+ REPARTITION(1) */ k, v FROM dppb_in")
    }
    val probes = Seq(7L, 137L, 301L)
    s.sql("DROP TABLE IF EXISTS graft.plan.dppbd")
    s.sql("CREATE TABLE graft.plan.dppbd (dk BIGINT, tag STRING)")
    s.sql("INSERT INTO graft.plan.dppbd " +
      "SELECT /*+ REPARTITION(1) */ id, CASE WHEN id IN " +
      s"(${probes.mkString(", ")}) THEN 'p' ELSE 'x' END FROM RANGE(320)")
    val q = "SELECT f.k, f.v FROM graft.plan.dppb f " +
      "JOIN graft.plan.dppbd d ON f.k = d.dk WHERE d.tag = 'p'"
    val (k0, t0) = (GraftCatalog.runtimeKept.get, GraftCatalog.runtimeTotal.get)
    val rows = s.sql(q).collect()
    val (kept, total) = (GraftCatalog.runtimeKept.get - k0,
      GraftCatalog.runtimeTotal.get - t0)
    // 9 live files (8 bucket files + sentinel); 3 probe keys land in at
    // most 3 bucket files — the per-value bucketOf probe, not the
    // [7,301] envelope (which would keep every file)
    val wantFiles = probes.map(k => TxnTable.bucketOf(k, 16) / 2).distinct.size
    assert(total === 9L && kept >= 1L && kept <= wantFiles + 1L,
      s"bucket runtime prune did not bite: kept $kept of $total " +
        s"(probes span $wantFiles files + sentinel)")
    assert(rows.map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === probes.sorted.map(k => (k, s"v$k")),
      "bucket runtime prune lost rows")
  }
}
