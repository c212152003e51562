package graft.streaming

import graft.operators.TxnTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming jobs (SURVEY.md §2G).
  *
  * st_stream_window runs the events table as a bounded stream
  * (Trigger.AvailableNow) through a tumbling daily window aggregation into
  * a memory sink — the same plan an unbounded kafka/files source would
  * run, which is the point: batch and stream share the logical plan.
  */
object Streams {

  /** Streaming source over events.parquet with `ts` normalized to a
    * session-zone timestamp. The file source needs an explicit schema, and
    * the on-disk `ts` type has varied across testdata generations
    * (TIMESTAMP(NANOS) → long under the legacy conf, vs plain
    * TIMESTAMP(MICROS) → NTZ), so probe the footer with a driver-side batch
    * read once and pick the matching DDL + normalization — the same rule as
    * [[graft.Tables.events]]. */
  /** Probed `ts` DDL per data dir, memoized: the probe is a driver-side
    * batch schema resolution — once per (dir), not once per query call. */
  private val tsDdlCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def eventsSource(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // mirror Tables.events' THREE-way dispatch: a TIMESTAMP(MICROS)
    // isAdjustedToUTC=true column probes as TimestampType, and declaring
    // it TIMESTAMP_NTZ would make the vectorized reader reject the file
    // at runtime — the stream schema must match the probed kind
    val tsDdl = tsDdlCache.computeIfAbsent(d, dir =>
      graft.Tables.table(s, dir, "events").schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => "ts LONG"
        case org.apache.spark.sql.types.TimestampType => "ts TIMESTAMP"
        case _ => "ts TIMESTAMP_NTZ"
      })
    val raw = s.readStream
      .schema(s"event_id LONG, $tsDdl, user_id LONG, event_type STRING, " +
        "value DOUBLE, props STRING")
      .option("pathGlobFilter", "events.parquet").parquet(d)
    // integer division — ns epochs exceed 2^53, double math would lose µs
    tsDdl match {
      case "ts LONG" =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case "ts TIMESTAMP" => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** st_stream_window: readStream → tumbling day window agg → memory sink,
    * drained with AvailableNow so the result is batch-equivalent and
    * oracle-checkable. Complete output mode because the bounded run has no
    * watermark to finalize windows early. */
  def streamWindow(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the streaming file source lists a directory; single-file tables are
    // selected with a glob filter over the parent dir
    val src = eventsSource(s, d)
    val agg = src
      .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double")
          .as("sum_value"))
      .select(date_format(col("win.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))
    val q = agg.writeStream
      .format("memory").queryName("st_stream_window")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("st_stream_window")
  }

  /** st_stream_dedup: streaming exact dedup. The stream is the events
    * table with every row emitted twice; watermarked dropDuplicates
    * returns each event exactly once. State is BOUNDED: including the
    * watermarked `ts` in the dedup key lets Spark expire an event's dedup
    * entry once the watermark passes it — the only formulation whose state
    * doesn't grow forever on an unbounded stream. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = eventsSource(s, d)
    val doubled = src
      .withColumn("_copy", explode(array(lit(1), lit(2))))
      .drop("_copy")
    val deduped = doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id", "ts")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val q = deduped.writeStream
      .format("memory").queryName("st_stream_dedup")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("st_stream_dedup")
  }

  /** st_stream_enrich: stream-static enrichment join — the canonical
    * streaming pattern of decorating an event stream with a slowly-changing
    * dimension read as a plain batch table. The static side (customer) is
    * re-read per micro-batch by Spark and broadcast (bounded dim), the
    * stream side never shuffles, and append mode needs no state at all —
    * this is the shape that runs forever on an unbounded source. */
  def streamEnrich(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = eventsSource(s, d)
    val dim = broadcast(graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")))
    val enriched = src
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"))
    val q = enriched.writeStream
      .format("memory").queryName("st_stream_enrich")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("st_stream_enrich")
  }

  /** st_stream_join: watermarked stream-stream interval join — each
    * purchase matched to the same user's clicks in the preceding hour.
    * Both sides carry watermarks and the join condition bounds event time
    * on both sides, so state is EXPIRABLE: a click's join-state entry
    * dies once the purchase-side watermark passes its upper bound — the
    * only stream-stream join formulation whose state doesn't grow forever.
    * Drained with AvailableNow, so the result equals the batch join and
    * the oracle checks it exactly. */
  def streamJoin(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a stream-stream join instantiates FOUR state stores per shuffle
    // partition; in local mode the per-store setup dominates (measured
    // ~7-8 s at EVERY SF with 32 partitions, ~3.4 s with 8). Size the
    // stateful shuffle to the actual executor count — on a real cluster
    // this conf is per-query-run anyway; restore it for the next query
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try streamJoinInner(s, d)
    finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  private def streamJoinInner(s: SparkSession, d: String): DataFrame = {
    val src = eventsSource(s, d)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("p_user").as("user_id"), col("c_id"))
    val q = joined.writeStream
      .format("memory").queryName("st_stream_join")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("st_stream_join")
  }

  /** st_stream_file_sink: the PRODUCTION sink path — the purchase stream
    * written to a parquet file sink with a checkpoint. The sink's
    * _spark_metadata transaction log plus the checkpoint give exactly-once
    * file commits (a replayed micro-batch re-commits the same batch id
    * instead of duplicating rows); the memory-sink variants above validate
    * plans, this one validates the durable path a cluster actually ships.
    * Stateless filter + project, so it runs forever on an unbounded
    * source. The result is read BACK from the sink directory, so the
    * oracle hashes what landed on disk, not what left the plan. */
  def streamFileSink(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = graft.Fs.scratch("graft_file_sink", "")
    // wipe the per-process sink + checkpoint so re-verification starts
    // from a clean transaction log (append-only otherwise)
    graft.Fs.deleteRecursively(base)
    val src = eventsSource(s, d)
    val out = src.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
    val q = out.writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$base/out")
  }

  /** st_stream_session_window: gap-based sessions via the BUILT-IN
    * session_window aggregation — the declarative twin of the
    * flatMapGroupsWithState sessionizer ([[streamSession]]). Catalyst
    * owns the state layout and merge (sessions merge when a late event
    * bridges two windows), so this is the formulation to prefer when the
    * per-session output is an aggregate; the imperative version remains
    * for per-EVENT session stamping, which session_window can't emit.
    * Session boundary: an event exactly gap after the last starts a NEW
    * session (windows are half-open [start, last+gap)), hence the >= in
    * the oracle's replay. */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = eventsSource(s, d)
    val agg = src
      .groupBy(session_window(col("ts"), "30 minutes").as("win"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("win.start")).as("session_start_us"), col("n"))
    val q = agg.writeStream
      .format("memory").queryName("st_stream_session_window")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("st_stream_session_window")
  }

  /** st_stream_upsert: the foreachBatch MERGE sink — maintaining a keyed
    * table from a change stream, the production pattern behind every
    * "stream into a warehouse table" pipeline. The change stream derives
    * base records plus deterministic updates (every 10th key) and inserts
    * (every 97th key, new keyspace) from the orders table; each
    * micro-batch merges latest-wins-by-src into a VERSIONED parquet
    * target maintained through the TxnTable snapshot log: read the
    * current snapshot, merge, stage new files, atomic manifest commit —
    * copy-on-write generations a concurrent reader can pin mid-stream
    * without ever seeing a half-written merge.
    *
    * Batch-boundary invariance: the merge keeps max(src) per key, so the
    * final table is identical however AvailableNow splits the stream —
    * and a replayed batch re-merges idempotently (same rows, same
    * winner), which is what makes foreachBatch exactly-once-effective on
    * top of an at-least-once source. The oracle replays the same change
    * set + latest-wins window straight from parquet. */
  def streamUpsert(s: SparkSession, d: String): DataFrame = {
    val base = graft.Fs.scratch("graft_stream_upsert", "")
    graft.Fs.deleteRecursively(base)
    val ordersDdl =
      "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, o_orderpriority STRING"
    val src = s.readStream.schema(ordersDdl)
      .option("pathGlobFilter", "orders.parquet").parquet(d)
    val changes = src.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"), lit(0).as("src"))
      .unionByName(src.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("5-LOW").as("o_orderpriority"), lit(1).as("src")))
      .unionByName(src.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"), lit(1).as("src")))
    val table = s"$base/table"
    val q = changes.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // in-batch resolution: max(src) per key (base row + its update
        // derive from the SAME source row, so they always co-arrive in
        // one batch and keys are disjoint ACROSS batches — the batch
        // winner is the global winner however AvailableNow splits the
        // stream). Then the file-pruned MERGE: only files whose manifest
        // key range intersects the batch are rewritten — O(touched
        // region) per batch, not O(table), which is what lets this sink
        // run minutely against a 100 TB table.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderkey"))
          .orderBy(col("src").desc)
        val deduped = batch
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        if (TxnTable.versions(s, table).nonEmpty)
          TxnTable.merge(s, table, deduped, "o_orderkey")
        else {
          // first batch creates the table range-clustered + stat-indexed
          // on the merge key, so every later batch's merge can prune
          val clustered = deduped
            .repartitionByRange(8, col("o_orderkey"))
            .sortWithinPartitions(col("o_orderkey"))
          TxnTable.commit(s, table,
            TxnTable.stageIndexed(s, table, clustered, "o_orderkey"),
            expected = -1L, op = "create")
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    TxnTable.snapshot(s, table)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
  }

  /** st_stream_matview: CONTINUOUS MATERIALIZED-VIEW MAINTENANCE — the
    * steady-state shape [[graft.operators.MatView]] exists for, run end
    * to end as a stream: each micro-batch of CDC changes lands on the
    * base through ONE merge-on-read commit (zero data files rewritten,
    * feed published from the same manifest write) and the downstream MV
    * refreshes IN THE SAME foreachBatch — reading only that commit's
    * feed (commitsFolded == 1 every batch, asserted), never the base.
    * This is the production topology: a 100 TB base absorbing minutely
    * CDC, a dashboard aggregate that follows it within one batch, and
    * neither ever paying a base scan after create. The change set
    * (deletes %9, updates %10, inserts %97 — every key once, so batch
    * boundaries cannot change the outcome) is staged as four key-ranged
    * files and tailed with maxFilesPerTrigger=1. `mvstream_ok` asserts
    * the cadence: four refreshes, each folding exactly one commit, the
    * cursor ending at the base's head. Hashed output = the final MV,
    * which the oracle checks against a DIRECT per-status recompute of
    * the base's final content: continuous incremental maintenance ≡
    * recompute, through the managed object, through a stream. */
  def streamMatView(s: SparkSession, d: String): DataFrame = {
    val base = graft.Fs.freshScratch("graft_stream_mv", "run")
    val table = s"$base/table"
    val mv = s"$base/view"
    val k = col("o_orderkey")
    val d12 = DecimalType(12, 2)
    val sel = graft.Tables.orders(s, d)
      .select(k, col("o_orderstatus"),
        col("o_totalprice").cast(d12).as("price"))
    TxnTable.commit(s, table, TxnTable.stageIndexed(s, table,
      sel.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = sel.schema.json)
    graft.operators.MatView.create(s, mv, table, "o_orderstatus", "price")
    val changes = sel.filter(pmod(k, lit(9)) === 0)
      .select(k, col("o_orderstatus"), col("price"), lit("D").as("op"))
      .unionByName(sel.filter(pmod(k, lit(10)) === 0 &&
          pmod(k, lit(9)) =!= 0)
        .select(k, lit("U").as("o_orderstatus"),
          (col("price") + lit(100).cast(d12)).cast(d12).as("price"),
          lit("U").as("op")))
      .unionByName(sel.filter(pmod(k, lit(97)) === 0)
        .select((k + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("price"), lit("U").as("op")))
    changes.repartitionByRange(4, k).write.parquet(s"$base/feed")
    val feedDdl = "o_orderkey LONG, o_orderstatus STRING, " +
      "price DECIMAL(12,2), op STRING"
    val folds = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val q = s.readStream.schema(feedDdl)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$base/feed")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        TxnTable.applyChangesMor(s, table, batch, "o_orderkey", cdc = true)
        val r = graft.operators.MatView.refresh(s, mv)
        folds.add((r.commitsFolded, r.baseVersion))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val fs = folds.asScala.toSeq.sortBy(_._2)
    val head = TxnTable.currentVersion(s, table)
    val ok = fs.size == 4 && fs.forall(_._1 == 1) &&
      fs.map(_._2) == (1L to 4L) &&
      graft.operators.MatView.lastRefreshed(s, mv) == head
    TxnTable.snapshot(s, mv)
      .select(col("o_orderstatus"), col("n"),
        col("total").cast("double").as("total"))
      .withColumn("mvstream_ok", lit(ok))
  }

  /** st_stream_mv_serve: THE LIVE DASHBOARD, end to end — a foreachBatch
    * CDC ingest keeps a multi-key MV fresh while a CONCURRENT filtered
    * dashboard query (`WHERE pri = '1-URGENT' GROUP BY st` — the
    * sql_mv_filter shape over the catalog table) is answered through
    * the transparent rewrite EVERY batch, twice: BEFORE the refresh the
    * plan is filter-over-(MV ⊕ that batch's feed) — MV files + the
    * base's `_cdc` feed only — and AFTER the refresh it is the MV
    * alone; in NEITHER case is a base data file ever scanned (asserted
    * per batch from the optimized plan's roots), and both answers
    * match a direct recompute of the base at that instant. This is the
    * production claim made continuous: a 100 TB base absorbing CDC
    * minutely, a filtered dashboard that never leaves the MV+feed
    * plane, staleness decided by the log every single batch.
    * `serve_ok` folds the per-batch plan facts, fold cadence
    * (commitsFolded == 1 × 4) and answer equalities. Hashed output =
    * the final filtered dashboard answer; the oracle replays the
    * change algebra. */
  def streamMvServe(s: SparkSession, d: String): DataFrame = {
    graft.sources.GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.q")
    s.sql("DROP TABLE IF EXISTS graft.q.smv_orders")
    val loc = s"${graft.sources.GraftCatalog.defaultWarehouse}/q/smv_orders"
    val base = graft.Fs.freshScratch("graft_stream_mvserve", "run")
    val k = col("o_orderkey")
    val d12 = DecimalType(12, 2)
    s.sql("""CREATE TABLE graft.q.smv_orders (
      o_orderkey BIGINT, st STRING, pri STRING, price DECIMAL(12,2))""")
    graft.Tables.orders(s, d)
      .select(k, col("o_orderstatus").as("st"),
        col("o_orderpriority").as("pri"),
        col("o_totalprice").cast(d12).as("price"))
      .createOrReplaceTempView("smv_src")
    s.sql("""INSERT INTO graft.q.smv_orders
      SELECT o_orderkey, st, pri, price FROM smv_src""")
    val mv = s"$base/view"
    graft.operators.MatView.create(s, mv, loc, Seq("st", "pri"), "price")
    graft.operators.MatView.register(s, mv)
    // every key appears at most once across the four files, so batch
    // boundaries cannot change the outcome; the 'Q' group is born
    // '1-URGENT' so the FILTERED dashboard must surface it from feeds
    val src = s.table("smv_src")
    val changes = src.filter(pmod(k, lit(9)) === 0)
      .select(k, col("st"), col("pri"), col("price"), lit("D").as("op"))
      .unionByName(src.filter(pmod(k, lit(11)) === 0 &&
          pmod(k, lit(9)) =!= 0)
        .select(k, col("st"), col("pri"),
          (col("price") + lit(100).cast(d12)).cast(d12).as("price"),
          lit("U").as("op")))
      .unionByName(src.filter(pmod(k, lit(13)) === 0)
        .select((k + 100000000L).as("o_orderkey"), lit("Q").as("st"),
          lit("1-URGENT").as("pri"), col("price"), lit("U").as("op")))
    changes.repartitionByRange(4, k).write.parquet(s"$base/feed")
    val q = """SELECT st, COUNT(*) AS n, CAST(SUM(price) AS DOUBLE)
      AS total FROM graft.q.smv_orders WHERE pri = '1-URGENT'
      GROUP BY st"""
    // one shared plan-introspection helper — a drifted local copy of
    // the scan-root extraction is how subtle plan assertions go stale
    def scanSrcs(): Seq[String] =
      graft.operators.SqlSurface.scanSrcsOf(s, q)
    def answer(): Set[(String, Long, Double)] = s.sql(q).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    def direct(): Set[(String, Long, Double)] =
      TxnTable.snapshot(s, loc).filter(col("pri") === "1-URGENT")
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val facts = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val feedDdl = "o_orderkey LONG, st STRING, pri STRING, " +
      "price DECIMAL(12,2), op STRING"
    val stream = s.readStream.schema(feedDdl)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$base/feed")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        TxnTable.applyChangesMor(s, loc, batch, "o_orderkey", cdc = true)
        // ONE direct recompute per batch: the refresh below commits to
        // the MV only — the BASE is untouched between the stale and
        // fresh windows, so both answer-equality checks compare against
        // the same ground truth (was two identical base scans per batch)
        val truth = direct()
        // STALE window: the dashboard serves filter-over-(MV ⊕ feed) —
        // MV files + `_cdc` only, never a base data file
        val ps = scanSrcs()
        val staleOk = ps.nonEmpty &&
          ps.forall(p => p.contains(mv) || p.contains(s"$loc/_cdc")) &&
          ps.exists(_.contains(s"$loc/_cdc")) && answer() == truth
        val r = graft.operators.MatView.refresh(s, mv)
        // FRESH window: the MV alone
        val ps2 = scanSrcs()
        val freshOk = ps2.nonEmpty && ps2.forall(_.contains(mv)) &&
          answer() == truth
        facts.add(staleOk && freshOk && r.commitsFolded == 1)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    stream.awaitTermination()
    import scala.jdk.CollectionConverters._
    val fs = facts.asScala.toSeq
    val ok = fs.size == 4 && fs.forall(identity) &&
      graft.operators.MatView.lastRefreshed(s, mv) ==
        TxnTable.currentVersion(s, loc)
    s.sql(q).withColumn("serve_ok", lit(ok))
  }

  /** st_stream_idempotent: EXACTLY-ONCE foreachBatch appends via the
    * manifest's (appId, batchId) idempotence ledger
    * ([[TxnTable.appendIdempotent]] — the Delta txnAppId/txnVersion
    * contract). foreachBatch is Spark's documented at-least-once
    * escape hatch: the function can be re-invoked with the SAME batch
    * after a failure or restart, and a plain append would double the
    * rows — the classic silent-duplication bug of every naive
    * streaming sink. Here every epoch lands through the ledger, and
    * the scenario applies each batch TWICE (the retry every restart
    * produces): the second application must return None and commit
    * nothing. After the stream, a replay of epoch 0 (the
    * restart-from-old-checkpoint shape) still no-ops; an unrelated
    * PLAIN append carries the ledger forward (it is table metadata —
    * commit() threads it unconditionally); a replay after that carry
    * still no-ops; and a DIFFERENT appId reusing the same batch id
    * lands — per-app isolation. `idem_ok` carries the whole
    * accounting: 3 first-applications, 3 retry-skips, the post-stream
    * replays skipped, the version trail exactly create + 3 epochs +
    * plain append + app-B append, and the final ledger state read
    * back from the manifest. Idempotence lives in the LOG, not in
    * session state — at 100 TB with a thousand concurrent sinks, the
    * one header read per commit is what makes retries free. Three
    * disjoint key-mod waves staged with ascending mtimes +
    * maxFilesPerTrigger=1 keep the epoch sequence replayable; the
    * oracle replays the three waves plus the two labeled appends. */
  def streamIdempotent(s: SparkSession, d: String): DataFrame = {
    val base = graft.Fs.freshScratch("graft_stream_idem", "run")
    val table = s"$base/table"
    val ddl = "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE"
    val static = s.read.schema(ddl)
      .option("pathGlobFilter", "orders.parquet").parquet(d)
    TxnTable.commit(s, table, TxnTable.stageEmpty(s, table, static.schema),
      expected = -1L, op = "create", schemaJson = static.schema.json)
    val waves = (0 until 3).map(i =>
      static.filter(pmod(col("o_orderkey"), lit(3)) === i))
    val feed = stageWaveFeed(s, base, waves)
    val applies = new java.util.concurrent.atomic.AtomicLong
    val retrySkips = new java.util.concurrent.atomic.AtomicLong
    val q = s.readStream.schema(ddl).option("maxFilesPerTrigger", "1")
      .parquet(feed)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (TxnTable.appendIdempotent(s, table, batch,
            "sink-A", epoch).isDefined) applies.incrementAndGet()
        // the retry every restart produces: the SAME (app, epoch)
        // re-applied — the ledger must make it a clean no-op
        if (TxnTable.appendIdempotent(s, table, batch,
            "sink-A", epoch).isEmpty) retrySkips.incrementAndGet()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val vStream = TxnTable.currentVersion(s, table)
    // restart-from-old-checkpoint: epoch 0 replays — ledger says no
    val replay0 = TxnTable.appendIdempotent(s, table, waves(0),
      "sink-A", 0L)
    // an unrelated writer commits WITHOUT a txn — the ledger must carry
    TxnTable.appendResolving(s, table,
      static.filter(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 300000000L).as("o_orderkey"),
          lit("P").as("o_orderstatus"), col("o_totalprice")))
    val replay1 = TxnTable.appendIdempotent(s, table, waves(1),
      "sink-A", 1L)
    // a different app reusing batch id 2 is a different writer: lands
    val otherApp = TxnTable.appendIdempotent(s, table,
      static.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 500000000L).as("o_orderkey"),
          lit("B").as("o_orderstatus"), col("o_totalprice")),
      "sink-B", 2L)
    val m = TxnTable.manifest(s, table, TxnTable.currentVersion(s, table))
    val ok = applies.get == 3L && retrySkips.get == 3L &&
      vStream == 3L && replay0.isEmpty && replay1.isEmpty &&
      otherApp.isDefined &&
      m.txns == Map("sink-A" -> 2L, "sink-B" -> 2L) &&
      TxnTable.versions(s, table).size == 6
    TxnTable.snapshot(s, table)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .withColumn("idem_ok", lit(ok))
  }

  /** st_stream_mor: the MERGE-ON-READ CDC APPLY pipeline — the
    * steady-state shape [[TxnTable.applyChangesMor]] and
    * [[TxnTable.rewriteTombstones]] exist for, run end to end as a
    * stream. The change set (scattered deletes %9, updates %10,
    * inserts %97 — every key appears ONCE, so batch boundaries cannot
    * change the outcome) is staged as FOUR key-ranged parquet files
    * and tailed with maxFilesPerTrigger=1: four deterministic
    * micro-batches, each applied as ONE merge_mor commit — an
    * equality tombstone plus the batch's 'U' rows, ZERO data files
    * rewritten per batch — with [[TxnTable.rewriteTombstones]] firing
    * whenever three tombstone files have accreted (the maintenance
    * cadence that keeps the read-side anti-join flat between
    * compactions, also content-invariant and also zero data files).
    *
    * `morstream_ok` asserts the whole claim: every file of the BASE
    * table is still live — byte-identical manifest lines — at the
    * stream's end (the entire CDC stream never rewrote a data file),
    * the final tombstone state is ONE bounded file (after the closing
    * collapse), and the audit trail contains only create / merge_mor /
    * rewrite_tombstones ops. At 100 TB this is the difference between
    * a CDC consumer that rewrites the touched region every batch and
    * one whose per-batch write cost is O(change set) with reads
    * converged by ONE bounded anti-join. The oracle replays the change
    * algebra directly. */
  def streamMorApply(s: SparkSession, d: String): DataFrame = {
    val base = graft.Fs.scratch("graft_stream_mor", "run")
    graft.Fs.deleteRecursively(base)
    val table = s"$base/table"
    val k = col("o_orderkey")
    val sel = graft.Tables.orders(s, d)
      .select(k, col("o_orderstatus"), col("o_totalprice"))
    TxnTable.commit(s, table, TxnTable.stageIndexed(s, table,
      sel.repartitionByRange(8, k).sortWithinPartitions(k), "o_orderkey"),
      expected = -1L, op = "create", schemaJson = sel.schema.json)
    val v0Lines = TxnTable.liveEntries(s, table, 0).toSet
    // the change set, staged as 4 key-ranged files = 4 micro-batches
    val changes = sel.filter(pmod(k, lit(9)) === 0)
      .select(k, col("o_orderstatus"), col("o_totalprice"),
        lit("D").as("op"))
      .unionByName(sel.filter(pmod(k, lit(10)) === 0 &&
          pmod(k, lit(9)) =!= 0)
        .select(k, lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("U").as("op")))
      .unionByName(sel.filter(pmod(k, lit(97)) === 0)
        .select((k + 100000000L).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"),
          lit("U").as("op")))
    changes.repartitionByRange(4, k).write.parquet(s"$base/feed")
    val feedDdl = "o_orderkey LONG, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, op STRING"
    val q = s.readStream.schema(feedDdl)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$base/feed")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        TxnTable.applyChangesMor(s, table, batch, "o_orderkey")
        // maintenance cadence: collapse once three tombstones accrete
        if (TxnTable.deleteFiles(s, table,
            TxnTable.currentVersion(s, table)).size >= 3)
          TxnTable.rewriteTombstones(s, table)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    TxnTable.rewriteTombstones(s, table) // closing collapse
    val cur = TxnTable.currentVersion(s, table)
    val m = TxnTable.manifest(s, table, cur)
    val headLines = TxnTable.liveEntries(s, table, cur).toSet
    val zeroRewrites = v0Lines.subsetOf(headLines)
    val oneBounded = m.deletes.size == 1 &&
      m.deletes.head._2.endsWith("~L")
    val opsClean = TxnTable.history(s, table).map(_._2).toSet
      .subsetOf(Set("create", "merge_mor", "rewrite_tombstones"))
    val ok = zeroRewrites && oneBounded && opsClean
    TxnTable.snapshot(s, table)
      .select(k, col("o_orderstatus"), col("o_totalprice"))
      .withColumn("morstream_ok", lit(ok))
  }

  /** Stage `waves` as single-file parquet drops under `<base>/feed`
    * with ASCENDING mtimes — what pins the file source's micro-batch
    * ORDER for store-accretion scenarios whose semantics depend on
    * arrival order ([[streamDedupLsh]],
    * [[graft.operators.Similarity.annStream]]). One fragile block, one
    * home. Returns the feed directory. */
  private[graft] def stageWaveFeed(s: SparkSession, base: String,
      waves: Seq[DataFrame]): String = {
    val feed = s"$base/feed"
    val fsys = new org.apache.hadoop.fs.Path(feed)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fsys.mkdirs(new org.apache.hadoop.fs.Path(feed))
    waves.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$base/w$i"
      df.coalesce(1).write.parquet(tmp)
      val part = fsys.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dst = new org.apache.hadoop.fs.Path(feed, f"wave-$i%03d.parquet")
      fsys.rename(part, dst)
      fsys.setTimes(dst, 1000000000L + i * 60000L, -1L)
    }
    feed
  }

  /** st_stream_dedup_lsh: INCREMENTAL NEAR-DUP DEDUP AS A STREAM — the
    * continuous form of dd_incremental_lsh, the shape a live crawl
    * actually runs: each micro-batch of arriving documents probes the
    * persisted MinHash band store ([[graft.operators.Dedup
    * .probeLshStore]]: candidates from shared buckets, verification by
    * signature agreement — the corpus text is never read), appends its
    * kept docs' band rows atomically through
    * [[TxnTable.appendResolving]], and emits per-doc verdicts. The
    * STORE ACCRETES ACROSS BATCHES: wave 3's byte-identical copies of
    * wave-1 docs are caught as near-dups of the store rows wave 1
    * appended — the cross-batch dependency no per-batch dedup has.
    *
    * Three deterministic waves (the dd_incremental_lsh batch split by
    * id range: new docs / near-dup re-crawls / exact copies), staged as
    * three files with ascending modification times and tailed with
    * maxFilesPerTrigger=1, so the micro-batch sequence is replayable —
    * the oracle unrolls the three-wave novelty cascade exactly.
    * `lshstream_ok` asserts the store mechanics: final band-row count
    * == corpus bands + exactly the kept docs' bands. */
  def streamDedupLsh(s: SparkSession, d: String): DataFrame = {
    val base = graft.Fs.scratch("graft_stream_lsh", "run")
    graft.Fs.deleteRecursively(base)
    val store = s"$base/store"
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    TxnTable.create(s, store, graft.operators.Dedup.lshBandRows(corpus))
    val v0Rows = TxnTable.snapshot(s, store).count()
    val waves = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      corpus.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" the")).as("text")),
      docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    val feed = Streams.stageWaveFeed(s, base, waves)
    val results = s"$base/results"
    val q = s.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(feed)
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // probe bands/fps are batch-sized, computed map-only; the probe
        // itself scans ONLY the store (DedupSpec pins that plan shape)
        val bBands = graft.operators.Dedup.lshBandRows(batch)
          .localCheckpoint(true)
        val bFps = batch.select(col("doc_id"),
          graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
          .localCheckpoint(true)
        val verdicts = graft.operators.Dedup
          .probeLshStore(s, store, bBands, bFps).localCheckpoint(true)
        val kept = verdicts.filter(col("keep")).select(col("doc_id"))
        val newBands = bBands.join(broadcast(kept), Seq("doc_id"))
          .localCheckpoint(true)
        // append through the resolver: a concurrent batch rebases, never
        // clobbers; an all-dup batch appends nothing
        if (newBands.limit(1).count() > 0)
          TxnTable.appendResolving(s, store, newBands)
        verdicts.write.mode("append").parquet(results)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = s.read.parquet(results)
    val keptIds = out.filter(col("keep")).select("doc_id")
    val nKeptBands = graft.operators.Dedup
      .lshBandRows(s.read.parquet(feed).join(keptIds, "doc_id")).count()
    val ok = TxnTable.snapshot(s, store).count() == v0Rows + nKeptBands
    out.select(col("doc_id"), col("batch_rep"), col("n_near"),
        col("novel"), col("keep"))
      .withColumn("lshstream_ok", lit(ok))
  }

  /** st_stream_txn_multi: the EXACTLY-ONCE MULTI-TABLE STREAMING SINK —
    * every micro-batch lands its kept documents in the CORPUS table,
    * their band rows in the LSH STORE, and one audit row in the LEDGER
    * table as ONE atomic transaction
    * ([[TxnTable.commitMultiIdempotent]]): a crash between any two
    * single-table commits would leave a corpus doc invisible to dedup
    * (or a dedup entry with no corpus doc) FOREVER — the silent
    * divergence every multi-store pipeline risks. The (appId, batchId)
    * idempotence ledger rides every pend's header, so foreachBatch's
    * documented at-least-once retries skip cleanly: the scenario
    * re-applies every batch a second time (3 retry skips), replays
    * batch 0 after the stream (skip), and proves the three tables move
    * in LOCKSTEP — identical version trails, per-batch ledger counts
    * equal to the landed rows, band rows exactly the kept docs'. Wave
    * topology is st_stream_dedup_lsh's three-wave novelty cascade, so
    * the corpus content is deterministic and the oracle replays it.
    * At 100 TB: the transaction costs one pend write + one marker + one
    * rename per table per batch — O(1) metadata on top of the data
    * files, at any batch size, and recovery needs no coordinator. */
  def streamTxnMulti(s: SparkSession, d: String): DataFrame = {
    val base = graft.Fs.scratch("graft_stream_txnm", "run")
    graft.Fs.deleteRecursively(base)
    val corpusT = s"$base/corpus"
    val store = s"$base/bands"
    val ledger = s"$base/ledger"
    val sx = s
    import sx.implicits._
    val docs = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
    val corpus0 = docs.filter(col("doc_id") % 3 =!= 0)
    TxnTable.create(s, corpusT, corpus0)
    TxnTable.create(s, store, graft.operators.Dedup.lshBandRows(corpus0))
    val ledgerSchema = Seq.empty[(Long, Long, Long)]
      .toDF("batch_id", "n_in", "n_kept").schema
    TxnTable.commit(s, ledger, TxnTable.stageEmpty(s, ledger, ledgerSchema),
      expected = -1L, op = "create", schemaJson = ledgerSchema.json)
    val corpus0Rows = TxnTable.snapshot(s, corpusT).count()
    val v0Bands = TxnTable.snapshot(s, store).count()
    val waves = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      corpus0.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" the")).as("text")),
      docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    val feed = stageWaveFeed(s, base, waves)
    val applies = new java.util.concurrent.atomic.AtomicLong
    val retrySkips = new java.util.concurrent.atomic.AtomicLong
    val q = s.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(feed)
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val bBands = graft.operators.Dedup.lshBandRows(batch)
          .localCheckpoint(true)
        val bFps = batch.select(col("doc_id"),
          graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
          .localCheckpoint(true)
        val verdicts = graft.operators.Dedup
          .probeLshStore(s, store, bBands, bFps).localCheckpoint(true)
        val kept = verdicts.filter(col("keep")).select(col("doc_id"))
        val keptDocs = batch.join(broadcast(kept), Seq("doc_id"))
          .select(col("doc_id"), col("text")).localCheckpoint(true)
        val newBands = bBands.join(broadcast(kept), Seq("doc_id"))
          .localCheckpoint(true)
        val audit = Seq((epoch, batch.count(), keptDocs.count()))
          .toDF("batch_id", "n_in", "n_kept")
        def land() = TxnTable.commitMultiIdempotent(s,
          Seq(corpusT -> keptDocs, store -> newBands, ledger -> audit),
          "txn-sink", epoch)
        if (land().isDefined) applies.incrementAndGet()
        // the at-least-once retry: the SAME batch re-lands in NO table
        if (land().isEmpty) retrySkips.incrementAndGet()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // post-stream replay from an old checkpoint: still a clean skip
    val replay0 = TxnTable.commitMultiIdempotent(s,
      Seq(corpusT -> waves(0).limit(0), store -> TxnTable
        .snapshot(s, store).limit(0),
        ledger -> Seq((0L, 0L, 0L)).toDF("batch_id", "n_in", "n_kept")),
      "txn-sink", 0L)
    // the three tables moved in LOCKSTEP: create + one commit per batch
    val trails = Seq(corpusT, store, ledger)
      .map(t => TxnTable.versions(s, t))
    val led = TxnTable.snapshot(s, ledger).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val corpusRows = TxnTable.snapshot(s, corpusT).count()
    val bandRows = TxnTable.snapshot(s, store).count()
    val keptBands = graft.operators.Dedup.lshBandRows(
      s.read.parquet(feed).join(
        TxnTable.snapshot(s, corpusT).select("doc_id"), "doc_id")).count()
    val ok = applies.get == 3L && retrySkips.get == 3L &&
      replay0.isEmpty &&
      trails.forall(_ == Seq(0L, 1L, 2L, 3L)) &&
      led.map(_._1).toSeq == Seq(0L, 1L, 2L) &&
      led.map(_._3).sum == corpusRows - corpus0Rows &&
      bandRows == v0Bands + keptBands
    TxnTable.snapshot(s, corpusT).select(col("doc_id"))
      .withColumn("txnm_ok", lit(ok))
  }

  /** st_stream_cdc: the change feed as a STREAMING source — the
    * composition the txn log + CDC pieces exist for. The table takes two
    * [[TxnTable.overwriteCdc]] commits (the op_incremental_agg change
    * rules); each commit persists its signed change files under
    * `table/_cdc/`, and the consumer is a file-source readStream TAILING
    * that directory — maxFilesPerTrigger=1 forces one commit's feed per
    * micro-batch, so the Complete-mode aggregate is genuinely maintained
    * incrementally across batches (state = one row per group), exactly
    * how it would run forever against a table taking minutely commits.
    * The final telescoping fold (v0 aggregate + streamed delta) is
    * hash-checked against the oracle's DIRECT replay of v2: continuous
    * incremental maintenance ≡ recompute. */
  def streamCdc(s: SparkSession, d: String): DataFrame = {
    val base = graft.Fs.scratch("graft_stream_cdc", "")
    graft.Fs.deleteRecursively(base)
    val t = s"$base/table"
    TxnTable.create(s, t, TxnTable.ordersSlice14(s, d).repartition(4))
    TxnTable.overwriteCdc(s, t, TxnTable.applyOrderChanges(
      TxnTable.snapshot(s, t, 0), 50, 100, 61, 97, 100000000L, "N"), "o_orderkey")
    TxnTable.overwriteCdc(s, t, TxnTable.applyOrderChanges(
      TxnTable.snapshot(s, t, 1), 30, 50, 77, 89, 200000000L, "M"), "o_orderkey")
    val feedDdl =
      "o_orderkey LONG, w INT, o_orderstatus STRING, price DECIMAL(14,2)"
    val feed = s.readStream.schema(feedDdl)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$t/_cdc")
    val agg = feed.groupBy(col("o_orderstatus"))
      .agg(sum(col("w")).as("n"), sum(col("w") * col("price")).as("total"))
    val q = agg.writeStream
      .format("memory").queryName("st_stream_cdc_delta")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val v0 = TxnTable.snapshot(s, t, 0).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("price")).as("total"))
    v0.unionByName(s.table("st_stream_cdc_delta"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("n")).as("n"),
        sum(col("total")).cast("double").as("total"))
      .filter(col("n") =!= 0)
  }

  /** st_stream_changes: `readChangeFeed` THROUGH THE CATALOG — the
    * managed CDC source that retires st_stream_cdc's `_cdc/`-dir
    * file-tail idiom: `readStream.option("readChangeFeed","true")
    * .table("graft.q.t.changes")` tails the table's COMMIT LOG
    * (offsets = versions, each micro-batch = that commit's signed feed
    * resolved from its manifest's `#cdc=` refs — never a directory
    * listing) under the MatView refresh contract, verbatim from ITS
    * single site ([[graft.operators.MatView.feedRefsE]]): maintenance
    * commits pass as EMPTY batches, and a feed-less CONTENT change
    * THROWS — the lenient default would pass it silently and the
    * downstream aggregate would diverge on exactly that commit.
    *
    * The scenario maintains a Complete-mode aggregate across every
    * cdc-publishing write shape: a MoR initial upsert, a MoR
    * delete/reprice/insert batch, a CoW range DELETE, a compact
    * (empty batch under strict — asserted via a zero-input progress),
    * and a CoW MERGE — then pins the contract fork: a plain feed-less
    * INSERT makes the strict resume THROW (message names the missing
    * feed), while a lenient re-run from a fresh checkpoint drains past
    * it fine and lands an aggregate that silently MISSES those rows
    * (== the strict result — the divergence the option exists to make
    * loud). Hashed output = the maintained aggregate; the oracle
    * replays the change algebra. At 100 TB: a year-old minutely table
    * costs a tail trigger O(new commits), and an incremental consumer
    * can never silently lose a commit. */
  def streamChanges(s: SparkSession, d: String): DataFrame = {
    graft.sources.GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.q")
    graft.Tables.table(s, d, "orders").createOrReplaceTempView("orders")
    val t = "stch_orders"
    val loc = s"${graft.sources.GraftCatalog.defaultWarehouse}/q/$t"
    s.sql(s"DROP TABLE IF EXISTS graft.q.$t")
    s.sql(s"""CREATE TABLE graft.q.$t (
      o_orderkey BIGINT, st STRING, price DECIMAL(12,2))
      TBLPROPERTIES ('index' = 'o_orderkey')""")
    // v1: the initial population as a cdc-publishing upsert (+rows)
    TxnTable.applyChangesMor(s, loc,
      s.sql("""SELECT o_orderkey, o_orderstatus AS st,
        CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'U' AS op
        FROM orders"""), "o_orderkey", cdc = true)
    // v2: MoR deletes (%8), reprices (+5 where %10=3 — odd, so disjoint
    // from the even %8 deletes), and keyspace-shifted inserts (%17)
    TxnTable.applyChangesMor(s, loc,
      s.sql("""SELECT o_orderkey, o_orderstatus AS st,
          CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'D' AS op
        FROM orders WHERE o_orderkey % 8 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
          CAST(o_totalprice + 5 AS DECIMAL(12,2)), 'U'
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT o_orderkey + 300000000, 'Q',
          CAST(o_totalprice AS DECIMAL(12,2)), 'U'
        FROM orders WHERE o_orderkey % 17 = 0"""), "o_orderkey",
      cdc = true)
    // v3: CoW range delete of the low fifth of the original keyspace
    val b = s.sql("SELECT MIN(o_orderkey), MAX(o_orderkey) FROM orders")
      .collect()(0)
    val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0) + 1) / 5
    TxnTable.delete(s, loc, col("o_orderkey") <= cut - 1, cdc = true)
    // v4: maintenance — must pass as an EMPTY batch under strict
    TxnTable.compact(s, loc)
    // v5: CoW MERGE — new-group inserts (%23) + scattered deletes (%12)
    TxnTable.applyChangesMulti(s, loc,
      s.sql("""SELECT o_orderkey + 500000000 AS o_orderkey, 'R' AS st,
          CAST(o_totalprice AS DECIMAL(12,2)) AS price, 'U' AS op
        FROM orders WHERE o_orderkey % 23 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2)), 'D'
        FROM orders WHERE o_orderkey % 12 = 5"""),
      Seq("o_orderkey"), cdc = true)
    val ckpt = graft.Fs.scratch("graft_stream_changes", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    def runStrict(sink: String) = {
      val q = s.readStream
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxVersionsPerTrigger", "1")
        .table(s"graft.q.$t.changes")
        .groupBy(col("st"))
        .agg(sum(col("w")).as("n"),
          sum(col("w") * col("price")).as("total"))
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    val q1 = runStrict("st_stream_changes_agg")
    val prog = q1.recentProgress.toSeq
    // one trigger per version (1..5), the compact's an empty batch
    val batchesOk = prog.count(_.numInputRows > 0) == 4 &&
      prog.exists(_.numInputRows == 0)
    def snap(sink: String) = s.table(sink)
      .filter(col("n") =!= 0)
      .select(col("st"), col("n"),
        col("total").cast("double").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val maintained = snap("st_stream_changes_agg")
    val direct = TxnTable.snapshot(s, loc).groupBy(col("st"))
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // v6: a FEED-LESS content change — the strict resume must THROW,
    // naming the missing feed
    s.sql(s"""INSERT INTO graft.q.$t
      SELECT /*+ REPARTITION(1) */ o_orderkey + 700000000, 'X',
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 31 = 0""")
    val refused =
      try { runStrict("st_stream_changes_agg2"); false }
      catch { case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists(c => c.getMessage != null &&
            c.getMessage.contains("without publishing a change feed"))
      }
    // the lenient default drains past v6 fine — and silently MISSES
    // its rows (== the strict pre-v6 aggregate): the divergence the
    // option makes loud
    val ckpt2 = graft.Fs.scratch("graft_stream_changes", "ckpt2")
    graft.Fs.deleteRecursively(ckpt2)
    val q3 = s.readStream
      .option("startingVersion", "1")
      .option("maxVersionsPerTrigger", "1")
      .table(s"graft.q.$t.changes")
      .groupBy(col("st"))
      .agg(sum(col("w")).as("n"),
        sum(col("w") * col("price")).as("total"))
      .writeStream.format("memory").queryName("st_stream_changes_len")
      .option("checkpointLocation", ckpt2)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q3.awaitTermination()
    val lenient = snap("st_stream_changes_len")
    // ROWS-CAPPED admission: ONE commit whose feed splits into four
    // bounded files (graft.cdc.maxRecordsPerFile) streams as FOUR
    // micro-batches of ≤ maxRowsPerTrigger rows each, via sub-version
    // (version, fileIdx) offsets — a giant commit no longer becomes
    // one giant batch. The aggregate over the capped run must equal
    // the whole feed's, and every batch's numInputRows stays bounded.
    val t2 = "stch_cap"
    val loc2 = s"${graft.sources.GraftCatalog.defaultWarehouse}/q/$t2"
    s.sql(s"DROP TABLE IF EXISTS graft.q.$t2")
    s.sql(s"CREATE TABLE graft.q.$t2 (k BIGINT, grp STRING)")
    s.conf.set("graft.cdc.maxRecordsPerFile", "1000")
    try TxnTable.applyChangesMor(s, loc2,
      s.sql("""SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'E' ELSE 'O'
        END AS grp, 'U' AS op FROM RANGE(4000)"""), "k", cdc = true)
    finally s.conf.unset("graft.cdc.maxRecordsPerFile")
    val feedFiles = TxnTable.manifest(s, loc2,
      TxnTable.currentVersion(s, loc2)).cdcRefs.size
    val ckpt3 = graft.Fs.scratch("graft_stream_changes", "ckpt3")
    graft.Fs.deleteRecursively(ckpt3)
    val q4 = s.readStream
      .option("readChangeFeed", "true")
      .option("startingVersion", "1") // v0 = the feed-less CREATE
      .option("maxRowsPerTrigger", "1000")
      .table(s"graft.q.$t2.changes")
      .groupBy(col("grp"))
      .agg(sum(col("w")).as("n"))
      .writeStream.format("memory").queryName("st_stream_changes_cap")
      .option("checkpointLocation", ckpt3)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q4.awaitTermination()
    val capProg = q4.recentProgress.toSeq.filter(_.numInputRows > 0)
    val capAgg = s.table("st_stream_changes_cap")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val capOk = feedFiles == 4 && capProg.size == 4 &&
      capProg.forall(_.numInputRows <= 1000) &&
      capAgg == Set(("E", 2000L), ("O", 2000L))
    val nowCount = TxnTable.snapshot(s, loc).count()
    val ok = batchesOk && maintained == direct && refused &&
      capOk && lenient == maintained &&
      nowCount == direct.map(_._2).sum +
        s.sql("SELECT COUNT(*) FROM orders WHERE o_orderkey % 31 = 0")
          .collect()(0).getLong(0)
    s.table("st_stream_changes_agg")
      .filter(col("n") =!= 0)
      .select(col("st"), col("n"), col("total").cast("double").as("total"))
      .withColumn("stch_ok", lit(ok))
  }

  // ---- Stateful sessionization --------------------------------------------

  case class Event(user_id: Long, ts_us: Long, event_id: Long)
  case class SessionState(sessionNum: Long, lastTsUs: Long, startTsUs: Long)
  case class SessionedEvent(user_id: Long, event_id: Long, session_num: Long,
      session_start_us: Long)

  val GapUs: Long = 1800L * 1000000L // 30-min inactivity gap

  /** How long a session may wait for late events before its state can be
    * reclaimed: the watermark delay on the event stream. Timeout fires
    * when the watermark passes lastTs + [[GapUs]], i.e. the open session
    * provably cannot receive another on-time event. */
  val Lateness = "2 hours"

  /** Per-user session assignment for one group batch — pure function so
    * the batch spec and the streaming job share the exact logic. Events
    * must arrive (or be sorted) in ts order within the batch; the sort
    * buffers ONE user's events of ONE micro-batch (bounded by per-batch
    * volume, never by stream history).
    *
    * `expire` (streaming only): registers an event-time timeout at
    * lastTs + gap. When the watermark passes it, the group is invoked
    * with hasTimedOut and the state is DROPPED — an idle user costs no
    * memory forever. A user returning after expiry restarts session_num
    * at 1; `session_start_us` stays globally unique per (user, session),
    * so downstream consumers that need identity across expiry key on it
    * rather than the ordinal. */
  def assignSessions(events: Iterator[Event],
                     state: GroupState[SessionState],
                     expire: Boolean): Iterator[SessionedEvent] = {
    if (state.hasTimedOut) {
      // watermark passed lastTs + gap: the open session can never see
      // another on-time event — reclaim the state (bounded memory)
      state.remove()
      Iterator.empty
    } else {
      var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
      val out = events.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
        val newSession = st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > GapUs
        // lastTsUs only moves forward: a late event (earlier than state from
        // a previous batch) joins the open session without regressing the
        // gap baseline, so it can't split later on-time events. On the
        // STREAMING path this holds only within the watermark horizon:
        // FlatMapGroupsWithStateExec drops rows older than the watermark
        // before they reach this function, so an event later than
        // [[Lateness]] (2h) is silently discarded there — batch and
        // streaming runs can diverge on such very-late data (batch sees it,
        // the stream never does)
        st = SessionState(
          if (newSession) st.sessionNum + 1 else st.sessionNum,
          math.max(st.lastTsUs, e.ts_us),
          if (newSession) e.ts_us else st.startTsUs)
        SessionedEvent(e.user_id, e.event_id, st.sessionNum, st.startTsUs)
      }
      state.update(st)
      if (expire) state.setTimeoutTimestamp(st.lastTsUs / 1000L + GapUs / 1000L)
      out.iterator
    }
  }

  /** st_stream_session: the stateful sessionizer executed over the events
    * table as a bounded Dataset — the same flatMapGroupsWithState code the
    * unbounded stream runs, hash-checked against the window-based SQL
    * oracle (identical output to ta_sessionize by construction). */
  def streamSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val events = graft.Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"))
      .as[Event]
    sessionized(events)
      .select(col("event_id"), col("user_id"), col("session_num"))
  }

  /** Stateful sessionizer over a (possibly streaming) Dataset[Event]:
    * watermark → groupByKey(user) → flatMapGroupsWithState with
    * EventTimeTimeout. On an unbounded stream the state carries each
    * user's open session across micro-batches and is RECLAIMED once the
    * watermark passes the session's inactivity gap (state stays bounded
    * by the number of users active inside the watermark horizon); on a
    * bounded run the watermark node is elided by the analyzer and the
    * job degenerates to one pass — same code either way, so `expire`
    * follows `isStreaming` (batch GroupState has no watermark to time
    * out against). */
  /** Event plus its watermark column: the event-time attribute must stay
    * in the grouped child's output for the analyzer to accept
    * EventTimeTimeout (and for the watermark to advance). */
  private[streaming] case class EventTs(user_id: Long, ts_us: Long,
      event_id: Long, ts: java.sql.Timestamp)

  def sessionized(events: Dataset[Event]): Dataset[SessionedEvent] = {
    val s = events.sparkSession
    import s.implicits._
    val expire = events.isStreaming
    val withWm = events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", Lateness)
      .as[EventTs]
    withWm.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionedEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state) =>
          assignSessions(it.map(e => Event(e.user_id, e.ts_us, e.event_id)),
            state, expire)
      }
  }

  /** st_stream_backfill: RATE-LIMITED backfill of a file history through
    * the transactional sink — the production recipe for replaying a large
    * static archive without one giant batch: `maxFilesPerTrigger` bounds
    * each micro-batch (at 100 TB this is what keeps executor memory and
    * shuffle size flat — batch size is a CONFIG, not the archive size),
    * `Trigger.AvailableNow` drains the whole backlog then stops, and
    * every micro-batch lands as ONE atomic TxnTable commit whose op
    * records the batch id — the exactly-once recipe for foreachBatch
    * sinks (a retried batch finds its id already committed and SKIPS, so
    * replays can't double-append; the guard is exercised by re-invoking
    * the last batch's writer by hand). Hashed output = the final table's
    * per-type aggregate (identical to one big batch — rate limiting must
    * not change content); `backfill_ok` asserts the mechanics: the
    * backlog drained in ≥2 rate-limited batches, versions advanced one
    * per batch with distinct recorded ids, and the manual replay was a
    * no-op. */
  def streamBackfill(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = graft.Fs.scratch("graft_backfill", "")
    graft.Fs.deleteRecursively(base)
    // the "archive": the events table laid out as 8 files
    graft.Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(8).write.parquet(s"$base/src")
    val table = s"$base/table"
    def commitBatch(df: DataFrame, id: Long): Boolean = {
      val done = TxnTable.versions(s, table).nonEmpty &&
        TxnTable.history(s, table).exists(_._2 == s"backfill-$id")
      if (done) false
      else {
        if (TxnTable.versions(s, table).isEmpty)
          TxnTable.commit(s, table, TxnTable.stage(s, table, df), -1L,
            op = s"backfill-$id", schemaJson = df.schema.json)
        else TxnTable.append(s, table, df, op = s"backfill-$id")
        true
      }
    }
    val src = s.readStream
      .schema("event_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", "2").parquet(s"$base/src")
    val q = src.writeStream
      .foreachBatch((df: DataFrame, id: Long) => { commitBatch(df, id); () })
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val vs = TxnTable.versions(s, table)
    val ops = TxnTable.history(s, table).map(_._2)
    // exactly-once guard, exercised: replaying the LAST batch must no-op
    val lastId = ops.last.stripPrefix("backfill-").toLong
    val replayRan = commitBatch(
      s.read.parquet(s"$base/src"), lastId)
    val ok = vs.size >= 2 && vs == (0L until vs.size.toLong) &&
      ops.distinct.size == ops.size && !replayRan &&
      TxnTable.versions(s, table).size == vs.size
    TxnTable.snapshot(s, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("total"))
      .withColumn("backfill_ok", lit(ok))
  }

  /** st_stream_catalog: STRUCTURED STREAMING THROUGH THE CATALOG — the
    * commit log as a first-class streaming source AND sink behind table
    * identifiers, no paths:
    * `readStream.option("maxVersionsPerTrigger",1).table("graft.q.src")`
    * tails the source's commits ONE VERSION PER MICRO-BATCH (offsets are
    * commit versions, durable in the checkpoint; each batch reads
    * exactly the files its version added), and
    * `writeStream.toTable("graft.q.dst")` lands every epoch as ONE
    * atomic manifest commit through the OCC-resolving append, its
    * `#metrics=` header carrying (epoch, qtag) — the exactly-once ledger
    * IN the log, surviving driver restarts. The scenario drains 4
    * single-file source commits (4 batches → 4 dst commits, distinct
    * epochs), re-runs the drained stream against the same checkpoint
    * (zero new commits — offset-level replay), appends a 5th source
    * commit and re-runs (EXACTLY one more dst commit — incremental
    * tailing, the corpus never rescanned). Hashed output = the final dst
    * content (quarter cuts + the %13 shifted delta, oracle-replayable);
    * `cstream_ok` carries the batch/epoch/replay accounting. At 100 TB:
    * per-batch cost follows the commit's delta, per-epoch cost is the
    * epoch's write job (stats measured inside it) + one manifest CAS. */
  /** Seed the pair of catalog tables the catalog-stream scenarios tail:
    * `graft.q.<src>` takes the FOUR quarter-slice single-file INSERTs of
    * the orders keyspace (versions 1..4, tight key stats), `graft.q
    * .<dst>` is created empty with the same schema. Returns the quarter
    * cuts — ONE definition of the long-division arithmetic both
    * scenarios' oracles replay. */
  private def seedQuarterTables(s: SparkSession, d: String,
      src: String, dst: String): IndexedSeq[Long] = {
    graft.sources.GraftCatalog.register(s)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.q")
    graft.Tables.table(s, d, "orders").createOrReplaceTempView("orders")
    Seq(src, dst).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS graft.q.$t")
      s.sql(s"""CREATE TABLE graft.q.$t (
        o_orderkey BIGINT, st STRING, price DECIMAL(12,2))
        TBLPROPERTIES ('index' = 'o_orderkey')""")
    }
    val b = s.sql("SELECT MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi " +
      "FROM orders").collect()(0)
    val (kmin, kmax) = (b.getLong(0), b.getLong(1))
    val span = kmax - kmin
    val qc = (0L to 4L).map(i => kmin + i * (span + 1) / 4)
    (0 until 4).foreach { i =>
      s.sql(s"""INSERT INTO graft.q.$src
        SELECT /*+ REPARTITION(1) */ o_orderkey, o_orderstatus,
          CAST(o_totalprice AS DECIMAL(12,2))
        FROM orders
        WHERE o_orderkey >= ${qc(i)} AND o_orderkey < ${qc(i + 1)}""")
    }
    qc
  }

  /** One Trigger.AvailableNow drain of `graft.q.<src>` into
    * `graft.q.<dst>` through `ckpt`, with the given read options. */
  private def drainTo(s: SparkSession, src: String, dst: String,
      ckpt: String, options: Map[String, String]): Unit = {
    val r = options.foldLeft(s.readStream) {
      case (r, (k, v)) => r.option(k, v) }
    r.table(s"graft.q.$src").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(s"graft.q.$dst")
      .awaitTermination()
  }

  /** The destination's stream-landed commit versions. */
  private def streamCommits(s: SparkSession, loc: String): Seq[Long] =
    TxnTable.history(s, loc).collect { case (v, "stream_write", _) => v }

  def streamCatalog(s: SparkSession, d: String): DataFrame = {
    import graft.sources.GraftCatalog
    val srcLoc = s"${GraftCatalog.defaultWarehouse}/q/cs_src"
    val dstLoc = s"${GraftCatalog.defaultWarehouse}/q/cs_dst"
    seedQuarterTables(s, d, "cs_src", "cs_dst")
    val ckpt = graft.Fs.scratch("graft_cstream", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    def drain(): Unit = drainTo(s, "cs_src", "cs_dst", ckpt,
      Map("maxVersionsPerTrigger" -> "1"))
    drain()
    val afterFirst = streamCommits(s, dstLoc)
    val epochs = afterFirst.map(v =>
      TxnTable.commitMetrics(s, dstLoc, v)("epoch"))
    val countAfterFirst = TxnTable.snapshot(s, dstLoc).count()
    // offset-level replay: the drained stream re-run against the same
    // checkpoint must land ZERO new commits
    drain()
    val afterReplay = streamCommits(s, dstLoc)
    // incremental tail: one more source commit → EXACTLY one more batch
    s.sql("""INSERT INTO graft.q.cs_src
      SELECT /*+ REPARTITION(1) */ o_orderkey + 200000000, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2))
      FROM orders WHERE o_orderkey % 13 = 0""")
    drain()
    val afterDelta = streamCommits(s, dstLoc)
    val srcCount = TxnTable.snapshot(s, srcLoc).count()
    val ok = afterFirst.size == 4 &&
      epochs.distinct.size == 4 &&
      afterReplay == afterFirst &&
      afterDelta.size == 5 &&
      countAfterFirst + s.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 13 = 0")
        .collect()(0).getLong(0) == srcCount &&
      TxnTable.snapshot(s, dstLoc).count() == srcCount
    s.sql("""SELECT o_orderkey, st, CAST(price AS DOUBLE) AS price
      FROM graft.q.cs_dst""")
      .withColumn("cstream_ok", lit(ok))
  }

  /** st_stream_since: TIME-ANCHORED STREAM START as a checked query —
    * the "replay everything since last night's watermark" shape a
    * recovering consumer runs when its checkpoint is gone but its
    * downstream state carries a time high-water mark. Four
    * quarter-slice commits land with monotonized stamps; a FRESH
    * checkpoint anchored at the THIRD commit's own timestamp
    * (`startingTimestamp`, at-or-after semantics) must drain EXACTLY
    * quarters 3..4 — the anchor resolved by [[TxnTable.offsetSince]]'s
    * one-listing newest-first header walk (O(commits after the
    * target): anchoring a year-old table at "yesterday" pays for
    * yesterday). A second drain on the SAME checkpoint lands nothing:
    * the anchor binds only a fresh checkpoint, offsets rule afterwards.
    * Hashed output = the two quarters (replayable cut arithmetic); the
    * batch/commit accounting travels as `since_ok`. */
  def streamSince(s: SparkSession, d: String): DataFrame = {
    import graft.sources.GraftCatalog
    val srcLoc = s"${GraftCatalog.defaultWarehouse}/q/ss_src"
    val dstLoc = s"${GraftCatalog.defaultWarehouse}/q/ss_dst"
    seedQuarterTables(s, d, "ss_src", "ss_dst")
    // the third commit's OWN stamp: at-or-after must drain v3 and v4
    val ts3 = TxnTable.manifest(s, srcLoc, 3L).ts
    val ckpt = graft.Fs.scratch("graft_sstream", "ckpt")
    graft.Fs.deleteRecursively(ckpt)
    def drain(): Unit = drainTo(s, "ss_src", "ss_dst", ckpt,
      Map("startingTimestamp" -> ts3.toString,
        "maxVersionsPerTrigger" -> "1"))
    drain()
    val afterFirst = streamCommits(s, dstLoc)
    val n1 = TxnTable.snapshot(s, dstLoc).count()
    // the anchor binds only a FRESH checkpoint: a same-checkpoint
    // re-run replays offsets and lands nothing
    drain()
    val ok = afterFirst.size == 2 && // one batch per drained commit
      streamCommits(s, dstLoc) == afterFirst &&
      TxnTable.snapshot(s, dstLoc).count() == n1
    s.sql("""SELECT o_orderkey, st, CAST(price AS DOUBLE) AS price
      FROM graft.q.ss_dst""")
      .withColumn("since_ok", lit(ok))
  }
}
