package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.{MatView, TxnTable}
import graft.sources.GraftCatalog

/** table_writes: catalog tables under a seeded mix of writes and reads.
  *
  *  - `orders_t`: an indexed table that carries a registered MV
  *    (count/sum of `price` by `st`, `pri`). It takes CDC-publishing
  *    merge-on-read upserts, MV refreshes and a compaction after every
  *    [[TableWrites.Steps]] upserts, and serves the MV-rewritten
  *    GROUP BY dashboard and key-range lookups.
  *  - `events_log`: an indexed append-only table that takes SQL INSERTs
  *    and is drained by a `Trigger.AvailableNow` catalog stream into
  *    `events_sink`.
  *
  * A timed round is one step of a compaction cycle: an upsert, an
  * insert, a dashboard read, a lookup, and a refresh (even steps) or a
  * drain (odd steps); the last step of a cycle ends with the compaction.
  * A timed run always covers whole cycles. The seed orders each step's
  * ops and picks every batch's key slice and every lookup range. The
  * benchmark keeps its own copy of `orders_t` and of the row counts, and
  * checks every read against it. */
final class TableWrites(spark: SparkSession, data: String, seed: Long)
    extends Workload {
  import TableWrites._

  val name = "table_writes"
  private val rng = new Random(seed)
  private val wh = GraftCatalog.defaultWarehouse
  private val ordersLoc = s"$wh/bench/orders_t"
  private val eventsLoc = s"$wh/bench/events_log"
  private val sinkLoc = s"$wh/bench/events_sink"
  private val mvPath = graft.Fs.freshScratch("graftbench", "orders_mv")
  private val ckpt = graft.Fs.freshScratch("graftbench", "sink_ckpt")

  // the benchmark's model of the tables
  private val orders = mutable.HashMap.empty[Long, (String, String, java.math.BigDecimal)]
  private var nOrders = 0
  private var nEvents = 0
  private var eventRows = 0L
  private var sinkRows = 0L
  private var inserts = 0
  private var newKey = 1000000000L
  /** Mean bytes of an events row written once (three numbers + type). */
  private var eventBytes = 0.0

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("st", StringType),
    StructField("pri", StringType), StructField("price", DecimalType(12, 2))))
  private val changeSchema = orderSchema.add("op", StringType)

  def setup(): Unit = {
    GraftCatalog.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.bench")
    spark.read.parquet(s"$data/orders.parquet").createOrReplaceTempView("bench_orders")
    spark.read.parquet(s"$data/events.parquet").createOrReplaceTempView("bench_events")
    spark.sql("""CREATE TABLE graft.bench.orders_t (o_orderkey BIGINT, st STRING,
      pri STRING, price DECIMAL(12,2)) TBLPROPERTIES ('index' = 'o_orderkey')""")
    spark.sql("""INSERT INTO graft.bench.orders_t SELECT o_orderkey,
      o_orderstatus, o_orderpriority, CAST(o_totalprice AS DECIMAL(12,2))
      FROM bench_orders""")
    Seq("events_log", "events_sink").foreach { t =>
      spark.sql(s"""CREATE TABLE graft.bench.$t (k BIGINT, user_id BIGINT,
        event_type STRING, value DOUBLE) TBLPROPERTIES ('index' = 'k')""")
    }
    spark.sql("""INSERT INTO graft.bench.events_log
      SELECT event_id, user_id, event_type, value FROM bench_events""")
    MatView.create(spark, mvPath, ordersLoc, Seq("st", "pri"), "price")
    MatView.register(spark, mvPath)
    drain()
    spark.table("bench_orders").select("o_orderkey", "o_orderstatus",
      "o_orderpriority", "o_totalprice").collect().foreach { r =>
      orders(r.getLong(0)) = (r.getString(1), r.getString(2),
        java.math.BigDecimal.valueOf(r.getDouble(3)).setScale(2, java.math.RoundingMode.HALF_UP))
    }
    nOrders = orders.size
    val ev = spark.sql("SELECT COUNT(*), AVG(LENGTH(event_type)) FROM bench_events").head()
    nEvents = ev.getLong(0).toInt
    eventBytes = 24.0 + ev.getDouble(1)
    eventRows = nEvents
    sinkRows = nEvents
    ordersVersion = TxnTable.currentVersion(spark, ordersLoc)
    eventsVersion = TxnTable.currentVersion(spark, eventsLoc)
  }

  /** The warm-up round runs every op type once, compaction last, so the
    * timed cycles start on a compacted table. */
  val warmRounds = 1

  /** A round's ops: the two writes, then the two reads, then the
    * maintenance ops, each group in an order drawn from the seed. The
    * groups commute internally, so the order never changes an op's work:
    * a refresh always folds the step's upsert, and the reads always see
    * the same pending changes. */
  def round(r: Int): Seq[Op] = {
    val step = (r - warmRounds) % Steps
    val maintenance =
      if (r < warmRounds) Seq(refresh(), drainOp(), compact())
      else (if (step % 2 == 0) Seq(refresh()) else Seq(drainOp())) ++
        (if (step == Steps - 1) Seq(compact()) else Nil)
    rng.shuffle(Seq(upsert(), insert())) ++ rng.shuffle(Seq(dashboard(), lookup())) ++
      maintenance
  }

  override def cycleRounds: Int = Steps
  val nominalCycleS = 18.0

  // ---- writes ------------------------------------------------------------

  private def upsert(): Op = {
    val lo = rng.nextInt(nOrders - UpsertKeys).toLong
    val changes = (lo until lo + UpsertKeys).flatMap { k =>
      val x = rng.nextDouble()
      if (x < 0.15) Some(Row(k, "F", "5-LOW", price(1L), "D"))
      else if (x < 0.65) Some(Row(k, Statuses(rng.nextInt(3)), Prios(rng.nextInt(5)),
        price(100000L + rng.nextInt(40000000)), "U"))
      else None
    } ++ (0 until NewKeys).map { _ =>
      newKey += 1
      Row(newKey, Statuses(rng.nextInt(3)), Prios(rng.nextInt(5)),
        price(100000L + rng.nextInt(40000000)), "U")
    }
    Op("upsert", "write", clock => {
      val df = clock.phase("build")(spark.createDataFrame(changes.asJava, changeSchema))
      val v = clock.phase("txn.upsert")(
        TxnTable.applyChangesMor(spark, ordersLoc, df, "o_orderkey", cdc = true))
      () => {
        changes.foreach { c =>
          if (c.getString(4) == "D") orders.remove(c.getLong(0))
          else orders(c.getLong(0)) = (c.getString(1), c.getString(2), c.getDecimal(3))
        }
        lastUserBytes = changes.map(c => orderBytes(c.getString(1), c.getString(2))).sum.toDouble
        advance(ordersVersion = v)
      }
    })
  }

  private def insert(): Op = {
    val lo = rng.nextInt(nEvents - InsertRows)
    inserts += 1
    val off = inserts.toLong * 100000000L
    Op("insert", "write", clock => {
      clock.phase("txn.append")(spark.sql(s"""INSERT INTO graft.bench.events_log
        SELECT event_id + $off, user_id, event_type, value FROM bench_events
        WHERE event_id >= $lo AND event_id < ${lo + InsertRows}"""))
      () => {
        eventRows += InsertRows
        lastUserBytes = InsertRows * eventBytes
        val v = TxnTable.currentVersion(spark, eventsLoc)
        if (v == eventsVersion + 1) { eventsVersion = v; Right(0L) }
        else Left(s"insert moved events_log from version $eventsVersion to $v")
      }
    })
  }

  /** One AvailableNow drain of events_log into events_sink; the rows it
    * moved, per the stream's progress. */
  private def drain(): Long = {
    val q = spark.readStream.table("graft.bench.events_log").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable("graft.bench.events_sink")
    q.awaitTermination()
    q.recentProgress.map(_.numInputRows).sum
  }

  private def drainOp(): Op = Op("drain", "write", clock => {
    val rows = clock.phase("stream.drain")(drain())
    () => {
      val want = eventRows - sinkRows
      sinkRows += rows
      lastDrained = rows
      if (rows == want) Right(0L) else Left(s"drain moved $rows rows, expected $want")
    }
  })

  private def refresh(): Op = Op("refresh", "maintenance", clock => {
    val r = clock.phase("mv.refresh")(MatView.refresh(spark, mvPath))
    () => {
      lastFolded = r.commitsFolded
      if (r.baseVersion == ordersVersion) Right(0L)
      else Left(s"refresh reached base version ${r.baseVersion}, head is $ordersVersion")
    }
  })

  private def compact(): Op = Op("compact", "maintenance", clock => {
    val v = clock.phase("txn.compact")(TxnTable.compact(spark, ordersLoc))
    () => {
      val pending = TxnTable.manifest(spark, ordersLoc, v).deletes.size
      if (pending > 0) Left(s"$pending tombstones pending after compaction")
      else advance(ordersVersion = v)
    }
  })

  /** Records orders_t's new version, which must be past the last one. */
  private def advance(ordersVersion: Long): Either[String, Long] =
    if (ordersVersion > this.ordersVersion) { this.ordersVersion = ordersVersion; Right(0L) }
    else Left(s"orders_t committed version $ordersVersion after ${this.ordersVersion}")

  private var ordersVersion = 0L
  private var eventsVersion = 0L
  private var lastFolded = 0
  private var lastDrained = 0L
  private var lastUserBytes = 0.0

  // ---- reads -------------------------------------------------------------

  private val dashboardSql = """SELECT st, pri, COUNT(*) AS n,
    CAST(SUM(price) AS DOUBLE) AS total FROM graft.bench.orders_t GROUP BY st, pri"""

  private def expectedDashboard: Seq[Row] =
    orders.values.groupBy(v => (v._1, v._2)).toSeq.map { case ((st, pri), vs) =>
      Row(st, pri, vs.size.toLong,
        vs.foldLeft(java.math.BigDecimal.ZERO)((a, v) => a.add(v._3)).doubleValue)
    }

  private var lastRewriteHit = false

  private def dashboard(): Op =
    Workloads.queryOp("dashboard", "read", () => spark.sql(dashboardSql)) { (rows, df) =>
      lastRewriteHit = servedFromView(df.queryExecution.optimizedPlan)
      compare(rows, df.schema, expectedDashboard)
    }

  private def lookup(): Op = {
    val lo = rng.nextInt(nOrders - LookupKeys).toLong
    val hi = lo + LookupKeys
    Workloads.queryOp("lookup", "read", () => spark.sql(
      s"""SELECT o_orderkey, st, pri, price FROM graft.bench.orders_t
        WHERE o_orderkey >= $lo AND o_orderkey < $hi""")) { (rows, df) =>
      compare(rows, df.schema, orders.iterator.filter { case (k, _) => k >= lo && k < hi }
        .map { case (k, (st, pri, p)) => Row(k, st, pri, p) }.toSeq)
    }
  }

  private def compare(rows: Array[Row], schema: StructType,
      want: Seq[Row]): Either[String, Long] = {
    val got = ResultHash.digest(rows.toSeq, schema)
    val exp = ResultHash.digest(want, schema)
    if (got == exp) Right(rows.length.toLong) else Left(s"result digest $got, expected $exp")
  }

  /** Whether a plan reads nothing but the MV's files and the base's CDC
    * feed: the dashboard was answered by the rewrite. */
  private def servedFromView(plan: LogicalPlan): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    val roots = plan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Seq("?")
      }
      case r: DataSourceV2ScanRelation => Seq(s"v2:${r.relation.table.name}")
      case r: DataSourceV2Relation => Seq(s"v2:${r.table.name}")
    }.flatten
    roots.nonEmpty && roots.forall(p => p.contains(mvPath) || p.contains(s"$ordersLoc/_cdc"))
  }

  // ---- accounting --------------------------------------------------------

  private def versions(): Map[String, Long] = Map(
    "orders_t" -> TxnTable.currentVersion(spark, ordersLoc),
    "events_log" -> TxnTable.currentVersion(spark, eventsLoc),
    "events_sink" -> TxnTable.currentVersion(spark, sinkLoc),
    "mv" -> TxnTable.currentVersion(spark, mvPath))
  private var versionsBefore = Map.empty[String, Long]

  override def beforeOp(): Unit = versionsBefore = versions()

  override def afterOp(op: OpRun): Map[String, Double] = {
    val v = versions()
    val dv = v.map { case (k, x) => x - versionsBefore(k) }.sum
    val sinkCommits = v("events_sink") - versionsBefore("events_sink")
    val m = TxnTable.manifest(spark, ordersLoc, v("orders_t"))
    Map("txn.versions" -> dv.toDouble,
      "txn.live_files" -> m.entries.size.toDouble,
      "txn.pending_tombstones" -> m.deletes.size.toDouble,
      "txn.user_bytes" -> (op.name match {
        case "upsert" | "insert" => lastUserBytes
        case "drain" => lastDrained * eventBytes
        case _ => 0.0
      })) ++ (op.name match {
      case "drain" => Map("stream.commits" -> sinkCommits.toDouble,
        "stream.rows" -> lastDrained.toDouble)
      case "refresh" => Map("mv.commits_folded" -> lastFolded.toDouble)
      case "dashboard" => Map("mv.rewrite_hit" -> (if (lastRewriteHit) 1.0 else 0.0))
      case _ => Map.empty[String, Double]
    })
  }

  override def layerMetrics(ops: Seq[OpRun], spark: SparkTrace): Map[String, Double] = {
    def of(n: String*) = ops.filter(o => n.contains(o.name))
    def jobs(os: Seq[OpRun]) = os.map(o => spark.forOp(o.id).jobs.toDouble).sum
    def sumX(os: Seq[OpRun], k: String) = os.map(_.extra.getOrElse(k, 0.0)).sum
    val commitOps = of("insert", "upsert", "compact", "drain")
    val writeOps = of("insert", "upsert", "compact", "drain", "refresh")
    val refreshes = of("refresh")
    val drains = of("drain")
    Map(
      "txn.jobs_per_commit" -> Stats.ratio(jobs(commitOps), sumX(commitOps, "txn.versions")),
      "txn.versions_per_op" -> Stats.ratio(sumX(ops, "txn.versions"), ops.size),
      "txn.live_files" -> Stats.mean(ops.map(_.extra.getOrElse("txn.live_files", 0.0))),
      "txn.pending_tombstones" ->
        Stats.mean(ops.map(_.extra.getOrElse("txn.pending_tombstones", 0.0))),
      "txn.bytes_written_per_user_byte" ->
        Stats.ratio(sumX(writeOps, "fs.bytes_written"), sumX(writeOps, "txn.user_bytes")),
      "txn.stored_bytes_per_user_byte" -> storedBytesPerUserByte(),
      "mv.jobs_per_refresh" -> Stats.ratio(jobs(refreshes), refreshes.size),
      "mv.commits_folded_per_refresh" ->
        Stats.ratio(sumX(refreshes, "mv.commits_folded"), refreshes.size),
      "mv.rewrite_hit_ratio" -> Stats.mean(of("dashboard").map(_.extra.getOrElse("mv.rewrite_hit", 0.0))),
      "stream.jobs_per_drain" -> Stats.ratio(jobs(drains), drains.size),
      "stream.rows_per_drain" -> Stats.ratio(sumX(drains, "stream.rows"), drains.size),
      "stream.commits_per_drain" -> Stats.ratio(sumX(drains, "stream.commits"), drains.size))
  }

  override def reportMetrics(ops: Seq[OpRun]): Map[String, Double] = {
    def p50(kind: String) = {
      val xs = ops.filter(o => o.kind == kind && o.ok).map(_.latencyS)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def call(phase: String) = Stats.mean(ops.flatMap(o =>
      o.phases.collect { case (`phase`, a, b) => (b - a) / 1e6 }))
    Map("write_p50_s" -> p50("write"), "read_p50_s" -> p50("read"),
      "txn.append_s" -> call("txn.append"), "txn.upsert_s" -> call("txn.upsert"),
      "txn.compact_s" -> call("txn.compact"), "mv.refresh_s" -> call("mv.refresh"),
      "stream.drain_s" -> call("stream.drain"),
      "stored_bytes_per_user_byte" -> storedBytesPerUserByte())
  }

  /** Bytes under the tables' and the view's directories (data, log,
    * feeds, tombstones) ÷ bytes of the live rows written once. */
  def storedBytesPerUserByte(): Double = {
    def du(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      else f.length()
    val stored = Seq(ordersLoc, eventsLoc, sinkLoc, mvPath).map(p => du(new java.io.File(p))).sum
    val user = orders.values.map(v => orderBytes(v._1, v._2)).sum +
      (eventRows + sinkRows) * eventBytes
    Stats.ratio(stored.toDouble, user.toDouble)
  }

  override def finalChecks(): Seq[(String, Option[String])] = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val mvRead = spark.sql(dashboardSql)
    val direct = TxnTable.snapshot(spark, ordersLoc).groupBy("st", "pri")
      .agg(count(lit(1)).as("n"), sum("price").cast("double").as("total"))
    val a = ResultHash.digest(mvRead.collect().toSeq, mvRead.schema)
    val b = ResultHash.digest(direct.collect().toSeq, direct.schema)
    val c = ResultHash.digest(expectedDashboard, mvRead.schema)
    drain()
    val src = TxnTable.snapshot(spark, eventsLoc)
    val dst = TxnTable.snapshot(spark, sinkLoc)
    val s1 = ResultHash.digest(src.collect().toSeq, src.schema)
    val s2 = ResultHash.digest(dst.collect().toSeq, dst.schema)
    Seq(
      "mv_read_equals_recompute" ->
        (if (a == b && b == c) None else Some(s"view $a, recompute $b, model $c")),
      "sink_equals_source" ->
        (if (s1 == s2 && s1.rows == eventRows) None
         else Some(s"sink $s2, source $s1, rows written $eventRows")))
  }
}

object TableWrites {
  /** Upserts (and steps) per compaction cycle. Odd, so that rounds
    * alternating untraced and traced cover every step in both modes. */
  val Steps = 3
  val UpsertKeys = 300
  val NewKeys = 20
  val InsertRows = 1000
  val LookupKeys = 2000
  val opTypes: Seq[String] =
    Seq("upsert", "insert", "drain", "refresh", "compact", "dashboard", "lookup")

  private val Statuses = Array("F", "O", "P")
  private val Prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private def price(cents: Long) = java.math.BigDecimal.valueOf(cents, 2)

  /** Bytes of a row written once: 8 per number, UTF-8 length per string. */
  private def orderBytes(st: String, pri: String): Long = 16L + st.length + pri.length
}
