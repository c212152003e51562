package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's clock: epoch microseconds from `nanoTime`, so op
  * phases share a time base with Spark's epoch-millisecond job and stage
  * stamps. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Records the consecutive phases of one op as child spans of it. */
final class OpClock {
  val phases = ArrayBuffer.empty[(String, Long, Long)]
  def phase[T](name: String)(f: => T): T = {
    val a = Clock.nowUs
    try f finally phases += ((name, a, Clock.nowUs))
  }
}

/** One closed-loop operation of a workload. `run` does the timed work,
  * phase by phase, and returns the check of its output, which runs after
  * the clock has stopped: the rows returned, or what was wrong. */
final case class Op(name: String, kind: String, run: OpClock => Op.Check)

object Op {
  type Check = () => Either[String, Long]
}

/** What one op did: its interval, phases, outcome, the host's speed
  * around it (`probeS`, see [[HostProbe]]), and — when traced — counter
  * deltas and state recorded after it (`extra`). */
final case class OpRun(id: Long, name: String, kind: String, round: Int,
    timed: Boolean, traced: Boolean, startUs: Long, endUs: Long,
    phases: Seq[(String, Long, Long)], error: Option[String], rowsOut: Long,
    probeS: Double, extra: Map[String, Double]) {
  def latencyS: Double = (endUs - startUs) / 1e6
  /** The latency at the host's reference speed. */
  def scaledLatencyS: Double = latencyS * HostProbe.ReferenceS / probeS
  def ok: Boolean = error.isEmpty
  def phaseS(p: String => Boolean): Double =
    phases.collect { case (n, a, b) if p(n) => (b - a) / 1e6 }.sum
}

/** A closed-loop workload: one client issues the ops of round after
  * round, each op only after the previous one has completed. */
trait Workload {
  def name: String
  /** Tables, views and other state the ops need (timed as set-up). */
  def setup(): Unit
  /** Rounds run before timing starts, charged to set-up. */
  def warmRounds: Int
  /** The ops of round `r`, in the order the seed gives them. */
  def round(r: Int): Seq[Op]
  /** Rounds per cycle: a timed run covers whole cycles. */
  def cycleRounds: Int = 1
  /** A cycle's length on the 4-vCPU machine the benchmark was sized on;
    * `--seconds` ÷ this gives the number of timed cycles. */
  def nominalCycleS: Double
  /** Called before every traced op, off the clock. */
  def beforeOp(): Unit = ()
  /** State recorded after every traced op. */
  def afterOp(op: OpRun): Map[String, Double] = Map.empty
  /** Consistency checks at the end of the run: (name, error if any). */
  def finalChecks(): Seq[(String, Option[String])] = Nil
  /** Layer metrics this workload's own modules define, from traced ops. */
  def layerMetrics(ops: Seq[OpRun], spark: SparkTrace): Map[String, Double] = Map.empty
  /** Metrics reported beside the layer metrics, not checked by bound. */
  def reportMetrics(ops: Seq[OpRun]): Map[String, Double] = Map.empty
}

/** Process-wide counters read before and after each traced op: the
  * JVM's collection time (driver and executors share the JVM), the
  * filesystem calls of [[CountingLocalFileSystem]], Hadoop's byte
  * statistics for `file:`, and the catalog's scan-pruning accounting. */
object Counters {
  import graft.sources.GraftCatalog

  def snapshot(): Map[String, Long] = {
    var bytesRead, bytesWritten = 0L
    org.apache.hadoop.fs.FileSystem.getAllStatistics.forEach { st =>
      if (st.getScheme == "file") {
        bytesRead += st.getBytesRead
        bytesWritten += st.getBytesWritten
      }
    }
    Map(
      "jvm.gc_ms" -> Heap.gcMs,
      "fs.list_ops" -> CountingLocalFileSystem.lists.get,
      "fs.read_ops" -> CountingLocalFileSystem.opens.get,
      "fs.write_ops" -> CountingLocalFileSystem.writes.get,
      "fs.bytes_read" -> bytesRead,
      "fs.bytes_written" -> bytesWritten,
      "catalog.scan_kept" -> GraftCatalog.scanKept.get,
      "catalog.scan_total" -> GraftCatalog.scanTotal.get,
      "catalog.agg_answered" -> GraftCatalog.aggAnswered.get,
      "catalog.index_builds" -> GraftCatalog.indexBuilds.get,
      "catalog.runtime_kept" -> GraftCatalog.runtimeKept.get,
      "catalog.runtime_total" -> GraftCatalog.runtimeTotal.get)
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)).toDouble }
}

/** Runs a workload's rounds on one thread and keeps every op's record.
  * Tracing (the Spark and Catalyst listeners and the per-op counter
  * snapshots) is attached only for traced rounds. */
final class Runner(spark: SparkSession, w: Workload) {
  val sparkTrace = new SparkTrace
  val catalystTrace = new CatalystTrace
  val runs = ArrayBuffer.empty[OpRun]
  /** Old-generation occupancy after the full GC at each round's end. */
  val oldGenMb = ArrayBuffer.empty[Double]
  private var nextId = 0L
  private val sc = spark.sparkContext
  /** The host probe taken after the last op of this round, which is
    * also the probe before the next one. */
  private var lastProbe: Option[Double] = None

  def runRound(r: Int, timed: Boolean, traced: Boolean): Unit = {
    if (traced) {
      sc.addSparkListener(sparkTrace)
      spark.listenerManager.register(catalystTrace)
    }
    lastProbe = None
    w.round(r).foreach(op => runs += runOp(op, r, timed, traced))
    if (traced) {
      org.apache.spark.BenchBus.drain(sc)
      sc.removeSparkListener(sparkTrace)
      spark.listenerManager.unregister(catalystTrace)
    }
    oldGenMb += Heap.oldGenAfterFullGcMb()
  }

  private def runOp(op: Op, r: Int, timed: Boolean, traced: Boolean): OpRun = {
    nextId += 1
    val id = nextId
    if (traced) w.beforeOp()
    val before = if (traced) Counters.snapshot() else Map.empty[String, Long]
    val probe0 = lastProbe.getOrElse(HostProbe.seconds())
    val clock = new OpClock
    sc.setLocalProperty(SparkTrace.OpKey, id.toString)
    val t0 = Clock.nowUs
    val check: Either[Throwable, Op.Check] =
      try Right(op.run(clock)) catch { case e: Throwable => Left(e) }
    val t1 = Clock.nowUs
    sc.setLocalProperty(SparkTrace.OpKey, null)
    val probe1 = HostProbe.seconds()
    lastProbe = Some(probe1)
    val probeS = (probe0 + probe1) / 2
    val deltas =
      if (traced) Counters.delta(before, Counters.snapshot()) else Map.empty[String, Double]
    val verdict = check.flatMap(c =>
      try Right(c()) catch { case e: Throwable => Left(e) })
    val result = verdict match {
      case Left(e: Throwable) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) => v
    }
    result.left.foreach(e => System.err.println(s"[perfbench] op ${op.name} failed: $e"))
    val base = OpRun(id, op.name, op.kind, r, timed, traced, t0, t1,
      clock.phases.toSeq, result.left.toOption, result.getOrElse(0L), probeS, deltas)
    if (traced) base.copy(extra = deltas ++ w.afterOp(base)) else base
  }
}

object Heap {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** The live set the run holds at this point: old-generation occupancy
    * after full collections. Spark's cleaner releases the blocks of
    * plans a collection found unreachable (local checkpoints, broadcasts,
    * shuffles) only afterwards, so collect again until the occupancy
    * stops falling. */
  def oldGenAfterFullGcMb(): Double = {
    def collect(): Double = {
      System.gc()
      oldGen.map(_.getUsage.getUsed / (1024.0 * 1024.0)).getOrElse(0.0)
    }
    var last = collect()
    var cur = last
    var i = 0
    while (i == 0 || (i < 5 && last - cur > 1.0)) {
      Thread.sleep(200)
      last = cur
      cur = collect()
      i += 1
    }
    cur
  }

  def maxMb: Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)

  /** Milliseconds all collectors have spent so far. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
}
