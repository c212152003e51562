package graftbench

import scala.collection.mutable

/** End-to-end metrics from the untraced ops, per-layer metrics from the
  * traced ones, and the span report. */
object Metrics {

  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_s" -> "s", "latency_p90_s" -> "s",
    "throughput_ops_s" -> "1/s", "peak_heap_mb" -> "MB")

  /** Per-layer metrics in report order, with units; table_writes' own
    * modules (txn, mv, stream) read 0 on workloads that do not use them. */
  val layerUnits: Seq[(String, String)] = Seq(
    "engine.session_s" -> "s", "setup.tables_s" -> "s", "setup.warmup_s" -> "s",
    "op.build_s" -> "s", "op.build_jobs" -> "count",
    "op.plan_s" -> "s", "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "op.exec_s" -> "s", "op.driver_self_s" -> "s",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_s_per_op" -> "s",
    "spark.task_cpu_s_per_op" -> "s", "spark.core_busy_ratio" -> "ratio",
    "spark.task_wait_s_per_op" -> "s",
    "spark.shuffle_write_bytes_per_op" -> "bytes",
    "spark.shuffle_read_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes", "spark.gc_s_per_op" -> "s",
    "spark.failed_tasks" -> "count", "spark.retried_stages" -> "count",
    "scan.bytes_read_per_op" -> "bytes", "scan.records_read_per_op" -> "count",
    "scan.records_read_per_row_out" -> "ratio",
    "catalog.files_kept_ratio" -> "ratio", "catalog.agg_answered" -> "count",
    "catalog.index_builds" -> "count", "catalog.runtime_kept_ratio" -> "ratio",
    "fs.read_ops_per_op" -> "count", "fs.write_ops_per_op" -> "count",
    "fs.list_ops_per_op" -> "count", "fs.bytes_written_per_op" -> "bytes",
    "txn.jobs_per_commit" -> "count", "txn.versions_per_op" -> "count",
    "txn.live_files" -> "count", "txn.pending_tombstones" -> "count",
    "txn.bytes_written_per_user_byte" -> "ratio",
    "txn.stored_bytes_per_user_byte" -> "ratio",
    "mv.jobs_per_refresh" -> "count", "mv.commits_folded_per_refresh" -> "count",
    "mv.rewrite_hit_ratio" -> "ratio",
    "stream.jobs_per_drain" -> "count", "stream.rows_per_drain" -> "count",
    "stream.commits_per_drain" -> "count",
    "trace.overhead_ratio" -> "ratio") ++
    Workloads.allOpTypes.map(n => s"op.$n.jobs" -> "count")

  /** The end-to-end metrics. Latency and throughput are over the timed
    * ops that succeeded, at the host's reference speed ([[HostProbe]]). */
  def endToEnd(timed: Seq[OpRun], setupS: Double, oldGenMb: Seq[Double]): Map[String, Double] =
    latencyFigures(timed.filter(_.ok).map(_.scaledLatencyS)) ++ Map("setup_s" -> setupS,
      "peak_heap_mb" -> (if (oldGenMb.isEmpty) Double.NaN else oldGenMb.max))

  /** p50 and p90 (Harrell–Davis estimates) of a set of op latencies,
    * and ops per second of the time they took, named with `prefix`. */
  def latencyFigures(lat: Seq[Double], prefix: String = ""): Map[String, Double] = {
    def q(p: Double) = if (lat.isEmpty) Double.NaN else Stats.hdQuantile(lat, p).value
    Map(s"${prefix}latency_p50_s" -> q(0.5), s"${prefix}latency_p90_s" -> q(0.9),
      s"${prefix}throughput_ops_s" -> Stats.ratio(lat.size, lat.sum))
  }

  private def us(spans: Iterable[(Long, Long)]): Seq[(Long, Long)] =
    spans.map { case (a, b) => (a * 1000L, b * 1000L) }.toSeq

  def layers(timed: Seq[OpRun], runner: Runner, w: Workload, cores: Int): Map[String, Double] = {
    val ops = timed.filter(_.traced)
    val st = runner.sparkTrace
    val n = ops.size.toDouble
    def per(f: SparkCounts => Double) = Stats.ratio(ops.map(o => f(st.forOp(o.id))).sum, n)
    def sumX(k: String) = ops.map(_.extra.getOrElse(k, 0.0)).sum
    val catalyst = ops.map { o =>
      val in = runner.catalystTrace.all.filter { case (t, _, _, _) =>
        t * 1000L >= o.startUs - 1000L && t * 1000L <= o.endUs }
      (in.map(_._2).sum, in.map(_._3).sum, in.map(_._4).sum)
    }
    def jobsIn(o: OpRun, phase: String): Int = o.phases.collect { case (`phase`, a, b) =>
      st.forOp(o.id).jobSpans.count { case (s, _) => s * 1000L >= a - 1000L && s * 1000L <= b }
    }.sum
    val taskS = ops.map(o => st.forOp(o.id).taskMs / 1000.0).sum
    val base = Map(
      "op.build_s" -> Stats.mean(ops.map(_.phaseS(_ == "build"))),
      "op.build_jobs" -> Stats.mean(ops.map(jobsIn(_, "build").toDouble)),
      "op.plan_s" -> Stats.mean(ops.map(_.phaseS(_ == "plan"))),
      "catalyst.analysis_s" -> Stats.ratio(catalyst.map(_._1).sum / 1000.0, n),
      "catalyst.optimization_s" -> Stats.ratio(catalyst.map(_._2).sum / 1000.0, n),
      "catalyst.planning_s" -> Stats.ratio(catalyst.map(_._3).sum / 1000.0, n),
      "op.exec_s" -> Stats.mean(ops.map(_.phaseS(p => p != "build" && p != "plan"))),
      "op.driver_self_s" -> Stats.mean(ops.map(o =>
        Stats.selfTime(o.startUs, o.endUs, us(st.forOp(o.id).jobSpans)) / 1e6)),
      "spark.jobs_per_op" -> per(_.jobs.toDouble),
      "spark.stages_per_op" -> per(_.stages.toDouble),
      "spark.tasks_per_op" -> per(_.tasks.toDouble),
      "spark.task_s_per_op" -> Stats.ratio(taskS, n),
      "spark.task_cpu_s_per_op" -> per(_.cpuNs / 1e9),
      "spark.core_busy_ratio" -> Stats.ratio(taskS, ops.map(_.latencyS).sum * cores),
      "spark.task_wait_s_per_op" -> per(_.waitMs / 1000.0),
      "spark.shuffle_write_bytes_per_op" -> per(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes_per_op" -> per(_.shuffleRead.toDouble),
      "spark.spill_bytes_per_op" -> per(_.spill.toDouble),
      "spark.gc_s_per_op" -> Stats.ratio(sumX("jvm.gc_ms") / 1000.0, n),
      "spark.failed_tasks" -> ops.map(o => st.forOp(o.id).failedTasks).sum.toDouble,
      "spark.retried_stages" -> ops.map(o => st.forOp(o.id).retriedStages).sum.toDouble,
      "scan.bytes_read_per_op" -> per(_.inputBytes.toDouble),
      "scan.records_read_per_op" -> per(_.inputRecords.toDouble),
      "scan.records_read_per_row_out" -> Stats.ratio(
        ops.map(o => st.forOp(o.id).inputRecords).sum.toDouble, ops.map(_.rowsOut).sum.toDouble),
      "catalog.files_kept_ratio" ->
        Stats.ratio(sumX("catalog.scan_kept"), sumX("catalog.scan_total")),
      "catalog.agg_answered" -> sumX("catalog.agg_answered"),
      "catalog.index_builds" -> sumX("catalog.index_builds"),
      "catalog.runtime_kept_ratio" ->
        Stats.ratio(sumX("catalog.runtime_kept"), sumX("catalog.runtime_total")),
      "fs.read_ops_per_op" -> Stats.ratio(sumX("fs.read_ops"), n),
      "fs.write_ops_per_op" -> Stats.ratio(sumX("fs.write_ops"), n),
      "fs.list_ops_per_op" -> Stats.ratio(sumX("fs.list_ops"), n),
      "fs.bytes_written_per_op" -> Stats.ratio(sumX("fs.bytes_written"), n),
      "trace.overhead_ratio" -> overhead(timed))
    val perType = Workloads.allOpTypes.map { t =>
      val os = ops.filter(_.name == t)
      s"op.$t.jobs" -> Stats.mean(os.map(o => st.forOp(o.id).jobs.toDouble))
    }
    val tableLayers = layerUnits.map(_._1)
      .filter(k => k.startsWith("txn.") || k.startsWith("mv.") || k.startsWith("stream."))
      .map(_ -> 0.0).toMap
    base ++ perType ++ tableLayers ++ w.layerMetrics(ops, st)
  }

  /** Tracing overhead: per op type, mean traced latency ÷ mean untraced
    * latency, both at the host's reference speed; the geometric mean of
    * those ratios, minus 1. */
  def overhead(timed: Seq[OpRun]): Double = {
    val rs = timed.filter(_.ok).groupBy(_.name).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.mean(t.map(_.scaledLatencyS)) / Stats.mean(u.map(_.scaledLatencyS)))
    }
    if (rs.isEmpty) 0.0 else math.exp(Stats.mean(rs.map(math.log).toSeq)) - 1.0
  }

  /** Median latency and sample count of every op type in `ops`. */
  def perOpType(ops: Seq[OpRun]): Map[String, Double] =
    ops.filter(_.ok).groupBy(_.name).flatMap { case (t, os) =>
      Seq(s"op.$t.p50_s" -> Stats.median(os.map(_.latencyS)),
        s"op.$t.samples" -> os.size.toDouble)
    }

  /** Each layer's span count, total and self time over the traced ops:
    * op → its phases (build, plan, exec, or the write call) → Spark jobs
    * → stages. A span's self time is its duration minus what its children
    * cover. `accounted_ratio` = Σ(op self time + its phases) ÷ Σ op wall
    * time, which is 1 when the phases and the op's own time account for
    * every op. */
  def spanReport(ops: Seq[OpRun], st: SparkTrace): Map[String, Any] = {
    val acc = mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    def add(layer: String, dur: Long, self: Long): Unit = {
      val (c, t, s) = acc.getOrElse(layer, (0L, 0L, 0L))
      acc(layer) = (c + 1, t + dur, s + self)
    }
    var accounted, wall = 0L
    ops.foreach { o =>
      val phases = o.phases.map { case (_, a, b) => (a, b) }
      val jobs = us(st.forOp(o.id).jobSpans)
      val stages = us(st.forOp(o.id).stageSpans)
      val opSelf = Stats.selfTime(o.startUs, o.endUs, phases)
      add("op", o.endUs - o.startUs, opSelf)
      o.phases.foreach { case (n, a, b) => add(n, b - a, Stats.selfTime(a, b, jobs)) }
      jobs.foreach { case (a, b) => add("spark.job", b - a, Stats.selfTime(a, b, stages)) }
      stages.foreach { case (a, b) => add("spark.stage", b - a, b - a) }
      accounted += opSelf + phases.map { case (a, b) => b - a }.sum
      wall += o.endUs - o.startUs
    }
    Map("layers" -> acc.map { case (k, (c, t, s)) =>
        k -> Map("count" -> c, "total_s" -> t / 1e6, "self_s" -> s / 1e6) },
      "accounted_ratio" -> Stats.ratio(accounted.toDouble, wall.toDouble))
  }
}
