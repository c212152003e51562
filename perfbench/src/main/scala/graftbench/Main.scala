package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (started by `perfbench/run.py`).
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <dir> --report <file> [--expected <file>] [--cores <n>]
  *   [--calibrate <dir>] [--meta <key>=<value>]...
  * }}}
  *
  * Set-up (session, tables, warm-up rounds) is timed as `setup_s`; then
  * `--seconds` ÷ the workload's nominal cycle length whole cycles run
  * (at least one; two when traced). With `--trace 0` every cycle is
  * untraced and the end-to-end metrics are printed; with `--trace 1`
  * rounds alternate untraced and traced, the per-layer metrics come from
  * the traced ones, and the latency difference between the two kinds is
  * the tracing overhead. The last stdout line is the result object. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, report: String, expected: Option[String],
      cores: Int, calibrate: Option[String],
      meta: Seq[(String, String)])

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      (k.drop(2), v) }.toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
    def need(k: String) = one(k).getOrElse(throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("report"), one("expected"),
      one("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      one("calibrate"),
      kv.collect { case ("meta", v) => v.span(_ != '=') match { case (a, b) => (a, b.drop(1)) } })
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    def since(t: Long) = (System.nanoTime() - t) / 1e9

    val tSession = System.nanoTime()
    val spark = graft.Engine.session(a.cores, appName = "graftbench")
    val sessionS = since(tSession)

    val expected = a.expected.map(readExpected).getOrElse(Map.empty)
    val w = Workloads.make(a.workload, spark, a.data, a.seed, expected)
    a.calibrate.foreach(_ => w match {
      case q: QueryWorkload => q.keepResults = true
      case _ => throw new IllegalArgumentException("--calibrate applies to query workloads")
    })
    val tTables = System.nanoTime()
    w.setup()
    val tablesS = since(tTables)

    val runner = new Runner(spark, w)
    val tWarm = System.nanoTime()
    (0 until w.warmRounds).foreach(r => runner.runRound(r, timed = false, traced = false))
    val warmupS = since(tWarm)
    val setupS = since(t0)
    val heapFrom = runner.oldGenMb.size

    // a fixed amount of work per run: the same number of cycles on both
    // sides of a comparison, whatever their speed
    val cycles = math.max(if (a.trace) 2 else 1, math.round(a.seconds / w.nominalCycleS).toInt)
    val timedRounds = cycles * w.cycleRounds
    (0 until timedRounds).foreach { i =>
      // traced and untraced rounds alternate
      runner.runRound(w.warmRounds + i, timed = true, traced = a.trace && i % 2 == 1)
    }
    val checks =
      try w.finalChecks()
      catch { case e: Throwable => Seq("final_checks" -> Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    checks.collect { case (n, Some(e)) => System.err.println(s"[perfbench] check $n failed: $e") }

    val ops = runner.runs.toSeq
    val timed = ops.filter(_.timed)
    val failedOps = ops.count(!_.ok) + checks.count(_._2.nonEmpty)
    val attempted = ops.size + checks.size
    val heap = runner.oldGenMb.drop(heapFrom).toSeq
    val setup = Map("engine.session_s" -> sessionS, "setup.tables_s" -> tablesS,
      "setup.warmup_s" -> warmupS)

    val e2e = Metrics.endToEnd(timed, setupS, heap)
    val ok = timed.filter(_.ok)
    val raw = Metrics.latencyFigures(ok.map(_.latencyS), "raw_")
    val probes = ops.map(_.probeS)
    val layers = if (a.trace) Metrics.layers(timed, runner, w, a.cores) ++ setup else Map.empty[String, Double]
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "heap_max_mb" -> Heap.maxMb, "old_gen_mb_per_round" -> runner.oldGenMb, "data" -> a.data,
      "rounds" -> Map("warm" -> w.warmRounds, "timed" -> timedRounds),
      "attempted" -> attempted, "failed" -> failedOps,
      "failed_ratio" -> Stats.ratio(failedOps, attempted),
      "latency_percentiles" -> (for {
        (kind, lat) <- Seq("scaled" -> ok.map(_.scaledLatencyS), "raw" -> ok.map(_.latencyS))
        p <- Seq(0.5, 0.9) if lat.nonEmpty
      } yield {
        val x = Stats.hdQuantile(lat, p)
        Map("latency" -> kind, "p" -> p, "value" -> x.value, "samples" -> x.samples,
          "beyond" -> x.beyond)
      }),
      "raw_end_to_end" -> raw,
      "host_probe_s" -> Map("reference" -> HostProbe.ReferenceS,
        "min" -> probes.min, "median" -> Stats.median(probes), "max" -> probes.max),
      "setup" -> setup, "end_to_end" -> e2e, "per_layer" -> layers,
      "report_only" -> (Metrics.perOpType(if (a.trace) timed.filter(_.traced) else timed) ++
        w.reportMetrics(if (a.trace) timed.filter(_.traced) else timed)),
      "final_checks" -> checks.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "errors" -> ops.filter(!_.ok).map(o => Map("op" -> o.name, "error" -> o.error)))
    a.meta.foreach { case (k, v) => report(k) = v }
    if (a.trace) report("spans") = Metrics.spanReport(timed.filter(_.traced), runner.sparkTrace)
    report("ops") = ops.map(o => Map("id" -> o.id, "name" -> o.name, "round" -> o.round,
      "timed" -> o.timed, "traced" -> o.traced, "latency_s" -> o.latencyS,
      "probe_s" -> o.probeS, "scaled_latency_s" -> o.scaledLatencyS,
      "phases" -> o.phases.map { case (n, s, e) => Map(n -> (e - s) / 1e6) },
      "jobs" -> (if (o.traced) runner.sparkTrace.forOp(o.id).jobs else -1L),
      "extra" -> o.extra, "error" -> o.error))
    Files.createDirectories(Paths.get(a.report).toAbsolutePath.getParent)
    Files.writeString(Paths.get(a.report), Json.render(report))

    a.calibrate.foreach(dir => w match {
      case q: QueryWorkload => Calibrate.dump(spark, q, dir)
      case _ =>
    })
    spark.stop()

    val metrics = (if (a.trace) Metrics.layerUnits else Metrics.endToEndUnits)
      .map { case (k, u) => (k, (if (a.trace) layers else e2e)(k), u) }
    val summary = (metrics ++ (if (a.trace) Nil else raw.toSeq.sorted.map { case (k, v) =>
      (k, v, if (k.startsWith("raw_throughput")) "1/s" else "s") }))
      .map { case (k, v, u) => f"$k=$v%.6g $u" }.mkString(" ")
    println(s"[perfbench] workload=${a.workload} seed=${a.seed} " +
      s"master=${spark.sparkContext.master} rounds=$timedRounds latency_samples=${timed.count(_.ok)} " +
      f"failed_ratio=${Stats.ratio(failedOps, attempted)}%.4f ($failedOps/$attempted) $summary")
    println(Json.render(mutable.LinkedHashMap(
      "correct" -> (failedOps == 0), "attempted" -> attempted, "failed" -> failedOps,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
    System.exit(if (failedOps == 0) 0 else 1)
  }

  /** `{"digests": {"<op>": "<rows>:<hash>"}}` as written by calibrate.py. */
  def readExpected(path: String): Map[String, ResultHash.Digest] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.get("digests").fields().asScala
      .map(e => e.getKey -> ResultHash.Digest.parse(e.getValue.asText())).toMap
  }
}
