package graft

import org.apache.spark.sql.functions._

/** Scratch diagnostics main — ad-hoc measurements during development.
  * Not part of the driver contract; safe to change at will. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session(16, appName = "graft-probe")
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    args.drop(1).headOption.getOrElse("q30") match {
      case "jobs" =>
        // job/stage/task census for a query: separates fixed scheduling
        // overhead (many tiny jobs) from real compute (task time ≈ wall)
        val name = args.drop(2).headOption.getOrElse(
          sys.error("usage: Probe <datadir> jobs <queryName>"))
        val fn = SparkEntry.queries(name)
        fn(spark, d).count() // warm
        @volatile var jobs = 0; @volatile var stages = 0
        @volatile var tasks = 0; @volatile var taskMs = 0L
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs += 1
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            stages += 1
            tasks += sc.stageInfo.numTasks
            taskMs += sc.stageInfo.taskMetrics.executorRunTime
          }
        }
        // per-job wall time + call site, to attribute scenario machinery
        val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        val jobWall = new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()
        val siteListener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val site = Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse("?")
            jobStart.put(j.jobId, (System.nanoTime(), site))
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val st = jobStart.remove(j.jobId)
            if (st != null) {
              val ms = (System.nanoTime() - st._1) / 1000000
              jobWall.merge(st._2, (ms, 1),
                (a, b) => (a._1 + b._1, a._2 + b._2))
            }
          }
        }
        spark.sparkContext.addSparkListener(listener)
        spark.sparkContext.addSparkListener(siteListener)
        val t0 = System.nanoTime()
        val rows = fn(spark, d).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        spark.sparkContext.removeSparkListener(siteListener)
        println(f"JOBS $name rows=$rows wall=$wall%.3f s jobs=$jobs " +
          f"stages=$stages tasks=$tasks taskTime=${taskMs / 1e3}%.3f s")
        import scala.jdk.CollectionConverters._
        jobWall.asScala.toSeq.sortBy(-_._2._1).take(25).foreach {
          case (site, (ms, n)) => println(f"JOBSITE ${ms / 1e3}%8.3f s  n=$n%-4d $site")
        }
      case "tokbench" =>
        // in-JVM A/B: native ws_tokens vs filter(split) — same session,
        // interleaved, noop sink (guide §1.4), immune to machine epochs
        import org.apache.spark.sql.DataFrame
        def time2(name: String, mk: () => DataFrame): Unit = {
          def run(): Double = {
            val t0 = System.nanoTime()
            mk().write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          run(); val a = run(); val b = run(); val c = run()
          println(f"TOKBENCH $name%-28s $a%7.3f  $b%7.3f  $c%7.3f s")
        }
        val docsT = Tables.documents(spark, d)
        val splitToks = filter(split(col("text"), "\\s+"), t => t =!= "")
        time2("explode(filter(split))", () =>
          docsT.select(col("doc_id"), explode(splitToks).as("tok")))
        time2("explode(ws_tokens)", () =>
          docsT.select(col("doc_id"),
            explode(graft.functions.WsTokens(col("text"))).as("tok")))
        time2("qscore-hof", () =>
          docsT.select(col("doc_id"), size(splitToks).as("n_tok"),
            size(filter(splitToks,
              t => t.isin(graft.functions.TextFunctions.Stopwords: _*)))
              .as("stop_n")))
        time2("qscore-native", () => {
          val toks = graft.functions.WsTokens(col("text"))
          docsT.select(col("doc_id"), size(toks).as("n_tok"),
            size(filter(toks,
              t => t.isin(graft.functions.TextFunctions.Stopwords: _*)))
              .as("stop_n"))
        })
      case "overhead" =>
        // fixed-cost calibration: how much does ONE trivial action cost
        // in this environment? (job scheduling + planning + codegen)
        def t(name: String)(f: => Unit): Unit = {
          val t0 = System.nanoTime()
          f
          println(f"OVERHEAD $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
        }
        (1 to 3).foreach { i =>
          t(s"range_sum_$i") {
            spark.range(1000000).selectExpr("sum(id)").collect() }
          t(s"tiny_write_$i") {
            spark.range(100).write.mode("overwrite")
              .parquet(s"/tmp/probe_ovh_$i") }
          t(s"tiny_shuffle_$i") {
            spark.range(10000).selectExpr("id % 7 AS k", "id AS v")
              .groupBy("k").sum("v").collect() }
        }
      case "mvbench" =>
        // phase-level job census of the MV/txn machinery that dominates
        // the sweep tail: one base, one MV, then each machinery call
        // timed with its own job count (the `jobs` probe can't split
        // phases — foreachBatch swallows every call site)
        import graft.operators.{MatView, TxnTable}
        @volatile var jobs = 0
        val siteWall =
          new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()
        val started =
          new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        // the first graft.* frame of a call-site stack, Probe excluded
        def graftFrame(stack: String): Option[String] =
          stack.linesIterator
            .find(l => l.contains("graft.") && !l.contains("Probe"))
            .map(_.trim.stripPrefix("at "))
        // SQL execution id → the first graft.* frame of the call site
        // that started it. AQE stage jobs and broadcast jobs run on
        // other threads, where their own creation site is Spark's, but
        // they carry their execution's id
        val execSite =
          new java.util.concurrent.ConcurrentHashMap[Long, String]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onOtherEvent(
                e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
              e match {
                case x: org.apache.spark.sql.execution.ui
                    .SparkListenerSQLExecutionStart =>
                  graftFrame(x.details).foreach(execSite.put(x.executionId, _))
                case _ => ()
              }
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              jobs += 1
              // a job outside any SQL execution falls back to its
              // stages' RDD creation-site stack
              val site = Option(j.properties)
                .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
                .flatMap(id => Option(execSite.get(id.toLong)))
                .orElse(graftFrame(j.stageInfos.map(_.details).mkString("\n")))
                .getOrElse(j.stageInfos.headOption
                  .map(_.name.take(60)).getOrElse("?"))
              started.put(j.jobId, (System.nanoTime(), site))
            }
            override def onJobEnd(
                j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              val st = started.remove(j.jobId)
              if (st != null) {
                val ms = (System.nanoTime() - st._1) / 1000000
                siteWall.merge(st._2, (ms, 1),
                  (a, b) => (a._1 + b._1, a._2 + b._2))
              }
            }
          })
        def phase[A](name: String)(f: => A): A = {
          Thread.sleep(200); val j0 = jobs; val t0 = System.nanoTime()
          val r = f
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200)
          println(f"MVPHASE $name%-28s ${wall}%8.3f s  jobs=${jobs - j0}")
          r
        }
        val base = Fs.freshScratch("probe_mvb", "t")
        val mv = Fs.freshScratch("probe_mvb", "v")
        val k = col("o_orderkey")
        val d12 = org.apache.spark.sql.types.DecimalType(12, 2)
        val sel = spark.read.parquet(s"$d/orders.parquet")
          .select(k, col("o_orderstatus"),
            col("o_totalprice").cast(d12).as("price"))
        phase("create_base") {
          TxnTable.commit(spark, base, TxnTable.stageIndexed(spark, base,
            sel.repartitionByRange(8, k).sortWithinPartitions(k),
            "o_orderkey"),
            expected = -1L, op = "create", schemaJson = sel.schema.json)
        }
        phase("mv_create") {
          MatView.create(spark, mv, base, "o_orderstatus", "price")
        }
        def changes(m: Int) = sel.filter(pmod(k, lit(97)) === m)
          .select(k, col("o_orderstatus"),
            (col("price") + lit(m).cast(d12)).cast(d12).as("price"),
            lit("U").as("op"))
        (1 to 3).foreach { i =>
          phase(s"applyChangesMor_$i") {
            TxnTable.applyChangesMor(spark, base, changes(i), "o_orderkey",
              cdc = true)
          }
          phase(s"refresh_$i") { MatView.refresh(spark, mv) }
        }
        phase("serve_read") {
          TxnTable.snapshot(spark, mv).collect()
        }
        phase("direct_agg") {
          TxnTable.snapshot(spark, base).groupBy(col("o_orderstatus"))
            .agg(count(lit(1)), sum(col("price"))).collect()
        }
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        siteWall.asScala.toSeq.sortBy(-_._2._1).take(40).foreach {
          case (site, (ms, n)) =>
            println(f"MVSITE ${ms / 1e3}%8.3f s  n=$n%-4d $site")
        }
      case "commitbench" =>
        // microbenchmark of the txn commit path: N small indexed appends,
        // timed and counted in Spark jobs per commit
        import graft.operators.TxnTable
        val t = Fs.scratch("probe_commitbench", "t")
        Fs.deleteRecursively(t)
        val base = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
        TxnTable.create(spark, t, base)
        TxnTable.reindex(spark, t, Seq("k"))
        def batch(i: Int) = spark.range(100).selectExpr(
          s"id + ${i * 1000} AS k", "id AS v")
        // warm
        TxnTable.append(spark, t, batch(1))
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        (2 to 21).foreach(i => TxnTable.append(spark, t, batch(i)))
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        println(f"COMMITBENCH 20 indexed appends: $sec%.3f s " +
          f"(${sec / 20}%.4f s/commit, ${jobs.get / 20.0}%.2f jobs/commit)")
      case "prof" =>
        // poor man's driver profiler: sample the main thread's stack while
        // the query runs, print the hottest frames (guide §7.3 in-process)
        val name = args.drop(2).headOption.getOrElse(
          sys.error("usage: Probe <datadir> prof <queryName>"))
        val fn = SparkEntry.queries(name)
        fn(spark, d).count() // warm
        val main = Thread.currentThread()
        val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
        @volatile var running = 0
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              running += 1
            override def onJobEnd(
                j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
              running -= 1
          })
        @volatile var sampling = true
        val sampler = new Thread(() => {
          while (sampling) {
            val st = main.getStackTrace
            if (st.nonEmpty) {
              val inJob = running > 0
              // two attributions per sample: the deepest non-JDK frame
              // (what code is hot) and the first graft.* frame (which
              // engine phase is on-stack), split by job-running state
              val deep = st.find { e =>
                val c = e.getClassName
                !c.startsWith("java.") && !c.startsWith("jdk.") &&
                !c.startsWith("scala.") && !c.startsWith("sun.")
              }.map(e => e.getClassName + "." + e.getMethodName)
                .getOrElse(st.head.getClassName + "." + st.head.getMethodName)
              val graftF = st.find(_.getClassName.startsWith("graft."))
                .map(e => e.getClassName + "." + e.getMethodName + ":" + e.getLineNumber)
                .getOrElse("(no graft frame)")
              val tag = if (inJob) "JOB " else "GAP "
              counts.merge(tag + "deep  " + deep, 1, Integer.sum)
              counts.merge(tag + "graft " + graftF, 1, Integer.sum)
            }
            Thread.sleep(20)
          }
        })
        sampler.setDaemon(true); sampler.start()
        val t0 = System.nanoTime()
        fn(spark, d).count()
        val wall = (System.nanoTime() - t0) / 1e9
        sampling = false; sampler.join(1000)
        import scala.jdk.CollectionConverters._
        println(f"PROF $name wall=$wall%.3f s samples=${counts.asScala.values.sum}")
        counts.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (f, n) =>
          println(f"PROFFRAME $n%5d  $f")
        }
      case "mhscale" =>
        // dd_minhash_lsh at a synthetic Nx corpus (doc_ids shifted per
        // copy, text perturbed by a copy tag so copies don't all collapse
        // into one LSH bucket): does the r20 38->12 Exchange reduction
        // pay once data volume grows past the fixed-cost floor?
        val n = args.drop(2).headOption.map(_.toInt).getOrElse(8)
        val base = Tables.documents(spark, d).select("doc_id", "text")
        val shift = 10000000L
        val big = (0 until n).map(i =>
          base.select((col("doc_id") + i * shift).as("doc_id"),
            concat(col("text"), lit(s" copytag$i")).as("text")))
          .reduce(_ unionByName _)
          .localCheckpoint(true)
        def run(): Double = {
          val t0 = System.nanoTime()
          operators.Dedup.minhashLshDocs(big)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        run() // warm
        println(f"MHSCALE n=$n docs=${big.count()} a=${run()}%.3f s b=${run()}%.3f s")
      case "mhstages" =>
        // stage isolation for dd_minhash_lsh (guide §1.4: noop sink so the
        // computation is timed, not the sink; warm pass off the clock)
        import org.apache.spark.sql.DataFrame
        def time(name: String, mk: () => DataFrame): Unit = {
          def run(): Double = {
            val t0 = System.nanoTime()
            mk().write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          run() // warm
          val a = run(); val b = run()
          println(f"MHSTAGE $name%-16s $a%7.3f s  $b%7.3f s")
        }
        val docs = Tables.documents(spark, d)
        val sig = () => docs.select(col("doc_id"),
          graft.functions.MinHashSignature(col("text")).as("sig"))
          .filter(col("sig").isNotNull)
        time("signatures", sig)
        time("shinglehash", () => docs.select(col("doc_id"),
          graft.functions.ShingleHashes(col("text")).as("hs")))
        val bands = () => {
          val numBands = operators.Dedup.NumBands
          val bandStructs = array((0 until numBands).map { bnd =>
            val cols = (0 until 4).map(r => element_at(col("sig"), bnd * 4 + r + 1))
            struct(lit(bnd).as("band"), struct(cols: _*).as("key"))
          }: _*)
          sig().select(col("doc_id"), explode(bandStructs).as("bk"))
            .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
        }
        time("cands", () => operators.Dedup.bucketPairs(bands()))
        time("full", () => operators.Dedup.minhashLshDocs(docs))
      case "q30" =>
        Tables.events(spark, d)
          .groupBy(col("event_type"))
          .agg(
            percentile(col("value"), lit(0.5)).as("exact_p50"),
            percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_p50"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
          .show(20, false)
      case "decin" =>
        import graft.sources.GraftCatalog
        import graft.operators.MatView
        GraftCatalog.register(spark)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvspec")
        spark.sql("DROP TABLE IF EXISTS graft.mvspec.dkp")
        spark.sql("CREATE TABLE graft.mvspec.dkp (k BIGINT, p DECIMAL(12,2), v BIGINT)")
        spark.sql("INSERT INTO graft.mvspec.dkp SELECT id, CAST((id % 32) * 10 + 0.75 AS DECIMAL(12,2)), id FROM RANGE(320)")
        val loc = s"${GraftCatalog.defaultWarehouse}/mvspec/dkp"
        val mv = Fs.scratch("probe_decin", "mv")
        Fs.deleteRecursively(mv)
        MatView.create(spark, mv, loc, Seq("p"), "v")
        MatView.register(spark, mv)
        val q = spark.sql("SELECT p, COUNT(*) AS n FROM graft.mvspec.dkp WHERE p IN (0.75, 10.75) GROUP BY p")
        println("=== analyzed ===")
        println(q.queryExecution.analyzed.treeString)
        println("=== optimized ===")
        println(q.queryExecution.optimizedPlan.treeString)
      case "q" =>
        val name = args.drop(2).headOption.getOrElse(
          sys.error("usage: Probe <datadir> q <queryName>"))
        val df = SparkEntry.queries(name)(spark, d)
        df.show(5, false)
        println("rows=" + df.count())
      case "recall" =>
        import spark.implicits._
        val brute = operators.Similarity.knnBrute(spark, d)
          .select("q_id", "n_id").as[(Long, Long)].collect().groupBy(_._1)
          .map { case (q, a) => q -> a.map(_._2).toSet }
        for ((name, df) <- Seq(
            "lsh" -> operators.Similarity.annLsh(spark, d),
            "ivf" -> operators.Similarity.annIvf(spark, d),
            "pq"  -> operators.Similarity.annPq(spark, d))) {
          val ann = df.select("q_id", "n_id").as[(Long, Long)].collect()
            .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
          val hits = brute.keys.toSeq.sorted.map(q =>
            q -> ann.getOrElse(q, Set.empty).intersect(brute(q)).size)
          println(s"RECALL $name: ${hits.mkString(" ")} total=${hits.map(_._2).sum}/${brute.values.map(_.size).sum}")
        }
      case "buckets" =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        Seq("li_b2", "ord_b2").foreach { t =>
          spark.sql(s"DROP TABLE IF EXISTS $t")
          graft.Fs.deleteRecursively(s"$wh/$t")
        }
        Tables.lineitem(spark, d).select("l_orderkey", "l_quantity")
          .repartition(4, col("l_orderkey"))
          .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b2")
        Tables.orders(spark, d).select("o_orderkey", "o_totalprice")
          .repartition(4, col("o_orderkey"))
          .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b2")
        val j = spark.table("li_b2").join(spark.table("ord_b2"),
          col("l_orderkey") === col("o_orderkey"))
        println(j.queryExecution.executedPlan.toString)
      case "ivfcover" =>
        import spark.implicits._
        val brute = operators.Dedup.embedCosine(spark, d)
          .as[(Long, Long)].collect().toSet
        val probed = operators.Similarity.probedCells(spark, d)
        val cands = probed.select(col("c_id"), col("vec_id").as("v1"))
          .join(probed.select(col("c_id"), col("vec_id").as("v2")), Seq("c_id"))
          .filter(col("v1") < col("v2"))
          .select("v1", "v2").distinct()
          .as[(Long, Long)].collect().toSet
        val missed = brute -- cands
        println(s"IVFCOVER true=${brute.size} cands=${cands.size} missed=${missed.size} $missed")
      case "embedcover" =>
        import spark.implicits._
        val e = Tables.embeddings(spark, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val brute = operators.Dedup.embedCosine(spark, d)
          .as[(Long, Long)].collect().toSet
        val tb = operators.Similarity.lshTables(e)
        val cands = tb.select(col("t"), col("bucket"), col("vec_id").as("v1"))
          .join(tb.select(col("t"), col("bucket"), col("vec_id").as("v2")),
            Seq("t", "bucket"))
          .filter(col("v1") < col("v2"))
          .select("v1", "v2").distinct()
          .as[(Long, Long)].collect().toSet
        val missed = brute -- cands
        println(s"EMBEDCOVER true=${brute.size} cands=${cands.size} missed=${missed.size} $missed")
      case "gsets" =>
        // resolved-plan shape of grouping-set aggregates (what the MV
        // rewrite's tryGroupingSets must pattern-match)
        spark.range(20).selectExpr("id AS k",
          "CASE WHEN id % 3 = 0 THEN 'A' ELSE 'B' END AS g",
          "id % 4 AS h", "CAST(id AS DECIMAL(12,2)) AS v")
          .createOrReplaceTempView("gt")
        for (q <- Seq(
          "SELECT g, h, COUNT(*) AS n, SUM(v) AS t FROM gt GROUP BY ROLLUP(g, h)",
          "SELECT g, h, COUNT(*) AS n FROM gt WHERE g = 'A' GROUP BY CUBE(g, h)",
          "SELECT g, grouping(g) AS gg, grouping_id() AS gid, COUNT(*) FROM gt GROUP BY GROUPING SETS ((g), ())")) {
          println(s"=== $q")
          val an = spark.sql(q).queryExecution.analyzed
          println(an.treeString)
        }
      case other if SparkEntry.queries.contains(other) =>
        // run any registered query by name and surface its *_ok flags
        val df = SparkEntry.queries(other)(spark, d)
        val okCols = df.schema.fieldNames.filter(_.endsWith("_ok"))
        println(s"ROWS=${df.count()}")
        if (okCols.nonEmpty)
          df.select(okCols.map(col): _*).distinct().show(5, false)
        else df.show(5, false)
      case other => println(s"unknown probe: $other")
    }
    spark.stop()
  }
}
