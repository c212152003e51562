package graft

import graft.operators.{DriverRows, MatView, TxnTable}
import org.apache.spark.SpecBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-sized change sets: one guard lets a fold refresh and a CDC
  * upsert work from local rows. Both paths must publish the same
  * content and feeds; the local one must stay inside its job budget;
  * and above the guard the change set must never be force-broadcast. */
class ChangeSetSpec extends SparkSpec {

  private def fresh(name: String): String = {
    val dir = Fs.scratch("graft_changeset", name)
    Fs.deleteRecursively(dir)
    dir
  }

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def dec(v: Long, scale: Int = 2) =
    java.math.BigDecimal.valueOf(v, scale)

  private val orders = StructType(Seq(StructField("k", LongType),
    StructField("st", StringType), StructField("pri", StringType),
    StructField("price", DecimalType(12, 2))))

  /** An orders-like base indexed on `k`: `n` rows, 3 statuses × 5
    * priorities; keys in `nullPri` carry a NULL priority. */
  private def mkOrders(t: String, n: Int, nullPri: Set[Long] = Set.empty)
      : Unit = {
    val df = frame(orders, (0 until n).map { i =>
      Row(i.toLong, Seq("F", "O", "P")(i % 3),
        if (nullPri(i.toLong)) null else s"${i % 5}-P", dec(i * 7919L % 100000))
    })
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      df.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      "k"), expected = -1L, op = "create", schemaJson = df.schema.json,
      idxCols = Seq("k"))
  }

  /** An upsert batch like the benchmark's: over keys [lo, lo + span),
    * about half updated, a seventh deleted, plus `fresh` new keys. */
  private def batch(seed: Int, lo: Long, span: Int, fresh: Seq[Long],
      deletesOnly: Boolean = false): DataFrame = {
    val rng = new scala.util.Random(seed)
    val old = (lo until lo + span).flatMap { k =>
      val x = rng.nextDouble()
      if (x < 0.15 || (deletesOnly && x < 0.5))
        Some(Row(k, "F", "0-P", dec(1), "D"))
      else if (x < 0.65 && !deletesOnly) Some(Row(k, Seq("F", "O", "P")(
        rng.nextInt(3)), s"${rng.nextInt(5)}-P", dec(rng.nextInt(900000)), "U"))
      else None
    }
    val ins = if (deletesOnly) Nil else fresh.map(k => Row(k, "O", "1-P",
      dec(rng.nextInt(900000)), "U"))
    frame(orders.add("op", StringType), old ++ ins)
  }

  test("a fold refresh of one CDC upsert runs at most 8 Spark jobs") {
    val (t, mv) = (fresh("jobs_refresh_base"), fresh("jobs_refresh_mv"))
    mkOrders(t, 3000)
    MatView.create(spark, mv, t, Seq("st", "pri"), "price")
    TxnTable.applyChangesMor(spark, t, batch(1, 100, 300, 5000L until 5020L),
      "k", cdc = true)
    val jobs = SpecBus.jobsDuring(spark.sparkContext) {
      assert(MatView.refresh(spark, mv).commitsFolded === 1)
    }
    assert(jobs <= 8, s"the refresh ran $jobs Spark jobs")
  }

  test("a CDC applyChangesMor of a driver-sized batch runs at most 6 Spark jobs") {
    val t = fresh("jobs_upsert")
    mkOrders(t, 3000)
    // one earlier upsert leaves a pending tombstone the pre-image read
    // applies, as between the benchmark's compactions
    TxnTable.applyChangesMor(spark, t, batch(2, 0, 300, 5000L until 5020L),
      "k", cdc = true)
    val b = batch(3, 1000, 300, 6000L until 6020L)
    val jobs = SpecBus.jobsDuring(spark.sparkContext) {
      TxnTable.applyChangesMor(spark, t, b, "k", cdc = true)
    }
    assert(jobs <= 6, s"the upsert ran $jobs Spark jobs")
  }

  test("a refresh feed frame is built with no Spark job") {
    val (t, mv) = (fresh("feed_schema_base"), fresh("feed_schema_mv"))
    mkOrders(t, 500)
    MatView.create(spark, mv, t, Seq("st"), "price")
    TxnTable.applyChangesMor(spark, t, batch(4, 0, 100, Seq(900L)), "k",
      cdc = true)
    val v = TxnTable.currentVersion(spark, t)
    val refs = MatView.feedRefs(spark, t, v - 1, v)
    var feed: DataFrame = null
    val jobs = SpecBus.jobsDuring(spark.sparkContext) {
      feed = MatView.predFeed(spark, t, v, refs, Some("price > 10"))
    }
    assert(jobs === 0, s"building the feed frame ran $jobs Spark jobs")
    assert(feed.schema.fieldNames.toSeq === orders.fieldNames.toSeq :+ "w")
    assert(feed.count() > 0)
  }

  /** Every executed plan's broadcast hash joins, through adaptive plans,
    * query stages and subqueries. */
  private def broadcastJoins(p: SparkPlan): Seq[BroadcastHashJoinExec] =
    p match {
      case a: AdaptiveSparkPlanExec => broadcastJoins(a.executedPlan)
      case q: QueryStageExec => broadcastJoins(q.plan)
      case j: BroadcastHashJoinExec => j +: j.children.flatMap(broadcastJoins)
      case other => (other.children ++ other.subqueries).flatMap(broadcastJoins)
    }

  test("a change set above the guard is never force-broadcast") {
    val n = DriverRows.Cap + 1
    val (t, mv) = (fresh("big_cow"), fresh("big_mv"))
    val s = spark
    import s.implicits._
    val base = spark.range(0, n + 500).select(col("id").as("k"),
      (col("id") % 7).cast("string").as("g"),
      (col("id") % 1000).cast(DecimalType(12, 2)).as("v"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      base.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      "k"), expected = -1L, op = "create", schemaJson = base.schema.json,
      idxCols = Seq("k"))
    MatView.create(spark, mv, t, Seq("k"), "v")
    // every one of n rows changes value: a CDC upsert, then a delta of n
    // groups for the refresh
    TxnTable.applyChangesMor(spark, t, base.filter(col("k") < n)
      .withColumn("v", (col("v") + lit(1)).cast(DecimalType(12, 2)))
      .withColumn("op", lit("U")), "k", cdc = true)
    // no pending tombstone: its (size-guarded) broadcast is not the
    // change set's
    TxnTable.compact(spark, t)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = confs.map(c => c -> spark.conf.getOption(c))
    // only a forced hint can broadcast now
    confs.foreach(spark.conf.set(_, "-1"))
    spark.listenerManager.register(listener)
    try {
      assert(MatView.refresh(spark, mv).commitsFolded === 2)
      TxnTable.applyChanges(spark, t, base.filter(col("k") >= 500)
        .withColumn("op", lit("U")), "k")
      SpecBus.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      saved.foreach { case (c, v) =>
        v.fold(spark.conf.unset(c))(spark.conf.set(c, _)) }
    }
    import scala.jdk.CollectionConverters._
    val forced = plans.asScala.toSeq.flatMap(broadcastJoins)
    assert(plans.size > 0)
    assert(forced.isEmpty, s"${forced.size} broadcast hash joins planned " +
      s"over a change set of $n rows: ${forced.map(_.simpleString(3))}")
    val m = TxnTable.snapshot(spark, mv).filter(col("k") === 3L)
      .select("total").as[java.math.BigDecimal].collect().toSeq
    assert(m === Seq(dec(400)))
  }

  // ---- parity of the local and the planned path ----------------------------

  /** Rows rendered column-name-sorted, as a sorted multiset. */
  private def bag(df: DataFrame): Seq[String] = {
    val names = df.columns.toSeq
    df.collect().toSeq.map(r => names.zipWithIndex.sortBy(_._1)
      .map { case (c, i) => s"$c=${r.get(i)}" }.mkString(",")).sorted
  }

  /** Per version of `t`: its snapshot rows and its published feed rows;
    * and every entry new at that version must render the line a re-read
    * of its files renders. */
  private def trace(t: String): Seq[(Long, Seq[String], Seq[String])] =
    TxnTable.versions(spark, t).map { v =>
      val m = TxnTable.manifest(spark, t, v)
      if (v > 0) {
        val prev = TxnTable.manifest(spark, t, v - 1).entries.map(_.path).toSet
        m.entries.filterNot(e => prev(e.path))
          .groupBy(_.path.split('/').dropRight(1).mkString("/"))
          .values.foreach { es =>
            // an unindexed table's lines are bare paths
            val want =
              if (m.idxCols.isEmpty && m.strIdxCols.isEmpty) es.map(_.path)
              else StagedStats.rereadLines(spark, t, es.map(_.path),
                m.idxCols, m.strIdxCols)
            assert(es.map(TxnTable.renderFresh) === want,
              s"$t v$v: a new line differs from the re-read")
          }
      }
      val feed =
        if (m.cdcRefs.isEmpty) Nil
        else bag(spark.read.parquet(m.cdcRefs.map(TxnTable.pathFor(t, _)): _*))
      (v, bag(TxnTable.snapshot(spark, t, v)), feed)
    }

  /** "ok", or the error a step raised: its innermost cause carrying an
    * error condition, else the error itself — class and first message
    * line, with the run's `tag` cut from the table paths it names. */
  private def outcome(tag: String)(f: => Any): String =
    try { f; "ok" }
    catch { case e: Exception =>
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      val c = chain.reverse.find(_.isInstanceOf[org.apache.spark.SparkThrowable])
        .getOrElse(e)
      s"${c.getClass.getSimpleName}: ${Option(c.getMessage)
        .map(_.linesIterator.next()).orNull}".replace(s"$tag-", "")
    }

  /** One run of every parity scenario under `tag`; the traces of all its
    * tables and the outcome of every step. */
  private def parityRun(tag: String): Seq[(String, Any)] = {
    val out = Seq.newBuilder[(String, Any)]
    val outcome = this.outcome(tag) _
    def name(t: String) = t.split('/').last.stripPrefix(s"$tag-")
    // long-keyed orders: a composite string-keyed view, a long-keyed one
    val (b, mvC, mvK) = (fresh(s"$tag-b"), fresh(s"$tag-mvc"),
      fresh(s"$tag-mvk"))
    mkOrders(b, 400, nullPri = (390L until 400L).toSet)
    MatView.create(spark, mvC, b, Seq("st", "pri"), "price")
    MatView.create(spark, mvK, b, Seq("k"), "price")
    def refreshAll(step: String): Unit = Seq(mvC, mvK).foreach { mv =>
      out += s"$step:${name(mv)}" ->
        outcome(MatView.refresh(spark, mv))
    }
    def upsert(step: String, df: DataFrame): Unit =
      out += step -> outcome(TxnTable.applyChangesMor(spark, b, df, "k",
        cdc = true))
    upsert("u1", batch(11, 0, 120, 1000L until 1010L))
    refreshAll("r1")
    upsert("u2", batch(12, 60, 120, 1010L until 1015L))
    // collapse the pending tombstones into one bounded (~L) file; the
    // next upsert's pre-image read applies it
    TxnTable.rewriteTombstones(spark, b)
    out += "bounded" -> TxnTable.manifest(spark, b,
      TxnTable.currentVersion(spark, b)).deletes.map(_._2)
    upsert("u3", batch(13, 100, 150, 1015L until 1020L))
    refreshAll("r2")
    upsert("u4", batch(14, 200, 100, Nil, deletesOnly = true))
    refreshAll("r3")
    out += "u4:deletes-only" -> TxnTable.manifest(spark, b,
      TxnTable.currentVersion(spark, b)).metrics.get("appended")
    // touching a NULL-priority group: the composite view refuses
    upsert("u5", frame(orders.add("op", StringType),
      Seq(Row(395L, "F", null, dec(5000), "U"))))
    refreshAll("r4")
    Seq(b, mvC, mvK).foreach(t => out += name(t) -> trace(t))

    // string keys, a NULL-keyed insert
    val (sT, sMv) = (fresh(s"$tag-s"), fresh(s"$tag-smv"))
    val users = StructType(Seq(StructField("uid", StringType),
      StructField("g", StringType), StructField("amt", DecimalType(12, 2))))
    val uRows = (0 until 200).map(i =>
      Row(f"u$i%05d-é", s"g${i % 4}", dec(i * 31L % 7000)))
    val u = frame(users, uRows)
    TxnTable.commit(spark, sT, TxnTable.stageIndexed(spark, sT,
      u.repartitionByRange(3, col("uid")).sortWithinPartitions(col("uid")),
      Nil, Seq("uid")), expected = -1L, op = "create",
      schemaJson = u.schema.json, strIdxCols = Seq("uid"))
    MatView.create(spark, sMv, sT, Seq("g"), "amt")
    val uCh = frame(users.add("op", StringType),
      uRows.take(40).zipWithIndex.map { case (r, i) =>
        Row(r.get(0), r.get(1), dec(i * 3L), if (i % 5 == 0) "D" else "U")
      } ++ Seq(Row(null, "g9", dec(77), "U"), Row("u99999-z", "g9", dec(1), "U"),
        Row("u00100-é", "g1", uRows(100).get(2), "U")))
    out += "s1" -> outcome(TxnTable.applyChangesMor(spark, sT, uCh, "uid",
      cdc = true))
    out += "s1r" -> outcome(MatView.refresh(spark, sMv))
    Seq(sT, sMv).foreach(t => out += name(t) -> trace(t))

    // a view keyed on a DATE carries no key stats, so its files have no
    // recorded size: a measured delta still merges planned (broadcast)
    val (dT, dMv) = (fresh(s"$tag-d"), fresh(s"$tag-dmv"))
    val days = StructType(Seq(StructField("k", LongType),
      StructField("day", DateType), StructField("amt", DecimalType(12, 2))))
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1,
      1).plusDays(i % 9))
    val dDf = frame(days, (0 until 90).map(i => Row(i.toLong, day(i),
      dec(i * 11L))))
    TxnTable.commit(spark, dT, TxnTable.stageIndexed(spark, dT, dDf, "k"),
      expected = -1L, op = "create", schemaJson = dDf.schema.json,
      idxCols = Seq("k"))
    MatView.create(spark, dMv, dT, Seq("day"), "amt")
    out += "d1" -> outcome(TxnTable.applyChangesMor(spark, dT,
      frame(days.add("op", StringType), (0 until 30).map(i =>
        Row(i.toLong * 3, day(i + 4), dec(i), if (i % 4 == 0) "D" else "U"))),
      "k", cdc = true))
    out += "d1r" -> outcome(MatView.refresh(spark, dMv))
    Seq(dT, dMv).foreach(t => out += name(t) -> trace(t))

    // a DECIMAL(18,2) total at its bound: the next fold overflows
    val (o, oMv) = (fresh(s"$tag-o"), fresh(s"$tag-omv"))
    val big = StructType(Seq(StructField("k", LongType),
      StructField("g", StringType), StructField("v", DecimalType(18, 2))))
    val oDf = frame(big, Seq(Row(1L, "x", dec(999999999999999999L)),
      Row(2L, "y", dec(5))))
    TxnTable.commit(spark, o, TxnTable.stageIndexed(spark, o, oDf, "k"),
      expected = -1L, op = "create", schemaJson = oDf.schema.json,
      idxCols = Seq("k"))
    MatView.create(spark, oMv, o, Seq("g"), "v")
    out += "o1" -> outcome(TxnTable.applyChangesMor(spark, o,
      frame(big.add("op", StringType), Seq(Row(3L, "x", dec(100), "U"))),
      "k", cdc = true))
    out += "o1r" -> outcome(MatView.refresh(spark, oMv))
    Seq(o, oMv).foreach(t => out += name(t) -> trace(t))
    out.result()
  }

  test("the local and the planned change-set paths publish the same " +
      "rows, feeds and manifest lines") {
    val local = parityRun("local")
    val planned = DriverRows.distributedOnly.withValue(true) {
      parityRun("planned")
    }
    assert(local.map(_._1) === planned.map(_._1))
    local.zip(planned).foreach { case ((step, a), (_, b)) =>
      assert(a === b, s"step $step differs between the paths")
    }
    val steps = local.toMap
    assert(steps("bounded") === Seq("k~L"))
    assert(steps("r4:mvc").toString.contains("NULL grouping-key"),
      steps("r4:mvc"))
    assert(steps("r4:mvk") === "ok")
    assert(steps("u4:deletes-only") === Some(0L))
    assert(steps("o1r").toString.contains("NUMERIC_VALUE_OUT_OF_RANGE"),
      steps("o1r"))
    assert(steps("d1r") === "ok")
    assert(local.count(_._2 == "ok") >= 10)
  }
}
