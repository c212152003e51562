package graft

import graft.operators.TxnTable
import org.apache.spark.SpecBus
import org.apache.spark.sql.functions._

/** The transaction-log contract (TxnTable): manifest-resolved reads,
  * snapshot isolation, optimistic-concurrency commits, crash tolerance,
  * and retention. */
class TxnSpec extends SparkSpec {

  private def freshTable(name: String): String = {
    val dir = Fs.scratch("graft_txnspec", name)
    Fs.deleteRecursively(dir)
    dir
  }

  private def baseDf(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"row$i")).toDF("k", "v")
  }

  test("snapshot is manifest-resolved, never a directory listing") {
    val t = freshTable("manifest_resolved")
    TxnTable.create(spark, t, baseDf(100).repartition(4))
    // an ORPHAN parquet file lands in the data dir (a crashed writer's
    // staging, a stray upload): a directory-scan reader would count it
    baseDf(50).write.parquet(s"$t/data/orphan-not-committed")
    val snap = TxnTable.snapshot(spark, t)
    assert(snap.count() === 100,
      "snapshot read rows from files no manifest references")
    val manifest = TxnTable.liveFiles(spark, t, 0).map(rel => s"$t/$rel").toSet
    val scanned = snap.inputFiles.map(_.replaceFirst("^file:/+", "/")).toSet
    assert(scanned == manifest,
      s"scan files != manifest files: ${scanned.diff(manifest).take(3)}")
  }

  test("pinned snapshot survives an overwrite commit (isolation)") {
    val t = freshTable("isolation")
    TxnTable.create(spark, t, baseDf(100))
    val pinned = TxnTable.snapshot(spark, t, 0) // resolved now
    TxnTable.overwrite(spark, t, baseDf(7))     // copy-on-write replace
    assert(pinned.count() === 100, "pinned reader saw the new version")
    assert(TxnTable.snapshot(spark, t).count() === 7)
    assert(TxnTable.versions(spark, t) === Seq(0L, 1L))
  }

  test("conflicting commit throws instead of clobbering") {
    val t = freshTable("conflict")
    TxnTable.create(spark, t, baseDf(10))
    val files = TxnTable.liveFiles(spark, t, 0)
    TxnTable.commit(spark, t, files, expected = 0L) // someone else lands v1
    intercept[java.util.ConcurrentModificationException] {
      TxnTable.commit(spark, t, files, expected = 0L) // stale writer loses
    }
    assert(TxnTable.currentVersion(spark, t) === 1L)
  }

  test("a crashed writer's temp manifest is invisible to readers") {
    val t = freshTable("crashed_writer")
    TxnTable.create(spark, t, baseDf(10))
    // every log-file kind published once: each stages in _log/, which
    // is where a crashed publish leaves its debris
    TxnTable.tag(spark, t, "t0", 0L)
    TxnTable.branch(spark, t, "b0")
    TxnTable.checkpoint(spark, t)
    val log = new java.io.File(s"$t/_log")
    def debris(d: java.io.File): Seq[String] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) debris(f)
        else Seq(f.getName).filter(_.contains(".tmp-")))
    assert(debris(log).isEmpty, s"a publish left staged files: ${debris(log)}")
    val history = TxnTable.history(spark, t)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_log/.tmp-crashed"),
      "data/bogus/file.parquet\n".getBytes)
    assert(TxnTable.versions(spark, t) === Seq(0L))
    assert(TxnTable.snapshot(spark, t).count() === 10)
    assert(TxnTable.tags(spark, t) === Seq("t0" -> 0L))
    assert(TxnTable.branches(spark, t) === Seq("b0" -> 0L))
    assert(TxnTable.history(spark, t) === history)
    TxnTable.vacuum(spark, t)
    assert(!new java.io.File(s"$t/_log/.tmp-crashed").exists(),
      "vacuum left a crashed publish's staged file")
    assert(TxnTable.tags(spark, t) === Seq("t0" -> 0L))
  }

  test("LogFile.publish: two processes racing for 500 names get one winner each") {
    val dir = freshTable("publish_race")
    new java.io.File(s"$dir/_log").mkdirs()
    val n = 500
    val child = new ProcessBuilder(
      s"${System.getProperty("java.home")}/bin/java", "-Xmx128m",
      "-cp", System.getProperty("java.class.path"),
      "graft.PublishRace", dir, "child", n.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(child.getInputStream))
    val lines = Iterator.continually(out.readLine()).takeWhile(_ != null)
    assert(lines.find(_ == "ready").nonEmpty, "the racing process never started")
    val local = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    PublishRace.warmUp(local, dir, "parent")
    // both sides start on one wall-clock instant, a moment from now
    val t0 = PublishRace.micros() + 500000L
    child.getOutputStream.write(s"go $t0\n".getBytes)
    child.getOutputStream.flush()
    val mine = PublishRace.race(local, dir, "parent", n, t0).toSet
    val theirs = lines.find(_.startsWith("won ")).get.stripPrefix("won ")
      .split(',').filter(_.nonEmpty).map(_.toInt).toSet
    assert(child.waitFor() === 0)
    (0 until n).foreach { i =>
      val winner = (mine(i), theirs(i)) match {
        case (true, false) => "parent"
        case (false, true) => "child"
        case both => fail(s"d-$i: (parent won, child won) = $both")
      }
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/d-$i")), "UTF-8")
      assert(text === s"$winner-$i", s"d-$i holds another writer's bytes")
    }
    val left = Seq(dir, s"$dir/_log", s"$dir/warm-parent", s"$dir/warm-child")
      .flatMap(d => new java.io.File(d).list().toSeq)
    assert(!left.exists(_.endsWith(".crc")) && !left.exists(_.contains(".tmp-")),
      s"publish left staging debris: ${left.filter(_.contains("tmp")).take(3)}")
    info(s"parent won ${mine.size}, child won ${theirs.size} of $n")
  }

  test("compaction commits through the log and keeps old files for pinned readers") {
    val t = freshTable("compact")
    TxnTable.create(spark, t, baseDf(100).repartition(8))
    val v0Files = TxnTable.liveFiles(spark, t, 0)
    val pinned = TxnTable.snapshot(spark, t, 0)
    val v1 = TxnTable.compact(spark, t)
    assert(TxnTable.liveFiles(spark, t, v1).size < v0Files.size)
    assert(pinned.count() === 100)
    assert(TxnTable.snapshot(spark, t).count() === 100)
    // v0's files still on disk — pinned readers stay valid until vacuum
    assert(v0Files.forall(rel => new java.io.File(s"$t/$rel").exists()))
  }

  test("vacuum removes superseded files and fails old reads cleanly") {
    val t = freshTable("vacuum")
    TxnTable.create(spark, t, baseDf(100).repartition(8))
    val v0Files = TxnTable.liveFiles(spark, t, 0)
    val v1 = TxnTable.compact(spark, t)
    TxnTable.vacuum(spark, t, retain = 1)
    val v1Files = TxnTable.liveFiles(spark, t, v1).toSet
    assert(v0Files.filterNot(v1Files)
      .forall(rel => !new java.io.File(s"$t/$rel").exists()),
      "vacuum left superseded data files on disk")
    assert(TxnTable.snapshot(spark, t).count() === 100)
    intercept[IllegalArgumentException] {
      TxnTable.snapshot(spark, t, 0)
    }
  }

  test("racing append committers all land via optimistic retry, no lost updates") {
    val t = freshTable("race")
    TxnTable.create(spark, t, baseDf(10))
    // 4 concurrent writers each append a disjoint 10-row slice; every
    // commit CAS-es against the version it read, losers re-read and
    // retry — the classic optimistic-concurrency loop. No commit may
    // clobber another (lost update = missing rows at the end).
    val writers = (1 to 4).map { i =>
      new Thread(() => {
        val staged = TxnTable.stage(spark, t,
          baseDf(10).withColumn("k", col("k") + lit(i * 100L)))
        var done = false
        while (!done) {
          val cur = TxnTable.currentVersion(spark, t)
          val files = TxnTable.liveFiles(spark, t, cur) ++ staged
          try { TxnTable.commit(spark, t, files, cur); done = true }
          catch { case _: java.util.ConcurrentModificationException => () }
        }
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join())
    assert(TxnTable.versions(spark, t) === (0L to 4L))
    val s = spark
    import s.implicits._
    val keys = TxnTable.snapshot(spark, t).select("k").as[Long].collect().toSet
    val expected = (0L until 10L).toSet ++
      (1 to 4).flatMap(i => (0L until 10L).map(_ + i * 100L))
    assert(keys === expected, "a racing commit lost another writer's rows")
  }

  test("append with a drifted schema fails at commit time, not at read time") {
    val t = freshTable("schema_guard")
    TxnTable.create(spark, t, baseDf(10))
    intercept[IllegalArgumentException] {
      TxnTable.append(spark, t,
        baseDf(5).withColumn("extra", col("k") * 2))
    }
    // overwrite MAY evolve the schema — that's how a table changes shape
    TxnTable.overwrite(spark, t,
      baseDf(5).withColumn("extra", col("k") * 2))
    assert(TxnTable.snapshot(spark, t).columns.toSeq == Seq("k", "v", "extra"))
  }

  test("cdc diff plans one co-partitioned join, never a cartesian") {
    val t = freshTable("cdc_plan")
    TxnTable.create(spark, t, baseDf(100))
    TxnTable.overwrite(spark, t, baseDf(90))
    val a = TxnTable.snapshot(spark, t, 0).select(col("k").as("ak"))
    val b = TxnTable.snapshot(spark, t, 1).select(col("k").as("bk"))
    val p = a.join(b, col("ak") === col("bk"), "full_outer")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      p.take(800))
  }

  test("manifest stats prune files from metadata; pruned files never read") {
    val t = freshTable("skip")
    val s = spark
    import s.implicits._
    // keys 0..99 range-clustered into 4 files (~25-key spans)
    val df = baseDf(100).repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, df, "k"), -1L)
    val entries = TxnTable.liveEntries(spark, t, 0)
    assert(entries.forall(_.stats.nonEmpty), "stageIndexed left stats off")
    val (snap, scanned, total) =
      TxnTable.snapshotWhere(spark, t, col("k").between(10L, 20L))
    assert(scanned < total, s"no files pruned ($scanned of $total)")
    // correctness: pruned read == full filter
    assert(snap.select("k").as[Long].collect().toSet === (10L to 20L).toSet)
    // the scan's input files are exactly the kept manifest entries — a
    // file whose [min,max] misses the range is never listed or opened
    val kept = entries.filter(e =>
      e.statFor("k").exists { case (lo, hi) => hi >= 10L && lo <= 20L })
      .map(e => s"$t/${e.path}").toSet
    val scannedFiles = snap.inputFiles.map(_.replaceFirst("^file:/+", "/")).toSet
    assert(scannedFiles == kept,
      s"scan read outside the pruned manifest set: ${scannedFiles.diff(kept).take(3)}")
  }

  test("a range that prunes every file returns 0 rows, not a crash") {
    val t = freshTable("skip_all")
    val df = baseDf(100).repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, df, "k"), -1L)
    val (snap, scanned, total) =
      TxnTable.snapshotWhere(spark, t, col("k").between(500L, 600L))
    assert(scanned === 0 && total === 4)
    assert(snap.count() === 0)
  }

  test("appending to an indexed table stages WITH stats (index survives)") {
    val t = freshTable("skip_append")
    val df = baseDf(100).repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, df, "k"), -1L)
    val s = spark
    import s.implicits._
    TxnTable.append(spark, t,
      Seq((200L, "x"), (201L, "y")).toDF("k", "v"))
    val entries = TxnTable.liveEntries(spark, t, 1)
    assert(entries.forall(_.stats.exists(_.col == "k")),
      "append dropped the manifest index from new files")
    val (snap, scanned, total) =
      TxnTable.snapshotWhere(spark, t, col("k").between(200L, 300L))
    assert(scanned < total, "appended file stats did not prune")
    assert(snap.select("k").as[Long].collect().toSet === Set(200L, 201L))
  }

  test("multi-column stats prune on EVERY box dimension independently") {
    val t = freshTable("skip_2d")
    val s = spark
    import s.implicits._
    // 4 files, each a distinct (x-range, y-range) quadrant
    val df = (0 until 100).map { i =>
      (i.toLong % 2 * 100 + i, i.toLong / 50 * 100 + i)
    }.toDF("x", "y").repartitionByRange(4, col("x"), col("y"))
      .sortWithinPartitions(col("x"), col("y"))
    TxnTable.commit(spark, t,
      TxnTable.stageIndexed(spark, t, df, Seq("x", "y")), -1L)
    val entries = TxnTable.liveEntries(spark, t, 0)
    assert(entries.forall(e =>
      e.statFor("x").nonEmpty && e.statFor("y").nonEmpty))
    // a box narrow in x AND y must prune files that match x but miss y
    val (snap, scanned, total) =
      TxnTable.snapshotWhere(spark, t,
        col("x").between(0L, 49L) && col("y").between(0L, 49L))
    assert(scanned < total, s"2-D box did not prune ($scanned of $total)")
    val rows = snap.as[(Long, Long)].collect().toSet
    val expect = (0 until 100).map { i =>
      (i.toLong % 2 * 100 + i, i.toLong / 50 * 100 + i)
    }.filter { case (x, y) => x <= 49 && y <= 49 }.toSet
    assert(rows === expect)
  }

  test("compacting an indexed table re-indexes — skipping ability survives") {
    val t = freshTable("skip_compact")
    val s = spark
    import s.implicits._
    val df = baseDf(100).repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, df, "k"), -1L)
    val v1 = TxnTable.compact(spark, t)
    val entries = TxnTable.liveEntries(spark, t, v1)
    assert(entries.forall(_.stats.exists(_.col == "k")),
      "compaction dropped the manifest index")
    val (snap, _, _) = TxnTable.snapshotWhere(spark, t, col("k").between(10L, 20L))
    assert(snap.select("k").as[Long].collect().toSet === (10L to 20L).toSet)
    assert(TxnTable.snapshot(spark, t).count() === 100)
  }

  test("a multi-batch stream of merges commits one version per batch; " +
      "incremental fold over the signed feeds equals the final snapshot") {
    // what the registered queries can't show (a single parquet file
    // drains in ONE AvailableNow batch): MemoryStream drives THREE
    // micro-batches through a foreachBatch latest-wins merge committing
    // through the log, then the change feeds across all consecutive
    // version pairs are folded incrementally and compared to the final
    // table — the streaming + txn-log + CDC composition end to end
    val t = freshTable("stream_multi")
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    // checkpoint INSIDE the table dir so freshTable's wipe covers it —
    // a surviving checkpoint would make a re-run silently skip batches
    // (snapshot resolution never lists it: only manifest paths are read)
    val q = mem.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$t/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val hasV = TxnTable.versions(s, t).nonEmpty
        val prev = if (hasV) TxnTable.snapshot(s, t) else batch.limit(0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("src").desc)
        val merged = prev.withColumn("src", lit(0))
          .unionByName(batch.withColumn("src", lit(1)))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn", "src")
        if (hasV) TxnTable.overwrite(s, t, merged)
        else TxnTable.create(s, t, merged)
        ()
      }.start()
    try {
      mem.addData((1L, 10L), (2L, 20L), (3L, 30L)); q.processAllAvailable()
      mem.addData((2L, 21L), (4L, 40L));            q.processAllAvailable()
      mem.addData((1L, 12L), (5L, 50L));            q.processAllAvailable()
    } finally q.stop()
    val vs = TxnTable.versions(s, t)
    assert(vs === Seq(0L, 1L, 2L), "expected one committed version per batch")
    val fold = TxnTable.snapshot(s, t, 0).withColumn("w", lit(1))
      .select(col("k"), col("v"), col("w"))
      .unionByName(TxnTable.cdcSigned(s, t, 0, 1, "k").select("k", "v", "w"))
      .unionByName(TxnTable.cdcSigned(s, t, 1, 2, "k").select("k", "v", "w"))
      .groupBy("k").agg(sum(col("w") * col("v")).as("v"), sum(col("w")).as("n"))
      .filter(col("n") =!= 0)
      .select(col("k"), col("v")).as[(Long, Long)].collect().toSet
    val direct = TxnTable.snapshot(s, t).as[(Long, Long)].collect().toSet
    assert(fold === direct,
      s"incremental fold diverged from the final snapshot: $fold vs $direct")
    assert(direct === Set((1L, 12L), (2L, 21L), (3L, 30L), (4L, 40L), (5L, 50L)))
  }

  test("merge rewrites only key-intersecting files; untouched paths identical") {
    val t = freshTable("merge_pruned")
    val s = spark
    import s.implicits._
    // keys 0..99 range-clustered into 4 indexed files (~25-key spans)
    val df = baseDf(100).repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, df, "k"), -1L)
    val entriesBefore = TxnTable.liveEntries(spark, t, 0)
    // batch confined to keys 10..20 plus an insert at 200: only the file
    // covering [0,~25) intersects; the other three must carry over
    val batch = ((10L to 20L).map(i => (i, s"upd$i")) :+ (200L, "new"))
      .toDF("k", "v")
    val res = TxnTable.merge(spark, t, batch, "k")
    assert(res.touched === 1 && res.untouched === 3, res.toString)
    val pathsBefore = entriesBefore.map(_.path).toSet
    val entriesAfter = TxnTable.liveEntries(spark, t, res.version)
    val carried = entriesAfter.filter(e => pathsBefore.contains(e.path))
    assert(carried.size === 3, "untouched files were rewritten")
    // carried entries keep path AND stats verbatim
    assert(carried.toSet.subsetOf(entriesBefore.toSet))
    // content = latest-wins merge, exactly
    val got = TxnTable.snapshot(spark, t).as[(Long, String)].collect().toSet
    val expect = (0 until 100).map { i =>
      (i.toLong, if (i >= 10 && i <= 20) s"upd$i" else s"row$i")
    }.toSet + ((200L, "new"))
    assert(got === expect)
    // merged region re-staged WITH stats: the index survives the merge
    assert(entriesAfter.forall(_.stats.exists(_.col == "k")),
      "merge dropped the manifest index from rewritten files")
    // and a second merge into an untouched region still prunes
    val res2 = TxnTable.merge(spark, t,
      Seq((80L, "late")).toDF("k", "v"), "k")
    assert(res2.touched === 1, res2.toString)
  }

  test("a multi-batch stream of file-pruned merges rewrites only touched files") {
    // the st_stream_upsert sink shape driven batch-by-batch: create from
    // batch 1 (range-clustered + indexed), MERGE batches 2..3 — each
    // commit must prune (touched < total) because each batch hits one
    // key region of a 4-file table
    val t = freshTable("stream_merge")
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val results = scala.collection.mutable.ArrayBuffer.empty[TxnTable.MergeResult]
    val q = mem.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$t/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (TxnTable.versions(s, t).nonEmpty)
          results += TxnTable.merge(s, t, batch, "k")
        else TxnTable.commit(s, t, TxnTable.stageIndexed(s, t,
          batch.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
          "k"), -1L, op = "create")
        ()
      }.start()
    try {
      mem.addData((0L until 100L).map(i => (i, i * 10)): _*); q.processAllAvailable()
      mem.addData((10L, 111L), (12L, 222L)); q.processAllAvailable()
      mem.addData((90L, 999L), (200L, 1L));  q.processAllAvailable()
    } finally q.stop()
    // batch 2 touches file [0..24] of 4; batch 3 touches [75..99] of the
    // 4-entry manifest (3 originals + batch-2's rewrite), and its insert
    // at k=200 lands OUTSIDE every range — no extra file touched
    assert(results.map(r => (r.touched, r.untouched)) === Seq((1, 3), (1, 3)),
      s"merges did not prune: $results")
    val got = TxnTable.snapshot(s, t).as[(Long, Long)].collect().toSet
    val expect = (0L until 100L).map(i => (i, i * 10)).toMap ++
      Map(10L -> 111L, 12L -> 222L, 90L -> 999L, 200L -> 1L)
    assert(got === expect.toSet)
    assert(TxnTable.history(s, t).map(_._2) === Seq("create", "merge", "merge"))
  }

  test("schema evolution through the log: add-column costs metadata only") {
    val t = freshTable("evolve")
    val s = spark
    import s.implicits._
    TxnTable.create(spark, t, baseDf(10))
    val v0Files = TxnTable.liveFiles(spark, t, 0)
    val v1 = TxnTable.appendEvolve(spark, t,
      Seq((100L, "new", 7L), (101L, "new2", 8L)).toDF("k", "v", "extra"))
    // v0's files carried verbatim — zero data rewritten for the evolution
    assert(TxnTable.liveFiles(spark, t, v1).toSet
      .intersect(v0Files.toSet) === v0Files.toSet)
    // the evolved snapshot reads old rows' missing column as NULL
    val latest = TxnTable.snapshot(spark, t)
    assert(latest.columns.toSeq === Seq("k", "v", "extra"))
    assert(latest.filter(col("extra").isNull).count() === 10)
    assert(latest.filter(col("extra").isNotNull).count() === 2)
    // the PRE-evolution version still reads with the old schema
    assert(TxnTable.snapshot(spark, t, 0).columns.toSeq === Seq("k", "v"))
    // a drifted evolve (common columns changed) still fails
    intercept[IllegalArgumentException] {
      TxnTable.appendEvolve(spark, t,
        Seq((1, "x", 2L)).toDF("k", "v", "extra")) // k INT, not LONG
    }
    // evolution composes with the rest of the write path: a plain append
    // must now match the WIDENED schema, and compaction preserves it
    intercept[IllegalArgumentException] {
      TxnTable.append(spark, t, baseDf(3))
    }
    TxnTable.append(spark, t,
      Seq((102L, "app", Option.empty[Long])).toDF("k", "v", "extra"))
    TxnTable.compact(spark, t)
    val after = TxnTable.snapshot(spark, t)
    assert(after.columns.toSeq === Seq("k", "v", "extra"))
    assert(after.count() === 13)
    assert(after.filter(col("extra").isNull).count() === 11)
  }

  test("log checkpoint: history reads checkpoint + tail; audit survives vacuum") {
    val t = freshTable("ckpt")
    TxnTable.create(spark, t, baseDf(10))
    (1 to 16).foreach(_ => TxnTable.append(spark, t, baseDf(2))) // v1..v16
    TxnTable.checkpoint(spark, t)                                // @16
    (1 to 3).foreach(_ => TxnTable.append(spark, t, baseDf(2)))  // v17..v19
    val before = TxnTable.logReads.get()
    val trail = TxnTable.history(spark, t)
    val reads = TxnTable.logReads.get() - before
    assert(reads === 4, s"history cost $reads log reads, not 1 ckpt + 3 tail")
    assert(trail.map(_._1) === (0L to 19L))
    assert(trail.head._2 === "create" && trail.tail.forall(_._2 === "append"))
    // checkpoint at the latest version, then vacuum: the audit trail of
    // vacuumed versions survives their manifests
    TxnTable.checkpoint(spark, t) // @19
    TxnTable.vacuum(spark, t, retain = 2)
    assert(TxnTable.versions(spark, t) === Seq(18L, 19L))
    assert(TxnTable.history(spark, t).map(_._1) === (0L to 19L))
    assert(TxnTable.snapshot(spark, t).count() === 10 + 19 * 2)
  }

  test("null-count stats prune IS NULL reads; pruned files never opened") {
    val t = freshTable("null_skip")
    val s = spark
    import s.implicits._
    // keys 0..99, d NULL exactly for k < 25 → nulls concentrate in the
    // low-key file(s) of the 4-file range clustering
    val df = (0 until 100).map(i =>
        (i.toLong, if (i < 25) None else Some(i.toLong * 3)))
      .toDF("k", "d")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t,
      TxnTable.stageIndexed(spark, t, df, Seq("k", "d")), -1L)
    val entries = TxnTable.liveEntries(spark, t, 0)
    assert(entries.map(_.nullsFor("d").get).sum === 25L)
    val withNulls = entries.filter(_.nullsFor("d").exists(_ > 0))
    val (snap, scanned, total) = TxnTable.snapshotWhere(spark, t, col("d").isNull)
    assert(total === 4 && scanned === withNulls.size && scanned < total,
      s"IS NULL did not prune ($scanned of $total)")
    assert(snap.select("k").as[Long].collect().toSet === (0L until 25L).toSet)
    // only null-carrying files are ever opened
    val keptPaths = withNulls.map(e => s"$t/${e.path}").toSet
    assert(snap.inputFiles.map(_.replaceFirst("^file:/+", "/")).toSet === keptPaths)
    // an ALL-null file records the empty range: unmatchable by any value
    // box, still visible to IS NULL
    val t2 = freshTable("null_skip_allnull")
    TxnTable.commit(spark, t2, TxnTable.stageIndexed(spark, t2,
      Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("k", "d"),
      Seq("k", "d")), -1L)
    val e2 = TxnTable.liveEntries(spark, t2, 0)
    assert(e2.forall(_.statFor("d").exists { case (lo, hi) => lo > hi }))
    assert(e2.map(_.nullsFor("d").get).sum === 2L)
    val (boxDf, boxScanned, _) =
      TxnTable.snapshotWhere(spark, t2,
        col("d").between(Long.MinValue, Long.MaxValue))
    assert(boxScanned === 0 && boxDf.count() === 0,
      "empty range matched a value box")
  }

  test("deleteRange drops fully-covered files metadata-only; null keys survive") {
    val t = freshTable("delete_pruned")
    val s = spark
    import s.implicits._
    val df = baseDf(100).repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, df, "k"), -1L)
    val entriesBefore = TxnTable.liveEntries(spark, t, 0)
    val res = TxnTable.delete(spark, t, col("k") >= 30L && col("k") <= 80L)
    // [~50..75) falls fully inside → dropped without a read; the two
    // boundary files rewritten; [0..~25) untouched
    assert(res.dropped === 1 && res.rewritten === 2 && res.kept === 1,
      res.toString)
    val droppedPath = entriesBefore.find(e =>
      e.statFor("k").exists { case (lo, hi) => lo >= 30L && hi <= 80L }).get.path
    val after = TxnTable.liveEntries(spark, t, res.version)
    assert(!after.exists(_.path == droppedPath))
    // copy-on-write: the dropped file stays on disk for pinned readers
    assert(new java.io.File(s"$t/$droppedPath").exists())
    assert(TxnTable.snapshot(spark, t, 0).count() === 100)
    val got = TxnTable.snapshot(spark, t).select("k").as[Long].collect().toSet
    assert(got === (0L until 100L).filter(k => k < 30 || k > 80).toSet)
    // NULL keys are never deleted by a range predicate: a file fully
    // inside the range but carrying null keys is rewritten, not dropped
    val t2 = freshTable("delete_nulls")
    val withNulls = (Seq.tabulate(10)(i => Some(i.toLong)) ++
      Seq(None, None)).map(k => (k, "x")).toDF("k", "v").coalesce(1)
    TxnTable.commit(spark, t2,
      TxnTable.stageIndexed(spark, t2, withNulls, "k"), -1L)
    val res2 = TxnTable.delete(spark, t2, col("k") >= 0L && col("k") <= 100L)
    assert(res2.dropped === 0 && res2.rewritten === 1, res2.toString)
    assert(TxnTable.snapshot(spark, t2).count() === 2)
    assert(TxnTable.snapshot(spark, t2).filter(col("k").isNull).count() === 2)
  }

  test("merge preserves null-key rows and the evolved column; full delete stays readable") {
    val s = spark
    import s.implicits._
    // (a) a null-key row in a TOUCHED file must survive the split
    // staging (both range filters evaluate NULL to false)
    val t = freshTable("merge_nulls")
    val withNull = (Seq.tabulate(20)(i => (Some(i.toLong), s"row$i")) :+
      ((Option.empty[Long], "nullrow"))).toDF("k", "v").coalesce(1)
    TxnTable.commit(spark, t,
      TxnTable.stageIndexed(spark, t, withNull, "k"), -1L)
    val res = TxnTable.merge(spark, t, Seq((5L, "upd")).toDF("k", "v"), "k")
    assert(res.touched === 1)
    val after = TxnTable.snapshot(spark, t)
    assert(after.filter(col("k").isNull).count() === 1,
      "merge dropped the null-key row")
    assert(after.count() === 21)
    assert(after.filter(col("k") === 5L).select("v").as[String].collect()
      === Array("upd"))
    // (b) merge AFTER appendEvolve reads touched files with the
    // committed schema — the evolved column survives the rewrite
    val t2 = freshTable("merge_evolved")
    val df2 = baseDf(40).repartitionByRange(2, col("k"))
      .sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t2, TxnTable.stageIndexed(spark, t2, df2, "k"), -1L,
      schemaJson = df2.schema.json)
    TxnTable.appendEvolve(spark, t2,
      Seq((100L, "new", 7L)).toDF("k", "v", "extra"))
    val res2 = TxnTable.merge(spark, t2,
      Seq((100L, "upd", Some(8L)), (3L, "u3", Option.empty[Long]))
        .toDF("k", "v", "extra"), "k")
    val snap2 = TxnTable.snapshot(spark, t2, res2.version)
    assert(snap2.columns.toSeq === Seq("k", "v", "extra"))
    assert(snap2.filter(col("k") === 100L).select("extra").as[Long].collect()
      === Array(8L))
    assert(snap2.count() === 41)
    // (c) deleting EVERYTHING commits a readable, appendable empty table
    val t3 = freshTable("delete_all")
    TxnTable.commit(spark, t3,
      TxnTable.stageIndexed(spark, t3, baseDf(10).coalesce(1), "k"), -1L)
    val res3 = TxnTable.delete(spark, t3, lit(true))
    assert(TxnTable.snapshot(spark, t3).count() === 0)
    assert(TxnTable.snapshot(spark, t3).columns.toSeq === Seq("k", "v"))
    TxnTable.append(spark, t3, baseDf(3))
    assert(TxnTable.snapshot(spark, t3).count() === 3)
  }

  test("merge-on-read delete: zero rewrite, anti-joined reads, compact applies") {
    val t = freshTable("mor")
    val s = spark
    import s.implicits._
    val df = baseDf(100).repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, df, "k"), -1L)
    val v0Files = TxnTable.liveFiles(spark, t, 0)
    // a tombstone on a non-existent column must fail NOW, not poison
    // every future read; an empty key set must be a no-op commit
    intercept[IllegalArgumentException] {
      TxnTable.deleteKeysMor(spark, t,
        (0L until 3L).toDF("bogus"), "bogus")
    }
    assert(TxnTable.deleteKeysMor(spark, t,
      (0L until 100L).filter(_ => false).toDF("k"), "k") === 0L)
    assert(TxnTable.versions(spark, t) === Seq(0L), "empty delete committed")
    // scattered keys (every file hit) — the shape copy-on-write hates
    val v1 = TxnTable.deleteKeysMor(spark, t,
      (0L until 100L by 7L).toDF("k"), "k")
    // zero data rewrite: identical file list, one tombstone registered
    assert(TxnTable.liveFiles(spark, t, v1) === v0Files)
    assert(TxnTable.deleteFiles(spark, t, v1).size === 1)
    // reads anti-join the tombstone; the pinned version still sees all
    val expect = (0L until 100L).filterNot(_ % 7 == 0).toSet
    assert(TxnTable.snapshot(spark, t).select("k").as[Long].collect().toSet
      === expect)
    assert(TxnTable.snapshot(spark, t, 0).count() === 100)
    // box reads apply tombstones too
    val (boxDf, _, _) = TxnTable.snapshotWhere(spark, t, col("k").between(0L, 20L))
    assert(boxDf.select("k").as[Long].collect().toSet
      === (0L to 20L).filterNot(_ % 7 == 0).toSet)
    // writers commit ON TOP of pending tombstones (sequenced deletes —
    // r9): an appended row is newer than the tombstone and stays
    // visible even when it re-inserts a tombstoned key; a merge's
    // rewritten rows likewise escape the delete
    TxnTable.append(spark, t, Seq((7L, "resurrected")).toDF("k", "v"))
    assert(TxnTable.snapshot(spark, t).filter(col("k") === 7L).count() === 1,
      "append on top of a tombstone lost the newer row")
    TxnTable.merge(spark, t, Seq((1L, "merged")).toDF("k", "v"), "k")
    assert(TxnTable.snapshot(spark, t).select("k").as[Long].collect().toSet
      === expect + 7L,
      "merge through a pending tombstone corrupted the content")
    // vacuum keeps the tombstone while its version is retained
    TxnTable.vacuum(spark, t, retain = 2)
    assert(TxnTable.snapshot(spark, t).count() === expect.size + 1)
    // compact applies tombstones: clean version, same content
    val v2 = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, v2).isEmpty)
    assert(TxnTable.snapshot(spark, t).select("k").as[Long].collect().toSet
      === expect + 7L)
    TxnTable.append(spark, t,
      Seq((200L, "new")).toDF("k", "v"))
    assert(TxnTable.snapshot(spark, t).count() === expect.size + 2)
  }

  test("tombstone anti-join broadcasts the key set — no shuffle on the scan side") {
    val t = freshTable("mor_plan")
    val s = spark
    import s.implicits._
    TxnTable.create(spark, t, baseDf(1000))
    TxnTable.deleteKeysMor(spark, t, (0L until 1000L by 9L).toDF("k"), "k")
    val plan = TxnTable.snapshot(spark, t).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "tombstone anti-join shuffled the table side:\n" + plan.take(800))
  }

  test("string manifest stats prune; truncated bounds stay conservative") {
    val t = freshTable("str_skip")
    val s = spark
    import s.implicits._
    // two name regions, >16-char values so truncation engages; one
    // value carries a TAB to prove the base64 encoding keeps the
    // manifest line format intact
    val df = ((0 until 50).map(i => (i.toLong, f"aaaaaaaaaaaaaaaaZZ$i%02d")) ++
      (50 until 100).map(i => (i.toLong, f"zzzzzzzzzzzzzzzzAA\t$i%02d")))
      .toDF("k", "name")
      .repartitionByRange(4, col("name")).sortWithinPartitions(col("name"))
    TxnTable.commit(spark, t,
      TxnTable.stageIndexed(spark, t, df, Seq("k"), Seq("name")), -1L)
    val entries = TxnTable.liveEntries(spark, t, 0)
    assert(entries.forall(e => e.strStatFor("name").nonEmpty &&
      e.statFor("k").nonEmpty), "string + int stats must coexist")
    // truncation: stored bounds are ≤16+1 chars and conservative
    entries.flatMap(_.strStatFor("name")).foreach { case (lo, hi) =>
      assert(lo.length <= 16 && hi.length <= 17, s"($lo,$hi)")
    }
    // a query inside the 'aaa…' region prunes the 'zzz…' files
    val (snap, scanned, total) = TxnTable.snapshotWhere(spark, t,
      col("name").between("aaaaaaaaaaaaaaaaZZ00", "aaaaaaaaaaaaaaaaZZ49"))
    assert(scanned < total, s"string stats did not prune ($scanned of $total)")
    assert(snap.count() === 50,
      "truncated bounds pruned a file that held matching rows")
    // equality on a TAB-carrying value still resolves correctly
    val (snapTab, _, _) = TxnTable.snapshotWhere(spark, t,
      col("name").between("zzzzzzzzzzzzzzzzAA\t50", "zzzzzzzzzzzzzzzzAA\t50"))
    assert(snapTab.select("k").as[Long].collect().toSeq === Seq(50L))
    // append keeps BOTH stat kinds on new files
    TxnTable.append(spark, t,
      Seq((200L, "mmmmmmmmmmmmmmmmMM")).toDF("k", "name"))
    val e2 = TxnTable.liveEntries(spark, t, 1)
    assert(e2.forall(e => e.strStatFor("name").nonEmpty &&
      e.statFor("k").nonEmpty), "append dropped a stat kind")
    // surrogate-safe truncation: a cut or bump that would mint an
    // unpaired surrogate must fall back, never corrupt via getBytes
    val emoji = "aaaaaaaaaaaaaaa😀xxx" // high surrogate at idx 15
    assert(TxnTable.truncLower(emoji) === "aaaaaaaaaaaaaaa")
    assert(TxnTable.truncUpper(emoji) === emoji)
    val atBoundary = "aaaaaaaaaaaaaaa퟿zzzz" // bump would land in D800
    assert(TxnTable.truncUpper(atBoundary) === atBoundary)
    // a merge whose rewritten region is ALL-NULL in the string-indexed
    // column must keep those rows (the sentinel group keeps the line
    // TAB-carrying, distinct from a zero-row file)
    val t2 = freshTable("str_allnull_merge")
    val nulls = (0 until 20).map(i => (i.toLong, Option.empty[String]))
      .toDF("k", "name").coalesce(1)
    TxnTable.commit(spark, t2,
      TxnTable.stageIndexed(spark, t2, nulls, Seq("k"), Seq("name")), -1L)
    val res = TxnTable.merge(spark, t2,
      Seq((5L, Some("x"))).toDF("k", "name"), "k")
    assert(TxnTable.snapshot(spark, t2, res.version).count() === 20,
      "all-null string group dropped live rows through a merge")
    // and an all-null string stat is never matched by a value range
    val (snapNone, scannedNone, _) = TxnTable.snapshotWhere(
      spark, t2, col("name").between("", "￿"))
    assert(snapNone.filter(col("name").isNotNull).count() === 1)
    assert(scannedNone >= 1)
  }

  test("cdc compares payloads null-safe: NULL→value and value→NULL are updates") {
    val t = freshTable("cdc_null")
    val s = spark
    import s.implicits._
    // v column nullable: k=1 NULL→"a" (update), k=2 "b"→NULL (update),
    // k=3 NULL→NULL (unchanged — must NOT appear in the feed)
    TxnTable.create(spark, t,
      Seq((1L, Option.empty[String]), (2L, Some("b")), (3L, Option.empty[String]))
        .toDF("k", "v"))
    TxnTable.overwrite(spark, t,
      Seq((1L, Some("a")), (2L, Option.empty[String]), (3L, Option.empty[String]))
        .toDF("k", "v"))
    val feed = TxnTable.cdcSigned(spark, t, 0, 1, "k")
      .select(col("k"), col("w")).as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(feed === Map(1L -> Seq(-1, 1), 2L -> Seq(-1, 1)),
      s"null-unsafe payload compare: $feed")
  }

  test("a signed feed over a table with a column named 'w' is refused — " +
      "even when 'w' is the KEY") {
    val t = freshTable("cdc_wcol")
    val s = spark
    import s.implicits._
    // 'w' as the key column: the old escape hatch emitted TWO columns
    // named w (the key + the sign) — an ambiguous, unwritable feed
    TxnTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("w", "v"))
    TxnTable.overwrite(spark, t, Seq((1L, "a"), (2L, "c")).toDF("w", "v"))
    val e = intercept[IllegalArgumentException] {
      TxnTable.cdcSigned(spark, t, 0, 1, "w")
    }
    assert(e.getMessage.contains("'w'"), e.getMessage.take(160))
  }

  test("overwriteCdc persists one change file per commit; a tailing stream " +
      "consumes one commit per micro-batch") {
    val t = freshTable("cdc_stream")
    val s = spark
    import s.implicits._
    TxnTable.create(spark, t,
      (0L until 50L).map(i => (i, i * 2)).toDF("k", "v"))
    // two committed change sets, each persisting its signed feed
    TxnTable.overwriteCdc(spark, t,
      TxnTable.snapshot(spark, t)
        .withColumn("v", when(col("k") === 7, lit(700L)).otherwise(col("v"))),
      "k")
    TxnTable.overwriteCdc(spark, t,
      TxnTable.snapshot(spark, t).filter(col("k") =!= 3), "k")
    val cdcFiles = new java.io.File(s"$t/_cdc").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(cdcFiles.length === 2 && cdcFiles.forall(_.startsWith("v000000")),
      cdcFiles.mkString(","))
    // tail the feed: maxFilesPerTrigger=1 → one commit's changes per batch
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = s.readStream.schema("k LONG, w INT, v LONG")
      .option("maxFilesPerTrigger", "1").parquet(s"$t/_cdc")
      .writeStream
      .option("checkpointLocation", s"$t/_cdc_ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes += b.count(); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // batch 1 = the update (±1 on k=7); batch 2 = the delete (-1 on k=3)
    assert(batchSizes.toSeq === Seq(2L, 1L), batchSizes.toString)
    // the tailed feed folds to the final snapshot
    val fold = TxnTable.snapshot(spark, t, 0).withColumn("w", lit(1))
      .select("k", "v", "w")
      .unionByName(s.read.schema("k LONG, w INT, v LONG").parquet(s"$t/_cdc")
        .select("k", "v", "w"))
      .groupBy("k").agg(sum(col("w") * col("v")).as("v"), sum("w").as("n"))
      .filter(col("n") =!= 0).select(col("k"), col("v"))
      .as[(Long, Long)].collect().toSet
    val direct = TxnTable.snapshot(spark, t).as[(Long, Long)].collect().toSet
    assert(fold === direct)
  }

  test("cdc feed emits exactly the changed rows with correct ops") {
    val t = freshTable("cdc")
    val s = spark
    import s.implicits._
    TxnTable.create(spark, t, baseDf(10))
    // change set: update k=2 (new payload), delete k=5, insert k=100
    val v1 = baseDf(10).filter(col("k") =!= 5)
      .withColumn("v", when(col("k") === 2, lit("CHANGED")).otherwise(col("v")))
      .unionByName(Seq((100L, "new")).toDF("k", "v"))
    TxnTable.overwrite(spark, t, v1)
    val a = TxnTable.snapshot(spark, t, 0)
      .select(col("k").as("ak"), col("v").as("av"))
    val b = TxnTable.snapshot(spark, t, 1)
      .select(col("k").as("bk"), col("v").as("bv"))
    val feed = a.join(b, col("ak") === col("bk"), "full_outer")
      .select(coalesce(col("ak"), col("bk")).as("k"),
        when(col("ak").isNull, lit("insert"))
          .when(col("bk").isNull, lit("delete"))
          .when(col("av") =!= col("bv"), lit("update"))
          .otherwise(lit("same")).as("op"))
      .filter(col("op") =!= "same")
      .as[(Long, String)].collect().toSet
    assert(feed === Set((2L, "update"), (5L, "delete"), (100L, "insert")))
  }

  test("sequenced tombstones: writers commit on top of pending deletes") {
    val t = freshTable("seq_tombstones")
    val s = spark
    import s.implicits._
    val base = (0 until 140).map(i => (i.toLong, "B", i * 10L))
      .toDF("k", "st", "p")
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      base.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      "k"), expected = -1L, op = "create", schemaJson = base.schema.json)
    TxnTable.deleteKeysMor(spark, t,
      base.filter(pmod(col("k"), lit(7)) === 0).select("k"), "k") // v1
    assert(TxnTable.snapshot(spark, t, 1).count() === 120)
    // RESURRECTION: an append re-inserting tombstoned keys is NEWER than
    // the tombstone (higher data seq) and must stay visible
    TxnTable.append(spark, t, base.filter(pmod(col("k"), lit(14)) === 0)
      .select(col("k"), lit("R").as("st"), col("p")))          // v2
    assert(TxnTable.snapshot(spark, t, 2).count() === 130)
    assert(TxnTable.snapshot(spark, t, 2)
      .filter(col("st") === "R").count() === 10)
    // the pinned pre-append version still hides them
    assert(TxnTable.snapshot(spark, t, 1).count() === 120)
    // a MERGE through the pending tombstone: rewritten files drop the
    // tombstoned rows at rewrite time; untouched files keep anti-joining
    val res = TxnTable.merge(spark, t,
      Seq((5L, "U", 999L), (200L, "U", 999L)).toDF("k", "st", "p"), "k")
    assert(TxnTable.deleteFiles(spark, t, res.version).size === 1,
      "tombstone must still be pending after the merge")
    val v3 = TxnTable.snapshot(spark, t)
    assert(v3.count() === 131) // 130 + the new key 200
    assert(v3.filter(col("st") === "R").count() === 10)
    assert(v3.filter(col("k") === 7L).count() === 0,
      "rewritten region resurrected a tombstoned key")
    // a range delete through the pending tombstone behaves too
    val dr = TxnTable.delete(spark, t, col("k") >= 100L && col("k") <= 300L)
    val v4 = TxnTable.snapshot(spark, t)
    assert(v4.filter(col("k") >= 100L).count() === 0)
    assert(v4.filter(col("st") === "R").count() ===
      v3.filter(col("st") === "R" && col("k") < 100L).count())
    // compaction still materializes a clean tombstone-free version
    val v5 = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, v5).isEmpty)
    assert(TxnTable.snapshot(spark, t, v5).count() === v4.count())
  }

  test("restore rolls content back as a forward commit") {
    val t = freshTable("restore")
    TxnTable.create(spark, t, baseDf(100))
    TxnTable.overwrite(spark, t, baseDf(7))
    val v2 = TxnTable.restore(spark, t, 0)
    assert(v2 === 2L)
    assert(TxnTable.snapshot(spark, t).count() === 100)
    // the bad version stays auditable and readable (until vacuum)
    assert(TxnTable.snapshot(spark, t, 1).count() === 7)
    assert(TxnTable.history(spark, t).map(_._2) ===
      Seq("create", "overwrite", "restore"))
    // restore re-references v0's files — vacuum keeping only the restored
    // version must NOT delete them
    TxnTable.vacuum(spark, t, retain = 1)
    assert(TxnTable.snapshot(spark, t).count() === 100)
  }

  test("shallow clone diverges without copying; clone vacuum spares src") {
    val t = freshTable("clone_src_spec")
    val c = freshTable("clone_dst_spec")
    TxnTable.create(spark, t, baseDf(100))
    TxnTable.shallowClone(spark, t, c)
    assert(TxnTable.snapshot(spark, c).count() === 100)
    assert(!new java.io.File(c, "data").exists(), "clone copied data")
    // diverge both ways: append to clone, overwrite src
    TxnTable.append(spark, c, baseDf(10))
    TxnTable.overwrite(spark, t, baseDf(3))
    assert(TxnTable.snapshot(spark, c).count() === 110,
      "clone must not see source commits")
    assert(TxnTable.snapshot(spark, t).count() === 3)
    // compact + vacuum the clone: all files become local, src untouched
    TxnTable.compact(spark, c)
    TxnTable.vacuum(spark, c, retain = 1)
    assert(TxnTable.snapshot(spark, c).count() === 110)
    assert(TxnTable.snapshot(spark, t, 0).count() === 100,
      "clone vacuum deleted source files")
  }

  test("clone of a clone keeps original absolute refs readable") {
    val a = freshTable("clone_a")
    val b = freshTable("clone_b")
    val c = freshTable("clone_c")
    TxnTable.create(spark, a, baseDf(50))
    TxnTable.shallowClone(spark, a, b)
    TxnTable.shallowClone(spark, b, c) // b's entries are already absolute
    assert(TxnTable.snapshot(spark, c).count() === 50)
    TxnTable.append(spark, c, baseDf(5))
    assert(TxnTable.snapshot(spark, c).count() === 55)
    assert(TxnTable.snapshot(spark, a).count() === 50)
  }

  test("an all-delete change set leaves an empty but readable table") {
    val t = freshTable("apply_changes_empty")
    val s = spark
    import s.implicits._
    val base = (0 until 20).map(i => (i.toLong, i * 10L)).toDF("k", "p")
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      base.repartitionByRange(2, col("k")).sortWithinPartitions(col("k")),
      "k"), expected = -1L, op = "create", schemaJson = base.schema.json)
    val allDel = base.select(col("k"), col("p"), lit("D").as("op"))
    TxnTable.applyChanges(spark, t, allDel, "k")
    assert(TxnTable.snapshot(spark, t).count() === 0,
      "empty table must stay readable (schema-carrying sentinel)")
    TxnTable.append(spark, t, base.limit(3))
    assert(TxnTable.snapshot(spark, t).count() === 3)
  }

  test("full merge: matched update+delete, not-matched insert, ghost delete no-op") {
    val t = freshTable("apply_changes")
    val s = spark
    import s.implicits._
    val base = (0 until 50).map(i => (i.toLong, i * 10L)).toDF("k", "p")
    TxnTable.create(spark, t, base)
    val changes = Seq(
      (5L, 555L, "U"),   // matched update
      (7L, 0L, "D"),     // matched delete
      (100L, 1000L, "U"), // not-matched insert
      (200L, 0L, "D")    // not-matched delete: must no-op
    ).toDF("k", "p", "op")
    TxnTable.applyChanges(spark, t, changes, "k")
    val out = TxnTable.snapshot(spark, t).as[(Long, Long)].collect().toMap
    assert(out.size === 50) // 50 - 1 delete + 1 insert
    assert(out(5L) === 555L)
    assert(!out.contains(7L))
    assert(out(100L) === 1000L)
    assert(!out.contains(200L))
  }

  test("bloom sidecar prunes point lookups; uncovered files stay scanned") {
    val t = freshTable("bloom")
    val s = spark
    import s.implicits._
    // "time"-clustered layout: file = k/25 bucket, but probe column is
    // id*37 mod 1000 — scattered, so ranges on it are useless
    val base = (0 until 100).map(i => (i.toLong, (i * 37L) % 1000L))
      .toDF("t", "id")
    val clustered = base.repartitionByRange(4, col("t"))
      .sortWithinPartitions(col("t"))
    val lines = TxnTable.stageIndexed(spark, t, clustered, "t")
    val rels = lines.map(_.split('\t').head)
    val bloom = TxnTable.buildBloom(spark, t, rels, "id")
    TxnTable.commit(spark, t, lines, expected = -1L, op = "create",
      schemaJson = base.schema.json, blooms = Seq(bloom))
    // a present value: exactly its file(s) survive; content correct and
    // pruned files never opened
    val probe = 37L // id of t=1, lives in the first file
    val (snap, scanned, total) =
      TxnTable.snapshotWhere(spark, t, col("id") === probe)
    assert(scanned < total, s"bloom did not prune ($scanned of $total)")
    assert(snap.select("t").as[Long].collect().toSeq === Seq(1L))
    val keptPaths = TxnTable.liveEntries(spark, t, 0)
      .map(e => s"$t/${e.path}").toSet
    assert(snap.inputFiles.map(_.replaceFirst("^file:/+", "/")).toSet
      .subsetOf(keptPaths))
    // an absent value: everything pruned (up to false positives), no crash
    val (snapNone, scNone, _) =
      TxnTable.snapshotWhere(spark, t, col("id") === 999999L)
    assert(snapNone.count() === 0)
    assert(scNone <= 1, "absent probe scanned more than the fp budget")
    // an appended file is NOT covered by the sidecar: conservatively
    // scanned, and its rows still found
    TxnTable.append(spark, t, Seq((200L, 999999L)).toDF("t", "id"))
    val (snap2, sc2, tot2) =
      TxnTable.snapshotWhere(spark, t, col("id") === 999999L)
    assert(snap2.select("t").as[Long].collect().toSeq === Seq(200L),
      "uncovered file was wrongly bloom-pruned")
    assert(sc2 < tot2, "covered files stopped pruning after append")
    // the sidecar survives vacuum while its version is retained
    TxnTable.compact(spark, t)
    TxnTable.vacuum(spark, t, retain = 2)
    val (snap3, _, _) = TxnTable.snapshotWhere(spark, t, col("id") === probe,
      1L)
    assert(snap3.select("t").as[Long].collect().toSeq === Seq(1L),
      "vacuum deleted a retained version's bloom sidecar")
  }

  test("truncUpper falls back when the cut lands after a LOW surrogate") {
    // U+103FF = 𐏿: the 16-char cut puts the pair's LOW half
    // last. Its bump () is innocently non-surrogate, but keeping
    // init+bump would leave the HIGH half unpaired — getBytes encodes it
    // as '?' (0x3F) and the persisted bound would sort BELOW the data
    val lowLast = "a" * 14 + "𐏿" + "zzzz"
    assert(TxnTable.truncUpper(lowLast) === lowLast)
    // the fallback must not regress ordinary bounds
    assert(TxnTable.truncUpper("b" * 20) === "b" * 15 + "c")
  }

  test("index columns survive a delete that empties the table") {
    val t = freshTable("empty_then_append")
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"row$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, df, "k"), -1L)
    // delete EVERYTHING: the new version's only entry is the zero-row
    // sentinel file, which legitimately carries no stat groups
    TxnTable.delete(spark, t, lit(true))
    assert(TxnTable.snapshot(spark, t).count() === 0)
    // the `#index=` header must keep the table indexed: the next append
    // stages WITH stats, and range pruning still works afterwards
    val v2 = TxnTable.append(spark, t,
      (0 until 100).map(i => (i.toLong, s"new$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")))
    val statted = TxnTable.liveEntries(spark, t, v2)
      .filter(_.statFor("k").nonEmpty)
    assert(statted.size >= 4, "append after emptying delete lost the index")
    val (_, scanned, total) =
      TxnTable.snapshotWhere(spark, t, col("k").between(0L, 10L))
    assert(scanned < total, "range pruning dead after emptying delete")
  }

  test("a legacy v1 manifest (3-field stats, no #format) still reads") {
    val t = freshTable("legacy_v1")
    val s = spark
    import s.implicits._
    // stage one real data file, then hand-write a pre-#format manifest
    // whose stat group is the old (col, min, max) triple
    val rel = TxnTable.stage(spark, t,
      (0 until 10).map(i => (i.toLong, s"row$i")).toDF("k", "v").coalesce(1))
    val logDir = new java.io.File(t, "_log"); logDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(logDir, "00000000.manifest").toPath,
      s"#op=create\n${rel.head}\tk\t0\t9\n".getBytes("UTF-8"))
    val m = TxnTable.manifest(spark, t, 0)
    assert(m.entries.head.statFor("k") === Some((0L, 9L)))
    // null count is UNKNOWN (-1): IS NULL pruning must KEEP the file,
    // never skip it on absent information
    assert(m.entries.head.nullsFor("k") === Some(-1L))
    val (snap, scanned, total) = TxnTable.snapshotWhere(spark, t, col("k").isNull)
    assert(scanned === total)
    assert(snap.count() === 0) // no actual nulls in the data
    // and value-range pruning still works off the legacy bounds
    val (_, sc2, _) = TxnTable.snapshotWhere(spark, t, col("k").between(100L, 200L))
    assert(sc2 === 0)
  }

  test("a future-format manifest fails with a clear error") {
    val t = freshTable("future_fmt")
    TxnTable.create(spark, t, baseDf(5))
    val mf = new java.io.File(s"$t/_log/00000001.manifest")
    java.nio.file.Files.write(mf.toPath,
      "#format=99\n#op=write\nsomething\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      TxnTable.manifest(spark, t, 1)
    }
    assert(e.getMessage.contains("manifest format 99"))
  }

  test("publish skips what the branch inherited: a parent compacted " +
      "after the branch point keeps each row once") {
    val t = freshTable("publish_compacted")
    TxnTable.create(spark, t, baseDf(10))
    (1 until 3).foreach(i => TxnTable.append(spark, t,
      baseDf(10).withColumn("k", col("k") + i * 10)))
    TxnTable.branch(spark, t, "dev")
    val dev = TxnTable.branchDir(spark, t, "dev")
    TxnTable.append(spark, dev, baseDf(5).withColumn("k", col("k") + 100))
    // the parent rewrites the three files the branch inherited
    TxnTable.compact(spark, t)
    TxnTable.publish(spark, dev, t)
    val keys = TxnTable.snapshot(spark, t).select("k").collect()
      .map(_.getLong(0)).toSeq
    assert(keys.size === 35,
      s"publish re-grafted inherited files: ${keys.size} rows")
    assert(keys.toSet === ((0L until 30L) ++ (100L until 105L)).toSet)
  }

  test("publish grafts branch additions only; audit fix stays on branch") {
    val m = freshTable("wap_main_spec")
    val b = freshTable("wap_branch_spec")
    val s = spark
    import s.implicits._
    val base = (0 until 100).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    // indexed create: the clone inherits the index, so the branch's audit
    // fix prunes to branch-LOCAL files and never rewrites a clone ref
    // (a rewritten clone ref would re-enter via publish as a duplicate —
    // the documented divergent-rewrite-is-a-merge-problem boundary)
    TxnTable.commit(spark, m, TxnTable.stageIndexed(spark, m,
      base.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      "k"), -1L, op = "create", schemaJson = base.schema.json)
    TxnTable.shallowClone(spark, m, b)
    TxnTable.append(spark, b,
      (100 until 120).map(i => (i.toLong, s"new$i")).toDF("k", "v"))
    // the audit fix: drop part of the APPENDED keyspace on the branch
    TxnTable.delete(spark, b, col("k") >= 115L)
    val vPub = TxnTable.publish(spark, b, m)
    val keys = TxnTable.snapshot(spark, m).select("k").as[Long].collect()
    assert(keys.length === keys.distinct.length, "publish duplicated rows")
    assert(keys.toSet === (0L until 115L).toSet,
      "published content != base + audited additions")
    // zero-copy: every new main entry is an absolute ref into the branch
    val newRefs = TxnTable.liveEntries(spark, m, vPub).map(_.path)
      .filter(_.startsWith("/"))
    assert(newRefs.nonEmpty && newRefs.forall(_.startsWith(b + "/")))
    // re-publish is content-idempotent (already-live entries filtered)
    TxnTable.publish(spark, b, m)
    assert(TxnTable.snapshot(spark, m).count() === 115)
    // vacuuming main (latest retained version references the branch's
    // files absolutely) can never reach them — they are outside main's
    // data listing by construction
    TxnTable.vacuum(spark, m, retain = 1)
    assert(TxnTable.snapshot(spark, m).count() === 115,
      "main vacuum destroyed published branch files")
    assert(TxnTable.snapshot(spark, b).count() === 115,
      "main vacuum reached into the branch")
  }

  test("publish refuses a branch carrying MoR tombstones; compaction unblocks") {
    val m = freshTable("wap_mor_main")
    val b = freshTable("wap_mor_branch")
    val s = spark
    import s.implicits._
    val base = (0 until 50).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    TxnTable.create(spark, m, base)
    TxnTable.shallowClone(spark, m, b)
    TxnTable.append(spark, b,
      (50 until 60).map(i => (i.toLong, s"new$i")).toDF("k", "v"))
    // the audit fix uses the merge-on-read delete path: a tombstone only
    TxnTable.deleteKeysMor(spark, b,
      Seq(55L, 56L).toDF("k"), "k")
    // grafting entries verbatim would resurrect 55/56 on main — refuse
    val ex = intercept[IllegalArgumentException] {
      TxnTable.publish(spark, b, m)
    }
    assert(ex.getMessage.contains("tombstone"),
      s"refusal should name the tombstones: ${ex.getMessage}")
    // compaction applies + drops the tombstones; publish then succeeds
    TxnTable.compact(spark, b)
    TxnTable.publish(spark, b, m)
    val keys = TxnTable.snapshot(spark, m).select("k").as[Long].collect()
    assert(keys.toSet === ((0L until 55L).toSet ++ Set(57L, 58L, 59L)),
      "published content must respect the branch's MoR fix")
  }

  test("dst tombstones committed while a branch was open can't mask published rows") {
    val m = freshTable("wap_seq_main")
    val b = freshTable("wap_seq_branch")
    val s = spark
    import s.implicits._
    val base = (0 until 40).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    TxnTable.create(spark, m, base)
    TxnTable.shallowClone(spark, m, b)
    // branch appends (branch entry seqs are LOW — the branch's own line)
    TxnTable.append(spark, b,
      (100 until 110).map(i => (i.toLong, s"new$i")).toDF("k", "v"))
    // meanwhile main advances: an append and then a MoR tombstone whose
    // seq is ABOVE everything the branch has staged
    TxnTable.append(spark, m,
      (40 until 45).map(i => (i.toLong, s"late$i")).toDF("k", "v"))
    TxnTable.deleteKeysMor(spark, m, Seq(41L, 105L).toDF("k"), "k")
    // publish restamps grafted entries with the publish commit's seq, so
    // main's tombstone (older) must NOT swallow the published 105
    TxnTable.publish(spark, b, m)
    val keys = TxnTable.snapshot(spark, m).select("k").as[Long]
      .collect().toSet
    assert(keys.contains(105L),
      "dst tombstone committed before publish masked a published row")
    assert(!keys.contains(41L), "main's own MoR delete must still hold")
    assert(keys === ((0L until 45L).toSet - 41L) ++ (100L until 110L).toSet)
  }

  test("recluster: reads stay exact across clustering generations") {
    val t = freshTable("recluster_gen")
    val s2 = spark
    import s2.implicits._
    val gen1 = (0 until 400).map(i => (i.toLong, (i % 16).toLong))
      .toDF("k", "g")
    TxnTable.commit(spark, t,
      TxnTable.stageIndexed(spark, t,
        TxnTable.clusterExact(spark, gen1, "k", 0L, 399L, 4)
          .sortWithinPartitions(col("k")), "k"),
      expected = -1L, op = "create", schemaJson = gen1.schema.json)
    TxnTable.recluster(spark, t, Seq("g"))
    val gen2 = (400 until 600).map(i => (i.toLong, (i % 16).toLong))
      .toDF("k", "g")
    TxnTable.append(spark, t,
      TxnTable.clusterExact(spark, gen2, "g", 0L, 15L, 4)
        .sortWithinPartitions(col("g"), col("k")))
    // a g box read: every row with g in [4,7] from BOTH generations —
    // old files lack g stats and must all be scanned, never pruned
    val (df, scanned, total) = TxnTable.snapshotWhere(spark, t,
      col("g").between(4L, 7L))
    val expect = (0 until 600).filter(i => i % 16 >= 4 && i % 16 <= 7)
    assert(df.select("k").as[Long].collect().sorted ===
      expect.map(_.toLong).toArray, "false prune across generations")
    assert(scanned >= 4 && scanned < total,
      s"old gen must scan, new gen must prune: $scanned/$total")
    // the OLD column still prunes old-generation files
    val (df2, scanned2, total2) = TxnTable.snapshotWhere(spark, t,
      col("k").between(0L, 99L))
    assert(df2.count() === 100)
    assert(scanned2 < total2, "old-column stats lost after recluster")
  }

  test("manifest NDV sketches and row counts merge across files and appends") {
    val t = freshTable("ndv_stats")
    val s2 = spark
    import s2.implicits._
    // 1000 rows, key unique, grp 250-distinct, spread over 4 files
    val df = (0 until 1000).map(i => (i.toLong, (i % 250).toLong))
      .toDF("k", "grp")
    TxnTable.commit(spark, t,
      TxnTable.stageIndexed(spark, t, df.repartition(4), Seq("k", "grp")),
      expected = -1L, op = "create", schemaJson = df.schema.json)
    assert(TxnTable.tableRows(spark, t, 0L) === Some(1000L))
    val ndvK = TxnTable.ndv(spark, t, "k").get
    val ndvG = TxnTable.ndv(spark, t, "grp").get
    assert(math.abs(ndvK - 1000) <= 150, s"ndv(k)=$ndvK")
    // grp repeats across all 4 files: a naive per-file-estimate SUM
    // would read ~1000 — the sketch union must not double count
    assert(math.abs(ndvG - 250) <= 40, s"ndv(grp)=$ndvG not deduplicated")
    // appends extend both stats
    TxnTable.append(spark, t,
      (1000 until 1200).map(i => (i.toLong, (i % 250).toLong))
        .toDF("k", "grp"))
    assert(TxnTable.tableRows(spark, t) === Some(1200L))
    val ndvK2 = TxnTable.ndv(spark, t, "k").get
    assert(ndvK2 > ndvK, s"append did not extend ndv: $ndvK -> $ndvK2")
    // unindexed column: no sketch, honest None
    assert(TxnTable.ndv(spark, t, "nope").isEmpty)
  }

  test("manifest byte sizes: tableBytes exact; bytes beat rows for broadcast side") {
    val s2 = spark
    import s2.implicits._
    // WIDE: 50 rows of ~1KB incompressible payload; NARROW: 2000 longs.
    // Rows nominate wide for broadcast, bytes nominate narrow.
    val wide = freshTable("bytes_wide")
    val wdf = (0 until 50).map(i => (i.toLong,
      (0 until 32).map(j => s"$i-$j".hashCode.toHexString).mkString * 4))
      .toDF("k", "pad")
    TxnTable.commit(spark, wide,
      TxnTable.stageIndexed(spark, wide, wdf.repartition(2), Seq("k")),
      expected = -1L, op = "create", schemaJson = wdf.schema.json)
    val narrow = freshTable("bytes_narrow")
    val ndf = (0 until 2000).map(_.toLong).toDF("nk")
    TxnTable.commit(spark, narrow,
      TxnTable.stageIndexed(spark, narrow, ndf.repartition(2), Seq("nk")),
      expected = -1L, op = "create", schemaJson = ndf.schema.json)
    // tableBytes must equal the ACTUAL on-disk sizes of the live files
    def realBytes(t: String): Long = {
      val conf = spark.sparkContext.hadoopConfiguration
      TxnTable.liveFiles(spark, t, 0).map { rel =>
        val p = new org.apache.hadoop.fs.Path(TxnTable.pathFor(t, rel))
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
    }
    assert(TxnTable.tableBytes(spark, wide) === Some(realBytes(wide)))
    assert(TxnTable.tableBytes(spark, narrow) === Some(realBytes(narrow)))
    // the disagreement: fewer rows but more bytes on the wide side
    assert(TxnTable.tableRows(spark, wide).get <
      TxnTable.tableRows(spark, narrow).get)
    assert(TxnTable.tableBytes(spark, wide).get >
      TxnTable.tableBytes(spark, narrow).get)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (joined, side) =
        TxnTable.snapshotJoinStats(spark, wide, "k", narrow, "nk")
      assert(side === Some(true), "byte decision must broadcast narrow")
      assert(joined.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(joined.count() === 50)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    // appends extend the byte total
    val before = TxnTable.tableBytes(spark, narrow).get
    TxnTable.append(spark, narrow, (2000 until 2100).map(_.toLong).toDF("nk"))
    assert(TxnTable.tableBytes(spark, narrow).get > before)
  }

  test("commitResolving: disjoint rebases, overlap recomputes, tombstones conflict") {
    val t = freshTable("occ_resolve")
    TxnTable.create(spark, t, baseDf(100).repartition(2))
    val paths = TxnTable.liveFiles(spark, t, 0)
    // a SEQUENTIAL interleave: writer A commits between B's work and
    // B's commit — simulated by staging B's change against v0 and
    // committing after A landed
    def appendChange(tag: String) = TxnTable.Change(
      TxnTable.stage(spark, t, baseDf(5).withColumn("v",
        concat(col("v"), lit(tag)))), Set.empty, Set.empty, "append")
    var bWorkRuns = 0
    val a = new java.util.concurrent.atomic.AtomicBoolean(false)
    val out = TxnTable.commitResolving(spark, t) { base =>
      bWorkRuns += 1
      if (!a.getAndSet(true)) // first pass only: A lands AFTER B stages
        TxnTable.append(spark, t, baseDf(3))
      appendChange("b")
    }
    // append vs append: B's CAS loss resolves as a rebase, work ran once
    assert(out === TxnTable.CommitOutcome(2L, 1, 0))
    assert(bWorkRuns === 1)
    assert(TxnTable.snapshot(spark, t).count() === 108)
    // overlap: the interleaved writer REMOVES a file the loser reads
    val cur = TxnTable.currentVersion(spark, t)
    val victim = paths.head
    var runs = 0
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val out2 = TxnTable.commitResolving(spark, t) { base =>
      runs += 1
      if (!done.getAndSet(true)) TxnTable.compact(spark, t) // removes victim
      TxnTable.Change(TxnTable.stage(spark, t, baseDf(1)),
        Set.empty, Set(victim), "append-derived")
    }
    assert(out2.recomputes === 1 && runs === 2,
      s"stale read set must force a recompute, got $out2 after $runs runs")
    // new tombstones while rewriting: conflict too
    val s2 = spark
    import s2.implicits._
    var runs3 = 0
    val done3 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val out3 = TxnTable.commitResolving(spark, t) { base =>
      runs3 += 1
      val m = TxnTable.manifest(spark, t, base)
      if (!done3.getAndSet(true))
        TxnTable.deleteKeysMor(spark, t, Seq(1L).toDF("k"), "k")
      TxnTable.Change(TxnTable.stage(spark, t, baseDf(1)),
        Set.empty, Set(m.entries.head.path), "append-derived")
    }
    assert(out3.recomputes === 1 && runs3 === 2,
      s"new tombstones must conflict with a data-deriving writer, got $out3")
    // removing a path the base doesn't list fails loudly
    intercept[IllegalArgumentException] {
      TxnTable.commitResolving(spark, t)(_ =>
        TxnTable.Change(Nil, Set("data/nope/part-0.parquet"), Set.empty))
    }
  }

  test("op_delete_pruned accounting is identical across session history") {
    // the r9 flake: sampled repartitionByRange bounds shifted with how
    // many jobs had already run, and the dropped/rewritten/kept
    // accounting shifted with them. With explicit computed cuts the
    // accounting must be IDENTICAL run to run — so run the scenario,
    // shift the session's RDD-id counter with unrelated jobs, run it
    // again, and demand the same numbers
    val (df1, res1) = TxnTable.deletePrunedChecked(spark, sf)
    val rows1 = df1.count()
    assert(df1.filter(!col("delete_ok")).isEmpty, "first run accounting red")
    (0 until 5).foreach(i => spark.range(1000 + i).repartition(4).count())
    val (df2, res2) = TxnTable.deletePrunedChecked(spark, sf)
    assert(df2.filter(!col("delete_ok")).isEmpty, "second run accounting red")
    assert((res2.dropped, res2.rewritten, res2.kept) ===
      ((res1.dropped, res1.rewritten, res1.kept)),
      "file accounting shifted with session history")
    assert(df2.count() === rows1)
    assert(res1.dropped >= 1 && res1.rewritten <= 2)
  }

  test("vacuum collects unreferenced change-feed files; retained refs survive") {
    val t = freshTable("cdc_vacuum")
    val s = spark
    import s.implicits._
    TxnTable.create(spark, t, (0L until 50L).map(i => (i, i)).toDF("k", "v"))
    TxnTable.overwriteCdc(spark, t, TxnTable.snapshot(spark, t)
      .withColumn("v", col("v") + 1), "k")
    TxnTable.overwriteCdc(spark, t,
      TxnTable.snapshot(spark, t).filter(col("k") < 40), "k")
    val v1Ref = TxnTable.manifest(spark, t, 1L).cdcRefs.head
    val v2Ref = TxnTable.manifest(spark, t, 2L).cdcRefs.head
    // an ORPHAN (crashed overwriteCdc: staged feed, commit never landed)
    (0L to 2L).map(i => (i, 1, i)).toDF("k", "w", "v")
      .coalesce(1).write.parquet(s"$t/_cdc_orphan")
    val of = new java.io.File(s"$t/_cdc_orphan").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(s"$t/_cdc/v00000099-orphan-0.parquet")
    assert(of.renameTo(orphan))
    TxnTable.vacuum(spark, t, retain = 1)
    // version 2 survives → its feed ref survives; version 1's feed and
    // the orphan went with retention (the feed is manifest-referenced
    // metadata, bounded by retention exactly like time travel)
    assert(new java.io.File(s"$t/$v2Ref").exists(), "retained feed deleted")
    assert(!new java.io.File(s"$t/$v1Ref").exists(), "vacuumed feed kept")
    assert(!orphan.exists(), "orphaned feed stage kept")
  }

  test("CHECK constraints round-trip the log and validate at add time") {
    val t = freshTable("checks_lib")
    val s = spark
    import s.implicits._
    TxnTable.create(spark, t, (0L until 50L).map(i => (i, s"r$i")).toDF("k", "v"))
    // the expression text is b64-armored in the header: a string
    // literal carrying a TAB or '=' must survive the line format
    val expr = "k >= 0 AND v <> 'a\tb=c'"
    TxnTable.addCheck(spark, t, "fmt", expr)
    val m = TxnTable.manifest(spark, t, TxnTable.currentVersion(spark, t))
    assert(m.checks === Seq(("fmt", expr)), s"header corrupted: ${m.checks}")
    // enforcement reads the round-tripped text
    intercept[IllegalArgumentException] {
      TxnTable.append(spark, t, Seq((-5L, "x")).toDF("k", "v"))
    }
    assert(TxnTable.snapshot(spark, t).count() === 50)
    TxnTable.append(spark, t, Seq((100L, "y")).toDF("k", "v"))
    assert(TxnTable.snapshot(spark, t).count() === 51)
    // add-time validation: existing rows already violate → refused,
    // and the constraint is NOT recorded
    val e = intercept[IllegalArgumentException] {
      TxnTable.addCheck(spark, t, "small", "k < 10")
    }
    assert(e.getMessage.contains("small"))
    assert(TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t)).checks.map(_._1) === Seq("fmt"))
    // constraints survive library-level merge: a violating change set
    // is refused with the table untouched
    intercept[IllegalArgumentException] {
      TxnTable.merge(spark, t,
        Seq((-1L, "bad")).toDF("k", "v"), "k")
    }
    assert(TxnTable.snapshot(spark, t).count() === 51)
  }

  test("commitResolving re-runs recheck before every attempt, including rebases") {
    // the streaming sink's replay ledger depends on this: a competing
    // commit landing between a recheck and our CAS must force a CAS
    // loss, and the NEXT recheck (not a re-run of `work` — a pure
    // rebase deliberately skips that) must observe it before we retry
    val t = freshTable("recheck")
    TxnTable.create(spark, t, baseDf(10))
    val staged = TxnTable.stage(spark, t, baseDf(5))
    var calls = 0
    var basesSeen = Seq.empty[Long]
    val out = TxnTable.commitResolving(spark, t, base => {
      calls += 1
      basesSeen :+= base
      // first attempt: land a competing append so the CAS loses and the
      // loop rebases — the second recheck must then see the new base
      if (calls == 1) TxnTable.append(spark, t, baseDf(3))
    })(_ => TxnTable.Change(staged, Set.empty, Set.empty))
    assert(calls === 2, s"recheck must run before every attempt, ran $calls")
    assert(basesSeen === Seq(0L, 1L),
      s"recheck must observe the rebased-onto version, saw $basesSeen")
    assert(out.rebases === 1 && out.recomputes === 0)
    assert(TxnTable.snapshot(spark, t).count() === 18)
    // a throwing recheck abandons the commit before anything lands
    val staged2 = TxnTable.stage(spark, t, baseDf(5))
    val cur = TxnTable.currentVersion(spark, t)
    intercept[IllegalStateException] {
      TxnTable.commitResolving(spark, t,
        _ => throw new IllegalStateException("abandon"))(_ =>
        TxnTable.Change(staged2, Set.empty, Set.empty))
    }
    assert(TxnTable.currentVersion(spark, t) === cur,
      "a throwing recheck must not commit")
  }

  test("applyChangesMor: one commit, zero rewrites, sequenced semantics") {
    val s = spark
    import s.implicits._
    val t = freshTable("mor_merge")
    TxnTable.create(spark, t, baseDf(20)) // k 0..19
    val v0Files = TxnTable.liveFiles(spark, t, 0).toSet
    val changes = Seq(
      (5L, "UPD5", "U"),   // matched update
      (6L, "GONE", "D"),   // matched delete
      (100L, "NEW", "U"),  // unmatched insert
      (999L, "GHOST", "D") // unmatched delete: no-op
    ).toDF("k", "v", "op")
    val v1 = TxnTable.applyChangesMor(spark, t, changes, "k")
    assert(v1 === 1L, "MoR merge must be ONE commit")
    // every pre-merge file carried verbatim + the appended adds
    assert(v0Files.subsetOf(TxnTable.liveFiles(spark, t, v1).toSet),
      "MoR merge rewrote data files")
    assert(TxnTable.deleteFiles(spark, t, v1).size === 1)
    val snap = TxnTable.snapshot(spark, t)
    assert(snap.count() === 20) // -1 delete, +1 insert
    assert(snap.filter(col("k") === 5).select("v").as[String]
      .collect().toSeq === Seq("UPD5"))
    assert(snap.filter(col("k") === 6).count() === 0)
    assert(snap.filter(col("k") === 100).count() === 1)
    // the pinned pre-merge version is intact
    assert(TxnTable.snapshot(spark, t, 0).count() === 20)
    // a LATER append of a tombstoned key escapes the tombstone
    // (sequenced equality deletes: newer data seq wins)
    TxnTable.append(spark, t, Seq((6L, "BACK")).toDF("k", "v"))
    assert(TxnTable.snapshot(spark, t).filter(col("k") === 6)
      .select("v").as[String].collect().toSeq === Seq("BACK"))
    // compact applies the tombstone and converges
    val vc = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, vc).isEmpty)
    val after = TxnTable.snapshot(spark, t)
    assert(after.count() === 21 &&
      after.filter(col("k") === 6).select("v").as[String]
        .collect().toSeq === Seq("BACK"))
  }

  test("rename/drop proceed over pending MoR tombstones: the anti-join " +
      "is keyed by frozen physical names") {
    val s = spark
    import s.implicits._
    val t = freshTable("mor_mapped")
    TxnTable.create(spark, t,
      (0L until 20L).map(i => (i, s"r$i", i * 2)).toDF("k", "v", "z"))
    TxnTable.applyChangesMor(spark, t, Seq(
      (3L, "", 0L, "D"), (5L, "UPD5", 10L, "U"), (100L, "NEW", 200L, "U"))
      .toDF("k", "v", "z", "op"), "k")
    assert(TxnTable.deleteFiles(spark, t,
      TxnTable.currentVersion(spark, t)).size === 1)
    // RENAME of the tombstone KEY column while the tombstone is pending
    // (previously refused) — one metadata commit, entries verbatim
    val mBefore = TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t))
    TxnTable.renameColumn(spark, t, "k", "id")
    val mAfter = TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t))
    assert(mAfter.entries === mBefore.entries,
      "rename with pending tombstones touched data entries")
    assert(mAfter.deletes === mBefore.deletes,
      "rename moved the tombstone lines")
    assert(mAfter.deletes.forall(_._2 == "k"),
      s"tombstone key must stay the frozen PHYSICAL name: ${mAfter.deletes}")
    // reads hide the dead key under the NEW name
    val snap = TxnTable.snapshot(spark, t)
    assert(snap.columns.toSeq === Seq("id", "v", "z"))
    assert(snap.count() === 20 &&
      snap.filter(col("id") === 3).count() === 0)
    assert(snap.filter(col("id") === 5).select("v").as[String]
      .collect().toSeq === Seq("UPD5"))
    // a POST-rename MoR merge still commits (key under its new name)
    TxnTable.applyChangesMor(spark, t, Seq((7L, "", 0L, "D"))
      .toDF("id", "v", "z", "op"), "id")
    val m2 = TxnTable.manifest(spark, t, TxnTable.currentVersion(spark, t))
    assert(m2.deletes.size === 2 && m2.deletes.forall(_._2 == "k"),
      s"post-rename tombstone must record the physical key: ${m2.deletes}")
    assert(TxnTable.snapshot(spark, t).filter(col("id").isin(3, 7))
      .count() === 0)
    // DROP of a NON-key column with tombstones pending (also previously
    // refused): reads keep hiding dead keys
    TxnTable.dropColumn(spark, t, "z")
    val snap2 = TxnTable.snapshot(spark, t)
    assert(snap2.columns.toSeq === Seq("id", "v") && snap2.count() === 19)
    // compact applies everything and converges
    val expect = snap2.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    val vc = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, vc).isEmpty)
    assert(TxnTable.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === expect, "compact diverged from the MoR read")
  }

  test("tombstone key files are read with their footer schema, never " +
      "an inference job") {
    val s = spark
    import s.implicits._
    val t = freshTable("mor_footer_schema")
    TxnTable.create(spark, t,
      (0L until 20L).map(i => (i, s"r$i")).toDF("k", "v"))
    TxnTable.deleteKeysMor(spark, t, Seq(3L).toDF("k"), "k")
    TxnTable.deleteKeysMor(spark, t, Seq(4L).toDF("k"), "k")
    def jobs = SpecBus.jobsDuring(spark.sparkContext)(TxnTable.snapshot(spark, t))
    // building the snapshot over two pending tombstones runs no Spark job
    assert(jobs === 0)
    // the footer schema is the schema a schema-less read infers
    def parity(kind: String): Unit = {
      val dels = TxnTable.deleteFiles(spark, t, TxnTable.currentVersion(spark, t))
      assert(dels.nonEmpty)
      dels.foreach { case (p, rec, _) =>
        val path = TxnTable.pathFor(t, p)
        assert(org.apache.spark.sql.graftbridge.Bridge.parquetSchema(spark,
          new org.apache.hadoop.fs.Path(path)) === spark.read.parquet(path).schema,
          s"$kind: footer schema of the $rec file $p")
      }
    }
    parity("plain")
    TxnTable.rewriteTombstones(spark, t)
    assert(TxnTable.deleteFiles(spark, t, TxnTable.currentVersion(spark, t))
      .map(_._2) === Seq("k~L"))
    parity("bounded")
    TxnTable.deleteKeysMor(spark, t, Seq(5L).toDF("k"), "k")
    TxnTable.renameColumn(spark, t, "k", "id")
    parity("taken before a rename")
    TxnTable.dropColumn(spark, t, "id")
    parity("dropped key")
    // the dropped key's type comes from the footer too
    assert(jobs === 0)
    assert(TxnTable.snapshot(spark, t).as[String].collect().sorted.toSeq ===
      (0 until 20).filterNot(Set(3, 4, 5)).map(i => s"r$i").sorted)
  }

  test("dropping the tombstone KEY column keeps dead keys hidden " +
      "(retired physical rides the read)") {
    val s = spark
    import s.implicits._
    val t = freshTable("mor_dropkey")
    TxnTable.create(spark, t,
      (0L until 10L).map(i => (i, s"r$i")).toDF("k", "v"))
    TxnTable.applyChangesMor(spark, t,
      Seq((3L, "", "D"), (4L, "", "D")).toDF("k", "v", "op"), "k")
    TxnTable.dropColumn(spark, t, "k")
    val snap = TxnTable.snapshot(spark, t)
    assert(snap.columns.toSeq === Seq("v"))
    assert(snap.as[String].collect().sorted.toSeq ===
      (0 until 10).filterNot(i => i == 3 || i == 4).map(i => s"r$i"),
      "dropping the key column resurrected tombstoned rows")
    // compact still converges to a clean, tombstone-free version
    val vc = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, vc).isEmpty)
    assert(TxnTable.snapshot(spark, t).as[String].collect().sorted.length
      === 8)
    // the '~L' suffix is reserved for bounded tombstone lines: a key
    // column named with it would mis-parse every later read
    val t2 = freshTable("mor_reserved")
    TxnTable.create(spark, t2,
      Seq((1L, "a"), (2L, "b")).toDF("k~L", "v"))
    val e = intercept[IllegalArgumentException] {
      TxnTable.deleteKeysMor(spark, t2,
        Seq(1L).toDF("k~L"), "k~L")
    }
    assert(e.getMessage.contains("~L"), e.getMessage.take(160))
    intercept[IllegalArgumentException] {
      TxnTable.applyChangesMor(spark, t2,
        Seq((1L, "x", "D")).toDF("k~L", "v", "op"), "k~L")
    }
  }

  test("compactRange composes with pending MoR tombstones: the hot " +
      "region materializes its deletes, the cold bulk carries verbatim") {
    val s = spark
    import s.implicits._
    val t = freshTable("cr_mor")
    // 4 key-ranged files, then a second HOT file via append (two files
    // intersect the hot quarter — something to merge)
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      (0L until 100L).filterNot(i => i >= 10 && i < 20)
        .map(i => (i, s"r$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      "k"), expected = -1L, op = "create",
      schemaJson = new org.apache.spark.sql.types.StructType()
        .add("k", "long", nullable = false)
        .add("v", "string", nullable = true).json)
    TxnTable.append(spark, t,
      (10L until 20L).map(i => (i, s"r$i")).toDF("k", "v").repartition(1))
    // tombstone scattered across HOT (k<25) and COLD regions
    TxnTable.deleteKeysMor(spark, t,
      Seq(3L, 7L, 50L, 90L).toDF("k"), "k")
    val mBefore = TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t))
    val v = TxnTable.compactRange(spark, t, "k", 0L, 24L)
    val mAfter = TxnTable.manifest(spark, t, v)
    // cold lines byte-identical; tombstone still pending (it must keep
    // applying to the UNTOUCHED cold files)
    def cold(m: TxnTable.Manifest) = m.entries.filter(e =>
      e.stats.exists(st => st.col == "k" && st.lo >= 25))
    assert(cold(mAfter) === cold(mBefore),
      "compactRange touched cold entries")
    assert(mAfter.deletes === mBefore.deletes,
      "compactRange must carry pending tombstones for the cold bulk")
    assert(mAfter.metrics("untouched") >= 3)
    // content: all four deletes visible — hot ones materialized into
    // the rewritten files, cold ones via the carried tombstone
    val got = TxnTable.snapshot(spark, t).as[(Long, String)]
      .collect().map(_._1).sorted.toSeq
    assert(got === (0L until 100L).filterNot(Set(3L, 7L, 50L, 90L)),
      s"wrong content after ranged compaction")
    // the rewritten hot files escaped the tombstone (fresh seq): a
    // full compact converges with no content change
    val vc = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, vc).isEmpty)
    assert(TxnTable.snapshot(spark, t).count() === 96)
  }

  test("applyChangesMor(cdc=true) publishes an exact signed feed: " +
      "ghost deletes and no-op updates vanish, pre-images are OLD values") {
    val s = spark
    import s.implicits._
    val t = freshTable("mor_cdc_feed")
    TxnTable.create(spark, t,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    val v1 = TxnTable.applyChangesMor(spark, t, Seq(
      (1L, "", "D"),      // delete: -1 with OLD value
      (2L, "b2", "U"),    // update: -1 old, +1 new
      (3L, "c", "U"),     // NO-OP update: must not appear
      (9L, "", "D"),      // ghost delete: must not appear
      (5L, "e", "U")      // insert: +1
    ).toDF("k", "v", "op"), "k", cdc = true)
    val refs = TxnTable.manifest(spark, t, v1).cdcRefs
    assert(refs.size === 1, s"one feed file per commit: $refs")
    val feed = spark.read.parquet(refs.map(r => s"$t/$r"): _*)
      .select("k", "w", "v").as[(Long, Int, String)].collect().sorted.toSeq
    assert(feed === Seq((1L, -1, "a"), (2L, -1, "b"), (2L, 1, "b2"),
      (5L, 1, "e")), s"feed rows: $feed")
    // the feed telescopes: v0 + signed feed == v1 content
    val folded = TxnTable.snapshot(spark, t, 0).withColumn("w", lit(1))
      .select("k", "v", "w")
      .unionByName(spark.read.parquet(refs.map(r => s"$t/$r"): _*)
        .select("k", "v", "w"))
      .groupBy("k", "v").agg(sum("w").as("w")).filter(col("w") =!= 0)
      .select("k", "v").as[(Long, String)].collect().sorted.toSeq
    assert(folded === TxnTable.snapshot(spark, t, v1)
      .as[(Long, String)].collect().sorted.toSeq)
  }

  test("rewriteTombstones collapses K equality-delete files into one " +
      "bounded file, content-invariant, entries verbatim") {
    val s = spark
    import s.implicits._
    val t = freshTable("mor_rewrite")
    TxnTable.create(spark, t,
      (0L until 40L).map(i => (i, s"r$i")).toDF("k", "v"))
    // five MoR merges: deletes, updates (delete + re-insert at the
    // same seq), inserts, and a RE-DELETE of a previously updated key
    // — the per-key "newest delete wins" boundary must survive
    TxnTable.applyChangesMor(spark, t,
      Seq((1L, "", "D"), (2L, "u2a", "U")).toDF("k", "v", "op"), "k")
    TxnTable.applyChangesMor(spark, t,
      Seq((3L, "", "D"), (2L, "u2b", "U")).toDF("k", "v", "op"), "k")
    TxnTable.applyChangesMor(spark, t,
      Seq((5L, "", "D"), (100L, "new", "U")).toDF("k", "v", "op"), "k")
    TxnTable.applyChangesMor(spark, t,
      Seq((2L, "", "D")).toDF("k", "v", "op"), "k") // kill the update
    TxnTable.applyChangesMor(spark, t,
      Seq((7L, "", "D"), (5L, "back5", "U")).toDF("k", "v", "op"), "k")
    val cur = TxnTable.currentVersion(spark, t)
    assert(TxnTable.deleteFiles(spark, t, cur).size === 5)
    val before = TxnTable.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    // sanity on the scenario itself: 1,2,3,7 dead; 5 resurrected; 100 in
    assert(!before.exists(p => Set(1L, 2L, 3L, 7L)(p._1)))
    assert(before.contains((5L, "back5")) && before.contains((100L, "new")))
    val mBefore = TxnTable.manifest(spark, t, cur)
    val v = TxnTable.rewriteTombstones(spark, t)
    val mAfter = TxnTable.manifest(spark, t, v)
    assert(mAfter.entries === mBefore.entries,
      "tombstone rewrite touched data entries")
    assert(mAfter.deletes.size === 1 &&
      mAfter.deletes.head._2 === "k~L",
      s"expected ONE bounded tombstone, got ${mAfter.deletes}")
    assert(mAfter.metrics === Map("collapsed" -> 5L, "tombstones" -> 1L))
    val after = TxnTable.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(after === before, "tombstone rewrite changed table content")
    // SCALE: the bounded-kill seq lookup must ride a broadcast relation,
    // never an O(#files) map literal baked into the plan's expression
    // tree — on a million-file table that literal serializes multi-MB
    // into EVERY task. Assert the read plan of the bounded-tombstone
    // table carries no MapType literal anywhere.
    val boundedPlan =
      TxnTable.snapshot(spark, t).queryExecution.optimizedPlan
    val mapLits = boundedPlan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType.isInstanceOf[
              org.apache.spark.sql.types.MapType] => l
      })
    }.flatten
    assert(mapLits.isEmpty,
      s"bounded-tombstone read plan embeds ${mapLits.size} map literal(s)")
    // a pinned pre-rewrite version still reads through the old files
    assert(TxnTable.snapshot(spark, t, cur).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === before)
    // later MoR merges keep landing on top of the bounded file, and a
    // second rewrite folds plain + bounded back into one
    TxnTable.applyChangesMor(spark, t,
      Seq((9L, "", "D")).toDF("k", "v", "op"), "k")
    val v2 = TxnTable.rewriteTombstones(spark, t)
    assert(TxnTable.deleteFiles(spark, t, v2).size === 1)
    assert(!TxnTable.snapshot(spark, t).as[(Long, String)].collect()
      .exists(_._1 == 9L))
    // compact still converges to a clean tombstone-free version
    val vc = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, vc).isEmpty)
    assert(TxnTable.snapshot(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      === before.filterNot(_._1 == 9L))
  }

  test("a branch ref advance is atomic: readers never find the branch missing") {
    val t = freshTable("branch_advance")
    TxnTable.create(spark, t, baseDf(10))
    TxnTable.branch(spark, t, "b")
    val bd = TxnTable.branchDir(spark, t, "b")
    @volatile var done = false
    val misses = new java.util.concurrent.atomic.AtomicLong
    val polls = new java.util.concurrent.atomic.AtomicLong
    def missing(read: => Boolean): Unit =
      try { if (!read) misses.incrementAndGet() }
      catch { case _: java.io.FileNotFoundException => misses.incrementAndGet() }
    val reader = new Thread(() => while (!done) {
      missing(TxnTable.branchInfo(spark, t, "b").nonEmpty)
      missing(TxnTable.branches(spark, t).exists(_._1 == "b"))
      polls.incrementAndGet()
    })
    reader.start()
    try (1 to 40).foreach { _ =>
      // one metadata-only branch commit, then its fast-forward, which
      // replaces the ref with the new base
      val bv = TxnTable.currentVersion(spark, bd)
      TxnTable.commit(spark, bd, TxnTable.liveFiles(spark, bd, bv), bv)
      TxnTable.fastForward(spark, t, "b")
    } finally { done = true; reader.join() }
    assert(misses.get === 0,
      s"${misses.get} of ${polls.get} polls found branch 'b' missing")
    assert(TxnTable.branchInfo(spark, t, "b").map(_.base) ===
      Some(TxnTable.currentVersion(spark, t)))
  }

  test("branch merge: disjoint replays as metadata, true overlap " +
      "recomputes row-level, both-moved governance refuses, " +
      "from-branch and parent untouched") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("merge_conflict")
    TxnTable.create(spark, t, baseDf(100).repartition(2))
    TxnTable.branch(spark, t, "a")
    TxnTable.branch(spark, t, "b")
    val ad = s"$t/_branches/${TxnTable.branchInfo(spark, t, "a").get.leaf}"
    val bd = s"$t/_branches/${TxnTable.branchInfo(spark, t, "b").get.leaf}"
    // a: copy-on-write overwrite (drops k < 10) — removes every base
    // file; b: append + compact — ALSO removes every base file. The
    // two rewrote the same files: a metadata replay would be wrong,
    // so the merge must recompute at row level.
    TxnTable.overwrite(spark, ad,
      TxnTable.snapshot(spark, ad).filter(col("k") >= 10))
    TxnTable.append(spark, bd,
      (1000 until 1020).map(i => (i.toLong, s"new$i")).toDF("k", "v"))
    TxnTable.compact(spark, bd)
    val aHead = TxnTable.currentVersion(spark, ad)
    val v = TxnTable.mergeBranch(spark, t, "a", "b")
    assert(TxnTable.manifest(spark, bd, v).metrics.get("recomputed")
      === Some(1L), "overlapping merge did not recompute")
    val got = TxnTable.snapshot(spark, bd, v).select("k")
      .as[Long].collect().sorted.toSeq
    assert(got === ((10L until 100L) ++ (1000L until 1020L)).sorted.toSeq,
      "three-way merged content wrong")
    // the source branch and the parent never move
    assert(TxnTable.currentVersion(spark, ad) === aHead)
    assert(TxnTable.currentVersion(spark, t) === 0L)
    assert(TxnTable.snapshot(spark, ad).count() === 90L)
    // a REPEATED merge is a no-op (the merge marker remembers how far
    // `into` already carried `from` — no duplicate replay, ever)
    assert(TxnTable.mergeBranch(spark, t, "a", "b") === v)
    assert(TxnTable.snapshot(spark, bd, v).count() === 110L)
    // and a merge after `from` ADVANCES carries only the new delta
    TxnTable.append(spark, ad,
      (2000 until 2010).map(i => (i.toLong, s"late$i")).toDF("k", "v"))
    val v2 = TxnTable.mergeBranch(spark, t, "a", "b")
    val got2 = TxnTable.snapshot(spark, bd, v2).select("k")
      .as[Long].collect().sorted.toSeq
    assert(got2 === ((10L until 100L) ++ (1000L until 1020L) ++
      (2000L until 2010L)).sorted.toSeq,
      "incremental re-merge duplicated or lost rows")
    // both branches moving the same governance facet refuses loudly
    val t2 = freshTable("merge_gov")
    TxnTable.create(spark, t2, baseDf(10))
    TxnTable.branch(spark, t2, "c")
    TxnTable.branch(spark, t2, "e")
    val cd = s"$t2/_branches/${TxnTable.branchInfo(spark, t2, "c").get.leaf}"
    val ed = s"$t2/_branches/${TxnTable.branchInfo(spark, t2, "e").get.leaf}"
    TxnTable.addCheck(spark, cd, "pos", "k >= 0")
    TxnTable.addCheck(spark, ed, "small", "k < 1000000")
    val ex = intercept[IllegalStateException] {
      TxnTable.mergeBranch(spark, t2, "c", "e")
    }
    assert(ex.getMessage.contains("CHECK constraints"))
    // a merge with nothing to merge is a no-op at the target's head
    TxnTable.branch(spark, t2, "idle")
    assert(TxnTable.mergeBranch(spark, t2, "idle", "e")
      === TxnTable.currentVersion(spark, ed))
  }

  test("branch merge resumes from the lineage metric when the marker is " +
      "lost AND later commits buried the merge commit: no duplicate " +
      "replay, no removal-only wedge") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("merge_resume")
    TxnTable.create(spark, t, baseDf(40).repartition(2))
    TxnTable.branch(spark, t, "a")
    TxnTable.branch(spark, t, "b")
    val aLeaf = TxnTable.branchInfo(spark, t, "a").get.leaf
    val bLeaf = TxnTable.branchInfo(spark, t, "b").get.leaf
    val ad = s"$t/_branches/$aLeaf"
    val bd = s"$t/_branches/$bLeaf"
    val marker = java.nio.file.Paths.get(
      s"$t/_branches/.merges/$bLeaf", aLeaf)
    // --- add-delta duplication scenario ---
    TxnTable.append(spark, ad,
      (5000 until 5010).map(i => (i.toLong, s"x$i")).toDF("k", "v")
        .coalesce(1))
    TxnTable.mergeBranch(spark, t, "a", "b")
    val afterMerge = TxnTable.snapshot(spark, bd).count()
    // simulate a crash between the merge commit and its marker write,
    // then a compaction that BURIES the head metric and rewrites the
    // very files the in-loop skip guard would look for
    java.nio.file.Files.deleteIfExists(marker)
    TxnTable.compact(spark, bd)
    val vAfterCompact = TxnTable.currentVersion(spark, bd)
    assert(TxnTable.mergeBranch(spark, t, "a", "b") === vAfterCompact,
      "resumed merge was not a no-op after metric burial")
    assert(TxnTable.snapshot(spark, bd).count() === afterMerge,
      "resumed merge duplicated already-carried rows")
    // --- removal-only-delta wedge scenario (pure replay path) ---
    // an indexed 2-file table with exact k-range file boundaries, so a
    // bounded delete drops one whole file with NO re-staged survivors:
    // the from-delta is then removal-only and the in-loop skip guard
    // has no added files to use as a landing proof
    val t2 = freshTable("merge_wedge")
    val df2 = (0 until 40).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    TxnTable.commit(spark, t2,
      TxnTable.stageIndexed(spark, t2,
        TxnTable.clusterExact(spark, df2, "k", 0L, 39L, 2), Seq("k")),
      -1L, op = "create", schemaJson = df2.schema.json,
      idxCols = Seq("k"))
    TxnTable.branch(spark, t2, "a")
    TxnTable.branch(spark, t2, "b")
    val aL2 = TxnTable.branchInfo(spark, t2, "a").get.leaf
    val bL2 = TxnTable.branchInfo(spark, t2, "b").get.leaf
    val ad2 = s"$t2/_branches/$aL2"
    val bd2 = s"$t2/_branches/$bL2"
    TxnTable.delete(spark, ad2, col("k") >= 20L)
    assert(TxnTable.liveFiles(spark, ad2,
      TxnTable.currentVersion(spark, ad2)).size === 1,
      "delete did not produce a removal-only delta (whole-file drop)")
    TxnTable.mergeBranch(spark, t2, "a", "b")
    assert(TxnTable.snapshot(spark, bd2).count() === 20L)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      s"$t2/_branches/.merges/$bL2", aL2))
    TxnTable.append(spark, bd2, Seq((9000L, "bury")).toDF("k", "v"))
    val vB2 = TxnTable.currentVersion(spark, bd2)
    // without the lineage metric scan this re-merge re-derives the
    // removal delta and wedges on "replay removes X which the target
    // state does not list" — permanently
    assert(TxnTable.mergeBranch(spark, t2, "a", "b") === vB2,
      "resumed removal-only merge was not a no-op (wedge or re-replay)")
    assert(TxnTable.snapshot(spark, bd2).count() === 21L)
    // reserved namespace: a branch cannot claim the marker directory
    val exR = intercept[IllegalArgumentException] {
      TxnTable.branch(spark, t, ".merges")
    }
    assert(exR.getMessage.contains("reserved"))
  }

  test("positional dedup (deletion vectors): keep-first among exact " +
      "copies, zero rewrite, pinned reads intact, re-inserts survive, " +
      "compact folds the vector away") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("dedup_dv")
    // 60 distinct rows + a second copy of a third of them, spread
    // across files so copies straddle file boundaries
    val base = (0 until 60).map(i => (i.toLong, s"v$i"))
    val dups = base.filter(_._1 % 3 == 0)
    TxnTable.create(spark, t, base.toDF("k", "v").repartition(3))
    TxnTable.append(spark, t, dups.toDF("k", "v").repartition(2))
    val v1 = TxnTable.currentVersion(spark, t)
    val before = TxnTable.snapshot(spark, t).count()
    assert(before === 80L)
    val filesBefore = TxnTable.liveFiles(spark, t, v1)
    val v2 = TxnTable.dedupMor(spark, t, Seq("k", "v"))
    val m2 = TxnTable.manifest(spark, t, v2)
    // ZERO rewrite: entry paths byte-identical, one ~pos tombstone
    assert(m2.entries.map(_.path) === filesBefore)
    assert(m2.deletes.map(_._2) === Seq("~pos"))
    // content = exactly the distinct multiset (keeper per group)
    val got = TxnTable.snapshot(spark, t).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got === base.sortBy(_._1), "dedup lost or kept wrong copies")
    // the pinned pre-dedup version still sees every copy
    assert(TxnTable.snapshot(spark, t, v1).count() === 80L)
    // a dedup with nothing to kill is a NO-OP commit-wise
    assert(TxnTable.dedupMor(spark, t, Seq("k", "v")) === v2)
    // duplicates RE-INTRODUCED after the dedup land in newer files the
    // coordinates can never name — they stay visible (MoR sequencing)
    TxnTable.append(spark, t, dups.take(5).toDF("k", "v"))
    assert(TxnTable.snapshot(spark, t).count() === 65L)
    // compact applies the vector and clears it; content preserved
    val vc = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, vc).isEmpty)
    assert(TxnTable.snapshot(spark, t).count() === 65L)
    // rewriteTombstones must never collapse a positional line: a fresh
    // vector + one equality tombstone → only the equality collapses...
    val t3 = freshTable("dedup_dv_rw")
    TxnTable.create(spark, t3, base.toDF("k", "v").repartition(2))
    TxnTable.append(spark, t3, dups.toDF("k", "v"))
    TxnTable.dedupMor(spark, t3, Seq("k", "v"))
    TxnTable.deleteKeysMor(spark, t3, Seq(1L).toDF("k"), "k")
    TxnTable.deleteKeysMor(spark, t3, Seq(2L).toDF("k"), "k")
    TxnTable.rewriteTombstones(spark, t3)
    val m3 = TxnTable.manifest(spark, t3,
      TxnTable.currentVersion(spark, t3))
    assert(m3.deletes.map(_._2).sorted === Seq("k~L", "~pos"),
      s"wrong tombstone kinds after rewrite: ${m3.deletes.map(_._2)}")
    val expect3 = (0L until 60L).filterNot(k => k == 1L || k == 2L)
    assert(TxnTable.snapshot(spark, t3).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq === expect3)
    // ...and TWO vectors (a dedup-per-batch stream's accretion) UNION
    // into one at the lines' max seq — same kill set, fewer files
    TxnTable.append(spark, t3, dups.take(4).toDF("k", "v"))
    TxnTable.dedupMor(spark, t3, Seq("k", "v"))
    assert(TxnTable.manifest(spark, t3,
      TxnTable.currentVersion(spark, t3))
      .deletes.count(_._2 == "~pos") === 2)
    TxnTable.rewriteTombstones(spark, t3)
    val m4 = TxnTable.manifest(spark, t3,
      TxnTable.currentVersion(spark, t3))
    assert(m4.deletes.map(_._2).sorted === Seq("k~L", "~pos"),
      s"vector union wrong: ${m4.deletes.map(_._2)}")
    assert(TxnTable.snapshot(spark, t3).as[(Long, String)].collect()
      .map(_._1).sorted.toSeq === expect3,
      "vector union changed the kill set")
    // the merged vector is ONE (f, p)-sorted file: the read-side probe
    // touches one contiguous range per data file
    val vecRel = m4.deletes.find(_._2 == "~pos").get._1
    val coords = spark.read.parquet(TxnTable.pathFor(t3, vecRel))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(coords.sameElements(coords.sortBy(identity)),
      "merged vector must be (f, p)-sorted on disk")
  }

  test("deleteKeysMor with metrics: the tombstone and the restated " +
      "stats are ONE commit — never observable apart; time travel " +
      "answers the pre-retract state of both") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("mor_metrics")
    TxnTable.create(spark, t, baseDf(20))
    // hand-stamp v0 stats the way a posting store does
    TxnTable.commit(spark, t,
      TxnTable.manifest(spark, t, 0L).entries.map(TxnTable.render), 0L,
      op = "append", schemaJson = baseDf(20).schema.json,
      metrics = Seq("docs" -> 20L, "toks" -> 100L))
    val entries1 = TxnTable.manifest(spark, t, 1L).entries
      .map(TxnTable.render).toSet
    val v = TxnTable.deleteKeysMor(spark, t, Seq(1L, 2L, 3L).toDF("k"),
      "k", metrics = Seq("docs" -> 17L, "toks" -> 85L))
    val m = TxnTable.manifest(spark, t, v)
    // one commit: tombstone AND stats, entries untouched
    assert(m.deletes.size === 1 && m.op === "delete_mor")
    assert(m.metrics("docs") === 17L && m.metrics("toks") === 85L)
    assert(m.entries.map(TxnTable.render).toSet === entries1)
    assert(TxnTable.snapshot(spark, t).count() === 17L)
    // the pinned pre-retract version answers BOTH the rows and the stats
    assert(TxnTable.snapshot(spark, t, 1L).count() === 20L)
    assert(TxnTable.manifest(spark, t, 1L).metrics("docs") === 20L)
  }

  test("deleteIn: per-value verdicts keep untouched files verbatim on " +
      "range AND bucket16 layouts; a single-point file drops as pure " +
      "metadata; null keys survive; oversized sets fold to the envelope") {
    val s2 = spark
    import s2.implicits._
    // ---- RANGE layout: 4 tight 25-key files + a null-key row ----
    val t = freshTable("delin_range")
    val df = ((0 until 100).map(i => (Option(i.toLong), s"v$i")) :+
      ((None: Option[Long]) -> "vnull")).toDF("k", "v")
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      df.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      "k"), expected = -1L, op = "create", schemaJson = df.schema.json)
    // scattered members hit ONE file's box; 1000 hits nothing — a
    // [min,max]=[5,1000] RANGE would have rewritten every file
    val r1 = TxnTable.delete(spark, t, col("k").isin(5L, 7L, 1000L))
    assert(r1.rewritten === 1 && r1.dropped === 0,
      s"per-value verdicts must touch one file: $r1")
    assert(TxnTable.snapshot(spark, t).count() === 99L)
    assert(TxnTable.snapshot(spark, t).filter(col("k").isNull)
      .count() === 1L, "a NULL key must survive an IN delete")
    // ---- single-point file: every row IS a member → metadata drop ----
    TxnTable.append(spark, t,
      Seq.fill(5)((Option(1000L), "x")).toDF("k", "v").coalesce(1))
    val r2 = TxnTable.delete(spark, t, col("k").isin(1000L, 2000L))
    assert(r2.dropped === 1 && r2.rewritten === 0,
      s"a [v,v] file with v in the set must drop as metadata: $r2")
    assert(TxnTable.snapshot(spark, t).count() === 99L)
    // ---- bucket16 layout: ranges overlap fully, buckets prune ----
    val tb = freshTable("delin_bucket")
    val spec = "bucket16(k)"
    val base = (0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val withB = base.withColumn("__b", TxnTable.idxExpr(spec))
    TxnTable.commit(spark, tb, TxnTable.stageIndexed(spark, tb,
      TxnTable.clusterExact(spark, withB, "__b", 0L, 15L, 8).drop("__b"),
      Seq(spec)), expected = -1L, op = "create",
      schemaJson = base.schema.json)
    val nFiles = TxnTable.manifest(spark, tb, 0L).entries.size
    // two ids from adjacent keys: raw ranges span everything, but the
    // bucket boxes route them to at most 2 of the 8 bucket files
    val rb = TxnTable.delete(spark, tb, col("k").isin(13L, 14L))
    assert(rb.rewritten <= 2 && rb.kept >= nFiles - 2,
      s"bucket verdicts must prune the id list: $rb of $nFiles files")
    assert(TxnTable.snapshot(spark, tb).count() === 398L)
    // ---- oversized set folds to the envelope (exact result, no
    // O(files × values) planning) ----
    val tf = freshTable("delin_fold")
    TxnTable.create(spark, tf, baseDf(50))
    val big = (0L until 10500L).map(_ * 2 + 1) // odd ids: 1..20999
    val rf = TxnTable.delete(spark, tf, col("k").isin(big: _*))
    // envelope [1, 20999] overlaps the table: rewrite, exact residual
    val left = TxnTable.snapshot(spark, tf).select("k").as[Long]
      .collect().sorted.toSeq
    assert(left === (0L until 50L by 2L).toSeq,
      "envelope fold must keep the residual EXACT (odd keys deleted)")
    assert(rf.version > 0)
  }

  test("deleteInStr: per-value verdicts over truncated string stats " +
      "keep untouched files verbatim; single-point drop; null keys " +
      "survive; oversized sets fold; NULL members refuse") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("delins_range")
    // zero-padded uids: lexicographic == numeric order, 4 tight files
    def uid(i: Long) = f"u$i%06d"
    val df = ((0 until 100).map(i => (Option(uid(i)), s"v$i")) :+
      ((None: Option[String]) -> "vnull")).toDF("k", "v")
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      df.repartitionByRange(4, col("k")).sortWithinPartitions(col("k")),
      Nil, Seq("k")), expected = -1L, op = "create",
      schemaJson = df.schema.json, strIdxCols = Seq("k"))
    val entries0 = TxnTable.manifest(spark, t, 0L).entries
      .map(TxnTable.render).toSet
    // scattered members hit ONE file's box; u999999 hits nothing — a
    // [min,max] string RANGE would have rewritten every file
    val r1 = TxnTable.delete(spark, t,
      col("k").isin(uid(5), uid(7), "u999999"))
    assert(r1.rewritten === 1 && r1.dropped === 0 && r1.kept === 3,
      s"per-value string verdicts must touch one file: $r1")
    // the three untouched files carry BYTE-VERBATIM
    val after1 = TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t)).entries
      .map(TxnTable.render).toSet
    assert((entries0 & after1).size === 3)
    assert(TxnTable.snapshot(spark, t).count() === 99L)
    assert(TxnTable.snapshot(spark, t).filter(col("k").isNull)
      .count() === 1L, "a NULL key must survive an IN delete")
    // single-point file: every row IS the member → metadata drop (lo ==
    // hi == v is truncation-sound: it pins every row to v exactly)
    TxnTable.append(spark, t,
      Seq.fill(5)((Option("u999999"), "x")).toDF("k", "v").coalesce(1))
    val r2 = TxnTable.delete(spark, t,
      col("k").isin("u999999", "u888888"))
    assert(r2.dropped === 1 && r2.rewritten === 0,
      s"a [v,v] string file with v in the set must drop as metadata: $r2")
    assert(TxnTable.snapshot(spark, t).count() === 99L)
    // a single-point file that ALSO holds NULL keys must REWRITE, not
    // drop: the null count lives in StrStat (reading the integral
    // ColStat here would see no nulls and eat the NULL rows)
    TxnTable.append(spark, t,
      (Seq.fill(3)((Option("u777777"), "y")) :+
        ((None: Option[String]) -> "ynull")).toDF("k", "v").coalesce(1))
    val r2b = TxnTable.delete(spark, t, col("k").isin("u777777"))
    assert(r2b.dropped === 0 && r2b.rewritten >= 1,
      s"a [v,v] file holding NULL keys must rewrite, never drop: $r2b")
    assert(TxnTable.snapshot(spark, t).filter(col("k").isNull)
      .count() === 2L, "NULL keys must survive the single-point delete")
    // an ALL-NULL-key file records ("","") bounds: deleting the EMPTY
    // STRING must keep every NULL row (rewrite with exact residual)
    TxnTable.append(spark, t,
      Seq.fill(4)((None: Option[String], "z")).toDF("k", "v").coalesce(1))
    val before = TxnTable.snapshot(spark, t).count()
    val rEmpty = TxnTable.delete(spark, t, col("k").isin(""))
    assert(rEmpty.dropped === 0,
      s"IN ('') must never metadata-drop an all-NULL file: $rEmpty")
    assert(TxnTable.snapshot(spark, t).count() === before,
      "deleting the empty string must not remove NULL-keyed rows")
    // oversized set folds to the envelope; the residual stays exact
    val tf = freshTable("delins_fold")
    val df2 = (0 until 50).map(i => (uid(i), s"v$i")).toDF("k", "v")
    TxnTable.create(spark, tf, df2)
    val big = (0L until 10500L).map(i => uid(i * 2 + 1)) // odd uids
    TxnTable.delete(spark, tf, col("k").isin(big: _*))
    val left = TxnTable.snapshot(spark, tf).select("k").as[String]
      .collect().sorted.toSeq
    assert(left === (0L until 50L by 2L).map(uid),
      "envelope fold must keep the residual EXACT (odd uids deleted)")
    // a NULL member never matches (three-valued logic: `k IN (x, NULL)`
    // is NULL wherever k != x), so it deletes exactly uid(2)'s rows —
    // and the NULL-keyed rows survive
    def keys = TxnTable.snapshot(spark, t).select("k").collect()
      .map(r => Option(r.getString(0))).toSeq.sorted
    val beforeNull = keys
    assert(beforeNull.count(_.contains(uid(2))) === 1)
    TxnTable.delete(spark, t, col("k").isin(uid(2), null))
    assert(keys === beforeNull.filterNot(_.contains(uid(2))),
      "IN (uid(2), NULL) must delete exactly uid(2)'s rows")
    // cdc: the feed carries exactly the deleted rows, signed -1
    val r3 = TxnTable.delete(spark, t, col("k").isin(uid(11), uid(13)),
      cdc = true)
    val m3 = TxnTable.manifest(spark, t, r3.version)
    assert(m3.cdcRefs.nonEmpty)
    val feed = spark.read.parquet(m3.cdcRefs.map(r => s"$t/$r"): _*)
    assert(feed.select("k", "w").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet ===
      Set((uid(11), -1), (uid(13), -1)))
  }

  test("vacuum preview predicts the sweep exactly and touches nothing") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("vacprev")
    TxnTable.create(spark, t, (0 until 40)
      .map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2))
    TxnTable.append(spark, t, (40 until 60)
      .map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2))
    TxnTable.compact(spark, t)
    def dataFiles: Set[String] = {
      val dd = new org.apache.hadoop.fs.Path(t, "data")
      val f = dd.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(dd)) Set.empty
      else f.listStatus(dd).toSeq.filter(_.isDirectory).flatMap { d =>
        f.listStatus(d.getPath).toSeq.map(st =>
          s"data/${d.getPath.getName}/${st.getPath.getName}")
      }.toSet
    }
    val d0 = dataFiles
    val m0 = TxnTable.versions(spark, t).toSet
    val (pm, pf, pcdc) = TxnTable.vacuumPreview(spark, t, 1)
    // the preview changed NOTHING
    assert(dataFiles === d0 && TxnTable.versions(spark, t).toSet === m0,
      "vacuum preview touched the table")
    assert(pm.toSet === Set(0L, 1L) && pf.nonEmpty && pcdc.isEmpty,
      s"unexpected preview: $pm / ${pf.size} / $pcdc")
    // the real sweep removes EXACTLY the previewed set
    TxnTable.vacuum(spark, t, 1)
    assert(TxnTable.versions(spark, t).toSet === m0 -- pm)
    assert(dataFiles === d0 -- pf)
    // post-sweep the blast radius is zero
    val (pm2, pf2, pcdc2) = TxnTable.vacuumPreview(spark, t, 1)
    assert(pm2.isEmpty && pf2.isEmpty && pcdc2.isEmpty)
    // a TAG shields its version from the preview too (same keep sets)
    TxnTable.append(spark, t, Seq((99L, "x")).toDF("k", "v"))
    TxnTable.tag(spark, t, "keepme", TxnTable.currentVersion(spark, t))
    TxnTable.append(spark, t, Seq((100L, "y")).toDF("k", "v"))
    val tagged = TxnTable.tags(spark, t).toMap.apply("keepme")
    val (pm3, _, _) = TxnTable.vacuumPreview(spark, t, 1)
    assert(pm3.nonEmpty && !pm3.contains(tagged),
      "preview would sweep a tagged version")
  }

  test("predicate deletion vectors: arbitrary-predicate erasure with " +
      "zero rewrite, respelled table paths still apply the vector, " +
      "no-op without matches") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("dvdel")
    val base = (0 until 90).map(i => (i.toLong, i % 7, s"v$i"))
    TxnTable.create(spark, t, base.toDF("k", "m", "v").repartition(3))
    val v0 = TxnTable.currentVersion(spark, t)
    val files0 = TxnTable.liveFiles(spark, t, v0)
    // predicate over the UNINDEXED m column — victims in every file,
    // no key column could tombstone this
    val v1 = TxnTable.deleteWherePos(spark, t, col("m") === 3)
    val m1 = TxnTable.manifest(spark, t, v1)
    assert(m1.entries.map(_.path) === files0, "delete_dv rewrote data")
    assert(m1.deletes.map(_._2) === Seq("~pos"))
    val expect = base.filter(_._2 != 3).sortBy(_._1)
    assert(TxnTable.snapshot(spark, t).as[(Long, Int, String)]
      .collect().sortBy(_._1).toSeq === expect)
    // pinned pre-delete version intact
    assert(TxnTable.snapshot(spark, t, v0).count() === 90L)
    // a RESPELLED location of the same table (double slash) must still
    // apply the vector — coordinates are canonicalized on both sides,
    // so a respelling can never silently resurrect deleted rows
    val respelled = t.replaceFirst("/([^/]+)$", "//$1")
    assert(respelled !== t)
    assert(TxnTable.snapshot(spark, respelled).count()
      === expect.size.toLong,
      "respelled table path silently resurrected vectored rows")
    // no matching rows → no commit, no stray staged files
    assert(TxnTable.deleteWherePos(spark, t, col("m") === 99) === v1)
    // re-inserted matches are VISIBLE (fresh file the vector can't
    // name); the next predicate delete kills them too
    TxnTable.append(spark, t, Seq((1000L, 3, "x")).toDF("k", "m", "v"))
    assert(TxnTable.snapshot(spark, t).count() === expect.size + 1L)
    TxnTable.deleteWherePos(spark, t, col("m") === 3)
    assert(TxnTable.snapshot(spark, t).count() === expect.size.toLong)
    // vectors read with their fixed schema: building a snapshot over
    // two pending vectors runs no Spark job (a schema-less read infers
    // with one job per vector file)
    assert(SpecBus.jobsDuring(spark.sparkContext)(
      TxnTable.snapshot(spark, t)) === 0)
    // the collapse of the two vectors is its staged union write alone
    // (the distinct's shuffle stage and the write): no inference jobs
    val collapseJobs = SpecBus.jobsDuring(spark.sparkContext)(
      TxnTable.rewriteTombstones(spark, t))
    assert(collapseJobs === 2, s"vector collapse ran $collapseJobs jobs")
    assert(TxnTable.snapshot(spark, t).count() === expect.size.toLong)
    // compact folds the collapsed vector away; content preserved
    val vc = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, vc).isEmpty)
    assert(TxnTable.snapshot(spark, t).as[(Long, Int, String)]
      .collect().sortBy(_._1).toSeq === expect)
  }

  test("deletion-vector update: one commit kills-and-rewrites matching " +
      "rows only, never its own fresh files; repeated updates compose; " +
      "unknown column and no-match refuse/no-op") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("dvupd")
    val base = (0 until 60).map(i => (i.toLong, (i % 5).toLong, s"v$i"))
    TxnTable.create(spark, t, base.toDF("k", "m", "v").repartition(3))
    val v0 = TxnTable.currentVersion(spark, t)
    val files0 = TxnTable.liveFiles(spark, t, v0)
    val v1 = TxnTable.updateWherePos(spark, t, col("m") === 2L,
      Seq(("v", concat(col("v"), lit("!"))), ("m", col("m") + 100L)))
    val m1 = TxnTable.manifest(spark, t, v1)
    // untouched entries verbatim (entry lines are SORTED in the
    // manifest, so fresh files interleave — subset, not prefix),
    // fresh files appended, one vector
    assert(files0.toSet.subsetOf(m1.entries.map(_.path).toSet))
    assert(m1.entries.size > files0.size)
    assert(m1.deletes.map(_._2) === Seq("~pos"))
    val expect1 = base.map { case (k, m, v) =>
      if (m == 2L) (k, m + 100L, v + "!") else (k, m, v) }.sortBy(_._1)
    assert(TxnTable.snapshot(spark, t).as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq === expect1,
      "update changed the wrong rows or ate its own writes")
    assert(TxnTable.snapshot(spark, t, v0).as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq === base.sortBy(_._1),
      "pinned pre-update version drifted")
    // a second update hits rows the FIRST update wrote (fresh files,
    // newer vector) — updates compose across generations
    val v2 = TxnTable.updateWherePos(spark, t, col("m") === 102L,
      Seq(("v", concat(col("v"), lit("?")))))
    val expect2 = expect1.map { case (k, m, v) =>
      if (m == 102L) (k, m, v + "?") else (k, m, v) }
    assert(TxnTable.snapshot(spark, t).as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq === expect2)
    assert(v2 > v1)
    // no-match update is a NO-OP commit-wise; unknown column refuses
    assert(TxnTable.updateWherePos(spark, t, col("m") === 999L,
      Seq(("v", lit("x")))) === v2)
    intercept[IllegalArgumentException] {
      TxnTable.updateWherePos(spark, t, col("m") === 2L,
        Seq(("nope", lit("x"))))
    }
    intercept[IllegalArgumentException] { // duplicate target refuses
      TxnTable.updateWherePos(spark, t, col("m") === 0L,
        Seq(("v", lit("x")), ("v", lit("y"))))
    }
    // SQL UPDATE's SIMULTANEOUS assignment semantics: a column swap
    // swaps — every RHS sees the PRE-update row, never an earlier
    // assignment's result
    val tSwap = freshTable("dvupd_swap")
    TxnTable.create(spark, tSwap,
      Seq((1L, 10L, 20L)).toDF("k", "a", "b"))
    TxnTable.updateWherePos(spark, tSwap, col("k") === 1L,
      Seq(("a", col("b")), ("b", col("a"))))
    assert(TxnTable.snapshot(spark, tSwap).as[(Long, Long, Long)]
      .collect().toSeq === Seq((1L, 20L, 10L)),
      "assignments leaked earlier targets' new values into later RHS")
    // compact folds both vectors; content preserved
    val vc = TxnTable.compact(spark, t)
    assert(TxnTable.deleteFiles(spark, t, vc).isEmpty)
    assert(TxnTable.snapshot(spark, t).as[(Long, Long, String)]
      .collect().sortBy(_._1).toSeq === expect2)
  }

  test("recluster refuses unindexed-to-indexed over stat-less files; " +
      "reindex backfills exact stats with one scan and zero rewrites") {
    val s2 = spark
    import s2.implicits._
    val t = freshTable("reindex")
    TxnTable.create(spark, t,
      (0 until 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(4))
    // header-only indexing would make every live file read as a
    // zero-row sentinel (CBO rows, metadata aggregates) — refused
    val ex = intercept[IllegalArgumentException] {
      TxnTable.recluster(spark, t, Seq("k"))
    }
    assert(ex.getMessage.contains("reindex"))
    val before =
      TxnTable.liveFiles(spark, t, TxnTable.currentVersion(spark, t))
    val v = TxnTable.reindex(spark, t, Seq("k"))
    val m = TxnTable.manifest(spark, t, v)
    assert(m.idxCols === Seq("k"))
    // the SAME files (no rewrite, seqs preserved), now fully stat-ed
    assert(m.entries.map(_.path) === before)
    assert(m.entries.forall(e => e.stats.nonEmpty && e.hlls.nonEmpty &&
      e.bytes > 0))
    val (bytes, rows) = TxnTable.entriesBytesRows(m.entries)
    assert(rows === Some(200L), s"backfilled rows wrong: $rows")
    assert(bytes.exists(_ > 0))
    assert(m.entries.flatMap(_.statFor("k")).map(_._1).min === 0L)
    assert(m.entries.flatMap(_.statFor("k")).map(_._2).max === 199L)
    // with stats live, changing WHICH columns cluster is metadata-only
    // again (no refusal: every entry now carries groups)
    val v2 = TxnTable.recluster(spark, t, Seq("k"), Nil)
    assert(TxnTable.manifest(spark, t, v2).entries.map(_.path) === before)
  }

  test("bucket16 transform: point equality prunes via bucket stats on " +
      "BOTH read paths; range stats would prune nothing") {
    val s2 = spark
    import s2.implicits._
    import graft.sources.GraftCatalog
    GraftCatalog.register(spark)
    // a catalog table, so the SQL (DSv2) read and the library read see
    // the same files
    val t = s"${GraftCatalog.defaultWarehouse}/txnspec/bucket_tx"
    Fs.deleteRecursively(t)
    val df = (0L until 320L).map(i => (i, s"v$i")).toDF("k", "v")
    val spec = "bucket16(k)"
    val withB = df.withColumn("__b", TxnTable.idxExpr(spec))
    val clustered = TxnTable
      .clusterExact(spark, withB, "__b", 0L, 15L, 8).drop("__b")
    TxnTable.commit(spark, t,
      TxnTable.stageIndexed(spark, t, clustered, Seq(spec)),
      -1L, op = "create", schemaJson = df.schema.json)
    // bucket-clustered files span the whole RAW keyspace — the layout
    // where range stats are useless and bucket stats are the only prune
    val (snap, scanned, total) =
      TxnTable.snapshotWhere(spark, t, col("k") === 137L)
    assert(total === 8 && scanned >= 1 && scanned < total,
      s"bucket prune did not bite: $scanned/$total")
    assert(snap.select("v").as[String].collect().toSeq === Seq("v137"))
    // the SQL (DSv2) read keeps the same files for the same equality
    val k0 = GraftCatalog.scanKept.get
    val sqlRows = spark.sql("SELECT v FROM graft.txnspec.bucket_tx " +
      "WHERE k = 137").as[String].collect().toSeq
    assert(GraftCatalog.scanKept.get - k0 === scanned,
      "the SQL read and the library read kept different files")
    assert(sqlRows === Seq("v137"))
    // every key resolves through its bucket (no false prune anywhere)
    (0L until 320L by 37L).foreach { k =>
      val (sk, _, _) = TxnTable.snapshotWhere(spark, t, col("k") === k)
      assert(sk.select("v").as[String].collect().toSeq === Seq(s"v$k"),
        s"bucket lookup lost key $k")
    }
  }

  test("days(ts) transform: stats survive append and compact, " +
      "time-range reads prune metadata-only, content exact") {
    val t = freshTable("days_tx")
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("ts"))
    val half = ev.filter(col("event_id") % 2 === 0)
    val rest = ev.filter(col("event_id") % 2 =!= 0)
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      half.repartitionByRange(6, TxnTable.idxExpr("days(ts)"))
        .sortWithinPartitions(TxnTable.idxExpr("days(ts)")),
      Seq("days(ts)")), -1L, op = "create", schemaJson = ev.schema.json)
    // append re-stages with transform stats via the index header
    TxnTable.append(spark, t, rest)
    val m1 = TxnTable.manifest(spark, t, TxnTable.currentVersion(spark, t))
    assert(m1.idxCols === Seq("days(ts)"))
    assert(m1.entries.forall(e =>
      e.stats.isEmpty || e.stats.exists(_.col == "days(ts)")),
      "an appended file lost its transform stats")
    // a mid-span day range prunes files from the manifest alone and
    // returns exactly the residual filter's content
    val b = ev.agg(min("ts"), max("ts")).collect()(0)
    val dMin = TxnTable.epochDayMs(b.getTimestamp(0).getTime)
    val dMax = TxnTable.epochDayMs(b.getTimestamp(1).getTime)
    val from = new java.sql.Timestamp((dMin + (dMax - dMin) / 3) * 86400000L)
    val until = new java.sql.Timestamp(
      (dMin + 2 * (dMax - dMin) / 3) * 86400000L)
    val want = ev.filter(col("ts") >= lit(from) && col("ts") < lit(until))
      .select("event_id").as[Long](spark.implicits.newLongEncoder)
      .collect().sorted.toSeq
    val (snap, scanned, total) =
      TxnTable.snapshotWhere(spark, t,
        col("ts") >= lit(from) && col("ts") < lit(until))
    assert(scanned >= 1 && scanned < total,
      s"time-range read pruned nothing: $scanned/$total")
    val got = snap.select("event_id").as[Long](spark.implicits
      .newLongEncoder).collect().sorted.toSeq
    assert(got === want, "pruned time-range read lost or gained rows")
    // compact re-clusters BY the transform (idxExpr, not col-by-name):
    // the index header survives and the content is unchanged (the tiny
    // test table compacts to one file, so no prune assertion here)
    TxnTable.compact(spark, t)
    val m2 = TxnTable.manifest(spark, t, TxnTable.currentVersion(spark, t))
    assert(m2.idxCols === Seq("days(ts)"))
    val (snap2, _, _) =
      TxnTable.snapshotWhere(spark, t,
        col("ts") >= lit(from) && col("ts") < lit(until))
    val got2 = snap2.select("event_id").as[Long](spark.implicits
      .newLongEncoder).collect().sorted.toSeq
    assert(got2 === want, "time-range read after compact drifted")
  }

  test("maintenance rides commitResolving: interleaved appends rebase " +
      "with ZERO recompute, true overlap recomputes") {
    val s2 = spark
    import s2.implicits._
    def kv(r: Range, tag: String) =
      r.map(i => (i.toLong, s"$tag$i")).toDF("k", "v")
    val t = freshTable("maint_occ")
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t,
      kv(0 until 400, "r").repartitionByRange(8, col("k"))
        .sortWithinPartitions(col("k")), "k"), -1L, op = "create")

    // compactRange vs interleaved append: DISJOINT — pure rebase
    val o1 = TxnTable.compactRangeResolving(spark, t, "k", 0L, 99L,
      onWork = _ => if (TxnTable.currentVersion(spark, t) == 0L)
        TxnTable.append(spark, t, kv(400 until 420, "a")))
    assert(o1.rebases === 1 && o1.recomputes === 0,
      s"append must rebase a range compaction: $o1")
    assert(TxnTable.snapshot(spark, t).count() === 420)

    // full compact vs interleaved append: rebase; the appended files
    // ride the new manifest uncompacted
    val vPre = TxnTable.currentVersion(spark, t)
    val o2 = TxnTable.compactResolving(spark, t,
      onWork = _ => if (TxnTable.currentVersion(spark, t) == vPre)
        TxnTable.append(spark, t, kv(420 until 440, "b")))
    assert(o2.rebases === 1 && o2.recomputes === 0,
      s"append must rebase a full compaction: $o2")
    assert(TxnTable.snapshot(spark, t).count() === 440)

    // zorder vs interleaved append: rebase; the new index header lands
    val t2 = freshTable("maint_occ_z")
    TxnTable.create(spark, t2, (0 until 400)
      .map(i => (i.toLong, (i * 7 % 400).toLong)).toDF("k", "j")
      .repartition(4))
    val o3 = TxnTable.zorderResolving(spark, t2, Seq("k", "j"), files = 4,
      onWork = _ => if (TxnTable.currentVersion(spark, t2) == 0L)
        TxnTable.append(spark, t2, Seq((1000L, 1000L)).toDF("k", "j")))
    assert(o3.rebases === 1 && o3.recomputes === 0,
      s"append must rebase a zorder rewrite: $o3")
    assert(TxnTable.snapshot(spark, t2).count() === 401)
    assert(TxnTable.manifest(spark, t2, o3.version).idxCols
      === Seq("k", "j"))

    // compactRange vs interleaved MoR delete: TRUE overlap — the
    // rewritten rows would escape the new tombstone; must recompute,
    // and the recomputed rewrite reads THROUGH it. The range spans
    // both live files (the compacted [0,419] box and the rebased "b"
    // append) so the rewrite genuinely merges
    val done4 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val o4 = TxnTable.compactRangeResolving(spark, t, "k", 100L, 439L,
      onWork = _ => if (!done4.getAndSet(true))
        TxnTable.deleteKeysMor(spark, t, Seq(150L).toDF("k"), "k"))
    assert(o4.recomputes === 1,
      s"a new tombstone must recompute a range compaction: $o4")
    assert(TxnTable.snapshot(spark, t)
      .filter(col("k") === 150L).count() === 0)
    assert(TxnTable.snapshot(spark, t).count() === 439)

    // rewriteTombstones vs interleaved append: the collapse derives
    // from the delete set only — entry-only commits rebase
    TxnTable.deleteKeysMor(spark, t, Seq(10L).toDF("k"), "k")
    TxnTable.deleteKeysMor(spark, t, Seq(20L).toDF("k"), "k")
    val vR = TxnTable.currentVersion(spark, t)
    val o5 = TxnTable.rewriteTombstonesResolving(spark, t,
      onWork = _ => if (TxnTable.currentVersion(spark, t) == vR)
        TxnTable.append(spark, t, kv(440 until 450, "c")))
    assert(o5.rebases === 1 && o5.recomputes === 0,
      s"append must rebase a tombstone collapse: $o5")
    assert(TxnTable.deleteFiles(spark, t, o5.version).size === 1)
    val snap5 = TxnTable.snapshot(spark, t)
    assert(snap5.filter(col("k").isin(10L, 20L, 150L)).count() === 0)
    assert(snap5.count() === 447)

    // rewriteTombstones vs interleaved MoR delete: the derivation input
    // itself moved — recompute, and the NEW tombstone folds in
    TxnTable.deleteKeysMor(spark, t, Seq(30L).toDF("k"), "k")
    val done6 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val o6 = TxnTable.rewriteTombstonesResolving(spark, t,
      onWork = _ => if (!done6.getAndSet(true))
        TxnTable.deleteKeysMor(spark, t, Seq(40L).toDF("k"), "k"))
    assert(o6.recomputes === 1,
      s"a concurrent delete must recompute a tombstone collapse: $o6")
    assert(TxnTable.deleteFiles(spark, t, o6.version).size === 1)
    val snap6 = TxnTable.snapshot(spark, t)
    assert(snap6.filter(col("k").isin(30L, 40L)).count() === 0)
    assert(snap6.count() === 445)
  }

  test("overwrite on a column-mapped table carries mapping + retired ledger") {
    val s = spark
    import s.implicits._
    val t = freshTable("ow_mapped")
    TxnTable.create(spark, t,
      (0L until 10L).map(i => (i, s"r$i", i * 2)).toDF("k", "v", "z"))
    TxnTable.renameColumn(spark, t, "v", "u") // u frozen to physical 'v'
    TxnTable.dropColumn(spark, t, "z")        // 'z' retires
    val before = TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t))
    assert(before.retired.map(_._2) === Seq("z"))
    // an overwrite replaces the DATA, not the governance metadata
    TxnTable.overwrite(spark, t,
      (0L until 5L).map(i => (i, s"n$i")).toDF("k", "u"))
    val m = TxnTable.manifest(spark, t, TxnTable.currentVersion(spark, t))
    val sch = m.schema.get
    assert(sch.fieldNames.toSeq === Seq("k", "u"))
    assert(TxnTable.physName(sch.fields.find(_.name == "u").get) === "v",
      "overwrite reset the frozen physical name")
    assert(m.retired === before.retired,
      "overwrite dropped the retired-name ledger")
    // the staged files really carry PHYSICAL names (a later rename of
    // 'u' must keep resolving these files)
    val raw = spark.read.parquet(
      TxnTable.liveFiles(spark, t,
        TxnTable.currentVersion(spark, t)).map(r => s"$t/$r"): _*)
    assert(raw.columns.toSeq.sorted === Seq("k", "v"))
    assert(TxnTable.snapshot(spark, t).select("u").as[String]
      .collect().sorted.toSeq === (0 until 5).map(i => s"n$i"))
    // re-adding a column under the RETIRED name mints a generated
    // physical name — old files must never ghost-read as the new column
    TxnTable.overwrite(spark, t,
      (0L until 3L).map(i => (i, s"m$i", i + 100)).toDF("k", "u", "z"))
    val sch2 = TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t)).schema.get
    val z2 = sch2.fields.find(_.name == "z").get
    assert(TxnTable.physName(z2) !== "z",
      "re-added column reused the retired physical name")
    assert(TxnTable.snapshot(spark, t).select("z").as[Long]
      .collect().sorted.toSeq === Seq(100L, 101L, 102L))
    // overwriteCdc threads the same mapping: feed speaks LOGICAL names
    TxnTable.overwriteCdc(spark, t,
      (0L until 3L).map(i => (i, s"c$i", i + 200)).toDF("k", "u", "z"), "k")
    val v = TxnTable.currentVersion(spark, t)
    val feed = TxnTable.cdcSigned(spark, t, v - 1, v, "k")
    assert(feed.columns.contains("u") && feed.columns.contains("z"))
    assert(TxnTable.snapshot(spark, t).select("u").as[String]
      .collect().sorted.toSeq === Seq("c0", "c1", "c2"))
    val schCdc = TxnTable.manifest(spark, t, v).schema.get
    assert(TxnTable.physName(schCdc.fields.find(_.name == "u").get) === "v")
  }

  test("idempotence ledger: racing retries of the same (app, batch) " +
      "land exactly once; the ledger carries through unrelated commits") {
    val t = freshTable("txn_ledger")
    TxnTable.create(spark, t, baseDf(10))
    // two concurrent retries of the same batch: the CAS + recheck must
    // serialize them so exactly ONE lands (the loser re-reads the
    // ledger at its new base and aborts as already-applied)
    val delta = baseDf(10).withColumn("k", col("k") + 100L)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val landed = Await.result(Future.sequence((1 to 2).map(_ =>
      Future(TxnTable.appendIdempotent(spark, t, delta, "job", 0L)))),
      120.seconds).flatten
    assert(landed.size === 1, s"racing retries landed ${landed.size} times")
    assert(TxnTable.snapshot(spark, t).count() === 20L)
    // replay after the fact: still skipped, nothing staged survives
    assert(TxnTable.appendIdempotent(spark, t, delta, "job", 0L).isEmpty)
    // the racing loser and the replays must leave NO orphan staged
    // files: everything under data/ is referenced by some manifest
    locally {
      val dataDir = new org.apache.hadoop.fs.Path(s"$t/data")
      val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(dataDir, true)
      var onDisk = Set.empty[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet"))
          onDisk += s"data/${f.getParent.getName}/${f.getName}"
      }
      val referenced = TxnTable.versions(spark, t).flatMap(v =>
        TxnTable.manifest(spark, t, v).liveFiles).toSet
      assert(onDisk === referenced,
        s"orphans left by skipped applications: ${onDisk -- referenced}")
    }
    // at-or-below rule: an OLDER batch id of the same app also skips
    assert(TxnTable.appendIdempotent(spark, t, delta, "job", -5L).isEmpty)
    // unrelated commits (plain append, compact) carry the ledger —
    // commit() threads it unconditionally, no caller cooperation needed
    TxnTable.append(spark, t, baseDf(5).withColumn("k", col("k") + 500L))
    TxnTable.compact(spark, t)
    assert(TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t)).txns === Map("job" -> 0L))
    assert(TxnTable.appendIdempotent(spark, t, delta, "job", 0L).isEmpty)
    assert(TxnTable.snapshot(spark, t).count() === 25L)
    // a NEWER batch of the same app lands, advancing the ledger
    assert(TxnTable.appendIdempotent(spark, t,
      baseDf(3).withColumn("k", col("k") + 900L), "job", 1L).isDefined)
    assert(TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t)).txns === Map("job" -> 1L))
  }

  test("multi-table transaction: a concurrent plain writer ABORTS an " +
      "undecided transaction instead of waiting; the retry then lands " +
      "both tables") {
    val t1 = freshTable("multi_t1")
    val t2 = freshTable("multi_t2")
    TxnTable.create(spark, t1, baseDf(20))
    TxnTable.create(spark, t2, baseDf(10))
    val d1 = baseDf(5).withColumn("k", col("k") + 100L)
    val d2 = baseDf(5).withColumn("k", col("k") + 200L)
    val staged = TxnTable.stageMulti(spark, Seq(t1 -> d1, t2 -> d2))
    // in the undecided window (pends placed, marker not yet written) a
    // plain append races for t1's slot: it must abort the transaction
    // through the arbiter and land — never wait, never clobber
    val r = TxnTable.prepareDecide(spark, staged, finalize = true,
      onPrepared = () => TxnTable.append(spark, t1,
        baseDf(3).withColumn("k", col("k") + 900L)))
    assert(r.isEmpty, "an aborted attempt must report no landed versions")
    // the writer's append is v1 of t1; t2 untouched — and NO pend left
    assert(TxnTable.versions(spark, t1) === Seq(0L, 1L))
    assert(TxnTable.versions(spark, t2) === Seq(0L))
    assert(TxnTable.snapshot(spark, t1).count() === 23L)
    assert(TxnTable.snapshot(spark, t2).count() === 10L)
    Seq(t1, t2).foreach { t =>
      val ld = new org.apache.hadoop.fs.Path(s"$t/_log")
      val f = ld.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!f.listStatus(ld).exists(_.getPath.getName.contains(".pend.")),
        s"$t: aborted transaction left a pend")
    }
    // the retry (same staged files — appends rebase for free) lands both
    val r2 = TxnTable.prepareDecide(spark, staged, finalize = true)
    assert(r2.contains(Map(t1 -> 2L, t2 -> 1L)))
    assert(TxnTable.snapshot(spark, t1).count() === 28L)
    assert(TxnTable.snapshot(spark, t2).count() === 15L)
    // full content exact after the dust settles
    val got = TxnTable.snapshot(spark, t2).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (baseDf(10).collect() ++ d2.collect())
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want)
  }

  test("a crashed transaction's orphan pend blocks NOTHING: invisible " +
      "to readers, aborted by the next transaction on that slot") {
    val t1 = freshTable("multi_orphan1")
    val t2 = freshTable("multi_orphan2")
    TxnTable.create(spark, t1, baseDf(10))
    TxnTable.create(spark, t2, baseDf(10))
    // hand-plant the crash-before-marker state: an undecided pend at
    // t1's next slot whose arbiter file was never written
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(s"$t1/_txn/dead-0.done")
    val pend = new org.apache.hadoop.fs.Path(
      s"$t1/_log/00000001.pend.dead-0")
    val f = pend.getFileSystem(conf)
    val out = f.create(pend, false)
    out.write(s"#pendmarker=$marker\n#op=append\n".getBytes("UTF-8"))
    out.close()
    // readers: the orphan is invisible
    assert(TxnTable.versions(spark, t1) === Seq(0L))
    assert(f.exists(pend), "a plain read must NOT abort an undecided txn")
    // a later multi-table transaction on the same slot aborts it and
    // lands — a dead transaction can never block the table forever
    val landed = TxnTable.commitMultiAppend(spark,
      Seq(t1 -> baseDf(4).withColumn("k", col("k") + 100L),
        t2 -> baseDf(4).withColumn("k", col("k") + 200L)))
    assert(landed === Map(t1 -> 1L, t2 -> 1L))
    assert(!f.exists(pend), "the orphan pend must be swept by the abort")
    assert(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
      f.open(marker)), "UTF-8").trim === "abort")
    assert(TxnTable.snapshot(spark, t1).count() === 14L)
  }

  test("multi-table transaction: an undecided transaction is INVISIBLE " +
      "to readers; a committed-but-unfinalized one is completed by the " +
      "next read of each table") {
    val t1 = freshTable("multi_inv1")
    val t2 = freshTable("multi_inv2")
    TxnTable.create(spark, t1, baseDf(20))
    TxnTable.create(spark, t2, baseDf(10))
    val staged = TxnTable.stageMulti(spark,
      Seq(t1 -> baseDf(4).withColumn("k", col("k") + 100L),
        t2 -> baseDf(4).withColumn("k", col("k") + 200L)))
    // observe visibility INSIDE the undecided window
    var midCounts: (Long, Long) = (-1L, -1L)
    val r = TxnTable.prepareDecide(spark, staged, finalize = false,
      onPrepared = () => midCounts = (
        TxnTable.snapshot(spark, t1).count(),
        TxnTable.snapshot(spark, t2).count()))
    assert(midCounts === ((20L, 10L)),
      "an undecided transaction must be invisible to readers")
    assert(r.contains(Map(t1 -> 1L, t2 -> 1L)))
    // marker committed, finalize skipped: each table completes on read
    assert(TxnTable.snapshot(spark, t1).count() === 24L)
    assert(TxnTable.snapshot(spark, t2).count() === 14L)
    Seq(t1, t2).foreach { t =>
      val ld = new org.apache.hadoop.fs.Path(s"$t/_log")
      val f = ld.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!f.listStatus(ld).exists(_.getPath.getName.contains(".pend.")),
        s"$t: recovery left the pend behind")
    }
  }

  test("idempotent multi-table transaction: a crash between prepare " +
      "and marker leaves the batch invisible in ALL tables; the replay " +
      "lands it EXACTLY once; later replays skip through the ledger") {
    val ts = Seq("idem_multi1", "idem_multi2", "idem_multi3")
      .map(freshTable)
    ts.foreach(t => TxnTable.create(spark, t, baseDf(10)))
    def batch(shift: Long) = ts.map(t =>
      t -> baseDf(4).withColumn("k", col("k") + shift))
    // CRASH BEFORE THE MARKER: onPrepared fires after every pend is
    // placed and before the arbiter write — a throw there propagates
    // with NO abort and NO cleanup, exactly the dead-process state
    val boom = intercept[RuntimeException] {
      TxnTable.prepareDecide(spark, TxnTable.stageMulti(spark, batch(100)),
        finalize = true, onPrepared = () => throw new RuntimeException(
          "simulated crash"), txn = Some(("sink", 0L)))
    }
    assert(boom.getMessage === "simulated crash")
    ts.foreach { t =>
      assert(TxnTable.versions(spark, t) === Seq(0L),
        s"$t: an undecided crashed transaction must be invisible")
      assert(TxnTable.snapshot(spark, t).count() === 10L)
      val ld = new org.apache.hadoop.fs.Path(s"$t/_log")
      val f = ld.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(f.listStatus(ld).exists(_.getPath.getName.contains(".pend.")),
        s"$t: the crashed attempt's pend should still be parked")
    }
    // the REPLAY (the restart re-invoking the batch): aborts the orphan
    // pends in its way and lands the batch exactly once, in all three
    val landed = TxnTable.commitMultiIdempotent(spark, batch(100),
      "sink", 0L)
    assert(landed.isDefined && landed.get.values.toSet === Set(1L))
    ts.foreach { t =>
      assert(TxnTable.snapshot(spark, t).count() === 14L)
      assert(TxnTable.manifest(spark, t, 1L).txns === Map("sink" -> 0L),
        s"$t: the ledger must ride the transaction's own commit")
    }
    // a second replay of the same (app, batch): clean skip, no commit
    assert(TxnTable.commitMultiIdempotent(spark, batch(100), "sink", 0L)
      .isEmpty)
    ts.foreach(t => assert(TxnTable.versions(spark, t) === Seq(0L, 1L)))
    // CRASH AFTER THE MARKER (committed, unfinalized): every table
    // completes on its next read, ledger included — and the replay of
    // that batch reads the recovered ledger and skips
    val r2 = TxnTable.prepareDecide(spark,
      TxnTable.stageMulti(spark, batch(200)), finalize = false,
      txn = Some(("sink", 1L)))
    assert(r2.isDefined)
    ts.foreach { t =>
      assert(TxnTable.snapshot(spark, t).count() === 18L)
      assert(TxnTable.manifest(spark, t, 2L).txns === Map("sink" -> 1L))
    }
    assert(TxnTable.commitMultiIdempotent(spark, batch(200), "sink", 1L)
      .isEmpty)
    // an OLDER batch id of the same app also skips (at-or-below rule)
    assert(TxnTable.commitMultiIdempotent(spark, batch(300), "sink", 0L)
      .isEmpty)
    // a NEWER batch lands and advances the ledger
    assert(TxnTable.commitMultiIdempotent(spark, batch(300), "sink", 2L)
      .isDefined)
    ts.foreach(t => assert(TxnTable.manifest(spark, t,
      TxnTable.currentVersion(spark, t)).txns === Map("sink" -> 2L)))
  }

  test("multi-table transaction: an ADD COLUMN landing between staging " +
      "and prepare fails LOUDLY — the stale schema never commits") {
    val t1 = freshTable("multi_evolve1")
    val t2 = freshTable("multi_evolve2")
    TxnTable.create(spark, t1, baseDf(10))
    TxnTable.create(spark, t2, baseDf(10))
    val staged = TxnTable.stageMulti(spark,
      Seq(t1 -> baseDf(3).withColumn("k", col("k") + 100L),
        t2 -> baseDf(3).withColumn("k", col("k") + 200L)))
    // a concurrent evolve widens t1's schema; re-rendering the pend
    // from the staged df's schema would silently DROP the new column
    // from the committed table schema
    TxnTable.addColumns(spark, t1, Seq(
      org.apache.spark.sql.types.StructField("tier",
        org.apache.spark.sql.types.StringType)))
    val e = intercept[IllegalArgumentException] {
      TxnTable.prepareDecide(spark, staged, finalize = true)
    }
    assert(e.getMessage.contains("schema changed concurrently"), e.getMessage)
    // nothing landed, no pend left anywhere, the evolve SURVIVES
    assert(TxnTable.versions(spark, t1) === Seq(0L, 1L))
    assert(TxnTable.versions(spark, t2) === Seq(0L))
    Seq(t1, t2).foreach { t =>
      val ld = new org.apache.hadoop.fs.Path(s"$t/_log")
      val f = ld.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!f.listStatus(ld).exists(_.getPath.getName.contains(".pend.")),
        s"$t: failed transaction left a pend")
    }
    assert(TxnTable.snapshot(spark, t1).columns.contains("tier"))
  }

  test("a committed pend whose slot a plain writer took raises LOUDLY " +
      "instead of silently deleting the transaction's manifest") {
    val t = freshTable("multi_slotrace")
    TxnTable.create(spark, t, baseDf(10))
    TxnTable.append(spark, t, baseDf(2).withColumn("k", col("k") + 50L))
    // hand-plant the cross-process interleave END STATE: slot 1 is the
    // plain append above, and a pend for the SAME slot whose arbiter
    // already says COMMIT (the transaction decided before the writer's
    // rename landed — only reachable cross-process, where the two CAS
    // paths share no lock)
    val conf = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(s"$t/_txn/deadbeef-1.done")
    val pend = new org.apache.hadoop.fs.Path(
      s"$t/_log/00000001.pend.deadbeef-1")
    val f = pend.getFileSystem(conf)
    val mo = f.create(marker, false)
    mo.write("commit".getBytes("UTF-8")); mo.close()
    val po = f.create(pend, false)
    po.write(s"#pendmarker=$marker\n#op=append\n#seq=9\n".getBytes("UTF-8"))
    po.close()
    // partial transaction application must be DETECTABLE, not silently
    // erased: the read that discovers it raises, and keeps the evidence
    val e = intercept[IllegalStateException] {
      TxnTable.versions(spark, t)
    }
    assert(e.getMessage.contains("partially applied"), e.getMessage)
    assert(f.exists(pend), "the pend must be preserved for repair")
  }

  test("decimal index columns carry SOUND widened boxes (floor/ceil): " +
      "a boundary-fractional straggler survives the whole-file-drop " +
      "delete verdict; pruning still bites; floating point and wide " +
      "decimals refuse by name") {
    val s = spark
    import s.implicits._
    // ONE file whose true max (24.75) sits ABOVE its truncated long
    // cast (24) — the exact shape where a truncating box would declare
    // the file FULLY COVERED by [0, 24] and drop it whole, deleting
    // the straggler. The widened box must record ceil(24.75) = 25.
    val t = freshTable("dec_straggler")
    val one = (0 until 25).map(i => (i.toLong, i * 100L + 75L))
      .toDF("k", "cents")
      .select(col("k"), (col("cents") / lit(100))
        .cast("decimal(12,2)").as("p"))
      .coalesce(1)
    TxnTable.commit(spark, t, TxnTable.stageIndexed(spark, t, one, "p"),
      expected = -1L, op = "create", schemaJson = one.schema.json,
      idxCols = Seq("p"))
    val e0 = TxnTable.liveEntries(spark, t, 0)
    assert(e0.size === 1)
    assert(e0.head.statFor("p") === Some((0L, 25L)),
      s"widened box must be [floor(0.75), ceil(24.75)] = [0, 25], " +
        s"got ${e0.head.statFor("p")}")
    assert(e0.head.hlls.exists(_.col == "p"),
      "the NDV sketch must ride the widened stats pass")
    val del = TxnTable.delete(spark, t, col("p") >= 0L && col("p") <= 24L)
    assert(del.dropped === 0 && del.rewritten === 1,
      s"the widened box [0,25] is NOT contained in [0,24] — the file " +
        s"must rewrite with the exact residual, got $del")
    val left = TxnTable.snapshot(spark, t).select(col("p").cast("string"))
      .as[String].collect().toSeq
    assert(left === Seq("24.75"),
      s"only the straggler above the integral bound survives: $left")
    // a 4-file table still PRUNES on the decimal index (boxes sound in
    // the keep direction too), and the pruned read's content is exact
    val t4 = freshTable("dec_prune")
    val wide = (0 until 100).map(i => (i.toLong, i * 100L + 75L))
      .toDF("k", "cents")
      .select(col("k"), (col("cents") / lit(100))
        .cast("decimal(12,2)").as("p"))
      .repartitionByRange(4, col("p")).sortWithinPartitions(col("p"))
    TxnTable.commit(spark, t4,
      TxnTable.stageIndexed(spark, t4, wide, "p"),
      expected = -1L, op = "create", schemaJson = wide.schema.json,
      idxCols = Seq("p"))
    val (pruned, scanned, total) =
      TxnTable.snapshotWhere(spark, t4, col("p").between(30L, 40L))
    assert(scanned < total, s"the range read must prune ($scanned/$total)")
    assert(pruned.select(col("k")).as[Long].collect().sorted.toSeq ===
      (30L to 39L), "pruned content must equal the exact filter")
    // binary floating point refuses (NaN poisons the box algebra), a
    // decimal whose integral part can exceed long refuses too
    val tf = freshTable("dec_refuse_f")
    val eF = intercept[IllegalArgumentException] {
      TxnTable.stageIndexed(spark, tf,
        Seq((1L, 1.5)).toDF("k", "pd"), "pd")
    }
    assert(eF.getMessage.contains("floating-point"), eF.getMessage)
    val tw = freshTable("dec_refuse_w")
    val eW = intercept[IllegalArgumentException] {
      TxnTable.stageIndexed(spark, tw,
        Seq((1L, "1.50")).toDF("k", "pw")
          .select(col("k"), col("pw").cast("decimal(25,2)").as("pw")),
        "pw")
    }
    assert(eW.getMessage.contains("long box range"), eW.getMessage)
  }

  test("in-write stats render the staged lines a re-read of the files " +
      "renders, byte for byte") {
    val s = spark
    import s.implicits._
    val long = "ключ-\uD83D\uDE00-" * 4 // past the 16-char bound, surrogates
    val df = (0 until 240).map { i =>
      (if (i % 7 == 0) None else Some(i.toLong * 13 % 500 - 120),
        i % 9,
        BigDecimal(i * 37 % 1000 - 400) / 100,
        new java.sql.Timestamp(86400000L * (i % 40 - 20) + i * 977L),
        if (i % 11 == 0) None else Some(long.take(i % 29) + i))
    }.toDF("k", "i", "price", "ts", "name")
      .select(col("k"), col("i"), col("price").cast("decimal(12,2)").as("price"),
        col("ts"), col("name"))
    val idx = Seq("k", "i", "price", "days(ts)", "bucket16(k)")
    val str = Seq("name")
    def parity(name: String, frame: org.apache.spark.sql.DataFrame)
        : Seq[String] = {
      val t = freshTable(s"stats_parity_$name")
      val lines = TxnTable.stageIndexed(spark, t, frame, idx, str)
      assert(lines === StagedStats.rereadLines(spark, t,
        lines.map(_.split('\t').head), idx,
        str), s"$name: in-write stats differ from the re-read")
      lines
    }
    // a multi-file stage: every transform, widened decimal boxes,
    // truncated string bounds, files holding some nulls
    val multi = parity("multi", df.repartitionByRange(4, col("i")))
    assert(multi.size === 4 && multi.forall(TxnTable.hasStats))
    // an all-null file: the empty range for every spec and the string
    val allNull = parity("all_null", df.filter(col("k").isNull)
      .withColumn("price", lit(null).cast("decimal(12,2)"))
      .withColumn("ts", lit(null).cast("timestamp"))
      .withColumn("name", lit(null).cast("string")).coalesce(1))
    assert(allNull.head.contains("k\t0\t-1\t"), allNull.head)
    // a zero-row stage: one schema-carrying file, PATH-ONLY
    val empty = parity("zero_row", df.limit(0))
    assert(empty.size === 1 && !TxnTable.hasStats(empty.head))
    // long strings truncate in both bounds (lo a prefix, hi bumped)
    val one = parity("strings", df.filter(col("name").isNotNull).coalesce(1))
    assert(one.head.split('\t').contains("name~s"))
  }

  test("an indexed append is ONE Spark job: stats ride the write") {
    val t = freshTable("append_one_job")
    TxnTable.create(spark, t, baseDf(100))
    TxnTable.reindex(spark, t, Seq("k"), Seq("v"))
    val batch = baseDf(100).withColumn("k", col("k") + 1000L)
    TxnTable.append(spark, t, batch) // warm
    val jobs = SpecBus.jobsDuring(spark.sparkContext)(TxnTable.append(spark, t,
      batch.withColumn("k", col("k") + 1000L)))
    assert(jobs === 1, s"a 100-row indexed append ran $jobs Spark jobs")
    val m = TxnTable.manifest(spark, t, TxnTable.currentVersion(spark, t))
    assert(m.entries.forall(e =>
      e.statFor("k").nonEmpty && e.strStatFor("v").nonEmpty &&
        e.hllFor("k").nonEmpty && e.bytes > 0))
    val (pruned, scanned, total) =
      TxnTable.snapshotWhere(spark, t, col("k").between(2000L, 2009L))
    assert(scanned < total && pruned.count() === 10,
      s"the appended files' stats must prune ($scanned/$total)")
  }

  test("MoR reads match a model at relative, `..`, spaced and `//` paths") {
    val s = spark
    import s.implicits._
    val rel = s"target/graft_relspec_${ProcessHandle.current().pid()}"
    val abs = Fs.scratch("graft_txnspec", "spellings")
    Seq(rel, abs).foreach(Fs.deleteRecursively)
    new java.io.File(s"$abs/sub").mkdirs()
    val spellings = Seq(
      "relative" -> s"$rel/t",
      "dot-dot" -> s"$abs/sub/../dd/t",
      "space" -> s"$abs/with space/t",
      "doubled slash" -> s"$abs//dbl/t")
    try spellings.foreach { case (name, t) =>
      var model = (0L until 40L).map(i => i -> s"r$i").toMap
      TxnTable.create(spark, t, model.toSeq.toDF("k", "v").repartition(2))
      def check(step: String): Unit =
        assert(TxnTable.snapshot(spark, t).as[(Long, String)].collect()
          .sorted.toSeq === model.toSeq.sorted, s"$name: after $step")
      def deleteKinds: Seq[String] = TxnTable.manifest(spark, t,
        TxnTable.currentVersion(spark, t)).deletes.map(_._2)
      TxnTable.applyChangesMor(spark, t,
        Seq((1L, "", "D"), (2L, "u2", "U")).toDF("k", "v", "op"), "k")
      TxnTable.applyChangesMor(spark, t,
        Seq((3L, "", "D")).toDF("k", "v", "op"), "k")
      model = model -- Seq(1L, 3L) + (2L -> "u2")
      check("applyChangesMor")
      TxnTable.rewriteTombstones(spark, t)
      assert(deleteKinds === Seq("k~L"), name)
      check("rewriteTombstones")
      TxnTable.deleteWherePos(spark, t, col("k") % 5 === 0)
      model = model.filterNot(_._1 % 5 == 0)
      assert(deleteKinds.sorted === Seq("k~L", "~pos"), name)
      check("deleteWherePos")
      TxnTable.compact(spark, t)
      assert(deleteKinds.isEmpty, name)
      check("compact")
      TxnTable.reindex(spark, t, Seq("k"))
      check("reindex")
      val m = TxnTable.manifest(spark, t, TxnTable.currentVersion(spark, t))
      assert(m.entries.forall(e => e.statFor("k").nonEmpty && e.bytes > 0),
        s"$name: reindex left an entry without stats or byte size")
    } finally Seq(rel, abs).foreach(Fs.deleteRecursively)
  }

  test("a MoR snapshot is ONE data-file scan: default, tombstone, vector") {
    // a pending initial default, a tombstone keyed on the defaulted
    // column and a deletion vector all apply within one scan
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.{StringType, StructField}
    val t = freshTable("one_scan")
    TxnTable.create(spark, t, baseDf(20).repartition(2))
    TxnTable.addColumnsDefault(spark, t,
      Seq((StructField("tier", StringType), "'bronze'")))
    TxnTable.append(spark, t, Seq((100L, "a", "gold"), (101L, "b", "bronze"),
      (102L, "c", null)).toDF("k", "v", "tier"))
    TxnTable.deleteWherePos(spark, t, col("k") === 102L)
    // kills every OLDER row that READS bronze: the 20 pre-default rows
    // (filled) and 101 — not the NULL, which is no default
    TxnTable.deleteKeysMor(spark, t, Seq("bronze").toDF("tier"), "tier")
    TxnTable.append(spark, t, Seq((103L, "d", "bronze")).toDF("k", "v", "tier"))
    val v = TxnTable.currentVersion(spark, t)
    val snap = TxnTable.snapshot(spark, t, v)
    assert(snap.as[(Long, String, String)].collect().sorted.toSeq ===
      Seq((100L, "a", "gold"), (103L, "d", "bronze")))
    def norm(f: String): String = new org.apache.hadoop.fs.Path(f).toUri.getPath
    val live = TxnTable.liveFiles(spark, t, v).map(r => norm(s"$t/$r")).toSet
    val scans = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(snap.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.inputFiles.map(norm).toSet
      }
      .filter(_.exists(live))
    assert(scans === Seq(live), s"data-file scans: $scans")
    assert(!snap.queryExecution.analyzed.exists(
      _.output.exists(_.name == "__gpath")), "a scan-path column survived")
  }

  test("broadcast sizing: an unknown file size never broadcasts") {
    val t = freshTable("bcast_size")
    TxnTable.create(spark, t, baseDf(10))
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = TxnTable.liveFiles(spark, t, 0)
      .map(r => new org.apache.hadoop.fs.Path(s"$t/$r"))
    assert(TxnTable.broadcastable(f, live), "a measured small file must")
    val missing = new org.apache.hadoop.fs.Path(s"$t/data/gone.parquet")
    assert(!TxnTable.broadcastable(f, Seq(missing)),
      "a failed stat counted as small")
    assert(!TxnTable.broadcastable(f, live :+ missing))
  }

  test("the upsert preimage broadcasts its key file only under the size " +
      "guard") {
    val t = freshTable("preimage_guard")
    // 64-character hex keys barely compress: 200k of them make a key
    // file well over the 8 MiB broadcast limit
    val keys = spark.range(0, 200000)
      .select(sha2(col("id").cast("string"), 256).as("k"), col("id").as("v"))
    TxnTable.create(spark, t, keys.filter(col("v") < 100).coalesce(1))
    val hints = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        qe.analyzed.foreach {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
              if h.hints.strategy.contains(
                org.apache.spark.sql.catalyst.plans.logical.BROADCAST) =>
            hints.add(h.child.simpleString(80))
          case _ =>
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      TxnTable.applyChangesMor(spark, t,
        keys.withColumn("op", lit("U")), "k", cdc = true)
      SpecBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val m = TxnTable.manifest(spark, t, TxnTable.currentVersion(spark, t))
    val keyFile = new org.apache.hadoop.fs.Path(
      TxnTable.pathFor(t, m.deletes.head._1))
    val f = keyFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.getFileStatus(keyFile).getLen > (8L << 20),
      "the key file must exceed the broadcast limit")
    assert(!TxnTable.broadcastable(f, Seq(keyFile)))
    assert(hints.isEmpty, s"an upsert plan broadcast a guarded file: $hints")
    assert(TxnTable.snapshot(spark, t).count() === 200000)
  }
}
