package graft

import graft.operators.Dedup

/** MinHash-LSH quality contract: candidates that survive verification are
  * exactly a subset of the exact n-gram Jaccard pairs (no false
  * positives — verification guarantees it), with recall high enough to be
  * useful (the band parameters target >0.9 for Jaccard >= 0.8).
  */
class DedupSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("LSH pairs are a subset of exact Jaccard pairs with recall >= 0.5") {
    val s = spark
    import s.implicits._
    val exact = Dedup.ngramJaccard(s, sf01)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(s, sf01)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data has no near-dup pairs at sf0.01")
    assert((lsh -- exact).isEmpty,
      s"false positives survived verification: ${(lsh -- exact).take(3)}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("bucketed embed-cosine pairs: subset of exact, recall >= 0.9, pruned candidates") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val exact = Dedup.embedCosineExact(s, sf01)
      .as[(Long, Long)].collect().toSet
    val bucketed = Dedup.embedCosine(s, sf01)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test data has no cosine pairs at sf0.01")
    assert((bucketed -- exact).isEmpty,
      s"false positives survived verification: ${(bucketed -- exact).take(3)}")
    val recall = bucketed.intersect(exact).size.toDouble / exact.size
    // Dedup.embedCosine's scaladoc measures 84-93% recall for these tables
    // at this deliberately-hard tau depending on corpus/SF; assert the
    // documented worst case so the spec holds at any scale factor (sf0.01
    // itself clears 0.9 — its near-dup pairs are injected clones whose
    // cosine is far above tau, so the 8 tables rarely all miss)
    assert(recall >= 0.8, s"bucketed embed recall $recall")
    // the candidate space must be a strict subset of all pairs even at
    // this deliberately-hard tau (see embedCosine's scaladoc)
    val e = graft.Tables.embeddings(s, sf01)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = e.count()
    val tb = operators.Similarity.lshTables(e)
    val nCands = tb.select(col("t"), col("bucket"), col("vec_id").as("v1"))
      .join(tb.select(col("t"), col("bucket"), col("vec_id").as("v2")),
        Seq("t", "bucket"))
      .filter(col("v1") < col("v2"))
      .select("v1", "v2").distinct().count()
    assert(nCands < n * (n - 1) / 2 / 2,
      s"candidates $nCands not pruned vs ${n * (n - 1) / 2} pairs")
  }

  test("minhash LSH survives a 10k-member duplicate mega-cluster") {
    // the data shape LLM dedup exists for: one document duplicated en
    // masse. Anchored+chained in-bucket pairing must link every member to
    // the cluster representative (min doc_id) plus its predecessor in
    // O(n) pairs — never O(n²): B members → (B-1) anchor pairs and (B-2)
    // distinct chain pairs = 2B-3.
    val s = spark
    import org.apache.spark.sql.functions._
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the cat naps near the warm stone wall"
    val docs = s.range(10000)
      .select(col("id").as("doc_id"), lit(base).as("text"))
    val n = operators.Dedup.minhashLshDocs(docs).count()
    assert(n == 2L * 10000 - 3,
      s"expected anchor + chain pairs (2B-3 = 19997), got $n")
  }

  test("bucket pairing emits anchor AND chain links (false-anchor rescue)") {
    // a bucket {0,1,2} where the anchor 0 is a banding false positive:
    // anchor-only pairing emits (0,1),(0,2) — if both fail verification
    // the true pair (1,2) is lost. The chain link (1,2) must be generated
    // so verification can confirm it.
    val s = spark
    import s.implicits._
    val bands = Seq((0L, 0, 7L), (1L, 0, 7L), (2L, 0, 7L), (5L, 1, 9L))
      .toDF("doc_id", "band", "key")
    val pairs = operators.Dedup.bucketPairs(bands)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)),
      s"expected anchor pairs + chain pair, got $pairs")
  }

  test("hot-shingle doc-frequency cap bounds ngram candidate generation") {
    // stopword-heavy corpus: every doc shares one universal 3-gram but is
    // otherwise unique. Uncapped, that shingle alone emits n*(n-1)/2
    // candidate pairs; with the DF cap the pair space collapses.
    val s = spark
    import org.apache.spark.sql.functions._
    val docs = s.range(500)
      .select(col("id").as("doc_id"),
        concat(lit("common shared shingle u"), col("id"),
          lit(" t"), col("id")).as("text"))
    val capped = operators.Dedup.ngramCandidates(docs, 100).count()
    val uncapped = operators.Dedup.ngramCandidates(docs, Int.MaxValue).count()
    assert(uncapped == 500L * 499L / 2,
      s"universal shingle should pair everyone uncapped, got $uncapped")
    assert(capped == 0L, s"cap should drop the universal shingle, got $capped")
  }

  test("native MinHashSignature is bit-identical to the aggregate formulation") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(s, sf01).limit(50)
      .select("doc_id", "text").localCheckpoint(true)
    val native = docs
      .select(col("doc_id"),
        graft.functions.MinHashSignature(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
      .as[(Long, Seq[Long])].collect().toMap
    // the historical explode + 128×min() aggregate path, over the same
    // modular shingle-hash space the native kernel now uses
    val agg = Reference.minhashSignatures(docs)
      .collect()
      .map(r => r.getLong(0) -> (1 to 128).map(r.getLong(_)).toSeq)
      .toMap
    assert(native.keySet == agg.keySet,
      s"doc coverage differs: ${native.keySet diff agg.keySet} / ${agg.keySet diff native.keySet}")
    native.foreach { case (id, sig) =>
      assert(sig == agg(id), s"signature mismatch for doc $id")
    }
  }

  test("native SimHashSignature matches the reference plan, compiled and interpreted") {
    val s = spark
    import s.implicits._
    import graft.functions.SimHashSignature
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.functions.col
    val edge = Seq("", " \t\n ", "one", "a a a b a",
      "tab\tsep\nnew\r\nline\u000Bvt\ffeed", "héllo wörld 日本語 🙂 héllo",
      "  lead and trail  ")
    val sfDocs = graft.Tables.documents(s, sf01).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val docs = edge.zipWithIndex.map { case (t, i) => (-1L - i, t) } ++ sfDocs
    // an RDD-backed frame: the projection runs in generated code, not
    // folded into a local relation by the optimizer
    val frame = s.sparkContext.parallelize(docs, 4).toDF("doc_id", "text")
    val sigs = frame.select(col("doc_id"), SimHashSignature(col("text")).as("sig"))
    assert(sigs.queryExecution.executedPlan
      .find(_.isInstanceOf[WholeStageCodegenExec]).nonEmpty)
    val compiled = sigs.as[(Long, Option[Long])].collect().toMap
    val interpreted = docs.map { case (id, t) =>
      id -> Option(SimHashSignature(Literal(t)).eval())
        .map(_.asInstanceOf[Long])
    }.toMap
    assert(compiled === interpreted)
    val ref = Reference.simhashSignatures(frame).as[(Long, Long)].collect().toMap
    assert(compiled.collect { case (id, Some(sig)) => id -> sig } === ref)
    // documents without tokens have no signature; all others do
    assert(compiled.collect { case (id, None) => id }.toSet === Set(-1L, -2L))
  }

  test("connected components label a chain through pointer jumping") {
    // a path graph 1-2-3-...-9 has diameter 8; min-label propagation
    // without pointer jumping needs 8 rounds, with it O(log 8). Every
    // node must land on rep = 1, and a disjoint pair {20,21} on rep = 20.
    val s = spark
    import s.implicits._
    val pairs = ((1L to 8L).map(i => (i, i + 1)) :+ (20L, 21L))
      .toDF("d1", "d2")
    val labels = operators.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 9L).forall(labels(_) == 1L), s"chain labels: $labels")
    assert(labels(20L) == 20L && labels(21L) == 20L)
    assert(labels.size == 11)
  }

  test("connected components match a union-find reference on random graphs") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 1 to 3) {
      val n = 100 + trial * 50
      val edges = Seq.fill(n)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      val got = operators.Dedup.connectedComponents(
        edges.toDF("d1", "d2")).as[(Long, Long)].collect().toMap
      // min-label propagation and union-find both root at the component
      // min because union always keeps the smaller id
      assert(got == want,
        s"trial $trial: ${(got.toSet diff want.toSet).take(5)}")
    }
  }

  test("dd_cluster reps are consistent with the verified pair graph") {
    val s = spark
    import s.implicits._
    val pairs = Dedup.ngramJaccard(s, sf01)
      .select("d1", "d2").as[(Long, Long)].collect()
    val clusters = Dedup.cluster(s, sf01)
      .as[(Long, Long)].collect().toMap
    assert(pairs.nonEmpty && clusters.nonEmpty)
    // every doc in a pair is labeled, and paired docs share a component
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across reps")
    }
    // a rep is its own rep (label idempotence)
    clusters.values.foreach(r => assert(clusters(r) == r, s"rep $r not fixed"))
  }

  test("simhash near-dup pairs overlap the exact Jaccard pairs") {
    val s = spark
    import s.implicits._
    val exact = Dedup.ngramJaccard(s, sf01)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val sim = Dedup.simhash(s, sf01)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(sim.nonEmpty && exact.nonEmpty)
    assert(sim.intersect(exact).nonEmpty,
      "simhash buckets found none of the exact near-dups")
  }

  test("url canonicalization collapses noise and keeps real params") {
    val out = Dedup.urlDedup(spark, sf01).cache()
    try {
      val canons = out.select("canon").as[String](
        org.apache.spark.sql.Encoders.STRING).collect()
      assert(canons.nonEmpty)
      // every canonical form: lowercase scheme+host, no fragment, no utm,
      // no default port, no trailing slash, but the real params survive
      canons.foreach { c =>
        assert(c.startsWith("https://src"), c)
        assert(!c.contains("#") && !c.contains("utm_") &&
          !c.contains(":443"), c)
        assert(!c.split('?').head.endsWith("/"), c)
        assert(c.contains("id=") && c.contains("z=9"), c)
      }
      // the variants actually collapse: fewer canonical forms than urls,
      // and exactly one kept representative per canonical group
      val s2 = spark
      import s2.implicits._
      val perCanon = out.groupBy("canon")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"keep", 1L).otherwise(0L))
          .as("kept"))
        .select("kept").as[Long].collect()
      assert(perCanon.forall(_ == 1L), "each canonical group keeps one rep")
      assert(out.select("url").distinct().count() >
        out.select("canon").distinct().count(),
        "no URL variants collapsed — noise injection broken?")
    } finally out.unpersist()
  }

  test("incremental dedup: keep <=> novel batch representative") {
    val s2 = spark
    import s2.implicits._
    val out = Dedup.incremental(spark, sf01).cache()
    try {
      // replay novelty directly from the corpus split
      val fps = graft.Tables.documents(spark, sf01)
        .select($"doc_id", graft.functions.TextFunctions
          .fingerprint($"text").as("fp"))
      val corpusFps = fps.filter($"doc_id" % 3 =!= 0)
        .select("fp").distinct().as[String].collect().toSet
      val rows = out.select("doc_id", "fp", "batch_rep", "novel", "keep")
        .as[(Long, String, Boolean, Boolean, Boolean)].collect()
      assert(rows.nonEmpty && rows.exists(!_._4),
        "batch contained no duplicates of the corpus — no dedup exercised")
      rows.foreach { case (id, fp, rep, novel, keep) =>
        assert(novel === !corpusFps.contains(fp), s"novelty wrong for $id")
        assert(keep === (rep && novel), s"keep rule wrong for $id")
      }
    } finally out.unpersist()
  }

  test("incremental LSH dedup: verdict algebra holds, re-crawled " +
      "near-dups are caught, in-batch copies lose batch_rep") {
    val s2 = spark
    import s2.implicits._
    val out = Dedup.incrementalLsh(spark, sf01).cache()
    try {
      val rows = out
        .select("doc_id", "batch_rep", "n_near", "novel", "keep", "lshinc_ok")
        .as[(Long, Boolean, Long, Boolean, Boolean, Boolean)].collect()
      assert(rows.nonEmpty && rows.forall(_._6),
        "store mechanics (lshinc_ok) failed")
      rows.foreach { case (id, rep, n, novel, keep, _) =>
        assert(novel === (n == 0L), s"novel<->n_near mismatch for $id")
        assert(keep === (rep && novel), s"keep rule wrong for $id")
      }
      // the re-crawl slice (+100000: corpus docs with one appended token)
      // is NEAR-duplicate, never exact — the LSH store must catch it
      val recrawl = rows.filter(r => r._1 >= 100000L && r._1 < 200000L)
      assert(recrawl.nonEmpty)
      val caught = recrawl.count(!_._4).toDouble / recrawl.size
      assert(caught >= 0.8,
        f"only ${caught}%.2f of re-crawled near-dups caught by the store")
      // the +200000 slice duplicates in-batch docs byte-identically:
      // every copy must lose batch_rep to its original
      val copies = rows.filter(_._1 >= 200000L)
      assert(copies.nonEmpty && copies.forall(!_._2),
        "an in-batch exact copy kept batch_rep")
    } finally out.unpersist()
  }

  test("streaming LSH dedup: wave-3 exact copies are caught THROUGH " +
      "the accreted store, not by in-batch dedup") {
    val s2 = spark
    import s2.implicits._
    val out = graft.streaming.Streams.streamDedupLsh(spark, sf01)
      .select("doc_id", "batch_rep", "novel", "keep", "lshstream_ok")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
    assert(out.nonEmpty && out.forall(_._5),
      "store mechanics (lshstream_ok) failed")
    // wave 3's docs are byte-identical COPIES of wave-1 docs: within
    // their own batch they are unique (batch_rep = true for all), so
    // only the store — accreted by wave 1 — can catch them
    val copies = out.filter(_._1 >= 200000L)
    assert(copies.nonEmpty && copies.forall(_._2),
      "a wave-3 copy was not its own batch representative")
    val caught = copies.count(!_._3).toDouble / copies.size
    assert(caught >= 0.9,
      f"only $caught%.2f of wave-3 copies caught through the store")
  }

  test("incremental LSH probe scans NO file outside the band store " +
      "(the corpus is never rescanned)") {
    val s2 = spark
    import s2.implicits._
    val docs = graft.Tables.documents(spark, sf).select($"doc_id", $"text")
    val store = graft.Fs.scratch("graft_txn", "dd_lsh_probe_spec")
    graft.Fs.deleteRecursively(store)
    graft.operators.TxnTable.create(spark, store,
      Dedup.lshBandRows(docs.filter($"doc_id" % 2 === 0)))
    val batch = docs.filter($"doc_id" % 2 === 1)
    val bBands = Dedup.lshBandRows(batch).localCheckpoint(true)
    val bFps = batch.select($"doc_id",
      graft.functions.TextFunctions.fingerprint($"text").as("fp"))
      .localCheckpoint(true)
    val verdicts = Dedup.probeLshStore(spark, store, bBands, bFps)
    val scans = ScanFiles.roots(verdicts.queryExecution.optimizedPlan)
    assert(scans.nonEmpty, "expected at least the store scan")
    scans.foreach { p =>
      val norm = p.stripPrefix("file:")
      assert(norm.startsWith(store),
        s"probe plan scans a file outside the store: $p")
    }
    // and the probe still works end to end on this store
    assert(verdicts.count() === batch.count())
  }

  test("semantic dedup: dropped <=> co-clustered exact near-dup with smaller id") {
    val s2 = spark
    import s2.implicits._
    val out = Dedup.semantic(spark, sf01)
      .select("vec_id", "cluster", "kept")
      .as[(Long, Int, Boolean)].collect()
    val cluster = out.map(r => r._1 -> r._2).toMap
    val exact = Dedup.embedCosineExact(spark, sf01)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "no exact cosine pairs at sf0.01")
    // a vector is dropped iff an exact pair links it to a SMALLER id in
    // the SAME cluster — within-cluster-only recall is SemDeDup's design
    val expectedDropped = exact.collect {
      case (v1, v2) if cluster(v1) == cluster(v2) => math.max(v1, v2)
    }
    val dropped = out.collect { case (id, _, false) => id }.toSet
    assert(dropped == expectedDropped,
      s"verdicts diverge: ${(dropped diff expectedDropped).take(3)} / " +
        s"${(expectedDropped diff dropped).take(3)}")
    assert(dropped.nonEmpty, "no co-clustered near-dups — dedup unexercised")
  }

  test("semantic dedup clusters match sim_kmeans assignments") {
    val s2 = spark
    import s2.implicits._
    val sem = Dedup.semantic(spark, sf01)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val km = operators.Similarity.kmeans(spark, sf01)
      .as[(Long, Int)].collect().toMap
    assert(sem == km, "dd_semantic and sim_kmeans disagree on clustering")
  }

  test("substring dedup cuts exactly the duplicated span, keeps unique text") {
    val s = spark
    import s.implicits._
    // an 8-token boilerplate span injected mid-document into two
    // otherwise-unique documents; a third document shares nothing
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    def uniq(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${uniq("x", 5)} $boiler ${uniq("y", 5)}"),
      (2L, s"${uniq("p", 6)} $boiler ${uniq("q", 4)}"),
      (3L, uniq("z", 12))).toDF("doc_id", "text")
    val out = Dedup.substringCore(docs)
      .select("doc_id", "n_tokens", "n_removed", "new_fp")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // both copies of the span are removed — every token of the
    // duplicated 8-gram, and nothing else
    assert(out(1L)._1 === 18L && out(1L)._2 === 8L)
    assert(out(2L)._1 === 18L && out(2L)._2 === 8L)
    assert(out(3L)._2 === 0L, "unique doc lost tokens")
    val exp1 = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${uniq("x", 5)} ${uniq("y", 5)}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out(1L)._3 === exp1, "survivors not reassembled in order")
    // a doc that is ONE long duplicated span reassembles to md5('')
    val dup2 = Seq((1L, boiler), (2L, boiler)).toDF("doc_id", "text")
    val gone = Dedup.substringCore(dup2)
      .select("new_fp").as[String].collect().toSet
    assert(gone === Set("d41d8cd98f00b204e9800998ecf8427e"))
  }
}
