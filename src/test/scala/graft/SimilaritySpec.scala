package graft

import graft.operators.{Dedup, DriverRows, Similarity}
import org.apache.spark.SpecBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality contracts for the approximate paths that the rows-only oracle
  * can't see into. */
class SimilaritySpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  test("simhash chunk bucketing is lossless for hamming <= 3") {
    // pigeonhole: <= 3 differing bits leave >= 3 of the 6 blocks intact,
    // and every 3-block combination is a table, so the bucketed join
    // must find EXACTLY the brute-force pair set
    val s = spark
    import s.implicits._
    val bucketed = Dedup.simhash(s, sf01)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    // reference-plan signatures, brute-force all pairs in memory
    val sigRows = Reference.simhashSignatures(graft.Tables.documents(s, sf01))
      .as[(Long, Long)].collect()
    val brute = (for {
      (d1, s1) <- sigRows; (d2, s2) <- sigRows if d1 < d2
      if java.lang.Long.bitCount(s1 ^ s2) <= 3
    } yield (d1, d2)).toSet
    assert(bucketed == brute,
      s"missing=${(brute -- bucketed).take(3)} extra=${(bucketed -- brute).take(3)}")
  }

  /** One training path over `all` (under the driver-size guard, or
    * planned): the centroids as raw double bits and every vector's
    * cluster. */
  private def trained(all: DataFrame, r: Similarity.Recipe,
      planned: Boolean): (Seq[Seq[Long]], Map[Long, Int]) = {
    val s = spark
    import s.implicits._
    val (cents, _) = DriverRows.distributedOnly.withValue(planned)(
      Similarity.trainCentroids(all, r))
    val assign = all.select(col("vec_id"), Similarity.bestCentroid(cents))
      .as[(Long, Int)].collect().toMap
    (cents.map(_.map(java.lang.Double.doubleToRawLongBits)), assign)
  }

  private def vecs(d: String): DataFrame = graft.Tables.embeddings(spark, d)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("driver k-means training is bit-identical to the planned rounds") {
    val s = spark
    import s.implicits._
    // sf0.01, then vectors built to hit the ordering's corners: seed 3 is
    // the zero vector (its cosine is NaN, which sorts greatest), seeds 2
    // and 5 are equal (every vector ties between them), vector 20 is zero
    // too, and components of -0.0 are everywhere
    def base(i: Int): Seq[Double] = (0 until 64).map { k =>
      if ((i + k) % 5 == 0) -0.0 else ((i * 31 + k * 17) % 23 - 11) / 7.0
    }
    val corner = (0 until 60).map { i =>
      i.toLong -> (if (i == 3 || i == 20) Seq.fill(64)(0.0)
        else if (i == 5) base(2) else base(i))
    }
    val cornerDf = s.sparkContext.parallelize(corner, 3).toDF("vec_id", "v")
    for ((name, all) <- Seq("sf0.01" -> vecs(sf01), "corners" -> cornerDf);
         r <- Seq(Similarity.KmeansRecipe, Similarity.IvfRecipe)) {
      val local = trained(all, r, planned = false)
      val plan = trained(all, r, planned = true)
      assert(local._1 === plan._1, s"$name/$r: centroids differ")
      assert(local._2 === plan._2, s"$name/$r: assignments differ")
    }
  }

  test("k-means over the driver-size cap trains on the planned rounds; " +
      "an IVF sample stays on the driver") {
    val over = spark.range(0, DriverRows.Cap + 1).select(
      col("id").as("vec_id"),
      array((0 until 64).map(k => sin(col("id") * (k + 1))): _*).as("v"))
    val sc = spark.sparkContext
    var guarded: (Seq[Seq[Double]], DataFrame) = null
    var planned: (Seq[Seq[Double]], DataFrame) = null
    val jobs = SpecBus.jobsDuring(sc) {
      guarded = Similarity.trainCentroids(over, Similarity.KmeansRecipe)
    }
    val plannedJobs = SpecBus.jobsDuring(sc) {
      planned = DriverRows.distributedOnly.withValue(true)(
        Similarity.trainCentroids(over, Similarity.KmeansRecipe))
    }
    // the guard's one collect, then exactly the planned rounds
    assert(jobs === plannedJobs + 1, s"$jobs jobs vs $plannedJobs planned")
    assert(guarded._1 === planned._1)
    // an IVF codebook trains on a ~2k-row sample, which the guard admits
    // at any corpus size: a count, the sample's collect (a second job
    // when the first partition holds too few rows) and, as the stride
    // does not divide the seed stride here, one seed query
    var ivf: Seq[Seq[Double]] = null
    val ivfJobs = SpecBus.jobsDuring(sc) {
      ivf = Similarity.trainCentroids(over, Similarity.IvfRecipe)._1
    }
    var ivfPlanned: Seq[Seq[Double]] = null
    val ivfPlannedJobs = SpecBus.jobsDuring(sc) {
      ivfPlanned = DriverRows.distributedOnly.withValue(true)(
        Similarity.trainCentroids(over, Similarity.IvfRecipe))._1
    }
    assert(ivfJobs <= 4 && ivfJobs < ivfPlannedJobs,
      s"IVF training over the cap ran $ivfJobs jobs ($ivfPlannedJobs planned)")
    assert(ivf === ivfPlanned)
  }

  test("sim_kmeans runs at most 3 Spark jobs at sf0.01") {
    val s = spark
    val jobs = SpecBus.jobsDuring(s.sparkContext) {
      Similarity.kmeans(s, sf01).collect()
    }
    assert(jobs <= 3, s"sim_kmeans ran $jobs jobs")
  }

  test("LSH ANN finds at least half of the exact top-k at sf0.01") {
    val s = spark
    import s.implicits._
    val brute = Similarity.knnBrute(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.annLsh(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall $recall")
  }

  test("kmeans assigns every vector and uses multiple clusters") {
    val s = spark
    import s.implicits._
    val assign = Similarity.kmeans(s, sf01)
      .as[(Long, Int)].collect()
    assert(assign.length == 500)
    val clusters = assign.map(_._2).toSet
    assert(clusters.size > 1 && clusters.forall(c => c >= 0 && c < 8),
      s"clusters: $clusters")
  }

  test("filtered ANN: every hit satisfies the predicate, equals the " +
      "filter-then-rank reference over probed cells, files pruned") {
    val s = spark
    import s.implicits._
    val out = Similarity.annFiltered(s, sf01)
      .select("q_id", "n_id", "rank", "filt_ok")
      .as[(Long, Long, Int, Boolean)].collect()
    assert(out.nonEmpty)
    // the prune accounting bit: ≤ 1 stats-bearing file per probe read,
    // strictly fewer than the table's total — pruned files never opened
    assert(out.forall(_._4), "filt_ok false: a probe read kept too much")
    // the predicate actually holds on every returned neighbor
    assert(out.forall(_._2 % 4 == 1), "a hit violates the lic predicate")
    // ranks are contiguous from 1 per query
    out.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1 to rs.length),
        s"ranks not contiguous for query $q")
    }
    // reference: score probed cells brute-force, filter, rank — the
    // file prune must be invisible to the RESULT
    val (assigned, probes) = Similarity.ivfParts(s, sf01)
    val expected = assigned
      .join(probes, Seq("c_id"))
      .filter($"vec_id" =!= $"q_id" && $"vec_id" % 4 === 1)
      .select($"q_id", $"vec_id".as("n_id"),
        graft.functions.VectorFunctions.cosine($"qv", $"v").as("cos"))
    // rank in-memory (tiny): top-5 by (cos desc, n_id)
    val exp = expected.as[(Long, Long, Double)].collect()
      .groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(5).zipWithIndex
          .map { case (r, i) => (qid, r._2, i + 1) }.toSeq
      }.toSet
    assert(out.map(r => (r._1, r._2, r._3)).toSet === exp,
      "filtered ANN result differs from the filter-then-rank reference")
  }

  test("hybrid over the IVF-PQ arm overlaps the brute-arm hybrid >= 0.5") {
    val s = spark
    import s.implicits._
    def tops(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val brute = tops(Similarity.hybridRrf(s, sf01))
    val ivfpq = tops(Similarity.hybridIvfPq(s, sf01))
    assert(brute.nonEmpty && ivfpq.keySet === brute.keySet)
    val overlap = brute.keys.toSeq.map(q =>
      ivfpq(q).intersect(brute(q)).size.toDouble / brute(q).size).sum /
      brute.size
    assert(overlap >= 0.5,
      f"IVF-PQ-arm hybrid overlaps brute-arm hybrid only $overlap%.2f")
  }

  test("IVF ANN recall >= 0.75 vs exact top-k at sf0.01") {
    val s = spark
    import s.implicits._
    val brute = Similarity.knnBrute(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.75, s"IVF recall $recall")
  }

  test("incremental IVF recall >= 0.7 vs exact top-k at sf0.01, and " +
      "its accounting flag holds") {
    val s = spark
    import s.implicits._
    val brute = Similarity.knnBrute(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val inc = Similarity.annIncremental(s, sf01)
    assert(inc.select("ivfinc_ok").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(true),
      "accretion accounting (verbatim carry / prune / row counts) failed")
    val got = inc.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(brute).size.toDouble / brute.size
    // centroids trained on 2/3 of the corpus: slightly below the
    // full-train IVF bar is acceptable, garbage is not
    assert(recall >= 0.7, s"incremental IVF recall $recall")
  }

  test("graph ANN recall >= IVF's vs exact top-k at sf0.01") {
    val s = spark
    import s.implicits._
    val brute = Similarity.knnBrute(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val graph = Similarity.annGraph(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val gRecall = graph.intersect(brute).size.toDouble / brute.size
    val iRecall = ivf.intersect(brute).size.toDouble / brute.size
    // the high-recall family must earn its place over the partition one
    assert(gRecall >= iRecall, s"graph $gRecall < ivf $iRecall")
    assert(gRecall >= 0.75, s"graph recall $gRecall")
  }

  test("PQ ANN recall >= 0.6 vs exact top-k at sf0.01") {
    val s = spark
    import s.implicits._
    val brute = Similarity.knnBrute(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.annPq(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ recall $recall")
    assert(pq.size == brute.size, s"PQ returned ${pq.size} of ${brute.size}")
  }

  test("range search: subset of exact radius matches with recall >= 0.6") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(s, sf01)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .filter(graft.functions.CosineSimilarity(col("qv"), col("v")) >=
        operators.Similarity.RangeTau)
      .select(col("q_id"), col("vec_id").as("n_id"))
      .as[(Long, Long)].collect().toSet
    val bucketed = operators.Similarity.rangeSearch(s, sf01)
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert((bucketed -- exact).isEmpty,
      s"false positives: ${(bucketed -- exact).take(3)}")
    val recall = bucketed.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"range-search recall $recall")
  }

  test("IVF ANN probes return full top-k result sets per query") {
    val s = spark
    import s.implicits._
    val ivf = Similarity.annIvf(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect()
    assert(ivf.length == 50, s"expected 10 queries x k=5, got ${ivf.length}")
  }

  test("sq8 top-k recall >= 0.8 vs exact brute force") {
    val s = spark
    import s.implicits._
    val exact = Similarity.knnBrute(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.annSq8(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(sq8.size == exact.size)
    val recall = sq8.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"sq8 recall $recall below 0.8 — int8 " +
      "quantization + exact re-rank should be near-lossless at k=5")
  }

  test("ivfpq top-k recall is within reach of its own coarse layer") {
    val s = spark
    import s.implicits._
    val exact = Similarity.knnBrute(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.annIvfPq(s, sf01)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val rIvf = ivf.intersect(exact).size.toDouble / exact.size
    val rPq = ivfpq.intersect(exact).size.toDouble / exact.size
    // PQ can only lose recall vs its own coarse layer (same probes,
    // quantized scores) — but the 32-deep exact re-rank should keep it
    // close; 0.15 absolute headroom is generous
    assert(rPq >= rIvf - 0.15,
      s"ivfpq recall $rPq fell too far below ivf's $rIvf")
    assert(rPq >= 0.5, s"ivfpq recall $rPq below 0.5")
  }

  test("sim_hybrid_rrf fuses both arms with exact reciprocal-rank scores") {
    val got = Similarity.hybridRrf(spark, sf01).collect()
    assert(got.nonEmpty)
    // fused ranks contiguous from 1 per query
    got.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rows.length))
    }
    // the semantic arm's ranks agree with the exact kNN baseline
    val brute = Similarity.knnBrute(spark, sf01).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("n_id")).toMap
    var semSeen = 0
    var lexSeen = 0
    got.foreach { r =>
      val iS = r.fieldIndex("rank_s")
      val iL = r.fieldIndex("rank_l")
      val rs = if (r.isNullAt(iS)) None else Some(r.getInt(iS))
      val rl = if (r.isNullAt(iL)) None else Some(r.getInt(iL))
      assert(rs.isDefined || rl.isDefined,
        "a fused row must come from at least one arm")
      // rrf is exactly the two-term reciprocal sum of its own ranks
      val expect = rs.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rl.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") == expect)
      semSeen += rs.size
      lexSeen += rl.size
      rs.filter(_ <= Similarity.K).foreach { x =>
        assert(brute((r.getAs[Long]("q_id"), x)) == r.getAs[Long]("n_id"),
          "semantic arm rank disagrees with the exact kNN baseline")
      }
    }
    assert(semSeen > 0, "no fused row carried a semantic rank")
    assert(lexSeen > 0, "no fused row carried a lexical rank")
  }
}
