package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embeddings table (SURVEY.md §2E).
  *
  * sim_knn_brute is the exact baseline: the (small) query set is broadcast
  * against the corpus — a map-side join, one window per query for top-k.
  * The scale paths avoid scanning the corpus per query: sim_ann_lsh buckets
  * by random-hyperplane signs, sim_ann_ivf by nearest coarse centroid, so
  * each query only scores its bucket/probed clusters.
  */
object Similarity {

  val K = 5
  private val NumQueries = 10 // query set = vec_id < 10

  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Two-phase top-k per q_id: a salted pre-rank keeps per-partition work
    * bounded (a single window on q_id would funnel the whole corpus into
    * #queries partitions — a skew wall at scale), then the final rank runs
    * over ≤ k×salts survivors per query. Results identical to one window. */
  private val TopKSalts = 32
  private def topKPerQuery(scored: DataFrame, k: Int = K,
      score: String = "cos"): DataFrame = {
    val w1 = Window.partitionBy(col("q_id"), pmod(col("n_id"), lit(TopKSalts)))
      .orderBy(col(score).desc, col("n_id"))
    val survivors = scored.withColumn("prerank", row_number().over(w1))
      .filter(col("prerank") <= k)
    val w2 = Window.partitionBy(col("q_id"))
      .orderBy(col(score).desc, col("n_id"))
    survivors.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** sim_knn_brute: exact cosine top-k per query vector. Queries broadcast
    * (map-side cross), then salted two-phase top-k. */
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = Tables.fanOut(all)
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("qv"), col("v")).as("cos"))
    topKPerQuery(scored)
  }

  // ---- Random-hyperplane LSH ----------------------------------------------

  private val NumTables = 8 // independent hash tables (recall amplification)
  private val PlanesPerTable = 4 // 16 buckets per table
  private val Dim = 64

  /** Deterministic ±1 hyperplane components (splitmix scramble of
    * (plane, dim) — reproducible, no RNG state). */
  private[graft] def planeSign(plane: Int, k: Int): Double = {
    var z = (plane.toLong << 32 | k.toLong) * 0x9E3779B97F4A7C15L + 0x1234567L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0 else -1.0
  }

  /** REFERENCE formulation of one table's sign bucket: bit j =
    * sign(v · r_{t,j}) via the zip_with/aggregate fold over ±1 literal
    * planes. Superseded in the query path by the native one-pass
    * [[graft.functions.HyperplaneBuckets]] expression (the HOF fold
    * evaluates interpreted — 32 folds per row); kept because the parity
    * spec (FunctionsSpec) asserts bit-identical buckets. */
  private[graft] def lshBucketFold(v: Column, table: Int): Column =
    (0 until PlanesPerTable).map { j =>
      val plane = array((0 until Dim).map(k =>
        lit(planeSign(table * PlanesPerTable + j, k))): _*)
      when(dot(v, plane) > 0, lit(1 << j)).otherwise(0)
    }.reduce(_ + _)

  /** (vec_id, v, table, bucket) — one row per vector per hash table. All
    * 8 bucket ids come from ONE native codegen'd pass per row. */
  private[graft] def lshTables(df: DataFrame): DataFrame =
    Tables.fanOut(df).select(col("vec_id"), col("v"),
      posexplode(graft.functions.HyperplaneBuckets(col("v")))
        .as(Seq("t", "bucket")))

  /** sim_ann_lsh: multi-table random-hyperplane LSH — candidates are
    * vectors sharing a (table, bucket) with the query in ANY of the 8
    * tables, deduped, then scored exactly. Recall < 100% by design; at
    * 100 TB the bucket joins replace the full corpus scan per query.
    * Rows-oracle (approximate results have no SQL twin). */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val all = lshTables(vecs(s, d))
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("t"), col("bucket"))
    val cands = all.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qv"), col("vec_id").as("n_id"), col("v"))
      .dropDuplicates("q_id", "n_id")
    val scored = cands.select(col("q_id"), col("n_id"),
      cosine(col("qv"), col("v")).as("cos"))
    topKPerQuery(scored)
  }

  /** Shared oracle CTE block replaying the LSH tables: `e` (corpus as
    * double lists), `b` (8 bucket columns from literal-hyperplane sign
    * tests), `tb` ((vec_id, t, bucket) rows). Used by [[lshOracle]] and
    * Dedup's embedding-dedup oracle. */
  private[graft] def lshBucketCtes: String = {
    def dotExpr(plane: Int): String =
      "0.0 " + (0 until Dim).map(k =>
        (if (planeSign(plane, k) > 0) " + " else " - ") + s"v[${k + 1}]")
        .mkString
    def bucketExpr(t: Int): String =
      (0 until PlanesPerTable).map { j =>
        s"(CASE WHEN ${dotExpr(t * PlanesPerTable + j)} > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
    val bucketCols = (0 until NumTables)
      .map(t => s"  (${bucketExpr(t)}) AS b$t").mkString(",\n")
    val unions = (0 until NumTables)
      .map(t => s"SELECT vec_id, $t AS t, b$t AS bucket FROM b")
      .mkString("\nUNION ALL\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id,
       |$bucketCols
       |FROM e),
       |tb AS ($unions)""".stripMargin
  }

  /** DuckDB replay of [[annLsh]], generated from the same deterministic
    * hyperplanes: each of the 32 sign tests is an explicit left-to-right
    * ±v[k] sum (bit-identical to the zip_with/aggregate fold over the ±1
    * literal plane — products by ±1.0 are exact, and both engines
    * accumulate in element order), buckets unpivot to (t, bucket) rows,
    * candidates are shared-bucket pairs, and the exact cosine re-rank is
    * the same replay sim_knn_brute's oracle uses. The whole approximate
    * path — bucketing, candidate union, ranking — is therefore
    * hash-checked, not just bounded. */
  private[graft] def lshOracle: String = {
    s"""WITH $lshBucketCtes,
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM tb q JOIN tb c ON q.t = c.t AND q.bucket = c.bucket
       |  WHERE q.vec_id < $NumQueries AND c.vec_id <> q.vec_id),
       |scored AS (SELECT cand.q_id, cand.n_id,
       |    list_cosine_similarity(qe.v, ce.v) AS cos
       |  FROM cand JOIN e ce ON ce.vec_id = cand.n_id
       |            JOIN e qe ON qe.vec_id = cand.q_id)
       |SELECT q_id, n_id, rank FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id) AS rank FROM scored) t
       |WHERE rank <= $K""".stripMargin
  }

  private[graft] val RangeTau = 0.3

  /** sim_range_search: radius queries — ALL neighbors with cosine ≥
    * [[RangeTau]] per query vector, not a fixed top-k (the dedup/recall
    * API shape: "everything similar enough", result size data-dependent).
    * Candidates from the shared LSH tables, exact cosine filter on
    * candidates only; approximate like every bucketed path here, and like
    * them hash-checked end-to-end by replaying the buckets. */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    val all = lshTables(vecs(s, d))
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("t"), col("bucket"))
    all.join(broadcast(q), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), col("qv"), col("v"))
      .dropDuplicates("q_id", "n_id")
      .filter(cosine(col("qv"), col("v")) >= RangeTau)
      .select(col("q_id"), col("n_id"))
  }

  /** DuckDB replay of [[rangeSearch]]: shared bucket CTEs + the cosine
    * radius filter. */
  private[graft] def rangeSearchOracle: String =
    s"""WITH $lshBucketCtes,
       |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |  FROM tb q JOIN tb c ON q.t = c.t AND q.bucket = c.bucket
       |  WHERE q.vec_id < $NumQueries AND c.vec_id <> q.vec_id)
       |SELECT q_id, n_id FROM cand
       |JOIN e qe ON qe.vec_id = q_id
       |JOIN e ce ON ce.vec_id = n_id
       |WHERE list_cosine_similarity(qe.v, ce.v) >= $RangeTau""".stripMargin

  // ---- IVF ----------------------------------------------------------------

  private val CentroidStride = 50 // every 50th vector seeds a coarse centroid
  private val NumCentroids = 16
  private val NProbe = 4
  private val IvfIters = 3
  // coarse centroids are trained on a deterministic sample of ~2k vectors
  // (the standard IVF recipe: train on a fixed-size sample, assign the
  // full corpus) — training cost stays constant as the corpus grows, so
  // at 100 TB the Lloyd passes touch the same ~2k rows they do here
  private val TrainTarget = 2048L

  // ---- Spherical k-means --------------------------------------------------

  private val KmeansK = 8
  private val KmeansIters = 3

  /** argmax-cosine centroid id against driver-held centroid literals —
    * each distance is the native codegen'd CosineSimilarity against a
    * typedlit array, so assignment is one shuffle-free projection. */
  private def bestCentroidOn(cents: Seq[Seq[Double]], v: Column): Column =
    -array_max(array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        graft.functions.CosineSimilarity(v, typedLit(c)).as("cos"),
        lit(-i).as("nid"))
    }: _*)).getField("nid")

  private def bestCentroid(cents: Seq[Seq[Double]]): Column =
    bestCentroidOn(cents, col("v"))

  /** Lloyd iterations of spherical k-means over driver-held centroids —
    * k×dim doubles on the driver, the canonical k-means scale shape:
    * assignment is a map-only pass against literal centroids, the update is
    * one groupBy with 64 flat sum() aggregates (map-side combined), and
    * only k rows come back per iteration.
    *
    * The update is DETERMINISTIC regardless of partitioning: each member
    * component is quantized to integer micro-units (floor(x·10⁶ + 0.5))
    * and summed as longs — exact, order-independent — and the spherical
    * normalization runs over those integer sums (csum/|csum| ≡ mean/|mean|,
    * the n·10⁶ scale cancels), with the squared norm accumulated exactly in
    * BigInt before ONE double conversion. Every arithmetic step after the
    * integer sums is a fixed sequence of IEEE ops, so a SQL oracle replays
    * the whole training bit-for-bit (kmeansOracle below) — which is what
    * promotes sim_kmeans/sim_ann_ivf from rows-tier to hash-checked.
    * Rounding centroids to 1e-6 also keeps the codegen literals (and the
    * Janino cache key) stable across runs.
    *
    * Returns the trained centroids and the training rows, fanned out and
    * materialized once (`localCheckpoint`): every round reads them, not
    * the scan and the fan-out shuffle again, and a caller assigns over
    * them too. */
  private def trainCentroids(all: DataFrame, seeds: Seq[Seq[Double]],
      iters: Int): (Seq[Seq[Double]], DataFrame) = {
    // the per-iteration assignment kernel is the training cost — fan a
    // degenerate scan out so it does not run on one task per round
    val allF = Tables.fanOut(all).localCheckpoint(true)
    var cents = seeds
    for (_ <- 1 to iters) {
      val assigned = allF.withColumn("cid", bestCentroid(cents))
      val sums = (0 until Dim).map(i =>
        sum(floor(element_at(col("v"), i + 1) * 1e6 + 0.5)).as(s"s$i"))
      val updated = assigned.groupBy(col("cid"))
        .agg(sums.head, sums.tail: _*)
        .collect()
        .map { r =>
          val cs = (0 until Dim).map(i => r.getLong(i + 1))
          val norm = math.sqrt(cs.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
          r.getInt(0) -> cs.map(x =>
            if (norm == 0) 0.0
            else math.floor(x.toDouble / norm * 1e6 + 0.5) / 1e6)
        }.toMap
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
    }
    (cents, allF)
  }

  /** SQL text of one Lloyd round: assignment against the previous round's
    * centroid lists, integer micro-unit sums, exact squared norm, and the
    * same floor-rounding as [[trainCentroids]] — chained as CTEs. `src` is
    * the train-set CTE (full corpus for kmeans, stride sample for IVF). */
  private def lloydRoundSql(i: Int, src: String = "e"): String = {
    val (p, n) = (s"c$i", s"c${i + 1}")
    s"""a$i AS (SELECT vec_id, v, cid FROM (
       |  SELECT e.vec_id, e.v, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |  FROM $src e CROSS JOIN ${p}l c) t WHERE rn = 1),
       |u$i AS (SELECT cid, ks.k,
       |    SUM(CAST(floor(v[ks.k] * 1000000 + 0.5) AS BIGINT)) AS s
       |  FROM a$i CROSS JOIN ks GROUP BY cid, ks.k),
       |n$i AS (SELECT cid, CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE) AS nsq
       |  FROM u$i GROUP BY cid),
       |$n AS (SELECT p.cid, p.k,
       |    COALESCE(CASE WHEN nn.nsq = 0 THEN 0.0
       |      ELSE floor(CAST(u.s AS DOUBLE) / sqrt(nn.nsq) * 1000000 + 0.5)
       |           / 1000000 END, p.val) AS val
       |  FROM $p p LEFT JOIN u$i u ON p.cid = u.cid AND p.k = u.k
       |            LEFT JOIN n$i nn ON p.cid = nn.cid),
       |${n}l AS (SELECT cid, list(val ORDER BY k) AS cv FROM $n GROUP BY cid)""".stripMargin
  }

  /** Shared oracle CTE chain replaying [[kmeans]]' training + assignment:
    * seeds from the first [[KmeansK]] vectors, [[KmeansIters]] unrolled
    * Lloyd rounds (each bit-identical to the engine's integer-micro-unit
    * update, see [[trainCentroids]]), ending in `assign(vec_id, cluster)`.
    * MATERIALIZED because consumers (dd_semantic) reference `assign` three
    * times — DuckDB would otherwise inline the whole Lloyd chain per
    * reference. */
  private[graft] def kmeansAssignCtes: String = {
    val rounds = (0 until KmeansIters).map(lloydRoundSql(_)).mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ks AS (SELECT unnest(generate_series(1, $Dim)) AS k),
       |seeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS cid, v
       |  FROM e WHERE vec_id < $KmeansK),
       |c0 AS (SELECT cid, ks.k, v[ks.k] AS val FROM seeds CROSS JOIN ks),
       |c0l AS (SELECT cid, list(val ORDER BY k) AS cv FROM c0 GROUP BY cid),
       |$rounds,
       |assign AS MATERIALIZED (
       |  SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |    FROM e CROSS JOIN c${KmeansIters}l c) t WHERE rn = 1)""".stripMargin
  }

  /** DuckDB replay of [[kmeans]] — the training loop itself is
    * hash-checked, not just the output shape. */
  private[graft] def kmeansOracle: String =
    s"""WITH $kmeansAssignCtes
       |SELECT vec_id, cluster FROM assign""".stripMargin

  /** Cluster-assigned vectors `(vec_id, v, cluster)` — k-means training +
    * argmax-cosine assignment, shared by sim_kmeans and dd_semantic. The
    * training collect is k×dim driver-held sums (constant at any corpus
    * size); assignment is a map-only codegen'd projection. */
  private[graft] def assignedVecs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = vecs(s, d)
    // KmeansK rows: sorted on the driver, no distributed sort
    val seeds: Seq[Seq[Double]] = all.filter(col("vec_id") < KmeansK)
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1).map(_._2)
    val (cents, allF) = trainCentroids(all, seeds, KmeansIters)
    allF.withColumn("cluster", bestCentroid(cents))
  }

  /** sim_kmeans: spherical k-means (cosine assignment, mean + renormalize
    * update); integer-micro-unit training makes the whole loop
    * SQL-replayable (kmeansOracle). */
  def kmeans(s: SparkSession, d: String): DataFrame =
    assignedVecs(s, d).select(col("vec_id"), col("cluster"))

  // ---- Product quantization (PQ / ADC) ------------------------------------

  private val PqM = 8            // subspaces
  private val PqSubDim = Dim / PqM
  private val PqK = 16           // centroids per subspace → 4-bit codes
  private val PqIters = 1
  private val PqRerank = 32      // ADC candidates re-ranked exactly per query

  /** Per-subspace spherical codebooks, trained on the same fixed-size
    * sample as IVF. All 8 subspaces train in ONE pass per iteration: the
    * sample explodes to (m, subvector) rows, an 8-way CASE assigns each
    * row against its subspace's literal codebook, and a single
    * groupBy(m, cid) brings ≤ M×K sum rows back to the driver. The update
    * uses the same deterministic integer-micro-unit arithmetic as
    * [[trainCentroids]], so the whole PQ pipeline is SQL-replayable
    * (pqOracle) and the codebook literals are stable across runs. */
  private def trainCodebooks(sample: DataFrame): Seq[Seq[Seq[Double]]] = {
    val s = sample.sparkSession
    import s.implicits._
    val seedRows = sample.orderBy("vec_id").limit(PqK)
      .select("v").as[Seq[Double]].collect()
    var books: Seq[Seq[Seq[Double]]] = (0 until PqM).map(m =>
      seedRows.toSeq.map(v => v.slice(m * PqSubDim, (m + 1) * PqSubDim)))
    val subRows = sample.select(posexplode(array((0 until PqM).map(m =>
      slice(col("v"), m * PqSubDim + 1, PqSubDim)): _*)).as(Seq("m", "sv")))
      .localCheckpoint(true)
    for (_ <- 1 to PqIters) {
      val cid = (0 until PqM).foldLeft(when(lit(false), lit(0))) {
        case (acc, m) =>
          acc.when(col("m") === m, bestCentroidOn(books(m), col("sv")))
      }
      val sums = (0 until PqSubDim).map(i =>
        sum(floor(element_at(col("sv"), i + 1) * 1e6 + 0.5)).as(s"s$i"))
      val updated = subRows.withColumn("cid", cid)
        .groupBy(col("m"), col("cid")).agg(sums.head, sums.tail: _*)
        .collect()
        .map { r =>
          val cs = (0 until PqSubDim).map(i => r.getLong(i + 2))
          val norm = math.sqrt(cs.map(x => BigInt(x) * BigInt(x)).sum.toDouble)
          (r.getInt(0), r.getInt(1)) -> cs.map(x =>
            if (norm == 0) 0.0
            else math.floor(x.toDouble / norm * 1e6 + 0.5) / 1e6)
        }.toMap
      books = (0 until PqM).map(m =>
        books(m).indices.map(i => updated.getOrElse((m, i), books(m)(i))))
    }
    books
  }

  /** DuckDB replay of [[annPq]]: seeds and one integer-micro-unit Lloyd
    * round per subspace (bit-identical to [[trainCodebooks]]), corpus
    * encoding, the per-query 8×16 dot table, ADC scoring (the 8-term sum
    * folds left-to-right via list_reduce, matching the engine's
    * reduce(_ + _) order exactly), top-[[PqRerank]] candidate selection,
    * and the exact cosine re-rank. The raw dot products are explicit
    * sv[k]·cv[k] sums in element order — the same IEEE sequence as the
    * zip_with/aggregate fold they replay. */
  private[graft] def pqOracle: String = {
    // explicit left-to-right 8-term dot; (0.0 + t1) == t1, so no seed term
    val dotExpr = (1 to PqSubDim)
      .map(k => s"s.sv[$k] * b.cv[$k]").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |ks AS (SELECT unnest(generate_series(1, $PqSubDim)) AS k),
       |ts AS (SELECT vec_id, v FROM e
       |  WHERE vec_id % (SELECT GREATEST(1, COUNT(*) // $TrainTarget) FROM e) = 0),
       |seeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS cid, v
       |  FROM ts ORDER BY vec_id LIMIT $PqK),
       |b0 AS (SELECT ms.m, s.cid, ks.k, s.v[ms.m * $PqSubDim + ks.k] AS val
       |  FROM seeds s CROSS JOIN ms CROSS JOIN ks),
       |b0l AS (SELECT m, cid, list(val ORDER BY k) AS cv FROM b0 GROUP BY m, cid),
       |sub AS (SELECT vec_id, ms.m,
       |    list_slice(v, ms.m * $PqSubDim + 1, ms.m * $PqSubDim + $PqSubDim) AS sv
       |  FROM ts CROSS JOIN ms),
       |pa0 AS (SELECT vec_id, m, sv, cid FROM (
       |  SELECT s.vec_id, s.m, s.sv, b.cid,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY list_cosine_similarity(s.sv, b.cv) DESC, b.cid) AS rn
       |  FROM sub s JOIN b0l b ON s.m = b.m) t WHERE rn = 1),
       |pu0 AS (SELECT m, cid, ks.k,
       |    SUM(CAST(floor(sv[ks.k] * 1000000 + 0.5) AS BIGINT)) AS s
       |  FROM pa0 CROSS JOIN ks GROUP BY m, cid, ks.k),
       |pn0 AS (SELECT m, cid, CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE) AS nsq
       |  FROM pu0 GROUP BY m, cid),
       |b1 AS (SELECT p.m, p.cid, p.k,
       |    COALESCE(CASE WHEN nn.nsq = 0 THEN 0.0
       |      ELSE floor(CAST(u.s AS DOUBLE) / sqrt(nn.nsq) * 1000000 + 0.5)
       |           / 1000000 END, p.val) AS val
       |  FROM b0 p LEFT JOIN pu0 u ON p.m = u.m AND p.cid = u.cid AND p.k = u.k
       |            LEFT JOIN pn0 nn ON p.m = nn.m AND p.cid = nn.cid),
       |b1l AS (SELECT m, cid, list(val ORDER BY k) AS cv FROM b1 GROUP BY m, cid),
       |esub AS (SELECT vec_id, ms.m,
       |    list_slice(v, ms.m * $PqSubDim + 1, ms.m * $PqSubDim + $PqSubDim) AS sv
       |  FROM e CROSS JOIN ms),
       |code AS (SELECT vec_id, m, cid FROM (
       |  SELECT s.vec_id, s.m, b.cid,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY list_cosine_similarity(s.sv, b.cv) DESC, b.cid) AS rn
       |  FROM esub s JOIN b1l b ON s.m = b.m) t WHERE rn = 1),
       |qt AS (SELECT s.vec_id AS q_id, s.m, b.cid, $dotExpr AS tv
       |  FROM esub s JOIN b1l b ON s.m = b.m WHERE s.vec_id < $NumQueries),
       |adc AS (SELECT q_id, n_id,
       |    list_reduce(list_prepend(0.0, list(tv ORDER BY m)),
       |      (a, b) -> a + b) AS pqscore
       |  FROM (SELECT qt.q_id, c.vec_id AS n_id, qt.m, qt.tv
       |    FROM code c JOIN qt ON qt.m = c.m AND qt.cid = c.cid
       |    WHERE c.vec_id <> qt.q_id) t GROUP BY q_id, n_id),
       |cand AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY pqscore DESC, n_id) AS rn FROM adc) t
       |  WHERE rn <= $PqRerank),
       |scored AS (SELECT cand.q_id, cand.n_id,
       |    list_cosine_similarity(qe.v, ce.v) AS cos
       |  FROM cand JOIN e ce ON ce.vec_id = cand.n_id
       |            JOIN e qe ON qe.vec_id = cand.q_id)
       |SELECT q_id, n_id, rank FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id) AS rank FROM scored) t
       |WHERE rank <= $K""".stripMargin
  }

  /** sim_ann_pq: product quantization with asymmetric distance — the
    * third classic ANN scale path (after LSH and IVF). The corpus is
    * encoded as M=8 4-bit codes (a 64-dim float vector becomes 8 small
    * ints — ~64x smaller, which is what makes billion-vector indexes fit
    * in memory); encoding is a map-only argmax against literal codebooks.
    * Each query precomputes its 8×16 dot-product table once, scoring a
    * corpus row is 8 table lookups (ADC) — no float vector is touched
    * until the top [[PqRerank]] candidates per query are re-ranked with
    * exact cosine. Sub-centroids are renormalized (spherical PQ), so
    * every reconstruction has identical norm and the ADC dot-sum ranks
    * like cosine. Rows-oracle (approximate; recall spec vs exact top-k). */
  def annPq(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val stride = math.max(1L, all.count() / TrainTarget)
    val books = trainCodebooks(
      all.filter(pmod(col("vec_id"), lit(stride)) === 0))
    val codeArr = array((0 until PqM).map(m =>
      bestCentroidOn(books(m), slice(col("v"), m * PqSubDim + 1, PqSubDim))): _*)
    val encoded = Tables.fanOut(all).select(col("vec_id"), codeArr.as("code"))
    // 8×16 dot-product table per query row; the HOF fold is interpreted
    // but touches only the NumQueries rows, never the corpus
    val qtab = array((0 until PqM).map { m =>
      array(books(m).map(c => dot(
        slice(col("v"), m * PqSubDim + 1, PqSubDim), typedLit(c))): _*)
    }: _*)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), qtab.as("qtab"))
    val adc = encoded.join(broadcast(q.select(col("q_id"), col("qtab"))),
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (0 until PqM).map(m => element_at(element_at(col("qtab"), m + 1),
          element_at(col("code"), m + 1) + 1)).reduce(_ + _).as("pqscore"))
    val cands = topKPerQuery(adc, PqRerank, "pqscore")
      .select(col("q_id"), col("n_id"))
    // exact re-rank of the small candidate set only
    val rescored = cands
      .join(all.select(col("vec_id").as("n_id"), col("v")), "n_id")
      .join(broadcast(q.select(col("q_id"), col("qv"))), "q_id")
      .select(col("q_id"), col("n_id"), cosine(col("qv"), col("v")).as("cos"))
    topKPerQuery(rescored)
  }

  /** DuckDB replay of [[annIvf]]: the stride-sampled seeds and train set,
    * [[IvfIters]] unrolled integer-micro-unit Lloyd rounds (bit-identical
    * to [[trainCentroids]]), full-corpus cell assignment, per-query
    * [[NProbe]]-nearest probe lists, and the exact cosine top-k over
    * probed cells — the entire approximate path hash-checked. */
  private[graft] def ivfOracle: String = ivfOracleBody("", "")

  /** [[ivfOracle]] with the metadata predicate injected into `scored` —
    * the DuckDB twin of [[annFiltered]] (the file-prune is an engine
    * access-path optimization; its SEMANTICS are exactly this
    * predicate). */
  private[graft] def ivfFilteredOracle: String = ivfOracleBody(
    s"\n   AND a.vec_id % $FilterMod = $FilterVal", ", TRUE AS filt_ok")

  /** The DuckDB twin of [[annIncremental]] and [[annStream]] — identical
    * IVF replay, but seeds/training draw from the pre-batch CORPUS slice
    * (the frozen centroids) while assignment and probes run over
    * corpus ∪ batch = every vector; the store accretion (one-shot or
    * streamed — append-only under frozen assignment is split-invariant)
    * is an engine access-path property, the SEMANTICS are exactly this.
    * ONE definition of the corpus split, parameterized by flag name. */
  private def corpIvfOracle(flag: String): String = ivfOracleBody(
    "", s", TRUE AS $flag", trainSrc = "corp",
    extraCtes = "\ncorp AS (SELECT vec_id, v FROM e WHERE vec_id % 3 <> 0),")

  private[graft] def ivfIncOracle: String = corpIvfOracle("ivfinc_ok")

  private def ivfOracleBody(extraPred: String, extraSel: String,
      trainSrc: String = "e", extraCtes: String = "",
      baseSel: String =
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
      probePred: String = s"e.vec_id < $NumQueries"): String = {
    val rounds = (0 until IvfIters).map(lloydRoundSql(_, "ts")).mkString(",\n")
    s"""WITH e AS ($baseSel),$extraCtes
       |ks AS (SELECT unnest(generate_series(1, $Dim)) AS k),
       |ts AS (SELECT vec_id, v FROM $trainSrc
       |  WHERE vec_id % (SELECT GREATEST(1, COUNT(*) // $TrainTarget) FROM $trainSrc) = 0),
       |seeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS cid, v
       |  FROM $trainSrc WHERE vec_id % $CentroidStride = 0
       |  ORDER BY vec_id LIMIT $NumCentroids),
       |c0 AS (SELECT cid, ks.k, v[ks.k] AS val FROM seeds CROSS JOIN ks),
       |c0l AS (SELECT cid, list(val ORDER BY k) AS cv FROM c0 GROUP BY cid),
       |$rounds,
       |assigned AS (SELECT vec_id, v, cid AS c_id FROM (
       |  SELECT e.vec_id, e.v, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |  FROM e CROSS JOIN c${IvfIters}l c) t WHERE rn = 1),
       |probes AS (SELECT q_id, qv, cid AS c_id FROM (
       |  SELECT e.vec_id AS q_id, e.v AS qv, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |  FROM e CROSS JOIN c${IvfIters}l c WHERE $probePred) t
       |  WHERE rn <= $NProbe),
       |scored AS (SELECT p.q_id, a.vec_id AS n_id,
       |    list_cosine_similarity(p.qv, a.v) AS cos
       |  FROM assigned a JOIN probes p ON a.c_id = p.c_id
       |  WHERE a.vec_id <> p.q_id$extraPred)
       |SELECT q_id, n_id, rank$extraSel FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id) AS rank FROM scored) t
       |WHERE rank <= $K""".stripMargin
  }

  /** sim_ann_ivf: coarse quantization with k-means-trained centroids
    * (stride-sampled seeds + Lloyd iterations, all driver-held literals).
    * Cell assignment is the literal-centroid argmax — a map-only projection
    * with ZERO shuffle and no corpus×k row blowup; queries rank the same
    * literal centroid array per-row (sort_array over ≤16 structs) and probe
    * their NProbe nearest cells. Only probed cells are scored exactly.
    * Rows-oracle (approximate results have no SQL twin). */
  /** The IVF coarse codebook: stride-sampled seeds refined by
    * [[trainCentroids]] on the fixed-size deterministic sample. Shared by
    * [[annIvf]] and [[probedCells]]. */
  private def ivfCentroids(s: SparkSession, all: DataFrame): Seq[Seq[Double]] = {
    import s.implicits._
    val seeds: Seq[Seq[Double]] = all
      .filter(pmod(col("vec_id"), lit(CentroidStride)) === 0)
      .orderBy("vec_id").limit(NumCentroids)
      .select("v").as[Seq[Double]].collect().toSeq
    val stride = math.max(1L, all.count() / TrainTarget)
    val trainSet = all.filter(pmod(col("vec_id"), lit(stride)) === 0)
    trainCentroids(trainSet, seeds, IvfIters)._1
  }

  /** (vec_id, c_id) — every vector's [[NProbe]] nearest coarse cells (the
    * multi-probe assignment). Candidate generation for the bucketed
    * embedding-dedup path: two vectors are candidates iff they share a
    * probed cell. Map-only against literal centroids — no shuffle. */
  private[graft] def probedCells(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val cents = ivfCentroids(s, all)
    val centArr = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-graft.functions.CosineSimilarity(col("v"), typedLit(c)))
        .as("negcos"), lit(i).as("cid"))
    }: _*)
    Tables.fanOut(all).select(col("vec_id"), col("v"),
        explode(slice(sort_array(centArr), 1, NProbe)).as("p"))
      .select(col("vec_id"), col("v"), col("p.cid").as("c_id"))
  }

  /** The IVF index parts shared by [[annIvf]], [[annFiltered]], and the
    * filtered-ANN spec: `assigned` = every vector with its ONE best
    * coarse cell (map-only argmax against literal centroids), `probes` =
    * each query's [[NProbe]] nearest cells (the per-query probe list:
    * sort the (-cos, cid) struct array ascending → first NProbe entries;
    * 10 query rows, so even an interpreted array sort is nothing). */
  private[graft] def ivfParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val all = vecs(s, d)
    val cents = ivfCentroids(s, all)
    val assigned = Tables.fanOut(all).withColumn("c_id", bestCentroid(cents))
    val centArr = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-graft.functions.CosineSimilarity(col("v"), typedLit(c)))
        .as("negcos"), lit(i).as("cid"))
    }: _*)
    val probes = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(slice(sort_array(centArr), 1, NProbe)).as("p"))
      .select(col("q_id"), col("qv"), col("p.cid").as("c_id"))
    (assigned, probes)
  }

  def annIvf(s: SparkSession, d: String): DataFrame = {
    val (assigned, probes) = ivfParts(s, d)
    val scored = assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("qv"), col("v")).as("cos"))
    topKPerQuery(scored)
  }

  // ---- Filtered ANN (predicate-pushed) -------------------------------------

  /** Synthetic metadata column for [[annFiltered]]: lic = vec_id % 4
    * (a license / language / date-bucket stand-in), predicate lic = 1 —
    * deterministic, so the oracle replays it. */
  private val FilterMod = 4L
  private val FilterVal = 1L

  /** sim_ann_filtered: the production RAG query — top-k cosine WITH a
    * metadata predicate, where the predicate prunes FILES before any
    * vector is scored, not rows after. Every §E sibling ranks the whole
    * probed slice; this one composes the IVF probe lists with MANIFEST
    * file pruning on the filter column:
    *
    *   - index build (once): vectors get their coarse cell (map-only
    *     argmax) and the metadata column; files are laid out by the
    *     composite (c_id, lic) key via [[TxnTable.clusterExact]] — two
    *     combos per file, deterministically aligned so BOTH columns'
    *     per-file [min,max] boxes are tight — and committed with stats
    *     on both columns;
    *   - query: each distinct probed cell issues ONE
    *     [[TxnTable.snapshotWhere]] read with the two-sided predicate
    *     (c_id = cell ∧ lic = [[FilterVal]]): files failing EITHER side
    *     are pruned from the manifest alone — never listed, opened, or
    *     footer-read. A cell's wrong-lic file is dropped even though its
    *     c_id matches: that is the predicate pushdown this query exists
    *     to prove. Survivors carry the residual row filter, score
    *     exactly, and feed the salted top-k.
    *
    * At 100 TB the win compounds: NProbe/NumCentroids of the corpus via
    * IVF × selectivity of the predicate via stats, and the scoring join
    * touches only rows satisfying both. `filt_ok` asserts the
    * accounting: every probe read kept at most ONE stats-bearing file
    * (+ zero-row path-only files, which box pruning conservatively
    * keeps) and strictly fewer files than the table holds. Full
    * oracle: DuckDB replays training, assignment, probes, the
    * predicate, and the top-k. */
  def annFiltered(s: SparkSession, d: String): DataFrame = {
    val (assigned, probes0) = ivfParts(s, d)
    val t = {
      val dir = graft.Fs.scratch("graft_txn", "sim_filtered_idx")
      graft.Fs.deleteRecursively(dir)
      dir
    }
    val withKey = assigned
      .withColumn("lic", pmod(col("vec_id"), lit(FilterMod)))
      .withColumn("ck", col("c_id").cast("long") * FilterMod + col("lic"))
    val span = NumCentroids * FilterMod // 64 combos
    val nFiles = (span / 2).toInt // two combos per file, aligned
    val clustered = TxnTable
      .clusterExact(s, withKey, "ck", 0L, span - 1, nFiles).drop("ck")
    TxnTable.commit(s, t,
      TxnTable.stageIndexed(s, t, clustered, Seq("c_id", "lic")),
      expected = -1L, op = "create")
    // zero-row path-only files carry no stats and are conservatively
    // kept by every box read — exclude them from the prune accounting
    val m = TxnTable.manifest(s, t, TxnTable.currentVersion(s, t))
    val zRows = m.entries.count(_.stats.isEmpty)
    val probes = probes0.localCheckpoint(true)
    val cells = probes.select("c_id").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val reads = cells.map { cid =>
      TxnTable.snapshotWhere(s, t,
        col("c_id") === cid && col("lic") === FilterVal)
    }
    val survivors = reads.map(_._1).reduce(_ unionByName _)
    // ≤ nFiles files total (an empty (c_id, lic) partition writes no
    // file at all), and every probe read kept at most ONE stats-bearing
    // file (+ the zero-row path-only files box pruning conservatively
    // keeps) while actually dropping files — the predicate pushdown bit
    val ok = reads.nonEmpty && m.entries.size <= nFiles &&
      reads.forall { case (_, scanned, total) =>
        total == m.entries.size && scanned <= 1 + zRows && scanned < total }
    val scored = survivors.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("qv"), col("v")).as("cos"))
    topKPerQuery(scored).withColumn("filt_ok", lit(ok))
  }

  /** sim_ann_incremental: the IVF index as a PERSISTED, ACCRETING
    * store — the daily-ingest ANN pipeline, the retrieval mirror of
    * dd_incremental. Every §E sibling rebuilds its index inside the
    * query; a production corpus takes a batch of new embeddings per day
    * and must index them WITHOUT rescanning or rewriting what's already
    * indexed:
    *
    *   - build (once): coarse centroids train on the pre-batch corpus
    *     and are FROZEN — the IVF contract that makes the index
    *     accretable (FAISS's add-after-train); corpus vectors get their
    *     cell map-only and land c_id-clustered ([[TxnTable
    *     .clusterExact]]) so per-file cell stats are tight;
    *   - ingest: the arriving batch is assigned with the SAME frozen
    *     centroids (map-only — touches batch rows ONLY), clustered by
    *     cell, and [[TxnTable.appendResolving]]'d onto the store: one
    *     manifest CAS, corpus files carried VERBATIM (asserted) — the
    *     cost is O(batch), never O(index);
    *   - query: probe lists against the frozen centroids; each probed
    *     cell is ONE [[TxnTable.snapshotWhere]] read that file-prunes
    *     BOTH generations from the manifest (corpus and batch files
    *     carry the same c_id stats), scores exactly, salted top-k.
    *
    * At 100 TB: ingest cost follows the batch, query cost follows
    * NProbe/NumCentroids of the corpus, and nothing ever re-reads the
    * accumulated index to grow it. `ivfinc_ok` asserts the accounting:
    * exactly one append commit, v0 entries carried verbatim, the store
    * holds corpus+batch, and every probe read pruned files. Oracle:
    * full replay — training on the CORPUS slice, frozen-centroid
    * assignment of corpus ∪ batch, probes, top-k. */
  def annIncremental(s: SparkSession, d: String): DataFrame = {
    val store = {
      val dir = graft.Fs.scratch("graft_txn", "sim_ivf_store")
      graft.Fs.deleteRecursively(dir)
      dir
    }
    val all = vecs(s, d)
    val corpus = all.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val cents = ivfCentroids(s, corpus) // trained pre-batch, frozen
    val files0 = createIvfStore(s, store, cents, corpus)
    val nCorpus = TxnTable.snapshot(s, store, 0L).count()
    val batch = all.filter(pmod(col("vec_id"), lit(3)) === 0)
      .withColumn("c_id", bestCentroid(cents).cast("long"))
    val out = TxnTable.appendResolving(s, store,
      TxnTable.clusterExact(s, batch, "c_id", 0L, NumCentroids - 1L, 4))
    val m1 = TxnTable.manifest(s, store, out.version)
    val zRows = m1.entries.count(e => e.stats.isEmpty && e.strStats.isEmpty)
    val (topk, counts) = probeIvfStore(s, store, cents, all, out.version)
    val ok = out.version == 1L &&
      files0.subsetOf(m1.entries.map(_.path).toSet) && // corpus verbatim
      TxnTable.snapshot(s, store, out.version).count() == all.count() &&
      nCorpus < all.count() &&
      counts.nonEmpty && counts.forall { case (scanned, total) =>
        total == m1.entries.size && scanned < total &&
          scanned <= 3 + zRows // ≤2 corpus-gen + ≤1 batch-gen cell files
      }
    topk.withColumn("ivfinc_ok", lit(ok))
  }

  /** sim_ann_delete: RETRACTION from the persisted IVF store — the
    * GDPR/unlearning shape every production vector index must serve:
    * scattered vectors (every 17th id, hitting EVERY cell) must stop
    * surfacing in search results, with cost proportional to the
    * retraction, not the index. Copy-on-write would rewrite the whole
    * c_id-clustered store (the victims live in every cell file);
    * instead ONE merge-on-read commit ([[TxnTable.deleteKeysMor]])
    * lands an equality tombstone on vec_id with every index entry
    * carried byte-verbatim (asserted) — zero data files rewritten at
    * ANY index size — and every probe read anti-joins it: the deleted
    * vectors are gone from the top-k atomically. The quantizer stays
    * FROZEN (deletes don't retrain centroids — the honest production
    * semantics; the oracle scores with the same full-corpus training).
    * A reader pinned at the pre-delete version still sees every
    * vector (asserted); compact() folds the tombstone into a clean
    * generation and the probe answers IDENTICALLY (top-k set compared
    * row-for-row). `anndel_ok` carries the accounting; the oracle
    * replays the full IVF path over the retained set. */
  def annDelete(s: SparkSession, d: String): DataFrame = {
    val store = graft.Fs.freshScratch("graft_txn", "sim_ivf_del")
    val all = vecs(s, d)
    val cents = ivfCentroids(s, all)
    createIvfStore(s, store, cents, all)
    // BYTE-verbatim carry (rendered lines, not just paths): a delete
    // that re-stamped seqs or touched stats would slip a path-set check
    val lines0 = TxnTable.manifest(s, store, 0L).entries
      .map(TxnTable.render).toSet
    val nAll = all.count()
    val nDel = all.filter(pmod(col("vec_id"), lit(AnnDeleteMod)) === 0)
      .count()
    // the retraction: one tombstone commit, no data read or rewritten
    val v1 = TxnTable.deleteKeysMor(s, store,
      all.filter(pmod(col("vec_id"), lit(AnnDeleteMod)) === 0)
        .select(col("vec_id")), "vec_id")
    val m1 = TxnTable.manifest(s, store, v1)
    val verbatim = lines0.subsetOf(m1.entries.map(TxnTable.render).toSet)
    val (topkMor, _) = probeIvfStore(s, store, cents, all, v1)
    val morRows = topkMor.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // pinned pre-delete version: every vector still there
    val pinnedN = TxnTable.snapshot(s, store, 0L).count()
    val headN = TxnTable.snapshot(s, store, v1).count()
    // compaction folds the tombstone; the probe answers identically
    val v2 = TxnTable.compact(s, store)
    val (topkClean, _) = probeIvfStore(s, store, cents, all, v2)
    val cleanRows = topkClean.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ok = verbatim && m1.deletes.size == 1 &&
      pinnedN == nAll && headN == nAll - nDel &&
      TxnTable.manifest(s, store, v2).deletes.isEmpty &&
      morRows == cleanRows
    topkMor.withColumn("anndel_ok", lit(ok))
  }

  /** Every [[AnnDeleteMod]]-th vector is retracted in [[annDelete]] —
    * scattered across every IVF cell by construction. */
  private val AnnDeleteMod = 17

  private[graft] def ivfDeleteOracle: String = ivfOracleBody(
    s"\n   AND a.vec_id % $AnnDeleteMod <> 0", ", TRUE AS anndel_ok")

  /** Create the c_id-clustered IVF store over `corpus` with the frozen
    * `cents` (shared by [[annIncremental]] and [[annStream]]); returns
    * the created version's file set for verbatim-carry assertions. */
  private def createIvfStore(s: SparkSession, store: String,
      cents: Seq[Seq[Double]], corpus: DataFrame): Set[String] = {
    val assigned = Tables.fanOut(corpus)
      .withColumn("c_id", bestCentroid(cents).cast("long"))
    TxnTable.commit(s, store, TxnTable.stageIndexed(s, store,
      TxnTable.clusterExact(s, assigned, "c_id",
        0L, NumCentroids - 1L, 8), "c_id"),
      expected = -1L, op = "create", schemaJson = assigned.schema.json)
    TxnTable.liveFiles(s, store, 0L).toSet
  }

  /** Probe the accreted IVF store at `ver` with `all`'s query vectors
    * against the frozen `cents`: one file-pruned
    * [[TxnTable.snapshotWhere]] read per probed cell, exact scoring,
    * salted top-k. Returns the top-k frame and the per-read
    * (scanned, total) accounting for the callers' prune assertions. */
  private def probeIvfStore(s: SparkSession, store: String,
      cents: Seq[Seq[Double]], all: DataFrame, ver: Long,
      queryPred: Column = col("vec_id") < NumQueries)
      : (DataFrame, Seq[(Int, Int)]) = {
    val centArr = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-graft.functions.CosineSimilarity(col("v"), typedLit(c)))
        .as("negcos"), lit(i).as("cid"))
    }: _*)
    val probes = all.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(slice(sort_array(centArr), 1, NProbe)).as("p"))
      .select(col("q_id"), col("qv"), col("p.cid").cast("long").as("c_id"))
      .localCheckpoint(true)
    val cells = probes.select("c_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val reads = cells.map(cid =>
      TxnTable.snapshotWhere(s, store, col("c_id") === cid, ver))
    val stored = reads.map(_._1).reduce(_ unionByName _)
    val scored = stored.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("qv"), col("v")).as("cos"))
    (topKPerQuery(scored), reads.map(r => (r._2, r._3)))
  }

  /** IVF MAINTENANCE: retrain the coarse quantizer on the store's
    * CURRENT content and rewrite every cell assignment, as ONE commit —
    * the cure for the accreting store's silent decay. [[annIncremental]]
    * freezes centroids at build time (the add-after-train contract that
    * makes ingest O(batch)), so a corpus that DRIFTS — a new embedding
    * model, a new modality, a new language — piles into cells the old
    * quantizer never shaped, and recall degrades with every batch while
    * nothing errors. recluster_ivf runs the exact build recipe over the
    * current rows ([[ivfCentroids]]: stride-sampled seeds + Lloyd on the
    * fixed-size deterministic sample — retraining cost is CONSTANT at
    * any store size), reassigns map-only, and lands the c_id-clustered
    * rewrite through [[TxnTable.commitResolving]] (op `recluster_ivf`,
    * tombstones applied-and-cleared like compact; an interleaved append
    * forces the honest recompute — the delete-set/read-set rules).
    * Deterministic BY CONSTRUCTION, so readers recover the new
    * centroids from the content alone (the same recipe), and a SQL
    * oracle replays the whole retrain. Returns the landed version and
    * the retrained centroids. */
  def reclusterIvf(s: SparkSession, store: String)
      : (Long, Seq[Seq[Double]]) = {
    var centsOut: Seq[Seq[Double]] = Nil
    var lastStaged: Seq[String] = Nil
    val out = TxnTable.commitResolving(s, store) { base =>
      TxnTable.dropStaged(s, store, lastStaged)
      val m = TxnTable.manifest(s, store, base)
      val snap = TxnTable.snapshot(s, store, base)
      require(Seq("vec_id", "v", "c_id").forall(snap.columns.contains),
        s"$store is not an IVF store (needs vec_id, v, c_id; has " +
          s"${snap.columns.mkString(", ")})")
      val cents = ivfCentroids(s, snap.select(col("vec_id"), col("v")))
      centsOut = cents
      val reassigned = snap
        .withColumn("c_id", bestCentroid(cents).cast("long"))
      val lines = TxnTable.stageIndexed(s, store,
        TxnTable.clusterExact(s, reassigned, "c_id",
          0L, NumCentroids - 1L, 8), "c_id")
      lastStaged = lines
      val paths = m.entries.map(_.path).toSet
      // the rewrite read the base THROUGH its tombstones and applied
      // them (compact's rule); blooms covered only rewritten files.
      // op is DISTINCT from the metadata-only "recluster": this commit
      // CHANGES row content (every c_id reassigned), so anything that
      // special-cases content-invariant ops (MatView's feed-less-range
      // allow-list especially) must treat it as a content change
      TxnTable.Change(lines, paths, paths, op = "recluster_ivf",
        deletes = Some(Nil), schemaFallback = m.schema.map(_.json),
        blooms = Some(Nil))
    }
    (out.version, centsOut)
  }

  /** Drift model shared between [[annRecluster]] and its oracle: every
    * 3rd embedding arrives shifted by one of [[DriftClusters]] cluster
    * prototypes — `v'[i] = v[i] + (((id%8)·37 + i·11) % 13 − 6) ·
    * [[DriftScale]]` (0-based i). Integer arithmetic + one exact IEEE
    * multiply-add per dim, so Spark and DuckDB produce bit-identical
    * vectors. The scale is calibrated so the prototype's pull and the
    * residual are COMPARABLE: same-cluster vectors are true neighbors,
    * but under the pre-drift quantizer their cell assignment is
    * residual-noise-driven — neighbors scatter across cells and recall
    * drops (measured: 0.90/0.85/0.61 at sf 0.001/0.01/0.1) — while a
    * retrained quantizer dedicates centroids to the clusters and the
    * same probes recover to 1.00. */
  private val DriftMod = 3L
  private val DriftClusters = 8L
  private val DriftScale = 0.03

  private def driftedVec: Column =
    transform(col("v"), (x, i) =>
      x + ((pmod(col("vec_id"), lit(DriftClusters)) * lit(37L) +
        i * lit(11L)) % lit(13L) - lit(6L)) * lit(DriftScale))

  /** sim_ann_recluster: QUANTIZER DRIFT AND THE RECLUSTER CURE, end to
    * end. The store is built on the original corpus (frozen centroids —
    * the [[annIncremental]] contract), then a DRIFTED batch lands under
    * that frozen quantizer: every 3rd embedding shifted by one of
    * [[DriftClusters]] integer-lattice prototypes ([[driftedVec]] — the
    * new-embedding-model shape: tight same-cluster neighborhoods in a
    * region the original centroids never shaped, with prototype pull
    * calibrated against the residual so frozen-quantizer assignment is
    * noise-driven and neighbors SCATTER). Recall for drifted
    * queries against the exact brute-force truth degrades silently —
    * then `CALL graft.system.recluster_ivf` retrains on the current
    * rows and rewrites assignment, and the SAME probes recover:
    * `recl_ok` pins recallAfter > recallBefore measured against the
    * exact top-k, plus the commit mechanics (op `recluster_ivf`, content
    * invariant as a (vec_id, Σv-hash) signature, one version). Hashed
    * output = the post-recluster probe top-k, whose oracle replays the
    * ENTIRE retrain (stride seeds + integer-micro-unit Lloyd over the
    * drifted store) in SQL. At 100 TB: retraining touches the same
    * ~2k-row sample as the build, reassignment is one map-only rewrite
    * at compaction granularity — the index stays probe-efficient as
    * the corpus evolves, with cost O(store rewrite), never O(history).
    */
  def annRecluster(s: SparkSession, d: String): DataFrame = {
    val store = graft.Fs.freshScratch("graft_txn", "sim_ivf_recl")
    val all0 = vecs(s, d)
    val corpus = all0.filter(pmod(col("vec_id"), lit(DriftMod)) =!= 0)
    val drifted = all0.filter(pmod(col("vec_id"), lit(DriftMod)) === 0)
      .withColumn("v", driftedVec)
    val cents0 = ivfCentroids(s, corpus) // frozen, pre-drift
    createIvfStore(s, store, cents0, corpus)
    val batch = drifted.withColumn("c_id", bestCentroid(cents0).cast("long"))
    TxnTable.appendResolving(s, store,
      TxnTable.clusterExact(s, batch, "c_id", 0L, NumCentroids - 1L, 4))
    val full = corpus.unionByName(drifted).localCheckpoint(true)
    // queries: the first NumQueries DRIFTED vectors — the population
    // the frozen quantizer serves worst
    val qPred = pmod(col("vec_id"), lit(DriftMod)) === 0 &&
      col("vec_id") < DriftMod * NumQueries
    // exact truth: brute-force cosine top-k over the full store content
    val queries = full.filter(qPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val truth = topKPerQuery(full.join(broadcast(queries),
        col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("qv"), col("v")).as("cos")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(topk: DataFrame): Double = {
      val got = topk.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val v1 = TxnTable.currentVersion(s, store)
    val (before, _) = probeIvfStore(s, store, cents0, full, v1, qPred)
    val recallBefore = recallOf(before)
    def contentSig(ver: Long): (Long, java.math.BigDecimal) = {
      val r = TxnTable.snapshot(s, store, ver)
        .agg(count(lit(1)), sum(xxhash64(col("vec_id"),
          col("v").cast("string"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .collect()(0)
      (r.getLong(0), r.getDecimal(1))
    }
    val sigBefore = contentSig(v1)
    val (v2, cents1) = reclusterIvf(s, store)
    val (after, counts) = probeIvfStore(s, store, cents1, full, v2, qPred)
    val recallAfter = recallOf(after)
    val m2 = TxnTable.manifest(s, store, v2)
    val ok = v2 == v1 + 1 && m2.op == "recluster_ivf" &&
      contentSig(v2) == sigBefore &&
      recallAfter > recallBefore &&
      counts.forall { case (scanned, total) => scanned < total }
    after.withColumn("recl_ok", lit(ok))
  }

  /** The [[annRecluster]] oracle: the full IVF replay over the DRIFTED
    * store — training (the retrain: stride seeds + Lloyd) on the store
    * content itself, probes from the drifted query population. */
  private[graft] def ivfReclusterOracle: String = ivfOracleBody(
    "", ", TRUE AS recl_ok",
    baseSel = s"""SELECT vec_id, CASE WHEN vec_id % $DriftMod = 0 THEN
      |    list_transform(generate_series(1, $Dim),
      |      i -> CAST(embedding AS DOUBLE[])[i] +
      |        ((((vec_id % $DriftClusters) * 37 + (i - 1) * 11) % 13) - 6)
      |          * $DriftScale)
      |  ELSE CAST(embedding AS DOUBLE[]) END AS v FROM embeddings"""
      .stripMargin,
    probePred = s"e.vec_id % $DriftMod = 0 AND " +
      s"e.vec_id < ${DriftMod * NumQueries}")

  /** st_stream_ann: STREAMING INGEST into the accreting IVF store —
    * [[annIncremental]]'s daily batch run as a real Structured
    * Streaming pipeline. Three ordered embedding waves arrive as
    * micro-batches (file source, maxFilesPerTrigger=1, mtime-pinned
    * order); each foreachBatch assigns the wave with the FROZEN
    * corpus-trained centroids (map-only over the wave) and
    * [[TxnTable.appendResolving]]'s it onto the store — one manifest
    * CAS per wave, O(wave) cost, the store never re-read to grow, and
    * a concurrent writer would rebase rather than clobber. Because the
    * index is append-only under frozen assignment, the final store
    * state is INDEPENDENT of the wave split: corpus ∪ waves = every
    * vector, so the post-stream probe top-k must equal the one-shot
    * batch path's — and the oracle IS that replay. `annstream_ok`
    * asserts the commit trail (create + one commit per wave), verbatim
    * corpus carry, the full row count, and per-probe file-prune
    * bounds (≤ one stats-bearing file per generation per cell). */
  def annStream(s: SparkSession, d: String): DataFrame = {
    val base = graft.Fs.scratch("graft_stream_ann", "run")
    graft.Fs.deleteRecursively(base)
    val store = s"$base/store"
    val all = vecs(s, d)
    val corpus = all.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val cents = ivfCentroids(s, corpus) // trained pre-stream, frozen
    val files0 = createIvfStore(s, store, cents, corpus)
    val batch = all.filter(pmod(col("vec_id"), lit(3)) === 0)
    val nWaves = 3
    val waves = (0 until nWaves).map(w =>
      batch.filter(pmod(expr("vec_id div 3"), lit(nWaves)) === w))
    val feed = graft.streaming.Streams.stageWaveFeed(s, base, waves)
    val q = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(feed)
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (wave: DataFrame, _: Long) =>
        // frozen-centroid assignment touches WAVE rows only; the append
        // is one manifest CAS — the accumulated index is never read
        val assigned = wave
          .withColumn("c_id", bestCentroid(cents).cast("long"))
          .localCheckpoint(true)
        if (assigned.limit(1).count() > 0)
          TxnTable.appendResolving(s, store, TxnTable.clusterExact(
            s, assigned, "c_id", 0L, NumCentroids - 1L, 2))
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val vHead = TxnTable.currentVersion(s, store)
    val m1 = TxnTable.manifest(s, store, vHead)
    val zRows = m1.entries.count(e => e.stats.isEmpty && e.strStats.isEmpty)
    val (topk, counts) = probeIvfStore(s, store, cents, all, vHead)
    val ok = vHead == nWaves.toLong && // create + one commit per wave
      files0.subsetOf(m1.entries.map(_.path).toSet) &&
      TxnTable.snapshot(s, store, vHead).count() == all.count() &&
      counts.nonEmpty && counts.forall { case (scanned, total) =>
        total == m1.entries.size && scanned < total &&
          scanned <= 1 + nWaves + zRows
      }
    topk.withColumn("annstream_ok", lit(ok))
  }

  /** The DuckDB twin of [[annStream]] — [[corpIvfOracle]] under the
    * streaming flag name. */
  private[graft] def ivfStreamOracle: String = corpIvfOracle("annstream_ok")

  /** sim_sq8: SCALAR quantization (the FAISS SQ8 / Lucene int8 path —
    * the simplest memory-bound ANN compression): each of the [[Dim]]
    * dimensions is linearly mapped to an int8 bucket against per-dim
    * corpus [min,max] ranges, shrinking a 512-byte float64 row to 64
    * bytes with NO training loop — the practical default when PQ's
    * codebooks are overkill. Ranges are a 64-row aggregate collected to
    * driver literals (the centroid discipline: bounded k×dim state);
    * encode + midpoint reconstruction are map-only array transforms, so
    * compressing 100 TB is one scan with zero shuffles. Queries stay
    * EXACT (asymmetric scoring): each corpus row is ranked by
    * cosine(exact query, reconstructed neighbor), the top [[PqRerank]]
    * re-ranked with exact cosine. Every stage — ranges, codes, midpoint
    * reconstruction, both rankings — is the same IEEE double tree the
    * oracle replays, so the whole approximate path is hash-checked. */
  def annSq8(s: SparkSession, d: String): DataFrame = {
    val all = Tables.fanOut(vecs(s, d))
    val stats = all.select(posexplode(col("v")).as(Seq("k", "x")))
      .groupBy(col("k")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("k")).collect()
    val mnL = typedLit(stats.map(_.getDouble(1)).toSeq)
    val mxL = typedLit(stats.map(_.getDouble(2)).toSeq)
    def mnAt(i: Column) = element_at(mnL, i + 1)
    def mxAt(i: Column) = element_at(mxL, i + 1)
    val codes = transform(col("v"), (x, i) =>
      when(mxAt(i) === mnAt(i), lit(0)).otherwise(
        least(greatest(floor((x - mnAt(i)) * 255.0 / (mxAt(i) - mnAt(i)))
          .cast("int"), lit(0)), lit(255))))
    val rec = transform(col("code"), (c, i) =>
      mnAt(i) + (c.cast("double") + 0.5) * (mxAt(i) - mnAt(i)) / 256.0)
    val encoded = all.select(col("vec_id"), codes.as("code"))
      .select(col("vec_id"), rec.as("r"))
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val approx = encoded.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("qv"), col("r")).as("sq8"))
    val cands = topKPerQuery(approx, PqRerank, "sq8")
      .select(col("q_id"), col("n_id"))
    val rescored = cands
      .join(all.select(col("vec_id").as("n_id"), col("v")), "n_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("n_id"), cosine(col("qv"), col("v")).as("cos"))
    topKPerQuery(rescored)
  }

  // ---- Graph ANN (bounded small-world over LSH buckets) -------------------

  private val GraphDegree = 8 // out-degree per node
  private val GraphBeam = 8 // frontier width per expansion round
  private val GraphRounds = 3 // fixed expansion rounds (unrolled, replayable)
  private val GraphEntries = 4 // fixed entry points (smallest non-query ids)

  /** sim_ann_graph: graph-based ANN — the HNSW/DiskANN family's
    * high-recall regime, expressed as a DETERMINISTIC bounded variant so
    * the whole path stays oracle-replayable (an iterative stochastic
    * graph build is hostile to hash checking; a fixed-degree graph +
    * fixed-round beam search is not). Construction: candidate pairs =
    * vectors sharing any LSH (table, bucket) — the existing literal
    * hyperplanes, a bucket join, never all-pairs — each node keeping its
    * [[GraphDegree]] best neighbors by exact cosine (ties by id): a
    * navigable small-world layer whose edges follow the data. Search:
    * from [[GraphEntries]] fixed entry points, [[GraphRounds]] rounds of
    * best-first expansion — each round expands the [[GraphBeam]] best
    * NEWLY-discovered nodes (by cosine to the query) through the edge
    * list, accumulating a visited set — then exact top-k over everything
    * visited. Scale: the graph build is bucket-bounded and one-off
    * (write-time, like every index here); per-query state is
    * beam×degree-bounded and rounds are fixed, so search cost is
    * O(R·B·D) cosines per query, independent of corpus size — the
    * property that makes graph ANN the high-recall default. Recall ≥
    * IVF's on the same queries (SimilaritySpec). Hash-checked: every
    * stage (pairs, degree cut, beams, final rank) replays in DuckDB. */
  def annGraph(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val tabs = lshTables(all)
    val pairs = tabs.select(col("t"), col("bucket"), col("vec_id").as("u"))
      .join(tabs.select(col("t"), col("bucket"), col("vec_id").as("w")),
        Seq("t", "bucket"))
      .filter(col("u") =!= col("w"))
      .select(col("u"), col("w")).distinct()
    val uv = all.select(col("vec_id").as("u"), col("v").as("uvec"))
    val wv = all.select(col("vec_id").as("w"), col("v").as("wvec"))
    val wE = Window.partitionBy(col("u")).orderBy(col("cos").desc, col("w"))
    // localCheckpoint: the edge list is read once per expansion round —
    // recomputing the bucket join per round would cube the build cost
    val edges = pairs.join(uv, "u").join(wv, "w")
      .select(col("u"), col("w"),
        cosine(col("uvec"), col("wvec")).as("cos"))
      .withColumn("rn", row_number().over(wE))
      .filter(col("rn") <= GraphDegree).select(col("u"), col("w"))
      .localCheckpoint()
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val entries = all.filter(col("vec_id") >= NumQueries)
      .orderBy(col("vec_id")).limit(GraphEntries)
      .select(col("vec_id").as("n_id"))
    val nv = all.select(col("vec_id").as("n_id"), col("v").as("nvec"))
    def scoreOf(df: DataFrame): DataFrame =
      df.join(nv, "n_id").join(broadcast(q), "q_id")
        .select(col("q_id"), col("n_id"),
          cosine(col("qv"), col("nvec")).as("cos"))
    val wB = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    // per-query SEEDS: the query's best LSH bucket mates — entering the
    // graph near the query is what makes a small-world walk converge
    // (the HNSW upper-layer role); the fixed global entries ride along
    // so a query with an empty bucket still searches
    val qTabs = tabs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("t"), col("bucket"))
    val seeds = scoreOf(tabs.join(broadcast(qTabs), Seq("t", "bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id")).distinct())
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= GraphEntries).select(col("q_id"), col("n_id"))
    // per-query search state: (q_id, n_id) rows, beam×degree-bounded
    var visited = seeds
      .union(q.select(col("q_id")).crossJoin(broadcast(entries)))
      .distinct().localCheckpoint()
    var frontier = visited
    for (_ <- 1 to GraphRounds) {
      val discovered = frontier
        .join(edges, frontier("n_id") === edges("u"))
        .select(col("q_id"), col("w").as("n_id")).distinct()
        .join(visited, Seq("q_id", "n_id"), "left_anti")
        .localCheckpoint()
      frontier = scoreOf(discovered)
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= GraphBeam).select(col("q_id"), col("n_id"))
        .localCheckpoint()
      visited = visited.union(discovered).localCheckpoint()
    }
    topKPerQuery(scoreOf(visited).filter(col("n_id") =!= col("q_id")))
  }

  /** DuckDB replay of [[annGraph]]: LSH pair candidates, the per-node
    * degree cut, the three unrolled beam rounds (discover → anti-join
    * visited → beam by cosine), and the final exact rank — identical
    * IEEE trees, full hash parity. */
  private[graft] def graphOracle: String = {
    def round(i: Int): String = {
      val (pv, pf) = (s"v${i - 1}", s"f${i - 1}")
      s"""n$i AS (SELECT DISTINCT f.q_id, ed.w AS n_id
         |  FROM $pf f JOIN edges ed ON ed.u = f.n_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $pv x
         |    WHERE x.q_id = f.q_id AND x.n_id = ed.w)),
         |f$i AS (SELECT q_id, n_id FROM (
         |  SELECT n.q_id, n.n_id, ROW_NUMBER() OVER (PARTITION BY n.q_id
         |    ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, n.n_id) AS rn
         |  FROM n$i n JOIN e qe ON qe.vec_id = n.q_id
         |            JOIN e ne ON ne.vec_id = n.n_id) t
         |  WHERE rn <= $GraphBeam),
         |v$i AS (SELECT * FROM $pv UNION ALL SELECT * FROM n$i)"""
        .stripMargin
    }
    s"""WITH $lshBucketCtes,
       |pairs AS (SELECT DISTINCT a.vec_id AS u, b.vec_id AS w
       |  FROM tb a JOIN tb b ON a.t = b.t AND a.bucket = b.bucket
       |  WHERE a.vec_id <> b.vec_id),
       |edges AS (SELECT u, w FROM (
       |  SELECT p.u, p.w, ROW_NUMBER() OVER (PARTITION BY p.u
       |    ORDER BY list_cosine_similarity(ue.v, we.v) DESC, p.w) AS rn
       |  FROM pairs p JOIN e ue ON ue.vec_id = p.u
       |              JOIN e we ON we.vec_id = p.w) t
       |  WHERE rn <= $GraphDegree),
       |ent AS (SELECT vec_id AS n_id FROM e WHERE vec_id >= $NumQueries
       |  ORDER BY vec_id LIMIT $GraphEntries),
       |seedc AS (SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS n_id
       |  FROM tb qb JOIN tb cb ON qb.t = cb.t AND qb.bucket = cb.bucket
       |  WHERE qb.vec_id < $NumQueries AND cb.vec_id <> qb.vec_id),
       |seeds AS (SELECT q_id, n_id FROM (
       |  SELECT sc.q_id, sc.n_id, ROW_NUMBER() OVER (PARTITION BY sc.q_id
       |    ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, sc.n_id) AS rn
       |  FROM seedc sc JOIN e qe ON qe.vec_id = sc.q_id
       |               JOIN e ne ON ne.vec_id = sc.n_id) t
       |  WHERE rn <= $GraphEntries),
       |v0 AS (SELECT DISTINCT q_id, n_id FROM (
       |  SELECT q.vec_id AS q_id, ent.n_id
       |    FROM e q CROSS JOIN ent WHERE q.vec_id < $NumQueries
       |  UNION ALL SELECT q_id, n_id FROM seeds) u),
       |f0 AS (SELECT * FROM v0),
       |${(1 to GraphRounds).map(round).mkString(",\n")}
       |SELECT q_id, n_id, rank FROM (
       |  SELECT v.q_id, v.n_id, ROW_NUMBER() OVER (PARTITION BY v.q_id
       |    ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, v.n_id) AS rank
       |  FROM v$GraphRounds v JOIN e qe ON qe.vec_id = v.q_id
       |    JOIN e ne ON ne.vec_id = v.n_id
       |  WHERE v.n_id <> v.q_id) t
       |WHERE rank <= $K""".stripMargin
  }

  /** DuckDB replay of [[annSq8]]: per-dim ranges, int8 codes, midpoint
    * reconstruction, the asymmetric cosine ranking, candidate cut, and
    * exact re-rank — identical IEEE trees, full hash parity. */
  private[graft] def sq8Oracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |ks AS (SELECT unnest(generate_series(1, $Dim)) AS k),
       |st AS (SELECT ks.k, MIN(v[ks.k]) AS mn, MAX(v[ks.k]) AS mx
       |  FROM e CROSS JOIN ks GROUP BY ks.k),
       |rec AS (SELECT vec_id, list(
       |    mn + (CAST(CASE WHEN mx = mn THEN 0 ELSE
       |      LEAST(GREATEST(CAST(floor((v[k] - mn) * 255.0 / (mx - mn))
       |        AS INT), 0), 255) END AS DOUBLE) + 0.5) * (mx - mn) / 256.0
       |    ORDER BY k) AS r
       |  FROM e CROSS JOIN st GROUP BY vec_id),
       |approx AS (SELECT q.vec_id AS q_id, rec.vec_id AS n_id,
       |    list_cosine_similarity(q.v, rec.r) AS sq8
       |  FROM e q JOIN rec ON rec.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |cands AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY sq8 DESC, n_id) AS rn FROM approx) t
       |  WHERE rn <= $PqRerank)
       |SELECT q_id, n_id, rank FROM (
       |  SELECT c.q_id, c.n_id, ROW_NUMBER() OVER (PARTITION BY c.q_id
       |    ORDER BY list_cosine_similarity(q.v, n.v) DESC, c.n_id) AS rank
       |  FROM cands c JOIN e q ON q.vec_id = c.q_id
       |  JOIN e n ON n.vec_id = c.n_id) t
       |WHERE rank <= $K""".stripMargin

  // ---- Hybrid retrieval (BM25 ⊕ cosine, reciprocal-rank fusion) -----------

  private val RrfC = 60        // the standard RRF constant (Cormack et al.)
  private val FuseDepth = 20   // per-modality candidate depth fed to fusion
  private val HybridK = 5
  private val LexQuantum = 1e4 // per-term BM25 micro-units → exact int sum

  /** sim_hybrid_rrf: hybrid lexical+semantic retrieval — the
    * production RAG-retrieval shape: a BM25 arm over the document text
    * and a vector arm over the embeddings, fused by reciprocal-rank
    * fusion (1/(C+rank), C=60). The semantic arm here is the exact
    * cosine baseline (knnBrute's broadcast shape — any of the ANN arms
    * slots in unchanged, since fusion only consumes ranks); the lexical
    * arm scores each query document's DISTINCT terms against the
    * corpus through the inverted index (tf join bounded by the query
    * term sets — never a corpus×corpus product), with each per-term
    * BM25 contribution quantized to [[LexQuantum]] micro-units so the
    * per-document sum is an exact integer in any aggregation order or
    * engine (the ta_entropy discipline). Ranks use salted two-phase
    * top-[[FuseDepth]]; fusion then touches ≤ 2×[[FuseDepth]] rows per
    * query — RRF scores are two-term IEEE sums of exact reciprocals,
    * identical across engines, so the entire hybrid path hash-checks. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    // semantic arm: exact cosine top-FuseDepth per query
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val sem = topKPerQuery(
      Tables.fanOut(all).join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosine(col("qv"), col("v")).as("cos")), FuseDepth)
      .select(col("q_id"), col("n_id"), col("rank").as("rank_s"))
    rrfFuse(sem, lexArmRanked(s, d))
  }

  /** The BM25 lexical arm of hybrid retrieval, ranked to [[FuseDepth]]:
    * each query doc's DISTINCT terms scored against the corpus through
    * the inverted index (bounded by the query term sets), per-term
    * contributions quantized to [[LexQuantum]] micro-units so the sum
    * is an exact integer in any order or engine. Shared by
    * [[hybridRrf]] and [[hybridIvfPq]]. */
  private def lexArmRanked(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.wsTokens
    val docs = Tables.documents(s, d)
    val n = docs.count()
    val tok = Tables.fanOut(docs).select(col("doc_id"),
      explode(wsTokens(col("text"))).as("tok"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val avgdl = dl.agg(sum(col("dl"))).collect()(0).getLong(0).toDouble / n
    val tf = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val qtok = tok.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("q_id"), col("tok")).distinct()
    val idf = log((lit(n.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val term = tf.join(qtok, "tok").filter(col("doc_id") =!= col("q_id"))
      .join(dl, "doc_id").join(df, "tok")
      .select(col("q_id"), col("doc_id"),
        floor(idf * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") / lit(avgdl))) * lit(LexQuantum) +
          lit(0.5)).as("u"))
    topKPerQuery(
      term.groupBy(col("q_id"), col("doc_id")).agg(sum(col("u")).as("lexu"))
        .select(col("q_id"), col("doc_id").as("n_id"), col("lexu")),
      FuseDepth, "lexu")
      .select(col("q_id"), col("n_id"), col("rank").as("rank_l"))
  }

  /** Reciprocal-rank fusion of the two arms: a doc missing from one arm
    * contributes that arm's term as 0; RRF scores are two-term IEEE
    * sums of exact reciprocals, identical across engines. */
  private def rrfFuse(sem: DataFrame, lex: DataFrame): DataFrame = {
    val fused = sem.join(lex, Seq("q_id", "n_id"), "full_outer")
      .select(col("q_id"), col("n_id"), col("rank_s"), col("rank_l"),
        (coalesce(lit(1.0) / (lit(RrfC) + col("rank_s")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC) + col("rank_l")), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("n_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HybridK)
  }

  /** sim_hybrid_ivfpq: [[hybridRrf]] with the semantic arm swapped from
    * the exact-cosine baseline to the BOUNDED-cost [[annIvfPq]] pipeline
    * — the proof that fusion composes with the billion-vector scale path
    * end to end. Fusion consumes only RANKS, so the swap is exactly the
    * re-ranked IVF-PQ candidate list cut at [[FuseDepth]] instead of
    * [[K]]: per-query semantic cost stays |corpus|/|cells|·NProbe ADC
    * lookups + a [[PqRerank]]-deep exact re-rank, corpus-independent,
    * while the BM25 arm stays bounded by the query term sets. Full hash
    * check: the oracle replays BOTH codebook trainings, the probed-cell
    * ADC, the re-rank, the micro-unit BM25 sum, and the two-term RRF
    * fuse. */
  def hybridIvfPq(s: SparkSession, d: String): DataFrame = {
    val sem = topKPerQuery(ivfPqScored(s, d), FuseDepth)
      .select(col("q_id"), col("n_id"), col("rank").as("rank_s"))
    rrfFuse(sem, lexArmRanked(s, d))
  }

  /** The lexical-arm CTE block shared by [[hybridOracle]] and
    * [[hybridIvfPqOracle]] (tok → tf/dl/df → query-term join →
    * micro-unit sum → rank cut). Uses no `e` — composes with any
    * semantic-arm CTE chain. */
  private def lexArmCtes: String =
    s"""tok AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(text, '\\s+'),
       |      x -> x <> '')) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |qtok AS (SELECT DISTINCT doc_id AS q_id, tok FROM tok
       |  WHERE doc_id < $NumQueries),
       |term AS (SELECT qt.q_id, t.doc_id,
       |    CAST(floor(ln(((SELECT COUNT(*) FROM documents) - d.df + 0.5)
       |        / (d.df + 0.5) + 1.0)
       |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl /
       |        ((SELECT SUM(dl) FROM dl) * 1.0
       |          / (SELECT COUNT(*) FROM documents))))
       |      * 10000.0 + 0.5) AS BIGINT) AS u
       |  FROM tf t JOIN qtok qt USING (tok)
       |       JOIN dl l ON l.doc_id = t.doc_id
       |       JOIN df d ON d.tok = t.tok
       |  WHERE t.doc_id <> qt.q_id),
       |lexsum AS (SELECT q_id, doc_id AS n_id, SUM(u) AS lexu
       |  FROM term GROUP BY 1, 2),
       |lex AS (SELECT q_id, n_id, rank AS rank_l FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY lexu DESC, n_id) AS rank FROM lexsum) t
       |  WHERE rank <= $FuseDepth)""".stripMargin

  /** The RRF fusion tail (fused CTE + final select) shared by both
    * hybrid oracles — expects `sem` (q_id, n_id, rank_s) and `lex`. */
  private def rrfFusedSql: String =
    s"""fused AS (SELECT COALESCE(s.q_id, l.q_id) AS q_id,
       |    COALESCE(s.n_id, l.n_id) AS n_id, s.rank_s, l.rank_l,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($RrfC + s.rank_s),
       |      CAST(0.0 AS DOUBLE)) +
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($RrfC + l.rank_l),
       |      CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM sem s FULL JOIN lex l
       |    ON s.q_id = l.q_id AND s.n_id = l.n_id)
       |SELECT q_id, n_id, rank_s, rank_l, rrf, rank FROM (
       |  SELECT q_id, n_id, rank_s, rank_l, rrf, ROW_NUMBER() OVER (
       |    PARTITION BY q_id ORDER BY rrf DESC, n_id) AS rank
       |  FROM fused) t
       |WHERE rank <= $HybridK""".stripMargin

  /** DuckDB replay of [[hybridRrf]]: both arms, the micro-unit lexical
    * sum, the rank cuts, and the two-term RRF fuse — identical trees. */
  private[graft] def hybridOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |sem AS (SELECT q_id, n_id, rank AS rank_s FROM (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.v, n.v) DESC, n.vec_id)
       |      AS rank
       |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries) t WHERE rank <= $FuseDepth),
       |$lexArmCtes,
       |$rrfFusedSql""".stripMargin

  /** DuckDB replay of [[hybridIvfPq]]: the full [[ivfPqOracle]] chain
    * (both codebook trainings, probed-cell ADC, exact re-rank) cut at
    * [[FuseDepth]] as the semantic arm, the shared BM25 arm, and the
    * shared RRF tail. */
  private[graft] def hybridIvfPqOracle: String =
    s"""WITH $ivfPqScoredCtes,
       |sem AS (SELECT q_id, n_id, rank AS rank_s FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id) AS rank FROM scored) t
       |  WHERE rank <= $FuseDepth),
       |$lexArmCtes,
       |$rrfFusedSql""".stripMargin

  // ---- IVF-PQ (the billion-scale composition) -----------------------------

  /** sim_ann_ivfpq: IVF coarse cells × PQ codes — the composition every
    * billion-vector index actually ships (FAISS IVFPQ, ScaNN, Milvus):
    * IVF bounds WHICH rows a query touches (only its [[NProbe]] probed
    * cells), PQ bounds WHAT each touched row costs (8 table lookups on a
    * 4-bit code, no float vector until re-rank). Both codebooks train on
    * the same fixed-size deterministic sample (corpus-size-independent);
    * corpus encoding is ONE map-only pass emitting (cell, code) per row —
    * at 100 TB that pass is the whole index build, and per-query cost is
    * |corpus|/|cells|·NProbe ADC lookups instead of a scan. Candidates
    * (top-[[PqRerank]] by ADC within probed cells) re-rank with exact
    * cosine. Fully hash-checked: the oracle replays coarse Lloyd rounds,
    * PQ codebook training, cell assignment, probe lists, the ADC fold
    * restricted to probed cells, and the exact re-rank. */
  def annIvfPq(s: SparkSession, d: String): DataFrame =
    topKPerQuery(ivfPqScored(s, d))

  /** The IVF-PQ pipeline through the exact re-rank, returning the
    * re-scored candidate rows (q_id, n_id, cos) — [[PqRerank]] deep per
    * query. [[annIvfPq]] cuts it at [[K]]; [[hybridIvfPq]]'s semantic
    * arm cuts it at [[FuseDepth]]. */
  private def ivfPqScored(s: SparkSession, d: String): DataFrame = {
    val all = vecs(s, d)
    val cents = ivfCentroids(s, all)
    val stride = math.max(1L, all.count() / TrainTarget)
    val books = trainCodebooks(
      all.filter(pmod(col("vec_id"), lit(stride)) === 0))
    val codeArr = array((0 until PqM).map(m =>
      bestCentroidOn(books(m),
        slice(col("v"), m * PqSubDim + 1, PqSubDim))): _*)
    // the index: one map-only pass → (vec_id, cell, 8×4-bit code)
    val encoded = Tables.fanOut(all).select(col("vec_id"),
      bestCentroid(cents).as("c_id"), codeArr.as("code"))
    val centArr = array(cents.zipWithIndex.map { case (c, i) =>
      struct((-graft.functions.CosineSimilarity(col("v"), typedLit(c)))
        .as("negcos"), lit(i).as("cid"))
    }: _*)
    val qtab = array((0 until PqM).map { m =>
      array(books(m).map(c => dot(
        slice(col("v"), m * PqSubDim + 1, PqSubDim), typedLit(c))): _*)
    }: _*)
    // per-(query, probed-cell) rows, each carrying the query's ADC table
    val probes = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), qtab.as("qtab"),
        explode(slice(sort_array(centArr), 1, NProbe)).as("p"))
      .select(col("q_id"), col("qtab"), col("p.cid").as("c_id"))
    // each corpus row lives in exactly one cell → ≤1 probe match per (q,n)
    val adc = encoded.join(broadcast(probes), Seq("c_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (0 until PqM).map(m => element_at(element_at(col("qtab"), m + 1),
          element_at(col("code"), m + 1) + 1)).reduce(_ + _).as("pqscore"))
    val cands = topKPerQuery(adc, PqRerank, "pqscore")
      .select(col("q_id"), col("n_id"))
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    cands
      .join(all.select(col("vec_id").as("n_id"), col("v")), "n_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("n_id"), cosine(col("qv"), col("v")).as("cos"))
  }

  /** DuckDB replay of [[annIvfPq]]: the [[ivfOracle]] coarse chain
    * (stride seeds, [[IvfIters]] Lloyd rounds, assignment, probe lists)
    * and the [[pqOracle]] codebook chain (seeds, one integer-micro-unit
    * round per subspace, corpus codes, per-query dot tables), joined at
    * the ADC step: a row is scored iff its cell is probed by the query.
    * Every double tree matches the engine's fold order. */
  private[graft] def ivfPqOracle: String =
    s"""WITH $ivfPqScoredCtes
       |SELECT q_id, n_id, rank FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id) AS rank FROM scored) t
       |WHERE rank <= $K""".stripMargin

  /** The IVF-PQ CTE chain through the exact re-rank (`scored`:
    * q_id, n_id, cos) — shared by [[ivfPqOracle]] and
    * [[hybridIvfPqOracle]], mirroring [[ivfPqScored]]. */
  private def ivfPqScoredCtes: String = {
    val rounds = (0 until IvfIters).map(lloydRoundSql(_, "ts")).mkString(",\n")
    val dotExpr = (1 to PqSubDim)
      .map(k => s"s.sv[$k] * b.cv[$k]").mkString(" + ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ks AS (SELECT unnest(generate_series(1, $Dim)) AS k),
       |ms AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS m),
       |pks AS (SELECT unnest(generate_series(1, $PqSubDim)) AS k),
       |ts AS (SELECT vec_id, v FROM e
       |  WHERE vec_id % (SELECT GREATEST(1, COUNT(*) // $TrainTarget) FROM e) = 0),
       |seeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS cid, v
       |  FROM e WHERE vec_id % $CentroidStride = 0
       |  ORDER BY vec_id LIMIT $NumCentroids),
       |c0 AS (SELECT cid, ks.k, v[ks.k] AS val FROM seeds CROSS JOIN ks),
       |c0l AS (SELECT cid, list(val ORDER BY k) AS cv FROM c0 GROUP BY cid),
       |$rounds,
       |assigned AS (SELECT vec_id, cid AS c_id FROM (
       |  SELECT e.vec_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |  FROM e CROSS JOIN c${IvfIters}l c) t WHERE rn = 1),
       |probes AS (SELECT q_id, cid AS c_id FROM (
       |  SELECT e.vec_id AS q_id, c.cid,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
       |  FROM e CROSS JOIN c${IvfIters}l c WHERE e.vec_id < $NumQueries) t
       |  WHERE rn <= $NProbe),
       |pseeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
       |    AS cid, v
       |  FROM ts ORDER BY vec_id LIMIT $PqK),
       |b0 AS (SELECT ms.m, s.cid, pks.k, s.v[ms.m * $PqSubDim + pks.k] AS val
       |  FROM pseeds s CROSS JOIN ms CROSS JOIN pks),
       |b0l AS (SELECT m, cid, list(val ORDER BY k) AS cv FROM b0 GROUP BY m, cid),
       |sub AS (SELECT vec_id, ms.m,
       |    list_slice(v, ms.m * $PqSubDim + 1, ms.m * $PqSubDim + $PqSubDim) AS sv
       |  FROM ts CROSS JOIN ms),
       |pa0 AS (SELECT vec_id, m, sv, cid FROM (
       |  SELECT s.vec_id, s.m, s.sv, b.cid,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY list_cosine_similarity(s.sv, b.cv) DESC, b.cid) AS rn
       |  FROM sub s JOIN b0l b ON s.m = b.m) t WHERE rn = 1),
       |pu0 AS (SELECT m, cid, pks.k,
       |    SUM(CAST(floor(sv[pks.k] * 1000000 + 0.5) AS BIGINT)) AS s
       |  FROM pa0 CROSS JOIN pks GROUP BY m, cid, pks.k),
       |pn0 AS (SELECT m, cid, CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE) AS nsq
       |  FROM pu0 GROUP BY m, cid),
       |b1 AS (SELECT p.m, p.cid, p.k,
       |    COALESCE(CASE WHEN nn.nsq = 0 THEN 0.0
       |      ELSE floor(CAST(u.s AS DOUBLE) / sqrt(nn.nsq) * 1000000 + 0.5)
       |           / 1000000 END, p.val) AS val
       |  FROM b0 p LEFT JOIN pu0 u ON p.m = u.m AND p.cid = u.cid AND p.k = u.k
       |            LEFT JOIN pn0 nn ON p.m = nn.m AND p.cid = nn.cid),
       |b1l AS (SELECT m, cid, list(val ORDER BY k) AS cv FROM b1 GROUP BY m, cid),
       |esub AS (SELECT vec_id, ms.m,
       |    list_slice(v, ms.m * $PqSubDim + 1, ms.m * $PqSubDim + $PqSubDim) AS sv
       |  FROM e CROSS JOIN ms),
       |code AS (SELECT vec_id, m, cid FROM (
       |  SELECT s.vec_id, s.m, b.cid,
       |    ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY list_cosine_similarity(s.sv, b.cv) DESC, b.cid) AS rn
       |  FROM esub s JOIN b1l b ON s.m = b.m) t WHERE rn = 1),
       |qt AS (SELECT s.vec_id AS q_id, s.m, b.cid, $dotExpr AS tv
       |  FROM esub s JOIN b1l b ON s.m = b.m WHERE s.vec_id < $NumQueries),
       |adc AS (SELECT q_id, n_id,
       |    list_reduce(list_prepend(0.0, list(tv ORDER BY m)),
       |      (a, b) -> a + b) AS pqscore
       |  FROM (SELECT qt.q_id, c.vec_id AS n_id, qt.m, qt.tv
       |    FROM code c
       |    JOIN assigned a ON a.vec_id = c.vec_id
       |    JOIN probes p ON p.c_id = a.c_id
       |    JOIN qt ON qt.m = c.m AND qt.cid = c.cid AND qt.q_id = p.q_id
       |    WHERE c.vec_id <> qt.q_id) t GROUP BY q_id, n_id),
       |cand AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY pqscore DESC, n_id) AS rn FROM adc) t
       |  WHERE rn <= $PqRerank),
       |scored AS (SELECT cand.q_id, cand.n_id,
       |    list_cosine_similarity(qe.v, ce.v) AS cos
       |  FROM cand JOIN e ce ON ce.vec_id = cand.n_id
       |            JOIN e qe ON qe.vec_id = cand.q_id)""".stripMargin
  }
}
