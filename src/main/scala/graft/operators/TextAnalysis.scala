package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2F).
  * Every computation is a per-row `functions._` expression tree (codegen,
  * no shuffle except where a window/groupBy genuinely needs one).
  */
object TextAnalysis {

  /** ta_token_count: whitespace tokens + BPE-ish regex tokens per doc. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      wsTokenCount(col("text")).as("ws_n"),
      size(bpeTokens(col("text"))).as("bpe_n"))

  /** ta_entropy: per-doc token-distribution entropy — the statistical
    * quality signal (low entropy = repetitive/boilerplate, degenerate
    * high entropy = random noise). Emitted in the micro-unit discipline:
    * per distinct token, n·ln(n) is quantized to 1e-2 units BEFORE the
    * sum, so the aggregate is an exact integer in any order/engine
    * (entropy itself derives as ln(n_tok) − nlogn2/(n_tok·10²) — the
    * division stays out of the hashed columns). The quantum is 1e-2, not
    * the 1e-6 used for the pure-IEEE Lloyd sums, because ln is NOT
    * correctly rounded (JVM vs libm can differ in the last ulp): a term
    * flips only if n·ln(n)·100 lands within ~1 ulp of a half-integer, and
    * the coarse quantum keeps that probability negligible per corpus. */
  def entropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tok"),
        count(lit(1)).as("n_uniq"),
        sum(floor(col("n") * log(col("n")) * 1e2 + 0.5).cast("long"))
          .as("nlogn2"))

  /** Feature-hash dimensionality (power of two, the usual choice). */
  val FeatureDims = 1024

  /** ta_feature_hash: the hashing trick — fixed-[[FeatureDims]]-dim
    * bag-of-words features per doc as sparse (doc_id, dim, tf) rows,
    * dim = rolling_hash(token) mod dims. No vocabulary is ever built:
    * unlike dictionary featurization (a corpus-wide distinct + join),
    * hashing is a pure per-row projection — at 100 TB it needs ONE
    * map-side-combined groupBy and zero global state, and the feature
    * space is identical across corpora/shards by construction (what makes
    * it trainable incrementally). Token hash is the native codegen'd
    * [[graft.functions.RollingHash]], replayed character-by-character by
    * the oracle. */
  def featureHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        pmod(graft.functions.RollingHash(col("tok")), lit(FeatureDims.toLong))
          .as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("tf"))

  // ---- trainable quality classifier (the fastText-style filter stage) ---

  private[graft] val ClfDims = 16 // hashed feature dims (+1 bias)
  private[graft] val ClfRounds = 32 // full-batch GD rounds
  private[graft] val ClfLr = 32.0

  /** Per-doc classifier features: y = the deterministic quality label
    * (stopword evidence, the Gopher rule a pipeline would bootstrap
    * from), x_j = hashed-unigram frequency in dim j (RollingHash mod
    * [[ClfDims]], normalized by doc length) plus a bounded
    * length feature x_D = min(n_words, 256)/256 — the same feature mix
    * a fastText-style quality model ships with (pure frequencies can't
    * see length, and the bootstrap rule partly encodes it). One explode
    * + one map-side-combined groupBy — a single corpus pass. */
  private[graft] def classifierFeatures(documents: DataFrame): DataFrame = {
    // fan a degenerate single-row-group scan out before the tokenize +
    // explode kernel (Tables.fanOut — no-op on production-scale inputs)
    val hashed = Tables.fanOut(documents)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .withColumn("dim",
        pmod(graft.functions.RollingHash(col("tok")), lit(ClfDims.toLong)))
    val aggs = Seq(count(lit(1)).as("n_words"),
      sum(when(col("tok").isin(Stopwords: _*), 1L).otherwise(0L)).as("ns")) ++
      (0 until ClfDims).map(j =>
        sum(when(col("dim") === j, 1L).otherwise(0L)).as(s"c$j"))
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .filter(col("n_words") > 0)
      .select((col("doc_id") +:
        (col("ns") >= 2).cast("double").as("y") +:
        (0 until ClfDims).map(j => (col(s"c$j").cast("double") /
          col("n_words").cast("double")).as(s"x$j"))) :+
        (least(col("n_words"), lit(256L)).cast("double") / lit(256.0))
          .as(s"x$ClfDims"): _*)
  }

  /** Feature count incl. the length feature (bias rides at index F). */
  private[graft] def ClfF: Int = ClfDims + 1

  /** ta_quality_classifier: a TRAINED document-quality classifier — the
    * fastText-style learned filter every production pipeline runs after
    * its hand rules (hashed bag-of-words features → linear model →
    * score), trained from scratch IN the engine by full-batch gradient
    * descent. Determinism is absolute, so the whole training run is
    * hash-checked, not just bounded: the link function is the RATIONAL
    * sigmoid σ(z) = ½(1 + z/(1+|z|)) (no exp — pure IEEE arithmetic
    * both engines agree on bit-for-bit), per-row gradient contributions
    * quantize to integer micro-units before the exact long sum (the
    * k-means discipline — float summation order can never matter), and
    * weights re-quantize to 6 decimals each round, so engine and oracle
    * walk the identical weight trajectory. Scale: each round is ONE
    * map-side-combined aggregate over the feature frame (9 longs to the
    * driver — constant state); rounds are fixed; scoring is map-only.
    * Training a 100 TB corpus costs [[ClfRounds]] passes, shuffling
    * nothing but per-partition partial sums. Output: per-doc score,
    * label, prediction — fully oracle-replayed including training. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame = {
    val feats = classifierFeatures(Tables.documents(s, d)).localCheckpoint()
    val n = feats.count().toDouble
    def zOf(w: Seq[Double]) =
      ((0 until ClfF).map(j => lit(w(j)) * col(s"x$j")) :+
        lit(w(ClfF))).reduceLeft(_ + _)
    def pOf(w: Seq[Double]) = {
      val z = zOf(w)
      lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))
    }
    var w: Seq[Double] = Seq.fill(ClfF + 1)(0.0)
    for (_ <- 1 to ClfRounds) {
      val err = pOf(w) - col("y")
      val gs = (0 until ClfF).map(j =>
        sum(floor(err * col(s"x$j") * lit(1000000.0) + lit(0.5)))
          .as(s"g$j")) :+
        sum(floor(err * lit(1000000.0) + lit(0.5))).as(s"g$ClfF")
      val r = feats.agg(gs.head, gs.tail: _*).collect()(0)
      w = w.indices.map { j =>
        val g = r.getLong(j).toDouble
        math.floor((w(j) - ClfLr * (g / 1000000.0 / n)) * 1000000.0 + 0.5) /
          1000000.0
      }
    }
    val p = pOf(w)
    feats.select(col("doc_id"), col("y").cast("long").as("y"),
      p.as("score"), (p >= 0.5).as("pred"))
  }

  /** DuckDB replay of [[qualityClassifier]] — features, every gradient
    * round (micro-unit quantization, exact long sums, 6-decimal weight
    * requantization), and the final scoring walk the identical
    * arithmetic, so the trained model itself is hash-checked. */
  private[graft] def qualityClassifierOracle: String = {
    val D = ClfDims
    val F = ClfF
    val sw = Stopwords.map(w => s"'$w'").mkString(", ")
    val csums = (0 until D).map(j =>
      s"SUM(CASE WHEN dim = $j THEN 1 ELSE 0 END) AS c$j").mkString(",\n    ")
    val xcols = ((0 until D).map(j =>
      s"CAST(c$j AS DOUBLE) / CAST(n_words AS DOUBLE) AS x$j") :+
      s"CAST(LEAST(n_words, 256) AS DOUBLE) / 256.0 AS x$D")
      .mkString(",\n    ")
    def zExpr = (0 until F).map(j => s"w.w$j * f.x$j").mkString(" + ") +
      s" + w.w$F"
    val w0 = (0 to F).map(j => s"0.0 AS w$j").mkString(", ")
    def round(i: Int): String = {
      val gsums = ((0 until F).map(j =>
        s"SUM(CAST(FLOOR((p - y) * x$j * 1000000.0 + 0.5) AS BIGINT)) AS g$j") :+
        s"SUM(CAST(FLOOR((p - y) * 1000000.0 + 0.5) AS BIGINT)) AS g$F")
        .mkString(",\n    ")
      val wupd = (0 to F).map(j =>
        s"FLOOR((w.w$j - $ClfLr * (CAST(r.g$j AS DOUBLE) / 1000000.0 / " +
          s"n.n)) * 1000000.0 + 0.5) / 1000000.0 AS w$j").mkString(",\n    ")
      // MATERIALIZED: DuckDB inlines plain CTEs, so 64 rounds would
      // re-expand (and re-scan) the whole feature pipeline per round —
      // materialization pins each stage to one evaluation
      s"""s$i AS MATERIALIZED (SELECT f.*, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM (
         |  SELECT f.*, ($zExpr) AS z FROM feats f, w${i - 1} w) f),
         |g$i AS MATERIALIZED (SELECT
         |    $gsums
         |  FROM s$i),
         |w$i AS MATERIALIZED (SELECT
         |    $wupd
         |  FROM w${i - 1} w, g$i r, nn n)""".stripMargin
    }
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
       |      AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, tok, list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split_regex(tok, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |    (h, c) -> (h * 31 + c) % 2147483647) % $D AS dim
       |  FROM tok),
       |per AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_words,
       |    SUM(CASE WHEN tok IN ($sw) THEN 1 ELSE 0 END) AS ns,
       |    $csums
       |  FROM h GROUP BY doc_id),
       |feats AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN ns >= 2 THEN 1.0 ELSE 0.0 END AS y,
       |    $xcols
       |  FROM per WHERE n_words > 0),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats),
       |w0 AS MATERIALIZED (SELECT $w0),
       |${(1 to ClfRounds).map(round).mkString(",\n")}
       |SELECT f.doc_id, CAST(f.y AS BIGINT) AS y,
       |  0.5 * (1.0 + z / (1.0 + abs(z))) AS score,
       |  0.5 * (1.0 + z / (1.0 + abs(z))) >= 0.5 AS pred
       |FROM (SELECT f.*, ($zExpr) AS z FROM feats f, w$ClfRounds w) f"""
      .stripMargin
  }

  /** ta_gopher_rules: the multi-rule document-quality battery every
    * public web-corpus pipeline runs (the Gopher/MassiveText repetition
    * and format rules, re-expressed over this corpus): per doc —
    * word-count bounds, mean-word-length bounds, alphabetic-word
    * fraction, minimum stopword evidence, numeric-word fraction — each
    * as its OWN flag plus the conjunctive keep bit, because a real
    * pipeline tunes and audits rules individually before composing
    * them. One explode + one map-side-combined groupBy (token counters
    * are algebraic), so the battery costs a single corpus pass at any
    * scale; every ratio is the same IEEE double expression tree on both
    * engines, so the flags are bit-identical. */
  def gopherRules(s: SparkSession, d: String): DataFrame = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
    val per = tok.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_words"),
      sum(length(col("tok"))).as("nc"),
      sum(when(col("tok").rlike("[A-Za-z]"), 1L).otherwise(0L)).as("na"),
      sum(when(col("tok").isin(Stopwords: _*), 1L).otherwise(0L)).as("ns"),
      sum(when(col("tok").rlike("^[0-9]+$"), 1L).otherwise(0L)).as("nn"))
    val meanW = col("nc").cast("double") / col("n_words")
    val okLen = col("n_words") >= 20L && col("n_words") <= 100000L
    val okWlen = meanW >= 3.0 && meanW <= 10.0
    val okAlpha = col("na").cast("double") / col("n_words") >= 0.8
    val okStop = col("ns") >= 2L
    val okNum = col("nn").cast("double") / col("n_words") <= 0.2
    per.select(col("doc_id"), col("n_words"), meanW.as("mean_wlen"),
      okLen.as("ok_len"), okWlen.as("ok_wlen"), okAlpha.as("ok_alpha"),
      okStop.as("ok_stop"), okNum.as("ok_num"),
      (okLen && okWlen && okAlpha && okStop && okNum).as("keep"))
  }

  /** ta_quality_score: length/stopword-ratio quality heuristic. The exact
    * double expression tree is mirrored in the oracle SQL so the score is
    * bit-identical. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        wsTokenCount(col("text")).as("n_tok"),
        stopwordCountText(col("text")).as("stop_n"))
      .select(col("doc_id"), col("n_tok"),
        (col("stop_n").cast("double") / col("n_tok")).as("stop_ratio"),
        (least(lit(1.0), col("n_tok") / 100.0) *
          (lit(1.0) - col("stop_n").cast("double") / col("n_tok")))
          .as("score"))
  }

  /** ta_langid: stopword-profile language ID. Scores each language by how
    * many of its profile words appear as tokens; argmax via array_max over
    * (score, lang) structs — deterministic tiebreak, no UDF, no shuffle.
    * Rows-oracle: the heuristic itself is the spec. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "of", "and", "is"),
      "fr" -> Seq("le", "la", "et", "les", "des"),
      "de" -> Seq("der", "die", "und", "das", "ein"),
      "es" -> Seq("el", "los", "las", "una", "y"),
      "zh" -> Seq("的", "是", "了", "在", "和"))
    // prior breaks score ties toward the earlier profile (en first), so a
    // zero-hit doc degrades to "en" rather than whichever language sorts
    // last lexicographically
    val scored = array(profiles.zipWithIndex.map { case ((lang, words), i) =>
      struct(
        tokenSetCount(col("text"), words).as("score"),
        lit(-i).as("prior"),
        lit(lang).as("lang"))
    }: _*)
    Tables.documents(s, d).select(
      col("doc_id"),
      array_max(scored).getField("lang").as("pred_lang"))
  }

  /** ta_fingerprint: normalized-text md5 identity per doc. */
  def fingerprintDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** ta_rolling_fingerprint: Rabin–Karp polynomial rolling hash over each
    * doc's bytes via the native codegen'd RollingHash expression — the
    * cheap doc-identity hash for corpus-scale fingerprinting (md5 is the
    * cryptographic alternative in [[fingerprintDocs]]). */
  def rollingFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.RollingHash(col("text")).as("rh"))

  /** ta_split: deterministic train/val/test assignment by hashing the
    * stable doc id — reproducible across engines, runs, and partitionings
    * (the property random() splits lack). Buckets by the first two hex
    * chars of md5: < 'e6' (230/256 ≈ 90%) train, < 'f3' (≈ 5%) val, rest
    * test. Lexicographic hex compare works identically in any engine. */
  def split3(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), splitBucket(col("doc_id")).as("split"))
      .groupBy(col("split")).agg(count(lit(1)).as("n"))

  /** ta_repetition: per-doc token-repetition stats — the cheap repetition
    * detector pipelines use to drop boilerplate and spam (high max-token
    * share, low unique share). One explode + two aggregation levels, both
    * map-side combined; the shuffle carries one row per (doc, token). */
  def repetition(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tok"), count(lit(1)).as("n_uniq"),
        max(col("n")).as("max_n"))
      .select(col("doc_id"), col("n_tok"), col("n_uniq"), col("max_n"),
        (lit(1.0) - col("n_uniq").cast("double") / col("n_tok"))
          .as("rep_ratio"))

  /** ta_bigrams: corpus-wide top-20 bigram counts (the n-gram frequency
    * table quality/contamination analyses start from). Bigrams via the
    * same posexplode + window-lead shape as dedup shingling (flat codegen
    * exprs); the count aggregate is map-side combined, and the top-20 is
    * a TakeOrdered — no global sort materialized. */
  def bigrams(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("nx", lead(col("tok"), 1).over(w))
      .filter(col("nx").isNotNull)
      .select(concat_ws(" ", col("tok"), col("nx")).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** ta_ngram_lm: corpus trigram language-model statistics — the table a
    * perplexity / contamination filter is built from. Trigrams use the
    * same posexplode + window-lead shape as [[bigrams]] (flat codegen'd
    * expressions; the per-doc window is the only pre-aggregation
    * shuffle), then one map-side-combined count. The conditional
    * probability P(w3 | w1 w2) is kept in integer MICRO-UNITS
    * (count × 10⁶ floor-divided by the prefix total, the
    * [[MapReduceJobs.pagerank]] discipline) so the oracle replay is
    * bit-exact — no float-division drift. The prefix total is a window
    * over the already-aggregated trigram table, which is vocabulary-
    * sized, not corpus-sized. Top-20 by count, full lexicographic
    * tiebreak. */
  def ngramLm(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("w2", lead(col("tok"), 1).over(w))
      .withColumn("w3", lead(col("tok"), 2).over(w))
      .filter(col("w3").isNotNull)
      .groupBy(col("tok").as("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prefix_n",
        sum(col("n")).over(Window.partitionBy(col("w1"), col("w2"))))
      .withColumn("cond_micro", expr("(n * 1000000) DIV prefix_n"))
      .select(col("w1"), col("w2"), col("w3"), col("n"), col("cond_micro"))
      .orderBy(col("n").desc, col("w1"), col("w2"), col("w3"))
      .limit(20)
  }

  /** ta_contamination: train→test benchmark-contamination check — for
    * each TEST document (split per [[graft.functions.TextFunctions
    * .splitBucket]]), the fraction of its distinct trigrams that appear
    * anywhere in the TRAIN split. The membership test is a LEFT-SEMI join
    * of test trigrams against the distinct train-trigram set — an
    * inverted-index lookup, NOT a test×train pair join, so no hot shingle
    * can go quadratic (the blowup [[Dedup.ngramJaccard]] needs a df-cap
    * for never arises). The score is integer micro-units (matched × 10⁶
    * floor-div total), bit-exact for the oracle. At 100 TB the train
    * shingle set shuffles once on the shingle hash; contamination of a
    * small eval set against a huge train corpus is exactly this plan with
    * the test side broadcast. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val tri = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("w2", lead(col("tok"), 1).over(w))
      .withColumn("w3", lead(col("tok"), 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("w2"), col("w3")).as("shingle"),
        splitBucket(col("doc_id")).as("split"))
    val trainSet = tri.filter(col("split") === "train")
      .select(col("shingle")).distinct()
    val testTri = tri.filter(col("split") === "test")
      .select(col("doc_id"), col("shingle")).distinct()
    val matched = testTri.join(trainSet, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    testTri.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tri"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("contam_micro", expr("(n_matched * 1000000) DIV n_tri"))
  }

  /** ta_lm_score: language-model fluency scoring — each document scored
    * by the corpus trigram model of [[ngramLm]] (full model, no top-k):
    * the average conditional probability P(w3 | w1 w2) of its trigram
    * instances, in integer micro-units (sum of cond_micro floor-div
    * count). The model is vocabulary-sized; scoring is ONE shuffle join
    * of corpus trigram instances against it on (w1,w2,w3) — the shape of
    * every model-based quality filter: train statistics once, stream the
    * corpus through a join. Every doc long enough to have a trigram gets
    * a row; integer arithmetic end-to-end keeps the oracle bit-exact. */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val inst = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("w2", lead(col("tok"), 1).over(w))
      .withColumn("w3", lead(col("tok"), 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("w2"), col("w3"))
    val model = inst.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prefix_n",
        sum(col("n")).over(Window.partitionBy(col("w1"), col("w2"))))
      .select(col("w1"), col("w2"), col("w3"),
        expr("(n * 1000000) DIV prefix_n").as("cond_micro"))
    inst.join(model, Seq("w1", "w2", "w3"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tri"), sum(col("cond_micro")).as("s"))
      .select(col("doc_id"), col("n_tri"),
        expr("s DIV n_tri").as("lm_micro"))
  }

  /** ta_pii_scrub: email/IPv4/phone redaction — the privacy-scrub pass a
    * training-data pipeline runs before anything else sees the text. The
    * scrubber itself is [[graft.functions.TextFunctions.piiScrub]] (pure
    * regexp_replace chain, codegen'd, zero shuffle). The synthetic corpus
    * contains no PII, so the query suffixes each doc with deterministic
    * synthetic contact lines derived from doc_id — making the redaction
    * observable: the oracle replays the same injection + scrub and the
    * per-kind match counts prove each pattern fired exactly once. */
  def piiScrubDocs(s: SparkSession, d: String): DataFrame = {
    val injected = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail.example.org"),
      lit(" from 10.1."), pmod(col("doc_id"), lit(256)), lit(".7"),
      lit(" call 555-"), lpad(pmod(col("doc_id"), lit(1000)), 3, "0"),
      lit("-4567"))
    Tables.documents(s, d)
      .select(col("doc_id"), injected.as("raw"))
      .select(col("doc_id"),
        piiScrub(col("raw")).as("clean"),
        size(regexp_extract_all(col("raw"), lit(EmailPattern), lit(0)))
          .as("n_email"),
        size(regexp_extract_all(col("raw"), lit(Ipv4Pattern), lit(0)))
          .as("n_ip"),
        size(regexp_extract_all(col("raw"), lit(PhonePattern), lit(0)))
          .as("n_phone"))
  }

  /** ta_sample_stratified: deterministic per-stratum sampling — 10% of the
    * dominant language, 50% of everything else (the up/down-weighting move
    * of corpus mixing). Membership is a pure hash-threshold test on
    * md5(doc_id) exactly like [[split3]]'s bucketing: no window, no
    * per-stratum rank funnel, no RNG — each row decides locally, so the
    * sample is reproducible across engines and partitionings and the
    * operator stays embarrassingly parallel at any corpus size (an exact-
    * quota variant would need a per-stratum ordered rank — a single-
    * partition funnel on a 100 TB stratum). '1a' = 26/256 ≈ 10.2%,
    * '80' = 128/256 = 50%, compared lexicographically on hex chars. */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    val bucket = substring(
      md5(concat(lit("sample:"), col("doc_id").cast("string")).cast("binary")),
      1, 2)
    Tables.documents(s, d)
      .filter(when(col("lang") === "en", bucket < "1a")
        .otherwise(bucket < "80"))
      .select(col("doc_id"), col("lang"))
  }

  /** ta_pack_sequences: pack documents into fixed-token-budget training
    * sequences — concat-then-chunk semantics (each doc starts at its
    * shard's running token offset; sequence = offset div budget, so a doc
    * may straddle a boundary, exactly like pretraining concatenation).
    * Docs are sharded by doc_id % 16 and packed independently per shard:
    * the only shuffle is the shard window, each shard's cumulative sum is
    * one in-partition sort, and shard count is the parallelism knob — at
    * 100 TB you raise it to ~2^14 so no shard outgrows a partition,
    * instead of the single global-order funnel a corpus-wide cumsum would
    * be. Returns one row per (shard, seq_id) with doc/token counts. */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    val budget = 2048
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(16)).as("shard"),
        wsTokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("shard"),
        floor((col("cum") - col("n_tok")) / lit(budget.toDouble)).as("seq_id"),
        col("n_tok"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** ta_tfidf: per-(doc, term) TF-IDF — term weighting for retrieval-
    * augmented corpus curation. Two grouped aggregations (both map-side
    * combined) and one join on term; the document-frequency side is
    * vocabulary-sized, far smaller than the corpus, so AQE broadcasts it.
    * N comes from one count action (a literal at plan time, like the
    * k-means centroids). The score is rounded to 4 decimals because ln()
    * differs between engines in the last ulp (measured 44/500 values) —
    * the rounding makes the oracle compare exact. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val n = docs.count()
    val tok = docs.select(col("doc_id"),
      explode(wsTokens(col("text"))).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(df, "tok")
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 4).as("tfidf"))
  }

  /** BM25 constants — the standard Robertson/Okapi defaults. Written as
    * the exact double literals the oracle SQL repeats (1.2+1 may differ
    * from the literal 2.2 in the last ulp, so K1PLUS1 is its own literal). */
  private val Bm25K1 = 1.2
  private val Bm25K1Plus1 = 2.2
  private val Bm25OneMinusB = 0.25 // 1 - b, b = 0.75
  private val Bm25B = 0.75
  val Bm25Queries = 16 // top-df tokens used as the query term set
  val Bm25TopK = 10
  private val Bm25Salts = 32

  /** ta_bm25: BM25 term-weighted retrieval ranking — the lexical scoring
    * standard (Robertson et al.) that TF-IDF approximates; the lexical
    * half of every hybrid retrieval stack. Same aggregate skeleton as
    * [[tfidf]] (tf, dl, df are all map-side-combined; df is
    * vocabulary-sized), the query term set is the top-[[Bm25Queries]]
    * document-frequency tokens (a 16-row driver collect — deterministic:
    * df desc, tok asc), and scoring touches only the inverted-index
    * slice of the corpus holding those terms. Corpus length stats
    * (N, total tokens) are one bounded aggregate turned into plan
    * literals. The per-term ranking avoids a 16-partition window funnel
    * with a salted two-phase top-k (identical results, per-partition
    * work bounded at any corpus size). Score rounded 4dp for
    * cross-engine ln parity (the [[tfidf]] precedent); ranks computed
    * AFTER rounding so both engines rank identical values, ties broken
    * by doc_id. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val stats = docs.agg(count(lit(1)),
      coalesce(sum(wsTokenCount(col("text"))), lit(0L))).head()
    val (n, totTok) = (stats.getLong(0), stats.getLong(1))
    val avgdl = totTok.toDouble / n
    val tok = docs.select(col("doc_id"),
      explode(wsTokens(col("text"))).as("tok"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = tok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val qts: Seq[String] = df.orderBy(col("df").desc, col("tok"))
      .limit(Bm25Queries).select("tok").as[String].collect().toSeq
    val idf = log((lit(n.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val scored = tf.filter(col("tok").isin(qts: _*))
      .join(dl, "doc_id")
      .join(broadcast(df.filter(col("tok").isin(qts: _*))), "tok")
      .select(col("tok"), col("doc_id"), col("tf"), col("df"),
        round(idf * (col("tf") * lit(Bm25K1Plus1)) /
          (col("tf") + lit(Bm25K1) * (lit(Bm25OneMinusB) +
            lit(Bm25B) * col("dl") / lit(avgdl))), 4).as("bm25"))
    // salted two-phase top-k per term (16 windows over the whole corpus
    // would funnel; the pre-rank bounds every partition)
    val w1 = Window.partitionBy(col("tok"), pmod(col("doc_id"), lit(Bm25Salts)))
      .orderBy(col("bm25").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("tok"))
      .orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("prerank", row_number().over(w1))
      .filter(col("prerank") <= Bm25TopK)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= Bm25TopK)
      .select(col("tok"), col("doc_id"), col("tf"), col("df"),
        col("bm25"), col("rank"))
  }

  /** ta_index_search: a PERSISTED, INCREMENTALLY-MAINTAINED inverted
    * index — what separates "can compute BM25" (ta_bm25: one per-query
    * pipeline over the corpus) from "can SERVE retrieval at 100 TB"
    * (index once, query many). The posting store is a TxnTable of
    * (tok, doc_id, tf, dl) rows RANGE-CLUSTERED BY TERM with truncated
    * string stats, so a query term's postings live in O(1) files and
    * the lookup prunes from the manifest alone
    * ([[TxnTable.snapshotWhere]] — the accounting travels in
    * `idx_ok`). Corpus-level BM25 statistics (doc count, total tokens)
    * ride the commit's `#metrics=` header CUMULATIVELY — N and avgdl
    * are ONE manifest header read at query time, never a corpus or
    * store aggregate. The corpus arrives in two batches (doc-id
    * parity): batch 1 creates the store, batch 2 APPENDS its own
    * postings + updated stats with every batch-1 entry carried
    * byte-verbatim (asserted) — per-batch index cost is O(batch),
    * never a corpus rescan, and each doc lives wholly in one batch so
    * postings never need cross-batch merging. Query = the top-df term
    * set scored with the exact ta_bm25 arithmetic from STORE ROWS
    * ALONE — same contract, different physics — and the oracle is the
    * same full-corpus replay: the index provably answers what the
    * from-scratch pipeline answers. */
  /** (tok, doc_id, tf, dl) posting rows of one corpus batch — the
    * inverted-index unit [[indexSearch]] and [[indexRetract]] share. */
  private def idxPostings(batch: DataFrame): DataFrame = {
    val tok = batch.select(col("doc_id"),
      explode(wsTokens(col("text"))).as("tok"))
    val tf = tok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    tf.join(dl, "doc_id")
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
  }

  /** (docs, tokens) of one corpus batch. N counts EVERY document —
    * including empty/whitespace-only ones that produce no postings —
    * matching ta_bm25's docs.count() and the oracle's COUNT(*) FROM
    * documents (a tokenized-docs count would shift every idf and avgdl
    * on a corpus with empty docs). */
  private def idxStats(batch: DataFrame): (Long, Long) = {
    val toks = batch.select(explode(wsTokens(col("text")))).count()
    (batch.count(), toks)
  }

  private def idxCluster(p: DataFrame): DataFrame =
    p.repartitionByRange(8, col("tok")).sortWithinPartitions(col("tok"))

  /** Build the two-generation posting store (batch 1 creates, batch 2
    * appends with every batch-1 entry carried verbatim; cumulative
    * (docs, toks) in each commit's #metrics header). Returns batch-1's
    * rendered v0 entry lines (for the carry assertion) and the corpus
    * totals the head header must restate. */
  private def buildIdxStore(s: SparkSession, store: String,
      docs: DataFrame): (Set[String], Long, Long) = {
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val (n1, t1) = idxStats(b1)
    val p1 = idxPostings(b1)
    TxnTable.commit(s, store, TxnTable.stageIndexed(s, store,
      idxCluster(p1), Nil, Seq("tok")), expected = -1L, op = "create",
      schemaJson = p1.schema.json, strIdxCols = Seq("tok"),
      metrics = Seq("docs" -> n1, "toks" -> t1))
    val v0Lines = TxnTable.manifest(s, store, 0L).entries
      .map(TxnTable.render).toSet
    val b2 = docs.filter(col("doc_id") % 2 =!= 0)
    val (n2, t2) = idxStats(b2)
    val m0 = TxnTable.manifest(s, store, 0L)
    TxnTable.commit(s, store,
      m0.entries.map(TxnTable.render) ++ TxnTable.stageIndexed(s, store,
        idxCluster(idxPostings(b2)), Nil, Seq("tok")),
      expected = 0L, op = "append", schemaJson = p1.schema.json,
      strIdxCols = Seq("tok"),
      metrics = Seq("docs" -> (n1 + n2), "toks" -> (t1 + t2)))
    (v0Lines, n1 + n2, t1 + t2)
  }

  def indexSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val store = graft.Fs.scratch("graft_ta", "idx_store")
    graft.Fs.deleteRecursively(store)
    val docs = Tables.documents(s, d)
    val (v0Lines, nAll, _) = buildIdxStore(s, store, docs)
    // ---- query time: store + manifest header only, no corpus read ----
    val head = TxnTable.manifest(s, store,
      TxnTable.currentVersion(s, store))
    val n = head.metrics("docs")
    val avgdl = head.metrics("toks").toDouble / n
    val carried = v0Lines.subsetOf(head.entries.map(TxnTable.render).toSet)
    val (ranked, okPrune) = idxQuery(s, store, n, avgdl)
    val ok = okPrune && carried && n == nAll &&
      TxnTable.versions(s, store) == Seq(0L, 1L)
    ranked.withColumn("idx_ok", lit(ok))
  }

  /** The retrieval half of the posting store, shared by
    * [[indexSearch]] and [[indexRetract]]: top-df term selection from
    * the (tombstone-applied) store, each term's postings via the
    * MANIFEST-PRUNED point lookup (the term-clustered layout means O(1)
    * files per term, per generation), exact ta_bm25 arithmetic from
    * store rows + the header's (n, avgdl), salted top-k. Returns the
    * ranked frame and the prune-accounting flag (each term must have
    * kept ≤2 of the range files). */
  private def idxQuery(s: SparkSession, store: String, n: Long,
      avgdl: Double): (DataFrame, Boolean) = {
    import s.implicits._
    val dfAll = TxnTable.snapshot(s, store).groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    val qts: Seq[(String, Long)] = dfAll
      .orderBy(col("df").desc, col("tok"))
      .limit(Bm25Queries).as[(String, Long)].collect().toSeq
    var kept = 0
    var total = 0
    val termFrames = qts.map { case (t, dfT) =>
      val (rows, k, tot) = TxnTable.snapshotWhere(s, store, col("tok") === t)
      kept += k; total += tot
      rows.withColumn("df", lit(dfT))
    }
    val hits = termFrames.reduce(_ unionByName _)
    val idf = log((lit(n.toDouble) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val scored = hits.select(col("tok"), col("doc_id"), col("tf"),
      col("df"),
      round(idf * (col("tf") * lit(Bm25K1Plus1)) /
        (col("tf") + lit(Bm25K1) * (lit(Bm25OneMinusB) +
          lit(Bm25B) * col("dl") / lit(avgdl))), 4).as("bm25"))
    val okPrune = total >= qts.size * 10 && kept <= qts.size * 2
    val w1 = Window.partitionBy(col("tok"),
        pmod(col("doc_id"), lit(Bm25Salts)))
      .orderBy(col("bm25").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("tok"))
      .orderBy(col("bm25").desc, col("doc_id"))
    val ranked = scored.withColumn("prerank", row_number().over(w1))
      .filter(col("prerank") <= Bm25TopK)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= Bm25TopK)
      .select(col("tok"), col("doc_id"), col("tf"), col("df"),
        col("bm25"), col("rank"))
    (ranked, okPrune)
  }

  /** ta_index_retract: GDPR RETRACTION from the persisted inverted
    * index — the posting store was dd_retract's remaining ghost: a doc
    * scrubbed from the corpus and the fingerprint store still ANSWERS
    * QUERIES through its postings until retrieval forgets it too. One
    * [[TxnTable.deleteKeysMor]] commit on doc_id retracts every posting
    * row of the named docs with ZERO posting files rewritten (the
    * equality tombstone anti-joins at read), and the SAME commit
    * restates the cumulative (docs, toks) `#metrics=` header with the
    * retracted docs' counts subtracted — N and avgdl stay ONE header
    * read at query time, and the tombstone and the statistics can never
    * be observed apart. Every downstream number shifts coherently: df
    * (counted from the tombstone-applied store), idf's N, avgdl's both
    * terms — so BM25 answers AS IF THE DOCS WERE NEVER INDEXED, which
    * is exactly what the oracle demands: a full from-scratch replay
    * over the RETAINED corpus (doc_id % 7 <> 0), hash-equal. `ridx_ok`
    * carries: entries byte-verbatim across the retraction (zero files
    * rewritten), exactly one tombstone line, header stats == retained
    * corpus stats, no retracted doc in any posting the query touched,
    * and the same manifest-prune accounting as ta_index_search. At
    * 100 TB: the retraction costs one key-file write + one manifest
    * commit, at any index size — the alternative (rewrite every
    * posting file containing the doc) scales with the corpus. */
  def indexRetract(s: SparkSession, d: String): DataFrame = {
    val store = graft.Fs.scratch("graft_ta", "idx_retract")
    graft.Fs.deleteRecursively(store)
    val docs = Tables.documents(s, d)
    val (_, nAll, tAll) = buildIdxStore(s, store, docs)
    // ---- the retraction: doc_id % 7 == 0 must vanish from retrieval ----
    val entriesBefore = TxnTable.manifest(s, store,
      TxnTable.currentVersion(s, store)).entries.map(TxnTable.render).toSet
    val goneDocs = docs.filter(col("doc_id") % 7 === 0)
    val (nGone, tGone) = idxStats(goneDocs)
    val mHead = TxnTable.manifest(s, store,
      TxnTable.currentVersion(s, store))
    TxnTable.deleteKeysMor(s, store, goneDocs.select(col("doc_id")),
      "doc_id", metrics = Seq(
        "docs" -> (mHead.metrics("docs") - nGone),
        "toks" -> (mHead.metrics("toks") - tGone)))
    // ---- query time: store + manifest header only, no corpus read ----
    val head = TxnTable.manifest(s, store,
      TxnTable.currentVersion(s, store))
    val n = head.metrics("docs")
    val avgdl = head.metrics("toks").toDouble / n
    // zero posting files rewritten: entries byte-verbatim, ONE tombstone
    val untouched =
      head.entries.map(TxnTable.render).toSet == entriesBefore &&
        head.deletes.size == 1
    val (ranked, okPrune) = idxQuery(s, store, n, avgdl)
    // behavioral proof on top of the oracle hash: nothing the query
    // touched names a retracted doc
    val noGhost = ranked.filter(col("doc_id") % 7 === 0).isEmpty
    val ok = untouched && okPrune && noGhost &&
      n == nAll - nGone && head.metrics("toks") == tAll - tGone
    ranked.withColumn("ridx_ok", lit(ok))
  }

  /** Number of BPE merges learned; the oracle unrolls this many rounds.
    * 64 is a realistic small-tokenizer scale — and demonstrates the
    * training loop stays vocabulary-bounded as rounds grow (each round
    * is one vocab-sized aggregate + a 1-row argmax collect; lineage is
    * capped by a periodic localCheckpoint, so round N costs the same as
    * round 1 at any corpus size). */
  val BpeMerges = 64

  /** BPE training corpus: printable-ASCII docs only (explicit char-class —
    * Java \s and RE2 \s disagree on \x0B), so Spark's code-unit char split
    * and DuckDB's codepoint split provably agree. */
  private val BpeAscii = "^[\\x20-\\x7E\\t\\n\\r]*$"

  private def bpeDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("text").rlike(BpeAscii))

  /** Word-frequency vocabulary with each word rendered as its BPE symbol
    * sequence: single outer spaces, TWO-space separators (" l  o  w ").
    * Under that rendering one merge is ONE literal string replace — and
    * literal replace scans left-to-right continuing after each match in
    * BOTH engines, which is exactly BPE's greedy non-overlapping merge
    * ([a,a,a] -> [aa,a]; [l,o,l,o] -> [lo,lo]). Symbols contain no spaces,
    * so the double-space pattern can never match across symbol boundaries
    * ("ax  y" is not hit by the (x,y) merge). */
  private def bpeVocab(s: SparkSession, d: String): DataFrame =
    bpeDocs(s, d)
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("sym", concat(lit(" "),
        array_join(regexp_extract_all(col("w"), lit("."), lit(0)), "  "),
        lit(" ")))

  /** The BPE trainer (Sennrich et al. 2016, the public byte-pair-encoding
    * recipe): [[BpeMerges]] rounds of count-adjacent-pairs -> merge the
    * most frequent pair everywhere. Scale shape: training touches only the
    * DISTINCT-WORD vocabulary with counts (Zipf: vocab << corpus — the
    * corpus itself is read once for the word histogram, one map-side-
    * combined shuffle); each round is a vocabulary-sized pair aggregate
    * plus a 1-ROW argmax collect (the same driver-held-literal shape as
    * the k-means centroids) and a map-only literal replace. Deterministic:
    * integer pair counts with a (freq DESC, l, r) total-order tiebreak, so
    * the oracle replays every round bit-exactly as chained CTEs.
    * Returns the merge list and the fully-merged vocabulary. */
  /** One trained tokenizer per (session, corpus dir), memoized:
    * ta_bpe_train, ta_bpe_tokenize and ta_pack_bpe all consume the SAME
    * deterministic model — production persists the tokenizer once;
    * re-training it per downstream query would be the anti-pattern. The
    * session is part of the key because the cached vocabulary is a
    * localCheckpoint whose blocks die with its session — a new session
    * must retrain, never inherit a stopped session's RDD. */
  private val bpeModels = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (Seq[(Int, String, String, Long)], DataFrame)]

  private def bpeTrain(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    // evict entries pinned to STOPPED sessions — otherwise a process
    // that cycles sessions leaks one dead session + cached vocabulary
    // per cycle for the life of the JVM
    bpeModels.keySet.removeIf(k => k._1.sparkContext.isStopped)
    bpeModels.computeIfAbsent((s, d), _ => bpeTrainUncached(s, d))
  }

  private def bpeTrainUncached(s: SparkSession, d: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var vocab = bpeVocab(s, d).localCheckpoint()
    val merges = (1 to BpeMerges).map { i =>
      // adjacent pairs, one row per position (overlaps counted, as in the
      // reference BPE recipe); sequence() guarded — size<=1 has no pairs
      val pairs = vocab
        .withColumn("syms", split(trim(col("sym")), "  "))
        .filter(size(col("syms")) > 1)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms)-1)," +
            " i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("freq")).as("f"))
      val top = pairs.orderBy(col("f").desc, col("l"), col("r")).limit(1)
        .collect()
      assert(top.nonEmpty, s"BPE corpus ran out of pairs at round $i")
      val (l, r, f) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      vocab = vocab.withColumn("sym",
        replace(col("sym"), lit(s" $l  $r "), lit(s" $l$r ")))
      // cap the lineage: without this, round N's plan carries N stacked
      // replace projections and analysis cost grows with the round count
      // (the dd_cluster cadence; eager, vocab-sized — cheap)
      if (i % 16 == 0) vocab = vocab.localCheckpoint()
      (i, l, r, f)
    }
    (merges, vocab)
  }

  /** ta_bpe_train: the learned merge table (rank, lhs, rhs, merged, freq)
    * — a real tokenizer trained from scratch on the corpus itself, fully
    * hash-checked (the oracle replays all [[BpeMerges]] training rounds). */
  def bpeTrainQuery(s: SparkSession, d: String): DataFrame = {
    val (merges, _) = bpeTrain(s, d)
    import s.implicits._
    merges.map { case (i, l, r, f) => (i.toLong, l, r, l + r, f) }
      .toDF("rank", "lhs", "rhs", "merged", "freq")
  }

  /** ta_bpe_tokenize: apply the learned merges — per-doc BPE token counts
    * next to whitespace word counts, the REAL token budget for
    * ta_pack_sequences-style packing. The fully-merged vocabulary maps
    * word -> token count once; the corpus then joins words to that
    * (vocabulary-sized, AQE-broadcast) map and sums per doc — tokenizing
    * 100 TB never re-runs the merge loop per document. */
  def bpeTokenize(s: SparkSession, d: String): DataFrame = {
    val (_, vocab) = bpeTrain(s, d)
    val counts = vocab.select(col("w"),
      size(split(trim(col("sym")), "  ")).cast("long").as("n"))
    bpeDocs(s, d)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("w"))
      .join(counts, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("n_bpe"))
  }

  /** DuckDB replay of [[bpeTrain]]: the word histogram, the spaced symbol
    * rendering, and `rounds` unrolled (pairs -> argmax -> literal replace)
    * CTEs — bit-exact mirrors of the engine's rounds. Every round CTE is
    * MATERIALIZED: r_i is referenced twice (by p_{i+1} and r_{i+1}), so
    * inlining doubles the plan tree per round — 2^rounds blowup, measured
    * ~290 s at 12 rounds vs 0.1 s materialized. */
  private def bpeOracleCtes(rounds: Int): String = {
    val head =
      s"""WITH w AS MATERIALIZED (SELECT
         |    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
         |  FROM documents WHERE regexp_matches(text, '$BpeAscii')),
         |v0 AS MATERIALIZED (SELECT w, COUNT(*) AS freq FROM w GROUP BY w),
         |r0 AS MATERIALIZED (SELECT w, freq,
         |  ' ' || array_to_string(regexp_extract_all(w, '.'), '  ') || ' ' AS sym
         |  FROM v0)""".stripMargin
    val rs = (1 to rounds).map { i =>
      s""",
         |p$i AS MATERIALIZED (SELECT l, r, SUM(freq) AS f FROM (
         |    SELECT freq, syms[k] AS l, syms[k+1] AS r FROM
         |      (SELECT freq, string_split(trim(sym), '  ') AS syms FROM r${i - 1}),
         |      UNNEST(generate_series(1, len(syms)-1)) AS t(k)
         |  ) GROUP BY l, r),
         |b$i AS MATERIALIZED (SELECT l, r, f FROM p$i ORDER BY f DESC, l, r LIMIT 1),
         |r$i AS MATERIALIZED (SELECT w, freq,
         |  replace(sym, ' ' || b.l || '  ' || b.r || ' ', ' ' || b.l || b.r || ' ') AS sym
         |  FROM r${i - 1}, b$i b)""".stripMargin
    }.mkString
    head + rs
  }

  private[graft] def bpeTrainOracle: String =
    bpeOracleCtes(BpeMerges) + "\n" +
      (1 to BpeMerges).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS rank, l AS lhs, r AS rhs,
           |  l || r AS merged, CAST(f AS BIGINT) AS freq FROM b$i""".stripMargin
      }.mkString("\nUNION ALL\n")

  private def bpePerDocCtes: String =
    bpeOracleCtes(BpeMerges) +
      s""",
         |tok AS (SELECT w, len(string_split(trim(sym), '  ')) AS n
         |  FROM r$BpeMerges),
         |docs AS (SELECT doc_id,
         |    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
         |  FROM documents WHERE regexp_matches(text, '$BpeAscii'))""".stripMargin

  private[graft] def bpeTokenizeOracle: String =
    bpePerDocCtes +
      """
        |SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(t.n) AS BIGINT) AS n_bpe
        |FROM docs JOIN tok t USING (w) GROUP BY doc_id""".stripMargin

  /** Token budget for [[packBpe]] sequences. */
  val BpeBudget = 1024

  /** ta_pack_bpe: sequence packing against the REAL token budget — the
    * composition the tokenizer exists for. Identical shard-local
    * concat-then-chunk shape as [[packSequences]] (one shard-window
    * shuffle, no global-order funnel), but each doc costs its BPE token
    * count under the corpus-trained merges instead of a regex
    * approximation — the budget the training job actually bills. */
  def packBpe(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bpeTokenize(s, d)
      .select(col("doc_id"), pmod(col("doc_id"), lit(16)).as("shard"),
        col("n_bpe").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("shard"),
        floor((col("cum") - col("n_tok")) / lit(BpeBudget.toDouble)).as("seq_id"),
        col("n_tok"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  private[graft] def packBpeOracle: String =
    bpePerDocCtes +
      s""",
         |pd AS MATERIALIZED (SELECT doc_id, CAST(SUM(t.n) AS BIGINT) AS n_tok
         |  FROM docs JOIN tok t USING (w) GROUP BY doc_id),
         |c AS (SELECT doc_id % 16 AS shard, n_tok,
         |    SUM(n_tok) OVER (PARTITION BY doc_id % 16 ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM pd)
         |SELECT shard, CAST(FLOOR((cum - n_tok) / $BpeBudget.0) AS BIGINT) AS seq_id,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM c GROUP BY 1, 2""".stripMargin

  /** ta_sessionize: gap-based sessionization (30-min inactivity splits).
    * One shuffle on user_id, then two in-partition window passes — the
    * batch twin of the streaming flatMapGroupsWithState sessionizer. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) -
      lag(unix_micros(col("ts")), 1).over(byUser)
    Tables.events(s, d)
      .withColumn("new_s",
        when(gapUs.isNull || gapUs > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_num",
        sum(col("new_s")).over(byUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"), col("session_num"))
  }

  /** ta_cdc_chunk: CONTENT-DEFINED chunking — boundaries chosen by a
    * rolling hash of the trailing 3-token window (boundary where
    * hash % 16 == 0), the FastCDC/rsync trick that makes chunk
    * boundaries survive insertions: a fixed-width chunker shifts EVERY
    * boundary after an edit, so storage/transfer dedup finds nothing,
    * while content-defined boundaries resynchronize right after the
    * edit point. Demonstrated in-query: each doc is chunked twice —
    * original and a 2-token-prepended mutant — under BOTH chunkers, and
    * the per-doc shared-chunk counts travel in the output (CDC shares
    * nearly everything, fixed-16 shares almost nothing); no threshold
    * is asserted, the counts themselves are hash-checked. One token
    * shuffle per (doc, variant) window; boundary flag, running chunk id
    * (count of boundaries strictly before pos), chunk reassembly, and
    * the intersection counts are all replayed by the oracle. */
  def cdcChunk(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val both = docs.select(col("doc_id"), lit("o").as("var"), col("text"))
      .unionByName(docs.select(col("doc_id"), lit("m").as("var"),
        concat(lit("zz qq "), col("text")).as("text")))
    val toks = both.select(col("doc_id"), col("var"),
      posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("doc_id"), col("var")).orderBy(col("pos"))
    // trailing 3-token window hash: the SAME RollingHash kernel as
    // fingerprinting, over "t[p-2] t[p-1] t[p]"
    val wh = graft.functions.RollingHash(concat_ws(" ",
      lag(col("tok"), 2).over(w), lag(col("tok"), 1).over(w), col("tok")))
    val flagged = toks
      .withColumn("bnd", col("pos") >= 2 && pmod(wh, lit(16L)) === 0)
      // chunk id = boundaries strictly BEFORE pos (a boundary at p closes
      // the chunk containing p); same window partitioning — no 2nd shuffle
      .withColumn("ci", coalesce(
        sum(when(col("bnd"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cif", (col("pos") / 16).cast("long"))
      // four consumers downstream (counts + shared join, × two chunkers):
      // cache so the doubled-corpus explode + two window passes run once
      .cache()
    def chunkFps(cid: String): DataFrame = flagged
      .groupBy(col("doc_id"), col("var"), col(cid))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ")).as("fp"))
    def stats(cid: String, pfx: String): DataFrame = {
      val fps = chunkFps(cid).cache() // counts + shared each re-read it
      val counts = fps.groupBy(col("doc_id")).agg(
        sum(when(col("var") === "o", 1L).otherwise(0L)).as(s"n_${pfx}_o"),
        sum(when(col("var") === "m", 1L).otherwise(0L)).as(s"n_${pfx}_m"))
      val shared = fps.filter(col("var") === "o")
        .select(col("doc_id"), col("fp")).distinct()
        .join(fps.filter(col("var") === "m")
          .select(col("doc_id"), col("fp")).distinct(), Seq("doc_id", "fp"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as(s"shared_$pfx"))
      counts.join(shared, Seq("doc_id"), "left")
        .withColumn(s"shared_$pfx", coalesce(col(s"shared_$pfx"), lit(0L)))
    }
    stats("ci", "cdc").join(stats("cif", "fix"), Seq("doc_id"))
  }


  /** ta_dsir: DSIR-style importance weighting for data selection (Xie
    * et al.: select raw data that looks like a small TARGET set under
    * cheap hashed n-gram LMs — the published recipe behind most
    * "quality-matched" pretraining mixes). Target = the lang='en' slice;
    * features = hashed unigrams into [[FeatureDims]] dims (no vocabulary,
    * the ta_feature_hash kernel). Per-doc log importance weight
    * w = Σ_tokens [qln(cnt_target(dim)+1) − qln(cnt_raw(dim)+1)] with
    * qln = round(ln·100) — the integer micro-unit discipline, so the sum
    * is order-free and engine-exact. Both count tables are
    * [[FeatureDims]]-sized (broadcast back onto the token stream), so
    * selection over 100 TB is: two 1024-row aggregates + one map-side
    * join + one per-doc sum — zero corpus-sized shuffles beyond the
    * doc-id combine. `selected` keeps docs whose mean per-token weight
    * beats the CORPUS mean (DSIR's "looks more target-like than
    * average") — a relative cut, so it discriminates at every SF where
    * a fixed constant silently saturates. Both means are compared by
    * integer cross-multiplication (no division — Spark DIV truncates,
    * DuckDB // floors; a quotient would diverge on these negative
    * weights), widened to decimal(38,0)/HUGEINT so the products can't
    * wrap at corpus scale (a long caps out near 10^13 tokens). */
  def dsir(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(wsTokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        pmod(graft.functions.RollingHash(col("tok")),
          lit(FeatureDims.toLong)).as("dim"))
    def qln(c: org.apache.spark.sql.Column) =
      floor(log(c + 1) * 1e2 + 0.5).cast("long")
    val rawCnt = toks.groupBy(col("dim"))
      .agg(count(lit(1)).as("cr")).select(col("dim"), qln(col("cr")).as("qr"))
    val tgtCnt = toks.filter(col("lang") === "en").groupBy(col("dim"))
      .agg(count(lit(1)).as("ct")).select(col("dim"), qln(col("ct")).as("qt"))
    val perDoc = toks
      .join(broadcast(rawCnt), Seq("dim"))
      .join(broadcast(tgtCnt), Seq("dim"), "left")
      .withColumn("qt", coalesce(col("qt"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("qt") - col("qr")).as("w_cu"))
    val t = perDoc.agg(sum(col("w_cu")), sum(col("n_tok"))).collect()(0)
    val (totW, totN) = (t.getLong(0), t.getLong(1))
    // decimal(38,0)/HUGEINT cross-multiply (domainMix's discipline): at
    // corpus scale w_cu·totN overflows a long — Spark would wrap silently
    // while the oracle's BIGINT product errors, a divergence cliff
    perDoc.withColumn("selected",
      col("w_cu").cast("decimal(38,0)") * totN >=
        lit(totW).cast("decimal(38,0)") * col("n_tok"))
  }

  /** ta_domain_mix: temperature-weighted domain mixture sampling — the
    * corpus-mixing move of multilingual/multi-domain pretraining (the
    * α-smoothed sampling of XLM/mBERT, T5's mixing rates): domain d with
    * n_d tokens gets mixture weight w_d ∝ n_d^α with α = 1/2, which
    * UP-samples small domains and down-samples dominant ones relative to
    * natural frequency. The target budget is half the corpus' tokens;
    * each doc then keeps independently with probability
    * r_d = w_d·T / n_d via the house md5-threshold test — no RNG, no
    * window, reproducible on any engine/partitioning.
    *
    * Exactness discipline: α = 1/2 because IEEE sqrt IS correctly
    * rounded (unlike ln/pow) — sqrt(n_d) is bit-identical on both
    * engines, quantized to integer micro-units (s_d) BEFORE the
    * cross-domain sum so ΣS is an order-free integer. The keep test is
    * pure integer cross-multiplication — h·S·n_d < s_d·T·2²⁴ in
    * decimal(38,0)/HUGEINT — so there is NO division to round
    * differently and the whole op hashes bit-for-bit.
    *
    * Scale shape: the domain table is a tiny aggregate (|domains| rows)
    * broadcast onto ONE corpus pass — the corpus itself never
    * shuffles. */
  def domainMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      wsTokenCount(col("text")).cast("long").as("n_tok"))
    val dom = docs.groupBy(col("source"))
      .agg(sum(col("n_tok")).as("n_d"))
      .withColumn("s_d",
        floor(sqrt(col("n_d").cast("double")) * 1e6 + 0.5).cast("long"))
    val tot = dom.agg(sum(col("s_d")).as("s_tot"), sum(col("n_d")).as("n_tot"))
    val h = conv(substring(
      md5(concat(lit("mix:"), col("doc_id").cast("string")).cast("binary")),
      1, 6), 16, 10).cast("long")
    docs.join(broadcast(dom), "source").crossJoin(broadcast(tot))
      .withColumn("kept",
        h.cast("decimal(38,0)") * col("s_tot") * col("n_d") <
          col("s_d").cast("decimal(38,0)") *
            expr("n_tot DIV 2") * lit(16777216L))
      .select(col("doc_id"), col("source"), col("n_tok"), col("kept"))
  }
}
