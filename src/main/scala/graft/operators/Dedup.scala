package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.cosine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication pipelines (SURVEY.md §2D) — exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine.
  *
  * Scale design: nothing here is O(n²) on the full corpus, and signature
  * computation (MinHash, SimHash) is a pure per-row projection over the
  * doc's token/shingle array — zero shuffle until candidates are bucketed.
  * Candidate pairs come from shared shingles (inverted-index join), LSH
  * band buckets, or SimHash chunk buckets; only candidates get exact
  * verification. The embedding variant is the documented brute-force
  * correctness baseline — the scale path is the LSH/IVF ANN in
  * graft.operators.Similarity.
  */
object Dedup {

  /** Tokens per pseudo-paragraph chunk in [[paragraphDedup]]. */
  val ParagraphTokens = 16

  /** dd_paragraph: SUB-document dedup — the C4/CCNet "line-level" pass
    * that document-level fingerprints can't do: boilerplate paragraphs
    * (navigation, license blocks, templated headers) repeat across
    * MILLIONS of otherwise-distinct pages, so the pipeline deduplicates
    * at paragraph granularity and keeps only each paragraph's first
    * occurrence, REASSEMBLING every document from its surviving
    * paragraphs. This corpus has no newlines, so a "paragraph" is a
    * fixed [[ParagraphTokens]]-token chunk (the mechanics — global
    * first-occurrence keep + ordered reassembly — are exactly the
    * line-level algorithm). First occurrence is the (doc_id, chunk_idx)
    * lexicographic minimum per chunk fingerprint, one window over the
    * fingerprint shuffle; reassembly is one groupBy(doc) — two shuffles
    * total at any corpus size, never a pair join. Output per doc:
    * chunk counts and the md5 of the reassembled text (hash-checked, so
    * the oracle replays chunking, keep decisions, AND reassembly
    * order). */
  def paragraphDedup(s: SparkSession, d: String): DataFrame = {
    val n = ParagraphTokens
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("ci", (col("pos") / n).cast("long"))
      .groupBy(col("doc_id"), col("ci"))
      // order within the ≤16-element chunk via array_sort on (pos, tok)
      // structs — tiny row-local arrays, deterministic at any parallelism
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok")), " ").as("chunk"))
    // rank key: (doc_id, chunk_idx) flattened into one long. The 1e9
    // stride means collision-freedom needs only chunk_idx < 1e9 (a
    // 16-billion-character document) while doc_id keeps 9.2e9 of
    // headroom — both bounds are unreachable at any real scale, unlike
    // a tighter stride that a mega-document could overflow into
    val flagged = chunks
      .withColumn("fp", md5(col("chunk")))
      .withColumn("rk", col("doc_id") * 1000000000L + col("ci"))
      .withColumn("keep",
        col("rk") === min(col("rk")).over(Window.partitionBy(col("fp"))))
    flagged.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      // reassemble surviving chunks in document order; a fully-duplicate
      // doc reassembles to the empty string (md5('') — still a row)
      md5(array_join(transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("ci"), col("chunk"))))),
        x => x.getField("chunk")), " ")).as("new_fp"))
  }

  /** Tokens per duplicated span in [[substringDedup]]. */
  val SubstringGram = 8

  /** dd_substring: EXACT SUBSTRING-SPAN dedup — the "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al. 2022)
    * pass: any [[SubstringGram]]-token gram occurring MORE THAN ONCE in
    * the corpus — across documents or within one — marks every token
    * position it covers, covered tokens are REMOVED, and each document
    * is reassembled from the survivors. This is the span-level
    * complement of [[paragraphDedup]]: boilerplate that never aligns to
    * a paragraph boundary (injected sentences, templated lead-ins,
    * repeated quotes) still gets cut, at exactly the duplicated span.
    *
    * Scale mechanics (the Spark re-expression of the suffix-array
    * pass): grams are row-local array slices; the duplicate test is one
    * groupBy on the gram's 16-hex-char md5 prefix — the shuffle carries
    * a fixed-width key, never L tokens (a prefix collision could only
    * over-delete one gram pair, identically on both engine and oracle);
    * coverage is ONE windowed max over the last L positions per
    * document — never a position-range join; reassembly one groupBy.
    * Bounded shuffles at any corpus size, nothing quadratic. Output per
    * doc: token counts and the md5 of the reassembled text —
    * hash-checked, so chunking, the duplicate verdicts, coverage, and
    * reassembly order all replay in the oracle. */
  def substringDedup(s: SparkSession, d: String): DataFrame =
    substringCore(Tables.documents(s, d))

  private[graft] def substringCore(documents: DataFrame): DataFrame = {
    val L = SubstringGram
    // fan-out before the tokenize/gram kernels — see minhashLshDocs
    val docs = Tables.fanOut(documents)
      .select(col("doc_id"), wsTokens(col("text")).as("ws"))
    val starts = when(size(col("ws")) >= L,
      sequence(lit(0), size(col("ws")) - L)).otherwise(array())
    val grams = docs.select(col("doc_id"),
      posexplode(transform(starts, i =>
        substring(md5(array_join(slice(col("ws"), i + 1, lit(L)), " ")),
          1, 16)))
        .as(Seq("gpos", "g")))
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("g"))
    val dupStarts = grams.join(dup, "g")
      .select(col("doc_id"), col("gpos").cast("long").as("gpos"))
    val toks = docs.select(col("doc_id"),
        posexplode(col("ws")).as(Seq("pos", "tok")))
      .withColumn("pos", col("pos").cast("long"))
    val flagged = toks.join(dupStarts,
        toks("doc_id") === dupStarts("doc_id") &&
          toks("pos") === dupStarts("gpos"), "left")
      .select(toks("doc_id"), col("pos"), col("tok"),
        when(col("gpos").isNotNull, 1).otherwise(0).as("st"))
    // a token is covered iff ANY duplicated gram starts within the
    // preceding L−1 positions (or at it): one ROWS window, no range join
    val cov = max(col("st")).over(Window.partitionBy(col("doc_id"))
      .orderBy(col("pos")).rowsBetween(-(L - 1), 0))
    flagged.withColumn("covered", cov)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("covered")).cast("long").as("n_removed"),
        // reassemble survivors in document order; a fully-duplicated doc
        // reassembles to the empty string (md5('') — still a row)
        md5(array_join(transform(
          array_sort(collect_list(when(col("covered") === 0,
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ")).as("new_fp"))
  }

  /** dd_exact: exact dedup on the md5 of normalized text. Emits every doc
    * with its fingerprint and whether it is the kept representative
    * (minimum doc_id in its group) — one shuffle on the fingerprint. */
  def exact(s: SparkSession, d: String): DataFrame =
    keepMinByFp(Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp")))

  /** dd_prefix: boilerplate-prefix dedup — fingerprint only the first 80
    * chars of the normal form (the flavor that catches templated pages /
    * shared headers that diverge in a tail). Same one-shuffle keep-min
    * shape as [[exact]]. */
  def prefixDedup(s: SparkSession, d: String): DataFrame =
    keepMinByFp(Tables.documents(s, d)
      .select(col("doc_id"),
        md5(substring(normText(col("text")), 1, 80)).as("fp")))

  /** (doc_id, shingle-hash) rows, one per shingle occurrence. Shingling +
    * hashing is the native [[graft.functions.ShingleHashes]] kernel — a
    * shuffle-free projection (the earlier posexplode + window-lead plan
    * shuffled every token row through a per-doc window sort; an HOF
    * transform/slice formulation evaluates interpreted, ~10x slower). The
    * 64-bit hash stands in for the shingle string everywhere downstream:
    * set sizes, intersections, and minhash permutations are all over
    * longs (collision odds ~1e-11 per doc). */
  private[graft] def shingleHashRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.ShingleHashes(col("text"))).as("h"))

  /** Per-doc distinct shingle-hash SET (array) for only the docs appearing
    * in the candidate pair set — a broadcast semi-join prunes the corpus,
    * then the set is a map-only projection (native shingle kernel +
    * `array_distinct`): no (doc, shingle) row explosion and no distinct
    * shuffle, so verification input scales with candidate DOCS, not
    * candidate-doc × shingle rows. */
  private def candShingleSets(docs: DataFrame, cands: DataFrame): DataFrame = {
    val candDocs = cands
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
    docs.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(graft.functions.ShingleHashes(col("text"))).as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).as("n"))
  }

  /** Exact Jaccard for candidate pairs (d1, d2) by per-pair set
    * intersection: two joins keyed on the pair's doc ids attach each
    * side's shingle set, `size(array_intersect(...))` IS the intersection
    * count. Replaces the pair×shingle expansion plan (cands ⋈ shingle
    * rows ⋈ shingle rows → groupBy(pair) → two size joins: five
    * shuffles, an intermediate of |pairs|·|shingles| rows) with two
    * joins and zero aggregations — same distinct-set semantics, same
    * double-division J, bit-identical survivors. A doc in k pairs ships
    * its set k times, exactly the bytes its shingle rows shipped through
    * the old expansion join, so the 100 TB posture is unchanged. */
  private def verifiedJaccard(sets: DataFrame, cands: DataFrame): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("d1"), col("hs").as("h1"),
        col("n").as("n1")), "d1")
      .join(sets.select(col("doc_id").as("d2b"), col("hs").as("h2"),
        col("n").as("n2")), col("d2") === col("d2b"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("h1"), col("h2"))).as("common"),
        col("n1"), col("n2"))
      .select(col("d1"), col("d2"),
        (col("common").cast("double") /
          (col("n1") + col("n2") - col("common"))).as("j"))

  /** Shingles shared by more than this many docs are dropped from candidate
    * GENERATION (never from verification, which re-shingles in full). A
    * 3-gram shared by 10⁵ docs would otherwise emit 10¹⁰ candidate pairs —
    * the classic hot-shingle blowup of web-crawl dedup. A true near-dup
    * pair (J ≥ 0.8) shares most of its shingles, so losing only the
    * ultra-common ones doesn't lose the pair. Max observed doc-freq in the
    * test corpora is 25 (sf0.1), so 128 is a no-op at test scale. */
  val MaxShingleDf = 128

  /** Candidate pairs from the shingle inverted index, with the hot-shingle
    * doc-frequency cap applied. Package-visible for the bounded-candidates
    * spec. */
  private[graft] def ngramCandidates(docs: DataFrame, maxDf: Int): DataFrame = {
    val shrows = shingleHashRows(docs).distinct()
    val rare = shrows.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") > 1)
      .select(col("h"))
    val pruned = shrows.join(rare, Seq("h"), "left_semi")
    val a = pruned.select(col("doc_id").as("d1"), col("h"))
    val b = pruned.select(col("doc_id").as("d2"), col("h").as("h2"))
    a.join(b, col("h") === col("h2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /** dd_ngram_jaccard: 3-gram shingle Jaccard ≥ 0.8, computed in ONE pass
    * over the shingle inverted index: the self-join on shingle hash emits a
    * row per (pair, common shingle), so `groupBy(d1, d2).count` IS the
    * intersection size — no candidate materialization and no pair×shingle
    * re-expansion join afterwards. (The two-phase candidates-then-verify
    * shape paid for the pair set twice: at sf0.1 the single-shared-shingle
    * rule admits 1.13M candidate pairs from 5k docs, and re-joining each
    * against its ~54 shingle rows built a ~60M-row intermediate — measured
    * 14.7 s vs ~4 s for this plan on the same corpus.)
    *
    * The hot-shingle cap applies to both intersection and sizes, so J is
    * Jaccard over the df ≤ [[MaxShingleDf]] shingle universe — boilerplate
    * shingles shared by more docs than the cap count for neither side. At
    * the test SFs the cap never binds (max observed df 25), so this equals
    * full Jaccard and the SQL oracle; at crawl scale it is the semantics
    * you want from a dedup: ultra-common boilerplate carries no signal. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardDocs(Tables.documents(s, d))

  private[graft] def ngramJaccardDocs(docs0: DataFrame): DataFrame = {
    // fan-out before the shingle kernel — see minhashLshDocs
    val docs = Tables.fanOut(docs0)
    val byH = Window.partitionBy(col("h"))
    val withDf = shingleHashRows(docs).distinct()
      .withColumn("df", count(lit(1)).over(byH))
      .filter(col("df") <= MaxShingleDf)
    val sizes = withDf.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // df = 1 shingles are unique to one doc: they count toward sizes but
    // cannot intersect, so the self-join skips them
    val pairable = withDf.filter(col("df") > 1)
      .select(col("doc_id"), col("h"))
    val common = pairable.select(col("doc_id").as("d1"), col("h"))
      .join(pairable.select(col("doc_id").as("d2"), col("h").as("h2")),
        col("h") === col("h2") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2b"), col("n").as("n2")),
        col("d2") === col("d2b"))
      .select(col("d1"), col("d2"),
        (col("common").cast("double") /
          (col("n1") + col("n2") - col("common"))).as("j"))
      .filter(col("j") >= 0.8)
  }

  // ---- MinHash + banded LSH ------------------------------------------------

  val NumPerms = 128
  val NumBands = 32 // 4 rows per band
  private[graft] val MersenneP = 2147483647L // 2^31 - 1

  /** Deterministic permutation coefficients (splitmix-style scramble of the
    * permutation index — no RNG state, reproducible across runs). */
  private[graft] def permCoeff(i: Int, salt: Long): Long = {
    var z = i.toLong * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) & 0x7FFFFFFFL) | 1L // odd, positive, < 2^31
  }

  /** dd_minhash_lsh: band the 128-perm signature into 32 buckets of 4,
    * key each band by its raw 4-minima struct, pair up docs landing in the
    * same (band, key) bucket, then verify candidates with exact
    * Jaccard ≥ 0.8.
    *
    * Shuffle profile: ONE groupBy on (band, key) with tiny payloads for
    * candidate generation + the candidate-keyed verification joins. */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshDocs(Tables.documents(s, d))

  private[graft] def minhashLshDocs(docs0: DataFrame): DataFrame = {
    // fan a degenerate single-row-group scan out to the cores: the
    // 128-permutation signature kernel below is the dominant per-row
    // cost and would otherwise run on ONE scan task (Tables.fanOut is a
    // no-op on production-scale inputs)
    val docs = Tables.fanOut(docs0)
    // signatures are a map-only projection: the native MinHashSignature
    // expression tokenizes, shingles, hashes, and folds all 128 minima in
    // one pass per doc — no shingle explosion, no signature shuffle
    val sig = docs.select(col("doc_id"),
      graft.functions.MinHashSignature(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    // the band key is the raw 4-minima struct (not a hash of it):
    // collision-free by construction, a few bytes wider on the shuffle
    // wire, and — decisively — replayable by the SQL oracle, which lets
    // the whole candidate pipeline be hash-checked
    val bandStructs = array((0 until NumBands).map { bnd =>
      val cols = (0 until 4).map(r => element_at(col("sig"), bnd * 4 + r + 1))
      struct(lit(bnd).as("band"), struct(cols: _*).as("key"))
    }: _*)
    val bands = sig.select(col("doc_id"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cands = bucketPairs(bands)
      // localCheckpoint (not persist): see ngramJaccardDocs — no storage
      // leak across queries, blocks freed when the result is unreferenced
      .localCheckpoint(true)
    verifiedJaccard(candShingleSets(docs, cands), cands)
      .filter(col("j") >= 0.8)
      .select(col("d1"), col("d2"))
  }

  /** In-bucket candidate pairing over (doc_id, band, key) rows, ANCHORED +
    * CHAINED: each member pairs with the bucket's min doc_id (the anchor)
    * AND its doc_id-order predecessor — ≤ 2(B-1) pairs per B-member bucket
    * instead of O(B²). A mega-cluster of near-identical docs (the NORM in
    * web-crawl dedup) costs one sorted window pass over the (band, key)
    * shuffle, never a quadratic pair set. The chain links mean a bucket
    * whose anchor is a banding false positive (near no other member)
    * can't sever true near-dup pairs among the rest: consecutive members
    * pair directly, and transitive clusters stay connected through the
    * chain even when every anchor pair fails verification. */
  private[graft] def bucketPairs(bands: DataFrame): DataFrame = {
    val wSeq = Window.partitionBy(col("band"), col("key"))
      .orderBy(col("doc_id"))
    bands
      .withColumn("anchor", first(col("doc_id")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev", lag(col("doc_id"), 1).over(wSeq))
      .filter(col("doc_id") > col("anchor"))
      .select(
        explode(array_distinct(array(col("anchor"), col("prev")))).as("d1"),
        col("doc_id").as("d2"))
      .distinct()
  }

  /** DuckDB replay of [[minhashLshDocs]] — the ENTIRE candidate pipeline:
    * modular shingle hashes (character-by-character rolling fold, the
    * [[graft.functions.ShingleHashes.computeModular]] recurrence), all 128
    * permutation minima as flat MIN aggregates with the same literal
    * coefficients, the 32 raw-minima band keys, anchored+chained in-bucket
    * pairing via window functions, and exact string-shingle Jaccard
    * verification at the same threshold. Promotes dd_minhash_lsh from
    * rows-tier to fully hash-checked. */
  /** The permutation-minimum aggregate for index `i`, as oracle SQL. */
  private def minExpr(i: Int): String = {
    val a = permCoeff(i, 0x5DEECE66DL)
    val b = permCoeff(i, 0x2545F4914F6CDD1DL)
    s"MIN(($a * hp + $b) % $MersenneP)"
  }

  /** Shared oracle CTEs deriving per-shingle modular hashes `hp` from
    * documents (tokenize → 3-gram shingle strings → rolling fold). */
  private val shingleHashCtes: String =
    s"""w AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
       |  FROM documents),
       |sh AS (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(ws) - 2),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |  FROM w),
       |hp AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split_regex(shingle, ''),
       |      c -> CAST(ascii(c) AS BIGINT))),
       |    (h, c) -> (h * 31 + c) % $MersenneP) AS hp
       |  FROM sh)""".stripMargin

  /** Oracle for sql_text_minhash: the three probed signature positions
    * recomputed from the shared shingle-hash CTEs. */
  private[graft] def minhashProbeOracle: String =
    s"""WITH $shingleHashCtes
       |SELECT doc_id, ${minExpr(0)} AS m1, ${minExpr(63)} AS m64,
       |  ${minExpr(127)} AS m128
       |FROM hp GROUP BY doc_id""".stripMargin

  private[graft] def minhashOracle: String = {
    val minExprs = (0 until NumPerms).map(i => s"${minExpr(i)} AS m$i")
      .mkString(",\n    ")
    val bandStructs = (0 until NumBands).map { bnd =>
      val ks = (0 until 4).map(r => s"k${r + 1} := m${bnd * 4 + r}")
        .mkString(", ")
      s"struct_pack(band := $bnd, $ks)"
    }.mkString(",\n      ")
    s"""WITH $shingleHashCtes,
       |sig AS (SELECT doc_id,
       |    $minExprs
       |  FROM hp GROUP BY doc_id),
       |bl AS (SELECT doc_id, unnest([
       |      $bandStructs]) AS u
       |  FROM sig),
       |bands AS (SELECT doc_id, u.band AS band,
       |    u.k1 AS k1, u.k2 AS k2, u.k3 AS k3, u.k4 AS k4
       |  FROM bl),
       |bp AS (SELECT doc_id,
       |    MIN(doc_id) OVER (PARTITION BY band, k1, k2, k3, k4) AS anchor,
       |    LAG(doc_id) OVER (PARTITION BY band, k1, k2, k3, k4
       |      ORDER BY doc_id) AS prev
       |  FROM bands),
       |cand AS (SELECT DISTINCT d1, d2 FROM (
       |  SELECT anchor AS d1, doc_id AS d2 FROM bp WHERE doc_id > anchor
       |  UNION ALL
       |  SELECT prev AS d1, doc_id AS d2 FROM bp
       |  WHERE doc_id > anchor AND prev <> anchor) t),
       |dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
       |common AS (SELECT c.d1, c.d2, COUNT(*) AS common
       |  FROM cand c JOIN dsh a ON a.doc_id = c.d1
       |              JOIN dsh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
       |  GROUP BY c.d1, c.d2)
       |SELECT d1, d2 FROM common
       |JOIN sizes s1 ON d1 = s1.doc_id
       |JOIN sizes s2 ON d2 = s2.doc_id
       |WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.8""".stripMargin
  }

  // ---- SimHash -------------------------------------------------------------

  /** Signature width: 60 bits — the token hash is the top 60 bits of
    * its md5 (see [[graft.functions.SimHashSignature]]), chosen so a SQL
    * oracle can replay the exact signature (xxhash64 exists in no other
    * engine). */
  val SimhashBits = graft.functions.SimHashSignature.Bits

  /** Multi-block candidate scheme (the standard near-duplicate simhash
    * index): 6 blocks of 10 bits, one hash table per 3-block combination
    * (C(6,3) = 20 tables with 30-bit keys). ≤3 differing bits touch ≤3
    * blocks, leaving ≥3 intact — and every 3-subset of blocks IS a table,
    * so some table key matches: lossless for hamming ≤ 3 (spec-proven
    * against brute force). The payoff over few-wide-chunk schemes is key
    * width: expected bucket size is n/2³⁰, so candidate pairs stay
    * near-linear even at 10⁹ docs, where a 15-bit chunk key would emit
    * ~4·n²/2¹⁵ pairs. */
  private val NumBlocks = 6
  private val BlockBits = SimhashBits / NumBlocks // 10
  private val BlockCombos: Seq[Seq[Int]] =
    (0 until NumBlocks).combinations(3).map(_.toSeq).toSeq // 20 tables

  /** dd_simhash: 60-bit SimHash over whitespace tokens. The signature
    * is a map-only projection: the native
    * [[graft.functions.SimHashSignature]] tokenizes, hashes each token
    * (the top 60 bits of its MD5) and folds
    * the 60 signed bit counters in one pass per document (repeated tokens
    * contribute their multiplicity — exactly term-frequency weighting;
    * a document without tokens has no signature). Near-dup = hamming ≤ 3;
    * candidates come from the multi-block tables above, never all-pairs,
    * so the only shuffles are the block-key join and the pair distinct. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val sig = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.SimHashSignature(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    val blockMask = (1L << BlockBits) - 1
    val chunks = sig.select(col("doc_id"), col("sig"),
      explode(array(BlockCombos.zipWithIndex.map { case (blks, ci) =>
        struct(lit(ci).as("k"),
          blks.zipWithIndex.map { case (b, pos) =>
            shiftleft(shiftright(col("sig"), BlockBits * b)
              .bitwiseAND(lit(blockMask)), BlockBits * pos)
          }.reduce(_ bitwiseOR _).as("v"))
      }: _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.k").as("k"), col("c.v").as("v"))
    val a = chunks.select(col("doc_id").as("d1"), col("sig").as("sig1"),
      col("k"), col("v"))
    val b = chunks.select(col("doc_id").as("d2"), col("sig").as("sig2"),
      col("k"), col("v"))
    a.join(b, Seq("k", "v")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("sig1").bitwiseXOR(col("sig2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  // ---- Cluster assignment --------------------------------------------------

  /** dd_cluster: connected-component dedup clusters over the verified
    * near-dup pair graph — the step that turns pairwise J ≥ 0.8 links into
    * keep-one-representative groups (a pipeline drops every doc whose
    * `rep` ≠ `doc_id`). Emits (doc_id, rep) for every doc in ≥ 1 pair,
    * rep = min doc_id of the component. */
  def cluster(s: SparkSession, d: String): DataFrame =
    connectedComponents(
      ngramJaccardDocs(Tables.documents(s, d)).select(col("d1"), col("d2")))

  /** Min-label propagation with pointer jumping, the standard distributed
    * connected-components loop: each round every node takes the min label
    * in its closed neighborhood, then labels compress through their own
    * representative (label(x) := label(label(x))) — the jump halves chain
    * depth, so rounds are O(log diameter), not O(diameter), which is what
    * makes chained-pair buckets (diameter = bucket size) safe at scale.
    * Each round is two shuffle joins over the label set (one row per doc
    * in the pair graph — far smaller than the corpus) and the loop
    * localCheckpoints each generation so lineage stays flat. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("rep", col("doc_id"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 40) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("rep")), "dst")
        .groupBy(col("src").as("doc_id")).agg(min(col("rep")).as("nrep"))
      // carry the previous label through as `old` so convergence is a
      // filter-count on the checkpointed result — no extra join per round
      val propagated = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("rep").as("old"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
      val repTable = propagated
        .select(col("doc_id").as("repkey"), col("rep").as("rrep"))
      val next = propagated
        .join(repTable, col("rep") === col("repkey"), "left")
        .select(col("doc_id"), col("old"),
          coalesce(col("rrep"), col("rep")).as("rep"))
        .localCheckpoint(true)
      changed = next.filter(col("rep") =!= col("old")).count()
      labels = next.select(col("doc_id"), col("rep"))
      rounds += 1
    }
    labels
  }

  // ---- Embedding cosine ----------------------------------------------------

  val EmbedTau = 0.45

  /** dd_embed_cosine: embedding near-dup pairs with cosine ≥ [[EmbedTau]],
    * candidates from the random-hyperplane LSH tables (two vectors are
    * candidates iff they share a (table, bucket) in ANY of the 8 tables),
    * exact cosine verification on candidates only — the same
    * candidates-then-verify contract as [[minhashLshDocs]], and like it,
    * approximate by design: recall vs the exact all-pairs baseline is
    * spec-measured ([[embedCosineExact]] exists for that spec alone).
    *
    * Scale honesty, measured on this corpus: at τ=0.45 (θ≈63°) on
    * near-uniform vectors NO candidate scheme prunes well — these 8×4
    * hyperplane tables cover ~41% of all pairs and still miss ~7-16% of
    * true pairs; IVF multi-probe cells covered 92% of all pairs and still
    * missed some. Low-threshold similarity join on uniform dense vectors
    * is inherently near-quadratic; at production dedup thresholds
    * (τ ≥ 0.85, θ ≤ 32°) the identical machinery prunes hard AND recalls
    * ≥ 1-(1-0.66^4)^8 ≈ 0.97 per pair. The bucketed form is what ships at
    * 100 TB; the oracle replays its buckets exactly (no all-pairs scan
    * anywhere in the graded path). */
  def embedCosine(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val tb = Similarity.lshTables(e)
    // verify INSIDE the co-located bucket join: vectors ride the (t,
    // bucket) shuffle once, the codegen'd cosine runs per candidate
    // OCCURRENCE (≤ #tables per pair — redundant compute is map-side and
    // cheap), and only the few survivors reach the distinct. The
    // score-after-distinct alternative pays a full candidate-pair shuffle
    // plus two vector-lookup joins — measured 3.6 s vs 1.8 s at sf0.1.
    tb.select(col("t"), col("bucket"), col("vec_id").as("v1"),
        col("v").as("va"))
      .join(tb.select(col("t"), col("bucket"), col("vec_id").as("v2"),
        col("v").as("vb")), Seq("t", "bucket"))
      .filter(col("v1") < col("v2") &&
        cosine(col("va"), col("vb")) >= EmbedTau)
      .select(col("v1"), col("v2")).distinct()
  }

  /** All-pairs exact baseline (quadratic by design) — NOT a registered
    * query; exists so DedupSpec can measure the bucketed path's recall
    * and subset property at small SF. */
  private[graft] def embedCosineExact(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("v1"), col("v").as("va"))
    val b = e.select(col("vec_id").as("v2"), col("v").as("vb"))
    a.join(b, col("v1") < col("v2"))
      .filter(cosine(col("va"), col("vb")) >= EmbedTau)
      .select(col("v1"), col("v2"))
  }

  /** DuckDB replay of [[embedCosine]]: the literal-hyperplane bucket CTEs
    * shared with sim_ann_lsh's oracle, shared-bucket candidate pairs, and
    * the exact cosine filter — the bucketed path is hash-checked end to
    * end (candidate generation included), not compared against an
    * all-pairs twin it doesn't compute. */
  private[graft] def embedCosineOracle: String =
    s"""WITH ${Similarity.lshBucketCtes},
       |cand AS (SELECT DISTINCT a.vec_id AS v1, c.vec_id AS v2
       |  FROM tb a JOIN tb c ON a.t = c.t AND a.bucket = c.bucket
       |  WHERE a.vec_id < c.vec_id)
       |SELECT v1, v2 FROM cand
       |JOIN e e1 ON e1.vec_id = v1
       |JOIN e e2 ON e2.vec_id = v2
       |WHERE list_cosine_similarity(e1.v, e2.v) >= $EmbedTau""".stripMargin

  /** dd_incremental: dedup of an ARRIVING batch against the fingerprint
    * store of an already-deduped corpus — the shape a production crawl
    * runs daily. The 100 TB invariant: the deduped corpus is NEVER
    * rescanned; its distinct fingerprints live in a TxnTable "store"
    * (here built once from the docs with doc_id % 3 != 0), and each
    * arriving batch (doc_id % 3 == 0) is (a) internally deduped with the
    * one-shuffle keep-min, (b) checked against the store with the batch
    * as the BROADCAST side both times: a left-semi probe of the store
    * against the broadcast batch fingerprints finds the hits (the store
    * is scanned map-side, never shuffled — a left-outer with the batch
    * on the left could only broadcast the STORE, the wrong side at
    * 100 TB), and the tiny hit set broadcasts back onto the batch for
    * the per-doc verdicts — and (c) the novel fingerprints are APPENDED
    * to the store through the snapshot log (atomic: a concurrent reader
    * sees the old or the new store, never a torn one). Output: every
    * batch doc with its in-batch representative flag, novelty verdict,
    * and final keep decision; `inc_ok` asserts the store mechanics
    * (version advanced once, row count grew by exactly the
    * distinct-novel count). */
  def incremental(s: SparkSession, d: String): DataFrame = {
    val store = {
      val dir = graft.Fs.scratch("graft_txn", "dd_store")
      graft.Fs.deleteRecursively(dir)
      dir
    }
    val fps = Tables.documents(s, d)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val corpusFps = fps.filter(col("doc_id") % 3 =!= 0)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("owner"))
    TxnTable.create(s, store, corpusFps)
    val v0Rows = TxnTable.snapshot(s, store).count()
    // the arriving batch: genuinely-new docs (the %3==0 slice — this
    // corpus has no cross-doc exact dups, so their fps are absent from
    // the store) PLUS two deterministic re-crawl slices, because a real
    // crawl batch contains both kinds of duplicate: docs the store has
    // already seen (re-fetched under a new id) and docs fetched twice
    // within the batch itself
    val batch = fps.filter(col("doc_id") % 3 === 0)
      .unionByName(fps
        .filter(col("doc_id") % 3 =!= 0 && col("doc_id") % 5 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"), col("fp")))
      .unionByName(fps.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("fp")))
      .withColumn("batch_rep",
        col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy(col("fp"))))
    val storeFps = TxnTable.snapshot(s, store).select(col("fp"))
    // store-side left-semi against the BROADCAST batch: the store never
    // shuffles; the hit set (≤ |batch| rows) broadcasts back
    val hits = storeFps
      .join(broadcast(batch.select(col("fp")).distinct()), Seq("fp"),
        "left_semi")
      .withColumn("present", lit(true))
    val verdicts = batch
      .join(broadcast(hits), Seq("fp"), "left")
      .withColumn("novel", col("present").isNull)
      .withColumn("keep", col("batch_rep") && col("novel"))
      .select(col("doc_id"), col("fp"), col("batch_rep"), col("novel"),
        col("keep"))
      // verdicts feed three consumers (append staging, the novel count,
      // the returned frame) — cache so the doc scan + window + probe run
      // once, not three times
      .cache()
    val novelFps = verdicts.filter(col("keep"))
      .select(col("fp"), col("doc_id").as("owner"))
    val v1 = TxnTable.append(s, store, novelFps)
    val v1Rows = TxnTable.snapshot(s, store).count()
    val nNovel = novelFps.count()
    val ok = v1 == 1L && v1Rows == v0Rows + nNovel
    verdicts.withColumn("inc_ok", lit(ok))
  }

  /** dd_url: URL-canonicalization dedup (the C4 crawl-frontier pass —
    * the same page fetched as `HTTPS://WWW...:443/p/1/?utm_source=...`
    * and `https://www.../p/1?id=...` must collapse). The corpus carries
    * no URLs, so deterministic synthetic URLs are derived from
    * (doc_id, source) on BOTH engines — the ta_pii_scrub precedent —
    * with case, default-port, trailing-slash, param-order, utm_* and
    * fragment noise injected by doc_id residue. Canonicalization parses
    * the URL GENERICALLY (regex, not by construction knowledge):
    * lowercase scheme+host, strip :443/:80, drop fragment, drop utm_*
    * params, sort surviving params, strip the trailing slash. Row-local
    * (zero shuffle) until the one keep-min shuffle on the canonical
    * key. */
  def urlDedup(s: SparkSession, d: String): DataFrame = {
    val k = col("doc_id")
    val host0 = concat(col("source"), lit(".example.org"))
    val url = concat(
      when(k % 5 === 0, lit("HTTPS")).otherwise(lit("https")), lit("://"),
      when(k % 4 === 0, upper(host0)).otherwise(host0),
      when(k % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), (k % 10).cast("string"),
      when(k % 6 === 0, lit("/")).otherwise(lit("")),
      lit("?"),
      when(k % 2 === 0,
        concat(lit("z=9&utm_campaign=x&id="), (k % 5).cast("string")))
        .otherwise(concat(lit("id="), (k % 5).cast("string"), lit("&z=9"))),
      when(k % 3 === 0, lit("#sec")).otherwise(lit("")))
    val withUrl = Tables.documents(s, d).select(k, url.as("url"))
    val noFrag = regexp_replace(col("url"), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([^:]+)://", 1))
    val rest = regexp_replace(noFrag, "^[^:]+://", "")
    val host = lower(regexp_replace(
      regexp_extract(rest, "^([^/?]+)", 1), ":(443|80)$", ""))
    val pathQ = regexp_replace(rest, "^[^/?]+", "")
    val path = regexp_replace(regexp_extract(pathQ, "^([^?]*)", 1), "/$", "")
    val query = regexp_extract(pathQ, "[?](.*)$", 1)
    val params = filter(split(query, "&"),
      p => !p.startsWith("utm_") && p =!= "")
    val canonQ = array_join(array_sort(params), "&")
    val canon = concat(scheme, lit("://"), host, path,
      when(canonQ =!= "", concat(lit("?"), canonQ)).otherwise(lit("")))
    withUrl.withColumn("canon", canon)
      .withColumn("keep",
        col("doc_id") === min(col("doc_id"))
          .over(Window.partitionBy(col("canon"))))
  }

  /** dd_semantic: SemDeDup-style semantic dedup (Abbas et al. 2023) — the
    * embedding-space pass that catches paraphrases exact and fuzzy TEXT
    * dedup can't: k-means-cluster the embeddings, then search for
    * near-duplicates ONLY within each cluster. The cluster id is the
    * blocking key, which is what makes this the 100 TB shape: the pair
    * join is co-partitioned on `cluster`, so candidate sets are bounded
    * by cluster size (k grows with the corpus — SemDeDup runs k≈11k on
    * LAION — keeping clusters near-constant), and NOTHING all-pairs ever
    * runs. Training reuses the deterministic integer-micro-unit Lloyd
    * loop shared with sim_kmeans ([[Similarity.assignedVecs]]), so the
    * ENTIRE pipeline — training, assignment, in-cluster pairing, the
    * cosine threshold, and the keep verdicts — is replayed by the oracle
    * and hash-checked. Keep rule: a vector is dropped iff some
    * smaller-id vector in the SAME cluster has cosine ≥ [[EmbedTau]]
    * (first-occurrence-survives, matching every other dedup op here;
    * cross-cluster near-dups are out of scope BY DESIGN — that recall
    * trade is the algorithm, measured in DedupSpec against the exact
    * all-pairs baseline). */
  def semantic(s: SparkSession, d: String): DataFrame = {
    val assigned = Similarity.assignedVecs(s, d)
    val a = assigned.select(col("cluster"), col("vec_id").as("v1"),
      col("v").as("va"))
    val b = assigned.select(col("cluster"), col("vec_id").as("v2"),
      col("v").as("vb"))
    // verify inside the co-located cluster join (embedCosine's shape):
    // vectors ride the cluster shuffle once, survivors are tiny.
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("v1") < col("v2") &&
        cosine(col("va"), col("vb")) >= EmbedTau)
      .select(col("v2").as("dup_id")).distinct()
    assigned.join(dropped, col("vec_id") === col("dup_id"), "left_outer")
      .select(col("vec_id"), col("cluster"),
        col("dup_id").isNull.as("kept"))
  }

  /** DuckDB replay of [[semantic]]: the shared Lloyd-training CTE chain
    * ([[Similarity.kmeansAssignCtes]]) plus in-cluster pairing and the
    * exact cosine threshold — training included in the hash check. */
  private[graft] def semanticOracle: String =
    s"""WITH ${Similarity.kmeansAssignCtes},
       |dup AS (SELECT DISTINCT b.vec_id AS dup_id
       |  FROM assign a JOIN assign b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  JOIN e e1 ON e1.vec_id = a.vec_id
       |  JOIN e e2 ON e2.vec_id = b.vec_id
       |  WHERE list_cosine_similarity(e1.v, e2.v) >= $EmbedTau)
       |SELECT a.vec_id, a.cluster, (d.dup_id IS NULL) AS kept
       |FROM assign a LEFT JOIN dup d ON a.vec_id = d.dup_id""".stripMargin

  // ---- Incremental NEAR-dup vs a persisted LSH band store ------------------

  /** Verified-match threshold for the incremental path: a batch/corpus
    * pair is a near-duplicate when ≥ this many of the 128 MinHash minima
    * agree — the standard unbiased Jaccard estimator (E[matches]/128 = J),
    * here at J ≈ 0.70. Expressed as an INTEGER count so the engine and
    * the DuckDB oracle compare exactly (never a float threshold). */
  val IncLshMinMatch: Int = math.ceil(NumPerms * 0.70).toInt // 90

  /** Flatten docs into MinHash band rows (doc_id, band, k1..k4) — the
    * persisted form of [[minhashLshDocs]]' banding. One map-only pass:
    * the native MinHashSignature expression computes all 128 minima
    * per doc, the 32 bands explode row-locally. A doc too short to
    * shingle (< 3 tokens) emits no rows on EITHER engine. */
  private[graft] def lshBandRows(docs: DataFrame): DataFrame = {
    val sig = docs.select(col("doc_id"),
      graft.functions.MinHashSignature(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
    val bandStructs = array((0 until NumBands).map { bnd =>
      val ks = (0 until 4).map(r => element_at(col("sig"), bnd * 4 + r + 1))
      struct(lit(bnd).as("band"), ks(0).as("k1"), ks(1).as("k2"),
        ks(2).as("k3"), ks(3).as("k4"))
    }: _*)
    sig.select(col("doc_id"), explode(bandStructs).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.k1").as("k1"),
        col("b.k2").as("k2"), col("b.k3").as("k3"), col("b.k4").as("k4"))
  }

  /** Probe a persisted band store with an arriving batch's band rows —
    * the phase whose 100 TB invariant is that the CORPUS IS NEVER READ:
    * every input is either the store (the O(#docs × 32-row) index, NOT
    * the corpus text) or the batch. Two store passes, both map-side:
    *
    *   1. candidates — store band rows joined against the BROADCAST
    *      batch band keys on (band, k1..k4): the store never shuffles,
    *      hits are ≤ |batch candidates| pairs;
    *   2. verification — store rows left-semi'd to the broadcast
    *      candidate-owner id set (their full 32-band signatures), joined
    *      per band with the broadcast batch bands, and the per-pair
    *      count of agreeing minima (4 positions × 32 bands = the whole
    *      128-wide signature, reconstructed from the banding) compared
    *      against [[IncLshMinMatch]] — the MinHash Jaccard estimate, so
    *      verification needs NO document text at all.
    *
    * DedupSpec asserts the plan property directly: every file scanned
    * by this frame lives under the store path. Returns per-batch-doc
    * verdicts (batch_rep, n_near, novel, keep). */
  private[graft] def probeLshStore(s: SparkSession, store: String,
      bBands: DataFrame, bFps: DataFrame): DataFrame = {
    val storeBands = TxnTable.snapshot(s, store)
    val cands = storeBands
      .join(broadcast(bBands.withColumnRenamed("doc_id", "b_doc")),
        Seq("band", "k1", "k2", "k3", "k4"))
      .select(col("doc_id").as("owner"), col("b_doc")).distinct()
      // tiny (verified-candidate-sized); checkpoint so the verification
      // pass below re-reads the STORE, not the candidate join's lineage
      .localCheckpoint(true)
    val owners = cands.select(col("owner")).distinct()
    val ownerBands = storeBands
      .join(broadcast(owners), storeBands("doc_id") === owners("owner"),
        "left_semi")
      .select(col("doc_id").as("owner"), col("band"), col("k1").as("c1"),
        col("k2").as("c2"), col("k3").as("c3"), col("k4").as("c4"))
    val bb = bBands.select(col("doc_id").as("b_doc"), col("band"),
      col("k1").as("b1"), col("k2").as("b2"), col("k3").as("b3"),
      col("k4").as("b4"))
    val hits = ownerBands
      .join(broadcast(cands), Seq("owner"))
      .join(broadcast(bb), Seq("b_doc", "band"))
      .groupBy(col("owner"), col("b_doc"))
      .agg(sum((col("c1") === col("b1")).cast("long") +
        (col("c2") === col("b2")).cast("long") +
        (col("c3") === col("b3")).cast("long") +
        (col("c4") === col("b4")).cast("long")).as("matches"))
      .filter(col("matches") >= IncLshMinMatch)
      .groupBy(col("b_doc").as("doc_id")).agg(count(lit(1)).as("n_near"))
    bFps
      .withColumn("batch_rep", col("doc_id") === min(col("doc_id"))
        .over(Window.partitionBy(col("fp"))))
      .join(broadcast(hits), Seq("doc_id"), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
      .withColumn("novel", col("n_near") === 0L)
      .withColumn("keep", col("batch_rep") && col("novel"))
      .select(col("doc_id"), col("batch_rep"), col("n_near"), col("novel"),
        col("keep"))
  }

  /** dd_incremental_lsh: NEAR-duplicate dedup of an arriving batch
    * against the persisted MinHash band store of an already-deduped
    * corpus — [[incremental]]'s exact-fingerprint shape upgraded to the
    * near-dup case a daily crawl actually needs (a re-fetched page is
    * RARELY byte-identical: boilerplate rotates, timestamps move). The
    * corpus' band rows live in a TxnTable; the arriving batch (the
    * %3==0 slice + a near-dup re-crawl slice — corpus docs re-fetched
    * with one appended token — + an in-batch exact-dup slice) computes
    * its own signatures map-only, probes the store ([[probeLshStore]]:
    * candidates from shared band buckets, verification by signature
    * agreement — the corpus TEXT is never read), and APPENDS the kept
    * docs' band rows atomically through [[TxnTable.appendResolving]],
    * so a concurrent batch's append rebases instead of clobbering.
    * `lshinc_ok` asserts the store mechanics: version advanced once,
    * band-row count grew by exactly the kept docs' band count. */
  def incrementalLsh(s: SparkSession, d: String): DataFrame = {
    val store = {
      val dir = graft.Fs.scratch("graft_txn", "dd_lsh_store")
      graft.Fs.deleteRecursively(dir)
      dir
    }
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    TxnTable.create(s, store, lshBandRows(corpus))
    val v0Rows = TxnTable.snapshot(s, store).count()
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(corpus.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" the")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
    // batch-sized and consumed twice (probe + append) — checkpoint so
    // the probe plan provably scans ONLY the store (DedupSpec pins it)
    val bBands = lshBandRows(batch).localCheckpoint(true)
    val bFps = batch.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .localCheckpoint(true)
    val verdicts = probeLshStore(s, store, bBands, bFps).cache()
    val kept = verdicts.filter(col("keep")).select(col("doc_id"))
    val newBands = bBands.join(broadcast(kept), Seq("doc_id"))
      .localCheckpoint(true)
    val nAdded = newBands.count()
    val out = TxnTable.appendResolving(s, store, newBands)
    val v1Rows = TxnTable.snapshot(s, store).count()
    val ok = out.version == 1L && v1Rows == v0Rows + nAdded
    verdicts.withColumn("lshinc_ok", lit(ok))
  }

  /** dd_retract: RIGHT-TO-BE-FORGOTTEN for the near-dup index — the
    * GDPR cascade a real pipeline owes: deleting a document from the
    * corpus is not enough, its FINGERPRINTS must go too, or the index
    * keeps matching against ghost content (a re-submission of retracted
    * text would be "deduplicated away" against a document that legally
    * no longer exists — silent data suppression by a ghost). The
    * retraction is ONE merge-on-read tombstone commit on the band
    * store ([[TxnTable.deleteKeysMor]] on doc_id — band rows scattered
    * across every band file, so copy-on-write would rewrite the whole
    * index; every entry carries byte-verbatim, asserted), and every
    * probe read anti-joins it atomically. The proof is behavioral: a
    * re-crawl batch of near-dup copies (corpus %5==1 docs, one token
    * appended) probes the store — copies of RETAINED docs come back
    * near-dups (suppressed), copies of RETRACTED docs (%7==2) come
    * back NOVEL: the store has genuinely forgotten them, and the text
    * may re-enter the corpus. The corpus text is never read by any of
    * it ([[probeLshStore]]). `retract_ok` carries the tombstone
    * accounting + the store row count dropping by exactly the
    * retracted docs' band rows; the oracle replays signatures over the
    * RETAINED store side and the full re-crawl batch. */
  def retract(s: SparkSession, d: String): DataFrame = {
    val store = graft.Fs.freshScratch("graft_txn", "dd_retract_store")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    TxnTable.create(s, store, lshBandRows(corpus))
    val lines0 = TxnTable.manifest(s, store, 0L).entries
      .map(TxnTable.render).toSet
    val bandsBefore = TxnTable.snapshot(s, store).count()
    val retractBands = TxnTable.snapshot(s, store)
      .filter(col("doc_id") % 7 === 2).count()
    // the retraction: one tombstone commit, zero band files rewritten
    val v1 = TxnTable.deleteKeysMor(s, store,
      corpus.filter(col("doc_id") % 7 === 2).select(col("doc_id")),
      "doc_id")
    val m1 = TxnTable.manifest(s, store, v1)
    val verbatim = lines0.subsetOf(m1.entries.map(TxnTable.render).toSet)
    val bandsAfter = TxnTable.snapshot(s, store).count()
    // the re-crawl: near-dup copies of corpus %5==1 docs — RETAINED
    // ones must match, RETRACTED ones must now be novel
    val batch = corpus.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" the")).as("text"))
    val bBands = lshBandRows(batch).localCheckpoint(true)
    val bFps = batch.select(col("doc_id"),
      fingerprint(col("text")).as("fp")).localCheckpoint(true)
    val verdicts = probeLshStore(s, store, bBands, bFps)
    val ok = verbatim && m1.deletes.size == 1 &&
      bandsAfter == bandsBefore - retractBands && retractBands > 0
    verdicts.withColumn("retract_ok", lit(ok))
  }

  /** DuckDB replay of [[retract]]: the store side is the RETAINED
    * corpus (retracted docs' signatures gone), the batch side the full
    * re-crawl — same signature/band/verification machinery as
    * [[incrementalLshOracle]]. */
  private[graft] def retractOracle: String =
    s"""WITH corpus0 AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 <> 0 AND doc_id % 7 <> 2),
       |batch0 AS (SELECT doc_id + 100000 AS doc_id, text || ' the' AS text
       |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1),
       |${shingleHashCtesFor("corpus0", "c")},
       |${shingleHashCtesFor("batch0", "b")},
       |${lshBandCtesFor("c")},
       |${lshBandCtesFor("b")},
       |${lshProbeTailSql("retract_ok")}""".stripMargin

  /** [[shingleHashCtes]] parameterized over the source docs CTE — the
    * incremental oracle needs the signature machinery TWICE (corpus and
    * batch sides), each over a derived doc set. */
  private def shingleHashCtesFor(src: String, p: String): String =
    s"""${p}w AS (SELECT doc_id,
       |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
       |  FROM $src),
       |${p}sh AS (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(ws) - 2),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |  FROM ${p}w),
       |${p}hp AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split_regex(shingle, ''),
       |      c -> CAST(ascii(c) AS BIGINT))),
       |    (h, c) -> (h * 31 + c) % $MersenneP) AS hp
       |  FROM ${p}sh)""".stripMargin

  /** DuckDB replay of [[incrementalLsh]] — both sides' 128-minima
    * signatures from scratch, the 32-band keys, the shared-bucket
    * candidate pairs, the position-agreement verification at the same
    * integer threshold, and the per-doc verdicts. */
  /** The per-side signature + band-key CTE block (sig/bl/bands under
    * prefix `p`, from the `${p}hp` shingle-hash CTE) — shared by the
    * incremental and streaming LSH oracles. */
  private def lshBandCtesFor(p: String): String = {
    val minExprs = (0 until NumPerms).map(i => s"${minExpr(i)} AS m$i")
      .mkString(",\n    ")
    val bandStructs = (0 until NumBands).map { bnd =>
      val ks = (0 until 4).map(r => s"k${r + 1} := m${bnd * 4 + r}")
        .mkString(", ")
      s"struct_pack(band := $bnd, $ks)"
    }.mkString(",\n      ")
    s"""${p}sig AS (SELECT doc_id,
       |    $minExprs
       |  FROM ${p}hp GROUP BY doc_id),
       |${p}bl AS (SELECT doc_id, unnest([
       |      $bandStructs]) AS u
       |  FROM ${p}sig),
       |${p}bands AS (SELECT doc_id, u.band AS band,
       |    u.k1 AS k1, u.k2 AS k2, u.k3 AS k3, u.k4 AS k4
       |  FROM ${p}bl)""".stripMargin
  }

  /** The 128-position signature-agreement count between sig rows `c`
    * and `b` — a flat list literal, not a 128-deep `+` chain: DuckDB's
    * binder caps expression recursion at 128, which a left-deep sum
    * trips. */
  private def lshMatchSum: String =
    "len(list_filter([\n    " +
      (0 until NumPerms).map(i => s"c.m$i = b.m$i").mkString(",\n    ") +
      "], x -> x))"

  /** The shared store-probe TAIL of the incremental/retraction oracles:
    * candidate pairs from shared band buckets (cbands vs bbands),
    * signature-agreement verification at the integer threshold, and the
    * per-batch-doc verdict — exactly [[probeLshStore]]'s algebra. ONE
    * definition so the verification shape can never drift between the
    * oracles that replay it. */
  private def lshProbeTailSql(okCol: String): String =
    s"""cands AS (SELECT DISTINCT c.doc_id AS owner, b.doc_id AS b_doc
       |  FROM cbands c JOIN bbands b
       |    ON c.band = b.band AND c.k1 = b.k1 AND c.k2 = b.k2
       |   AND c.k3 = b.k3 AND c.k4 = b.k4),
       |est AS (SELECT cd.owner, cd.b_doc,
       |    $lshMatchSum AS matches
       |  FROM cands cd JOIN csig c ON c.doc_id = cd.owner
       |                JOIN bsig b ON b.doc_id = cd.b_doc),
       |hits AS (SELECT b_doc AS doc_id, COUNT(*) AS n_near FROM est
       |  WHERE matches >= $IncLshMinMatch GROUP BY b_doc),
       |bfp AS (SELECT doc_id,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |  FROM batch0),
       |brep AS (SELECT doc_id,
       |    doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS batch_rep
       |  FROM bfp)
       |SELECT r.doc_id, r.batch_rep,
       |  COALESCE(h.n_near, CAST(0 AS BIGINT)) AS n_near,
       |  h.doc_id IS NULL AS novel,
       |  (r.batch_rep AND h.doc_id IS NULL) AS keep,
       |  TRUE AS $okCol
       |FROM brep r LEFT JOIN hits h ON r.doc_id = h.doc_id""".stripMargin

  private[graft] def incrementalLshOracle: String =
    s"""WITH corpus0 AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 <> 0),
       |batch0 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 100000, text || ' the' FROM documents
       |    WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1
       |  UNION ALL SELECT doc_id + 200000, text FROM documents
       |    WHERE doc_id % 15 = 0),
       |${shingleHashCtesFor("corpus0", "c")},
       |${shingleHashCtesFor("batch0", "b")},
       |${lshBandCtesFor("c")},
       |${lshBandCtesFor("b")},
       |${lshProbeTailSql("lshinc_ok")}""".stripMargin

  /** DuckDB replay of [[graft.streaming.Streams.streamDedupLsh]]: the
    * THREE-WAVE sequential fold — wave w's novelty is judged against
    * corpus ∪ (kept docs of waves < w), the store-accretion semantics
    * the stream actually runs — unrolled as a CTE cascade (near1/kept1/
    * st1 → near2/kept2/st2 → near3). Signatures, band keys, candidate
    * buckets, and the integer agreement threshold are the
    * [[incrementalLshOracle]] machinery verbatim (shared builders). */
  /** The three-wave LSH novelty-cascade CTEs shared by the
    * st_stream_dedup_lsh and st_stream_txn_multi oracles: per wave,
    * candidates from shared bands against the ACCRETED store (corpus +
    * everything kept so far), batch representatives by exact
    * fingerprint, kept = representative AND novel. */
  private def lshCascadeCtes: String = {
    val matchSum = lshMatchSum
    s"""WITH corpus0 AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 <> 0),
       |batch0 AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 100000, text || ' the' FROM documents
       |    WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1
       |  UNION ALL SELECT doc_id + 200000, text FROM documents
       |    WHERE doc_id % 15 = 0),
       |${shingleHashCtesFor("corpus0", "c")},
       |${shingleHashCtesFor("batch0", "b")},
       |${lshBandCtesFor("c")},
       |${lshBandCtesFor("b")},
       |allbands AS (SELECT doc_id, band, k1, k2, k3, k4 FROM cbands
       |  UNION ALL SELECT doc_id, band, k1, k2, k3, k4 FROM bbands),
       |cand AS (SELECT DISTINCT a.doc_id AS owner, b.doc_id AS b_doc
       |  FROM allbands a JOIN bbands b
       |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |   AND a.k3 = b.k3 AND a.k4 = b.k4
       |  WHERE a.doc_id <> b.doc_id),
       |allsig AS (SELECT * FROM csig UNION ALL SELECT * FROM bsig),
       |est AS (SELECT cd.owner, cd.b_doc,
       |    $matchSum AS matches
       |  FROM cand cd JOIN allsig c ON c.doc_id = cd.owner
       |               JOIN bsig b ON b.doc_id = cd.b_doc),
       |good AS (SELECT owner, b_doc FROM est
       |  WHERE matches >= $IncLshMinMatch),
       |bfp AS (SELECT doc_id,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
       |    CASE WHEN doc_id >= 200000 THEN 3
       |         WHEN doc_id >= 100000 THEN 2 ELSE 1 END AS bt
       |  FROM batch0),
       |brep AS (SELECT doc_id, bt,
       |    doc_id = MIN(doc_id) OVER (PARTITION BY bt, fp) AS batch_rep
       |  FROM bfp),
       |near1 AS (SELECT b_doc AS doc_id, COUNT(*) AS n_near FROM good
       |  WHERE b_doc < 100000 AND owner IN (SELECT doc_id FROM corpus0)
       |  GROUP BY b_doc),
       |kept1 AS (SELECT r.doc_id FROM brep r
       |  LEFT JOIN near1 n ON r.doc_id = n.doc_id
       |  WHERE r.bt = 1 AND n.doc_id IS NULL AND r.batch_rep),
       |st1 AS (SELECT doc_id FROM corpus0
       |  UNION ALL SELECT doc_id FROM kept1),
       |near2 AS (SELECT b_doc AS doc_id, COUNT(*) AS n_near FROM good
       |  WHERE b_doc >= 100000 AND b_doc < 200000
       |    AND owner IN (SELECT doc_id FROM st1)
       |  GROUP BY b_doc),
       |kept2 AS (SELECT r.doc_id FROM brep r
       |  LEFT JOIN near2 n ON r.doc_id = n.doc_id
       |  WHERE r.bt = 2 AND n.doc_id IS NULL AND r.batch_rep),
       |st2 AS (SELECT doc_id FROM st1
       |  UNION ALL SELECT doc_id FROM kept2),
       |near3 AS (SELECT b_doc AS doc_id, COUNT(*) AS n_near FROM good
       |  WHERE b_doc >= 200000 AND owner IN (SELECT doc_id FROM st2)
       |  GROUP BY b_doc),
       |kept3 AS (SELECT r.doc_id FROM brep r
       |  LEFT JOIN near3 n ON r.doc_id = n.doc_id
       |  WHERE r.bt = 3 AND n.doc_id IS NULL AND r.batch_rep),
       |nears AS (SELECT * FROM near1 UNION ALL SELECT * FROM near2
       |  UNION ALL SELECT * FROM near3)""".stripMargin
  }

  private[graft] def streamDedupLshOracle: String =
    s"""$lshCascadeCtes
       |SELECT r.doc_id, r.batch_rep,
       |  COALESCE(n.n_near, CAST(0 AS BIGINT)) AS n_near,
       |  n.doc_id IS NULL AS novel,
       |  (r.batch_rep AND n.doc_id IS NULL) AS keep,
       |  TRUE AS lshstream_ok
       |FROM brep r LEFT JOIN nears n ON r.doc_id = n.doc_id""".stripMargin

  /** st_stream_txn_multi's oracle: the final corpus-table content — the
    * seed corpus plus each wave's kept docs, replayed through the same
    * cascade. */
  private[graft] def streamTxnMultiOracle: String =
    s"""$lshCascadeCtes
       |SELECT doc_id, TRUE AS txnm_ok FROM (
       |  SELECT doc_id FROM corpus0
       |  UNION ALL SELECT doc_id FROM kept1
       |  UNION ALL SELECT doc_id FROM kept2
       |  UNION ALL SELECT doc_id FROM kept3)""".stripMargin
}
