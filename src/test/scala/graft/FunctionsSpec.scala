package graft

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._

/** Unit-level checks for the shared expression builders. */
class FunctionsSpec extends SparkSpec {

  test("shingles produce overlapping distinct n-grams") {
    val s = spark
    import s.implicits._
    val got = Seq("a b c d").toDF("text")
      .select(Reference.shingles(
        TextFunctions.wsTokens(col("text")), 3).as("sh"))
      .as[Seq[String]].head()
    assert(got == Seq("a b c", "b c d"))
  }

  test("shingles of a doc shorter than n is empty, not a partial shingle") {
    val s = spark
    import s.implicits._
    val got = Seq("a b", "").toDF("text")
      .select(Reference.shingles(
        TextFunctions.wsTokens(col("text")), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(got.forall(_.isEmpty), got.mkString(","))
  }

  test("rolling hash folds codepoints (matches oracle beyond ASCII)") {
    val s = spark
    import s.implicits._
    val got = Seq("hello world", "héllo wörld").toDF("t")
      .select(graft.functions.RollingHash(col("t"))).as[Long].collect()
    def ref(str: String): Long = {
      var h = 0L; var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        h = (h * 31 + cp) % 2147483647L; i += Character.charCount(cp)
      }
      h
    }
    assert(got.toSeq == Seq(ref("hello world"), ref("héllo wörld")))
  }

  test("prefold modular shingle hashes are bit-identical to the naive " +
      "split+refold reference on adversarial inputs") {
    // reference = the historical formulation: regex \s+ split, then a
    // char-by-char `% P` fold over each concatenated "t0 t1 t2" shingle
    def ref(text: String): Array[Long] = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.length < 3) return Array.empty[Long]
      Array.tabulate(toks.length - 2) { i =>
        val sh = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
        var h = 0L; var j = 0
        while (j < sh.length) {
          val cp = sh.codePointAt(j)
          h = (h * 31L + cp) % 2147483647L; j += Character.charCount(cp)
        }
        h
      }
    }
    val cases = Seq(
      "a b c", "a b", "", "   ", "a  b\t\tc\nd", " lead and trail ",
      "héllo wörld ünïcode tökens", "日本 語 テスト 文字",
      "emoji 😀 pair 👍 here", // surrogate pairs
      "xy\fz w", "tab\tsep\ttokens\tmany",
      ("tok " * 200).trim, // long doc
      "\r\nwindows\r\nline\r\nendings")
    for (c <- cases) {
      val got = graft.functions.ShingleHashes
        .computeModular(org.apache.spark.unsafe.types.UTF8String.fromString(c))
      assert(got.toSeq == ref(c).toSeq, s"mismatch for: '$c'")
    }
    // and the fast Mersenne reduction agrees with % on boundary values
    val P = 2147483647L
    for (x <- Seq(0L, 1L, P - 1, P, P + 1, 2 * P, 2 * P + 1, (1L << 62) - 1,
        31L * (P - 1) + 0x10FFFF, (P - 1) * (P - 1) + (P - 1)))
      assert(graft.functions.ShingleHashes.modP(x) == x % P, s"modP($x)")
  }

  test("native ws_tokens is value-identical to filter(split(text, \\s+)) " +
      "on adversarial inputs") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "a b c", "", "   ", "a  b\t\tc\nd", " lead and trail ",
      "héllo wörld ünïcode tökens", "日本 語 テスト 文字",
      "emoji 😀 pair 👍 here", "xy\fz w", "tab\tsep\ttokens",
      "\r\nwindows\r\nline\r\nendings", "single", ("tok " * 100).trim,
      "\u00A0nbsp is NOT \\s\u00A0so it stays inside\u00A0tokens")
    val df = cases.toDF("text")
    val got = df.select(graft.functions.WsTokens(col("text")))
      .as[Seq[String]].collect()
    val ref = df.select(filter(split(col("text"), "\\s+"), t => t =!= ""))
      .as[Seq[String]].collect()
    assert(got.toSeq == ref.toSeq)
    // null in, null out — matching the split formulation
    val nullGot = Seq[Option[String]](None).toDF("text")
      .select(graft.functions.WsTokens(col("text"))).collect().head
    assert(nullGot.isNullAt(0))
  }

  test("native ws_token_count / ws_token_set_count are value-identical " +
      "to the size(filter(...)) array formulations on adversarial inputs") {
    val s = spark
    import s.implicits._
    val words = TextFunctions.Stopwords
    val cases = Seq(
      "the a of and to in is it", "a b c", "", "   ", "a  b\t\tc\nd",
      " the lead and trail of ", "héllo wörld ünïcode tökens",
      "日本 語 テスト 文字 的 是", "emoji 😀 pair 👍 here", "xy\fz w",
      "thé the THE the", // accent/case must NOT match except exact "the"
      "tab\tthe\ttokens", "\r\nthe\r\nof\r\nendings", "single",
      ("the tok " * 100).trim,
      "\u00A0nbsp is NOT \\s\u00A0so it stays inside\u00A0tokens",
      "and prefix: theater these is-a of, the.") // substrings ≠ members
    val df = cases.toDF("text")
    val toks = filter(split(col("text"), "\\s+"), t => t =!= "")
    val ref = df.select(size(toks),
      size(filter(toks, t => t.isin(words: _*)))).as[(Int, Int)].collect()
    val got = df.select(graft.functions.WsTokenCount(col("text")),
      graft.functions.WsTokenSetCount(col("text"), words))
      .as[(Int, Int)].collect()
    assert(got.toSeq == ref.toSeq)
    // null in, null out — matching size(filter(split(NULL))) = NULL
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(graft.functions.WsTokenCount(col("text")),
        graft.functions.WsTokenSetCount(col("text"), words)).collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // non-string child refuses at ANALYSIS (ExpectsInputTypes), not with
    // a runtime ClassCastException
    val bad = Seq(1L).toDF("n")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(graft.functions.WsTokenCount(col("n"))).collect()
    }
  }

  test("normText collapses whitespace and case") {
    val s = spark
    import s.implicits._
    val got = Seq("  Hello   WORLD  ").toDF("t")
      .select(TextFunctions.normText(col("t"))).as[String].head()
    assert(got == "hello world")
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 2.0)))
      .toDF("a", "b", "c")
    val (same, orth) = df.select(
      VectorFunctions.cosine(col("a"), col("b")),
      VectorFunctions.cosine(col("a"), col("c")))
      .as[(Double, Double)].head()
    assert(math.abs(same - 1.0) < 1e-12 && math.abs(orth) < 1e-12)
  }

  test("native cosine expression is bit-identical to the HOF fold") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(50)((
      Seq.fill(64)(rng.nextDouble() * 2 - 1),
      Seq.fill(64)(rng.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val diffs = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosineFold(col("a"), col("b")).as("fold"))
      .as[(Double, Double)].collect()
      .filter { case (n, f) => n != f }
    assert(diffs.isEmpty, s"first diff: ${diffs.headOption}")
  }

  test("native hyperplane buckets are bit-identical to the literal-plane fold") {
    val s = spark
    import s.implicits._
    // real vectors: the sf0.001 embeddings corpus
    val e = Tables.embeddings(s, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val native = e.select(col("vec_id"),
        graft.functions.HyperplaneBuckets(col("v")).as("b"))
      .as[(Long, Seq[Int])].collect().toMap
    val folded = e.select(col("vec_id"),
        array((0 until 8).map(t =>
          Reference.lshBucketFold(col("v"), t)): _*).as("b"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(native.keySet == folded.keySet)
    native.foreach { case (id, b) =>
      assert(b == folded(id), s"bucket mismatch for vec $id")
    }
    // and the plane-sign source of truth matches the oracle generator's
    for (p <- 0 until 32; k <- 0 until 64)
      assert(graft.functions.HyperplaneBuckets.signAt(p, k) ==
        operators.Similarity.planeSign(p, k))
  }

  test("cosine_similarity is callable from SQL via GraftExtensions") {
    val got = spark.sql(
      "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .head().getDouble(0)
    assert(got == 1.0)
  }

  test("short docs: minhash is null, shingles empty — never partials") {
    val s = spark
    import s.implicits._
    val rows = Seq("a b", "", "a b c").toDF("t")
      .select(graft.functions.MinHashSignature(col("t")).as("sig"),
        graft.functions.ShingleHashes(col("t")).as("sh"))
      .as[(Option[Seq[Long]], Seq[Long])].collect()
    assert(rows(0)._1.isEmpty && rows(0)._2.isEmpty)
    assert(rows(1)._1.isEmpty && rows(1)._2.isEmpty)
    assert(rows(2)._1.exists(_.length == 128) && rows(2)._2.length == 1)
  }

  test("all native expressions are callable from SQL via GraftExtensions") {
    val rh = spark.sql("SELECT rolling_hash('abc') AS h").head().getLong(0)
    assert(rh == ((('a' * 31L + 'b') % 2147483647L) * 31 + 'c') % 2147483647L)
    val sh = spark.sql("SELECT size(shingle_hashes('a b c d')) AS n")
      .head().getInt(0)
    assert(sh == 2)
    val mh = spark.sql("SELECT size(minhash_signature('a b c d')) AS n")
      .head().getInt(0)
    assert(mh == 128)
  }

  test("bpe tokens split words and symbols") {
    val s = spark
    import s.implicits._
    val got = Seq("ab1 cd, e!").toDF("t")
      .select(TextFunctions.bpeTokens(col("t"))).as[Seq[String]].head()
    assert(got == Seq("ab1", "cd", ",", "e", "!"))
  }
}
