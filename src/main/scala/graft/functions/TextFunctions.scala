package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives shared by the text-analysis and dedup operators
  * (SURVEY.md §2D/§2F). All pure `functions._` compositions — codegen'd,
  * no UDFs, embarrassingly parallel per row.
  */
object TextFunctions {

  /** Whitespace-collapsed, trimmed, lowercased normal form — the identity
    * used for exact dedup and fingerprinting. */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens, empties dropped — the native [[WsTokens]] kernel
    * (byte-scan split, codegen-capable; the historical
    * `filter(split(c, "\\s+"), t => t =!= "")` formulation is pinned
    * value-identical by the FunctionsSpec parity test). */
  def wsTokens(c: Column): Column = WsTokens(c)

  /** BPE-ish pre-tokenization: alphanumeric runs or single non-space
    * symbols — the regex shape BPE tokenizers use for their initial split. */
  val BpePattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit(BpePattern), lit(0))

  /** Tiny English-ish stopword list (shared with oracle SQL literals). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Token count of a TEXT column — `size(wsTokens(text))` as one
    * allocation-free codegen'd byte scan ([[WsTokenCount]]). */
  def wsTokenCount(text: Column): Column = WsTokenCount(text)

  /** Count of `text`'s whitespace tokens that are members of `words` —
    * `size(filter(wsTokens(text), t IN words))` as one allocation-free
    * codegen'd byte scan ([[WsTokenSetCount]]); the higher-order filter
    * lambda it replaces forced every enclosing Project into
    * CodegenFallback. Value parity pinned in FunctionsSpec. */
  def tokenSetCount(text: Column, words: Seq[String]): Column =
    WsTokenSetCount(text, words)

  /** [[tokenSetCount]] over the shared [[Stopwords]] list. */
  def stopwordCountText(text: Column): Column =
    WsTokenSetCount(text, Stopwords)

  /** md5 hex fingerprint of the normal form. */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Split thresholds on the first two hex chars of md5(doc_id):
    * < TrainUpper (230/256 ≈ 90%) train, < ValUpper (≈ 5%) val, rest test.
    * THE single source — both the Column expression below and every oracle
    * SQL replay ([[splitBucketSql]]) interpolate these constants, so the
    * thresholds cannot drift apart. */
  val TrainUpper = "e6"
  val ValUpper = "f3"

  /** Deterministic train/val/test assignment (engine side). */
  def splitBucket(docId: Column): Column = {
    val bucket = substring(md5(docId.cast("string").cast("binary")), 1, 2)
    when(bucket < TrainUpper, "train")
      .when(bucket < ValUpper, "val")
      .otherwise("test")
  }

  /** DuckDB twin of [[splitBucket]], generated from the same threshold
    * constants — interpolate into oracle SQL instead of inlining copies. */
  def splitBucketSql(idExpr: String): String =
    s"CASE WHEN substr(md5(CAST($idExpr AS VARCHAR)), 1, 2) < '$TrainUpper' THEN 'train'\n" +
      s"            WHEN substr(md5(CAST($idExpr AS VARCHAR)), 1, 2) < '$ValUpper' THEN 'val'\n" +
      s"            ELSE 'test' END"

  /** keep = is this row the minimum doc_id of its fingerprint group — the
    * shared keep-one-representative window of dd_exact/dd_prefix and the
    * pipeline dedup stages (one shuffle on fp). */
  def keepMinByFp(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    df.withColumn("keep", col("doc_id") === min(col("doc_id")).over(byFp))
  }

  /** PII patterns, deliberately restricted to syntax that means the same
    * thing in Java regex (Spark codegen) and RE2 (DuckDB oracle): character
    * classes, bounded repetition, ASCII \b. Scrub order matters: emails
    * first (they contain dots and digits an IP/phone pattern could chew
    * on), then IPv4, then NNN-NNN-NNNN phones. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and phone numbers to typed tags. */
  def piiScrub(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")
}
