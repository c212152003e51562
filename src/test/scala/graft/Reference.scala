package graft

import graft.functions.TextFunctions.wsTokens
import graft.functions.VectorFunctions.dot
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Plain Column-API formulations of what the engine computes with
  * native expressions. Each one is the plan its native kernel replaced;
  * the parity specs hold the kernel bit-identical to it. */
object Reference {

  /** Distinct word n-gram shingles over a token array; empty for arrays
    * shorter than n (no partial shingles). Higher-order array functions:
    * evaluates interpreted. */
  def shingles(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      array_distinct(transform(
        sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** Cross-engine 60-bit token hash: the first 15 hex chars of md5,
    * parsed base-16 (the SQL twin is
    * `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)`). */
  def tokHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** `(doc_id, sig)` — the 60-bit SimHash as explode + [[tokHash60]] +
    * groupBy(doc_id) with 60 flat signed-bit sums; documents without
    * tokens have no row. The plan [[graft.functions.SimHashSignature]]
    * replaced. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val bits = Dedup.SimhashBits
    val hashed = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("tok"))
      .select(col("doc_id"), tokHash60(col("tok")).as("h"))
    val bitSums = (0 until bits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2L - 1L).as(s"s$j")
    }
    hashed.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("sig"))
  }

  /** `(doc_id, m0 … m127)` — MinHash signatures as explode of the
    * modular shingle hashes + groupBy(doc_id) with 128
    * min-of-linear-rehash aggregates. The plan
    * [[graft.functions.MinHashSignature]] replaced. */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val p = Dedup.MersenneP
    val hp = docs.select(col("doc_id"),
        explode(graft.functions.ShingleHashes.modular(col("text"))).as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(p)).as("hp"))
    val mins = (0 until Dedup.NumPerms).map { i =>
      val a = Dedup.permCoeff(i, 0x5DEECE66DL)
      val b = Dedup.permCoeff(i, 0x2545F4914F6CDD1DL)
      min(pmod(lit(a) * col("hp") + lit(b), lit(p))).as(s"m$i")
    }
    hp.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** One LSH table's sign bucket: bit j = sign(v · r_{t,j}) via the
    * zip_with/aggregate fold over ±1 literal planes. The plan
    * [[graft.functions.HyperplaneBuckets]] replaced. */
  def lshBucketFold(v: Column, table: Int): Column =
    (0 until Similarity.PlanesPerTable).map { j =>
      val plane = array((0 until Similarity.Dim).map(k => lit(
        Similarity.planeSign(table * Similarity.PlanesPerTable + j, k))): _*)
      when(dot(v, plane) > 0, lit(1 << j)).otherwise(0)
    }.reduce(_ + _)
}
