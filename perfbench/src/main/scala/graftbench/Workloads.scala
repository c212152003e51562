package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

object Workloads {
  /** The corpus operators: dedup, similarity and text-scoring kernels,
    * the cleaning pipeline, and the MapReduce word count over the same
    * documents, plain and through the typed `api.MapReduce` path. */
  val corpusKernels: Seq[String] = Seq(
    "dd_minhash_lsh", "dd_ngram_jaccard", "dd_simhash", "sim_knn_brute",
    "sim_ann_lsh", "sim_kmeans", "ta_quality_score", "ta_tfidf", "ta_bm25",
    "pipe_clean_corpus", "mr_wordcount", "mr_api_wordcount")

  val names: Seq[String] = Seq("corpus_kernels", "table_writes")

  /** Every op type of every workload, for the per-op-type metrics. */
  val allOpTypes: Seq[String] = corpusKernels ++ TableWrites.opTypes

  def make(name: String, spark: SparkSession, data: String, seed: Long,
      expected: Map[String, ResultHash.Digest]): Workload = name match {
    case "corpus_kernels" => new QueryWorkload(name, corpusKernels,
      Seq("documents", "embeddings"), spark, data, seed, expected)
    case "table_writes" => new TableWrites(spark, data, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** A read op through a query function: the call that returns the
    * DataFrame (build), Catalyst up to the executed plan (plan), and
    * every row brought to the client (exec). `count()` is never used: it
    * would let the optimizer prune the work being measured. */
  def queryOp(name: String, kind: String, build: () => DataFrame)(
      check: (Array[org.apache.spark.sql.Row], DataFrame) => Either[String, Long]): Op =
    Op(name, kind, clock => {
      val df = clock.phase("build")(build())
      clock.phase("plan")(df.queryExecution.executedPlan)
      val rows = clock.phase("exec")(df.collect())
      () => check(rows, df)
    })
}

/** A read-only workload: every round runs each of its query functions
  * once, in an order drawn from the seed, and compares each result's
  * digest with the expected one (verified against the DuckDB oracle when
  * the expected values were made). Without expected values the first
  * digest of each op is kept, so repeats must agree. */
final class QueryWorkload(val name: String, ops: Seq[String],
    tables: Seq[String], spark: SparkSession, data: String, seed: Long,
    expected: Map[String, ResultHash.Digest]) extends Workload {
  /** One round runs every op once: the first (one-time) execution of
    * each query function is set-up, not load. */
  val warmRounds = 1
  val nominalCycleS = 15.0
  private val rng = new Random(seed)
  val seen = mutable.LinkedHashMap.empty[String, ResultHash.Digest]
  /** When set, each op's last result is kept (to dump for the oracle). */
  var keepResults = false
  val results = mutable.Map.empty[String, (Array[org.apache.spark.sql.Row], DataFrame)]

  /** Opens the input tables (schema from the parquet footers). */
  def setup(): Unit = tables.foreach(t => graft.Tables.table(spark, data, t).schema)

  def round(r: Int): Seq[Op] = rng.shuffle(ops).map { name =>
    val fn = SparkEntry.queries(name)
    Workloads.queryOp(name, "query", () => fn(spark, data)) { (rows, df) =>
      val d = ResultHash.digest(rows.toSeq, df.schema)
      if (keepResults) results(name) = (rows, df)
      val want = expected.get(name).orElse(seen.get(name))
      seen.getOrElseUpdate(name, d)
      want match {
        case Some(e) if e != d => Left(s"result digest $d, expected $e")
        case _ => Right(rows.length.toLong)
      }
    }
  }
}
