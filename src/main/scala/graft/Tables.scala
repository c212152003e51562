package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Loaders for the synthetic star-schema tables (see TESTDATA.md).
  *
  * Plain `spark.read.parquet` — schema comes from parquet footers, filters
  * and column pruning push down to the scan. At 100 TB the same call works
  * against a partitioned parquet/iceberg layout; nothing here assumes
  * single-file inputs. The footer is read on the driver and passed as the
  * read's schema ([[Bridge.inferredParquetSchema]]): Spark's own inference
  * reads the same footer in a job of its own, the first job of every op.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    Bridge.inferredParquetSchema(spark, new Path(p))
      .fold(spark.read)(spark.read.schema).parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across testdata
    * generations: TIMESTAMP(NANOS) (rejected by Spark's vectorized reader —
    * read as long under the legacy conf and divided down) or plain
    * TIMESTAMP(MICROS) (read natively, as NTZ when the footer says
    * isAdjustedToUTC=false). Normalize both to a session-zone TimestampType
    * column; the session runs UTC so the NTZ cast is instant-preserving and
    * both layouts yield identical values. The conversion is a per-row
    * scalar; pushdown on other columns is unaffected. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      // integer division — ns epochs exceed 2^53, double math would lose µs
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fan a DEGENERATE scan out to the session's parallelism before a
    * CPU-heavy per-row kernel. Parquet scan parallelism is bounded by
    * row groups, and the test corpora are single-row-group files — such
    * a table plans as 1-3 scan tasks however many cores the session
    * has, so a kernel projection runs essentially SERIAL (measured:
    * sim_ann_pq was 14 stages × 1 task; 5.2 s of task time on one of 32
    * cores). The callers: the minhash, n-gram and substring signature
    * kernels (Dedup), the classifier features (TextAnalysis), and the
    * cosine, LSH-bucket, IVF-cell and PQ/SQ encoding projections
    * (Similarity), including the k-means rounds above the driver-size
    * guard. Not fanned out: dd_simhash's one-pass signature (kept
    * map-only, so its only shuffles are the block-key join and the pair
    * distinct) and k-means training under the guard, which runs on the
    * driver. A
    * production-scale input already scans with ≥ cores partitions and
    * passes through UNTOUCHED — the round-robin shuffle is only ever
    * paid on inputs so narrow that it is trivially cheap, which is what
    * keeps this scale-adaptive rather than a local-mode constant
    * (guide §2: partitioning must derive from the input, not a tuned
    * number). Callers apply it only where downstream work is per-row /
    * fold-order-independent, so results are bit-identical. */
  def fanOut(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.min(target, 4)) df
    else df.repartition(target)
  }
}
