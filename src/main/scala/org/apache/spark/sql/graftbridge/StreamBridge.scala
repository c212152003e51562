package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

/** Streaming-side reuse of Spark's own parquet machinery — the
  * micro-batch READ path plans each batch's file set through a stock
  * [[ParquetScanBuilder]] (vectorized reading, schema reconciliation and
  * footer pruning unchanged), and the streaming WRITE path hands
  * executors real [[OutputWriter]]s from [[ParquetFileFormat]]'s own
  * prepared factory. Lives in the bridge package for the same reason as
  * [[PruningScanBuilder]]: the execution-side classes are `private[sql]`
  * territory; nothing is forked, only composed. */
object StreamBridge {

  /** Plan one micro-batch's files as (partitions, readerFactory) via a
    * fresh batch parquet scan over exactly those paths. The caller's
    * pushed filters need not travel here: FileScanBuilder reports every
    * data filter back to Spark as post-scan, so the Filter node above
    * the streaming scan re-applies the full predicate. */
  def batchFor(spark: SparkSession, schema: StructType, paths: Seq[Path])
      : (Array[InputPartition], PartitionReaderFactory) = {
    val index = new InMemoryFileIndex(spark, paths,
      Map.empty[String, String], Some(schema))
    val scan = ParquetScanBuilder(spark, index, schema, schema,
      CaseInsensitiveStringMap.empty()).build()
    val batch = scan.toBatch
    (batch.planInputPartitions(), batch.createReaderFactory())
  }

  /** Several batch scans as one: each partition carries the index of
    * the scan that planned it, and the factory hands it to that scan's
    * reader — a micro-batch whose files were written under different
    * physical column names reads each group under its own. */
  def union(scans: Seq[(Array[InputPartition], PartitionReaderFactory)])
      : (Array[InputPartition], PartitionReaderFactory) =
    (scans.zipWithIndex.flatMap { case ((parts, _), i) =>
      parts.map(Tagged(i, _)) }.toArray,
      new TaggedReaderFactory(scans.map(_._2).toArray))

  case class Tagged(scan: Int, inner: InputPartition) extends InputPartition {
    override def preferredLocations(): Array[String] =
      inner.preferredLocations()
  }

  class TaggedReaderFactory(factories: Array[PartitionReaderFactory])
      extends PartitionReaderFactory {
    private def route(p: InputPartition) = p match {
      case Tagged(i, inner) => (factories(i), inner)
    }
    override def createReader(p: InputPartition)
        : PartitionReader[InternalRow] = {
      val (f, in) = route(p); f.createReader(in)
    }
    override def createColumnarReader(p: InputPartition)
        : PartitionReader[ColumnarBatch] = {
      val (f, in) = route(p); f.createColumnarReader(in)
    }
    override def supportColumnarReads(p: InputPartition): Boolean = {
      val (f, in) = route(p); f.supportColumnarReads(in)
    }
  }

  /** A reader factory usable for ANY file partition of this schema —
    * the zero-file scan's factory (schemas and conf are what matter;
    * the factory itself is partition-agnostic). */
  def readerFactory(spark: SparkSession, schema: StructType)
      : PartitionReaderFactory =
    batchFor(spark, schema, Nil)._2

  /** One serializable parquet writer recipe: [[ParquetFileFormat]]
    * prepares the job configuration (committer, compression, schema
    * metadata) exactly as the batch write path does; executors then open
    * per-task [[OutputWriter]]s from it. */
  case class WriterRecipe(factory: OutputWriterFactory,
      conf: SerializableConfiguration, schema: StructType,
      extension: String) extends Serializable {

    /** EXECUTOR-SIDE: open a writer at `path` under a synthetic task
      * attempt context (unique per (partition, task) — the caller bakes
      * both into the path, so attempts never collide). */
    def open(path: String, partitionId: Int, taskId: Long): OutputWriter = {
      val c = new Configuration(conf.value)
      val attempt = new TaskAttemptID(
        new TaskID(new org.apache.hadoop.mapreduce.JobID("graftstream", 0),
          TaskType.MAP, partitionId),
        (taskId & Int.MaxValue).toInt)
      c.set("mapreduce.task.attempt.id", attempt.toString)
      factory.newInstance(path, schema, new TaskAttemptContextImpl(c, attempt))
    }
  }

  def writerRecipe(spark: SparkSession, schema: StructType): WriterRecipe = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val format = new ParquetFileFormat
    val factory = format.prepareWrite(spark, job,
      Map.empty[String, String], schema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val ext = factory.getFileExtension(new TaskAttemptContextImpl(
      job.getConfiguration, new TaskAttemptID))
    WriterRecipe(factory, conf, schema, ext)
  }

}
