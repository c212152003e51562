package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One manifest entry as a scan sees it: the file to read, its entry
  * (data) seq, and its canonical coordinate path. */
case class ManifestFile(path: String, seq: Long, canon: String)

/** A file index over an explicit manifest entry list: one partition
  * directory per entry, whose two partition values are the entry's own
  * constants — `__gseq` (its seq) and `__gcanon` (its canonical path).
  * Every scanned row therefore carries the facts merge-on-read needs
  * (which tombstones and initial defaults apply to it, which file
  * coordinate a positional vector names) as ordinary columns; no scan
  * file name is ever mapped back to an entry.
  *
  * File statuses come from one `listStatus` per distinct parent
  * directory, taken when the index is built (a missing file fails then,
  * as Spark's own path check does). `rootPaths`, `inputFiles` and
  * `sizeInBytes` report what an [[InMemoryFileIndex]] over the same
  * files reports, so plan statistics and scan-source checks see the
  * same relation. Equality is the entry list: two reads of the same
  * entries are the same relation to the cache manager and to
  * exchange reuse. */
case class ManifestFileIndex(files: Seq[ManifestFile])(spark: SparkSession)
    extends FileIndex {

  private val conf = spark.sessionState.newHadoopConf()

  override val rootPaths: Seq[Path] = files.map { f =>
    val p = new Path(f.path)
    p.getFileSystem(conf).makeQualified(p)
  }

  /** Each entry's status, in entry order. */
  val statuses: Seq[FileStatus] = {
    val listed = rootPaths.map(_.getParent).distinct.map { d =>
      val names: Map[String, FileStatus] =
        try d.getFileSystem(conf).listStatus(d).map(st =>
          st.getPath.getName -> st).toMap
        catch { case _: java.io.FileNotFoundException => Map.empty }
      d -> names
    }.toMap
    rootPaths.map(p => listed(p.getParent).getOrElse(p.getName,
      throw QueryCompilationErrors.dataPathNotExistError(p.toString)))
  }

  override val partitionSchema: StructType = StructType(Seq(
    StructField("__gseq", LongType, nullable = false),
    StructField("__gcanon", StringType, nullable = false)))

  private lazy val partitions: Seq[PartitionDirectory] =
    files.zip(statuses).map { case (f, st) =>
      PartitionDirectory(
        InternalRow(f.seq, UTF8String.fromString(f.canon)),
        Seq(FileStatusWithMetadata(st)))
    }

  /** Spark drops partition filters from the post-scan filter, so they
    * must prune here. */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) partitions
    else {
      val bound = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldNames.indexOf(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = false)
        })
      partitions.filter(p => bound.eval(p.values))
    }

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_.getLen).sum
}

object ManifestScan {
  /** A parquet scan of `files` through [[ManifestFileIndex]]: the data
    * columns of `schema` (inferred from the files, once, when the
    * manifest records none) followed by `__gseq` and `__gcanon`.
    * `_metadata.row_index` resolves as on any file-source relation. */
  def apply(spark: SparkSession, files: Seq[ManifestFile],
      schema: Option[StructType]): DataFrame = {
    val index = ManifestFileIndex(files)(spark)
    val format = new ParquetFileFormat
    val data = schema
      .map(CharVarcharUtils.replaceCharVarcharWithStringInSchema)
      .orElse(format.inferSchema(spark, Map.empty, index.statuses))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError(
        "Parquet"))
    Bridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index,
      index.partitionSchema, data.asNullable, None, format, Map.empty)(
      spark)))
  }
}
