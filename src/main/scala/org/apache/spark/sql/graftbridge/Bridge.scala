package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The one bridge into spark-sql's `private[sql]` classic helpers:
  * Column ↔ Expression (graft's custom Catalyst expressions and the
  * DML/MV rules) and a resolved LogicalPlan back into a DataFrame.
  * These are the same entry points Spark's own commands use; they are
  * package-private only because the classic/connect split made them
  * implementation details, so this shim sits in the
  * org.apache.spark.sql namespace — no behavior is forked here. */
object Bridge {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The schema `spark.read.parquet(p)` infers for the one file `p`,
    * converted from its footer on the driver the way Spark's inference
    * converts it — one footer read, no Spark job. */
  def parquetSchema(spark: SparkSession, p: Path): StructType = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(p, spark.sessionState.newHadoopConf()))
    val footer = try r.getFooter finally r.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)).asNullable
  }

  /** The schema `spark.read.parquet(root)` infers (without merging) for a
    * file or a directory. Spark reads one footer, `_common_metadata`,
    * then `_metadata`, then the first data file by path among the leaves
    * its file index lists, in a Spark job; this reads the same footer on
    * the driver. None when `root` holds no such file: Spark's own read
    * then reports the error. */
  def inferredParquetSchema(spark: SparkSession, root: Path): Option[StructType] = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(f: FileStatus): Seq[FileStatus] =
      if (!f.isDirectory) Seq(f)
      else fs.listStatus(f.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    val files = (if (fs.exists(root)) leaves(fs.getFileStatus(root)) else Nil)
      .map(_.getPath).sortBy(_.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getName)))
      .map(parquetSchema(spark, _))
  }
}
