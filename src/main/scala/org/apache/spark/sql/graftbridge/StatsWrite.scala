package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame, Row, functions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, HllSketchAgg}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.unsafe.types.UTF8String

/** Parquet writes that measure per-file statistics INSIDE the write task
  * — the hook Spark's own row/byte metrics use
  * ([[WriteTaskStatsTracker]]): every row the writer emits also feeds a
  * per-file accumulator, and the driver receives each file's
  * measurements with the write job's result. No second scan of the
  * written files, no extra Spark job.
  *
  * What is measured is expressed as ordinary Columns and resolved by
  * Spark's analyzer against the written schema, so a stat means exactly
  * what the same expression means in a query: value expressions
  * (min/max/null count per file, each bound then finished by a caller
  * expression such as `floor(_).cast("long")`) and `hll_sketch_agg`
  * columns (Spark's own aggregate, driven through its partial → final
  * buffer hand-off, so the sketch bytes equal a `GROUP BY
  * input_file_name()` aggregate's). */
object StatsWrite {

  /** One written file's measurements: row count; per value expression
    * the finished `lo`/`hi` bounds (a `java.lang.Long` or `String`; null
    * when the file holds no non-null value) and the null count; per
    * sketch column the serialized sketch. */
  case class FileStats(rows: Long, lo: IndexedSeq[Any], hi: IndexedSeq[Any],
      nulls: IndexedSeq[Long], sketches: IndexedSeq[Array[Byte]])

  private case class TaskFileStats(files: Map[String, FileStats])
      extends WriteTaskStats

  /** The job-side tracker: serialized into every write task; on the
    * driver, [[byFile]] holds the job's per-file results (keyed by file
    * NAME — a task writes under a temporary directory, the committed
    * file keeps its name) once the write returns. */
  class FileStatsTracker private[graftbridge] (values: Seq[Expression],
      sketches: Seq[HllSketchAgg], lo: Seq[Expression], hi: Seq[Expression])
      extends WriteJobStatsTracker {
    @transient private var collected = Map.empty[String, FileStats]

    def byFile: Map[String, FileStats] = collected

    override def newTaskInstance(): WriteTaskStatsTracker = new Task

    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      collected = stats.flatMap { case t: TaskFileStats => t.files }.toMap

    /** A per-file accumulator for an executor-side writer of its own
      * (one outside a Spark write job): `add` each row written to the
      * file, then take its `result`. */
    def accumulator(): Accumulator = new Accumulator

    final class Accumulator private[StatsWrite] () {
      private val acc = new Acc
      def add(row: InternalRow): Unit = acc.add(row)
      def result: FileStats = acc.finish()
    }

    private class Acc {
      private var rows = 0L
      private val mins = new Array[Any](values.length)
      private val maxs = new Array[Any](values.length)
      private val nulls = new Array[Long](values.length)
      private val bufs = sketches.map(_.createAggregationBuffer())

      def add(row: InternalRow): Unit = {
        rows += 1
        val v = project(row)
        var i = 0
        while (i < types.length) {
          if (v.isNullAt(i)) nulls(i) += 1
          else {
            val x = v.get(i, types(i))
            if (mins(i) == null || orderings(i).lt(x, mins(i)))
              mins(i) = InternalRow.copyValue(x)
            if (maxs(i) == null || orderings(i).gt(x, maxs(i)))
              maxs(i) = InternalRow.copyValue(x)
          }
          i += 1
        }
        sketches.indices.foreach(j => sketches(j).update(bufs(j), row))
      }

      def finish(): FileStats = {
        def bounds(fin: Seq[Expression], vals: Array[Any]): IndexedSeq[Any] = {
          val r = new GenericInternalRow(vals)
          fin.map(_.eval(r) match {
            case u: UTF8String => u.toString
            case other => other
          }).toIndexedSeq
        }
        // the partial → final hand-off of a grouped hll_sketch_agg: the
        // task's buffer is serialized, then merged into a fresh final
        // buffer, whose evaluation is the sketch the aggregate returns
        val sk = sketches.indices.map { j =>
          val agg = sketches(j)
          agg.eval(agg.merge(agg.createAggregationBuffer(),
            agg.deserialize(agg.serialize(bufs(j)))))
            .asInstanceOf[Array[Byte]]
        }
        FileStats(rows, bounds(lo, mins), bounds(hi, maxs),
          nulls.toIndexedSeq, sk)
      }
    }

    @transient private lazy val types = values.map(_.dataType).toArray
    @transient private lazy val orderings =
      values.map(e => TypeUtils.getInterpretedOrdering(e.dataType)).toArray
    @transient private lazy val project = UnsafeProjection.create(values)

    private class Task extends WriteTaskStatsTracker {
      private val open = mutable.LinkedHashMap.empty[String, Acc]
      private val done = mutable.LinkedHashMap.empty[String, FileStats]
      override def newPartition(partitionValues: InternalRow): Unit = ()
      override def newFile(filePath: String): Unit =
        open.getOrElseUpdate(filePath, new Acc)
      override def newRow(filePath: String, row: InternalRow): Unit =
        open.getOrElseUpdate(filePath, new Acc).add(row)
      override def closeFile(filePath: String): Unit =
        open.remove(filePath).foreach(a =>
          done(new Path(filePath).getName) = a.finish())
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
        open.keys.toList.foreach(closeFile)
        TaskFileStats(done.toMap)
      }
    }
  }

  /** Resolve the measurements for rows of `schema`:
    *  - `values`: expressions over the row; per file their min, max and
    *    null count are kept,
    *  - `lo`/`hi`: one finisher per value, applied to the file's min
    *    (resp. max) — e.g. `v => floor(v).cast("long")`,
    *  - `sketched`: `hll_sketch_agg(...)` columns over the row.
    * Analysis (and any type error it raises) happens here, on the
    * driver; nothing runs. */
  def tracker(spark: org.apache.spark.sql.SparkSession, schema: StructType,
      values: Seq[Column], lo: Seq[Column => Column],
      hi: Seq[Column => Column], sketched: Seq[Column]): FileStatsTracker = {
    require(lo.length == values.length && hi.length == values.length,
      "one lo and one hi finisher per value")
    val s = spark.asInstanceOf[SparkSession]
    val boundValues = bound(s, schema, values)
    val minSchema = StructType(boundValues.zipWithIndex.map { case (e, i) =>
      StructField(s"v$i", e.dataType) })
    val vcols = minSchema.fieldNames.toSeq.map(functions.col)
    val sketchAggs =
      if (sketched.isEmpty) Nil
      else analyzed(s, schema, _.agg(sketched.head, sketched.tail: _*)) match {
        case (Aggregate(_, list, _, _), child) => list.map {
          case Alias(AggregateExpression(h: HllSketchAgg, _, _, _, _), _) =>
            BindReferences.bindReference(h, child.output)
          case other => throw new IllegalArgumentException(
            s"not an hll_sketch_agg column: $other")
        }
        case (p, _) => throw new IllegalStateException(s"unexpected plan $p")
      }
    new FileStatsTracker(boundValues, sketchAggs,
      bound(s, minSchema, vcols.zip(lo).map { case (c, f) => f(c) }),
      bound(s, minSchema, vcols.zip(hi).map { case (c, f) => f(c) }))
  }

  private def analyzed(s: SparkSession, schema: StructType,
      f: Dataset[Row] => Dataset[Row]): (LogicalPlan, LogicalPlan) = {
    val rel = LocalRelation(DataTypeUtils.toAttributes(schema))
    (f(Dataset.ofRows(s, rel)).queryExecution.analyzed, rel)
  }

  private def bound(s: SparkSession, schema: StructType, cols: Seq[Column])
      : Seq[Expression] =
    if (cols.isEmpty) Nil
    else analyzed(s, schema, _.select(cols: _*)) match {
      case (Project(list, _), child) => list.map {
        case Alias(e, _) => BindReferences.bindReference(e, child.output)
        case e => BindReferences.bindReference(e: Expression, child.output)
      }
      case (p, _) => throw new IllegalStateException(s"unexpected plan $p")
    }

  /** Write `df` as parquet files into the NEW directory `path`, feeding
    * every written row to `trackers` as well. The write is one command
    * execution, exactly like `df.write.parquet(path)` — same committer,
    * same writer, same SQL execution, so query listeners and
    * `Observation`s attached to `df` complete as they would there. */
  def parquet(df: DataFrame, path: String,
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val s = ds.sparkSession
    val plan = ds.logicalPlan
    new QueryExecution(s,
      ParquetStatsWrite(plan, new Path(path), trackers, plan.output.map(_.name)),
      ds.queryExecution.tracker,
      shuffleCleanupMode =
        QueryExecution.determineShuffleCleanupMode(s.sessionState.conf))
      .assertCommandExecuted()
  }

  /** The write command behind [[parquet]]: `InsertIntoHadoopFsRelation`
    * reduced to the one case it serves (a fresh, unpartitioned
    * directory) plus the caller's trackers. */
  private case class ParquetStatsWrite(query: LogicalPlan, outputPath: Path,
      trackers: Seq[WriteJobStatsTracker], outputColumnNames: Seq[String])
      extends DataWritingCommand {
    override def run(s: SparkSession, child: SparkPlan): Seq[Row] = {
      SchemaUtils.checkColumnNameDuplication(outputColumnNames,
        s.sessionState.conf.caseSensitiveAnalysis)
      val conf = s.sessionState.newHadoopConfWithOptions(Map.empty)
      val fs = outputPath.getFileSystem(conf)
      val out = outputPath.makeQualified(fs.getUri, fs.getWorkingDirectory)
      val committer = FileCommitProtocol.instantiate(
        s.sessionState.conf.fileCommitProtocolClass,
        java.util.UUID.randomUUID().toString, out.toString, false)
      FileFormatWriter.write(s, child, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(out.toString, Map.empty, outputColumns),
        conf, Nil, None, basicWriteJobStatsTracker(conf) +: trackers,
        Map.empty, 0)
      Nil
    }

    override protected def withNewChildInternal(newChild: LogicalPlan)
        : LogicalPlan = copy(query = newChild)
  }
}
