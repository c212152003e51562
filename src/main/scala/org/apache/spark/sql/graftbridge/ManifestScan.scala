package org.apache.spark.sql.graftbridge

import graft.operators.TxnTable.{BloomRef, Entry}
import graft.sources.ManifestPrune
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, AttributeSet, BoundReference, Expression, Predicate, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One manifest entry as a scan sees it: the file to read, its
  * canonical coordinate path, and the entry itself (its seq and the
  * per-file stats the scan is pruned with). */
case class ManifestFile(path: String, canon: String, entry: Entry)

/** A file index over an explicit manifest entry list: one partition
  * directory per entry, whose two partition values are the entry's own
  * constants — `__gseq` (its seq) and `__gcanon` (its canonical path).
  * Every scanned row therefore carries the facts merge-on-read needs
  * (which tombstones and initial defaults apply to it, which file
  * coordinate a positional vector names) as ordinary columns; no scan
  * file name is ever mapped back to an entry.
  *
  * `statuses` are the files' statuses, in entry order ([[ManifestScan.
  * list]]). `rootPaths`, `inputFiles` and `sizeInBytes` report what an
  * [[InMemoryFileIndex]] over the same files reports, so plan
  * statistics and scan-source checks see the same relation. Equality
  * is the entry list and its blooms: two reads of the same entries are
  * the same relation to the cache manager and to exchange reuse.
  *
  * Data filters are answered by [[ManifestPruneRule]], which replaces
  * the index with [[keep]]'s; `indexed` = the table has index columns,
  * so a stat-less entry is a zero-row sentinel that no filtered read
  * opens. `probe` is the bloom-sidecar verdict for
  * (bloom, literal), memoized by its creator and shared with every
  * pruned copy. */
case class ManifestFileIndex(files: Seq[ManifestFile], blooms: Seq[BloomRef],
    indexed: Boolean)(
    spark: SparkSession, probe: (BloomRef, Long) => String => Boolean,
    val statuses: Seq[FileStatus]) extends FileIndex {

  override val rootPaths: Seq[Path] = statuses.map(_.getPath)

  /** This index over only the entries [[ManifestPrune.keep]] keeps for
    * `conjuncts` (data-column predicates). */
  def keep(conjuncts: Seq[Expression]): ManifestFileIndex = {
    val kept = ManifestPrune.keep(files.map(_.entry), conjuncts, blooms,
      probe, indexed).toSet
    val (fs, sts) = files.zip(statuses).filter(f => kept(f._1.entry)).unzip
    ManifestFileIndex(fs, blooms, indexed)(spark, probe, sts)
  }

  override val partitionSchema: StructType = StructType(Seq(
    StructField("__gseq", LongType, nullable = false),
    StructField("__gcanon", StringType, nullable = false)))

  private lazy val partitions: Seq[PartitionDirectory] =
    files.zip(statuses).map { case (f, st) =>
      PartitionDirectory(
        InternalRow(f.entry.seq, UTF8String.fromString(f.canon)),
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
      blooms: Seq[BloomRef], probe: (BloomRef, Long) => String => Boolean,
      schema: Option[StructType], indexed: Boolean): DataFrame = {
    val index = ManifestFileIndex(files, blooms, indexed)(spark, probe,
      list(spark, files))
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

  /** The files of every manifest scan in `plan` — after optimization,
    * the files the plan reads. */
  def files(plan: LogicalPlan): Seq[ManifestFile] = plan.collect {
    case LogicalRelation(HadoopFsRelation(i: ManifestFileIndex, _, _, _, _,
        _), _, _, _, _) => i.files
  }.flatten

  /** Each file's status, in file order, from one `listStatus` per
    * distinct parent directory (a missing file fails here, as Spark's
    * own path check does). */
  private def list(spark: SparkSession, files: Seq[ManifestFile])
      : Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    val paths = files.map { f =>
      val p = new Path(f.path)
      p.getFileSystem(conf).makeQualified(p)
    }
    val listed = paths.map(_.getParent).distinct.map { d =>
      val names: Map[String, FileStatus] =
        try d.getFileSystem(conf).listStatus(d).map(st =>
          st.getPath.getName -> st).toMap
        catch { case _: java.io.FileNotFoundException => Map.empty }
      d -> names
    }.toMap
    paths.map(p => listed(p.getParent).getOrElse(p.getName,
      throw QueryCompilationErrors.dataPathNotExistError(p.toString)))
  }
}

/** File skipping for every manifest-backed scan: for a Filter (through
  * Projects) over a [[ManifestFileIndex]] relation, the index is
  * replaced by one over only the entries [[ManifestPrune.keep]] keeps
  * for the filter's deterministic data-column conjuncts, and a scan no
  * entry survives becomes an empty [[LocalRelation]]. Injected as a
  * pre-CBO rule, so it runs once per optimization, after predicate
  * pushdown has moved filters next to the scan — the place Spark's own
  * `PruneFileSourcePartitions` runs. The optimized plan's parquet roots
  * are then exactly the files read. */
object ManifestPruneRule extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case op @ PhysicalOperation(_, filters, rel @ LogicalRelation(
        fsr @ HadoopFsRelation(idx: ManifestFileIndex, part, _, _, _, _),
        _, _, _, _)) if filters.nonEmpty =>
      val data = AttributeSet(rel.output.filterNot(a =>
        part.fieldNames.contains(a.name)))
      val conjuncts = filters.flatMap(splitConjunctivePredicates).filter(c =>
        c.deterministic && !SubqueryExpression.hasSubquery(c) &&
          c.references.nonEmpty && c.references.subsetOf(data))
      val kept = idx.keep(conjuncts)
      if (kept.files.size == idx.files.size) op
      else op.transformUp {
        case r if r eq rel =>
          if (kept.files.isEmpty) LocalRelation(rel.output)
          else rel.copy(relation = fsr.copy(location = kept)(
            fsr.sparkSession))
      }
  }
}
