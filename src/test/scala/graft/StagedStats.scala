package graft

import graft.operators.TxnTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.input_file_name

/** The staging stats pass as it ran before stats moved into the write:
  * re-read the just-staged files (one staging dir) and aggregate per
  * `input_file_name()`, sizes from one listing. Kept as the reference
  * the in-write measurement must reproduce byte for byte. */
object StagedStats {
  def rereadLines(spark: SparkSession, t: String, rels: Seq[String],
      idx: Seq[String], str: Seq[String]): Seq[String] = {
    import TxnTable.{Entry, ColStat, HllStat, StrStat}
    val dir = rels.head.split('/').dropRight(1).mkString("/")
    assert(rels.forall(_.startsWith(dir + "/")))
    val stats = TxnTable.statGroupsByFile(spark.read.parquet(s"$t/$dir"),
      input_file_name(), idx, str).map { case (f, v) => (f.split('/').last, v) }
    val dirP = new org.apache.hadoop.fs.Path(s"$t/$dir")
    val sizes = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dirP).map(st => (st.getPath.getName, st.getLen)).toMap
    rels.map { rel =>
      val name = rel.split('/').last
      val (ints, hlls, strs) = stats.getOrElse(name,
        (Seq.empty[ColStat], Seq.empty[HllStat], Seq.empty[StrStat]))
      val sz = if (ints.isEmpty && strs.isEmpty) -1L
        else sizes.getOrElse(name, -1L)
      TxnTable.renderFresh(Entry(rel, ints, strs, hlls = hlls, bytes = sz))
    }
  }
}
