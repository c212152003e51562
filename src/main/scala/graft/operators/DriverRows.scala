package graft.operators

import graft.sources.ManifestPrune
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** THE driver-size guard: a frame small enough to hold on the driver is
  * collected once and worked on as local rows, instead of planning a
  * distributed pipeline for a few thousand rows. Its callers:
  *   - the fold refresh ([[MatView]]`.foldAndMerge`) and the CDC upsert
  *     ([[TxnTable.applyChangesMor]]) apply a change set from its rows —
  *     key sets, box tests, pre-images, the rewrite and the feed — so
  *     every consumer sees one evaluation of the caller's frame;
  *   - the copy-on-write merge's key set (`TxnTable.mergeCore`) gets a
  *     driver box test and a broadcast local key relation;
  *   - k-means training ([[Similarity]]`.trainCentroids`) runs its
  *     Lloyd rounds on the driver over the collected training rows.
  * Above the guard every caller keeps its planned path, where a forced
  * broadcast would be unmeasured, so it plans none. */
private[graft] object DriverRows {

  /** The most rows the guard admits — [[ManifestPrune.InSetCap]], the
    * same bound under which a key set still prunes file by file. */
  val Cap: Int = ManifestPrune.InSetCap

  /** Test seam: inside `distributedOnly.withValue(true)` every frame
    * reads as above the guard, so a spec can run both paths over the
    * same rows. */
  val distributedOnly = new scala.util.DynamicVariable(false)

  /** `df`'s rows, collected once (`limit(Cap + 1)`), when there are at
    * most [[Cap]] of them; None above. */
  def collect(df: DataFrame): Option[Array[Row]] =
    if (distributedOnly.value) None
    else Some(df.limit(Cap + 1).collect()).filter(_.length <= Cap)

  /** Driver-held rows as a frame: a `LocalRelation`, so projections and
    * filters over it fold in the optimizer with no Spark job. */
  def frame(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
