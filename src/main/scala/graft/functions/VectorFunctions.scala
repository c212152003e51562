package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over array<double> columns as pure `functions._` expression
  * trees — codegen'd, no UDF boxing, per-row parallel.
  *
  * The folds are sequential over elements (zip_with → aggregate), which
  * matches the oracle's accumulation order, so double results are
  * bit-identical across engines.
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native codegen'd expression (same sequential accumulation order as
    * the fold below — bit-identical results, ~no boxing). */
  def cosine(a: Column, b: Column): Column = CosineSimilarity(a, b)

  /** Higher-order-function formulation, kept as the reference
    * implementation for cross-checking the native expression. */
  def cosineFold(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))
}
