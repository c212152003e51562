package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen'd cosine similarity over two array<double> columns.
  *
  * Spark's higher-order functions (zip_with/aggregate) evaluate
  * interpreted — per-element boxing outside whole-stage codegen. This
  * expression compiles to one call of a tight primitive loop
  * ([[CosineSimilarity.cosine]]: one pass computing the dot product and
  * both norms).
  *
  * Accumulation order is sequential over elements, matching both the
  * zip_with/aggregate fold it replaces and the DuckDB oracle — double
  * results are bit-identical. Null elements inside the arrays are not
  * supported (vectors are dense by contract).
  *
  * Mismatched lengths return NULL (an upstream dimension bug must surface,
  * not be masked as a plausible similarity — the oracle's
  * list_cosine_similarity errors on mismatch). A zero-norm input yields
  * NaN (0/0), which no >= threshold ever passes.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true // null on length mismatch

  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) null
    else CosineSimilarity.cosine(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.CosineSimilarity$$.MODULE$$.cosine($a, $b);
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** THE cosine arithmetic — one pass computing the dot product and both
    * squared norms in element order, then `dot / (√na · √nb)`. Generated
    * code, interpreted evaluation and the driver-side k-means rounds
    * (`Similarity.trainCentroids`) all call it, so their doubles are
    * bit-identical. Lengths must be equal (callers check). */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Column-API entry point. Inputs must be array<double> (callers cast;
    * no ExpectsInputTypes because AbstractDataType is private[sql]). */
  def apply(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))
}
