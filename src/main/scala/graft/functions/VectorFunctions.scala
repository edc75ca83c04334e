package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the float-vector dot product.
  *
  * The higher-order-function form (`aggregate(zip_with(...))`) allocates a
  * lambda frame per element and stays outside whole-stage codegen's fast
  * path; at 4M pairs × 64 dims (sim_knn_graph at sf0.1) that interpreted
  * overhead dominated the query (~90 s). This expression runs one
  * primitive loop, [[dot]], which both the interpreted and the generated
  * path call — same sequential `(double)a[i] * (double)b[i]`
  * accumulation, so results stay bit-identical to the HOF form and the
  * DuckDB oracle's `list_sum` comprehension (the SparkEntry determinism
  * contract).
  */
case class DotProductFF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    sum
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotFF", this,
      classOf[DotProductFF].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.dot($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFF =
    copy(left = newLeft, right = newRight)
}

/** [[DotProductFF]]'s `array<double>` sibling — same sequential [[dot]]
  * loop, for vectors that are already double-typed (e.g. the centered /
  * projected embeddings an All-but-the-Top transform produces, where a
  * float round-trip would destroy the fixed IEEE DAG the oracle
  * replays).
  */
case class DotProductDD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    sum
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotDD", this,
      classOf[DotProductDD].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.dot($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductDD =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  private def toCol(e: Expression): Column =
    org.apache.spark.sql.GraftBridge.column(e)
  private def toExpr(c: Column): Expression =
    org.apache.spark.sql.GraftBridge.expression(c)

  /** Codegen'd dot product of two `array<float>` columns, in double. */
  def dotFF(a: Column, b: Column): Column =
    toCol(DotProductFF(toExpr(a), toExpr(b)))

  /** Codegen'd dot product of two `array<double>` columns. */
  def dotDD(a: Column, b: Column): Column =
    toCol(DotProductDD(toExpr(a), toExpr(b)))
}
