package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index of a 2-D grid cell: maps `(x, y)` on the
  * `2^bits × 2^bits` grid to its distance along the Hilbert space-filling
  * curve (the classic iterative xy→d walk: one quadrant decision plus a
  * reflect/transpose rotation per bit level, most-significant first).
  *
  * Drop-in alternative to the Morton interleave in
  * [[graft.plans.Layout]]: every unit step along the Hilbert curve
  * moves to a 4-adjacent cell (Morton jumps across the plane at quadrant
  * boundaries), so consecutive rows land in genuinely neighboring cells
  * and per-file min/max ranges come out tighter on both dimensions.
  * The generated code calls the same [[index]] walk the interpreted path
  * runs, so the per-row walk stays inside whole-stage codegen like the
  * surrounding scale projection.
  */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  // int inputs span at most 31 bits; bits = 0 would map every cell to 0
  require(bits >= 1 && bits <= 31, s"hilbert bits must be in [1, 31]: $bits")

  // input contract: two int columns already scaled to [0, 2^bits)
  override def dataType: DataType = LongType

  def index(xi: Int, yi: Int): Long = {
    var x = xi.toLong
    var y = yi.toLong
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def nullSafeEval(xi: Any, yi: Any): Any =
    index(xi.asInstanceOf[Int], yi.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hilbert", this,
      classOf[HilbertIndex].getName)
    nullSafeCodeGen(ctx, ev, (x, y) => s"${ev.value} = $ref.index($x, $y);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {
  def index(x: Column, y: Column, bits: Int): Column =
    org.apache.spark.sql.GraftBridge.column(HilbertIndex(
      org.apache.spark.sql.GraftBridge.expression(x),
      org.apache.spark.sql.GraftBridge.expression(y), bits))
}
