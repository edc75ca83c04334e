package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native k-slot MinHash signature over a shingle-id array: slot j is
  * `min over s of xxhash64(j, s)` — all k minima in ONE tight pass over
  * the array (k × |shingles| static hash calls, no allocation per
  * element).
  *
  * This replaces a 32-column higher-order-function formulation
  * (`array_min(transform(sh_arr, s -> xxhash64(j, s)))` per slot) that
  * re-evaluated an interpreted lambda per slot per element and measured
  * ~5x slower than even the explode+groupBy aggregation it was meant to
  * beat. As a codegen'd expression the whole signature stays NARROW — a
  * per-row projection with no explode and no shuffle — which is what the
  * streaming near-dup path requires and the batch path profits from.
  * Both the interpreted and the generated path run [[sig]]; the slot
  * seeds are computed once per expression instance, never per row.
  *
  * Slot hashes replicate Spark's `xxhash64(intLit(j), longCol(s))`
  * exactly: `XXH64.hashLong(s, XXH64.hashInt(j, 42))` (the builtin folds
  * children left-to-right from seed 42), so signatures are
  * bit-identical to the aggregated form — NearDupStreamSpec and
  * KernelSpec pin that.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"minhash needs at least one slot: k=$k")

  // input contract: array<long> (built over GraftBridge by
  // [[MinHashSignature.sig]], which the shingle pipeline types correctly)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val seeds: Array[Long] =
    MinHashSignature.slotSeeds(k)

  def sig(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getLong(i)
      var j = 0
      while (j < k) {
        val h = XXH64.hashLong(s, seeds(j))
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    sig(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhash", this,
      classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.sig($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignature = copy(child = newChild)
}

object MinHashSignature {
  /** Per-slot seeds replicating the builtin's left fold:
    * `xxhash64(j, s)` = hashLong(s, hashInt(j, 42)).
    */
  def slotSeeds(k: Int): Array[Long] =
    Array.tabulate(k)(j => XXH64.hashInt(j, 42L))

  def sig(shArr: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(MinHashSignature(
      org.apache.spark.sql.GraftBridge.expression(shArr), k))
}
