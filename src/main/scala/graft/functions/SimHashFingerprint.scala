package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native SimHash bit-vote fold: fingerprint bit j is the sign of
  * Σ_hashes (±1 by bit j of the hash) — computed in ONE pass over the
  * document's pre-hashed token array (narrow projection, no
  * explode/shuffle).
  *
  * Replaces the explode + 32-conditional-sum aggregation form, which
  * shuffled every (doc, token) pair to re-group by doc. The expression
  * takes array<long> of per-token hashes (not raw tokens) so the hash
  * function is chosen by the caller: [[graft.ext.Dedup.tokenHash64]]
  * uses an md5-prefix hash reproducible in ANSI SQL, which is what lets
  * the simhash queries carry a DuckDB oracle instead of a rows-only
  * check (xxhash64, the previous choice, exists only in Spark).
  * Fingerprints are bit-identical to the aggregated form over the same
  * hashes (DedupSpec and KernelSpec pin that). Both the interpreted and
  * the generated path run [[fold]].
  */
case class SimHashFingerprint(child: Expression, bits: Int)
    extends UnaryExpression {
  // bit j is set with `1L << j`, which wraps past bit 63
  require(bits >= 1 && bits <= 64, s"simhash bits must be in [1, 64]: $bits")

  // input contract: array<long> of (distinct) token hashes
  override def dataType: DataType = LongType

  def fold(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) fp |= 1L << j
      j += 1
    }
    fp
  }

  override protected def nullSafeEval(input: Any): Any =
    fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this,
      classOf[SimHashFingerprint].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.fold($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SimHashFingerprint = copy(child = newChild)
}

object SimHashFingerprint {
  /** `hashes`: array<long> of per-token hashes (see class doc). */
  def fp(hashes: Column, bits: Int): Column =
    org.apache.spark.sql.GraftBridge.column(SimHashFingerprint(
      org.apache.spark.sql.GraftBridge.expression(hashes), bits))
}
