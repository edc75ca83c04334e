package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Narrow k-slot PORTABLE MinHash signature over a STRING shingle
  * array: slot j is `min over s of (A_j · h(s) + B_j) mod M` where
  * `h(s)` is the unsigned 32-bit md5 prefix — the
  * [[MinHashSignature]] device for the oracle-portable md5 hash family
  * ([[graft.ext.Dedup.slotA]]).
  *
  * == What it replaces (r20) ==
  * The aggregated form (now only the specs' reference) ran over the
  * EXPLODED shingle stream: one md5 per (doc, shingle) row, then a
  * `groupBy(doc_id)` with k=32 min-aggregates — a full exchange of the corpus' shingle stream per
  * consumer (dedup_minhash_md5, dedup_source_matrix, dedup_incremental,
  * dedup_lsh_eval). This expression computes all k minima in one
  * compiled pass over the doc's own shingle array: per-row projection,
  * no explode, no shuffle.
  *
  * == Bit-identity ==
  * `h` replays `conv(substr(md5(s),1,8),16,10) AS BIGINT`: the first 8
  * lowercase-hex chars of RFC-1321 md5 over the UTF-8 bytes = the first
  * 4 digest bytes as an unsigned big-endian int. The affine transform
  * and `%` run on the same nonneg longs (h < 2³², A < 2³⁰ ⇒ products
  * < 2⁶², no overflow, no sign), and `min` over longs is order-free —
  * so signatures are bit-identical to the aggregated form (spec-pinned
  * in DedupSpec) and to the DuckDB twin.
  */
case class PortableMinHashSig(child: Expression, as: Array[Long],
    bs: Array[Long], mod: Long) extends UnaryExpression {
  private def k = as.length
  require(k >= 1 && bs.length == k && mod >= 1L)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def sig(arr: ArrayData): ArrayData = {
    val md = PortableMinHash.md5.get
    val n = arr.numElements()
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val d = md.digest(arr.getUTF8String(i).getBytes)
      val h = ((d(0) & 255L) << 24) | ((d(1) & 255L) << 16) |
        ((d(2) & 255L) << 8) | (d(3) & 255L)
      var j = 0
      while (j < k) {
        val s = (h * as(j) + bs(j)) % mod
        if (s < out(j)) out(j) = s
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
    val ref = ctx.addReferenceObj("portableMinHash", this,
      classOf[PortableMinHashSig].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.sig($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PortableMinHashSig = copy(child = newChild)
}

object PortableMinHash {
  /** One MD5 instance per thread, reused across rows instead of a
    * provider lookup per row: `digest()` resets it. Held here, not on
    * the expression, so it is never serialized into a task.
    */
  private[functions] val md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Signature column over `array<string>` shingles; `as`/`bs`/`mod`
    * are the affine slot-hash constants (see
    * [[graft.ext.Dedup.slotA]]).
    */
  def sig(shArr: Column, as: Array[Long], bs: Array[Long],
      mod: Long): Column =
    org.apache.spark.sql.GraftBridge.column(PortableMinHashSig(
      org.apache.spark.sql.GraftBridge.expression(shArr), as, bs, mod))
}
