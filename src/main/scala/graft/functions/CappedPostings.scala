package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Df-capped posting-list aggregation — the ONE-PASS form of the
  * stop-shingle guard (r19 optimization round; guide §2.3/§2.4).
  *
  * == What it replaces ==
  * The r1–r18 shape ran the cap as two passes over the tokenized
  * posting stream: (1) a `groupBy(shingle).count` to find the over-cap
  * head, (2) a broadcast LEFT ANTI join dropping that head, then a
  * hash repartition by shingle and a `collect_list` aggregation. Sound
  * and skew-safe — but it derives the (CPU-heavy: tokenize + n-gram
  * hash + explode) posting stream TWICE and pays two full exchanges of
  * it. This aggregate collects each shingle's posting list and its
  * EXACT document frequency in one aggregation, so the whole kept-list
  * derivation is one pass and one exchange.
  *
  * == Why the skew argument still holds ==
  * The two-pass anti-join existed so a hot shingle ("click here to" at
  * df ≈ n_docs in a 100 TB crawl) never co-locates its full posting
  * list on one reduce task. This buffer preserves that bound: it
  * accumulates at most `cap` elements, and the moment the EXACT running
  * count exceeds the cap the element array is dropped and the buffer
  * degenerates to a pure counter (16 bytes). Map-side partials for a
  * truly hot key therefore ship count-only buffers — the same bytes the
  * old df-count pass shipped — and keys near the cap ship at most
  * ~cap elements total across all partials. Reduce-side state is
  * likewise ≤ cap+ε elements per group. The count stays exact under
  * any merge order, so `df > cap → dropped` is bit-identical to the
  * two-pass cap (DuckDB twins unchanged).
  *
  * == Determinism ==
  * Partial-merge order is nondeterministic, so `finish` SORTS the
  * surviving list — same ascending order `sort_array(collect_list(..))`
  * produced, which the downstream ordered-combination enumeration
  * (doc_a < doc_b) relies on. For stride=2 (the tf-weighted index) the
  * sort compares block-leading doc_ids, equal to
  * `sort_array(collect_list(struct(doc_id, tf)))` because doc_ids are
  * unique within a shingle group.
  *
  * == Buffer growth (r20, advice item) ==
  * The r19 `reduce` re-allocated and copied the whole array on every
  * input row — O(cap²) long copies per under-cap group (~2M at
  * cap=1000, stride=2). The work buffer now tracks a `used` watermark
  * over an amortized-doubling array (initial capacity = one posting, so
  * the df=1 long tail allocates exactly; growth caps at cap·stride), and
  * `finish` trims to the exact output. Per-group cost is linear in cap.
  * The work type is internal; the OUTPUT struct stays `(n, ds)`.
  *
  * `stride` = longs per posting: 1 for plain doc_id lists, 2 for
  * (doc_id, tf) pairs packed flat. `n` counts POSTINGS (docs), not
  * longs; `ds` is null iff n > cap.
  */
final case class CappedBuf(var n: Long, var ds: Array[Long])

/** Internal accumulation buffer: `ds` is capacity-managed, `used` longs
  * valid. `ds == null` ⇔ degenerated to count-only (n > cap).
  */
final case class CappedWorkBuf(var n: Long, var used: Int,
    var ds: Array[Long])

class CappedPostingsAgg(cap: Long, stride: Int)
    extends Aggregator[Array[Long], CappedWorkBuf, CappedBuf] {
  require(cap >= 1L && stride >= 1)

  /** Growth ceiling in longs: cap·stride, clamped to the JVM array
    * bound (an effectively-uncapped aggregation, e.g. cap=Long.MaxValue
    * in the cap-above-df specs, is limited by array size like any
    * collect_list).
    */
  private val maxLongs: Int =
    if (cap >= (Int.MaxValue - 8).toLong / stride) Int.MaxValue - 8
    else (cap * stride).toInt

  override def zero: CappedWorkBuf =
    CappedWorkBuf(0L, 0, Array.emptyLongArray)

  /** Ensure room for `extra` more longs: amortized doubling, never past
    * the cap's worst case (so a spilled/shipped partial's slack is
    * bounded too). A need past that ceiling is an error, not a clamp.
    */
  private def grow(b: CappedWorkBuf, extra: Int): Unit = {
    val need = b.used.toLong + extra
    if (need > b.ds.length) {
      require(need <= maxLongs,
        s"capped posting buffer needs $need longs, over its $maxLongs bound")
      val cap2 = math.min(maxLongs.toLong,
        math.max(need, math.max(stride.toLong, b.ds.length * 2L))).toInt
      val out = new Array[Long](cap2)
      System.arraycopy(b.ds, 0, out, 0, b.used)
      b.ds = out
    }
  }

  override def reduce(b: CappedWorkBuf, in: Array[Long]): CappedWorkBuf = {
    b.n += 1L
    if (b.ds != null) {
      if (b.n > cap) { b.ds = null; b.used = 0 }
      else {
        grow(b, stride)
        var j = 0
        while (j < stride) { b.ds(b.used + j) = in(j); j += 1 }
        b.used += stride
      }
    }
    b
  }

  override def merge(a: CappedWorkBuf, b: CappedWorkBuf): CappedWorkBuf = {
    a.n += b.n
    if (a.ds == null || b.ds == null || a.n > cap) { a.ds = null; a.used = 0 }
    else {
      grow(a, b.used)
      System.arraycopy(b.ds, 0, a.ds, a.used, b.used)
      a.used += b.used
    }
    a
  }

  override def finish(r: CappedWorkBuf): CappedBuf = {
    if (r.ds == null) CappedBuf(r.n, null)
    else {
      val exact = java.util.Arrays.copyOf(r.ds, r.used)
      if (stride == 1) java.util.Arrays.sort(exact)
      else {
        // block sort by leading long (doc_id) — doc_ids unique per group
        val blocks = exact.grouped(stride).toArray
        java.util.Arrays.sort(blocks,
          (x: Array[Long], y: Array[Long]) => java.lang.Long.compare(x(0), y(0)))
        var i = 0
        blocks.foreach { blk =>
          System.arraycopy(blk, 0, exact, i, stride); i += stride
        }
      }
      CappedBuf(r.n, exact)
    }
  }

  override def bufferEncoder: Encoder[CappedWorkBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[CappedWorkBuf]()
  override def outputEncoder: Encoder[CappedBuf] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[CappedBuf]()
}

object CappedPostings {
  /** `struct(n, ds)` aggregate column: capped posting list of `of`
    * (one long per posting).
    */
  def list(of: Column, cap: Long): Column = {
    val f = udaf(new CappedPostingsAgg(cap, 1))
    f(org.apache.spark.sql.functions.array(of))
  }

  /** Capped (doc_id, weight) posting list packed flat:
    * `ds = [id0, w0, id1, w1, ...]`, block-sorted by id.
    */
  def weighted(id: Column, w: Column, cap: Long): Column = {
    val f = udaf(new CappedPostingsAgg(cap, 2))
    f(org.apache.spark.sql.functions.array(id, w))
  }
}
