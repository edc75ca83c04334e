package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Product-quantizer assignment kernel: for ONE embedding row, the
  * nearest sub-centroid (squared-L2) of every subspace against a
  * driver-side codebook — `array<struct<code:int, dist:double>>` of
  * length `m`, one tight compiled loop per row.
  *
  * == What it replaces (r20; guide §2.3/§2.4) ==
  * The fine-quantizer assignment ran as `posexplode` (corpus×M rows) →
  * `join(broadcast(books))` (corpus×M×K rows, each paying three
  * array-expression dot products) → `groupBy(vec_id, sub_id)` `min_by`
  * — a full exchange of the corpus×M stream PER CALL, i.e. per Lloyd
  * iteration and per encode. The r19 attempt to narrow this with the
  * coarse quantizer's per-row HOF fold lost 5–8×: at M×K = 512
  * candidate SUBTREES whole-stage codegen bails and the Catalyst tree
  * evaluates interpreted, re-slicing per candidate. This expression is
  * the third form: ONE custom expression whose compiled `assign` loop
  * scans the flat codebook array — no row explosion, no join, no
  * exchange, no per-candidate Catalyst overhead, O(1) plan size.
  *
  * == Bit-identity contract ==
  * Replays the join form's arithmetic EXACTLY, so codes/distances (and
  * every oracle hash downstream) are unchanged:
  *  - `sv` = `slice(embedding, s·subDim+1, subDim)` ⇒ reads the same
  *    floats in place (short/empty tails give the same truncated dots —
  *    `svLen = max(0, min(len − s·subDim, subDim))`);
  *  - `d` = `dot(sv,sv) − 2.0·dot(sv,c) + dot(c,c)` with
  *    [[DotProductFF]]'s sequential `(double)a[i]·(double)b[i]`
  *    accumulation and the same association
  *    `(daa − 2.0·dab) + dbb` (`dbb` precomputed once per candidate by
  *    the identical loop — same IEEE value, it is a pure function of
  *    the codebook floats);
  *  - the argmin tie-break replays `min_by(_, struct(d, centroid_id))`:
  *    candidates scan cid-ascending and replace only on a STRICT
  *    `nanSafeCompare < 0` (Spark's double total order: NaN largest,
  *    `-0.0 == 0.0`), so equal distances keep the smaller cid.
  *
  * `books` is laid out flat: candidate (s, c) occupies
  * `[(s·k + c)·subDim, …+subDim)`. Null embeddings yield null (the old
  * shape produced no assignment rows for them either way — fixture
  * embeddings are non-null).
  */
case class PqNearestCentroids(child: Expression, books: Array[Float],
    m: Int, k: Int, subDim: Int) extends UnaryExpression {
  require(m >= 1 && k >= 1 && subDim >= 1 &&
    books.length == m * k * subDim,
    s"codebook shape mismatch: ${books.length} != $m*$k*$subDim")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("code", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false))),
    containsNull = false)

  /** dot(c, c) per candidate — same sequential float→double loop as
    * [[DotProductFF]], computed once (deterministic function of the
    * codebook floats, so precomputing cannot change any bit).
    */
  @transient private lazy val dbb: Array[Double] = {
    val arr = new Array[Double](m * k)
    var idx = 0
    while (idx < m * k) {
      var s2 = 0.0
      var j = 0
      while (j < subDim) {
        val v = books(idx * subDim + j).toDouble
        s2 += v * v
        j += 1
      }
      arr(idx) = s2
      idx += 1
    }
    arr
  }

  /** Spark's nanSafeCompareDoubles(x, y) < 0 (NaN largest, -0.0 == 0.0). */
  private def nanSafeLess(x: Double, y: Double): Boolean =
    if (x == y || java.lang.Double.isNaN(x)) false
    else if (java.lang.Double.isNaN(y)) true
    else x < y

  def assign(embA: ArrayData): ArrayData = {
    val embLen = embA.numElements()
    val e = new Array[Float](embLen)
    var i = 0
    while (i < embLen) { e(i) = embA.getFloat(i); i += 1 }
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val base = s * subDim
      val svLen = math.max(0, math.min(embLen - base, subDim))
      var daa = 0.0
      var j = 0
      while (j < svLen) {
        val v = e(base + j).toDouble
        daa += v * v
        j += 1
      }
      var bestC = 0
      var bestD = 0.0
      var c = 0
      while (c < k) {
        val off = (s * k + c) * subDim
        var dab = 0.0
        j = 0
        while (j < svLen) {
          dab += e(base + j).toDouble * books(off + j).toDouble
          j += 1
        }
        val d = daa - 2.0 * dab + dbb(s * k + c)
        if (c == 0 || nanSafeLess(d, bestD)) { bestC = c; bestD = d }
        c += 1
      }
      out(s) = new GenericInternalRow(Array[Any](bestC, bestD))
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    assign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAssign", this,
      classOf[PqNearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.assign($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): PqNearestCentroids = copy(child = newChild)
}

/** Coarse-quantizer ranking kernel: the full codebook ranked per row by
  * `(ccos desc, centroid_id asc)` — `array<struct<ccos:double,
  * centroid_id:int>>`, the compiled form of r19's `array_sort` over
  * per-centroid candidate structs ([[graft.ext.Similarity]]
  * `rankedCentroidsCol`) and, via `element_at(_, 1)`, of its
  * `aggregate` argmax.
  *
  * == Why (r20) ==
  * `aggregate`/`array_sort` are higher-order functions: Catalyst
  * evaluates them (and their k cosine candidate subtrees) INTERPRETED,
  * per row — measured ~100µs/row on the IVF serve stage, the dominant
  * cost of the whole sim/vec IVF family after the r19 de-crossJoin.
  * This kernel runs the same arithmetic as one compiled loop.
  *
  * == Bit-identity contract ==
  *  - `ccos` = `dot(v,c) / (sqrt(dot(v,v)) · sqrt(dot(c,c)))` with
  *    [[DotProductFF]]'s sequential float→double accumulation,
  *    truncated dots on length mismatch (`min(len, dim)` terms), and
  *    the same association (multiply the two sqrts, then divide).
  *    `sqrt(dot(c,c))` is precomputed per centroid — a pure function
  *    of the codebook floats (the old plan constant-folded it too).
  *  - The ranking replays the `array_sort` comparator: descending by
  *    Spark's double total order (`SQLOrderingUtil.compareDoubles`:
  *    `x == y` → equal — so `-0.0` ties `0.0` — else
  *    `Double.compare`, NaN largest), ties broken ascending on the
  *    REAL centroid id (`cids`, carried in codebook order). The
  *    comparator is a strict total order on distinct cids, so the
  *    sorted array is unique — sort algorithm cannot matter.
  */
case class CentroidRank(child: Expression, books: Array[Float],
    cids: Array[Int], dim: Int) extends UnaryExpression {
  private def k = cids.length
  require(k >= 1 && dim >= 1 && books.length == k * dim,
    s"codebook shape mismatch: ${books.length} != $k*$dim")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ccos", DoubleType, nullable = false),
    StructField("centroid_id", IntegerType, nullable = false))),
    containsNull = false)

  /** sqrt(dot(c, c)) per centroid — [[DotProductFF]]'s loop + Math.sqrt. */
  @transient private lazy val cNorm: Array[Double] = {
    val arr = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s2 = 0.0
      var j = 0
      while (j < dim) {
        val v = books(c * dim + j).toDouble
        s2 += v * v
        j += 1
      }
      arr(c) = java.lang.Math.sqrt(s2)
      c += 1
    }
    arr
  }

  /** SQLOrderingUtil.compareDoubles(x, y) > 0. */
  private def greater(x: Double, y: Double): Boolean =
    x > y || (java.lang.Double.isNaN(x) && !java.lang.Double.isNaN(y))

  def rank(embA: ArrayData): ArrayData = {
    val n = embA.numElements()
    val e = new Array[Float](n)
    var i = 0
    while (i < n) { e(i) = embA.getFloat(i); i += 1 }
    var daa = 0.0
    i = 0
    while (i < n) { val v = e(i).toDouble; daa += v * v; i += 1 }
    val sa = java.lang.Math.sqrt(daa)
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val off = c * dim
      val lim = math.min(n, dim)
      var dab = 0.0
      var j = 0
      while (j < lim) {
        dab += e(j).toDouble * books(off + j).toDouble
        j += 1
      }
      scores(c) = dab / (sa * cNorm(c))
      c += 1
    }
    // insertion sort of candidate indices under the array_sort
    // comparator (ccos desc, cid asc); cids ascend with the index, so
    // index order IS the tie-break
    val idx = new Array[Int](k)
    i = 0
    while (i < k) { idx(i) = i; i += 1 }
    i = 1
    while (i < k) {
      val cur = idx(i)
      var j = i - 1
      while (j >= 0 && greater(scores(cur), scores(idx(j)))) {
        idx(j + 1) = idx(j)
        j -= 1
      }
      idx(j + 1) = cur
      i += 1
    }
    val out = new Array[Any](k)
    i = 0
    while (i < k) {
      val c0 = idx(i)
      out(i) = new GenericInternalRow(Array[Any](scores(c0), cids(c0)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    rank(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidRank", this,
      classOf[CentroidRank].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.rank($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CentroidRank = copy(child = newChild)
}

object PqAssign {
  /** Ranked-codebook kernel column (see [[CentroidRank]]); `cb` in any
    * order, ranked output ties broken on the REAL centroid ids.
    */
  def centroidRank(vec: Column, cb: Seq[(Int, Seq[Float])]): Column = {
    val sorted = cb.sortBy(_._1)
    val dim = sorted.iterator.map(_._2.length).max
    val flat = new Array[Float](sorted.length * dim)
    sorted.zipWithIndex.foreach { case ((_, v), c) =>
      var j = 0
      while (j < v.length) { flat(c * dim + j) = v(j); j += 1 }
    }
    org.apache.spark.sql.GraftBridge.column(
      CentroidRank(
        org.apache.spark.sql.GraftBridge.expression(vec),
        flat, sorted.map(_._1).toArray, dim))
  }

  /** Kernel column over a flat codebook (see [[PqNearestCentroids]]). */
  def nearest(emb: Column, books: Array[Float], m: Int, k: Int,
      subDim: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      PqNearestCentroids(
        org.apache.spark.sql.GraftBridge.expression(emb),
        books, m, k, subDim))

  /** Flatten a driver-side (sub_id, centroid_id) → subvector map into
    * the kernel's layout; requires the dense (0..m-1) × (0..k-1) grid
    * the trainers maintain. Short subvectors (an embedding tail
    * narrower than subDim) are zero-padded: every extra dot term is a
    * literal `+ 0.0`, so the padded dots are bit-identical to the old
    * min-length-truncated `DotProductFF` dots.
    */
  def flatten(byKey: Map[(Int, Int), Seq[Float]], m: Int, k: Int,
      subDim: Int): Array[Float] = {
    val flat = new Array[Float](m * k * subDim)
    for (s <- 0 until m; c <- 0 until k) {
      val v = byKey((s, c))
      require(v.length <= subDim,
        s"subvector ($s,$c) has ${v.length} dims, expected <= $subDim")
      var j = 0
      while (j < v.length) { flat((s * k + c) * subDim + j) = v(j); j += 1 }
    }
    flat
  }
}
