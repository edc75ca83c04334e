package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Ordered combinations of a long array as one compiled loop:
  * `[(a_i, a_j) | i < j]` — the pair-enumeration core of the inverted
  * index (each sorted posting list's candidate pairs) and of the
  * co-purchase graph (each order's item pairs).
  *
  * == What it replaces (r20) ==
  * The `flatten(transform(ds, (a, i) -> transform(slice(ds, i+2, …),
  * b -> struct(a, b))))` higher-order stack: Catalyst evaluates HOFs
  * interpreted — per outer element a `slice` ALLOCATES the array tail,
  * and every pair allocates through a lambda frame. On the sf0.1
  * fixtures this enumeration is one of the heaviest stages of
  * dedup_ngram_jaccard (and of every graph query via coPurchaseEdges).
  * The kernel emits the same structs in the same (i asc, j asc) order
  * from one nested loop, no slices, no lambda frames.
  *
  * Output field NAMES are parameters so both consumers keep their
  * schema (`doc_a`/`doc_b`, `src`/`dst`). Input lists are bounded by
  * contract (df-capped posting lists / maxOrderItems-capped orders), so
  * the quadratic fan-out stays bounded; [[OrderedPairs.count]] turns a
  * list whose pairs no JVM array can hold into a loud error.
  */
case class OrderedPairs(child: Expression, aName: String, bName: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField(aName, LongType, nullable = false),
    StructField(bName, LongType, nullable = false))),
    containsNull = false)

  def pairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](OrderedPairs.count(n))
    var idx = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(idx) = new GenericInternalRow(Array[Any](a, arr.getLong(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    pairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("orderedPairs", this,
      classOf[OrderedPairs].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $ref.pairs($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): OrderedPairs = copy(child = newChild)
}

object OrderedPairs {
  /** Largest array the JVM allocates. */
  private val MaxPairs: Int = Int.MaxValue - 8

  /** `n·(n−1)/2`, computed in Long so it cannot wrap; fails when the
    * pairs would not fit one array.
    */
  def count(n: Int): Int = {
    val pairs = n.toLong * (n - 1) / 2
    require(pairs <= MaxPairs,
      s"ordered-pair fan-out unbounded: $n elements, $pairs pairs")
    pairs.toInt
  }

  def of(arr: Column, aName: String, bName: String): Column =
    org.apache.spark.sql.GraftBridge.column(OrderedPairs(
      org.apache.spark.sql.GraftBridge.expression(arr), aName, bName))
}
