package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

/** Size guards of the compiled kernels, hit directly: each must fail
  * with its own message before it allocates, never wrap or clamp.
  */
class KernelBoundsSpec extends AnyFunSuite {

  test("OrderedPairs.count is exact past the Int product and guards the " +
      "array bound") {
    assert(OrderedPairs.count(0) === 0 && OrderedPairs.count(1) === 0)
    assert(OrderedPairs.count(4) === 6)
    // 46342·46341 overflows Int; the old sizing went negative here
    assert(OrderedPairs.count(46342) === 1073767311)
    assert(OrderedPairs.count(65536) === 2147450880)
    val e = intercept[IllegalArgumentException](OrderedPairs.count(65537))
    assert(e.getMessage.contains("65537 elements, 2147516416 pairs"))
  }

  test("OrderedPairs.pairs fails on an oversized list before allocating") {
    val arr = new GenericArrayData(Array.tabulate[Any](65537)(_.toLong))
    val e = intercept[IllegalArgumentException](
      OrderedPairs(null, "a", "b").pairs(arr))
    assert(e.getMessage.contains("ordered-pair fan-out unbounded"))
    val small = OrderedPairs(null, "a", "b")
      .pairs(new GenericArrayData(Array[Any](1L, 2L, 3L)))
    assert(small.numElements() === 3)
  }

  test("CappedPostingsAgg refuses a buffer past its ceiling") {
    // cap·stride exceeds the JVM array bound, so the ceiling is that bound
    val agg = new CappedPostingsAgg(Long.MaxValue, 1)
    // a partial claiming a full buffer (capacity not allocated): merging
    // one more posting needs a longer array than the JVM can hold
    val full = CappedWorkBuf(1L, Int.MaxValue - 8, Array.emptyLongArray)
    val e = intercept[IllegalArgumentException](
      agg.merge(full, agg.reduce(agg.zero, Array(7L))))
    assert(e.getMessage.contains("capped posting buffer needs"))
  }
}
