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

  test("MinHashSignature needs at least one slot") {
    val e = intercept[IllegalArgumentException](MinHashSignature(null, 0))
    assert(e.getMessage.contains("at least one slot: k=0"))
    assert(MinHashSignature(null, 1).k === 1)
  }

  test("SimHashFingerprint bits stay within one long") {
    Seq(0, 65, -1).foreach { b =>
      val e = intercept[IllegalArgumentException](SimHashFingerprint(null, b))
      assert(e.getMessage.contains(s"simhash bits must be in [1, 64]: $b"))
    }
    // bit 63 is the sign bit: every hash has it set, so it must be kept
    val all = new GenericArrayData(Array[Any](-1L))
    assert(SimHashFingerprint(null, 64).fold(all) === -1L)
    assert(SimHashFingerprint(null, 1).fold(all) === 1L)
  }

  test("HilbertIndex bits stay within the int inputs") {
    Seq(0, 32, -1).foreach { b =>
      val e = intercept[IllegalArgumentException](HilbertIndex(null, null, b))
      assert(e.getMessage.contains(s"hilbert bits must be in [1, 31]: $b"))
    }
    // the far corner of the largest grid: (2^31 - 1, 0) is the last cell
    val max = HilbertIndex(null, null, 31)
    assert(max.index(Int.MaxValue, 0) === (1L << 62) - 1)
    assert(HilbertIndex(null, null, 1).index(1, 0) === 3L)
  }
}
