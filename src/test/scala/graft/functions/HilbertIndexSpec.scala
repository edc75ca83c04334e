package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class HilbertIndexSpec extends SparkSpec {
  import spark.implicits._

  test("hilbert index is a bijection with unit-step adjacency (4-bit grid)") {
    val bits = 4
    val side = 1 << bits
    val cells = for (x <- 0 until side; y <- 0 until side) yield (x, y)
    val d = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        HilbertIndex.index(col("x"), col("y"), bits).as("d"))
      .as[(Int, Int, Long)].collect()
    // bijection: every curve position 0..255 hit exactly once
    assert(d.map(_._3).sorted.toSeq === (0L until (side.toLong * side)))
    // the defining Hilbert property (Morton fails it): consecutive curve
    // positions are 4-adjacent cells — |dx| + |dy| == 1 at EVERY step
    val bySeq = d.sortBy(_._3)
    bySeq.sliding(2).foreach { case Array((x1, y1, _), (x2, y2, _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1,
        s"jump between ($x1,$y1) and ($x2,$y2)")
    }
  }
}
