package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator` computing a k-min MinHash signature in ONE pass over
  * a document's shingles (SURVEY.md §4: "Aggregator[IN,BUF,OUT] if we
  * hand-roll MinHash sketches") — the buffer is a fixed k-long array of
  * running minima, so the aggregation is a single shuffle with map-side
  * partial merge and O(k) state per group, the same cost shape as
  * `HashAggregate` on k `min()` columns but with one buffer object instead
  * of k codegen columns (kinder to codegen limits as k grows to 128+).
  *
  * Hashes are FNV-1a-64 seeded per signature slot — JVM-deterministic.
  * No query runs it: MinHashAggSpec keeps it as a one-pass reference whose
  * slot-agreement rate must estimate the exact shingle Jaccard.
  */
class MinHashAgg(k: Int) extends Aggregator[String, Array[Long], Array[Long]] {

  private def fnv1a64(seed: Int, s: String): Long = {
    var h = 0xcbf29ce484222325L ^ seed.toLong
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(buf: Array[Long], shingle: String): Array[Long] = {
    var j = 0
    while (j < k) {
      val h = fnv1a64(j, shingle)
      if (h < buf(j)) buf(j) = h
      j += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < k) {
      if (b(j) < a(j)) a(j) = b(j)
      j += 1
    }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}

object MinHashAgg {
  /** Column function: `minhash_sig(shingleCol)` → array<long> of length k. */
  def minhashSig(shingle: Column, k: Int = 32): Column =
    udaf(new MinHashAgg(k), Encoders.STRING)(shingle)
}
