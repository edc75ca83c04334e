package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The aggregated forms of the dedup kernels: explode every doc's tokens
  * or shingles, then one groupBy on doc_id with one aggregate per
  * signature slot or fingerprint bit. They re-shuffle the whole corpus,
  * so no query runs them; they are the references the narrow kernel
  * paths ([[Dedup.minhashSignaturesNarrow]],
  * [[Dedup.minhashSignaturesPortableNarrow]], [[Dedup.simhash]]) and the
  * batch LSH candidates are checked against.
  */
object DedupOracle {

  /** MinHash signature per doc: (doc_id, sig array<long>[MinhashK]). */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    // xxhash64 over (slot, shingle) as two typed args — unambiguous
    // seeding with no separator-collision risk between slot index and
    // shingle text, so the k hash functions stay independent
    val sigCols = (0 until Dedup.MinhashK).map { j =>
      min(xxhash64(lit(j), col("shingle"))).as(s"h$j")
    }
    Dedup.shingleIds(docs).groupBy("doc_id")
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        array((0 until Dedup.MinhashK).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** MinHash signatures over STRING shingles `(doc_id, shingle)` with the
    * portable slot hashes: one md5 per shingle, then k min-aggregates of
    * `(A_j · h + B_j) mod 2^30` in one keyed pass.
    */
  def minhashSignaturesPortable(sh: DataFrame): DataFrame = {
    val base = conv(substring(md5(col("shingle")), 1, 8), 16, 10)
      .cast("long")
    val sigCols = (0 until Dedup.MinhashK).map { j =>
      min((col("h") * Dedup.slotA(j) + Dedup.slotB(j)) % Dedup.SlotMod)
        .as(s"h$j")
    }
    sh.select(col("doc_id"), base.as("h"))
      .groupBy("doc_id")
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        array((0 until Dedup.MinhashK).map(j => col(s"h$j")): _*).as("sig"))
  }

  /** SimHash per doc `(doc_id, simhash)`: one conditional ±1 sum per
    * fingerprint bit over the doc's distinct-token hashes.
    */
  def simhashAgg(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", Dedup.tokenHash64(col("tok")))
    val bitSums = (0 until Dedup.SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val fp = (0 until Dedup.SimhashBits)
      .map(j => when(col(s"b$j") > 0, 1L << j).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }
}
