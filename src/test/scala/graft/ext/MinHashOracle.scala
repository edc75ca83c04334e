package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The aggregated MinHash signature: explode every doc's 3-shingles, then
  * `min(xxhash64(slot, shingle))` per slot in one groupBy on doc_id. It
  * re-shuffles the whole corpus, so no query runs it; it is the reference
  * the narrow kernel path ([[Dedup.minhashSignaturesNarrow]]) and the
  * batch LSH candidates are checked against.
  */
object MinHashOracle {

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
}
