package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ext.Dedup

/** Streaming MinHash-LSH near-duplicate detection: as documents arrive,
  * emit every (earlier_doc, new_doc) candidate pair that shares an LSH
  * band — the incremental form of [[graft.ext.Dedup.lshCandidates]], for
  * pipelines that must reject near-dups at INGEST time rather than in a
  * nightly batch sweep.
  *
  * == Shape ==
  * 1. Signatures are computed with the NARROW path
  *    ([[Dedup.minhashSignaturesNarrow]]) — a per-row projection, no
  *    stateful aggregation, so it composes with any streaming source.
  * 2. Each doc explodes into its [[Dedup.MinhashK]]/[[Dedup.BandRows]]
  *    band hashes (narrow).
  * 3. `groupByKey(band_hash)` + `flatMapGroupsWithState` keeps the doc
  *    ids previously seen in each band bucket and emits a candidate pair
  *    for every (stored, incoming) combination in that bucket.
  * 4. Downstream dedups pairs seen via multiple bands (same as the batch
  *    operator's `distinct`) and runs the exact-Jaccard verify against a
  *    document store — kept out of this operator so its state stays
  *    bounded and per-band.
  *
  * == Scale design ==
  * State is O(docs × bands) band memberships, hash-partitioned by band
  * hash — the same key the batch self-join shuffles on, so hot buckets
  * distribute identically. A production deployment bounds state with the
  * `maxPerBucket` cap (a bucket holding thousands of docs is a
  * stop-band carrying no discriminating signal — the LSH analog of the
  * stop-shingle df cap) plus event-time timeout eviction for
  * sliding-freshness dedup windows.
  */
object NearDupStream {

  case class BandedDoc(band_hash: Long, doc_id: Long)

  case class CandidatePair(doc_a: Long, doc_b: Long, band_hash: Long)

  /** Per-bucket doc ids seen so far (capped). */
  case class BucketState(docIds: List[Long], dropped: Boolean)

  val DefaultMaxPerBucket = 64

  def pairEmitter(maxPerBucket: Int): (Long, Iterator[BandedDoc],
      GroupState[BucketState]) => Iterator[CandidatePair] =
    (bandHash, docs, state) => {
      val prev = state.getOption.getOrElse(BucketState(Nil, dropped = false))
      var stored = prev.docIds
      var dropped = prev.dropped
      val out = List.newBuilder[CandidatePair]
      // batch arrival order within a bucket is nondeterministic, so make
      // emission order-insensitive: pair ids as (min, max)
      docs.foreach { d =>
        if (!dropped && !stored.contains(d.doc_id)) {
          stored.foreach { s =>
            out += CandidatePair(math.min(s, d.doc_id),
              math.max(s, d.doc_id), bandHash)
          }
          stored = d.doc_id :: stored
          if (stored.length > maxPerBucket) {
            // stop-band: too hot to discriminate — stop emitting from
            // this bucket entirely (mirrors the batch df cap semantics
            // of dropping the key, keeping state bounded)
            stored = Nil
            dropped = true
          }
        }
      }
      state.update(BucketState(stored, dropped))
      out.result().iterator
    }

  /** Band hashes per signature — identical banding to the batch
    * [[Dedup.lshCandidates]] (xxhash64 over the band's rows + band id).
    */
  def bandedDocs(docs: DataFrame): Dataset[BandedDoc] = {
    val nBands = Dedup.MinhashK / Dedup.BandRows
    implicit val enc = Encoders.product[BandedDoc]
    Dedup.minhashSignaturesNarrow(docs)
      .select(col("doc_id"), explode(array(
        (0 until nBands).map(b => xxhash64(
          (0 until Dedup.BandRows).map(r =>
            col("sig")(b * Dedup.BandRows + r)) :+ lit(b): _*)): _*))
        .as("band_hash"))
      .select(col("band_hash"), col("doc_id"))
      .as[BandedDoc]
  }

  /** Streaming candidate pairs (Append mode): docs stream in with
    * `doc_id` and `text`; every band collision with an earlier doc emits
    * a candidate. Pairs colliding in several bands appear once per band —
    * aggregate on (doc_a, doc_b) downstream if band multiplicity is not
    * wanted.
    */
  def candidatesStream(docs: DataFrame,
      maxPerBucket: Int = DefaultMaxPerBucket): Dataset[CandidatePair] = {
    implicit val enc = Encoders.product[CandidatePair]
    implicit val stateEnc = Encoders.product[BucketState]
    bandedDocs(docs)
      .groupByKey(_.band_hash)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(pairEmitter(maxPerBucket))
  }
}
