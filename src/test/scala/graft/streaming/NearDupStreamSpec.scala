package graft.streaming

import graft.SparkSpec
import graft.ext.{Dedup, DedupOracle}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class NearDupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val near1 = "the quick brown fox jumps over the lazy dog today"
  private val near2 = "the quick brown fox jumps over the lazy dog tonight"
  private val far = "completely different words with no shared shingles here"

  test("streaming candidates across micro-batches equal the batch LSH " +
      "candidate set") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("doc_id", "text")
    val q = NearDupStream.candidatesStream(sdf)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      // near-dup pair split ACROSS micro-batches: state must carry doc 1
      mem.addData((1L, near1), (3L, far))
      q.processAllAvailable()
      mem.addData((2L, near2))
      q.processAllAvailable()
      val streamed = spark.table("neardup_out")
        .select("doc_a", "doc_b").distinct()
        .as[(Long, Long)].collect().toSet
      val batch = Dedup.lshCandidates(DedupOracle.minhashSignatures(
          Seq((1L, near1), (2L, near2), (3L, far)).toDF("doc_id", "text")))
        .as[(Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed.contains((1L, 2L)))
      assert(!streamed.exists { case (a, b) => a == 3L || b == 3L })
    } finally q.stop()
  }

  test("narrow signatures equal the aggregated signatures") {
    val docs = Seq((1L, near1), (2L, near2), (3L, far), (4L, "too short"))
      .toDF("doc_id", "text")
    val agg = DedupOracle.minhashSignatures(docs)
      .as[(Long, Seq[Long])].collect().toMap
    val narrow = Dedup.minhashSignaturesNarrow(docs)
      .as[(Long, Seq[Long])].collect().toMap
    assert(narrow === agg)
    assert(!narrow.contains(4L)) // under 3 tokens -> no signature
  }

  test("hot buckets stop emitting at the cap") {
    // every doc identical -> all collide in every band; with a cap of 3
    // the bucket degrades to a stop-band instead of emitting O(n^2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sdf = mem.toDF().toDF("doc_id", "text")
    val q = NearDupStream.candidatesStream(sdf, maxPerBucket = 3)
      .writeStream.format("memory").queryName("neardup_cap")
      .outputMode("append").start()
    try {
      mem.addData((1L to 10L).map(i => (i, near1)): _*)
      q.processAllAvailable()
      mem.addData((11L, near1))
      q.processAllAvailable()
      val pairs = spark.table("neardup_cap")
        .select("doc_a", "doc_b").distinct().count()
      // uncapped would be C(11,2)=55 distinct pairs; the cap kills the
      // bucket after 3 members, so only pairs among the first few emit
      assert(pairs <= 6, s"cap did not bound emission: $pairs pairs")
    } finally q.stop()
  }
}
