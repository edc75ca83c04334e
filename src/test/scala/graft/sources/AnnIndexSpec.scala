package graft.sources

import graft.{SparkSpec, Tables}
import graft.ext.Similarity
import org.apache.spark.sql.functions._

class AnnIndexSpec extends SparkSpec {

  private val dir =
    s"${sys.props("user.dir")}/target/ann-index-spec/ivfpq"

  // each test builds-if-missing so the suite survives filtering to a
  // single test or a failure in an earlier one (r13 advice: test 2 used
  // to depend on test 1 having written the index)
  private def ensureIndex(): Unit = {
    if (!new java.io.File(s"$dir/codes").isDirectory) {
      val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      AnnIndex.buildIvfPq(e, dir)
      graft.CheckpointLease.releaseAll()
    }
  }

  test("stored IVFPQ index: codes land partitioned by centroid_id, the " +
      "serve scan is partition-PRUNED to the probed lists, and results " +
      "are identical to the in-memory path under the same codebooks") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (cents, books) = AnnIndex.buildIvfPq(e, dir)

    // the on-disk layout is one directory per inverted list
    val listDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName).toSet
    assert(listDirs.nonEmpty, "codes tree must be partitioned by list")

    // at 2 probes the probe set is a strict subset of the 16 lists at
    // this SF (the default 6×10 covers all 16 — pruning would be moot),
    // so the pruned scan provably opens less than the index
    val probed = Similarity.ivfProbes(e,
        spark.read.parquet(s"$dir/coarse_codebook"), probesN = 2)
      .select("centroid_id").distinct().collect().map(_.getInt(0)).toSet
    assert(probed.nonEmpty && probed.size < listDirs.size,
      s"probed ${probed.size} of ${listDirs.size} lists — pruning moot")

    // plan-level pruning assertion (the BronzeSpec parquet precedent):
    // the probe filter must reach the scan as a PartitionFilter on
    // centroid_id, not a post-scan row filter
    val served = AnnIndex.serveIvfPqTopK(spark, dir, e, probesN = 2)
    val plan = served.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*centroid_id[^\\]]*".r
      .findFirstIn(plan)
    assert(pf.isDefined,
      s"expected a centroid_id PartitionFilter on the codes scan: $plan")
    assert(pf.get.contains("IN") || pf.get.contains("in("),
      s"probe set must prune as an IN filter: ${pf.get}")

    // result identity with the in-memory IVFADC under the same books
    // and probe count — the scaladoc claim at ivfPqTopK, made checkable
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSet
    val lists = Similarity.ivfAssignments(e, cents)
      .select("vec_id", "centroid_id")
    val codes = Similarity.pqCodes(Similarity.l2normalized(e), books)
      .select("vec_id", "sub_id", "code")
    val mem2 = rows(Similarity.ivfPqServe(e, cents, books,
      codes.join(lists, Seq("vec_id")), probesN = 2))
    assert(rows(served) === mem2,
      "stored-index serve must equal the in-memory path row-for-row")
    // and at the default probe count (the registered-query shape)
    val memFull = rows(Similarity.ivfPqTopK(e,
      coarseCodebook = Some(cents), pqBooks = Some(books)))
    val stFull = rows(AnnIndex.serveIvfPqTopK(spark, dir, e))
    graft.CheckpointLease.releaseAll()
    assert(stFull === memFull,
      "default-probe stored serve must equal ivfPqTopK")
  }

  test("appendIvfPq: delta encodes against FROZEN codebooks, only the " +
      "delta's centroid partitions receive files, and the result equals " +
      "a from-scratch rebuild row-for-row") {
    val adir = s"${sys.props("user.dir")}/target/ann-index-spec/append"
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // a 10-vector delta: small enough that its centroid fan-out is a
    // strict subset of the 16 lists, so partial-write is observable
    val base = e.filter(col("vec_id") % 50 =!= 0)
    val delta = e.filter(col("vec_id") % 50 === 0)
    val cents = Similarity.trainCentroids(e).localCheckpoint(true)
    val books = Similarity.trainPqCodebooks(Similarity.l2normalized(e))
      .localCheckpoint(true)
    AnnIndex.buildIvfPq(base, adir, Some(cents), Some(books))

    // snapshot the per-partition file sets before the append
    def partFiles(): Map[String, Set[String]] =
      new java.io.File(s"$adir/codes").listFiles()
        .filter(_.getName.startsWith("centroid_id=")).map { p =>
          p.getName -> p.listFiles().map(_.getName)
            .filterNot(_.startsWith("_")).toSet
        }.toMap
    val before = partFiles()
    AnnIndex.appendIvfPq(spark, delta, adir)
    val after = partFiles()

    val deltaCents = Similarity.ivfAssignments(delta, cents)
      .select("centroid_id").distinct().collect()
      .map(r => s"centroid_id=${r.getInt(0)}").toSet
    assert(deltaCents.nonEmpty && deltaCents.size < after.size,
      s"delta fan-out ${deltaCents.size}/${after.size} — claim moot")
    after.foreach { case (part, files) =>
      val prev = before.getOrElse(part, Set.empty[String])
      if (deltaCents.contains(part))
        assert((files -- prev).nonEmpty, s"$part gained no file")
      else
        assert(files === prev, s"untouched list $part was rewritten")
    }

    // build(base) + append(delta) == build(all) under the same books
    val rebuildDir =
      s"${sys.props("user.dir")}/target/ann-index-spec/rebuild"
    AnnIndex.buildIvfPq(e, rebuildDir, Some(cents), Some(books))
    def codes(dir: String) = spark.read.parquet(s"$dir/codes")
      .select("vec_id", "sub_id", "code", "centroid_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(codes(adir) === codes(rebuildDir),
      "appended index must equal the from-scratch rebuild row-for-row")
    graft.CheckpointLease.releaseAll()
  }

  test("serving from the stored index skips retraining: a fresh session " +
      "read serves straight from the written codebooks") {
    ensureIndex() // self-contained: rebuild if test 1 didn't run
    // serve alone must not touch trainCentroids/trainPqCodebooks (no
    // checkpoint lease acquired beyond a build-if-missing above)
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val served = AnnIndex.serveIvfPqTopK(spark, dir, e)
    assert(served.filter(col("rank") === 1).count() > 0)
    graft.CheckpointLease.releaseAll()
  }

  test("sim_serve_ivfpq builds once per dataset fingerprint: the second " +
      "invocation serves from the standing artifact without rewriting " +
      "it, and a metadata change flips the fingerprint") {
    val sf = "/root/testdata/sf0.001"
    val fp = AnnIndex.datasetFingerprint(spark, sf)
    assert(fp === AnnIndex.datasetFingerprint(spark, sf),
      "fingerprint must be a pure function of the file metadata")
    val q = AnnIndex.queries("sim_serve_ivfpq")
    val first = q(spark, sf).collect()
    graft.CheckpointLease.releaseAll()
    val codes = new java.io.File(
      s"${sys.props("user.dir")}/target/ann-index/serve_" +
        s"${sf.replaceAll("[^A-Za-z0-9._-]", "_")}_$fp/codes")
    def snapshot() = codes.listFiles().flatMap { d =>
      val kids = Option(d.listFiles()).getOrElse(Array.empty)
      (d +: kids).map(f => f.getPath -> f.lastModified())
    }.toMap
    val before = snapshot()
    val second = q(spark, sf).collect()
    graft.CheckpointLease.releaseAll()
    assert(snapshot() === before,
      "second serve must not rebuild or touch the codes tree")
    assert(first.map(_.toString).sorted.toSeq ===
      second.map(_.toString).sorted.toSeq)
    // a different listing (names/lengths/mtimes) must change the key —
    // fake a dataset dir whose single file differs only in mtime
    val fake = new java.io.File(
      s"${sys.props("user.dir")}/target/ann-index-spec/fakedata")
    val table = new java.io.File(fake, "embeddings.parquet")
    table.mkdirs()
    val f = new java.io.File(table, "part-00000.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    f.setLastModified(1000000000000L)
    val fpA = AnnIndex.datasetFingerprint(spark, fake.getPath)
    f.setLastModified(1100000000000L)
    val fpB = AnnIndex.datasetFingerprint(spark, fake.getPath)
    assert(fpA !== fpB, "an mtime change must flip the fingerprint")
  }

  test("datasetFingerprint sees a leaf rewritten inside a nested " +
      "layout (recursive listing, r17 advice)") {
    val fake = new java.io.File(
      s"${sys.props("user.dir")}/target/ann-index-spec/nesteddata")
    val leafDir = new java.io.File(fake, "embeddings.parquet/p=1")
    leafDir.mkdirs()
    val leaf = new java.io.File(leafDir, "part-00000.parquet")
    java.nio.file.Files.write(leaf.toPath, Array[Byte](1, 2, 3))
    leaf.setLastModified(1000000000000L)
    // pin the PARENT dirs' mtimes so only the leaf's own metadata can
    // distinguish the two fingerprints — the in-place-rewrite scenario
    new java.io.File(fake, "embeddings.parquet").setLastModified(999L)
    leafDir.setLastModified(999L)
    val before = AnnIndex.datasetFingerprint(spark, fake.getPath)
    leaf.setLastModified(1100000000000L)
    new java.io.File(fake, "embeddings.parquet").setLastModified(999L)
    leafDir.setLastModified(999L)
    val after = AnnIndex.datasetFingerprint(spark, fake.getPath)
    assert(before !== after,
      "a leaf-only rewrite in a partitioned layout must flip the key")
  }

  test("ensureServeIndex GCs stale fingerprints of the same dataset at " +
      "build time; other keys and the live dir are untouched") {
    val sf = "/root/testdata/sf0.001"
    val key = sf.replaceAll("[^A-Za-z0-9._-]", "_")
    val fp = AnnIndex.datasetFingerprint(spark, sf)
    val parent = new java.io.File(
      s"${sys.props("user.dir")}/target/ann-index")
    def plant(name: String): java.io.File = {
      val d = new java.io.File(parent, s"$name/codes")
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "_SUCCESS").toPath, Array[Byte]())
      new java.io.File(parent, name)
    }
    val staleA = plant(s"serve_${key}_deadbeef")
    val staleB = plant(s"serve_${key}_cafe.__build") // orphaned staging
    // one sanitized path being a PREFIX of another must not cross-GC:
    // this is a different dataset key, not a stale fingerprint of ours
    val otherKey = plant(s"serve_${key}_extra_feed")
    // a SAME-fingerprint per-builder staging may be a live concurrent
    // build of this very index — the sweep must leave it alone (r18
    // advice: unique staging paths only help if nobody deletes them)
    val liveStaging = plant(s"serve_${key}_$fp.99999-abcd1234.__build")
    // force a build so the GC-at-build-time path runs
    graft.sources.Scratch.deleteRecursivelyUnder(
      new java.io.File(parent, s"serve_${key}_$fp"),
      graft.sources.Scratch.allowedRoots(spark))
    val dir = AnnIndex.ensureServeIndex(spark, sf)
    graft.CheckpointLease.releaseAll()
    assert(!staleA.exists(), "stale same-key fingerprint must be swept")
    assert(!staleB.exists(), "orphaned staging must be swept")
    assert(otherKey.exists(),
      "a longer key sharing this key as a prefix must survive")
    assert(liveStaging.exists(),
      "a same-fingerprint staging (possibly a live concurrent build) " +
        "must survive the sweep")
    assert(new java.io.File(s"$dir/codes/_SUCCESS").exists(),
      "the rebuilt live index must be complete")
    // second call: standing artifact, no GC, no rebuild
    val mtime = new java.io.File(dir).lastModified()
    assert(AnnIndex.ensureServeIndex(spark, sf) === dir)
    assert(new java.io.File(dir).lastModified() === mtime)
    graft.sources.Scratch.deleteRecursivelyUnder(
      otherKey, graft.sources.Scratch.allowedRoots(spark))
    graft.sources.Scratch.deleteRecursivelyUnder(
      liveStaging, graft.sources.Scratch.allowedRoots(spark))
  }
}
