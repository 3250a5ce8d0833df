package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Commit-protocol suite for the versioned index layout: manifest
  * metadata, latest/time-travel resolution, optimistic-concurrency
  * commits (including a real two-thread race), batchId-keyed idempotent
  * appends, the sidecar-after-crash retry, the mixed-schema rewrite,
  * and the vacuum retention guard.
  */
class IndexCommitSpec extends SparkSpec {

  private def embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .filter(col("vec_id") =!= 0)

  /** Fresh committed-v1 index on the `vec_id % 5 != 2` slice. */
  private def freshIndex(tag: String)
      : (java.nio.file.Path, String, Array[Array[Double]]) = {
    val base = embs.filter(col("vec_id") % 5 =!= 2)
    val idx = VectorOps.ivfIndexDeterministic(base, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory(s"idx_commit_$tag")
    val path = dir.resolve("index").toString
    VectorOps.ivfWrite(idx, path)
    VectorOps.writeManifest(spark, path, 1, VectorOps.listIndexFiles(spark, path))
    (dir, path, idx.centroids)
  }

  private def rmrf(dir: java.nio.file.Path): Unit =
    Staging.deleteRecursively(dir)

  test("manifest meta commits atomically with the file list; " +
      "metadata-free manifests read back unchanged") {
    val (dir, path, _) = freshIndex("meta")
    try {
      val files = VectorOps.readManifest(spark, path, 1)
      assert(VectorOps.readManifestMeta(spark, path, 1).isEmpty)
      VectorOps.writeManifest(spark, path, 2, files,
        Map("batch" -> "7", "deletes" -> "_deletes/v2"))
      // header lines are metadata, never files
      assert(VectorOps.readManifest(spark, path, 2) == files)
      assert(VectorOps.readManifestMeta(spark, path, 2) ==
        Map("batch" -> "7", "deletes" -> "_deletes/v2"))
      // a ':' in a key (or a newline anywhere) would corrupt the header
      intercept[IllegalArgumentException] {
        VectorOps.writeManifest(spark, path, 3, files, Map("a:b" -> "x"))
      }
    } finally rmrf(dir)
  }

  test("listVersions/latestVersion/readIndexLatest: HEAD resolution " +
      "with tombstones applied; pinned older reads unaffected") {
    val (dir, path, cents) = freshIndex("latest")
    try {
      assert(VectorOps.listVersions(spark, path) == Seq(1))
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2), cents,
        path, "vec_id", "embedding")
      VectorOps.writeManifest(spark, path, 2,
        VectorOps.listIndexFiles(spark, path))
      val doomed = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      VectorOps.commitDeletes(spark, path, 2, 3, doomed)
      assert(VectorOps.listVersions(spark, path) == Seq(1, 2, 3))
      assert(VectorOps.latestVersion(spark, path).contains(3))
      val latest = VectorOps.readIndexLatest(spark, path, "vec_id")
      // HEAD must never serve deleted rows
      assert(latest.join(doomed, Seq("vec_id"), "left_semi").count() == 0)
      assert(latest.count() ==
        embs.filter(col("vec_id") % 7 =!= 3).count())
      // pinned v1 still time-travels to the pre-append, pre-delete state
      assert(VectorOps.readIndexVersion(spark, path, 1).count() ==
        embs.filter(col("vec_id") % 5 =!= 2).count())
      // a never-committed layout resolves to None, and the latest read
      // fails loudly instead of inventing an empty index
      val empty = dir.resolve("nothing").toString
      assert(VectorOps.latestVersion(spark, empty).isEmpty)
      intercept[IllegalStateException] {
        VectorOps.readIndexLatest(spark, empty, "vec_id")
      }
    } finally rmrf(dir)
  }

  test("commitFilesOcc: a stale-head writer loses the race, retries, " +
      "and its files MERGE with the winner's") {
    val (dir, path, cents) = freshIndex("occ")
    try {
      // two appenders' files staged by the real batch path
      val (v2, s2, _) = VectorOps.ivfAppendBatch(spark,
        embs.filter(col("vec_id") % 5 === 2), cents, path,
        "vec_id", "embedding", batchId = 100L)
      assert(v2 == 2 && !s2)
      // writer B read HEAD before A committed (assumeHead = 1): its
      // first create attempt at v2 MUST collide and the retry must land
      // v3 carrying BOTH writers' files
      val extra = embs.filter(col("vec_id") % 5 === 2)
        .limit(3).select(col("vec_id") + 1000000, col("embedding"))
        .toDF("vec_id", "embedding")
      val stage = dir.resolve("bfiles").toString
      extra.select(col("vec_id"), col("embedding"),
          VectorOps.ivfAssign(col("embedding"), cents).as("centroid"))
        .coalesce(1).write.partitionBy("centroid").parquet(stage)
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val rels = new java.io.File(stage).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("centroid="))
        .sortBy(_.getName).flatMap { part =>
          part.listFiles().filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName).zipWithIndex.map { case (f, i) =>
              val rel = s"${part.getName}/occ-b-$i.parquet"
              fs.mkdirs(new org.apache.hadoop.fs.Path(path, part.getName))
              assert(fs.rename(
                new org.apache.hadoop.fs.Path(f.getAbsolutePath),
                new org.apache.hadoop.fs.Path(path, rel)))
              rel
            }
        }.toSeq
      val c = VectorOps.commitFilesOcc(spark, path, rels,
        assumeHead = Some(1))
      assert(c.version == 3, "retry must land on top of the real HEAD")
      assert(c.attempts == 2, "the stale first attempt must have collided")
      val v3files = VectorOps.readManifest(spark, path, 3).toSet
      assert(VectorOps.readManifest(spark, path, 2).toSet.subsetOf(v3files),
        "the loser's merge must keep the winner's files")
      assert(rels.forall(v3files), "…and add its own")
      assert(VectorOps.readIndexVersion(spark, path, 3).count() ==
        embs.count() + 3)
    } finally rmrf(dir)
  }

  test("two genuinely concurrent appenders both land; the union is exact") {
    val (dir, path, cents) = freshIndex("race")
    try {
      val batchA = embs.filter(col("vec_id") % 5 === 2 && col("vec_id") % 2 === 0)
      val batchB = embs.filter(col("vec_id") % 5 === 2 && col("vec_id") % 2 === 1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = VectorOps.ivfAppendBatch(spark, batchA, cents,
            path, "vec_id", "embedding", batchId = 1L)._1
        })
        val fb = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = VectorOps.ivfAppendBatch(spark, batchB, cents,
            path, "vec_id", "embedding", batchId = 2L)._1
        })
        val versions = Set(fa.get(), fb.get())
        assert(versions == Set(2, 3), s"both must commit, got $versions")
      } finally pool.shutdown()
      val head = VectorOps.readIndexVersion(spark, path, 3)
      assert(head.count() == embs.count(), "no append may be lost")
      assert(head.select(col("vec_id")).distinct().count() == embs.count(),
        "…and none duplicated")
      assert(VectorOps.committedBatchIds(spark, path) == Set(1L, 2L))
    } finally rmrf(dir)
  }

  test("ivfAppendBatch replay (same batchId) is a no-op: skipped, " +
      "file set and row set unchanged") {
    val (dir, path, cents) = freshIndex("replay")
    try {
      val batch = embs.filter(col("vec_id") % 5 === 2)
      val (v1st, s1st, _) = VectorOps.ivfAppendBatch(spark, batch, cents, path,
        "vec_id", "embedding", batchId = 42L)
      assert(v1st == 2 && !s1st)
      val filesAfter = VectorOps.readManifest(spark, path, 2)
      val (v2nd, s2nd, _) = VectorOps.ivfAppendBatch(spark, batch, cents, path,
        "vec_id", "embedding", batchId = 42L)
      assert(s2nd, "a redelivered batchId must be recognized")
      assert(v2nd == 2, "…and commit nothing")
      assert(VectorOps.latestVersion(spark, path).contains(2))
      assert(VectorOps.listIndexFiles(spark, path) == filesAfter,
        "replay must not land even an unreferenced file")
      assert(VectorOps.readIndexVersion(spark, path, 2).count() == embs.count())
    } finally rmrf(dir)
  }

  test("commitDeletes survives a crash between sidecar write and " +
      "manifest create: the retry reclaims the orphan and commits") {
    val (dir, path, _) = freshIndex("crash")
    try {
      val doomed = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      // simulate the crash: the sidecar landed, the manifest did not
      doomed.select(col("vec_id").cast("long").as("vid"))
        .coalesce(1).write.parquet(s"$path/_deletes/v2")
      // the orphan is INVISIBLE (no manifest references it) …
      assert(VectorOps.latestVersion(spark, path).contains(1))
      // … and the retry at the same version number succeeds (the old
      // errorifexists ordering wedged v2 permanently here)
      VectorOps.commitDeletes(spark, path, 1, 2, doomed)
      val mor = VectorOps.readIndexVersionMor(spark, path, 2, "vec_id")
      assert(mor.join(doomed, Seq("vec_id"), "left_semi").count() == 0)
      // an already-committed target version is refused loudly
      val refused = intercept[java.io.IOException] {
        VectorOps.commitDeletes(spark, path, 1, 2, doomed)
      }
      assert(refused.getMessage.contains("already committed"),
        refused.getMessage)
    } finally rmrf(dir)
  }

  test("an orphan sidecar under a version later committed by a plain " +
      "append is never inherited (resolution is via manifest meta only)") {
    val (dir, path, cents) = freshIndex("orphan")
    try {
      // a crashed/racing delete attempt left _deletes/v2 behind …
      embs.limit(5).select(col("vec_id").cast("long").as("vid"))
        .coalesce(1).write.parquet(s"$path/_deletes/v2")
      // … then an APPEND commits version 2 (no deletes intended)
      val (v, _, _) = VectorOps.ivfAppendBatch(spark,
        embs.filter(col("vec_id") % 5 === 2), cents, path,
        "vec_id", "embedding", batchId = 9L)
      assert(v == 2)
      assert(VectorOps.readDeletes(spark, path, 2).isEmpty,
        "the append's v2 must not inherit the orphan's tombstones")
      assert(VectorOps.readIndexVersionMor(spark, path, 2, "vec_id")
        .count() == embs.count())
    } finally rmrf(dir)
  }

  test("versioned rewrite of a mixed-schema partition keeps the evolved " +
      "column (mergeSchema in rewriteVersioned)") {
    val (dir, path, cents) = freshIndex("evolve")
    try {
      // evolution: the appended files carry an extra `quality` column
      val batch = embs.filter(col("vec_id") % 5 === 2)
      batch.select(col("vec_id"), col("embedding"),
          (col("vec_id") % 100).cast("long").as("quality"),
          VectorOps.ivfAssign(col("embedding"), cents).as("centroid"))
        .write.partitionBy("centroid").mode("append").parquet(path)
      VectorOps.writeManifest(spark, path, 2,
        VectorOps.listIndexFiles(spark, path))
      // compact the mixed-schema layout — pre-fix this silently dropped
      // `quality` from every rewritten partition
      val (rewritten, _, _) =
        VectorOps.ivfCompactVersioned(spark, path, 2, 3)
      assert(rewritten >= 1, "fixture must carry real multi-file partitions")
      val merged = VectorOps.readIndexVersionMerged(spark, path, 3)
      val expect = batch.agg(sum(col("vec_id") % 100)).head().getLong(0)
      assert(merged.agg(sum(col("quality"))).head().getLong(0) == expect,
        "evolved values must survive the rewrite bit-exactly")
      assert(merged.filter(col("quality").isNotNull).count() == batch.count())
    } finally rmrf(dir)
  }

  test("ivfVacuum retention guard: young unreferenced files survive, " +
      "aged ones are reclaimed") {
    val (dir, path, cents) = freshIndex("vacuum")
    try {
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2), cents,
        path, "vec_id", "embedding")
      VectorOps.writeManifest(spark, path, 2,
        VectorOps.listIndexFiles(spark, path))
      val (_, filesV2, _) = VectorOps.ivfCompactVersioned(spark, path, 2, 3)
      val orphans = VectorOps.readManifest(spark, path, 2).toSet --
        VectorOps.readManifest(spark, path, 3).toSet
      assert(orphans.nonEmpty && filesV2 > 0)
      // all superseded files look freshly written → a retention window
      // spares every one of them (the concurrent-appender guarantee)
      val (del0, kept0) = VectorOps.ivfVacuum(spark, path, Seq(3),
        minAgeMs = 3600L * 1000L)
      assert(del0 == 0, "files inside the retention window must survive")
      // age them past the window → the same vacuum reclaims exactly them
      orphans.foreach { f =>
        java.nio.file.Files.setLastModifiedTime(
          java.nio.file.Paths.get(path, f),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 7200L * 1000L))
      }
      val (del1, _) = VectorOps.ivfVacuum(spark, path, Seq(3),
        minAgeMs = 3600L * 1000L)
      assert(del1 == orphans.size)
      assert(VectorOps.listIndexFiles(spark, path).toSet ==
        VectorOps.readManifest(spark, path, 3).toSet)
      assert(kept0 >= VectorOps.readManifest(spark, path, 3).size)
    } finally rmrf(dir)
  }

  test("versionAsOf: ties resolve to the highest version, untimestamped " +
      "commits are not timestamp-resolvable, pre-history probes error") {
    val (dir, path, _) = freshIndex("asof") // v1 carries NO ts header
    try {
      val files = VectorOps.readManifest(spark, path, 1)
      VectorOps.writeManifest(spark, path, 2, files, Map("ts" -> "100"))
      VectorOps.writeManifest(spark, path, 3, files, Map("ts" -> "100"))
      VectorOps.writeManifest(spark, path, 4, files, Map("ts" -> "200"))
      // a probe before the first TIMESTAMPED commit errors — v1 exists
      // but predates timestamping and must not be silently served
      intercept[IllegalStateException] {
        VectorOps.versionAsOf(spark, path, 50L)
      }
      // equal timestamps: the later commit wins (same-instant commits
      // are ordered by version, the only order the log defines)
      assert(VectorOps.versionAsOf(spark, path, 100L) == 3)
      assert(VectorOps.versionAsOf(spark, path, 150L) == 3)
      assert(VectorOps.versionAsOf(spark, path, 200L) == 4)
      assert(VectorOps.versionAsOf(spark, path, Long.MaxValue) == 4)
      // integer-pinned reads still serve the untimestamped version
      assert(VectorOps.readIndexVersion(spark, path, 1).count() ==
        embs.filter(col("vec_id") % 5 =!= 2).count())
      // a never-timestamped index refuses timestamp resolution loudly
      val (dir2, path2, _) = freshIndex("asofnone")
      try intercept[IllegalStateException] {
        VectorOps.versionAsOf(spark, path2, 100L)
      } finally rmrf(dir2)
    } finally rmrf(dir)
  }

  test("reclusterVersioned: content byte-identical, pending tombstones " +
      "carried, pinned versions untouched, change feed silent") {
    val (dir, path, _) = freshIndex("recluster")
    try {
      // pending logical delete at v2 — the rewrite must carry the pointer
      val doomed = embs.filter(col("vec_id") % 7 === 3 &&
        col("vec_id") % 5 =!= 2).select(col("vec_id"))
      VectorOps.commitDeletes(spark, path, 1, 2, doomed)
      val filesBefore = VectorOps.readManifest(spark, path, 2)
      val (nFrom, nTo) = VectorOps.reclusterVersioned(
        spark, path, 2, 3, "vec_id", numRanges = 4)
      assert(nFrom == filesBefore.length && nTo > 0)
      // the new manifest lists ONLY new files; old data files still exist
      val v3Files = VectorOps.readManifest(spark, path, 3)
      assert(v3Files.toSet.intersect(filesBefore.toSet).isEmpty,
        "a recluster commit must reference only its own rewritten files")
      // MOR content identical (tombstones still subtract)
      val v2 = VectorOps.readIndexVersionMor(spark, path, 2, "vec_id")
        .select(col("vec_id"), col("embedding"))
      val v3 = VectorOps.readIndexVersionMor(spark, path, 3, "vec_id")
        .select(col("vec_id"), col("embedding"))
      assert(v3.exceptAll(v2).union(v2.exceptAll(v3)).count() == 0,
        "recluster moved meaning, not just bytes")
      assert(VectorOps.readManifestMeta(spark, path, 3).contains("deletes"),
        "the pending tombstone pointer must ride the recluster commit")
      // pinned v1 still serves pre-delete content
      assert(VectorOps.readIndexVersion(spark, path, 1).count() ==
        embs.filter(col("vec_id") % 5 =!= 2).count())
      // dataChange-free: the feed reports only the v2 logical delete
      val feed = VectorOps.indexChanges(spark, path, 1, 3,
        "vec_id", "embedding")
      assert(feed.filter(col("version") === 3).count() == 0,
        "op:recluster must be silent in the change feed")
      // fresh zones on the re-clustered layout actually skip
      VectorOps.writeColStats(spark, path, 3, "vec_id")
      val ids = embs.agg(max(col("vec_id"))).head().getLong(0)
      val (_, r, t) = VectorOps.readIndexVersionPruned(
        spark, path, 3, "vec_id", 1L, ids / 8)
      assert(r < t, s"re-clustered zones must prune ($r of $t opened)")
    } finally rmrf(dir)
  }

  test("bloom sidecar: no false negatives for any present id, the point " +
      "read matches the full filter, and vacuumLog retains it with its " +
      "version") {
    val (dir, path, _) = freshIndex("bloom")
    try {
      VectorOps.writeBloomFilter(spark, path, 1, "vec_id", fpp = 1e-6)
      val base = embs.filter(col("vec_id") % 5 =!= 2)
      // EVERY present id must be found — false negatives are forbidden by
      // construction, so this is a theorem check, not a sample
      val ids = base.select(col("vec_id")).collect().map(_.getLong(0))
      val total = VectorOps.readManifest(spark, path, 1).length
      var prunedAtLeastOnce = false
      ids.take(50).foreach { id =>
        val (rows, kept, _) =
          VectorOps.readIndexVersionPoint(spark, path, 1, "vec_id", id)
        assert(rows.count() == 1, s"present id $id lost by the bloom prune")
        if (kept.length < total) prunedAtLeastOnce = true
      }
      assert(prunedAtLeastOnce, "the prune never pruned — vacuous blooms")
      // an out-of-domain probe opens nothing
      val absent = ids.max + 999983L
      val (rowsA, keptA, _) =
        VectorOps.readIndexVersionPoint(spark, path, 1, "vec_id", absent)
      assert(rowsA.count() == 0 && keptA.isEmpty)
      // the sidecar follows its version through log retention
      val files = VectorOps.readManifest(spark, path, 1)
      VectorOps.writeManifest(spark, path, 2, files)
      VectorOps.writeBloomFilter(spark, path, 2, "vec_id", fpp = 1e-6)
      VectorOps.vacuumLog(spark, path, Seq(2))
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        path, "_manifests/v00002.bloom.vec_id")))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
        path, "_manifests/v00001.bloom.vec_id")),
        "a dropped version's bloom sidecar must be reclaimed with it")
    } finally rmrf(dir)
  }

  test("vacuum-vs-OCC race: a freshly landed, NOT-yet-committed appender " +
      "file survives a retention-window vacuum and is reclaimed after it") {
    // the concurrent-appender window ivfVacuum's retention contract
    // exists for: an OCC appender lands its files FIRST and commits the
    // manifest AFTER ([[VectorOps.ivfAppendBatch]] steps 2-4), so in the
    // land-to-commit gap those files are unreferenced by every manifest
    // — a vacuum running without a retention window would delete them
    // out from under the commit
    val (dir, path, _) = freshIndex("occrace")
    try {
      // stage the racer's file exactly where an appender lands it: a new
      // deterministic name in a centroid dir, referenced by NO manifest
      val existing = VectorOps.readManifest(spark, path, 1).head
      val part = existing.takeWhile(_ != '/')
      val racer = s"$part/batch-racer-0-0.parquet"
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(path, existing),
        java.nio.file.Paths.get(path, racer))
      // inside the retention window: the in-flight file must survive
      val (del0, _) = VectorOps.ivfVacuum(spark, path, Seq(1),
        minAgeMs = 3600L * 1000L)
      assert(del0 == 0, "a mid-append racer's file was vacuumed before " +
        "its commit — the lost-update ivfVacuum's contract rules out")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, racer)))
      // the racer never commits (crashed); once the file ages past the
      // window the same vacuum reclaims it
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(path, racer),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 7200L * 1000L))
      val (del1, _) = VectorOps.ivfVacuum(spark, path, Seq(1),
        minAgeMs = 3600L * 1000L)
      assert(del1 == 1)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, racer)))
      // the committed version is untouched throughout
      assert(VectorOps.listIndexFiles(spark, path).toSet ==
        VectorOps.readManifest(spark, path, 1).toSet)
    } finally rmrf(dir)
  }

  test("vacuumLog reclaims aged orphaned manifest temp files " +
      "(.tmp-* from an atomicCreate crash) and spares young ones") {
    val (dir, path, _) = freshIndex("tmporphan")
    try {
      val tmpA = java.nio.file.Paths.get(path, "_manifests/.tmp-crashed-a")
      val tmpB = java.nio.file.Paths.get(path, "_manifests/.tmp-crashed-b")
      java.nio.file.Files.writeString(tmpA, "torn")
      java.nio.file.Files.writeString(tmpB, "torn")
      // age one past the window; the other is a committer mid-publish
      java.nio.file.Files.setLastModifiedTime(tmpA,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 7200L * 1000L))
      VectorOps.vacuumLog(spark, path, Seq(1), minAgeMs = 3600L * 1000L)
      assert(!java.nio.file.Files.exists(tmpA),
        "an aged orphaned temp must be reclaimed — nothing references it")
      assert(java.nio.file.Files.exists(tmpB),
        "a young temp may be a concurrent commit mid-publish")
      // minAgeMs = 0 asserts no writer is mid-commit: everything goes
      VectorOps.vacuumLog(spark, path, Seq(1))
      assert(!java.nio.file.Files.exists(tmpB))
      // the kept version's manifest is untouched
      assert(VectorOps.manifestExists(spark, path, 1))
    } finally rmrf(dir)
  }

  test("ivfUpsert: targeted rewrite (one hot id, at most its partitions), " +
      "tombstoned id resurrects with NEW content only, new ids degenerate " +
      "to a pure append") {
    val (dir, path, cents) = freshIndex("upsert")
    try {
      val base = embs.filter(col("vec_id") % 5 =!= 2)
      val baseN = base.count()
      val someId = base.agg(min(col("vec_id"))).head().getLong(0)
      val doomId = base.agg(max(col("vec_id"))).head().getLong(0)
      VectorOps.commitDeletes(spark, path, 1, 2,
        base.filter(col("vec_id") === doomId).select(col("vec_id")))
      // upsert one existing id + one tombstoned id, both re-embedded
      val upd = base.filter(col("vec_id").isin(someId, doomId))
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(2.0f)).as("embedding"))
      val (nRw, nRep, nIns) = VectorOps.ivfUpsert(spark, path, 2, 3,
        upd, cents, "vec_id", "embedding")
      assert(nIns == 2)
      assert(nRep == 1, "the tombstoned id is invisible — not a replacement")
      assert(nRw >= 1 && nRw <= 2,
        s"only the partitions physically holding the 2 ids rewrite, got $nRw")
      val v3 = VectorOps.readIndexVersionMor(spark, path, 3, "vec_id")
      // resurrection by intent: exactly ONE row for the tombstoned id,
      // carrying the NEW vector (the stale physical row must be purged)
      val resurrected = v3.filter(col("vec_id") === doomId)
        .select(col("embedding")).collect()
      val expected = upd.filter(col("vec_id") === doomId)
        .select(col("embedding")).head().getSeq[Float](0)
      assert(resurrected.length == 1)
      assert(resurrected.head.getSeq[Float](0) == expected)
      assert(v3.count() == baseN, "replace-in-place + resurrection")
      // pinned v2 unaffected: doomId still invisible, someId still original
      val v2 = VectorOps.readIndexVersionMor(spark, path, 2, "vec_id")
      assert(v2.filter(col("vec_id") === doomId).count() == 0)
      assert(v2.filter(col("vec_id") === someId)
        .select(col("embedding")).head().getSeq[Float](0) ==
        base.filter(col("vec_id") === someId)
          .select(col("embedding")).head().getSeq[Float](0))
      // brand-new ids: zero partitions rewrite — a pure append
      val fresh = embs.filter(col("vec_id") % 5 === 2).limit(3)
        .select(col("vec_id"), col("embedding"))
      val (nRw2, nRep2, nIns2) = VectorOps.ivfUpsert(spark, path, 3, 4,
        fresh, cents, "vec_id", "embedding")
      assert(nRw2 == 0 && nRep2 == 0 && nIns2 == 3)
      assert(VectorOps.readIndexVersionMor(spark, path, 4, "vec_id")
        .count() == baseN + 3)
    } finally rmrf(dir)
  }

  test("indexChanges: append→insert, delete→tombstone delta, upsert→" +
      "update/insert split; compaction and physical apply are " +
      "dataChange-free") {
    val (dir, path, cents) = freshIndex("cdc")
    try {
      val appended = embs.filter(col("vec_id") % 5 === 2)
      VectorOps.ivfAppendBatch(spark, appended, cents, path,
        "vec_id", "embedding", batchId = 1L)                       // v2
      val doomed = embs.filter(col("vec_id") % 7 === 3 &&
        col("vec_id") % 5 =!= 2).select(col("vec_id"))
      VectorOps.commitDeletes(spark, path, 2, 3, doomed)           // v3
      VectorOps.ivfCompactVersioned(spark, path, 3, 4)             // v4
      VectorOps.applyDeletes(spark, path, 4, 5, "vec_id")          // v5
      val upId = embs.filter(col("vec_id") % 7 =!= 3)
        .agg(min(col("vec_id"))).head().getLong(0)
      val upd = embs.filter(col("vec_id") === upId)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(3.0f)).as("embedding"))
      VectorOps.ivfUpsert(spark, path, 5, 6, upd, cents,
        "vec_id", "embedding")                                     // v6
      val feed = VectorOps.indexChanges(spark, path, 1, 6,
        "vec_id", "embedding")
      val byStep = feed.groupBy(col("version"), col("change_type"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(byStep == Map(
        (2, "insert") -> appended.count(),
        (3, "delete") -> doomed.count(),
        (6, "update") -> 1L))
      // and the update row is the upserted id
      assert(feed.filter(col("version") === 6).select(col("vid"))
        .head().getLong(0) == upId)
      // row images: the update carries the OLD vector as preimage and
      // the NEW (+3.0f) vector as postimage — the algebra an incremental
      // materialization needs
      val images = VectorOps.indexChangeRows(spark, path, 5, 6,
          "vec_id", "embedding")
        .filter(col("vid") === upId)
        .collect().map(r => r.getString(2) -> r.getSeq[Double](3)).toMap
      val oldVec = embs.filter(col("vec_id") === upId)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val newVec = upd.select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      assert(images.keySet == Set("update_preimage", "update_postimage"))
      assert(images("update_preimage") == oldVec)
      assert(images("update_postimage") == newVec)
      // a logical tombstone delete arrives id-only (NULL image, by
      // documented design) — from the v2→v3 delete step
      val tomb = VectorOps.indexChangeRows(spark, path, 2, 3,
        "vec_id", "embedding")
      assert(tomb.filter(col("change_type") === "delete")
        .filter(col("vec").isNotNull).count() == 0)
      assert(tomb.count() == doomed.count())
    } finally rmrf(dir)
  }

  test("restoreVersion: HEAD reverts exactly, the bad version stays " +
      "auditable, zero data files move") {
    val (dir, path, cents) = freshIndex("restore")
    try {
      VectorOps.ivfAppendBatch(spark,
        embs.filter(col("vec_id") % 5 === 2), cents, path,
        "vec_id", "embedding", batchId = 9L)                       // v2 (bad)
      val filesBefore = VectorOps.listIndexFiles(spark, path)
      val newV = VectorOps.restoreVersion(spark, path, 1)          // v3
      assert(newV == 3)
      assert(VectorOps.listIndexFiles(spark, path) == filesBefore,
        "restore is metadata-only")
      val head = VectorOps.readIndexLatest(spark, path, "vec_id")
      val v1 = VectorOps.readIndexVersion(spark, path, 1)
      assert(head.exceptAll(v1).isEmpty && v1.exceptAll(head).isEmpty)
      assert(VectorOps.readIndexVersion(spark, path, 2).count() ==
        embs.count(), "the rolled-back version must stay auditable")
      intercept[IllegalArgumentException] {
        VectorOps.restoreVersion(spark, path, 99)
      }
    } finally rmrf(dir)
  }

  test("vacuumLog: dropped manifests stay replay-safe through the " +
      "pre-sweep checkpoint; kept tombstones and versions survive") {
    val (dir, path, cents) = freshIndex("logvac")
    try {
      // v2..v4: three batch appends; v5: a logical delete
      (0 until 3).foreach { i =>
        VectorOps.ivfAppendBatch(spark, embs.filter(col("vec_id") % 5 === 2
            && col("vec_id") % 3 === i), cents, path,
          "vec_id", "embedding", batchId = 20L + i)
      }
      VectorOps.commitDeletes(spark, path, 4, 5,
        embs.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
      val allIds = VectorOps.committedBatchIds(spark, path)
      assert(allIds == Set(20L, 21L, 22L))
      val (del, _) = VectorOps.vacuumLog(spark, path, Seq(4, 5))
      assert(del > 0)
      assert(VectorOps.listVersions(spark, path) == Seq(4, 5),
        "dropped versions must stop resolving")
      // THE replay-safety property: every historical batch id is still
      // known (via the pre-sweep checkpoint), so an ancient redelivery
      // is still recognized and skipped
      assert(VectorOps.committedBatchIds(spark, path) == allIds)
      val (_, skippedAncient, _) = VectorOps.ivfAppendBatch(spark,
        embs.filter(col("vec_id") % 5 === 2 && col("vec_id") % 3 === 0),
        cents, path, "vec_id", "embedding", batchId = 20L)
      assert(skippedAncient,
        "an ancient batch id must stay skippable after log vacuum")
      // kept versions still serve; the kept delete sidecar still applies
      val doomed = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      val mor = VectorOps.readIndexVersionMor(spark, path, 5, "vec_id")
      assert(mor.join(doomed, Seq("vec_id"), "left_semi").count() == 0)
      // dropped versions fail loudly, not silently
      intercept[Exception] { VectorOps.readManifest(spark, path, 2) }
    } finally rmrf(dir)
  }

  test("zone maps: pruning keeps boundary rows exactly, opens only " +
      "intersecting files, and a missing range opens none") {
    val dir = java.nio.file.Files.createTempDirectory("idx_commit_zones")
    try {
      val path = dir.resolve("zones").toString
      // range-clustered single-partition layout: 4 files, ids 1..200
      spark.range(1, 201).select(col("id").cast("long").as("vec_id"),
          array(col("id").cast("float")).as("embedding"),
          lit(0).as("centroid"))
        .repartitionByRange(4, col("vec_id"))
        .write.partitionBy("centroid").parquet(path)
      VectorOps.writeManifest(spark, path, 1,
        VectorOps.listIndexFiles(spark, path))
      VectorOps.writeColStats(spark, path, 1, "vec_id")
      val zones = VectorOps.readColStats(spark, path, 1, "vec_id")
      assert(zones.size == 4)
      // exact-boundary range [min of one file, max of same file]
      val (f0, (lo0, hi0)) = zones.toSeq.minBy(_._2._1)
      val (rows, nRead, nTotal) =
        VectorOps.readIndexVersionPruned(spark, path, 1, "vec_id", lo0, hi0)
      assert(nTotal == 4 && nRead == 1, s"read $nRead of $nTotal for $f0")
      assert(rows.count() == hi0 - lo0 + 1)
      assert(rows.agg(min(col("vec_id")), max(col("vec_id"))).head() ==
        org.apache.spark.sql.Row(lo0, hi0), "boundary rows must survive")
      // a range beyond every zone opens nothing and returns nothing
      val (none, nRead2, _) =
        VectorOps.readIndexVersionPruned(spark, path, 1, "vec_id", 1000, 2000)
      assert(nRead2 == 0 && none.count() == 0)
      // cross-file range: parity with the unpruned filter
      val (span, nRead3, _) =
        VectorOps.readIndexVersionPruned(spark, path, 1, "vec_id", hi0, hi0 + 1)
      assert(nRead3 == 2)
      assert(span.select(col("vec_id")).orderBy(col("vec_id")).collect()
        .map(_.getLong(0)).toSeq == Seq(hi0, hi0 + 1))
      // scan-level proof: the plan's input is exactly the 2 kept files —
      // the pruning is real skipping, not a post-scan filter
      assert(span.inputFiles.length == 2)
    } finally rmrf(dir)
  }

  test("mipsTopK: norm-bound pruning skips low-norm files and still " +
      "returns the exact full-scan top-k; flat norms degrade to a " +
      "full scan, never a wrong answer") {
    val dir = java.nio.file.Files.createTempDirectory("idx_mips")
    try {
      // weighted corpus: norms spread 2^0..2^7 (embeddings are unit
      // vectors, so the scaled norm IS the weight)
      val scale = pow(lit(2.0), pmod(col("vec_id"), lit(8L)).cast("double"))
      def stage(sub: String, sc: org.apache.spark.sql.Column): String = {
        val path = dir.resolve(sub).toString
        embs.select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double") * sc).as("sv"),
            pmod(col("vec_id"), lit(8L)).as("centroid"))
          .withColumn("norm_micro",
            round(sqrt(VectorOps.dotHof(col("sv"), col("sv"))) * 1e6)
              .cast("long"))
          .repartitionByRange(8, col("norm_micro"))
          .write.partitionBy("centroid").mode("overwrite").parquet(path)
        VectorOps.writeManifest(spark, path, 1,
          VectorOps.listIndexFiles(spark, path))
        VectorOps.writeColStats(spark, path, 1, "norm_micro")
        path
      }
      val spread = stage("spread", scale)
      val q = embs.limit(1).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val (rows, opened, total) =
        VectorOps.mipsTopK(spark, spread, 1, "vec_id", "sv", q, 10,
          waveSize = 2)
      assert(opened > 0 && opened < total,
        s"norm spread 128x must prune: opened $opened of $total")
      // exactness: equals the brute-force full scan, same rounding/ties
      val brute = VectorOps.readIndexVersion(spark, spread, 1)
        .select(col("vec_id"),
          round(VectorOps.dotHof(col("sv"), typedLit(q)), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      assert(rows.collect().toSeq == brute.collect().toSeq,
        "pruned top-k must be bit-identical to the full scan")
      // flat norms: nothing prunable — full scan, still exact
      val flat = stage("flat", lit(1.0))
      val (rowsF, openedF, totalF) =
        VectorOps.mipsTopK(spark, flat, 1, "vec_id", "sv", q, 10)
      assert(openedF == totalF, "flat norms cannot prune")
      val bruteF = VectorOps.readIndexVersion(spark, flat, 1)
        .select(col("vec_id"),
          round(VectorOps.dotHof(col("sv"), typedLit(q)), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      assert(rowsF.collect().toSeq == bruteF.collect().toSeq)
    } finally rmrf(dir)
  }

  test("metaAgg: sidecar-served on a clean version, scan-fallback on " +
      "tombstones and on missing sidecars — never fast AND wrong") {
    val (dir, path, _) = freshIndex("metaagg")
    try {
      // no sidecars yet: metadata cannot answer → fallback, still exact
      val scan = VectorOps.readIndexVersion(spark, path, 1)
        .agg(count(lit(1)), min(col("vec_id")), max(col("vec_id"))).head()
      val noSidecar = VectorOps.metaAgg(spark, path, 1, "vec_id", "vec_id")
      assert(!noSidecar.servedFromMeta)
      assert((noSidecar.nRows, noSidecar.min, noSidecar.max) ==
        (scan.getLong(0), scan.getLong(1), scan.getLong(2)))
      // sidecars committed: served from metadata, same exact numbers
      VectorOps.writeStats(spark, path, 1)
      VectorOps.writeColStats(spark, path, 1, "vec_id")
      val served = VectorOps.metaAgg(spark, path, 1, "vec_id", "vec_id")
      assert(served.servedFromMeta)
      assert((served.nRows, served.min, served.max) ==
        (noSidecar.nRows, noSidecar.min, noSidecar.max))
      // tombstones poison footer counts AND zone bounds: delete the
      // current MAX row, then ask again — metadata would overcount and
      // report the stale max; the call must fall back and be right
      VectorOps.commitDeletes(spark, path, 1, 2,
        embs.filter(col("vec_id") === served.max).select(col("vec_id")))
      VectorOps.writeStats(spark, path, 2)
      VectorOps.writeColStats(spark, path, 2, "vec_id")
      val tomb = VectorOps.metaAgg(spark, path, 2, "vec_id", "vec_id")
      assert(!tomb.servedFromMeta, "tombstoned versions must not be " +
        "served from metadata — the counts and bounds are stale")
      assert(tomb.nRows == served.nRows - 1)
      assert(tomb.max < served.max, "the deleted extremal row must be " +
        "gone from the answer")
    } finally rmrf(dir)
  }

  test("ivfMerge: all four clause outcomes in ONE commit — matched " +
      "update, matched delete, unmatched insert, unmatched-delete no-op " +
      "— with tombstone resurrection and pinned history intact") {
    val (dir, path, cents) = freshIndex("merge")
    try {
      // base = %5 != 2; tombstone the %11 == 4 slice first
      VectorOps.commitDeletes(spark, path, 1, 2,
        embs.filter(col("vec_id") % 5 =!= 2 && col("vec_id") % 11 === 4)
          .select(col("vec_id")))
      // source: %3==1 rows re-embedded (update/insert/resurrect),
      // %3==2 rows delete-flagged (matched delete / unmatched no-op)
      val source = embs
        .filter(col("vec_id") % 3 === 1 || col("vec_id") % 3 === 2)
        .select(col("vec_id"),
          when(col("vec_id") % 3 === 1,
            transform(col("embedding"), x => x + lit(1.0f)))
            .otherwise(col("embedding")).as("embedding"))
      val (parts, nUpd, nDel, nIns) = VectorOps.ivfMerge(spark, path, 2, 3,
        source, col("vec_id") % 3 === 2, cents, "vec_id", "embedding")
      val vis2 = embs.filter(col("vec_id") % 5 =!= 2 &&
        col("vec_id") % 11 =!= 4)
      assert(nUpd == vis2.filter(col("vec_id") % 3 === 1).count())
      assert(nDel == vis2.filter(col("vec_id") % 3 === 2).count())
      assert(nIns == embs.filter(col("vec_id") % 3 === 1).count() - nUpd)
      assert(parts > 0)
      // final state: (visible2 minus touched) union (all %3==1, +1.0f)
      val expected = vis2.filter(col("vec_id") % 3 =!= 1 &&
          col("vec_id") % 3 =!= 2)
        .select(col("vec_id"), col("embedding"))
        .unionByName(embs.filter(col("vec_id") % 3 === 1)
          .select(col("vec_id"),
            transform(col("embedding"), x => x + lit(1.0f)).as("embedding")))
      val v3 = VectorOps.readIndexVersionMor(spark, path, 3, "vec_id")
        .select(col("vec_id"), col("embedding"))
      assert(v3.exceptAll(expected).isEmpty && expected.exceptAll(v3).isEmpty,
        "the merged HEAD must be exactly keep ∪ re-embedded")
      // a resurrected id (tombstoned at v2, %3==1) is visible again with
      // the NEW content
      val res = embs.filter(col("vec_id") % 5 =!= 2 &&
          col("vec_id") % 11 === 4 && col("vec_id") % 3 === 1)
        .select(col("vec_id")).limit(1).collect()
      if (res.nonEmpty) {
        val rid = res.head.getLong(0)
        assert(v3.filter(col("vec_id") === rid).count() == 1,
          s"tombstoned id $rid merged with the update clause must resurrect")
      }
      // pinned v2 still serves the pre-merge state
      assert(VectorOps.readIndexVersionMor(spark, path, 2, "vec_id").count()
        == vis2.count())
      // one new version only — the three clauses never split into commits
      assert(VectorOps.listVersions(spark, path) == Seq(1, 2, 3))
    } finally rmrf(dir)
  }

  test("commitFilesChecked: SQL-standard CHECK semantics (FALSE " +
      "violates, NULL satisfies), one-scan counts, loud refusal with " +
      "orphaned-invisible files, clean batch commits") {
    val dir = java.nio.file.Files.createTempDirectory("idx_check")
    val path = dir.resolve("index").toString
    try {
      import spark.implicits._
      // v1: a committed base so OCC has a head to stack on
      Seq((1L, "a"), (2L, "b")).toDF("vec_id", "tag")
        .coalesce(1).write.parquet(s"$path/centroid=0")
      VectorOps.writeManifest(spark, path, 1,
        VectorOps.listIndexFiles(spark, path))
      // staged batch: one FALSE row (id -5), one NULL-condition row
      // (null tag makes `tag =!= "x"` NULL — must SATISFY), two clean
      val before = VectorOps.listIndexFiles(spark, path).toSet
      Seq((3L, Option("c")), (-5L, Option("d")), (4L, Option.empty[String]))
        .toDF("vec_id", "tag")
        .coalesce(1).write.mode("append").parquet(s"$path/centroid=0")
      val staged = VectorOps.listIndexFiles(spark, path)
        .filterNot(before.contains)
      val constraints = Seq(
        "id_positive" -> (col("vec_id") > 0),
        "tag_not_x" -> (col("tag") =!= "x"), // NULL on the null-tag row
        "id_not_null" -> col("vec_id").isNotNull)
      val counts = VectorOps.checkConstraints(spark, path, staged,
        constraints)
      assert(counts == Map("id_positive" -> 1L, "tag_not_x" -> 0L,
        "id_not_null" -> 0L),
        s"NULL must satisfy, only the FALSE row violates: $counts")
      val e = intercept[IllegalStateException] {
        VectorOps.commitFilesChecked(spark, path, staged, constraints)
      }
      assert(e.getMessage.contains("id_positive (1 rows)"), e.getMessage)
      // refusal left the log at v1 and the head read clean
      assert(VectorOps.latestVersion(spark, path).contains(1))
      assert(VectorOps.readIndexVersion(spark, path, 1).count() == 2)
      // a clean batch under the same constraints commits (OCC path)
      val before2 = VectorOps.listIndexFiles(spark, path).toSet
      Seq((7L, Option("e"))).toDF("vec_id", "tag")
        .coalesce(1).write.mode("append").parquet(s"$path/centroid=0")
      val clean = VectorOps.listIndexFiles(spark, path)
        .filterNot(before2.contains)
      val occ = VectorOps.commitFilesChecked(spark, path, clean, constraints)
      assert(occ.version == 2)
      // v2 = v1 + clean batch; the refused file is still not referenced
      assert(VectorOps.readIndexVersion(spark, path, 2).count() == 3)
    } finally rmrf(dir)
  }

  test("ivfCompactSmall: files over the target and singleton bins are " +
      "re-listed untouched; small files pack within the target; " +
      "content and pinned history survive") {
    val dir = java.nio.file.Files.createTempDirectory("idx_binpack")
    val path = dir.resolve("index").toString
    try {
      import spark.implicits._
      // controlled sizes: one BIG file (many rows) + several small ones
      (1L to 2000L).map(i => (i, s"payload-$i")).toDF("vec_id", "tag")
        .coalesce(1).write.parquet(s"$path/centroid=0")
      val bigFile = VectorOps.listIndexFiles(spark, path).head
      (2001L to 2004L).foreach { i =>
        Seq((i, s"p$i")).toDF("vec_id", "tag")
          .coalesce(1).write.mode("append").parquet(s"$path/centroid=0")
      }
      // a second partition with ONE small file: a singleton bin, nothing
      // to gain by rewriting it
      Seq((9001L, "q")).toDF("vec_id", "tag")
        .coalesce(1).write.parquet(s"$path/centroid=1")
      VectorOps.writeManifest(spark, path, 1,
        VectorOps.listIndexFiles(spark, path))
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val sizes = VectorOps.readManifest(spark, path, 1).map(f =>
        f -> fs.getFileStatus(
          new org.apache.hadoop.fs.Path(path, f)).getLen).toMap
      val smalls = sizes.filter(_._1 != bigFile).values
      val target = smalls.sum + 1 // all four smalls fit one bin
      assert(sizes(bigFile) > target, "fixture: the big file must be big")
      val singleton = VectorOps.readManifest(spark, path, 1)
        .find(_.startsWith("centroid=1")).get
      val (bins, from, to, maxBin) =
        VectorOps.ivfCompactSmall(spark, path, 1, 2, target)
      assert(bins == 1 && from == 6 && to == 3,
        s"4 smalls -> 1 bin; big + singleton re-listed: $bins/$from/$to")
      assert(maxBin <= target)
      val v2 = VectorOps.readManifest(spark, path, 2)
      assert(v2.contains(bigFile), "over-target file must be untouched")
      assert(v2.contains(singleton), "singleton bin must be untouched")
      // content parity and pinned v1
      assert(VectorOps.readIndexVersion(spark, path, 2).count() == 2005)
      assert(VectorOps.readIndexVersion(spark, path, 1).count() == 2005)
      // idempotent second pass: nothing small enough remains in pairs
      val (bins2, _, to2, _) =
        VectorOps.ivfCompactSmall(spark, path, 2, 3, target)
      assert(bins2 == 0 && to2 == 3, "a second pass must be a no-op")
    } finally rmrf(dir)
  }

  test("renameColumns: metadata-only, composes across renames, refuses " +
      "logical collisions; logical reads subtract carried tombstones") {
    val (dir, path, _) = freshIndex("rename")
    try {
      val doomed = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      VectorOps.commitDeletes(spark, path, 1, 2, doomed)
      VectorOps.renameColumns(spark, path, 2, 3,
        Map("vec_id" -> "item_id"))
      assert(VectorOps.readManifest(spark, path, 3) ==
        VectorOps.readManifest(spark, path, 2), "rename moves no files")
      // composed second rename: logical item_id -> row_id resolves back
      // to the PHYSICAL vec_id in the stored map
      VectorOps.renameColumns(spark, path, 3, 4,
        Map("item_id" -> "row_id"))
      assert(VectorOps.columnMapping(spark, path, 4) ==
        Map("vec_id" -> "row_id"))
      val logical = VectorOps.readIndexVersionLogical(spark, path, 4, "vec_id")
      assert(logical.columns.contains("row_id") &&
        !logical.columns.contains("vec_id"))
      // tombstones (physical-keyed) still subtract through both renames
      assert(logical.count() ==
        embs.filter(col("vec_id") % 5 =!= 2 && col("vec_id") % 7 =!= 3)
          .count())
      // pinned pre-rename version still serves the physical schema
      assert(VectorOps.readIndexVersionLogical(spark, path, 2, "vec_id")
        .columns.contains("vec_id"))
      // renaming TWO physicals onto one logical name is refused
      intercept[IllegalArgumentException] {
        VectorOps.renameColumns(spark, path, 4, 5,
          Map("embedding" -> "row_id"))
      }
      // DROP: a renamed physical is refused (resolve the mapping first)
      intercept[IllegalArgumentException] {
        VectorOps.dropColumns(spark, path, 4, 5, Seq("vec_id"))
      }
      // dropping an unmapped physical works, accumulates, moves no files
      VectorOps.dropColumns(spark, path, 4, 5, Seq("embedding"))
      VectorOps.dropColumns(spark, path, 5, 6, Seq("centroid"))
      assert(VectorOps.droppedColumns(spark, path, 6) ==
        Seq("centroid", "embedding"))
      assert(VectorOps.readManifest(spark, path, 6) ==
        VectorOps.readManifest(spark, path, 2))
      val v6 = VectorOps.readIndexVersionLogical(spark, path, 6, "vec_id")
      assert(v6.columns.contains("row_id") &&
        !v6.columns.contains("embedding") &&
        !v6.columns.contains("centroid") &&
        !v6.columns.contains("vec_id"),
        s"drops + rename must hide both dropped columns and serve " +
          s"row_id: ${v6.columns.toSeq}")
      // the pinned pre-drop version still serves everything
      assert(VectorOps.readIndexVersionLogical(spark, path, 4, "vec_id")
        .columns.contains("embedding"))
    } finally rmrf(dir)
  }

  test("vacuumPlan: the dry run lists exactly what ivfVacuum would " +
      "delete and touches nothing") {
    val (dir, path, cents) = freshIndex("vacplan")
    try {
      // land an unreferenced file the appender never committed
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2), cents,
        path, "vec_id", "embedding")
      val referenced = VectorOps.readManifest(spark, path, 1).toSet
      val orphansTruth = VectorOps.listIndexFiles(spark, path)
        .filterNot(referenced)
      assert(orphansTruth.nonEmpty)
      val (planned, kept) = VectorOps.vacuumPlan(spark, path, Seq(1))
      assert(planned.sorted == orphansTruth.sorted)
      assert(kept == referenced.size)
      // nothing was deleted by the dry run
      assert(VectorOps.listIndexFiles(spark, path).size ==
        referenced.size + orphansTruth.size)
      // the real vacuum deletes exactly the planned set
      val (deleted, kept2) = VectorOps.ivfVacuum(spark, path, Seq(1))
      assert(deleted == planned.size && kept2 == kept)
      assert(VectorOps.listIndexFiles(spark, path).toSet == referenced)
    } finally rmrf(dir)
  }

  test("ivfMerge: duplicate source ids are refused loudly (the " +
      "multiple-source-rows-matched error), and a brand-new-ids source " +
      "degenerates to a pure append (zero partitions rewritten)") {
    val (dir, path, cents) = freshIndex("mergedup")
    try {
      val one = embs.filter(col("vec_id") % 5 =!= 2).limit(1)
      intercept[IllegalArgumentException] {
        VectorOps.ivfMerge(spark, path, 1, 2, one.unionAll(one),
          lit(false), cents, "vec_id", "embedding")
      }
      // brand-new ids only: nothing matched, nothing rewritten
      val fresh = embs.filter(col("vec_id") % 5 === 2)
      val (parts, nUpd, nDel, nIns) = VectorOps.ivfMerge(spark, path, 1, 2,
        fresh, lit(false), cents, "vec_id", "embedding")
      assert(parts == 0 && nUpd == 0L && nDel == 0L)
      assert(nIns == fresh.count())
      assert(VectorOps.readIndexVersion(spark, path, 2).count() ==
        embs.count())
    } finally rmrf(dir)
  }
}
