package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Shallow clone / branch promote: zero-copy clone manifests,
  * cross-root reads (mixed inherited + local entries, partition column
  * intact), isolation in both directions, tombstone-pointer carry, and
  * vacuum locality.
  */
class CloneSpec extends SparkSpec {

  private def embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .filter(col("vec_id") =!= 0)

  private def freshIndex(tag: String)
      : (java.nio.file.Path, String, Array[Array[Double]]) = {
    val base = embs.filter(col("vec_id") % 5 =!= 2)
    val idx = VectorOps.ivfIndexDeterministic(base, "vec_id", "embedding", 4)
    val dir = java.nio.file.Files.createTempDirectory(s"clone_$tag")
    val path = dir.resolve("src").toString
    VectorOps.ivfWrite(idx, path)
    VectorOps.writeManifest(spark, path, 1,
      VectorOps.listIndexFiles(spark, path))
    (dir, path, idx.centroids)
  }

  private def rmrf(dir: java.nio.file.Path): Unit =
    Staging.deleteRecursively(dir)

  test("cloneIndex: zero data files copied, parity with the source " +
      "version, and isolation in BOTH directions") {
    val (dir, src, cents) = freshIndex("iso")
    try {
      val dst = dir.resolve("branch").toString
      VectorOps.cloneIndex(spark, src, dst, 1)
      // zero-copy: the clone dir holds only its manifest
      assert(VectorOps.listIndexFiles(spark, dst).isEmpty)
      val srcV1 = VectorOps.readIndexVersion(spark, src, 1)
      assert(VectorOps.readIndexVersion(spark, dst, 1)
        .select("vec_id").exceptAll(srcV1.select("vec_id")).count() == 0)
      assert(VectorOps.readIndexVersion(spark, dst, 1).count() ==
        srcV1.count())
      // source append AFTER the clone point: invisible to the clone
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2), cents,
        src, "vec_id", "embedding")
      VectorOps.writeManifest(spark, src, 2,
        VectorOps.listIndexFiles(spark, src))
      assert(VectorOps.readIndexVersion(spark, dst, 1).count() ==
        srcV1.count())
      // clone append: invisible to every source version
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2), cents,
        dst, "vec_id", "embedding")
      VectorOps.writeManifest(spark, dst, 2,
        VectorOps.readManifest(spark, dst, 1) ++
          VectorOps.listIndexFiles(spark, dst))
      assert(VectorOps.readIndexVersion(spark, src, 1).count() ==
        srcV1.count())
      // the mixed manifest resolves BOTH roots and keeps the partition
      // column readable
      val v2 = VectorOps.readIndexVersion(spark, dst, 2)
      assert(v2.count() == embs.count())
      assert(v2.groupBy("centroid").count().count() > 1)
    } finally rmrf(dir)
  }

  test("a clone's inherited entries serve sidecar writes and the pruned " +
      "and point reads exactly like the source") {
    val (dir, src, _) = freshIndex("skip")
    try {
      val dst = dir.resolve("branch").toString
      VectorOps.cloneIndex(spark, src, dst, 1)
      Seq(src, dst).foreach { p =>
        VectorOps.writeColStats(spark, p, 1, "vec_id")
        VectorOps.writeBloomFilter(spark, p, 1, "vec_id")
      }
      // the clone's zone map holds the source's ranges, entry for entry
      assert(VectorOps.readColStats(spark, dst, 1, "vec_id")
        .map { case (f, z) => f.stripPrefix(src + "/") -> z } ==
        VectorOps.readColStats(spark, src, 1, "vec_id"))
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
      val (srcR, srcKept, srcN) =
        VectorOps.readIndexVersionPruned(spark, src, 1, "vec_id", 10L, 40L)
      val (dstR, dstKept, dstN) =
        VectorOps.readIndexVersionPruned(spark, dst, 1, "vec_id", 10L, 40L)
      assert(ids(srcR).nonEmpty && ids(dstR) == ids(srcR))
      assert(dstKept == srcKept && dstN == srcN)
      val id = ids(srcR).head
      val (srcP, srcPK, _) =
        VectorOps.readIndexVersionPoint(spark, src, 1, "vec_id", id)
      val (dstP, dstPK, _) =
        VectorOps.readIndexVersionPoint(spark, dst, 1, "vec_id", id)
      assert(ids(srcP) == Seq(id) && ids(dstP) == Seq(id))
      assert(dstPK.length == srcPK.length && srcPK.length < srcN)
    } finally rmrf(dir)
  }

  test("a clone carries the source's pending tombstone pointer; its " +
      "MOR read resolves the cross-root sidecar") {
    val (dir, src, _) = freshIndex("tomb")
    try {
      val doomed = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      VectorOps.commitDeletes(spark, src, 1, 2, doomed)
      val dst = dir.resolve("branch").toString
      VectorOps.cloneIndex(spark, src, dst, 2)
      val mor = VectorOps.readIndexVersionMor(spark, dst, 1, "vec_id")
      assert(mor.join(doomed, Seq("vec_id"), "left_semi").count() == 0)
      assert(mor.count() ==
        VectorOps.readIndexVersionMor(spark, src, 2, "vec_id").count())
    } finally rmrf(dir)
  }

  test("promoteVersion: metadata-only publish — main HEAD reads the " +
      "branch version, main's local files and history untouched") {
    val (dir, src, cents) = freshIndex("wap")
    try {
      val dst = dir.resolve("branch").toString
      VectorOps.cloneIndex(spark, src, dst, 1)
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2), cents,
        dst, "vec_id", "embedding")
      VectorOps.writeManifest(spark, dst, 2,
        VectorOps.readManifest(spark, dst, 1) ++
          VectorOps.listIndexFiles(spark, dst))
      val before = VectorOps.listIndexFiles(spark, src).sorted
      val head = VectorOps.promoteVersion(spark, dst, 2, src)
      assert(head == 2)
      assert(VectorOps.listIndexFiles(spark, src).sorted == before)
      val b2 = VectorOps.readIndexVersion(spark, dst, 2).select("vec_id")
      val m2 = VectorOps.readIndexVersion(spark, src, 2).select("vec_id")
      assert(m2.exceptAll(b2).unionByName(b2.exceptAll(m2)).count() == 0)
      // main-rooted entries relativized home: the promoted manifest's
      // local entries carry no absolute main prefix
      assert(VectorOps.readManifest(spark, src, 2)
        .exists(f => !f.startsWith("/")))
      assert(VectorOps.readIndexVersion(spark, src, 1).count() ==
        embs.filter(col("vec_id") % 5 =!= 2).count())
    } finally rmrf(dir)
  }

  test("vacuum on a clone is local: unreferenced CLONE files go, " +
      "inherited source files are never touched") {
    val (dir, src, cents) = freshIndex("vac")
    try {
      val dst = dir.resolve("branch").toString
      VectorOps.cloneIndex(spark, src, dst, 1)
      VectorOps.ivfAppend(embs.filter(col("vec_id") % 5 === 2), cents,
        dst, "vec_id", "embedding")
      VectorOps.writeManifest(spark, dst, 2,
        VectorOps.readManifest(spark, dst, 1) ++
          VectorOps.listIndexFiles(spark, dst))
      val srcFiles = VectorOps.listIndexFiles(spark, src).sorted
      // keeping only v1 (pure inherited refs) orphans the clone's own
      // appended files — vacuum reclaims exactly those, nothing remote
      val (deleted, kept) = VectorOps.ivfVacuum(spark, dst, Seq(1))
      assert(deleted > 0 && kept == 0)
      assert(VectorOps.listIndexFiles(spark, src).sorted == srcFiles)
      assert(VectorOps.readIndexVersion(spark, dst, 1).count() ==
        embs.filter(col("vec_id") % 5 =!= 2).count())
    } finally rmrf(dir)
  }
}
