package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deletion vectors (position deletes): commit-time accounting, read
  * parity, cumulative-sidecar merging, snapshot isolation of pinned
  * versions, orphan invisibility on the crash window, and the one
  * property that separates position deletes from key tombstones —
  * deleting ONE of two identical-key rows.
  */
class DeletionVectorSpec extends SparkSpec {

  private def embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .filter(col("vec_id") =!= 0)

  private def freshIndex(tag: String)
      : (java.nio.file.Path, String) = {
    val idx = VectorOps.ivfIndexDeterministic(embs, "vec_id", "embedding", 4)
    val dir = java.nio.file.Files.createTempDirectory(s"dv_$tag")
    val path = dir.resolve("index").toString
    VectorOps.ivfWrite(idx, path)
    VectorOps.writeManifest(spark, path, 1,
      VectorOps.listIndexFiles(spark, path))
    (dir, path)
  }

  private def rmrf(dir: java.nio.file.Path): Unit =
    Staging.deleteRecursively(dir)

  test("commitDeletionVector: non-key predicate delete — v2 excludes " +
      "exactly the matching rows, pinned v1 intact, zero files moved") {
    val (dir, path) = freshIndex("parity")
    try {
      val pred = element_at(col("embedding"), 1) < lit(0f)
      val (nNew, nTot) =
        VectorOps.commitDeletionVector(spark, path, 1, 2, pred)
      val nDoomed = embs.filter(pred).count()
      assert(nNew == nDoomed && nTot == nDoomed)
      // zero data files rewritten: the manifests are identical
      assert(VectorOps.readManifest(spark, path, 2) ==
        VectorOps.readManifest(spark, path, 1))
      val v2 = VectorOps.readIndexVersionDv(spark, path, 2)
      assert(v2.filter(pred).count() == 0)
      assert(v2.count() == embs.count() - nDoomed)
      // the pinned v1 read still holds every row
      assert(VectorOps.readIndexVersionDv(spark, path, 1).count() ==
        embs.count())
    } finally rmrf(dir)
  }

  test("pruned readers apply the deletion vector: point and range reads " +
      "return no deleted id, and their frames still resolve _metadata") {
    val (dir, path) = freshIndex("pruned")
    try {
      val ids = embs.select(col("vec_id")).collect().map(_.getLong(0)).sorted
      val doomed = ids.filter(_ % 5 == 0)
      VectorOps.commitDeletionVector(spark, path, 1, 2,
        col("vec_id").isin(doomed: _*))
      VectorOps.writeColStats(spark, path, 2, "vec_id")
      VectorOps.writeBloomFilter(spark, path, 2, "vec_id")
      def served(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val (range, _, _) =
        VectorOps.readIndexVersionPruned(spark, path, 2, "vec_id", ids.head, ids.last)
      assert(served(range) == ids.toSet -- doomed)
      val (point, _, _) =
        VectorOps.readIndexVersionPoint(spark, path, 2, "vec_id", doomed.head)
      assert(served(point).isEmpty)
      val live = ids.find(_ % 5 != 0).get
      assert(served(VectorOps.readIndexVersionPoint(spark, path, 2, "vec_id",
        live)._1) == Set(live))
      // an id no file can hold: every file pruned, an empty frame
      val (absent, kept, _) =
        VectorOps.readIndexVersionPoint(spark, path, 2, "vec_id", ids.last + 1000)
      assert(served(absent).isEmpty && kept.isEmpty)
      // a caller can still key the rows by file and row index
      for (df <- Seq(range, point))
        df.withColumn("f", col("_metadata.file_path"))
          .withColumn("p", col("_metadata.row_index")).collect()
    } finally rmrf(dir)
  }

  test("a second wave folds into ONE cumulative sidecar with exact " +
      "new/total accounting, overlap deduplicated") {
    val (dir, path) = freshIndex("merge")
    try {
      val p1 = col("vec_id") % 3 === 0
      val p2 = col("vec_id") % 2 === 0 // overlaps p1 on %6 == 0
      val (n1New, n1Tot) =
        VectorOps.commitDeletionVector(spark, path, 1, 2, p1)
      val (n2New, n2Tot) =
        VectorOps.commitDeletionVector(spark, path, 2, 3, p2)
      val nP1 = embs.filter(p1).count()
      val nUnion = embs.filter(p1 || p2).count()
      assert(n1New == nP1 && n1Tot == nP1)
      assert(n2Tot == nUnion && n2New == nUnion - nP1)
      // v3's single sidecar carries every pending position
      assert(VectorOps.readDeletionVector(spark, path, 3).get.count() ==
        nUnion)
      val v3 = VectorOps.readIndexVersionDv(spark, path, 3)
      assert(v3.filter(p1 || p2).count() == 0)
      assert(v3.count() == embs.count() - nUnion)
      // v2 still reads as wave-1-only: deletes are versioned data
      assert(VectorOps.readIndexVersionDv(spark, path, 2).count() ==
        embs.count() - nP1)
    } finally rmrf(dir)
  }

  test("a delete on top of a pending DV with no dvcount header counts " +
      "the pending set, same numbers as with the header") {
    val (dir, path) = freshIndex("nocount")
    try {
      val p1 = col("vec_id") % 3 === 0
      val p2 = col("vec_id") % 2 === 0
      VectorOps.commitDeletionVector(spark, path, 1, 2, p1)
      // v3: v2's files and DV pointer, as a writer that records no count
      val dvRel = VectorOps.readManifestMeta(spark, path, 2)("dv")
      VectorOps.writeManifest(spark, path, 3,
        VectorOps.readManifest(spark, path, 2),
        Map("op" -> "dv-delete", "dv" -> dvRel))
      val (nNew, nTot) = VectorOps.commitDeletionVector(spark, path, 3, 4, p2)
      val nP1 = embs.filter(p1).count()
      val nUnion = embs.filter(p1 || p2).count()
      assert(nTot == nUnion && nNew == nUnion - nP1)
      // the header path gives the same pair
      assert(VectorOps.commitDeletionVector(spark, path, 2, 5, p2) == (nNew, nTot))
      assert(VectorOps.readIndexVersionDv(spark, path, 4).count() ==
        embs.count() - nUnion)
    } finally rmrf(dir)
  }

  test("orphaned _dv sidecars are invisible until the manifest commit " +
      "point; the retry overwrite reclaims them") {
    val (dir, path) = freshIndex("orphan")
    try {
      // simulate a crash after the sidecar write, before the manifest:
      // plant a poisoned orphan where the NEXT commit will land its own
      spark.range(5)
        .select(lit("centroid=0/poison.parquet").as("file"),
          col("id").as("pos"))
        .coalesce(1).write.parquet(s"$path/_dv/v2")
      // no reader can observe it — v1 has no dv header
      assert(VectorOps.readDeletionVector(spark, path, 1).isEmpty)
      assert(VectorOps.readIndexVersionDv(spark, path, 1).count() ==
        embs.count())
      // the retried commit overwrites the orphan, not inherits it
      val pred = col("vec_id") % 5 === 1
      val (_, nTot) =
        VectorOps.commitDeletionVector(spark, path, 1, 2, pred)
      assert(nTot == embs.filter(pred).count())
      assert(VectorOps.readDeletionVector(spark, path, 2).get
        .filter(col("file") === "centroid=0/poison.parquet").count() == 0)
    } finally rmrf(dir)
  }

  test("position deletes remove ONE of two identical-key rows — the " +
      "delete key tombstones cannot express") {
    val dir = java.nio.file.Files.createTempDirectory("dv_dupkey")
    try {
      val path = dir.resolve("index").toString
      // two rows with the SAME key, distinguishable only by x
      spark.createDataFrame(Seq((1L, 0, 0), (1L, 1, 0)))
        .toDF("vec_id", "x", "centroid")
        .coalesce(1).write.partitionBy("centroid").parquet(path)
      VectorOps.writeManifest(spark, path, 1,
        VectorOps.listIndexFiles(spark, path))
      VectorOps.commitDeletionVector(spark, path, 1, 2, col("x") === 1)
      val v2 = VectorOps.readIndexVersionDv(spark, path, 2)
      assert(v2.count() == 1)
      assert(v2.head().getAs[Int]("x") == 0)
      // the key-tombstone path would have removed BOTH rows
      VectorOps.commitDeletes(spark, path, 1, 3,
        spark.createDataFrame(Seq(Tuple1(1L))).toDF("vec_id"))
      assert(VectorOps.readIndexVersionMor(spark, path, 3, "vec_id")
        .count() == 0)
    } finally rmrf(dir)
  }

  test("a zero-match predicate commits NO dv header (ADVICE r12), and " +
      "physical apply stays possible on the resulting history") {
    val (dir, path) = freshIndex("empty")
    try {
      val (nNew, nTot) = VectorOps.commitDeletionVector(spark, path, 1, 2,
        col("vec_id") === -999999L)
      assert(nNew == 0L && nTot == 0L)
      val meta = VectorOps.readManifestMeta(spark, path, 2)
      assert(!meta.contains("dv") && !meta.contains("dvcount"))
      // the version still landed and serves everything
      assert(VectorOps.readIndexVersionDv(spark, path, 2).count() ==
        embs.count())
      // the degenerate history is fully applyable — this is exactly the
      // call the empty pointer used to wedge (require(dvMeta.isEmpty))
      val (rewritten, deleted) =
        VectorOps.applyDeletes(spark, path, 2, 3, "vec_id")
      assert(rewritten == 0 && deleted == 0L)
      assert(VectorOps.readIndexVersionDv(spark, path, 3).count() ==
        embs.count())
    } finally rmrf(dir)
  }

  test("a LEGACY empty dv pointer (written by pre-fix code) is treated " +
      "as absent by the rewrite split — compaction and apply both land") {
    val (dir, path) = freshIndex("legacy")
    try {
      // hand-write the degenerate history: a dv header pointing at a
      // ZERO-entry sidecar, dvcount 0 — what commitDeletionVector used
      // to produce on a zero-match predicate
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("file", StringType),
        StructField("pos", LongType)))
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .coalesce(1).write.parquet(s"$path/_dv/v2")
      VectorOps.writeManifest(spark, path, 2,
        VectorOps.readManifest(spark, path, 1),
        Map("op" -> "dv-delete", "dv" -> "_dv/v2", "dvcount" -> "0"))
      val (rewritten, deleted) =
        VectorOps.applyDeletes(spark, path, 2, 3, "vec_id")
      assert(rewritten == 0 && deleted == 0L)
      // the empty pointer did NOT carry into v3
      val meta3 = VectorOps.readManifestMeta(spark, path, 3)
      assert(!meta3.contains("dv"))
      assert(VectorOps.readIndexVersionDv(spark, path, 3).count() ==
        embs.count())
    } finally rmrf(dir)
  }

  test("ivfTopKFromPath on a versioned index probes the latest version: " +
      "no DV-deleted id and no id twice after a compaction") {
    val dir = java.nio.file.Files.createTempDirectory("dv_topk")
    try {
      val path = dir.resolve("index").toString
      val idx = VectorOps.ivfIndexDeterministic(
        embs.filter(col("vec_id") % 3 =!= 0), "vec_id", "embedding", 4)
      VectorOps.ivfWrite(idx, path)
      VectorOps.writeManifest(spark, path, 1,
        VectorOps.listIndexFiles(spark, path))
      // an appended batch leaves several small files per partition
      VectorOps.ivfAppendBatch(spark, embs.filter(col("vec_id") % 3 === 0),
        idx.centroids, path, "vec_id", "embedding", 0L)
      val doomed = col("vec_id") % 4 === 1
      val (nDv, _) = VectorOps.commitDeletionVector(spark, path, 2, 3, doomed)
      assert(nDv > 0)
      val (bins, _, _, _) =
        VectorOps.ivfCompactSmall(spark, path, 3, 4, Long.MaxValue)
      assert(bins > 0)
      val first = embs.orderBy("vec_id").head()
      val q = first.getSeq[Float](first.fieldIndex("embedding"))
      val got = VectorOps.ivfTopKFromPath(spark, path, idx.centroids,
          "vec_id", "embedding", q, k = 100000, nProbe = 4)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got.distinct.length == got.length)
      assert(!got.exists(_ % 4 == 1))
      assert(got.length == embs.filter(!doomed).count())
    } finally rmrf(dir)
  }
}
