package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A stale copy-on-write rewrite — an upsert or a merge from v2 to v3
  * after another writer already committed v3 — must be refused without
  * touching anything v3 references. Rewrites name their landed files and
  * their tombstone / DV sidecars by the target version, so the loser's
  * names are the winner's: replacing them before the manifest create
  * refuses the loser would silently alter the committed v3. The loser
  * throws "already committed", and v3's manifest, rows, vectors and
  * sidecars stay exactly as the winner committed them. The same holds
  * for every other writer pointed at v3: a clone localize, a tombstone
  * or DV delete, a small-file compaction and a re-cluster each refuse
  * with the same `IOException` before doing any work.
  */
class StaleRewriteSpec extends SparkSpec {

  /** 400 seeded random 8-d vectors, ids 1..400. */
  private lazy val embs: DataFrame = {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    (1L to 400L).map(id => (id, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** v0 the index, v1 a DV delete in every partition, v2 tombstones in
    * every partition. Returns the directory, the index path, the
    * centroids and the ids of the fullest partition that v1 left
    * visible; its first three ids are among v2's tombstones. */
  private def freshIndex(tag: String)
      : (java.nio.file.Path, String, Array[Array[Double]], Seq[Long]) = {
    val idx = VectorOps.ivfIndexDeterministic(embs, "vec_id", "embedding", 4)
    val dir = java.nio.file.Files.createTempDirectory(s"stale_$tag")
    val path = dir.resolve("index").toString
    idx.assigned.repartition(2)
      .write.partitionBy("centroid").mode("overwrite").parquet(path)
    VectorOps.writeManifest(spark, path, 0,
      VectorOps.listIndexFiles(spark, path))
    VectorOps.commitDeletionVector(spark, path, 0, 1,
      col("vec_id") % 11 === 1)
    val fullest = idx.assigned.groupBy(col("centroid")).count()
      .orderBy(col("count").desc, col("centroid")).head().getInt(0)
    val ids = idx.assigned
      .filter(col("centroid") === fullest && col("vec_id") % 11 =!= 1)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
      .sorted.toSeq
    assert(ids.length >= 20, "probe needs a populated partition")
    VectorOps.commitDeletes(spark, path, 1, 2, embs
      .filter(col("vec_id") % 13 === 2 || col("vec_id").isin(ids.take(3): _*))
      .select(col("vec_id")))
    (dir, path, idx.centroids, ids)
  }

  /** Rows `ids` with every vector component shifted by `bump`. */
  private def batch(ids: Seq[Long], bump: Float): DataFrame =
    embs.filter(col("vec_id").isin(ids: _*)).select(col("vec_id"),
      transform(col("embedding"), x => x + lit(bump)).as("embedding"))

  /** What v3 serves and references: the manifest bytes, the
    * merge-on-read and the fully visible rows with their vectors, and
    * the tombstone and DV sidecar contents. */
  private def v3State(path: String) = {
    def rows(df: DataFrame) = df.select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getAs[Number](0).longValue,
        r.getSeq[Float](1).toVector)).sortBy(_._1).toVector
    val tomb = VectorOps.readDeletes(spark, path, 3)
    val dv = VectorOps.readDeletionVector(spark, path, 3)
    assert(tomb.isDefined && dv.isDefined,
      "probe needs v3 tombstone and DV sidecars")
    (new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        path, "_manifests", "v00003.manifest")), "UTF-8"),
      rows(VectorOps.readIndexVersionMor(spark, path, 3, "vec_id")),
      rows(VectorOps.readIndexVersionVisible(spark, path, 3, "vec_id")),
      tomb.get.collect().map(_.getAs[Number]("vid").longValue).sorted.toVector,
      dv.get.collect().map(r => (r.getAs[String]("file"),
        r.getAs[Number]("pos").longValue)).sorted.toVector)
  }

  /** After `winner` committed v3, a stale upsert and a stale merge from
    * v2, each over other ids (one of them a tombstoned id), and every
    * other writer from v2 to v3 are refused and v3 is unchanged. */
  private def staleLosersRefused(tag: String)(
      winner: (String, Array[Array[Double]], Seq[Long]) => Unit): Unit = {
    val (dir, path, cents, ids) = freshIndex(tag)
    try {
      winner(path, cents, ids(0) +: ids.slice(4, 9))
      val before = v3State(path)
      val upsert = intercept[java.io.IOException] {
        VectorOps.ivfUpsert(spark, path, 2, 3,
          batch(ids(1) +: ids.slice(10, 15), 0.002f), cents,
          "vec_id", "embedding")
      }
      assert(upsert.getMessage.contains("already committed"),
        upsert.getMessage)
      val mergeIds = ids(2) +: ids.slice(16, 20)
      val merge = intercept[java.io.IOException] {
        VectorOps.ivfMerge(spark, path, 2, 3, batch(mergeIds, 0.003f),
          col("vec_id") === mergeIds.last, cents, "vec_id", "embedding")
      }
      assert(merge.getMessage.contains("already committed"),
        merge.getMessage)
      val doomed = ids(3)
      val writers: Seq[(String, () => Any)] = Seq(
        "localizeClone" -> (() => VectorOps.localizeClone(spark, path, 2, 3)),
        "commitDeletes" -> (() => VectorOps.commitDeletes(spark, path, 2, 3,
          embs.filter(col("vec_id") === doomed).select(col("vec_id")))),
        "ivfCompactSmall" -> (() =>
          VectorOps.ivfCompactSmall(spark, path, 2, 3, 1L << 20)),
        "reclusterVersioned" -> (() =>
          VectorOps.reclusterVersioned(spark, path, 2, 3, "vec_id", 2)),
        "commitDeletionVector" -> (() => VectorOps.commitDeletionVector(
          spark, path, 2, 3, col("vec_id") === doomed)))
      writers.foreach { case (name, write) =>
        val e = intercept[java.io.IOException](write())
        assert(e.getMessage.contains("already committed"),
          s"$name: ${e.getMessage}")
      }
      assert(VectorOps.latestVersion(spark, path).contains(3))
      val after = v3State(path)
      val changed = Seq("manifest", "merge-on-read rows", "visible rows",
        "tombstones", "deletion vector").zipWithIndex.collect {
        case (what, i) if before.productElement(i) !=
            after.productElement(i) => what }
      if (changed.nonEmpty)
        fail(s"a refused stale rewrite altered v3: ${changed.mkString(", ")}")
    } finally Staging.deleteRecursively(dir)
  }

  test("a committed upsert's v3 is untouched by a stale upsert and a " +
      "stale merge that are refused") {
    staleLosersRefused("ups") { (path, cents, ids) =>
      VectorOps.ivfUpsert(spark, path, 2, 3, batch(ids, 0.001f), cents,
        "vec_id", "embedding")
    }
  }

  test("a committed merge's v3 is untouched by a stale upsert and a " +
      "stale merge that are refused") {
    staleLosersRefused("mrg") { (path, cents, ids) =>
      VectorOps.ivfMerge(spark, path, 2, 3, batch(ids, 0.001f),
        col("vec_id") === ids.last, cents, "vec_id", "embedding")
    }
  }
}
