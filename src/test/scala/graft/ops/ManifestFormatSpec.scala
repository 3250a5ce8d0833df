package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The committed manifests of every versioned writer, pinned against
  * golden files checked in under `src/test/resources/manifest_golden/`.
  * A fixed sequence runs each writer once on a small fixed index, its
  * shallow clone and a snapshot view; every manifest it commits (header
  * lines and file list, byte for byte) must equal the golden one. The
  * temporary root is replaced by `$ROOT`, and Spark-generated `part-*`
  * file names (their uuid changes per run) by their position in the
  * manifest, `@N`. graft's own deterministic names stay verbatim, so a
  * change to a landed file's name, a header, the carried state or the
  * file order fails here.
  */
class ManifestFormatSpec extends SparkSpec {

  private val cents: Array[Array[Double]] =
    Array(Array(0.0, 0.0), Array(10.0, 10.0), Array(20.0, 20.0))

  /** Rows `ids` in one partition: each vector sits near centroid
    * `id % 3`, offset by the id and by `shift`. */
  private def rows(ids: Seq[Long], shift: Float = 0f): DataFrame = {
    val sp = spark
    import sp.implicits._
    ids.map { id =>
      val x = ((id % 3) * 10 + id * 0.01 + shift).toFloat
      (id, Seq(x, x))
    }.toDF("vec_id", "embedding").coalesce(1)
  }

  private def ids(xs: Long*): DataFrame = {
    val sp = spark
    import sp.implicits._
    xs.toDF("vec_id")
  }

  /** Every writer once, in a fixed order, on the index `idx`, its clone
    * `clone` and the view `view` under `root`. */
  private def run(root: String): Unit = {
    val (idx, clone, view) = (s"$root/idx", s"$root/clone", s"$root/view")
    val (id, vec) = ("vec_id", "embedding")
    VectorOps.ivfAppend(rows(1L to 18L), cents, idx, id, vec)
    VectorOps.writeManifest(spark, idx, 1,
      VectorOps.listIndexFiles(spark, idx))                            // v1
    VectorOps.ivfAppendBatch(spark, rows(19L to 24L), cents, idx, id, vec,
      batchId = 7L, sink = "s1")                                       // v2
    VectorOps.setTableChecks(spark, idx, 2, 3,
      Seq("id_positive" -> "vec_id > 0"))                              // v3
    VectorOps.commitDeletes(spark, idx, 3, 4, ids(2L, 5L, 21L))       // v4
    VectorOps.commitDeletionVector(spark, idx, 4, 5,
      col(id).isin(3L, 4L, 22L))                                       // v5
    VectorOps.ivfUpsert(spark, idx, 5, 6, rows(Seq(6L, 25L), 0.5f),
      cents, id, vec)                                                  // v6
    VectorOps.ivfMerge(spark, idx, 6, 7, rows(Seq(2L, 7L, 8L, 26L), 0.25f),
      col(id) === 8L, cents, id, vec)                                  // v7
    VectorOps.ivfCompactVersioned(spark, idx, 7, 8)                    // v8
    VectorOps.ivfAppendBatch(spark, rows(Seq(27L, 30L)), cents, idx, id,
      vec, batchId = 8L, sink = "s1")                                  // v9
    VectorOps.commitDeletionVector(spark, idx, 9, 10,
      col(id).isin(9L, 10L))                                           // v10
    VectorOps.ivfCompactSmall(spark, idx, 10, 11, Long.MaxValue)       // v11
    VectorOps.reclusterVersioned(spark, idx, 11, 12, id, 2)            // v12
    VectorOps.commitDeletionVector(spark, idx, 12, 13,
      col(id) === 11L)                                                 // v13
    VectorOps.applyDeletes(spark, idx, 13, 14, id)                     // v14
    VectorOps.renameColumns(spark, idx, 14, 15,
      Map("embedding" -> "vector"))                                    // v15
    VectorOps.dropColumns(spark, idx, 15, 16, Seq("note"))             // v16
    VectorOps.restoreVersion(spark, idx, 15)                           // v17
    VectorOps.commitDeletes(spark, idx, 17, 18, ids(12L))              // v18
    VectorOps.cloneIndex(spark, idx, clone, 18)                        // clone v1
    VectorOps.localizeClone(spark, clone, 1, 2)                        // clone v2
    VectorOps.promoteVersion(spark, clone, 2, idx)                     // v19
    VectorOps.commitSnapshotVersion(spark, view, 1, "t1",
      rows(1L to 3L), Map("batch" -> "1"))                             // view v1
  }

  private val expected = Seq("idx" -> 19, "clone" -> 2, "view" -> 1)

  /** The committed manifest `name/_manifests/vNNNNN.manifest` under
    * `root`, normalised: the root becomes `$ROOT`, a `part-*` file name
    * its manifest position. */
  private def normalised(root: String, name: String,
                         version: Int): Seq[String] = {
    val p = java.nio.file.Paths.get(root, name, "_manifests",
      f"v$version%05d.manifest")
    val lines = new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8)
      .replace(root, "$ROOT").split("\n", -1).toSeq
    val files = lines.filterNot(l => l.startsWith("#") || l.isEmpty)
    lines.map { l =>
      val i = l.lastIndexOf('/')
      if (l.startsWith("#") || !l.drop(i + 1).startsWith("part-")) l
      else l.take(i + 1) + "@" + files.indexOf(l)
    }
  }

  private def golden(name: String, version: Int): Seq[String] = {
    val in = getClass.getResourceAsStream(
      f"/manifest_golden/$name/v$version%05d.manifest")
    assert(in != null, s"missing golden $name v$version")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      .split("\n", -1).toSeq
    finally in.close()
  }

  test("every writer commits the golden manifest: headers, file names " +
      "and file order") {
    val dir = java.nio.file.Files.createTempDirectory("manfmt")
    try {
      val root = dir.toString
      run(root)
      for ((name, head) <- expected) {
        assert(VectorOps.listVersions(spark, s"$root/$name") == (1 to head),
          s"$name versions")
        for (v <- 1 to head)
          assert(normalised(root, name, v) == golden(name, v), s"$name v$v")
      }
    } finally Staging.deleteRecursively(dir)
  }
}
