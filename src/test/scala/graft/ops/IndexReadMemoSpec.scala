package graft.ops

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The versioned index reads through [[graft.Tables.parquet]]: a second
  * build of a reader starts no Spark job, every remembered schema equals
  * what Spark's inference returns for the same file set today, and a
  * file set whose bytes changed under the same names is inferred again.
  */
class IndexReadMemoSpec extends SparkSpec {

  private def embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .filter(col("vec_id") =!= 0)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def withDir(tag: String)(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(s"memo_$tag")
    try body(dir) finally Staging.deleteRecursively(dir)
  }

  /** An IVF index of the `vec_id % 5 != 2` rows at `path`, committed as
    * v1; returns its centroids. */
  private def baseIndex(path: String): Array[Array[Double]] = {
    val idx = VectorOps.ivfIndexDeterministic(
      embs.filter(col("vec_id") % 5 =!= 2), "vec_id", "embedding", 4)
    VectorOps.ivfWrite(idx, path)
    VectorOps.writeManifest(spark, path, 1, VectorOps.listIndexFiles(spark, path))
    idx.centroids
  }

  /** The `vec_id % 5 = 2` rows with an extra `quality` column, appended
    * under `path` in its centroid layout (the q_schema_evolution append). */
  private def appendEvolved(path: String, centroids: Array[Array[Double]]): Unit =
    embs.filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") % 100).cast("long").as("quality"),
        VectorOps.ivfAssign(col("embedding"), centroids).as("centroid"))
      .write.partitionBy("centroid").mode("append").parquet(path)

  /** Spark's own read of the local manifest entries `files` under `path`. */
  private def fresh(path: String, files: Seq[String]): DataFrame =
    spark.read.option("basePath", path).parquet(files.map(f => s"$path/$f"): _*)

  test("a second build of each index reader starts no job, on a version " +
      "carrying both a DV and tombstones") {
    withDir("jobs") { dir =>
      val path = dir.resolve("index").toString
      baseIndex(path)
      VectorOps.commitDeletes(spark, path, 1, 2,
        embs.filter(col("vec_id") % 11 === 3).select(col("vec_id")))
      VectorOps.commitDeletionVector(spark, path, 2, 3, col("vec_id") % 7 === 1)
      val meta = VectorOps.readManifestMeta(spark, path, 3)
      assert(meta.contains("deletes") && meta.contains("dv"), meta)
      VectorOps.writeColStats(spark, path, 3, "vec_id")
      VectorOps.writeBloomFilter(spark, path, 3, "vec_id")
      val id = embs.filter(col("vec_id") % 5 =!= 2).agg(max("vec_id")).head().getLong(0)
      val reads = Seq[(String, () => DataFrame)](
        "readIndexVersion" -> (() => VectorOps.readIndexVersion(spark, path, 3)),
        "readIndexVersionPoint" -> (() =>
          VectorOps.readIndexVersionPoint(spark, path, 3, "vec_id", id)._1),
        "readIndexVersionPruned" -> (() =>
          VectorOps.readIndexVersionPruned(spark, path, 3, "vec_id", id - 40, id)._1),
        "readIndexLatest" -> (() => VectorOps.readIndexLatest(spark, path, "vec_id")))
      for ((name, build) <- reads) {
        val first = rows(build())
        var second: DataFrame = null
        assert(jobsStarted { second = build() } == 0, name)
        assert(rows(second) == first, name)
      }
      // the pruned frames still carry the scan metadata a DV anti-join keys on
      val (pruned, _, _) =
        VectorOps.readIndexVersionPruned(spark, path, 3, "vec_id", id - 40, id)
      assert(pruned.select(col("_metadata.file_path"), col("_metadata.row_index"))
        .count() == pruned.count())
      // the DV sidecar's remembered schema is Spark's
      VectorOps.readDeletionVector(spark, path, 3).get
      assert(VectorOps.readDeletionVector(spark, path, 3).get.schema ==
        spark.read.parquet(s"$path/${meta("dv")}").schema)
    }
  }

  test("a schema-evolved index: the old files alone, the mixed set and the " +
      "merge read each keep Spark's inferred schema") {
    withDir("evolved") { dir =>
      val path = dir.resolve("index").toString
      appendEvolved(path, baseIndex(path))
      VectorOps.writeManifest(spark, path, 2, VectorOps.listIndexFiles(spark, path))
      val old = VectorOps.readManifest(spark, path, 1)
      val mixed = VectorOps.readManifest(spark, path, 2)
      assert(old.nonEmpty && mixed.length > old.length)
      VectorOps.readIndexVersion(spark, path, 1)
      val v1 = VectorOps.readIndexVersion(spark, path, 1)
      assert(v1.schema == fresh(path, old).schema)
      assert(!v1.columns.contains("quality"))
      VectorOps.readIndexVersion(spark, path, 2)
      assert(VectorOps.readIndexVersion(spark, path, 2).schema == fresh(path, mixed).schema)
      VectorOps.readIndexVersionMerged(spark, path, 2)
      val merged = VectorOps.readIndexVersionMerged(spark, path, 2)
      assert(merged.schema == spark.read.option("basePath", path)
        .option("mergeSchema", "true").parquet(mixed.map(f => s"$path/$f"): _*).schema)
      assert(merged.columns.contains("quality"))
      // the rewrite's merge read: one group of mixed files, no basePath
      val group = mixed.map(f => s"$path/$f")
      graft.Tables.parquet(spark, group, Map("mergeSchema" -> "true"))
      assert(graft.Tables.parquet(spark, group, Map("mergeSchema" -> "true")).schema ==
        spark.read.option("mergeSchema", "true").parquet(group: _*).schema)
    }
  }

  test("a shallow clone's mixed manifest keeps the schema of Spark's " +
      "per-root reads") {
    withDir("clone") { dir =>
      val src = dir.resolve("src").toString
      val dst = dir.resolve("branch").toString
      val centroids = baseIndex(src)
      VectorOps.cloneIndex(spark, src, dst, 1)
      appendEvolved(dst, centroids)
      VectorOps.writeManifest(spark, dst, 2,
        VectorOps.readManifest(spark, dst, 1) ++ VectorOps.listIndexFiles(spark, dst))
      val (ext, local) = VectorOps.readManifest(spark, dst, 2).partition(_.startsWith("/"))
      assert(ext.nonEmpty && local.nonEmpty)
      val expected = fresh(dst, local).unionByName(
        spark.read.option("basePath", src).parquet(ext: _*), allowMissingColumns = true)
      VectorOps.readIndexVersion(spark, dst, 2)
      val second = VectorOps.readIndexVersion(spark, dst, 2)
      assert(second.schema == expected.schema)
      assert(rows(second) == rows(expected))
    }
  }

  /** `df` as the one parquet file `root/rel`. */
  private def plant(df: DataFrame, root: String, rel: String): Unit = {
    val tmp = s"$root/_plant"
    df.coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = Paths.get(s"$root/$rel")
    Files.createDirectories(dst.getParent)
    Files.move(part, dst)
    Staging.deleteRecursively(Paths.get(tmp))
  }

  test("a root rebuilt at the same relpaths with other content is inferred again") {
    withDir("rebuilt") { dir =>
      val root = dir.resolve("index").toString
      val rel = "centroid=0/part-a.parquet"
      plant(spark.range(3).select(col("id").as("vec_id")), root, rel)
      VectorOps.writeManifest(spark, root, 1, Seq(rel))
      VectorOps.readIndexVersion(spark, root, 1)
      assert(jobsStarted(VectorOps.readIndexVersion(spark, root, 1)) == 0)
      Staging.deleteRecursively(Paths.get(root))
      plant(spark.range(5).select(col("id").as("vec_id"), (col("id") * 2.0).as("score")),
        root, rel)
      VectorOps.writeManifest(spark, root, 1, Seq(rel))
      var again: DataFrame = null
      assert(jobsStarted { again = VectorOps.readIndexVersion(spark, root, 1) } > 0)
      val expected = fresh(root, Seq(rel))
      assert(again.schema == expected.schema)
      assert(again.columns.contains("score"))
      assert(rows(again) == rows(expected))
    }
  }
}
