package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The delete contract of the pruned readers (Pruned, Rect, Prefix,
  * Point, Semi, SemiDist): they subtract a version's deletion-vector
  * positions, which are keyed by file and row, but not its id
  * tombstones, which are keyed by an id column the readers are not
  * given. `readIndexVersionVisible` is the visible read.
  */
class PrunedReadTombstoneSpec extends SparkSpec {

  test("after commitDeletes a range and a point read still serve the " +
      "tombstoned ids; readIndexVersionVisible serves none of them") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("pruned_tomb")
    try {
      val path = dir.resolve("index").toString
      VectorOps.ivfWrite(
        VectorOps.ivfIndexDeterministic(embs, "vec_id", "embedding", 4), path)
      VectorOps.writeManifest(spark, path, 1, VectorOps.listIndexFiles(spark, path))
      val ids = embs.select(col("vec_id")).collect().map(_.getLong(0)).sorted
      val doomed = ids.filter(_ % 5 == 0)
      VectorOps.commitDeletes(spark, path, 1, 2,
        embs.filter(col("vec_id") % 5 === 0).select(col("vec_id")))
      VectorOps.writeColStats(spark, path, 2, "vec_id")
      VectorOps.writeBloomFilter(spark, path, 2, "vec_id")
      def served(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      val (range, _, _) =
        VectorOps.readIndexVersionPruned(spark, path, 2, "vec_id", ids.head, ids.last)
      assert(served(range) == ids.toSet)
      val (point, _, _) =
        VectorOps.readIndexVersionPoint(spark, path, 2, "vec_id", doomed.head)
      assert(served(point) == Set(doomed.head))
      assert(served(VectorOps.readIndexVersionVisible(spark, path, 2, "vec_id")) ==
        ids.toSet -- doomed)
    } finally Staging.deleteRecursively(dir)
  }
}
