package graft.ops

import graft.SparkSpec

/** The on-disk formats of the three skipping sidecars (zone map, string
  * bounds, bloom), pinned against golden lines checked in under
  * `src/test/resources/sidecar_golden/`. SidecarIncrementalSpec compares
  * the incremental writers with the full ones from the same code; this
  * spec compares both with bytes a known-good build committed, so a
  * change to the line format, the header or the line order fails here
  * even when every writer changes the same way. Data-file names are
  * normalised to their manifest position (`@0`, `@1`, ...), so the
  * golden lines name no file.
  */
class SidecarFormatSpec extends SparkSpec {

  /** The fixed index: v1 lists four files in three partitions, v2 adds
    * one. Each file is written alone under a fixed name, so its rows,
    * and with them its footer statistics and bloom bits, never depend on
    * how Spark splits the work. */
  private val v1Files: Seq[(String, Seq[(Long, Option[String])])] = Seq(
    "centroid=0/a.parquet" ->
      Seq((1L, Some("apple")), (5L, Some("apricot")), (9L, Some("avocado"))),
    "centroid=0/b.parquet" ->
      Seq((40L, Some("banana")), (44L, Some("blueberry"))),
    "centroid=1/c.parquet" -> Seq((12L, Some("cherry_cherry_cherry_cherry")),
      (13L, Some("éclair")), (100L, Some("zz"))),
    "centroid=2/d.parquet" -> Seq((7L, None), (8L, None)))
  private val v2File: (String, Seq[(Long, Option[String])]) =
    "centroid=1/e.parquet" -> Seq((60L, Some("fig")), (61L, Some("grape")))

  private val kinds = Seq("colstats", "strstats", "bloom.vec_id")

  private def land(path: String,
                   file: (String, Seq[(Long, Option[String])])): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val (rel, rows) = file
    val fs = new HPath(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stage = s"$path/_staging/${rel.replace('/', '_')}"
    spark.createDataFrame(rows).toDF("vec_id", "name")
      .coalesce(1).write.parquet(stage)
    val part = fs.listStatus(new HPath(stage))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.mkdirs(new HPath(path, rel).getParent)
    assert(fs.rename(part, new HPath(path, rel)))
    fs.delete(new HPath(stage), true)
  }

  /** The fixed index at `path`, committed as v1 and v2. */
  private def fixture(path: String): Unit = {
    v1Files.foreach(land(path, _))
    VectorOps.writeManifest(spark, path, 1, v1Files.map(_._1))
    land(path, v2File)
    VectorOps.writeManifest(spark, path, 2,
      (v1Files.map(_._1) :+ v2File._1).sorted)
  }

  private def sidecar(path: String, version: Int, kind: String): Seq[String] =
    VectorOps.readSidecarLines(spark, path, f"v$version%05d.$kind").get

  /** Replace each line's leading data-file name with its manifest
    * position, and back. */
  private def normalise(files: Seq[String], lines: Seq[String]): Seq[String] =
    lines.map { l =>
      val i = files.indexWhere(f => l.startsWith(f + "\t"))
      if (i < 0) l else s"@$i" + l.drop(files(i).length)
    }
  private def denormalise(files: Seq[String],
                          lines: Seq[String]): Seq[String] =
    lines.map { l =>
      if (!l.startsWith("@")) l
      else {
        val i = l.indexOf('\t')
        files(l.substring(1, i).toInt) + l.drop(i)
      }
    }

  private def golden(version: Int, kind: String): Seq[String] = {
    val in = getClass.getResourceAsStream(
      f"/sidecar_golden/v$version%05d.$kind")
    assert(in != null, s"missing golden v$version.$kind")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toIndexedSeq
    finally in.close()
  }

  private def withIndex(tag: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"sidefmt_$tag")
    try {
      val path = dir.resolve("index").toString
      fixture(path)
      body(path)
    } finally Staging.deleteRecursively(dir)
  }

  test("full (v1) and incremental (v2) sidecars match the golden lines") {
    withIndex("golden") { path =>
      VectorOps.writeColStats(spark, path, 1, "vec_id")
      VectorOps.writeStringStats(spark, path, 1, "name")
      VectorOps.writeBloomFilter(spark, path, 1, "vec_id")
      VectorOps.refreshSkippingSidecars(spark, path, 2,
        zoneCols = Seq("vec_id"), bloomCols = Seq("vec_id"),
        strCols = Seq("name"))
      for (v <- Seq(1, 2); kind <- kinds) {
        val files = VectorOps.readManifest(spark, path, v)
        assert(normalise(files, sidecar(path, v, kind)) == golden(v, kind),
          s"v$v.$kind")
      }
      assert(sidecar(path, 1, "strstats").head == "#strstats\tv2\ttruncate=16")
      assert(sidecar(path, 1, "bloom.vec_id").head == "#bloom\tv2\tfpp=0.001")
    }
  }

  test("sidecars committed by the known-good build read back exactly " +
      "like freshly written ones") {
    withIndex("fresh") { fresh =>
      withIndex("old") { old =>
        for (v <- Seq(1, 2)) {
          VectorOps.writeColStats(spark, fresh, v, "vec_id")
          VectorOps.writeStringStats(spark, fresh, v, "name")
          VectorOps.writeBloomFilter(spark, fresh, v, "vec_id")
          val files = VectorOps.readManifest(spark, old, v)
          kinds.foreach(k => VectorOps.writeSidecar(spark, old,
            f"v$v%05d.$k", denormalise(files, golden(v, k))))
          assert(VectorOps.readColStats(spark, old, v, "vec_id") ==
            VectorOps.readColStats(spark, fresh, v, "vec_id"))
          def strs(p: String) =
            VectorOps.readStringStats(spark, p, v, "name").map {
              case (f, z) => f -> z.map { case (lo, hi) =>
                (lo.toSeq, hi.map(_.toSeq)) } }
          assert(strs(old) == strs(fresh))
          def blooms(p: String) =
            VectorOps.readBloomFilter(spark, p, v, "vec_id")
          assert(blooms(old) == blooms(fresh))
          // the readers plan the same kept files from either
          def kept(p: String) = (
            VectorOps.readIndexVersionPruned(spark, p, v, "vec_id", 6L, 12L)._2,
            VectorOps.readIndexVersionPrunedPrefix(spark, p, v, "name", "b")._2,
            VectorOps.readIndexVersionPoint(spark, p, v, "vec_id", 44L)._2)
          assert(kept(old) == kept(fresh))
        }
      }
    }
  }
}
