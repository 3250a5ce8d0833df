package graft.queries

import graft.{SparkSpec, Tables}
import graft.ops.{Staging, VectorOps}
import org.apache.spark.sql.functions._

/** The index fixtures' one base-index step: each deterministic quantizer
  * is trained once per (dir, slice, k) and JVM, a memoized model is the
  * model a fresh build trains, priming trains each distinct model once,
  * and no query source keeps a private build or row-set diff.
  */
class FixturesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  // the same tables under another spelling: the memo cases below key
  // their models apart from the priming case's exact count at `sf`
  private val alias = sf + "/"

  private def models(dir: String): Seq[String] =
    Staging.missedKeys.filter(_.startsWith(s"ivfmodel:$dir:"))

  test("two stagers on the same slice train one quantizer") {
    val before = models(alias)
    Curation.stageIvfAppend(spark, alias)
    Curation.stageIvfVersioned(spark, alias)
    val added = models(alias).drop(before.length)
    assert(added.length == 1 && added.head.endsWith(":8"), added)
  }

  test("a different slice or a different k trains its own quantizer") {
    val before = models(alias)
    Fixtures.quantizer(spark, alias, col("vec_id") % 5 === 1)
    Fixtures.quantizer(spark, alias, col("vec_id") % 5 === 1, k = 4)
    Fixtures.quantizer(spark, alias, col("vec_id") % 5 === 3, k = 4)
    val added = models(alias).drop(before.length)
    assert(added.length == 3 && added.distinct.length == 3, added)
  }

  test("a memoized quantizer is a fresh ivfIndexDeterministic bit for bit, " +
      "and a memo hit starts no job") {
    val slice = col("vec_id") % 11 =!= 5
    val memo = Fixtures.quantizer(spark, alias, slice)
    val fresh = VectorOps.ivfIndexDeterministic(
      Tables.corpus(spark, alias).filter(slice), "vec_id", "embedding", 8)
    def bits(c: Array[Array[Double]]) =
      c.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
    assert(bits(memo.centroids) == bits(fresh.centroids))
    assert(Curation.mismatches(memo.assigned, fresh.assigned).isEmpty)
    val n = models(alias).length
    assert(jobsStarted { Fixtures.quantizer(spark, alias, slice) } == 0)
    assert(models(alias).length == n)
  }

  test("priming at sf0.001 times every fixture and trains 13 distinct " +
      "quantizers for the 31 stagers that build one") {
    val secs = Fixtures.primeIndexFixtures(spark, sf)
    assert(secs.map(_._1) == Fixtures.primedFixtureNames)
    assert(secs.forall(_._2 >= 0), secs)
    val trained = models(sf)
    assert(trained.length == 13 && trained.distinct.length == 13,
      trained.mkString("\n"))
  }

  test("source guard: under graft/queries the deterministic quantizer is " +
      "trained only in Fixtures.quantizer, and the symmetric row-set diff " +
      "is written only in Curation.mismatches") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f.getFileName.toString -> java.nio.file.Files.readString(f))
      .toSeq
    def indexesOf(text: String, s: String): Seq[Int] =
      Iterator.iterate(text.indexOf(s))(i => text.indexOf(s, i + 1))
        .takeWhile(_ >= 0).toSeq
    // the body of `def name` runs up to the next member of its object
    def inside(text: String, name: String, at: Int): Boolean = {
      val start = text.indexOf(s"def $name(")
      val end = "\n  \\S".r.findFirstMatchIn(text.substring(start + 1))
        .fold(text.length)(start + 1 + _.start)
      start >= 0 && at > start && at < end
    }
    // the argument list opening at `open`, parentheses balanced
    def argument(text: String, open: Int): (String, Int) = {
      var depth = 0
      var i = open
      while ({
        if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
        depth > 0
      }) i += 1
      (text.substring(open + 1, i), i + 1)
    }
    val builds = for {
      (file, text) <- sources
      at <- indexesOf(text, "VectorOps.ivfIndexDeterministic(")
    } yield (file, inside(text, "quantizer", at))
    assert(builds == Seq("Fixtures.scala" -> true), builds)
    val symmetric = for {
      (file, text) <- sources
      at <- indexesOf(text, ".exceptAll(")
      (_, after) = argument(text, at + ".exceptAll".length)
      rest = text.substring(after).dropWhile(_.isWhitespace)
      union <- Seq(".union(", ".unionByName(").find(rest.startsWith)
      (arg, _) = argument(rest, union.length - 1)
      if arg.contains(".exceptAll(")
    } yield (file, inside(text, "mismatches", at))
    assert(symmetric == Seq("Curation.scala" -> true), symmetric)
  }
}
