package graft.expr

import graft.SparkSpec
import graft.ops.{ReferenceForms, TextOps}
import org.apache.spark.sql.functions._

/** Bit-parity of the compiled set-intersection kernels against the
  * composed-builtins forms, on real fixture documents and hand-built
  * edge cases (the verify paths of the similarity joins swap to these
  * kernels — r14 optimization).
  */
class SetKernelsSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("sortedIntersectCount == size(array_intersect) on real sorted " +
      "shingle-hash arrays (adjacent-doc pairs)") {
    val hsets = docs.select(col("doc_id"),
      array_sort(transform(
        array_distinct(TextOps.shingles(col("text"), 3)), t => xxhash64(t)))
        .as("wh"))
    val pairs = hsets.select(col("doc_id").as("id_a"), col("wh").as("wa"))
      .join(hsets.select(col("doc_id").as("id_b"), col("wh").as("wb")),
        col("id_b") === col("id_a") + 1)
    val rows = pairs.select(
        TextOps.sortedIntersectCount(col("wa"), col("wb")).as("kern"),
        size(array_intersect(col("wa"), col("wb"))).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    // at least some pairs must actually intersect or the test is vacuous
    assert(rows.exists(_.getInt(0) > 0))
  }

  test("sortedIntersectCount edge cases: duplicates deduped, empty, " +
      "disjoint, nulls-last match, null input") {
    import spark.implicits._
    val cases = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),       // plain overlap
      (Seq(1L, 1L, 2L, 2L), Seq(1L, 2L, 2L)),   // duplicates count once
      (Seq.empty[Long], Seq(1L, 2L)),           // empty side
      (Seq(1L, 2L), Seq(3L, 4L)),               // disjoint
      (Seq(Long.MinValue, -5L, 0L, Long.MaxValue),
        Seq(Long.MinValue, 0L, 7L, Long.MaxValue)) // signed order extremes
    ).toDF("a", "b")
    val got = cases.select(
        TextOps.sortedIntersectCount(col("a"), col("b")).as("kern"),
        size(array_intersect(col("a"), col("b"))).as("hof"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    // null elements sort last under array_sort; both-null matches once
    val withNull = Seq(1).toDF("x").select(
      TextOps.sortedIntersectCount(
        array_sort(array(lit(3L), lit(null).cast("long"), lit(1L))),
        array_sort(array(lit(null).cast("long"), lit(3L)))).as("kern"),
      size(array_intersect(
        array_sort(array(lit(3L), lit(null).cast("long"), lit(1L))),
        array_sort(array(lit(null).cast("long"), lit(3L))))).as("hof"))
      .head()
    assert(withNull.getInt(0) == withNull.getInt(1))
    // null input array → null, like size(array_intersect) on null
    val nul = Seq(1).toDF("x").select(
      TextOps.sortedIntersectCount(
        lit(null).cast("array<long>"), array(lit(1L))))
      .head()
    assert(nul.isNullAt(0))
  }

  test("jaccard kernel == intersect/union form on real distinct shingle " +
      "sets (adjacent-doc pairs)") {
    val sets = docs.select(col("doc_id"),
      array_distinct(TextOps.shingles(col("text"), 3)).as("sh"))
    val pairs = sets.select(col("doc_id").as("id_a"), col("sh").as("sa"))
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sb")),
        col("id_b") === col("id_a") + 1)
    val rows = pairs.select(
        TextOps.jaccard(col("sa"), col("sb")).as("kern"),
        ReferenceForms.jaccardHof(col("sa"), col("sb")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // bit-identical doubles, not approximate: same integer operands,
      // same IEEE division
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
    assert(rows.exists(_.getDouble(0) > 0.0))
  }

  test("jaccard kernel edge cases: identical, disjoint, empty/empty NaN, " +
      "null element, null input") {
    import spark.implicits._
    val cases = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")), // |{b,c}|/|{a,b,c,d}| = 0.5
      (Seq("a"), Seq("a")),                     // identical → 1.0
      (Seq("a"), Seq("b")),                     // disjoint → 0.0
      (Seq("x", "y"), Seq.empty[String])        // one empty → 0.0
    ).toDF("a", "b")
    val got = cases.select(
        TextOps.jaccard(col("a"), col("b")).as("kern"),
        ReferenceForms.jaccardHof(col("a"), col("b")).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.toString)
    }
    // both empty → 0/0: the kernel yields NaN (plain IEEE division; the
    // filter `NaN >= t` is false so such a pair never surfaces) where the
    // ANSI-mode composed Divide THROWS — a documented divergence on an
    // input no caller can produce (shingles() always emits ≥ 1 element)
    val nan = Seq(1).toDF("x").select(
      TextOps.jaccard(array().cast("array<string>"),
        array().cast("array<string>")).as("kern"))
      .head()
    assert(nan.getDouble(0).isNaN)
    intercept[Exception] {
      Seq(1).toDF("x").select(
        ReferenceForms.jaccardHof(array().cast("array<string>"),
          array().cast("array<string>")).as("hof"))
        .head()
    }
    // a null element present in both sets matches once (array_intersect
    // semantics on distinct inputs)
    val withNull = Seq(1).toDF("x").select(
      TextOps.jaccard(
        array(lit("a"), lit(null).cast("string")),
        array(lit(null).cast("string"), lit("b"))).as("kern"),
      ReferenceForms.jaccardHof(
        array(lit("a"), lit(null).cast("string")),
        array(lit(null).cast("string"), lit("b"))).as("hof"))
      .head()
    assert(java.lang.Double.doubleToLongBits(withNull.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(withNull.getDouble(1)))
    // null input → null
    val nul = Seq(1).toDF("x").select(
      TextOps.jaccard(lit(null).cast("array<string>"),
        array(lit("a"))))
      .head()
    assert(nul.isNullAt(0))
  }
}
