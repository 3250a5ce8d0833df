package graft.expr

import graft.SparkSpec
import graft.ops.{ReferenceForms, TextOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

/** Byte-parity of the compiled sliding-gram kernel against the HOF
  * formulation, on real fixture documents and hand-built edge cases.
  */
class WordGramsSpec extends SparkSpec {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("shingles kernel == HOF form on real documents (n = 3 and 15)") {
    for (n <- Seq(3, 15)) {
      val rows = docs.select(
          TextOps.shingles(col("text"), n).as("kern"),
          ReferenceForms.shinglesHof(col("text"), n).as("hof"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
      }
    }
  }

  test("edge cases: short array branch, empty tokens, null skip, null input") {
    import spark.implicits._
    val df = Seq(
      Seq("a", "b"),             // shorter than n → whole-array gram
      Seq("only"),               // single token
      Seq.empty[String],         // empty → [""] (concat_ws of nothing)
      Seq("x", "y", "z", "w")    // exact windows
    ).toDF("toks")
    val n = 3
    val kern = df.select(GraftShim.column(
      WordGrams(GraftShim.expression(col("toks")), n)).as("g"))
      .collect().map(_.getSeq[String](0))
    val hof = df.select(
        when(size(col("toks")) < n, array(concat_ws(" ", col("toks"))))
          .otherwise(transform(sequence(lit(0), size(col("toks")) - n),
            i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(n)))))
          .as("g"))
      .collect().map(_.getSeq[String](0))
    assert(kern.toSeq == hof.toSeq)
    assert(kern(2) == Seq("")) // empty input: one empty gram, like concat_ws
    // null elements are skipped exactly as concat_ws skips them
    val withNull = Seq(1).toDF("x").select(
      GraftShim.column(WordGrams(GraftShim.expression(
        array(lit("a"), lit(null).cast("string"), lit("b"))), 2)).as("g"),
      array(concat_ws(" ", lit("a"), lit(null).cast("string")),
        concat_ws(" ", lit(null).cast("string"), lit("b"))).as("h"))
      .head()
    assert(withNull.getSeq[String](0) == withNull.getSeq[String](1))
    // null input array → null output
    val nul = Seq(1).toDF("x").select(GraftShim.column(
      WordGrams(GraftShim.expression(lit(null).cast("array<string>")), 3)))
      .head()
    assert(nul.isNullAt(0))
  }
}
