package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulations the specs compare the engine's operators
  * against: composed-builtins (higher-order function) forms of the
  * compiled kernels, the window form of the `max_by` dedup, and the
  * inverses round-trip tests need. None of them runs in the engine.
  */
object ReferenceForms {

  /** Window form of [[Dedup.latestPerKeyAgg]]: the single row per key
    * that maximizes `orderCol`, ties broken by `tieBreakers`.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderCol: String,
                   tieBreakers: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc +: tieBreakers: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[TextOps.langId]] as composed builtins: stopword-overlap argmax,
    * the lexicographically largest code winning ties, `und` on no hit.
    */
  def langIdHof(c: Column): Column =
    TextOps.bind(array_distinct(TextOps.tokens(lower(c)))) { toks =>
      val scored = TextOps.stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
        struct(size(array_intersect(toks, typedLit(words))).as("score"),
          lit(lang).as("lang"))
      }
      val best = greatest(scored: _*)
      when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
    }

  /** [[TextOps.shingles]] as composed builtins: an interpreted
    * slice+concat per window.
    */
  def shinglesHof(c: Column, n: Int): Column =
    TextOps.bind(TextOps.tokens(c)) { toks =>
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
    }

  /** [[TextOps.jaccard]] as composed builtins. */
  def jaccardHof(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** [[TextOps.minHashSignature]] as composed builtins: k full
    * byte-hashes per element against the kernel's one.
    */
  def minHashSignatureHof(shinglesCol: Column, k: Int): Column =
    TextOps.bind(shinglesCol) { sh =>
      transform(sequence(lit(0), lit(k - 1)),
        s => array_min(transform(sh, x => xxhash64(x, s))))
    }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** [[VectorOps.l2sq]] as composed builtins: a left-to-right double fold. */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)

  /** [[VectorOps.ivfAssign]] as composed builtins: k interpreted lambda
    * folds and a k-wide distance array per row, first-index tie-break.
    */
  def ivfAssignHof(vecCol: Column, centroids: Array[Array[Double]]): Column = {
    val lit2 = typedLit(centroids.map(_.toSeq).toSeq)
    val dists = transform(sequence(lit(0), lit(centroids.length - 1)), ci =>
      aggregate(
        zip_with(vecCol, element_at(lit2, ci + 1),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, x) => acc + x))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** De-interleave: recover dimension 0 (or 1) from a
    * [[Layout.zValue]] — the round-trip inverse.
    */
  def unInterleave(z: Column, dim: Int, bits: Int): Column =
    (0 until bits).map { i =>
      shiftright(z.bitwiseAND(lit(1L << (2 * i + dim))), i + dim)
    }.reduce(_ bitwiseOR _)
}
