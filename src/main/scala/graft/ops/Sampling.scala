package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sampling / density probes (SURVEY §2.4 — D3, D4).
  */
object Sampling {

  /** D3: top-k densest rows (fewest nulls) — derived column + orderBy+limit
    * → Spark plans TakeOrderedAndProject (per-partition heap, no total
    * sort). Tie-break columns keep the result deterministic.
    * (`utils/extract_most_populated_rows.py:4-5`)
    */
  def topKDense(df: DataFrame, k: Int, tieBreakers: Seq[Column]): DataFrame =
    df.withColumn("null_count", PivotAgg.nullCount(df))
      .orderBy(col("null_count").asc +: tieBreakers: _*)
      .limit(k)

  /** D4: exact-N seeded random sample
    * (`utils/extract_small_sample_of_data.py:7`). Engine-deterministic
    * (Spark rand(seed)), NOT pandas-RNG compatible (SURVEY §7.4).
    *
    * Scale path: rand is computed map-side; TakeOrderedAndProject keeps
    * only N rows per partition before the single-reduce merge — no full
    * shuffle of the data. For N large enough to hurt the driver, switch
    * to fraction-oversample + repartition.
    */
  def exactSample(df: DataFrame, n: Int, seed: Long = 42L): DataFrame =
    df.orderBy(rand(seed)).limit(n)

  /** Null-safe hash key: concat_ws SKIPS nulls, so ('a', null, 'b') and
    * ('a', 'b') would hash identically; coalescing every key to a NUL
    * sentinel keeps distinct key tuples distinct. For non-null keys the
    * string is unchanged, so oracles over non-null fixtures are
    * unaffected. (DuckDB concat_ws skips nulls the same way — the
    * sentinel form mirrors verbatim when an oracle needs it.)
    */
  private def hashKey(keyCols: Seq[Column]): Column =
    md5(concat_ws("|", keyCols.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*))

  /** Exact-N HASH-deterministic sample: order by md5 of the key columns —
    * pseudo-random but engine-independent (any engine with md5 draws the
    * SAME sample, unlike seeded RNG sampling). Same TakeOrdered scale
    * shape as [[exactSample]]; the key columns double as tie-breakers so
    * the cut is total-ordered.
    */
  def hashSample(df: DataFrame, n: Int, keyCols: Seq[Column]): DataFrame =
    df.withColumn("h", hashKey(keyCols))
      .orderBy(col("h") +: keyCols: _*)
      .limit(n)

  /** Exact-N-per-stratum sample, hash-deterministic: within each stratum,
    * rank rows by (md5(key), key) and keep the first `n`.
    *
    * Two-phase salted pruning, because strata are typically FEW (languages,
    * return flags, label buckets) — a plain `Window.partitionBy(stratum)`
    * would funnel the whole table through |strata| tasks (the same class
    * of scale-killer as an unpartitioned global window). Phase 1 ranks
    * within (stratum, salt) — the salt is a deterministic hash of the key
    * columns, so the shuffle spreads over |strata|×`saltBuckets` groups
    * and each keeps only its local top-n. Any stratum-global top-n row is
    * outranked by at most n-1 rows in ANY subgroup it lands in, so phase
    * 1 always preserves a superset. Phase 2 ranks per stratum over the
    * ≤ n×saltBuckets survivors — negligible. Result is identical to the
    * single-window form for any input partitioning.
    */
  def stratifiedHashSample(df: DataFrame, n: Int, stratumCol: Column,
                           keyCols: Seq[Column],
                           saltBuckets: Int = 64): DataFrame = {
    val salt = pmod(xxhash64(keyCols: _*), lit(saltBuckets))
    val ord = hashKey(keyCols) +: keyCols
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol, salt).orderBy(ord: _*)
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(wLocal))
      .filter(col("__rn") <= n)
      .drop("__rn")
      .withColumn("__rn", row_number().over(wGlobal))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Weighted sample without replacement (Efraimidis–Spirtakis A-Res),
    * hash-deterministic: each row draws u ∈ (0,1) from the md5 of its key
    * (engine-portable, unlike seeded RNG) and scores pow(u, 1/w); the n
    * largest scores win. Heavier rows draw systematically larger scores —
    * inclusion probability ∝ weight, exactly the A-Res guarantee. The
    * score is map-side arithmetic; selection is orderBy+limit →
    * TakeOrderedAndProject (per-partition n-row heap, single n-row
    * merge — no shuffle of the data). Non-positive weights are excluded
    * (A-Res domain), nulls too.
    */
  def weightedHashSample(df: DataFrame, n: Int, weightCol: Column,
                         keyCols: Seq[Column]): DataFrame = {
    // u = (first 8 md5 hex digits + 0.5) / 2^32 — strictly inside (0,1),
    // so ln/pow never see 0; +0.5 and the division are exact in binary.
    val u = (conv(substring(hashKey(keyCols), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    df.filter(weightCol.isNotNull && weightCol > 0)
      .withColumn("__ares", pow(u, lit(1.0) / weightCol.cast("double")))
      .orderBy(col("__ares").desc +: keyCols: _*)
      .limit(n)
      .drop("__ares")
  }
}
