package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators: z-order (Morton) clustering for multi-column
  * scan pruning. Rows adjacent in z-value are close in BOTH dimensions,
  * so a range-partitioned, sorted-within-partition write by z yields
  * parquet row-group min/max statistics that are selective for filters
  * on EITHER column — the standard lakehouse technique for multi-dim
  * pruning without maintaining two sort orders.
  *
  * Everything is built-in bitwise expressions (codegen-friendly, no
  * UDFs): quantize each dimension to `bits` levels over its driver-known
  * range (tiny 1-row agg), then interleave bit i of x to position 2i and
  * bit i of y to position 2i+1.
  */
object Layout {

  /** Quantize `v` into [0, 2^bits) over [mn, mx]; values at mx clamp to
    * the top cell. Degenerate range (mn == mx) → cell 0.
    */
  def quantize(v: Column, mn: Double, mx: Double, bits: Int): Column = {
    val cells = 1L << bits
    if (mn == mx) lit(0L)
    else least(
      greatest(floor((v.cast("double") - mn) / (mx - mn) * cells), lit(0.0)),
      lit((cells - 1).toDouble)).cast("long")
  }

  /** Morton interleave of two quantized values (bit i of x → 2i, bit i
    * of y → 2i+1). `bits` ≤ 31 per dimension.
    */
  def zValue(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      val xi = shiftleft(x.bitwiseAND(lit(1L << i)), i)
      val yi = shiftleft(y.bitwiseAND(lit(1L << i)), i + 1)
      xi.bitwiseOR(yi)
    }.reduce(_ bitwiseOR _)

  /** The same interleave as ANSI SQL (for the DuckDB oracle) — kept
    * beside [[zValue]] so the two formulations can't drift.
    */
  def zValueSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x & ${1L << i}) << $i) | (($y & ${1L << i}) << ${i + 1}))"
    }.mkString("(", " | ", ")")

  /** [[quantize]] as ANSI SQL with driver-free range terms (`mn`/`mx`
    * are SQL expressions, e.g. scalar-subquery columns) — shared with
    * the oracle for the same no-drift reason as [[zValueSql]]. The
    * CASE guard mirrors the Scala mn == mx branch explicitly instead of
    * relying on division-by-zero semantics.
    */
  def quantizeSql(v: String, mn: String, mx: String, bits: Int): String = {
    val cells = 1L << bits
    s"CAST(CASE WHEN $mn = $mx THEN 0 ELSE " +
      s"least(greatest(floor((CAST($v AS DOUBLE) - $mn) / ($mx - $mn) * $cells), 0), ${cells - 1}) " +
      s"END AS BIGINT)"
  }

  /** Hilbert-curve index of a quantized (x, y) cell (the xy2d walk —
    * public-domain standard formulation, e.g. Hamilton, CMU-CS-06-101):
    * like [[zValue]] it linearizes two dimensions for layout, but with
    * strictly better locality — CONSECUTIVE indices are always
    * grid-adjacent (no Morton "jumps" across the plane), which tightens
    * per-file min/max stats at the same file count. The per-level
    * rotation makes the recurrence sequential, so each level
    * materializes as a PROJECTION (`withColumn` chain) instead of one
    * nested expression — the expression tree stays linear in `bits`
    * (a single folded expression doubles per level). Input columns must
    * already be quantized to [0, 2^bits). Appends `outCol`, drops its
    * scratch columns.
    */
  def withHilbert(df: DataFrame, xCol: String, yCol: String, bits: Int,
                  outCol: String): DataFrame = {
    val levels = (bits - 1) to 0 by -1
    val seeded = df.withColumn("__hx", col(xCol))
      .withColumn("__hy", col(yCol))
      .withColumn(outCol, lit(0L))
    val walked = levels.foldLeft(seeded) { (d, lvl) =>
      val s = 1L << lvl
      val rx = when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val ry = when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L)
      val term = when(rx === 0 && ry === 0, 0L)
        .when(rx === 0, 1L).when(ry === 0, 3L).otherwise(2L)
      d.withColumn(outCol, col(outCol) + lit(s * s) * term)
        // if ry=0: conditional reflect (rx=1) then swap; else unchanged
        .withColumn("__hx2",
          when(ry === 0,
            when(rx === 1, lit(s - 1) - col("__hy")).otherwise(col("__hy")))
            .otherwise(col("__hx")))
        .withColumn("__hy",
          when(ry === 0,
            when(rx === 1, lit(s - 1) - col("__hx")).otherwise(col("__hx")))
            .otherwise(col("__hy")))
        .withColumn("__hx", col("__hx2")).drop("__hx2")
    }
    walked.drop("__hx", "__hy")
  }

  /** The same Hilbert walk as a chain of SQL CTEs (for the DuckDB
    * oracle) — generated from the same level loop as [[withHilbert]] so
    * the two formulations can't drift. Returns CTE text starting with a
    * comma: `", h0 AS (...), h1 AS (...)"`; the walk starts from CTE
    * `from0` which must expose `hx`, `hy`, `hd` plus `carry` columns,
    * and the final CTE is `h${bits - 1}` with the same schema.
    */
  def hilbertSqlCtes(from0: String, carry: Seq[String], bits: Int): String = {
    val keep = carry.mkString(", ")
    ((bits - 1) to 0 by -1).zipWithIndex.map { case (lvl, i) =>
      val s = 1L << lvl
      val prev = if (i == 0) from0 else s"h${i - 1}"
      s"""h$i AS (
         |  SELECT $keep,
         |    hd + ${s * s} * (CASE WHEN (hx & $s) = 0 AND (hy & $s) = 0 THEN 0
         |      WHEN (hx & $s) = 0 THEN 1
         |      WHEN (hy & $s) = 0 THEN 3 ELSE 2 END) AS hd,
         |    CASE WHEN (hy & $s) = 0 THEN
         |      (CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hy ELSE hy END)
         |    ELSE hx END AS hx,
         |    CASE WHEN (hy & $s) = 0 THEN
         |      (CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hx ELSE hx END)
         |    ELSE hy END AS hy
         |  FROM $prev)""".stripMargin
    }.mkString(", ", ", ", "")
  }

  /** Z-order-cluster `df` by two numeric columns and write parquet:
    * range-partition on z (balanced output files), sort within
    * partitions (monotone z per file → tight row-group stats on both
    * source columns).
    */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
                  bits: Int = 16, numFiles: Int = 8): Unit = {
    val Array(r) = df.agg(
      min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).collect()
    if (r.isNullAt(0) || r.isNullAt(2)) {
      // empty input or an all-null dimension: no z-range to cluster by —
      // write as-is rather than NPE on the missing stats
      df.write.mode("overwrite").parquet(path)
      return
    }
    val z = zValue(
      quantize(col(xCol), r.getDouble(0), r.getDouble(1), bits),
      quantize(col(yCol), r.getDouble(2), r.getDouble(3), bits), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
