package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-6 registry extension, fifteenth batch — nonparametric and
  * per-segment statistics:
  *
  *  - Spearman rank correlation, tie-aware and EXACT through the rank
  *    layer (midranks in half-units from value-level aggregation — no
  *    per-row global rank ever materializes),
  *  - per-segment simple OLS (the grouped-models pattern: one grouped
  *    aggregation = one model per group, any group count),
  *  - Wald–Wolfowitz runs test on the daily up/down sequence,
  *  - inter-event gap quantiles per event type.
  *
  * Same conventions as [[Registry]]: exact integers until one
  * documented rounding, identical aliases, deterministic ORDER BY.
  */
object Nonparam {

  type Q = Registry.Q

  // ------------------------------------------- Spearman rank correlation
  /** Tie-aware Spearman ρ between quantity and price: Pearson on
    * midranks, with BOTH rank layers computed from VALUE-level
    * aggregation (midrank2(v) = 2·(rows before v) + (ties at v) + 1 —
    * exact half-unit integers), so no per-row global rank exists:
    * quantity has ≤50 distinct values (broadcast map) and price
    * midranks ride the [[graft.ops.Tiling]] bucketed-prefix idiom over
    * the distinct-cents frame. The five Pearson sums accumulate in
    * decimal(38,0) (HUGEINT oracle-side) and ρ pays ONE final double
    * formula, round(6). The nonparametric sibling of q_corr_stats —
    * identical under any monotone transform of either variable.
    */
  private val spearmanQ: Q = (s, dir) => {
    val f = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("long").as("x"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"))
    def midranks(df: DataFrame, c: String): DataFrame = {
      // materialized: the distinct-value count frame feeds two separate
      // jobs (bucket offsets collect, the final midrank pass), and its
      // materializing job observes the min/max — unmaterialized, each
      // re-scanned lineitem and re-paid the groupBy (same shape/fix as
      // q_weighted_median)
      val (counts, stats) = graft.ops.Staging.materializeObserving(
        df.groupBy(col(c)).agg(count(lit(1)).as("cnt")), min(col(c)), max(col(c)))
      val (mn, mx) = (stats.getLong(0).toDouble, stats.getLong(1).toDouble)
      val bucket: Column =
        if (mn == mx) lit(1L)
        else least(width_bucket(col(c).cast("double"), lit(mn), lit(mx),
          lit(64)), lit(64L))
      val wb = counts.withColumn("__b", bucket)
      val offs = wb.groupBy(col("__b")).agg(sum(col("cnt")).as("bc"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val offMap = map(offs.map(_._1)
        .zip(offs.map(_._2).scanLeft(0L)(_ + _))
        .flatMap { case (b, o) => Seq(lit(b), lit(o)) }: _*)
      val w = Window.partitionBy(col("__b")).orderBy(col(c))
        .rowsBetween(Window.unboundedPreceding, -1)
      wb.withColumn("before",
          element_at(offMap, col("__b")) +
            coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col(c), (lit(2) * col("before") + col("cnt") + 1)
          .as(s"mr2_$c"))
    }
    val dec: Column => Column = _.cast("decimal(38,0)")
    val ranked = f
      // x (quantity 1..50) is a fixed domain; y (price cents) grows with
      // the corpus, so its join is left to Spark's size-based selection
      .join(broadcast(midranks(f.select(col("x")), "x")), "x")
      .join(midranks(f.select(col("y")), "y"), "y")
    ranked.agg(count(lit(1)).as("n"),
        sum(dec(col("mr2_x"))).as("sx"), sum(dec(col("mr2_y"))).as("sy"),
        sum(dec(col("mr2_x")) * dec(col("mr2_x"))).as("sxx"),
        sum(dec(col("mr2_y")) * dec(col("mr2_y"))).as("syy"),
        sum(dec(col("mr2_x")) * dec(col("mr2_y"))).as("sxy"))
      .select(col("n"),
        round((dec(col("n")) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (dec(col("n")) * col("syy") - col("sy") * col("sy"))
              .cast("double")), 6).as("spearman_rho"))
  }
  private val spearmanSql =
    """WITH f AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem),
      |cx AS (SELECT x, count(*) AS cnt FROM f GROUP BY x),
      |mx AS (
      |  SELECT x, 2 * coalesce(sum(cnt) OVER (ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS mr2_x
      |  FROM cx),
      |cy AS (SELECT y, count(*) AS cnt FROM f GROUP BY y),
      |my AS (
      |  SELECT y, 2 * coalesce(sum(cnt) OVER (ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    + cnt + 1 AS mr2_y
      |  FROM cy),
      |r AS (
      |  SELECT mr2_x, mr2_y FROM f JOIN mx USING (x) JOIN my USING (y)),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(mr2_x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(mr2_y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(mr2_x AS HUGEINT) * mr2_x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(mr2_y AS HUGEINT) * mr2_y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(mr2_x AS HUGEINT) * mr2_y) AS HUGEINT) AS sxy
      |  FROM r)
      |SELECT n,
      |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
      |    sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) *
      |         CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)), 6)
      |    AS spearman_rho
      |FROM sums""".stripMargin

  // ---------------------------------------------------- per-segment OLS
  /** Simple OLS (price-cents on quantity) fitted PER market segment in
    * one grouped aggregation — the grouped-models pattern: every group
    * is five exact integer sums, so ten thousand segments cost the
    * same single combinable pass as five. Slope/intercept pay one
    * double formula each (identical operation order both engines),
    * round(6); the within-group Pearson r² comes from the same sums.
    */
  private val groupedOlsQ: Q = (s, dir) => {
    val dec: Column => Column = _.cast("decimal(38,0)")
    val f = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
      // customer scales with the corpus — no hint, Spark picks the join
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        col("l_quantity").cast("long").as("x"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"))
    f.groupBy(col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
      .select(col("segment"), col("n"),
        round((dec(col("n")) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("slope_cents"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy"))
          .cast("double") /
          (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("intercept_cents"),
        round(pow((dec(col("n")) * col("sxy") - col("sx") * col("sy"))
          .cast("double"), 2) /
          ((dec(col("n")) * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
           (dec(col("n")) * col("syy") - col("sy") * col("sy"))
             .cast("double")), 6).as("r2"))
      .orderBy(col("segment"))
  }
  private val groupedOlsSql =
    """WITH f AS (
      |  SELECT c_mktsegment AS segment, CAST(l_quantity AS BIGINT) AS x,
      |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey),
      |s AS (
      |  SELECT segment, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |  FROM f GROUP BY segment)
      |SELECT segment, n,
      |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
      |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 6)
      |    AS slope_cents,
      |  round(CAST(sy * sxx - sx * sxy AS DOUBLE) /
      |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 6)
      |    AS intercept_cents,
      |  round(pow(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE), 2) /
      |    (CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) *
      |     CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)), 6) AS r2
      |FROM s ORDER BY segment""".stripMargin

  // --------------------------------------------------------- runs test
  /** Wald–Wolfowitz runs test on the daily event-count up/down
    * sequence (randomness check for the series the forecasting family
    * smooths): signs from day-over-day diffs (zero diffs dropped, the
    * standard treatment), R = observed runs as an exact integer
    * (1 + Σ sign-changes on the calendar-bounded frame), expectation
    * and variance in closed form, |z| decision at 1.96. The corpus
    * pass is the one daily aggregation everything temporal shares.
    */
  private val runsTestQ: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("day"))
    val signs = daily
      .withColumn("d", col("x") - lag(col("x"), 1).over(w))
      .filter(col("d").isNotNull && col("d") =!= 0)
      .withColumn("up", col("d") > 0)
      .withColumn("chg",
        when(lag(col("up"), 1).over(w).isNull, 0L)
          .when(lag(col("up"), 1).over(w) =!= col("up"), 1L)
          .otherwise(0L))
    signs.agg(
        sum(when(col("up"), 1L).otherwise(0L)).as("n_up"),
        sum(when(!col("up"), 1L).otherwise(0L)).as("n_down"),
        (sum(col("chg")) + 1L).as("runs"))
      .selectExpr("n_up", "n_down", "runs",
        """round((CAST(runs AS DOUBLE) -
          |  (1.0 + 2.0 * n_up * n_down / (n_up + n_down))) /
          |  sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
          |    / ((CAST(n_up + n_down AS DOUBLE)) * (n_up + n_down)
          |       * (n_up + n_down - 1))), 4) AS z""".stripMargin)
      .selectExpr("n_up", "n_down", "runs", "z",
        "abs(z) > 1.96 AS nonrandom")
  }
  private val runsTestSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |d AS (
      |  SELECT day, x - lag(x) OVER (ORDER BY day) AS d FROM daily),
      |s AS (
      |  SELECT day, d > 0 AS up FROM d WHERE d IS NOT NULL AND d <> 0),
      |c AS (
      |  SELECT up,
      |    CASE WHEN lag(up) OVER (ORDER BY day) IS NULL THEN 0
      |         WHEN lag(up) OVER (ORDER BY day) <> up THEN 1
      |         ELSE 0 END AS chg
      |  FROM s),
      |g AS (
      |  SELECT CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
      |    CAST(sum(CASE WHEN NOT up THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
      |    CAST(sum(chg) + 1 AS BIGINT) AS runs
      |  FROM c)
      |SELECT n_up, n_down, runs,
      |  round((CAST(runs AS DOUBLE) -
      |    (1.0 + 2.0 * n_up * n_down / (n_up + n_down))) /
      |    sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
      |      / ((CAST(n_up + n_down AS DOUBLE)) * (n_up + n_down)
      |         * (n_up + n_down - 1))), 4) AS z,
      |  abs(round((CAST(runs AS DOUBLE) -
      |    (1.0 + 2.0 * n_up * n_down / (n_up + n_down))) /
      |    sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
      |      / ((CAST(n_up + n_down AS DOUBLE)) * (n_up + n_down)
      |         * (n_up + n_down - 1))), 4)) > 1.96 AS nonrandom
      |FROM g""".stripMargin

  // ------------------------------------------------- gap quantiles
  /** Inter-event gap quantiles per event type — the latency-profile
    * aggregate next to q_sessionize's gap THRESHOLD: gaps come from a
    * per-(user, type) lag window (keyed exchange, partitions bounded
    * by one user's history of one type), land as exact integer
    * seconds, and each type reports exact interpolated p50/p90/p99
    * (round 4, the q_grouped_quantiles contract).
    */
  private val gapQuantilesQ: Q = (s, dir) => {
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), unix_micros(col("ts")).as("t"))
      .withColumn("gap_s",
        expr("(t - lag(t, 1) OVER (PARTITION BY user_id, event_type " +
          "ORDER BY ts, event_id)) div 1000000"))
      .filter(col("gap_s").isNotNull)
    // one percentile(array) buffer per group instead of three identical
    // value-count maps (§2.3/§4.1 — the q_grouped_quantiles lesson);
    // same interpolated doubles, same round-4 contract
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap_s, array(0.5D, 0.9D, 0.99D))").as("pcts"))
      .select(col("event_type"), col("n_gaps"),
        round(element_at(col("pcts"), 1), 4).as("p50_s"),
        round(element_at(col("pcts"), 2), 4).as("p90_s"),
        round(element_at(col("pcts"), 3), 4).as("p99_s"))
      .orderBy(col("event_type"))
  }
  private val gapQuantilesSql =
    """WITH g AS (
      |  SELECT event_type,
      |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |       PARTITION BY user_id, event_type ORDER BY ts, event_id))
      |      // 1000000 AS gap_s
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
      |  round(quantile_cont(gap_s, 0.5), 4) AS p50_s,
      |  round(quantile_cont(gap_s, 0.9), 4) AS p90_s,
      |  round(quantile_cont(gap_s, 0.99), 4) AS p99_s
      |FROM g WHERE gap_s IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------- partial correlation
  /** First-order partial correlation of quantity and price CONTROLLING
    * for discount — r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)):
    * the confounder-adjusted completion of q_corr_stats. All three
    * pairwise Pearson numerators/denominators come from ONE nine-sum
    * exact integer aggregation (decimal(38,0)/HUGEINT); the partial
    * formula is a fixed-order double expression both engines share,
    * round(6).
    */
  private val partialCorrQ: Q = (s, dir) => {
    val dec: Column => Column = _.cast("decimal(38,0)")
    val f = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("long").as("x"),
      floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"),
      round(col("l_discount") * 100).cast("long").as("z"))
    val sums = f.agg(count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("z"))).as("sz"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"),
      sum(dec(col("z")) * dec(col("z"))).as("szz"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("z"))).as("sxz"),
      sum(dec(col("y")) * dec(col("z"))).as("syz"))
    def r(sab: String, sa: String, sb: String, saa: String,
          sbb: String): String =
      s"""(CAST(n AS DOUBLE) * CAST($sab AS DOUBLE)
         |  - CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE))
         | / sqrt((CAST(n AS DOUBLE) * CAST($saa AS DOUBLE)
         |     - CAST($sa AS DOUBLE) * CAST($sa AS DOUBLE))
         |   * (CAST(n AS DOUBLE) * CAST($sbb AS DOUBLE)
         |     - CAST($sb AS DOUBLE) * CAST($sb AS DOUBLE)))""".stripMargin
    sums.selectExpr("n",
        s"${r("sxy", "sx", "sy", "sxx", "syy")} AS rxy",
        s"${r("sxz", "sx", "sz", "sxx", "szz")} AS rxz",
        s"${r("syz", "sy", "sz", "syy", "szz")} AS ryz")
      .selectExpr("n", "round(rxy, 6) AS r_xy",
        """round((rxy - rxz * ryz)
          | / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
          |  AS r_xy_given_z""".stripMargin)
  }
  private val partialCorrSql = {
    def r(sab: String, sa: String, sb: String, saa: String,
          sbb: String): String =
      s"""(CAST(n AS DOUBLE) * CAST($sab AS DOUBLE)
         |  - CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE))
         | / sqrt((CAST(n AS DOUBLE) * CAST($saa AS DOUBLE)
         |     - CAST($sa AS DOUBLE) * CAST($sa AS DOUBLE))
         |   * (CAST(n AS DOUBLE) * CAST($sbb AS DOUBLE)
         |     - CAST($sb AS DOUBLE) * CAST($sb AS DOUBLE)))""".stripMargin
    s"""WITH f AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS x,
      |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
      |         CAST(round(l_discount * 100) AS BIGINT) AS z
      |  FROM lineitem),
      |s AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS sz,
      |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |    CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
      |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
      |    CAST(sum(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
      |  FROM f),
      |rr AS (
      |  SELECT n,
      |    ${r("sxy", "sx", "sy", "sxx", "syy")} AS rxy,
      |    ${r("sxz", "sx", "sz", "sxx", "szz")} AS rxz,
      |    ${r("syz", "sy", "sz", "syy", "szz")} AS ryz
      |  FROM s)
      |SELECT n, round(rxy, 6) AS r_xy,
      |  round((rxy - rxz * ryz)
      |   / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
      |   AS r_xy_given_z
      |FROM rr""".stripMargin
  }

  // ------------------------------------------------------- Lorenz deciles
  /** Lorenz curve at customer-revenue deciles — the distributional
    * picture behind q_gini's single number: customers ranked by exact
    * cents revenue through [[graft.ops.Tiling.ntileDistributed]] (no
    * SinglePartition window), per-decile exact sums, cumulative share
    * in ppm over the 10-row frame. The "top decile owns X%" readout a
    * mixture-rebalancing decision starts from.
    */
  private val lorenzQ: Q = (s, dir) => {
    val rev = Tables.orders(s, dir)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("rev"))
    val tiled = graft.ops.Tiling.ntileDistributed(rev, 10, col("rev"),
      Seq(col("rev"), col("o_custkey")), "decile")
    val perDecile = tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("dec_rev"))
    val tot = perDecile.agg(sum(col("dec_rev")).as("total"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perDecile.crossJoin(broadcast(tot))
      .withColumn("cum_rev", sum(col("dec_rev")).over(w))
      .select(col("decile"), col("n_cust"),
        expr("dec_rev * 1000000 div total").as("share_ppm"),
        expr("cum_rev * 1000000 div total").as("cum_share_ppm"))
      .orderBy(col("decile"))
  }
  private val lorenzSql =
    """WITH rev AS (
      |  SELECT o_custkey,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders GROUP BY o_custkey),
      |d AS (
      |  SELECT rev, ntile(10) OVER (ORDER BY rev, o_custkey) AS decile
      |  FROM rev),
      |g AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
      |         CAST(sum(rev) AS BIGINT) AS dec_rev
      |  FROM d GROUP BY decile),
      |t AS (SELECT CAST(sum(dec_rev) AS BIGINT) AS total FROM g)
      |SELECT decile, n_cust,
      |  dec_rev * 1000000 // total AS share_ppm,
      |  CAST(sum(dec_rev) OVER (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    * 1000000 // total AS cum_share_ppm
      |FROM g, t ORDER BY decile""".stripMargin

  // ----------------------------------------------------------- Brier score
  /** Brier score of the hashed scorer read as a probability through
    * the logistic link — the CALIBRATION single number beside
    * q_calibration's per-decile table and q_auc's ranking number.
    * Per-row (σ(score) − y)² rounds to integer micro BEFORE the sum
    * (the engine's exactness doctrine), so the mean is exact integer
    * division; one combinable aggregation over the scored corpus.
    */
  private val brierQ: Q = (s, dir) => {
    val p = Evaluation.scoredForSpec(s, dir)
      .select(col("label"),
        (lit(1.0) / (lit(1.0) +
          exp(-(col("score_micro").cast("double") / 1e6)))).as("p"))
    p.select(col("label"),
        round(pow(col("p") - when(col("label"), 1.0).otherwise(0.0), 2)
          * 1e6).cast("long").as("t"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("tsum"))
      .select(col("n"), expr("tsum div n").as("brier_micro"))
  }
  private val brierSql =
    s"""WITH ${Evaluation.scoredSql},
      |p AS (
      |  SELECT label,
      |    CAST(round(pow(1.0 / (1.0 + exp(-(CAST(score_micro AS DOUBLE)
      |      / 1e6))) - CASE WHEN label THEN 1.0 ELSE 0.0 END, 2) * 1e6)
      |      AS BIGINT) AS t
      |  FROM scored)
      |SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(t) AS BIGINT) // CAST(count(*) AS BIGINT) AS brier_micro
      |FROM p""".stripMargin

  // ------------------------------------------- label-centroid similarity
  /** Pairwise cosine similarity between label centroids of the
    * embedding table — the cluster-structure audit (which classes are
    * confusable in embedding space). Exactness through the vector
    * layer: components quantize to integer micro BEFORE averaging
    * (sum div n — exact at any partitioning, where a float mean is
    * order-dependent), centroids live as (label, pos) integer rows,
    * and the 10×10 pairwise dot/norms are exact decimal(38,0) sums
    * over the 640-row frame; cosine pays one double division,
    * round(6).
    */
  private val centroidSimQ: Q = (s, dir) => {
    val dec: Column => Column = _.cast("decimal(38,0)")
    val comp = Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        round(col("col").cast("double") * 1e6).cast("long").as("v"))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("c"))
    val pairs = cent.as("a")
      .join(cent.as("b"),
        col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
      .select(col("a.label").as("la"), col("b.label").as("lb"),
        (dec(col("a.c")) * dec(col("b.c"))).as("ab"),
        (dec(col("a.c")) * dec(col("a.c"))).as("aa"),
        (dec(col("b.c")) * dec(col("b.c"))).as("bb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum(col("ab")).as("dot"), sum(col("aa")).as("na"),
        sum(col("bb")).as("nb"))
    pairs.select(col("la"), col("lb"),
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .as("cosine"))
      .orderBy(col("la"), col("lb"))
  }
  private val centroidSimSql =
    """WITH comp AS (
      |  SELECT label, generate_subscripts(embedding, 1) AS pos,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
      |      AS v
      |  FROM embeddings),
      |cent AS (
      |  SELECT label, pos,
      |    CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
      |  FROM comp GROUP BY label, pos),
      |p AS (
      |  SELECT a.label AS la, b.label AS lb,
      |    CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS dot,
      |    CAST(sum(CAST(a.c AS HUGEINT) * a.c) AS HUGEINT) AS na,
      |    CAST(sum(CAST(b.c AS HUGEINT) * b.c) AS HUGEINT) AS nb
      |  FROM cent a JOIN cent b
      |    ON a.pos = b.pos AND a.label < b.label
      |  GROUP BY a.label, b.label)
      |SELECT la, lb,
      |  round(CAST(dot AS DOUBLE) /
      |    sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cosine
      |FROM p ORDER BY la, lb""".stripMargin

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_spearman", spearmanQ, Some(spearmanSql)),
    ("q_partial_corr", partialCorrQ, Some(partialCorrSql)),
    ("q_lorenz", lorenzQ, Some(lorenzSql)),
    ("q_brier", brierQ, Some(brierSql)),
    ("q_centroid_similarity", centroidSimQ, Some(centroidSimSql)),
    ("q_grouped_ols", groupedOlsQ, Some(groupedOlsSql)),
    ("q_runs_test", runsTestQ, Some(runsTestSql)),
    ("q_gap_quantiles", gapQuantilesQ, Some(gapQuantilesSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
