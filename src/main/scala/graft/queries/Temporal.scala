package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.Staging

/** Round-6 registry extension, tenth batch — the temporal / categorical
  * statistics a behavioural-events pipeline runs beside the experiment
  * family ([[Stats]], [[Evaluation]], [[Inference]]):
  *
  *  - chi-square test of independence (categorical × categorical) with
  *    Cramér's V effect size,
  *  - Adamic–Adar link prediction over the shared [[SynthGraph]]
  *    (the wedge-join sibling of triangle counting),
  *  - first-order Markov transition matrix over per-user event
  *    sequences,
  *  - Kaplan–Meier time-to-conversion survival curve with right
  *    censoring,
  *  - lag-k autocorrelation of the daily event series,
  *  - fixed-point EWMA smoothing of the same series (recursion as a
  *    Spark `aggregate` higher-order function, no driver loop).
  *
  * Same conventions as [[Registry]]: every corpus-sized sum is exact
  * integer (micro/ppm fixed point, logs rounded to micro-nats BEFORE
  * summation — the q_token_entropy contract), doubles appear only in
  * final scalar formulas written with the same operation order in both
  * engines, identical aliases both sides, deterministic total ORDER BY.
  */
object Temporal {

  type Q = Registry.Q

  // -------------------------------------------------- chi-square test
  /** Chi-square independence test between event type and hour-of-day,
    * plus Cramér's V effect size. The ONLY corpus-sized pass is one
    * map-side-combinable count aggregation to the |types|×24 cell
    * frame; marginals, totals, and the statistic are metadata-sized
    * derivations of that frame (broadcast joins). Exactness: the cell
    * term (O·N − r·c)²/(r·c·N) runs its integer parts in decimal(38,0)
    * (HUGEINT in the oracle — O·N alone overflows int64 past ~3·10⁹
    * rows), casts the exact integers to double with identical IEEE
    * rounding both engines, and lands in integer micro units BEFORE the
    * cell sum, so the statistic is exact at any partitioning. At 100 TB
    * the shape is unchanged: one combinable agg, then arithmetic on a
    * ~100-row frame.
    */
  private val chiSquareQ: Q = (s, dir) => {
    val cells = Tables.events(s, dir)
      .select(col("event_type").as("et"), hour(col("ts")).as("h"))
      .groupBy(col("et"), col("h")).agg(count(lit(1)).as("o"))
    val rowsT = cells.groupBy(col("et")).agg(sum(col("o")).as("r"))
    val colsT = cells.groupBy(col("h")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("et")).as("nr"), countDistinct(col("h")).as("nc"))
    val dec: Column => Column = _.cast("decimal(38,0)")
    cells.join(broadcast(rowsT), "et").join(broadcast(colsT), "h")
      .crossJoin(broadcast(tot))
      .withColumn("dev", dec(col("o")) * dec(col("n")) -
        dec(col("r")) * dec(col("c")))
      .withColumn("term_micro",
        round((col("dev") * col("dev")).cast("double") /
          (dec(col("r")) * dec(col("c")) * dec(col("n"))).cast("double")
          * 1e6).cast("long"))
      .groupBy(col("n"), col("nr"), col("nc"))
      .agg(sum(col("term_micro")).as("chi2_micro"))
      .select(col("n"), ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        col("chi2_micro"),
        round(sqrt(col("chi2_micro").cast("double") / 1e6 /
          (col("n") * least(col("nr") - 1, col("nc") - 1)).cast("double")),
          6).as("cramers_v"))
  }
  private val chiSquareSql =
    """WITH cells AS (
      |  SELECT event_type AS et, hour(ts) AS h, count(*) AS o
      |  FROM events GROUP BY 1, 2),
      |rt AS (SELECT et, sum(o) AS r FROM cells GROUP BY et),
      |ct AS (SELECT h, sum(o) AS c FROM cells GROUP BY h),
      |tot AS (SELECT sum(o) AS n, count(DISTINCT et) AS nr,
      |               count(DISTINCT h) AS nc FROM cells),
      |terms AS (
      |  SELECT n, nr, nc,
      |    CAST(round(
      |      CAST((CAST(o AS HUGEINT) * CAST(n AS HUGEINT) -
      |            CAST(r AS HUGEINT) * CAST(c AS HUGEINT)) *
      |           (CAST(o AS HUGEINT) * CAST(n AS HUGEINT) -
      |            CAST(r AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE) /
      |      CAST(CAST(r AS HUGEINT) * CAST(c AS HUGEINT) *
      |           CAST(n AS HUGEINT) AS DOUBLE) * 1e6) AS BIGINT)
      |      AS term_micro
      |  FROM cells JOIN rt USING (et) JOIN ct USING (h), tot)
      |SELECT CAST(n AS BIGINT) AS n,
      |  CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
      |  CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
      |  round(sqrt(CAST(sum(term_micro) AS DOUBLE) / 1e6 /
      |    CAST(n * least(nr - 1, nc - 1) AS DOUBLE)), 6) AS cramers_v
      |FROM terms GROUP BY n, nr, nc""".stripMargin

  // --------------------------------------------- Adamic–Adar link score
  /** Adamic–Adar link prediction (Adamic & Adar, Social Networks 2003)
    * over the shared [[SynthGraph]]: for node pairs NOT already joined
    * by an edge, score = Σ_w 1/ln(deg(w)) over common neighbours w; the
    * 20 highest-scored pairs are the predicted links. Wedges enumerate
    * map-side from per-center sorted neighbor arrays (each unordered
    * pair generated once); the per-wedge term lands in integer ppm
    * (round(1e6/ln(deg))) BEFORE the pair sum, so scores are exact
    * integers at any partitioning, and existing edges leave via one
    * size-gated broadcast anti-join. Cost is Σ_w deg(w)² — the
    * same bound triangle counting pays; at 100 TB the standard hub
    * mitigations (degree cap + exact re-score of survivors) bolt onto
    * the same plan, and the top-k is a partial-agg ORDER BY LIMIT, not
    * a global sort of all pairs.
    */
  private val adamicAdarQ: Q = (s, dir) => {
    val e = SynthGraph.edges(s, dir).filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
    val adj = e.select(col("u").as("w"), col("v").as("nbr"))
      .union(e.select(col("v").as("w"), col("u").as("nbr")))
    // ONE keyed shuffle builds per-center sorted neighbor ARRAYS (the
    // q_copurchase_lift basket idiom — max degree here is ~42, so
    // collect_list is bounded by the graph's constant average degree);
    // the per-center 1/ln(deg) term rides the array row and the Σdeg²
    // wedge fan-out happens MAP-SIDE inside one projection, so no
    // adjacency self-join shuffle ever exists (self-join formulation
    // measured 7.3 s at sf0.1; the HOF fan-out 5.7 s at 49 s task CPU;
    // the compiled PackedPairs kernel 3.8 s — the residue is the pair
    // hash-agg, which is the query's real work).
    // deg-1 centers can't form a wedge and are dropped BEFORE the term,
    // so ln(1)=0 never reaches the division. Pairs pack into one long
    // (node ids < 2³² — ids are mod-distinct-orderkey; where that
    // breaks, fall back to a 2-column key at ~20% more shuffle width).
    val nbrs = adj.groupBy(col("w"))
      .agg(sort_array(collect_list(col("nbr"))).as("ns"))
      .filter(size(col("ns")) >= 2)
      .select(col("ns"),
        round(lit(1e6) / log(size(col("ns")).cast("double"))).cast("long")
          .as("term_ppm"))
    val scored = nbrs.select(col("term_ppm"),
        explode(graft.expr.PackedPairs.packedPairs(col("ns"))).as("pk"))
      .groupBy(col("pk")).agg(sum(col("term_ppm")).as("aa_ppm"))
      .select(expr("pk div 4294967296").as("u"),
        pmod(col("pk"), lit(4294967296L)).as("v"), col("aa_ppm"))
    // the edge set packs into the same key space → anti-join; the edge
    // set is data-sized, so Spark's size-based selection picks broadcast
    // or shuffle
    scored.join(e.select((col("u") * 4294967296L + col("v")).as("ek")),
        col("u") * 4294967296L + col("v") === col("ek"), "left_anti")
      .orderBy(col("aa_ppm").desc, col("u"), col("v"))
      .limit(20)
  }
  private val adamicAdarSql =
    s"""WITH ${SynthGraph.rawSql},
      |e AS (
      |  SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
      |  FROM raw WHERE x <> y),
      |adj AS (
      |  SELECT u AS w, v AS nbr FROM e
      |  UNION ALL SELECT v AS w, u AS nbr FROM e),
      |deg AS (SELECT w, count(*) AS deg FROM adj GROUP BY w),
      |wedge AS (
      |  SELECT a.w, a.nbr AS u, b.nbr AS v
      |  FROM adj a JOIN adj b ON a.w = b.w AND a.nbr < b.nbr),
      |score AS (
      |  SELECT u, v,
      |    CAST(sum(CAST(round(1e6 / ln(CAST(deg AS DOUBLE))) AS BIGINT))
      |         AS BIGINT) AS aa_ppm
      |  FROM wedge JOIN deg USING (w) GROUP BY u, v)
      |SELECT u, v, aa_ppm FROM score s
      |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = s.u AND e.v = s.v)
      |ORDER BY aa_ppm DESC, u, v LIMIT 20""".stripMargin

  // --------------------------- hub-capped Adamic–Adar (r12 item 3)
  /** The packed-pair wedge enumeration both AA variants share: per
    * center, every unordered neighbor pair as one long — the compiled
    * [[graft.expr.PackedPairs]] kernel (the HOF slice-per-element form
    * it replaces attributed 49 s of task CPU to this fan-out at sf0.1;
    * the kernel runs it in one allocation per center). */
  private def packedNs = graft.expr.PackedPairs.packedPairs(col("ns"))

  /** Degree-capped Adamic–Adar with EXACT re-score — the 100 TB hub
    * mitigation [[adamicAdarQ]]'s doc promises, implemented (r12 verdict
    * item 3). Two phases:
    *
    *  1. CANDIDATE GENERATION enumerates wedges only from centers with
    *     2 ≤ deg(w) ≤ cap: a hub of degree d contributes C(d, 2) wedges
    *     under the uncapped Σdeg² bound — one 10M-degree hub is 5·10¹³
    *     pairs, the classic skew stall — and hubs carry the LEAST
    *     information per wedge (term 1/ln(deg) → 0), so they are the
    *     correct centers to exclude from enumeration;
    *  2. EXACT RE-SCORE: each surviving non-edge pair's score is
    *     recomputed over ALL common neighbors — hubs included — by
    *     intersecting the pair's full neighbor arrays and summing the
    *     full-degree terms. Survivor scores are therefore EXACT AA
    *     values, not approximations; only pairs whose EVERY common
    *     neighbor is a hub are missed, by design.
    *
    * Cost: Σ_{deg(w)≤cap} deg(w)² for generation (cap² per center max)
    * plus |survivors|·avgdeg for the re-score — no term grows with hub
    * degree. The re-score's term join is keyed on the common-neighbor
    * id, never broadcast (node-table-sized).
    */
  private def aaCappedTop(e: DataFrame, cap: Int, k: Int): DataFrame = {
    val adj = e.select(col("u").as("w"), col("v").as("nbr"))
      .union(e.select(col("v").as("w"), col("u").as("nbr")))
    // FULL per-node neighbor arrays + full-degree terms (re-score side);
    // materialized ONCE — three consumers below (terms + both endpoint
    // joins) would otherwise each re-run the adjacency shuffle
    val nall = adj.groupBy(col("w"))
      .agg(sort_array(collect_list(col("nbr"))).as("ns"))
      .transform(Staging.materialize)
    val degT = nall.filter(size(col("ns")) >= 2)
      .select(col("w"),
        round(lit(1e6) / log(size(col("ns")).cast("double"))).cast("long")
          .as("term_ppm"))
    // phase 1: capped enumeration → distinct candidate pairs, existing
    // edges anti-joined out BEFORE the re-score pays for them
    val surv = nall
      .filter(size(col("ns")).between(2, cap))
      .select(explode(packedNs).as("pk")).distinct()
      .join(e.select((col("u") * 4294967296L + col("v")).as("pk")),
        Seq("pk"), "left_anti")
      .select(expr("pk div 4294967296").as("u"),
        pmod(col("pk"), lit(4294967296L)).as("v"))
    // phase 2: exact re-score over FULL neighbor arrays
    surv
      .join(nall.select(col("w").as("u"), col("ns").as("nu")), Seq("u"))
      .join(nall.select(col("w").as("v"), col("ns").as("nv")), Seq("v"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
      .join(degT, Seq("w"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("term_ppm")).as("aa_ppm"))
      .orderBy(col("aa_ppm").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Uncapped AA top-k over canonical edges `e` — [[adamicAdarQ]]'s
    * direct-sum pipeline, parameterized for the parity check. */
  private def aaTop(e: DataFrame, k: Int): DataFrame = {
    val adj = e.select(col("u").as("w"), col("v").as("nbr"))
      .union(e.select(col("v").as("w"), col("u").as("nbr")))
    val nbrs = adj.groupBy(col("w"))
      .agg(sort_array(collect_list(col("nbr"))).as("ns"))
      .filter(size(col("ns")) >= 2)
      .select(col("ns"),
        round(lit(1e6) / log(size(col("ns")).cast("double"))).cast("long")
          .as("term_ppm"))
    nbrs.select(col("term_ppm"), explode(packedNs).as("pk"))
      .groupBy(col("pk")).agg(sum(col("term_ppm")).as("aa_ppm"))
      .select(expr("pk div 4294967296").as("u"),
        pmod(col("pk"), lit(4294967296L)).as("v"), col("aa_ppm"))
      .join(e.select((col("u") * 4294967296L + col("v")).as("ek")),
        col("u") * 4294967296L + col("v") === col("ek"), "left_anti")
      .orderBy(col("aa_ppm").desc, col("u"), col("v"))
      .limit(k)
  }

  /** q_adamic_adar_capped — the hub-mitigation gate. Graph: the shared
    * [[SynthGraph]] restricted to node ids divisible by 4 (cost control: the query
    * runs three AA pipelines), plus an INJECTED hub — node 1 (odd: no
    * collision) wired to the 200 ids 0, 4, …, 796. Emits one row:
    *
    *  - `hubfree_parity`: on the hub-free slice, capped(64)+re-score
    *    top-20 row-equals the uncapped direct-sum top-20 (the slice's
    *    max degree is far below the cap, so the cap must be a no-op and
    *    the two formulations must agree integer-for-integer);
    *  - `top_u`/`top_v`/`top_aa_ppm`: the #1 predicted link on the
    *    HUBBED graph under the capped algorithm — DuckDB REPLAYS the
    *    same cap and the same exact re-score;
    *  - `n_wedges_capped` / `n_wedges_uncapped`: Σ C(deg, 2) over
    *    capped vs all centers on the hubbed graph (the oracle recomputes
    *    both from its own degree table) — the fan-out audit: their gap
    *    is exactly the hub's C(200, 2) = 19 900 never-enumerated wedges;
    *  - `fanout_bounded`: capped < uncapped.
    */
  private val adamicAdarCappedQ: Q = (s, dir) => {
    // both edge sets are multi-consumer (every pipeline walks them
    // several times through adj unions) — materialize once each
    val eb = SynthGraph.edges(s, dir).filter(col("x") =!= col("y"))
      .filter(col("x") % 4 === 0 && col("y") % 4 === 0)
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct().transform(Staging.materialize)
    val hub = s.range(200)
      .select(least(lit(1L), col("id") * 4).as("u"),
        greatest(lit(1L), col("id") * 4).as("v"))
    val eh = eb.unionByName(hub).distinct().transform(Staging.materialize)
    // parity on the hub-free slice: exact row equality, both directions
    val cappedHf = aaCappedTop(eb, 64, 20).transform(Staging.materialize)
    val uncappedHf = aaTop(eb, 20).transform(Staging.materialize)
    val parity = Curation.mismatches(cappedHf, uncappedHf).isEmpty
    val degh = eh.select(col("u").as("w")).unionByName(
        eh.select(col("v").as("w")))
      .groupBy(col("w")).agg(count(lit(1)).as("deg"))
    // integer `div`, not `/`: Spark's `/` is double division, and a
    // double Σ C(deg,2) loses exactness past 2^53 at real node counts
    val wedges = degh.agg(
      sum(when(col("deg").between(2, 64),
        expr("deg * (deg - 1) div 2")).otherwise(0L))
        .as("n_wedges_capped"),
      sum(when(col("deg") >= 2,
        expr("deg * (deg - 1) div 2")).otherwise(0L))
        .as("n_wedges_uncapped"))
    aaCappedTop(eh, 64, 1)
      .select(col("u").as("top_u"), col("v").as("top_v"),
        col("aa_ppm").as("top_aa_ppm"))
      .crossJoin(broadcast(wedges)) // 1-row frames
      .select(col("top_u"), col("top_v"), col("top_aa_ppm"),
        col("n_wedges_capped"), col("n_wedges_uncapped"),
        lit(parity).as("hubfree_parity"),
        (col("n_wedges_capped") < col("n_wedges_uncapped"))
          .as("fanout_bounded"))
  }
  private val adamicAdarCappedSql =
    s"""WITH ${SynthGraph.rawSql},
      |eb AS (
      |  SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
      |  FROM raw WHERE x <> y AND x % 4 = 0 AND y % 4 = 0),
      |hub AS (
      |  SELECT least(CAST(1 AS BIGINT), CAST(4 * t AS BIGINT)) AS u,
      |         greatest(CAST(1 AS BIGINT), CAST(4 * t AS BIGINT)) AS v
      |  FROM (SELECT unnest(range(200)) AS t)),
      |eh AS (SELECT u, v FROM eb UNION SELECT u, v FROM hub),
      |adjh AS (
      |  SELECT u AS w, v AS nbr FROM eh
      |  UNION ALL SELECT v AS w, u AS nbr FROM eh),
      |degh AS (SELECT w, count(*) AS deg FROM adjh GROUP BY w),
      |surv AS (
      |  SELECT DISTINCT a.nbr AS u, b.nbr AS v
      |  FROM adjh a JOIN adjh b ON a.w = b.w AND a.nbr < b.nbr
      |  JOIN degh d ON d.w = a.w
      |  WHERE d.deg <= 64),
      |survne AS (
      |  SELECT u, v FROM surv s
      |  WHERE NOT EXISTS (SELECT 1 FROM eh e WHERE e.u = s.u AND e.v = s.v)),
      |score AS (
      |  SELECT s.u, s.v,
      |    CAST(sum(CAST(round(1e6 / ln(CAST(d.deg AS DOUBLE))) AS BIGINT))
      |         AS BIGINT) AS aa_ppm
      |  FROM survne s
      |  JOIN adjh a ON a.nbr = s.u
      |  JOIN adjh b ON b.nbr = s.v AND b.w = a.w
      |  JOIN degh d ON d.w = a.w
      |  GROUP BY s.u, s.v),
      |top1 AS (SELECT u, v, aa_ppm FROM score
      |         ORDER BY aa_ppm DESC, u, v LIMIT 1),
      |wc AS (
      |  SELECT
      |    CAST(sum(CASE WHEN deg BETWEEN 2 AND 64
      |                  THEN deg * (deg - 1) // 2 ELSE 0 END) AS BIGINT)
      |      AS n_wedges_capped,
      |    CAST(sum(CASE WHEN deg >= 2
      |                  THEN deg * (deg - 1) // 2 ELSE 0 END) AS BIGINT)
      |      AS n_wedges_uncapped
      |  FROM degh)
      |SELECT (SELECT u FROM top1) AS top_u,
      |       (SELECT v FROM top1) AS top_v,
      |       (SELECT aa_ppm FROM top1) AS top_aa_ppm,
      |       n_wedges_capped, n_wedges_uncapped,
      |       TRUE AS hubfree_parity,
      |       n_wedges_capped < n_wedges_uncapped AS fanout_bounded
      |FROM wc""".stripMargin

  // ------------------------------------------- Markov transition matrix
  /** First-order Markov transition matrix over per-user event-type
    * sequences: P(next | current) as exact ppm integers. The lag runs
    * in a PER-USER window (partitioned by user_id, ordered by the
    * unique (ts, event_id) key — deterministic under ties), so the
    * shuffle is one keyed exchange and no partition ever exceeds a
    * single user's history; the transition-count frame is
    * |types|²-sized metadata. The 100 TB session-modelling shape:
    * sequence locality by key, counts combinable, normalization on the
    * tiny frame.
    */
  private val markovTransitionQ: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("prev", lag(col("cur"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("n_trans"))
    val totals = trans.groupBy(col("prev")).agg(sum(col("n_trans")).as("r"))
    trans.join(broadcast(totals), "prev")
      .select(col("prev"), col("cur"), col("n_trans"),
        expr("n_trans * 1000000 div r").as("p_ppm"))
      .orderBy(col("prev"), col("cur"))
  }
  private val markovTransitionSql =
    """WITH seq AS (
      |  SELECT event_type AS cur,
      |    lag(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events),
      |t AS (
      |  SELECT prev, cur, count(*) AS n_trans
      |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur),
      |r AS (SELECT prev, sum(n_trans) AS r FROM t GROUP BY prev)
      |SELECT prev, cur, CAST(n_trans AS BIGINT) AS n_trans,
      |  CAST(n_trans AS BIGINT) * 1000000 // CAST(r AS BIGINT) AS p_ppm
      |FROM t JOIN r USING (prev) ORDER BY prev, cur""".stripMargin

  // ------------------------------------------------ Kaplan–Meier curve
  /** Kaplan–Meier time-to-conversion survival (Kaplan & Meier, JASA
    * 1958): per user, duration = days from first event to first
    * purchase (event observed) or to last event (right-censored);
    * S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) reported at each event time. The
    * corpus-sized work is ONE per-user aggregation; the life table is
    * calendar-bounded (≤ distinct day-gaps, a metadata-sized frame), so
    * its global window is over ≤ a few hundred rows by construction —
    * the same bounded-small-frame exemption as the ≤64-bucket offset
    * collects. Exactness: dᵢ/nᵢ ratios are exact integers; the product
    * runs as a prefix sum of ln((n−d)/n) rounded to micro-nats BEFORE
    * summation (exact integer cumulation), and only the final display
    * column pays one exp + round(6).
    */
  private val kaplanMeierQ: Q = (s, dir) => {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
        max(col("ts")).as("tl"))
      .select(
        datediff(to_date(coalesce(col("tp"), col("tl"))),
          to_date(col("t0"))).cast("long").as("dur"),
        col("tp").isNotNull.as("observed"))
    val life = perUser.groupBy(col("dur"))
      .agg(sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("observed"), 1L).otherwise(0L)).as("cens"))
    val n = perUser.agg(count(lit(1)).as("n_total"))
    // life-table frame is calendar-bounded — global windows here are fine
    val wBefore = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("dur"))
      .rowsBetween(Window.unboundedPreceding, 0)
    life.crossJoin(broadcast(n))
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("d") + col("cens")).over(wBefore), lit(0L)))
      .withColumn("term_micro",
        when(col("d") > 0 && col("n_risk") > col("d"),
          round(log((col("n_risk") - col("d")).cast("double") /
            col("n_risk").cast("double")) * 1e6).cast("long"))
          .otherwise(0L))
      .withColumn("cum_micro", sum(col("term_micro")).over(wCum))
      // once a step has n_risk == d the product is exactly 0 from there
      // on — flagged instead of summing ln(0) (DuckDB can't cast -inf)
      .withColumn("hit_zero",
        max(col("d") > 0 && col("n_risk") === col("d")).over(wCum))
      .filter(col("d") > 0)
      .select(col("dur"), col("n_risk"), col("d").as("d_events"),
        when(col("hit_zero"), 0.0).otherwise(
          round(exp(col("cum_micro").cast("double") / 1e6), 6)).as("s_km"))
      .orderBy(col("dur"))
  }
  private val kaplanMeierSql =
    """WITH pu AS (
      |  SELECT user_id, min(ts) AS t0,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
      |    max(ts) AS tl
      |  FROM events GROUP BY user_id),
      |durs AS (
      |  SELECT date_diff('day', CAST(t0 AS DATE),
      |           CAST(coalesce(tp, tl) AS DATE)) AS dur,
      |         tp IS NOT NULL AS observed
      |  FROM pu),
      |life AS (
      |  SELECT dur,
      |    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN NOT observed THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cens
      |  FROM durs GROUP BY dur),
      |n AS (SELECT count(*) AS n_total FROM durs),
      |risk AS (
      |  SELECT dur, d,
      |    n_total - coalesce(sum(d + cens) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_risk
      |  FROM life, n),
      |terms AS (
      |  SELECT dur, d, n_risk,
      |    CASE WHEN d > 0 AND n_risk > d
      |      THEN CAST(round(ln(CAST(n_risk - d AS DOUBLE) /
      |        CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END
      |      AS term_micro,
      |    d > 0 AND n_risk = d AS zero_step
      |  FROM risk),
      |cum AS (
      |  SELECT dur, d, n_risk,
      |    sum(term_micro) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_micro,
      |    max(zero_step) OVER (ORDER BY dur
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
      |  FROM terms)
      |SELECT CAST(dur AS BIGINT) AS dur, CAST(n_risk AS BIGINT) AS n_risk,
      |  d AS d_events,
      |  CASE WHEN hit_zero THEN 0.0
      |       ELSE round(exp(CAST(cum_micro AS DOUBLE) / 1e6), 6)
      |  END AS s_km
      |FROM cum WHERE d > 0 ORDER BY dur""".stripMargin

  // ----------------------------------------------- lag-k autocorrelation
  /** Lag-1..7 autocorrelation of the daily event-count series. The
    * corpus-sized pass is the one daily count aggregation; lags are
    * DATE-ARITHMETIC EQUI-JOINS on the tiny daily frame (day + k = day′
    * — no global-order window even here), so calendar gaps shorten the
    * pair set instead of silently pairing non-adjacent days. Exactness:
    * mean-centering is cleared of the 1/n rational by scaling through
    * n (numerator terms (n·xₜ − S)(n·xₜ₊ₖ − S) — exact decimal(38,0) /
    * HUGEINT integers), and the single double division at the end is
    * identical IEEE both engines, rounded to 6.
    */
  private val acfQ: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
    val st = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dec: Column => Column = _.cast("decimal(38,0)")
    val centered = daily.crossJoin(broadcast(st))
      .select(col("day"), col("n"), col("sx"),
        (dec(col("n")) * dec(col("x")) - dec(col("sx"))).as("cx"))
    val den = centered.agg(sum(col("cx") * col("cx")).as("den"))
    val ks = s.range(1, 8).select(col("id").cast("int").as("k"))
    val pairs = centered.as("a").crossJoin(broadcast(ks))
      .select(col("k"), expr("date_add(day, k)").as("day2"), col("cx").as("cxa"))
      .join(centered.as("b").select(col("day").as("day2"), col("cx").as("cxb")),
        "day2")
    pairs.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("cxa") * col("cxb")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("k"), col("n_pairs"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("acf"))
      .orderBy(col("k"))
  }
  private val acfSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS x
      |  FROM events GROUP BY 1),
      |st AS (SELECT count(*) AS n, sum(x) AS sx FROM daily),
      |c AS (
      |  SELECT day, CAST(n AS HUGEINT) * CAST(x AS HUGEINT) -
      |    CAST(sx AS HUGEINT) AS cx
      |  FROM daily, st),
      |den AS (SELECT sum(cx * cx) AS den FROM c),
      |ks AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS k),
      |p AS (
      |  SELECT k, a.cx AS cxa, b.cx AS cxb
      |  FROM c a CROSS JOIN ks JOIN c b ON b.day = a.day + k)
      |SELECT CAST(k AS INT) AS k, CAST(count(*) AS BIGINT) AS n_pairs,
      |  round(CAST(sum(cxa * cxb) AS DOUBLE) /
      |        CAST((SELECT den FROM den) AS DOUBLE), 6) AS acf
      |FROM p GROUP BY k ORDER BY k""".stripMargin

  // ----------------------------------------------------- EWMA smoothing
  /** EWMA smoothing of the daily event-count series (α = 1/8) as a
    * Spark `aggregate` higher-order function over the sorted
    * (day, count) array — the recursion a driver loop would hide runs
    * INSIDE one expression, and the series it runs over is the
    * calendar-bounded daily frame, not the corpus. All state is 2¹⁶
    * fixed point: sₜ = (8192·(xₜ·2¹⁶) + 57344·sₜ₋₁) div 2¹⁶ — exact
    * integer recursion both engines replay step for step (the oracle
    * uses a recursive CTE), safe to daily counts < 2.4·10⁹; beyond
    * that, drop the scale bit for bit. Output in milli-units.
    */
  private val ewmaQ: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
    daily.agg(sort_array(collect_list(struct(col("day"), col("x"))))
        .as("series"))
      .select(explode(expr(
        """aggregate(
          |  series,
          |  struct(CAST(-1 AS BIGINT) AS s,
          |         CAST(array() AS ARRAY<STRUCT<day: DATE, s: BIGINT>>)
          |           AS out),
          |  (acc, e) -> struct(
          |    CASE WHEN acc.s < 0 THEN e.x * 65536
          |         ELSE (8192 * (e.x * 65536) + 57344 * acc.s) div 65536
          |    END AS s,
          |    array_append(acc.out, struct(e.day AS day,
          |      CASE WHEN acc.s < 0 THEN e.x * 65536
          |           ELSE (8192 * (e.x * 65536) + 57344 * acc.s) div 65536
          |      END AS s)) AS out),
          |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.day").as("day"), col("r.s").as("sfix"))
      .select(col("day"), expr("sfix * 1000 div 65536").as("ewma_milli"))
      .orderBy(col("day"))
  }
  private val ewmaSql =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |ord AS (
      |  SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
      |r AS (
      |  SELECT rn, day, x, x * 65536 AS s FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn, o.day, o.x,
      |         (8192 * (o.x * 65536) + 57344 * r.s) // 65536
      |  FROM ord o JOIN r ON o.rn = r.rn + 1)
      |SELECT day, s * 1000 // 65536 AS ewma_milli
      |FROM r ORDER BY day""".stripMargin

  // ------------------------------------------- watermark lateness audit
  /** Watermark-lateness audit — the batch replay of the question every
    * streaming deployment answers before picking `withWatermark`: with
    * arrival order = event_id and a 10-minute watermark, how many
    * events would arrive LATE (event time below the running max event
    * time of everything that arrived before, minus the delay), per
    * type, and by how much? The running max over the global arrival
    * order is the [[graft.ops.Tiling]] bucketed-prefix idiom — 64
    * event_id range buckets, per-bucket running max window, cross-
    * bucket prefix-max folded through a ≤64-entry broadcast map — so
    * no SinglePartition window exists at any size. Exact: event times
    * are integer micros (epoch-positive, so the 0 sentinel for "nothing
    * arrived yet" can never mark a row late), lateness in whole seconds
    * by integer div.
    */
  private val watermarkLatenessQ: Q = (s, dir) => {
    val delayUs = 600L * 1000000L
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
    val Array(stats) = ev.agg(min(col("event_id")).as("mn"),
      max(col("event_id")).as("mx")).collect()
    val (mn, mx) = (stats.getLong(0).toDouble, stats.getLong(1).toDouble)
    val bucket: Column =
      if (mn == mx) lit(1L)
      else least(width_bucket(col("event_id").cast("double"), lit(mn),
        lit(mx), lit(64)), lit(64L))
    val wb = ev.withColumn("__b", bucket)
    val perBucketMax = wb.groupBy(col("__b"))
      .agg(max(col("t")).as("mt")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // prefix max of everything in STRICTLY EARLIER buckets; 0 = none yet
    val prefix = perBucketMax.map(_._1)
      .zip(perBucketMax.map(_._2).scanLeft(0L)(math.max))
    val prefixMap = map(prefix.flatMap { case (b, m) =>
      Seq(lit(b), lit(m)) }: _*)
    val w = Window.partitionBy(col("__b")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    wb.withColumn("hwm",
        greatest(element_at(prefixMap, col("__b")),
          coalesce(max(col("t")).over(w), lit(0L))))
      .withColumn("late", col("t") < col("hwm") - lit(delayUs))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        coalesce(max(when(col("late"),
          expr(s"(hwm - $delayUs - t) div 1000000"))), lit(0L))
          .as("max_late_sec"))
      .orderBy(col("event_type"))
  }
  private val watermarkLatenessSql =
    """WITH ev AS (
      |  SELECT event_id, event_type, epoch_us(ts) AS t FROM events),
      |h AS (
      |  SELECT event_type, t,
      |    coalesce(max(t) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS hwm
      |  FROM ev),
      |l AS (
      |  SELECT event_type, t, hwm,
      |    t < hwm - 600000000 AS late
      |  FROM h)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  coalesce(max(CASE WHEN late
      |    THEN (hwm - 600000000 - t) // 1000000 END), 0) AS max_late_sec
      |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------- hourly OHLC bars
  /** Hourly OHLC (open/high/low/close) bars over purchase values — the
    * time-series downsampling aggregate, computed WINDOWLESS: open and
    * close are argmin/argmax by the unique (time, event_id) key folded
    * into ONE combinable min/max of a packed struct (no per-bar sort,
    * no row_number), so the whole query is a single map-side-combinable
    * aggregation — at 100 TB each bar costs one struct comparison per
    * row. Values in exact milli units (the q_ks_test fixed-point).
    */
  private val ohlcQ: Q = (s, dir) => {
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(unix_micros(date_trunc("hour", col("ts"))).as("bar_us"),
        unix_micros(col("ts")).as("t"), col("event_id"),
        floor(col("value") * 1000 + 0.5).cast("long").as("v"))
      .groupBy(col("bar_us"))
      .agg(
        min(struct(col("t"), col("event_id"), col("v"))).getField("v")
          .as("open_milli"),
        max(col("v")).as("high_milli"),
        min(col("v")).as("low_milli"),
        max(struct(col("t"), col("event_id"), col("v"))).getField("v")
          .as("close_milli"),
        count(lit(1)).as("n_trades"),
        sum(col("v")).as("vol_milli"))
      .orderBy(col("bar_us"))
  }
  private val ohlcSql =
    """WITH p AS (
      |  SELECT epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS bar_us,
      |         epoch_us(ts) AS t, event_id,
      |         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |o AS (
      |  SELECT bar_us, t, event_id, v,
      |    row_number() OVER (PARTITION BY bar_us ORDER BY t, event_id) AS rn,
      |    row_number() OVER (PARTITION BY bar_us ORDER BY t DESC, event_id DESC)
      |      AS rnd
      |  FROM p)
      |SELECT bar_us,
      |  CAST(max(CASE WHEN rn = 1 THEN v END) AS BIGINT) AS open_milli,
      |  CAST(max(v) AS BIGINT) AS high_milli,
      |  CAST(min(v) AS BIGINT) AS low_milli,
      |  CAST(max(CASE WHEN rnd = 1 THEN v END) AS BIGINT) AS close_milli,
      |  CAST(count(*) AS BIGINT) AS n_trades,
      |  CAST(sum(v) AS BIGINT) AS vol_milli
      |FROM o GROUP BY bar_us ORDER BY bar_us""".stripMargin

  // ----------------------------------------------- time-weighted average
  /** Per-user time-weighted average value (TWAP): each observation
    * holds until the user's next event, so the mean weights values by
    * their holding duration instead of their count — the correct
    * aggregate for irregularly-sampled series. The weighting is a
    * PER-USER lead window (one keyed exchange, partitions bounded by a
    * single user's history); numerator v_milli·Δt_micros accumulates
    * in decimal(38,0)/HUGEINT, and the final integer division keeps
    * the result exact. Top-20 by TWAP (TakeOrdered), ties on user_id.
    */
  private val twapQ: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val dec: Column => Column = _.cast("decimal(38,0)")
    val spans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("t"),
        floor(col("value") * 1000 + 0.5).cast("long").as("v"))
      .withColumn("tn", lead(col("t"), 1).over(w))
      .filter(col("tn").isNotNull)
    spans.groupBy(col("user_id"))
      .agg(sum(dec(col("v")) * dec(col("tn") - col("t"))).as("num"),
        sum(dec(col("tn") - col("t"))).as("den"),
        count(lit(1)).as("n_spans"))
      .filter(col("den") > 0)
      .select(col("user_id"), col("n_spans"),
        // (num - num % den) / den: Spark decimal division half-up-rounds
        // at the result scale, so divide an EXACT multiple instead —
        // integer floor semantics, matching the oracle's HUGEINT division
        ((col("num") - col("num") % col("den")) / col("den")).cast("long")
          .as("twap_milli"))
      .orderBy(col("twap_milli").desc, col("user_id"))
      .limit(20)
  }
  private val twapSql =
    """WITH sp AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |                             ORDER BY ts, event_id) AS tn
      |  FROM events),
      |g AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(v AS HUGEINT) * (tn - t)) AS HUGEINT) AS num,
      |    CAST(sum(CAST(tn - t AS HUGEINT)) AS HUGEINT) AS den,
      |    CAST(count(*) AS BIGINT) AS n_spans
      |  FROM sp WHERE tn IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_spans,
      |  CAST(num // den AS BIGINT) AS twap_milli
      |FROM g WHERE den > 0
      |ORDER BY twap_milli DESC, user_id LIMIT 20""".stripMargin

  // ------------------------------------------------ exact weighted median
  /** Exact weighted median of lineitem price (cents) with quantity
    * weights — the lower weighted median: smallest price whose
    * cumulative weight reaches ⌈W/2⌉, all in exact integers (no
    * interpolation, no doubles). Cumulative weights over the global
    * price order come from the [[graft.ops.Tiling]] bucketed-prefix
    * idiom (64 price range buckets, per-bucket running sums, ≤64-row
    * broadcast offsets), and the answer is one min-struct aggregation
    * over the qualifying rows — no SinglePartition window, no global
    * sort, the 100 TB weighted-quantile shape. The oracle pays the
    * global cumulative window instead.
    */
  private val weightedMedianQ: Q = (s, dir) => {
    // materialized once: the (price, weight) rollup feeds two
    // consumers (per-bucket offsets, the final windowed pass), and its
    // materializing job observes the min/max/total stats — unmaterialized,
    // each re-scanned lineitem and re-paid the groupBy
    val (pw, stats) = graft.ops.Staging.materializeObserving(Tables.lineitem(s, dir)
      .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long")
        .as("p"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("p")).agg(sum(col("q")).as("wt")),
      min(col("p")), max(col("p")), sum(col("wt")))
    val (mn, mx, wTot) =
      (stats.getLong(0).toDouble, stats.getLong(1).toDouble, stats.getLong(2))
    val thr = (wTot + 1) / 2
    val bucket: Column =
      if (mn == mx) lit(1L)
      else least(width_bucket(col("p").cast("double"), lit(mn), lit(mx),
        lit(64)), lit(64L))
    val wb = pw.withColumn("__b", bucket)
    val offs = wb.groupBy(col("__b")).agg(sum(col("wt")).as("bw"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offMap = map(offs.map(_._1)
      .zip(offs.map(_._2).scanLeft(0L)(_ + _))
      .flatMap { case (b, o) => Seq(lit(b), lit(o)) }: _*)
    val w = Window.partitionBy(col("__b")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, 0)
    wb.withColumn("cum",
        element_at(offMap, col("__b")) + sum(col("wt")).over(w))
      .filter(col("cum") >= thr)
      .agg(min(col("p")).as("median_cents"))
      .select(lit(wTot).as("total_weight"), col("median_cents"))
  }
  private val weightedMedianSql =
    """WITH pw AS (
      |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS w FROM pw),
      |c AS (
      |  SELECT p,
      |    CAST(sum(wt) OVER (ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM pw)
      |SELECT w AS total_weight,
      |  CAST(min(CASE WHEN cum >= (w + 1) // 2 THEN p END) AS BIGINT)
      |    AS median_cents
      |FROM c, tot GROUP BY w""".stripMargin

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_chi_square", chiSquareQ, Some(chiSquareSql)),
    ("q_adamic_adar", adamicAdarQ, Some(adamicAdarSql)),
    ("q_adamic_adar_capped", adamicAdarCappedQ, Some(adamicAdarCappedSql)),
    ("q_markov_transition", markovTransitionQ, Some(markovTransitionSql)),
    ("q_kaplan_meier", kaplanMeierQ, Some(kaplanMeierSql)),
    ("q_acf", acfQ, Some(acfSql)),
    ("q_ewma", ewmaQ, Some(ewmaSql)),
    ("q_watermark_lateness", watermarkLatenessQ, Some(watermarkLatenessSql)),
    ("q_ohlc", ohlcQ, Some(ohlcSql)),
    ("q_twap", twapQ, Some(twapSql)),
    ("q_weighted_median", weightedMedianQ, Some(weightedMedianSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
