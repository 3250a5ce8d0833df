package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Round-6 registry extension, thirteenth batch — behavioral-sequence
  * and apportionment operators:
  *
  *  - sequential-pattern support (the order-sensitive sibling of
  *    q_markov_transition: "A happens before B" support over whole
  *    user histories, not adjacent steps),
  *  - directed-graph reciprocity (the edge-level symmetry metric next
  *    to the community/centrality family),
  *  - largest-remainder (Hamilton) quota apportionment — the exact
  *    integer allocation a stratified sampling plan starts from,
  *  - Markov entropy rate — the predictability summary of the
  *    q_markov_transition matrix.
  *
  * Same conventions as [[Registry]]: exact integers everywhere, logs
  * micro-rounded BEFORE summation, identical aliases, deterministic
  * total ORDER BY.
  */
object Behavior {

  type Q = Registry.Q

  // ------------------------------------------ sequential-pattern support
  /** Support of every ordered event-type 2-sequence ⟨a → b⟩: the number
    * of users with SOME occurrence of `a` strictly before SOME
    * occurrence of `b` (the standard sequence-mining existential
    * semantics — Agrawal & Srikant, ICDE 1995 — which reduces to
    * first(a) < last(b), so the corpus-sized work is ONE per-user
    * min/max-per-type aggregation; the |types|² pair test runs on the
    * per-user summary rows, map-side via a conditional-aggregation
    * pivot, never on raw events). Support in exact users and ppm of
    * the user base. The q_markov_transition matrix counts ADJACENT
    * steps; this counts ordered co-occurrence at any distance — the
    * two disagree exactly where funnels skip steps.
    */
  /** The event-type universe q_seq_pattern enumerates pairs over, used
    * identically by the Spark query and its oracle SQL — hardcoded (the
    * pair pivot needs a static column list), so BehaviorSpec asserts it
    * still equals the data's distinct event_type set: a NEW type in the
    * data would otherwise vanish from both sides and the value oracle
    * could never notice.
    */
  private[queries] val SeqPatternTypes =
    Seq("click", "error", "purchase", "signup", "view")

  private val seqPatternQ: Q = (s, dir) => {
    val types = SeqPatternTypes
    val aggs = types.flatMap(t => Seq(
      min(when(col("event_type") === t, col("ts"))).as(s"f_$t"),
      max(when(col("event_type") === t, col("ts"))).as(s"l_$t")))
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
    val n = perUser.count()
    val pairs = for (a <- types; b <- types if a != b) yield (a, b)
    val sums = perUser.agg(
      pairs.head match { case (a, b) =>
        sum(when(col(s"f_$a") < col(s"l_$b"), 1L).otherwise(0L))
          .as(s"s_${a}_$b") },
      pairs.tail.map { case (a, b) =>
        sum(when(col(s"f_$a") < col(s"l_$b"), 1L).otherwise(0L))
          .as(s"s_${a}_$b")
      }: _*)
    val stacked = pairs.map { case (a, b) =>
      s"'$a', '$b', s_${a}_$b" }.mkString(", ")
    sums.selectExpr(
        s"stack(${pairs.size}, $stacked) AS (a, b, support_users)")
      .select(col("a"), col("b"), col("support_users"),
        expr(s"support_users * 1000000 div ${n}L").as("support_ppm"))
      .filter(col("support_users") > 0)
      .orderBy(col("a"), col("b"))
  }
  private val seqPatternSql = {
    val types = SeqPatternTypes
    val firsts = types.map(t =>
      s"min(CASE WHEN event_type = '$t' THEN ts END) AS f_$t").mkString(",\n      |    ")
    val lasts = types.map(t =>
      s"max(CASE WHEN event_type = '$t' THEN ts END) AS l_$t").mkString(",\n      |    ")
    val pairs = for (a <- types; b <- types if a != b) yield (a, b)
    val unions = pairs.map { case (a, b) =>
      s"SELECT '$a' AS a, '$b' AS b, CAST(sum(CASE WHEN f_$a < l_$b THEN 1 ELSE 0 END) AS BIGINT) AS support_users FROM pu"
    }.mkString("\n      |  UNION ALL ")
    s"""WITH pu AS (
      |  SELECT user_id,
      |    $firsts,
      |    $lasts
      |  FROM events GROUP BY user_id),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM pu),
      |sup AS (
      |  $unions)
      |SELECT a, b, support_users,
      |  support_users * 1000000 // n_users AS support_ppm
      |FROM sup, n WHERE support_users > 0 ORDER BY a, b""".stripMargin
  }

  // ------------------------------------------------- graph reciprocity
  /** Reciprocity of the directed [[SynthGraph]]: the fraction of
    * directed edges whose reverse edge also exists — r = |E ∩ Eᵀ|/|E|
    * in exact ppm, plus the raw counts. One distinct + one self
    * semi-join on the packed reversed key; no enumeration beyond the
    * edge set itself, so the metric costs two keyed exchanges at any
    * scale.
    */
  private val reciprocityQ: Q = (s, dir) => {
    val e = SynthGraph.edges(s, dir).filter(col("x") =!= col("y"))
      .select((col("x") * 4294967296L + col("y")).as("k"),
        (col("y") * 4294967296L + col("x")).as("rk"))
      .distinct()
    val recip = e.join(e.select(col("k").as("k2")),
      col("rk") === col("k2"), "left_semi")
    val tot = e.agg(count(lit(1)).as("n_edges"))
    recip.agg(count(lit(1)).as("n_recip"))
      .crossJoin(broadcast(tot))
      .select(col("n_edges"), col("n_recip"),
        expr("n_recip * 1000000 div n_edges").as("reciprocity_ppm"))
  }
  private val reciprocitySql =
    s"""WITH ${SynthGraph.rawSql},
      |e AS (
      |  SELECT DISTINCT x * 4294967296 + y AS k, y * 4294967296 + x AS rk
      |  FROM raw WHERE x <> y),
      |r AS (
      |  SELECT count(*) AS n_recip
      |  FROM e WHERE rk IN (SELECT k FROM e)),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
      |SELECT n_edges, CAST(n_recip AS BIGINT) AS n_recip,
      |  CAST(n_recip AS BIGINT) * 1000000 // n_edges AS reciprocity_ppm
      |FROM r, t""".stripMargin

  // ------------------------------- largest-remainder quota apportionment
  /** Hamilton largest-remainder apportionment of 1000 sample slots
    * across languages by document count — the exact integer allocation
    * a stratified sampling plan starts from: floor quotas first, the
    * leftover slots go to the largest remainders (ties to the larger
    * class, then lexicographic — fully deterministic). The corpus pass
    * is one count per language; the apportionment runs on the ≤|langs|
    * frame with an integer-remainder window. Exactness: remainders are
    * the integer n_docs·1000 mod N — no float quota ever exists.
    */
  private val quotaQ: Q = (s, dir) => {
    val slots = 1000L
    val counts = Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n"))
    val based = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr(s"n_docs * $slots div n").as("base"),
        expr(s"(n_docs * $slots) % n").as("rem"))
    val wRank = Window.orderBy(col("rem").desc, col("n_docs").desc,
      col("lang"))
    val leftover = slots - based.agg(sum(col("base"))).head().getLong(0)
    based.withColumn("rk", row_number().over(wRank))
      .select(col("lang"), col("n_docs"),
        (col("base") + when(col("rk") <= leftover, 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("lang"))
  }
  private val quotaSql =
    """WITH c AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM c),
      |b AS (
      |  SELECT lang, n_docs,
      |    n_docs * 1000 // n AS base, (n_docs * 1000) % n AS rem
      |  FROM c, t),
      |lo AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS leftover FROM b),
      |r AS (
      |  SELECT lang, n_docs, base,
      |    row_number() OVER (ORDER BY rem DESC, n_docs DESC, lang) AS rk
      |  FROM b)
      |SELECT lang, n_docs,
      |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |    AS quota
      |FROM r, lo ORDER BY lang""".stripMargin

  // ------------------------------------------------- Markov entropy rate
  /** Entropy rate of the q_markov_transition chain: H = −Σ_s π_s Σ_t
    * p(t|s)·ln p(t|s), with the stationary weights π taken as the
    * observed source-state shares (the standard plug-in estimate).
    * Everything after the transition-count aggregation (the one
    * corpus-sized pass, reusing the per-user lag) runs on the |types|²
    * frame in exact integers: each ln p term is micro-rounded BEFORE
    * its weighted sum, giving one deterministic nano-nat total both
    * engines replay. High H = users wander; low H = funnels are
    * deterministic — THE one-number summary of the transition matrix.
    */
  private val entropyRateQ: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("prev", lag(col("cur"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c"))
    val rows = trans.groupBy(col("prev")).agg(sum(col("c")).as("r"))
    val tot = rows.agg(sum(col("r")).as("n"))
    // term per cell: c·round(ln(c/r)·1e6) — the cell's contribution to
    // Σ_s r_s/n · Σ_t c/r·ln(c/r) scaled by n: exact integer total
    trans.join(broadcast(rows), "prev")
      .select((col("c") *
        round(log(col("c").cast("double") / col("r").cast("double")) * 1e6)
          .cast("long")).as("wterm"))
      .agg(sum(col("wterm")).as("num"))
      .crossJoin(broadcast(tot))
      .select(col("n").as("n_transitions"),
        (-col("num")).as("h_num_micro"),
        expr("-num div n").as("h_micro_nats"))
  }
  private val entropyRateSql =
    """WITH seq AS (
      |  SELECT event_type AS cur,
      |    lag(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY ts, event_id) AS prev
      |  FROM events),
      |t AS (
      |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
      |  FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur),
      |r AS (SELECT prev, CAST(sum(c) AS BIGINT) AS r FROM t GROUP BY prev),
      |n AS (SELECT CAST(sum(r) AS BIGINT) AS n FROM r),
      |terms AS (
      |  SELECT c * CAST(round(ln(CAST(c AS DOUBLE) / CAST(r AS DOUBLE))
      |    * 1e6) AS BIGINT) AS wterm
      |  FROM t JOIN r USING (prev))
      |SELECT n AS n_transitions,
      |  CAST(-sum(wterm) AS BIGINT) AS h_num_micro,
      |  CAST(-sum(wterm) AS BIGINT) // n AS h_micro_nats
      |FROM terms, n GROUP BY n""".stripMargin

  // ------------------------------------------------ Benford digit audit
  /** Benford first-significant-digit audit of lineitem prices — the
    * classic forensic data-quality probe (synthetic or truncated data
    * betrays itself here): observed first-digit shares vs the Benford
    * expectation log₁₀(1+1/d), deviation in ppm. The digit extracts
    * from the exact cents INTEGER's decimal string (no float log10 on
    * the value path), so the corpus pass is one combinable 9-group
    * count; the expectation is a per-digit constant both engines
    * compute with the same double ops and one micro rounding.
    */
  private val benfordQ: Q = (s, dir) => {
    val digits = Tables.lineitem(s, dir)
      .select(substring(floor(col("l_extendedprice") * 100 + 0.5)
        .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
      .filter(col("digit") >= 1)
      .groupBy(col("digit")).agg(count(lit(1)).as("n_rows"))
    val tot = digits.agg(sum(col("n_rows")).as("n"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_rows"),
        expr("n_rows * 1000000 div n").as("observed_ppm"),
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)) * 1e6).cast("long").as("benford_ppm"))
      .withColumn("abs_dev_ppm",
        abs(col("observed_ppm") - col("benford_ppm")))
      .orderBy(col("digit"))
  }
  private val benfordSql =
    """WITH d AS (
      |  SELECT CAST(substring(CAST(CAST(floor(l_extendedprice * 100 + 0.5)
      |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
      |  FROM lineitem),
      |g AS (
      |  SELECT digit, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM d WHERE digit >= 1 GROUP BY digit),
      |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n FROM g)
      |SELECT digit, n_rows,
      |  n_rows * 1000000 // n AS observed_ppm,
      |  CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e6)
      |    AS BIGINT) AS benford_ppm,
      |  abs(n_rows * 1000000 // n -
      |    CAST(round(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 1e6)
      |      AS BIGINT)) AS abs_dev_ppm
      |FROM g, t ORDER BY digit""".stripMargin

  // ---------------------------------------------------- average precision
  /** Average precision (area under the precision–recall curve, the
    * ranking-quality companion of q_auc — AUC rewards global pair
    * ordering, AP concentrates on the head where retrieval lives):
    * rank all docs by the q_auc hashed scorer descending (doc_id
    * tie-break → one deterministic total order), and AP = mean over
    * positives of precision@their rank. Both ranks come from
    * [[graft.ops.Tiling.withGlobalRank]] — the global rank AND the
    * rank-among-positives (which IS the cumulative-positive count at
    * that row), so precision@k = j/k needs no prefix machinery of its
    * own. Each term floors to ppm BEFORE the sum (exact integer
    * total); one documented rounding.
    */
  private val avgPrecisionQ: Q = (s, dir) => {
    // materialized: withGlobalRank consumes its input THREE times
    // (stats, bucket counts, ranked pass) in separate jobs — without the
    // cut, the second rank's three consumers each re-ran the FIRST
    // rank's full window pass plus the md5 scorer
    val sc = graft.ops.Staging.materialize(
      Evaluation.scoredForSpec(s, dir)
        .select(col("doc_id"), col("label"),
          (-col("score_micro")).as("ns")))
    val (ranked, _) = graft.ops.Tiling.withGlobalRank(sc, col("ns"),
      Seq(col("ns"), col("doc_id")), "r0")
    val pos = graft.ops.Staging.materialize(ranked.filter(col("label")))
    val (posRanked, _) = graft.ops.Tiling.withGlobalRank(pos, col("ns"),
      Seq(col("ns"), col("doc_id")), "j0")
    posRanked
      .select(((col("j0") + 1L) * 1000000L).as("jm"), (col("r0") + 1L).as("k"))
      .agg(sum(expr("jm div k")).as("apsum"), count(lit(1)).as("np"))
      .select(col("np").as("n_pos"),
        expr("apsum div np").as("ap_ppm"))
  }
  private val avgPrecisionSql =
    s"""WITH ${Evaluation.scoredSql},
      |r AS (
      |  SELECT doc_id, label,
      |    CAST(row_number() OVER (ORDER BY -score_micro, doc_id) AS BIGINT)
      |      AS k
      |  FROM scored),
      |p AS (
      |  SELECT k,
      |    CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS j
      |  FROM r WHERE label),
      |s AS (
      |  SELECT CAST(sum(j * 1000000 // k) AS BIGINT) AS apsum,
      |         CAST(count(*) AS BIGINT) AS np
      |  FROM p)
      |SELECT np AS n_pos, apsum // np AS ap_ppm FROM s""".stripMargin

  // ------------------------------------------------- mean-shift changepoint
  /** Single mean-shift changepoint over the daily event series (binary
    * segmentation step 1, the offline sibling of q_cusum): the split
    * day maximizing S_L²/n_L + S_R²/n_R (⇔ minimizing pooled SSE — the
    * constant Σx² cancels). Prefix sums run over the calendar-bounded
    * daily frame (the q_kaplan_meier small-frame exemption); the
    * score is computed from exact integer prefix sums with ONE
    * documented micro rounding at normalized magnitude (the
    * q_decision_stump contract), and the argmax is a deterministic
    * max-struct — no window beyond the tiny frame, nothing
    * corpus-sized after the daily count aggregation.
    */
  private val changepointQ: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("x"))
    val tot = daily.agg(sum(col("x")).as("sTot"), count(lit(1)).as("nTot"))
    val wc = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wr = Window.orderBy(col("day"))
    val cands = daily
      .withColumn("sl", sum(col("x")).over(wc))
      .withColumn("nl", row_number().over(wr).cast("long"))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("nTot"))
      .select(col("day"), col("nl"), col("sl"),
        (col("nTot") - col("nl")).as("nr"),
        (col("sTot") - col("sl")).as("sr"))
      .select(col("day"), col("nl"), col("nr"), col("sl"), col("sr"),
        round((col("sl") * col("sl")).cast("double") /
            col("nl").cast("double") +
          (col("sr") * col("sr")).cast("double") / col("nr").cast("double"))
          .cast("long").as("score"))
    // argmax with earliest-day tie-break: min of (−score, day, …)
    cands.agg(min(struct((-col("score")).as("nsc"), col("day"),
        col("nl"), col("nr"), col("sl"), col("sr"), col("score"))).as("m"))
      .select(col("m.day").as("split_day"), col("m.nl").as("n_left"),
        col("m.nr").as("n_right"),
        expr("m.sl * 1000 div m.nl").as("mean_left_milli"),
        expr("m.sr * 1000 div m.nr").as("mean_right_milli"),
        col("m.score").as("score"))
  }
  private val changepointSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(sum(x) AS BIGINT) AS stot,
      |             CAST(count(*) AS BIGINT) AS ntot FROM daily),
      |c AS (
      |  SELECT day,
      |    CAST(sum(x) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS sl,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS nl
      |  FROM daily),
      |sc AS (
      |  SELECT day, nl, ntot - nl AS nr, sl, stot - sl AS sr,
      |    CAST(round(CAST(sl * sl AS DOUBLE) / nl +
      |      CAST((stot - sl) * (stot - sl) AS DOUBLE) / (ntot - nl))
      |      AS BIGINT) AS score
      |  FROM c, t WHERE nl < ntot),
      |best AS (
      |  SELECT * FROM sc ORDER BY score DESC, day LIMIT 1)
      |SELECT day AS split_day, nl AS n_left, nr AS n_right,
      |  sl * 1000 // nl AS mean_left_milli,
      |  sr * 1000 // nr AS mean_right_milli, score
      |FROM best""".stripMargin

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_seq_pattern", seqPatternQ, Some(seqPatternSql)),
    ("q_benford", benfordQ, Some(benfordSql)),
    ("q_avg_precision", avgPrecisionQ, Some(avgPrecisionSql)),
    ("q_changepoint", changepointQ, Some(changepointSql)),
    ("q_reciprocity", reciprocityQ, Some(reciprocitySql)),
    ("q_quota_apportion", quotaQ, Some(quotaSql)),
    ("q_entropy_rate", entropyRateQ, Some(entropyRateSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
