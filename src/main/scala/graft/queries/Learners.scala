package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TextOps

/** Round-6 registry extension, eleventh batch — distributed model
  * TRAINING loops, the missing sibling of the evaluation family
  * ([[Evaluation]] scores models; this batch fits them):
  *
  *  - full-batch logistic regression by diagonally preconditioned
  *    gradient descent (normalized-LMS step; three exact-integer
  *    iterations, each ONE combinable aggregation over the fact table),
  *  - Bernoulli Naive Bayes language identification over hashed token
  *    buckets (train + score + confusion in two corpus passes),
  *  - Apriori frequent-triple mining over co-purchase baskets (the
  *    level-3 extension of q_copurchase_lift's pair mining).
  *
  * Same conventions as [[Registry]]: per-row doubles are rounded to
  * integer micro units BEFORE any corpus-sized sum (so every
  * aggregation is exact at any partitioning), model frames are
  * metadata-sized broadcasts, identical aliases both engines,
  * deterministic total ORDER BY.
  */
object Learners {

  type Q = Registry.Q

  // ---------------------------------------- logistic regression by GD
  /** Full-batch logistic regression (l_returnflag = 'R' on quantity +
    * discount%) trained for three gradient-descent iterations with a
    * diagonal preconditioner (step −gⱼ/Σxⱼ² — the normalized-LMS /
    * Jacobi scaling that makes unit choice irrelevant). THE distributed
    * trainer shape: each iteration is ONE map-side-combinable
    * three-sum aggregation of integer residuals — no feature matrix,
    * no per-row state, nothing driver-side but the 3-scalar weight
    * vector. Exactness: weights live in integer micro units; each
    * row's residual rounds σ(z)−y to micro BEFORE the sum (gradients
    * are exact integers at any partitioning; products accumulate in
    * decimal(38,0)/HUGEINT for 2⁶³-proof headroom); the only doubles
    * are the per-row σ and the 3 scalar step divisions, identical
    * IEEE order both engines. The final pass reports exact integer
    * log-loss (micro-rounded per row) and exact accuracy (sign of the
    * INTEGER z_micro, no float compare).
    */
  private val logregQ: Q = (s, dir) => {
    // NOT materialized (r14 probe): the five sequential passes each cost
    // one trivially cheap column-pruned parquet scan — checkpointing the
    // 3-long frame re-measured slightly SLOWER (1.9 → 2.1 s median)
    val f = Tables.lineitem(s, dir).select(
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
      col("l_quantity").cast("long").as("q"),
      round(col("l_discount") * 100).cast("long").as("d"))
    val dec: Column => Column = _.cast("decimal(38,0)")
    val pre = f.agg(count(lit(1)).as("n"),
      sum(dec(col("q") * col("q"))).as("sq"),
      sum(dec(col("d") * col("d"))).as("sd")).head()
    val n = pre.getLong(0)
    val sq = pre.getDecimal(1).doubleValue()
    val sd = pre.getDecimal(2).doubleValue()
    def halfUp(x: Double): Long =
      new java.math.BigDecimal(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    var (w0, w1, w2) = (0L, 0L, 0L)
    for (_ <- 1 to 3) {
      val z = (lit(w0) + lit(w1) * col("q") + lit(w2) * col("d"))
        .cast("double") / 1e6
      val r = round((lit(1.0) / (lit(1.0) + exp(-z)) -
        col("y").cast("double")) * 1e6).cast("long")
      val g = f.select(r.as("r"), col("q"), col("d"))
        .agg(sum(dec(col("r"))).as("g0"),
          sum(dec(col("r") * col("q"))).as("g1"),
          sum(dec(col("r") * col("d"))).as("g2")).head()
      w0 -= halfUp(g.getDecimal(0).doubleValue() / n)
      w1 -= halfUp(g.getDecimal(1).doubleValue() / sq)
      w2 -= halfUp(g.getDecimal(2).doubleValue() / sd)
    }
    val zMicro = lit(w0) + lit(w1) * col("q") + lit(w2) * col("d")
    val sig = lit(1.0) / (lit(1.0) + exp(-(zMicro.cast("double") / 1e6)))
    f.select(col("y"), zMicro.as("zm"), sig.as("s"))
      .agg(
        sum(round((-(col("y").cast("double") * log(col("s")) +
          (lit(1.0) - col("y").cast("double")) * log(lit(1.0) - col("s"))))
          * 1e6).cast("long")).as("loss_micro"),
        sum(when((col("zm") > 0) === (col("y") === 1), 1L).otherwise(0L))
          .as("n_correct"),
        count(lit(1)).as("n"))
      .select(lit(w0).as("w0_micro"), lit(w1).as("w1_micro"),
        lit(w2).as("w2_micro"), col("loss_micro"), col("n_correct"),
        col("n"))
  }
  private val logregSql = {
    // the three unrolled iterations share one residual-sum template
    def gPass(wRel: String, idx: Int): String =
      s"""g$idx AS (
         |  SELECT
         |    CAST(sum(CAST(round((1.0/(1.0+exp(-((w0 + w1*q + w2*d)/1e6)))
         |      - y)*1e6) AS HUGEINT)) AS HUGEINT) AS g0,
         |    CAST(sum(CAST(round((1.0/(1.0+exp(-((w0 + w1*q + w2*d)/1e6)))
         |      - y)*1e6) AS HUGEINT) * q) AS HUGEINT) AS g1,
         |    CAST(sum(CAST(round((1.0/(1.0+exp(-((w0 + w1*q + w2*d)/1e6)))
         |      - y)*1e6) AS HUGEINT) * d) AS HUGEINT) AS g2
         |  FROM f, $wRel),
         |w$idx AS (
         |  SELECT
         |    w0 - CAST(round(CAST(g0 AS DOUBLE)/CAST(n AS DOUBLE)) AS BIGINT) AS w0,
         |    w1 - CAST(round(CAST(g1 AS DOUBLE)/CAST(sq AS DOUBLE)) AS BIGINT) AS w1,
         |    w2 - CAST(round(CAST(g2 AS DOUBLE)/CAST(sd AS DOUBLE)) AS BIGINT) AS w2
         |  FROM $wRel, g$idx, pre)""".stripMargin
    s"""WITH f AS (
       |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
       |         CAST(l_quantity AS BIGINT) AS q,
       |         CAST(round(l_discount * 100) AS BIGINT) AS d
       |  FROM lineitem),
       |pre AS (
       |  SELECT count(*) AS n,
       |    CAST(sum(CAST(q AS HUGEINT)*q) AS HUGEINT) AS sq,
       |    CAST(sum(CAST(d AS HUGEINT)*d) AS HUGEINT) AS sd
       |  FROM f),
       |wa AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
       |              CAST(0 AS BIGINT) AS w2),
       |${gPass("wa", 1)},
       |${gPass("w1", 2)},
       |${gPass("w2", 3)}
       |SELECT w0 AS w0_micro, w1 AS w1_micro, w2 AS w2_micro,
       |  (SELECT CAST(sum(CAST(round(-(y*ln(1.0/(1.0+exp(-((w0+w1*q+w2*d)/1e6))))
       |     + (1-y)*ln(1.0 - 1.0/(1.0+exp(-((w0+w1*q+w2*d)/1e6)))))*1e6)
       |     AS BIGINT)) AS BIGINT) FROM f, w3) AS loss_micro,
       |  (SELECT CAST(sum(CASE WHEN ((w0+w1*q+w2*d) > 0) = (y=1)
       |     THEN 1 ELSE 0 END) AS BIGINT) FROM f, w3) AS n_correct,
       |  (SELECT CAST(count(*) AS BIGINT) FROM f) AS n
       |FROM w3""".stripMargin
  }

  // ------------------------------------------- Bernoulli Naive Bayes
  /** Bernoulli Naive Bayes language identification: 16 md5-nibble
    * token-presence buckets (the q_dsir_weights hashing — vocabulary-
    * free) against the lang label, Laplace add-1 per bucket. Training
    * is ONE (lang, bucket) presence count off the per-doc distinct
    * frame; the model is |langs|×16 rows. Scoring decomposes
    * score(doc, l) = base_l + Σ_{b∈doc} delta_lb (base folds the prior
    * and all 16 absent-terms into ONE per-lang constant; delta is the
    * present-vs-absent log-odds), so the per-doc pass is one broadcast
    * join + one combinable sum of exact micro integers — a doc never
    * touches buckets it doesn't contain. Argmax by min(struct(-score,
    * lang)): exact, deterministic under ties, no per-doc window.
    * Output is the lang × predicted confusion matrix.
    */
  private val naiveBayesQ: Q = (s, dir) => {
    val hex = "0123456789abcdef"
    def bucketOf(h: Column): Column =
      ((instr(lit(hex), substring(h, 1, 1)) - 1) % 16).cast("int")
    // materialized: three consumers (class priors, per-bucket counts,
    // the scoring join) each re-ran tokenize + 1M md5 hashes + the
    // distinct shuffle (§2.4/§5 — the q_copurchase_lift baskets
    // pattern); the distinct (doc, lang, bucket) frame is ≤ 16 rows per
    // doc, far cheaper to store than recompute
    val db = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        bucketOf(md5(col("tok"))).as("bucket"))
      .distinct()
      .transform(graft.ops.Staging.materialize)
    val nl = db.select(col("doc_id"), col("lang")).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("nl"))
    val nTot = nl.agg(sum(col("nl")).as("n"))
    val mlb = db.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("m"))
    // dense |langs|×16 grid so absent-term constants cover every bucket
    val grid = nl.crossJoin(nl.sparkSession.range(0, 16)
        .select(col("id").cast("int").as("bucket")))
      .join(mlb, Seq("lang", "bucket"), "left")
      .na.fill(0L, Seq("m"))
    val lnMicro: Column => Column = c => round(log(c) * 1e6).cast("long")
    val terms = grid.select(col("lang"), col("bucket"), col("nl"),
      lnMicro((col("m") + 1).cast("double") / (col("nl") + 2).cast("double"))
        .as("lpp"),
      lnMicro((col("nl") - col("m") + 1).cast("double") /
        (col("nl") + 2).cast("double")).as("lpa"))
    val base = terms.groupBy(col("lang"), col("nl"))
      .agg(sum(col("lpa")).as("sum_lpa"))
      .crossJoin(broadcast(nTot))
      .select(col("lang").as("l"),
        (lnMicro(col("nl").cast("double") / col("n").cast("double")) +
          col("sum_lpa")).as("base"))
    val delta = terms.select(col("lang").as("l"), col("bucket"),
      (col("lpp") - col("lpa")).as("delta"))
    val scores = db.join(broadcast(delta), "bucket")
      .groupBy(col("doc_id"), col("lang"), col("l"))
      .agg(sum(col("delta")).as("sd"))
      .join(broadcast(base), "l")
      .select(col("doc_id"), col("lang"), col("l"),
        (col("sd") + col("base")).as("score"))
    scores.groupBy(col("doc_id"), col("lang"))
      .agg(min(struct((-col("score")).as("ns"), col("l").as("l"))).as("top"))
      .select(col("lang"), col("top.l").as("pred"))
      .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("pred"))
  }
  private val naiveBayesSql =
    """WITH t0 AS (
      |  SELECT doc_id, lang,
      |         unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |db AS (
      |  SELECT DISTINCT doc_id, lang,
      |    CAST((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) % 16
      |      AS INTEGER) AS bucket
      |  FROM t0),
      |nl AS (
      |  SELECT lang, count(*) AS nl
      |  FROM (SELECT DISTINCT doc_id, lang FROM db) GROUP BY lang),
      |ntot AS (SELECT sum(nl) AS n FROM nl),
      |grid AS (
      |  SELECT nl.lang, nl.nl, b.bucket,
      |    coalesce(m.m, 0) AS m
      |  FROM nl CROSS JOIN
      |    (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS bucket) b
      |  LEFT JOIN (SELECT lang, bucket, count(*) AS m
      |             FROM db GROUP BY lang, bucket) m
      |    ON m.lang = nl.lang AND m.bucket = b.bucket),
      |terms AS (
      |  SELECT lang, bucket, nl,
      |    CAST(round(ln(CAST(m + 1 AS DOUBLE) / (nl + 2)) * 1e6) AS BIGINT)
      |      AS lpp,
      |    CAST(round(ln(CAST(nl - m + 1 AS DOUBLE) / (nl + 2)) * 1e6)
      |      AS BIGINT) AS lpa
      |  FROM grid),
      |base AS (
      |  SELECT lang AS l,
      |    CAST(round(ln(CAST(nl AS DOUBLE) / n) * 1e6) AS BIGINT) +
      |      CAST(sum(lpa) AS BIGINT) AS base
      |  FROM terms, ntot GROUP BY lang, nl, n),
      |delta AS (
      |  SELECT lang AS l, bucket, lpp - lpa AS delta FROM terms),
      |scores AS (
      |  SELECT db.doc_id, db.lang, d.l,
      |    CAST(sum(d.delta) AS BIGINT) + any_value(b.base) AS score
      |  FROM db JOIN delta d USING (bucket) JOIN base b ON b.l = d.l
      |  GROUP BY db.doc_id, db.lang, d.l),
      |pred AS (
      |  SELECT doc_id, lang, l AS pred
      |  FROM scores
      |  QUALIFY row_number() OVER (PARTITION BY doc_id
      |                             ORDER BY score DESC, l) = 1)
      |SELECT lang, pred, CAST(count(*) AS BIGINT) AS n_docs
      |FROM pred GROUP BY lang, pred ORDER BY lang, pred""".stripMargin

  // -------------------------------------------- Apriori triple mining
  /** Apriori frequent-triple mining (Agrawal & Srikant, VLDB 1994; the
    * level-3 extension of q_copurchase_lift's pair mining, minsup = 2):
    * frequent PAIRS are counted first (map-side packed-long fan-out
    * from the ≤64-capped sorted baskets — the q_copurchase_lift
    * machinery), then every downstream step lives on the pruned
    * lattice: basket pairs semi-join F2, candidate triples come from
    * the (cust, p1)-anchored self-join of the SURVIVING pairs with the
    * (p2,p3)∈F2 Apriori check applied BEFORE the count. Measured at
    * sf0.1: 11.3M raw basket pairs → 307k F2 → 619k surviving rows →
    * 47k candidate triples, versus 163M for the naive C(|b|,3)
    * enumeration — a 3500× cut, which is the entire point of the
    * algorithm (the prune is lossless by support monotonicity: every
    * sub-pair of a frequent triple is frequent). The ORACLE pays the
    * naive 3-way join instead — the engine's lattice path must
    * reproduce it exactly. F2's semi-joins broadcast while F2 is small
    * (see the note at F2 below).
    */
  private val aprioriQ: Q = (s, dir) => {
    val cp = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .distinct()
    val keptCust = cp.groupBy(col("cust")).agg(count(lit(1)).as("nparts"))
      .filter(col("nparts") <= 64).select(col("cust"))
    val kept = cp.join(keptCust, Seq("cust"), "left_semi")
    // baskets materialized ONCE for both bp consumers (§2.4/§5): bp
    // feeds the F2 count and the F2 semi-join, and each used to re-run
    // the join+distinct+semi-join+collect_list chain (first bench rep
    // 9.8 s vs 4.5 s warm at sf0.1). One short array row per customer —
    // the same cheapest-complete-materialization point as
    // q_copurchase_lift; the 11M-row pair fan-out itself stays lazy
    // (map-side explode over the materialized rows, never stored).
    val baskets = kept.groupBy(col("cust"))
      .agg(sort_array(collect_list(col("part"))).as("ps"))
      .transform(graft.ops.Staging.materialize)
    // (cust, packed pair) rows, fan-out generated map-side (≤64²/2 per
    // customer); partkey ≪ 2³² so one long carries the ordered pair
    val bp = baskets.select(col("cust"), explode(
        graft.expr.PackedPairs.packedPairs(col("ps"))).as("pk"))
    // F2 is DATA-SIZED (307k keys at sf0.1, growing with the basket
    // fan-out), materialized once for its two semi-join consumers. The
    // materializer sizes it by its rows: estimated by its origin plan,
    // the orders ⋈ lineitem product far past 10 MB, the static plan
    // would sort-merge, shuffling the 11M-row pair fan-out before AQE
    // turned the join into a broadcast (one filtered Bench run each at
    // sf0.1 on a 4-core VM: 8.7 → 10.6 s, task CPU 71 → 87 s). At 16
    // bytes a row, Spark broadcasts F2 up to ~650k rows and shuffles
    // past that.
    // (A one-shuffle variant that carries collect_list(cust) through the
    // pair count to avoid the second bp shuffle re-measured SLOWER —
    // probe med 6.44 vs 5.68, first rep 21 s: 7M per-group list buffers
    // cost more than the semi-join it saves. §1.1 empirical loop.)
    val f2 = bp.groupBy(col("pk")).agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2).select(col("pk"))
      .transform(graft.ops.Staging.materialize)
    // NOT materialized despite feeding both sides of the self-join:
    // both sides plan identical exchanges, so the fan-out + semi-join
    // subtree is computed once and reused (ReusedExchange — §2.4);
    // an eager localCheckpoint here re-measured SLOWER (5.5 s vs 4.5 s
    // at sf0.1) because it serializes the pipeline for no saved work
    val bf2 = bp.join(f2, Seq("pk"), "left_semi")
      .select(col("cust"), expr("pk div 4294967296").as("p1"),
        pmod(col("pk"), lit(4294967296L)).as("p2"))
    // sort-merge by hint: Spark estimates the generated pair fan-out at
    // the size of the baskets it came from, far under its millions of
    // rows, and would broadcast one side of this self-join
    bf2.as("a")
      .join(bf2.as("b").hint("merge"), col("a.cust") === col("b.cust") &&
        col("a.p1") === col("b.p1") && col("a.p2") < col("b.p2"))
      .select(col("a.cust").as("cust"), col("a.p1").as("p1"),
        col("a.p2").as("p2"), col("b.p2").as("p3"))
      // Apriori check on the third sub-pair before any counting
      .join(f2,
        col("p2") * 4294967296L + col("p3") === col("pk"), "left_semi")
      .groupBy(col("p1"), col("p2"), col("p3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy(col("support").desc, col("p1"), col("p2"), col("p3"))
      .limit(15)
  }
  private val aprioriSql =
    """WITH cp AS (
      |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |kc AS (SELECT cust FROM cp GROUP BY cust HAVING count(*) <= 64),
      |kept AS (SELECT cp.* FROM cp JOIN kc USING (cust)),
      |triples AS (
      |  SELECT a.part AS p1, b.part AS p2, c.part AS p3,
      |         CAST(count(*) AS BIGINT) AS support
      |  FROM kept a
      |  JOIN kept b ON a.cust = b.cust AND a.part < b.part
      |  JOIN kept c ON b.cust = c.cust AND b.part < c.part
      |  GROUP BY 1, 2, 3)
      |SELECT p1, p2, p3, support
      |FROM triples WHERE support >= 2
      |ORDER BY support DESC, p1, p2, p3 LIMIT 15""".stripMargin

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_logreg_gd", logregQ, Some(logregSql)),
    ("q_naive_bayes", naiveBayesQ, Some(naiveBayesSql)),
    ("q_apriori_triples", aprioriQ, Some(aprioriSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
