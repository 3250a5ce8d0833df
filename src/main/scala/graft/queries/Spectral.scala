package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Graph, VectorOps}
import graft.ops.Staging

/** Round-6 registry extension, fifth batch — link-analysis and spectral
  * operators:
  *
  *  - HITS hubs/authorities (Kleinberg, JACM 1999) in EXACT integer
  *    arithmetic — the unnormalized recurrence stays Long-safe for the
  *    fixed round budget, so the oracle replays it bit-exactly,
  *  - distributed PCA top component by power iteration (Mises/
  *    Pollaczek-Geiringer 1929; the data pass is ONE map-side-combinable
  *    64×64 Gram aggregation — embedding whitening/decorrelation is a
  *    standard curation step before semantic dedup),
  *  - co-purchase lift mining (association rules — Agrawal et al.,
  *    SIGMOD 1993 lineage): the market-basket co-occurrence join with a
  *    deterministic power-buyer cap, exact integer lift.
  *
  * Same conventions as [[Registry]]: identical aliases both sides,
  * deterministic total-order ORDER BY, exact integer arithmetic (or a
  * single documented micro-rounding step) wherever a result crosses the
  * hash gate.
  */
object Spectral {

  type Q = Registry.Q

  // --------------------------------------------------------------- HITS
  /** HITS over the directed [[SynthGraph]] (self-loops dropped, distinct
    * edges, direction KEPT — unlike the undirected q_pagerank family):
    * h₀ = 1, then aₖ(v) = Σ_{u→v} hₖ₋₁(u), hₖ(u) = Σ_{u→v} aₖ(v) for two
    * rounds plus a final authority refresh. Unnormalized on purpose: all
    * scores are exact Longs (bounded by Σdeg³ ≪ 2⁶³ at any tested SF),
    * so both engines replay the recurrence bit-exactly — the usual L2
    * normalization only rescales the ranking this query reports.
    *
    * Scale shape: per half-round ONE equi-join of the score frame (one
    * row per node) against the checkpointed edge list + ONE
    * map-side-combinable sum — the q_label_prop/q_pagerank iteration
    * shape; no window, no cartesian.
    */
  private val hitsQ: Q = (s, dir) =>
    Graph.hits(SynthGraph.edges(s, dir), "x", "y", rounds = 2)
      .orderBy(col("auth").desc, col("node"))
      .limit(10)
  private val hitsSql = {
    def aRound(i: Int, hPrev: String): String =
      s"""a$i AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS a
         |  FROM e JOIN $hPrev h ON e.src = h.node GROUP BY e.dst)""".stripMargin
    def hRound(i: Int): String =
      s"""h$i AS MATERIALIZED (
         |  SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS h
         |  FROM e JOIN a$i a ON e.dst = a.node GROUP BY e.src)""".stripMargin
    s"""WITH ${SynthGraph.rawSql},
       |e AS MATERIALIZED (
       |  SELECT DISTINCT x AS src, y AS dst FROM raw WHERE x <> y),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |h0 AS MATERIALIZED (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),
       |${aRound(1, "h0")},
       |${hRound(1)},
       |${aRound(2, "h1")},
       |${hRound(2)},
       |a3 AS (
       |  SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS auth
       |  FROM e JOIN h2 h ON e.src = h.node GROUP BY e.dst)
       |SELECT a3.node, a3.auth,
       |       CAST(coalesce(h2.h, 0) AS BIGINT) AS hub
       |FROM a3 LEFT JOIN h2 ON a3.node = h2.node
       |ORDER BY auth DESC, a3.node LIMIT 10""".stripMargin
  }

  // ------------------------------------------------- PCA power iteration
  /** Top principal direction of the (int-quantized) embedding corpus by
    * power iteration, then the top-10 documents by |projection| — the
    * spectral compaction/whitening probe run before semantic dedup or
    * ANN index design.
    *
    * Scale split: the DATA pass is one 64×64 Gram matrix — a self-join
    * on vec_id that fans each vector into 4096 (i,j,qᵢqⱼ) terms and
    * combines map-side, so the only full-corpus shuffle carries 4096
    * partial sums. The 4096-cell Gram is a metadata-scale collect (the
    * Tiling offset-map precedent); three power-iteration rounds run
    * driver-side in EXACT Long arithmetic — the per-round max-abs
    * normalization is the single micro-rounding step (round(w·10⁶/m),
    * HALF_UP in both engines), so the oracle replays every round
    * bit-exactly — and the resulting direction returns to the cluster as
    * a 64-literal map for one exact integer projection pass. Double
    * only appears in the scalar w·10⁶/m expression, evaluated in the
    * same operation order by both engines.
    */
  private val pcaPowerQ: Q = (s, dir) => {
    val q = Registry.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        posexplode(VectorOps.quantize127(col("embedding"))).as(Seq("i", "qv")))
      .transform(Staging.materialize) // reused: Gram pass + projection pass
    val gram = q.as("a").join(q.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.i").as("gi"), col("b.i").as("gj"))
      .agg(sum(col("a.qv") * col("b.qv")).as("g"))
      .collect() // 4096 cells — metadata-scale
    val dim = 64
    val g = Array.ofDim[Long](dim, dim)
    gram.foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    var v = Array.fill(dim)(1000000L)
    for (_ <- 1 to 3) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => g(i)(j) * v(j)).sum)
      val m = math.max(w.map(math.abs).max, 1L)
      // HALF_UP away-from-zero — what SQL round() does in both engines
      // (Scala math.round would round -2.5 toward +∞ instead)
      v = w.map(x => new java.math.BigDecimal(x.toDouble * 1000000.0 / m)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
    }
    val vMap = map(v.zipWithIndex
      .flatMap { case (x, i) => Seq(lit(i), lit(x)) }: _*)
    q.groupBy(col("vec_id"))
      .agg(sum(col("qv") * element_at(vMap, col("i"))).as("proj"))
      .orderBy(abs(col("proj")).desc, col("vec_id"))
      .limit(10)
  }
  private val pcaPowerSql = {
    def round_(i: Int): String =
      s"""w$i AS (
         |  SELECT gi AS i, CAST(sum(g * v.x) AS BIGINT) AS w
         |  FROM gram JOIN v${i - 1} v ON gram.gj = v.i GROUP BY gi),
         |m$i AS (SELECT greatest(max(abs(w)), 1) AS m FROM w$i),
         |v$i AS (
         |  SELECT i, CAST(round(CAST(w AS DOUBLE) * 1000000.0 / m)
         |    AS BIGINT) AS x FROM w$i, m$i)""".stripMargin
    s"""WITH s AS (
       |  SELECT vec_id, embedding,
       |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
       |      AS sc
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
       |    CASE WHEN sc = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(round(CAST(unnest(embedding) AS DOUBLE) * 127.0
       |              / sc) AS BIGINT) END AS qv
       |  FROM s),
       |gram AS (
       |  SELECT a.i AS gi, b.i AS gj, CAST(sum(a.qv * b.qv) AS BIGINT) AS g
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT unnest(generate_series(0, 63)) AS i,
       |       CAST(1000000 AS BIGINT) AS x),
       |${round_(1)},
       |${round_(2)},
       |${round_(3)}
       |SELECT q.vec_id, CAST(sum(qv * v3.x) AS BIGINT) AS proj
       |FROM q JOIN v3 ON q.i = v3.i
       |GROUP BY q.vec_id ORDER BY abs(proj) DESC, vec_id LIMIT 10""".stripMargin
  }

  // ----------------------------------------------------- co-purchase lift
  /** Market-basket co-purchase mining over customer baskets
    * (orders ⋈ lineitem): pairs of parts bought by ≥2 common customers,
    * ranked by support with exact integer lift
    * (co·N·10⁶ div (f_a·f_b)) as the association strength. Customers
    * with > 64 distinct parts are dropped FIRST — the deterministic
    * "power-buyer" cap every production basket-miner applies, because
    * one bulk purchaser would otherwise contribute a quadratic pair
    * blow-up that says nothing about item affinity. With the cap, the
    * per-customer self-join fan-out is bounded by 64²/2 and the pair
    * aggregation combines map-side; no window, no cartesian.
    */
  private val copurchaseQ: Q = (s, dir) => {
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
    // pair generation is MAP-SIDE: the ≤64 cap bounds each basket, so
    // collect_list is safe and the ordered pair fan-out (≤ 64²/2 per
    // customer) happens inside a projection, packed into ONE long per
    // pair (partkey ≪ 2³²) — only (pairKey, count) rows reach the pair
    // shuffle. Measured equal to the cust self-join at sf0.1 (~5.7 s —
    // the cost is the 11M-distinct-pair count itself, not the plumbing);
    // kept because it has strictly less shuffle: the join ships every
    // basket row twice, this ships each partial pair count once.
    //
    // baskets is materialized and is the SINGLE source for all three
    // downstream consumers (§2.4/§5 — N, part frequencies, pair
    // fan-out): the r13 form recomputed the join+distinct+semi-join
    // chain once per consumer (first bench rep 11.4 s vs 3.6 s warm at
    // sf0.1). baskets is the cheapest complete materialization point —
    // one short array row per customer (~10k rows at sf0.1) vs 600k
    // (cust, part) rows for `kept` (materializing `kept` itself
    // re-measured SLOWER in r13: 5.7 -> 6.7 s). n_cust = the basket
    // count; freq = the re-exploded baskets (kept rows are distinct
    // (cust, part) pairs, so explode(ps) reproduces them exactly).
    val baskets = kept.groupBy(col("cust"))
      .agg(sort_array(collect_list(col("part"))).as("ps"))
      .transform(graft.ops.Staging.materialize)
    val n = baskets.agg(count(lit(1)).as("n_cust"))
    val freq = baskets.select(explode(col("ps")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("f"))
    baskets.select(explode(
        graft.expr.PackedPairs.packedPairs(col("ps"))).as("pk"))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
      .select(expr("pk div 4294967296").as("pa"),
        pmod(col("pk"), lit(4294967296L)).as("pb"), col("co"))
      .join(freq.select(col("part").as("pa"), col("f").as("fa")), "pa")
      .join(freq.select(col("part").as("pb"), col("f").as("fb")), "pb")
      .crossJoin(broadcast(n)) // 1-row N frame
      .select(col("pa"), col("pb"), col("co"), col("fa"), col("fb"),
        expr("co * n_cust * 1000000 div (fa * fb)").as("lift_ppm"))
      .orderBy(col("co").desc, col("pa"), col("pb"))
      .limit(20)
  }
  private val copurchaseSql =
    """WITH cp AS (
      |  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |kc AS (
      |  SELECT cust FROM cp GROUP BY cust HAVING count(*) <= 64),
      |kept AS (SELECT cp.* FROM cp JOIN kc USING (cust)),
      |n AS (SELECT CAST(count(DISTINCT cust) AS BIGINT) AS n_cust FROM kept),
      |freq AS (
      |  SELECT part, CAST(count(*) AS BIGINT) AS f
      |  FROM kept GROUP BY part),
      |pairs AS (
      |  SELECT a.part AS pa, b.part AS pb, CAST(count(*) AS BIGINT) AS co
      |  FROM kept a JOIN kept b
      |    ON a.cust = b.cust AND a.part < b.part
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT pa, pb, co, fa.f AS fa, fb.f AS fb,
      |       co * n_cust * 1000000 // (fa.f * fb.f) AS lift_ppm
      |FROM pairs
      |JOIN freq fa ON pairs.pa = fa.part
      |JOIN freq fb ON pairs.pb = fb.part
      |CROSS JOIN n
      |ORDER BY co DESC, pa, pb LIMIT 20""".stripMargin

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_hits", hitsQ, Some(hitsSql)),
    ("q_pca_power", pcaPowerQ, Some(pcaPowerSql)),
    ("q_copurchase_lift", copurchaseQ, Some(copurchaseSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
