package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops._

/** Round-5 registry extension: graph analytics (exact triangle count),
  * robust statistics (median/MAD outlier gate), and the k-means
  * assignment step on integer-quantized embeddings (the clustering pass
  * SemDeDup-style curation runs before semantic dedup).
  *
  * Same conventions as [[Registry]]: identical aliases both sides,
  * deterministic total-order ORDER BY, exact integer arithmetic wherever
  * a result crosses the hash gate.
  */
object Analytics {

  type Q = Registry.Q

  // ----------------------------------------------------- triangle count

  /** Exact triangle count ([[Graph.triangleCount]]) over a
    * scale-proportional deterministic graph derived from lineitem
    * (N = distinct orderkeys keeps average degree constant as sf grows,
    * so edges stay linear in the data — the shape a real web/citation
    * graph sweep has). The node-count scalar is a broadcast 1-row frame,
    * not a driver collect. Oracle counts each id-ordered triangle
    * (a<b<c) once via two equi-joins.
    */
  private val triangleCountQ: Q = (s, dir) =>
    Graph.triangleCount(SynthGraph.edges(s, dir), "x", "y")
  private val triangleCountSql =
    s"""WITH ${SynthGraph.rawSql},
      |e AS (
      |  SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi
      |  FROM raw WHERE x <> y),
      |nodes AS (SELECT lo AS node FROM e UNION SELECT hi FROM e)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
      |       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
      |       (SELECT CAST(count(*) AS BIGINT)
      |        FROM e ab JOIN e bc ON ab.hi = bc.lo
      |        JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi) AS n_triangles""".stripMargin

  // ------------------------------------------------- median/MAD outliers

  /** Robust outlier gate per group: median + MAD (median absolute
    * deviation), then count rows beyond 2×MAD — the quality-filter form
    * that survives heavy-tailed columns where mean/stddev gates drown
    * (a data-quality pass over document lengths or loss values at 100 TB
    * uses exactly this shape). Both medians are EXACT; they are rounded
    * to 4 decimals BEFORE the comparison so the outlier predicate
    * compares bit-identical doubles on both engines (the raw
    * interpolated medians agree only to ~1 ulp). Two scan+agg passes
    * (MAD needs the median first) + one broadcast of the 3-row stats —
    * the minimal shape for exact MAD.
    */
  private val madOutliersQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val price = col("l_extendedprice")
    val med = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("med"))
    val dev = li.join(broadcast(med), "l_returnflag")
      .withColumn("adev", abs(price - col("med")))
    val mad = dev.groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(adev, 0.5)"), 4).as("mad"))
    dev.join(broadcast(mad), "l_returnflag")
      .groupBy(col("l_returnflag"), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("adev") > col("mad") * 2.0, 1L).otherwise(0L))
        .as("n_outliers"))
      .select(col("l_returnflag"), col("n"), col("med"), col("mad"),
        col("n_outliers"))
      .orderBy(col("l_returnflag"))
  }
  private val madOutliersSql =
    """WITH s AS (
      |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |         round(quantile_cont(l_extendedprice, 0.5), 4) AS med
      |  FROM lineitem GROUP BY 1),
      |d AS (
      |  SELECT li.l_returnflag, abs(l_extendedprice - med) AS adev
      |  FROM lineitem li JOIN s ON li.l_returnflag = s.l_returnflag),
      |m AS (
      |  SELECT l_returnflag, round(quantile_cont(adev, 0.5), 4) AS mad
      |  FROM d GROUP BY 1)
      |SELECT s.l_returnflag, n, med, mad,
      |       (SELECT CAST(count(*) AS BIGINT) FROM d
      |        WHERE d.l_returnflag = s.l_returnflag
      |          AND adev > mad * 2.0) AS n_outliers
      |FROM s JOIN m ON s.l_returnflag = m.l_returnflag
      |ORDER BY s.l_returnflag""".stripMargin

  // ------------------------------------------- k-means assignment step

  /** One Lloyd iteration's assignment + partial-centroid step over
    * int-quantized embeddings (k-means is the clustering stage a
    * SemDeDup-style curation pipeline runs before intra-cluster dedup).
    * Exactness: vectors quantize to integers (the q_quantize_embeddings
    * formula), distances are exact integer squared-L2, the argmin
    * tie-breaks by centroid id, and the new-centroid numerators/counts
    * are exact integer sums — hash-stable at any partitioning. The k
    * seed centroids (vec_id < k) are a broadcast k-row frame; the
    * assignment is a map-side broadcast join (no shuffle of the
    * embedding corpus), and the only exchange is the final
    * (cluster, pos) rollup — the 100 TB shape, since k·dim partial sums
    * combine map-side.
    */
  private val kmeansStepQ: Q = (s, dir) => {
    val k = 8
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorOps.quantize127(col("embedding")).as("qv"))
    // ALL centroids travel as one sorted array<struct> in a broadcast
    // 1-row frame, and the argmin is a map-side fold over it — the corpus
    // is never shuffled (or even row-multiplied) to meet the centroids.
    // The k-candidate-rows-per-vector join formulation would ship 8× the
    // corpus through a hash exchange just to run min_by; at 100 TB the
    // assignment must stay embarrassingly parallel. array_sort fixes the
    // fold order (collect_list is partition-ordered), and the strict <
    // keeps the LOWEST cid on distance ties — same argmin the join form
    // tie-broke to, exact at any partitioning.
    val cents = q.filter(col("vec_id") < k)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cid"),
        col("qv").as("cv")))).as("cs"))
    // compiled exact-integer argmin over the sorted centroid structs —
    // the HOF fold (nested zip_with per centroid) ran interpreted per
    // row; same strict-< lowest-cid tie-break (QuantArgmin parity spec)
    val best = {
      import org.apache.spark.sql.graftshim.GraftShim
      GraftShim.column(graft.expr.QuantArgmin(
        GraftShim.expression(col("qv")), GraftShim.expression(col("cs"))))
    }
    val assigned = q.crossJoin(broadcast(cents)) // 1-row centroid frame
      .select(col("vec_id"), col("qv"), best.as("cluster"))
    assigned
      .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "qval")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("qval")).as("sum_q"), count(lit(1)).as("n"))
      .orderBy(col("cluster"), col("pos"))
  }
  private val kmeansStepSql =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS sc
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id,
      |    CASE WHEN sc = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(embedding,
      |                x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / sc) AS BIGINT))
      |    END AS qv
      |  FROM s),
      |ql AS (
      |  SELECT vec_id, generate_subscripts(qv, 1) - 1 AS pos, unnest(qv) AS qval
      |  FROM q),
      |cl AS (SELECT vec_id AS cid, pos, qval AS cval FROM ql WHERE vec_id < 8),
      |d AS (
      |  SELECT v.vec_id, c.cid,
      |         sum((v.qval - c.cval) * (v.qval - c.cval)) AS d2
      |  FROM ql v JOIN cl c ON v.pos = c.pos
      |  GROUP BY 1, 2),
      |a AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT vec_id, cid,
      |           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d) WHERE rn = 1)
      |SELECT cluster, CAST(pos AS INTEGER) AS pos,
      |       CAST(sum(qval) AS BIGINT) AS sum_q,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM a JOIN ql USING (vec_id)
      |GROUP BY 1, 2 ORDER BY cluster, pos""".stripMargin

  // ------------------------------------------------- count-min sketch

  /** Count-min frequency estimates probed back in-query — the fourth
    * mergeable sketch beside HLL cardinality (q_hll_union), Misra–Gries
    * heavy hitters (q_heavy_hitters) and GK quantiles
    * (q_quantile_sketch): Spark's `count_min_sketch` aggregate builds
    * and merges the d×w counter table map-side; the custom
    * [[graft.expr.CmsEstimate]] expression probes the one merged row
    * (broadcast) for the exact top-10 tokens. CMS guarantees
    * est ≥ true (counters only overcount) and, w.h.p. at the chosen
    * eps/confidence, est ≤ true + eps·N — both emitted as booleans the
    * oracle states as constants (fixed seed → the estimates, and hence
    * the booleans, are deterministic); a sketch/probe bug (wrong hash
    * bytes, broken merge) flips a row and fails the hash gate.
    */
  private val countMinQ: Q = (s, dir) => {
    import org.apache.spark.sql.graftshim.GraftShim
    val eps = 0.0005
    val toks = Registry.spread(Tables.documents(s, dir))
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val sketchRow = toks.agg(
      expr(s"count_min_sketch(tok, ${eps}d, 0.99d, 42)").as("cms"),
      count(lit(1)).as("n"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(10)
    val est = GraftShim.column(graft.expr.CmsEstimate(
      GraftShim.expression(col("cms")), GraftShim.expression(col("tok"))))
    exact.crossJoin(broadcast(sketchRow)) // 1-row sketch frame
      .select(col("tok"), col("c"),
        (est >= col("c") &&
          est <= col("c") + ceil(col("n") * lit(eps)).cast("long"))
          .as("within_bound"))
      .orderBy(col("c").desc, col("tok"))
  }
  private val countMinSql =
    """WITH tok AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |ex AS (SELECT tok, count(*) AS c FROM tok
      |       GROUP BY tok ORDER BY c DESC, tok LIMIT 10)
      |SELECT tok, c, TRUE AS within_bound FROM ex ORDER BY c DESC, tok""".stripMargin

  // ------------------------------------------------- PMI bigram scoring

  /** Pointwise mutual information over adjacent-token bigrams — the
    * phrase/collocation detector a corpus-curation pass runs before
    * tokenizer training. All counts come from ONE bigram table
    * (c(ab), first-token marginal, second-token marginal, N), so the
    * score is self-consistent; the log lands in fixed-point micro-nats
    * (the q_quality_logprob pattern) so the hash gate compares integers.
    * Bigrams are built map-side from the token array (two slices zipped
    * — no self-join, no shuffle until the count); marginals are two
    * keyed aggs joined back. min-count ≥ 5 kills the singleton-pair
    * noise PMI is notorious for; top-20 with total-order tie-break.
    */
  private val pmiBigramsQ: Q = (s, dir) => {
    val t = TextOps.tokens(col("text"))
    val bigrams = when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat_ws(" ", a, b))).otherwise(array())
    val bg = Registry.spread(Tables.documents(s, dir))
      .select(explode(bigrams).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .withColumn("a", substring_index(col("bg"), " ", 1))
      .withColumn("b", substring_index(col("bg"), " ", -1))
    val n = bg.agg(sum(col("c")).as("n"))
    val ca = bg.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val cb = bg.groupBy(col("b")).agg(sum(col("c")).as("cb"))
    bg.filter(col("c") >= 5)
      .join(ca, "a").join(cb, "b").crossJoin(broadcast(n))
      .select(col("bg"), col("c"),
        round(log(col("c").cast("double") * col("n") /
          (col("ca") * col("cb"))) * 1e6).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bg"))
      .limit(20)
  }
  private val pmiBigramsSql =
    """WITH tok AS (
      |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS t
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |        FROM documents)),
      |bg AS (
      |  SELECT x.t AS a, y.t AS b, x.t || ' ' || y.t AS bg, count(*) AS c
      |  FROM tok x JOIN tok y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
      |  GROUP BY 1, 2, 3),
      |n AS (SELECT sum(c) AS n FROM bg),
      |ca AS (SELECT a, sum(c) AS ca FROM bg GROUP BY a),
      |cb AS (SELECT b, sum(c) AS cb FROM bg GROUP BY b)
      |SELECT bg.bg, CAST(bg.c AS BIGINT) AS c,
      |  CAST(round(ln(CAST(bg.c AS DOUBLE) * n.n / (ca.ca * cb.cb)) * 1e6)
      |       AS BIGINT) AS pmi_micro
      |FROM bg JOIN ca USING (a) JOIN cb USING (b), n
      |WHERE bg.c >= 5
      |ORDER BY pmi_micro DESC, bg LIMIT 20""".stripMargin

  // ------------------------------------------------- per-doc token entropy

  /** Unigram entropy per document in fixed-point micro-nats — the
    * repetition/diversity quality signal next to q_quality_logprob's
    * corpus-level perplexity proxy: low entropy flags boilerplate and
    * keyboard-mash, independent of WHICH tokens appear. Exactness: each
    * (doc, token) term rounds ln(c_i) to integer micro-nats BEFORE the
    * weighted sum, so the aggregation is exact integer arithmetic at any
    * partitioning: e_micro = round(ln(L)·1e6) − (Σ c_i·round(ln(c_i)·1e6)) div L.
    * One explode + one (doc, tok) agg + one doc agg — combiner-friendly
    * keyed shuffles only.
    */
  private val tokenEntropyQ: Q = (s, dir) => {
    val perTok = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    perTok.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(col("c") * round(log(col("c").cast("double")) * 1e6).cast("long"))
          .as("w"))
      .select(col("doc_id"), col("n_tokens"), col("distinct_tokens"),
        (round(log(col("n_tokens").cast("double")) * 1e6).cast("long") -
          expr("w div n_tokens")).as("entropy_micro"))
      .orderBy(col("doc_id"))
  }
  private val tokenEntropySql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |ct AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS distinct_tokens,
      |  CAST(round(ln(CAST(sum(c) AS DOUBLE)) * 1e6) AS BIGINT) -
      |    CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
      |         AS BIGINT) // CAST(sum(c) AS BIGINT) AS entropy_micro
      |FROM ct GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- winsorization

  /** Percentile winsorization (clip at p01/p99) per group — the robust
    * preprocessing step beside the MAD gate: heavy-tail values are
    * CLAMPED, not dropped, so totals stay comparable. Bounds are exact
    * interpolated percentiles rounded to 4 decimals BEFORE clipping
    * (both engines clamp against identical doubles — the q_mad_outliers
    * contract); clipped sums go through exact decimals. One percentile
    * pass + one broadcast-join clip pass.
    */
  private val winsorizeQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val price = col("l_extendedprice")
    // one percentile(array) buffer per group instead of two identical
    // value-count maps (§2.3/§4.1); same interpolated doubles
    val bounds = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.01D, 0.99D))")
        .as("pcts"))
      .select(col("l_returnflag"),
        round(element_at(col("pcts"), 1), 4).as("p01"),
        round(element_at(col("pcts"), 2), 4).as("p99"))
    li.join(broadcast(bounds), "l_returnflag")
      .groupBy(col("l_returnflag"), col("p01"), col("p99"))
      .agg(count(lit(1)).as("n"),
        sum(when(price < col("p01"), 1L).otherwise(0L)).as("clipped_low"),
        sum(when(price > col("p99"), 1L).otherwise(0L)).as("clipped_high"),
        sum(greatest(least(price, col("p99")), col("p01"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("winsorized_sum"))
      .select(col("l_returnflag"), col("p01"), col("p99"), col("n"),
        col("clipped_low"), col("clipped_high"), col("winsorized_sum"))
      .orderBy(col("l_returnflag"))
  }
  private val winsorizeSql =
    """WITH b AS (
      |  SELECT l_returnflag,
      |         round(quantile_cont(l_extendedprice, 0.01), 4) AS p01,
      |         round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |  FROM lineitem GROUP BY 1)
      |SELECT li.l_returnflag, p01, p99, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN l_extendedprice < p01 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS clipped_low,
      |  CAST(sum(CASE WHEN l_extendedprice > p99 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS clipped_high,
      |  CAST(sum(CAST(greatest(least(l_extendedprice, p99), p01)
      |                AS DECIMAL(18,4))) AS DOUBLE) AS winsorized_sum
      |FROM lineitem li JOIN b ON li.l_returnflag = b.l_returnflag
      |GROUP BY 1, 2, 3 ORDER BY li.l_returnflag""".stripMargin

  // ------------------------------------------------------- event funnel

  /** Ordered conversion funnel over the events stream: users who signed
    * up, then clicked AFTER their first signup, then purchased AFTER
    * that first qualifying click. The three stage timestamps are
    * successive window-mins over the SAME `user_id` partitioning, so
    * Catalyst plans ONE hash exchange feeding three Window operators
    * (sort reuse) — per-user funnel state never re-shuffles, which is
    * what lets the shape survive a 100 TB event log: one pass, one
    * exchange, then a tiny global rollup. Null ordering does the stage
    * gating for free: `ts > c1` is NULL when the user never reached the
    * prior stage, the conditional min ignores it, and the stage column
    * stays NULL — identical semantics in Spark and DuckDB.
    */
  private val funnelQ: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .withColumn("s1",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("c1",
        min(when(col("event_type") === "click" && col("ts") > col("s1"),
          col("ts"))).over(w))
      .withColumn("p1",
        min(when(col("event_type") === "purchase" && col("ts") > col("c1"),
          col("ts"))).over(w))
      .agg(
        countDistinct(when(col("s1").isNotNull, col("user_id")))
          .as("n_signup"),
        countDistinct(when(col("c1").isNotNull, col("user_id")))
          .as("n_click_after"),
        countDistinct(when(col("p1").isNotNull, col("user_id")))
          .as("n_purchase_after"))
  }
  private val funnelSql =
    """WITH f AS (
      |  SELECT user_id, ts, event_type,
      |    min(CASE WHEN event_type = 'signup' THEN ts END)
      |      OVER (PARTITION BY user_id) AS s1
      |  FROM events),
      |g AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > s1 THEN ts END)
      |    OVER (PARTITION BY user_id) AS c1 FROM f),
      |h AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > c1 THEN ts END)
      |    OVER (PARTITION BY user_id) AS p1 FROM g)
      |SELECT
      |  CAST(count(DISTINCT CASE WHEN s1 IS NOT NULL THEN user_id END)
      |       AS BIGINT) AS n_signup,
      |  CAST(count(DISTINCT CASE WHEN c1 IS NOT NULL THEN user_id END)
      |       AS BIGINT) AS n_click_after,
      |  CAST(count(DISTINCT CASE WHEN p1 IS NOT NULL THEN user_id END)
      |       AS BIGINT) AS n_purchase_after
      |FROM h""".stripMargin

  // --------------------------------------------------- cohort retention

  /** Weekly cohort retention: users cohorted by the DATE of their first
    * event, counted distinct in each subsequent week-offset bucket.
    * Day-granularity cohorts sidestep week-truncation locale semantics
    * entirely (integer day arithmetic is identical everywhere). One
    * exchange for the per-user first-event window, one for the
    * (cohort, offset) distinct-count rollup — both map-side partial.
    */
  private val cohortRetentionQ: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .withColumn("first_ts", min(col("ts")).over(w))
      .select(
        to_date(col("first_ts")).as("cohort_day"),
        floor(datediff(to_date(col("ts")), to_date(col("first_ts"))) / 7)
          .cast("long").as("week_off"),
        col("user_id"))
      .groupBy(col("cohort_day"), col("week_off"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("week_off"))
  }
  private val cohortRetentionSql =
    """WITH f AS (
      |  SELECT user_id, ts,
      |         min(ts) OVER (PARTITION BY user_id) AS first_ts
      |  FROM events)
      |SELECT CAST(first_ts AS DATE) AS cohort_day,
      |       CAST(date_diff('day', CAST(first_ts AS DATE), CAST(ts AS DATE))
      |            // 7 AS BIGINT) AS week_off,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- exact time-decay sums

  /** Exponentially time-decayed value sums per event type (half-life =
    * 1 day), computed EXACTLY in fixed point: values are cent-integers,
    * the decay weight 2^-age becomes the integer 2^(30-age) (ages span
    * ≤30 days in this corpus), and the per-type numerator is an exact
    * Long sum — bit-identical at any partitioning, no float-order
    * drift across the hash gate. The readable `decayed_sum` is derived
    * from that exact numerator by one deterministic double division.
    * The global max-date anchor is a broadcast 1-row frame; the only
    * data exchange is the per-type rollup, map-side combinable.
    */
  private val timeDecayQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val maxd = ev.agg(max(to_date(col("ts"))).as("maxd"))
    ev.crossJoin(broadcast(maxd))
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        datediff(col("maxd"), to_date(col("ts"))).as("age_days"))
      .select(col("event_type"),
        (col("cents") *
          expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - age_days AS INT))"))
          .as("num"))
      .groupBy(col("event_type"))
      .agg(sum(col("num")).as("decay_num"), count(lit(1)).as("n"))
      .select(col("event_type"), col("decay_num"), col("n"),
        round(col("decay_num").cast("double") / lit(1073741824.0)
          / lit(100.0), 4).as("decayed_sum"))
      .orderBy(col("event_type"))
  }
  private val timeDecaySql =
    """WITH m AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events),
      |r AS (
      |  SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT)
      |      * (CAST(1 AS BIGINT)
      |         << CAST(30 - date_diff('day', CAST(ts AS DATE), maxd)
      |                 AS INT)) AS num
      |  FROM events, m)
      |SELECT event_type,
      |       CAST(sum(num) AS BIGINT) AS decay_num,
      |       CAST(count(*) AS BIGINT) AS n,
      |       round(CAST(CAST(sum(num) AS BIGINT) AS DOUBLE)
      |             / 1073741824.0 / 100.0, 4) AS decayed_sum
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ BM25 retrieval

  /** BM25 (k1=1.2, b=0.75) document scoring for a fixed term set — the
    * lexical retrieval scorer contamination/dedup tooling runs beside
    * embedding search. Everything integer until the final per-term
    * score: tf/dl come from ONE explode (dl rides the groupBy key, so
    * no join back to the corpus), df and the (N, total_len) stats are
    * broadcast 1-row/3-row frames, and each per-(doc,term) score is
    * rounded to micro units BEFORE the doc sum — exact Long totals
    * across any partitioning. Every fractional literal is written as an
    * explicit DOUBLE on the oracle side (DuckDB types bare 0.75 as
    * DECIMAL, which would change the arithmetic).
    */
  private val bm25Q: Q = (s, dir) => {
    val terms = Seq("spark", "merge", "filter")
    val docs = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    val stats = docs.agg(count(lit(1)).as("nd"),
      sum(col("dl")).as("tl"))
    // df as a window over the already-filtered tf frame — NOT a second
    // aggregation of the tf lineage, which would re-scan the corpus a
    // third time (stats is the second, unavoidable full pass)
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
    val idf = log((col("nd").cast("double") - col("df") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) * col("dl").cast("double") *
        col("nd").cast("double") / col("tl").cast("double"))
    tf.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(lit(1e6) * idf * col("tf").cast("double") * lit(2.2) / denom)
          .cast("long").as("sc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("sc")).as("bm25_micro"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(20)
  }
  private val bm25Sql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |dl AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
      |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tl FROM dl),
      |tf AS (
      |  SELECT doc_id, dl, tok, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
      |  WHERE tok IN ('spark', 'merge', 'filter')
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
      |SELECT doc_id,
      |  CAST(sum(CAST(round(
      |    CAST(1e6 AS DOUBLE) *
      |    ln((CAST(nd AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) /
      |       (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |       + CAST(1.0 AS DOUBLE)) *
      |    CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE) /
      |    (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
      |     (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
      |      CAST(dl AS DOUBLE) * CAST(nd AS DOUBLE) / CAST(tl AS DOUBLE))))
      |    AS BIGINT)) AS BIGINT) AS bm25_micro,
      |  CAST(count(*) AS BIGINT) AS n_terms
      |FROM tf JOIN df USING (tok), st
      |GROUP BY doc_id ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin

  // -------------------------------------- inverted index + pruned BM25

  /** Staged inverted index over the documents corpus, committed with
    * the versioned-manifest discipline: posting rows
    * `(doc_id, dl, tok, tf)` — dl denormalized onto each posting so
    * query-time scoring never joins back to the corpus — written
    * partitioned by a 16-way term-hash bucket (the partition key a term
    * lookup prunes on), with the corpus constants (N, total length) in
    * the manifest meta. One tokenize + one shuffle on the term at build
    * time; every later query reads only its terms' buckets.
    */
  private[queries] def stageInvIndex(s: SparkSession, dir: String)
      : (String, Long, Long) =
    graft.ops.Staging.cached(s"invindex:$dir") { tmp =>
      val docs = Registry.spread(Tables.documents(s, dir))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")))
      val Array(nd, tl) = docs.agg(count(lit(1)), sum(col("dl")))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val path = tmp.resolve("inv").toString
      docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("dl"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("centroid", pmod(xxhash64(col("tok")), lit(16)))
        .repartition(col("centroid"))
        .write.partitionBy("centroid").mode("overwrite").parquet(path)
      VectorOps.writeManifest(s, path, 1,
        VectorOps.listIndexFiles(s, path),
        Map("op" -> "append", "nd" -> nd.toString, "tl" -> tl.toString))
      // build-time TERM-STATS sidecar — one `tok<TAB>df<TAB>ub_micro`
      // line per term: df is the term's posting count, ub the MAX
      // per-posting micro BM25 contribution under this corpus's
      // constants. The per-term upper bound is what MaxScore-family
      // disjunctive top-k prunes with (q_bm25_or) — it MUST be
      // precomputed here: deriving it at query time would score every
      // posting, the exact work the bound exists to avoid. One extra
      // pass over the just-written postings (build-time, never
      // query-time); committed with the manifest discipline.
      import org.apache.spark.sql.expressions.Window
      val post = VectorOps.readIndexVersion(s, path, 1)
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("tok"))))
      val statLines = post
        .select(col("tok"), col("df"), bm25Micro(nd, tl).as("sc"))
        .groupBy(col("tok"), col("df")).agg(max(col("sc")).as("ub"))
        .orderBy(col("tok"))
        .collect() // one line per vocabulary term — metadata-scale
        .map(r => s"${r.getString(0)}\t${r.getLong(1)}\t${r.getLong(2)}")
        .toSeq
      VectorOps.writeSidecar(s, path, "v00001.termstats", statLines)
      (path, nd, tl)
    }

  /** The micro-rounded integer BM25 contribution (k1=1.2, b=0.75) of a
    * posting row carrying `df`/`tf`/`dl` columns — the single formula
    * q_bm25 / q_inverted_search / q_bm25_or and the term-stats build
    * all share, so every oracle can recompute it from the raw corpus.
    */
  private def bm25Micro(nd: Long, tl: Long): org.apache.spark.sql.Column = {
    val idf = log((lit(nd).cast("double") - col("df") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) * col("dl").cast("double") *
        lit(nd).cast("double") / lit(tl).cast("double"))
    round(lit(1e6) * idf * col("tf").cast("double") * lit(2.2) / denom)
      .cast("long")
  }

  /** DISJUNCTIVE (OR-of-terms) BM25 top-k with MaxScore upper-bound
    * pruning — the reference's own retrieval shape
    * (`usda-food-assistant/app.py:55-70`, free-text top-k over a
    * query's terms) served term-pruned: conjunctive search
    * (q_inverted_search) intersects posting lists, but an OR query
    * must UNION them, and the naive union scores every posting of
    * every query term. The MaxScore family (Turtle & Flood 1995 /
    * the WAND line, public literature) bounds that: with terms sorted
    * by their precomputed per-term score ceiling (the termstats
    * sidecar), a document containing ONLY low-bound terms can never
    * out-score the running kth-best, so:
    *
    *  1. grow an ESSENTIAL prefix of high-bound terms; candidates =
    *     docs appearing in any prefix posting;
    *  2. score candidates FULLY (all query terms, restricted to the
    *     candidate set — suffix postings are only ever probed for
    *     candidates, never expanded);
    *  3. stop at the first prefix whose suffix bound-sum is STRICTLY
    *     below the kth-best candidate score θ — every non-candidate
    *     scores ≤ the suffix sum < θ, so the top-k is EXACT.
    *
    * Integer micro arithmetic end-to-end (θ and the bounds are Longs),
    * so the stop test is deterministic and the DuckDB oracle's
    * exhaustive OR replay matches hash-exactly. The driver loop runs at
    * most |terms| bounded iterations (each one Spark job over the
    * bucket-pruned postings). Audits: `scored_fewer` — the postings
    * actually scored (candidate-restricted) were strictly fewer than
    * the exhaustive union the oracle scores; `n_union` — that union's
    * exact posting count, hash-gated.
    */
  private val bm25OrQ: Q = (s, dir) => {
    val (path, nd, tl) = stageInvIndex(s, dir)
    val terms = Seq("dup", "vector", "key", "the")
    val k = 10
    // per-term (df, ub) from the committed sidecar — never the postings
    val stats = VectorOps.readSidecarLines(s, path, "v00001.termstats").get
      .map(_.split('\t'))
      .map(a => (a(0), a(1).toLong, a(2).toLong))
      .filter(t => terms.contains(t._1))
      .sortBy(t => (-t._3, t._1)) // bound desc, term asc
    require(stats.length == terms.length,
      s"q_bm25_or: query terms missing from the term-stats sidecar")
    val buckets = s.createDataFrame(terms.map(Tuple1(_))).toDF("tok")
      .select(pmod(xxhash64(col("tok")), lit(16)).as("b"))
      .collect().map(_.getLong(0).toInt).distinct.toSeq
    val dfDim = s.createDataFrame(stats.map(t => (t._1, t._2)))
      .toDF("tok", "df")
    val post = VectorOps.readIndexVersion(s, path, 1)
      .filter(col("centroid").isin(buckets: _*) &&
        col("tok").isin(terms: _*))
      .join(broadcast(dfDim), Seq("tok"))
      .select(col("doc_id"), col("tok"), bm25Micro(nd, tl).as("sc"))
    val nUnion = post.count()
    // essential-prefix growth: stop when the suffix bound-sum can no
    // longer reach the kth-best candidate score
    var p = 1
    var done = false
    var scored: org.apache.spark.sql.DataFrame = null
    var nScored = 0L
    while (!done) {
      val prefix = stats.take(p).map(_._1)
      val suffixUb = stats.drop(p).map(_._3).sum
      val cand = post.filter(col("tok").isin(prefix: _*))
        .select(col("doc_id")).distinct()
      scored = post.join(cand, Seq("doc_id"), "left_semi")
      nScored = scored.count()
      val topScores = scored.groupBy(col("doc_id"))
        .agg(sum(col("sc")).as("t"))
        .orderBy(col("t").desc).limit(k)
        .collect().map(_.getLong(1))
      val theta =
        if (topScores.length < k) Long.MinValue else topScores.last
      done = p == stats.length || suffixUb < theta
      if (!done) p += 1
    }
    scored.groupBy(col("doc_id"))
      .agg(sum(col("sc")).as("bm25_micro"), count(lit(1)).as("n_terms"))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("bm25_micro"), col("n_terms"),
        lit(nScored < nUnion).as("scored_fewer"),
        lit(nUnion).as("n_union"))
  }
  private val bm25OrSql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |dl AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
      |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tl FROM dl),
      |tf AS (
      |  SELECT doc_id, dl, tok, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
      |  WHERE tok IN ('dup', 'vector', 'key', 'the')
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
      |SELECT doc_id,
      |  CAST(sum(CAST(round(
      |    CAST(1e6 AS DOUBLE) *
      |    ln((CAST(nd AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) /
      |       (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |       + CAST(1.0 AS DOUBLE)) *
      |    CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE) /
      |    (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
      |     (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
      |      CAST(dl AS DOUBLE) * CAST(nd AS DOUBLE) / CAST(tl AS DOUBLE))))
      |    AS BIGINT)) AS BIGINT) AS bm25_micro,
      |  CAST(count(*) AS BIGINT) AS n_terms,
      |  TRUE AS scored_fewer,
      |  CAST((SELECT count(*) FROM tf) AS BIGINT) AS n_union
      |FROM tf JOIN df USING (tok), st
      |GROUP BY doc_id
      |ORDER BY bm25_micro DESC, doc_id LIMIT 10""".stripMargin

  /** Conjunctive BM25 retrieval served ENTIRELY from a committed
    * inverted index — the lexical sibling of the IVF serving path: at
    * 100 TB you cannot tokenize the corpus per query, so the tokenize +
    * term shuffle is paid ONCE at build time and a query touches only
    * its terms' posting buckets (partition-pruned on the term-hash
    * key; the corpus text is never read). df comes from the fetched
    * postings themselves (each term's posting list is complete by
    * construction), N and total-length from the manifest meta, dl rides
    * the posting rows — so scoring needs nothing beyond the pruned
    * read. Conjunctive AND semantics: only documents carrying ALL query
    * terms survive (posting-list intersection via the grouped count).
    * Same micro-rounded integer BM25 as q_bm25, so the oracle recomputes
    * the identical result from the raw corpus — proving the index
    * serves exactly what a corpus scan would. `pruned` gates that the
    * plan actually read fewer buckets than the index holds.
    */
  private val invertedSearchQ: Q = (s, dir) => {
    val (path, nd, tl) = stageInvIndex(s, dir)
    val terms = Seq("spark", "merge", "filter")
    // bucket ids of the query terms — 3-row driver-side arithmetic with
    // the SAME hash the writer used
    val buckets = s.createDataFrame(terms.map(Tuple1(_))).toDF("tok")
      .select(pmod(xxhash64(col("tok")), lit(16)).as("b"))
      .collect().map(_.getLong(0).toInt).distinct.toSeq
    val post = VectorOps.readIndexVersion(s, path, 1)
      .filter(col("centroid").isin(buckets: _*) &&
        col("tok").isin(terms: _*))
    import org.apache.spark.sql.expressions.Window
    val tf = post
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
    val idf = log((lit(nd).cast("double") - col("df") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) * col("dl").cast("double") *
        lit(nd).cast("double") / lit(tl).cast("double"))
    tf.select(col("doc_id"),
        round(lit(1e6) * idf * col("tf").cast("double") * lit(2.2) / denom)
          .cast("long").as("sc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("sc")).as("bm25_micro"), count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === terms.length) // conjunctive AND
      .withColumn("pruned", lit(buckets.length < 16))
      .orderBy(col("bm25_micro").desc, col("doc_id"))
      .limit(20)
  }
  private val invertedSearchSql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |dl AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
      |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tl FROM dl),
      |tf AS (
      |  SELECT doc_id, dl, tok, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM dl)
      |  WHERE tok IN ('spark', 'merge', 'filter')
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
      |SELECT doc_id,
      |  CAST(sum(CAST(round(
      |    CAST(1e6 AS DOUBLE) *
      |    ln((CAST(nd AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) /
      |       (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
      |       + CAST(1.0 AS DOUBLE)) *
      |    CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE) /
      |    (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
      |     (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
      |      CAST(dl AS DOUBLE) * CAST(nd AS DOUBLE) / CAST(tl AS DOUBLE))))
      |    AS BIGINT)) AS BIGINT) AS bm25_micro,
      |  CAST(count(*) AS BIGINT) AS n_terms,
      |  TRUE AS pruned
      |FROM tf JOIN df USING (tok), st
      |GROUP BY doc_id HAVING count(*) = 3
      |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin

  // -------------------------------------- positional index + phrase search

  /** Staged POSITIONAL inverted index: posting rows
    * `(doc_id, tok, pos: array<long>)` — each term's sorted 0-based
    * occurrence positions, one row per (doc, term) — written partitioned
    * by the same 16-way term-hash bucket as [[stageInvIndex]] and
    * committed with the manifest discipline. Positions are what phrase
    * and proximity queries need and tf-only postings cannot give
    * (Lucene's positional postings, public design); the storage price is
    * one long per occurrence.
    */
  private[queries] def stagePosIndex(s: SparkSession, dir: String): String =
    graft.ops.Staging.cached(s"posindex:$dir") { tmp =>
      val path = tmp.resolve("pos").toString
      Registry.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("p", "tok")))
        .groupBy(col("doc_id"), col("tok"))
        .agg(sort_array(collect_list(col("p").cast("long"))).as("pos"))
        .withColumn("centroid", pmod(xxhash64(col("tok")), lit(16)))
        .repartition(col("centroid"))
        .write.partitionBy("centroid").mode("overwrite").parquet(path)
      VectorOps.writeManifest(s, path, 1,
        VectorOps.listIndexFiles(s, path), Map("op" -> "append"))
      path
    }

  /** Phrase search served from the committed positional index —
    * [[graft.ops.TextOps.phraseMatch]] intersects shifted position
    * lists (term i's positions minus i), so a surviving position is an
    * exact phrase start; the corpus text is never read and only the
    * query terms' hash buckets are opened (the same partition-pruning
    * contract as q_inverted_search — at 100 TB a phrase query touches
    * posting lists, not documents). Two probes:
    *
    *  - the 2-term phrase "table hash": per-document exact occurrence
    *    counts, hash-gated row by row against the oracle's positional
    *    self-join over the raw corpus;
    *  - the 3-term phrase "stream table hash" exercises the k-term
    *    chain: its matching-document count rides every row (`n3_docs`),
    *    proving the shift-and-intersect composes beyond bigrams;
    *  - `pruned`: the plan opened fewer buckets than the index holds.
    */
  private val phraseSearchQ: Q = (s, dir) => {
    val path = stagePosIndex(s, dir)
    val terms2 = Seq("table", "hash")
    val terms3 = Seq("stream", "table", "hash")
    val allTerms = (terms2 ++ terms3).distinct
    val buckets = s.createDataFrame(allTerms.map(Tuple1(_))).toDF("tok")
      .select(pmod(xxhash64(col("tok")), lit(16)).as("b"))
      .collect().map(_.getLong(0).toInt).distinct.toSeq
    val post = VectorOps.readIndexVersion(s, path, 1)
      .filter(col("centroid").isin(buckets: _*) &&
        col("tok").isin(allTerms: _*))
    val m2 = TextOps.phraseMatch(post, terms2)
    val n3 = TextOps.phraseMatch(post, terms3)
      .agg(count(lit(1)).as("n3_docs"))
    m2.crossJoin(n3) // n3 is a 1-row frame
      .select(col("doc_id"), col("n_occ"),
        lit(buckets.length < 16).as("pruned"), col("n3_docs"))
      .orderBy(col("doc_id"))
  }
  private val phraseSearchSql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS i,
      |               unnest(toks) AS tok FROM d),
      |m2 AS (
      |  SELECT p1.doc_id, count(*) AS n_occ
      |  FROM pos p1 JOIN pos p2
      |    ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
      |  WHERE p1.tok = 'table' AND p2.tok = 'hash' GROUP BY 1),
      |m3 AS (
      |  SELECT count(DISTINCT p1.doc_id) AS n3
      |  FROM pos p1
      |  JOIN pos p2 ON p1.doc_id = p2.doc_id AND p2.i = p1.i + 1
      |  JOIN pos p3 ON p1.doc_id = p3.doc_id AND p3.i = p1.i + 2
      |  WHERE p1.tok = 'stream' AND p2.tok = 'table' AND p3.tok = 'hash')
      |SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occ, TRUE AS pruned,
      |  CAST(n3 AS BIGINT) AS n3_docs
      |FROM m2, m3 ORDER BY doc_id""".stripMargin

  /** Proximity search ("within w tokens, any order") from the same
    * positional index — [[graft.ops.TextOps.proximityMatch]], the
    * Lucene sloppy-span query family (public design): one posting-sized
    * doc_id equi-join, minimum pairwise distance computed entirely in
    * Catalyst higher-order functions, bucket-pruned read like
    * q_phrase_search. Per-document exact minimum distances hash-gate
    * against the oracle's positional self-join; `pruned` proves the
    * bucket skipping.
    */
  private val proximitySearchQ: Q = (s, dir) => {
    val path = stagePosIndex(s, dir)
    val terms = Seq("spark", "merge")
    val buckets = s.createDataFrame(terms.map(Tuple1(_))).toDF("tok")
      .select(pmod(xxhash64(col("tok")), lit(16)).as("b"))
      .collect().map(_.getLong(0).toInt).distinct.toSeq
    val post = VectorOps.readIndexVersion(s, path, 1)
      .filter(col("centroid").isin(buckets: _*) &&
        col("tok").isin(terms: _*))
    TextOps.proximityMatch(post, terms.head, terms(1), window = 5L)
      .select(col("doc_id"), col("min_dist"),
        lit(buckets.length < 16).as("pruned"))
      .orderBy(col("doc_id"))
  }
  private val proximitySearchSql =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS i,
      |               unnest(toks) AS tok FROM d),
      |p1 AS (SELECT doc_id, i FROM pos WHERE tok = 'spark'),
      |p2 AS (SELECT doc_id, i FROM pos WHERE tok = 'merge'),
      |m AS (SELECT p1.doc_id, min(abs(p1.i - p2.i)) AS min_dist
      |      FROM p1 JOIN p2 USING (doc_id) GROUP BY 1)
      |SELECT doc_id, CAST(min_dist AS BIGINT) AS min_dist, TRUE AS pruned
      |FROM m WHERE min_dist <= 5 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ bigram LM perplexity

  /** Per-document average log-probability under an add-1-smoothed
    * bigram language model — the CCNet-style quality gate one order up
    * from q_quality_logprob's unigram. Model terms are self-consistent:
    * c(w1) is the bigram-START marginal of the one bigram table and V
    * is the corpus unigram vocabulary. Each bigram's log-prob rounds to
    * micro-nats BEFORE the per-doc sum (exact integer totals at any
    * partitioning); docs shorter than 2 tokens have no bigrams and drop
    * on both sides. Shapes: bigrams build map-side (zipped slices);
    * count + marginal are combiner-friendly keyed aggs; the enrich join
    * is vocab-sized; the doc join is the one corpus-sized shuffle.
    */
  private val bigramLmQ: Q = (s, dir) => {
    val t = TextOps.tokens(col("text"))
    val bigrams = when(size(t) >= 2,
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat_ws(" ", a, b))).otherwise(array())
    val base = Registry.spread(Tables.documents(s, dir))
    val docBg = base.select(col("doc_id"), explode(bigrams).as("bg"))
    val bgCounts = docBg.groupBy(col("bg")).agg(count(lit(1)).as("cab"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val ca = bgCounts.groupBy(col("w1")).agg(sum(col("cab")).as("ca"))
    val vocab = base
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val enriched = bgCounts.join(ca, "w1")
    docBg.join(enriched, "bg").crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((col("cab").cast("double") + lit(1.0)) /
          (col("ca").cast("double") + col("v").cast("double"))) * 1e6)
          .cast("long").as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("slp div n_bigrams").as("avg_lp_micro"))
      .orderBy(col("doc_id"))
  }
  private val bigramLmSql =
    """WITH tok AS (
      |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS t
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |        FROM documents)),
      |dbg AS (
      |  SELECT x.doc_id, x.t || ' ' || y.t AS bg, x.t AS w1
      |  FROM tok x JOIN tok y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1),
      |bgc AS (SELECT bg, w1, count(*) AS cab FROM dbg GROUP BY 1, 2),
      |ca AS (SELECT w1, CAST(sum(cab) AS BIGINT) AS ca FROM bgc GROUP BY 1),
      |v AS (SELECT count(DISTINCT t) AS v FROM tok)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(CAST(round(
      |    ln((CAST(cab AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
      |       (CAST(ca AS DOUBLE) + CAST(v AS DOUBLE))) * 1e6)
      |    AS BIGINT)) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_lp_micro
      |FROM dbg JOIN bgc USING (bg) JOIN ca ON bgc.w1 = ca.w1, v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -------------------------------------------- Poisson bootstrap CI

  /** Distributed bootstrap confidence interval for the mean via the
    * Poisson(1) approximation — the only bootstrap that works at
    * 100 TB, since resampling-with-replacement across partitions is
    * impossible but independent per-row Poisson weights are map-side.
    * Fully deterministic AND engine-exact: each (row, replicate)
    * uniform draw is an 8-hex md5 slice compared LEXICOGRAPHICALLY
    * against hardcoded CDF thresholds (floor(cdf·16^8) in hex) — no
    * float parsing, no hex→int conversion, identical in any engine
    * that has md5. Replicate sums are exact Longs in milli-cents; the
    * CI is exact rank selection (2nd / 63rd of 64 sorted replicate
    * means). One pass, ZERO shuffled rows: all 64 weights come from one
    * [[graft.expr.PoissonWeights64]] kernel call per row (8 md5 digests
    * read byte-wise — the composable substring+CASE form spent 4.4 s/row
    * pass on 38M string slices) feeding 128 aggregate expressions
    * (sum w·cents, sum w per replicate) in a single grouping-free hash
    * aggregate alongside n and Σcents; only one 130-field partial-agg
    * row per partition crosses the wire. The ×64 row explosion the first
    * formulation paid (38M rows, 6.2 s at sf0.1) never exists — this
    * form measures 1.6 s. Same draws, same arithmetic — the oracle is
    * untouched, and PropertiesSpec pins kernel == composable form.
    */
  private val bootstrapCiQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    // one md5 per (row, block of 8 replicates): the 32-hex digest is
    // sliced into eight independent 4-hex (16-bit) draws — 8× fewer
    // hashes than digest-per-replicate for the same pass. 2^-16 draw
    // granularity bounds each Poisson class probability within 1.6e-5
    // of exact — far below bootstrap-CI sensitivity at any n, and the
    // distribution is DEFINED by these thresholds, identical in both
    // engines. Thresholds are floor(cdf·16^4) in hex (the first four
    // chars of the 8-hex thresholds — floor truncation commutes).
    val wArr = org.apache.spark.sql.graftshim.GraftShim.column(
      graft.expr.PoissonWeights64(
        org.apache.spark.sql.graftshim.GraftShim.expression(
          concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_partkey")))))
    val withW = li.select(col("cents"), wArr.as("w"))
    val repAggs = (0 to 63).flatMap { rep =>
      val w = element_at(col("w"), rep + 1)
      Seq(sum(w * col("cents")).as(s"ws$rep"), sum(w).as(s"wn$rep"))
    }
    val aggs = repAggs ++ Seq(count(lit(1)).as("n"), sum(col("cents")).as("tot"))
    withW.agg(aggs.head, aggs.tail: _*)
      .withColumn("ms", sort_array(array((0 to 63).map(r =>
        expr(s"(ws$r * 1000) div wn$r")): _*)))
      .select(col("n"), expr("(tot * 1000) div n").as("mean_mc"),
        element_at(col("ms"), 2).as("ci_lo_mc"),
        element_at(col("ms"), 63).as("ci_hi_mc"),
        lit(64L).as("n_reps"))
  }
  private val bootstrapCiSql =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |r AS (
      |  SELECT cents, blk,
      |    md5(concat_ws('|', l_orderkey, l_linenumber, l_partkey, blk)) AS h
      |  FROM li, (SELECT unnest(generate_series(0, 7)) AS blk)),
      |d AS (
      |  SELECT cents, blk * 8 + i AS rep, substr(h, 1 + 4 * i, 4) AS h4
      |  FROM r, (SELECT unnest(generate_series(0, 7)) AS i)),
      |w AS (
      |  SELECT rep, cents,
      |    CASE WHEN h4 < '5e2d' THEN 0
      |         WHEN h4 < 'bc5a' THEN 1
      |         WHEN h4 < 'eb71' THEN 2
      |         WHEN h4 < 'fb23' THEN 3
      |         WHEN h4 < 'ff10' THEN 4
      |         ELSE 5 END AS w
      |  FROM d),
      |m AS (
      |  SELECT rep,
      |    CAST(sum(w * cents) AS BIGINT) * 1000
      |      // CAST(sum(w) AS BIGINT) AS mean_mc
      |  FROM w GROUP BY rep),
      |ms AS (SELECT list_sort(list(mean_mc)) AS l FROM m)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM li) AS n,
      |       (SELECT CAST(sum(cents) AS BIGINT) * 1000
      |               // CAST(count(*) AS BIGINT) FROM li) AS mean_mc,
      |       l[2] AS ci_lo_mc, l[63] AS ci_hi_mc,
      |       CAST(64 AS BIGINT) AS n_reps
      |FROM ms""".stripMargin

  // --------------------------------------------- stream-static join

  /** Stream–static enrichment
    * ([[graft.streaming.EventStream.runStreamStaticJoin]]): the event
    * micro-batch stream broadcast-joins a static tier dimension (no
    * join state — stateless map-side work per batch) and rolls up
    * exact integer weighted cents into 6-hour windows. Oracle is the
    * equivalent batch join + bucketing.
    */
  private val streamStaticQ: Q = (s, dir) => {
    graft.streaming.EventStream
      .runStreamStaticJoin(s, Registry.stagedStreamDir(s, dir))
      .orderBy(col("bucket"), col("tier"))
  }
  private val streamStaticSql =
    """WITH dim(event_type, tier, weight) AS (VALUES
      |  ('click', 'engage', 2), ('view', 'engage', 1),
      |  ('purchase', 'convert', 5), ('signup', 'convert', 3),
      |  ('error', 'ops', 0))
      |SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, tier,
      |       count(*) AS cnt,
      |       CAST(sum(weight * CAST(round(value * 100) AS BIGINT))
      |            AS BIGINT) AS wsum_cents
      |FROM events JOIN dim USING (event_type)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------- join-key skew profile

  /** Join-key distribution profiler — the diagnostic a 100 TB join runs
    * BEFORE choosing salted vs broadcast vs plain shuffle: per-key
    * counts bucketed by floor(log2(count)), plus each bucket's share of
    * total rows in exact ppm. The log2 bucket is `length(bin(c)) - 1` —
    * pure integer/string ops, identical in every engine (float log2
    * returns 2.9999… at powers of two and mis-buckets). One
    * combiner-friendly keyed agg + a bucket rollup of vocab-sized data.
    */
  private val keySkewProfileQ: Q = (s, dir) => {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("total"))
    counts
      .select((length(bin(col("c"))) - 1).cast("long").as("log2_bucket"),
        col("c"))
      .groupBy(col("log2_bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_c"))
      .crossJoin(broadcast(total))
      .select(col("log2_bucket"), col("n_keys"), col("n_rows"),
        col("max_c"),
        expr("(n_rows * 1000000) div total").as("row_share_ppm"))
      .orderBy(col("log2_bucket"))
  }
  private val keySkewProfileSql =
    """WITH c AS (
      |  SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c)
      |SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_bucket,
      |       CAST(count(*) AS BIGINT) AS n_keys,
      |       CAST(sum(c) AS BIGINT) AS n_rows,
      |       CAST(max(c) AS BIGINT) AS max_c,
      |       CAST(sum(c) AS BIGINT) * 1000000 // total AS row_share_ppm
      |FROM c, t GROUP BY 1, total ORDER BY 1""".stripMargin

  // ------------------------------------------- negative-pair mining

  /** Deterministic negative sampling for contrastive training: each doc
    * draws K=4 pseudo-random partners via a modular hash ring
    * (Knuth-multiplicative over doc_id and the replicate index), with a
    * +1 step past self-collisions. "Random access" at 100 TB is an
    * EQUI-JOIN on the derived partner id — the ids compute map-side,
    * the join shuffles once on doc_id, and no row ever does a
    * driver-side lookup. The corpus stats frame (n_docs) broadcasts.
    */
  private val negativePairsQ: Q = (s, dir) => {
    val docs = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("n_chars"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    val raw = (col("doc_id") * lit(2654435761L) + col("rep") * lit(40503L)
      + lit(7L)) % col("nd")
    val cand = docs.crossJoin(broadcast(nd))
      .select(col("doc_id"), col("nd"),
        explode(sequence(lit(0L), lit(3L))).as("rep"))
      .withColumn("neg_id",
        when(raw === col("doc_id"), (raw + 1) % col("nd")).otherwise(raw))
    cand.join(docs.select(col("doc_id").as("neg_id"),
        col("n_chars").as("neg_chars")), "neg_id")
      .select(col("doc_id"), col("rep"), col("neg_id"), col("neg_chars"))
      .orderBy(col("doc_id"), col("rep"))
  }
  private val negativePairsSql =
    """WITH nd AS (SELECT count(*) AS nd FROM documents),
      |cand AS (
      |  SELECT doc_id, rep,
      |    CASE WHEN (doc_id * 2654435761 + rep * 40503 + 7) % nd = doc_id
      |         THEN ((doc_id * 2654435761 + rep * 40503 + 7) % nd + 1) % nd
      |         ELSE (doc_id * 2654435761 + rep * 40503 + 7) % nd
      |    END AS neg_id
      |  FROM documents, nd, (SELECT unnest(generate_series(0, 3)) AS rep))
      |SELECT c.doc_id, CAST(c.rep AS BIGINT) AS rep,
      |       CAST(c.neg_id AS BIGINT) AS neg_id,
      |       d.n_chars AS neg_chars
      |FROM cand c JOIN documents d ON d.doc_id = c.neg_id
      |ORDER BY c.doc_id, c.rep""".stripMargin

  // ------------------------------------------------- BPE merge step

  /** One exact BPE merge iteration — the inner loop of tokenizer
    * training at corpus scale: count adjacent token pairs, pick the
    * most frequent (total-order tie-break), and apply it greedily
    * left-to-right per document. The greedy non-overlap rule for
    * self-adjacent pairs ("a a a" merges positions 0–1, not 1–2) is
    * NOT a sequential fold here: candidate starts chain only when
    * a == b, and within a chain exactly the odd-numbered candidates
    * fire — so "which merges apply" is a run-parity computation over
    * windows (lead/lag/cumsum), embarrassingly parallel per doc and
    * identical in any engine with window functions. Everything that
    * crosses the hash gate is an integer count.
    */
  private val bpeMergeQ: Q = (s, dir) => {
    TextOps.bpeMergeStats(
      Registry.spread(Tables.documents(s, dir))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      "doc_id", "toks")
  }
  private val bpeMergeSql =
    """WITH tok AS (
      |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS t
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |        FROM documents)),
      |bg AS (
      |  SELECT x.t || ' ' || y.t AS bg, count(*) AS pc
      |  FROM tok x JOIN tok y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
      |  GROUP BY 1),
      |top1 AS (
      |  SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
      |         pc
      |  FROM bg ORDER BY pc DESC, bg LIMIT 1),
      |c1 AS (
      |  SELECT doc_id, pos, t, a, b, pc,
      |    coalesce(t = a AND
      |      lead(t) OVER (PARTITION BY doc_id ORDER BY pos) = b, FALSE)
      |      AS c
      |  FROM tok, top1),
      |c2 AS (
      |  SELECT *, (c AND NOT coalesce(
      |      lag(c) OVER (PARTITION BY doc_id ORDER BY pos), FALSE))
      |    AS run_start
      |  FROM c1),
      |c3 AS (
      |  SELECT *, sum(CASE WHEN run_start THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      |  FROM c2),
      |c4 AS (
      |  SELECT *, (c AND sum(CASE WHEN c THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id, run_id ORDER BY pos) % 2 = 1)
      |    AS active
      |  FROM c3),
      |c5 AS (
      |  SELECT *, coalesce(
      |      lag(active) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
      |    AS prev_active
      |  FROM c4)
      |SELECT max(a || ' ' || b) AS pair,
      |       CAST(max(pc) AS BIGINT) AS pair_count,
      |       CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_merges,
      |       CAST(count(*) AS BIGINT) AS tokens_before,
      |       CAST(sum(CASE WHEN active THEN 1
      |                     WHEN NOT prev_active THEN 1
      |                     ELSE 0 END) AS BIGINT) AS tokens_after
      |FROM c5""".stripMargin

  // ------------------------------------------------- BPE training loop

  /** Iterated BPE training — q_bpe_merge's single inner step looped to a
    * fixed K = 4 merge budget ([[TextOps.bpeTrain]]): each round elects
    * the globally most frequent adjacent pair (count desc, pair asc — a
    * total order, so the learned vocabulary is deterministic in any
    * engine), applies it greedily per document under the run-parity
    * non-overlap rule, and trains the next round on the MERGED corpus.
    * The output is the training log itself — one row per round with the
    * learned pair and exact merge/token counts — and the oracle replays
    * ALL FOUR rounds in SQL (the per-round CTE chain is generated from
    * one template; same replayable-iteration contract as q_kcore).
    * Later rounds genuinely depend on earlier merges, so a wrong merge
    * application in ANY round cascades into every later row — the gate
    * checks the loop, not just the step. Per round the corpus crosses
    * the wire once (pair-count aggregate + one windowed doc-key pass);
    * K rounds = K passes, the real cost structure of distributed
    * tokenizer training.
    */
  private val bpeTrainQ: Q = (s, dir) => {
    TextOps.bpeTrain(
      Registry.spread(Tables.documents(s, dir))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks")),
      "doc_id", "toks", rounds = 4)
  }
  /** One BPE round as DuckDB CTEs: reads `t${k-1}` (doc_id, toks LIST),
    * defines `stat$k` (the round's log row) and `t$k` (the merged
    * corpus). The chain mirrors q_bpe_merge's single-round SQL exactly.
    */
  private def bpeRoundSql(k: Int): String = {
    val in = s"t${k - 1}"
    s"""tok$k AS (
       |  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
       |  FROM $in),
       |bg$k AS (
       |  SELECT x.t || ' ' || y.t AS bg, count(*) AS pc
       |  FROM tok$k x JOIN tok$k y ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
       |  GROUP BY 1),
       |top$k AS (
       |  SELECT string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b,
       |         pc
       |  FROM bg$k ORDER BY pc DESC, bg LIMIT 1),
       |c${k}a AS (
       |  SELECT doc_id, pos, t, a, b, pc,
       |    lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
       |    coalesce(t = a AND
       |      lead(t) OVER (PARTITION BY doc_id ORDER BY pos) = b, FALSE)
       |      AS c
       |  FROM tok$k, top$k),
       |c${k}b AS (
       |  SELECT *, (c AND NOT coalesce(
       |      lag(c) OVER (PARTITION BY doc_id ORDER BY pos), FALSE))
       |    AS run_start
       |  FROM c${k}a),
       |c${k}c AS (
       |  SELECT *, sum(CASE WHEN run_start THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
       |  FROM c${k}b),
       |c${k}d AS (
       |  SELECT *, (c AND sum(CASE WHEN c THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id, run_id ORDER BY pos) % 2 = 1)
       |    AS active
       |  FROM c${k}c),
       |c${k}e AS (
       |  SELECT *, coalesce(
       |      lag(active) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
       |    AS prev_active
       |  FROM c${k}d),
       |stat$k AS (
       |  SELECT $k AS round, max(a || ' ' || b) AS pair,
       |         CAST(max(pc) AS BIGINT) AS pair_count,
       |         CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_merges,
       |         CAST(count(*) AS BIGINT) AS tokens_before,
       |         CAST(sum(CASE WHEN active THEN 1
       |                       WHEN NOT prev_active THEN 1
       |                       ELSE 0 END) AS BIGINT) AS tokens_after
       |  FROM c${k}e),
       |t$k AS (
       |  SELECT doc_id,
       |         list(CASE WHEN active THEN t || nxt ELSE t END ORDER BY pos)
       |           AS toks
       |  FROM c${k}e
       |  WHERE active OR NOT prev_active
       |  GROUP BY doc_id)""".stripMargin
  }
  private val bpeTrainSql = {
    val rounds = (1 to 4).map(bpeRoundSql).mkString(",\n")
    val union = (1 to 4).map(k => s"SELECT * FROM stat$k")
      .mkString("\nUNION ALL\n")
    s"""WITH t0 AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |$rounds
       |$union
       |ORDER BY round""".stripMargin
  }

  // ----------------------------------------------- BPE encode (inference)

  /** Tokenizer INFERENCE — the other half of the train/apply split every
    * production tokenizer lives by: [[TextOps.bpeTrain]] learns 4 merges
    * on the TRAINING split (doc_id % 3 ≠ 0), then the frozen vocabulary
    * is applied, in learned order, to the HELD-OUT split (doc_id % 3 =
    * 0) it has never seen. The collected merge list is 4 driver-side
    * rows (vocabulary is metadata, like centroids); encoding is
    * [[TextOps.bpeEncodeLogFast]] — the merge-rank table broadcast and
    * every document encoded in ONE executor-local pass (the corpus
    * crosses the wire once, regardless of vocabulary size; the
    * round-per-pass replay this replaced is O(K) corpus passes — fine
    * as an oracle at K = 4, fatal at a real tokenizer's ~32k merges).
    * The per-round counters come back from the same single pass, so the
    * gate still hashes the full encode log: the learned pair itself
    * (wrong training → wrong vocabulary → wrong bytes) plus exact
    * merge/token counts per round on data the training never saw —
    * value-identical to the round-by-round replay (TextOpsSpec pins the
    * log AND the encoded corpus token-for-token; the oracle replays the
    * rounds in SQL).
    */
  /** The frozen vocabulary q_bpe_encode applies: 4 merges trained once
    * per process on the training split ([[graft.ops.Staging.cached]] —
    * training is FIXTURE PREP for the encode query; its own cost is what
    * q_bpe_train times). 4 driver-side pairs — vocabulary is metadata.
    */
  private[queries] def stageBpeMerges(s: org.apache.spark.sql.SparkSession,
                                      dir: String): Seq[(String, String)] =
    graft.ops.Staging.cached(s"bpemerges:$dir") { _ =>
      val docs = Registry.spread(Tables.documents(s, dir))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      TextOps.bpeTrain(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "toks", rounds = 4)
        .select(col("round"), col("pair")).collect()
        .sortBy(_.getInt(0))
        .map { r => val p = r.getString(1).split(" "); (p(0), p(1)) }.toSeq
    }

  private val bpeEncodeQ: Q = (s, dir) => {
    val docs = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    TextOps.bpeEncodeLogFast(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "toks", stageBpeMerges(s, dir))
  }
  /** One encode round as DuckDB CTEs: reads `e${k-1}` (held-out corpus)
    * and the TRAINING chain's `top$k` (the learned pair — training CTEs
    * run on the train split in the same statement), marks candidates
    * under the same run-parity rule, and defines `estat$k` + `e$k`.
    */
  private def bpeEncRoundSql(k: Int): String = {
    val in = s"e${k - 1}"
    s"""etok$k AS (
       |  SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS t
       |  FROM $in),
       |ec${k}a AS (
       |  SELECT doc_id, pos, t, a, b,
       |    lead(t) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
       |    coalesce(t = a AND
       |      lead(t) OVER (PARTITION BY doc_id ORDER BY pos) = b, FALSE)
       |      AS c
       |  FROM etok$k, top$k),
       |ec${k}b AS (
       |  SELECT *, (c AND NOT coalesce(
       |      lag(c) OVER (PARTITION BY doc_id ORDER BY pos), FALSE))
       |    AS run_start
       |  FROM ec${k}a),
       |ec${k}c AS (
       |  SELECT *, sum(CASE WHEN run_start THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
       |  FROM ec${k}b),
       |ec${k}d AS (
       |  SELECT *, (c AND sum(CASE WHEN c THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id, run_id ORDER BY pos) % 2 = 1)
       |    AS active
       |  FROM ec${k}c),
       |ec${k}e AS (
       |  SELECT *, coalesce(
       |      lag(active) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
       |    AS prev_active
       |  FROM ec${k}d),
       |estat$k AS (
       |  SELECT $k AS round, max(a || ' ' || b) AS pair,
       |         CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_merges,
       |         CAST(count(*) AS BIGINT) AS tokens_before,
       |         CAST(sum(CASE WHEN active THEN 1
       |                       WHEN NOT prev_active THEN 1
       |                       ELSE 0 END) AS BIGINT) AS tokens_after
       |  FROM ec${k}e),
       |e$k AS (
       |  SELECT doc_id,
       |         list(CASE WHEN active THEN t || nxt ELSE t END ORDER BY pos)
       |           AS toks
       |  FROM ec${k}e
       |  WHERE active OR NOT prev_active
       |  GROUP BY doc_id)""".stripMargin
  }
  private val bpeEncodeSql = {
    val trainRounds = (1 to 4).map(bpeRoundSql).mkString(",\n")
    val encRounds = (1 to 4).map(bpeEncRoundSql).mkString(",\n")
    val union = (1 to 4).map(k => s"SELECT * FROM estat$k")
      .mkString("\nUNION ALL\n")
    s"""WITH t0 AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents WHERE doc_id % 3 <> 0),
       |e0 AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents WHERE doc_id % 3 = 0),
       |$trainRounds,
       |$encRounds
       |$union
       |ORDER BY round""".stripMargin
  }

  // --------------------------------------------- compaction planner

  /** Small-file compaction planner — the layout pass a 100 TB table
    * needs continuously: given a file manifest (simulated
    * deterministically from lineitem: one "file" per orderkey bucket
    * under returnflag/linestatus partition dirs), assign files to
    * target-size output bins by SEQUENTIAL coalesce (running cumsum div
    * target), which preserves file order — the property real
    * compaction needs so clustering survives. Planning is pure window
    * arithmetic per partition dir: one exchange on the dir key, never
    * a global sort; bin totals are exact integer byte sums.
    */
  private val compactionPlanQ: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val target = 40000000L // target output size per bin (proxy bytes)
    val files = Tables.lineitem(s, dir)
      .groupBy(concat_ws("/", col("l_returnflag"), col("l_linestatus"))
          .as("part_dir"),
        expr("l_orderkey div 100").as("file_id"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
        .as("bytes"))
    val before = Window.partitionBy(col("part_dir")).orderBy(col("file_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before",
        coalesce(sum(col("bytes")).over(before), lit(0L)))
      .withColumn("bin", expr(s"cum_before div ${target}L"))
      .groupBy(col("part_dir"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"))
      .orderBy(col("part_dir"), col("bin"))
  }
  private val compactionPlanSql =
    """WITH f AS (
      |  SELECT l_returnflag || '/' || l_linestatus AS part_dir,
      |         l_orderkey // 100 AS file_id,
      |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |              AS BIGINT) AS bytes
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT *, coalesce(sum(bytes) OVER (
      |      PARTITION BY part_dir ORDER BY file_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS cum_before
      |  FROM f)
      |SELECT part_dir, CAST(cum_before // 40000000 AS BIGINT) AS bin,
      |       CAST(count(*) AS BIGINT) AS n_files,
      |       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
      |       CAST(min(file_id) AS BIGINT) AS first_file,
      |       CAST(max(file_id) AS BIGINT) AS last_file
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------- linear interpolation

  /** Gap-filling by exact linear interpolation — the forward-fill
    * sibling for numeric telemetry: deterministically masked values
    * (event_id % 5 < 2) are rebuilt from the nearest surviving
    * neighbors in integer micro-time × cent space, so the lerp is
    * exact Long arithmetic (both engines truncate integer division
    * toward zero — verified, not assumed). Edge rows with no neighbor
    * on one side stay null and are labeled. All windows share ONE
    * (user_id) partitioning; the (ts, event_id) ordering is total, so
    * results are identical at any parallelism.
    */
  private val interpolateQ: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t"),
        when(col("event_id") % 5 < 2, lit(null))
          .otherwise(round(col("value") * 100).cast("long")).as("v"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val prevF = ord.rowsBetween(Window.unboundedPreceding, -1)
    val nextF = ord.rowsBetween(1, Window.unboundedFollowing)
    val withN = ev
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(prevF))
      .withColumn("pt", last(when(col("v").isNotNull, col("t")),
        ignoreNulls = true).over(prevF))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(nextF))
      .withColumn("nt", first(when(col("v").isNotNull, col("t")),
        ignoreNulls = true).over(nextF))
    withN.select(col("event_id"), col("user_id"),
      when(col("v").isNotNull, lit("kept"))
        .when(col("pv").isNotNull && col("nv").isNotNull, lit("interp"))
        .otherwise(lit("edge")).as("status"),
      when(col("v").isNotNull, col("v"))
        .when(col("pv").isNotNull && col("nv").isNotNull,
          col("pv") + expr("((nv - pv) * (t - pt)) div (nt - pt)"))
        .otherwise(lit(null)).as("v_cents"))
      .orderBy(col("event_id"))
  }
  private val interpolateSql =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t,
      |    CASE WHEN event_id % 5 < 2 THEN NULL
      |         ELSE CAST(round(value * 100) AS BIGINT) END AS v
      |  FROM events),
      |n AS (
      |  SELECT *,
      |    last_value(v IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
      |    first_value(v IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
      |  FROM ev)
      |SELECT event_id, user_id,
      |  CASE WHEN v IS NOT NULL THEN 'kept'
      |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
      |       ELSE 'edge' END AS status,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN pv IS NOT NULL AND nv IS NOT NULL
      |         THEN pv + ((nv - pv) * (t - pt)) // (nt - pt)
      |       ELSE NULL END AS v_cents
      |FROM n ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_triangle_count", triangleCountQ, Some(triangleCountSql)),
    ("q_mad_outliers", madOutliersQ, Some(madOutliersSql)),
    ("q_kmeans_step", kmeansStepQ, Some(kmeansStepSql)),
    ("q_countmin", countMinQ, Some(countMinSql)),
    ("q_pmi_bigrams", pmiBigramsQ, Some(pmiBigramsSql)),
    ("q_token_entropy", tokenEntropyQ, Some(tokenEntropySql)),
    ("q_winsorize", winsorizeQ, Some(winsorizeSql)),
    ("q_funnel", funnelQ, Some(funnelSql)),
    ("q_cohort_retention", cohortRetentionQ, Some(cohortRetentionSql)),
    ("q_time_decay", timeDecayQ, Some(timeDecaySql)),
    ("q_bm25", bm25Q, Some(bm25Sql)),
    ("q_inverted_search", invertedSearchQ, Some(invertedSearchSql)),
    ("q_bm25_or", bm25OrQ, Some(bm25OrSql)),
    ("q_phrase_search", phraseSearchQ, Some(phraseSearchSql)),
    ("q_proximity_search", proximitySearchQ, Some(proximitySearchSql)),
    ("q_bigram_lm", bigramLmQ, Some(bigramLmSql)),
    ("q_bootstrap_ci", bootstrapCiQ, Some(bootstrapCiSql)),
    ("q_stream_static", streamStaticQ, Some(streamStaticSql)),
    ("q_key_skew_profile", keySkewProfileQ, Some(keySkewProfileSql)),
    ("q_negative_pairs", negativePairsQ, Some(negativePairsSql)),
    ("q_bpe_merge", bpeMergeQ, Some(bpeMergeSql)),
    ("q_bpe_train", bpeTrainQ, Some(bpeTrainSql)),
    ("q_bpe_encode", bpeEncodeQ, Some(bpeEncodeSql)),
    ("q_compaction_plan", compactionPlanQ, Some(compactionPlanSql)),
    ("q_interpolate", interpolateQ, Some(interpolateSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
