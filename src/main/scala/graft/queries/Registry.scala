package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.ops._

/** Named query registry — the driver contract surface.
  *
  * Every entry is a (SparkSession, sfDir) => DataFrame paired (where SQL
  * can express it) with ANSI SQL for the DuckDB oracle. Conventions that
  * keep the hash-compare honest:
  *   - column names aliased identically on both sides;
  *   - deterministic ORDER BY (total order) on both sides;
  *   - money aggregates summed as DECIMAL (exact, order-insensitive),
  *     cast to DOUBLE at output — double sums would diverge between
  *     Spark's unordered partial aggregation and DuckDB at the rounding
  *     boundary;
  *   - quantities/counts are integral doubles → exact in any order.
  */
object Registry {

  type Q = (SparkSession, String) => DataFrame

  /** Exact decimal revenue term: extendedprice * (1 - discount). */
  private def revenue: Column =
    (col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2))))
  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** Exact decimal sum → double. The input must ALREADY be decimal —
    * re-casting a wider-scale decimal here would round per-row and bias
    * the sum (caught by the oracle on first run).
    */
  private def decSum(c: Column): Column = sum(c).cast("double")

  // ---------------------------------------------------------------- dedup

  /** D1 (SURVEY §2.4): latest-per-key dedup + join + agg — slice 0. */
  private val dedupLatest: Q = (s, dir) => {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // the full lexicographic chain makes the kept row deterministic.
    // max_by-aggregate form: hash agg with map-side combine instead of
    // the window form's shuffle+sort (2.5× faster at sf0.1, same rows).
    // project BEFORE the agg: max_by carries its payload struct through
    // the shuffle, and Catalyst does not prune struct fields out of an
    // aggregate buffer — 7 needed columns, not all 16
    val li = Dedup.latestPerKeyAgg(
      Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber",
        "l_extendedprice", "l_partkey", "l_suppkey", "l_quantity",
        "l_discount"),
      Seq("l_orderkey"),
      Seq(col("l_linenumber"), col("l_extendedprice"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_discount")))
    li.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"))
      .orderBy(col("o_orderpriority"))
  }

  private val dedupLatestSql =
    """WITH latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber DESC, l_extendedprice DESC, l_partkey DESC,
      |               l_suppkey DESC, l_quantity DESC, l_discount DESC) AS rn
      |    FROM lineitem) WHERE rn = 1)
      |SELECT o_orderpriority,
      |       count(*) AS cnt,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |       round(avg(l_quantity), 4) AS avg_qty
      |FROM latest JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- joins

  /** J1/J2 (SURVEY §2.3): left-semi membership filter. */
  private val semiJoin: Q = (s, dir) => {
    val big = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }
  private val semiJoinSql =
    """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-anti complement of J1. */
  private val antiJoin: Q = (s, dir) => {
    val returned = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
    Tables.orders(s, dir)
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }
  private val antiJoinSql =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
      |ORDER BY o_orderkey""".stripMargin

  /** J3/J4: 3-way inner equi-join chain + exact decimal revenue rollup. */
  private val join3Way: Q = (s, dir) => {
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), decSum(revenue).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }
  private val join3WaySql =
    s"""SELECT c_mktsegment, count(*) AS cnt,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** J5-shaped: fact ⋈ broadcast dim chain (supplier → nation → region).
    * nation and region are fixed-size and hard-hinted; supplier scales
    * with the corpus, so Spark's size-based selection picks its join. */
  private val broadcastDim: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("cnt"), decSum(revenue).as("revenue"))
      .orderBy(col("r_name"))
  }
  private val broadcastDimSql =
    s"""SELECT r_name, count(*) AS cnt,
       |       CAST(SUM($revenueSql) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ----------------------------------------------------------------- aggs

  /** A1: group-average collapse (quantities are integral → exact). */
  private val groupAvg: Q = (s, dir) => {
    PivotAgg.groupAvg(Tables.lineitem(s, dir), Seq("l_orderkey"),
        "l_quantity", "avg_qty")
      .select(col("l_orderkey"), round(col("avg_qty"), 4).as("avg_qty"))
      .orderBy(col("l_orderkey"))
  }
  private val groupAvgSql =
    """SELECT l_orderkey, round(avg(l_quantity), 4) AS avg_qty
      |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** A2: long → wide pivot with explicit values (events by event_type). */
  private val pivotWide: Q = (s, dir) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    // exact decimal sums as cell values: rounding an inexact double
    // quotient diverges between engines at .005 boundaries (DuckDB
    // pre-rounds the decimal repr, Spark rounds the binary value)
    val p = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double"))
    p.orderBy(col("user_id"))
  }
  private val pivotWideSql =
    Seq("click", "error", "purchase", "signup", "view").map { t =>
      s"""CAST(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "$t""""
    }.mkString("SELECT user_id,\n", ",\n", "\nFROM events GROUP BY user_id ORDER BY user_id")

  /** Rollup with pinned null ordering. */
  private val rollupAgg: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }
  private val rollupAggSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Top-k by value with total-order tie-break → TakeOrderedAndProject. */
  private val topkOrderLimit: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"), col("l_quantity"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_partkey").asc, col("l_suppkey").asc,
        col("l_quantity").asc)
      .limit(20)
  }
  private val topkOrderLimitSql =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |       l_extendedprice, l_quantity
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey,
      |         l_suppkey, l_quantity
      |LIMIT 20""".stripMargin

  // -------------------------------------------------------------- windows

  /** Ranking window: top-3 priced lines within each order (rank ties keep
    * the row set deterministic even where row order isn't).
    */
  private val windowRank: Q = (s, dir) => {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_extendedprice").desc)
    Tables.lineitem(s, dir)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"), col("rnk"))
      .orderBy(col("l_orderkey"), col("rnk"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
  }
  private val windowRankSql =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice, rnk
      |FROM (SELECT *, rank() OVER (PARTITION BY l_orderkey
      |        ORDER BY l_extendedprice DESC) AS rnk FROM lineitem)
      |WHERE rnk <= 3
      |ORDER BY l_orderkey, rnk, l_linenumber, l_partkey, l_suppkey, l_extendedprice""".stripMargin

  /** Analytic window: lag by event sequence (event_id is the total order —
    * ts has sub-microsecond precision DuckDB keeps but Spark truncates).
    */
  private val windowLag: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("value"), col("prev_value"),
        round(col("value") - col("prev_value"), 2).as("delta"))
      .orderBy(col("event_id"))
  }
  private val windowLagSql =
    """SELECT event_id, user_id, value,
      |       lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
      |       round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id), 2) AS delta
      |FROM events ORDER BY event_id""".stripMargin

  /** Frame-spec window: running sum, rows unbounded-preceding → current.
    * Sequential fold in order → bit-identical on both engines.
    */
  private val windowFrame: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("running_sum", round(sum(col("value")).over(w), 2))
      .select(col("event_id"), col("user_id"), col("value"), col("running_sum"))
      .orderBy(col("event_id"))
  }
  private val windowFrameSql =
    """SELECT event_id, user_id, value,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_sum
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------- scalars

  /** E1/E3-family string cleanup (trim/upper/concat/substr/length). */
  private val stringClean: Q = (s, dir) => {
    Tables.customer(s, dir).select(
      col("c_custkey"),
      upper(trim(col("c_name"))).as("name_norm"),
      concat(upper(col("c_mktsegment")), lit("-"),
        col("c_nationkey").cast("string")).as("seg_key"),
      substring(col("c_name"), 1, 8).as("name_prefix"),
      length(col("c_name")).as("name_len"))
      .orderBy(col("c_custkey"))
  }
  private val stringCleanSql =
    """SELECT c_custkey, upper(trim(c_name)) AS name_norm,
      |       upper(c_mktsegment) || '-' || CAST(c_nationkey AS VARCHAR) AS seg_key,
      |       substring(c_name, 1, 8) AS name_prefix,
      |       length(c_name) AS name_len
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** E2-family: JSON extraction + null-on-junk cast coercion. */
  private val jsonExtract: Q = (s, dir) => {
    Tables.events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").try_cast("double").as("k_val"),
      col("event_type").try_cast("double").as("bad_cast"))
      .orderBy(col("event_id"))
  }
  private val jsonExtractSql =
    """SELECT event_id,
      |       TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_val,
      |       TRY_CAST(event_type AS DOUBLE) AS bad_cast
      |FROM events ORDER BY event_id""".stripMargin

  /** P6/E4: NOT-contains filter with pandas na=False null semantics. */
  private val notContainsFilter: Q = (s, dir) => {
    Cleaning.filterNotContains(Tables.part(s, dir), "p_type", "BRASS")
      .select(col("p_partkey"), col("p_type"), col("p_brand"))
      .orderBy(col("p_partkey"))
  }
  private val notContainsFilterSql =
    """SELECT p_partkey, p_type, p_brand FROM part
      |WHERE NOT coalesce(contains(p_type, 'BRASS'), false)
      |ORDER BY p_partkey""".stripMargin

  /** A5/P8: threshold null-out via the schema-driven caps fold (full-name
    * cap lookup, like the reference's energy entries).
    */
  private val thresholdNullout: Q = (s, dir) => {
    val renamed = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_retailprice").as("RETAIL (KCAL)"))
    Thresholds(renamed, Seq("p_partkey"),
        Thresholds.defaultCaps + ("RETAIL (KCAL)" -> 900.0))
      .orderBy(col("p_partkey"))
  }
  private val thresholdNulloutSql =
    """SELECT p_partkey,
      |       CASE WHEN p_retailprice <= 900 THEN round(p_retailprice, 2) END AS "RETAIL (KCAL)"
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Date bucketing: day truncation (output as DATE on both sides). */
  private val dateTrunc: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("day"))
  }
  private val dateTruncSql =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS cnt,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Date arithmetic: shipping delay in days (ints → exact avg). */
  private val dateDiff: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(round(avg(datediff(col("l_shipdate"), col("o_orderdate"))), 4).as("avg_delay_days"),
        count(lit(1)).as("cnt"))
      .orderBy(col("o_orderpriority"))
  }
  private val dateDiffSql =
    """SELECT o_orderpriority,
      |       round(avg(date_diff('day', o_orderdate, l_shipdate)), 4) AS avg_delay_days,
      |       count(*) AS cnt
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Array higher-order ops: dim, first element, L2 norm (sequential
    * double fold → bit-identical with DuckDB's list fold).
    */
  private val arrayNorm: Q = (s, dir) => {
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      round(element_at(col("embedding"), 1).cast("double"), 4).as("first_elem"),
      round(VectorOps.l2Norm(col("embedding")), 4).as("l2_norm"))
      .orderBy(col("vec_id"))
  }
  private val arrayNormSql =
    """SELECT vec_id, len(embedding) AS dim,
      |       round(CAST(embedding[1] AS DOUBLE), 4) AS first_elem,
      |       round(sqrt(list_sum(list_transform(embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ------------------------------------------- vector / similarity search

  /** DuckDB mirror of VectorOps.dot: double-cast elementwise product. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"
  private def normSql(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
  private[queries] def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"

  /** Small single-file tables (documents) arrive as ONE parquet split —
    * heavy per-row expression work would run single-threaded without an
    * explicit spread across cores.
    */
  private[queries] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  private[queries] def queryVec(s: SparkSession, dir: String): Seq[Float] =
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)

  /** V2 (SURVEY §2.7): exact brute-force cosine top-k. The query vector is
    * a 1-row driver-side collect (the reference embeds the user query
    * externally; here it comes from the fixture).
    */
  private val cosineTopk: Q = (s, dir) => {
    VectorOps.cosineTopK(
      Tables.corpus(s, dir),
      "vec_id", "embedding", queryVec(s, dir), 10)
  }
  private val cosineTopkSql =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, round(${cosineSql("embedding", "qe")}, 4) AS score
       |FROM embeddings, q WHERE vec_id <> 0
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  /** V2+V3: retrieval — top-k matches joined back to their metadata
    * (documents on doc_id = vec_id), the assistant's query path shape.
    */
  private val vectorRetrieve: Q = (s, dir) => {
    val topk = VectorOps.cosineTopK(
      Tables.corpus(s, dir),
      "vec_id", "embedding", queryVec(s, dir), 10)
    topk.join(Tables.documents(s, dir), col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("score"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("score").desc, col("vec_id"))
  }
  private val vectorRetrieveSql =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |topk AS (
       |  SELECT vec_id, round(${cosineSql("embedding", "qe")}, 4) AS score
       |  FROM embeddings, q WHERE vec_id <> 0
       |  ORDER BY score DESC, vec_id LIMIT 10)
       |SELECT vec_id, score, lang, source, n_chars
       |FROM topk JOIN documents ON vec_id = doc_id
       |ORDER BY score DESC, vec_id""".stripMargin

  /** Embedding near-dup: label-blocked exact cosine pairs (the blocked
    * self-equi-join shape that replaces O(n²) at scale).
    */
  private val nearDupEmbedding: Q = (s, dir) => {
    VectorOps.nearDupCosine(Tables.embeddings(s, dir), "vec_id", "embedding",
        "label", 0.35)
      .orderBy(col("block"), col("id_a"), col("id_b"))
  }
  private val nearDupEmbeddingSql =
    s"""SELECT a.label AS block, a.vec_id AS id_a, b.vec_id AS id_b,
       |       round(${cosineSql("a.embedding", "b.embedding")}, 4) AS score
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.35
       |ORDER BY block, id_a, id_b""".stripMargin

  /** SemDeDup-style semantic dedup ([[VectorOps.semanticDedup]]):
    * hyperplane-bucketed exact-cosine twin removal. Fully value-oracled
    * — the oracle SQL embeds the SAME seeded plane doubles as literals
    * (Double.toString round-trips exactly), rebuilds each signature
    * bit with the same left-to-right double fold, and replays the
    * bucket self-join + min-id survivor rule.
    */
  private val semanticDedupQ: Q = (s, dir) => {
    VectorOps.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, nBits = 4, threshold = 0.35)
      .orderBy(col("dup_id"))
  }
  private val semanticDedupSql = {
    val bucket = VectorOps.lshPlanes(64, 4).zipWithIndex.map { case (p, i) =>
      val planeLit = p.mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql("embedding", planeLit)} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH sig AS (
       |  SELECT vec_id, embedding,
       |    $bucket AS bucket
       |  FROM embeddings),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         round(${cosineSql("a.embedding", "b.embedding")}, 4) AS score
       |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4) >= 0.35)
       |SELECT id_b AS dup_id, min(id_a) AS kept_id, count(*) AS n_twins,
       |       arg_min(score, id_a) AS score_kept
       |FROM pairs GROUP BY id_b ORDER BY dup_id""".stripMargin
  }

  /** ANN top-k via random-hyperplane LSH + exact rerank — approximate by
    * design, but DRIVER-CHECKABLE: the query computes recall@10 against
    * the exact top-k in the same plan and emits a threshold boolean the
    * oracle states as a constant, so an LSH regression (recall < 0.8)
    * flips the row and fails the hash gate. The exact ids are not
    * compared directly — that would pin recall to exactly 1 and turn an
    * approximate-by-design op into a fixture-fragile one. 16 tables × 8
    * bits: the fixture's embeddings are isotropic (ANN's worst case —
    * true neighbors barely closer than noise), where recall ≈ candidate
    * fraction; 16 tables reaches 0.8 while still skipping the majority
    * of the corpus.
    */
  private val annTopk: Q = (s, dir) => {
    val base = Tables.corpus(s, dir)
    val qv = queryVec(s, dir)
    val ann = VectorOps.annTopK(base, "vec_id", "embedding", qv,
      k = 10, dim = 64, nBits = 8, tables = 16)
    VectorOps.cosineTopK(base, "vec_id", "embedding", qv, 10)
      .join(ann.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(10).as("k"), (col("n_hit") >= 8).as("recall_ge_08"))
  }
  private val annTopkSql = "SELECT 10 AS k, TRUE AS recall_ge_08"

  /** ANN top-k via IVF (k-means partitions + nProbe) — engine-local.
    * The index is STAGED to disk `partitionBy(centroid)` once per
    * process, so the probe below is a partition-pruned scan of nProbe
    * directories (PartitionFilters — asserted in PlanSpec), the same
    * layout a 100 TB corpus needs.
    */
  private[queries] def stageIvf(s: SparkSession, dir: String): (String, Array[Array[Double]]) =
    Staging.cached(s"ivf:$dir") { tmp =>
      // the deterministic quantizer (Fixtures.quantizer, trained by
      // ivfIndexDeterministic), NOT Spark ML KMeans: k-means|| init samples
      // depend on partitioning, so ML-trained cells differ per session
      // shape — which flipped downstream recall booleans (r10: sf0.001
      // recall_ge_06 measured under one environment, failed under
      // another). The deterministic Lloyd builder pins the centroids at
      // any parallelism; every recall/pruning threshold downstream is now
      // a constant of the fixture, not of the box.
      Fixtures.baseIndex(s, dir, tmp, "index", lit(true))
    }
  // 7-of-8 probes: isotropic fixture vectors spread true neighbors nearly
  // uniformly over cells (recall ≈ probed fraction; ≥ 0.8 needs ≥ 7
  // probes under the deterministic centroids — 6 probes measured 7/10 at
  // sf0.1, the same budget knee q_ann_ivfpq documents). At corpus scale
  // nCentroids grows to thousands and the probed FRACTION shrinks
  // accordingly; the pruning SHAPE (PartitionFilters over centroid dirs)
  // is what carries.
  // Emits the same recall-threshold summary as q_ann_topk (and for the
  // same reason): the probe itself stays partition-pruned — PlanSpec
  // asserts PartitionFilters on the centroid directories under the agg.
  private val annIvf: Q = (s, dir) => {
    val (path, centroids) = stageIvf(s, dir)
    val qv = queryVec(s, dir)
    val ivf = VectorOps.ivfTopKFromPath(s, path, centroids, "vec_id",
      "embedding", qv, k = 10, nProbe = 7)
    VectorOps.cosineTopK(Tables.corpus(s, dir),
        "vec_id", "embedding", qv, 10)
      .join(ivf.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(10).as("k"), (col("n_hit") >= 8).as("recall_ge_08"))
  }
  private val annIvfSql = "SELECT 10 AS k, TRUE AS recall_ge_08"

  /** §3.2 index build: corpus ⋈ embeddings with sparse metadata payload.
    * Oracle shapes the metadata as JSON (documents has no nulls, so
    * ignoreNullFields ≡ plain struct serialization).
    */
  private val indexBuild: Q = (s, dir) => {
    graft.pipeline.IndexBuild.build(
        Tables.documents(s, dir), Tables.embeddings(s, dir))
      .select(col("id"), to_json(col("metadata")).as("metadata"),
        size(col("embedding")).as("dim"))
      .orderBy(col("id"))
  }
  private val indexBuildSql =
    """SELECT doc_id AS id,
      |       to_json(struct_pack(lang := lang, source := source,
      |                           n_chars := CAST(n_chars AS VARCHAR))) AS metadata,
      |       len(embedding) AS dim
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |ORDER BY id""".stripMargin

  // ------------------------------------------------- text analysis / dedup

  /** Token counting: whitespace + BPE-ish subword proxy. */
  private val tokenCount: Q = (s, dir) => {
    spread(Tables.documents(s, dir)).select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.bpeishTokenCount(col("text")).as("n_bpeish"))
      .orderBy(col("doc_id"))
  }
  private val tokenCountSql =
    """SELECT doc_id,
      |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Heuristic language ID (stopword-profile argmax). */
  private val langIdQ: Q = (s, dir) => {
    spread(Tables.documents(s, dir)).select(
      col("doc_id"), col("lang").as("claimed"),
      TextOps.langId(col("text")).as("detected"))
      .orderBy(col("doc_id"))
  }
  private val langIdSql = {
    def hits(lang: String): String = {
      val words = TextOps.stopwords(lang).map(w => s"'$w'").mkString(", ")
      s"len(list_intersect(toks, [$words]))"
    }
    s"""WITH t AS (SELECT doc_id, lang,
       |  list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks
       |  FROM documents),
       |sc AS (SELECT doc_id, lang, ${hits("de")} AS s_de, ${hits("en")} AS s_en,
       |  ${hits("es")} AS s_es, ${hits("fr")} AS s_fr FROM t)
       |SELECT doc_id, lang AS claimed,
       |  CASE WHEN s_fr > 0 AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |       WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de THEN 'es'
       |       WHEN s_en > 0 AND s_en >= s_de THEN 'en'
       |       WHEN s_de > 0 THEN 'de'
       |       ELSE 'und' END AS detected
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Integer-exact document quality points (a ratio-based score's
    * rounding diverges between engines, so the registry query scores in
    * pure integer space).
    */
  private val qualityScoreQ: Q = (s, dir) => {
    spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.qualityPoints(col("text")).as("q_points"))
      .orderBy(col("doc_id"))
  }
  private val qualityScoreSql = {
    val stopList = TextOps.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text, length(text) AS n_chars,
       |  len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       |  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
       |  len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
       |      [$stopList])) AS stop_hits
       |  FROM documents)
       |SELECT doc_id, n_tok AS n_tokens,
       |  ${TextOps.qualityPointsSql("n_chars", "n_tok", "punct", "stop_hits")} AS q_points
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** Content fingerprinting (md5 — engine-portable) + dupe-group counts. */
  private val fingerprintQ: Q = (s, dir) => {
    Tables.documents(s, dir)
      .groupBy(TextOps.fingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("first_doc"))
      .orderBy(col("fp"))
  }
  private val fingerprintSql =
    """SELECT md5(text) AS fp, count(*) AS cnt, min(doc_id) AS first_doc
      |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin

  /** Exact dedup accounting: distinct-text counts per language. */
  private val exactDedup: Q = (s, dir) => {
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_unique"))
      .orderBy(col("lang"))
  }
  private val exactDedupSql =
    """SELECT lang, count(*) AS n_docs, count(DISTINCT text) AS n_unique
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** n-gram (word) Jaccard similarity over adjacent doc pairs — the
    * verify step of near-dup detection, expressed as a keyed equi-join.
    */
  private val ngramJaccard: Q = (s, dir) => {
    val docs = spread(Tables.documents(s, dir))
      .select(col("doc_id"), array_distinct(TextOps.tokens(col("text"))).as("toks"))
    val a = docs.select(col("doc_id").as("id_a"), col("toks").as("ta"))
    val b = docs.select(col("doc_id").as("id_b"), col("toks").as("tb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        round(TextOps.jaccard(col("ta"), col("tb")), 4).as("jaccard"))
      .orderBy(col("id_a"))
  }
  private val ngramJaccardSql =
    """WITH t AS (SELECT doc_id,
      |  list_distinct(string_split_regex(trim(text), '\s+')) AS toks
      |  FROM documents)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
      |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      |ORDER BY id_a""".stripMargin

  /** MinHash+LSH near-dup pairs, exact-verified: LSH proposes candidates,
    * exact shingle-Jaccard ≥ threshold filters them — so the OUTPUT is
    * deterministic and oracle-able as all-pairs exact Jaccard, PROVIDED
    * the banding misses no true pair. 16 bands × 2 rows puts the per-pair
    * miss probability at (1−J²)¹⁶ ≤ 2e−6 for J ≥ 0.75, and the corpus'
    * pair-similarity distribution is bimodal (nothing in [0.3, 0.75)), so
    * recall is exactly 1 here — confirmed empirically at sf0.001/0.01/0.1
    * (LSH ≡ brute force, 28/25/256 pairs); TextVectorSpec re-asserts on
    * the fixture. The oracle pays O(n²) list-intersects — fine at verify
    * scale, and precisely the cost the LSH side avoids.
    */
  private val minhashLsh: Q = (s, dir) => {
    TextOps.minHashNearDups(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 3, k = 32, bands = 16, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }
  private val minhashLshSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+2], ' ')
      |               for i in range(1, len(toks) - 1)]
      |    END) AS sh FROM tok)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
      |FROM s a JOIN s b ON b.doc_id > a.doc_id
      |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash-64 fingerprints — md5-token-hash variant
    * ([[TextOps.simHashMd5Hex]]), so every bit of every fingerprint is
    * cross-engine: the oracle rebuilds each of the 64 bit votes from
    * `md5(token)` hex nibbles and reassembles the identical hex string.
    * The xxhash64 fast path ([[TextOps.simHash]]) stays parity- and
    * codegen-locked in GraftExtensionsSpec/PlanSpec.
    */
  private val simhashQ: Q = (s, dir) => {
    spread(Tables.documents(s, dir))
      .select(col("doc_id"), TextOps.simHashMd5Hex(col("text")).as("simhash"))
      .orderBy(col("doc_id"))
  }
  private val simhashSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents),
      |bit AS (SELECT unnest(range(64)) AS b),
      |votes AS (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN ((strpos('0123456789abcdef',
      |            substr(md5(t), CAST(16 - b // 4 AS INT), 1)) - 1)
      |          >> (b % 4)) & 1 = 1
      |        THEN 1 ELSE -1 END) AS s
      |  FROM tok CROSS JOIN bit
      |  GROUP BY doc_id, b),
      |nib AS (
      |  SELECT doc_id, 15 - (b // 4) AS p,
      |    sum(CASE WHEN s > 0 THEN 1 << CAST(b % 4 AS INT) ELSE 0 END) AS v
      |  FROM votes GROUP BY doc_id, 15 - (b // 4))
      |SELECT doc_id,
      |  string_agg(substr('0123456789abcdef', CAST(v AS INT) + 1, 1),
      |             '' ORDER BY p) AS simhash
      |FROM nib GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Unigram log-prob quality scoring ([[TextOps.unigramLogProbScore]]):
    * CCNet-style perplexity proxy in fixed-point micro-nats, so every
    * sum is exact integer arithmetic and the oracle reproduces it
    * bit-for-bit (per-token ln rounds once to 1e-6, then all math is
    * BIGINT).
    */
  private val qualityLogprob: Q = (s, dir) => {
    TextOps.unigramLogProbScore(spread(Tables.documents(s, dir)),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }
  private val qualityLogprobSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |n AS (SELECT count(*) AS n_total FROM tok),
      |vocab AS (SELECT tok, count(*) AS tok_count FROM tok GROUP BY tok)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(CAST(round(ln(CAST(tok_count AS DOUBLE) / n_total) * 1e6, 0)
      |               AS BIGINT)) AS BIGINT) // count(*) AS avg_logprob_micro
      |FROM tok JOIN vocab USING (tok), n
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Vocabulary heavy hitters via the Misra–Gries sketch
    * ([[graft.expr.FreqItemsAgg]]): capacity-bounded one-pass frequent
    * tokens next to the exact top-10 (computed in-query). The emitted
    * booleans check the sketch against MG's PROVABLE bound
    * (true − N/(m+1) ≤ est ≤ true), so they are TRUE by theorem — the
    * oracle states them as constants and recomputes the exact counts;
    * a sketch implementation bug (overcount, broken merge) flips a row
    * and fails the hash gate.
    */
  private val heavyHitters: Q = (s, dir) => {
    import org.apache.spark.sql.graftshim.GraftShim
    val toks = spread(Tables.documents(s, dir))
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val sk = GraftShim.column(
      graft.expr.FreqItemsAgg(GraftShim.expression(col("tok")), 256)
        .toAggregateExpression())
    val sketchRow = toks.agg(sk.as("sk"), count(lit(1)).as("n"))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(10)
    val est = coalesce(element_at(col("sk"), col("tok")), lit(0L))
    exact.crossJoin(broadcast(sketchRow)) // 1-row sketch frame
      .select(col("tok"), col("c"),
        (est <= col("c") &&
          est >= col("c") - ceil(col("n") / lit(257.0)).cast("long"))
          .as("within_bound"))
      .orderBy(col("c").desc, col("tok"))
  }
  private val heavyHittersSql =
    """WITH tok AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |ex AS (SELECT tok, count(*) AS c FROM tok
      |       GROUP BY tok ORDER BY c DESC, tok LIMIT 10)
      |SELECT tok, c, TRUE AS within_bound FROM ex ORDER BY c DESC, tok""".stripMargin

  /** Incremental dedup of a new document batch against the corpus
    * ([[Dedup.incrementalDedup]]): bloom-pruned map-side history scan +
    * exact broadcast confirm join — history is never shuffled. The
    * batch is built deterministically from the fixture (every 3rd doc
    * re-submitted verbatim → duplicate, and once with an edit → novel),
    * and the bloom stage never changes RESULTS (false positives are
    * confirmed away), so the oracle is the plain anti join.
    */
  private val incrementalDedupQ: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val history = docs.select(md5(col("text")).as("fp"))
    val base = docs.filter(col("doc_id") % 3 === 0)
    val batch = base
      .select((col("doc_id") + 1000000L).as("new_id"), col("text"))
      .union(base.select((col("doc_id") + 2000000L).as("new_id"),
        concat(col("text"), lit(" :v2")).as("text")))
      .select(col("new_id"), md5(col("text")).as("fp"))
    Dedup.incrementalDedup(batch, history, "fp")
      .orderBy(col("new_id"))
  }
  private val incrementalDedupSql =
    """WITH history AS (SELECT md5(text) AS fp FROM documents),
      |base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |batch AS (
      |  SELECT doc_id + 1000000 AS new_id, md5(text) AS fp FROM base
      |  UNION ALL
      |  SELECT doc_id + 2000000, md5(text || ' :v2') FROM base)
      |SELECT b.new_id, b.fp FROM batch b
      |WHERE NOT EXISTS (SELECT 1 FROM history h WHERE h.fp = b.fp)
      |ORDER BY b.new_id""".stripMargin

  /** A6: sparse per-row map with nulls dropped, exported as JSON. */
  private val sparseMap: Q = (s, dir) => {
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.IntegerType))
    Tables.events(s, dir).select(
      col("event_id"),
      to_json(map_filter(m, (_, v) => v.isNotNull)).as("kv"))
      .orderBy(col("event_id"))
  }
  private val sparseMapSql =
    """SELECT event_id, CAST(json(props) AS VARCHAR) AS kv
      |FROM events ORDER BY event_id""".stripMargin

  /** D3: top-k densest rows (fewest nulls) over the wide pivot table. */
  private val topkDense: Q = (s, dir) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.events(s, dir)
      .groupBy(col("user_id")).pivot("event_type", types)
      .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double"))
    wide.select(col("user_id"), PivotAgg.nullCount(wide.drop("user_id")))
      .orderBy(col("null_count").asc, col("user_id").asc)
      .limit(10)
  }
  private val topkDenseSql = {
    val cells = Seq("click", "error", "purchase", "signup", "view").map { t =>
      s"""sum(CASE WHEN event_type = '$t' THEN 1 END) AS "$t""""
    }.mkString(", ")
    s"""WITH wide AS (SELECT user_id, $cells FROM events GROUP BY user_id)
       |SELECT user_id,
       |  (CASE WHEN click IS NULL THEN 1 ELSE 0 END) +
       |  (CASE WHEN error IS NULL THEN 1 ELSE 0 END) +
       |  (CASE WHEN purchase IS NULL THEN 1 ELSE 0 END) +
       |  (CASE WHEN signup IS NULL THEN 1 ELSE 0 END) +
       |  (CASE WHEN view IS NULL THEN 1 ELSE 0 END) AS null_count
       |FROM wide ORDER BY null_count ASC, user_id ASC LIMIT 10""".stripMargin
  }

  /** D4: exact-N seeded sample — WHICH rows land in the sample is
    * engine-local RNG (Spark rand ≠ DuckDB rand), so the emitted row
    * carries the driver-checkable invariants instead: exact sample
    * size, distinct-key count (without-replacement ⇒ no primary key
    * repeats), and the count of sampled keys absent from the source
    * (anti-join, must be 0) — each a value the oracle states exactly. A
    * sampler returning the wrong N, repeating rows, or fabricating rows
    * flips a column and fails the hash gate; the seeded determinism and
    * membership themselves are additionally property-locked in OpsSpec.
    */
  private val exactSample: Q = (s, dir) => {
    // (orderkey, linenumber, partkey, suppkey) is the fixture's unique
    // row key — orderkey+linenumber alone repeats in the synthetic data
    val key = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val li = Tables.lineitem(s, dir)
    val sample = Sampling.exactSample(li, 1000).select(key.map(col): _*)
    val stats = sample.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(key.head, key.tail: _*).as("n_distinct"))
    val outside = sample
      .join(li, key, "left_anti")
      .agg(count(lit(1)).as("n_outside"))
    stats.crossJoin(outside) // two 1-row frames
  }
  private val exactSampleSql =
    """SELECT CAST(1000 AS BIGINT) AS n_rows, CAST(1000 AS BIGINT) AS n_distinct,
      |       CAST(0 AS BIGINT) AS n_outside""".stripMargin

  /** Approximate distinct (HLL++ sketch). The estimate itself is
    * engine-local, so the emitted row carries the EXACT counts (which
    * the oracle recomputes) plus error-bound booleans the oracle states
    * as constants — an estimator drifting past its advertised rsd flips
    * a boolean and fails the hash gate. One pass computes sketches and
    * exact distincts together.
    */
  private val approxDistinct: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    // TWO pruned scans (was 3 in r12): sketches in one agg, BOTH exact
    // distincts in one multi-distinct agg — Spark Expands ×2 there, but
    // partial distinct applies AFTER the Expand, so the shuffle carries
    // the same distinct keys the two separate r12 jobs carried while
    // scanning once. The tempting third shape — sketch + exact for one
    // column in ONE agg — is a trap: the distinct rewrite evaluates the
    // non-distinct HLL in the aggregate KEYED BY the distinct column,
    // i.e. one 2^14-register sketch buffer per 150k groups (measured 3x
    // slower + GB-scale buffer churn at sf0.1).
    // rsd 0.0173 (not the 0.05 default, not r12's 0.01): rsd is a standard
    // deviation, not a hard bound — at sf0.001 the default (2^9-register)
    // sketch drifted 5.4% on 1473 distinct orderkeys and flipped the
    // boolean. 0.0173 is the largest rsd still giving precision p=12
    // under SPARK'S formula p = ceil(2·log2(1.106/rsd)) (the 1.106 is
    // HyperLogLogPlusPlus.scala's constant — the textbook 1.04 rounds
    // the same rsd to p=13 = 820 buffer words/column, and the r14 probe
    // measured that sketch 2-7x slower and GC-erratic vs p=12's 410
    // words: 1.5-5.4 s vs a stable 0.78 s at sf0.1). 4096 registers
    // keeps the 5% gate a ~3-sigma statement — measured drift at
    // sf0.001/0.01/0.1 is 0.41/0.95/1.00% max across both columns.
    val approx = li.agg(
      approx_count_distinct(col("l_orderkey"), rsd = 0.0173).as("a_o"),
      approx_count_distinct(col("l_partkey"), rsd = 0.0173).as("a_p"))
    val exact = li.agg(
      countDistinct(col("l_orderkey")).as("exact_orders"),
      countDistinct(col("l_partkey")).as("exact_parts"))
    // sketch agg on the BROADCAST side: the nested-loop join builds its
    // broadcast side first, so the HLL buffers are allocated, merged and
    // dead before the exact agg's Expand churn begins — the two register
    // families never coexist in the young gen (r13 item 1's second lever)
    exact.crossJoin(broadcast(approx)) // 1-row frames
      .select(col("exact_orders"), col("exact_parts"),
        (abs(col("a_o") - col("exact_orders")).cast("double")
          / col("exact_orders") <= 0.05).as("orders_within_5pct"),
        (abs(col("a_p") - col("exact_parts")).cast("double")
          / col("exact_parts") <= 0.05).as("parts_within_5pct"))
  }
  private val approxDistinctSql =
    """SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
      |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |       TRUE AS orders_within_5pct, TRUE AS parts_within_5pct
      |FROM lineitem""".stripMargin

  /** Mergeable quantile sketch — the third profiling sketch beside HLL
    * cardinality (q_approx_distinct) and Misra–Gries frequency
    * (q_heavy_hitters): Spark's `approx_percentile` (Greenwald–Khanna),
    * a bounded buffer per partition merged map-side, one row across the
    * wire — the 100 TB quantile-profile pass (exact percentiles need
    * either a value map or a global sort; see q_percentile_dist for the
    * exact distributed form). The estimates are engine-local, so the
    * emitted row carries the EXACT interpolated percentiles (oracle
    * recomputes via quantile_cont) plus GK's rank guarantee as booleans
    * the oracle states as constants: each estimate is a real data
    * element whose rank interval [count(<est)+1, count(<=est)] must
    * intersect target_rank ± n/accuracy — an estimator drifting past
    * its advertised bound (or a broken buffer merge) flips a boolean
    * and fails the hash gate.
    */
  private val quantileSketch: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val acc = 1000 // rank error <= n/1000
    val price = col("l_extendedprice")
    val approx = li.agg(
      percentile_approx(price, typedLit(Seq(0.5, 0.9, 0.99)), lit(acc))
        .as("est"))
    // ONE second pass carries everything downstream: the exact
    // interpolated percentiles AND the conditional counts bounding each
    // estimate's rank interval (three separate passes benched 5.1 s at
    // sf0.1 — the estimates are a broadcast 1-row frame, so all the
    // per-row work fuses into a single scan+agg)
    val aggs: Seq[Column] =
      expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ex") +:
        Seq(1, 2, 3).flatMap { i =>
          Seq(
            sum(when(price < element_at(col("est"), i), 1L).otherwise(0L))
              .as(s"lo$i"),
            sum(when(price <= element_at(col("est"), i), 1L).otherwise(0L))
              .as(s"hi$i"))
        }
    val ranks = li.crossJoin(broadcast(approx))
      .agg(count(lit(1)).as("n"), aggs: _*)
    def ok(i: Int, p: Double) = {
      val tol = col("n") / lit(acc) + lit(1.0)
      val target = col("n") * lit(p)
      (col(s"lo$i") + 1 <= target + tol && col(s"hi$i") >= target - tol)
        .as(s"p${(p * 100).toInt}_ok")
    }
    ranks.select(
      round(element_at(col("ex"), 1), 4).as("exact_p50"),
      round(element_at(col("ex"), 2), 4).as("exact_p90"),
      round(element_at(col("ex"), 3), 4).as("exact_p99"),
      col("n"), ok(1, 0.5), ok(2, 0.9), ok(3, 0.99))
  }
  private val quantileSketchSql =
    """SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
      |       round(quantile_cont(l_extendedprice, 0.9), 4) AS exact_p90,
      |       round(quantile_cont(l_extendedprice, 0.99), 4) AS exact_p99,
      |       CAST(count(*) AS BIGINT) AS n,
      |       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
      |FROM lineitem""".stripMargin

  /** Structured Streaming: real micro-batch file stream (AvailableNow) →
    * watermark → tumbling-window agg, drained to a queryable result. The
    * oracle is the equivalent batch bucketing in DuckDB.
    */
  /** Per-process staged stream-input directory ([[graft.ops.Staging]] —
    * one copied fixture per source dir, not per Bench rep).
    */
  /** Stream-input staging: events REWRITTEN (not raw-copied) through
    * [[Tables.events]] into one canonical-schema parquet file, so every
    * stream reader sees `ts` as a real TIMESTAMP regardless of which
    * physical type this testdata generation shipped (nanos-long vs
    * tz-naive micros) — the normalization lives in exactly one place.
    */
  private[queries] def stagedStreamDir(s: org.apache.spark.sql.SparkSession,
                                       dir: String): String =
    Staging.cached(s"stream:$dir") { tmp =>
      val out = tmp.resolve("events").toString
      Tables.events(s, dir).coalesce(1).write.mode("overwrite").parquet(out)
      out
    }
  private val streamWindow: Q = (s, dir) => {
    graft.streaming.EventStream.runFileStream(s, stagedStreamDir(s, dir))
      .orderBy(col("bucket"), col("event_type"))
  }
  private val streamWindowSql =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
      |       count(*) AS cnt,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Multimodal decode — REAL `javax.imageio` round trip: deterministic
    * synthetic PNGs (dimensions and pixels are pure functions of doc_id)
    * are encoded AND decoded on executors, partition-batched; the output
    * is integer decoded-pixel statistics the oracle recomputes
    * arithmetically (per-channel sums over the same pixel law), so a
    * codec regression on either side of the round trip breaks the hash.
    */
  private val multimodalFeatures: Q = (s, dir) => {
    val media = Multimodal.fromDocuments(spread(Tables.documents(s, dir)))
    Multimodal.decodeImageStats(media, "media_id", "content")
      .orderBy(col("media_id"))
  }
  private val multimodalFeaturesSql =
    """WITH d AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS w,
      |                  CAST(8 + doc_id % 7 AS INT) AS h FROM documents),
      |dx AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM d),
      |px AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM dx)
      |SELECT doc_id AS media_id, w AS width, h AS height,
      |       CAST(w * h AS BIGINT) AS n_pixels,
      |       CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
      |       CAST(sum((doc_id * 31 + x * 7 + y * 13 + 101) % 256) AS BIGINT) AS sum_g,
      |       CAST(sum((doc_id * 31 + x * 7 + y * 13 + 202) % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin

  /** Video frame sampling — REAL container parse + per-frame decode:
    * each payload is a length-prefixed container of PNG frames
    * ([[Multimodal.synthVideo]]); every 2nd frame is seeked to and
    * `ImageIO`-decoded (skipped frames are never decoded). The oracle
    * replays the frame-id law and pixel law arithmetically per SAMPLED
    * frame, so both the container index math and the frame decode are
    * hash-gated.
    */
  // containers are built (PNG-encoded) ONCE per process and staged as
  // parquet — the query under test is the parse+decode path, not
  // re-encoding the fixture every bench rep; every 4th doc keeps the
  // decode volume proportional to what stride sampling would touch
  private def stagedVideos(s: SparkSession, dir: String): String =
    graft.ops.Staging.cached(s"videos:$dir") { tmp =>
      val out = tmp.resolve("media").toString
      Multimodal.videosFromDocuments(
        spread(Tables.documents(s, dir)).filter(col("doc_id") % 4 === 0))
        .write.parquet(out)
      out
    }
  private val videoFrames: Q = (s, dir) => {
    val media = Tables.parquet(s, stagedVideos(s, dir))
    Multimodal.sampleFrameStats(media, "media_id", "content", stride = 2)
      .orderBy(col("media_id"), col("frame_idx"))
  }
  private val videoFramesSql =
    """WITH v AS (SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS nf
      |           FROM documents WHERE doc_id % 4 = 0),
      |f AS (SELECT doc_id, unnest(generate_series(0, nf - 1, 2)) AS frame_idx
      |      FROM v),
      |fd AS (SELECT doc_id, frame_idx, doc_id * 100 + frame_idx AS fid FROM f),
      |d AS (SELECT doc_id, frame_idx, fid,
      |             CAST(8 + fid % 9 AS INT) AS w,
      |             CAST(8 + fid % 7 AS INT) AS h FROM fd),
      |dx AS (SELECT doc_id, frame_idx, fid, w, h,
      |              unnest(generate_series(0, w - 1)) AS x FROM d),
      |px AS (SELECT doc_id, frame_idx, fid, w, h, x,
      |              unnest(generate_series(0, h - 1)) AS y FROM dx)
      |SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
      |       w AS width, h AS height,
      |       CAST(sum((fid * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
      |       CAST(sum((fid * 31 + x * 7 + y * 13 + 101) % 256) AS BIGINT) AS sum_g,
      |       CAST(sum((fid * 31 + x * 7 + y * 13 + 202) % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin

  /** Audio-clip signal statistics over REAL RIFF/WAVE payloads —
    * completes the modality trio next to q_multimodal_features (PNG
    * decode) and q_video_frames (container frame sampling). The staged
    * media table carries one PCM16 WAV per `doc_id % 4 = 1` document
    * ([[Multimodal.synthWav]] — the deterministic sample law the oracle
    * replays via generate_series); [[Multimodal.decodeAudioStats]] walks
    * the actual RIFF chunks and emits integer-exact per-clip stats, so
    * every column crosses the hash gate with no float tolerance.
    * 100 TB shape: identical to image decode — partition-local codec
    * work over a binary column, no shuffle until the (tiny) stats rows.
    */
  private def stagedAudios(s: SparkSession, dir: String): String =
    graft.ops.Staging.cached(s"audios:$dir") { tmp =>
      val out = tmp.resolve("media").toString
      Multimodal.audiosFromDocuments(
        spread(Tables.documents(s, dir)).filter(col("doc_id") % 4 === 1))
        .write.parquet(out)
      out
    }
  private val audioStats: Q = (s, dir) => {
    Multimodal.decodeAudioStats(Tables.parquet(s, stagedAudios(s, dir)),
        "media_id", "content")
      .orderBy(col("media_id"))
  }
  private val audioStatsSql =
    """WITH a AS (SELECT doc_id, CAST(400 + (doc_id % 7) * 50 AS INT) AS n
      |           FROM documents WHERE doc_id % 4 = 1),
      |i AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM a),
      |s AS (SELECT doc_id, n, i,
      |             (doc_id * 31 + i * 37) % 65536 - 32768 AS v FROM i),
      |l AS (SELECT doc_id, n, v,
      |             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
      |SELECT doc_id AS media_id, n AS n_samples, 16000 AS sample_rate,
      |       CAST(max(abs(v)) AS INT) AS peak_abs,
      |       CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross,
      |       CAST(sum(abs(v)) AS BIGINT) AS sum_abs
      |FROM l GROUP BY doc_id, n ORDER BY media_id""".stripMargin

  /** Windowed audio energies as exact ppm integers — the feature-
    * extraction leg of the audio pipeline ([[Multimodal
    * .audioWindowEnergies]]: window of sample i = (i·8) div n, energy =
    * Σ|sample| per window, all longs; the float encoder-contract
    * variant is [[Multimodal.extractAudioFeatures]], spec-locked).
    * Normalization crosses the hash gate as `energy_ppm = sum·10⁶ div
    * total` so no float ever reaches the oracle compare.
    */
  private val audioFeatures: Q = (s, dir) => {
    Multimodal.audioWindowEnergies(Tables.parquet(s, stagedAudios(s, dir)),
        "media_id", "content", nWindows = 8)
      .select(col("media_id"),
        aggregate(col("sums"), lit(0L), (a, x) => a + x).as("total"),
        posexplode(col("sums")).as(Seq("window", "sum_abs")))
      .select(col("media_id"), col("window").cast("int").as("win"),
        col("sum_abs"), expr("sum_abs * 1000000 div total").as("energy_ppm"))
      .orderBy(col("media_id"), col("win"))
  }
  private val audioFeaturesSql =
    """WITH a AS (SELECT doc_id, CAST(400 + (doc_id % 7) * 50 AS INT) AS n
      |           FROM documents WHERE doc_id % 4 = 1),
      |i AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM a),
      |s AS (SELECT doc_id, n,
      |             abs((doc_id * 31 + i * 37) % 65536 - 32768) AS av,
      |             CAST((i * 8) // n AS INT) AS w FROM i),
      |g AS (SELECT doc_id, w, CAST(sum(av) AS BIGINT) AS sum_abs
      |      FROM s GROUP BY doc_id, w),
      |t AS (SELECT doc_id, CAST(sum(sum_abs) AS BIGINT) AS total
      |      FROM g GROUP BY doc_id)
      |SELECT doc_id AS media_id, w AS win, sum_abs,
      |       sum_abs * 1000000 // total AS energy_ppm
      |FROM g JOIN t USING (doc_id) ORDER BY media_id, win""".stripMargin

  /** Multimodal training-example assembly — the multimodal sibling of
    * q_corpus_pipeline, proving the modality columns COMPOSE into packed
    * training rows (the individual decode queries can't make that
    * statement): over the audio-carrying slice (`doc_id % 4 = 1`), text
    * scoring (integer [[TextOps.qualityPoints]] + token count) →
    * exact-dedup survivors (min doc_id per md5 fingerprint, one keyed
    * agg + semi join) → quality gate → join REAL decoded image stats
    * ([[Multimodal.decodeImageStats]], `javax.imageio`; ViT-style patch
    * count = (w div 4)·(h div 4)) and REAL decoded audio stats
    * ([[Multimodal.decodeAudioStats]], RIFF/WAVE walk; frame count =
    * n_samples div 100) → per-example cost = text tokens + image patches
    * + audio frames → greedy 256-budget packing (the q_pack_sequences
    * window, partitioned by lang) → per-bin occupancy rollup. Every
    * column is integer-exact; the oracle replays the decode laws
    * arithmetically, so both codec paths AND the composition are
    * hash-gated end to end. 100 TB shape: decodes are partition-local
    * map work, dedup is one keyed shuffle, joins are equi on doc_id,
    * packing windows never leave the lang partition.
    */
  private val multimodalPipelineQ: Q = (s, dir) => {
    val slice = spread(Tables.documents(s, dir)).filter(col("doc_id") % 4 === 1)
    val text = slice.select(col("doc_id"), col("lang"),
      TextOps.qualityPoints(col("text")).as("q_points"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_text_tokens"),
      md5(col("text")).as("fp"))
    val keep = text.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val kept = text.join(keep, Seq("fp", "doc_id"), "left_semi")
      .filter(col("q_points") >= 4)
    val img = Multimodal.decodeImageStats(
        Multimodal.fromDocuments(slice), "media_id", "content")
      .select(col("media_id").as("doc_id"),
        (expr("width div 4") * expr("height div 4")).cast("long").as("n_patches"))
    val aud = Multimodal.decodeAudioStats(
        Tables.parquet(s, stagedAudios(s, dir)), "media_id", "content")
      .select(col("media_id").as("doc_id"),
        expr("n_samples div 100").cast("long").as("n_frames"))
    val ex = kept.join(img, "doc_id").join(aud, "doc_id")
      .select(col("lang"), col("doc_id"), col("n_text_tokens"),
        col("n_patches"), col("n_frames"),
        (col("n_text_tokens") + col("n_patches") + col("n_frames")).as("cost"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ex.withColumn("bin",
        floor(coalesce(sum(col("cost")).over(w), lit(0L)) / lit(256.0)))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_examples"),
        sum(col("n_text_tokens")).cast("long").as("text_tokens"),
        sum(col("n_patches")).cast("long").as("image_patches"),
        sum(col("n_frames")).cast("long").as("audio_frames"),
        sum(col("cost")).cast("long").as("total_cost"))
      .orderBy(col("lang"), col("bin"))
  }
  private val multimodalPipelineSql = {
    val stopList = TextOps.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, md5(text) AS fp,
       |    length(text) AS n_chars,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
       |    len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
       |        [$stopList])) AS stop_hits
       |  FROM documents WHERE doc_id % 4 = 1),
       |q AS (
       |  SELECT doc_id, lang, fp, CAST(n_tok AS BIGINT) AS n_text_tokens,
       |    ${TextOps.qualityPointsSql("n_chars", "n_tok", "punct", "stop_hits")} AS q_points
       |  FROM t),
       |keep AS (SELECT fp, min(doc_id) AS doc_id FROM q GROUP BY fp),
       |kept AS (SELECT q.* FROM q JOIN keep USING (fp, doc_id)
       |         WHERE q_points >= 4),
       |ex AS (
       |  SELECT lang, doc_id, n_text_tokens,
       |    CAST(((8 + doc_id % 9) // 4) * ((8 + doc_id % 7) // 4) AS BIGINT)
       |      AS n_patches,
       |    CAST((400 + (doc_id % 7) * 50) // 100 AS BIGINT) AS n_frames
       |  FROM kept),
       |c AS (
       |  SELECT lang, doc_id, n_text_tokens, n_patches, n_frames,
       |    n_text_tokens + n_patches + n_frames AS cost,
       |    COALESCE(SUM(n_text_tokens + n_patches + n_frames) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM ex)
       |SELECT lang, CAST(FLOOR(cum / 256.0) AS BIGINT) AS bin,
       |  count(*) AS n_examples,
       |  CAST(sum(n_text_tokens) AS BIGINT) AS text_tokens,
       |  CAST(sum(n_patches) AS BIGINT) AS image_patches,
       |  CAST(sum(n_frames) AS BIGINT) AS audio_frames,
       |  CAST(sum(cost) AS BIGINT) AS total_cost
       |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin
  }

  // ------------------------------------- coverage batch 3: joins/sets/etc

  /** Left outer join with a join-side predicate (unmatched → count 0). */
  private val outerJoin: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    Tables.orders(s, dir)
      .join(li, col("o_orderkey") === col("l_orderkey") && col("l_quantity") > 49,
        "left")
      .groupBy(col("o_orderkey"))
      .agg(count(col("l_orderkey")).as("n_big"))
      .orderBy(col("o_orderkey"))
  }
  private val outerJoinSql =
    """SELECT o_orderkey, count(l_orderkey) AS n_big
      |FROM orders LEFT JOIN lineitem
      |  ON o_orderkey = l_orderkey AND l_quantity > 49
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** Full outer join null-side accounting (one-row summary). */
  private val fullOuterJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir).select(col("c_custkey"))
    val o = Tables.orders(s, dir).select(col("o_custkey")).distinct()
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .agg(
        sum(when(col("c_custkey").isNull, 1).otherwise(0)).as("only_orders"),
        sum(when(col("o_custkey").isNull, 1).otherwise(0)).as("only_customers"),
        count(lit(1)).as("total"))
  }
  private val fullOuterJoinSql =
    """SELECT CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_orders,
      |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_customers,
      |       count(*) AS total
      |FROM customer FULL OUTER JOIN
      |  (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o_custkey""".stripMargin

  /** Set ops: orders having both returned AND open lines (INTERSECT). */
  private val intersectQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      .intersect(li.filter(col("l_returnflag") === "N").select(col("l_orderkey")))
      .orderBy(col("l_orderkey"))
  }
  private val intersectSql =
    """SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      |INTERSECT
      |SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N'
      |ORDER BY l_orderkey""".stripMargin

  /** Set ops: returned-only orders (EXCEPT). */
  private val exceptQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      .except(li.filter(col("l_returnflag") =!= "R").select(col("l_orderkey")))
      .orderBy(col("l_orderkey"))
  }
  private val exceptSql =
    """SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
      |EXCEPT
      |SELECT l_orderkey FROM lineitem WHERE l_returnflag <> 'R'
      |ORDER BY l_orderkey""".stripMargin

  /** CUBE over two grouping dimensions (rollup's superset). */
  private val cubeAgg: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }
  private val cubeAggSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** ntile quartiles (total-order ORDER BY keeps tiles deterministic).
    * NOT `ntile(4).over(Window.orderBy(...))` — an unpartitioned window
    * is a single-task total sort at scale. [[Tiling.ntileDistributed]]
    * computes identical tile ids with bucketed prefix-offset ranking.
    */
  private val ntileQ: Q = (s, dir) => {
    Tiling.ntileDistributed(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
      tiles = 4,
      rangeCol = col("o_totalprice"),
      orderCols = Seq(col("o_totalprice"), col("o_orderkey")),
      out = "quartile")
      .select(col("o_orderkey"), col("o_totalprice"), col("quartile"))
      .orderBy(col("o_orderkey"))
  }
  private val ntileSql =
    """SELECT o_orderkey, o_totalprice,
      |       ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Global row_number over a total order — distributed
    * ([[Tiling.withGlobalRank]]): bucketed prefix-offset ranking, never
    * an Exchange SinglePartition (PlanSpec-locked alongside q_ntile).
    */
  private val globalRankQ: Q = (s, dir) => {
    val (ranked, _) = Tiling.withGlobalRank(
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
      rangeCol = col("o_totalprice"),
      orderCols = Seq(col("o_totalprice"), col("o_orderkey")),
      out = "rn")
    ranked.select(col("o_orderkey"), col("o_totalprice"),
        (col("rn") + 1).as("rn"))
      .orderBy(col("o_orderkey"))
  }
  private val globalRankSql =
    """SELECT o_orderkey, o_totalprice,
      |       row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** HAVING: post-aggregation filter (exact integral sums). */
  private val havingQ: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"), count(lit(1)).as("cnt"))
      .filter(col("total_qty") > 500)
      .orderBy(col("l_partkey"))
  }
  private val havingSql =
    """SELECT l_partkey, round(sum(l_quantity), 2) AS total_qty, count(*) AS cnt
      |FROM lineitem GROUP BY l_partkey HAVING round(sum(l_quantity), 2) > 500
      |ORDER BY l_partkey""".stripMargin

  /** LIKE + regexp filters (Spark rlike ≡ DuckDB regexp_matches for this
    * alternation).
    */
  private val likeFilter: Q = (s, dir) => {
    Tables.part(s, dir)
      .filter(col("p_name").like("%small%") || col("p_name").rlike("gear|bolt"))
      .select(col("p_partkey"), col("p_name"), col("p_type"))
      .orderBy(col("p_partkey"))
  }
  private val likeFilterSql =
    """SELECT p_partkey, p_name, p_type FROM part
      |WHERE p_name LIKE '%small%' OR regexp_matches(p_name, 'gear|bolt')
      |ORDER BY p_partkey""".stripMargin

  /** Generator/explode: token word-count over documents (unnest parity). */
  private val wordCount: Q = (s, dir) => {
    spread(Tables.documents(s, dir))
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 10)
      .orderBy(col("tok"))
  }
  private val wordCountSql =
    """SELECT tok, count(*) AS cnt FROM (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
      |GROUP BY tok HAVING count(*) >= 10 ORDER BY tok""".stripMargin

  /** Scalar subquery: rows above the global average (broadcast 1-row).
    * `price > avg` is compared as `price * n > Σprice` in exact decimal
    * arithmetic — a double average is accumulation-order-sensitive, so a
    * boundary row could land on different sides of it per engine.
    */
  private val scalarSubquery: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val stats = o.agg(
      sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total"),
      count(lit(1)).as("n"))
    o.crossJoin(broadcast(stats))
      .filter(col("o_totalprice").cast(DecimalType(18, 2)) * col("n") > col("total"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }
  private val scalarSubquerySql =
    """SELECT o_orderkey, o_totalprice
      |FROM orders,
      |  (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total,
      |          count(*) AS n FROM orders) sstats
      |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n > total
      |ORDER BY o_orderkey""".stripMargin

  /** Gap sessionization (lag/cumsum window form — integer epoch-µs
    * math on both engines; q_session_window is the built-in
    * `session_window` form of the same session assignment).
    */
  private val sessionize: Q = (s, dir) =>
    graft.streaming.Sessionize.batchSessions(Tables.events(s, dir))
  private val sessionizeSql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
      |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
      |s AS (SELECT *, sum(CASE WHEN prev_us IS NULL OR us - prev_us > 43200000000 THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY us, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM l)
      |SELECT user_id, min(us) AS session_start_us, max(us) AS session_end_us,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, session_start_us""".stripMargin

  /** Built-in `session_window` (gap-based session aggregation as a
    * native windowed groupBy) — complements the lag/cumsum sessionizer
    * (q_sessionize): same session ASSIGNMENT, so the same lag/cumsum
    * oracle applies; the output keeps session start (first event) and
    * drops `window.end`, which session_window defines as last event + gap.
    */
  private val sessionWindowQ: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "12 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start_us"))
  }
  private val sessionWindowSql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
      |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e),
      |s AS (SELECT *, sum(CASE WHEN prev_us IS NULL OR us - prev_us > 43200000000 THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY us, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM l)
      |SELECT user_id, min(us) AS session_start_us, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sess_id
      |ORDER BY user_id, session_start_us""".stripMargin

  /** Salted join: result must be identical to the plain join (the salt
    * only respreads reducers), so the oracle is the UNsalted join.
    */
  private val saltedJoin: Q = (s, dir) => {
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    Skew.saltedJoin(Tables.lineitem(s, dir), orders, "l_orderkey", factor = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }
  private val saltedJoinSql =
    """SELECT o_orderpriority, count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Exact interpolated percentiles (both engines: sort + linear
    * interpolation at p·(n−1); integral quantities keep the arithmetic
    * exact).
    */
  private val percentileQ: Q = (s, dir) => {
    // one percentile(array) buffer per group instead of two identical
    // value-count maps (§2.3/§4.1); same interpolated doubles
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, array(0.5D, 0.9D))").as("pcts"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"),
        element_at(col("pcts"), 1).as("p50"),
        element_at(col("pcts"), 2).as("p90"), col("cnt"))
      .orderBy(col("l_returnflag"))
  }
  private val percentileSql =
    """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50,
      |       quantile_cont(l_quantity, 0.9) AS p90, count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact global percentiles via distributed ranking
    * ([[Tiling.exactPercentiles]]) — no global sort, no per-value count
    * map: the quantile path that survives 100 TB. Same interpolation as
    * `percentile()`/`quantile_cont`; rounded to 4 on both sides so the
    * lerp's float-op ORDER can't flip the last bit.
    */
  private val percentileDistQ: Q = (s, dir) => {
    Tiling.exactPercentiles(Tables.lineitem(s, dir), col("l_quantity"),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      .select(round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
        round(col("p99"), 4).as("p99"))
  }
  private val percentileDistSql =
    """SELECT round(quantile_cont(l_quantity, 0.5), 4) AS p50,
      |       round(quantile_cont(l_quantity, 0.9), 4) AS p90,
      |       round(quantile_cont(l_quantity, 0.99), 4) AS p99
      |FROM lineitem""".stripMargin

  /** Sliding window (size 2 h, step 1 h) — every event lands in two
    * buckets; oracle expands each event into both bucket starts.
    */
  private val slidingWindow: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("bucket_start_us"),
        col("event_type"), col("cnt"))
      .orderBy(col("bucket_start_us"), col("event_type"))
  }
  private val slidingWindowSql =
    """WITH b AS (
      |  SELECT event_type,
      |         unnest([time_bucket(INTERVAL '1 hour', ts),
      |                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS bucket
      |  FROM events)
      |SELECT epoch_us(bucket) AS bucket_start_us, event_type, count(*) AS cnt
      |FROM b GROUP BY 1, 2 ORDER BY bucket_start_us, event_type""".stripMargin

  /** Typed Dataset[T] surface: case-class encoder + groupByKey (the
    * compile-time-checked path SURVEY §1.1 reserves for stable rows).
    */
  private val typedCount: Q = (s, dir) => {
    import s.implicits._
    val ds = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity"))
      .as[(String, Double)]
    ds.filter(_._2 > 45)
      .groupByKey(_._1)
      .count()
      .toDF("l_returnflag", "cnt")
      .orderBy(col("l_returnflag"))
  }
  private val typedCountSql =
    """SELECT l_returnflag, count(*) AS cnt FROM lineitem
      |WHERE l_quantity > 45 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Capstone: the reference ETL's full operator chain (SURVEY §3.1) on
    * the synthetic tables — latest-per-key dedup → semi-join filter →
    * broadcast dim label → explicit-values pivot-avg → threshold
    * null-out + rounding → string filter → ordered export. One lazy
    * plan, one oracle.
    */
  private val pipelineShape: Q = (s, dir) => {
    // "branded" := latest line per order (D1) filtered to open orders (J1)
    val latest = Dedup.latestPerKeyAgg(Tables.lineitem(s, dir), Seq("l_orderkey"),
      Seq(col("l_linenumber"), col("l_extendedprice"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_discount"),
        // the pivot below groups on l_returnflag — it must be part of the
        // tie-break or a full 6-column tie picks a different flag per
        // engine and the kept quantity lands under a different column
        col("l_returnflag")))
    val open = Tables.orders(s, dir).filter(col("o_orderstatus") =!= "F")
    val branded = latest.join(open.select("o_orderkey"),
      col("l_orderkey") === col("o_orderkey"), "left_semi")
    // dim label (J5a): supplier → nation name. supplier scales with the
    // corpus, so its join carries no hint: Spark's size-based selection
    // broadcasts its two projected columns. nation is FIXED-size (25
    // rows, hard broadcast is always right) and labels the joined rows —
    // joined into supplier first, the dim's size estimate is the product
    // of both tables and the planner broadcast the fact side instead
    val labeled = branded
      .join(Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
    // pivot-avg (A1+A2) with explicit values, per nation label
    val flags = Seq("A", "N", "R")
    val wide = labeled.groupBy(col("n_name"))
      .pivot("l_returnflag", flags)
      .agg(avg(col("l_quantity")))
    // thresholds (A5): full-name cap entries for the pivoted flag columns
    // (the reference keys its energy caps by exact column name)
    val renamed = wide.select(col("n_name") +:
      flags.map(f => col(f).as(s"$f (KCAL)")): _*)
    val capped = Thresholds(renamed, Seq("n_name"),
      Thresholds.defaultCaps ++ flags.map(f => s"$f (KCAL)" -> 900.0))
    // string filter (P6 semantics) + ordered export (D2)
    Cleaning.filterNotContains(capped, "n_name", "ANTARCTICA")
      .orderBy(col("n_name"))
  }
  private val pipelineShapeSql =
    """WITH latest AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_linenumber DESC, l_extendedprice DESC, l_partkey DESC,
      |               l_suppkey DESC, l_quantity DESC, l_discount DESC,
      |               l_returnflag DESC) AS rn
      |    FROM lineitem) WHERE rn = 1),
      |branded AS (
      |  SELECT * FROM latest WHERE l_orderkey IN
      |    (SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'F')),
      |labeled AS (
      |  SELECT b.*, n_name FROM branded b
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey),
      |wide AS (
      |  SELECT n_name,
      |    avg(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS a_avg,
      |    avg(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS n_avg,
      |    avg(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS r_avg
      |  FROM labeled GROUP BY n_name)
      |SELECT n_name,
      |  CASE WHEN a_avg <= 900 THEN round(a_avg, 2) END AS "A (KCAL)",
      |  CASE WHEN n_avg <= 900 THEN round(n_avg, 2) END AS "N (KCAL)",
      |  CASE WHEN r_avg <= 900 THEN round(r_avg, 2) END AS "R (KCAL)"
      |FROM wide
      |WHERE NOT coalesce(contains(n_name, 'ANTARCTICA'), false)
      |ORDER BY n_name""".stripMargin

  /** As-of join: each order matched to the user's latest event at or
    * before the order date (union+window composition — one keyed
    * shuffle, no pair blowup; oracle = pair join + row_number).
    */
  private val asofJoin: Q = (s, dir) => {
    val matched = AsOf.joinLastBefore(
      Tables.orders(s, dir), Tables.events(s, dir),
      leftKey = "o_custkey", rightKey = "user_id",
      leftTimeUs = unix_micros(col("o_orderdate").cast("timestamp")),
      rightTimeUs = unix_micros(col("ts")),
      rightPayload = Seq("event_id"), rightTieBreak = "event_id")
    matched.select(col("o_orderkey"),
        col("__match.event_id").as("last_event_id"))
      .orderBy(col("o_orderkey"))
  }
  private val asofJoinSql =
    """WITH pairs AS (
      |  SELECT o_orderkey, event_id,
      |         row_number() OVER (PARTITION BY o_orderkey
      |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM orders JOIN events
      |    ON user_id = o_custkey AND epoch_us(ts) <= epoch_us(o_orderdate))
      |SELECT o.o_orderkey, p.event_id AS last_event_id
      |FROM orders o LEFT JOIN pairs p ON o.o_orderkey = p.o_orderkey AND p.rn = 1
      |ORDER BY o.o_orderkey""".stripMargin

  /** Exact top-k via the custom typed aggregate (per-partition k-buffers,
    * map-side merge — no sort anywhere). Same rows as
    * q_topk_order_limit, so it shares that oracle shape.
    */
  private val topkAgg: Q = (s, dir) => {
    import graft.expr.TopKByScore
    val topk = udaf(new TopKByScore(20))
    Tables.lineitem(s, dir)
      .agg(topk(
        col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber").cast("long"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity")).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.k1").as("l_orderkey"),
        col("t.k2").cast("int").as("l_linenumber"),
        col("t.k3").as("l_partkey"), col("t.k4").as("l_suppkey"),
        col("t.score").as("l_extendedprice"),
        col("t.payload").as("l_quantity"))
  }

  /** Grouped top-k via the typed aggregate — one hash agg, k rows kept
    * per group per partition; the shape TakeOrderedAndProject cannot
    * express (oracle: row_number PARTITION BY).
    */
  /** The window-top-k OPTIMIZER REWRITE, correctness-gated: the query is
    * written as the ubiquitous `row_number() OVER (...) <= k` idiom,
    * then [[graft.expr.GraftRules.WindowTopKToAggregate]] is applied to
    * the optimized plan, replacing window+sort with the bounded per-key
    * heap aggregate ([[graft.expr.BoundedTopKRows]]) + posexplode. The
    * `require` makes the gate fail loudly if the pattern ever stops
    * matching; the oracle runs the plain SQL window form — hash
    * equality IS the rewrite's semantics proof. (Spark's own
    * InferWindowGroupLimit only pre-filters candidates and still sorts
    * every surviving group inside the window; the rewrite removes the
    * window operator entirely.) Ordering is total, so the result is
    * unique.
    */
  private val topkRewriteQ: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftshim.GraftShim
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val windowForm = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
    val rewritten = graft.expr.GraftRules.WindowTopKToAggregate(
      windowForm.queryExecution.optimizedPlan)
    require(!rewritten.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Window]),
      "WindowTopKToAggregate failed to remove the Window operator")
    GraftShim.ofRows(s, rewritten).orderBy(col("l_returnflag"), col("rn"))
  }
  private val topkRewriteSql =
    """WITH r AS (
      |  SELECT l_returnflag, l_orderkey, l_linenumber, l_partkey,
      |         l_suppkey, l_extendedprice,
      |    CAST(row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
      |               l_partkey, l_suppkey) AS INT) AS rn
      |  FROM lineitem)
      |SELECT * FROM r WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin

  private val groupedTopk: Q = (s, dir) => {
    import graft.expr.TopKByScore
    val topk = udaf(new TopKByScore(3))
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(topk(
        col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber").cast("long"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity")).as("top"))
      .select(col("l_returnflag"), explode(col("top")).as("t"))
      .select(col("l_returnflag"), col("t.k1").as("l_orderkey"),
        col("t.k2").cast("int").as("l_linenumber"),
        col("t.score").as("l_extendedprice"))
      .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
        col("l_orderkey"), col("l_linenumber"))
  }
  private val groupedTopkSql =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
      |FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |         row_number() OVER (PARTITION BY l_returnflag
      |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber,
      |                    l_partkey, l_suppkey, l_quantity) AS rn
      |  FROM lineitem)
      |WHERE rn <= 3
      |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin

  /** Array higher-order functions: filter / exists / transform parity
    * with DuckDB list lambdas.
    */
  private val arrayHof: Q = (s, dir) => {
    Tables.embeddings(s, dir).select(
      col("vec_id"),
      size(filter(col("embedding"), x => x > 0)).as("n_pos"),
      exists(col("embedding"), x => abs(x) > 2).as("has_big"),
      round(element_at(
        transform(col("embedding"), x => x.cast("double") * 2), 1), 4)
        .as("first_scaled"))
      .orderBy(col("vec_id"))
  }
  private val arrayHofSql =
    """SELECT vec_id,
      |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
      |  len(list_filter(embedding, x -> abs(x) > 2)) > 0 AS has_big,
      |  round(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2)[1], 4) AS first_scaled
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------- registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_dedup_latest", dedupLatest, Some(dedupLatestSql)),
    ("q_semi_join", semiJoin, Some(semiJoinSql)),
    ("q_anti_join", antiJoin, Some(antiJoinSql)),
    ("q_join_3way", join3Way, Some(join3WaySql)),
    ("q_broadcast_dim", broadcastDim, Some(broadcastDimSql)),
    ("q_group_avg", groupAvg, Some(groupAvgSql)),
    ("q_pivot_wide", pivotWide, Some(pivotWideSql)),
    ("q_rollup", rollupAgg, Some(rollupAggSql)),
    ("q_topk_order_limit", topkOrderLimit, Some(topkOrderLimitSql)),
    ("q_window_rank", windowRank, Some(windowRankSql)),
    ("q_window_lag", windowLag, Some(windowLagSql)),
    ("q_window_frame", windowFrame, Some(windowFrameSql)),
    ("q_string_clean", stringClean, Some(stringCleanSql)),
    ("q_json_extract", jsonExtract, Some(jsonExtractSql)),
    ("q_not_contains_filter", notContainsFilter, Some(notContainsFilterSql)),
    ("q_threshold_nullout", thresholdNullout, Some(thresholdNulloutSql)),
    ("q_date_trunc", dateTrunc, Some(dateTruncSql)),
    ("q_date_diff", dateDiff, Some(dateDiffSql)),
    ("q_array_norm", arrayNorm, Some(arrayNormSql)),
    ("q_cosine_topk", cosineTopk, Some(cosineTopkSql)),
    ("q_vector_retrieve", vectorRetrieve, Some(vectorRetrieveSql)),
    ("q_near_dup_embedding", nearDupEmbedding, Some(nearDupEmbeddingSql)),
    ("q_semantic_dedup", semanticDedupQ, Some(semanticDedupSql)),
    ("q_ann_topk", annTopk, Some(annTopkSql)),
    ("q_token_count", tokenCount, Some(tokenCountSql)),
    ("q_lang_id", langIdQ, Some(langIdSql)),
    ("q_quality_score", qualityScoreQ, Some(qualityScoreSql)),
    ("q_fingerprint", fingerprintQ, Some(fingerprintSql)),
    ("q_exact_dedup", exactDedup, Some(exactDedupSql)),
    ("q_incremental_dedup", incrementalDedupQ, Some(incrementalDedupSql)),
    ("q_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    ("q_quality_logprob", qualityLogprob, Some(qualityLogprobSql)),
    ("q_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    ("q_minhash_lsh", minhashLsh, Some(minhashLshSql)),
    ("q_simhash", simhashQ, Some(simhashSql)),
    ("q_sparse_map", sparseMap, Some(sparseMapSql)),
    ("q_topk_dense", topkDense, Some(topkDenseSql)),
    ("q_exact_sample", exactSample, Some(exactSampleSql)),
    ("q_approx_distinct", approxDistinct, Some(approxDistinctSql)),
    ("q_quantile_sketch", quantileSketch, Some(quantileSketchSql)),
    ("q_stream_window", streamWindow, Some(streamWindowSql)),
    ("q_multimodal_features", multimodalFeatures, Some(multimodalFeaturesSql)),
    ("q_video_frames", videoFrames, Some(videoFramesSql)),
    ("q_audio_stats", audioStats, Some(audioStatsSql)),
    ("q_audio_features", audioFeatures, Some(audioFeaturesSql)),
    ("q_multimodal_pipeline", multimodalPipelineQ, Some(multimodalPipelineSql)),
    ("q_outer_join", outerJoin, Some(outerJoinSql)),
    ("q_full_outer_join", fullOuterJoin, Some(fullOuterJoinSql)),
    ("q_intersect", intersectQ, Some(intersectSql)),
    ("q_except", exceptQ, Some(exceptSql)),
    ("q_cube", cubeAgg, Some(cubeAggSql)),
    ("q_ntile", ntileQ, Some(ntileSql)),
    ("q_global_rank", globalRankQ, Some(globalRankSql)),
    ("q_having", havingQ, Some(havingSql)),
    ("q_like_filter", likeFilter, Some(likeFilterSql)),
    ("q_word_count", wordCount, Some(wordCountSql)),
    ("q_scalar_subquery", scalarSubquery, Some(scalarSubquerySql)),
    ("q_ann_ivf", annIvf, Some(annIvfSql)),
    ("q_index_build", indexBuild, Some(indexBuildSql)),
    ("q_sessionize", sessionize, Some(sessionizeSql)),
    ("q_session_window", sessionWindowQ, Some(sessionWindowSql)),
    ("q_salted_join", saltedJoin, Some(saltedJoinSql)),
    ("q_percentile", percentileQ, Some(percentileSql)),
    ("q_percentile_dist", percentileDistQ, Some(percentileDistSql)),
    ("q_sliding_window", slidingWindow, Some(slidingWindowSql)),
    ("q_typed_count", typedCount, Some(typedCountSql)),
    ("q_pipeline_shape", pipelineShape, Some(pipelineShapeSql)),
    ("q_asof_join", asofJoin, Some(asofJoinSql)),
    ("q_topk_agg", topkAgg, Some(topkOrderLimitSql)),
    ("q_grouped_topk", groupedTopk, Some(groupedTopkSql)),
    ("q_topk_rewrite", topkRewriteQ, Some(topkRewriteSql)),
    ("q_array_hof", arrayHof, Some(arrayHofSql))
  )

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
