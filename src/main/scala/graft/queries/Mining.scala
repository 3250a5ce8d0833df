package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops._

/** Round-5 registry extension, second batch: set-similarity join via
  * prefix filtering (the lossless scale path for threshold Jaccard),
  * label-propagation community detection (third graph operator beside
  * PageRank and triangle counting), deterministic signed random
  * projection (JL-style dimensionality reduction ahead of ANN), and a
  * TPC-H-Q3-shaped revenue top-k showcasing the classic
  * filter→broadcast→join→agg→top-k OLAP plan.
  *
  * Same conventions as [[Registry]]: identical aliases both sides,
  * deterministic total-order ORDER BY, exact integer arithmetic wherever
  * a result crosses the hash gate.
  */
object Mining {

  type Q = Registry.Q

  // ----------------------------------------- prefix-filtered similarity join

  /** Threshold set-similarity self-join (3-shingle-set Jaccard ≥ 1/2 —
    * the SAME similarity space as q_minhash_lsh, making this the EXACT,
    * lossless sibling of that approximate operator) via the prefix
    * filter (SSJoin/PPJoin family — Chaudhuri et al., ICDE 2006; Xiao
    * et al., WWW 2008 — public literature): order every document's
    * distinct shingles by global rarity (df asc, shingle-hash asc), keep only
    * the first |d| − ⌈t·|d|⌉ + 1 as the candidate key set, and equi-join
    * documents on shared PREFIX shingles only. Lossless: if J(A,B) ≥ t,
    * the globally-smallest common shingle provably lands in both
    * prefixes (fewer than |A| − ⌈t|A|⌉ + 1 exclusive shingles can
    * precede it on either side — otherwise J < t). Each surviving pair
    * is then verified with an exact integer intersection count
    * (J ≥ 1/2 ⇔ 3·|A∩B| ≥ |A| + |B|). Word-SET Jaccard was measured
    * non-discriminative on this corpus (shared template vocabulary →
    * 92k pairs at t=1/2); shingle-set Jaccard separates real near-dups
    * (the ~25 q_minhash_lsh finds) from the template background.
    *
    * At 100 TB this is THE exact set-similarity shape: the all-pairs
    * cross join never exists; candidates key on rare shingles only, so
    * the boilerplate-grade shingles that would fan out quadratically sit
    * at the END of the rarity order and never enter a prefix. Everything
    * is equi-join + partitioned window (per-doc shingle sort) — no
    * global sort, no cartesian (PlanSpec-locked). The oracle pays the
    * O(n²) list-intersect instead, which is exactly the cost this
    * operator exists to avoid.
    */
  /** Candidate-pair generation for [[simjoinPrefixQ]], exposed so the
    * spec can assert the PPJoin filters shrink the candidate set without
    * losing a true pair. With `ppjoin = false` this is the plain prefix
    * filter (the round-5 shape); with `ppjoin = true` two further
    * PPJoin filters (Xiao et al., WWW 2008) run INSIDE the equi-join,
    * before the distinct:
    *
    *  - length filter: J(A,B) ≥ 1/2 forces |A∩B| ≤ min ⇒ 3·min ≥
    *    min + max ⇒ max(|A|,|B|) ≤ 2·min(|A|,|B|). Lossless by algebra.
    *  - positional filter: for the FIRST common shingle in the global
    *    rarity order, everything before position i in A (resp. j in B)
    *    is exclusive, so |A∩B| ≤ min(|A|−i, |B|−j) + 1; a true pair
    *    needs |A∩B| ≥ ⌈(|A|+|B|)/3⌉. Each token-match is filtered
    *    independently and a pair survives if ANY of its matches passes —
    *    the first-common-shingle match of a true pair always does (that
    *    shingle is in both prefixes by the prefix-filter theorem), so
    *    the OR-over-matches form stays lossless.
    *
    * The posting key is `xxhash64(shingle)`, not the shingle string: the
    * df group-by, the rarity sort, and the candidate equi-join all move
    * 8-byte longs instead of ~25-byte UTF8 shingles (measured 20% off
    * the whole query at sf0.1), and `sz` comes from the already-distinct
    * array length instead of a second window pass. The rarity order
    * becomes (df, hash) — a different but equally valid global total
    * order, shared by both join sides, so the prefix theorem is
    * untouched. Correctness is exact unless two DISTINCT shingles
    * collide on xxhash64 (p ≈ 2⁻⁶⁴ per shingle pair, ~10⁻¹² corpus-wide;
    * the driver's hash gate against the string-form oracle confirms
    * equality empirically every round).
    */
  private[graft] def simjoinCandidates(sets: DataFrame,
                                       ppjoin: Boolean): DataFrame = {
    val toks = sets.select(col("doc_id"),
      size(col("ws")).cast("long").as("sz"),
      explode(transform(col("ws"), t => xxhash64(t))).as("tok"))
    val df_ = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ordered = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tok"))
    // prefix length |d| - ceil(|d|/2) + 1 (t = 1/2); ceil via (sz+1) div 2
    // — integer div (`/` on Columns is double division)
    val withPos = toks.join(df_, "tok")
      .withColumn("pos", row_number().over(ordered).cast("long"))
    // NOT localCheckpoint'ed: the self-join does plan the derivation on
    // both sides, but recomputing it in parallel measured FASTER than
    // eagerly materializing either the posting list or the compact sets
    // (every checkpoint variant re-measured slower at r6 — serializing
    // the pipeline costs more than a second codegen pass)
    val prefix = withPos
      .filter(col("pos") <= col("sz") - expr("(sz + 1) div 2") + 1)
      .select(col("doc_id"), col("tok"), col("sz"), col("pos"))
    val matches = prefix.as("pa")
      .join(prefix.as("pb"), col("pa.tok") === col("pb.tok"))
      .filter(col("pa.doc_id") < col("pb.doc_id"))
    val pruned = if (!ppjoin) matches else matches
      .filter(greatest(col("pa.sz"), col("pb.sz")) <=
        lit(2) * least(col("pa.sz"), col("pb.sz")))
      // ⌈(szA+szB)/3⌉ via truncating double division — sums < 2^21 are
      // exact in double, and x ≥ 0 makes cast-to-long a floor
      .filter(least(col("pa.sz") - col("pa.pos"),
          col("pb.sz") - col("pb.pos")) + 1 >=
        ((col("pa.sz") + col("pb.sz") + lit(2)) / lit(3)).cast("long"))
    pruned
      .select(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"))
      .distinct()
  }

  private val simjoinPrefixQ: Q = (s, dir) => {
    val sets = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        array_distinct(TextOps.shingles(col("text"), 3)).as("ws"))
    val cand = simjoinCandidates(sets, ppjoin = true)
    // verify per candidate PAIR with one array_intersect — the candidate
    // set is near-dup-density-sized, so shipping two shingle-hash arrays
    // per pair beats re-exploding the corpus through two more shuffles
    // (the first formulation; measured 9.6 s → 4.1 s → hashed arrays).
    // |A∩B| on sorted hash arrays equals the string-set intersection
    // modulo the documented xxhash64 collision bound.
    val hsets = sets.select(col("doc_id"),
      array_sort(transform(col("ws"), t => xxhash64(t))).as("wh"))
    cand
      .join(hsets.select(col("doc_id").as("id_a"), col("wh").as("wa")), "id_a")
      .join(hsets.select(col("doc_id").as("id_b"), col("wh").as("wb")), "id_b")
      .withColumn("inter",
        TextOps.sortedIntersectCount(col("wa"), col("wb")).cast("long"))
      .withColumn("uni",
        (size(col("wa")) + size(col("wb"))).cast("long") - col("inter"))
      .filter(col("inter") * 3 >= col("inter") + col("uni"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
      .orderBy(col("id_a"), col("id_b"))
  }
  private val simjoinPrefixSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+2], ' ')
      |               for i in range(1, len(toks) - 1)]
      |    END) AS ws FROM tok)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter,
      |       CAST(len(a.ws) + len(b.ws)
      |            - len(list_intersect(a.ws, b.ws)) AS BIGINT) AS uni
      |FROM s a JOIN s b ON b.doc_id > a.doc_id
      |WHERE 3 * len(list_intersect(a.ws, b.ws)) >= len(a.ws) + len(b.ws)
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------ containment similarity join

  /** Asymmetric containment self-join: emit directed pairs (A, B) with
    * |A∩B| / |A| ≥ 3/5 over the same 3-shingle sets as
    * [[simjoinPrefixQ]] — the similarity relation symmetric Jaccard
    * cannot express, and the one a corpus dedup pass keys on for
    * wire-copy supersets and boilerplate-wrapped articles (B contains
    * nearly all of A while being much larger, so J(A,B) is tiny but
    * C(A→B) ≈ 1).
    *
    * Prefix bound on the PROBE side only (containment variant of the
    * SSJoin prefix theorem): if |A∩B| ≥ o := ⌈t·|A|⌉, at most |A| − o
    * of A's shingles precede the first common shingle in A's global
    * rarity order, so that shingle sits inside A's first
    * |A| − o + 1 — the probe prefix. The INDEX side must post every
    * shingle (asymmetry: no bound on B's side exists because o doesn't
    * depend on |B|), but candidates only materialize where an indexed
    * shingle meets a probe-PREFIX shingle, and prefixes hold rare
    * shingles only — boilerplate-grade shingles never key a candidate.
    * A size filter (|B| ≥ ⌈t·|A|⌉, since |A∩B| ≤ |B|) runs inside the
    * join; each survivor is verified with one exact integer
    * intersection (C ≥ 3/5 ⇔ 5·|A∩B| ≥ 3·|A|). No cartesian
    * (PlanSpec-locked); the oracle pays the all-pairs list_intersect
    * this operator exists to avoid.
    */
  /** Candidate-pair generation for [[containmentJoinQ]], exposed so the
    * spec can assert the positional filter shrinks the candidate set
    * without losing a true pair (mirror of [[simjoinCandidates]]).
    */
  private[graft] def containmentCandidates(sets: DataFrame,
                                           positional: Boolean): DataFrame = {
    // same xxhash64 posting keys + array-length sz as [[simjoinCandidates]]
    // (longs through every shuffle; one window pass instead of two)
    val toks = sets.select(col("doc_id"),
      size(col("ws")).cast("long").as("sz"),
      explode(transform(col("ws"), t => xxhash64(t))).as("tok"))
    val df_ = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ordered = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("tok"))
    val withPos = toks.join(df_, "tok")
      .withColumn("pos", row_number().over(ordered).cast("long"))
    // probe prefix: |A| − ⌈3|A|/5⌉ + 1 rarest shingles (t = 3/5)
    val probe = withPos
      .filter(col("pos") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id").as("id_a"), col("tok"),
        col("sz").as("sz_a"), col("pos").as("pos_a"))
    val index = withPos
      .select(col("doc_id").as("id_b"), col("tok"),
        col("sz").as("sz_b"), col("pos").as("pos_b"))
    val matches = probe.join(index, "tok")
      .filter(col("id_a") =!= col("id_b") &&
        col("sz_b") * 5 >= col("sz_a") * 3) // |A∩B| ≤ |B| size filter
    // positional filter (containment form): for the FIRST common shingle
    // in the global rarity order — which for a true pair is always one of
    // these candidate rows (it lies in A's probe prefix by the prefix
    // theorem, and B posts everything) — all earlier shingles on both
    // sides are exclusive, so
    //   |A∩B| ≤ 1 + min(|A|−i, |B|−j)  must reach  ⌈3|A|/5⌉.
    // OR-over-matches keeps it lossless; what it kills is the index
    // side's high-df postings (large j ⇒ small |B|−j), exactly the rows
    // that dominate the candidate join.
    val pruned = if (!positional) matches else matches
      .filter(lit(1) + least(col("sz_a") - col("pos_a"),
          col("sz_b") - col("pos_b")) >=
        expr("(3 * sz_a + 4) div 5"))
    pruned
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  private val containmentJoinQ: Q = (s, dir) => {
    val sets = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"),
        array_distinct(TextOps.shingles(col("text"), 3)).as("ws"))
    val cand = containmentCandidates(sets, positional = true)
    val hsets = sets.select(col("doc_id"),
      array_sort(transform(col("ws"), t => xxhash64(t))).as("wh"))
    cand
      .join(hsets.select(col("doc_id").as("id_a"), col("wh").as("wa")), "id_a")
      .join(hsets.select(col("doc_id").as("id_b"), col("wh").as("wb")), "id_b")
      .withColumn("inter",
        TextOps.sortedIntersectCount(col("wa"), col("wb")).cast("long"))
      .withColumn("sz_a", size(col("wa")).cast("long"))
      .filter(col("inter") * 5 >= col("sz_a") * 3)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"))
      .orderBy(col("id_a"), col("id_b"))
  }
  private val containmentJoinSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+2], ' ')
      |               for i in range(1, len(toks) - 1)]
      |    END) AS ws FROM tok)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter,
      |       CAST(len(a.ws) AS BIGINT) AS sz_a
      |FROM s a JOIN s b ON a.doc_id <> b.doc_id
      |WHERE 5 * len(list_intersect(a.ws, b.ws)) >= 3 * len(a.ws)
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------- label propagation

  /** Label-propagation communities ([[Graph.labelPropagation]]) over the
    * same scale-proportional deterministic graph as q_triangle_count
    * (constant average degree as sf grows). Five synchronous iterations,
    * exact (count desc, label asc) argmax — bit-identical at any
    * partitioning; the oracle replays every iteration. Output is the
    * community-size census.
    */
  private val labelPropQ: Q = (s, dir) => {
    Graph.labelPropagation(SynthGraph.edges(s, dir), "x", "y", iterations = 5)
      .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("label"))
  }
  private val labelPropSql = {
    // adj is read once per iteration and l$i once by round i+1 —
    // MATERIALIZED keeps DuckDB's CTE inlining from re-deriving the
    // edge set every round (the q_kcore lesson, linear case)
    val iters = (1 to 5).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT a.dst AS node, l.label, count(*) AS cnt
         |  FROM adj a JOIN l${i - 1} l ON a.src = l.node GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY cnt DESC, label) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthGraph.rawSql},
       |e AS MATERIALIZED (
       |  SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi
       |  FROM raw WHERE x <> y),
       |adj AS MATERIALIZED (SELECT lo AS src, hi AS dst FROM e
       |        UNION ALL SELECT hi, lo FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM adj),
       |$iters
       |SELECT label, CAST(count(*) AS BIGINT) AS n_members
       |FROM l5 GROUP BY label ORDER BY label""".stripMargin
  }

  // --------------------------------------------- signed random projection

  /** Deterministic signed random projection (JL/SimHash-style — Achlioptas
    * 2003, Charikar 2002 ±1 projections; public literature) of
    * int-quantized embeddings down to 16 components: proj[j] =
    * Σᵢ q[i]·sign(i,j), sign drawn from the parity of md5("i:j")'s first
    * hex digit — a seedless PRNG both engines reproduce bit-identically.
    * Exact integer sums; one row per (vec_id, component).
    *
    * At 100 TB: the dim×16 sign matrix is a broadcast join (the corpus is
    * never shuffled to meet it — PlanSpec-locked) and the (vec_id, j)
    * rollup combines map-side, so the only exchange carries 16 partial
    * sums per vector. This is the compaction step that turns a
    * 4 KB/vector corpus into a 128 B/vector sketch an ANN index can hold
    * in memory at 8× the vector count.
    */
  private val randomProjectionQ: Q = (s, dir) => {
    val evenHex = Seq("0", "2", "4", "6", "8", "a", "c", "e")
    val q = Registry.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), posexplode(VectorOps.quantize127(col("embedding")))
        .as(Seq("i", "qval")))
    val signs = q.select(col("i")).distinct()
      .select(col("i"), explode(sequence(lit(0), lit(15))).as("j"))
      .select(col("i"), col("j"),
        when(substring(md5(concat_ws(":", col("i"), col("j"))), 1, 1)
          .isin(evenHex: _*), lit(1L)).otherwise(lit(-1L)).as("sgn"))
    q.join(broadcast(signs), "i")
      .groupBy(col("vec_id"), col("j"))
      .agg(sum(col("qval") * col("sgn")).as("proj"))
      .orderBy(col("vec_id"), col("j"))
  }
  private val randomProjectionSql =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS sc
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
      |    CASE WHEN sc = 0 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(round(CAST(unnest(embedding) AS DOUBLE) * 127.0 / sc)
      |              AS BIGINT) END AS qval
      |  FROM s),
      |j AS (SELECT unnest(generate_series(0, 15)) AS j),
      |sg AS (
      |  SELECT i, j,
      |    CASE WHEN substring(md5(concat(CAST(i AS VARCHAR), ':',
      |           CAST(j AS VARCHAR))), 1, 1)
      |           IN ('0','2','4','6','8','a','c','e')
      |         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sgn
      |  FROM (SELECT DISTINCT i FROM q), j)
      |SELECT q.vec_id, CAST(sg.j AS INTEGER) AS j,
      |       CAST(sum(qval * sgn) AS BIGINT) AS proj
      |FROM q JOIN sg ON q.i = sg.i
      |GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin

  // ------------------------------------------------ shipping priority

  /** TPC-H-Q3-shaped revenue top-k: segment-filtered customers ⋈ orders
    * placed before a date ⋈ lineitems shipped after it, revenue summed
    * per order, top 10. Revenue in exact integer cent·percent units
    * (extendedprice·(100−discount)) so the hash gate compares integers.
    * The classic OLAP plan: both filters reach the scans, the customer
    * dim broadcasts, the two fact joins shuffle on their keys, and the
    * top-k is a TakeOrdered — no global sort. The one plan a Q3-shaped
    * query must have at any scale.
    */
  private val shippingPriorityQ: Q = (s, dir) => {
    // raw timestamp comparisons: a cast on the COLUMN would block
    // predicate pushdown to the parquet scan (PlanSpec-locked)
    val cutoff = lit("1995-06-30 00:00:00").cast("timestamp")
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      // customer scales with the corpus (unlike nation/region) — no
      // hint, so a 100× segment shuffles instead of failing the build
      .join(cust,
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).as("revenue"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate").cast("date"), "yyyy-MM-dd")
          .as("orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }
  private val shippingPrioritySql =
    """SELECT o_orderkey,
      |       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
      |       o_orderpriority,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |            * (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |         AS BIGINT) AS revenue
      |FROM customer
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-06-30 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-06-30 00:00:00'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  // ------------------------------------------------------------- k-core

  /** 3-core after 5 peel rounds ([[Graph.kCore]]) of the
    * q_triangle_count graph — the dense-subgraph extraction that
    * separates genuine duplicate clusters from chains of borderline
    * pairs in a near-dup graph. The oracle replays every round.
    */
  private val kcoreQ: Q = (s, dir) => {
    Graph.kCore(SynthGraph.edges(s, dir), "x", "y", k = 3, rounds = 5)
      .orderBy(col("node"))
  }
  // every e$i is referenced ~3× by round i+1; DuckDB INLINES CTEs by
  // default, which re-expands each round's edge set and turns the
  // 5-round replay into 3^5 evaluations of e0 (observed: temp-disk
  // exhaustion at sf0.1) — AS MATERIALIZED makes the replay linear
  private val kcoreSql = {
    val rounds = (1 to 5).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT lo AS node FROM e${i - 1}
         |    UNION ALL SELECT hi FROM e${i - 1})
         |  GROUP BY node),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= 3),
         |e$i AS MATERIALIZED (
         |  SELECT lo, hi FROM e${i - 1}
         |  WHERE lo IN (SELECT node FROM k$i)
         |    AND hi IN (SELECT node FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SynthGraph.rawSql},
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi
       |  FROM raw WHERE x <> y),
       |$rounds
       |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT lo AS node FROM e5 UNION ALL SELECT hi FROM e5)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  // ------------------------------------------------- feature hashing

  /** Hashing-trick vectorizer (Weinberger et al., ICML 2009 — public
    * literature): token term frequencies folded into 64 hash buckets per
    * document — the fixed-dimension sparse featurizer that needs no
    * vocabulary pass at all. The bucket is the first two md5 nibbles mod
    * 64, decoded via hex-char position lookup — pure string ops both
    * engines evaluate identically (no engine-specific hash function).
    * Pure map-side explode + ONE combinable (doc, bucket) count — at
    * 100 TB there is no vocabulary build, no dictionary broadcast, no
    * second pass; the one shuffle carries ≤64 rows per document.
    */
  private val featureHashQ: Q = (s, dir) => {
    val hex = "0123456789abcdef"
    val tf = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .withColumn("bucket",
        (((instr(lit(hex), substring(col("h"), 1, 1)) - 1) * 16 +
          instr(lit(hex), substring(col("h"), 2, 1)) - 1) % 64).cast("int"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
    tf.orderBy(col("doc_id"), col("bucket"))
  }
  private val featureHashSql =
    """WITH toks AS (
      |  SELECT doc_id,
      |         unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CAST(((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) % 64
      |      AS INTEGER) AS bucket
      |  FROM toks)
      |SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS tf
      |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin

  // --------------------------------------------- event sequence trigrams

  /** Top-10 event-type trigrams over per-user time-ordered event
    * sequences — the sequence-pattern census (session flows, behavioral
    * n-grams) a training pipeline mines before building sequence
    * features. (ts, event_id) is the total per-user order (ts alone has
    * ties — the §7 nondeterminism trap); trigram windows never leave the
    * user partition, the count combines map-side, and the top-10 is a
    * TakeOrdered under the (cnt desc, trigram asc) total order.
    */
  private val eventTrigramsQ: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"), col("event_type"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
    ev.select(concat_ws(">", col("event_type"), col("t1"), col("t2"))
        .as("trigram"))
      .groupBy(col("trigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("trigram"))
      .limit(10)
  }
  private val eventTrigramsSql =
    """WITH seq AS (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS t1,
      |    lead(event_type, 2) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS t2
      |  FROM events)
      |SELECT event_type || '>' || t1 || '>' || t2 AS trigram,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
      |GROUP BY 1 ORDER BY cnt DESC, trigram LIMIT 10""".stripMargin

  // ----------------------------------------------------- CUPED adjustment

  /** CUPED variance reduction (Deng et al., WSDM 2013 — public
    * literature): per-user pre-period covariate X (click spend) vs
    * outcome Y (purchase spend), θ = cov(X,Y)/var(X), and the fraction
    * of outcome variance the adjustment removes (ρ²). Sums are EXACT
    * integer cents (Long — map-side combinable at any partitioning);
    * the final scalars are computed from those integers with the
    * identical expression tree on both engines, so the doubles agree
    * bit-for-bit (the q_corr_stats pattern). One user-keyed shuffle +
    * one 1-row rollup — the whole experiment-analysis pass is two
    * combiner-friendly aggregations at any corpus size.
    */
  private val cupedQ: Q = (s, dir) => {
    val cents = round(col("value") * 100).cast("long")
    val u = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(col("event_type") === "click", cents)), lit(0L))
          .as("x"),
        coalesce(sum(when(col("event_type") === "purchase", cents)), lit(0L))
          .as("y"))
    val m = u.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val nd = d("n")
    val cov = nd * d("sxy") - d("sx") * d("sy")
    val vx = nd * d("sxx") - d("sx") * d("sx")
    val vy = nd * d("syy") - d("sy") * d("sy")
    m.select(col("n"), col("sx"), col("sy"),
      (cov / vx).as("theta"),
      (cov * cov / (vx * vy)).as("var_reduction"))
  }
  private val cupedSql =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'click'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS x,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT) AS y
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM u)
      |SELECT n, sx, sy,
      |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
      |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
      |  / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS var_reduction
      |FROM m""".stripMargin

  // ------------------------------------------------ streaming CDC upsert

  /** Events split into 4 parquet files (hash on event_id) so the
    * AvailableNow drain runs 4 real micro-batches — per-process staged
    * ([[Staging]]), once per source dir.
    */
  private def stagedUpsertDir(s: org.apache.spark.sql.SparkSession,
                              dir: String): String =
    Staging.cached(s"upsert:$dir") { tmp =>
      // rewrite through Tables.events: the loader owns the physical-type
      // normalization, so these files carry the canonical TIMESTAMP ts
      // that eventsRawSchema declares
      graft.Tables.events(s, dir)
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(tmp.toString)
      tmp.toString
    }

  /** Streaming CDC apply ([[graft.streaming.EventStream.runStreamUpsert]]):
    * 4 micro-batches foreachBatch-merged into an A/B parquet target,
    * latest event per user under the total (ts, event_id) order. The
    * merge is commutative, so the final table equals the batch
    * latest-per-key — the oracle.
    */
  private val streamUpsertQ: Q = (s, dir) => {
    graft.streaming.EventStream.runStreamUpsert(s, stagedUpsertDir(s, dir))
      .orderBy(col("user_id"))
  }
  private val streamUpsertSql =
    """SELECT user_id, event_id AS last_event_id,
      |       event_type AS last_type,
      |       CAST(round(value * 100) AS BIGINT) AS last_value_cents
      |FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC)
      |    AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // --------------------------------------- incremental aggregate (IVM)

  /** The stored aggregate state an incremental pipeline maintains: the
    * "history" slice (90% of orders) pre-aggregated once per process —
    * at scale this parquet IS the materialized view.
    */
  private def stagedBaseAggDir(s: org.apache.spark.sql.SparkSession,
                               dir: String): String =
    Staging.cached(s"ivmagg:$dir") { tmp =>
      val out = tmp.resolve("base_agg").toString
      Tables.orders(s, dir).filter(col("o_orderkey") % 10 =!= 0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Incremental view maintenance for a distributive aggregate: merge
    * the STORED per-group state with the delta batch's aggregate —
    * count/sum re-aggregate exactly (sum of counts, sum of sums), so
    * the merged view is bit-identical to a full recompute (the oracle)
    * without ever rescanning history. At 100 TB the delta is the new
    * partition (partition-pruned scan) and the stored state is
    * group-cardinality-sized — the view refresh cost is O(delta), not
    * O(table). The modulo split here simulates that partition boundary.
    */
  private val ivmAggQ: Q = (s, dir) => {
    val base = Tables.parquet(s, stagedBaseAggDir(s, dir))
    val delta = Tables.orders(s, dir).filter(col("o_orderkey") % 10 === 0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
    base.unionByName(delta)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_cents")).as("sum_cents"))
      .orderBy(col("o_orderpriority"))
  }
  private val ivmAggSql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ binned interval join

  /** Interval-overlap join on a calendar-day bin: per-(user, day)
    * activity spans [first, last] µs joined against 3 fixed 4-hour
    * maintenance windows per day. The non-equi overlap predicate RIDES
    * an equi-join on the day bin — the scalable interval-join shape
    * (never a theta join; the bin bounds candidate fan-out to
    * windows-per-day). Exact integer µs arithmetic end to end.
    */
  private val intervalJoinQ: Q = (s, dir) => {
    val usDay = 86400000000L
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"))
      .withColumn("day", expr(s"t div ${usDay}"))
    val sessions = ev.groupBy(col("user_id"), col("day"))
      .agg(min(col("t")).as("smin"), max(col("t")).as("smax"))
    val windows = sessions.select(col("day")).distinct()
      .withColumn("w", explode(sequence(lit(0), lit(2))))
      .select(col("day"), col("w"),
        (col("day") * usDay + col("w") * 28800000000L).as("wstart"))
      .withColumn("wend", col("wstart") + 14400000000L)
    sessions.join(windows, "day")
      .filter(col("smin") <= col("wend") && col("smax") >= col("wstart"))
      .select(col("user_id"), col("day"), col("w"))
      .orderBy(col("user_id"), col("day"), col("w"))
  }
  private val intervalJoinSql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) AS t, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, day, min(t) AS smin, max(t) AS smax
      |  FROM ev GROUP BY 1, 2),
      |w AS (SELECT unnest(generate_series(0, 2)) AS w),
      |windows AS (
      |  SELECT d.day, w.w,
      |         d.day * 86400000000 + w.w * 28800000000 AS wstart,
      |         d.day * 86400000000 + w.w * 28800000000 + 14400000000 AS wend
      |  FROM (SELECT DISTINCT day FROM sessions) d, w)
      |SELECT s.user_id, s.day, CAST(win.w AS INTEGER) AS w
      |FROM sessions s JOIN windows win ON s.day = win.day
      |WHERE s.smin <= win.wend AND s.smax >= win.wstart
      |ORDER BY s.user_id, s.day, w""".stripMargin

  // --------------------------------------------- HLL set intersection

  /** Sketch set-operations: customer audiences of two order-priority
    * classes intersected via inclusion–exclusion over HLL estimates
    * (|A∩B| ≈ |A| + |B| − |A∪B|) — the only way to intersect
    * cardinalities at 100 TB without re-scanning either side, since HLL
    * registers union losslessly but can't intersect directly. Exact
    * counts ride along and the oracle recomputes them; the estimate
    * must land within 15% of |A|+|B| (≫ 3σ of the three compounded
    * rsd=0.05 sketches — the bound boolean the oracle checks as a
    * constant). HLL register merge is commutative/idempotent, so every
    * value here is deterministic at any partitioning.
    */
  private val hllIntersectQ: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val a = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val b = o.filter(col("o_orderpriority") === "2-HIGH")
      .select(col("o_custkey"))
    val ests = a.agg(approx_count_distinct(col("o_custkey")).as("est_a"))
      .crossJoin(b.agg(approx_count_distinct(col("o_custkey")).as("est_b")))
      .crossJoin(a.union(b)
        .agg(approx_count_distinct(col("o_custkey")).as("est_u")))
    val exacts = a.intersect(b)
      .agg(count(lit(1)).as("exact_i"))
      .crossJoin(a.distinct().agg(count(lit(1)).as("exact_a")))
      .crossJoin(b.distinct().agg(count(lit(1)).as("exact_b")))
    // the estimate itself can't cross the hash gate (the oracle has no
    // HLL) — emit the exact counts plus the bound BOOLEAN, which the
    // oracle asserts as a constant (the q_ann_topk recall pattern)
    ests.crossJoin(broadcast(exacts))
      .select(col("exact_a"), col("exact_b"), col("exact_i"),
        (abs(col("est_a") + col("est_b") - col("est_u") - col("exact_i"))
          .cast("double") <=
          (col("exact_a") + col("exact_b")).cast("double") * 0.15)
          .as("within_bound"))
  }
  private val hllIntersectSql =
    """WITH a AS (SELECT o_custkey FROM orders
      |           WHERE o_orderpriority = '1-URGENT'),
      |b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'),
      |x AS (
      |  SELECT
      |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM a) AS exact_a,
      |    (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM b) AS exact_b,
      |    (SELECT CAST(count(*) AS BIGINT)
      |     FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b))
      |      AS exact_i)
      |SELECT exact_a, exact_b, exact_i, true AS within_bound FROM x""".stripMargin

  // ---------------------------------------------- equi-depth histogram

  /** Equi-depth (frequency-balanced) histogram: 10 deciles of order
    * totalprice with per-bucket count/min/max — the profiling summary a
    * query optimizer or data-quality pass wants where equi-WIDTH bins
    * (q_histogram) drown skewed tails. Built on the distributed ntile
    * ([[Tiling.ntileDistributed]] — bucketed prefix-offset ranking,
    * never an Exchange SinglePartition), so the profile of a 100 TB
    * column is two metadata collects + one partitioned window + one
    * combinable rollup.
    */
  private val equidepthHistQ: Q = (s, dir) => {
    Tiling.ntileDistributed(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        tiles = 10,
        rangeCol = col("o_totalprice"),
        orderCols = Seq(col("o_totalprice"), col("o_orderkey")),
        out = "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .orderBy(col("decile"))
  }
  private val equidepthHistSql =
    """SELECT decile, CAST(count(*) AS BIGINT) AS n,
      |       min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM (
      |  SELECT o_totalprice,
      |         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      |  FROM orders)
      |GROUP BY decile ORDER BY decile""".stripMargin

  // --------------------------------------- grouped / windowed sketches

  /** Per-GROUP Misra–Gries heavy hitters ([[graft.expr.FreqItemsAgg]]
    * as a grouped aggregate — one capacity-bounded sketch per source
    * domain): exact per-group top-3 tokens ride along and the emitted
    * booleans check each estimate against MG's provable bound
    * (true − n_g/(m+1) ≤ est ≤ true, n_g = the GROUP's token count) —
    * TRUE by theorem, stated as constants by the oracle. The grouped
    * form is the 100 TB shape for per-domain vocabulary profiling: one
    * mergeable O(capacity) sketch per key crosses the wire, never the
    * token multiset.
    */
  private val groupedHeavyHittersQ: Q = (s, dir) => {
    import org.apache.spark.sql.graftshim.GraftShim
    val toks = Registry.spread(Tables.documents(s, dir))
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
    val sk = GraftShim.column(
      graft.expr.FreqItemsAgg(GraftShim.expression(col("tok")), 64)
        .toAggregateExpression())
    val sketches = toks.groupBy(col("source"))
      .agg(sk.as("sk"), count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("tok"))
    val exact = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).drop("rk")
    val est = coalesce(element_at(col("sk"), col("tok")), lit(0L))
    exact.join(broadcast(sketches), "source") // group-cardinality-sized
      .select(col("source"), col("tok"), col("c"),
        (est <= col("c") &&
          est >= col("c") - ceil(col("n") / lit(65.0)).cast("long"))
          .as("within_bound"))
      .orderBy(col("source"), col("c").desc, col("tok"))
  }
  private val groupedHeavyHittersSql =
    """WITH tok AS (
      |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |  FROM documents),
      |cnt AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |top AS (
      |  SELECT source, tok, c FROM (
      |    SELECT source, tok, c, row_number() OVER (
      |      PARTITION BY source ORDER BY c DESC, tok) AS rk
      |    FROM cnt) WHERE rk <= 3)
      |SELECT source, tok, CAST(c AS BIGINT) AS c, TRUE AS within_bound
      |FROM top ORDER BY source, c DESC, tok""".stripMargin

  /** Distinct users per 6-hour event window via one HLL sketch per
    * window beside the exact count — |est − exact| must land within
    * max(2, 15%·exact) (≫ 3σ at rsd 0.05; constant-asserted by the
    * oracle). The windowed-sketch shape: at 100 TB/day the per-window
    * registers merge map-side and only KB-scale sketches shuffle.
    */
  private val windowHllQ: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(window(col("ts"), "6 hours")("start").as("bucket"),
        col("user_id"))
    ev.groupBy(col("bucket"))
      .agg(approx_count_distinct(col("user_id")).as("est"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("bucket"), col("exact_users"),
        (abs(col("est") - col("exact_users")).cast("double") <=
          greatest(lit(2.0), col("exact_users").cast("double") * 0.15))
          .as("within_bound"))
      .orderBy(col("bucket"))
  }
  private val windowHllSql =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       TRUE AS within_bound
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-GROUP quantile sketch: `percentile_approx` (Greenwald–Khanna,
    * accuracy 100 → rank error ≤ 1%) per returnflag beside the exact
    * interpolated median; each estimate must lie within the exact
    * [p48, p52] value envelope — true by the GK rank-error theorem
    * (1% ≪ the 2% envelope), constant-asserted by the oracle. The
    * grouped-mergeable form a 100 TB per-key profiling pass ships:
    * O(1/ε) summaries per key, never the values.
    */
  private val groupedQuantilesQ: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    // ONE exact-percentile aggregate for all three ranks: each
    // percentile(x, p) call keeps its own per-group value→count map, so
    // the 3-call form built and merged three identical 200k-entry maps
    // per group (§2.3 shuffle fewer bytes / §4.1 expression choice); the
    // array form computes identical interpolated values from one map.
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(l_extendedprice, array(0.5D, 0.48D, 0.52D))")
          .as("pcts"),
        expr("percentile_approx(l_extendedprice, 0.5, 100)").as("est"))
      .select(col("l_returnflag"), col("n"),
        round(element_at(col("pcts"), 1), 4).as("p50"),
        element_at(col("pcts"), 2).as("lo"),
        element_at(col("pcts"), 3).as("hi"), col("est"))
      .select(col("l_returnflag"), col("n"), col("p50"),
        (col("est") >= col("lo") && col("est") <= col("hi"))
          .as("within_bound"))
      .orderBy(col("l_returnflag"))
  }
  private val groupedQuantilesSql =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       TRUE AS within_bound
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- SimHash Hamming join

  /** SimHash near-dup JOIN within Hamming radius 3 (Manku/Jain/Sarma,
    * WWW 2007 — public literature): fingerprints band into 4×16-bit
    * blocks; by pigeonhole, two signatures within distance 3 agree
    * EXACTLY on at least one block (3 differing bits can't touch all 4),
    * so candidates equi-join on (band, block-value) and only survivors
    * pay the exact 64-bit Hamming verify — the all-pairs XOR never
    * exists. Signatures are the md5-variant SimHash
    * ([[TextOps.simHashMd5Hex]]) whose every bit the oracle rebuilds;
    * the verify sums per-nibble XOR popcounts via string lookups (no
    * 64-bit hex parsing — portable to any engine).
    *
    * At 100 TB: banding keys are 16-bit, so expected candidate volume
    * is 4·n²/2¹⁶ — at larger corpora widen the blocks (6×21 bits for
    * radius 5, etc.); the shape is unchanged. Everything is map-side
    * fingerprinting + one keyed self-join + per-pair O(16) verify.
    */
  /** (id_a, id_b, dist) pairs within Hamming radius 3 — the banded
    * candidate join + exact verify shared by q_simhash_join (pair list)
    * and q_simhash_radius_curve (radius histogram). The 4×16-bit
    * pigeonhole guarantees completeness ONLY for dist ≤ 3, so the
    * filter is part of the helper's contract.
    */
  private def simhashDistPairs(s: org.apache.spark.sql.SparkSession,
                               dir: String): DataFrame = {
    // signatures normalize to two 32-bit integer words per half right in
    // the signature frame: the banding keys become 16-bit ints (smaller
    // shuffle keys than 4-hex strings) and the per-pair verify is 4
    // XOR+bit_count word ops instead of 16 instr/substr nibble lookups —
    // the same exact Hamming distance (popcount distributes over word
    // slices), ~25% off the query at sf0.1
    val sig = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), TextOps.simHashMd5Hex(col("text")).as("sig"))
      .select(col("doc_id") +: (0 to 1).map(i =>
        conv(substring(col("sig"), 1 + 8 * i, 8), 16, 10).cast("long")
          .as(s"w$i")): _*)
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 to 3).map { b =>
        val w = col(s"w${b / 2}")
        (if (b % 2 == 0) shiftright(w, 16) else w.bitwiseAND(lit(0xffffL)))
          .cast("int")
      }: _*)).as(Seq("band", "bv")))
    val cand = bands.as("ba")
      .join(bands.as("bb"),
        col("ba.band") === col("bb.band") && col("ba.bv") === col("bb.bv") &&
          col("ba.doc_id") < col("bb.doc_id"))
      .select(col("ba.doc_id").as("id_a"), col("bb.doc_id").as("id_b"))
      .distinct()
    val dist = (0 to 1).map(i =>
      bit_count(col(s"wa$i").bitwiseXOR(col(s"wb$i")))).reduce(_ + _)
    val va = sig.select(col("doc_id").as("id_a") +:
      (0 to 1).map(i => col(s"w$i").as(s"wa$i")): _*)
    val vb = sig.select(col("doc_id").as("id_b") +:
      (0 to 1).map(i => col(s"w$i").as(s"wb$i")): _*)
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("dist", dist)
      .filter(col("dist") <= 3)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  private val simhashJoinQ: Q = (s, dir) =>
    simhashDistPairs(s, dir).orderBy(col("id_a"), col("id_b"))
  private val simhashJoinSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents),
      |bit AS (SELECT unnest(range(64)) AS b),
      |votes AS MATERIALIZED (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN ((strpos('0123456789abcdef',
      |            substr(md5(t), CAST(16 - b // 4 AS INT), 1)) - 1)
      |          >> (b % 4)) & 1 = 1
      |        THEN 1 ELSE -1 END) AS s
      |  FROM tok CROSS JOIN bit
      |  GROUP BY doc_id, b),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    sum(CASE WHEN s > 0 THEN 1::HUGEINT << CAST(b AS INT)
      |        ELSE 0 END) AS v
      |  FROM votes GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(CAST(xor(a.v, b.v) AS UBIGINT)) AS INTEGER)
      |         AS dist
      |FROM sig a JOIN sig b ON b.doc_id > a.doc_id
      |WHERE bit_count(CAST(xor(a.v, b.v) AS UBIGINT)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  /** Near-dup pair count as a function of the Hamming radius — the
    * SimHash sibling of q_ann_recall_curve / q_lsh_band_curve, and the
    * strongest-oracled member of the curve family: the radii nest
    * (dist ≤ 0 ⊆ ≤ 1 ⊆ ≤ 3) AND every count is exactly recomputable by
    * the oracle's all-pairs XOR, so all three cross the hash gate as
    * exact integers — no theorem booleans needed. One banded join
    * (complete for dist ≤ 3 by the 4×16-bit pigeonhole) feeds all three
    * counts; r = 0 is the exact-duplicate-fingerprint count, the knob's
    * floor.
    */
  private val simhashRadiusCurveQ: Q = (s, dir) =>
    simhashDistPairs(s, dir).agg(
      sum(when(col("dist") <= 0, 1L).otherwise(0L)).as("n_r0"),
      sum(when(col("dist") <= 1, 1L).otherwise(0L)).as("n_r1"),
      sum(when(col("dist") <= 3, 1L).otherwise(0L)).as("n_r3"))
  private val simhashRadiusCurveSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents),
      |bit AS (SELECT unnest(range(64)) AS b),
      |votes AS MATERIALIZED (
      |  SELECT doc_id, b,
      |    sum(CASE WHEN ((strpos('0123456789abcdef',
      |            substr(md5(t), CAST(16 - b // 4 AS INT), 1)) - 1)
      |          >> (b % 4)) & 1 = 1
      |        THEN 1 ELSE -1 END) AS s
      |  FROM tok CROSS JOIN bit
      |  GROUP BY doc_id, b),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    sum(CASE WHEN s > 0 THEN 1::HUGEINT << CAST(b AS INT)
      |        ELSE 0 END) AS v
      |  FROM votes GROUP BY doc_id),
      |d AS (
      |  SELECT bit_count(CAST(xor(a.v, b.v) AS UBIGINT)) AS dist
      |  FROM sig a JOIN sig b ON b.doc_id > a.doc_id)
      |SELECT CAST(sum(CASE WHEN dist <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_r0,
      |       CAST(sum(CASE WHEN dist <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_r1,
      |       CAST(sum(CASE WHEN dist <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_r3
      |FROM d""".stripMargin

  // ------------------------------------------- exact substring dedup

  /** Exact duplicated-substring detection (the ExactSubstr pass of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022 — public literature): every W-token window that occurs ≥ 2
    * times ANYWHERE in the corpus marks its span for removal; overlapping
    * or adjacent marked spans merge into maximal islands per document.
    * This is the member of the dedup family the shingle/MinHash operators
    * cannot express — they score DOCUMENT pairs, while this finds the
    * repeated REGIONS themselves (boilerplate headers, licence blocks,
    * wire-copy paragraphs) at token granularity, regardless of whether
    * the surrounding documents resemble each other at all.
    *
    * Shape, all equi-keyed: posexplode the per-doc sliding windows (the
    * corpus suffix-array of the paper becomes a distributed group-by —
    * same duplicates, shuffle-friendly); count per gram with map-side
    * combine; left-semi back to positions; per-doc island merge is a
    * doc_id-partitioned window (lag + running sum — no global sort).
    * W = 15 here; the gram JOIN KEY is the token string for oracle
    * exactness — at 100 TB swap it for a 128-bit fingerprint
    * (xxhash64 × 2 seeds) and the plan is unchanged while shuffle bytes
    * drop ~10×. Output: per-doc token counts, merged island count,
    * covered tokens, duplicated-window hits — the removal plan a
    * downstream rewrite pass applies.
    */
  private val SubW = 15
  private val substringDedupQ: Q = (s, dir) => {
    val docs = Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("nt", size(col("toks")).cast("long"))
    val grams = docs.filter(col("nt") >= SubW)
      .select(col("doc_id"),
        // compiled sliding-window kernel: same strings in the same order
        // as the HOF sequence+slice+concat_ws form (WordGramsSpec parity)
        posexplode(org.apache.spark.sql.graftshim.GraftShim.column(
          graft.expr.WordGrams(org.apache.spark.sql.graftshim.GraftShim
            .expression(col("toks")), SubW)))
          .as(Seq("off", "gram")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"),
        col("gram"))
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
    val hits = grams.join(dup, Seq("gram"), "left_semi")
    val perDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = hits
      .withColumn("prev", lag(col("pos"), 1).over(perDoc))
      .withColumn("ni", when(col("prev").isNull ||
        col("pos") > col("prev") + SubW, 1L).otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(
        perDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + SubW).as("e"),
        count(lit(1)).as("hits"))
    val stats = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("covered_tokens"),
        sum(col("hits")).as("dup_windows"))
    docs.select(col("doc_id"), col("nt").as("n_tokens"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
      .orderBy(col("doc_id"))
  }
  private val substringDedupSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |  FROM documents),
      |n AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens, l FROM tok),
      |g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         array_to_string(l[i:i+14], ' ') AS gram
      |  FROM n, LATERAL unnest(generate_series(1, n_tokens - 14)) AS t(i)
      |  WHERE n_tokens >= 15),
      |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
      |h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
      |i1 AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN lag(pos) OVER w IS NULL
      |           OR pos > lag(pos) OVER w + 15 THEN 1 ELSE 0 END AS ni
      |  FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |i2 AS (
      |  SELECT doc_id, pos, sum(ni) OVER (
      |    PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM i1),
      |sp AS (
      |  SELECT doc_id, isl, min(pos) AS s, max(pos) + 15 AS e,
      |         count(*) AS hits
      |  FROM i2 GROUP BY doc_id, isl),
      |st AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |         CAST(sum(e - s) AS BIGINT) AS covered_tokens,
      |         CAST(sum(hits) AS BIGINT) AS dup_windows
      |  FROM sp GROUP BY doc_id)
      |SELECT n.doc_id, n.n_tokens,
      |       coalesce(st.n_spans, 0) AS n_spans,
      |       coalesce(st.covered_tokens, 0) AS covered_tokens,
      |       coalesce(st.dup_windows, 0) AS dup_windows
      |FROM n LEFT JOIN st USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- PQ-compressed ANN (ADC)

  /** Product-quantization ANN with exact rerank — the memory-bound
    * serving shape that completes the ANN family (brute-force →
    * LSH-bucketed → IVF-partition-pruned → PQ-COMPRESSED): codebooks
    * trained by deterministic distributed Lloyd ([[VectorOps.pqTrain]] —
    * md5-seeded init, per-iteration driver traffic is the M·K centroid
    * table only), every vector encoded to M=16 4-bit codes (256 B float
    * vector → 8 B, 32× — the compression that fits billion-vector
    * indexes in RAM; 16 centroids per 4-dim subspace ≈ 1 bit/dim, the
    * resolution isotropic fixture vectors need — M=8 over 8-dim
    * subspaces measured ADC/true-distance correlation 0.63 and rerank
    * recall 5/10, M=16 measures 0.79 and 9–10/10), queries scanning ONLY
    * the code column via an ADC lookup table ([[VectorOps.pqAdcTopK]]).
    * The ADC shortlist (100) is exactly reranked to a top-10; output is
    * the recall-vs-exact boolean summary (same contract and reason as
    * q_ann_topk/q_ann_ivf: the approximate structure is engine-local,
    * the CLAIM — rerank recovers exact-search quality from a 32× smaller
    * scan — is what the gate checks; asserted ≥ 0.8). The rerank budget
    * is a corpus FRACTION (10%, floor 100) — the production ADC knob:
    * measured recall@10 is 9–10/10 at every SF with it, while a fixed
    * 100 drops to 7/10 once the corpus quadruples (sf0.1).
    */
  private val annPqQ: Q = (s, dir) => {
    val base = Tables.corpus(s, dir)
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val model = VectorOps.pqTrain(base, "vec_id", "embedding",
      m = 16, dim = 64, k = 16, iters = 3)
    val codes = VectorOps.pqEncode(base, "vec_id", "embedding", model)
    val budget = math.max(100L, base.count() / 10).toInt
    val shortlist = VectorOps.pqAdcTopK(codes, model, qv, k = budget)
    def l2(v: Column): Column =
      VectorOps.l2sq(v, typedLit(qv.map(_.toDouble)))
    val reranked = shortlist
      .join(base.select(col("vec_id").as("vid"), col("embedding")), "vid")
      .select(col("vid"), l2(col("embedding")).as("d2"))
      .orderBy(col("d2").asc, col("vid").asc).limit(10)
    val exact = base
      .select(col("vec_id").as("vid"), l2(col("embedding")).as("d2"))
      .orderBy(col("d2").asc, col("vid").asc).limit(10)
    exact.join(reranked.select(col("vid")), Seq("vid"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(10).as("k"), lit(16).as("m_subspaces"),
        lit(16).as("k_centroids"),
        (col("n_hit") >= 8).as("recall_ge_08"))
  }
  private val annPqSql =
    """SELECT 10 AS k, 16 AS m_subspaces, 16 AS k_centroids,
      |       TRUE AS recall_ge_08""".stripMargin

  // ---------------------------------------- hashed linear quality model

  /** Model-based quality scoring — the fasttext-shaped third member of
    * the quality-gate family (q_quality_score = hand rules,
    * q_quality_logprob = LM perplexity, THIS = linear classifier over
    * hashed features, the CCNet/corpus-curation standard): each token
    * indexes a 2¹⁶-dim hashed weight vector (the hashing trick — no
    * vocabulary pass), the document score is the mean token weight in
    * exact integer micro-units, and the accept decision is a threshold
    * on that score. The weight of a token is derived from md5 so BOTH
    * engines materialize the identical model without shipping one
    * (deterministic stand-in for trained weights — the plan is what
    * carries: per-token weight lookup, per-doc mean, threshold).
    *
    * 100 TB shape: ZERO shuffle — the entire scoring is one map-side
    * pass (per-doc fold over the token array; a real trained model swaps
    * the md5 derivation for a broadcast array lookup, plan unchanged).
    * Output order is the only exchange.
    */
  private val qualityClassifierQ: Q = (s, dir) => {
    def w(t: Column): Column =
      (conv(substring(md5(concat(lit("qw|"), t)), 1, 4), 16, 10)
        .cast("long") - 32768L)
    val toks = TextOps.tokens(col("text"))
    Registry.spread(Tables.documents(s, dir))
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L), (acc, t) => acc + w(t)).as("wsum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("wsum div n_tokens").as("score_micro"),
        (expr("wsum div n_tokens") > 0L).as("accept"))
      .orderBy(col("doc_id"))
  }
  private val qualityClassifierSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
      |  FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    CAST(CAST('0x' || substr(md5('qw|' || t), 1, 4) AS INTEGER)
      |      AS BIGINT) - 32768 AS wt
      |  FROM tok),
      |d AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(sum(wt) AS BIGINT) AS wsum
      |  FROM w GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |       wsum // n_tokens AS score_micro,
      |       wsum // n_tokens > 0 AS accept
      |FROM d ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ IVF+PQ combined ANN

  /** IVF-PQ serving index, staged once per (process, fixture). The
    * coarse quantizer is THE SAME staged IVF index q_ann_ivf probes
    * ([[Registry.stageIvf]]) — one index, two scan modes (exact floats
    * there, PQ codes here), exactly how a production deployment layers
    * compression onto an existing partitioning. Every vector is
    * PQ-encoded to M=16 4-bit codes
    * ([[VectorOps.pqTrain]]/[[VectorOps.pqEncode]]) and the CODES
    * written `partitionBy(centroid)` — the physical layout where a probe
    * reads nProbe directories of byte codes and never touches a float.
    */
  private[queries] def stageIvfPq(s: org.apache.spark.sql.SparkSession, dir: String)
      : (String, Array[Array[Double]], VectorOps.PqModel) =
    Staging.cached(s"ivfpq:$dir") { tmp =>
      val (ivfPath, centroids) = Registry.stageIvf(s, dir)
      val assigned = Tables.parquet(s, ivfPath)
      val model = VectorOps.pqTrain(assigned, "vec_id", "embedding",
        m = 16, dim = 64, k = 16, iters = 3)
      val codes = VectorOps.pqEncode(assigned, "vec_id", "embedding", model)
      val path = tmp.resolve("ivfpq").toString
      codes
        .join(assigned.select(col("vec_id").as("vid"), col("centroid")),
          "vid")
        .write.partitionBy("centroid").mode("overwrite").parquet(path)
      (path, centroids, model)
    }

  /** IVF-PQ ANN — the two scale mechanisms COMPOSED, which is the layout
    * every production billion-vector index actually ships (Jégou et al.,
    * TPAMI 2011 §V "IVFADC"; and the layout of FAISS's IndexIVFPQ —
    * public literature/API): IVF partition pruning bounds the fraction
    * of the corpus a query touches (here 6 of 8 centroid directories —
    * PartitionFilters in the scan, asserted in PlanSpec), and PQ bounds
    * the bytes per touched vector (8 B of codes vs 256 B of floats).
    * The ADC shortlist (10% of the corpus, floor 100 — the same budget
    * knob as q_ann_pq) is exactly reranked to a top-10 against the float
    * vectors of the SHORTLIST ONLY. Output is the recall-vs-exact
    * boolean summary (same contract and reason as the other three ANN
    * queries: the structure is approximate by design and engine-local;
    * the CLAIM — pruned-and-compressed probe recovers exact-search
    * quality — is what the gate checks, asserted ≥ 0.8). nProbe = 7:
    * the isotropic fixture puts true neighbors nearly uniformly across
    * cells, so compounded IVF+PQ recall tracks the probed fraction —
    * 6 probes measured 7/10 under the gate's session settings, 7 probes
    * 9–10/10 at every SF (at corpus scale the cell count grows to
    * thousands and the probed FRACTION shrinks; the compounding is the
    * same).
    */
  private val annIvfPqQ: Q = (s, dir) => {
    val (path, centroids, model) = stageIvfPq(s, dir)
    val base = Tables.corpus(s, dir)
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val probes = VectorOps.nearestCentroids(centroids, qv, nProbe = 7)
    val codes = Tables.parquet(s, path)
      .filter(col("centroid").isin(probes: _*))
    val budget = math.max(100L, base.count() / 10).toInt
    val shortlist = VectorOps.pqAdcTopK(codes, model, qv, k = budget)
    def l2(v: Column): Column =
      VectorOps.l2sq(v, typedLit(qv.map(_.toDouble)))
    val reranked = shortlist
      .join(base.select(col("vec_id").as("vid"), col("embedding")), "vid")
      .select(col("vid"), l2(col("embedding")).as("d2"))
      .orderBy(col("d2").asc, col("vid").asc).limit(10)
    val exact = base
      .select(col("vec_id").as("vid"), l2(col("embedding")).as("d2"))
      .orderBy(col("d2").asc, col("vid").asc).limit(10)
    exact.join(reranked.select(col("vid")), Seq("vid"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(10).as("k"), lit(7).as("n_probe"),
        lit(16).as("m_subspaces"), (col("n_hit") >= 8).as("recall_ge_08"))
  }
  private val annIvfPqSql =
    """SELECT 10 AS k, 7 AS n_probe, 16 AS m_subspaces,
      |       TRUE AS recall_ge_08""".stripMargin

  // ------------------------------------------- canonical-doc dedup

  /** Near-dup dedup with CANONICAL-REPRESENTATIVE selection — the step
    * every production dedup pass runs after clustering and that the
    * registry's dedup family stopped short of: MinHash-LSH near-dup
    * pairs (exact-verified Jaccard ≥ 1/2 — the q_minhash_lsh space) →
    * connected components ([[Dedup.connectedComponentsAuto]]) → per
    * cluster KEEP THE BEST member by the integer quality score
    * ([[TextOps.qualityPoints]] — the q_quality_score scorer), ties to
    * the smallest doc_id. "Keep min id" (q_semantic_dedup's rule) drops
    * whichever duplicate happened to arrive first; keep-best is the rule
    * curation pipelines actually want — dedup becomes a quality FILTER.
    *
    * Output: one row per non-singleton cluster (cluster id = min member,
    * member count, kept doc, kept doc's points). 100 TB shape: banded
    * join for pairs, O(log n) CC rounds, one hash agg for the argmax
    * (struct-max, no window) — every stage keyed, nothing quadratic.
    * Oracle: exact all-pairs Jaccard + recursive-CTE closure + the same
    * integer scorer, argmax via row_number.
    */
  private val dedupKeepBestQ: Q = (s, dir) => {
    val docs = Registry.spread(Tables.documents(s, dir))
    val pairs = TextOps.minHashNearDups(docs, "doc_id", "text",
      shingleN = 3, k = 32, bands = 16, threshold = 0.5)
    val clusters = Dedup.connectedComponentsAuto(pairs, "id_a", "id_b")
    val quality = docs.select(col("doc_id"),
      TextOps.qualityPoints(col("text")).as("q_points"))
    clusters
      .join(quality, col("id") === col("doc_id"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q_points").as("qp"), (-col("doc_id")).as("nid")))
          .as("best"))
      .select(col("cluster"), col("n_members"),
        (-col("best.nid")).as("kept_doc"), col("best.qp").as("kept_q"))
      .orderBy(col("cluster"))
  }
  private val dedupKeepBestSql = {
    val stopList = TextOps.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    s"""WITH RECURSIVE tok AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE [array_to_string(toks[i:i+2], ' ')
       |               for i in range(1, len(toks) - 1)]
       |    END) AS sh FROM tok),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id
       |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5),
       |edges AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
       |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       |qc AS (
       |  SELECT doc_id, length(text) AS n_chars,
       |    len(string_split_regex(trim(text), '\\s+')) AS n_tok,
       |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
       |    len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
       |        [$stopList])) AS stop_hits
       |  FROM documents),
       |qq AS (
       |  SELECT doc_id,
       |    ${TextOps.qualityPointsSql("n_chars", "n_tok", "punct", "stop_hits")}
       |    AS q_points FROM qc),
       |j AS (
       |  SELECT cl.cluster, cl.id AS doc_id, qq.q_points,
       |    row_number() OVER (PARTITION BY cl.cluster
       |      ORDER BY qq.q_points DESC, cl.id ASC) AS rn
       |  FROM cl JOIN qq ON qq.doc_id = cl.id)
       |SELECT cluster, count(*) AS n_members,
       |       max(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
       |       max(CASE WHEN rn = 1 THEN q_points END) AS kept_q
       |FROM j GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  // ----------------------- LSH band-bucket skew cap (r12 item 4)
  /** q_lsh_bucket_cap — the degenerate-bucket guard for the banded
    * MinHash join ([[TextOps.minHashNearDupsCapped]]), gated on a
    * corpus WITH an injected degenerate class: the documents table (even
    * ids — the gate's subject is the cap, not corpus size) plus 64
    * byte-identical short docs (ids 10M+). All 64 share one MinHash
    * signature, so every one of the 16 bands produces one 64-row bucket
    * — exactly the empty-text/template skew that stalls an uncapped
    * (band, bucket) self-join at scale. With maxBucket = 32 (above the
    * base corpus's observed max of 14 at sf0.1, far below 64) the row
    * gates:
    *
    *  - `n_capped_buckets` = 16, `n_overflow_rows` = 16 × 64 = 1024 —
    *    the cap ENGAGED, and only on the injected class (oracle
    *    constants; a base bucket tripping the cap would break both);
    *  - `n_pairs_capped` = basePairs + 63 (the degenerate class
    *    linearized to its verified star) vs `n_pairs_uncapped` =
    *    basePairs + C(64,2) = basePairs + 2016, with basePairs
    *    recomputed by DuckDB as the EXACT all-pairs Jaccard count —
    *    base-corpus pair recall is exactly 1 under the cap, and the
    *    2016-row clique never materializes;
    *  - `clusters_equal`: connected components over capped pairs equal
    *    components over uncapped pairs — the dedup DECISION (keep one
    *    per cluster) is unchanged, which is the recall that matters
    *    (proved with ONE CC pass + a subset check + an intra-cluster
    *    check on the uncapped-only edges — see the in-body soundness
    *    comment; r13 item 4);
    *  - `n_clusters`: hash-gated against DuckDB's recursive-CTE
    *    transitive closure over the exact pair graph.
    */
  private val lshBucketCapQ: Q = (s, dir) => {
    val degens = s.range(64).select(
      (lit(10000000L) + col("id")).as("doc_id"),
      lit("zz zz zz zz").as("text"))
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") % 2 === 0) // half corpus: the gate's subject
      .select(col("doc_id"), col("text"))   // is the cap, not corpus size
      .unionByName(degens)
    // Signature-pass sharing between the capped and uncapped paths was
    // probed BOTH ways this round and reverted (§1.1 empirical loop):
    // a shared materialized (id, sig, sh) frame re-measured +34% task
    // CPU (checkpoints store whole rows — the narrow band-key consumers
    // deserialized the shingle payload they never read), and even the
    // narrow shared (id, sig) frame, a win on COLD paired probes
    // (7.31 → 5.68 s), regressed the warm full-registry run
    // (4.2 → 5.1/5.5/6.6 s growing reps: one more localCheckpoint per
    // rep churns block storage faster than the periodic cleaner drains
    // it, the q_triangle_count/entry-12 signature) — and warm full-run
    // conditions are the driver's. The uncapped path's inline recompute
    // of the signature projection is cheap once the kernels are
    // JIT-warm; the verify itself is the compiled jaccard kernel now.
    val (cappedRaw, cappedBuckets) = TextOps.minHashNearDupsCapped(
      docs, "doc_id", "text", shingleN = 3, k = 32, bands = 16,
      threshold = 0.5, maxBucket = 32)
    val capped = cappedRaw.transform(Staging.materialize)
    val uncapped = TextOps.minHashNearDups(docs, "doc_id", "text",
      shingleN = 3, k = 32, bands = 16, threshold = 0.5)
      .transform(Staging.materialize)
    // cluster equality via ONE CC pass (r13 verdict item 4; was two —
    // the gate's own verification harness dominated its bench cost).
    // Sound because capped pairs ⊆ uncapped pairs structurally (every
    // star/exemplar pair shares its over-cap (band, bucket) with the
    // uncapped all-vs-all, and verify is the same exact Jaccard) — so
    // CC(uncapped) == CC(capped) iff (a) that subset relation really
    // holds (extraCapped empty: edges only ever merge components) and
    // (b) every uncapped-only edge lands INSIDE one CC(capped) cluster
    // (an edge between clusters — or touching a node capped never
    // paired — would merge them).
    val ccCapped = Dedup.connectedComponentsAuto(capped, "id_a", "id_b")
      .transform(Staging.materialize)
    val cap2 = capped.select(col("id_a"), col("id_b"))
    val un2 = uncapped.select(col("id_a"), col("id_b"))
    val extraCapped = cap2.exceptAll(un2)
    val crossCluster = un2.exceptAll(cap2)
      .join(ccCapped.select(col("id").as("id_a"), col("cluster").as("ca")),
        Seq("id_a"), "left")
      .join(ccCapped.select(col("id").as("id_b"), col("cluster").as("cb")),
        Seq("id_b"), "left")
      .filter(col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb"))
    val clustersEqual = extraCapped.isEmpty && crossCluster.isEmpty
    val overflowRows = cappedBuckets.agg(
      coalesce(sum(col("n")), lit(0L))).head().getLong(0)
    s.range(1).select(
      lit(cappedBuckets.count()).as("n_capped_buckets"),
      lit(overflowRows).as("n_overflow_rows"),
      lit(capped.count()).as("n_pairs_capped"),
      lit(uncapped.count()).as("n_pairs_uncapped"),
      lit(clustersEqual).as("clusters_equal"),
      lit(ccCapped.select(col("cluster")).distinct().count())
        .as("n_clusters"))
  }
  private val lshBucketCapSql =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT CAST(10000000 + t AS BIGINT) AS doc_id,
      |         'zz zz zz zz' AS text
      |  FROM (SELECT unnest(range(64)) AS t)),
      |tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM docs),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE [array_to_string(toks[i:i+2], ' ')
      |               for i in range(1, len(toks) - 1)]
      |    END) AS sh FROM tok),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON b.doc_id > a.doc_id
      |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5),
      |basep AS (SELECT count(*) AS n FROM pairs
      |          WHERE id_a < 10000000 AND id_b < 10000000),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
      |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
      |SELECT CAST(16 AS BIGINT) AS n_capped_buckets,
      |  CAST(1024 AS BIGINT) AS n_overflow_rows,
      |  CAST((SELECT n FROM basep) + 63 AS BIGINT) AS n_pairs_capped,
      |  CAST((SELECT n FROM basep) + 2016 AS BIGINT) AS n_pairs_uncapped,
      |  TRUE AS clusters_equal,
      |  CAST((SELECT count(DISTINCT cluster) FROM cl) AS BIGINT)
      |    AS n_clusters""".stripMargin

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_lsh_bucket_cap", lshBucketCapQ, Some(lshBucketCapSql)),
    ("q_simjoin_prefix", simjoinPrefixQ, Some(simjoinPrefixSql)),
    ("q_containment_join", containmentJoinQ, Some(containmentJoinSql)),
    ("q_label_prop", labelPropQ, Some(labelPropSql)),
    ("q_random_projection", randomProjectionQ, Some(randomProjectionSql)),
    ("q_shipping_priority", shippingPriorityQ, Some(shippingPrioritySql)),
    ("q_kcore", kcoreQ, Some(kcoreSql)),
    ("q_feature_hash", featureHashQ, Some(featureHashSql)),
    ("q_event_trigrams", eventTrigramsQ, Some(eventTrigramsSql)),
    ("q_cuped", cupedQ, Some(cupedSql)),
    ("q_stream_upsert", streamUpsertQ, Some(streamUpsertSql)),
    ("q_ivm_agg", ivmAggQ, Some(ivmAggSql)),
    ("q_interval_join", intervalJoinQ, Some(intervalJoinSql)),
    ("q_hll_intersect", hllIntersectQ, Some(hllIntersectSql)),
    ("q_equidepth_hist", equidepthHistQ, Some(equidepthHistSql)),
    ("q_grouped_heavy_hitters", groupedHeavyHittersQ,
      Some(groupedHeavyHittersSql)),
    ("q_window_hll", windowHllQ, Some(windowHllSql)),
    ("q_grouped_quantiles", groupedQuantilesQ, Some(groupedQuantilesSql)),
    ("q_simhash_join", simhashJoinQ, Some(simhashJoinSql)),
    ("q_simhash_radius_curve", simhashRadiusCurveQ, Some(simhashRadiusCurveSql)),
    ("q_substring_dedup", substringDedupQ, Some(substringDedupSql)),
    ("q_ann_pq", annPqQ, Some(annPqSql)),
    ("q_quality_classifier", qualityClassifierQ, Some(qualityClassifierSql)),
    ("q_ann_ivfpq", annIvfPqQ, Some(annIvfPqSql)),
    ("q_dedup_keep_best", dedupKeepBestQ, Some(dedupKeepBestSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
