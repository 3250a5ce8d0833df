package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact deduplication operators.
  *
  * Latest-record-per-key mirrors the reference's sort+drop_duplicates idiom
  * (`usda_branded_food_data_pipeline.py:68-69`: sort by (gtin_upc asc,
  * fdc_id desc), keep first per gtin_upc == keep max fdc_id per key).
  *
  * Scale notes: [[latestPerKeyAgg]] is a `max_by` hash aggregate — one
  * shuffle on the key columns with a map-side combine, where a window
  * `row_number` form would sort every partition. The window form is kept
  * only as the test-side reference it is compared against.
  */
object Dedup {

  /** Keep the single row per key that maximizes `orderCols` — the
    * lexicographic keep-rule (struct comparison); deterministic, unlike
    * `dropDuplicates`, whenever `orderCols` is unique within a key — as a
    * `max_by` hash aggregate: (key, max-by payload) with map-side combine.
    */
  def latestPerKeyAgg(df: DataFrame, keys: Seq[String],
                      orderCols: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, struct(orderCols: _*)).as("__row"))
      .select(col("__row.*"))
  }

  /** Exact duplicate removal over a chosen column set (hash-groupBy). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Incremental EXACT dedup of a new batch against a (huge) history:
    * returns the batch rows whose `fpCol` does NOT already occur in
    * history. Semantics are exactly `batch ANTI JOIN history ON fp` —
    * but the history side is never shuffled. A Bloom filter over the
    * BATCH keys (built with the distributed partial-merge aggregate that
    * powers Spark's own runtime filters) is applied map-side to the
    * history scan; only the candidate rows that might match (dup hits +
    * a fpp-bounded trickle of false positives) survive to the exact
    * confirm join, which broadcasts them. Bloom false positives are
    * removed by the confirm join; false negatives don't exist — the
    * result is exact, so it's value-oracle-able as a plain anti join.
    *
    * At 100 TB of history and a millions-row batch this is the
    * difference between a full-history shuffle and a map-only scan: the
    * filter is a bounded artifact (~1.2 bytes/key at the default bits),
    * the broadcast is ~batch-sized. `expectedBatchKeys` sizes the
    * filter; oversizing costs bytes, undersizing costs only extra
    * confirm-join work (false-positive rate rises, results unchanged).
    *
    * The candidate broadcast is sized by the BATCH key count — a batch
    * beyond `maxBloomKeys` would turn it into a driver/broadcast OOM
    * cliff, so such batches take a plain shuffled anti join instead
    * (slower: the history side shuffles; but graceful, and semantically
    * identical). The gate is derived from the batch ITSELF, not trusted
    * from `expectedBatchKeys`: the eager aggregation that builds the
    * filter also counts the batch's approximate distinct keys in the same
    * pass, and an actual count past the budget falls back even when the
    * caller's (default 1M) estimate claimed otherwise. A declared-large
    * estimate still short-circuits before the eager job. NOTE the bloom
    * path runs an eager aggregation job at CALL time (the filter bytes
    * must exist to embed in the plan); the fallback path stays fully lazy.
    */
  def incrementalDedup(batch: DataFrame, history: DataFrame, fpCol: String,
                       expectedBatchKeys: Long = 1L << 20,
                       maxBloomKeys: Long = 64L << 20): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    if (expectedBatchKeys > maxBloomKeys)
      // ~1.2 B/key: 64M keys ≈ 77 MB of plan literal + a comparable
      // broadcast — past any sane driver budget, shuffle instead
      return batch.join(history.select(col(fpCol)), Seq(fpCol), "left_anti")
    val bloomAgg = GraftShim.column(
      new BloomFilterAggregate(GraftShim.expression(xxhash64(col(fpCol))),
        expectedBatchKeys).toAggregateExpression())
    // one binary row + one count — bounded like a broadcast artifact, not
    // data; the approx count (±2% default rsd) rides the same job, so the
    // real-size check costs no extra pass
    val head = batch.agg(bloomAgg.as("bf"),
      approx_count_distinct(col(fpCol)).as("n")).head()
    val filterBytes = head.getAs[Array[Byte]](0)
    if (filterBytes == null) return batch // empty batch: nothing to dedup
    // 10% slack: approx_count_distinct error must not flap the gate at
    // exactly-at-budget sizes — anywhere near the cliff, shuffle
    if (head.getLong(1) > maxBloomKeys - maxBloomKeys / 10)
      return batch.join(history.select(col(fpCol)), Seq(fpCol), "left_anti")
    val mightContain = GraftShim.column(BloomFilterMightContain(
      Literal(filterBytes, org.apache.spark.sql.types.BinaryType),
      GraftShim.expression(xxhash64(col(fpCol)))))
    val candidates = history.filter(mightContain).select(col(fpCol)).distinct()
    batch.join(broadcast(candidates), Seq(fpCol), "left_anti")
  }

  /** Connected components over an undirected pair list (near-dup
    * candidate pairs → dedup clusters): iterative min-label propagation
    * to a fixpoint. Each node ends labeled with the smallest id in its
    * component — the canonical "cluster representative" for near-dup
    * collapse.
    *
    * Scale shape: every iteration is one keyed join + one min-aggregate
    * (two shuffles), converging in O(component diameter) rounds — near-dup
    * clusters are tiny (pairs chained through a few shared neighbors), so
    * 2-4 rounds in practice. Each round's result is `localCheckpoint`ed:
    * iterative DataFrames MUST cut lineage per round or the logical plan
    * doubles every iteration (plan-string rendering alone goes
    * exponential). On a real cluster prefer `checkpoint` to a reliable
    * store (survives executor loss); for adversarial diameters swap in
    * the large-star/small-star variant (same per-round shape, O(log n)
    * rounds).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame =
    connectedComponentsCounted(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] + whether it converged within `maxIter`
    * (drives the hybrid's fallback decision).
    */
  def connectedComponentsCounted(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): (DataFrame, Boolean) = {
    val edges = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .union(pairs.select(col(bCol).as("a"), col(aCol).as("b")))
      .distinct()
      .transform(Staging.materialize)
    // labels only ever decrease, so Σ labels strictly decreases until the
    // fixpoint — an O(1)-output scalar observed in each round's
    // materializing job instead of a join-based diff (decimal sum: exact
    // at any id magnitude/parallelism). An empty pair set observes null
    // twice and converges on round 1.
    val labelSum = sum(col("cluster").cast(DecimalType(38, 0)))
    var (labels, prevSum) = Staging.materializeObserving(
      edges.select(col("a").as("id")).distinct().withColumn("cluster", col("id")),
      labelSum)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // push each node's label to its neighbors, keep the min seen
      val (prop, s) = Staging.materializeObserving(
        labels.join(edges, col("id") === col("a"))
          .select(col("b").as("id"), col("cluster"))
          .union(labels)
          .groupBy(col("id")).agg(min(col("cluster")).as("cluster")),
        labelSum)
      converged = s == prevSum
      prevSum = s
      labels = prop
      iter += 1
    }
    (labels, converged)
  }

  /** Hybrid CC: min-label propagation for up to `propRounds` rounds —
    * the cheap path (2 shuffles/round) that finishes near-dup graphs
    * (diameter 2-4) — falling back to [[connectedComponentsStar]] when
    * the graph turns out deep, bounding the worst case at O(log n)
    * rounds. The wasted propagation on adversarial shapes is a constant
    * `propRounds` of the cheaper round type.
    */
  def connectedComponentsAuto(pairs: DataFrame, aCol: String, bCol: String,
                              propRounds: Int = 6,
                              maxIter: Int = 50): DataFrame =
    connectedComponentsAutoCounted(pairs, aCol, bCol, propRounds, maxIter)._1

  /** [[connectedComponentsAuto]] + (fellBack, starRounds) — the hybrid's
    * observable worst-case bound (propRounds propagation rounds, then
    * ≤ ~2·log₂ n star rounds) is asserted end-to-end in OpsSpec.
    */
  def connectedComponentsAutoCounted(
      pairs: DataFrame, aCol: String, bCol: String,
      propRounds: Int = 6, maxIter: Int = 50): (DataFrame, Boolean, Int) = {
    // pairs may be an expensive upstream (e.g. a verified near-dup
    // join) — materialize once so a fallback never recomputes it
    val p = pairs.transform(Staging.materialize)
    val (labels, converged) =
      connectedComponentsCounted(p, aCol, bCol, propRounds)
    if (converged) (labels, false, 0)
    else {
      val (starLabels, rounds) =
        connectedComponentsStarCounted(p, aCol, bCol, maxIter)
      (starLabels, true, rounds)
    }
  }

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — O(log n) rounds on ANY graph shape, vs min-label
    * propagation's O(diameter): a near-dup chain of length d needs d
    * propagation rounds but only ~log₂ d star rounds, because each
    * large-star hop re-points whole neighborhoods at their minimum
    * (pointer-doubling-style contraction).
    *
    * Per round: two groupBy+join passes (large-star then small-star),
    * each one hash shuffle on the center node — same per-round shape as
    * propagation, exponentially fewer rounds. Convergence detected by an
    * O(1) edge-set checksum (count + exact decimal hash-sum); each round
    * `localCheckpoint`s to cut lineage (same requirement as above).
    *
    * Output: (id, cluster) — every node labeled with its component's
    * minimum id; identical contract to [[connectedComponents]].
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 50): DataFrame =
    connectedComponentsStarCounted(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponentsStar]] + the number of alternation rounds it
    * took (for convergence-bound tests).
    */
  def connectedComponentsStarCounted(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): (DataFrame, Int) = {
    // large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    // Every emitted edge has a > b (m ≤ u < v), so no self-loops. NO
    // distinct here: the duplicates it would remove are invisible to
    // small-star's min-aggregate, and small-star dedups the round's
    // output — one shuffle per phase saved.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min(col("b")).as("mb"))
        .select(col("a").as("u"), least(col("mb"), col("a")).as("m"))
      sym.join(mins, col("a") === col("u"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    // small-star(u): orient edges large→small; m = min(N(u) ∪ {u});
    // emit (v, m) for v ∈ N(u) ∪ {u}, dropping the (m, m) self-loop.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("a"),
                         least(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b"))
      val mins = dir.groupBy("a").agg(min(col("b")).as("m"))
      dir.join(mins, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // O(1) set checksum: (|E|, Σ xxhash64(a,b) as exact decimal),
    // observed in each round's materializing job — labels don't
    // monotonically shrink here (edges are rewritten, not relaxed), so
    // the propagation variant's Σ-label test doesn't apply.
    val checksum = Seq(count(lit(1)),
      sum(xxhash64(col("a"), col("b")).cast(DecimalType(38, 0))))

    val nodes = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id")))
      .distinct()
      .transform(Staging.materialize)
    var (edges, prev) = Staging.materializeObserving(pairs
      .select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct(), checksum: _*)
    var iter = 0
    var converged = prev.getLong(0) == 0L // all input pairs were self-loops
    while (!converged && iter < maxIter) {
      val (next, s) =
        Staging.materializeObserving(smallStar(largeStar(edges)), checksum: _*)
      // checksum equality is necessary but not sufficient (a ~2^-64
      // 64-bit sum collision between distinct consecutive edge sets
      // would stop early with wrong labels) — confirm the fixpoint with
      // ONE exact set-difference check, paid only on the round the
      // checksum first repeats: counts match and both sides are distinct
      // sets, so one-sided emptiness ⇒ equality.
      converged = s == prev && next.exceptAll(edges).isEmpty
      prev = s
      edges = next
      iter += 1
    }
    // fixpoint is a star forest: (v, root) with root = component min.
    // Union with identity labels so roots (and any self-loop-only input
    // nodes) label themselves.
    val labels = edges.select(col("a").as("id"), col("b").as("cluster"))
      .union(nodes.select(col("id"), col("id").as("cluster")))
      .groupBy("id").agg(min(col("cluster")).as("cluster"))
    (labels, iter)
  }
}
