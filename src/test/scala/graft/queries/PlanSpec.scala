package graft.queries

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan regression tests: the optimizations the engine is
  * designed around must be visible in the plan, not assumed (SURVEY §4).
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("broadcast dim chain plans BroadcastHashJoins, not shuffles") {
    val p = plan("q_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("top-k queries plan TakeOrderedAndProject (no total sort)") {
    assert(plan("q_topk_order_limit").contains("TakeOrderedAndProject"))
    assert(plan("q_cosine_topk").contains("TakeOrderedAndProject"))
  }

  test("filters push into the parquet scan") {
    val p = Tables.lineitem(spark, sf).filter(col("l_quantity") > 45)
      .select("l_orderkey").queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"))
  }

  test("column pruning reaches the scan (2-col projection reads 2 cols)") {
    val p = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))
  }

  test("dedup-latest uses hash aggregation (max_by), not a window sort") {
    val p = plan("q_dedup_latest")
    assert(!p.contains("Window"))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"))
  }

  test("semi/anti joins plan as left-semi/anti, not inner+distinct") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("partitioned write → partition-pruned scan (PartitionFilters)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").mode("overwrite").parquet(s"$tmp/events_by_day")
    val pruned = spark.read.parquet(s"$tmp/events_by_day")
      .filter(col("day") === "2024-01-03")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("2024-01-03"))
    // pruning actually cut the input: one day's files only
    assert(pruned.count() > 0)
  }

  test("bucketed tables co-locate the join: no shuffle exchange on the join keys") {
    // unique names: the managed-table location outlives the in-memory
    // catalog across test JVMs
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (liT, ordT) = (s"li_b_$tag", s"ord_b_$tag")
    try {
      Tables.lineitem(spark, sf)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(liT)
      Tables.orders(spark, sf)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(ordT)
      val joined = spark.table(liT)
        .join(spark.table(ordT), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = joined.queryExecution.executedPlan.toString
      // the join itself must not re-shuffle either bucketed side
      val joinSection = p.substring(p.indexOf("Join"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey") &&
             !joinSection.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
    } finally {
      Seq(liT, ordT).foreach { t =>
        val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
          .filter(col("col_name") === "Location")
          .collect().headOption.map(_.getString(1))
        spark.sql(s"DROP TABLE IF EXISTS $t")
        loc.map(_.stripPrefix("file:")).foreach { dir =>
          val path = java.nio.file.Paths.get(dir)
          if (java.nio.file.Files.exists(path)) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(path).iterator().asScala.toSeq
              .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
          }
        }
      }
    }
  }

  test("pageRank bucketed path: the per-iteration join has zero Exchange on either side") {
    import graft.ops.PageRank
    val tag = "pr_plan_" + java.lang.Long.toHexString(System.nanoTime())
    val li = Tables.lineitem(spark, sf)
    val b = li.select(col("l_suppkey").cast("long").as("src"),
      col("l_partkey").cast("long").as("dst")).distinct()
    val edges = b.union(b.select(col("dst").as("src"), col("src").as("dst")))
    try {
      // stages <tag>_edges bucketed by src and <tag>_rank_1 bucketed by node
      PageRank.pageRankBucketed(spark, edges, "src", "dst",
        iterations = 1, namePrefix = tag, buckets = 8).count()
      val iter = PageRank.bucketedIteration(spark, s"${tag}_edges",
        s"${tag}_rank_1", teleport = 150000L, dampingNum = 850L,
        dampingDen = 1000L)
      val p = iter.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      // everything under the join (children print after it) must be
      // exchange-free: both sides are consumed bucket-in-place; the only
      // Exchange in the whole iteration is the dst mass aggregation ABOVE
      // the join — the irreducible PageRank traffic
      val joinSection = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange"),
        s"bucketed PageRank join still shuffles:\n$p")
      assert("Exchange".r.findAllIn(p).size == 1, p)
      assert(iter.count() > 0)
    } finally PageRank.dropBucketedTables(spark, tag)
  }

  private def extPlan(name: String): String =
    Extended.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying ~90% of the left side
      val left = (1 to 20000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
        .toDF("k", "v")
      val right = (1L to 20000L).map(k => (k, s"payload_$k")).toDF("k", "p")
      val joined = left.join(right, "k")
      // collect() executes THIS QueryExecution, finalizing its adaptive plan
      assert(joined.collect().length == 20000)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("range join broadcasts the tiny tier table (nested-loop, no shuffle of facts)") {
    val p = extPlan("q_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("date-series spine broadcast-joins the pre-aggregated facts (no fact shuffle onto the spine)") {
    val p = extPlan("q_date_series")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tfidf plans TakeOrderedAndProject for the global top-k") {
    val p = extPlan("q_tfidf")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("custom expressions stay inside whole-stage codegen (starred Project)") {
    // a CodegenFallback expression would collapse its whole span to the
    // interpreted path — the projection containing the kernel must be
    // codegen'd (rendered with the * marker)
    val cos = plan("q_cosine_topk")
    assert(cos.linesIterator.exists(l =>
      l.contains("cosine_similarity") && l.contains("*(")), cos)
    // adaptive plans only render codegen stars once finalized — execute,
    // then read the final plan
    val simDf = Registry.queries("q_simhash")(spark, sf)
    simDf.collect()
    val sim = simDf.queryExecution.executedPlan.toString
    assert(sim.linesIterator.exists(l =>
      l.contains("simhash_md5") && l.contains("*(")), sim)
  }

  test("inverted-index search scans only the query terms' posting " +
      "buckets (PartitionFilters on the term-hash key)") {
    val df = Analytics.queries("q_inverted_search")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the bucket IN-list must be directory pruning on the posting scan,
    // not a post-scan data filter — at scale it is the difference
    // between reading 3 buckets and re-reading the whole posting index
    val pf = p.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pf.exists(_.contains("centroid")), p)
    // and the corpus text is nowhere in the plan: the scan reads the
    // posting schema, never the documents table
    assert(!p.contains("text#"), p)
    assert(df.count() > 0)
  }

  test("IVF probe is a partition-pruned scan (PartitionFilters on centroid)") {
    val df = Registry.queries("q_ann_ivf")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the centroid IN-list must live in PartitionFilters (directory
    // pruning), not in a post-scan Filter over data columns — even under
    // the recall-summary agg the probe scan itself stays pruned (the
    // exact-side scan contributes its own empty PartitionFilters line,
    // so scan ALL of them)
    val pfSections = p.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pfSections.exists(_.contains("centroid")), p)
    val row = df.head()
    assert(row.getInt(0) == 10 && row.getBoolean(1), row.toString)
  }

  test("q_ivf_append probe stays partition-pruned; parity + recall hold") {
    // the appended index must probe exactly like the original build:
    // centroid IN-list in PartitionFilters (directory pruning), never a
    // post-scan Filter — and the row's booleans prove the append lost
    // nothing (exact parity with a frozen-quantizer full rebuild) and
    // still recalls >= 8/10 of the exact answer
    val df = Curation.queries("q_ivf_append")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val pfSections = p.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pfSections.exists(_.contains("centroid")), p)
    val row = df.head()
    assert(row.getInt(0) == 10 && row.getBoolean(1) && row.getBoolean(2),
      row.toString)
    assert(row.getLong(3) > 0, "fixture must append at least one vector")
  }

  test("q_ivfpq_append probe stays partition-pruned; ADC parity + recall hold") {
    // the appended PQ index must probe exactly like the original build:
    // centroid IN-list in PartitionFilters over the CODE directories —
    // and the booleans prove the append coded nothing differently under
    // the frozen codebooks (exact ADC parity with a full re-encode) and
    // still recalls >= 8/10 of the exact answer
    val df = Curation.queries("q_ivfpq_append")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val pfSections = p.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pfSections.exists(_.contains("centroid")), p)
    val row = df.head()
    assert(row.getInt(0) == 10 && row.getInt(1) == 7, row.toString)
    assert(row.getBoolean(2) && row.getBoolean(3), row.toString)
    assert(row.getLong(4) > 0, "fixture must append at least one vector")
  }

  test("q_stream_ivf: probe stays partition-pruned; the drain really " +
      "micro-batched; parity + recall hold") {
    val df = Curation.queries("q_stream_ivf")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val pfSections = p.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pfSections.exists(_.contains("centroid")), p)
    val row = df.head()
    assert(row.getInt(0) == 10, row.toString)
    assert(row.getBoolean(1),
      s"every staged file must drain as exactly one committed batch: $row")
    assert(row.getBoolean(2),
      s"one manifest version must land per micro-batch: $row")
    assert(row.getBoolean(3) && row.getBoolean(4), row.toString)
    assert(row.getLong(5) > 0, "fixture must stream at least one vector")
  }

  test("q_knn_ivf_batch: pruned path is a broadcast EQUI-join on centroid " +
      "— no cartesian, no window; recall + pruning hold") {
    // batched serving must join the corpus to the exploded (probe, cell)
    // pairs on the centroid key: a BroadcastHashJoin of the bounded probe
    // side. A CartesianProduct would mean cell pruning silently degraded
    // to q_knn_join's exact all-pairs layout. (The exact-recall baseline
    // inside the same plan contributes the guarded BroadcastNestedLoop —
    // that one is the point of comparison, not a regression.)
    val df = Curation.queries("q_knn_ivf_batch")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), "per-probe top-k must be the aggregate, not a window")
    val row = df.head()
    assert(row.getInt(0) == 3 && row.getInt(1) == 3, row.toString)
    assert(row.getLong(2) > 0, "fixture must contain probes")
    assert(row.getBoolean(3), s"recall floor violated: $row")
    assert(row.getBoolean(4), s"cell pruning must cut candidate mass below 0.6: $row")
  }

  test("q_ivfpq_compact: exact set parity, singleton partitions — and the " +
      "compacted layout still serves partition-pruned probes") {
    val df = Curation.queries("q_ivfpq_compact")(spark, sf)
    val row = df.head()
    assert(row.getBoolean(0), "compaction moved meaning, not just bytes")
    assert(row.getBoolean(1) && row.getBoolean(2) && row.getBoolean(3),
      row.toString)
    assert(row.getLong(4) > 0, row.toString)
    val (_, out, _, _, _, _) = Curation.stageIvfPqCompact(spark, sf)
    val p = spark.read.parquet(out).filter(col("centroid").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.filter(_.contains("PartitionFilters:"))
      .exists(_.contains("centroid")), p)
  }

  test("q_ivf_rebalance: probe stays partition-pruned; reassignment exact, " +
      "vectors actually moved, recall budget holds") {
    val df = Curation.queries("q_ivf_rebalance")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.filter(_.contains("PartitionFilters:"))
      .exists(_.contains("centroid")), p)
    val row = df.head()
    assert(row.getInt(0) == 10 && row.getInt(1) == 7, row.toString)
    assert(row.getBoolean(2), "rewrite fragmented the assignment")
    assert(row.getBoolean(3), "retraining on the union must move at least one vector")
    assert(row.getBoolean(4), s"recall floor violated: $row")
    assert(row.getLong(5) > 0, row.toString)
  }

  test("q_index_versions: a pinned-version probe stays partition-pruned; " +
      "isolation + completeness + probe parity hold") {
    val df = Curation.queries("q_index_versions")(spark, sf)
    val row = df.head()
    assert(row.getBoolean(0), s"v1 leaked appended rows or lost base rows: $row")
    assert(row.getBoolean(1), s"v2 must hold the full union: $row")
    assert(row.getBoolean(2), s"pinned-version probe diverged from brute force: $row")
    assert(row.getLong(3) > 0 && row.getLong(4) > row.getLong(3), row.toString)
    // the manifest read path (explicit file list + basePath) must still
    // prune on the centroid partition column, at ANY version
    val (path, _) = Curation.stageIvfVersioned(spark, sf)
    val p = graft.ops.VectorOps.readIndexVersion(spark, path, 1)
      .filter(col("centroid").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.filter(_.contains("PartitionFilters:"))
      .exists(_.contains("centroid")), p)
  }

  test("q_index_vacuum: post-vacuum v3 probe stays partition-pruned; " +
      "parity, exact-listing, and reclamation audits hold") {
    val df = Curation.queries("q_index_vacuum")(spark, sf)
    val row = df.head()
    assert(row.getBoolean(0), s"vacuum deleted meaning, not just bytes: $row")
    assert(row.getBoolean(1), s"listing must equal exactly the kept manifest: $row")
    assert(row.getBoolean(2), s"vacuum must actually reclaim superseded files: $row")
    assert(row.getBoolean(3), s"compaction must have rewritten >= 1 partition: $row")
    assert(row.getLong(4) > 0, row.toString)
    val (path, _, _, _, _, _, _) = Curation.stageIvfVacuumed(spark, sf)
    val p = graft.ops.VectorOps.readIndexVersion(spark, path, 3)
      .filter(col("centroid").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.filter(_.contains("PartitionFilters:"))
      .exists(_.contains("centroid")), p)
    // an unkept version must fail loudly at scan time, never read torn
    intercept[Exception] {
      graft.ops.VectorOps.readIndexVersion(spark, path, 2).count()
    }
  }

  test("q_stream_delete: drain really micro-batched; final MOR read " +
      "broadcast-anti-joins; history pinned, commits all metadata-only") {
    val df = Curation.queries("q_stream_delete")(spark, sf)
    val row = df.head()
    assert(row.getBoolean(0), s"post-drain MOR must drop exactly the doomed set: $row")
    assert(row.getBoolean(1), s"pinned v1 must survive a live deletion stream: $row")
    assert(row.getBoolean(2), s"streamed deletes must never rewrite data files: $row")
    assert(row.getBoolean(3), s"the drain must have micro-batched: $row")
    assert(row.getLong(4) > 0 && row.getLong(5) > 0, row.toString)
    val (path, drain) = Curation.stageStreamDelete(spark, sf)
    val p = graft.ops.VectorOps
      .readIndexVersionMor(spark, path, drain.finalVersion, "vec_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_schema_evolution: merged read still partition-prunes; old " +
      "schema stable, nulls exact, values survive the merge") {
    val df = Curation.queries("q_schema_evolution")(spark, sf)
    val row = df.head()
    assert(row.getBoolean(0), s"pinned v1 must never see the new column: $row")
    assert(row.getBoolean(1), s"merge must null exactly the old rows: $row")
    assert(row.getLong(2) > 0 && row.getLong(4) > row.getLong(3), row.toString)
    // schema merging must not cost partition pruning
    val (path, _) = Curation.stageIvfEvolved(spark, sf)
    val p = graft.ops.VectorOps.readIndexVersionMerged(spark, path, 2)
      .filter(col("centroid").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.filter(_.contains("PartitionFilters:"))
      .exists(_.contains("centroid")), p)
  }

  test("q_index_fsck: both committed versions servable, footer sums " +
      "exactly the source counts, stats sidecars present") {
    val df = Curation.queries("q_index_fsck")(spark, sf)
    val row = df.head()
    assert(row.getBoolean(0) && row.getBoolean(1),
      s"committed versions must audit servable: $row")
    assert(row.getBoolean(2), s"the append must have added files: $row")
    assert(row.getBoolean(3) && row.getBoolean(4),
      s"footer sums must equal source counts exactly: $row")
    assert(row.getLong(6) > row.getLong(5) && row.getLong(5) > 0, row.toString)
    val (path, _) = Curation.stageIvfVersioned(spark, sf)
    for (v <- Seq(1, 2))
      assert(graft.ops.VectorOps.readStats(spark, path, v).nonEmpty,
        s"stats sidecar v$v must exist on the versioned fixture")
  }

  test("q_mor_delete: the MOR anti-join broadcasts the tombstone set; " +
      "logical/physical lifecycle audits hold") {
    val df = Curation.queries("q_mor_delete")(spark, sf)
    val row = df.head()
    assert(row.getBoolean(0), s"logical delete must move zero data files: $row")
    assert(row.getBoolean(1), s"MOR read must exclude exactly the tombstones: $row")
    assert(row.getBoolean(2), s"physical apply changed meaning, not just bytes: $row")
    assert(row.getBoolean(3) && row.getBoolean(4), row.toString)
    assert(row.getLong(5) > row.getLong(6) && row.getLong(6) > 0, row.toString)
    // the MOR read plans a BROADCAST anti-join on the tombstones — the
    // corpus must never shuffle to subtract an id-sized delete set
    val (path, _, _, _) = Curation.stageIvfMorDelete(spark, sf)
    val p = graft.ops.VectorOps.readIndexVersionMor(spark, path, 2, "vec_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_pq_drift: pure aggregate shape — no window, no corpus-crossing " +
      "join; no-drift verdict and positive control hold") {
    val df = Curation.queries("q_pq_drift")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "drift statistic must be an aggregate, not a window")
    assert(!p.contains("SortMergeJoin"),
      "nothing corpus-sized may join in the drift statistic")
    val row = df.head()
    assert(row.getLong(0) > 0 && row.getLong(1) > 0, row.toString)
    assert(row.getBoolean(2),
      s"iid append slice must not read as drift (threshold too tight?): $row")
    assert(row.getBoolean(3),
      s"shift-by-one control must carry strictly more error: $row")
  }

  test("q_maxsim_batch: scoring join is genuinely shuffled — no broadcast, " +
      "no cartesian, no window") {
    // many-query MaxSim must keep the q_knn_shuffled layout: a
    // SHUFFLE_HASH equi-join on the shard key (AQE would broadcast the
    // tiny fixture back into a nested loop), per-query top-k through the
    // bounded aggregate — never a window
    val df = Curation.queries("q_maxsim_batch")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "neither side may broadcast")
    assert(!p.contains("CartesianProduct"), "the shard key makes it an equi-join")
    assert(!p.contains("Window"), "per-query top-k must be the aggregate, not a window")
  }

  test("q_multimodal_pipeline: packing window stays partitioned by lang " +
      "(no SinglePartition)") {
    val p = Registry.queries("q_multimodal_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Window"), p) // the per-lang packing window IS there
  }

  test("q_knn_shuffled: scoring join is genuinely shuffled — no broadcast, no window") {
    // the whole point of the fallback is that NEITHER side broadcasts;
    // AQE would happily broadcast the tiny fixture probes, so the hint
    // must hold the shuffled shape or the query silently degenerates
    // back into q_knn_join's layout
    val p = Curation.queries("q_knn_shuffled")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "neither side may broadcast")
    assert(!p.contains("CartesianProduct"), "the shard key makes it an equi-join")
    assert(!p.contains("Window"), "per-probe top-k must be the aggregate, not a window")
  }

  test("q_ann_recall_curve: every probe scan partition-pruned; monotone + exact anchor hold") {
    val df = Curation.queries("q_ann_recall_curve")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // four probe budgets → the centroid IN-lists must all live in
    // PartitionFilters, never a post-scan Filter over data columns
    assert(p.linesIterator.filter(_.contains("PartitionFilters:"))
      .count(_.contains("centroid")) >= 4, p)
    val row = df.head()
    assert(row.getBoolean(1), "n_hit must be nondecreasing in nProbe")
    assert(row.getInt(2) == 10, "probing all cells must equal the exact scan")
  }

  test("q_lsh_band_curve: banded equi-joins only — no cartesian at any band count") {
    val df = Curation.queries("q_lsh_band_curve")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "candidate generation must stay a (band, bucket) equi-join")
    val row = df.head()
    assert(row.getBoolean(0), "pair count must be nondecreasing in bands")
    assert(row.getLong(1) > 0, "fixture must contain near-dup pairs")
  }

  test("q_group_avg: one hash exchange, partial agg combines map-side, no window") {
    // r5 bench showed a transient 0.62→1.52 s wobble on this query; the
    // next bench was back at 0.40 s (noise, not a plan change). This pins
    // the shape so a real regression — a second shuffle, a lost partial
    // agg, a window sneaking in — fails loudly instead of reading as noise.
    val p = plan("q_group_avg")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"group-avg must shuffle exactly once: $p")
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("Window"), p)
    // partial_avg before the exchange = map-side combine is intact
    assert(p.contains("partial_avg") || p.contains("partial avg")
      || "HashAggregate.*avg".r.findFirstIn(p).isDefined, p)
  }

  test("q_maxsim: ONE hash exchange (per-token maxes as conditional agg " +
      "columns), TakeOrdered top-k, no window, no join") {
    // the whole MaxSim scoring must stay a single combinable hash
    // aggregate on doc_id — a (doc, token) intermediate shuffle, a join
    // against an exploded query side, or a window rank would all be the
    // shapes this query exists to avoid at 100 TB
    val p = Curation.queries("q_maxsim")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"maxsim must shuffle exactly once: $p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_ntile and q_global_rank plan no single-partition window (distributed tiling)") {
    for (q <- Seq("q_ntile", "q_global_rank")) {
    val df = Registry.queries(q)(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the old shape — Window over Exchange SinglePartition — is the
    // scale-killer this test locks out
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Window"), p) // the per-bucket rank window IS there
    // and it's partitioned: every WindowExec carries a partitionSpec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(plan: SparkPlan): Seq[WindowExec] = plan.collect {
      case w: WindowExec => Seq(w)
      case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
    }.flatten
    val ws = windows(df.queryExecution.executedPlan)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"found ${ws.size} windows; partitionSpecs=${ws.map(_.partitionSpec)}")
    }
  }

  test("decontamination broadcasts the eval-gram set (training side never shuffles text)") {
    val p = Corpus.queries("q_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sequence packing windows stay partitioned by source (no global sort of docs)") {
    val p = Corpus.queries("q_pack_sequences")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("hash split/mix aggregate map-side (single exchange to the rollup)") {
    val p = Corpus.queries("q_split_hash")(spark, sf)
      .queryExecution.executedPlan.toString
    // scan -> partial agg -> one exchange -> final agg -> sort
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("forward-fill window is partitioned; chunking generates map-side") {
    val ff = Corpus.queries("q_forward_fill")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!ff.contains("SinglePartition"), ff)
    assert(ff.contains("Window"), ff)
    val ch = Corpus.queries("q_chunk_documents")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ch.contains("Generate"), ch)
    // the deliberate core-spreading repartition + the presentation sort —
    // generation itself adds no shuffle
    assert("Exchange".r.findAllIn(ch).size <= 2, ch)
  }

  test("unpivot stays a narrow expand (no shuffle before the aggregate)") {
    val p = extPlan("q_unpivot")
    assert(p.contains("Expand"), p)
    // exactly the aggregate's exchange — the expand itself adds none
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("corr co-moments aggregate map-side (partial+final, one exchange)") {
    val p = extPlan("q_corr_stats")
    // scan -> partial HashAggregate -> exchange -> final -> sort exchange
    assert("HashAggregate".r.findAllIn(p).size == 2, p)
    assert("Exchange".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("stratified sample pre-prunes in salted subgroups (no few-strata window bottleneck)") {
    val p = Extended.queries("q_stratified_exact")(spark, sf)
      .queryExecution.executedPlan.toString
    // phase 1 must partition on (stratum, salt) — l_returnflag has 3
    // values, so a single Window.partitionBy(stratum) would funnel the
    // whole table through 3 tasks; the salt reaches the exchange as a
    // projected _wN attribute
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.exists(l => l.contains("l_returnflag") && l.contains(", _w")), p)
    assert(p.contains("pmod(xxhash64"), p) // the salt really is the key hash
    // ...and the per-stratum window runs after the salted prune (plan
    // lines carry +-/:- prefixes, so match the operator text itself)
    assert(p.linesIterator.count(_.contains("Window [row_number()")) >= 2, p)
  }

  test("approx-distinct: TWO lineitem scans total (sketch agg + one " +
      "multi-distinct exact agg); the HLL never evaluates per-group") {
    val p = Registry.queries("q_approx_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    // r13 shape: both exact distincts share ONE scan through the
    // multi-distinct Expand (partial distinct applies post-Expand, so
    // shuffled keys are unchanged) and the sketches share another —
    // 2 scans, down from r12's 3
    assert("lineitem\\.parquet".r.findAllIn(p).size == 2, p)
    // the 3x-slower trap (sketch+exact in one agg): the distinct
    // rewrite evaluates the HLL under an aggregate KEYED by the
    // distinct column — one 2^14-register buffer per group. The sketch
    // partials must sit under the GLOBAL (keys=[]) aggregate only.
    assert("HashAggregate\\(keys=\\[\\], functions=\\[partial_approx_count_distinct"
      .r.findAllIn(p).nonEmpty, p)
    assert(!"keys=\\[[^\\]]+\\], functions=\\[[^\\]]*approx_count_distinct"
      .r.findAllIn(p).hasNext, "HLL evaluated per-group — the trap shape")
  }

  test("shingle dedup takes the per-gram min as a map-side-combinable aggregate (no window)") {
    val p = Corpus.queries("q_shingle_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    // the skew-hostile shape — a Window.partitionBy(g) sorting each
    // gram's full posting list in one task — must not come back; the
    // partial_min on the gram key is the proof the hot-gram reduction
    // happens map-side
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_min(doc_id"), p)
  }

  test("z-ordered layout actually prunes row groups on EITHER dimension") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanRows(df: DataFrame): Long = {
      df.collect() // execute so scan metrics are populated
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case _ => p.collectLeaves().flatMap {
          case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
          case l => Seq(l)
        }
      }
      leaves(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    }
    val li = Tables.lineitem(spark, sf)
    val total = li.count()
    val tmp = java.nio.file.Files.createTempDirectory("graft_zprune").toString
    graft.ops.Layout.zorderWrite(li, "l_extendedprice", "l_quantity", tmp,
      bits = 8, numFiles = 4)
    val back = spark.read.parquet(tmp)
    // filters on both clustered columns reach the parquet reader
    val p = back.filter(col("l_extendedprice") < 2000)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_extendedprice"), p)
    // ...and the reader's row-group min/max stats actually skip data: a
    // bottom-slice predicate on EITHER dimension reads strictly fewer
    // rows than the table holds (interleaved bits put each dimension's
    // MSB in the file-level z-range, so half the files are skippable
    // per dimension — the whole point of the layout)
    val Array(stats) = li.agg(
      min(col("l_extendedprice")), max(col("l_extendedprice")),
      min(col("l_quantity")), max(col("l_quantity"))).collect()
    val xCut = stats.getDouble(0) + (stats.getDouble(1) - stats.getDouble(0)) * 0.2
    val yCut = stats.getDouble(2) + (stats.getDouble(3) - stats.getDouble(2)) * 0.2
    val xRead = scanRows(back.filter(col("l_extendedprice") < xCut))
    val yRead = scanRows(back.filter(col("l_quantity") < yCut))
    assert(xRead < total, s"price-slice scan read all $total rows (no pruning)")
    assert(yRead < total, s"qty-slice scan read all $total rows (no pruning)")
  }

  test("running-distinct and RLE share one hash exchange across window passes") {
    // hash(user_id) satisfies the (user_id, event_type) clustering, so
    // the two window specs re-sort within the same exchange; only the
    // presentation orderBy adds a second (range) one
    for (q <- Seq("q_running_distinct", "q_rle_events")) {
      val p = extPlan(q)
      assert("Exchange".r.findAllIn(p).size <= 2, s"$q: $p")
      assert(!p.contains("SinglePartition"), s"$q: $p")
    }
  }

  test("topk rewrite plans a bounded object-hash aggregate, no window, no per-group sort") {
    val df = Registry.queries("q_topk_rewrite")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate") && p.contains("bounded_topk_rows"), p)
    assert(p.contains("Generate"), p)
    assert(!p.contains("Window"), p)
    // partial aggregation runs map-side: two ObjectHashAggregate stages
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("incremental dedup: bloom prune reaches the history scan; confirm join broadcasts") {
    val df = Registry.queries("q_incremental_dedup")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the history side is filtered map-side by the bloom predicate...
    assert(p.contains("might_contain"), p)
    // ...and the exact confirm is a broadcast anti join — the history
    // is never shuffled (no sort-merge anywhere in the plan)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("scd2 runs both window passes in one hash exchange (plus presentation sort)") {
    // boundary-mark, collapse-filter, lead/row_number all cluster on
    // hash(o_custkey); only the final orderBy may add a range exchange
    val p = extPlan("q_scd2")
    assert("Exchange".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("SinglePartition"), p)
  }
  private def anPlan(name: String): String =
    Analytics.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("triangle count: equi-joins only — no cartesian or nested-loop anywhere") {
    val p = anPlan("q_triangle_count")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the only nested-loop is the 1-row node-count scalar broadcast; the
    // wedge and closing-edge joins must be hash/merge equi-joins
    assert(p.contains("Join") && (p.contains("HashJoin") || p.contains("SortMergeJoin")))
    assert(p.contains("LeftSemi"), "closing-edge probe must be a semi join")
  }

  test("k-means step: corpus joins centroids broadcast; partial sums combine map-side") {
    val p = anPlan("q_kmeans_step")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin"), "the embedding corpus must not shuffle to meet centroids")
    // (cluster, pos) rollup aggregates partially before its exchange
    assert(p.contains("partial_sum") || p.contains("partial sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("funnel: all three stage windows share ONE user_id exchange") {
    val p = anPlan("q_funnel")
    // three Window operators, one hashpartitioning(user_id) exchange —
    // the event log is shuffled exactly once; the two rollup exchanges
    // move already-aggregated rows
    assert("\\bWindow\\b".r.findAllIn(p).size >= 3, p.take(2000))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("time decay: 1-row anchor broadcasts; per-type sum combines map-side") {
    val p = anPlan("q_time_decay")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("partial_sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined, p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("bm25: two corpus scans only — df is a window over tf, not a re-derive") {
    val p = anPlan("q_bm25")
    assert("Scan parquet".r.findAllIn(p).size == 2, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("bootstrap CI: zero row multiplication — one wide partial agg, no explode, no join") {
    val p = anPlan("q_bootstrap_ci")
    // the 64 replicates are 128 aggregate expressions in ONE grouping-free
    // hash aggregate: no Generate (the ×64 explode never exists), no join,
    // and the only exchange is the single-row partial-agg gather
    assert(!p.contains("Generate"), p.take(2000))
    assert(p.contains("partial_sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined, p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("bigram LM: no cartesian; doc join is an equi-join on the bigram key") {
    val p = anPlan("q_bigram_lm")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("key skew profile: both aggs combine map-side; total broadcasts back") {
    val p = anPlan("q_key_skew_profile")
    assert(p.contains("partial_count") || p.contains("partial_sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined, p.take(2000))
    assert(!p.contains("SortMergeJoin"), "1-row total must broadcast")
  }

  test("negative pairs: partner fetch is an equi-join, ids compute map-side") {
    val p = anPlan("q_negative_pairs")
    // the only nested-loop is the 1-row n_docs broadcast; partner fetch
    // must be a hash/merge equi-join on the derived id
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Generate explode"), "replicates must explode map-side")
  }

  test("compaction plan: windows run per partition dir — never SinglePartition") {
    val p = anPlan("q_compaction_plan")
    assert(!p.contains("SinglePartition"), p.take(2000))
    assert(p.contains("partial_sum") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined, p.take(2000))
  }

  test("interpolate: all four neighbor windows share one user_id exchange") {
    val p = anPlan("q_interpolate")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("MAD outliers: group stats broadcast back to the fact side") {
    val p = anPlan("q_mad_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "3-row stats frames must broadcast, not shuffle lineitem")
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val sel = Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = Tables.lineitem(spark, sf).join(sel, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        s"runtime bloom filter did not inject:\n${p.take(2000)}")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("PMI / entropy / winsorize: map-side generation, combiner aggs, broadcast bounds") {
    val pmi = anPlan("q_pmi_bigrams")
    assert(pmi.contains("TakeOrderedAndProject"), "top-20 must not total-sort")
    val ent = anPlan("q_token_entropy")
    assert(ent.contains("partial_count") || ent.contains("partial_sum") ||
      ent.contains("Partial"), ent.take(1500))
    val win = anPlan("q_winsorize")
    assert(win.contains("BroadcastHashJoin"), win.take(1500))
    assert(!win.contains("SortMergeJoin"), "3-row bounds must broadcast, not shuffle lineitem")
  }

  private def miPlan(name: String): String =
    Mining.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("prefix similarity join: equi-joins only — the all-pairs cross join never exists") {
    val p = miPlan("q_simjoin_prefix")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "every join must key on a column (shingle or doc id)")
    // the per-doc prefix window partitions by doc_id — never SinglePartition
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("containment join: probe-prefix equi-join — no cartesian, no nested loop") {
    val p = miPlan("q_containment_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "every join must key on a column (shingle or doc id)")
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("quality classifier: scoring is one map-side pass — no join, no agg exchange") {
    val p = miPlan("q_quality_classifier")
    assert(!p.contains("Join"), "hashed-weight lookup must not join anything")
    assert(!p.contains("HashAggregate"),
      "the per-doc fold runs inside the projection, never a grouped agg")
    // the only exchanges: the deliberate input spread + the output sort
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("IVF-PQ probe: code scan is partition-pruned (PartitionFilters on centroid)") {
    val df = miPlan0("q_ann_ivfpq")
    val p = df.queryExecution.executedPlan.toString
    val pfSections = p.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pfSections.exists(_.contains("centroid")), p)
    // the probe side must read codes, never the float vectors — only the
    // rerank/exact scans touch `embedding`
    val codeScans = p.linesIterator.filter(l =>
      l.contains("PartitionFilters:") && l.contains("centroid")).size
    assert(codeScans >= 1, p)
    val row = df.head()
    assert(row.getInt(0) == 10 && row.getBoolean(3), row.toString)
  }

  test("gopher rules: one map pass — no join, no grouped agg, ≤ 2 exchanges") {
    val p = Corpus.queries("q_gopher_rules")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "both statistics fold per-doc; nothing joins")
    assert(!p.contains("HashAggregate"),
      "the sorted-run fold runs inside the projection, never a grouped agg")
    // the only exchanges: the deliberate input spread + the output sort
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("keep-best dedup: keyed joins only, argmax is a hash agg (no window)") {
    val df = miPlan0("q_dedup_keep_best")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"),
      "per-cluster argmax must be a struct-max hash agg, not a ranked window")
  }

  private def miPlan0(name: String) = Mining.queries(name)(spark, sf)

  test("random projection: sign matrix broadcasts; (vec, j) rollup combines map-side") {
    val p = miPlan("q_random_projection")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "the exploded corpus must not shuffle to meet the dim×16 sign matrix")
    assert(p.contains("partial_sum") || p.contains("Partial"), p.take(2000))
  }

  test("shipping priority: the unhinted customer dim broadcasts by size " +
      "over its recomputable pushed-down scan, fact filter reaches the " +
      "scan, top-k has no sort") {
    val p = miPlan("q_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not total-sort")
    assert(p.contains("GreaterThan(l_shipdate"), "date filter must reach the fact scan")
    // the customer join carries no hint: Spark's size-based join
    // selection broadcasts the filtered dim. The frame stays on its
    // recomputable lineage — the broadcast build runs the pushed-down,
    // column-pruned dim scan, and NO checkpoint parks the dim in
    // executor storage (an executor loss must recompute, not fail). The
    // segment filter reaching the parquet scan is what keeps that scan
    // dim-cheap.
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the customer scan")
    assert(!p.contains("CheckpointRDD"),
      "single-consumer gated dim must not be parked in executor storage")
  }

  test("feature hashing: no join anywhere — one combinable count to a single exchange") {
    val p = miPlan("q_feature_hash")
    assert(!p.contains("Join"), "the hashing trick needs no vocabulary join")
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(1500))
  }

  test("event trigrams: both lead windows share ONE user_id exchange; top-10 is TakeOrdered") {
    val p = miPlan("q_event_trigrams")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not total-sort")
  }

  test("cuped: both aggregations combine map-side (partial+final)") {
    val p = miPlan("q_cuped")
    assert(p.contains("partial_sum") || p.contains("Partial"), p.take(1500))
    assert(!p.contains("Join"), "the per-user frame rolls up without any join")
  }

  test("equi-depth histogram: distributed ntile — no single-partition window") {
    val p = miPlan("q_equidepth_hist")
    assert(!p.contains("SinglePartition"), p.take(2000))
    assert(p.contains("partial_count") || p.contains("Partial"), p.take(1500))
  }

  test("grouped sketches: MG sketch rows broadcast back; window-HLL aggregates partially") {
    val gh = miPlan("q_grouped_heavy_hitters")
    assert(gh.contains("BroadcastHashJoin"),
      "the group-cardinality sketch frame must broadcast, not shuffle the counts")
    val wh = miPlan("q_window_hll")
    assert(wh.contains("partial_approx_count_distinct") || wh.contains("Partial"),
      "per-window HLL registers must merge map-side: " + wh.take(1500))
  }

  test("simhash Hamming join: banded equi-join candidates — the all-pairs XOR never plans") {
    val p = miPlan("q_simhash_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  test("interval join: the overlap predicate rides an equi-join on the day bin") {
    val p = miPlan("q_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "an interval join must never plan as a theta join: " + p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  private def frPlan(name: String): String =
    Frontier.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("skyline: bucketed sweep — no SinglePartition window, no cartesian") {
    val p = frPlan("q_skyline")
    assert(!p.contains("SinglePartition"),
      "the running max must be a per-bucket window: " + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("ngram novelty: first-claim attribution is equi-join only") {
    val p = frPlan("q_ngram_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
  }

  private def spPlan(name: String): String =
    Spectral.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("co-purchase: pair fan-out explodes map-side, no cartesian") {
    val p = spPlan("q_copurchase_lift")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Generate explode"),
      "pairs must fan out inside a projection, not a self-join")
  }

  test("HITS and PCA top-k plan TakeOrderedAndProject (no total sort)") {
    assert(spPlan("q_hits").contains("TakeOrderedAndProject"))
    assert(spPlan("q_pca_power").contains("TakeOrderedAndProject"))
  }

  test("closed-form OLS: one joinless combinable aggregation pass") {
    val p = Stats.queries("q_ols_closed")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "the normal equations need no join: " +
      p.take(2000))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      p.take(2000))
  }

  test("Gini: ranks come from bucketed windows, never SinglePartition") {
    val p = Stats.queries("q_gini")(spark, sf)
      .queryExecution.executedPlan.toString
    val wins = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("__graft_b")),
      s"windows $wins: " + p.take(2000))
  }

  test("calibration and AUC rank via bucketed windows, never SinglePartition") {
    for (q <- Seq("q_calibration", "q_auc")) {
      val p = Evaluation.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      val wins = "windowspecdefinition\\(([^,]+),".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(wins.nonEmpty && wins.forall(_.contains("__graft_b")),
        s"$q windows $wins: " + p.take(2000))
    }
  }

  test("zone audit: ntile binning never plans a SinglePartition window") {
    // the final 64-row→1-row scalar rollups ARE SinglePartition exchanges
    // (unavoidable and free); the lock is on the rank windows — every
    // windowspecdefinition must partition by the range bucket
    val p = frPlan("q_zone_audit")
    val wins = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("__graft_b")),
      s"windows $wins: " + p.take(2000))
  }

  test("apriori: lattice joins are equi-joins, never a cartesian") {
    val p = Learners.queries("q_apriori_triples")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("adamic-adar: wedge join is an equi-join with a partial top-k") {
    val p = Temporal.queries("q_adamic_adar")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("bloom join: word-frame probes broadcast, never sort-merge") {
    val p = Physical.queries("q_bloom_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("markov transitions: the lag window partitions by user, " +
      "never SinglePartition") {
    val p = Temporal.queries("q_markov_transition")(spark, sf)
      .queryExecution.executedPlan.toString
    val wins = "windowspecdefinition\\(([^,]+),".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("user_id")),
      s"windows $wins: " + p.take(2000))
  }

  test("round-10 lifecycle: upsert CoW, restore, lineage, IVM and feed " +
      "composition audits all hold at sf0.001") {
    val up = Curation.queries("q_index_upsert")(spark, sf).head()
    for (i <- 0 to 4) assert(up.getBoolean(i), s"q_index_upsert[$i]: $up")
    val rs = Curation.queries("q_index_restore")(spark, sf).head()
    for (i <- 0 to 3) assert(rs.getBoolean(i), s"q_index_restore[$i]: $rs")
    val ivm = Curation.queries("q_cdc_materialize")(spark, sf).head()
    assert(ivm.getBoolean(0) && ivm.getBoolean(1), s"q_cdc_materialize: $ivm")
    val fl = Curation.queries("q_cdc_follow")(spark, sf).head()
    assert(fl.getBoolean(0), s"q_cdc_follow: $fl")
    val lin = Curation.queries("q_index_lineage")(spark, sf).collect()
    assert(lin.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "append"), (2, "delete"), (3, "compact"), (4, "upsert"),
        (5, "restore")))
  }

  test("change feed: tombstone masks broadcast as anti-joins, the step " +
      "diff never plans a cartesian") {
    val (path, _, _, _) = Curation.stageLifecycle(spark, sf)
    val p = graft.ops.VectorOps
      .indexChangeRows(spark, path, 1, 5, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
  }

  test("zone maps: the pruned scan's input is exactly the kept files, " +
      "rectangle and 1-D skipping booleans hold") {
    val sk = Curation.queries("q_file_skipping")(spark, sf).head()
    assert(sk.getBoolean(0) && sk.getBoolean(1), s"q_file_skipping: $sk")
    val zr = Curation.queries("q_zonemap_rect")(spark, sf).head()
    for (i <- 0 to 3) assert(zr.getBoolean(i), s"q_zonemap_rect[$i]: $zr")
    // scan-level: the rectangle read plans over ONLY the kept files
    val (zPath, _, _) = Curation.stageZoneRect(spark, sf)
    val (rows, kept, total) = graft.ops.VectorOps
      .readIndexVersionPrunedRect(spark, zPath, 1,
        Seq(("label", 0L, 1L)))
    assert(rows.inputFiles.length == kept && kept < total,
      s"inputFiles=${rows.inputFiles.length} kept=$kept total=$total")
  }

  test("round-11 second-half additions: bucket-pruned postings, DFP " +
      "kept-file scans, and every new audit boolean hold at sf0.001") {
    // positional index: phrase + proximity open only their term buckets
    val ph = Analytics.queries("q_phrase_search")(spark, sf).collect()
    assert(ph.nonEmpty && ph.forall(_.getBoolean(2)),
      "phrase read must be bucket-pruned")
    val px = Analytics.queries("q_proximity_search")(spark, sf).collect()
    assert(px.nonEmpty && px.forall(_.getBoolean(2)),
      "proximity read must be bucket-pruned")
    // DFP: the kept-file list IS the plan's physical input
    val (cPath, maxId) = Curation.stageClustered(spark, sf)
    val keys = (1 to 12).map(i => (maxId / 13) * i)
    val (rows, kept, total) = graft.ops.VectorOps
      .readIndexVersionSemi(spark, cPath, 1, "vec_id", keys)
    assert(rows.inputFiles.length == kept.length && kept.length < total,
      s"inputFiles=${rows.inputFiles.length} kept=${kept.length} " +
        s"total=$total")
    // audit booleans of the new oracled queries
    def bools(name: String, n: Int): Unit = {
      val r = Curation.queries(name)(spark, sf).head()
      for (i <- 0 until n) assert(r.getBoolean(i), s"$name[$i]: $r")
    }
    bools("q_join_skipping", 3)
    bools("q_meta_agg", 3)
    bools("q_index_merge", 4)
    bools("q_constraint_commit", 4)
    bools("q_stream_source", 3)
    bools("q_column_rename", 4)
    bools("q_analyze_ndv", 2)
  }

  test("streaming upsert + checkpoint audits hold at sf0.001") {
    val su = Curation.queries("q_stream_index_upsert")(spark, sf).head()
    for (i <- 0 to 2) assert(su.getBoolean(i), s"q_stream_index_upsert[$i]: $su")
    val ck = Curation.queries("q_commit_checkpoint")(spark, sf).head()
    for (i <- 0 to 3) assert(ck.getBoolean(i), s"q_commit_checkpoint[$i]: $ck")
  }
}
