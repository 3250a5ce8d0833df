package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.VectorOps
import graft.ops.Staging

/** Round-6 registry extension, seventh batch — structural operators:
  *
  *  - grid-density clustering (the GriDBSCAN / cell-based DBSCAN family
  *    — Ester et al., KDD 1996 lineage): density happens in a combinable
  *    per-cell count, clustering happens on the TINY core-cell graph,
  *    so the corpus is touched exactly twice and never pairwise,
  *  - DAG longest-path layering (Kahn/Bellman topological depth): the
  *    stage-scheduling / critical-path primitive for dependency graphs.
  *
  * Same conventions as [[Registry]]: identical aliases both sides,
  * deterministic total-order ORDER BY, exact integer arithmetic
  * throughout (neither query rounds anything).
  */
object Structure {

  type Q = Registry.Q

  // ----------------------------------------------- grid-density clustering
  /** Cell-based density clustering of the (int-quantized) embedding
    * corpus projected to its first two components: 16×16 grid, a cell is
    * CORE iff it holds ≥ 4 + n/128 points (density-proportional, so the
    * threshold tracks corpus growth), clusters are connected components
    * of 8-adjacent core cells, non-core points report as noise
    * (cluster −1). The scale decomposition that makes DBSCAN feasible at
    * 100 TB: the corpus contributes ONE map-side-combinable cell count
    * and ONE cell-key join — no point-pairwise distances ever exist —
    * while the ε-graph lives on core CELLS (≤ grid² rows, here ≤ 256),
    * where [[Dedup.connectedComponents]]' O(log n) propagation finishes
    * in a round or two. Finer grids at scale only grow the cell table.
    */
  private val gridDbscanQ: Q = (s, dir) => {
    // materialized: four consumers (minPts, cell counts, the final
    // point-labeling join, the census) each re-ran the embedding scan +
    // quantize127 — whose higher-order array transforms run INTERPRETED
    // (HOFs don't codegen), measured ~2.5 s task CPU per evaluation at
    // sf0.1 (§4.1/§2.4; the cell frame is 2 longs per point)
    val pts = Registry.spread(Tables.embeddings(s, dir))
      .select(col("vec_id"), VectorOps.quantize127(col("embedding")).as("q"))
      .select(col("vec_id"),
        expr("(element_at(q, 1) + 128) div 16").as("cx"),
        expr("(element_at(q, 2) + 128) div 16").as("cy"))
      .transform(graft.ops.Staging.materialize)
    val minPts = pts.agg((lit(4L) + expr("count(1) div 128")).as("mp"))
    val labeled = graft.ops.GridDensity.cluster(
      pts.withColumnRenamed("vec_id", "id"), grid = 16, minPts)
    labeled.groupBy(col("cluster"))
      .agg(countDistinct(col("k")).as("n_cells"),
        count(lit(1)).as("n_points"))
      .orderBy(col("cluster"))
  }
  private val gridDbscanSql =
    """WITH s AS (
      |  SELECT vec_id, embedding,
      |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
      |      AS sc
      |  FROM embeddings),
      |p AS (
      |  SELECT vec_id,
      |    (CASE WHEN sc = 0 THEN 0 ELSE CAST(round(
      |       CAST(embedding[1] AS DOUBLE) * 127.0 / sc) AS BIGINT) END
      |     + 128) // 16 AS cx,
      |    (CASE WHEN sc = 0 THEN 0 ELSE CAST(round(
      |       CAST(embedding[2] AS DOUBLE) * 127.0 / sc) AS BIGINT) END
      |     + 128) // 16 AS cy
      |  FROM s),
      |cnt AS (SELECT cx, cy, count(*) AS npts FROM p GROUP BY cx, cy),
      |core AS (
      |  SELECT cx, cy FROM cnt
      |  WHERE npts >= 4 + (SELECT count(*) FROM p) // 128),
      |adj AS (
      |  SELECT a.cx * 16 + a.cy AS a, b.cx * 16 + b.cy AS b
      |  FROM core a JOIN core b
      |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
      |cc AS (
      |  WITH RECURSIVE r(a, b) AS (
      |    SELECT a, b FROM adj
      |    UNION
      |    SELECT r.a, adj.b FROM r JOIN adj ON r.b = adj.a)
      |  SELECT a AS k, min(b) AS cluster FROM r GROUP BY a),
      |lab AS (
      |  SELECT p.vec_id, p.cx * 16 + p.cy AS k,
      |         coalesce(cc.cluster, -1) AS cluster
      |  FROM p LEFT JOIN cc ON p.cx * 16 + p.cy = cc.k)
      |SELECT cluster, CAST(count(DISTINCT k) AS BIGINT) AS n_cells,
      |       CAST(count(*) AS BIGINT) AS n_points
      |FROM lab GROUP BY cluster ORDER BY cluster""".stripMargin

  // ------------------------------------------------- DAG layering (Kahn)
  /** Longest-path layering of the canonical DAG (edges oriented
    * lo → hi, so acyclicity holds by construction): layer(v) =
    * max(layer(v), max over in-edges layer(u) + 1), run for a FIXED six
    * Bellman rounds (layers deeper than the budget keep their round-6
    * value — deterministic, and the oracle replays every round). The
    * stage-scheduling primitive: layer = the earliest pipeline stage a
    * task can run in; the census is the parallelism profile a scheduler
    * reads (how wide is each stage?).
    *
    * Scale shape: per round ONE equi-join of the layer frame (one row
    * per node) against the checkpointed edge list + ONE combinable max
    * + ONE left join back — the PageRank/label-prop iteration shape;
    * lineage cut every 3 rounds.
    */
  private val topoLayerQ: Q = (s, dir) => {
    val e = SynthGraph.edges(s, dir)
      .select(least(col("x"), col("y")).as("lo"),
        greatest(col("x"), col("y")).as("hi"))
      .filter(col("lo") =!= col("hi") && col("lo").isNotNull)
      .distinct()
      .transform(Staging.materialize) // reused every round
      // (pre-partitioning the checkpoint by lo measured flat — AQE
      // broadcasts the one-row-per-node layer frame into every round's
      // join, so the edge side never shuffles anyway; the 4.5 s at sf0.1
      // is six rounds of sequential stage latency, the price of a fixed
      // Bellman budget)
    var l = e.select(col("lo").as("node"))
      .union(e.select(col("hi").as("node"))).distinct()
      .withColumn("l", lit(0L))
    for (k <- 1 to 6) {
      val upd = e
        .join(l.select(col("node").as("lo"), col("l").as("pl")), "lo")
        .groupBy(col("hi").as("node"))
        .agg((max(col("pl")) + lit(1L)).as("ml"))
      l = l.join(upd, Seq("node"), "left")
        .select(col("node"),
          greatest(col("l"), coalesce(col("ml"), lit(-1L))).as("l"))
      if (k % 3 == 0 && k < 6) l = l.transform(Staging.materialize)
    }
    l.groupBy(col("l").as("layer")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("layer"))
  }
  private val topoLayerSql = {
    def round_(i: Int): String =
      s"""l$i AS MATERIALIZED (
         |  SELECT n.node, greatest(n.l, coalesce(m.ml, -1)) AS l
         |  FROM l${i - 1} n LEFT JOIN (
         |    SELECT e.hi AS node, max(p.l) + 1 AS ml
         |    FROM e JOIN l${i - 1} p ON e.lo = p.node GROUP BY e.hi) m
         |  ON n.node = m.node)""".stripMargin
    s"""WITH ${SynthGraph.rawSql},
       |e AS MATERIALIZED (
       |  SELECT DISTINCT least(x, y) AS lo, greatest(x, y) AS hi
       |  FROM raw WHERE x <> y),
       |l0 AS MATERIALIZED (
       |  SELECT node, CAST(0 AS BIGINT) AS l FROM (
       |    SELECT DISTINCT lo AS node FROM e
       |    UNION SELECT DISTINCT hi FROM e)),
       |${(1 to 6).map(round_).mkString(",\n")}
       |SELECT l AS layer, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM l6 GROUP BY l ORDER BY layer""".stripMargin
  }

  // ------------------------------------------------------------ registry

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_grid_dbscan", gridDbscanQ, Some(gridDbscanSql)),
    ("q_topo_layer", topoLayerQ, Some(topoLayerSql)))

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap

  val oracleSql: Map[String, String] =
    entries.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
