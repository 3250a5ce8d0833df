package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an edge list, in EXACT integer
  * arithmetic: ranks are BIGINT "micro-rank" units (1e6 = mass 1.0) and
  * every step is integer division/multiplication, so the result is
  * bit-identical regardless of partitioning, execution order, or engine
  * — floating-point PageRank sums contributions in nondeterministic
  * order and can't be value-oracled; this one can.
  *
  * Update rule per iteration (damping d = num/den, default 850/1000):
  *   contrib(e) = pr(src) div out_deg(src)          (integer floor)
  *   pr'(v)     = teleport + (num · Σ contrib) div den
  * where teleport = microInit·(den−num) div den. Dangling nodes are the
  * caller's concern — feed a symmetrized edge list (every node then has
  * out-degree ≥ 1), the standard trick for undirected link graphs.
  *
  * Scale shape: `edgesDeg` (edges + out-degree) is computed once and
  * persisted; each iteration is ONE equi-join on src (rank is small —
  * one row per node — and broadcastable at moderate node counts) plus
  * ONE hash aggregation on dst. Lineage is cut per iteration with
  * `localCheckpoint` (cluster equivalent: `checkpoint`), so the plan
  * stays O(1) deep at any iteration count. At 100 TB of edges:
  * pre-bucket edges by src so the per-iteration join is co-located, and
  * the only cross-network traffic left is the dst aggregation.
  */
object PageRank {

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int, microInit: Long = 1000000L,
               dampingNum: Long = 850L, dampingDen: Long = 1000L,
               checkpointInterval: Int = 8): DataFrame = {
    require(iterations >= 1, "pageRank: iterations must be >= 1")
    require(checkpointInterval >= 1,
      "pageRank: checkpointInterval must be >= 1")
    val teleport = microInit * (dampingDen - dampingNum) / dampingDen
    val deg = edges.groupBy(col(srcCol).as("src"))
      .agg(count(lit(1)).as("out_deg"))
    val edgesDeg = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(deg, "src")
      .transform(Staging.materialize) // computed once, reused every iteration
    // init: every node with out-edges starts at microInit; a symmetrized
    // graph has every node on both sides, so this is every node
    var rank = deg.select(col("src").as("node"), lit(microInit).as("pr"))
    for (i <- 1 to iterations) {
      // rank is node-count-sized, so AQE already converts this join to a
      // broadcast at runtime WITHOUT the per-iteration driver barrier an
      // explicit broadcast() adds (measured ~1.5x slower forced); for
      // graphs whose node set outgrows the broadcast budget, pre-bucket
      // edges by src so the join co-locates.
      rank = edgesDeg.join(rank, edgesDeg("src") === rank("node"))
        .select(col("dst"), expr("pr div out_deg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("mass"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr(s"($dampingNum * mass) div $dampingDen"))
            .as("pr"))
      // lineage grows one join+agg per iteration; an EAGER materialization
      // every iteration would cost more than the plan depth it saves —
      // checkpoint only every `checkpointInterval` rounds (and skip the
      // final round: the caller's action materializes it anyway)
      if (i % checkpointInterval == 0 && i < iterations)
        rank = rank.transform(Staging.materialize)
    }
    rank
  }

  /** One iteration of the bucketed path, reading both sides from
    * co-bucketed tables: edges bucketed+sorted by `src`, rank
    * bucketed+sorted by `node`, same bucket count → the sort-merge join
    * consumes both scans IN PLACE (no Exchange, no Sort on either side;
    * the `merge` hint pins SMJ — at the node counts this path exists
    * for, the rank side is past any broadcast budget by definition).
    * The only shuffle left per iteration is the dst mass aggregation —
    * the irreducible cross-network traffic of PageRank. Exposed (not
    * private) so the plan the spec asserts is the plan the loop runs.
    */
  def bucketedIteration(spark: SparkSession, edgesTable: String,
                        rankTable: String, teleport: Long,
                        dampingNum: Long, dampingDen: Long): DataFrame =
    spark.table(edgesTable)
      .join(spark.table(rankTable).hint("merge"), col("src") === col("node"))
      .select(col("dst"), expr("pr div out_deg").as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("mass"))
      .select(col("dst").as("node"),
        (lit(teleport) + expr(s"($dampingNum * mass) div $dampingDen"))
          .as("pr"))

  /** The 100 TB contingency path [[pageRank]]'s scale notes promise: when
    * the node set outgrows any broadcast budget, pre-bucket the edges by
    * `src` once and keep the rank co-bucketed by `node`, so every
    * iteration's join is co-located (zero join Exchange, proven in
    * PlanSpec) and each iteration's table write doubles as the lineage
    * cut (no checkpoints needed). Same exact integer arithmetic →
    * bit-identical to [[pageRank]] (parity-tested in PageRankSpec).
    *
    * Leaves managed tables `<prefix>_edges` / `<prefix>_rank_*` behind —
    * the returned frame reads the final one lazily; call
    * [[dropBucketedTables]] after consuming it.
    */
  def pageRankBucketed(spark: SparkSession, edges: DataFrame,
                       srcCol: String, dstCol: String, iterations: Int,
                       namePrefix: String, buckets: Int = 32,
                       microInit: Long = 1000000L,
                       dampingNum: Long = 850L,
                       dampingDen: Long = 1000L): DataFrame = {
    require(iterations >= 1, "pageRankBucketed: iterations must be >= 1")
    require(buckets >= 1, "pageRankBucketed: buckets must be >= 1")
    val teleport = microInit * (dampingDen - dampingNum) / dampingDen
    val deg = edges.groupBy(col(srcCol).as("src"))
      .agg(count(lit(1)).as("out_deg"))
    val edgesT = s"${namePrefix}_edges"
    preCleanOrphan(spark, edgesT)
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(deg, "src")
      .write.bucketBy(buckets, "src").sortBy("src")
      .mode("overwrite").saveAsTable(edgesT)
    tagStaged(spark, edgesT)
    var cur = s"${namePrefix}_rank_0"
    preCleanOrphan(spark, s"${namePrefix}_rank_0")
    preCleanOrphan(spark, s"${namePrefix}_rank_1")
    preCleanOrphan(spark, s"${namePrefix}_rank_2")
    deg.select(col("src").as("node"), lit(microInit).as("pr"))
      .write.bucketBy(buckets, "node").sortBy("node")
      .mode("overwrite").saveAsTable(cur)
    tagStaged(spark, cur)
    for (_ <- 1 to iterations) {
      // alternate between two iteration tables: the write target is
      // always a table no live read depends on
      val next = s"${namePrefix}_rank_${if (cur.endsWith("_1")) 2 else 1}"
      bucketedIteration(spark, edgesT, cur, teleport, dampingNum, dampingDen)
        .write.bucketBy(buckets, "node").sortBy("node")
        .mode("overwrite").saveAsTable(next)
      tagStaged(spark, next)
      cur = next
    }
    spark.table(cur)
  }

  /** Ownership tag on every table [[pageRankBucketed]] stages: DROP +
    * recursive file delete is destructive, so [[dropBucketedTables]]
    * refuses to touch any table that doesn't carry it — a pre-existing
    * user table that merely collides on name survives. (mode=overwrite
    * recreates the table, wiping properties — re-tag after every write.)
    */
  private val StagedKey = "graft.staged"
  private val StagedVal = "pagerank"
  /** Marker FILE inside the table directory, beside the catalog property:
    * the in-memory catalog (and its properties) dies with the JVM, but
    * the warehouse directory survives — the marker lets a later JVM prove
    * an orphaned directory is ours before clearing it. */
  private val MarkerFile = "_graft_staged_pagerank"
  private def tagStaged(spark: SparkSession, table: String): Unit = {
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES ('$StagedKey'='$StagedVal')")
    warehousePath(spark, table).foreach { dir =>
      if (java.nio.file.Files.isDirectory(dir))
        java.nio.file.Files.write(dir.resolve(MarkerFile), Array.empty[Byte]): Unit
    }
  }
  private def isStaged(spark: SparkSession, table: String): Boolean =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .exists(r => r.getString(0) == StagedKey && r.getString(1) == StagedVal)
  /** Default managed-table location (default database): warehouseDir/name.
    * None for non-local warehouses — orphan pre-clean is a local-mode
    * convenience; a cluster catalog outlives its JVMs and never orphans. */
  private def warehousePath(spark: SparkSession,
                            table: String): Option[java.nio.file.Path] = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val stripped =
      if (wh.startsWith("file:")) Some(wh.stripPrefix("file:"))
      else if (!wh.contains(":")) Some(wh)
      else None
    stripped.map(d => java.nio.file.Paths.get(d, table.toLowerCase))
  }

  /** A fresh JVM's in-memory catalog does not know the previous JVM's
    * managed tables, but their directories survive in the warehouse — and
    * `saveAsTable` refuses to create a managed table over a non-empty
    * location. If the directory carries our [[MarkerFile]], it is a
    * previous run's orphan: clear it. If it does NOT, refuse loudly — the
    * caller's prefix collides with data this code did not write.
    */
  private def preCleanOrphan(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table))
      warehousePath(spark, table).foreach { dir =>
        if (java.nio.file.Files.isDirectory(dir)) {
          if (!java.nio.file.Files.exists(dir.resolve(MarkerFile)))
            throw new IllegalStateException(
              s"pageRankBucketed: $dir exists but carries no $MarkerFile " +
                "marker — refusing to overwrite a directory this code did " +
                "not stage; choose another namePrefix or remove it manually")
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq
            .reverse.foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }

  /** Drop the managed tables a [[pageRankBucketed]] run staged, deleting
    * their warehouse directories (DROP TABLE alone leaves managed-table
    * files behind when the in-memory catalog outlives the JVM that wrote
    * them). Only tables carrying the [[StagedKey]] ownership tag are
    * touched: a user table that happens to share the prefix is left
    * intact with a loud stderr note instead of being destroyed.
    */
  def dropBucketedTables(spark: SparkSession, namePrefix: String): Unit =
    Seq("_edges", "_rank_0", "_rank_1", "_rank_2").map(namePrefix + _)
      .foreach { t =>
        if (spark.catalog.tableExists(t) && {
          val staged = isStaged(spark, t)
          if (!staged) System.err.println(
            s"[pagerank] NOT dropping $t: missing $StagedKey=$StagedVal " +
              "tag — name collision with a table this run did not create")
          staged
        }) {
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
