package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The ONE scale-proportional deterministic graph the graph-operator
  * queries (q_triangle_count, q_label_prop, q_kcore) share — N =
  * distinct orderkeys keeps average degree constant as sf grows, so
  * edges stay linear in the data, the shape a real web/citation graph
  * sweep has. Extracted so the documented "same graph" coupling between
  * those queries is structural, not six copies that must stay
  * bit-identical by hand.
  */
object SynthGraph {

  /** Raw directed edge pairs (x, y); self-loops NOT yet removed — each
    * operator canonicalizes per its own contract. STAGED once per
    * (process, dir) as parquet (r13 verdict item 4): eight graph
    * queries walk this edge set, several more than once per run — each
    * used to re-pay the lineitem scan + distinct-orderkey agg per
    * consumer. The derivation itself ([[rawEdges]]) stays the
    * documented source of truth and is what the oracle CTE mirrors;
    * edge content is deterministic, and no consumer is row-order
    * sensitive (graph aggregations; explicit ORDER BY at the outputs).
    */
  def edges(s: SparkSession, dir: String): DataFrame = {
    val path = graft.ops.Staging.cached(s"synthgraph:$dir") { tmp =>
      val out = tmp.resolve("edges").toString
      rawEdges(s, dir).write.mode("overwrite").parquet(out)
      out
    }
    Tables.parquet(s, path)
  }

  /** The underlying derivation: N = distinct orderkeys as a broadcast
    * 1-row frame (not a driver collect), one projection over lineitem.
    */
  private[queries] def rawEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val nn = li.agg(countDistinct(col("l_orderkey")).as("nn"))
    li.crossJoin(broadcast(nn))
      .select((col("l_orderkey") % col("nn")).as("x"),
        ((expr("l_orderkey div 7") + col("l_linenumber") * 131) % col("nn"))
          .as("y"))
  }

  /** The matching oracle CTE fragment: `n0` (node count) + `raw` (x, y)
    * — splice as the first entries of a WITH list.
    */
  val rawSql: String =
    """n0 AS (SELECT count(DISTINCT l_orderkey) AS nn FROM lineitem),
      |raw AS (
      |  SELECT l_orderkey % nn AS x,
      |         (l_orderkey // 7 + l_linenumber * 131) % nn AS y
      |  FROM lineitem, n0)""".stripMargin
}
