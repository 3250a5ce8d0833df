package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation (builder-prompt scale mandate): salted joins for hot
  * keys that AQE's skew-join split can't fix (e.g. when the skewed side
  * must shuffle anyway, or the build side is just over the broadcast
  * threshold).
  *
  * Shape: the skewed (probe) side gets a random salt in [0, factor); the
  * small/replicated side is exploded `factor`× with every salt value;
  * the join key becomes (key, salt) so one hot key spreads over `factor`
  * reducers. Row multiplicity is unchanged — each probe row matches
  * exactly the one replica carrying its salt.
  *
  * When is manual salting still REQUIRED, given AQE? AQE's
  * `OptimizeSkewedJoin` splits an oversized shuffle partition of a
  * sort-merge/shuffled-hash JOIN at runtime (PlanSpec asserts `skew=true`
  * on a deliberately skewed join), so plain skewed equi-joins need no
  * hand-salting on Spark 3.2+. What AQE does NOT rebalance is a skewed
  * AGGREGATION: `groupBy(hotKey).agg(...)` sends every row of the hot key
  * to ONE reducer and no runtime rule can split it, because correctness
  * requires all rows of a group in one place. The manual remedy is
  * two-level aggregation — salt the group key, partially aggregate
  * (key, salt), then aggregate the partials by key — which only works for
  * COMBINABLE aggregates (sum/count/min/max/...); for those Spark's own
  * map-side partial aggregation usually already absorbs the skew, so the
  * two-level form pays off only when the map-side hash runs out of room
  * (huge per-key state, e.g. collect_list). [[saltedJoin]] remains for
  * the join cases AQE can't reach: a skewed LEFT side whose join must
  * stay shuffled while the right side is small-but-over-broadcast, or a
  * shuffle the planner pinned for another reason.
  */
object Skew {

  /** Join types that preserve multiplicity under replication: ones where
    * unmatched REPLICATED-side rows never surface. A right/full outer
    * join would emit `factor` null-extended copies of every unmatched
    * replica.
    */
  private val safeJoinTypes =
    Set("inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti")

  def saltedJoin(skewed: DataFrame, replicated: DataFrame, key: String,
                 factor: Int, joinType: String = "inner"): DataFrame = {
    require(factor > 0, "salt factor must be positive")
    require(safeJoinTypes.contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin: '$joinType' would duplicate unmatched replicated-side " +
        s"rows ${factor}x; only inner/left/semi/anti joins are salt-safe")
    val salted = skewed.withColumn("__salt",
      (rand(42) * factor).cast("int"))
    val expanded = replicated.withColumn("__salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(expanded, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
