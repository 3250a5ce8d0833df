package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. `ExpressionUtils` is `private[sql]`, so this one-file shim
  * lives under the org.apache.spark.sql package — the same technique
  * third-party Spark extensions (e.g. connectors and UDF libraries) use
  * to wrap native expressions.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed logical plan (the hook a
    * custom operator rewrite needs to hand its output back to the public
    * API). `Dataset.ofRows` is `private[sql]`, hence the shim.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A materialized frame (`checkpoint`/`localCheckpoint`) of `rows`
    * rows, estimated at that many rows of its output's width, at most
    * its origin plan's estimate, plus `elementBytes` (`LogicalRDD` and
    * its statistics are internal, hence the shim). The cap keeps a frame
    * derived from a parquet scan on the scale of the estimates it is
    * compared with, which count compressed file bytes: in-memory bytes
    * would make it look larger than the same rows on a join's other side.
    */
  def sizedByRows(df: DataFrame, rows: Long, elementBytes: Long): DataFrame = {
    val session = df.sparkSession.asInstanceOf[SparkSession]
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val bytes = (EstimationUtils.getSizePerRow(r.output) * rows).min(r.stats.sizeInBytes)
        val stats = Statistics(bytes + elementBytes, Some(BigInt(rows)))
        ofRows(session, r.copy()(session, Some(stats), Some(r.constraints)))
      case p =>
        throw new IllegalArgumentException(s"not a materialized frame: ${p.nodeName}")
    }
  }

  /** Executor-side access to the session's Hadoop configuration: returns
    * a serializable thunk wrapping a broadcast `SerializableConfiguration`
    * (`private[spark]`, hence the shim) — the standard way distributed
    * filesystem/footer work picks up the driver's FS settings instead of
    * silently rebuilding defaults on the executors.
    */
  def hadoopConfAccessor(sc: org.apache.spark.SparkContext)
      : () => org.apache.hadoop.conf.Configuration = {
    val b = org.apache.spark.util.SerializableConfiguration.broadcast(sc)
    () => b.value.value
  }

  /** Block until every event posted so far has reached the listeners
    * (`listenerBus` is `private[spark]`): a listener that counts jobs
    * reads its counts only after the bus is empty. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
