package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Gap-based sessionization as a lag/cumsum window (q_sessionize).
  * The same session assignment as a native windowed groupBy is Spark's
  * built-in `session_window` (q_session_window).
  *
  * Works in integer epoch-MICROSECONDS — the canonical `ts` resolution
  * ([[graft.Tables.events]] normalizes every fixture generation's
  * physical type to TIMESTAMP micros), so session bounds stay
  * oracle-comparable across engines.
  */
object Sessionize {

  /** 12 h in µs — several sessions per user on the events fixture
    * (median inter-event gap ≈ 7 h).
    */
  val DefaultGapUs: Long = 12L * 3600 * 1000000

  /** Batch form: lag → gap flag → running session id → group. One
    * shuffle on user_id; the window sort and the aggregation share it.
    */
  def batchSessions(events: DataFrame, gapUs: Long = DefaultGapUs): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1)
          .otherwise(0))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        min(col("us")).as("session_start_us"),
        max(col("us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start_us"))
  }
}
