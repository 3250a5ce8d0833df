package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.Tables
import graft.ops.Staging

/** Structured Streaming extension (SURVEY §2.10): the reference has no
  * dataflow streaming, but the engine's `events` surface gets the standard
  * micro-batch shape — file source → watermark → tumbling-window agg.
  *
  * Scale notes: the windowed aggregation is keyed by (window, event_type)
  * — state is bounded by watermark expiry; at 100 TB/day the file source
  * becomes a real bus (Kafka) with identical downstream plan.
  */
object EventStream {

  /** Hard cap on any AvailableNow drain. The fixture drains finish in
    * seconds; a drain that outlives this is a wedged query, not a longer
    * wait — and an unbounded `awaitTermination()` here is what turned one
    * environmental stall into a lost whole-run bench artifact (r4).
    */
  val DrainTimeoutMs: Long =
    drainTimeoutMs(sys.env.get("SPARK_GRAFT_STREAM_TIMEOUT_MS"))

  /** `SPARK_GRAFT_STREAM_TIMEOUT_MS` parsed: unset means 120 s; anything
    * but a positive whole number of milliseconds is refused by name. */
  private[graft] def drainTimeoutMs(value: Option[String]): Long =
    value.fold(120000L)(v => v.toLongOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_STREAM_TIMEOUT_MS='$v' must be a positive number of milliseconds")))

  /** Await an AvailableNow drain with a hard timeout: on expiry the query
    * is stopped (releasing its state stores) and a loud exception names
    * it — never silently returning a partial table.
    */
  def awaitDrain(q: org.apache.spark.sql.streaming.StreamingQuery,
                 timeoutMs: Long = DrainTimeoutMs): Unit = {
    val finished = q.awaitTermination(timeoutMs)
    if (!finished) {
      // stop() itself can throw (stopTimeout, or the query died with an
      // error in the meantime) — swallow it so the descriptive exception
      // below, naming the wedged drain, is always the one that propagates
      try q.stop() catch { case scala.util.control.NonFatal(_) => () }
      throw new IllegalStateException(
        s"streaming drain '${q.name}' exceeded ${timeoutMs}ms (AvailableNow " +
          "should terminate on its own; a longer wait would not help)")
    }
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` at `n` and restores
    * the session value after: a streaming query's state-store instances
    * are its shuffle partitions, and its state here is small, so a few
    * partitions beat the session default. */
  private def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Canonical file-source schema for staged event files. Staging always
    * rewrites events through [[graft.Tables.events]] (which owns the
    * physical-type normalization — the fixture has shipped both
    * TIMESTAMP(NANOS) and tz-naive TIMESTAMP(MICROS) across testdata
    * generations), so the stream side reads one declared schema with a
    * real TIMESTAMP ts, exactly as a production landing zone would.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window aggregate — pure transform shared by the streaming
    * and batch (equivalence-test / oracle) paths.
    */
  def windowedAgg(events: DataFrame, windowDur: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Run the windowed agg as a real micro-batch stream over a directory of
    * parquet event files (Trigger.AvailableNow → drains all input, then
    * stops) into an in-memory table; returns the final result.
    *
    * Watermark bounds state for continuous operation; output mode is
    * `complete` so the drained result equals the batch answer (append
    * would hold back unexpired windows).
    */
  def runFileStream(spark: SparkSession, inputDir: String,
                    windowDur: String = "1 hour",
                    watermark: String = "10 minutes",
                    queryName: String = "graft_stream_window"): DataFrame = {
    val raw = spark.readStream
      .schema(eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
      .withWatermark("ts", watermark)
    // state-store instances = shuffle partitions; the windowed state is
    // tiny (windows × types), so a handful of partitions beats the
    // session default (restored after the drain)
    withShufflePartitions(spark, 8) {
      val q = windowedAgg(raw, windowDur)
        .writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrain(q)
    }
    spark.table(queryName)
  }

  /** Streaming ingest dedup: first-arrival-wins on `event_id` with state
    * bounded by the watermark (`dropDuplicatesWithinWatermark` — re-sent
    * events older than the watermark can't resurrect state, so the store
    * stays O(events-per-watermark-window) at any input volume). The
    * deduped stream drains append-mode into a memory table; the per-type
    * rollup happens batch-side on the drained result (same split as
    * [[runStreamJoin]] — one stateful op per stream).
    */
  def runStreamDedup(spark: SparkSession, inputDir: String,
                     watermark: String = "1 hour",
                     queryName: String = "graft_stream_dedup"): DataFrame = {
    val raw = spark.readStream
      .schema(eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
    withShufflePartitions(spark, 8) {
      val q = raw.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrain(q)
    }
    spark.table(queryName)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** Stream-stream interval join: click→purchase attribution within
    * `matchWindow` per user. Both sides watermarked (the time-range
    * condition lets Spark expire join state — without it the state store
    * grows unboundedly); the raw matched pairs drain append-mode into a
    * memory table and the per-user rollup happens batch-side on the
    * drained result.
    */
  def runStreamJoin(spark: SparkSession, inputDir: String,
                    matchWindow: String = "30 minutes",
                    watermark: String = "1 hour",
                    queryName: String = "graft_stream_join"): DataFrame = {
    def src = spark.readStream
      .schema(eventsRawSchema)
      .parquet(inputDir)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", watermark)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", watermark)
    val joined = clicks.join(purchases,
      col("p_user") === col("c_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"interval $matchWindow"))
    // each shuffle partition = one state-store instance PER JOIN SIDE —
    // the join state here is tiny, so fewer stores beat more parallelism
    withShufflePartitions(spark, 4) {
      val q = joined.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrain(q)
    }
    spark.table(queryName)
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("pairs"))
  }

  /** The event-type → (tier, weight) enrichment dimension shared by the
    * streaming query and its batch oracle — in production a slowly
    * changing table the stream re-reads per micro-batch.
    */
  def tierDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("click", "engage", 2L), ("view", "engage", 1L),
      ("purchase", "convert", 5L), ("signup", "convert", 3L),
      ("error", "ops", 0L)).toDF("event_type", "tier", "weight")
  }

  /** Stream–static enrichment join: the event stream joins a STATIC
    * dimension (no watermark, no join state — Spark re-plans the static
    * side per micro-batch and broadcasts it), then rolls up weighted
    * value into 6-hour windows per tier. This is the third streaming
    * join shape next to stream–stream (runStreamJoin) and stateful
    * dedup: state is only the windowed agg, bounded by the watermark;
    * the join itself is stateless map-side work at any stream volume.
    * The weighted sum is exact integer cents × Long weights, so the
    * drained result is bit-identical to the batch oracle.
    */
  def runStreamStaticJoin(spark: SparkSession, inputDir: String,
                          windowDur: String = "6 hours",
                          watermark: String = "10 minutes",
                          queryName: String = "graft_stream_static")
      : DataFrame = {
    val raw = spark.readStream
      .schema(eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
      .withWatermark("ts", watermark)
    val enriched = raw
      .join(org.apache.spark.sql.functions.broadcast(tierDim(spark)),
        "event_type")
      .groupBy(window(col("ts"), windowDur), col("tier"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("weight") * round(col("value") * 100).cast("long"))
          .as("wsum_cents"))
      .select(col("window.start").as("bucket"), col("tier"),
        col("cnt"), col("wsum_cents"))
    withShufflePartitions(spark, 8) {
      val q = enriched.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrain(q)
    }
    spark.table(queryName)
  }

  /** Streaming CDC apply (`foreachBatch` upsert): each micro-batch MERGEs
    * into a keyed parquet target — latest event per user under the total
    * (ts, event_id) order. The merge is COMMUTATIVE (arg-max of a total
    * order), so the final table is identical for any file/batch
    * processing order — which is what makes it value-oracle-able against
    * the batch latest-per-key query.
    *
    * Mechanics: the target alternates between two directories (A/B) so a
    * batch never overwrites the files it is reading (the same live-read
    * discipline as PageRank's bucketed tables); the per-batch merge is
    * `union → max_by(struct(ts, event_id))` — one combinable hash agg,
    * no window. At scale the A/B parquet pair becomes a real table
    * format's MERGE INTO with the identical plan per batch; state lives
    * in the TABLE, not the state store, so the stream restarts free.
    * Returns the final target, `localCheckpoint`ed so the caller's frame
    * survives the temp-dir cleanup.
    */
  def runStreamUpsert(spark: SparkSession, inputDir: String,
                      queryName: String = "graft_stream_upsert")
      : DataFrame = {
    val raw = spark.readStream
      .schema(eventsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
    val root = java.nio.file.Files.createTempDirectory("graft_upsert")
    val dirs = Seq(root.resolve("a").toString, root.resolve("b").toString)
    // which A/B slot holds the current target (-1 = none yet); plain var
    // is safe — foreachBatch bodies run sequentially on the stream thread
    var cur = -1
    try withShufflePartitions(spark, 8) {
      val q = raw.writeStream
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // normalize the batch to the TARGET schema first, so the merge
          // is a plain unionByName + arg-max at every batch after the
          // first. ts normalizes to integer MICROS — the batch reference
          // and the oracle both order by microsecond ts with the
          // event_id tiebreak
          val upd = batch.select(col("user_id"),
            unix_micros(col("ts")).as("t"),
            col("event_id").as("last_event_id"),
            col("event_type").as("last_type"),
            round(col("value") * 100).cast("long").as("last_value_cents"))
          val merged = (if (cur < 0) upd
            else Tables.parquet(spark, dirs(cur)).unionByName(upd))
            .groupBy(col("user_id"))
            .agg(max(struct(col("t"), col("last_event_id"),
              col("last_type"), col("last_value_cents"))).as("m"))
            .select(col("user_id"), col("m.t").as("t"),
              col("m.last_event_id").as("last_event_id"),
              col("m.last_type").as("last_type"),
              col("m.last_value_cents").as("last_value_cents"))
          val next = (cur + 1) % 2
          merged.write.mode("overwrite").parquet(dirs(next))
          cur = next
        }
        .start()
      awaitDrain(q)
      require(cur >= 0, "stream upsert: no micro-batch ran")
      // materialize off the temp files, then drop them
      Tables.parquet(spark, dirs(cur))
        .select(col("user_id"), col("last_event_id"), col("last_type"),
          col("last_value_cents"))
        .transform(Staging.materialize)
    } finally {
      import scala.jdk.CollectionConverters._
      val stream = java.nio.file.Files.walk(root)
      val paths = try stream.iterator().asScala.toSeq.reverse
        finally stream.close()
      paths.foreach(p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () })
    }
  }
}
