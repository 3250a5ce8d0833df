package graft.streaming

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

/** Streaming has no DuckDB oracle — the correctness contract is
  * batch-equivalence: the drained stream result must equal the same
  * windowed aggregation computed in batch (SURVEY §2.10).
  */
class EventStreamSpec extends SparkSpec {

  test("streamed windowed agg equals batch windowed agg on the same input") {
    val sf = "/root/testdata/sf0.001"
    val tmp = stagedEvents(sf)
    val streamed = EventStream
      .runFileStream(spark, tmp.toString, queryName = "spec_stream")
      .orderBy("bucket", "event_type").collect().toSeq
    val batch = EventStream.windowedAgg(Tables.events(spark, sf))
      .orderBy("bucket", "event_type").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("runStreamStaticJoin drains to the exact batch join + window result") {
    val sf = "/root/testdata/sf0.001"
    val tmp = stagedEvents(sf)
    val streamed = EventStream
      .runStreamStaticJoin(spark, tmp.toString, queryName = "spec_ss_q")
      .orderBy("bucket", "tier").collect().toSeq
    val batch = Tables.events(spark, sf)
      .join(broadcast(EventStream.tierDim(spark)), "event_type")
      .groupBy(window(col("ts"), "6 hours"), col("tier"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("weight") * round(col("value") * 100).cast("long"))
          .as("wsum_cents"))
      .select(col("window.start").as("bucket"), col("tier"),
        col("cnt"), col("wsum_cents"))
      .orderBy("bucket", "tier").collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-static join: streamed events enrich against a static dim") {
    val sf = "/root/testdata/sf0.001"
    val tmp = stagedEvents(sf)
    val staticUsers = Tables.events(spark, sf)
      .select(col("user_id")).distinct()
      .withColumn("segment", (col("user_id") % 3).cast("int"))
    val q = spark.readStream
      .schema(EventStream.eventsRawSchema)
      .parquet(tmp.toString)
      .join(staticUsers, Seq("user_id"))
      .groupBy("segment").count()
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    EventStream.awaitDrain(q)
    val streamed = spark.table("ss_join").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf).join(staticUsers, Seq("user_id"))
      .groupBy("segment").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch sink: per-microbatch parquet writes reassemble the batch result") {
    val sf = "/root/testdata/sf0.001"
    val tmp = stagedEvents(sf)
    val out = java.nio.file.Files.createTempDirectory("graft_feb_out").toString
    val q = spark.readStream
      .schema(EventStream.eventsRawSchema)
      .parquet(tmp.toString)
      .select("event_id", "event_type", "value")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(out): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    EventStream.awaitDrain(q)
    val streamed = spark.read.parquet(out)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming dropDuplicates yields the same key set as batch distinct") {
    val sf = "/root/testdata/sf0.001"
    val tmp = stagedEvents(sf)
    val q = spark.readStream
      .schema(EventStream.eventsRawSchema)
      .parquet(tmp.toString)
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")
      .select("user_id", "event_type")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    EventStream.awaitDrain(q)
    val streamedKeys = spark.table("dedup_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batchKeys = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamedKeys == batchKeys)
  }

  test("awaitDrain stops and reports a query that outlives its timeout") {
    // a rate source never terminates — exactly the wedged-drain shape the
    // r4 bench lost its artifact to; the bounded wait must stop it and
    // throw, not hang
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .writeStream.format("memory").queryName("wedged_drain")
      .outputMode("append")
      .start()
    val ex = intercept[IllegalStateException] {
      EventStream.awaitDrain(q, timeoutMs = 1500)
    }
    assert(ex.getMessage.contains("wedged_drain"))
    assert(!q.isActive, "awaitDrain must stop the wedged query")
  }

  test("SPARK_GRAFT_STREAM_TIMEOUT_MS: unset is 120 s, a positive number " +
      "is taken, anything else is refused by name") {
    assert(EventStream.drainTimeoutMs(None) == 120000L)
    assert(EventStream.drainTimeoutMs(Some("1500")) == 1500L)
    for (v <- Seq("abc", "", "0", "-5", "1.5", "12s")) {
      val e = intercept[IllegalArgumentException](
        EventStream.drainTimeoutMs(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_TIMEOUT_MS") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("runStreamDedup removes cross-batch duplicates (first arrival wins)") {
    val sf = "/root/testdata/sf0.001"
    // duplicate the whole fixture across two files = two micro-batches
    val tmp = java.nio.file.Files.createTempDirectory("graft_dup_in")
    Seq("a.parquet", "b.parquet").foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"), tmp.resolve(f))
    }
    val got = EventStream.runStreamDedup(spark, tmp.toString,
        queryName = "dedup_spec_stream")
      .agg(sum(col("cnt"))).head().getLong(0)
    val unique = Tables.events(spark, sf).count()
    // without dedup the drain would see 2x unique — state dedup halves it
    assert(got == unique, s"streamed dedup total $got != unique $unique")
  }
}
