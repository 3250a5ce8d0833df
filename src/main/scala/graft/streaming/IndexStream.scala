package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming ANN-index maintenance (SURVEY §2.10 × §2.7): drive the
  * versioned index commits from a micro-batch vector stream — the
  * streaming sibling of the batch upsert the reference runs against
  * its vector index (utils/upload_data_to_pinecone.py:73-83), and the
  * closure of the last static/streaming asymmetry in the engine (every
  * other index/dedup op already has an incremental sibling).
  *
  * Shape: `foreachBatch` is the right tool, not a stateful operator —
  * the index IS the state, it lives in the manifest-committed parquet
  * layout, and each micro-batch's work is exactly the batch commit.
  * FAULT TOLERANCE is the part `foreachBatch` does NOT give for free:
  * its delivery contract is at-least-once (the reference's own upsert
  * loop retries 15×, `utils/upload_data_to_pinecone.py:73-83` — same
  * contract), so after a mid-drain crash the recovered query REDELIVERS
  * the in-flight batch under the SAME batchId. Every sink here is
  * therefore keyed by `{sink}:{batchId}` where `sink` identifies the
  * logical stream ([[sinkId]] — the checkpoint identity, stable across
  * kill-and-restart): the manifest carries `batch:{id}` plus
  * `sink:{name}` ([[graft.ops.VectorOps.ivfAppendBatch]] /
  * [[graft.ops.VectorOps.commitDeletesBatch]]). A redelivered
  * (sink, id) is skipped,
  * and with a durable `checkpointLocation` the post-recovery index is
  * bit-identical to a clean run (IndexStreamSpec proves the
  * kill-and-restart replay). The namespace matters the moment TWO
  * streams feed one index (ingest appends beside a
  * right-to-be-forgotten delete queue, separate checkpoints): every
  * streaming query's batchIds start at 0, so bare ids would make the
  * second stream's first batches falsely read as replays of the first's
  * and be silently dropped. At-least-once delivery + idempotent commit
  * = exactly-once EFFECT — the only exactly-once there is over an
  * object store.
  *
  * Because the coarse quantizer is frozen and appends are file-additive,
  * the post-drain index is also bit-identical to a batch build over the
  * same rows REGARDLESS of micro-batch boundaries or order — which is
  * what makes it value-oracle-able (q_stream_ivf). At 100 TB/day the
  * file source becomes a real bus; the per-batch plan (one map-side
  * assign + partitioned write + one metadata-scale manifest create, no
  * shuffle) is unchanged.
  */
object IndexStream {

  /** Canonical file-source schema for staged embedding batches. */
  val embeddingsRawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Canonical file-source schema for staged tombstone batches. */
  val tombstoneRawSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType)))

  /** Outcome of a stream drain against the versioned index:
    * `nCommitted` batches landed a new version this drain, `nSkipped`
    * were recognized as already-committed replays (non-zero exactly on
    * a post-crash recovery drain), `finalVersion` is HEAD after the
    * drain.
    */
  final case class DrainResult(nCommitted: Int, nSkipped: Int,
                               finalVersion: Int)

  /** The idempotence namespace of one logical stream
    * ([[graft.ops.VectorOps.batchKey]]). batchIds are scoped to a
    * streaming CHECKPOINT — the recovered query re-reads its offsets
    * from the same checkpointLocation and redelivers under the same ids,
    * while a DIFFERENT stream (own checkpoint) restarts at 0 — so the
    * checkpoint identity, not the caller's per-run queryName, is the
    * stable key: a digest of the canonical checkpoint path (short,
    * filesystem-safe, and identical across kill-and-restart even when
    * the operator renames the recovery run). Checkpoint-free drains fall
    * back to the queryName: with no durable offsets there is no replay
    * to absorb, and the name keeps ad-hoc drains on one index apart.
    */
  private[streaming] def sinkId(checkpointDir: Option[String],
                                queryName: String): String =
    checkpointDir.map { d =>
      val canon = new java.io.File(d).getCanonicalPath
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      "ck" + h.take(8).map("%02x".format(_)).mkString
    }.getOrElse(queryName)

  /** The sink id a CHECKPOINTED drain at `checkpointDir` uses — exposed
    * so redelivery probes can run a checkpoint-free drain under the SAME
    * idempotence namespace (batchIds restart at 0 with no checkpoint,
    * exactly reproducing an at-least-once full redelivery). */
  def replaySinkIdOf(checkpointDir: String): String =
    sinkId(Some(checkpointDir), "")

  /** Drain a directory of tombstone-id parquet files as micro-batches
    * (AvailableNow, one file per trigger), committing each as a LOGICAL
    * delete version on the manifest-pinned index at `indexPath` —
    * the delete-side sibling of [[runStreamIvfAppend]], and the live
    * shape of a right-to-be-forgotten queue: each micro-batch costs one
    * id-sized sidecar write plus one manifest create, never a data-file
    * rewrite ([[graft.ops.VectorOps.commitDeletesBatch]] folds the
    * pending tombstones forward, so the final version carries the union
    * no matter how the queue was batched). foreachBatch bodies run
    * sequentially on the stream thread, so version numbers never race.
    *
    * `checkpointDir` makes the drain RESTARTABLE: offsets are durably
    * tracked, a killed drain resumes from its last committed batch, and
    * the batchId-keyed commit absorbs the one redelivered in-flight
    * batch. `afterCommit` is a test seam (fires after each non-skipped
    * commit with the batchId — a throwing hook simulates a crash in the
    * window between index commit and checkpoint commit, the exact
    * window replay-idempotence exists for).
    */
  def runStreamDeletes(spark: SparkSession, inputDir: String,
                       indexPath: String,
                       checkpointDir: Option[String] = None,
                       queryName: String = "graft_stream_delete",
                       afterCommit: Long => Unit = _ => (),
                       checkpointEvery: Int = 0,
                       tsOfBatch: Option[Long => Long] = None)
      : DrainResult = {
    val raw = spark.readStream
      .schema(tombstoneRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
    // counted on the stream thread (foreachBatch bodies run sequentially)
    val nCommitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val nSkipped = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = raw.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (v, skipped) = graft.ops.VectorOps.commitDeletesBatch(
          spark, indexPath, batchId, batch,
          sink = sinkId(checkpointDir, queryName),
          extraMeta = tsMeta(tsOfBatch, batchId))
        if (skipped) nSkipped.incrementAndGet(): Unit
        else {
          nCommitted.incrementAndGet()
          maybeCheckpoint(spark, indexPath, v, checkpointEvery)
          afterCommit(batchId)
        }
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    EventStream.awaitDrain(writer.start())
    DrainResult(nCommitted.get, nSkipped.get,
      graft.ops.VectorOps.latestVersion(spark, indexPath).getOrElse(0))
  }

  /** Amortize the replay-idempotence lookup: every `every` versions,
    * checkpoint the batch-id set ([[graft.ops.VectorOps
    * .writeBatchIdCheckpoint]]) so [[graft.ops.VectorOps
    * .committedBatchIds]] reads one checkpoint + the tail instead of
    * replaying the whole commit log — without this a long-lived stream's
    * per-batch id check is O(versions), O(V²) across its life. Runs on
    * the stream thread after the commit it checkpoints; idempotent under
    * replay (an existing checkpoint is left in place).
    */
  private def maybeCheckpoint(spark: SparkSession, indexPath: String,
                              version: Int, every: Int): Unit =
    if (every > 0 && version % every == 0)
      graft.ops.VectorOps.writeBatchIdCheckpoint(spark, indexPath, version)

  /** The per-batch commit-timestamp header: every sink stamps
    * `ts = tsOfBatch(batchId)` so streamed commits are
    * timestamp-resolvable ([[graft.ops.VectorOps.versionAsOf]]) like
    * any batch commit. The clock is CALLER-SUPPLIED and keyed by the
    * batch id — deterministic under replay (a redelivered batch stamps
    * the same ts; wall-clock inside the sink would make reruns resolve
    * differently), and callers must keep it non-decreasing in batchId
    * (versionAsOf's contract). None = unstamped commits, the
    * pre-timestamping behavior.
    */
  private def tsMeta(tsOfBatch: Option[Long => Long],
                     batchId: Long): Map[String, String] =
    tsOfBatch.map(f => Map("ts" -> f(batchId).toString))
      .getOrElse(Map.empty)

  /** Drain a directory of embedding parquet files as micro-batches
    * (AvailableNow, one file per trigger), committing each batch as a
    * new index version under the frozen coarse `centroids` — the
    * versioned, replay-idempotent append
    * ([[graft.ops.VectorOps.ivfAppendBatch]]): batch files land under
    * deterministic batch-keyed names, the manifest create is the atomic
    * commit, and a redelivered batchId is skipped. The index at
    * `indexPath` must carry an initial committed version (the base
    * build's manifest) before the stream starts. `checkpointDir` /
    * `afterCommit` as in [[runStreamDeletes]].
    */
  def runStreamIvfAppend(spark: SparkSession, inputDir: String,
                         centroids: Array[Array[Double]], indexPath: String,
                         checkpointDir: Option[String] = None,
                         queryName: String = "graft_stream_ivf",
                         afterCommit: Long => Unit = _ => (),
                         checkpointEvery: Int = 0,
                         tsOfBatch: Option[Long => Long] = None)
      : DrainResult = {
    val raw = spark.readStream
      .schema(embeddingsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
    val nCommitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val nSkipped = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = raw.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (v, skipped, _) = graft.ops.VectorOps.ivfAppendBatch(
          spark, batch, centroids, indexPath, "vec_id", "embedding", batchId,
          sink = sinkId(checkpointDir, queryName),
          extraMeta = tsMeta(tsOfBatch, batchId))
        if (skipped) nSkipped.incrementAndGet(): Unit
        else {
          nCommitted.incrementAndGet()
          maybeCheckpoint(spark, indexPath, v, checkpointEvery)
          afterCommit(batchId)
        }
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    EventStream.awaitDrain(writer.start())
    DrainResult(nCommitted.get, nSkipped.get,
      graft.ops.VectorOps.latestVersion(spark, indexPath).getOrElse(0))
  }

  /** Per-bucket view over index content: `(bucket, n, s)` where bucket
    * = vid mod 10, `n` counts rows and `s` sums the micro-quantized
    * first vector component (`round(vec[0]·1000)` as LONG — integer
    * arithmetic, so incremental maintenance and recomputation agree
    * BIT-EXACTLY; a float sum would drift by association order). The
    * demonstration view of the streaming CDC consumer; any
    * sum/count-shaped aggregate maintains the same way.
    */
  def bucketStats(rows: DataFrame, idCol: String, vecCol: String): DataFrame =
    rows.select(pmod(col(idCol).cast("long"), lit(10L)).as("bucket"),
        round(element_at(col(vecCol).cast("array<double>"), 1) * 1000)
          .cast("long").as("q"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"))

  /** Maintain the bucket view at `viewPath` for ONE committed index
    * batch — the incremental-view-maintenance consumer of the change
    * feed ([[graft.ops.VectorOps.indexChangeRows]]): subtract each
    * update's preimage contribution, add its postimage, add inserts,
    * subtract image-carrying deletes — cost ∝ the commit's CHANGED
    * bytes plus the (aggregate-sized) view, never the corpus. The view
    * is its own little versioned table with the SAME batch-key
    * idempotence as the index sinks: a replayed (sink, batchId) whose
    * view version already committed is skipped, so the crash window
    * between index commit and view commit heals on redelivery.
    * Tombstone-only deletes are consumable too: the feed resolves their
    * preimages from the pre-commit snapshot
    * (`resolveTombstonePreimages` — bloom-pruned, changed-rows-sized
    * when the prior version maintains an id bloom sidecar), so a
    * right-to-be-forgotten delete queue maintains the same view the
    * upsert stream does. Returns true when skipped as a replay.
    */
  def maintainBucketView(spark: SparkSession, indexPath: String,
                         viewPath: String, sink: String, batchId: Long,
                         indexVersion: Int): Boolean = {
    import graft.ops.VectorOps
    val key = VectorOps.batchKey(sink, batchId)
    if (VectorOps.committedBatchKeys(spark, viewPath).contains(key))
      return true
    val head = VectorOps.latestVersion(spark, viewPath).getOrElse(
      throw new IllegalStateException(
        s"the view at $viewPath needs its base snapshot committed " +
          "(initialize from the index version the stream starts at)"))
    val prior = VectorOps.readIndexVersion(spark, viewPath, head)
      .select(col("bucket"), col("n"), col("s"))
    val ch = VectorOps.indexChangeRows(spark, indexPath,
      indexVersion - 1, indexVersion, "vec_id", "embedding",
      resolveTombstonePreimages = true)
    val sgn = when(col("change_type").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val delta = ch.select(pmod(col("vid"), lit(10L)).as("bucket"),
        sgn.as("sgn"),
        round(element_at(col("vec"), 1) * 1000).cast("long").as("q"))
      .groupBy(col("bucket"))
      .agg(sum(col("sgn")).as("n"), sum(col("sgn") * col("q")).as("s"))
    val merged = prior.unionByName(delta)
      .groupBy(col("bucket"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
      .filter(col("n") =!= 0L)
    VectorOps.commitSnapshotVersion(spark, viewPath, head + 1,
      s"$sink-$batchId", merged,
      Map("batch" -> batchId.toString, "op" -> "view") ++
        (if (sink.isEmpty) Map.empty else Map("sink" -> sink)))
    false
  }

  /** [[DrainResult]] for the index plus the maintained view's own
    * commit/skip counters. */
  final case class ViewDrainResult(index: DrainResult, nViewCommitted: Int,
                                   nViewSkipped: Int)

  /** [[runStreamUpserts]] with a STREAMING CDC CONSUMER wired in: each
    * micro-batch (1) commits the upsert as a new index version and
    * (2) incrementally maintains the bucket view at `viewPath` from
    * exactly that commit's change rows — the loop that closes the
    * change feed: commits are produced and consumed inside one
    * at-least-once pipeline with exactly-once EFFECT on BOTH tables
    * (index and view each key their commits by the same namespaced
    * batch id). The two commits are not atomic together — a crash
    * between them leaves the index committed and the view one batch
    * behind — but redelivery heals it: the index skip resolves the
    * batch's committed version ([[graft.ops.VectorOps
    * .versionOfBatchKey]]) and the view maintainer, finding no view
    * commit for the key, consumes that version's changes
    * (IndexStreamSpec kills in precisely this window). `afterIndexCommit`
    * is the test seam INSIDE the window.
    */
  def runStreamUpsertsWithView(spark: SparkSession, inputDir: String,
                               centroids: Array[Array[Double]],
                               indexPath: String, viewPath: String,
                               checkpointDir: Option[String] = None,
                               queryName: String = "graft_stream_cdc",
                               afterIndexCommit: Long => Unit = _ => (),
                               checkpointEvery: Int = 0,
                               tsOfBatch: Option[Long => Long] = None)
      : ViewDrainResult = {
    val raw = spark.readStream
      .schema(embeddingsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
    val nCommitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val nSkipped = new java.util.concurrent.atomic.AtomicInteger(0)
    val nViewCommitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val nViewSkipped = new java.util.concurrent.atomic.AtomicInteger(0)
    val sink = sinkId(checkpointDir, queryName)
    val writer = raw.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (v, skipped, _) = graft.ops.VectorOps.ivfUpsertBatch(
          spark, batch, centroids, indexPath, "vec_id", "embedding", batchId,
          sink = sink, extraMeta = tsMeta(tsOfBatch, batchId))
        if (skipped) nSkipped.incrementAndGet(): Unit
        else {
          nCommitted.incrementAndGet()
          maybeCheckpoint(spark, indexPath, v, checkpointEvery)
          afterIndexCommit(batchId)
        }
        // on an index replay-skip the batch's version resolves from its
        // key — v is HEAD then, which may be a LATER batch's version
        val idxV =
          if (skipped) graft.ops.VectorOps.versionOfBatchKey(
            spark, indexPath, sink, batchId).getOrElse(
            throw new IllegalStateException(
              s"batch $batchId skipped but no committed version carries " +
                s"its key under $indexPath"))
          else v
        if (maintainBucketView(spark, indexPath, viewPath, sink, batchId,
            idxV))
          nViewSkipped.incrementAndGet(): Unit
        else nViewCommitted.incrementAndGet(): Unit
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    EventStream.awaitDrain(writer.start())
    ViewDrainResult(
      DrainResult(nCommitted.get, nSkipped.get,
        graft.ops.VectorOps.latestVersion(spark, indexPath).getOrElse(0)),
      nViewCommitted.get, nViewSkipped.get)
  }

  /** Outcome of a commit-log source drain: append commits materialized,
    * change commits skipped (only with `skipChangeCommits`), and
    * dataChange-free maintenance commits ignored.
    */
  final case class SourceDrainResult(nAppends: Int, nSkippedChange: Int,
                                     nIgnoredMaintenance: Int)

  /** The versioned index as a STREAMING SOURCE — the reverse direction
    * of every sink above, and the contract Delta's table-as-stream
    * source defines (public design): tail the commit log, deliver each
    * APPEND commit's added rows exactly once, ignore dataChange-free
    * maintenance commits (compaction / re-clustering / physical
    * tombstone purge move bytes, not meaning), and on a commit that
    * CHANGES existing rows (delete / upsert / merge / restore / DV)
    * fail loudly — or skip it when the caller opts in with
    * `skipChangeCommits` (Delta's own escape hatch).
    *
    * Spark-first: the `_manifests/` directory IS an append-only file
    * bus (every manifest is published atomically), so the stream is the
    * built-in FILE SOURCE over the `.manifest` glob — discovery,
    * offsets, and exactly-once file delivery come from Structured
    * Streaming's checkpoint, not hand-rolled polling; the `.tmp-` and
    * sidecar files never match the glob. Each micro-batch is a
    * NOTIFICATION (which versions arrived — metadata-sized); the added
    * files resolve from the on-disk manifests (`files(v) ∖ files(v−1)`),
    * so processing is arrival-order-independent, and each commit's rows
    * land in their own `commit_v{N}` downstream directory (overwrite —
    * a redelivered notification after a crash rewrites the same bytes,
    * never duplicates; the union read is the downstream table). Cost
    * per commit: the ADDED files' bytes, never the corpus — the only
    * cost model that lets a 100 TB table feed a live consumer.
    */
  def runIndexSourceStream(spark: SparkSession, indexPath: String,
                           downstreamDir: String,
                           checkpointDir: Option[String] = None,
                           queryName: String = "graft_index_source",
                           skipChangeCommits: Boolean = false,
                           afterCommit: Int => Unit = _ => ())
      : SourceDrainResult = {
    import graft.ops.VectorOps
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", "1")
      .text(s"$indexPath/_manifests/*.manifest")
    val nAppends = new java.util.concurrent.atomic.AtomicInteger(0)
    val nSkipped = new java.util.concurrent.atomic.AtomicInteger(0)
    val nIgnored = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = raw.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // which versions arrived — one tiny distinct over manifest LINES
        // (metadata-sized); content resolves from the on-disk manifests
        val versions = batch.select(input_file_name().as("f")).distinct()
          .collect().map { r =>
            val name = r.getString(0).split('/').last
            name.stripPrefix("v").stripSuffix(".manifest").toInt
          }.sorted
        versions.foreach { v =>
          val snap = VectorOps.snapshot(spark, indexPath, v)
          val op = snap.meta.getOrElse("op", "")
          val prev =
            if (v == 1) VectorOps.Snapshot(indexPath, 0, Seq.empty, Map.empty)
            else VectorOps.snapshot(spark, indexPath, v - 1)
          val added = snap.files.filterNot(prev.files.toSet)
          val removed = prev.files.filterNot(snap.files.toSet)
          val sidecarChanged = Seq("deletes", "dv").exists(k =>
            snap.meta.get(k) != prev.meta.get(k))
          if (Set("compact", "recluster", "apply", "localize").contains(op))
            nIgnored.incrementAndGet(): Unit // bytes moved, meaning didn't
          else if (removed.isEmpty && !sidecarChanged) {
            if (added.nonEmpty)
              VectorOps.scan(spark, snap, added).write.mode("overwrite")
                .parquet(s"$downstreamDir/commit_v$v")
            nAppends.incrementAndGet()
            afterCommit(v)
          } else if (skipChangeCommits) nSkipped.incrementAndGet(): Unit
          else throw new IllegalStateException(
            s"version $v (op=${if (op.isEmpty) "?" else op}) changes " +
              "existing rows — a streaming read of an index taking " +
              "updates/deletes needs skipChangeCommits (and a CDC " +
              "consumer for the changes it then misses)")
        }
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    EventStream.awaitDrain(writer.start())
    SourceDrainResult(nAppends.get, nSkipped.get, nIgnored.get)
  }

  /** Drain a directory of RE-EMBEDDING parquet files (vec_id, embedding)
    * as micro-batches, committing each as one atomic row-level UPSERT
    * version ([[graft.ops.VectorOps.ivfUpsertBatch]] →
    * [[graft.ops.VectorOps.ivfUpsert]]): rows whose id exists are
    * replaced copy-on-write (only their partitions rewrite), new ids
    * append — the STREAMING form of the reference's production loop
    * (`utils/upload_data_to_pinecone.py:60-83` streams re-embedded rows
    * as retried upserts into its index). Upserts rewrite files, so the
    * sink is single-writer — which foreachBatch guarantees structurally
    * (bodies run sequentially on the stream thread). Same replay
    * contract as the other two sinks: batchId-keyed commits, redelivered
    * ids skipped, durable `checkpointDir` makes the drain restartable,
    * `checkpointEvery` amortizes the id lookup.
    */
  def runStreamUpserts(spark: SparkSession, inputDir: String,
                       centroids: Array[Array[Double]], indexPath: String,
                       checkpointDir: Option[String] = None,
                       queryName: String = "graft_stream_upsert",
                       afterCommit: Long => Unit = _ => (),
                       checkpointEvery: Int = 0,
                       tsOfBatch: Option[Long => Long] = None)
      : DrainResult = {
    val raw = spark.readStream
      .schema(embeddingsRawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inputDir)
    val nCommitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val nSkipped = new java.util.concurrent.atomic.AtomicInteger(0)
    val writer = raw.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (v, skipped, _) = graft.ops.VectorOps.ivfUpsertBatch(
          spark, batch, centroids, indexPath, "vec_id", "embedding", batchId,
          sink = sinkId(checkpointDir, queryName),
          extraMeta = tsMeta(tsOfBatch, batchId))
        if (skipped) nSkipped.incrementAndGet(): Unit
        else {
          nCommitted.incrementAndGet()
          maybeCheckpoint(spark, indexPath, v, checkpointEvery)
          afterCommit(batchId)
        }
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    EventStream.awaitDrain(writer.start())
    DrainResult(nCommitted.get, nSkipped.get,
      graft.ops.VectorOps.latestVersion(spark, indexPath).getOrElse(0))
  }
}
