package graft.streaming

import graft.SparkSpec
import graft.ops.VectorOps
import org.apache.spark.sql.functions._

/** Fault-tolerance suite for the streaming index sinks: foreachBatch
  * delivery is at-least-once, so the contract under test is
  * kill-and-restart REPLAY — the recovered drain redelivers the
  * in-flight batch under the same batchId and the batchId-keyed commit
  * must absorb it, leaving the index bit-identical to a clean run.
  */
class IndexStreamSpec extends SparkSpec {

  private def embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .filter(col("vec_id") =!= 0)

  /** Committed-v1 base index + a 3-file incoming directory + checkpoint
    * dir, on a fresh temp tree.
    */
  private def fixture(tag: String) = {
    val base = embs.filter(col("vec_id") % 5 =!= 2)
    val idx = VectorOps.ivfIndexDeterministic(base, "vec_id", "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory(s"idx_stream_$tag")
    val path = dir.resolve("index").toString
    VectorOps.ivfWrite(idx, path)
    VectorOps.writeManifest(spark, path, 1, VectorOps.listIndexFiles(spark, path))
    val inDir = dir.resolve("incoming").toString
    embs.filter(col("vec_id") % 5 === 2)
      .select(col("vec_id"), col("embedding"))
      .repartition(3, col("vec_id"))
      .write.mode("overwrite").parquet(inDir)
    (dir, path, idx.centroids, inDir, dir.resolve("ckpt").toString)
  }

  private def rmrf(dir: java.nio.file.Path): Unit =
    graft.ops.Staging.deleteRecursively(dir)

  test("append stream killed after a commit replays idempotently: " +
      "post-recovery index is bit-identical to a clean run") {
    val (dir, path, cents, inDir, ckpt) = fixture("append")
    try {
      // crash in THE window: index commit done, checkpoint commit not —
      // the exact at-least-once gap batchId keying exists for
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val boom = intercept[Exception] {
        IndexStream.runStreamIvfAppend(spark, inDir, cents, path,
          checkpointDir = Some(ckpt), queryName = "spec_ivf_kill",
          afterCommit = _ =>
            if (fired.compareAndSet(false, true))
              throw new RuntimeException("injected crash after commit"))
      }
      assert(boom.getMessage != null)
      assert(VectorOps.latestVersion(spark, path).contains(2),
        "exactly one batch must have committed before the crash")
      // recovery: same checkpoint → the in-flight batch is REDELIVERED
      // with its original batchId and must be skipped, not re-appended
      val drain = IndexStream.runStreamIvfAppend(spark, inDir, cents, path,
        checkpointDir = Some(ckpt), queryName = "spec_ivf_recover")
      assert(drain.nSkipped == 1,
        s"the redelivered batch must be recognized, got $drain")
      assert(drain.nCommitted == 2)
      assert(drain.finalVersion == 4, "1 base + 3 batches")
      assert(VectorOps.committedBatchIds(spark, path) == Set(0L, 1L, 2L))
      // bit-parity with a clean batch build under the same frozen model:
      // every row exactly once, assigned to the same centroid
      val got = VectorOps.readIndexVersion(spark, path, 4)
        .select(col("vec_id"), col("centroid"))
      val want = embs.select(col("vec_id"),
        VectorOps.ivfAssign(col("embedding"), cents).as("centroid"))
      assert(got.exceptAll(want).union(want.exceptAll(got)).count() == 0,
        "replay must not double-append or drop any vector")
    } finally rmrf(dir)
  }

  test("delete stream killed after a commit replays idempotently: " +
      "final MOR view equals a clean single-pass delete") {
    val (dir, path, _, _, ckpt) = fixture("delete")
    try {
      val inDir = dir.resolve("tombstones").toString
      val doomed = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      doomed.repartition(3, col("vec_id"))
        .write.mode("overwrite").parquet(inDir)
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      intercept[Exception] {
        IndexStream.runStreamDeletes(spark, inDir, path,
          checkpointDir = Some(ckpt), queryName = "spec_del_kill",
          afterCommit = _ =>
            if (fired.compareAndSet(false, true))
              throw new RuntimeException("injected crash after commit"))
      }
      val drain = IndexStream.runStreamDeletes(spark, inDir, path,
        checkpointDir = Some(ckpt), queryName = "spec_del_recover")
      assert(drain.nSkipped == 1 && drain.nCommitted == 2)
      assert(drain.finalVersion == 4)
      val mor = VectorOps.readIndexVersionMor(spark, path,
        drain.finalVersion, "vec_id")
      assert(mor.join(doomed, Seq("vec_id"), "left_semi").count() == 0,
        "every streamed tombstone must apply exactly once")
      val baseN = embs.filter(col("vec_id") % 5 =!= 2).count()
      val doomedInBase = embs
        .filter(col("vec_id") % 5 =!= 2 && col("vec_id") % 7 === 3).count()
      assert(mor.count() == baseN - doomedInBase)
      // pinned v1 history is untouched by the whole crash-recover cycle
      assert(VectorOps.readIndexVersion(spark, path, 1).count() == baseN)
    } finally rmrf(dir)
  }

  test("upsert stream killed after a commit replays idempotently: " +
      "replaced rows land once, partitions are not re-rewritten") {
    val (dir, path, cents, _, ckpt) = fixture("upsert")
    try {
      // queue: re-embed some existing base ids + insert the held-out slice
      val inDir = dir.resolve("reembeds").toString
      val isUpd = col("vec_id") % 5 =!= 2 && col("vec_id") % 11 === 2
      embs.filter(isUpd)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(1.0f)).as("embedding"))
        .unionByName(embs.filter(col("vec_id") % 5 === 2)
          .select(col("vec_id"), col("embedding")))
        .repartition(3, col("vec_id"))
        .write.mode("overwrite").parquet(inDir)
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      intercept[Exception] {
        IndexStream.runStreamUpserts(spark, inDir, cents, path,
          checkpointDir = Some(ckpt), queryName = "spec_ups_kill",
          checkpointEvery = 2,
          afterCommit = _ =>
            if (fired.compareAndSet(false, true))
              throw new RuntimeException("injected crash after commit"))
      }
      val drain = IndexStream.runStreamUpserts(spark, inDir, cents, path,
        checkpointDir = Some(ckpt), queryName = "spec_ups_recover",
        checkpointEvery = 2)
      assert(drain.nSkipped == 1 && drain.nCommitted == 2)
      assert(drain.finalVersion == 4)
      // the drain's amortization artifact exists and short-circuits reads
      assert(VectorOps.listBatchIdCheckpoints(spark, path).nonEmpty)
      val (ids, tailReads, _) = VectorOps.committedBatchIdsAudit(spark, path)
      assert(ids == Set(0L, 1L, 2L) && tailReads < 4)
      // content parity with a clean one-shot batch upsert of the queue
      val expected = embs.select(col("vec_id"),
        when(isUpd, transform(col("embedding"), x => x + lit(1.0f)))
          .otherwise(col("embedding")).as("embedding"))
      val head = VectorOps.readIndexLatest(spark, path, "vec_id")
        .select(col("vec_id"), col("embedding"))
      assert(head.exceptAll(expected)
        .union(expected.exceptAll(head)).count() == 0,
        "replay must not double-land or stale-serve any upserted row")
    } finally rmrf(dir)
  }

  test("CDC consumer killed BETWEEN index commit and view commit heals " +
      "on redelivery: the maintained view equals the recompute bit-exactly") {
    val (dir, path, cents, _, ckpt) = fixture("cdcview")
    try {
      val viewPath = dir.resolve("view").toString
      VectorOps.commitSnapshotVersion(spark, viewPath, 1, "init",
        IndexStream.bucketStats(VectorOps.readIndexVersion(spark, path, 1),
          "vec_id", "embedding"),
        Map("op" -> "viewinit"))
      val inDir = dir.resolve("reembeds").toString
      val isUpd = col("vec_id") % 5 =!= 2 && col("vec_id") % 11 === 2
      embs.filter(isUpd)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(1.0f)).as("embedding"))
        .unionByName(embs.filter(col("vec_id") % 5 === 2)
          .select(col("vec_id"), col("embedding")))
        .repartition(3, col("vec_id"))
        .write.mode("overwrite").parquet(inDir)
      // crash in THE window this consumer adds: index version committed,
      // view commit not yet attempted — the two commits are not atomic
      // together, redelivery is what heals the gap
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      intercept[Exception] {
        IndexStream.runStreamUpsertsWithView(spark, inDir, cents, path,
          viewPath, checkpointDir = Some(ckpt),
          queryName = "spec_cdc_kill",
          afterIndexCommit = _ =>
            if (fired.compareAndSet(false, true))
              throw new RuntimeException("injected crash between commits"))
      }
      assert(VectorOps.latestVersion(spark, path).contains(2),
        "exactly one index batch committed before the crash")
      assert(VectorOps.latestVersion(spark, viewPath).contains(1),
        "the view must NOT have consumed the crashed batch yet")
      val res = IndexStream.runStreamUpsertsWithView(spark, inDir, cents,
        path, viewPath, checkpointDir = Some(ckpt),
        queryName = "spec_cdc_recover")
      // the redelivered batch: index skip, view CATCH-UP commit (its
      // version resolved from the batch key, not from HEAD)
      assert(res.index.nSkipped == 1 && res.index.nCommitted == 2, res.toString)
      assert(res.nViewCommitted == 3 && res.nViewSkipped == 0, res.toString)
      assert(VectorOps.latestVersion(spark, viewPath).contains(4))
      val maintained = VectorOps.readIndexVersion(spark, viewPath, 4)
        .select(col("bucket"), col("n"), col("s"))
      val recomputed = IndexStream.bucketStats(
        VectorOps.readIndexLatest(spark, path, "vec_id"),
        "vec_id", "embedding")
      assert(maintained.exceptAll(recomputed)
        .union(recomputed.exceptAll(maintained)).count() == 0,
        "maintained view must equal the recompute bit-exactly after recovery")
      // a full same-checkpoint replay of everything is all-skip on both
      val re = IndexStream.runStreamUpsertsWithView(spark, inDir, cents,
        path, viewPath, checkpointDir = Some(ckpt),
        queryName = "spec_cdc_again")
      assert(re.index.nCommitted == 0 && re.nViewCommitted == 0, re.toString)
    } finally rmrf(dir)
  }

  test("a COMPACTION interleaved between micro-batches (r12 item 7): " +
      "later batches land on the compacted head, the maintained view " +
      "still equals the recompute, and replay skips across the " +
      "compaction boundary") {
    val (dir, path, cents, _, ckpt) = fixture("race")
    try {
      val viewPath = dir.resolve("view").toString
      VectorOps.commitSnapshotVersion(spark, viewPath, 1, "init",
        IndexStream.bucketStats(VectorOps.readIndexVersion(spark, path, 1),
          "vec_id", "embedding"),
        Map("op" -> "viewinit"))
      val inDir = dir.resolve("reembeds").toString
      val isUpd = col("vec_id") % 5 =!= 2 && col("vec_id") % 11 === 2
      embs.filter(isUpd)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(1.0f)).as("embedding"))
        .unionByName(embs.filter(col("vec_id") % 5 === 2)
          .select(col("vec_id"), col("embedding")))
        .repartition(3, col("vec_id"))
        .write.mode("overwrite").parquet(inDir)
      // the maintenance job fires right after the FIRST batch's index
      // commit — inside the window before that batch's view commit and
      // before the next micro-batch. foreachBatch serializes the sink
      // side, so "concurrent" on an object store means exactly this
      // interleaving; a true version-number race is the OCC/duplicate-
      // refusal seam q_concurrent_commit drives.
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      val compactedAt = new java.util.concurrent.atomic.AtomicInteger(-1)
      val res = IndexStream.runStreamUpsertsWithView(spark, inDir, cents,
        path, viewPath, checkpointDir = Some(ckpt),
        queryName = "spec_compact_race",
        afterIndexCommit = _ =>
          if (fired.compareAndSet(false, true)) {
            val h = VectorOps.latestVersion(spark, path).get
            VectorOps.ivfCompactSmall(spark, path, h, h + 1, Long.MaxValue)
            compactedAt.set(h + 1): Unit
          })
      // 3 batches + 1 compaction commit; the compaction sits strictly
      // inside the batch version sequence
      assert(res.index.nCommitted == 3 && res.index.nSkipped == 0)
      assert(VectorOps.latestVersion(spark, path).contains(5))
      assert(compactedAt.get == 3,
        s"compaction expected at v3 (after batch-0's v2): $compactedAt")
      assert(VectorOps.readManifestMeta(spark, path, 3)
        .get("op").contains("compact"))
      // the view consumed each BATCH version — never the compaction —
      // and equals the recompute bit-exactly
      assert(res.nViewCommitted == 3 && res.nViewSkipped == 0)
      val viewHead = VectorOps.latestVersion(spark, viewPath).get
      val maintained = VectorOps.readIndexVersion(spark, viewPath, viewHead)
        .select(col("bucket"), col("n"), col("s"))
      val recomputed = IndexStream.bucketStats(
        VectorOps.readIndexLatest(spark, path, "vec_id"),
        "vec_id", "embedding")
      assert(maintained.exceptAll(recomputed)
        .union(recomputed.exceptAll(maintained)).count() == 0,
        "maintained view must equal the recompute across the compaction")
      // content: upserts replaced, inserts landed, nothing resurrected
      // from pre-compaction files
      val head = VectorOps.readIndexLatest(spark, path, "vec_id")
        .select(col("vec_id"), col("embedding"))
      val expect = embs.filter(isUpd)
        .select(col("vec_id"),
          transform(col("embedding"), x => x + lit(1.0f)).as("embedding"))
        .unionByName(embs.filter(!isUpd)
          .select(col("vec_id"), col("embedding")))
      assert(head.exceptAll(expect).union(expect.exceptAll(head))
        .count() == 0)
      // replay across the compaction boundary: batch keys survive a
      // rewrite commit (Snapshot.carried never carries `batch`, because
      // `batch` is not in CarriedKeys, and the original manifests still
      // name theirs). A checkpoint-free drain
      // under the SAME sink id redelivers batchIds 0..2 from scratch —
      // every one must be recognized and skipped on both tables
      val re = IndexStream.runStreamUpsertsWithView(spark, inDir, cents,
        path, viewPath, checkpointDir = None,
        queryName = IndexStream.sinkId(Some(ckpt), "unused"))
      assert(re.index.nCommitted == 0 && re.index.nSkipped == 3 &&
        re.nViewCommitted == 0 && re.nViewSkipped == 3, re.toString)
    } finally rmrf(dir)
  }

  test("two sibling streams on ONE index (append feed + delete queue, " +
      "separate checkpoints) never collide on batch ids: the second " +
      "stream's batch 0,1,2 are commits, not false replays") {
    // the r10 ADVICE-high failure mode: every streaming query's batchIds
    // start at 0, so a bare-batchId idempotence key silently DROPS the
    // second stream's batches as replays of the first's — dropped
    // tombstones on a right-to-be-forgotten queue, with no error
    val (dir, path, cents, inDir, ckpt) = fixture("twosinks")
    try {
      val append = IndexStream.runStreamIvfAppend(spark, inDir, cents, path,
        checkpointDir = Some(ckpt), queryName = "spec_two_append")
      assert(append.nCommitted == 3 && append.nSkipped == 0)
      val delDir = dir.resolve("tombstones").toString
      val doomed = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      doomed.repartition(3, col("vec_id"))
        .write.mode("overwrite").parquet(delDir)
      val delCkpt = dir.resolve("ckpt_del").toString
      val del = IndexStream.runStreamDeletes(spark, delDir, path,
        checkpointDir = Some(delCkpt), queryName = "spec_two_delete")
      assert(del.nSkipped == 0,
        s"the delete stream's batches were dropped as false replays: $del")
      assert(del.nCommitted == 3)
      // every tombstone actually applied — the collision's symptom is
      // silently-surviving doomed rows
      val mor = VectorOps.readIndexVersionMor(spark, path,
        del.finalVersion, "vec_id")
      assert(mor.join(doomed, Seq("vec_id"), "left_semi").count() == 0,
        "a dropped tombstone batch left right-to-be-forgotten rows serving")
      assert(mor.count() == embs.count() - doomed.count())
      // and a REPLAY within each stream still short-circuits: re-draining
      // the delete queue from its own checkpoint commits nothing new
      val re = IndexStream.runStreamDeletes(spark, delDir, path,
        checkpointDir = Some(delCkpt), queryName = "spec_two_delete_again")
      assert(re.nCommitted == 0,
        s"a same-checkpoint re-drain must be all replays: $re")
    } finally rmrf(dir)
  }

  test("commit-log SOURCE killed mid-drain resumes from its checkpoint: " +
      "downstream is bit-identical to a clean run, nothing duplicated") {
    val (dir, path, cents, inDir, ckpt) = fixture("source")
    try {
      // three more append commits on top of v1 (the sink side provides
      // them), so the source has a 4-commit log to tail
      IndexStream.runStreamIvfAppend(spark, inDir, cents, path,
        queryName = "spec_source_feed")
      assert(VectorOps.latestVersion(spark, path).contains(4))
      val down = dir.resolve("down").toString
      // crash after the FIRST materialized commit
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      intercept[Exception] {
        IndexStream.runIndexSourceStream(spark, path, down,
          checkpointDir = Some(ckpt), queryName = "spec_source_kill",
          afterCommit = _ =>
            if (fired.compareAndSet(false, true))
              throw new RuntimeException("injected crash after materialize"))
      }
      // recovery from the same checkpoint completes the tail; the
      // per-version overwrite makes any redelivery rewrite, not duplicate
      val drain = IndexStream.runIndexSourceStream(spark, path, down,
        checkpointDir = Some(ckpt), queryName = "spec_source_recover")
      assert(drain.nSkippedChange == 0 && drain.nIgnoredMaintenance == 0)
      val got = spark.read.parquet(s"$down/commit_v*")
        .select(col("vec_id"), col("embedding"))
      val want = embs.select(col("vec_id"), col("embedding"))
      assert(got.exceptAll(want).union(want.exceptAll(got)).count() == 0,
        "downstream after kill-and-restart must equal the full append set")
      // a same-checkpoint re-drain delivers nothing new
      val re = IndexStream.runIndexSourceStream(spark, path, down,
        checkpointDir = Some(ckpt), queryName = "spec_source_again")
      assert(re.nAppends == 0, s"re-drain must be a no-op: $re")
    } finally rmrf(dir)
  }

  test("a checkpoint-free drain still commits every batch exactly once " +
      "(no-crash path keeps working without durable state)") {
    val (dir, path, cents, inDir, _) = fixture("nockpt")
    try {
      val drain = IndexStream.runStreamIvfAppend(spark, inDir, cents, path,
        queryName = "spec_ivf_nockpt")
      assert(drain.nCommitted == 3 && drain.nSkipped == 0)
      assert(drain.finalVersion == 4)
      assert(VectorOps.readIndexVersion(spark, path, 4).count() == embs.count())
    } finally rmrf(dir)
  }
}
