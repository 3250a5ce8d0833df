package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Tables
import graft.ops.{Staging, VectorOps}

/** Untimed priming of the EXPENSIVE staged fixtures (the written
  * vector indexes) for Bench warmup.
  *
  * Why this exists (r9 bench postmortem): [[graft.ops.Staging.cached]]
  * stages once per (process, fixture) — but "once" lands inside the
  * FIRST timed rep of whichever query touches the fixture first.
  * Index construction (kmeans + PQ codebook training + partitioned
  * writes + the streaming drain of stageStreamIvf) costs tens of
  * seconds at sf0.1, which sits right under the 60 s per-rep watchdog:
  * under mild box load the staging rep crosses the line, the watchdog
  * cancels the half-built fixture (a failed build is NOT cached), and
  * the retry re-stages from scratch against the leaked first attempt —
  * the exact double-timeout that recorded q_ivf_append as -1 in the
  * first r9 bench artifact. One-time index-build cost is not query
  * cost; staging it in warmup keeps the watchdog pointed at what it is
  * meant to guard.
  *
  * Each stager runs in its OWN try (the ADVICE-r8 primeProbeGuard
  * lesson: one shared try means the first failure silently skips the
  * rest): a failed prime logs loudly and the query's first timed rep
  * re-stages — degraded, never wrong. Each stager's wall seconds are
  * returned, and Bench records them (`prime_s`).
  *
  * The index stagers share one base-index step: [[quantizer]] trains
  * each deterministic IVF model once per (dir, slice, k) and JVM (31
  * stagers, 13 distinct models), and [[baseIndex]] writes it and commits
  * v1. Each scenario still writes its own base index, since scenarios
  * expose file counts and DV positions.
  */
object Fixtures {

  /** The deterministic IVF quantizer of the corpus rows `slice` admits
    * ([[graft.Tables.corpus]]), with `k` centroids. The model is
    * bit-identical at any parallelism, so its centroids are trained once
    * per JVM ([[VectorOps.ivfIndexDeterministic]]) and memoized under
    * `ivfmodel:<dir>:<slice SQL>:<k>`: every index fixture on the same
    * slice shares that one training. `assigned` is the slice with
    * [[VectorOps.ivfAssign]] under those centroids, the expression a fresh
    * build ends with, so what a caller writes from it is what a fresh
    * build would write. `lit(true)` slices the whole corpus.
    */
  def quantizer(s: SparkSession, dir: String, slice: Column,
                k: Int = 8): VectorOps.IvfIndex = {
    val rows = Tables.corpus(s, dir).filter(slice)
    val centroids = Staging.cached(s"ivfmodel:$dir:$slice:$k") { _ =>
      VectorOps.ivfIndexDeterministic(rows, "vec_id", "embedding", k).centroids
    }
    VectorOps.IvfIndex(
      rows.withColumn("centroid", VectorOps.ivfAssign(col("embedding"), centroids)),
      centroids)
  }

  /** The base index of an index fixture: [[quantizer]]'s rows written
    * `partitionBy(centroid)` under `tmp/name` ([[VectorOps.ivfWrite]]),
    * then committed as manifest v1 with exactly the `v1` headers, if the
    * caller passes them. Returns (path, centroids).
    */
  def baseIndex(s: SparkSession, dir: String, tmp: java.nio.file.Path,
                name: String, slice: Column, k: Int = 8,
                v1: Option[Map[String, String]] = None)
      : (String, Array[Array[Double]]) = {
    val idx = quantizer(s, dir, slice, k)
    val path = tmp.resolve(name).toString
    VectorOps.ivfWrite(idx, path)
    v1.foreach(VectorOps.writeManifest(s, path, 1, VectorOps.listIndexFiles(s, path), _))
    (path, idx.centroids)
  }

  /** (label, stager) for every fixture whose build is heavy enough to
    * threaten a rep watchdog. Cheap dir stagers (csv/json/orc/text
    * re-encodes, stream input dirs) deliberately stay out: they cost
    * well under a second and the min-of-3 absorbs them.
    */
  private val heavy: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "ivf" -> ((s, d) => { Registry.stageIvf(s, d); () }),
    "ivfpq" -> ((s, d) => { Mining.stageIvfPq(s, d); () }),
    "ivfappend" -> ((s, d) => { Curation.stageIvfAppend(s, d); () }),
    "ivfpqappend" -> ((s, d) => { Curation.stageIvfPqAppend(s, d); () }),
    "streamivf" -> ((s, d) => { Curation.stageStreamIvf(s, d); () }),
    "ivfpqcompact" -> ((s, d) => { Curation.stageIvfPqCompact(s, d); () }),
    "ivfrebalance" -> ((s, d) => { Curation.stageIvfRebalance(s, d); () }),
    "ivfversioned" -> ((s, d) => { Curation.stageIvfVersioned(s, d); () }),
    "ivfvacuumed" -> ((s, d) => { Curation.stageIvfVacuumed(s, d); () }),
    "ivfmordelete" -> ((s, d) => { Curation.stageIvfMorDelete(s, d); () }),
    "ivfevolved" -> ((s, d) => { Curation.stageIvfEvolved(s, d); () }),
    "streamdelete" -> ((s, d) => { Curation.stageStreamDelete(s, d); () }),
    // the r10 postmortem trio: these build indexes (kmeans + partitioned
    // writes + footer harvests) and were missing here, so the official
    // r10 bench recorded q_file_skipping at 47.3 s (steady-state 0.34 s)
    "lifecycle" -> ((s, d) => { Curation.stageLifecycle(s, d); () }),
    // the derived change feeds over it (r12 item 5): staged once so CDC
    // query reps measure feed CONSUMPTION, not repeated derivation
    "lifecyclefeed" -> ((s, d) => {
      Curation.lifecycleFeed(s, d, 1, 3); Curation.lifecycleFeed(s, d, 3, 5)
      Curation.lifecycleFeed(s, d, 1, 5); ()
    }),
    "lifecyclefeedrows" -> ((s, d) => {
      Curation.lifecycleFeedRows(s, d, 3, 4); ()
    }),
    "clustered" -> ((s, d) => { Curation.stageClustered(s, d); () }),
    "zonerect" -> ((s, d) => { Curation.stageZoneRect(s, d); () }),
    "timetravel" -> ((s, d) => { Curation.stageTimeline(s, d); () }),
    "streamcdc" -> ((s, d) => { Curation.stageStreamCdc(s, d); () }),
    // sink-vs-compactor interleave: an IVF build + 3-batch drain with a
    // mid-drain binpack + a full redelivery drain (r12 item 7)
    "streamrace" -> ((s, d) => { Curation.stageStreamRace(s, d); () }),
    // not an index build, but a 4-round iterated training job (~5 s at
    // sf0.1) that is fixture prep for q_bpe_encode's timed reps
    "bpemerges" -> ((s, d) => { Analytics.stageBpeMerges(s, d); () }),
    // misclassified cheap in the first r11 pass: the 3-batch drain does
    // a copy-on-write ivfUpsert rewrite PER BATCH (~45-60 s at sf0.1 —
    // it crossed the rep watchdog the moment the box breathed)
    "streamupsert" -> ((s, d) => { Curation.stageStreamUpsert(s, d); () }),
    "recluster" -> ((s, d) => { Curation.stageRecluster(s, d); () }),
    // all three build a full IVF index before their metadata commits
    // (ckptlog's staging crossed the rep watchdog on a loaded box in the
    // second r11 full run; q_commit_checkpoint recorded via end-of-run
    // retry) — "a few commits" was never the expensive part
    "occcommit" -> ((s, d) => { Curation.stageOccCommit(s, d); () }),
    "dvdelete" -> ((s, d) => { Curation.stageDvDelete(s, d); () }),
    "wap" -> ((s, d) => { Curation.stageWap(s, d); () }),
    // one corpus tokenize + term shuffle + 16-bucket partitioned write
    "invindex" -> ((s, d) => { Analytics.stageInvIndex(s, d); () }),
    // same shape with per-term position lists (phrase search)
    "posindex" -> ((s, d) => { Analytics.stagePosIndex(s, d); () }),
    "ckptlog" -> ((s, d) => { Curation.stageCkpt(s, d); () }),
    "logretention" -> ((s, d) => { Curation.stageLogRetention(s, d); () }),
    // full IVF build + tombstone commit + three-clause merge rewrite
    "mergeidx" -> ((s, d) => { Curation.stageMerge(s, d); () }),
    // full IVF build + two appended batches + constraint validation scans
    "constraintidx" -> ((s, d) => { Curation.stageConstraint(s, d); () }),
    // IVF build + compaction + two streaming drains of the commit log
    "streamsource" -> ((s, d) => { Curation.stageStreamSource(s, d); () }),
    // weighted-vector rewrite + norm-range shuffle + zone-map harvest
    "mipsidx" -> ((s, d) => { Curation.stageMips(s, d); () }),
    // IVF build + 96-small-file write + binpack rewrite
    "binpackidx" -> ((s, d) => { Curation.stageBinpack(s, d); () }),
    // IVF build + full sidecar pass + append/compact incremental refreshes
    "statsinc" -> ((s, d) => { Curation.stageStatsInc(s, d); () }),
    // small-slice IVF build + refused merge + landing three-clause merge
    "checkmerge" -> ((s, d) => { Curation.stageCheckMerge(s, d); () }),
    // the shared graph edge set (lineitem scan + distinct-orderkey agg +
    // one parquet write, ~1-2 s at sf0.1): eight graph queries read it
    "synthgraph" -> ((s, d) => { SynthGraph.edges(s, d); () }),
    // IVF build + OCC appends + compaction + vacuum + 4 probe scans
    "vacuumpin" -> ((s, d) => { Curation.stageVacuumPin(s, d); () }),
    // IVF build + OCC append + DV commit + refused & re-run compactions
    "dvcompactrace" -> ((s, d) => { Curation.stageDvCompactRace(s, d); () }),
    // IVF build + OCC appends + compaction + retention vacuum mid-append
    "vacappendrace" -> ((s, d) => { Curation.stageVacuumAppendRace(s, d); () })
  )

  /** Staging keys that deliberately stay OUT of warmup priming: cheap
    * dir stagers (format re-encodes, stream input dirs, tiny metadata
    * commits) whose build is well under a second at sf0.1 — the
    * min-of-3 absorbs them. EVERY `Staging.cached` label in the query
    * packages must appear either here or in [[primedFixtureNames]];
    * the FixtureClassificationSpec guard enumerates call sites from the
    * source tree and fails on an unclassified label, so the NEXT new
    * fixture forces a conscious heavy/cheap decision instead of
    * silently re-triggering the r9/r10 watchdog failure mode.
    */
  val cheapFixtureNames: Set[String] = Set(
    "dup", "text", "bin",            // corpus dir re-encodes
    "json", "csv", "orc",            // format source re-encodes
    "stream", "videos", "audios",    // stream input dirs / binary fakes
    "upsert", "ivmagg",              // small SCD/IVM parquet dirs
    "strcluster",                    // one range-shuffle write of the
                                     // 5000-row documents table
    "renameidx",                     // zero-copy clone + metadata rename
                                     // (its heavy dependency 'timetravel'
                                     // is primed separately)
    "localize",                      // clone + one fixture-sized byte copy
                                     // + binpack (heavy dep 'clustered'
                                     // primed separately)
    "ivfmodel")                      // the quantizer memo: only primed
                                     // stagers reach it, so priming
                                     // trains every model

  /** Names of the primed fixtures, in prime order (tested: every heavy
    * index stager must be listed here or its first timed rep pays the
    * build under the watchdog). */
  def primedFixtureNames: Seq[String] = heavy.map(_._1)

  /** Build every heavy index fixture now, on the caller's (untimed)
    * clock. Failures are per-stager, loud, and non-fatal. Returns each
    * label's wall seconds, in prime order (a failed stager's included). */
  def primeIndexFixtures(s: SparkSession, dir: String): Seq[(String, Double)] =
    heavy.map { case (label, stage) =>
      val t0 = System.nanoTime()
      try stage(s, dir)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] fixture prime '$label' failed — " +
            s"its first timed rep will re-stage under the watchdog: $e")
      }
      label -> (System.nanoTime() - t0) / 1e9
    }
}
