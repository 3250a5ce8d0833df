package graft.ops

/** Per-process staging cache for fixture-derived inputs (stream input
  * dirs, duplicate-injected dirs, written indexes). One temp directory
  * per cache key per JVM — Bench runs every query several times; staging
  * must happen once, not per run — removed RECURSIVELY on JVM shutdown.
  * `File.deleteOnExit` can't remove non-empty directories, which is how
  * partitioned-write staging (nested per-partition dirs) would leak.
  *
  * Also hosts [[materialize]], the engine's ONE eager-materialization
  * primitive (r13 verdict item 2).
  */
object Staging {

  /** Session conf selecting the materializer: `local` (default —
    * `localCheckpoint`, executor-memory/disk blocks, right for
    * local[32] and any single-JVM run) or `reliable` (`checkpoint` to
    * the checkpoint dir — on a real cluster a non-reliable checkpoint
    * dies with its executor and FAILS THE JOB mid-query, because the
    * truncated lineage cannot recompute; a reliable checkpoint on
    * HDFS/S3 survives executor loss). One conf flips every
    * multi-consumer materialization site in the engine.
    */
  val MaterializerConfKey = "graft.materializer"

  /** Checkpoint directory for the reliable materializer; set once per
    * SparkContext on first reliable use when the context has none. */
  val CheckpointDirConfKey = "graft.checkpoint.dir"

  /** Eagerly materialize `df` — lineage truncation for multi-consumer
    * frames (iterative lineage cuts, frames walked by several
    * downstream consumers that would otherwise each recompute the
    * producing job). Semantics are identical in both modes: an eager
    * checkpoint returning a frame backed by the materialized rows.
    * Pick the mode per session via [[MaterializerConfKey]].
    */
  def materialize[T](ds: org.apache.spark.sql.Dataset[T])
      : org.apache.spark.sql.Dataset[T] = {
    val s = ds.sparkSession
    if (s.conf.getOption(MaterializerConfKey).contains("reliable")) {
      if (s.sparkContext.getCheckpointDir.isEmpty) {
        val dir = s.conf.getOption(CheckpointDirConfKey).getOrElse {
          val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt")
          hookInstalled
          roots.add(tmp)
          tmp.toString
        }
        s.sparkContext.setCheckpointDir(dir)
      }
      ds.checkpoint()
    } else ds.localCheckpoint()
  }

  /** [[materialize]], sized by what it holds: Spark estimates a
    * materialized frame by its origin plan, which for an origin with a
    * join is the join's product, so a join against the frame would
    * shuffle however few rows it holds. The result is estimated at its
    * row count times its row width instead, and a join against it
    * broadcasts or shuffles by Spark's own thresholds. The row count is
    * observed in the materializing job: sizing starts no job.
    */
  def materializeSized(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val counted = df.observe("graft_materialized_rows",
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
    val done = materialize(counted)
    val rows = counted.queryExecution.observedMetrics("graft_materialized_rows")
    org.apache.spark.sql.graftshim.GraftShim.sizedByRows(done, rows.getLong(0))
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  // ONE shutdown hook draining every staged root (one Thread per key
  // would pile up hooks and race each other); registered lazily on first
  // staging so library users who never stage pay nothing.
  private val roots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var root = roots.poll()
      while (root != null) { deleteRecursively(root); root = roots.poll() }
    }))

  /** Build-once per (key, JVM): `build` gets a fresh temp directory that
    * is deleted (recursively) at exit; its result is cached.
    *
    * NOT `computeIfAbsent`: `build` runs Spark actions (collects, parquet
    * writes) that must never execute while holding a ConcurrentHashMap
    * bin lock — two concurrent callers whose keys share a hash bin would
    * serialize (or, if a build re-enters Staging, deadlock). Instead the
    * slow path races: both callers may build, `putIfAbsent` picks one
    * winner, and the loser's directory is released immediately. Duplicate
    * build work in the race window is bounded and harmless; a held lock
    * across a Spark job is not.
    */
  def cached[A](key: String)(build: java.nio.file.Path => A): A = {
    val hit = cache.get(key)
    if (hit != null) return hit.asInstanceOf[A]
    missLog.add(key)
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
    hookInstalled
    roots.add(tmp)
    val built = build(tmp)
    val prior = cache.putIfAbsent(key, built)
    if (prior != null) {
      // lost the race: drop this build's directory now rather than at exit
      roots.remove(tmp)
      deleteRecursively(tmp)
      prior.asInstanceOf[A]
    } else built
  }

  // Every key that took the build (miss) path, in arrival order — the
  // runtime side of the fixture-classification guard: Bench compares the
  // misses recorded AFTER warmup priming against the primed-fixture set
  // and warns loudly when a heavy stager paid its build inside a timed
  // rep (the r9/r10 watchdog failure mode).
  private val missLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Keys that missed the cache so far this JVM, in order. */
  private[graft] def missedKeys: Seq[String] = {
    import scala.jdk.CollectionConverters._
    missLog.iterator().asScala.toIndexedSeq
  }

  /** Best-effort recursive delete: the walk stream is closed (it holds a
    * directory handle), and a per-path failure — e.g. Spark's own
    * shutdown hooks still touching a file, which would otherwise throw
    * DirectoryNotEmptyException — skips that path instead of aborting
    * the remaining deletions.
    */
  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      val stream = java.nio.file.Files.walk(root)
      val paths =
        try stream.iterator().asScala.toSeq.reverse
        finally stream.close()
      paths.foreach { p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () }
      }
    }
  }
}
