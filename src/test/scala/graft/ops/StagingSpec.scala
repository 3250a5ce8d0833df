package graft.ops

import graft.SparkSpec

/** The r5 contract for the staging cache (r4 postmortem: `computeIfAbsent`
  * held a ConcurrentHashMap bin lock across Spark actions — two concurrent
  * callers whose keys share a hash bin would serialize or deadlock, and a
  * deadlock there is indistinguishable from a bench stall): concurrent
  * builds for DIFFERENT keys must proceed independently, and each key must
  * build exactly once per JVM.
  */
class StagingSpec extends SparkSpec {

  test("concurrent two-key staging: builds overlap instead of serializing, no deadlock") {
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // each build runs a real Spark action AND waits for its sibling at a
      // barrier INSIDE the build — under the old bin-lock design two keys
      // in one bin could never both be mid-build, so this would deadlock;
      // the barrier's own 20 s timeout fails fast instead of hanging CI
      def stage(key: String) = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = Staging.cached(s"spec_${tag}_$key") { dir =>
          spark.range(10).write.mode("overwrite")
            .parquet(dir.resolve("d").toString)
          gate.await(20, java.util.concurrent.TimeUnit.SECONDS)
          dir.toString
        }
      })
      val (a, b) = (stage("a"), stage("b"))
      val dirA = a.get(60, java.util.concurrent.TimeUnit.SECONDS)
      val dirB = b.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(dirA != dirB)
      assert(spark.read.parquet(s"$dirA/d").count() == 10)
    } finally pool.shutdownNow()
  }

  test("cached builds once per key and returns the cached value on re-entry") {
    val key = "spec_once_" + java.lang.Long.toHexString(System.nanoTime())
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val first = Staging.cached(key) { dir => builds.incrementAndGet(); dir.toString }
    val second = Staging.cached(key) { dir => builds.incrementAndGet(); dir.toString }
    assert(first == second)
    assert(builds.get() == 1)
  }

  private def stats(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.stats

  test("materialize: one session conf flips every site from local to " +
      "RELIABLE checkpoint; both paths return identical frames (r13 item 2)") {
    import org.apache.spark.sql.functions._
    // a child session isolates the conf flip from concurrently-running
    // suites (session confs are per-SparkSession; the context is shared)
    val s2 = spark.newSession()
    def frame = s2.range(100).select(col("id"), (col("id") % 7).as("m"))
      .filter(col("m") =!= 3)
    val (local, localSum) = Staging.materializeObserving(frame, sum(col("id")))
    // default mode: executor-block-backed local checkpoint
    assert(local.rdd.toDebugString.contains("LocalCheckpointRDD"),
      local.rdd.toDebugString)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_spec_ckpt")
    s2.conf.set(Staging.MaterializerConfKey, "reliable")
    s2.conf.set(Staging.CheckpointDirConfKey, ckptDir.toString)
    try {
      val (rel, relSum) = Staging.materializeObserving(frame, sum(col("id")))
      // the RDD is RELIABLY checkpointed — on a cluster this is the
      // recompute-after-executor-loss guarantee localCheckpoint lacks
      assert(rel.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        rel.rdd.toDebugString)
      // ...and the checkpoint files really exist under the configured dir
      val dir = java.nio.file.Paths.get(
        new java.net.URI(s2.sparkContext.getCheckpointDir.get).getPath)
      val stream = java.nio.file.Files.walk(dir)
      val nFiles =
        try stream.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally stream.close()
      assert(nFiles > 0, s"no checkpoint files under $dir")
      // identical frames either way — the conf changes durability only
      assert(rel.collect().sortBy(_.getLong(0)).toSeq ==
        local.collect().sortBy(_.getLong(0)).toSeq)
      // ...sized alike, and each mode observes its rows once
      val kept = (0L until 100L).filter(_ % 7 != 3)
      assert(stats(rel) == stats(local))
      // 86 rows of two longs, at most the origin's estimate
      assert(stats(local).sizeInBytes ==
        BigInt(kept.length * 24).min(stats(frame).sizeInBytes))
      for ((df, observed) <- Seq(local -> localSum, rel -> relSum)) {
        assert(stats(df).rowCount.contains(BigInt(kept.length)))
        assert(observed.getLong(0) == kept.sum)
      }
    } finally {
      s2.conf.unset(Staging.MaterializerConfKey)
      s2.conf.unset(Staging.CheckpointDirConfKey)
      Staging.deleteRecursively(ckptDir)
    }
  }

  test("materializer conf: any value but local or reliable fails loudly, " +
      "naming the value") {
    val s2 = spark.newSession()
    s2.conf.set(Staging.MaterializerConfKey, "reliabel")
    val e = intercept[IllegalArgumentException](Staging.materialize(s2.range(10).toDF()))
    assert(e.getMessage.contains("'reliabel'"), e.getMessage)
  }

  test("materialize: the rows of a checkpoint, in as many jobs, estimated " +
      "at row count times row width instead of the origin's join product") {
    import org.apache.spark.sql.functions._
    val keys = spark.range(2000).select(col("id").as("k"))
    // a join product estimate far past the rows it yields
    def frame = keys.join(keys.select(col("k").as("k2")), col("k") === col("k2"))
      .filter(col("k") % 5 === 0).select(col("k"))
    var sized: org.apache.spark.sql.DataFrame = null
    var origin: org.apache.spark.sql.DataFrame = null
    assert(jobsStarted { sized = Staging.materialize(frame) } ==
      jobsStarted { origin = frame.localCheckpoint() })
    assert(sized.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 2000L by 5L))
    assert(stats(sized).rowCount.contains(BigInt(400)))
    assert(stats(sized).sizeInBytes == BigInt(400 * 16)) // 8-byte row + 8-byte long
    assert(stats(origin).sizeInBytes > BigInt(400 * 16))
  }

  test("materializeObserving: the caller's aggregates come back from the " +
      "materializing job, with no job of their own") {
    import org.apache.spark.sql.functions._
    def frame = spark.range(1000).select(col("id"), (col("id") % 3).as("m"))
    var observed: org.apache.spark.sql.Row = null
    assert(jobsStarted {
      observed = Staging.materializeObserving(frame,
        count_if(col("m") === 0), sum(col("id")), max(col("m")))._2
    } == jobsStarted { frame.localCheckpoint() })
    assert(observed.toSeq == Seq(334L, 499500L, 2L))
  }

  test("materialize: an array column counts at its observed element total") {
    import org.apache.spark.sql.functions._
    val n = 500
    val embedded = Staging.materialize(spark.range(n).select(col("id"),
      array((0 until 64).map(i => col("id").cast("double") + i): _*).as("v")))
    assert(stats(embedded).rowCount.contains(BigInt(n)))
    // one element per row would be 500 × (8 + 8 + 8) bytes, which is
    // also the most the row-width part can add
    assert(stats(embedded).sizeInBytes >= BigInt(n * 64 * 8))
    assert(stats(embedded).sizeInBytes <= BigInt(n * (8 + 8 + 8) + n * 64 * 8))
  }
}
