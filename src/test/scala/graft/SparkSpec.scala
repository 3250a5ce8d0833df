package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftShim
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlCtx = spark

  /** Jobs `body` starts, counted once the listener bus is drained. */
  def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    GraftShim.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; GraftShim.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  /** Canonical-schema event files for stream-source tests: rewritten
    * through [[Tables.events]] (owner of the fixture's physical-type
    * normalization), staged once per (sf, JVM) via [[ops.Staging]].
    */
  def stagedEvents(sf: String): java.nio.file.Path = java.nio.file.Paths.get(
    graft.ops.Staging.cached(s"specstream:$sf") { tmp =>
      val out = tmp.resolve("events").toString
      Tables.events(spark, sf).coalesce(1).write.mode("overwrite").parquet(out)
      out
    })
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
