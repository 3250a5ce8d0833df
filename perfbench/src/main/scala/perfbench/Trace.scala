package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Splits a timed window across Spark's layers from outside the engine.
  *
  * Registered only for the timed window (the bus is drained at both
  * edges), it sees every job, stage and task of the window and every
  * finished query execution. A job is attributed to the source file that
  * issued it by the call site Spark records for it: the description of
  * its SQL execution when it has one (so that a broadcast job started on
  * a pool thread still names the action that needed it), else the name of
  * its result stage (`"collect at VectorOps.scala:330"`). It is attributed
  * to the build or the execution phase of its operation by the
  * `perfbench.phase` local property the driver sets around each phase.
  */
class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  // running job -> (source file, start time in ms)
  private val jobs = mutable.HashMap[Int, (String, Long)]()
  private val executionSite = mutable.HashMap[Long, String]()
  // (phase, source file) -> job count
  val jobsBySite = mutable.TreeMap[(String, String), Long]()
  var jobsStarted = 0L
  var jobsEnded = 0L
  var tablesJobNanos = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskDeserMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val phaseMs = mutable.HashMap[String, Long]().withDefaultValue(0L)

  private val compiles0 = compilations
  private val gcMs0 = gcMillis
  var compiles = 0L
  var gcMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties)
      .flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("none")
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => executionSite.get(id.toLong))
      .getOrElse(
        if (e.stageInfos.isEmpty) "unknown"
        else sourceFile(e.stageInfos.maxBy(_.stageId).name))
    jobs(e.jobId) = (site, e.time)
    jobsBySite((phase, site)) = jobsBySite.getOrElse((phase, site), 0L) + 1
    jobsStarted += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    jobs.remove(e.jobId).foreach { case (site, start) =>
      if (site == "Tables.scala") tablesJobNanos += (e.time - start) * 1000000L
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        executionSite(s.executionId) = sourceFile(s.description)
      case s: SparkListenerSQLExecutionEnd => executionSite.remove(s.executionId)
      case _ =>
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      taskDeserMs += m.executorDeserializeTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) => phaseMs(name) += p.durationMs }
  }

  /** Close the window: the JVM-wide counters become deltas. */
  def finish(): Unit = synchronized {
    compiles = compilations - compiles0
    gcMs = gcMillis - gcMs0
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  private val CallSite = """.* at ([A-Za-z0-9_$.-]+\.(?:scala|java)):\d+.*""".r

  /** `"collect at VectorOps.scala:330"` → `"VectorOps.scala"`. */
  def sourceFile(stageName: String): String = stageName match {
    case CallSite(file) => file
    case _ => "unknown"
  }

  def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}
