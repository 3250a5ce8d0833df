package graft
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.GraftShim

/** `Explain <q ...>` prints each query's formatted plan at sf0.01.
  *
  * `Explain --build-jobs <sfDir> [q ...]` audits construction: it builds
  * each named query (by default the whole registry) twice in one session
  * and, for the second build, prints the Spark jobs started while the
  * DataFrame was built, by the graft source file that issued each, then
  * the registry total. The first build pays the one-off work (staged
  * fixtures, schema resolution), so what is left is what every build of
  * the query pays.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    args.toList match {
      case "--build-jobs" :: sfDir :: names => buildJobs(spark, sfDir, names)
      case names =>
        for (name <- names) {
          println(s"===== $name =====")
          SparkEntry.queries(name)(spark, dir).explain("formatted")
        }
    }
    spark.stop()
  }

  private val QueryKey = "graft.explain.query"

  private def buildJobs(spark: SparkSession, dir: String,
                        names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val picked = if (names.isEmpty) queries.keys.toSeq.sorted else names
    val unknown = picked.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def build(name: String): Option[String] =
      try { queries(name)(spark, dir); None }
      catch { case NonFatal(e) => Some(e.toString) }
    picked.foreach(build)
    val sc = spark.sparkContext
    val listener = new BuildJobs
    sc.addSparkListener(listener)
    val errors = picked.flatMap { name =>
      sc.setLocalProperty(QueryKey, name)
      try build(name).map(name -> _)
      finally sc.setLocalProperty(QueryKey, null)
    }.toMap
    GraftShim.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    val jobs = listener.synchronized(listener.jobs.toMap)
    def files(byFile: Iterable[(String, Int)]): String = byFile
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy { case (f, n) => (-n, f) }
      .map { case (f, n) => s"$f=$n" }.mkString(" ")
    println(s"===== build jobs, second build, $dir =====")
    picked.foreach { name =>
      val byFile = jobs.getOrElse(name, Map.empty[String, Int])
      val error = errors.get(name).fold("")(e => s"  ERROR $e")
      println(f"$name%-36s ${byFile.values.sum}%4d  ${files(byFile)}$error".stripTrailing)
    }
    val all = jobs.values.flatten
    println(s"registry total: ${all.map(_._2).sum} jobs in ${jobs.size} of " +
      s"${picked.size} queries  ${files(all)}")
  }

  /** Counts the jobs each query's build starts, by the source file that
    * issued each job: the description of its SQL execution when it has
    * one (a broadcast job on a pool thread still names the action that
    * needed it), else the name of its result stage. */
  private final class BuildJobs extends SparkListener {
    private val executionSite = mutable.HashMap[Long, String]()
    val jobs = mutable.HashMap[String, Map[String, Int]]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          executionSite(s.executionId) = sourceFile(s.description)
        case s: SparkListenerSQLExecutionEnd => executionSite.remove(s.executionId)
        case _ =>
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(QueryKey))).foreach { q =>
        val site = props
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => executionSite.get(id.toLong))
          .getOrElse(
            if (e.stageInfos.isEmpty) "unknown"
            else sourceFile(e.stageInfos.maxBy(_.stageId).name))
        val byFile = jobs.getOrElse(q, Map.empty[String, Int])
        jobs(q) = byFile.updated(site, byFile.getOrElse(site, 0) + 1)
      }
    }
  }

  private val CallSite = """.* at ([A-Za-z0-9_$.-]+\.(?:scala|java)):\d+.*""".r

  /** `"count at TextOps.scala:330"` → `"TextOps.scala"`. */
  private def sourceFile(callSite: String): String = callSite match {
    case CallSite(file) => file
    case _ => "unknown"
  }
}
