package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.ops.VectorOps

/** Executes one benchmark run: `Driver <plan.tsv> <out.jsonl>`.
  *
  * One SparkSession on `local[cores]`, one client thread. The set-up
  * operations run first: each set-up repetition is timed as a whole,
  * then the warm passes run untimed; then the timed operations run
  * closed-loop until `seconds` have
  * passed and the current pass is complete. Each operation is timed from
  * outside graft in two phases: `build` (the call into graft's entry
  * point, which returns a DataFrame or performs a commit) and `exec`
  * (running the DataFrame: to the `noop` sink for registry queries, as
  * graft.Bench does, or collecting the result for index reads). Every
  * record goes to `out.jsonl` for `run.py` to aggregate and check.
  */
object Driver {

  final case class Result(fields: Seq[(String, String)] = Nil,
                          detail: Seq[(String, String)] = Nil)

  final case class Timed(buildS: Double, execS: Double, result: Result,
                         error: Option[String])

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val out = new java.io.PrintWriter(
      Files.newBufferedWriter(Paths.get(args(1)), UTF_8))
    def emit(rec: String): Unit = { out.println(rec); out.flush() }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = plan.int("cores")
    val work = plan.str("work")
    val sessionT0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.ui.enabled", "false")
      // the status store keeps at most this many jobs, stages and SQL
      // executions, so that the heap a run leaves does not grow with
      // the number of operations the machine managed to run
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - sessionT0) / 1e9

    val ops = new Ops(spark, plan)
    val warmT0 = System.nanoTime()
    var repT0 = warmT0
    plan.warm.zipWithIndex.foreach { case (op, j) =>
      val r = ops.run(op)
      emit(Json.obj("type" -> Json.str("warm"), "rep" -> op.pass.toString,
        "kind" -> Json.str(op.kind),
        "arg" -> Json.str(op.args.headOption.getOrElse("")),
        "s" -> Json.num(r.buildS + r.execS),
        "error" -> r.error.map(Json.str).getOrElse("null")))
      val repEnds = j + 1 == plan.warm.length || plan.warm(j + 1).pass != op.pass
      if (repEnds) {
        val now = System.nanoTime()
        if (op.pass >= 0)
          emit(Json.obj("type" -> Json.str("rep"), "rep" -> op.pass.toString,
            "s" -> Json.num((now - repT0) / 1e9)))
        repT0 = now
      }
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9

    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    val trace = if (plan.int("trace") == 1) Some(new Trace) else None
    trace.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val readyMs = System.currentTimeMillis()
    emit(Json.obj("type" -> Json.str("setup"),
      "warmup_s" -> Json.num((readyMs - jvmStartMs) / 1e3),
      "session_s" -> Json.num(sessionS),
      "warm_s" -> Json.num(warmS),
      "warm_ops" -> plan.warm.length.toString))

    val deadline = System.nanoTime() + (plan.dbl("seconds") * 1e9).toLong
    val cpuT0 = processCpuS
    val windowT0 = System.nanoTime()
    var i = 0
    while (i < plan.timed.length &&
        !(System.nanoTime() >= deadline &&
          (i == 0 || plan.timed(i).pass != plan.timed(i - 1).pass))) {
      val op = plan.timed(i)
      val r = ops.run(op)
      emit(Json.obj(Seq(
        "type" -> Json.str("op"), "i" -> i.toString,
        "pass" -> op.pass.toString, "kind" -> Json.str(op.kind),
        "arg" -> Json.str(op.args.headOption.getOrElse("")),
        "build_s" -> Json.num(r.buildS), "exec_s" -> Json.num(r.execS),
        "error" -> r.error.map(Json.str).getOrElse("null"),
        "result" -> Json.obj(r.result.fields: _*),
        "detail" -> Json.obj(r.result.detail: _*)): _*))
      i += 1
    }
    val windowS = (System.nanoTime() - windowT0) / 1e9
    val windowCpuS = processCpuS - cpuT0
    PerfbenchBus.drain(sc)
    trace.foreach { t =>
      t.finish()
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      emit(traceRecord(t))
    }
    val tableStats = ops.tableStats()
    emit(Json.obj("type" -> Json.str("end"),
      "window_s" -> Json.num(windowS),
      "window_cpu_s" -> Json.num(windowCpuS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "live_heap_mb" -> Json.num(liveHeapMb),
      "cores" -> cores.toString,
      "table" -> Json.obj(tableStats: _*)))
    out.close()
    spark.stop()
  }

  private def traceRecord(t: Trace): String = t.synchronized {
    val sites = t.jobsBySite.toSeq.map { case ((phase, file), n) =>
      Json.obj("phase" -> Json.str(phase), "file" -> Json.str(file),
        "jobs" -> n.toString)
    }
    Json.obj(
      "type" -> Json.str("trace"),
      "jobs_started" -> t.jobsStarted.toString,
      "jobs_ended" -> t.jobsEnded.toString,
      "jobs_by_site" -> Json.arr(sites),
      "tables_job_s" -> Json.num(t.tablesJobNanos / 1e9),
      "stages" -> t.stages.toString,
      "tasks" -> t.tasks.toString,
      "task_run_s" -> Json.num(t.taskRunMs / 1e3),
      "task_cpu_s" -> Json.num(t.taskCpuNs / 1e9),
      "task_deser_s" -> Json.num(t.taskDeserMs / 1e3),
      "shuffle_write_mb" -> Json.num(t.shuffleWriteBytes / 1048576.0),
      "shuffle_read_mb" -> Json.num(t.shuffleReadBytes / 1048576.0),
      "spill_mb" -> Json.num(t.spillBytes / 1048576.0),
      "peak_exec_mem_mb" -> Json.num(t.peakExecMem / 1048576.0),
      "gc_s" -> Json.num(t.gcMs / 1e3),
      "codegen_compiles" -> t.compiles.toString,
      "analysis_s" -> Json.num(t.phaseMs("analysis") / 1e3),
      "optimization_s" -> Json.num(t.phaseMs("optimization") / 1e3),
      "planning_s" -> Json.num(t.phaseMs("planning") / 1e3))
  }

  /** CPU time this JVM has used, all threads, in seconds. */
  private def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Heap still in use after a full collection, in MiB: what the run's
    * work leaves reachable (caches, retained plans and metadata), as
    * opposed to the high-water resident set, which the heap sizing sets. */
  private def liveHeapMb: Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** High-water resident set of this JVM, in MiB (Linux `VmHWM`). */
  private def peakRssMb: Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) Double.NaN
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    }
  }
}

/** The operations a plan may name, executed against one session. */
final class Ops(spark: SparkSession, plan: Plan) {
  import Driver.{Result, Timed}

  private val data = plan.str("data")
  private val work = plan.str("work")
  private val sc = spark.sparkContext

  private def phase[T](name: String)(body: => T): (T, Double) = {
    sc.setLocalProperty(Trace.PhaseKey, name)
    val t0 = System.nanoTime()
    try (body, (System.nanoTime() - t0) / 1e9)
    finally sc.setLocalProperty(Trace.PhaseKey, null)
  }

  def run(op: Op): Timed =
    try op.kind match {
      case "query" =>
        val (df, b) = phase("build")(SparkEntry.queries(op.arg(0))(spark, data))
        val (_, e) = phase("exec")(
          df.write.format("noop").mode("overwrite").save())
        Timed(b, e, Result(), None)
      case "querycheck" => queryCheck(op.arg(0))
      case "init" => initIndex(op.arg(0))
      case "append" => append(op.arg(0).toLong, op.ids(1))
      case "dvdelete" => dvDelete(op.ids(0))
      case "compact" => compact()
      case "point" => point(op.arg(0).toLong)
      case "range" => range(op.arg(0).toLong, op.arg(1).toLong)
      case "search" => search(op.arg(0).toLong)
      case "latest" => latest()
      case other => throw new IllegalArgumentException(s"unknown op '$other'")
    } catch {
      case e: Throwable =>
        Timed(Double.NaN, Double.NaN, Result(),
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)))
    }

  // ---------------------------------------------------------- registry

  /** Untimed correctness dump, in graft.Verify's layout: the query's
    * result as one parquet directory, beside its oracle SQL. */
  private def queryCheck(name: String): Timed = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, data).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/check/$name")
    val sql = SparkEntry.oracleSql.getOrElse(name, "")
    Files.write(Paths.get(s"$work/check/$name.sql"), sql.getBytes(UTF_8))
    Timed(0.0, (System.nanoTime() - t0) / 1e9, Result(), None)
  }

  // ------------------------------------------------------ vector index

  private val idCol = "vec_id"
  private val vecCol = "embedding"
  private lazy val embeddings: DataFrame = Tables.embeddings(spark, data)
  private lazy val vectors: Map[Long, Seq[Float]] =
    embeddings.select(col(idCol), col(vecCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
  private var path: String = _
  private var centroids: Array[Array[Double]] = _
  private var head = 0
  private var appendAttempts = 0L
  private var appends = 0L

  private def fpp = plan.dbl("bloom_fpp")

  /** Build a fresh index from the embeddings below `index_base_below`:
    * deterministic IVF coarse quantizer, centroid-partitioned write,
    * version 1 with its zone-map and bloom sidecars. */
  private def initIndex(name: String): Timed = {
    val (_, b) = phase("exec") {
      path = s"$work/$name"
      val base = embeddings.filter(col(idCol) < plan.int("index_base_below"))
      val idx = VectorOps.ivfIndexDeterministic(base, idCol, vecCol,
        nCentroids = plan.int("centroids"))
      idx.assigned.repartition(plan.int("base_files"))
        .write.partitionBy("centroid").mode("overwrite").parquet(path)
      VectorOps.writeManifest(spark, path, 1,
        VectorOps.listIndexFiles(spark, path), Map("op" -> "append"))
      VectorOps.writeColStats(spark, path, 1, idCol)
      VectorOps.writeBloomFilter(spark, path, 1, idCol, fpp)
      centroids = idx.centroids
      head = 1
      appends = 0
      appendAttempts = 0
    }
    Timed(b, 0.0, Result(Seq("version" -> "1")), None)
  }

  /** The incremental zone-map and bloom refresh every commit is followed
    * by, so that the pruned readers can serve the new version. */
  private def refreshSidecars(v: Int): Unit = {
    VectorOps.writeColStatsIncremental(spark, path, v, idCol)
    VectorOps.writeBloomFilterIncremental(spark, path, v, idCol, fpp)
  }

  private def commit(kind: String)(body: => (Int, Seq[(String, String)])): Timed = {
    val ((v, fields), c) = phase("exec")(body)
    val (_, s) = phase("exec")(refreshSidecars(v))
    head = v
    Timed(0.0, c + s,
      Result(("version" -> v.toString) +: fields,
        Seq(s"${kind}_s" -> Json.num(c), "sidecar_s" -> Json.num(s))), None)
  }

  private def append(batchId: Long, ids: Seq[Long]): Timed =
    commit("append") {
      val batch = embeddings.filter(col(idCol).isin(ids: _*))
      val (v, skipped, attempts) = VectorOps.ivfAppendBatch(spark, batch,
        centroids, path, idCol, vecCol, batchId)
      appends += 1
      appendAttempts += attempts
      (v, Seq("skipped" -> skipped.toString, "attempts" -> attempts.toString))
    }

  private def dvDelete(ids: Seq[Long]): Timed =
    commit("dv_delete") {
      val (fresh, total) = VectorOps.commitDeletionVector(spark, path, head,
        head + 1, col(idCol).isin(ids: _*))
      (head + 1, Seq("deleted" -> fresh.toString, "dv_total" -> total.toString))
    }

  private def compact(): Timed =
    commit("compact") {
      val (bins, from, to, _) = VectorOps.ivfCompactSmall(spark, path, head,
        head + 1, plan.str("compact_target_bytes").toLong)
      (head + 1, Seq("bins" -> bins.toString, "files_from" -> from.toString,
        "files_to" -> to.toString))
    }

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col(idCol)).collect().map(_.getLong(0)).toSeq.sorted

  /** graft's pruned readers return the kept files' rows as they are, with
    * no deletion vector applied, so a deleted row would still be served.
    * A correct read subtracts the version's deletion vector (graft's
    * `readDeletionVector`) from them the way `readIndexVersionDv` does:
    * an anti-join on each row's file and row index. */
  private def withoutDeleted(rows: DataFrame, kept: Int): DataFrame =
    if (kept == 0) rows
    else VectorOps.readDeletionVector(spark, path, head) match {
      case None => rows
      case Some(dv) =>
        rows
          .withColumn("__dv_file", substring_index(col("_metadata.file_path"), "/", -2))
          .withColumn("__dv_pos", col("_metadata.row_index").cast("long"))
          .join(broadcast(dv.select(col("file").as("__dv_file"),
            col("pos").cast("long").as("__dv_pos"))),
            Seq("__dv_file", "__dv_pos"), "left_anti")
          .drop("__dv_file", "__dv_pos")
    }

  private def pruned(kind: String, read: => (DataFrame, Int, Int)): Timed = {
    val ((df, kept, total), b) = phase("build") {
      val (rows, kept, total) = read
      (withoutDeleted(rows, kept), kept, total)
    }
    val (got, e) = phase("exec")(ids(df))
    Timed(b, e, Result(Seq("ids" -> Json.arr(got.map(_.toString)),
      "kept" -> kept.toString, "total" -> total.toString),
      Seq(s"${kind}_s" -> Json.num(b + e))), None)
  }

  private def point(id: Long): Timed = pruned("point", {
    val (df, keep, total) = VectorOps.readIndexVersionPoint(spark, path,
      head, idCol, id)
    (df, keep.length, total)
  })

  private def range(lo: Long, hi: Long): Timed = pruned("range",
    VectorOps.readIndexVersionPruned(spark, path, head, idCol, lo, hi))

  /** Top-10 cosine search over the live version: IVF probe of the
    * `nprobe` nearest cells plus exact rerank. graft's path-based search,
    * `ivfTopKFromPath`, is not used: it reads every parquet file under
    * the index root, so on a versioned index it returns deleted rows and
    * the files a compaction replaced. */
  private def search(queryId: Long): Timed = {
    val q = vectors(queryId)
    val (df, b) = phase("build") {
      val live = VectorOps.readIndexLatest(spark, path, idCol)
      VectorOps.ivfTopK(VectorOps.IvfIndex(live, centroids), idCol, vecCol,
        q, 10, plan.int("nprobe"))
    }
    val (rows, e) = phase("exec")(df.collect().toSeq)
    Timed(b, e, Result(Seq(
      "ids" -> Json.arr(rows.map(_.getLong(0).toString)),
      "scores" -> Json.arr(rows.map(r => Json.num(r.getDouble(1))))),
      Seq("search_s" -> Json.num(b + e))), None)
  }

  private def latest(): Timed = {
    val (df, b) = phase("build")(VectorOps.readIndexLatest(spark, path, idCol))
    val (row, e) = phase("exec")(
      df.agg(count(lit(1)), coalesce(sum(col(idCol)), lit(0L))).head())
    Timed(b, e, Result(Seq("count" -> row.getLong(0).toString,
      "id_sum" -> row.getLong(1).toString),
      Seq("latest_s" -> Json.num(b + e))), None)
  }

  /** End-of-run shape of the index, measured untimed: the latest
    * version's manifest size, the bytes on disk under the index root,
    * and the OCC attempts its appends took. */
  def tableStats(): Seq[(String, String)] =
    if (path == null) Nil
    else {
      val files = VectorOps.readManifest(spark, path, head).length
      val bytes = Files.walk(Paths.get(path)).filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum()
      Seq("version" -> head.toString, "files" -> files.toString,
        "disk_bytes" -> bytes.toString,
        "appends" -> appends.toString,
        "append_attempts" -> appendAttempts.toString)
    }
}
