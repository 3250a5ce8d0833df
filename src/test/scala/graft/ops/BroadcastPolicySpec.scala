package graft.ops

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's one broadcast policy: a build side that grows with the
  * data carries no hint, and Spark's size-based join selection decides.
  * It broadcasts while the estimate is under
  * `spark.sql.autoBroadcastJoinThreshold`, AQE converts a sort-merge
  * join to a broadcast at runtime once the materialized side is under
  * `spark.sql.adaptive.autoBroadcastJoinThreshold`, and past both the
  * same join shuffles instead of failing the build. Deciding costs no
  * job, and the answer never depends on the choice. A frame from
  * `Staging.materialize` (Apriori's F2 among them) is sized by what it
  * holds, not by its origin plan's join-product estimate.
  */
class BroadcastPolicySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"
  private val Static = "spark.sql.autoBroadcastJoinThreshold"
  private val Adaptive = "spark.sql.adaptive.autoBroadcastJoinThreshold"

  /** A semi-join whose build side, the distinct order keys, grows with
    * lineitem. */
  private def joined: DataFrame = {
    val li = Tables.lineitem(spark, sf)
    li.select(col("l_orderkey"), col("l_quantity"))
      .join(li.select(col("l_orderkey")).distinct(), Seq("l_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
  }

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The equi-joins of the static plan: AQE's initial plan, before any
    * runtime conversion. */
  private def staticJoins(p: SparkPlan): Seq[BaseJoinExec] = (p match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case other => other
  }).collect { case j: BaseJoinExec => j }

  /** q_apriori_triples' semi-joins against its materialized F2, the one
    * build side whose only column is `pk`. */
  private def f2Joins(q: DataFrame): Seq[BaseJoinExec] =
    staticJoins(q.queryExecution.executedPlan).filter(j =>
      j.joinType == LeftSemi && j.right.output.map(_.name) == Seq("pk"))

  /** A broadcast hash join that builds its right side, the id set alone. */
  private def buildsIdSide(j: BaseJoinExec): Boolean = j match {
    case b: BroadcastHashJoinExec =>
      b.buildSide == BuildRight && b.right.output.map(_.name) == Seq("vec_id")
    case _ => false
  }

  /** The executed plans of the queries `body` runs. */
  private def plansRun(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftShim.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; GraftShim.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("default thresholds: a data-sized build side plans BroadcastHashJoin " +
      "and building the frame starts no job") {
    // the formerly row-gated query sites too: the gate's count job is gone
    for ((name, build) <- Seq("joined" -> (() => joined),
        "q_shipping_priority" -> (() => query("q_shipping_priority")),
        "q_grouped_ols" -> (() => query("q_grouped_ols")))) {
      build() // the first build resolves the table schemas
      var q: DataFrame = null
      assert(jobsStarted { q = build() } == 0, name)
      assert(plan(q).contains("BroadcastHashJoin"), s"$name\n${plan(q)}")
    }
    // Apriori's materialized F2 is sized by its rows, so its semi-joins
    // broadcast in the static plan
    val f2 = f2Joins(query("q_apriori_triples"))
    assert(f2.nonEmpty)
    assert(f2.forall(_.isInstanceOf[BroadcastHashJoinExec]), f2.mkString("\n"))
  }

  test("static threshold off, adaptive threshold 10 MB: the plan starts as " +
      "SortMergeJoin and AQE converts it to BroadcastHashJoin at runtime") {
    val expected = rows(joined)
    withConfs(Static -> "-1", Adaptive -> "10MB") {
      val q = joined
      val initial = plan(q)
      assert(initial.contains("SortMergeJoin"), initial)
      assert(!initial.contains("BroadcastHashJoin"), initial)
      assert(rows(q) == expected)
      val finalPlan = plan(q)
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    }
  }

  test("both thresholds off: the same joins plan SortMergeJoin, same result") {
    val expected = rows(joined)
    withConfs(Static -> "-1", Adaptive -> "-1") {
      val q = joined
      assert(plan(q).contains("SortMergeJoin"), plan(q))
      assert(rows(q) == expected)
      assert(!plan(q).contains("BroadcastHashJoin"), plan(q))
      // the adamic-adar edge set, a formerly row-gated build side
      val aa = query("q_adamic_adar")
      assert(plan(aa).contains("SortMergeJoin"), plan(aa))
      assert(!plan(aa).contains("BroadcastHashJoin"), plan(aa))
      // past the thresholds Apriori's F2 semi-joins shuffle
      val f2 = f2Joins(query("q_apriori_triples"))
      assert(f2.nonEmpty)
      assert(f2.forall(_.isInstanceOf[SortMergeJoinExec]), f2.mkString("\n"))
    }
  }

  test("both thresholds off: the formerly gated query sites keep their rows") {
    // q_apriori_triples F2 and the q_adamic_adar edge set
    val names = Seq("q_apriori_triples", "q_adamic_adar")
    val expected = names.map(n => rows(query(n)))
    withConfs(Static -> "-1", Adaptive -> "-1") {
      assert(names.map(n => rows(query(n))) == expected)
    }
  }

  test("no single-consumer build side sits on a checkpoint: the formerly " +
      "row-gated queries keep a recomputable lineage") {
    // the RDD lineage of every scan of an existing RDD in the executed
    // plan, broadcast build sides included
    def checkpointed(name: String): Seq[String] = {
      val q = query(name)
      q.collect()
      collectWithSubqueries(q.queryExecution.executedPlan) {
        case s: RDDScanExec => s.inputRDDs().map(_.toDebugString).mkString("\n")
      }.filter(_.contains("CheckpointRDD"))
    }
    for (name <- Seq("q_shipping_priority", "q_grouped_ols", "q_adamic_adar",
                     "q_pipeline_shape"))
      assert(checkpointed(name).isEmpty, s"$name\n${checkpointed(name).mkString("\n")}")
    // the check sees a checkpoint where there is one: Apriori's F2 has two
    // consumers and is materialized once on purpose
    assert(checkpointed("q_apriori_triples").nonEmpty)
  }

  /** A 20M-row fact joined to a materialized 400-row frame whose origin
    * is a self-join of 2,000 keys, estimated by Spark as their product. */
  private def onMaterialized: DataFrame = {
    val keys = spark.range(2000).select(col("id").as("k"))
    val few = Staging.materialize(keys
      .join(keys.select(col("k").as("k2")), col("k") === col("k2"))
      .filter(col("k") % 5 === 0).select(col("k")))
    spark.range(20000000L).select((col("id") % 2000).as("k"), col("id"))
      .join(few, "k")
  }

  test("a join on a materialized frame whose origin joins: BroadcastHashJoin " +
      "building the frame under default thresholds, SortMergeJoin past both") {
    val joins = staticJoins(onMaterialized.queryExecution.executedPlan)
    assert(joins.length == 1, joins.mkString("\n"))
    assert(joins.forall {
      case b: BroadcastHashJoinExec => b.buildSide == BuildRight
      case _ => false
    }, joins.mkString("\n"))
    withConfs(Static -> "-1", Adaptive -> "-1") {
      val off = staticJoins(onMaterialized.queryExecution.executedPlan)
      assert(off.length == 1 && off.forall(_.isInstanceOf[SortMergeJoinExec]),
        off.mkString("\n"))
    }
  }

  test("default thresholds: the versioned index's id-set joins plan " +
      "BroadcastHashJoin (tombstone anti-join, upsert id set)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(11)
    val embs = (1L to 400L).map(id => (id, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val idx = VectorOps.ivfIndexDeterministic(embs, "vec_id", "embedding", 4)
    val dir = java.nio.file.Files.createTempDirectory("broadcast_policy")
    try {
      val path = dir.resolve("index").toString
      idx.assigned.write.partitionBy("centroid").mode("overwrite").parquet(path)
      VectorOps.writeManifest(spark, path, 0, VectorOps.listIndexFiles(spark, path))
      VectorOps.commitDeletes(spark, path, 0, 1,
        embs.filter(col("vec_id") % 13 === 2).select(col("vec_id")))
      // the merge-on-read tombstone subtraction (withoutTombstones), read
      // a second time so that both sides scan with remembered schemas
      VectorOps.readIndexVersionMor(spark, path, 1, "vec_id")
      val mor = staticJoins(VectorOps.readIndexVersionMor(spark, path, 1, "vec_id")
        .queryExecution.executedPlan).filter(_.joinType == LeftAnti)
      assert(mor.nonEmpty)
      assert(mor.forall(buildsIdSide), mor.mkString("\n"))
      // every join ivfUpsert runs, its id-set semi-join among them
      val upserted = embs.filter(col("vec_id") % 7 === 3).select(col("vec_id"),
        transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
      val joins = plansRun {
        VectorOps.ivfUpsert(spark, path, 1, 2, upserted, idx.centroids,
          "vec_id", "embedding")
      }.flatMap(staticJoins)
      assert(joins.exists(_.joinType == LeftSemi), joins.mkString("\n"))
      assert(joins.forall(_.isInstanceOf[BroadcastHashJoinExec]), joins.mkString("\n"))
      val idSet = joins.filter(_.joinType == LeftSemi)
      assert(idSet.forall(buildsIdSide), idSet.mkString("\n"))
    } finally graft.ops.Staging.deleteRecursively(dir)
  }
}
