package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{Analytics, Augment, Behavior, Corpus, Curation, Evaluation, Extended, Frontier, Inference, Learners, Mining, Nonparam, Physical, Registry, Spectral, Stats, Structure, Temporal}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.queries("q_dedup_latest")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries ++ Extended.queries ++ Corpus.queries ++
      Analytics.queries ++ Mining.queries ++ Curation.queries ++
      Frontier.queries ++ Spectral.queries ++ Stats.queries ++ Structure.queries ++ Evaluation.queries ++ Inference.queries ++ Temporal.queries ++ Learners.queries ++ Physical.queries ++ Behavior.queries ++ Augment.queries ++ Nonparam.queries

  /** The session settings of every graft main (`Bench`, `Verify`,
    * `Explain`), so each plans and runs queries the same way; `cpus` is
    * the local core count and the shuffle-partition count. */
  private[graft] def sessionSettings(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // wide-aggregate queries (q_bootstrap_ci: 130 agg fields) must stay
    // inside whole-stage codegen; the 100-field default silently drops
    // them to interpreted eval (measured 2x slower than the explode form)
    "spark.sql.codegen.maxFields" -> "256",
    // the sf files are single small parquets (lineitem sf0.1 ≈ 11 MB);
    // the 128 MB default split makes every scan single-threaded
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.files.openCostInBytes" -> "64k",
    "spark.ui.enabled" -> "false")

  /** A session with [[sessionSettings]] for `SPARK_GRAFT_CPUS` cores
    * (default 4), plus `extra`. */
  private[graft] def session(extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    (sessionSettings(cpus) ++ extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.oracleSql ++ Extended.oracleSql ++ Corpus.oracleSql ++
      Analytics.oracleSql ++ Mining.oracleSql ++ Curation.oracleSql ++
      Frontier.oracleSql ++ Spectral.oracleSql ++ Stats.oracleSql ++ Structure.oracleSql ++ Evaluation.oracleSql ++ Inference.oracleSql ++ Temporal.oracleSql ++ Learners.oracleSql ++ Physical.oracleSql ++ Behavior.oracleSql ++ Augment.oracleSql ++ Nonparam.oracleSql
}
