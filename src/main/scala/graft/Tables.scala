package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * All engine queries read from a scale-factor directory; at cluster scale
  * the same loaders work against an object-store prefix — parquet scans
  * get column pruning and predicate pushdown from the data source V2 path.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    // generations (readable only via spark.sql.legacy.parquet.nanosAsLong,
    // a runtime-settable conf — set it here so any caller-supplied session
    // works) and as tz-naive TIMESTAMP(MICROS) in others (which Spark 4
    // infers as TIMESTAMP_NTZ). Normalize both to TIMESTAMP: nanos → micros
    // with integer `div` (double division would lose precision above 2^53),
    // NTZ → LTZ by cast — wall-clock exact under the UTC session timezone
    // every entry point sets, and required by unix_micros / streaming
    // window() downstream.
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$sfDir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    } else df
  }

  /** `spark.read.parquet(path)` for one literal path, with Spark's schema
    * inference (one job per call) run once per path per JVM.
    *
    * The memo keeps, per qualified path, the inferred schema and what the
    * inference saw: the data files (path, length, modification time, from
    * one metadata listing that runs no job) and the session confs that
    * change parquet inference. When both still match, the read passes the
    * remembered schema; otherwise it infers again and replaces the entry.
    * The listing is taken before the inference, so a rewrite racing it
    * can only cost a later re-inference, never a stale schema. A glob or
    * a missing path goes straight to Spark's reader and fails as it does.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (path.exists("{}[]*?\\".contains(_)) || !fs.exists(p)) spark.read.parquet(path)
    else {
      val key = fs.makeQualified(p).toString
      val seen = Seen(dataFiles(fs, p), InferenceConfs.map(spark.conf.getOption))
      schemas.get(key) match {
        case (`seen`, schema) => spark.read.schema(schema).parquet(path)
        case _ =>
          val df = spark.read.parquet(path)
          schemas.put(key, (seen, df.schema))
          df
      }
    }
  }

  /** Session confs whose value changes what parquet inference returns
    * (the last one types the partition columns of a partitioned path). */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class Seen(files: Seq[(String, Long, Long)],
                                confs: Seq[Option[String]])

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Seen, StructType)]()

  /** Sorted (path, length, modification time) of the data files under
    * `p`, skipping the `_`/`.` names Spark's file index skips (a
    * `_name=value` partition directory is kept, as Spark keeps it). */
  private def dataFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    def walk(dir: Path): Seq[(String, Long, Long)] =
      fs.listStatus(dir).toSeq.filter { st =>
        val n = st.getPath.getName
        !(n.startsWith(".") || n.startsWith("_") && !n.contains("="))
      }.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      }
    val top = fs.getFileStatus(p)
    if (top.isDirectory) walk(p).sorted
    else Seq((top.getPath.toString, top.getLen, top.getModificationTime))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
