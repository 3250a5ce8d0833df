package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
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

  /** `parquet(spark, Seq(path))`: one path, no reader options. */
  def parquet(spark: SparkSession, path: String): DataFrame = parquet(spark, Seq(path))

  /** graft's one parquet reader: `spark.read.options(options)
    * .parquet(paths: _*)`, with Spark's schema inference (one job per
    * call) run once per file set per JVM.
    *
    * The memo is keyed by the qualified paths, in the order given, and
    * the reader options (`basePath`, `mergeSchema`). Each entry holds
    * the inferred schema and a fixed-size digest of what the inference
    * saw: the data files under every path (path, length, modification
    * time, from one metadata listing that starts no job) and the session
    * confs that change parquet inference. When the digest still matches,
    * the read passes the remembered schema; otherwise it infers again
    * and replaces the entry. The listing is taken before the inference,
    * so a rewrite racing it can only cost a later re-inference, never a
    * stale schema. The memo keeps the [[MemoCapacity]] most recently
    * used file sets. A glob or a missing path goes straight to Spark's
    * reader and fails as it does.
    */
  def parquet(spark: SparkSession, paths: Seq[String],
              options: Map[String, String] = Map.empty): DataFrame = {
    val read = spark.read.options(options)
    val conf = spark.sparkContext.hadoopConfiguration
    val located = paths.map { path =>
      val p = new Path(path)
      (p.getFileSystem(conf), p)
    }
    if (paths.exists(_.exists("{}[]*?\\".contains(_))) ||
        located.exists { case (fs, p) => !fs.exists(p) })
      read.parquet(paths: _*)
    else {
      val key = (located.map { case (fs, p) => fs.makeQualified(p).toString }, options)
      val seen = digest(located.flatMap { case (fs, p) => dataFiles(fs, p) },
        InferenceConfs.map(spark.conf.getOption))
      memo.synchronized(Option(memo.get(key))) match {
        case Some((`seen`, schema)) => read.schema(schema).parquet(paths: _*)
        case _ =>
          val df = read.parquet(paths: _*)
          memo.synchronized(memo.put(key, (seen, df.schema)))
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

  /** How many file sets the schema memo keeps, least recently used
    * evicted first: about three times the 330 that `Explain
    * --build-jobs` touches building the whole registry twice. */
  private[graft] val MemoCapacity = 1024

  private type Key = (Seq[String], Map[String, String])

  private val memo = new java.util.LinkedHashMap[Key, (String, StructType)](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, (String, StructType)]): Boolean = size > MemoCapacity
  }

  /** SHA-256 of the listed data files and the inference confs, Base64. */
  private def digest(files: Seq[(String, Long, Long)], confs: Seq[Option[String]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update((s + "\u0000").getBytes("UTF-8"))
    files.foreach { case (f, len, mtime) => add(f); add(len.toString); add(mtime.toString) }
    confs.foreach(c => add(c.fold("-")("=" + _)))
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

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

  /** The vector corpus: [[embeddings]] minus the `vec_id` 0 row. That row
    * is the query vector of the ANN queries (`Registry.queryVec`), so it
    * is never indexed, searched or counted as a corpus row. Oracle SQL
    * states the same slice as `WHERE vec_id <> 0`.
    */
  def corpus(spark: SparkSession, sfDir: String): DataFrame =
    embeddings(spark, sfDir).filter(col("vec_id") =!= 0)
}
