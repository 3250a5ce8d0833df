package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the schema memo behind [[Tables.load]] and [[Tables.parquet]]: a
  * remembered schema equals what Spark's inference returns today, a
  * repeated load runs no job, and any change inference would see — the
  * files, an inference conf — resolves the schema again.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val sfs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  /** Spark's own read of a table, with the events normalization written
    * out independently of [[Tables.load]]. */
  private def inferred(sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def withTempDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables")
    try body(dir.toString) finally ops.Staging.deleteRecursively(dir)
  }

  test("a remembered schema equals fresh inference for every table at every SF") {
    for (sf <- sfs; name <- Tables.all) {
      Tables.load(spark, sf, name)
      val second = Tables.load(spark, sf, name)
      val fresh = inferred(sf, name)
      assert(second.schema == fresh.schema, s"$sf/$name")
      if (sf.endsWith("sf0.001"))
        assert(rows(second) == rows(fresh), s"$sf/$name rows")
    }
  }

  test("a second load of a table starts no Spark job") {
    val sf = sfs.head
    Tables.all.foreach(Tables.load(spark, sf, _))
    for (name <- Tables.all)
      assert(jobsStarted(Tables.load(spark, sf, name)) == 0, name)
  }

  test("a file rewritten at the same path with another schema is inferred again") {
    withTempDir { dir =>
      val path = s"$dir/t"
      Seq((1L, "a"), (2L, "b")).toDF("id", "s")
        .write.mode("overwrite").parquet(path)
      assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("id", "s"))
      Seq((3, 1.5, true)).toDF("k", "x", "flag")
        .write.mode("overwrite").parquet(path)
      val again = Tables.parquet(spark, path)
      assert(again.schema == spark.read.parquet(path).schema)
      assert(rows(again) == Seq("[3,1.5,true]"))
    }
  }

  test("a changed spark.sql.parquet.binaryAsString resolves the schema again") {
    withTempDir { dir =>
      // a plain parquet writer: inference prefers the Spark schema a
      // Spark-written footer carries, and that ignores the conf
      val path = s"$dir/bin"
      val plain = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { required int32 id; required binary b; }")
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$path/part-0.parquet"))
        .withType(plain).withConf(spark.sparkContext.hadoopConfiguration).build()
      try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(plain)
        .newGroup().append("id", 1).append("b", "ab"))
      finally writer.close()
      withConf("spark.sql.parquet.binaryAsString", "false") {
        assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
        assert(Tables.parquet(spark, path).schema("b").dataType == BinaryType)
      }
      withConf("spark.sql.parquet.binaryAsString", "true") {
        val asString = Tables.parquet(spark, path)
        assert(asString.schema("b").dataType == StringType)
        assert(rows(asString) == Seq("[1,ab]"))
      }
    }
  }

  test("a partitioned directory keeps its column order, partition types and PartitionFilters") {
    withTempDir { dir =>
      val path = s"$dir/parted"
      Seq((1L, "x", 3, "2024-01-02"), (2L, "y", 5, "2024-01-03"),
          (3L, "z", 3, "2024-01-03")).toDF("id", "s", "cell", "day")
        .write.partitionBy("cell", "day").parquet(path)
      Tables.parquet(spark, path)
      assert(jobsStarted(Tables.parquet(spark, path)) == 0)
      val second = Tables.parquet(spark, path)
      val fresh = spark.read.parquet(path)
      assert(second.schema == fresh.schema)
      assert(second.schema.fieldNames.toSeq == Seq("id", "s", "cell", "day"))
      assert(second.schema("cell").dataType == IntegerType)
      assert(second.schema("day").dataType == DateType)
      val pruned = second.filter(col("cell") === 3)
      val pf = pruned.queryExecution.executedPlan.toString
        .linesIterator.filter(_.contains("PartitionFilters:")).toSeq
      assert(pf.exists(_.contains("cell")), pf)
      assert(rows(pruned) == rows(fresh.filter(col("cell") === 3)))
      withConf("spark.sql.sources.partitionColumnTypeInference.enabled", "false") {
        assert(Tables.parquet(spark, path).schema("cell").dataType == StringType)
      }
    }
  }

  test("a file set evicted past the memo's capacity is inferred again") {
    withTempDir { dir =>
      spark.range(0, 11, 1, 11).toDF("v").write.parquet(s"$dir/t")
      val files = new java.io.File(s"$dir/t").listFiles().map(_.getPath)
        .filter(_.endsWith(".parquet")).sorted.toSeq
      assert(files.length == 11)
      // every non-empty subset of the eleven files is its own file set
      def subset(mask: Int): Seq[String] = files.indices.filter(i => (mask >> i & 1) == 1).map(files)
      val first = subset(1)
      Tables.parquet(spark, first)
      assert(jobsStarted(Tables.parquet(spark, first)) == 0)
      (2 to Tables.MemoCapacity + 1).foreach(m => Tables.parquet(spark, subset(m)))
      var again: DataFrame = null
      assert(jobsStarted { again = Tables.parquet(spark, first) } > 0)
      assert(again.schema == spark.read.parquet(first: _*).schema)
      assert(rows(again) == Seq("[0]"))
    }
  }

  test("a missing path and a glob fail exactly as spark.read.parquet does") {
    withTempDir { dir =>
      def failure(read: String => DataFrame, path: String): (Class[_], String) = {
        val e = intercept[AnalysisException](read(path))
        (e.getClass, e.getMessage)
      }
      for (path <- Seq(s"$dir/missing", s"$dir/nothing_*")) {
        assert(failure(Tables.parquet(spark, _), path) ==
          failure(spark.read.parquet(_), path), path)
      }
      // a glob that matches is Spark's reader too
      Seq(1, 2).toDF("v").write.parquet(s"$dir/g")
      val glob = s"$dir/g/part-*"
      assert(rows(Tables.parquet(spark, glob)) == rows(spark.read.parquet(glob)))
    }
  }
}
