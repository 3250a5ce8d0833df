package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.ops.{Cleaning, Dedup, PivotAgg, Thresholds}
import graft.schema.Schemas

/** The reference's batch ETL, re-expressed as ONE lazy Spark plan
  * (SURVEY §3.1; `usda_branded_food_data_pipeline.py:131-163`).
  *
  * Each `clean*` step is a pure DataFrame => DataFrame; composition
  * builds a single logical plan and the only action is the caller's
  * write/collect. Catalyst then gets the whole pipeline to optimize:
  * column pruning reaches the CSV scans, the nutrient dim join is
  * broadcast, and the threshold/round cleanup collapses into one
  * projection.
  *
  * Deliberate divergences from pandas (SURVEY §7.4): null serving size
  * does NOT become the literal string "nan" (the row is dropped — a
  * data-quality improvement), and CSV quoting is Spark-minimal.
  */
object FoodPipeline {

  val keyCols: Seq[String] = Seq("FOOD_RECORD_ID", "FOOD_ID", "FOOD_NAME",
    "FOOD_SERVING_SIZE", "FOOD_INGREDIENTS")

  /** `clean_branded_food` (`:67-80`): latest-record-per-UPC dedup, project
    * +rename, string normalize, serving-size coercion + unit concat.
    */
  def cleanBranded(brandedFood: DataFrame): DataFrame = {
    val deduped = Dedup.latestPerKeyAgg(brandedFood, Seq("gtin_upc"),
      Seq(col("fdc_id")))
    val projected = Cleaning.projectRename(deduped, Seq(
      "fdc_id" -> "FOOD_RECORD_ID",
      "gtin_upc" -> "FOOD_ID",
      "ingredients" -> "FOOD_INGREDIENTS",
      "serving_size" -> "serving_size",
      "serving_size_unit" -> "serving_size_unit"))
    val coerced = Cleaning.castCoerceDouble(
      Cleaning.normalizeStrings(projected), "serving_size")
    Cleaning.concatWithSep(coerced, "FOOD_SERVING_SIZE", "serving_size",
        "serving_size_unit")
      .drop("serving_size", "serving_size_unit")
  }

  /** `clean_food` (`:82-85`): rename, normalize, keep only branded ids
    * (left-semi).
    */
  def cleanFood(food: DataFrame, branded: DataFrame): DataFrame = {
    val projected = food.select(
      col("fdc_id").as("FOOD_RECORD_ID"),
      col("description").as("FOOD_NAME"))
    Cleaning.normalizeStrings(projected)
      .join(branded.select("FOOD_RECORD_ID"), Seq("FOOD_RECORD_ID"), "left_semi")
  }

  /** `clean_nutrient` (`:87-92`): display label `"NAME (UNIT)"`. */
  def cleanNutrient(nutrient: DataFrame): DataFrame = {
    Cleaning.normalizeStrings(
      nutrient.select(col("id").as("NUTRIENT_ID"), col("name"), col("unit_name")))
      .select(col("NUTRIENT_ID"),
        Cleaning.parenLabel(col("name"), col("unit_name")).as("NUTRIENT_LABEL"))
  }

  /** `clean_food_nutrient` + pivot (`:94-106`): semi-join to branded ids
    * BEFORE the aggregate (the reference's manual pushdown, SURVEY §4.1 —
    * Catalyst won't push a join through this aggregate shape, so the
    * composition keeps the same structural order), broadcast the nutrient
    * dim to label rows BEFORE pivoting (J5 option (a)), then fused
    * group-avg + pivot with explicit values.
    *
    * `pivotLabels` is the one driver-side metadata step: the sorted label
    * set collected from the (tiny) nutrient dim.
    */
  def pivotNutrients(foodNutrient: DataFrame, branded: DataFrame,
                     nutrientDim: DataFrame, pivotLabels: Seq[String]): DataFrame = {
    foodNutrient.select(
        col("fdc_id").as("FOOD_RECORD_ID"),
        col("nutrient_id").as("NUTRIENT_ID"),
        col("amount").as("NUTRIENT_QUANTITY"))
      .join(branded.select("FOOD_RECORD_ID"), Seq("FOOD_RECORD_ID"), "left_semi")
      .join(broadcast(nutrientDim), Seq("NUTRIENT_ID"))
      .transform(PivotAgg.pivotAvg(_, "FOOD_RECORD_ID", "NUTRIENT_LABEL",
        "NUTRIENT_QUANTITY", pivotLabels))
  }

  /** `merge_dataframes` + cleanup + export shape (`:108-129,152-160`). */
  def merge(branded: DataFrame, food: DataFrame, pivoted: DataFrame): DataFrame = {
    val joined = branded
      .join(food, Seq("FOOD_RECORD_ID"), "inner")
      .join(pivoted, Seq("FOOD_RECORD_ID"), "inner")
    val cleaned = Thresholds(
      Cleaning.dropNullRows(joined, Seq("FOOD_INGREDIENTS")), keyCols)
    val filtered = Cleaning.dropNullRows(
      Cleaning.filterNotContains(cleaned, "FOOD_SERVING_SIZE", "IU"),
      Seq("FOOD_SERVING_SIZE"))
    PivotAgg.reorderColumns(
        filtered.withColumn("FOOD_RECORD_ID",
          col("FOOD_RECORD_ID").cast(StringType)),
        keyCols)
      .orderBy(col("FOOD_RECORD_ID"))
  }

  /** S5-shaped CSV sink (header, minimal quoting — SURVEY §7.4: byte-level
    * QUOTE_NONNUMERIC fidelity is a non-goal).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** End-to-end: 4 CSV scans → one lazy wide DataFrame. */
  def run(spark: SparkSession, inputDir: String): DataFrame = {
    def read(name: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).option("header", "true").csv(s"$inputDir/$name.csv")
    val branded = cleanBranded(read("branded_food", Schemas.brandedFood))
    val food = cleanFood(read("food", Schemas.food), branded)
    val nutrientDim = cleanNutrient(read("nutrient", Schemas.nutrient))
    // driver-side metadata step: pivot labels from the tiny dim table
    val labels = nutrientDim.select("NUTRIENT_LABEL").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val pivoted = pivotNutrients(read("food_nutrient", Schemas.foodNutrient),
      branded, nutrientDim, labels)
    merge(branded, food, pivoted)
  }
}
