package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.weather.Weather

/** The reference's ML half (weather_etl.py:110-172), MLlib-first:
  * M1 randomSplit(0.9/0.1, seed 365) ~ train_test_split(random_state=365)
  * M2 GBTRegressor ~ XGBRegressor (same model family; different trees, so
  *    equivalence is semantic — R² floor — not prediction-identical,
  *    SURVEY.md §7.4.2)
  * M3 model.transform ~ model.predict
  * M4 RegressionEvaluator("r2") ~ model.score
  * M5 latest-per-city + localtime_epoch + 86400 ~ next-day feature shift
  *    (weather_etl.py:159)
  *
  * The categorical encode (reference city_map, weather_etl.py:112-122) is
  * a StringIndexer stage — P5's ML-pipeline form — so the fitted model
  * carries its own dictionary instead of a hand-maintained map.
  *
  * Everything is a Pipeline over DataFrames: at scale, fit/transform
  * distribute over executors; nothing here collects feature data to the
  * driver.
  */
object NextDayTemp {

  val labelCol = "temp_c"

  /** All numeric columns except the label (the reference keeps every
    * numeric feature including temp_f, weather_etl.py:111). */
  def featureCols(flat: DataFrame): Array[String] =
    flat.schema.fields
      .filter(f => f.dataType.isInstanceOf[NumericType] && f.name != labelCol)
      .map(_.name)

  def pipeline(flat: DataFrame): Pipeline = {
    val indexer = new StringIndexer()
      .setInputCol("city").setOutputCol("city_idx").setHandleInvalid("keep")
    val assembler = new VectorAssembler()
      .setInputCols(featureCols(flat) :+ "city_idx").setOutputCol("features")
    val gbt = new GBTRegressor()
      .setLabelCol(labelCol).setFeaturesCol("features")
      .setMaxIter(20).setMaxDepth(3).setSeed(365)
    new Pipeline().setStages(Array(indexer, assembler, gbt))
  }

  final case class Fit(model: PipelineModel, r2Train: Double, r2Test: Double,
                       nTrain: Long, nTest: Long)

  /** Partitions the fit's input needs: one per
    * `spark.sql.files.maxPartitionBytes` of the optimized plan's size
    * estimate, at least one. Small files scan as about one split each,
    * so without this every one of the GBT's jobs runs a task per file
    * however few rows there are. `coalesce` never raises a
    * count, so the input's own partition count stays the upper bound. */
  private[graft] def fitPartitions(flat: DataFrame): Int = {
    val size = flat.queryExecution.optimizedPlan.stats.sizeInBytes
    val split = BigInt(flat.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    ((size + split - 1) / split).max(1).min(Int.MaxValue).toInt
  }

  /** M1+M2+M4: split, fit, score. R² is computed on both splits; on tiny
    * data the test split is a handful of rows, so callers should gate on
    * r2Train (the reference's own score is over 3 rows and just as
    * unstable, weather_etl.py:129).
    *
    * The input is coalesced to [[fitPartitions]] and persisted for the
    * whole fit — split, indexer, GBT, both evaluations and the counts
    * read it instead of rescanning the source — then released. */
  def fit(flat: DataFrame): Fit = {
    val input = flat.coalesce(fitPartitions(flat)).persist()
    try {
      val Array(train, test) = input.randomSplit(Array(0.9, 0.1), seed = 365)
      val model = pipeline(input).fit(train)
      val eval = new RegressionEvaluator()
        .setLabelCol(labelCol).setPredictionCol("prediction").setMetricName("r2")
      Fit(model,
        r2Train = eval.evaluate(model.transform(train)),
        r2Test = if (test.isEmpty) Double.NaN else eval.evaluate(model.transform(test)),
        nTrain = train.count(), nTest = test.count())
    } finally input.unpersist()
  }

  /** P10: per-row absolute prediction error (the reference's
    * abs(y_test - predictions) error column, weather_etl.py:135) over a
    * scored frame — a pure projection, no shuffle. */
  def withAbsError(scored: DataFrame): DataFrame =
    scored.withColumn("abs_error", abs(col(labelCol) - col("prediction")))

  /** M5+M3: latest row per city, epoch shifted one day forward, scored.
    * Returns (city, predicted temp, prediction timestamp). */
  def predictNextDay(spark: SparkSession, model: PipelineModel,
                     flat: DataFrame): DataFrame = {
    val latest = Weather.latestPerCity(spark, flat)
    val shifted = latest.withColumn("localtime_epoch", col("localtime_epoch") + 86400L)
    model.transform(shifted)
      .select(col("city"),
        col("prediction").as("predicted_temp_c"),
        timestamp_seconds(col("localtime_epoch")).as("at_ts"))
      .orderBy(col("city"))
  }
}
