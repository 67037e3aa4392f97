package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.NextDayTemp
import graft.weather.Weather

/** Semantic verification of the ML pipeline (SURVEY.md §7.4.2): split
  * sizes, R² floor on the training split, and the next-day prediction
  * shape. Predictions are not compared value-for-value with the
  * reference's XGBoost (different trees by construction). */
class MlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val flat =
    Weather.flatten(Weather.readRaw(spark, getClass.getResource("/weather").getPath))

  private lazy val fit = NextDayTemp.fit(flat)

  test("M1 randomSplit partitions the 27 rows ~0.9/0.1") {
    assert(fit.nTrain + fit.nTest === 27)
    assert(fit.nTrain >= 20, s"train split too small: ${fit.nTrain}")
  }

  test("M2/M4 GBT fit reaches the R² floor on the training split") {
    assert(fit.r2Train >= 0.9, s"r2Train=${fit.r2Train}")
  }

  test("P10 abs-error column: non-negative, finite, |label - prediction|") {
    val scored = NextDayTemp.withAbsError(fit.model.transform(flat))
    val rows = scored.select("temp_c", "prediction", "abs_error").collect()
    assert(rows.length === 27)
    rows.foreach { r =>
      val (y, p, e) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(!e.isNaN && e >= 0.0)
      assert(e === math.abs(y - p))
    }
    // the R² floor implies small errors on the training-dominant frame
    assert(rows.map(_.getDouble(2)).max < 10.0)
  }

  test("fit releases its persisted input and is repeatable on the same frame") {
    val sc = spark.sparkContext
    // a plan no other test fits: an input cached by an earlier fit of the
    // same plan would be reused, hiding a leak from the id check below
    val frame = flat.where(org.apache.spark.sql.functions.col("city").isNotNull)
    val persisted = sc.getPersistentRDDs.keySet.toSet
    val stored = sc.getRDDStorageInfo.map(_.id).toSet
    val Seq(a, b) = Seq.fill(2)(NextDayTemp.fit(frame))
    // ids, not counts: the context cleaner may drop an earlier suite's
    // unreachable RDD meanwhile, but nothing the fit persisted may stay
    assert(sc.getPersistentRDDs.keySet.toSet.subsetOf(persisted))
    assert(sc.getRDDStorageInfo.map(_.id).toSet.subsetOf(stored))
    assert(a.nTrain + a.nTest === 27)
    assert((a.nTrain, a.nTest, a.r2Train) === ((b.nTrain, b.nTest, b.r2Train)))
  }

  test("fit reads a published table as one partition per maxPartitionBytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ml_pub").toString
    graft.sinks.Publish.publishPartitioned(spark, flat, s"$dir/w", "ml_db", "weather")
    val published = spark.table("ml_db.weather")
    assert(published.rdd.getNumPartitions > 1)
    assert(NextDayTemp.fitPartitions(published) === 1)
    assert(NextDayTemp.fitPartitions(flat) === 1)
  }

  test("M3/M5 next-day prediction: one finite row per city, shifted +86400s") {
    val preds = NextDayTemp.predictNextDay(spark, fit.model, flat)
    val rows = preds.collect()
    assert(rows.length === 9)
    assert(rows.map(_.getAs[String]("city")).distinct.length === 9)
    assert(rows.forall(r => !r.getAs[Double]("predicted_temp_c").isNaN))
    // every at_ts is exactly one day after the city's latest observation
    val latestEpochs = Weather.latestPerCity(spark, flat)
      .select("city", "localtime_epoch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    preds.select("city", "at_ts").collect().foreach { r =>
      val expected = latestEpochs(r.getString(0)) + 86400L
      assert(r.getTimestamp(1).getTime / 1000 === expected)
    }
  }
}
