package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.WeatherStream
import graft.weather.Weather

/** §2.12 Structured Streaming analog: the AvailableNow drain over the
  * 27 weather fixtures must land exactly the batch pipeline's table in
  * the date-partitioned layout, and a rerun must be a no-op (checkpoint
  * + dynamic partition overwrite = idempotent daily ticks). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val dataDir = getClass.getResource("/weather").getPath

  test("AvailableNow stream publishes the same table as the batch path, idempotently") {
    val out = Files.createTempDirectory("weather_stream_").toString
    WeatherStream.runOnce(spark, dataDir, out)

    // partition-column inference would read date as DATE; compare as string
    val streamed = spark.read.parquet(out)
      .withColumn("date", col("date").cast("string"))
    assert(streamed.count() === 27)
    assert(streamed.select("date").distinct().count() === 3)
    // the sink's REBALANCE(date) leaves one data file per date
    new java.io.File(out).listFiles().filter(_.getName.startsWith("date=")).foreach { d =>
      val data = d.listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(data.length === 1, s"${d.getName}: ${data.mkString(", ")}")
    }

    val batch = Weather.flatten(Weather.readRaw(spark, dataDir))
    val key = Seq("city", "date", "localtime_epoch", "temp_c")
    assert(streamed.select(key.map(col): _*).except(batch.select(key.map(col): _*)).isEmpty)
    assert(batch.select(key.map(col): _*).except(streamed.select(key.map(col): _*)).isEmpty)
    // full column surface survives the stream (31 data cols + date)
    assert(streamed.columns.sorted.toSeq === batch.columns.sorted.toSeq)

    // second tick: checkpoint says everything is processed -> no-op
    WeatherStream.runOnce(spark, dataDir, out)
    assert(spark.read.parquet(out).count() === 27)
  }
}
