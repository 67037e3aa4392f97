package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.Publish
import graft.weather.Weather

/** §2.12: the reference's incremental semantics — Airflow `@daily` over
  * `data/{date}/` directories (reference airflow/dags/weather_data_dag.py:
  * 24-25) — as a Structured Streaming file source.
  *
  * The reference has no streaming engine; its "stream" is a calendar of
  * directory-partitioned daily batches with overwrite-idempotent reruns.
  * The faithful Spark mapping is therefore NOT a long-running stateful
  * stream but `Trigger.AvailableNow`: drain every file visible now in
  * bounded micro-batches, exactly-once via the checkpoint, then stop —
  * i.e. each scheduler tick IS one run of this stream. Late files landing
  * in an old `data/{date}/` dir are picked up by the next tick and
  * idempotently rewrite just that date's partition (dynamic partition
  * overwrite), matching the reference's rerun-a-day semantics.
  *
  * At scale: the file source lists incrementally (maxFilesPerTrigger
  * bounds a micro-batch), flatten is a pure projection, and the sink
  * writes `partitionBy(date)` so each batch touches only the date
  * partitions it contains — no global state. The one shuffle is the
  * sink's REBALANCE(date) ([[graft.sinks.Publish.byDate]]), which
  * leaves one file per date per batch instead of one per task.
  */
object WeatherStream {

  /** One scheduler tick: stream all currently-available raw weather docs
    * into the date-partitioned parquet layout at `outPath`. Blocks until
    * the AvailableNow drain completes. */
  def runOnce(spark: SparkSession, dataDir: String, outPath: String,
              filesPerBatch: Int = 9): Unit = {
    val raw = spark.readStream
      .schema(Weather.weatherSchema)
      .option("maxFilesPerTrigger", filesPerBatch)
      .json(s"$dataDir/*/*.txt")
      .withColumn("date",
        regexp_extract(input_file_name(), "/(\\d{4}-\\d{2}-\\d{2})/[^/]*$", 1))
    val flat = Weather.flatten(raw)
    val query = flat.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$outPath/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        publishBatch(batch, outPath)
      }
      .start()
    query.awaitTermination()
  }

  /** Idempotent per-batch publish: overwrite exactly the date partitions
    * present in this batch (dynamic partition overwrite), leaving every
    * other date untouched — a replayed batch rewrites the same bytes. */
  private[streaming] def publishBatch(batch: DataFrame, outPath: String): Unit = {
    batch.sparkSession.conf
      .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    Publish.byDate(batch).write.mode("overwrite").partitionBy("date").parquet(outPath)
  }
}
