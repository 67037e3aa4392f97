package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.Publish
import graft.weather.Weather

/** Round-trip tests for the sink/catalog surface: write → read back →
  * identical data, through both the path and the catalog table. */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val flat =
    Weather.flatten(Weather.readRaw(spark, getClass.getResource("/weather").getPath))

  private def key(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double)] =
    df.select("city", "date", "temp_c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  test("K4/K5 partitioned publish + catalog registration round-trips") {
    val dir = Files.createTempDirectory("graft_publish").toString
    Publish.publishPartitioned(spark, flat, s"$dir/weather", "weather_db", "weather_flat")
    // catalog read
    val viaTable = spark.table("weather_db.weather_flat")
    assert(viaTable.count() === 27)
    assert(key(viaTable) === key(flat))
    // path read: one directory per date partition
    val viaPath = spark.read.parquet(s"$dir/weather")
    assert(viaPath.count() === 27)
    val dates = new java.io.File(s"$dir/weather").listFiles().filter(_.getName.startsWith("date="))
    assert(dates.length === 3)
    // REBALANCE(date): one data file per date, and the catalog carries
    // the table's size (the bytes of those files)
    val data = dates.map { d =>
      val files = d.listFiles().filter(_.getName.startsWith("part-"))
      assert(files.length === 1, s"${d.getName}: ${files.map(_.getName).mkString(", ")}")
      files.head
    }
    assert(viaTable.queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(data.map(_.length).sum))
    // partition pruning: a date predicate reads a single partition
    val pruned = viaTable.filter("date = '2023-08-11'")
    assert(pruned.count() === 9)
    // idempotent rerun (the reference's daily overwrite, §2.12)
    Publish.publishPartitioned(spark, flat, s"$dir/weather", "weather_db", "weather_flat")
    assert(spark.table("weather_db.weather_flat").count() === 27)
  }

  test("publishPartitioned rejects non-identifier db/table names") {
    val dir = Files.createTempDirectory("graft_badname").toString
    Seq("bad;db" -> "t", "bad`db" -> "t", "db" -> "t;DROP TABLE x", "db" -> "").foreach {
      case (db, table) =>
        intercept[IllegalArgumentException] {
          Publish.publishPartitioned(spark, flat, s"$dir/w", db, table)
        }
    }
  }

  test("K1 raw JSON sink round-trips") {
    val dir = Files.createTempDirectory("graft_rawjson").toString
    Publish.rawJson(flat.select("city", "date", "temp_c"), s"$dir/raw")
    val back = spark.read.json(s"$dir/raw")
    assert(back.count() === 27)
    assert(key(back) === key(flat))
  }

  test("K6 serveJson returns filtered JSON records with an All bypass") {
    val latest = Weather.latestPerCity(spark, flat)
    val one = Publish.serveJson(latest, "London")
    assert(one.startsWith("[") && one.endsWith("]"))
    assert(one.contains("\"city\":\"London\"") && one.contains("\"temp_c\":17.0"))
    assert(!one.contains("Paris"))
    val all = Publish.serveJson(latest, "All")
    assert(Seq("London", "Paris", "Tokyo").forall(all.contains))
  }
}
