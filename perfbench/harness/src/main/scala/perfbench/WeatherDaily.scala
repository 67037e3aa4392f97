package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ml.NextDayTemp
import graft.sinks.Publish
import graft.streaming.WeatherStream
import graft.weather.Weather

/** `weather_daily`: the paper's pipeline over seeded weather docs.
  *
  * 1. backfill: readRaw → flatten → publishPartitioned → latestPerCity →
  *    NextDayTemp.fit → predictNextDay;
  * 2. daily ticks: a day's files land in the stream's input directory
  *    (one directory rename), then WeatherStream.runOnce, a refit and a
  *    predict over the published history plus the stream's table;
  * 3. closed-loop Publish.serveJson requests for seeded cities, every
  *    fifth one for `All`.
  *
  * Every run does the same work: each generated tick day, then
  * [[WeatherDaily.Serves]] requests, whatever the run's `--seconds`.
  */
final class WeatherDaily(spark: SparkSession, a: Args, trace: Trace, c: Counters, res: Result) {
  private val src = s"${a.inputs}/weather"
  private val expect = Json.read(s"$src/expect.json")
  private val cities = expect.path("cities").elements().asScala.map(_.asText).toSeq
  private def days(phase: String) = expect.path(phase).elements().asScala.map(_.asText).toSeq
  private def day(date: String, city: String) = expect.path("days").path(date).path(city)

  /** StreamingQueryProgress per run id, in the order the runs started. */
  private val progress = mutable.LinkedHashMap[java.util.UUID, mutable.ArrayBuffer[Long]]()
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      progress.synchronized(progress.getOrElseUpdate(e.runId, mutable.ArrayBuffer()))
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer())
        += e.progress.numInputRows)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  private val timings = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private def timed[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try trace(layer)(body)
    finally timings.getOrElseUpdate(layer, mutable.ArrayBuffer()) += Stat.ms(t0)
  }
  private def grp[T](name: String)(body: => T): T =
    if (trace.on) c.withGroup(name)(body) else body

  /** Copy a day's docs next to the input directory. */
  private def stage(date: String, phase: String): Path = {
    val staged = Paths.get(s"${a.work}/landing/$date")
    Files.createDirectories(staged)
    Files.list(Paths.get(s"$src/$phase/$date")).iterator().asScala.foreach(f =>
      Files.copy(f, staged.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    staged
  }

  /** The day lands: one atomic rename makes all its docs visible at once. */
  private def land(staged: Path, raw: String): Unit = {
    Files.createDirectories(Paths.get(raw))
    Files.move(staged, Paths.get(raw).resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Step 1, the backfill over whatever days sit in `raw`. */
  private def backfill(raw: String, pub: String, db: String, last: String): Unit = {
    val flat = Weather.flatten(timed("weather.list")(Weather.readRaw(spark, raw)))
    timed("sinks.publish")(Publish.publishPartitioned(spark, flat, pub, db, "weather"))
    val published = spark.table(s"$db.weather")
    val latest = timed("weather.latest")(Weather.latestPerCity(spark, published)
      .select("city", "temp_c", "localtime_epoch").collect())
    checkLatest("latest", latest.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))), last)
    val fit = timed("ml.fit")(grp(s"fit|$db")(NextDayTemp.fit(published)))
    res.check(s"r2:$db", fit.r2Train >= WeatherDaily.R2Floor, s"r2Train ${fit.r2Train}")
    val preds = timed("ml.predict")(NextDayTemp.predictNextDay(spark, fit.model, published).collect())
    checkPredictions(s"predict:$db", preds.map(r => (r.getString(0), r.getTimestamp(2))), last)
  }

  private def checkLatest(what: String, got: Seq[(String, Double, Long)], date: String): Unit = {
    val want = cities.map(cc => (cc, day(date, cc).get(0).asDouble, day(date, cc).get(1).asLong))
    res.check(s"$what:$date", got.sortBy(_._1) == want.sortBy(_._1),
      s"got ${got.sortBy(_._1).take(3)}, want ${want.sortBy(_._1).take(3)}")
  }

  private def checkPredictions(what: String, got: Seq[(String, java.sql.Timestamp)],
                               date: String): Unit = {
    val want = cities.map(cc => cc -> (day(date, cc).get(1).asLong + 86400L) * 1000L).sorted
    res.check(what, got.map { case (cc, t) => cc -> t.getTime }.sorted == want,
      s"got ${got.sortBy(_._1).take(2)}, want ${want.take(2)}")
  }

  def run(): Unit = {
    // no warm pass: the daily job runs in a fresh JVM, so the backfill
    // is timed cold and set-up is the session alone
    res.setupS = (System.currentTimeMillis() - Main.jvmStartMs) / 1000.0

    val start = System.nanoTime()
    val raw = s"${a.work}/raw"
    val pub = s"${a.work}/published"
    val stream = s"${a.work}/stream"
    val incoming = s"${a.work}/incoming"
    days("backfill").foreach(d => land(stage(d, "backfill"), raw))
    val t0 = System.nanoTime()
    trace("phase:backfill")(backfill(raw, pub, "weather_db", days("backfill").last))
    res.op("backfill", Stat.ms(t0))
    val published = spark.table("weather_db.weather")
    checkPublished(published)

    var landed = days("backfill").last
    val tickGroups = mutable.ArrayBuffer[String]()
    days("ticks").zipWithIndex.foreach { case (d, k) =>
      val staged = stage(d, "ticks")
      val t1 = System.nanoTime()
      try trace("tick") {
        grp(s"tick|$k") {
          land(staged, incoming)
          timed("streaming.run_once")(
            WeatherStream.runOnce(spark, incoming, stream, filesPerBatch = cities.size))
          val flat = published.unionByName(spark.read.parquet(stream))
          val fit = timed("ml.fit")(NextDayTemp.fit(flat))
          val preds = timed("ml.predict")(NextDayTemp.predictNextDay(spark, fit.model, flat).collect())
          res.op("tick", Stat.ms(t1))
          checkPredictions(s"tick:$d", preds.map(r => (r.getString(0), r.getTimestamp(2))), d)
        }
      } catch { case scala.util.control.NonFatal(e) => res.attempted += 1; res.fail(s"tick:$d", e) }
      tickGroups += s"tick|$k"
      landed = d
    }

    // serving: a closed loop of a fixed number of requests
    val latestDf = Weather.latestPerCity(spark, published.unionByName(spark.read.parquet(stream)))
    val rnd = new scala.util.Random(a.seed)
    val served = mutable.ArrayBuffer[(String, Option[Boolean], Double)]()
    val serveGroups = mutable.ArrayBuffer[String]()
    (0 until WeatherDaily.Serves).foreach { n =>
      // every fifth request is `All`, so each run has the same mix
      val city = if (n % 5 == 4) "All" else cities(rnd.nextInt(cities.size))
      // a traced run leaves the first request (leftover warm-up) out of
      // the overhead comparison, then traces requests in the pattern
      // ABBA, so a steady drift weighs on both halves alike
      val half = if (n == 0) None else Some((n - 1) % 4 == 0 || (n - 1) % 4 == 3)
      val traced = trace.enabled && half.getOrElse(true)
      val t1 = System.nanoTime()
      def call(): String = trace("serve")(grp(s"serve|$n")(Publish.serveJson(latestDf, city)))
      try {
        val body = if (traced || !trace.enabled) call() else trace.without(call())
        val ms = Stat.ms(t1)
        val kind = if (city == "All") "serve_all" else "serve"
        res.op(kind, ms)
        served += ((kind, half, ms))
        if (traced) serveGroups += s"serve|$n"
        checkServed(body, city, landed)
      } catch { case scala.util.control.NonFatal(e) => res.attempted += 1; res.fail(s"serve:$city", e) }
    }
    res.workS = (System.nanoTime() - start) / 1e9

    res.spaceBytes = Fs.bytesUnder(pub)
    val plain = s"${a.work}/plain"
    published.coalesce(1).write.parquet(plain)
    res.plainBytes = Fs.bytesUnder(plain)
    if (trace.enabled) layers(raw, pub, tickGroups.toSeq, serveGroups.toSeq, served.toSeq)
  }

  /** The published table holds exactly the generated backfill docs. */
  private def checkPublished(published: DataFrame): Unit = {
    val got = published.selectExpr("city", "CAST(date AS STRING)", "temp_c", "localtime_epoch")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
    val want = for (d <- days("backfill"); cc <- cities)
      yield (cc, d, day(d, cc).get(0).asDouble, day(d, cc).get(1).asLong)
    val (g, w) = (got.sorted, want.sorted)
    res.check("published_rows", g == w,
      s"${g.size} rows, want ${w.size}; first difference ${g.diff(w).take(1)} / ${w.diff(g).take(1)}")
  }

  private def checkServed(body: String, city: String, date: String): Unit = {
    val recs = Json.parse(body).elements().asScala.toSeq
    val got = recs.map(r => (r.path("city").asText, r.path("temp_c").asDouble)).sorted
    val want = (if (city == "All") cities else Seq(city))
      .map(cc => cc -> day(date, cc).get(0).asDouble).sorted
    res.check(s"serve:$city", got == want, s"got ${got.take(2)}, want ${want.take(2)}")
  }

  private def layers(raw: String, pub: String, ticks: Seq[String], serves: Seq[String],
                     served: Seq[(String, Option[Boolean], Double)]): Unit = {
    c.drain()
    Thread.sleep(200) // streaming progress rides its own listener queue
    def med(k: String) = Stat.median(timings.getOrElse(k, mutable.ArrayBuffer()).toSeq)
    res.layers("weather.list_ms") = med("weather.list")
    res.layers("weather.latest_ms") = med("weather.latest")
    res.layers("weather.files") = Fs.filesUnder(raw, ".txt").toDouble
    res.layers("weather.docs") = Weather.readRaw(spark, raw).count().toDouble
    res.layers("sinks.publish_ms") = med("sinks.publish")
    res.layers("sinks.publish_files") = Fs.filesUnder(pub, ".parquet").toDouble
    res.layers("sinks.publish_bytes_per_input_byte") =
      Fs.bytesUnder(pub).toDouble / math.max(1L, Fs.bytesUnder(raw))
    res.layers("sinks.serve_ms") = Stat.median(served.filter(_._2.forall(identity)).map(_._3))
    res.layers("sinks.serve_jobs") = Stat.median(serves.map(g => Exec.of(c, g).jobs))
    // per request kind, traced over untraced median
    val ratios = served.filter(_._2.isDefined).groupBy(_._1).values.flatMap { xs =>
      val (on, off) = xs.partition(_._2.contains(true))
      if (on.isEmpty || off.isEmpty) None
      else Some(Stat.median(on.map(_._3)) / Stat.median(off.map(_._3)))
    }
    res.layers("trace.overhead_share") = Stat.median(ratios.toSeq) - 1
    res.layers("streaming.run_once_ms") = med("streaming.run_once")
    val tickRuns = progress.synchronized(progress.values.toSeq)
    val batches = tickRuns.map(_.count(_ > 0))
    res.layers("streaming.batches") = if (batches.isEmpty) 0.0 else batches.sum.toDouble / batches.size
    val rows = tickRuns.flatMap(_.filter(_ > 0))
    res.layers("streaming.rows_per_batch") = if (rows.isEmpty) 0.0 else rows.sum.toDouble / rows.size
    res.layers("ml.fit_ms") = med("ml.fit")
    res.layers("ml.fit_jobs") = Exec.of(c, "fit|weather_db").jobs
    res.layers("ml.predict_ms") = med("ml.predict")
    Exec.perOp(c, ticks ++ serves, res)
  }
}

object WeatherDaily {
  /** The training-split R² floor MlSpec holds the GBT to. */
  val R2Floor = 0.9

  /** Serving requests per run. */
  val Serves = 15
}
