package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sinks + catalog (reference weather_etl.py:91-109, app/app.py:17-28):
  * K1 raw JSON text sink, K4 partitioned parquet publish + catalog
  * registration, K5 database get-or-create, K6 JSON-records serving.
  *
  * Deliberate semantic upgrade over the reference (SURVEY.md §7.4.6):
  * ONE `partitionBy("date")` table instead of a table-per-day naming
  * scheme (weather_etl.py:105) — date predicates prune partitions via the
  * catalog instead of clients assembling table names; overwrite mode
  * keeps the daily rerun idempotent (§2.12).
  */
object Publish {

  /** K1: raw-zone JSON text sink (the per-file `data/{date}/{city}.txt`
    * writes of weather_etl.py:38-40, as one distributed write). */
  def rawJson(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** Caller-supplied names are interpolated into SQL / catalog calls:
    * restrict to plain identifiers so a backtick or semicolon can't
    * break out (defense in depth — these come from config, not users). */
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private def requireIdent(kind: String, name: String): Unit =
    require(Ident.matches(name), s"invalid $kind identifier: '$name'")

  /** REBALANCE(date): route each date's rows to the same write task(s).
    * With AQE on, small dates coalesce into one file each and a skewed
    * date splits into advisory-sized files; with AQE off it is a plain
    * hash-by-date shuffle, one task (and file) per date. */
  def byDate(df: DataFrame): DataFrame = df.hint("rebalance", col("date"))

  /** K5 + K4: get-or-create the database, then publish as a single
    * date-partitioned parquet table registered in the catalog, with its
    * size: until analyzed, a partitioned catalog table plans as
    * `spark.sql.defaultSizeInBytes` (8 EB), so size-driven readers such
    * as [[graft.ml.NextDayTemp.fit]] could not right-size against it.
    * NOSCAN takes the size from a file listing, reading no rows. */
  def publishPartitioned(spark: SparkSession, df: DataFrame,
                         path: String, db: String, table: String): Unit = {
    requireIdent("database", db)
    requireIdent("table", table)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    byDate(df).write.mode("overwrite")
      .partitionBy("date")
      .option("path", path)
      .format("parquet")
      .saveAsTable(s"$db.$table")
    spark.sql(s"ANALYZE TABLE $db.$table COMPUTE STATISTICS NOSCAN")
  }

  /** K6 + F2: the serving path (app/app.py:25-28) — equality filter (or
    * the 'All' bypass) + JSON records. The collect here is the HTTP
    * response materialization: post-filter, bounded by construction
    * (one row per city); everything upstream stays distributed. */
  def serveJson(df: DataFrame, city: String): String = {
    val filtered = if (city == "All") df else df.filter(col("city") === city)
    filtered.toJSON.collect().mkString("[", ",", "]")
  }
}
