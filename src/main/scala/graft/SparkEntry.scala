package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2 + LLM-pipeline
  * extensions), each entry paired with DuckDB oracle SQL in `oracleSql`
  * where the semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  /** Flagship query (reference weather_etl.py:145 — latest-per-key window)
    * on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.q02(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 +
    * LLM-pipeline extensions. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++ graft.queries.LlmOps.queries ++
      graft.queries.TextOps.queries ++ graft.multimodal.Multimodal.queries ++
      graft.queries.Bucketed.queries ++ graft.queries.Sessions.queries ++
      graft.queries.ZOrder.queries ++ graft.queries.Incremental.queries ++
      graft.queries.Clusters.queries ++ graft.queries.Scd.queries ++
      graft.queries.Txn.queries ++ graft.queries.Materialized.queries ++
      graft.queries.PageRank.queries ++ graft.ml.QualityFilter.queries

  /** Bench forms of some `queries` keys: the semantic plan without
    * determinism-only output sorts. The one union Bench, PlanSig (plan
    * snapshot, guard-rails) and Explain `--bench` all read. */
  val benchVariants: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.benchVariants ++ graft.queries.LlmOps.benchVariants ++
      graft.queries.TextOps.benchVariants ++ graft.queries.Sessions.benchVariants ++
      graft.queries.ZOrder.benchVariants ++ graft.queries.Txn.benchVariants ++
      graft.queries.Materialized.benchVariants ++ graft.multimodal.Multimodal.benchVariants ++
      graft.ml.QualityFilter.benchVariants

  /** The plan each query runs in the bench: its variant if it has one. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ benchVariants

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check). */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++ graft.queries.LlmOps.oracles ++
      graft.queries.TextOps.oracles ++ graft.multimodal.Multimodal.oracles ++
      graft.queries.Bucketed.oracles ++ graft.queries.Sessions.oracles ++
      graft.queries.ZOrder.oracles ++ graft.queries.Incremental.oracles ++
      graft.queries.Clusters.oracles ++ graft.queries.Scd.oracles ++
      graft.queries.Txn.oracles ++ graft.queries.Materialized.oracles ++
      graft.queries.PageRank.oracles ++ graft.ml.QualityFilter.oracles
}
