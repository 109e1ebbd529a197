package graft

import graft.ops.{AnalyticsQueries, BootQueries, LlmQueries, PackingQueries, PipelineQueries, PreferenceQueries, RelationalQueries, ReportQueries, StatsQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query registries live under graft.ops / graft.llm; this object only
  * merges them.
  */
object SparkEntry {

  // lazy val: the seven-map merge over 260+ entries runs once, not per
  // queries/oracleSql access (Explain calls queries in a loop)
  private lazy val registry: Map[String, ops.Q] =
    RelationalQueries.all ++ LlmQueries.all ++ ReportQueries.all ++
      PipelineQueries.all ++ AnalyticsQueries.all ++ PreferenceQueries.all ++
      PackingQueries.all ++ StatsQueries.all ++ BootQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A representative multi-operator pipeline: scan → broadcast dim joins
    * → filter → conditional agg → top-k.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val t = core.Tables(spark, dir)
    val cust = t.customer.join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
    t.orders
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderstatus") =!= "P")
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("n_orders").desc, col("n_name"))
      .limit(10)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] =
    registry.map { case (k, q) => k -> q.oracle }
}
