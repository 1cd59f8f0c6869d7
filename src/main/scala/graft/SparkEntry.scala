package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY.md §7). Every op needs a session from
  * [[GraftSession.local]], or one built with
  * `spark.sql.extensions=graft.plans.GraftExtensions`: the ops call
  * graft's native functions without registering them. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.queries("q9_daily_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Registry.oracleSql
}
