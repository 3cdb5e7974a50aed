package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{ApiQueries, GenQueries, LlmQueries, SpecOracles, TableQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator (SURVEY.md §2 plus the
  * LLM-pipeline operators) to a DataFrame builder over the driver's test
  * tables; `oracleSql` holds the DuckDB-equivalent SQL the driver replays:
  * genuine recomputation for everything DuckDB can express
  * (TableQueries/LlmQueries.oracles) and handwritten spec-derived oracles
  * where the expected output is analytically computable from the column
  * specs (SpecOracles). No oracle is a constant captured from an engine
  * run.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TableQueries.queries("q_agg_groupby")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    TableQueries.queries ++ GenQueries.all ++ LlmQueries.queries ++ ApiQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    SpecOracles.map ++ TableQueries.oracles ++ LlmQueries.oracles
}
