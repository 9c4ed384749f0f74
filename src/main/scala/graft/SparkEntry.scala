package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the line-by-line implementation of the SURVEY.md §2
  * operator inventory; `oracleSql` carries the DuckDB-equivalent SQL for
  * every oracle-checkable key (side-effecting / approximate / streaming
  * keys are scalatest-verified instead).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_groupby")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each route
    * first installs whatever [[graft.functions.Kernels]] the session lacks,
    * so every key runs on a session built without `spark.sql.extensions`. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    (graft.queries.Rel.queries ++
      graft.queries.Geo.queries ++
      graft.queries.Aggs.queries ++
      graft.queries.Wins.queries ++
      graft.queries.Scalars.queries ++
      graft.queries.SideEffects.queries ++
      graft.queries.Llm.queries ++
      graft.queries.Graph.queries ++
      graft.streaming.Streams.queries).map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => { graft.functions.Kernels.ensure(s); f(s, d) })
    }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get the driver's rows-only check.
    */
  def oracleSql: Map[String, String] =
    graft.queries.Rel.oracles ++
      graft.queries.Geo.oracles ++
      graft.queries.Aggs.oracles ++
      graft.queries.Wins.oracles ++
      graft.queries.Scalars.oracles ++
      graft.queries.SideEffects.oracles ++
      graft.queries.Llm.oracles ++
      graft.queries.Graph.oracles ++
      graft.streaming.Streams.oracles
}
