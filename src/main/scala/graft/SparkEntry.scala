package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The engine's public query contract — see SURVEY.md §7.
  *
  * [[registry]] is every operator exposed by the engine, one
  * [[QuerySpec]] per query; each family object next to the code it
  * exercises (graft.queries.*) lists its own. The maps below are views of
  * it under the names Verify, Bench and tools/benchgate.py read.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** All registered queries; a duplicate name fails here. */
  lazy val registry: Seq[QuerySpec] = QuerySpec.registry(
    CoreQueries.specs ++ Scd2Queries.specs ++ ExtQueries.specs ++
      ScaleQueries.specs ++ PipelineQueries.specs ++ PollQueries.specs ++
      QualityQueries.specs)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, with identical column names/aliases. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** Untimed per-query bench setups (see [[QuerySpec]]). */
  lazy val benchSetup: Map[String, (SparkSession, String) => Unit] =
    registry.flatMap(q => q.setup.map(q.name -> _)).toMap

  /** Draw-bounded queries (query → counter name) and the counters that
    * measure the current draw (see [[Counter]]). */
  lazy val pairBounded: Map[String, String] =
    registry.flatMap(q => q.counter.map(q.name -> _.name)).toMap

  lazy val pairCounters: Map[String, (SparkSession, String) => Long] =
    registry.flatMap(_.counter).map(c => c.name -> c.count).toMap
}
