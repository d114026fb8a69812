package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kql.Kql._
import graft.queries.{KqlTextQueries, NorthStarQueries, Queries, QueryDef}
import graft.sources.Tables

/** Driver contract — see SURVEY.md §7 and the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY.md §2 (KQL tabular surface +
  * north-star LLM-pipeline operators); `oracleSql` carries the DuckDB-equivalent ANSI
  * SQL for every oracle-checkable entry. Column names are aligned between the two by
  * construction and all oracle queries are totally ordered.
  */
object SparkEntry {

  private lazy val all: Seq[QueryDef] =
    Queries.defs ++ NorthStarQueries.defs ++ KqlTextQueries.defs

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the canonical meerkat
    * shape — events, time filter, merge-dedup on the (_ts, _dedup)-equivalent key,
    * then bin()-bucketed aggregation (SURVEY.md §7 M0). */
  def entry(spark: SparkSession): DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .where_(col("ts") >= lit("2024-01-05").cast("timestamp"))
      .transform(df => Tables.dedupRows(df, Seq("ts", "event_id")))
      .extend("bin_ts" -> Bin.ts(col("ts"), 3600))
      .summarize(Seq(col("bin_ts"), col("event_type")),
        count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .sortBy(col("bin_ts"), col("event_type"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** The engine settings of every session this library runs under:
    * shuffle partitions = cores, UTC, the graft native expressions
    * (GraftExtensions: the function layer calls `graft_*` functions directly,
    * so a session without them fails at analysis) and no UI. The codegen
    * cache holds 2000 classes: the default 100 entries were fully evicted
    * between a query's two bench samples, so every sample re-paid Janino
    * compilation (~1s on a 25-row broadcast join). */
  def engineConf(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  /** The one session factory: `local[cpus]` with [[engineConf]]. Callers add
    * only what is theirs (an app name, warehouse dirs, a config overlay). */
  def builder(cpus: String): SparkSession.Builder =
    engineConf(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** DuckDB-runnable ANSI SQL for each oracle-checkable query (same parquet tables,
    * same column names, total ORDER BY). Sketch/heuristic operators are omitted →
    * rows-only check. */
  def oracleSql: Map[String, String] =
    all.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
