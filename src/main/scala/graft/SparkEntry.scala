package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{LlmQueries, QueryDef, RelationalQueries, TamarQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The declared-query catalog lives in graft.queries.* (one `QueryDef` per
  * operator from SURVEY.md §2, each pairing the Spark build with its DuckDB
  * oracle SQL); this object only flattens it into the driver's shape.
  */
object SparkEntry {

  /** All declared queries: T-series (reference surface), R-series
    * (relational/batch), L-series (LLM-data-pipeline). */
  val all: Map[String, QueryDef] =
    TamarQueries.defs ++ RelationalQueries.defs ++ LlmQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * T12 = the end-to-end minimum slice (filter → map → sessionize → agg),
    * SURVEY.md §7.2 step 1. */
  def entry(spark: SparkSession): DataFrame =
    all("t12_e2e").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, qd) => name -> qd.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.collect { case (name, qd) if qd.oracle.isDefined => name -> qd.oracle.get }

  /** The session every graft main runs on: `local[cores]` with one
    * shuffle partition per core, UTC session time zone, no UI, WARN
    * logging. A conf only one caller needs is set on the returned
    * session with `spark.conf.set`. */
  def localSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
