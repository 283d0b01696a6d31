package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.EnvelopeTransform
import graft.queries.{AdvancedQueries, CdcQueries, DedupQueries, MultimodalQueries, RelationalQueries, SimilarityQueries, TextQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the reference's whole data path — op-type filter (F1),
    * CDC envelope (P1/P2), topic routing (P3) — over the sf0.001
    * events stand-in, via the same EnvelopeTransform used by the
    * streaming pipeline. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(
        struct(col("event_id").cast("string").alias("_data")).alias("_id"),
        when(col("event_type") === "signup", "insert")
          .when(col("event_type").isin("click", "view"), "update")
          .when(col("event_type") === "purchase", "replace")
          .otherwise("invalidate").alias("operationType"),
        // ts is LongType nanos (see GraftSession nanosAsLong); integer
        // `div`, not `/`: double division loses precision above 2^53.
        timestamp_micros(expr("ts div 1000")).alias("clusterTime"),
        timestamp_micros(expr("ts div 1000")).alias("wallTime"),
        struct(lit("app").alias("db"), lit("events").alias("coll")).alias("ns"),
        col("user_id").cast("string").alias("documentKey"),
        col("props").alias("fullDocument"),
        lit(null).cast("string").alias("fullDocumentBeforeChange"),
        lit(null).cast(graft.cdc.ChangeEvents.updateDescriptionType)
          .alias("updateDescription"))
    EnvelopeTransform(ev, topicPrefix = "graft")
  }

  /** One entry per implemented operator from SURVEY.md §2. Row order
    * is not part of a query's result: a query sorts only where a
    * limit, a top-k or a window consumes the order.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CdcQueries.queries ++ RelationalQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ MultimodalQueries.queries ++
      AdvancedQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    CdcQueries.oracles ++ RelationalQueries.oracles ++
      TextQueries.oracles ++ DedupQueries.oracles ++
      SimilarityQueries.oracles ++ MultimodalQueries.oracles ++
      AdvancedQueries.oracles
}
