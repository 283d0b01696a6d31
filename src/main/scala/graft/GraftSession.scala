package graft

import org.apache.spark.sql.SparkSession

/** One place for session config so Verify / Bench / tests / any real
  * deployment agree on semantics.
  *
  *  - shuffle.partitions = cores (local mode; a cluster deployment
  *    would size this to 2-3× total cores or rely on AQE coalescing)
  *  - AQE on (runtime re-plan: skew joins, partition coalescing) for
  *    batch queries, off for stateless streaming ones: there AQE would
  *    run a micro-batch's shuffle map stage as a job of its own before
  *    the sink runs (`ForeachBatchSink` materializes the plan first),
  *    and the pipeline's only exchange, `repartition(n, key)`, is one
  *    AQE never coalesces
  *  - UTC session timezone (oracle parity)
  *  - nanosAsLong: some driver refreshes store `events.ts` as parquet
  *    TIMESTAMP(NANOS), which Spark's vectorized reader otherwise
  *    rejects; with this flag it surfaces as LongType nanos. Other
  *    refreshes store TIMESTAMP(MICROS); `Tables.events` normalizes
  *    both spellings to LongType nanos for every consumer.
  *  - `file:` bound to the fork-free local filesystem (LocalFs.scala) for
  *    both Hadoop APIs, so sink files and checkpoint-log entries cost
  *    no `chmod`/`readlink` child process each
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.streaming.stateless.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TypedImperativeAggregates (MinHashSig) run in
      // ObjectHashAggregateExec, which falls back to sort-based
      // aggregation after 128 distinct groups by default — a 2.5×
      // regression on per-document signatures. Buffers are small
      // (8*k bytes), so a high threshold is safe.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 22).toString)
      // count/min/max over a bare parquet scan answer from footer
      // statistics instead of reading pages — this is what makes the
      // derived-geometry corpus count (SimilarityQueries.embCount,
      // one count() per session per input) a metadata operation at
      // 100 TB rather than a full scan
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.hadoop.fs.file.impl",
        classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply ad-hoc session knobs from `SPARK_GRAFT_CONF="k=v,k=v"` —
    * the one parser Profile/Bench/ScaleProbe all share. A token
    * without '=' fails with a message naming it (not a MatchError).
    */
  def applyEnvConf(s: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').map(_.trim)
      .filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => s.conf.set(k, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
        }
      })
}
