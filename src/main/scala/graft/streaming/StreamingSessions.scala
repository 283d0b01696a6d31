package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Continuous sessionization — the streaming twin of the batch
  * `s7_sessions` query (gap-split user sessions), built on Spark's
  * native `session_window` aggregation rather than a hand-rolled
  * stateful operator: the state store holds one open window per
  * active user, merges windows as events arrive, and APPENDS a
  * session row once the event-time watermark passes the session's
  * gap-extended end — exactly the close-on-quiet semantics the batch
  * query computes in hindsight.
  *
  * Using the built-in is the point: gap sessionization is the one
  * streaming shape Spark ships whole, so a custom
  * flatMapGroupsWithState here would be re-deriving engine code.
  * What this wrapper pins down instead is the CONTRACT — input/
  * output schema parity with the batch query, the watermark-driven
  * emission rule, and exact batch equivalence on replay
  * (`StreamingSessionsSpec`). A hand-rolled flatMapGroupsWithState
  * sessionizer was measured against it on the same probe workload
  * (PLANS.md, "One drive core"): 7.7 % faster under RocksDB, but 5 %
  * slower under the default provider (3 of 10 pairs), so it was
  * deleted.
  *
  * State discipline: one (user, open-window) row per active user,
  * dropped on emission — bounded by the active-user set, spillable
  * under the RocksDB provider like every other stateful operator
  * here.
  *
  * Output: (user_id, start_ms, end_ms, n_events) — `session_no` (the
  * batch query's per-user ordinal) is a replay-time notion; consumers
  * needing it rank closed sessions by start_ms per user.
  */
object StreamingSessions {

  case class Ev(userId: Long, eventId: Long, tMs: Long)

  /** @param gapMs       the session gap (batch parity:
    *                     AdvancedQueries.SessionGapMs = 30 min)
    * @param watermarkMs allowed event-time lateness before a session
    *                     can close
    */
  def track(events: Dataset[Ev], gapMs: Long,
      watermarkMs: Long = 0L): DataFrame = {
    events
      .withColumn("ts", timestamp_millis(col("tMs")))
      .withWatermark("ts", s"$watermarkMs milliseconds")
      .groupBy(col("userId").alias("user_id"),
        session_window(col("ts"), s"$gapMs milliseconds"))
      .agg(count(lit(1)).alias("n_events"),
        min(col("tMs")).alias("start_ms"),
        max(col("tMs")).alias("end_ms"))
      .select(col("user_id"), col("start_ms"), col("end_ms"),
        col("n_events"))
  }
}
