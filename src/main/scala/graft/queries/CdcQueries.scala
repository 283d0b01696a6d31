package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.ByteSumMod

/** The reference's dataflow operators (SURVEY §2 S/F/P/C rows)
  * re-expressed as verifiable batch queries over the driver's `events`
  * table, which stands in for the change stream (event_type plays
  * operationType, user_id plays documentKey, props plays fullDocument).
  *
  * Each query has a DuckDB oracle with byte-identical semantics:
  * integer outputs wherever aggregation is involved (cents instead of
  * float sums), explicit total ordering, explicit window frames.
  */
object CdcQueries {

  /** op-type filter F1 (`change_handler.py:43-48`): data ops pass,
    * the rest ride along for offsets only. Here `error` plays the
    * non-data role.
    */
  private val dataTypes = Seq("click", "purchase", "signup", "view")

  private def events(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)

  /** cdc_gap_detect bucket width: candidate expansion is bounded by
    * flagged-buckets × this, so it trades scan granularity against
    * expansion size.
    */
  final val GapBucket = 1024L

  /** The cdc_ooo_profile core over any (event_id, user_id, op_type,
    * ts-nanos) frame — factored out so StreamingLatenessSpec can pin
    * the streaming monitor against THIS implementation on perturbed
    * data (the driver testdata is perfectly key-ordered, so the raw
    * corpus exercises the zero-late path only). Scale shape: ONE
    * window partitioned on the document key (fact-side cardinality)
    * feeding a map-side-combinable aggregation per op type; lateness
    * stays in integer milliseconds end to end.
    */
  def oooProfileOf(evs: DataFrame): DataFrame = {
    val prev = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    evs
      .withColumn("prev_max", max(col("ts")).over(prev))
      .select(col("op_type"), col("user_id"),
        when(col("prev_max") > col("ts"),
          expr("(prev_max - ts) div 1000000")).alias("late_ms"))
      .groupBy("op_type")
      .agg(count(lit(1)).alias("n"),
        count(col("late_ms")).alias("n_late"),
        coalesce(max(col("late_ms")), lit(0L)).alias("max_late_ms"),
        countDistinct(when(col("late_ms").isNotNull, col("user_id")))
          .alias("n_late_users"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/S4: source scan with predicate + projection pushdown — the
    // batch analog of the connector's server-side pipeline. .explain
    // shows PushedFilters and a 3-column ReadSchema.
    "s1_scan_pushdown" -> ((s, d) =>
      events(s, d)
        .filter(col("event_id") >= 100 && col("event_id") < 1100)
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100, 0).cast(LongType).alias("cents"))),

    "f1_optype_filter" -> ((s, d) =>
      events(s, d)
        .filter(col("event_type").isin(dataTypes: _*))
        .select(col("event_id"), col("event_type"), col("user_id"))),

    // P1/P2: CDC envelope projection (`change_event_handler.py:84-113`)
    // op map analog: purchase→c, click/view→u, signup→d.
    "p1_cdc_envelope" -> ((s, d) =>
      events(s, d)
        .filter(col("event_type").isin(dataTypes: _*))
        .select(
          col("event_id"),
          col("user_id").cast("string").alias("key"),
          when(col("event_type") === "purchase", "c")
            .when(col("event_type").isin("click", "view"), "u")
            .otherwise("d").alias("op"),
          col("props").alias("after"),
          round(col("value") * 100, 0).cast(LongType).alias("value_cents"))),

    // P3: topic routing (`change_event_handler.py:84-91`)
    // coalesce pins NULL semantics: Spark concat nulls the whole
    // result on a NULL input while DuckDB concat skips it
    "p3_topic_route" -> ((s, d) =>
      events(s, d)
        .groupBy(concat(lit("cdc.events."),
          coalesce(col("event_type"), lit(""))).alias("topic"))
        .agg(count(lit(1)).alias("n"))),

    // P4: byte-sum-mod-N producer routing (`change_handler.py:77-81`)
    // via the codegen ByteSumMod expression.
    "p4_hash_route" -> ((s, d) =>
      events(s, d)
        .select(ByteSumMod(col("user_id").cast("string"), 8).alias("part_id"))
        .groupBy("part_id")
        .agg(count(lit(1)).alias("n"))),

    // S6: monotonic sequence numbering (`watch.py:113-141`) — here the
    // per-key variant that matters for ordering guarantees.
    "s6_sequence" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"), col("user_id"))
        .withColumn("seq",
          row_number().over(
            Window.partitionBy("user_id").orderBy("event_id")).cast(LongType))),

    // C1: contiguous-prefix commit watermark
    // (`committing/commit_processing.py:96-118`): the highest event id
    // such that every id before it is confirmed. A prefix scan LOOKS
    // like a global window (single-partition at scale), but the
    // watermark is equivalently max(id) strictly below the FIRST
    // unconfirmed id — two fully-parallel aggregations and a 1-row
    // broadcast, no global ordering anywhere.
    "c1_commit_watermark" -> ((s, d) => {
      val ev = events(s, d)
      val firstBad = ev.filter(col("event_type") === "error")
        .agg(min(col("event_id")).alias("min_bad"))
      ev.crossJoin(broadcast(firstBad))
        .filter(col("min_bad").isNull || col("event_id") < col("min_bad"))
        .agg(max(col("event_id")).alias("watermark"))
    }),

    // C2: commit batching by interval/size thresholds
    // (`commit_processing.py:120-129`): fixed-size batches, per-batch
    // confirmed counts and the resume token (= max id) each would
    // persist.
    "c2_commit_batches" -> ((s, d) =>
      events(s, d)
        .groupBy(floor(col("event_id") / 1000).cast(LongType).alias("batch"))
        .agg(
          count(lit(1)).alias("n"),
          sum(when(col("event_type") =!= "error", 1L).otherwise(0L))
            .alias("confirmed"),
          max(col("event_id")).alias("token"))),

    // Snapshot materialization — the canonical downstream of a change
    // stream: last-writer-wins per documentKey, tombstones ('d')
    // dropped. Deliberately NOT a sort+window: max_by inside one
    // partial-aggregating groupBy means each executor pre-reduces its
    // split to one candidate row per key before the shuffle, so the
    // exchange carries O(distinct keys), not O(events) — at 100 TB of
    // change history with a much smaller live-key set, that is the
    // whole game. event_id is the total order (unique), so every
    // max_by tiebreaks identically to the oracle's arg_max.
    "cdc_apply" -> ((s, d) => {
      val ev = dataEvents(s, d)
      ev.groupBy("user_id")
        .agg(
          max(col("event_id")).alias("last_event_id"),
          max_by(col("op"), col("event_id")).alias("op"),
          max_by(col("doc"), col("event_id")).alias("doc"),
          max_by(col("cents"), col("event_id")).alias("cents"))
        .filter(col("op") =!= "d")
    }),

    // SCD type-2 history build: each data event becomes a validity
    // interval [valid_from, valid_to) per key, closed by the key's
    // next change (NULL = current). One window partitioned on the
    // documentKey — fact-side cardinality that grows with the data,
    // the scale-safe window shape (contrast the dimension-key windows
    // PlanAuditSpec rejects).
    "cdc_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("valid_from")
      dataEvents(s, d)
        .select(col("user_id"), col("event_id").alias("valid_from"),
          col("op"), col("cents"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
    }),

    // Incremental view maintenance from the change stream: a per-bucket
    // (count, sum) aggregate over the CURRENT snapshot, maintained as
    //   base aggregate (events before the cut)
    //   + per-key deltas from the tail (events at/after the cut).
    // Only the tail's keys are touched after the base pass: their old
    // values come from a keyed lookup into the base snapshot (an
    // equi-join against a tail-key set that is tiny relative to the
    // corpus), their new values from last-writer-wins over the tail
    // alone (tail ids all exceed base ids, so the tail row always
    // wins). The oracle recomputes the aggregate from scratch —
    // passing means the delta algebra (appear/disappear/value-change,
    // tombstones both ways) is exactly right. This is how a 100-TB
    // snapshot aggregate stays fresh without re-scanning history.
    "cdc_delta_agg" -> ((s, d) => {
      val ev = dataEvents(s, d)
      // cut at the 80% point of the id space: pure integer arithmetic
      val cut = ev.agg(
        (max(col("event_id")) - expr("max(event_id) div 5")).alias("cut"))
      val evc = ev.crossJoin(broadcast(cut))
      val base = evc.filter(col("event_id") < col("cut"))
      val tail = evc.filter(col("event_id") >= col("cut"))
      def latest(df: DataFrame): DataFrame =
        df.groupBy("user_id").agg(
          max_by(col("op"), col("event_id")).alias("op"),
          max_by(col("cents"), col("event_id")).alias("cents"))
      val snapBase = latest(base)
      val baseAgg = snapBase.filter(col("op") =!= "d")
        .groupBy((col("user_id") % 16).alias("bucket"))
        .agg(count(lit(1)).alias("n"), sum(col("cents")).alias("c"))
      val newRows = latest(tail)
        .select(col("user_id"), col("op").alias("op_new"),
          col("cents").alias("cents_new"))
      val oldRows = snapBase
        .select(col("user_id"), col("op").alias("op_old"),
          col("cents").alias("cents_old"))
      val deltas = newRows.join(oldRows, Seq("user_id"), "left")
        .select(
          (col("user_id") % 16).alias("bucket"),
          (when(col("op_new") =!= "d", 1L).otherwise(0L) -
            when(col("op_old").isNotNull && col("op_old") =!= "d", 1L)
              .otherwise(0L)).alias("dn"),
          (when(col("op_new") =!= "d", col("cents_new")).otherwise(0L) -
            when(col("op_old").isNotNull && col("op_old") =!= "d",
              col("cents_old")).otherwise(0L)).alias("dc"))
        .groupBy("bucket")
        .agg(sum(col("dn")).alias("dn"), sum(col("dc")).alias("dc"))
      baseAgg.join(deltas, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .alias("n_users"),
          (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L)))
            .alias("sum_cents"))
        .filter(col("n_users") > 0)
    }),

    // Snapshot reconciliation — the audit a CDC consumer runs when
    // two materializations must be proven consistent (yesterday's cut
    // vs today's, or a migrated store vs the source of truth): build
    // the last-writer-wins snapshot at the two-thirds cut and at the
    // head, full-outer-join them on the key, classify every key as
    // added / removed / changed / same, and report per-status key
    // counts and the net money drift. Scale: both snapshots are the
    // same partial-aggregating groupBy as cdc_apply (the shuffle
    // carries live keys, not events), the full-outer join is
    // co-partitioned on the key, and the verdict agg collapses to 4
    // rows map-side. The 1-row cut scalar broadcasts.
    // Per-topic operational dashboard — what a CDC operator watches
    // on the produced topics: per (topic, op-code) event counts, the
    // covered sequence-number span (gaps between runs are the
    // at-least-once redelivery/loss investigation trigger), and the
    // distinct documentKey count. One map-side-combined agg over the
    // envelope-path projection; the only shuffle carries
    // O(topics × ops) partials plus the distinct-key pre-aggregation
    // on the same grouping.
    "cdc_topic_stats" -> ((s, d) =>
      events(s, d)
        .filter(col("event_type").isin(dataTypes: _*))
        .select(
          concat(lit("cdc.events."), col("event_type")).alias("topic"),
          when(col("event_type") === "purchase", "c")
            .when(col("event_type").isin("click", "view"), "u")
            .otherwise("d").alias("op"),
          col("event_id"), col("user_id"))
        .groupBy("topic", "op")
        .agg(count(lit(1)).alias("n_events"),
          min(col("event_id")).alias("first_id"),
          max(col("event_id")).alias("last_id"),
          countDistinct(col("user_id")).alias("n_keys"))),

    // Sequence-gap detection — the contiguity question at the heart
    // of the reference's commit protocol (`committing/
    // process_commit_event.py` only advances the watermark over a
    // CONTIGUOUS prefix; a gap in the produced stream is exactly what
    // it guards against). Input: the data-op stream (the non-data ops
    // the F1 filter drops play the "lost" events); output: every
    // missing sequence id. Scale shape — the naive LAG-over-
    // everything window is a global sort; instead a TWO-PHASE scan:
    // (1) count ids per fixed bucket (map-side combined, O(id-span /
    // B) rows), compare against each bucket's expected width from the
    // 1-row bounds scalar; (2) ONLY flagged buckets (gaps are rare by
    // construction in a healthy pipeline) explode their candidate
    // range and anti-join the stream — expansion bounded by
    // flagged × B, never the id span.
    "cdc_gap_detect" -> ((s, d) => {
      val data = events(s, d)
        .filter(col("event_type").isin(dataTypes: _*))
        .select(col("event_id"))
      val bounds = events(s, d)
        .agg(min(col("event_id")).alias("lo"),
          max(col("event_id")).alias("hi"))
      // DISTINCT ids per bucket, not raw rows: under at-least-once
      // redelivery a duplicated event_id would otherwise make a bucket
      // that contains a hole count as full and the gap go unflagged —
      // while the oracle's NOT-IN set semantics would still report it.
      // countDistinct partial-aggregates on (b, event_id) map-side, so
      // the shuffle still carries O(distinct ids / bucket) rows.
      val perB = data
        .select(expr(s"event_id div $GapBucket").alias("b"), col("event_id"))
        .groupBy("b").agg(countDistinct(col("event_id")).alias("n"))
      val allB = bounds
        .select(explode(sequence(expr(s"lo div $GapBucket"),
          expr(s"hi div $GapBucket"))).alias("b"))
        .crossJoin(broadcast(bounds))
      val flagged = allB.join(perB, Seq("b"), "left")
        .withColumn("bstart",
          greatest(col("b") * GapBucket, col("lo")))
        .withColumn("bend",
          least(col("b") * GapBucket + lit(GapBucket - 1L), col("hi")))
        .withColumn("expected", col("bend") - col("bstart") + 1L)
        .filter(coalesce(col("n"), lit(0L)) < col("expected"))
      flagged
        .select(explode(sequence(col("bstart"), col("bend")))
          .alias("event_id"))
        .join(data, Seq("event_id"), "left_anti")
    }),

    "cdc_reconcile" -> ((s, d) => {
      val ev = dataEvents(s, d)
      val cut = ev.agg(
        (max(col("event_id")) - expr("max(event_id) div 3")).alias("cut"))
      val evc = ev.crossJoin(broadcast(cut))
      def snap(df: DataFrame): DataFrame =
        df.groupBy("user_id").agg(
          max_by(col("op"), col("event_id")).alias("op"),
          max_by(col("doc"), col("event_id")).alias("doc"),
          max_by(col("cents"), col("event_id")).alias("cents"))
          .filter(col("op") =!= "d")
      val t1 = snap(evc.filter(col("event_id") < col("cut")))
        .select(col("user_id"), col("doc").alias("doc_a"),
          col("cents").alias("cents_a"))
      val t2 = snap(evc)
        .select(col("user_id"), col("doc").alias("doc_b"),
          col("cents").alias("cents_b"))
      t1.join(t2, Seq("user_id"), "full_outer")
        .select(
          when(col("cents_a").isNull, "added")
            .when(col("cents_b").isNull, "removed")
            .when(col("doc_a") =!= col("doc_b") ||
              col("cents_a") =!= col("cents_b"), "changed")
            .otherwise("same").alias("status"),
          (coalesce(col("cents_b"), lit(0L)) -
            coalesce(col("cents_a"), lit(0L))).alias("drift"))
        .groupBy("status")
        .agg(count(lit(1)).alias("n_keys"),
          sum(col("drift")).alias("cents_drift"))
    }),

    // Out-of-order-arrival profile — the measurement a streaming
    // deployment reads BEFORE choosing its watermark delay
    // (`withWatermark`'s argument is exactly "the max lateness we
    // tolerate"; too small drops real events, too large holds state).
    // Arrival order is event_id (the change stream's resume-token
    // order), event time is ts; an event is LATE when some
    // earlier-arriving event of the SAME key carries a later event
    // time. Per-key, not global: cross-key skew is normal in a
    // sharded source (each shard is ordered, the merge is not), and
    // the per-key inversion depth is what keyed state actually
    // buffers. Scale shape: ONE window partitioned on the documentKey
    // (fact-side cardinality, the scale-safe shape) feeding a
    // map-side-combinable aggregation per op type; lateness stays in
    // integer milliseconds end to end.
    "cdc_ooo_profile" -> ((s, d) =>
      oooProfileOf(events(s, d)
        .select(col("event_id"), col("user_id"),
          coalesce(col("event_type"), lit("")).alias("op_type"),
          col("ts")))),

    // Point-in-time-correct state lookup — the feature-store as-of
    // join over the materialized change history: every purchase event
    // is annotated with the user's LAST state change strictly before
    // it (the cdc_scd2 version valid at that moment). This is the
    // no-feature-leakage join an ML training pipeline needs: features
    // must reflect what was knowable at event time, never a later
    // version. Same scale shape as rel_asof_join — a union + ONE
    // window partitioned on the documentKey (fact-side cardinality
    // that grows with the data, the scale-safe shape) with
    // ignoreNulls carry-forward; no interval join, no range blow-up,
    // one shuffle total. Probes with no prior state coalesce to
    // (-1, 'none', 0) — the cold-start row.
    "cdc_asof_state" -> ((s, d) => {
      val ev = dataEvents(s, d)
      val st = ev.filter(col("op") =!= "c").select(
        col("user_id"), col("event_id").alias("t"), lit(0).alias("kind"),
        col("event_id").alias("sid"), col("op").alias("sop"),
        col("cents").alias("scents"),
        lit(null).cast(LongType).alias("pid"),
        lit(null).cast(LongType).alias("pcents"))
      val pr = ev.filter(col("op") === "c").select(
        col("user_id"), col("event_id").alias("t"), lit(1).alias("kind"),
        lit(null).cast(LongType).alias("sid"),
        lit(null).cast("string").alias("sop"),
        lit(null).cast(LongType).alias("scents"),
        col("event_id").alias("pid"), col("cents").alias("pcents"))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      st.unionByName(pr)
        .withColumn("state_id",
          last(col("sid"), ignoreNulls = true).over(w))
        .withColumn("state_op",
          last(col("sop"), ignoreNulls = true).over(w))
        .withColumn("state_cents",
          last(col("scents"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("pid").alias("event_id"), col("user_id"),
          col("pcents").alias("cents"),
          coalesce(col("state_id"), lit(-1L)).alias("state_id"),
          coalesce(col("state_op"), lit("none")).alias("state_op"),
          coalesce(col("state_cents"), lit(0L)).alias("state_cents"))
    }))

  /** The change stream projected to last-writer-wins inputs: data ops
    * only, reference op codes (purchase→c, click/view→u, signup→d),
    * exact integer money.
    */
  private def dataEvents(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(col("event_type").isin(dataTypes: _*))
      .select(
        col("event_id"), col("user_id"),
        when(col("event_type") === "purchase", "c")
          .when(col("event_type").isin("click", "view"), "u")
          .otherwise("d").alias("op"),
        col("props").alias("doc"),
        round(col("value") * 100, 0).cast(LongType).alias("cents"))

  lazy val oracles: Map[String, String] = Map(
    "s1_scan_pushdown" ->
      """SELECT event_id, user_id,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents
        |FROM events WHERE event_id >= 100 AND event_id < 1100
        |ORDER BY event_id""".stripMargin,

    "f1_optype_filter" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type IN ('click','purchase','signup','view')
        |ORDER BY event_id""".stripMargin,

    // the oracle does it the direct way (generate the whole id range,
    // anti-join) — equivalent at oracle scale
    "cdc_gap_detect" ->
      """WITH data AS (
        |  SELECT event_id FROM events
        |  WHERE event_type IN ('click','purchase','signup','view')),
        |b AS (SELECT min(event_id) AS lo, max(event_id) AS hi
        |      FROM events),
        |cand AS (
        |  SELECT unnest(generate_series((SELECT lo FROM b),
        |    (SELECT hi FROM b))) AS event_id)
        |SELECT CAST(event_id AS BIGINT) AS event_id FROM cand
        |WHERE event_id NOT IN (SELECT event_id FROM data)
        |ORDER BY event_id""".stripMargin,

    "p1_cdc_envelope" ->
      """SELECT event_id,
        |  CAST(user_id AS VARCHAR) AS key,
        |  CASE WHEN event_type = 'purchase' THEN 'c'
        |       WHEN event_type IN ('click','view') THEN 'u'
        |       ELSE 'd' END AS op,
        |  props AS after,
        |  CAST(round(value * 100, 0) AS BIGINT) AS value_cents
        |FROM events
        |WHERE event_type IN ('click','purchase','signup','view')
        |ORDER BY event_id""".stripMargin,

    "p3_topic_route" ->
      """SELECT concat('cdc.events.', coalesce(event_type, '')) AS topic,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY topic""".stripMargin,

    "p4_hash_route" ->
      """SELECT CAST(list_aggregate(list_transform(
        |    string_split(CAST(user_id AS VARCHAR), ''),
        |    x -> CAST(ascii(x) AS BIGINT)), 'sum') % 8 AS INTEGER) AS part_id,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY part_id""".stripMargin,

    "s6_sequence" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
        |       AS BIGINT) AS seq
        |FROM events ORDER BY event_id""".stripMargin,

    "c1_commit_watermark" ->
      """SELECT max(event_id) AS watermark FROM (
        |  SELECT event_id,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      OVER (ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bad
        |  FROM events) t
        |WHERE bad = 0""".stripMargin,

    "c2_commit_batches" ->
      """SELECT CAST(event_id // 1000 AS BIGINT) AS batch,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
        |       AS BIGINT) AS confirmed,
        |  max(event_id) AS token
        |FROM events GROUP BY 1 ORDER BY batch""".stripMargin,

    "cdc_apply" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'c'
        |         WHEN event_type IN ('click','view') THEN 'u'
        |         ELSE 'd' END AS op,
        |    props AS doc,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type IN ('click','purchase','signup','view'))
        |SELECT user_id, last_event_id, op, doc, cents FROM (
        |  SELECT user_id,
        |    max(event_id) AS last_event_id,
        |    arg_max(op, event_id) AS op,
        |    arg_max(doc, event_id) AS doc,
        |    arg_max(cents, event_id) AS cents
        |  FROM ev GROUP BY user_id)
        |WHERE op <> 'd'
        |ORDER BY user_id""".stripMargin,

    "cdc_scd2" ->
      """SELECT user_id, event_id AS valid_from,
        |  CASE WHEN event_type = 'purchase' THEN 'c'
        |       WHEN event_type IN ('click','view') THEN 'u'
        |       ELSE 'd' END AS op,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |  lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS valid_to
        |FROM events
        |WHERE event_type IN ('click','purchase','signup','view')
        |ORDER BY user_id, valid_from""".stripMargin,

    // Full from-scratch recompute of the maintained aggregate — the
    // incremental path must land on exactly this.
    "cdc_delta_agg" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'c'
        |         WHEN event_type IN ('click','view') THEN 'u'
        |         ELSE 'd' END AS op,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type IN ('click','purchase','signup','view')),
        |snap AS (
        |  SELECT user_id,
        |    arg_max(op, event_id) AS op,
        |    arg_max(cents, event_id) AS cents
        |  FROM ev GROUP BY user_id)
        |SELECT user_id % 16 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM snap WHERE op <> 'd'
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "cdc_topic_stats" ->
      """SELECT concat('cdc.events.', event_type) AS topic,
        |  CASE WHEN event_type = 'purchase' THEN 'c'
        |       WHEN event_type IN ('click','view') THEN 'u'
        |       ELSE 'd' END AS op,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(event_id) AS BIGINT) AS first_id,
        |  CAST(max(event_id) AS BIGINT) AS last_id,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
        |FROM events
        |WHERE event_type IN ('click','purchase','signup','view')
        |GROUP BY 1, 2 ORDER BY topic, op""".stripMargin,

    "cdc_ooo_profile" ->
      """WITH lat AS (
        |  SELECT coalesce(event_type, '') AS op_type, user_id,
        |    CASE WHEN max(epoch_ns(ts)) OVER (
        |           PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         > epoch_ns(ts)
        |      THEN (max(epoch_ns(ts)) OVER (
        |           PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         - epoch_ns(ts)) // 1000000
        |    END AS late_ms
        |  FROM events)
        |SELECT op_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(late_ms) AS BIGINT) AS n_late,
        |  CAST(coalesce(max(late_ms), 0) AS BIGINT) AS max_late_ms,
        |  CAST(count(DISTINCT CASE WHEN late_ms IS NOT NULL
        |    THEN user_id END) AS BIGINT) AS n_late_users
        |FROM lat GROUP BY op_type ORDER BY op_type""".stripMargin,

    "cdc_reconcile" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'c'
        |         WHEN event_type IN ('click','view') THEN 'u'
        |         ELSE 'd' END AS op,
        |    props AS doc,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type IN ('click','purchase','signup','view')),
        |cut AS (SELECT max(event_id) - max(event_id) // 3 AS cut FROM ev),
        |t1 AS (
        |  SELECT user_id, arg_max(doc, event_id) AS doc_a,
        |    arg_max(cents, event_id) AS cents_a
        |  FROM ev, cut WHERE event_id < cut
        |  GROUP BY user_id
        |  HAVING arg_max(op, event_id) <> 'd'),
        |t2 AS (
        |  SELECT user_id, arg_max(doc, event_id) AS doc_b,
        |    arg_max(cents, event_id) AS cents_b
        |  FROM ev GROUP BY user_id
        |  HAVING arg_max(op, event_id) <> 'd')
        |SELECT status, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(drift) AS BIGINT) AS cents_drift
        |FROM (
        |  SELECT CASE WHEN cents_a IS NULL THEN 'added'
        |              WHEN cents_b IS NULL THEN 'removed'
        |              WHEN doc_a <> doc_b OR cents_a <> cents_b
        |                THEN 'changed'
        |              ELSE 'same' END AS status,
        |    coalesce(cents_b, 0) - coalesce(cents_a, 0) AS drift
        |  FROM t1 FULL OUTER JOIN t2 USING (user_id)) v
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "cdc_asof_state" ->
      """WITH ev AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_type = 'purchase' THEN 'c'
        |         WHEN event_type IN ('click','view') THEN 'u'
        |         ELSE 'd' END AS op,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type IN ('click','purchase','signup','view')),
        |u AS (
        |  SELECT user_id, event_id AS t, 0 AS kind, event_id AS sid,
        |         op AS sop, cents AS scents,
        |         CAST(NULL AS BIGINT) AS pid,
        |         CAST(NULL AS BIGINT) AS pcents
        |  FROM ev WHERE op <> 'c'
        |  UNION ALL
        |  SELECT user_id, event_id, 1, NULL, NULL, NULL,
        |         event_id, cents
        |  FROM ev WHERE op = 'c'),
        |w AS (
        |  SELECT *,
        |    last_value(sid IGNORE NULLS) OVER win AS state_id,
        |    last_value(sop IGNORE NULLS) OVER win AS state_op,
        |    last_value(scents IGNORE NULLS) OVER win AS state_cents
        |  FROM u WINDOW win AS (PARTITION BY user_id ORDER BY t, kind
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT pid AS event_id, user_id, pcents AS cents,
        |  coalesce(state_id, -1) AS state_id,
        |  coalesce(state_op, 'none') AS state_op,
        |  coalesce(state_cents, 0) AS state_cents
        |FROM w WHERE kind = 1 ORDER BY event_id""".stripMargin)
}
