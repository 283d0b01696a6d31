package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.cdc.{ChangeEventRow, EnvelopeTransform, Ns, ResumeToken, UpdateDescription}
import graft.sources.ChangeEventReplaySource

/** Streaming-runtime envelope throughput: the reference-comparable
  * headline (`change_handler.py` + `change_event_handler.py` events/s)
  * measured on the ACTUAL Structured Streaming path — replay source →
  * EnvelopeTransform → noop streaming sink — rather than derived from
  * the batch `p1_cdc_envelope` time. Micro-batch scheduling overhead
  * is part of the number, as it would be in production.
  */
object BenchStreaming {

  /** Wall-clock budget for the post-sweep streaming block: passes
    * check `exhausted` before starting and shrink their watchdog cap
    * to what remains, so a slow or stuck state-store provider skips
    * remaining passes instead of blowing past SPARK_GRAFT_BUDGET_SEC
    * (the reserve used to assume ~90 s for what is worst-case many
    * minutes of per-pass caps).
    */
  type WallBudget = Drive.WallBudget

  /** No-deadline budget for ad-hoc callers. */
  def unbounded: WallBudget = Drive.unbounded

  /** Ad-hoc: `runMain graft.BenchStreaming [nEvents]`. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val (dflt, rocks, agreed) = args.headOption match {
      case Some(n) => envelopeFigurePair(spark, n.toInt)
      case None => envelopeFigurePair(spark)
    }
    println(s"""{"streaming_envelope_events_per_sec":$dflt,""" +
      s""""streaming_envelope_events_per_sec_rocksdb":$rocks,""" +
      s""""streaming_envelope_agreed":$agreed}""")
    spark.stop()
  }

  /** A synthetic stream of data-op events cycling insert/update/
    * replace/delete with distinct ObjectId keys — every envelope
    * branch (before / updateDescription / after) exercised.
    */
  private[graft] def syntheticEvents(n: Int): IndexedSeq[ChangeEventRow] = {
    val ns = Ns("bench-db", "BenchCollection")
    val ops = Array("insert", "update", "replace", "delete")
    (0 until n).map { i =>
      val oid = f"$i%024x"
      val key = s"""{"_id": {"$$oid": "$oid"}}"""
      val doc = s"""{"_id": {"$$oid": "$oid"}, "a": $i, "pad": "xxxxxxxxxxxxxxxx"}"""
      val prev = s"""{"_id": {"$$oid": "$oid"}, "a": ${i - 1}, "pad": "xxxxxxxxxxxxxxxx"}"""
      val op = ops(i % 4)
      ChangeEventRow(
        ResumeToken(f"82BENCH$i%016X"), op,
        new Timestamp(1720890531000L + i), new Timestamp(1720890531000L + i),
        ns, Some(key),
        if (op == "delete") None else Some(doc),
        if (op == "insert") None else Some(prev),
        if (op == "update")
          Some(UpdateDescription(s"""{"a": $i}""", Seq.empty, Seq.empty))
        else None)
    }
  }

  /** One full pass of the streaming envelope over the fixture;
    * returns events/second (events ÷ wall), or -1 on failure/stall.
    * Bounded by `capSec` via query stop, so a contention burst can't
    * hang the bench past its reserve.
    */
  private def onePass(
      spark: SparkSession,
      opts: Map[String, String],
      n: Int,
      capSec: Long): Long =
    try Drive.withCheckpoint { ckpt =>
      val events = spark.readStream.format("graft-replay")
        .options(opts)
        .option("maxRowsPerBatch", "50000")
        .option("partitions", spark.sparkContext.defaultParallelism.toString)
        .load()
      val q = EnvelopeTransform(events, topicPrefix = "bench").writeStream
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0L))
        .start()
      Drive.withWatchdog(capSec)(q.stop()) { capped =>
        val t0 = System.nanoTime()
        q.processAllAvailable()
        val wallSec = (System.nanoTime() - t0) / 1e9
        q.stop()
        if (capped()) {
          // partial run: count what actually flowed, still events/wall
          val processed = q.recentProgress.map(_.numInputRows).sum
          if (processed > 0) (processed / wallSec).round else -1L
        } else (n / wallSec).round
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] streaming envelope failed: ${e.getMessage}")
        -1L
    }

  /** Best-of-3 policy shared by every streaming figure: pass 0
    * always runs (every figure needs >= 1 sample); later passes only
    * with budget left; each pass's watchdog cap is clamped to
    * [floorSec, capMax] of the remaining budget. The floor must sit
    * comfortably ABOVE the metric's nominal runtime — a cap below it
    * kills passes mid-flight on a healthy system and ships a
    * truncated sample (the corrupted-figure class this file exists
    * to prevent).
    */
  private def bestOf(budget: WallBudget, floorSec: Long, capMax: Long)(
      pass: Long => Long): Long =
    Drive.bestOf("[bench] streaming figure", budget = budget) { _ =>
      val cap = math.max(floorSec, math.min(capMax, budget.remainingSec))
      Drive.Pass(pass(cap))
    }

  /** The two figures must agree within this factor — the envelope
    * path is stateless, so any larger gap is a measurement artifact
    * (host contention), never a real provider cost.
    */
  private[graft] val StatelessAgreeRatio = 1.5

  private[graft] def disagree(a: Long, b: Long): Boolean =
    a > 0 && b > 0 &&
      math.max(a, b).toDouble / math.min(a, b) > StatelessAgreeRatio

  /** BOTH stateless envelope figures (default store, RocksDB) and
    * whether they agree within [[StatelessAgreeRatio]]. Each is the
    * steady-state best of three passes (~2 s each) replaying the
    * source's cached rows through fresh checkpoints, so one
    * host-contention burst cannot halve it (the r4 local runs read
    * 210k vs 122k events/s from identical code). The envelope
    * path instantiates no state store, so the two numbers measure the
    * same code; `agreed = false` marks a pair a contention window
    * split (the lower figure is corrupted), and the caller persists
    * the flag in the artifact so a reader never mistakes it for a
    * measured difference. The synthetic fixture is built and
    * registered ONCE for the pair. The state-store-BOUND comparison
    * is [[snapshotEventsPerSec]].
    */
  def envelopeFigurePair(
      spark: SparkSession,
      n: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "300000").toInt,
      capSec: Long = 60L,
      budget: WallBudget = unbounded): (Long, Long, Boolean) = {
    val fixture = s"bench-stream-${System.nanoTime()}"
    val opts = ChangeEventReplaySource.register(fixture, syntheticEvents(n))
    try {
      def run(): Long =
        bestOf(budget, 15L, capSec)(cap => onePass(spark, opts, n, cap))
      val dflt = run()
      val rocks = Drive.withProvider(spark, Some(Drive.RocksDb))(run())
      (dflt, rocks, !disagree(dflt, rocks))
    } finally ChangeEventReplaySource.unregister(fixture)
  }

  /** Stateful streaming throughput: the StreamingSnapshot upsert
    * (flatMapGroupsWithState, one state row per live key — the
    * terminal CDC consumer and the op where the state store IS the
    * cost: every micro-batch loads, mutates, and commits keyed
    * state). n synthetic changes over nKeys keys across `batches`
    * micro-batches, so cross-batch state load/commit — the part the
    * provider choice actually changes — is inside the measured
    * window. Returns events/s, or -1 on failure.
    */
  def snapshotEventsPerSec(
      spark: SparkSession,
      provider: Option[String],
      n: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "300000").toInt / 2,
      nKeys: Int = 50000,
      batches: Int = 10,
      capSec: Long = 90L): Long = Drive.withProvider(spark, provider) {
    import spark.implicits._
    import graft.streaming.StreamingSnapshot
    import graft.streaming.StreamingSnapshot.Change
    try {
      // pre-build every batch OUTSIDE the measured window: per-batch
      // Seq construction + string formatting for ~15k rows is
      // driver-side synthetic-data cost, and timing it dilutes the
      // default-vs-RocksDB state-store comparison this metric exists
      // to expose. The watchdog guards the STREAMING QUERY, so it
      // arms after this pre-build — otherwise driver-side
      // construction eats into the cap and a healthy pass can be
      // killed at b=0
      val batchData = Drive.grid(n, batches) { (_, _, id) =>
        Change(key = id % nKeys, eventId = id,
          op = if (id % 10 == 9) "d" else "u",
          doc = s"""{"a": $id}""", cents = id)
      }
      // wall is measured to the last COMPLETED batch: a watchdog kill
      // mid-batch must not leave the partial batch's time in the
      // denominator while its events are missing from the numerator
      Drive.feed(spark, StreamingSnapshot(_: Dataset[Change]),
        (w: DataStreamWriter[StreamingSnapshot.SnapRow]) =>
          w.format("noop").outputMode("update"),
        Iterator.empty, batchData, capSec).rate
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] streaming snapshot failed: ${e.getMessage}")
        -1L
    }
  }

  /** Best-of-3 snapshot throughput per provider, budget-aware. The
    * 45 s floor sits well above the metric's ~13 s nominal runtime:
    * a floor below it would let a budget-exhausted pass 0 kill a
    * healthy run mid-batch and ship a truncated figure.
    */
  def snapshotFigure(spark: SparkSession, provider: Option[String],
      budget: WallBudget): Long =
    bestOf(budget, 45L, 90L)(cap =>
      snapshotEventsPerSec(spark, provider, capSec = cap))
}
