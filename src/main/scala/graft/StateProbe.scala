package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.streaming.StreamingSnapshot
import graft.streaming.StreamingSnapshot.Change

/** State-growth probe for the state-store-BOUND streaming figure:
  * how does the StreamingSnapshot keyed-upsert rate decay as LIVE
  * KEY cardinality (= state size) grows ×1/×10/×100 past the bench's
  * 50k-key configuration — the 100-TB question the single-point
  * bench number can't answer (a keyed CDC snapshot at scale holds
  * every live key; RocksDB's pitch is precisely that this state
  * spills to local disk instead of executor heap).
  *
  * Method, per (nKeys, provider): seed one upsert per key in large
  * un-timed batches (state reaches exactly nKeys live rows), then
  * measure a fixed workload — 150k upserts spread uniformly over the
  * existing key space across 10 micro-batches — so every measured
  * batch loads, mutates, and commits state at the target size. The
  * measured workload is IDENTICAL at every key count; only the state
  * size behind it changes.
  *
  * `runMain graft.StateProbe [keysCsv]` (default 50000,500000,5000000)
  * prints one line per cell:
  * `[state] keys=<n> provider=<default|rocksdb> seed=<sec> rate=<ev/s>`.
  */
object StateProbe {

  /** One probe cell. Returns (seedSec, measuredEventsPerSec); a cell
    * whose streaming work exceeds `capSec` is killed by the watchdog
    * and reports rate -1 (a stuck provider must not hang the rest of
    * the matrix — already-printed cells are the probe's output).
    */
  def cell(spark: SparkSession, nKeys: Long,
      provider: Option[String], capSec: Long = 900L): (Double, Long) =
    Drive.withProvider(spark, provider) {
      import spark.implicits._
      // ---- seed: one create per key, 500k-row batches, un-timed
      // (reported separately — it's the state-BUILD rate, a different
      // quantity than the steady-state upsert rate under test); built
      // lazily, batch by batch, so 5M keys never sit in driver memory
      val seedBatch = 500000L
      val seeds = (0L until nKeys by seedBatch).iterator.map { k =>
        (k until math.min(nKeys, k + seedBatch)).map(id =>
          Change(key = id, eventId = id, op = "c",
            doc = s"""{"a": $id}""", cents = id))
      }
      // ---- measure: fixed workload over the EXISTING keys
      val batches = 10
      // co-prime stride spreads hits uniformly over the key space
      val stride = 1000003L
      val batchData = Drive.grid(150000, batches) { (_, _, i) =>
        Change(key = (i * stride) % nKeys, eventId = nKeys + i,
          op = "u", doc = s"""{"a": $i}""", cents = i)
      }
      try {
        val fed = Drive.feed(spark, StreamingSnapshot(_: Dataset[Change]),
          (w: DataStreamWriter[StreamingSnapshot.SnapRow]) =>
            w.format("noop").outputMode("update"),
          seeds, batchData, capSec)
        if (fed.capped)
          System.err.println(s"[state] cell keys=$nKeys capped at ${capSec}s")
        if (fed.capped || fed.batches < batches) (fed.untimedSec, -1L)
        else (fed.untimedSec, fed.rate)
      } catch {
        // unconditional: a provider that fails to LOAD (not just one
        // that hangs) must yield a -1 cell, not abort the remaining
        // (keys, provider) matrix — the snapshotEventsPerSec contract
        case e: Throwable =>
          System.err.println(
            s"[state] cell keys=$nKeys failed: ${e.getMessage}")
          (-1.0, -1L)
      }
    }

  def main(args: Array[String]): Unit = {
    val keyCounts = args.headOption
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(50000L, 500000L, 5000000L))
    val spark = GraftSession.local()
    GraftSession.applyEnvConf(spark)
    for (nKeys <- keyCounts;
        (pname, p) <- Seq("default" -> None, "rocksdb" -> Some(Drive.RocksDb))) {
      val (seedSec, rate) = cell(spark, nKeys, p)
      println(f"[state] keys=$nKeys provider=$pname " +
        f"seed=$seedSec%.1f rate=$rate")
    }
    spark.stop()
  }
}
