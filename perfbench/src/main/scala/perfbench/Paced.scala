package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{ChangeEventRow, FileTokenStore, TokenStoreListener}

/** One step of the open-loop rate ladder. */
final case class RungSpec(eventsPerS: Double, seconds: Double)

/** What one rung of the ladder measured. */
final case class RungResult(
    spec: RungSpec,
    /** per-event samples after the rung's first quarter */
    latencies: Seq[Double],
    tokenLags: Seq[Double],
    lateness: Seq[Double],
    /** events added but not yet delivered when the rung ended */
    backlogEnd: Long,
    /** events delivered per second while the rung ran */
    achievedPerS: Double,
    /** key + value MB per second between the same appends */
    mbPerS: Double,
    passed: Boolean)

/** One capacity block: `events` added in one `addData` call to an
  * idle query, delivered by one batch in `seconds` (addData to the
  * return of that batch's append), `bytes` of key + value written.
  */
final case class CapacityBlock(events: Long, seconds: Double, bytes: Long) {
  def eventsPerS: Double = events / seconds
  def mbPerS: Double = bytes / 1e6 / seconds
}

/** The paced workload: one generator thread appends events to a
  * MemoryStream on a fixed schedule (an open loop: it never waits
  * for the pipeline) and the query runs with a `0 seconds` trigger.
  * Each event's `wallTime` is the time it was due, and its latency is
  * measured from that time.
  */
final class Paced(bench: Bench, fx: Fixture, priming: Int) {
  import bench.spark

  private def stamp(e: ChangeEventRow, epochMs: Long): ChangeEventRow =
    e.copy(wallTime = new Timestamp(epochMs))

  /** Start a query over a fresh MemoryStream whose first batch holds
    * the first `priming` events, and wait for that batch's commit.
    */
  private def startPrimed(kind: String) = {
    val (name, dir) = bench.fresh(kind)
    // One input partition, as a change-stream cursor delivers: with
    // several, MemoryStream deals rows out round-robin and the keyed
    // repartition no longer sees a key's events in stream order.
    val stream = MemoryStream[ChangeEventRow](spark, 1)(Encoders.product[ChangeEventRow])
    val s = bench.settings(name, dir, Map.empty)
    val store = new TimedTokenStore(new FileTokenStore(dir.resolve("tokens").toString))
    val listener = new TokenStoreListener(name, store)
    spark.streams.addListener(listener)
    val appended = new ConcurrentHashMap[Long, Long]()
    val now = System.currentTimeMillis()
    // cumulative events through each addData call (the stream's offset)
    val blocks = mutable.ArrayBuffer(priming.toLong)
    stream.addData(fx.events.take(priming).map(stamp(_, now)))
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    val q = bench.start(bench.transform(stream.toDF(), s, legacy = false), s,
      Some(dir.resolve("sink")), appended)
    bench.await(s"$name first commit")(bench.progress.of(name).nonEmpty)
    Primed(name, dir, stream, blocks, store, listener, appended, q, startMs, startNs)
  }

  private case class Primed(name: String, dir: Path, stream: MemoryStream[ChangeEventRow],
      blocks: mutable.ArrayBuffer[Long], store: TimedTokenStore,
      listener: TokenStoreListener, appended: ConcurrentHashMap[Long, Long],
      q: StreamingQuery, startMs: Long, startNs: Long)

  /** Stop the query once every added event is delivered and covered by
    * a token save, then check the sink output against the fixture.
    */
  private def finish(p: Primed): PassResult = {
    import p._
    val n = blocks.last.toInt
    val last = blocks.length - 1L
    try {
      try q.processAllAvailable() finally q.stop()
      bench.await(s"$name progress")(
        bench.progress.of(name).exists(_.endOffset.contains(last)))
      bench.await(s"$name token")(store.covered.exists(_._1 == last))
      val sink = dir.resolve("sink")
      PassResult(name, q.id.toString, startMs, startNs, bench.progress.of(name),
        appended.asScala.map { case (k, v) => k -> v.longValue }.toMap, Some(store),
        dir, Some(sink), fx.expected.take(n).flatten, bench.filesPerBatch(sink), n,
        eventsAt = o => blocks(o.toInt))
    } finally spark.streams.removeListener(listener)
  }

  /** A start-up probe: query start to the first commit of the primed batch. */
  def probe(): PassResult = finish(startPrimed("paced-probe"))

  /** Run `warmBlocks` unmeasured blocks of `blockEvents`, then the
    * ladder, with `blocksAfter(k)` capacity blocks after rung `k`.
    * Returns the pass, one result per rung and one per capacity block.
    */
  def ladder(rungs: Seq[RungSpec], limitMs: Double, warmBlocks: Int, blocksAfter: Seq[Int],
      blockEvents: Int): (PassResult, Seq[RungResult], Seq[CapacityBlock]) = {
    require(blocksAfter.length == rungs.length)
    val total = priming + rungs.map(r => (r.eventsPerS * r.seconds).toInt).sum +
      (warmBlocks + blocksAfter.sum) * blockEvents
    require(total <= fx.events.length, s"ladder needs $total events")
    val p = startPrimed("paced")
    import p.{name, stream, blocks}
    val due = new Array[Long](total)
    val added = new Array[Long](total)
    val rungStart = new Array[Long](rungs.length)
    val rungEnd = new Array[Long](rungs.length)
    // each rung's events, as [lo, hi) indexes into the fixture
    val rungLo = new Array[Int](rungs.length)
    val rungHi = new Array[Int](rungs.length)
    // MemoryStream offset of each capacity block -> nanoTime it was added
    val capacityAdds = mutable.ArrayBuffer.empty[(Long, Long)]
    // nanoTime -> epoch ms for the wallTime stamp
    val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val gen = new Thread(() => {
      var i = priming
      def idle(): Unit = {
        val last = blocks.length - 1L
        bench.await(s"$name delivered $last")(
          bench.progress.of(name).exists(_.endOffset.contains(last)))
      }
      // a whole block, added once every earlier event is delivered, so
      // one batch carries exactly that block; returns when it was added
      def block(): Long = {
        idle()
        val nowMs = System.currentTimeMillis()
        val evs = (i until i + blockEvents).map(x => stamp(fx.events(x), nowMs))
        val t = System.nanoTime()
        stream.addData(evs)
        blocks += i + blockEvents
        (i until i + blockEvents).foreach { x => due(x) = t; added(x) = t }
        i += blockEvents
        t
      }
      // full batches warm the JIT up, which a trickle does only slowly
      (0 until warmBlocks).foreach(_ => block())
      idle()
      rungs.zipWithIndex.foreach { case (r, ri) =>
        val n = (r.eventsPerS * r.seconds).toInt
        val t0 = System.nanoTime()
        rungStart(ri) = t0
        rungLo(ri) = i
        rungHi(ri) = i + n
        var k = 0
        while (k < n) { due(i + k) = t0 + (k * 1e9 / r.eventsPerS).toLong; k += 1 }
        k = 0
        while (k < n) {
          val now = System.nanoTime()
          var j = k
          while (j < n && due(i + j) <= now) j += 1
          if (j > k) {
            val evs = (k until j).map(x =>
              stamp(fx.events(i + x), (due(i + x) + epochNs) / 1000000L))
            stream.addData(evs)
            blocks += i + j
            val t = System.nanoTime()
            (k until j).foreach(x => added(i + x) = t)
            bench.spans.add(Span("generator.addData", name, -1, now, t, "paced"))
            k = j
          } else LockSupport.parkNanos(math.min(due(i + k) - now, 1000000L))
        }
        i += n
        rungEnd(ri) = t0 + (r.seconds * 1e9).toLong
        while (System.nanoTime() < rungEnd(ri)) LockSupport.parkNanos(200000L)
        if (blocksAfter(ri) > 0) {
          (0 until blocksAfter(ri)).foreach { _ =>
            val t = block()
            capacityAdds += blocks.length - 1L -> t
          }
          idle()
        }
      }
    }, "paced-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    require(capacityAdds.length == blocksAfter.sum, "the generator stopped early")
    val pass = finish(p)
    (0 until priming).foreach(i => due(i) = pass.startNs)

    val results = rungs.indices.map { ri =>
      val (lo, hi) = (rungLo(ri), rungHi(ri))
      // the first quarter of a rung carries over the previous rung's queue
      val from = lo + (hi - lo) / 4
      val in = (i: Long) => i >= from && i < hi
      val lat = pass.deliveryMs(i => due(i.toInt), in).toSeq
      val lag = pass.tokenLagMs(i => due(i.toInt), in).toSeq
      val late = (from until hi).map(i => (added(i) - due(i)) / 1e6)
      val delivered = pass.batches.filter(b => pass.appended(b.id) <= rungEnd(ri))
        .map(b => pass.covers(b.endOffset)).maxOption.getOrElse(0L)
      val backlog = math.max(0L, hi - delivered)
      // delivery rate between the appends that return inside the rung's
      // window (after its first quarter), or over the batches carrying
      // the rung when fewer than two return there
      val carrying = pass.batches.filter(b =>
        pass.covers(b.endOffset) > lo && pass.covers(b.startOffset) < hi)
      val window = pass.batches.filter { b =>
        val t = pass.appended(b.id)
        t >= rungStart(ri) + (rungEnd(ri) - rungStart(ri)) / 4 && t <= rungEnd(ri)
      }
      val bs = if (window.length >= 2) window else carrying
      val secs = (pass.appended(bs.last.id) - pass.appended(bs.head.id)) / 1e9
      val perS = (pass.covers(bs.last.endOffset) - pass.covers(bs.head.endOffset)) / secs
      val mbPerS = bs.tail.map(b => pass.verdict.get.bytesByBatch.getOrElse(b.id, 0L))
        .sum / 1e6 / secs
      val p99 = Stats.percentile(lat, 99)
      RungResult(rungs(ri), lat, lag, late, backlog, perS, mbPerS,
        // a backlog that grows shows as delivery falling behind the offer
        p99.exists(_ <= limitMs) && perS >= 0.8 * rungs(ri).eventsPerS)
    }
    val capacity = capacityAdds.toSeq.map { case (off, t) =>
      val b = pass.batches.find(_.endOffset.contains(off)).get
      require(b.startOffset.contains(off - 1) && b.rows == blockEvents,
        s"capacity block at offset $off was not delivered by one batch")
      CapacityBlock(b.rows, (pass.appended(b.id) - t) / 1e9,
        pass.verdict.get.bytesByBatch.getOrElse(b.id, 0L))
    }
    (pass, results, capacity)
  }
}
