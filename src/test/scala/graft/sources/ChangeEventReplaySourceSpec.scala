package graft.sources

import java.io.{ByteArrayOutputStream, ObjectOutputStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{ChangeEvents, EnvelopeTransform, Ns, ResumeToken}

/** The replay MicroBatchStream against the reference reader's
  * contract: deployment-wide scope (S2), batch-size pacing (S3/S5),
  * and offsets that advance on heartbeat-only events (S6/P5); and its
  * planning, which hands each task an index range, not rows.
  */
class ChangeEventReplaySourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  // Two namespaces (the connector can only watch one collection; the
  // reference watches the whole deployment) + the 3 heartbeat ops at
  // the tail.
  private def fixture = {
    val ns2 = Ns("other-db", "OtherCollection")
    val dataOps = ChangeEvents.goldenEvents.take(4)
    dataOps ++ dataOps.map(e => e.copy(ns = ns2)) ++
      ChangeEvents.goldenEvents.drop(4) // drop, dropDatabase, invalidate
  }

  test("deployment-wide replay: paced batches, all namespaces, heartbeat offsets") {
    val opts = ChangeEventReplaySource.register("spec-fixture", fixture)
    val events = spark.readStream.format("graft-replay")
      .options(opts)
      .option("maxRowsPerBatch", "3")
      .load()
    val out = EnvelopeTransform(events, topicPrefix = "test")
    val q = out.writeStream
      .format("memory").queryName("replay_out")
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("replay_out").collect()
      // 8 data events survive the F1 filter (4 per namespace)...
      assert(rows.length === 8)
      // ...and route to both namespaces (S2: one stream, many ns)
      val topics = rows.map(_.getString(0)).distinct.sorted
      assert(topics === Array(
        "test.other-db.OtherCollection", "test.test-database.TestCollection"))
      // pacing: no micro-batch admitted more than 3 source rows
      val progressed = q.recentProgress.filter(_.numInputRows > 0)
      assert(progressed.forall(_.numInputRows <= 3),
        progressed.map(_.numInputRows).mkString(","))
      // S6/P5 parity: the committed offset covers ALL 11 events —
      // the trailing heartbeat-only batch (drop/dropDatabase/
      // invalidate → zero output rows) still advanced the sequence.
      val end = q.lastProgress.sources.head.endOffset
      assert(end === "11", s"endOffset=$end")
    } finally q.stop()
  }

  test("restart from checkpoint resumes, not replays (C5 parity)") {
    val opts = ChangeEventReplaySource.register("spec-fixture-2", fixture)
    val ckpt = java.nio.file.Files
      .createTempDirectory("replay_ckpt").toString
    // memory sink can't recover a checkpoint; collect via foreachBatch
    def run(): Long = {
      val seen = new java.util.concurrent.atomic.AtomicLong(0L)
      val events = spark.readStream.format("graft-replay")
        .options(opts).option("maxRowsPerBatch", "4").load()
      val q = EnvelopeTransform(events, "test").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            seen.addAndGet(b.count()): Unit
        }
        .start()
      try { q.processAllAvailable(); seen.get() } finally q.stop()
    }
    assert(run() === 8L)
    // second run with the same checkpoint: everything already
    // committed, nothing re-emitted
    assert(run() === 0L)
  }

  // n distinct events: the golden ones, each with its own token
  private def numbered(n: Int) = (0 until n).map { i =>
    val e = ChangeEvents.goldenEvents(i % ChangeEvents.goldenEvents.length)
    e.copy(_id = ResumeToken(f"$i%08X"))
  }

  private def plan(fixture: String, partitions: Int, start: Long, end: Long) =
    new ReplayMicroBatchStream(fixture, 1000, partitions)
      .planInputPartitions(SeqOffset(start), SeqOffset(end))

  private def read(stream: ReplayMicroBatchStream, p: InputPartition) = {
    val r = stream.createReaderFactory().createReader(p)
    val out = Iterator.continually(r).takeWhile(_.next()).map(_.get()).toVector
    r.close()
    out
  }

  private def serializedBytes(p: InputPartition): Int = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(p)
    out.close()
    bytes.size()
  }

  // (fixture rows, partitions, start, end)
  private val planCases = Seq(
    (10, 4, 0, 10), (3, 4, 0, 3), (10, 4, 5, 5), (11, 2, 10, 11),
    (8, 4, 0, 8), (100, 3, 7, 57), (50000, 4, 0, 50000))

  test("planning: contiguous ranges in order, exactly covering [start, end)") {
    for ((n, partitions, start, end) <- planCases) {
      val fixture = s"plan-$n-$partitions-$start-$end"
      ChangeEventReplaySource.register(fixture, numbered(n))
      try {
        val clue = s"rows=$n partitions=$partitions [$start, $end)"
        val parts = plan(fixture, partitions, start, end)
        assert(parts.length <= partitions, clue)
        assert(parts.toSeq === plan(fixture, partitions, start, end).toSeq,
          s"$clue: two calls planned differently")
        val ranges = parts.toSeq.map { case ReplayPartition(f, from, until) =>
          assert(f === fixture, clue)
          (from, until)
        }
        // the boundaries of grouping the batch's rows into
        // ceil(size / partitions) runs
        val step = math.max(1, (end - start + partitions - 1) / partitions)
        assert(ranges === (start until end).grouped(step)
          .map(g => (g.head, g.last + 1)).toSeq, clue)
        // non-empty, contiguous, in order, exactly [start, end)
        assert(ranges.forall { case (from, until) => from < until } &&
          ranges.flatMap { case (from, until) => Range(from, until) } ===
            (start until end), clue)
        // the readers return the fixture's rows [start, end) in order
        val stream = new ReplayMicroBatchStream(fixture, 1000, partitions)
        val got: Seq[InternalRow] = parts.toSeq.flatMap(read(stream, _))
        assert(got === ChangeEventReplaySource.rows(fixture).slice(start, end).toSeq,
          clue)
      } finally ChangeEventReplaySource.unregister(fixture)
    }
  }

  test("planning: a partition serializes to under 1 KB, whatever the batch size") {
    for ((n, partitions, start, end) <- planCases) {
      val fixture = s"size-$n-$partitions-$start-$end"
      ChangeEventReplaySource.register(fixture, numbered(n))
      try {
        val sizes = plan(fixture, partitions, start, end).map(serializedBytes)
        assert(sizes.forall(_ < 1024),
          s"rows=$n [$start, $end): partition bytes ${sizes.mkString(",")}")
      } finally ChangeEventReplaySource.unregister(fixture)
    }
  }

  test("a reader of a fixture unregistered after planning fails, naming it") {
    val fixture = "unregistered-after-planning"
    ChangeEventReplaySource.register(fixture, numbered(10))
    val stream = new ReplayMicroBatchStream(fixture, 1000, 2)
    val parts = stream.planInputPartitions(SeqOffset(0), SeqOffset(10))
    assert(parts.nonEmpty)
    ChangeEventReplaySource.unregister(fixture)
    for (p <- parts) {
      val e = intercept[IllegalArgumentException](read(stream, p))
      assert(e.getMessage.contains(fixture), e.getMessage)
    }
  }

  test("a reader of a fixture re-registered shorter after planning fails, naming it") {
    val fixture = "shortened-after-planning"
    ChangeEventReplaySource.register(fixture, numbered(10))
    try {
      val stream = new ReplayMicroBatchStream(fixture, 1000, 2)
      val parts = stream.planInputPartitions(SeqOffset(0), SeqOffset(10))
      // a restart replays the logged batch [0, 10) against 7 rows
      ChangeEventReplaySource.register(fixture, numbered(7))
      val Array(first, second) = parts
      assert(read(stream, first).length === 5)
      val e = intercept[IllegalArgumentException](read(stream, second))
      assert(e.getMessage.contains(fixture) && e.getMessage.contains("7 rows"),
        e.getMessage)
    } finally ChangeEventReplaySource.unregister(fixture)
  }
}
