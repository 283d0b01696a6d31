package graft.cdc

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ChangeEventReplaySource

/** The deployed entry point, `Pipeline.start` (read → transform →
  * `write` with `sinkFormat`), against the `writeForeach` path every
  * other spec and probe drives: same settings, same envelopes.
  */
class PipelineStartSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  test("Pipeline.start delivers the envelopes writeForeach collects") {
    val fixture = "pipeline-start-golden"
    val opts = ChangeEventReplaySource.register(fixture,
      ChangeEvents.goldenEvents)
    def settings(name: String) = Settings(
      sourceFormat = "graft-replay",
      sourceOptions = opts,
      topicPrefix = "test",
      sinkFormat = "memory",
      checkpointLocation = Files.createTempDirectory("graft-cp").toString,
      triggerInterval = "0 seconds",
      streamReaderName = name)
    try {
      val started = settings("pipeline_start_out")
      val q = Pipeline.start(spark, started)
      val fromStart =
        try {
          q.processAllAvailable()
          spark.table(started.streamReaderName)
            .select("topic", "key", "value").collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
        } finally q.stop()

      val viaForeach = settings("pipeline_foreach_out")
      val collected = mutable.ArrayBuffer.empty[(String, String, String)]
      val envelopes =
        Pipeline.transform(Pipeline.read(spark, viaForeach), viaForeach)
      val fq = Pipeline.writeForeach(envelopes, viaForeach) { (batch, _) =>
        val rows = batch.select("topic", "key", "value").collect()
        collected.synchronized {
          collected ++= rows.map(r =>
            (r.getString(0), r.getString(1), r.getString(2)))
        }
      }
      try fq.processAllAvailable() finally fq.stop()

      // the 4 data ops of the 7 golden events (insert, 2 updates, delete)
      assert(collected.length === 4)
      assert(fromStart.sorted === collected.toSeq.sorted)
    } finally ChangeEventReplaySource.unregister(fixture)
  }

  test("per-key order survives 4 source partitions, 4 sink partitions and 3+ batches (P4)") {
    // 8 documents × 40 updates in a seeded interleave; each update's
    // document carries a per-key counter n = 0, 1, ..., so source order
    // per key is ascending n
    val keys = 8
    val perKey = 40
    val order = new scala.util.Random(7).shuffle(
      (0 until keys).flatMap(Seq.fill(perKey)(_)))
    val next = Array.fill(keys)(0)
    val events = order.zipWithIndex.map { case (k, i) =>
      val n = next(k)
      next(k) += 1
      ChangeEventRow(ResumeToken(f"$i%08x"), "update",
        new java.sql.Timestamp(1720890531000L + i),
        new java.sql.Timestamp(1720890531000L + i), Ns("db", s"c${k % 3}"),
        Some(s"""{"_id": $k}"""), Some(s"""{"_id": $k, "n": $n}"""),
        None, None)
    }
    val fixture = "pipeline-key-order"
    val opts = ChangeEventReplaySource.register(fixture, events) ++
      Map("partitions" -> "4", "maxRowsPerBatch" -> "64")
    val s = Settings(
      sourceFormat = "graft-replay",
      sourceOptions = opts,
      checkpointLocation = Files.createTempDirectory("graft-cp").toString,
      triggerInterval = "0 seconds",
      sinkPartitions = Some(4),
      streamReaderName = "pipeline_key_order")
    // (batch id, Spark partition, position in partition, key, value)
    val seen = mutable.ArrayBuffer.empty[(Long, Int, Int, String, String)]
    try {
      val q = Pipeline.writeForeach(
          Pipeline.transform(Pipeline.read(spark, s), s), s) { (batch, id) =>
        val rows = batch.select("key", "value").rdd
          .mapPartitionsWithIndex { (p, it) =>
            it.zipWithIndex.map { case (r, i) =>
              (p, i, r.getString(0), r.getString(1))
            }
          }.collect()
        seen.synchronized {
          seen ++= rows.map { case (p, i, k, v) => (id, p, i, k, v) }
        }
      }
      try q.processAllAvailable() finally q.stop()
    } finally ChangeEventReplaySource.unregister(fixture)

    assert(seen.length === keys * perKey)
    assert(seen.map(_._1).distinct.size >= 3, "expected at least 3 batches")
    assert(seen.map(_._2).distinct.size > 1, "expected several sink partitions")
    val counter = """"n": (\d+)""".r
    for ((k, recs) <- seen.groupBy(_._4)) {
      for ((b, rs) <- recs.groupBy(_._1))
        assert(rs.map(_._2).distinct.size === 1,
          s"key $k spans several partitions in batch $b")
      val ns = recs.sortBy(r => (r._1, r._3))
        .map(r => counter.findFirstMatchIn(r._5).get.group(1).toInt)
      assert(ns === (0 until perKey), s"key $k arrived out of source order")
    }
  }
}
