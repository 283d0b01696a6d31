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
}
