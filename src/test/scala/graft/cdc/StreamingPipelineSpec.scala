package graft.cdc

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming slice + crash-recovery contract (SURVEY §3.3,
  * §7.3): run the pipeline over the golden events from a file source,
  * stop, append more input, restart from the same checkpoint, and
  * assert no loss and no re-delivery of committed batches — the Spark
  * equivalent of the reference's resume-token protocol tests.
  */
class StreamingPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  test("pipeline streams golden events to envelopes; restart resumes, not replays") {
    val srcDir = Files.createTempDirectory("graft-src").toString
    val cpDir = Files.createTempDirectory("graft-cp").toString
    val store = new InMemoryTokenStore
    val settings = Settings(
      sourceFormat = "parquet",
      sourceOptions = Map("path" -> srcDir),
      topicPrefix = "test",
      checkpointLocation = cpDir,
      triggerInterval = "1 seconds",
      streamReaderName = "test-stream-reader-name")

    val received = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    val listener = new TokenStoreListener(settings.streamReaderName, store)
    spark.streams.addListener(listener)

    def runOnce(): Unit = {
      val envelopes = Pipeline.transform(Pipeline.read(spark, settings), settings)
      val q = Pipeline.writeForeach(envelopes, settings) { (batch, id) =>
        batch.collect().foreach { r =>
          received.synchronized {
            received += ((id, r.getString(0), r.getString(1), r.getString(2)))
          }
        }
      }
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    }

    try {
      // wave 1: the 7 golden events → exactly 4 envelopes, ops c,u,u,d
      ChangeEvents.golden(spark).coalesce(1)
        .write.mode(SaveMode.Append).parquet(srcDir)
      val before = System.currentTimeMillis()
      runOnce()
      val wave1 = received.toSeq
      assert(wave1.length === 4)
      val ops = wave1.map(_._4).map(v =>
        """"op": "(\w)"""".r.findFirstMatchIn(v).get.group(1))
      assert(ops === Seq("c", "u", "u", "d"))
      assert(wave1.forall(_._2 === "test.test-database.TestCollection"))

      // resume token mirror advanced (C4 parity)
      val tok1 = store.load(settings.streamReaderName)
      val after = System.currentTimeMillis()
      assert(tok1.nonEmpty, "listener should have saved a token")
      // the date is the wall clock as an instant, not a local time
      // re-read through the default zone
      val saved = tok1.get.date.getTime
      assert(saved >= before && saved <= after, s"date $saved not in [$before, $after]")

      // wave 2: append one more insert; restart from the same
      // checkpoint → ONLY the new event is delivered (no replay of
      // committed offsets = the C1/C5 resume contract)
      import spark.implicits._
      val extra = Seq(ChangeEvents.goldenEvents.head.copy(
        _id = ResumeToken("FFEE00"),
        fullDocument = Some("""{"_id": {"$oid": "aaaabbbbccccddddeeeeffff"}, "a": 9}""")))
      spark.createDataFrame(extra.toDF().rdd, ChangeEvents.schema)
        .coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)
      runOnce()
      val wave2 = received.drop(wave1.length)
      assert(wave2.length === 1, s"expected only the new event, got $wave2")
      assert(wave2.head._4.contains("\"a\": 9"))
    } finally {
      spark.streams.removeListener(listener)
    }
  }

  test("TopicEnsurer creates each topic exactly once (K4)") {
    val created = mutable.ArrayBuffer.empty[String]
    val ensurer = new TopicEnsurer((t, _) => created.synchronized { created += t })
    val batch = EnvelopeTransform(ChangeEvents.golden(spark), "test")
    ensurer.ensure(batch)
    ensurer.ensure(batch) // second batch, same topics → cached, no call
    assert(created.toSeq === Seq("test.test-database.TestCollection"))
  }

  test("TopicEnsurer passes the full creation spec from settings (K4 config parity)") {
    // The reference creates topics with partitions/replication/config
    // from NewTopicConfiguration (settings.py:31-34, producer.py:43-64)
    val spec = TopicSpec(numPartitions = 6, replicationFactor = 3,
      config = Map("cleanup.policy" -> "compact", "retention.ms" -> "-1"))
    val created = mutable.ArrayBuffer.empty[(String, TopicSpec)]
    val ensurer = new TopicEnsurer(
      (t, s) => created.synchronized { created += ((t, s)) }, spec)
    val batch = EnvelopeTransform(ChangeEvents.golden(spark), "test")
    ensurer.ensure(batch)
    assert(created.toSeq ===
      Seq(("test.test-database.TestCollection", spec)))
  }

  test("drop/dropDatabase/invalidate-only input advances offsets with zero rows") {
    // §7.3 hard part 2: token-only heartbeats. A batch of only
    // non-data events must commit offsets (so restart won't rescan)
    // while emitting nothing.
    val srcDir = Files.createTempDirectory("graft-src2").toString
    val cpDir = Files.createTempDirectory("graft-cp2").toString
    val settings = Settings(
      sourceFormat = "parquet",
      sourceOptions = Map("path" -> srcDir),
      checkpointLocation = cpDir,
      triggerInterval = "1 seconds",
      streamReaderName = "heartbeat-reader")

    import spark.implicits._
    val nonData = ChangeEvents.goldenEvents.filter(e =>
      !ChangeEvents.DataOps.contains(e.operationType))
    spark.createDataFrame(nonData.toDF().rdd, ChangeEvents.schema)
      .coalesce(1).write.mode(SaveMode.Append).parquet(srcDir)

    var rows = 0L
    var batches = 0
    val envelopes = Pipeline.transform(Pipeline.read(spark, settings), settings)
    val q = Pipeline.writeForeach(envelopes, settings) { (batch, _) =>
      batches += 1; rows += batch.count()
    }
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    assert(rows === 0)
    // offset log committed → a restart sees nothing new
    var rows2 = 0L
    val env2 = Pipeline.transform(Pipeline.read(spark, settings), settings)
    val q2 = Pipeline.writeForeach(env2, settings) { (batch, _) =>
      rows2 += batch.count()
    }
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    assert(rows2 === 0)
  }

  test("file-writer sink: envelopes land under one directory per topic") {
    // The reference's file-writer mode (`tests/mocks/kafka.py:85-100`):
    // per-topic append instead of Kafka produce.
    val srcDir = Files.createTempDirectory("graft-src3").toString
    val cpDir = Files.createTempDirectory("graft-cp3").toString
    val outDir = Files.createTempDirectory("graft-topics").toString
    val settings = Settings(
      sourceFormat = "parquet",
      sourceOptions = Map("path" -> srcDir),
      topicPrefix = "test",
      checkpointLocation = cpDir,
      triggerInterval = "1 seconds",
      streamReaderName = "file-writer-reader")

    ChangeEvents.golden(spark).coalesce(1)
      .write.mode(SaveMode.Append).parquet(srcDir)
    val envelopes = Pipeline.transform(Pipeline.read(spark, settings), settings)
    val q = Pipeline.writeForeach(envelopes, settings)((b, _) =>
      FileTopicSink.append(b, outDir))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    val written = spark.read.json(outDir)
    assert(written.count() === 4)
    assert(written.select("topic").distinct().collect().map(_.getString(0))
      .toSeq === Seq("test.test-database.TestCollection"))
    // key/value survive the round trip
    val keys = written.select("key").distinct().collect().map(_.getString(0))
    assert(keys.toSeq === Seq(ChangeEvents.docKeyJson))
  }
}
