package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{ChangeEventRow, EnvelopeTransform, FileTokenStore, FileTopicSink, Ns, Pipeline, ResumeToken, SavedToken, Settings, TokenStore, TokenStoreListener, UpdateDescription}
import graft.functions.LegacyExtJson
import graft.sources.ChangeEventReplaySource

/** perfbench/ is its own sbt build, which this build's tests never
  * compile. This spec makes every main-code call perfbench makes, in
  * the shapes it makes them, so a signature change fails Test/compile
  * here instead of a benchmark run.
  */
class PerfbenchApiSpec extends AnyFunSuite {

  // type-checked only: a pass of perfbench's pipeline, never run here
  def pipelinePass(cores: String, s: Settings, sinkDir: String): StreamingQuery = {
    val spark: SparkSession = GraftSession.builder(cores).getOrCreate()
    val events: DataFrame = Pipeline.read(spark, s)
    val legacy: DataFrame = EnvelopeTransform.repartitionByKey(
      EnvelopeTransform(events, s.topicPrefix, legacyDialect = true), cores.toInt)
    Pipeline.writeForeach(Pipeline.transform(EnvelopeTransform.filterDataOps(legacy), s), s) {
      (b, id) => FileTopicSink.append(b, s"$sinkDir/batch=$id")
    }
  }

  test("perfbench's calls into the main code keep their shapes") {
    val convert: String => String = LegacyExtJson.convert
    assert(convert("""{"a": {"$numberLong": "1"}}""") === """{"a": 1}""")

    val ts = new Timestamp(0L)
    val row = ChangeEventRow(ResumeToken("82"), "update", ts, ts, Ns("db", "c"),
      Some("{}"), None, None, Some(UpdateDescription("{}", Seq("x"), Seq.empty, null)))
    val source: Map[String, String] = ChangeEventReplaySource.register("perfbench-api", Seq(row))
    ChangeEventReplaySource.unregister("perfbench-api")
    val s = Settings(sourceFormat = "graft-replay", sourceOptions = source,
      topicPrefix = "p", checkpointLocation = "cp", triggerInterval = "0 seconds",
      sinkPartitions = Some(2), streamReaderName = "perfbench-api")
    assert(s.streamReaderName === "perfbench-api")

    val dir = Files.createTempDirectory("perfbench-api")
    try {
      val store: TokenStore = new FileTokenStore(dir.toString)
      store.save(SavedToken("perfbench-api", "[1]", ts))
      assert(store.load("perfbench-api").map(_.token) === Some("[1]"))
      assert(new TokenStoreListener("perfbench-api", store) != null)
    } finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }
}
