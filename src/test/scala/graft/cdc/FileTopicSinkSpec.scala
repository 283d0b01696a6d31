package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, countDistinct, spark_partition_id}
import org.apache.spark.sql.graftshim.drainListenerBus
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** `FileTopicSink.append` writes the bytes Spark's JSON datasource
  * writes, keeps each key's order on both of the writer's paths
  * (concurrent topic files, and Spark's sort past `ConcurrentWriters`
  * topics per task), and plans no sort by topic.
  */
class FileTopicSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  private val schema = StructType(Seq("topic", "key", "value")
    .map(StructField(_, StringType)))

  private def frame(rows: Seq[(String, String, String)], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (t, k, v) => Row(t, k, v) }, parts), schema)

  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  private def topicDirs(root: Path): Seq[Path] =
    list(root).filter(_.getFileName.toString.startsWith("topic="))

  private def partFiles(topicDir: Path): Seq[Path] =
    list(topicDir).filter(_.getFileName.toString.startsWith("part-"))

  /** Runs `body` and returns the executed plans of the SQL executions
    * it ran.
    */
  private def plansOf(body: => Unit): Seq[QueryExecution] = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toList)
  }

  // descends into adaptive plans and their query stages
  private object Plans extends AdaptiveSparkPlanHelper

  private def sorts(qes: Seq[QueryExecution]): Int =
    qes.map(qe => Plans.collect(qe.executedPlan) { case s: SortExec => s }.length).sum

  test("part files hold the JSON datasource writer's bytes, escapes and nulls included") {
    val controls = (0 until 0x20).map(_.toChar).mkString
    val values = Seq(
      controls + "\"\\/\u007f",
      "{\"a\": \"line\u2028sep\", \"b\": \"é€😀\"}",
      "",
      "plain")
    val rows =
      values.zipWithIndex.map { case (v, i) => ("t.a", s"k$i\u0001", v) } ++
        values.map(v => ("t.b", v, v)) ++
        Seq(("t.c", null, "{\"only\": \"value\"}"), ("t.c", "only-key", null),
          ("t.c", null, null))
    val df = frame(rows, 1)
    val root = Files.createTempDirectory("graft-sink-parity")
    val ours = root.resolve("ours")
    val json = root.resolve("json")
    val qes = plansOf {
      FileTopicSink.append(df, ours.toString)
      df.write.partitionBy("topic").json(json.toString)
    }
    val dirs = topicDirs(ours)
    assert(dirs.map(_.getFileName) === topicDirs(json).map(_.getFileName))
    assert(dirs.length === 3)
    for (d <- dirs) {
      val a = partFiles(d)
      val b = partFiles(json.resolve(d.getFileName))
      assert(a.forall(_.getFileName.toString.endsWith(".txt")))
      assert(a.map(f => new String(Files.readAllBytes(f), UTF_8)) ===
        b.map(f => new String(Files.readAllBytes(f), UTF_8)), d.getFileName)
      assert(a.map(Files.readAllBytes(_).toSeq) === b.map(Files.readAllBytes(_).toSeq))
    }
    val c = new String(Files.readAllBytes(partFiles(ours.resolve("topic=t.c")).head), UTF_8)
    assert(c === "{\"value\":\"{\\\"only\\\": \\\"value\\\"}\"}\n" +
      "{\"key\":\"only-key\"}\n{}\n")
    // the JSON writer's planned write sorts by topic; the sink's does not
    assert(sorts(qes) === 1)
  }

  private val mapper = new ObjectMapper()

  /** Reads the sink back as `perfbench.Oracle.readSink` does (topic
    * dirs, then part files, in name order) and returns each key's
    * counters in the order read.
    */
  private def countersByKey(root: Path): Map[String, Seq[Int]] = {
    val got = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
    for (t <- topicDirs(root); f <- partFiles(t);
         line <- Files.readAllLines(f, UTF_8).asScala if line.nonEmpty) {
      val n = mapper.readTree(line)
      got.getOrElseUpdate(n.get("key").asText(), mutable.ArrayBuffer.empty) +=
        mapper.readTree(n.get("value").asText()).get("n").asInt()
    }
    got.view.mapValues(_.toSeq).toMap
  }

  for ((label, topics) <- Seq("concurrent topic files" -> 12,
      "Spark's sort past the writer limit" -> (FileTopicSink.ConcurrentWriters + 22))) {
    test(s"each key's records keep source order: $label") {
      val keys = 4 * topics
      val perKey = 6
      // counters interleaved across keys, as a source batch delivers them
      val rows = for (n <- 0 until perKey; k <- 0 until keys)
        yield (f"t.${k % topics}%03d", s"""{"_id": $k}""", s"""{"n": $n, "pad": "é\\n"}""")
      val df = EnvelopeTransform.repartitionByKey(frame(rows, 1), 2)
      val perTask = df.groupBy(spark_partition_id()).agg(countDistinct(col("topic")))
        .collect().map(_.getLong(1))
      if (topics > FileTopicSink.ConcurrentWriters)
        assert(perTask.forall(_ > FileTopicSink.ConcurrentWriters), perTask.toSeq)
      else assert(perTask.forall(_ <= FileTopicSink.ConcurrentWriters), perTask.toSeq)

      val key = SQLConf.MAX_CONCURRENT_OUTPUT_FILE_WRITERS.key
      val before = spark.conf.getOption(key)
      val root = Files.createTempDirectory("graft-sink-order")
      val qes = plansOf(FileTopicSink.append(df, root.toString))
      assert(spark.conf.getOption(key) === before, "the writer limit is restored")
      assert(sorts(qes) === 0)

      assert(topicDirs(root).length === topics)
      val got = countersByKey(root)
      assert(got.size === keys)
      got.foreach { case (k, ns) => assert(ns === (0 until perKey), k) }
    }
  }
}
