package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path => HPath}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions.{col, countDistinct, lit, raise_error, spark_partition_id, when}
import org.apache.spark.sql.graftshim.drainListenerBus
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ChangeEventReplaySource

/** `FileTopicSink.append` writes the files Spark's partitioned JSON
  * writer writes (bytes, topic directories, null topics), keeps each
  * key's order, commits a batch's files only when every task
  * succeeded, and is one Spark job with no SQL execution of its own.
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

  private def walk(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toList finally s.close()
  }

  /** The topic directories under `a` and `b` have the same names and
    * their part files, in name order, the same bytes.
    */
  private def assertSameFiles(a: Path, b: Path): Unit = {
    val dirs = topicDirs(a)
    assert(dirs.map(_.getFileName) === topicDirs(b).map(_.getFileName))
    for (d <- dirs) {
      val ours = partFiles(d)
      val theirs = partFiles(b.resolve(d.getFileName))
      assert(ours.forall(_.getFileName.toString.endsWith(".c000.txt")))
      assert(ours.map(f => new String(Files.readAllBytes(f), UTF_8)) ===
        theirs.map(f => new String(Files.readAllBytes(f), UTF_8)), d.getFileName)
      assert(ours.map(Files.readAllBytes(_).toSeq) ===
        theirs.map(Files.readAllBytes(_).toSeq))
    }
  }

  /** What the listener bus saw while `body` ran: job starts (with their
    * properties), SQL execution starts and AQE plan updates.
    */
  private final class Seen extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val executions = mutable.ArrayBuffer.empty[SparkListenerSQLExecutionStart]
    val aqeUpdates = mutable.ArrayBuffer.empty[SparkListenerSQLAdaptiveExecutionUpdate]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized(e match {
      case s: SparkListenerSQLExecutionStart => executions += s
      case u: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates += u
      case _ =>
    })
  }

  private def listening(body: => Unit): Seen = {
    val sc = spark.sparkContext
    val seen = new Seen
    drainListenerBus(sc)
    sc.addSparkListener(seen)
    try { body; drainListenerBus(sc) }
    finally sc.removeSparkListener(seen)
    seen
  }

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
    FileTopicSink.append(df, ours.toString)
    df.write.partitionBy("topic").json(json.toString)
    assert(topicDirs(ours).length === 3)
    assertSameFiles(ours, json)
    val c = new String(Files.readAllBytes(partFiles(ours.resolve("topic=t.c")).head), UTF_8)
    assert(c === "{\"value\":\"{\\\"only\\\": \\\"value\\\"}\"}\n" +
      "{\"key\":\"only-key\"}\n{}\n")
    assert(Files.exists(ours.resolve("_SUCCESS")))
    assert(!Files.exists(ours.resolve("_temporary")))
  }

  test("a null or empty topic goes where Spark's writer puts it, and a topic's path is escaped as Spark's") {
    val rows = Seq((null, "k0", "v0"), ("", "k1", "v1"), ("a/b:c", "k2", "v2"),
      ("t.a", "k3", "v3"), (null, "k4", "v4"))
    val df = frame(rows, 2)
    val root = Files.createTempDirectory("graft-sink-nulltopic")
    FileTopicSink.append(df, root.resolve("ours").toString)
    df.write.partitionBy("topic").json(root.resolve("json").toString)
    assert(topicDirs(root.resolve("ours")).map(_.getFileName.toString) ===
      Seq("topic=__HIVE_DEFAULT_PARTITION__", "topic=a%2Fb%3Ac", "topic=t.a"))
    assertSameFiles(root.resolve("ours"), root.resolve("json"))
  }

  test("every part file has a .crc that verifies, and a flipped byte fails it (control)") {
    val rows = (0 until 200).map(i => (s"t.${i % 3}", s"k$i", "x" * (i % 50)))
    val root = Files.createTempDirectory("graft-sink-crc")
    FileTopicSink.append(frame(rows, 2), root.toString)
    val local = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    def read(f: Path): Array[Byte] = {
      val in = local.open(new HPath(f.toUri))
      try in.readAllBytes() finally in.close()
    }
    val parts = topicDirs(root).flatMap(partFiles)
    assert(parts.length === 6)
    for (f <- parts) {
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
      assert(read(f).toSeq === Files.readAllBytes(f).toSeq)
    }
    val copy = root.resolve("copy.txt")
    Files.copy(parts.head, copy)
    Files.copy(parts.head.resolveSibling(s".${parts.head.getFileName}.crc"),
      root.resolve(".copy.txt.crc"))
    val bytes = Files.readAllBytes(copy)
    bytes(0) = (bytes(0) ^ 1).toByte
    Files.write(copy, bytes)
    intercept[ChecksumException](read(copy))
  }

  test("a task that throws mid-batch leaves no part file and no _temporary") {
    val rows = (0 until 300).map(i => (s"t.${i % 5}", s"k$i", if (i == 250) "boom" else s"v$i"))
    // the first partition's task writes all its rows; the second's
    // throws on its 100th, after writing the 99 before it
    val df = frame(rows, 2).withColumn("value",
      when(col("value") === "boom", raise_error(lit("boom")))
        .otherwise(col("value")))
    val root = Files.createTempDirectory("graft-sink-abort").resolve("sink")
    val e = intercept[Exception](FileTopicSink.append(df, root.toString))
    assert(e.getMessage.contains("boom"))
    val left = if (Files.exists(root)) walk(root) else Nil
    assert(!left.exists(_.getFileName.toString.contains("part-")), left)
    assert(!left.exists(_.getFileName.toString == "_temporary"), left)
    assert(!left.exists(_.getFileName.toString == "_SUCCESS"), left)
  }

  test("append is one Spark job and no SQL execution") {
    val rows = (0 until 100).map(i => (s"t.${i % 4}", s"k$i", s"v$i"))
    val df = frame(rows, 4)
    val root = Files.createTempDirectory("graft-sink-jobs")
    val seen = listening(FileTopicSink.append(df, root.toString))
    assert(seen.jobs.length === 1)
    assert(seen.executions.length === 0)
    assert(walk(root).count(_.getFileName.toString.startsWith("part-")) === 16)
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

  for (topics <- Seq(12, 150)) {
    test(s"each key's records keep source order: $topics topics") {
      val keys = 4 * topics
      val perKey = 6
      // counters interleaved across keys, as a source batch delivers them
      val rows = for (n <- 0 until perKey; k <- 0 until keys)
        yield (f"t.${k % topics}%03d", s"""{"_id": $k}""", s"""{"n": $n, "pad": "é\\n"}""")
      val df = EnvelopeTransform.repartitionByKey(frame(rows, 1), 2)
      val perTask = df.groupBy(spark_partition_id()).agg(countDistinct(col("topic")))
        .collect().map(_.getLong(1))
      // with 150 topics each task has more than 128 topic files open
      assert(perTask.forall(_ > (if (topics > 128) 128 else topics / 2)), perTask.toSeq)

      val root = Files.createTempDirectory("graft-sink-order")
      FileTopicSink.append(df, root.toString)
      assert(topicDirs(root).length === topics)
      val got = countersByKey(root)
      assert(got.size === keys)
      got.foreach { case (k, ns) => assert(ns === (0 until perKey), k) }
    }
  }

  test("a data micro-batch through writeForeach + append is one job and one SQL execution, with no AQE update") {
    // 6 documents × 20 updates over 3 collections, 40 rows a batch
    val events = (0 until 120).map { i =>
      val k = i % 6
      ChangeEventRow(ResumeToken(f"$i%08x"), "update",
        new java.sql.Timestamp(1720890531000L + i),
        new java.sql.Timestamp(1720890531000L + i), Ns("db", s"c${k % 3}"),
        Some(s"""{"_id": $k}"""), Some(s"""{"_id": $k, "n": $i}"""),
        None, None)
    }
    val fixture = "file-sink-one-job"
    val opts = ChangeEventReplaySource.register(fixture, events) ++
      Map("partitions" -> "2", "maxRowsPerBatch" -> "40")
    val out = Files.createTempDirectory("graft-sink-batch").resolve("sink")
    val s = Settings(
      sourceFormat = "graft-replay",
      sourceOptions = opts,
      checkpointLocation = Files.createTempDirectory("graft-sink-batch-cp").toString,
      triggerInterval = "0 seconds",
      sinkPartitions = Some(2),
      streamReaderName = "file_sink_one_job")
    var dataBatches = Seq.empty[Long]
    val seen =
      try listening {
        val q = Pipeline.writeForeach(
            Pipeline.transform(Pipeline.read(spark, s), s), s) { (b, _) =>
          FileTopicSink.append(b, out.toString)
        }
        try {
          q.processAllAvailable()
          dataBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
        } finally q.stop()
      } finally ChangeEventReplaySource.unregister(fixture)

    assert(dataBatches.length === 3)
    // a micro-batch's jobs carry its id; its SQL executions, nested
    // ones included, carry its job description, which ends in it
    val jobsOf = seen.jobs.groupBy(j =>
      Option(j.properties).map(_.getProperty("streaming.sql.batchId")).orNull)
    val executionsOf = seen.executions.groupBy(_.description.linesIterator
      .collectFirst { case l if l.startsWith("batch = ") => l.stripPrefix("batch = ") }
      .orNull)
    for (b <- dataBatches.map(_.toString)) {
      val ids = executionsOf.getOrElse(b, Nil).map(_.executionId).toSet
      assert(jobsOf.getOrElse(b, Nil).length === 1, s"jobs of batch $b")
      assert(ids.size === 1, s"SQL executions of batch $b")
      assert(seen.aqeUpdates.count(u => ids(u.executionId)) === 0,
        s"AQE plan updates of batch $b")
    }
    val written = walk(out).filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.readAllLines(p).size).sum
    assert(written === events.length)
  }
}
