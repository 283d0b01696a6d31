package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{ChangeEventRow, EnvelopeTransform, FileTokenStore, FileTopicSink, Pipeline, Settings, TokenStoreListener}
import graft.sources.ChangeEventReplaySource

/** How much of the pipeline a pass runs: the rungs of the ablation
  * ladder, in order. `Full` is the deployed pipeline with its file
  * sink and token store.
  */
sealed abstract class Rung(val label: String)
object Rung {
  case object Source extends Rung("source")
  case object Filter extends Rung("filter")
  case object Envelope extends Rung("envelope")
  case object Codec extends Rung("codec")
  case object Repartition extends Rung("repartition")
  case object FileSink extends Rung("file_sink")
  case object Full extends Rung("token_store")
}

/** Shared state of one benchmark process: the session, the listeners
  * and the working directory.
  */
final class Bench(val spark: SparkSession, val work: Path, val spans: SpanLog,
    val cores: Int) {
  val progress = new ProgressLog
  val tasks = new TaskCounters
  spark.streams.addListener(progress)
  tracing(spans.enabled)

  /** Spans and task counters on or off. */
  def tracing(on: Boolean): Unit = {
    spans.enabled = on
    spark.sparkContext.removeSparkListener(tasks)
    if (on) spark.sparkContext.addSparkListener(tasks)
  }
  private var seq = 0

  def fresh(kind: String): (String, Path) = synchronized {
    seq += 1
    val name = s"$kind-$seq"
    (name, Files.createDirectories(work.resolve(name)))
  }

  def settings(name: String, dir: Path, source: Map[String, String]): Settings =
    Settings(sourceFormat = "graft-replay", sourceOptions = source,
      topicPrefix = Bench.Prefix,
      checkpointLocation = dir.resolve("checkpoint").toString,
      triggerInterval = "0 seconds", sinkPartitions = Some(cores),
      streamReaderName = name)

  /** The deployed transform: `Pipeline.transform` for the verbatim
    * dialect. `Settings` has no dialect field, so the legacy path is
    * composed from the same public calls `Pipeline.transform` makes.
    */
  def transform(events: DataFrame, s: Settings, legacy: Boolean): DataFrame =
    if (!legacy) Pipeline.transform(events, s)
    else EnvelopeTransform.repartitionByKey(
      EnvelopeTransform(events, s.topicPrefix, legacyDialect = true),
      s.sinkPartitions.get)

  def ladder(events: DataFrame, s: Settings, rung: Rung, legacy: Boolean): DataFrame =
    rung match {
      case Rung.Source => events
      case Rung.Filter => EnvelopeTransform.filterDataOps(events)
      case Rung.Envelope => EnvelopeTransform(events, s.topicPrefix)
      case Rung.Codec => EnvelopeTransform(events, s.topicPrefix, legacyDialect = true)
      case _ => transform(events, s, legacy)
    }

  /** Start a foreachBatch query whose sink is `FileTopicSink.append`
    * (one `batch=<id>` directory per micro-batch, so the gate can
    * read delivery order back) or Spark's noop writer. Records when
    * each batch's append returned.
    */
  def start(df: DataFrame, s: Settings, sinkDir: Option[Path],
      appended: ConcurrentHashMap[Long, Long]): StreamingQuery =
    Pipeline.writeForeach(df, s) { (b, id) =>
      spans.time("sink.append", s.streamReaderName, id, "engine.addBatch") {
        sinkDir match {
          case Some(d) => FileTopicSink.append(b, d.resolve(s"batch=$id").toString)
          case None => b.write.format("noop").mode("overwrite").save()
        }
      }
      appended.put(id, System.nanoTime())
    }

  /** Poll until `cond` holds; the listener bus delivers progress and
    * token saves asynchronously after a batch commits.
    */
  def await(what: String, timeoutMs: Long = 60000)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > end)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  /** Replay `rows` through the pipeline up to `rung` in one query. */
  def replay(rows: IndexedSeq[ChangeEventRow], expected: Seq[Envelope],
      maxRows: Int, rung: Rung, legacy: Boolean): PassResult = {
    val (name, dir) = fresh(s"replay-${rung.label}")
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    val source = ChangeEventReplaySource.register(name, rows) ++ Map(
      "maxRowsPerBatch" -> maxRows.toString, "partitions" -> cores.toString)
    val s = settings(name, dir, source)
    val sinkDir = rung match {
      case Rung.FileSink | Rung.Full => Some(dir.resolve("sink"))
      case _ => None
    }
    val store = if (rung == Rung.Full)
      Some(new TimedTokenStore(new FileTokenStore(dir.resolve("tokens").toString)))
    else None
    val listener = store.map(new TokenStoreListener(name, _))
    listener.foreach(spark.streams.addListener)
    val appended = new ConcurrentHashMap[Long, Long]()
    try {
      val q = start(ladder(Pipeline.read(spark, s), s, rung, legacy), s, sinkDir, appended)
      try q.processAllAvailable() finally q.stop()
      val n = rows.length.toLong
      await(s"$name progress")(progress.of(name).exists(_.endOffset.contains(n)))
      store.foreach(t => await(s"$name token")(t.covered.exists(_._1 == n)))
      PassResult(name, q.id.toString, startMs, startNs, progress.of(name),
        appended.asScala.map { case (k, v) => k -> v.longValue }.toMap, store,
        dir, sinkDir, expected, sinkDir.map(filesPerBatch).getOrElse(Map.empty), n)
    } finally {
      listener.foreach(spark.streams.removeListener)
      ChangeEventReplaySource.unregister(name)
      Bench.delete(dir.resolve("checkpoint"))
    }
  }

  def filesPerBatch(sink: Path): Map[Long, Int] =
    if (!Files.isDirectory(sink)) Map.empty
    else Files.list(sink).iterator().asScala.toSeq.map { b =>
      b.getFileName.toString.stripPrefix("batch=").toLong -> Oracle.sinkFiles(b).size
    }.toMap
}

object Bench {
  val Prefix = "bench"

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** What one query delivered, with the timings the metrics need. */
final case class PassResult(
    name: String,
    queryId: String,
    startMs: Long,
    startNs: Long,
    batches: Seq[Batch],
    /** batch id -> nanoTime at which its sink append returned */
    appended: Map[Long, Long],
    tokens: Option[TimedTokenStore],
    /** working directory; the sink output stays there until verified */
    dir: Path,
    sink: Option[Path],
    expected: Seq[Envelope],
    files: Map[Long, Int],
    events: Long,
    /** Events covered by a source offset: the replay source's offset
      * is the count of rows admitted; a MemoryStream's is the index of
      * its last `addData` call.
      */
    eventsAt: Long => Long = identity) {

  def covers(offset: Option[Long]): Long = offset.map(eventsAt).getOrElse(0L)

  /** The correctness gate over what the sink wrote. */
  lazy val verdict: Option[Verdict] =
    sink.map(d => Oracle.check(expected.iterator, Oracle.readSink(d)))

  /** Verify, then free the working directory. */
  def verify(): Option[Verdict] = try verdict finally Bench.delete(dir)

  /** Process-visible set-up: query start to the first commit. */
  def setupS: Double = (batches.head.commitMs - startMs) / 1e3

  private def warm: Seq[Batch] = batches.filter(_.id >= 1)

  /** Events per second after the first batch, append to append. */
  def warmEventsPerS: Double =
    warm.map(_.rows).sum * 1e9 / (appended(batches.last.id) - appended(batches.head.id))

  /** Per-event delay from `origin(offset)` to its batch's append return. */
  def deliveryMs(origin: Long => Long, filter: Long => Boolean = _ => true)
      : Array[Double] = batchSamples({ b =>
    appended.get(b.id).map(t => (i: Long) => (t - origin(i)) / 1e6)
  }, filter)

  /** Per-event delay from `origin(offset)` until a token save covering
    * the event had returned.
    */
  def tokenLagMs(origin: Long => Long, filter: Long => Boolean = _ => true)
      : Array[Double] = {
    val saves = tokens.map(_.covered.sortBy(_._2.endNs)).getOrElse(Nil)
    batchSamples({ b =>
      saves.find(s => covers(Some(s._1)) >= covers(b.endOffset)).map { case (_, s) =>
        (i: Long) => (s.endNs - origin(i)) / 1e6
      }
    }, filter)
  }

  /** The last token saved covers exactly the last source offset. */
  def finalTokenOk: Boolean = tokens.forall { t =>
    val saves = t.covered
    saves.nonEmpty && covers(Some(saves.maxBy(_._2.endNs)._1)) == events
  }

  /** One sample per event index, `filter` selecting the events. */
  private def batchSamples(f: Batch => Option[Long => Double],
      filter: Long => Boolean = _ => true): Array[Double] = {
    val out = Array.newBuilder[Double]
    batches.foreach { b =>
      val g = f(b).getOrElse(throw new IllegalStateException(
        s"$name batch ${b.id} has no delivery record"))
      var i = covers(b.startOffset)
      val end = covers(b.endOffset)
      while (i < end) { if (filter(i)) out += g(i); i += 1 }
    }
    out.result()
  }
}
