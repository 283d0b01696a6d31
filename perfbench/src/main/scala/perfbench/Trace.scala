package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cdc.{SavedToken, TokenStore}

/** A span at a layer boundary, timed from the benchmark's side of the
  * call. `batch` ties the spans of one micro-batch together.
  */
final case class Span(name: String, query: String, batch: Long,
    startNs: Long, endNs: Long, parent: String) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory and written out when the benchmark ends. When
  * tracing is off nothing is recorded.
  */
final class SpanLog(@volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()

  def time[A](name: String, query: String, batch: Long, parent: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f finally spans.add(Span(name, query, batch, t0, System.nanoTime(), parent))
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"name":"${s.name}","query":"${s.query}","batch":${s.batch},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"parent":"${s.parent}"}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.result())
  }
}

/** One `TokenStore.save` as seen by the timing decorator. */
final case class Save(token: String, startNs: Long, endNs: Long, startMs: Long,
    failed: Boolean)

/** Times every save of the wrapped store; failures are counted and
  * rethrown so the listener behaves as it would without the decorator.
  */
final class TimedTokenStore(delegate: TokenStore) extends TokenStore {
  val saves = new ConcurrentLinkedQueue[Save]()

  override def save(t: SavedToken): Unit = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      delegate.save(t)
      saves.add(Save(t.token, t0, System.nanoTime(), ms, failed = false))
    } catch {
      case e: Throwable =>
        saves.add(Save(t.token, t0, System.nanoTime(), ms, failed = true))
        throw e
    }
  }

  override def load(name: String): Option[SavedToken] = delegate.load(name)

  /** Successful saves with the single source offset they cover. */
  def covered: Seq[(Long, Save)] = saves.asScala.toSeq.filterNot(_.failed)
    .flatMap(s => Batch.offset(s.token.stripPrefix("[").stripSuffix("]")).map(_ -> s))
}

/** One committed micro-batch, from `StreamingQueryProgress`. */
final case class Batch(
    query: String,
    id: Long,
    rows: Long,
    /** `triggerExecution` start, epoch ms. */
    startMs: Long,
    durations: Map[String, Long],
    startOffset: Option[Long],
    endOffset: Option[Long]) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def commitMs: Long = startMs + triggerMs
}

object Batch {
  /** A source offset as a number: the replay source's is the count of
    * rows admitted, a MemoryStream's the index of its last `addData`.
    */
  def offset(json: String): Option[Long] =
    Option(json).map(_.trim).filter(_.matches("-?\\d+")).map(_.toLong)
}

/** Records every non-empty micro-batch of every query. */
final class ProgressLog extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0 || p.batchId == 0) {
      val src = p.sources.headOption
      batches.add(Batch(p.name, p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        src.flatMap(s => Batch.offset(s.startOffset)),
        src.flatMap(s => Batch.offset(s.endOffset))))
    }
  }

  def of(query: String): Seq[Batch] =
    batches.asScala.filter(_.query == query).toSeq.sortBy(_.id)
}

/** Task-level counters per micro-batch: shuffle bytes, reduce-side
  * record skew and GC time. Streaming jobs carry the query id and the
  * batch id as job properties.
  */
final class TaskCounters extends SparkListener {
  final class Acc {
    var shuffleBytes, gcMs = 0L
    val reduceRecords = mutable.ArrayBuffer.empty[Long]
  }
  private val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val acc = mutable.HashMap.empty[(String, Long), Acc]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    for (p <- props; q <- Option(p.getProperty("sql.streaming.queryId"));
         b <- Option(p.getProperty("streaming.sql.batchId")))
      e.stageIds.foreach(s => stageBatch.put(s, (q, b.toLong)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = stageBatch.get(e.stageId)
    if (key != null && e.taskMetrics != null) synchronized {
      val a = acc.getOrElseUpdate(key, new Acc)
      val m = e.taskMetrics
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.gcMs += m.jvmGCTime
      if (m.shuffleReadMetrics.recordsRead > 0 || m.shuffleReadMetrics.totalBlocksFetched > 0)
        a.reduceRecords += m.shuffleReadMetrics.recordsRead
    }
  }

  def of(queryId: String): Map[Long, Acc] = synchronized {
    acc.collect { case ((q, b), a) if q == queryId => b -> a }.toMap
  }
}
