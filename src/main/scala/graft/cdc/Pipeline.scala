package graft.cdc

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.functions.JsonLineCol

/** The whole reference application as one Structured Streaming job
  * (SURVEY §0): change-stream source → op-type filter → CDC envelope →
  * keyed Kafka sink, with at-least-once delivery from the checkpoint's
  * offset/commit logs.
  *
  * What the reference builds as 3 process types + 4 queues + a
  * hand-rolled commit protocol (`managing/manager.py`,
  * `committing/commit_processing.py`) is here: source offsets are
  * recorded per micro-batch, the sink's batch completion *is* the
  * delivery confirmation, and restart-from-checkpoint *is* the resume
  * token (C1/C5). Per-document ordering (P4) holds because the
  * envelope keeps the documentKey as the Kafka message key.
  */
object Pipeline {

  /** Source stage (S1-S4): a streaming read of change events. In
    * production `sourceFormat = "mongodb"` with the connector options
    * carrying scope (S2), fullDocument mode (S3) and the
    * aggregation-pipeline pushdown (S4).
    */
  def read(spark: SparkSession, s: Settings): DataFrame = {
    val r = spark.readStream.format(s.sourceFormat).options(s.sourceOptions)
    // File-based sources need an explicit schema; connector sources
    // (mongodb) infer theirs.
    val withSchema =
      if (s.sourceFormat == "parquet" || s.sourceFormat == "json")
        r.schema(ChangeEvents.schema)
      else r
    withSchema.load()
  }

  /** Transform stage (F1 + P1/P2/P3 [+ P4]): pure, shared with batch. */
  def transform(events: DataFrame, s: Settings): DataFrame = {
    val out = EnvelopeTransform(events, s.topicPrefix)
    s.sinkPartitions match {
      case Some(n) => EnvelopeTransform.repartitionByKey(out, n)
      case None => out
    }
  }

  /** Sink stage (K1-K3): format "kafka" routes per-row by the `topic`
    * column; kafka.* options pass through (incl. enable.idempotence —
    * K3 parity). Delivery is at-least-once across restarts, same
    * contract as the reference (`README.md:2`).
    */
  def write(envelopes: DataFrame, s: Settings): StreamingQuery =
    startQuery(envelopes.writeStream.format(s.sinkFormat)
      .options(s.sinkOptions), s)

  /** foreachBatch variant of the sink for tests and for sinks needing
    * driver-side setup per batch (e.g. K4 topic auto-creation via an
    * AdminClient before producing — see TopicEnsurer).
    */
  def writeForeach(envelopes: DataFrame, s: Settings)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    startQuery(envelopes.writeStream.foreachBatch(f), s)

  // Query identity, checkpoint and trigger, set after the sink's own
  // options so the checkpoint location always comes from Settings.
  private def startQuery(w: DataStreamWriter[Row], s: Settings)
      : StreamingQuery =
    w.queryName(s.streamReaderName)
      .option("checkpointLocation", s.checkpointLocation)
      .trigger(Trigger.ProcessingTime(s.triggerInterval))
      .start()

  def start(spark: SparkSession, s: Settings): StreamingQuery =
    write(transform(read(spark, s), s), s)
}

/** The reference's file-writer mode (`tests/mocks/kafka.py:85-100`,
  * `tests/test_file_writer/test_application.py`): envelopes appended
  * per topic to files instead of Kafka — one `topic=` directory per
  * topic, each micro-batch adds files, at-least-once like the Kafka
  * path.
  *
  * Each part file (`part-*.txt`) holds JSON lines, the bytes Spark's
  * JSON datasource writes for the `key` and `value` columns
  * (`JsonLine`); `value`, already a JSON string, is escaped once from
  * its UTF-8 bytes instead of through Jackson's UTF-16 writer.
  *
  * For the duration of the write a task keeps up to
  * `ConcurrentWriters` topic files open and appends each row to its
  * topic's file in input order, so the planned write adds no sort by
  * topic. A task that meets more topics than that falls back to
  * Spark's own sort for its remaining rows.
  */
object FileTopicSink {
  private[cdc] val ConcurrentWriters = 128
  private val WritersKey = SQLConf.MAX_CONCURRENT_OUTPUT_FILE_WRITERS.key

  def append(batch: DataFrame, dir: String): Unit = {
    // set for this write and restored after it; a foreachBatch frame
    // carries its query's own session, which no other query reads
    val conf = batch.sparkSession.conf
    val prev = conf.getOption(WritersKey)
    conf.set(WritersKey, ConcurrentWriters.toLong)
    try batch.select(col("topic"), JsonLineCol(col("key"), col("value")))
      .write.mode("append").partitionBy("topic").text(dir)
    finally prev match {
      case Some(v) => conf.set(WritersKey, v)
      case None => conf.unset(WritersKey)
    }
  }
}

/** K4 parity: the reference caches known topics and creates missing
  * ones before producing (`producing/producer.py:43-64`), passing the
  * full creation spec — partitions, replication factor, topic config —
  * from settings (`settings.py:31-34`). With Spark's Kafka sink this
  * runs driver-side in a foreachBatch prologue; the AdminClient call
  * is injected so tests (and this kafka-less container) can observe
  * the contract, spec included.
  */
final class TopicEnsurer(
    createTopic: (String, TopicSpec) => Unit,
    spec: TopicSpec = TopicSpec()) {

  private val known = scala.collection.concurrent.TrieMap.empty[String, Unit]

  /** Ensure every distinct topic in this batch exists. The distinct
    * set is tiny (bounded by #collections), so collecting it to the
    * driver is safe at any scale.
    */
  def ensure(batch: DataFrame): Unit =
    batch.select("topic").distinct().collect().map(_.getString(0))
      .filterNot(known.contains)
      .foreach { t => createTopic(t, spec); known.put(t, ()) }
}
