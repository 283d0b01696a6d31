package graft.cdc

import java.io.{IOException, OutputStream}
import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

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
  * its UTF-8 bytes instead of through Jackson's UTF-16 writer. Paths
  * are what `write.partitionBy("topic").text(dir)` writes: a null or
  * empty topic goes to `topic=__HIVE_DEFAULT_PARTITION__`, and a file
  * is `part-<partition>-<job uuid>.c000.txt`.
  *
  * `append` is one Spark job over the batch's rows and no SQL
  * execution of its own, so inside `foreachBatch` the micro-batch is
  * one job and one SQL execution. Each task appends each row to its
  * topic's file in input order (no sort by topic) under
  * `_temporary/<task attempt>/`, through the session's Hadoop
  * `FileSystem` (fork-free `file:`, `.crc` files). It keeps one
  * buffered stream per topic it meets until it ends: about 72 KiB a
  * topic (the file's `io.file.buffer.size` buffer, which Spark sets
  * to 64 KiB, plus the `.crc` file's and the checksum chunks'), so
  * about 11 MiB for a task that meets 150 topics. The driver then
  * renames every file into place and writes `_SUCCESS` (the job
  * commit), and deletes `_temporary` whether the job succeeded or
  * not, so a failed batch shows no file.
  *
  * Tasks read the Hadoop conf from one broadcast per session, taken
  * at the session's first append, instead of each deserializing a
  * `Configuration`.
  */
object FileTopicSink {

  private val Temporary = "_temporary"

  private val confs =
    new java.util.WeakHashMap[SparkSession, Broadcast[SerializableConfiguration]]()

  private def hadoopConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    confs.synchronized(confs.computeIfAbsent(spark, s => s.sparkContext.broadcast(
      new SerializableConfiguration(s.sessionState.newHadoopConf()))))

  def append(batch: DataFrame, dir: String): Unit = {
    val spark = batch.sparkSession
    val conf = hadoopConf(spark)
    val rows = batch.select(col("topic"), JsonLineCol(col("key"), col("value")))
      .queryExecution.toRdd
    val job = UUID.randomUUID().toString
    val root = new Path(dir)
    val fs = root.getFileSystem(conf.value.value)
    try {
      val files = spark.sparkContext.runJob(rows,
        (ctx: TaskContext, it: Iterator[InternalRow]) => writeTask(conf, dir, job, ctx, it))
        .flatten
      files.map(f => new Path(f._2).getParent).distinct.foreach(fs.mkdirs)
      for ((from, to) <- files)
        if (!fs.rename(new Path(from), new Path(to)))
          throw new IOException(s"could not rename $from to $to")
      fs.create(new Path(root, "_SUCCESS"), true).close()
    } finally fs.delete(new Path(root, Temporary), true)
  }

  /** Writes one task's rows and returns its (temporary, final) file
    * paths; on a failure it deletes what it wrote.
    */
  private def writeTask(conf: Broadcast[SerializableConfiguration], dir: String,
      job: String, ctx: TaskContext, rows: Iterator[InternalRow])
      : Seq[(String, String)] = {
    val tmp = new Path(new Path(dir, Temporary), ctx.taskAttemptId().toString)
    val fs = tmp.getFileSystem(conf.value.value)
    val name = f"part-${ctx.partitionId()}%05d-$job.c000.txt"
    // by topic, and by directory: a null and an empty topic share one
    val byTopic = new java.util.HashMap[UTF8String, OutputStream]()
    val byDir = mutable.LinkedHashMap.empty[String, OutputStream]
    def closeAll(): Unit = byDir.values.foreach(_.close())
    try {
      while (rows.hasNext) {
        val row = rows.next()
        val topic = row.getUTF8String(0)
        var out = byTopic.get(topic)
        if (out == null) {
          val sub = ExternalCatalogUtils.getPartitionPathString("topic",
            if (topic == null) null else topic.toString)
          out = byDir.getOrElseUpdate(sub,
            fs.create(new Path(new Path(tmp, sub), name), false))
          byTopic.put(if (topic == null) null else topic.clone(), out)
        }
        row.getUTF8String(1).writeTo(out)
        out.write('\n')
      }
      closeAll()
      byDir.keys.map(sub => new Path(new Path(tmp, sub), name).toString ->
        new Path(new Path(dir, sub), name).toString).toSeq
    } catch {
      case t: Throwable =>
        try { closeAll(); fs.delete(tmp, true) }
        catch { case e: Throwable => t.addSuppressed(e) }
        throw t
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
