package graft.cdc

/** Pipeline configuration — the surviving subset of the reference's
  * 27-field pydantic `Settings` (`settings.py:37-112`). Queues,
  * process counts and handshakes disappear into Spark's runtime, and
  * the token-save timeouts are `MongoTokenStore`'s constructor
  * parameters; what remains is source/sink wiring and pacing.
  *
  * @param sourceFormat   streaming source ("mongodb" with the
  *                       mongo-spark connector in production; tests
  *                       use "parquet"/MemoryStream)
  * @param sourceOptions  passed through to the source — for mongodb:
  *                       connection.uri, database, collection,
  *                       change.stream.lookup.full.document (S3),
  *                       aggregation.pipeline (S4 pushdown)
  * @param topicPrefix    P3 routing prefix ({prefix}.{db}.{coll})
  * @param sinkFormat     "kafka" in production; tests inject foreachBatch
  * @param sinkOptions    e.g. kafka.bootstrap.servers,
  *                       kafka.enable.idempotence (K3 parity)
  * @param checkpointLocation replaces the whole committing subsystem
  *                       (C1-C5): offset log + commit log
  * @param triggerInterval micro-batch pacing; 30s mirrors the
  *                       reference's commit_interval (`settings.py:60`)
  * @param sinkPartitions  optional keyed repartition before the sink —
  *                       producers_count parity (P4); None lets the
  *                       Kafka sink's keyed partitioner do it
  * @param streamReaderName identity for the SavedToken mirror (C4)
  */
case class Settings(
    sourceFormat: String = "mongodb",
    sourceOptions: Map[String, String] = Map.empty,
    topicPrefix: String = "",
    sinkFormat: String = "kafka",
    sinkOptions: Map[String, String] = Map.empty,
    checkpointLocation: String,
    triggerInterval: String = "30 seconds",
    sinkPartitions: Option[Int] = None,
    streamReaderName: String = "graft-stream-reader")

/** S3 config parity: the reference exposes `full_document` and
  * `full_document_before_change` enums (`settings.py:20-28`) that are
  * handed to `collection.watch(...)`
  * (`change_stream_reading/watch.py:86-91`). Spark-side those are
  * source options, which the mongo-spark connector (v10.1+) spells
  * `change.stream.lookup.full.document[.before.change]`. This helper
  * owns that mapping so callers state intent once. The replay source
  * takes neither: its events carry their images as recorded.
  */
object Settings {
  val MongoFullDocument = "change.stream.lookup.full.document"
  val MongoFullDocumentBeforeChange =
    "change.stream.lookup.full.document.before.change"

  /** Reference enum values pass through verbatim ("updateLookup",
    * "whenAvailable", "required", ...).
    */
  def changeStreamOptions(
      fullDocument: Option[String] = None,
      fullDocumentBeforeChange: Option[String] = None)
      : Map[String, String] =
    fullDocument.map(MongoFullDocument -> _).toMap ++
      fullDocumentBeforeChange.map(MongoFullDocumentBeforeChange -> _).toMap
}

/** K4: what auto-created topics are created *with* — the reference's
  * `NewTopicConfiguration` (`settings.py:31-34`), passed verbatim to
  * the AdminClient's NewTopic (`producing/producer.py:43-64`).
  */
case class TopicSpec(
    numPartitions: Int = 1,
    replicationFactor: Short = 1,
    config: Map[String, String] = Map.empty)
