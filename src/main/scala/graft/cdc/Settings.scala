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
  * @param newTopic        creation spec for auto-created topics (K4 —
  *                        `settings.py:31-34` NewTopicConfiguration:
  *                        partitions, replication factor, topic config)
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
    streamReaderName: String = "graft-stream-reader",
    newTopic: TopicSpec = TopicSpec())

/** S3 config parity: the reference exposes `full_document` and
  * `full_document_before_change` enums (`settings.py:20-28`) that are
  * handed to `collection.watch(...)`
  * (`change_stream_reading/watch.py:86-91`). Spark-side those are
  * source options, but the option KEY depends on the source: the
  * mongo-spark connector (v10.1+) spells them
  * `change.stream.lookup.full.document[.before.change]`, while the
  * replay/test sources carry the event schema's own field names.
  * This helper owns that mapping so callers state intent once.
  */
object Settings {
  val MongoFullDocument = "change.stream.lookup.full.document"
  val MongoFullDocumentBeforeChange =
    "change.stream.lookup.full.document.before.change"
  val ReplayFullDocument = "fullDocument"
  val ReplayFullDocumentBeforeChange = "fullDocumentBeforeChange"

  /** Reference enum values pass through verbatim ("updateLookup",
    * "whenAvailable", "required", ...) — only the key is spelled per
    * source format.
    */
  def changeStreamOptions(
      sourceFormat: String,
      fullDocument: Option[String] = None,
      fullDocumentBeforeChange: Option[String] = None)
      : Map[String, String] = {
    val (fdKey, fdbKey) =
      if (sourceFormat == "mongodb")
        (MongoFullDocument, MongoFullDocumentBeforeChange)
      else (ReplayFullDocument, ReplayFullDocumentBeforeChange)
    fullDocument.map(fdKey -> _).toMap ++
      fullDocumentBeforeChange.map(fdbKey -> _).toMap
  }
}

/** K4: what auto-created topics are created *with* — the reference's
  * `NewTopicConfiguration` (`settings.py:31-34`), passed verbatim to
  * the AdminClient's NewTopic (`producing/producer.py:43-64`).
  */
case class TopicSpec(
    numPartitions: Int = 1,
    replicationFactor: Short = 1,
    config: Map[String, String] = Map.empty)
