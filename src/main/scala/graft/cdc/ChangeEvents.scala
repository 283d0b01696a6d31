package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

/** The MongoDB change-stream event as a Spark row type.
  *
  * Mirrors the event shape exercised by the reference
  * (`tests/mocks/events.py:7-160`): a fixed envelope whose open
  * sub-documents (`fullDocument`, `fullDocumentBeforeChange`,
  * `updateDescription.updatedFields`, `documentKey`) are carried as
  * MongoDB extended-JSON strings — the same representation the
  * mongodb-spark connector emits — because their schema is
  * user-data-dependent (SURVEY §1.4). Everything with a fixed shape is
  * a typed column so Catalyst can prune/push it.
  */
object ChangeEvents {

  /** `operationType` values that carry data (reference filter F1,
    * `change_stream_reading/change_handler.py:11`).
    */
  val DataOps: Seq[String] = Seq("insert", "update", "replace", "delete")

  /** All seven operation types
    * (`tests/mocks/events.py`: one golden event per type).
    */
  val AllOps: Seq[String] =
    DataOps ++ Seq("drop", "dropDatabase", "invalidate")

  /** Envelope schema of one change-stream event (SURVEY §1.1, §1.4),
    * derived from the row model so the replay source, file sources and
    * fixtures share one definition. Every field is nullable: streaming
    * file sources force that anyway
    * (`spark.sql.streaming.fileSource.schema.forceNullable`).
    */
  val schema: StructType = Encoders.product[ChangeEventRow].schema

  val updateDescriptionType: StructType =
    schema("updateDescription").dataType.asInstanceOf[StructType]

  // ---------------------------------------------------------------
  // Golden fixtures — the 7 canonical events from
  // `tests/mocks/events.py:7-160`, one per operationType, in stream
  // order, over one document in test-database.TestCollection.
  // ---------------------------------------------------------------

  private val oid = "6692b4a31ede014d28852865"

  /** documentKey as legacy extended JSON (what the connector yields and
    * what the reference produces as the Kafka key,
    * `producing/change_event_handler.py:93-98`).
    */
  val docKeyJson: String = s"""{"_id": {"$$oid": "$oid"}}"""

  private def docJson(a: Int): String =
    s"""{"_id": {"$$oid": "$oid"}, "a": $a}"""

  private def ts(epochSec: Long): Timestamp = new Timestamp(epochSec * 1000L)
  private def wall(ms: Long): Timestamp = new Timestamp(ms)

  // Resume-token `_data` hex strings, verbatim from the golden set.
  val tokenInsert: String =
    "826692B4A3000000032B042C0100296E5A1004FC22C3AF7E40428CBD5D09FF3" +
    "547FFF2463C6F7065726174696F6E54797065003C696E736572740046646F63" +
    "756D656E744B65790046645F696400646692B4A31EDE014D28852865000004"
  val tokenUpdate: String =
    "826692B55E000000022B042C0100296E5A1004FC22C3AF7E40428CBD5D09FF3" +
    "547FFF2463C6F7065726174696F6E54797065003C7570646174650046646F63" +
    "756D656E744B65790046645F696400646692B4A31EDE014D28852865000004"
  val tokenReplace: String =
    "826692B5A8000000022B042C0100296E5A1004FC22C3AF7E40428CBD5D09FF3" +
    "547FFF2463C6F7065726174696F6E54797065003C7265706C6163650046646F" +
    "63756D656E744B65790046645F696400646692B4A31EDE014D28852865000004"
  val tokenDelete: String =
    "826692B66E000000012B042C0100296E5A1004FC22C3AF7E40428CBD5D09FF" +
    "3547FFF2463C6F7065726174696F6E54797065003C64656C6574650046646F" +
    "63756D656E744B65790046645F696400646692B4A31EDE014D28852865000004"
  val tokenDrop: String =
    "826692B6D9000000012B042C0100296E5A1004FC22C3AF7E40428CB" +
    "D5D09FF3547FFF2463C6F7065726174696F6E54797065003C64726F" +
    "70000004"
  val tokenDropDatabase: String =
    "826692B807000000022B042C0100296E14463C6F70657" +
    "26174696F6E54797065003C64726F704461746162617365000004"
  val tokenInvalidate: String =
    "826692B6D9000000012B042C0100296F5A1004FC22C3AF7E40428CBD5" +
    "D09FF3547FFF2463C6F7065726174696F6E54797065003C64726F7000" +
    "0004"

  private val nsDoc = Ns("test-database", "TestCollection")

  /** The 7 golden events in stream order (insert, update, replace,
    * delete, drop, dropDatabase, invalidate).
    */
  def goldenEvents: Seq[ChangeEventRow] = Seq(
    ChangeEventRow(ResumeToken(tokenInsert), "insert", ts(1720890531L),
      wall(1720890531823L), nsDoc, Some(docKeyJson), Some(docJson(1)),
      None, None),
    ChangeEventRow(ResumeToken(tokenUpdate), "update", ts(1720890718L),
      wall(1720890718473L), nsDoc, Some(docKeyJson), Some(docJson(2)),
      Some(docJson(1)),
      Some(UpdateDescription("""{"a": 2}""", Seq.empty, Seq.empty))),
    ChangeEventRow(ResumeToken(tokenReplace), "replace", ts(1720890792L),
      wall(1720890792626L), nsDoc, Some(docKeyJson), Some(docJson(3)),
      Some(docJson(2)), None),
    ChangeEventRow(ResumeToken(tokenDelete), "delete", ts(1720890990L),
      wall(1720890990724L), nsDoc, Some(docKeyJson), None,
      Some(docJson(3)), None),
    ChangeEventRow(ResumeToken(tokenDrop), "drop", ts(1720891097L),
      wall(1720891097561L), nsDoc, None, None, None, None),
    ChangeEventRow(ResumeToken(tokenDropDatabase), "dropDatabase",
      ts(1720891097L), wall(1720891097561L), Ns("test-database", null),
      None, None, None, None),
    ChangeEventRow(ResumeToken(tokenInvalidate), "invalidate",
      ts(1720891399L), wall(1720891399561L), null, None, None, None, None))

  def golden(spark: SparkSession): DataFrame = {
    import spark.implicits._
    goldenEvents.toDF()
  }
}
