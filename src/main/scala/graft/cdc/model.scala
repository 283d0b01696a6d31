package graft.cdc

import java.sql.Timestamp

/** Typed row model of a change-stream event (SURVEY §1.1/§1.4);
  * `ChangeEvents.schema` is derived from it. Open sub-documents are
  * extended-JSON strings.
  */
case class ResumeToken(_data: String)

case class Ns(db: String, coll: String)

/** `raw`, when present, is the live event's entire updateDescription
  * sub-document as one verbatim ext-JSON string — the reference splices
  * it into the envelope untouched (`producing/change_event_handler
  * .py:104-105`), so whatever key order the server emitted (commonly
  * `updatedFields` first) survives byte-for-byte. The typed fields
  * remain for sources that deliver the sub-document pre-parsed; the
  * envelope prefers `raw` when both are set.
  */
case class UpdateDescription(
    updatedFields: String,
    removedFields: Seq[String],
    truncatedArrays: Seq[String],
    raw: String = null)

case class ChangeEventRow(
    _id: ResumeToken,
    operationType: String,
    clusterTime: Timestamp,
    wallTime: Timestamp,
    ns: Ns,
    documentKey: Option[String],
    fullDocument: Option[String],
    fullDocumentBeforeChange: Option[String],
    updateDescription: Option[UpdateDescription])

/** Durable resume-token record, shape-compatible with the reference's
  * `SavedToken` (`models.py:10-13`, stored via
  * `committing/token_saver.py:51-56`).
  */
case class SavedToken(
    streamReaderName: String,
    token: String,
    date: Timestamp)
