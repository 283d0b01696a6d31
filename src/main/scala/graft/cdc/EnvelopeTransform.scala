package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The heart of the reference's business logic as pure, codegen-friendly
  * column expressions over a change-event DataFrame (batch or
  * streaming — the transform is identical).
  *
  * Replaces, Spark-first:
  *  - F1 op-type filter            `change_stream_reading/change_handler.py:43-48`
  *  - P1 CDC envelope projection   `producing/change_event_handler.py:100-113`
  *  - P2 message key               `producing/change_event_handler.py:93-98`
  *  - P3 topic routing             `producing/change_event_handler.py:84-91`
  *  - P4 hash distribution         `change_stream_reading/change_handler.py:77-81`
  *
  * The reference runs these in three separate OS processes connected by
  * hand-framed byte queues; here they are one narrow projection that
  * whole-stage-codegens into the scan, and the process fan-out becomes
  * Kafka's keyed partitioner (or an explicit keyed repartition).
  */
object EnvelopeTransform {

  /** op map, `producing/change_event_handler.py:14-19`:
    * insert→c, update/replace→u, delete→d. An unmapped operationType
    * raises (the reference KeyErrors, `_operation_map[...]`) rather
    * than silently emitting an envelope with no op; the normal path
    * filters first, so the branch never fires post-filterDataOps.
    */
  val opCode: Column =
    when(col("operationType") === "insert", "c")
      .when(col("operationType").isin("update", "replace"), "u")
      .when(col("operationType") === "delete", "d")
      .otherwise(raise_error(
        concat(lit("unmapped operationType: "), col("operationType"))))

  /** F1: keep only data-mutation events. Catalyst pushes this to the
    * source scan; drop/dropDatabase/invalidate still advance offsets
    * (the checkpoint records every source offset regardless of rows
    * filtered — reference fork P5 for free).
    */
  def filterDataOps(df: DataFrame): DataFrame =
    df.filter(col("operationType").isin(ChangeEvents.DataOps: _*))

  /** P1: Debezium-style value envelope `{before?, updateDescription?,
    * after?, op}` as a JSON string, field order and `", "`/`": "`
    * spacing matching the reference's json_util.dumps output. The
    * open sub-documents are already extended-JSON strings, so they are
    * spliced in verbatim (no double-encoding); absent fields are
    * omitted (concat_ws skips nulls) exactly like the reference's
    * conditional dict building.
    *
    * `valueEnvelope` splices verbatim — correct when the source
    * already carries **legacy**-dialect strings (the fixture path).
    * `valueEnvelopeLegacy` additionally runs each open sub-document
    * through the E3 codec (`functions.LegacyExtJson`), so a connector
    * configured for canonical/relaxed output (`{"$date":
    * {"$numberLong": ...}}` etc.) still produces the reference's
    * legacy dialect (`json_util.dumps(..., LEGACY_JSON_OPTIONS)`,
    * `producing/change_event_handler.py:95-113`).
    */
  val valueEnvelope: Column = envelope(identity)

  val valueEnvelopeLegacy: Column =
    envelope(graft.functions.LegacyExtJsonCol.apply)

  private def envelope(codec: Column => Column): Column = {
    val before = when(col("fullDocumentBeforeChange").isNotNull,
      concat(lit("\"before\": "), codec(col("fullDocumentBeforeChange"))))
    // The reference dumps the updateDescription sub-document verbatim —
    // whatever keys are present, in the event's own order, with
    // json_util's ", "/": " separators. So: each sub-key included
    // conditionally (a bare concat would null the whole section on one
    // null sub-field); removedFields goes through to_json for string
    // escaping and then the legacy codec, which re-renders to_json's
    // compact ["a","b"] as json_util's ["a", "b"] with ensure_ascii
    // escapes (in both dialects: field names are plain strings, never
    // ext-JSON); truncatedArrays elements are ext-JSON fragments, so
    // they are joined into one array text (array_join skips nulls, as
    // concat_ws does) and that runs through the dialect's codec once.
    // Key order matches the golden events (tests/mocks/events.py:
    // removedFields, truncatedArrays, updatedFields) — the byte-parity
    // anchor the reference's own tests pin.
    val remFields = when(col("updateDescription.removedFields").isNotNull,
      concat(lit("\"removedFields\": "), graft.functions.LegacyExtJsonCol(
        to_json(col("updateDescription.removedFields")))))
    val truncArrs = when(col("updateDescription.truncatedArrays").isNotNull,
      concat(lit("\"truncatedArrays\": "), codec(concat(lit("["),
        array_join(col("updateDescription.truncatedArrays"), ", "),
        lit("]")))))
    val updFields = when(col("updateDescription.updatedFields").isNotNull,
      concat(lit("\"updatedFields\": "),
        codec(col("updateDescription.updatedFields"))))
    // Live-order parity: when the source carries the sub-document as
    // one verbatim ext-JSON string (`updateDescription.raw`), splice it
    // untouched — the reference's own move
    // (`change_event_handler.py:104-105` dumps the live dict, so the
    // server's key order, commonly updatedFields first, survives).
    // The typed rebuild is the fallback for pre-parsed sources.
    val updDesc = when(col("updateDescription").isNotNull,
      when(col("updateDescription.raw").isNotNull,
        concat(lit("\"updateDescription\": "),
          codec(col("updateDescription.raw"))))
      .otherwise(concat(
        lit("\"updateDescription\": {"),
        concat_ws(", ", remFields, truncArrs, updFields),
        lit("}"))))
    val after = when(col("fullDocument").isNotNull,
      concat(lit("\"after\": "), codec(col("fullDocument"))))
    val op = concat(lit("\"op\": \""), opCode, lit("\""))
    concat(lit("{"), concat_ws(", ", before, updDesc, after, op), lit("}"))
  }

  /** P3: topic = `{prefix}.{db}.{coll}`; prefix optional (empty ⇒
    * `{db}.{coll}`). concat_ws skips nulls, so an empty prefix maps to
    * null and disappears — same branch structure as the reference.
    */
  def topic(prefix: String): Column = {
    val p = if (prefix == null || prefix.isEmpty) lit(null) else lit(prefix)
    concat_ws(".", p, col("ns.db"), col("ns.coll"))
  }

  /** Full transform: filter + project to the Kafka-sink contract
    * (`topic`, `key`, `value` columns — the Spark Kafka sink routes
    * per-row by these exact column names). With `legacyDialect = true`
    * the key and every open sub-document run through the E3 codec, so
    * canonical/relaxed connector output serializes in the reference's
    * legacy dialect (P2 runs documentKey through json_util the same
    * way, `change_event_handler.py:93-98`).
    */
  def apply(df: DataFrame, topicPrefix: String = "",
      legacyDialect: Boolean = false): DataFrame =
    filterDataOps(df).select(
      topic(topicPrefix).alias("topic"),
      (if (legacyDialect) graft.functions.LegacyExtJsonCol(col("documentKey"))
       else col("documentKey")).alias("key"),
      (if (legacyDialect) valueEnvelopeLegacy else valueEnvelope)
        .alias("value"))

  /** P4 parity: the reference routes each event to producer
    * `sum(bytes) mod n` over the documentKey ObjectId's 12 raw bytes
    * (`change_handler.py:77-81`). `OidByteSumMod` parses the `$oid`
    * hex out of the ext-JSON key this engine carries and sums the
    * decoded bytes — numerically identical assignments to the
    * reference for ObjectId keys. Non-ObjectId keys (the reference
    * crashes on those) fall back to the whole-string byte sum: still
    * a deterministic function of the key, so each key always routes
    * to the same partition (per-document ordering under n-way
    * parallelism).
    */
  def byteSumPartition(keyCol: Column, n: Int): Column =
    graft.functions.OidByteSumMod(keyCol, n)

  def repartitionByKey(df: DataFrame, n: Int): DataFrame =
    df.repartition(n, col("key"))
}
