package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ByteSumMod

/** Scala twin of the reference's E2E smoke assertions
  * (`tests/test_change_stream_reading/test_application.py:4-56`) over
  * the same 7 golden events, applied to the batch-mode transform.
  */
class EnvelopeTransformSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  private lazy val out =
    EnvelopeTransform(ChangeEvents.golden(spark), topicPrefix = "test")
      .collect()

  test("only the 4 data events survive the op-type filter (F1)") {
    assert(out.length === 4)
  }

  test("all data events route to {prefix}.{db}.{coll} (P3)") {
    assert(out.map(_.getString(0)).toSeq ===
      Seq.fill(4)("test.test-database.TestCollection"))
  }

  test("empty prefix routes to {db}.{coll} (P3 branch)") {
    val noPrefix =
      EnvelopeTransform(ChangeEvents.golden(spark), topicPrefix = "").collect()
    assert(noPrefix.map(_.getString(0)).toSeq ===
      Seq.fill(4)("test-database.TestCollection"))
  }

  test("key is the documentKey extended JSON (P2)") {
    assert(out.map(_.getString(1)).toSeq ===
      Seq.fill(4)(ChangeEvents.docKeyJson))
  }

  test("op codes in stream order are c,u,u,d (P1 op map)") {
    val ops = out.map(_.getString(2)).map { v =>
      """"op": "(\w)"""".r.findFirstMatchIn(v).get.group(1)
    }
    assert(ops.toSeq === Seq("c", "u", "u", "d"))
  }

  test("insert envelope is {after, op} with spliced document (P1)") {
    val v = out(0).getString(2)
    assert(v ===
      """{"after": {"_id": {"$oid": "6692b4a31ede014d28852865"}, "a": 1}, "op": "c"}""")
  }

  test("update envelope carries before/updateDescription/after/op in order (P1)") {
    val v = out(1).getString(2)
    // sub-key order matches the golden fixture's dict order
    // (tests/mocks/events.py update(): removedFields, truncatedArrays,
    // updatedFields) — the byte sequence json_util.dumps emits for it
    assert(v ===
      """{"before": {"_id": {"$oid": "6692b4a31ede014d28852865"}, "a": 1}, """ +
      """"updateDescription": {"removedFields": [], "truncatedArrays": [], "updatedFields": {"a": 2}}, """ +
      """"after": {"_id": {"$oid": "6692b4a31ede014d28852865"}, "a": 2}, "op": "u"}""")
  }

  test("delete envelope is {before, op} (P1)") {
    val v = out(3).getString(2)
    assert(v ===
      """{"before": {"_id": {"$oid": "6692b4a31ede014d28852865"}, "a": 3}, "op": "d"}""")
  }

  test("null updateDescription sub-fields are omitted, not section-dropping (P1)") {
    // Real change streams routinely omit truncatedArrays; the connector
    // surfaces that as a null struct field. The reference serializes
    // whatever keys are present (change_event_handler.py:100-113), so
    // the envelope must keep the other sub-keys. A null array element
    // is skipped the same way. The truncatedArrays fragments are
    // canonical, so the two dialects' bytes differ: verbatim splices
    // them, legacy converts them.
    import spark.implicits._
    val frag = """{"field": "arr", "newSize": {"$numberInt": "2"}}"""
    val legacyFrag = """{"field": "arr", "newSize": 2}"""
    val frag2 = """{"field": "b", "newSize": {"$numberInt": "0"}}"""
    val legacyFrag2 = """{"field": "b", "newSize": 0}"""
    val evs = Seq(
      UpdateDescription("""{"a": 2}""", Seq("gone", "also"), null),
      UpdateDescription("""{"a": 2}""", Seq("gone"), Seq(frag, frag2)),
      UpdateDescription("""{"a": 2}""", Seq.empty, Seq(null, frag)))
      .map(u => ChangeEvents.goldenEvents(1).copy(updateDescription = Some(u)))
    val df = spark.createDataFrame(evs.toDF().rdd, ChangeEvents.schema)
    for ((legacy, f1, f2) <- Seq((false, frag, frag2),
        (true, legacyFrag, legacyFrag2))) {
      val vs = EnvelopeTransform(df, "test", legacyDialect = legacy)
        .collect().map(_.getString(2))
      // note json_util's ", " element separator — not to_json's compact form
      assert(vs(0).contains(
        """"updateDescription": {"removedFields": ["gone", "also"], "updatedFields": {"a": 2}}"""),
        s"got: ${vs(0)}")
      assert(!vs(0).contains("truncatedArrays"))
      assert(vs(1).contains(
        """"updateDescription": {"removedFields": ["gone"], """ +
          s""""truncatedArrays": [$f1, $f2], "updatedFields": {"a": 2}}"""),
        s"legacy=$legacy got: ${vs(1)}")
      assert(vs(2).contains(
        s""""updateDescription": {"removedFields": [], "truncatedArrays": [$f1], """ +
          """"updatedFields": {"a": 2}}"""),
        s"legacy=$legacy got: ${vs(2)}")
    }
  }

  test("removedFields names escape like json_util in both dialects (P1)") {
    // json.dumps escapes quotes, backslashes, controls and (ensure_ascii)
    // every non-ASCII unit inside the removed field names
    import spark.implicits._
    val ev = ChangeEvents.goldenEvents(1).copy(updateDescription = Some(
      UpdateDescription(null, Seq("naïve", "q\"uote", "b\\s"), null)))
    val df = spark.createDataFrame(Seq(ev).toDF().rdd, ChangeEvents.schema)
    for (legacy <- Seq(false, true)) {
      val v = EnvelopeTransform(df, "test", legacyDialect = legacy)
        .head().getString(2)
      assert(v.contains("\"updateDescription\": {\"removedFields\": " +
        "[\"na\\u00efve\", \"q\\\"uote\", \"b\\\\s\"]}"),
        s"legacy=$legacy got: $v")
    }
  }

  test("all-null updateDescription sub-fields serialize as {} (P1)") {
    import spark.implicits._
    val ev = ChangeEvents.goldenEvents(1).copy(
      updateDescription = Some(UpdateDescription(null, null, null)))
    val df = spark.createDataFrame(Seq(ev).toDF().rdd, ChangeEvents.schema)
    val v = EnvelopeTransform(df, "test").head().getString(2)
    assert(v.contains(""""updateDescription": {}"""), s"got: $v")
  }

  test("raw updateDescription splices verbatim — updatedFields-first live order (P1)") {
    // Real change streams commonly emit updatedFields FIRST; the
    // reference dumps the live dict as-is (change_event_handler
    // .py:104-105), so the envelope must reproduce that exact byte
    // sequence, not the golden fixture's removedFields-first order.
    import spark.implicits._
    val liveRaw =
      """{"updatedFields": {"a": 2}, "removedFields": ["gone"], "truncatedArrays": []}"""
    val ev = ChangeEvents.goldenEvents(1).copy(
      updateDescription = Some(UpdateDescription(
        // typed fields deliberately disagree with raw's order/content —
        // raw must win
        """{"a": 999}""", Seq.empty, Seq.empty, raw = liveRaw)))
    val df = spark.createDataFrame(Seq(ev).toDF().rdd, ChangeEvents.schema)
    val v = EnvelopeTransform(df, "test").head().getString(2)
    assert(v ===
      """{"before": {"_id": {"$oid": "6692b4a31ede014d28852865"}, "a": 1}, """ +
      s""""updateDescription": $liveRaw, """ +
      """"after": {"_id": {"$oid": "6692b4a31ede014d28852865"}, "a": 2}, "op": "u"}""")
  }

  test("raw updateDescription runs through the legacy codec when asked (P1+E3)") {
    // A connector configured for canonical output carries canonical
    // ext-JSON inside the raw sub-document; legacyDialect must convert
    // it while preserving the live key order.
    import spark.implicits._
    val canonicalRaw =
      """{"updatedFields": {"n": {"$numberInt": "7"}}, "removedFields": []}"""
    val ev = ChangeEvents.goldenEvents(1).copy(
      updateDescription = Some(UpdateDescription(null, null, null, canonicalRaw)))
    val df = spark.createDataFrame(Seq(ev).toDF().rdd, ChangeEvents.schema)
    val v = EnvelopeTransform(df, "test", legacyDialect = true)
      .head().getString(2)
    assert(v.contains(
      """"updateDescription": {"updatedFields": {"n": 7}, "removedFields": []}"""),
      s"got: $v")
  }

  test("byte-sum routing: one shared documentKey → one partition (P4)") {
    // Reference smoke: with 2 producers all 4 data events land in
    // queue 1 (`test_application.py:24-26`).
    val parts = EnvelopeTransform(ChangeEvents.golden(spark), "test")
      .select(ByteSumMod(col("key"), 2).alias("p"))
      .collect().map(_.getInt(0))
    assert(parts.distinct.length === 1)
  }

  test("ByteSumMod matches a direct byte-sum (codegen + interpreted)") {
    val k = ChangeEvents.docKeyJson
    val expected = k.getBytes("UTF-8").map(_ & 0xff).sum % 2
    val got = EnvelopeTransform(ChangeEvents.golden(spark), "test")
      .select(ByteSumMod(col("key"), 2)).head().getInt(0)
    assert(got === expected)
  }
}
