package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.{toColumn, toExpression, KernelCall}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{ChangeEvents, EnvelopeTransform, UpdateDescription}

/** E3 byte parity: canonical/relaxed extended JSON → the **legacy**
  * dialect `json_util.dumps(..., LEGACY_JSON_OPTIONS)` emits
  * (`producing/change_event_handler.py:95-113`), pinned against the
  * exact byte sequences json_util produces for the golden fixture
  * types (`tests/mocks/events.py`).
  */
class LegacyExtJsonSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  private val oid = "6692b4a31ede014d28852865"

  test("ObjectId wrapper passes through unchanged") {
    assert(LegacyExtJson.convert(s"""{"$$oid": "$oid"}""") ===
      s"""{"$$oid": "$oid"}""")
  }

  test("canonical $date {$numberLong} becomes legacy integer millis") {
    assert(LegacyExtJson.convert(
      """{"when": {"$date": {"$numberLong": "1720890531823"}}}""") ===
      """{"when": {"$date": 1720890531823}}""")
  }

  test("relaxed $date ISO-8601 string becomes legacy integer millis") {
    // 2024-07-13T17:08:51.823Z == 1720890531823 ms (the insert
    // fixture's wallTime, events.py:22-26)
    assert(LegacyExtJson.convert(
      """{"when": {"$date": "2024-07-13T17:08:51.823Z"}}""") ===
      """{"when": {"$date": 1720890531823}}""")
  }

  test("already-legacy input is a fixed point (idempotent codec)") {
    val legacy =
      s"""{"_id": {"$$oid": "$oid"}, "a": 1, "when": {"$$date": 1720890531823}, """ +
        """"ts": {"$timestamp": {"t": 1720890531, "i": 1}}}"""
    assert(LegacyExtJson.convert(legacy) === legacy)
  }

  test("$timestamp normalizes to json_util's {t, i} member order") {
    assert(LegacyExtJson.convert(
      """{"ts": {"$timestamp": {"i": 2, "t": 1720890718}}}""") ===
      """{"ts": {"$timestamp": {"t": 1720890718, "i": 2}}}""")
  }

  test("canonical $binary becomes legacy {$binary, $type}") {
    assert(LegacyExtJson.convert(
      """{"b": {"$binary": {"base64": "Zm9vYmFy", "subType": "00"}}}""") ===
      """{"b": {"$binary": "Zm9vYmFy", "$type": "00"}}""")
  }

  test("canonical number wrappers inline as bare tokens") {
    assert(LegacyExtJson.convert(
      """{"l": {"$numberLong": "9007199254740993"}, "i": {"$numberInt": "-7"}, """ +
        """"d": {"$numberDouble": "3.5"}}""") ===
      """{"l": 9007199254740993, "i": -7, "d": 3.5}""")
  }

  test("doubles render in Python repr form, not Java/BigDecimal notation") {
    // Java-driver canonical output uses exponent notation; json_util
    // (Python json.dumps) renders positionally up to 1e16
    assert(LegacyExtJson.convert("""{"d": {"$numberDouble": "1.0E10"}}""") ===
      """{"d": 10000000000.0}""")
    assert(LegacyExtJson.convert("""{"d": {"$numberDouble": "1.23456789E8"}}""") ===
      """{"d": 123456789.0}""")
    assert(LegacyExtJson.convert("""{"d": {"$numberDouble": "1.0E16"}}""") ===
      """{"d": 1e+16}""")
    assert(LegacyExtJson.convert("""{"d": {"$numberDouble": "1.5E-5"}}""") ===
      """{"d": 1.5e-05}""")
    assert(LegacyExtJson.convert("""{"d": {"$numberDouble": "-0.0"}}""") ===
      """{"d": -0.0}""")
    // bare floating literals normalize the same way; already-Python
    // text is a fixed point
    assert(LegacyExtJson.convert("""{"d": 1.0E10}""") ===
      """{"d": 10000000000.0}""")
    assert(LegacyExtJson.convert("""{"d": 10000000000.0}""") ===
      """{"d": 10000000000.0}""")
    assert(LegacyExtJson.convert("""{"d": 0.0001}""") === """{"d": 0.0001}""")
  }

  test("shortest-digit derivation beats JDK 17's non-shortest Double.toString") {
    // JDK 17's pre-Ryū toString renders these with excess digits
    // (1e23 → "9.999999999999999E22", MIN_VALUE → "4.9E-324");
    // CPython repr — and therefore json.dumps — uses the shortest
    // correctly-rounded form. The codec must match Python.
    assert(LegacyExtJson.pyFloatRepr(1e23) === "1e+23")
    assert(LegacyExtJson.pyFloatRepr(java.lang.Double.MIN_VALUE) === "5e-324")
    assert(LegacyExtJson.pyFloatRepr(1.716943642359572e17) ===
      "1.716943642359572e+17")
    assert(LegacyExtJson.pyFloatRepr(9.5) === "9.5")
    assert(LegacyExtJson.pyFloatRepr(java.lang.Double.MAX_VALUE) ===
      "1.7976931348623157e+308")
    // a 17-significant-digit value renders and round-trips
    val awkward = java.lang.Double.parseDouble("1.2345678901234567")
    assert(java.lang.Double.parseDouble(
      LegacyExtJson.pyFloatRepr(awkward)) === awkward)
  }

  test("pyFloatRepr matches CPython repr() on the golden double set") {
    // py_float_repr.txt: raw IEEE-754 bits (hex) and CPython's repr(),
    // one double a line — random bit patterns, subnormals, MIN/MAX,
    // cents, quarters, every power of ten, 16-17-digit magnitudes and
    // Gaussians over 40 decades. Generated with:
    //   python3 -c 'import math,random,struct;r=random.Random(20);f=lambda b:struct.unpack("<d",struct.pack("<Q",b))[0];v=[f(r.getrandbits(64)) for _ in range(900)]+[f(r.getrandbits(52)) for _ in range(200)]+[f(i) for i in range(1,30)]+[5e-324,2.2250738585072014e-308,1.7976931348623157e308,0.0,-0.0]+[r.randint(-10**6,10**6)/100 for _ in range(300)]+[r.randint(-4000,4000)/4 for _ in range(200)]+[float("1e%d"%k) for k in range(-323,309)]+[r.choice((1,-1))*r.uniform(1e15,1e19) for _ in range(300)]+[5.9817367476343565e17,-6.6045407657450865e18]+[r.gauss(0,1)*10**r.randint(-20,20) for _ in range(300)];print("\n".join("%016x %r"%(struct.unpack("<Q",struct.pack("<d",d))[0],d) for d in v if math.isfinite(d)))' > src/test/resources/py_float_repr.txt
    val src = scala.io.Source.fromResource("py_float_repr.txt")
    val rows = try src.getLines().map(_.split(' ')).toVector finally src.close()
    assert(rows.length >= 2000)
    val bad = rows.filter { case Array(bits, py) =>
      LegacyExtJson.pyFloatRepr(java.lang.Double.longBitsToDouble(
        java.lang.Long.parseUnsignedLong(bits, 16))) != py
    }
    assert(bad.isEmpty, s"${bad.length} mismatches, first: " +
      bad.take(5).map(_.mkString(" → python ")).mkString("; "))
  }

  test("pyFloatRepr is the shortest round-tripping decimal (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // any finite double, drawn from its bit pattern
    val finite = Gen.long.map(java.lang.Double.longBitsToDouble)
      .filter(d => !d.isNaN && !d.isInfinite)
    val prop = Prop.forAll(finite) { d =>
      val r = LegacyExtJson.pyFloatRepr(d)
      val back = java.lang.Double.parseDouble(r)
      val digits = r.takeWhile(_ != 'e').filter(_.isDigit)
        .dropWhile(_ == '0').reverse.dropWhile(_ == '0').length
      // one digit fewer, correctly rounded from the exact value, must
      // not land on the same double
      val shorter = digits <= 1 || new java.math.BigDecimal(d)
        .round(new java.math.MathContext(digits - 1,
          java.math.RoundingMode.HALF_EVEN)).doubleValue != d
      (java.lang.Double.doubleToRawLongBits(back) ==
        java.lang.Double.doubleToRawLongBits(d)) && shorter
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20000)
      .withInitialSeed(org.scalacheck.rng.Seed(42L)), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("$numberDouble NaN/Infinity become Python json's bare literals") {
    assert(LegacyExtJson.convert(
      """{"a": {"$numberDouble": "NaN"}, "b": {"$numberDouble": "-Infinity"}}""") ===
      """{"a": NaN, "b": -Infinity}""")
  }

  test("canonical $regularExpression becomes legacy {$regex, $options}") {
    assert(LegacyExtJson.convert(
      """{"r": {"$regularExpression": {"pattern": "^a.*b$", "options": "i"}}}""") ===
      """{"r": {"$regex": "^a.*b$", "$options": "i"}}""")
  }

  test("ensure_ascii: non-ASCII escapes as \\uXXXX like json.dumps") {
    assert(LegacyExtJson.convert("{\"s\": \"héllo — 日本\"}")
      === "{\"s\": \"h\\u00e9llo \\u2014 \\u65e5\\u672c\"}")
    // surrogate pair escapes per UTF-16 unit, exactly like CPython
    assert(LegacyExtJson.convert("{\"s\": \"🚀\"}") ===
      "{\"s\": \"\\ud83d\\ude80\"}")
  }

  test("separators and nesting match json.dumps defaults") {
    assert(LegacyExtJson.convert("""{"a":[1,{"b":true,"c":null}],"d":"x"}""") ===
      """{"a": [1, {"b": true, "c": null}], "d": "x"}""")
  }

  test("malformed JSON throws, never nulls a change event away") {
    // trailing content after the first value is malformed too: a
    // silent cut would drop the rest of the document
    for (bad <- Seq("""{"a": """, """{"a": 1} x""", """{"_id": 5} {"b": 2}"""))
      intercept[IllegalArgumentException](LegacyExtJson.convert(bad))
    // trailing whitespace is not content
    assert(LegacyExtJson.convert("{\"a\": 1} \n") === """{"a": 1}""")
  }

  test("expression matches direct convert under codegen and interpreted eval") {
    import spark.implicits._
    val in = s"""{"_id": {"$$oid": "$oid"}, "when": {"$$date": {"$$numberLong": "1720890531823"}}}"""
    val df = Seq(in).toDF("j")
    val viaExpr = df.select(LegacyExtJsonCol(col("j"))).head().getString(0)
    assert(viaExpr === LegacyExtJson.convert(in))
    // interpreted path (codegen disabled) must agree
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(LegacyExtJsonCol(col("j"))).head().getString(0)
      assert(interp === viaExpr)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    // a non-string argument fails analysis, in the sink's line encoder too
    intercept[AnalysisException](df.select(LegacyExtJsonCol(lit(1))).collect())
    intercept[AnalysisException](df.select(JsonLineCol(col("j"), lit(1))).collect())
  }

  test("a repeated key throws; the tree kept the last value at the first position") {
    val in = """{"a": 1, "b": 2, "a": 3}"""
    intercept[IllegalArgumentException](LegacyExtJson.convert(in))
    assert(LegacyExtJsonTree.convert(in) === """{"a": 3, "b": 2}""")
    // a repeated wrapper name made the tree see a one-field wrapper
    intercept[IllegalArgumentException](
      LegacyExtJson.convert("""{"$date": 1, "$date": 2}"""))
    // inside a wrapper's inner object the last value wins, as in the tree
    val inner = """{"$binary": {"base64": "YQ==", "base64": "Yg==", "subType": "00"}}"""
    assert(LegacyExtJson.convert(inner) === LegacyExtJsonTree.convert(inner))
    // and inside a wrapper-named field's value when more fields follow
    val plain = """{"$date": {"a": 1, "a": 2}, "x": 1}"""
    assert(LegacyExtJson.convert(plain) === LegacyExtJsonTree.convert(plain))
    assert(LegacyExtJson.convert(plain) === """{"$date": {"a": 2}, "x": 1}""")
    // the same key in different objects is not a repeat
    assert(LegacyExtJson.convert("""{"a": {"a": 1}, "b": [{"a": 2}, {"a": 3}]}""") ===
      """{"a": {"a": 1}, "b": [{"a": 2}, {"a": 3}]}""")
  }

  test("invalid UTF-8 throws; the tree read it as U+FFFD") {
    def bytes(xs: Int*) = UTF8String.fromBytes(xs.map(_.toByte).toArray)
    val q = '"'.toInt
    for (bad <- Seq(
        bytes(q, 0xff, q), // never a UTF-8 byte
        bytes(q, 0xc3, q), // a cut 2-byte sequence
        bytes(q, 0xe6, 0x97, q), // a cut 3-byte sequence
        bytes(q, 0xed, 0xa0, 0x80, q), // an encoded surrogate
        bytes('{', q, 0x80, q, ':', '1', '}'), // a bare continuation byte, in a key
        bytes(0xef, 0xbb, 0xbf, '1'), // a byte order mark
        bytes('{', 0, '}', 0))) // UTF-16 to Jackson's encoding sniffing
      intercept[IllegalArgumentException](LegacyExtJson.convert(bad))
    assert(LegacyExtJsonTree.convert(bytes(q, 0xff, q).toString) === "\"\\ufffd\"")
  }

  test("empty or blank input throws; the tree converted it to null") {
    for (blank <- Seq("", " ", "\n\t "))
      intercept[IllegalArgumentException](LegacyExtJson.convert(blank))
    assert(LegacyExtJsonTree.convert(" ") === "null")
  }

  test("reads a string in place at an offset, on-heap or off-heap, in both eval paths") {
    // the kernel call's evaluable form is the StaticInvoke it is replaced by
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.Platform
    val in = s"""{"_id": {"$$oid": "$oid"}, "t": {"$$date": {"$$numberLong": "1720890531823"}}, "s": "é"}"""
    val want = s"""{"_id": {"$$oid": "$oid"}, "t": {"$$date": 1720890531823}, "s": "\\u00e9"}"""
    val bytes = in.getBytes("UTF-8")
    // a slice of a larger array
    val padded = Array.fill[Byte](7)('x') ++ bytes ++ Array.fill[Byte](5)('}')
    assert(LegacyExtJson.convert(UTF8String.fromBytes(padded, 7, bytes.length)).toString === want)
    // off-heap bytes
    val addr = Platform.allocateMemory(bytes.length)
    try {
      Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, null, addr, bytes.length)
      assert(LegacyExtJson.convert(UTF8String.fromAddress(null, addr, bytes.length))
        .toString === want)
    } finally Platform.freeMemory(addr)
    // the second field of an UnsafeRow: a slice of the row's buffer
    val row = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](
      StringType, StringType))(InternalRow(UTF8String.fromString("pad"), UTF8String.fromString(in)))
    assert(row.getUTF8String(1).getBaseOffset > Platform.BYTE_ARRAY_OFFSET)
    val expr = toExpression(LegacyExtJsonCol(toColumn(BoundReference(1, StringType,
      nullable = true)))).asInstanceOf[KernelCall].replacement
    assert(expr.eval(row).toString === want)
    assert(UnsafeProjection.create(Seq(expr))(row).getUTF8String(0).toString === want)
  }

  test("canonical-mode update fixture converts to the exact legacy envelope bytes") {
    import spark.implicits._
    // The update() golden event (events.py:30-60) as a canonical-mode
    // connector would carry it: $numberInt-wrapped ints. The legacy
    // envelope must come out byte-identical to the splice-verbatim
    // legacy fixture (EnvelopeTransformSpec's pinned bytes).
    def canonDoc(a: Int) =
      s"""{"_id": {"$$oid": "$oid"}, "a": {"$$numberInt": "$a"}}"""
    val ev = ChangeEvents.goldenEvents(1).copy(
      documentKey = Some(s"""{"_id": {"$$oid": "$oid"}}"""),
      fullDocument = Some(canonDoc(2)),
      fullDocumentBeforeChange = Some(canonDoc(1)),
      updateDescription = Some(UpdateDescription(
        """{"a": {"$numberInt": "2"}}""", Seq.empty, Seq.empty)))
    val df = spark.createDataFrame(Seq(ev).toDF().rdd, ChangeEvents.schema)
    val row = EnvelopeTransform(df, "test", legacyDialect = true).head()
    assert(row.getString(1) === ChangeEvents.docKeyJson) // key via codec
    assert(row.getString(2) ===
      s"""{"before": {"_id": {"$$oid": "$oid"}, "a": 1}, """ +
      """"updateDescription": {"removedFields": [], "truncatedArrays": [], "updatedFields": {"a": 2}}, """ +
      s""""after": {"_id": {"$$oid": "$oid"}, "a": 2}, "op": "u"}""")
  }

  test("legacy-dialect transform is a no-op on already-legacy fixtures") {
    val plain = EnvelopeTransform(ChangeEvents.golden(spark), "test").collect()
    val legacy = EnvelopeTransform(ChangeEvents.golden(spark), "test",
      legacyDialect = true).collect()
    assert(legacy.map(_.getString(2)).toSeq ===
      plain.map(_.getString(2)).toSeq)
    assert(legacy.map(_.getString(1)).toSeq ===
      plain.map(_.getString(1)).toSeq)
  }
}
