package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
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
    intercept[IllegalArgumentException] {
      LegacyExtJson.convert("""{"a": """)
    }
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
