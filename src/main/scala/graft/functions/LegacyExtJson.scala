package graft.functions

import com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.{toColumn, toExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** E3: MongoDB extended-JSON dialect conversion — canonical/relaxed →
  * **legacy** — matching `bson.json_util.dumps(...,
  * LEGACY_JSON_OPTIONS)` byte-for-byte for the types the reference
  * exercises (`producing/change_event_handler.py:95-113`,
  * `tests/mocks/events.py`):
  *
  *  - ObjectId   `{"$oid": "hex"}`                      — unchanged
  *  - datetime   `{"$date": {"$numberLong": "ms"}}` or
  *               `{"$date": "ISO-8601"}`       → `{"$date": ms}`
  *  - Timestamp  `{"$timestamp": {"t": t, "i": i}}`     — t,i order
  *  - Binary     `{"$binary": {"base64": b, "subType": s}}`
  *                                     → `{"$binary": "b", "$type": "s"}`
  *  - Int64      `{"$numberLong": "n"}`         → plain `n`
  *  - Int32      `{"$numberInt": "n"}`          → plain `n`
  *  - Double     `{"$numberDouble": "x"}`       → plain `x`
  *                 (`"NaN"`/`"Infinity"`/`"-Infinity"` become the bare
  *                 literals Python's json.dumps emits)
  *  - Regex      `{"$regularExpression": {pattern, options}}`
  *                             → `{"$regex": p, "$options": o}`
  *
  * Output formatting replicates `json.dumps` defaults (what json_util
  * delegates to): `", "` / `": "` separators, `ensure_ascii` (every
  * non-ASCII UTF-16 unit as `\\uXXXX`), input key order preserved.
  * Already-legacy input passes through unchanged, so the codec is
  * idempotent. Floating-point literals re-render in CPython
  * float-repr form (`pyFloatRepr`) — Python-parity output bytes,
  * regardless of the source's formatting; integer literals pass
  * through verbatim.
  *
  * Malformed JSON throws — the reference crashes on undumpable input
  * too (`KeyError`/`TypeError`); silently nulling would drop a change
  * event from the stream.
  */
object LegacyExtJson {

  // Floating-point literals (bare or $numberDouble-wrapped) do NOT
  // preserve source text: they re-render through pyFloatRepr so the
  // output is exactly what Python's json.dumps would emit for the
  // same double — the byte-parity contract is with json_util, not
  // with the input's formatting.
  private val mapper: ObjectMapper = new ObjectMapper()

  def convert(s: String): String = {
    val node =
      try mapper.readTree(s)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"legacy_ext_json: input is not valid JSON: ${e.getMessage}")
      }
    val sb = new java.lang.StringBuilder(s.length)
    write(node, sb)
    sb.toString
  }

  private def write(n: JsonNode, sb: java.lang.StringBuilder): Unit = {
    if (n.isObject) writeObject(n, sb)
    else if (n.isArray) {
      sb.append('[')
      var first = true
      val it = n.elements()
      while (it.hasNext) {
        if (!first) sb.append(", ")
        first = false
        write(it.next(), sb)
      }
      sb.append(']')
    }
    else if (n.isTextual) writeString(n.asText(), sb)
    else if (n.isNumber) {
      // floating-point literals re-render in Python repr form (what
      // json.dumps emits) so Java-driver exponent notation (1.0E10)
      // and already-legacy Python text (10000000000.0) both normalize
      // to the reference's bytes; integer literals pass through
      if (n.isFloatingPointNumber) sb.append(pyFloatRepr(n.asDouble()))
      else sb.append(n.asText())
    }
    else if (n.isBoolean) sb.append(if (n.asBoolean()) "true" else "false")
    else sb.append("null") // null node
  }

  private def writeObject(n: JsonNode, sb: java.lang.StringBuilder): Unit = {
    val size = n.size()
    // ---- canonical wrappers that change shape in the legacy dialect
    if (size == 1 && n.has("$date")) { writeDate(n.get("$date"), sb); return }
    if (size == 1 && n.has("$numberLong")) {
      sb.append(java.lang.Long.parseLong(n.get("$numberLong").asText()))
      return
    }
    if (size == 1 && n.has("$numberInt")) {
      sb.append(java.lang.Integer.parseInt(n.get("$numberInt").asText()))
      return
    }
    if (size == 1 && n.has("$numberDouble")) {
      writeDoubleText(n.get("$numberDouble").asText(), sb)
      return
    }
    if (size == 1 && n.has("$binary") && n.get("$binary").isObject) {
      val b = n.get("$binary")
      sb.append("{\"$binary\": ")
      writeString(b.get("base64").asText(), sb)
      sb.append(", \"$type\": ")
      writeString(b.get("subType").asText(), sb)
      sb.append('}')
      return
    }
    if (size == 1 && n.has("$regularExpression") &&
        n.get("$regularExpression").isObject) {
      val r = n.get("$regularExpression")
      sb.append("{\"$regex\": ")
      writeString(r.get("pattern").asText(), sb)
      sb.append(", \"$options\": ")
      writeString(r.get("options").asText(), sb)
      sb.append('}')
      return
    }
    if (size == 1 && n.has("$timestamp") && n.get("$timestamp").isObject) {
      // normalize to json_util's {"t": ..., "i": ...} member order
      val t = n.get("$timestamp")
      sb.append("{\"$timestamp\": {\"t\": ").append(t.get("t").asLong())
        .append(", \"i\": ").append(t.get("i").asLong()).append("}}")
      return
    }
    // ---- plain object: recurse, preserving the input's key order
    sb.append('{')
    var first = true
    val fields = n.fields()
    while (fields.hasNext) {
      val e = fields.next()
      if (!first) sb.append(", ")
      first = false
      writeString(e.getKey, sb)
      sb.append(": ")
      write(e.getValue, sb)
    }
    sb.append('}')
  }

  /** legacy `$date` is integer epoch-millis; accepts canonical
    * (`{"$numberLong": "ms"}`), relaxed (ISO-8601 string), and
    * already-legacy (number) input forms
    */
  private def writeDate(v: JsonNode, sb: java.lang.StringBuilder): Unit = {
    val millis: Long =
      if (v.isObject && v.has("$numberLong"))
        java.lang.Long.parseLong(v.get("$numberLong").asText())
      else if (v.isTextual)
        java.time.OffsetDateTime.parse(v.asText()).toInstant.toEpochMilli
      else if (v.isNumber) v.asLong()
      else throw new IllegalArgumentException(
        s"legacy_ext_json: unrecognized $$date value: $v")
    sb.append("{\"$date\": ").append(millis).append('}')
  }

  /** canonical `$numberDouble` payloads are strings; the legacy
    * dialect inlines them as bare tokens in Python float-repr form
    * (json.dumps delegates to float.__repr__), including the
    * non-standard `NaN`/`Infinity` literals
    */
  private def writeDoubleText(t: String, sb: java.lang.StringBuilder): Unit =
    t match {
      case "NaN" => sb.append("NaN")
      case "Infinity" => sb.append("Infinity")
      case "-Infinity" => sb.append("-Infinity")
      case s => sb.append(pyFloatRepr(java.lang.Double.parseDouble(s)))
    }

  /** CPython float.__repr__: shortest round-trip digits, positional
    * form while the decimal exponent is in [-4, 16), otherwise
    * `d.ddde±XX` with a sign-carrying, 2+-digit exponent — so
    * `1.0E10` becomes `10000000000.0` and `1.5E-5` becomes `1.5e-05`,
    * byte-matching json_util output.
    *
    * The digits come from jackson-core's Schubfach
    * (`DoubleToDecimal.toString`, the algorithm JDK 19 adopted for
    * `Double.toString`): the shortest decimal that rounds back to the
    * double, the closest to it among those — the digits CPython's repr
    * picks. Its output is only re-laid here. One rule differs: when
    * one digit would do, the JDK spec lets Schubfach return the closest
    * two-digit decimal instead (`4.9E-324` for `Double.MIN_VALUE`,
    * where Python prints `5e-324`), so a two-digit result is replaced
    * by its one-digit HALF_EVEN rounding when that round-trips. Only
    * subnormals can have two such candidates: a normal double's
    * rounding interval is under 2^-52 of its value, far narrower than
    * the 1/100 between a one- and a two-digit decimal.
    *
    * JDK 17 offers nothing usable: its `Double.toString` is not
    * shortest (`1e23` → `9.999999999999999E22`), and Formatter's
    * `%.Ne` rounds from those same digits rather than from the exact
    * value (`5.9817367476343565e17` at 16 digits gives `…357e+17`,
    * CPython `…356e+17`).
    */
  private[functions] def pyFloatRepr(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == Double.PositiveInfinity) return "Infinity"
    if (d == Double.NegativeInfinity) return "-Infinity"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val abs = math.abs(d)
    // Schubfach renders `iii.fff` for 1e-3 <= abs < 1e7, else `d.dddEn`:
    // collect the significant digits and where the point falls
    val s = DoubleToDecimal.toString(abs)
    val ePos = s.indexOf('E')
    val mantEnd = if (ePos < 0) s.length else ePos
    val sig = new java.lang.StringBuilder(17)
    var intLen = 0 // mantissa chars before the point, leading zeros included
    var lead = 0 // leading zeros
    var i = 0
    while (i < mantEnd) {
      val c = s.charAt(i)
      if (c == '.') intLen = i
      else if (c == '0' && sig.length == 0) lead += 1
      else sig.append(c)
      i += 1
    }
    var end = sig.length
    while (sig.charAt(end - 1) == '0') end -= 1
    var digits = sig.substring(0, end)
    var e10 = intLen - lead - 1 +
      (if (ePos < 0) 0 else Integer.parseInt(s, ePos + 1, s.length, 10))
    if (digits.length == 2 && abs < java.lang.Double.MIN_NORMAL) {
      val one = new java.math.BigDecimal(abs)
        .round(new java.math.MathContext(1, java.math.RoundingMode.HALF_EVEN))
      if (one.doubleValue == abs) {
        digits = one.unscaledValue.toString
        e10 = -one.scale
      }
    }
    val sb = new StringBuilder
    if (neg) sb.append('-')
    if (e10 >= 16 || e10 < -4) {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits.substring(1))
      sb.append('e').append(if (e10 >= 0) '+' else '-')
      val ae = math.abs(e10)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    } else if (e10 >= 0) {
      val ipLen = e10 + 1
      if (digits.length <= ipLen)
        sb.append(digits).append("0" * (ipLen - digits.length)).append(".0")
      else
        sb.append(digits.substring(0, ipLen)).append('.')
          .append(digits.substring(ipLen))
    } else {
      sb.append("0.").append("0" * (-e10 - 1)).append(digits)
    }
    sb.toString
  }

  /** Python json.dumps default escaping: ensure_ascii, named escapes
    * for the C0 controls that have them, `\\uXXXX` for the rest and
    * for every char above 0x7E (surrogate halves escape per UTF-16
    * unit, exactly like CPython).
    */
  private def writeString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case _ =>
          if (c < 0x20 || c > 0x7e) sb.append(f"\\u${c.toInt}%04x")
          else sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}

/** `legacy_ext_json(col)` as a Catalyst expression: string → string,
  * codegen'd as a single static call so it stays inside whole-stage
  * codegen (the conversion itself is allocation-light: one Jackson
  * parse + one StringBuilder per value).
  */
case class LegacyExtJsonExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"legacy_ext_json requires a string argument, got " +
        child.dataType.simpleString)

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      LegacyExtJson.convert(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.LegacyExtJson.convert($c.toString()))")

  override protected def withNewChildInternal(
      newChild: Expression): LegacyExtJsonExpr = copy(child = newChild)
}

object LegacyExtJsonCol {
  def apply(c: Column): Column =
    toColumn(LegacyExtJsonExpr(toExpression(c)))
}
