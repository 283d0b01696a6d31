package graft.functions

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.core.JsonToken._
import com.fasterxml.jackson.core.io.NumberOutput
import com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.TextNode

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform
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
  * A wrapper's name must be its object's only field; otherwise the
  * object is plain and its values convert like any other. Within a
  * wrapper-named field's value a repeated key keeps its last value at
  * its first position, as a parsed tree (a Python dict) does.
  *
  * Output formatting replicates `json.dumps` defaults (what json_util
  * delegates to): `", "` / `": "` separators, `ensure_ascii` (every
  * non-ASCII UTF-16 unit as `\\uXXXX`), input key order preserved.
  * Already-legacy input passes through unchanged, so the codec is
  * idempotent. Floating-point literals re-render in CPython
  * float-repr form (`pyFloatRepr`) — Python-parity output bytes,
  * regardless of the source's formatting; integer literals keep their
  * value (`-0` becomes `0`).
  *
  * One Jackson `JsonParser` pass reads the UTF-8 bytes and writes the
  * ASCII output into one growable byte array. Malformed input throws
  * `IllegalArgumentException` — the reference crashes on undumpable
  * input too (`KeyError`/`TypeError`); silently nulling would drop a
  * change event from the stream. Empty input, trailing tokens, a key
  * repeated in an object written field by field and invalid UTF-8 (as
  * Jackson decodes it) count too.
  */
object LegacyExtJson {

  private val mapper = new ObjectMapper()

  // $date and the number wrappers wrap any value; $binary,
  // $regularExpression and $timestamp an object only
  private val Wrappers = Set("$date", "$numberLong", "$numberInt", "$numberDouble",
    "$binary", "$regularExpression", "$timestamp")

  // per ASCII char: 0 = copied, -1 = `\u00XX`, else the char after `\`
  private val Esc: Array[Byte] = {
    val t = new Array[Byte](128)
    (0 until 0x20).foreach(t(_) = -1)
    t(0x7f) = -1
    Seq('"' -> '"', '\\' -> '\\', '\n' -> 'n', '\r' -> 'r', '\t' -> 't',
      '\b' -> 'b', '\f' -> 'f').foreach { case (c, e) => t(c) = e.toByte }
    t
  }
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  def convert(s: String): String = convert(UTF8String.fromString(s)).toString

  /** Reads `s`'s backing bytes in place when they are an on-heap array
    * (as inside an `UnsafeRow`).
    */
  def convert(s: UTF8String): UTF8String = s.getBaseObject match {
    case a: Array[Byte] =>
      new Pass(a).run((s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
    case _ => new Pass(s.getBytes).run(0, s.numBytes)
  }

  /** One conversion of `in`'s bytes. */
  private final class Pass(in: Array[Byte]) {
    private var out: Array[Byte] = _
    private var at = 0
    // the keys of the objects open in the output, innermost last
    private var keys = new Array[String](16)
    private var nKeys = 0

    def run(off: Int, len: Int): UTF8String = {
      // Jackson reads UTF-16/32 after a byte order mark or a NUL in the
      // first four bytes and skips a UTF-8 mark; JSON text has neither
      if (len > 0 && in(off) < 0 || (off until off + math.min(len, 4)).exists(in(_) == 0))
        bad("not UTF-8 JSON text")
      out = new Array[Byte](len + (len >> 3) + 16)
      val p = mapper.createParser(in, off, len)
      try {
        if (p.nextToken() == null) bad("empty input")
        value(p)
        if (p.nextToken() != null) bad("trailing tokens after the value")
      } catch { case e: java.io.IOException => bad(e.getMessage) }
      finally p.close()
      UTF8String.fromBytes(out, 0, at)
    }

    private def bad(why: String): Nothing =
      throw new IllegalArgumentException(s"legacy_ext_json: input is not valid JSON: $why")

    private def value(p: JsonParser): Unit = p.currentToken match {
      case VALUE_STRING => string(p.getTextCharacters, p.getTextOffset, p.getTextLength)
      case START_OBJECT => obj(p)
      case VALUE_NUMBER_INT =>
        if (p.getNumberType == JsonParser.NumberType.BIG_INTEGER)
          ascii(p.getBigIntegerValue.toString)
        else putLong(p.getLongValue)
      case VALUE_NUMBER_FLOAT => ascii(pyFloatRepr(p.getDoubleValue))
      case START_ARRAY =>
        put('[')
        if (p.nextToken() != END_ARRAY) {
          value(p)
          while (p.nextToken() != END_ARRAY) { ascii(", "); value(p) }
        }
        put(']')
      case t => ascii(if (t == VALUE_TRUE) "true" else if (t == VALUE_FALSE) "false" else "null")
    }

    /** An object, START_OBJECT to END_OBJECT. A wrapper-named first
      * field's value is read as a `JsonNode`; if the object ends after
      * it and the wrapper applies, its legacy form replaces the object
      * from `mark` on, else the node is written as a plain value.
      */
    private def obj(p: JsonParser): Unit = {
      val mark = at
      if (p.nextToken() == END_OBJECT) { ascii("{}"); return }
      val w = p.currentName
      var first = w.startsWith("$") && Wrappers(w) // and so the object may be a wrapper
      val start = nKeys
      put('{')
      do {
        if (at > mark + 1) ascii(", ")
        key(p, start)
        p.nextToken()
        if (!first) { value(p); p.nextToken() }
        else {
          first = false
          val v: JsonNode =
            if (p.currentToken == VALUE_STRING) TextNode.valueOf(p.getText)
            else mapper.readTree[JsonNode](p)
          if (p.nextToken() == END_OBJECT && wrapper(w, v, mark)) { nKeys = start; return }
          val q = v.traverse()
          q.nextToken()
          value(q)
        }
      } while (p.currentToken != END_OBJECT)
      nKeys = start
      put('}')
    }

    /** Writes the current field's key. A parsed tree (a Python dict)
      * keeps a repeated key's last value at its first position, which
      * one pass cannot do: a key repeated in its object throws.
      */
    private def key(p: JsonParser, start: Int): Unit = {
      val k = p.currentName
      var i = start
      while (i < nKeys) { if (keys(i) == k) bad(s"repeated key $k"); i += 1 }
      if (nKeys == keys.length) keys = java.util.Arrays.copyOf(keys, 2 * nKeys)
      keys(nKeys) = k
      nKeys += 1
      string(p.getTextCharacters, p.getTextOffset, p.getTextLength)
      ascii(": ")
    }

    /** Writes `{w: v}`'s legacy form from `mark` on, reading `v` as the
      * tree codec does; false, with nothing written, when `w` wraps an
      * object only and `v` is none.
      */
    private def wrapper(w: String, v: JsonNode, mark: Int): Boolean = {
      if (!v.isObject && (w == "$binary" || w == "$regularExpression" || w == "$timestamp"))
        return false
      def field(n: String): JsonNode = Option(v.get(n)).getOrElse(bad(s"$w has no $n field"))
      at = mark
      w match {
        case "$date" =>
          // legacy `$date` is integer epoch-millis, from canonical
          // `{"$numberLong": "ms"}`, relaxed ISO-8601 or legacy input
          val ms =
            if (v.isObject && v.has("$numberLong"))
              java.lang.Long.parseLong(v.get("$numberLong").asText)
            else if (v.isTextual)
              try java.time.OffsetDateTime.parse(v.asText).toInstant.toEpochMilli
              catch { case e: java.time.DateTimeException => bad(e.getMessage) }
            else if (v.isNumber) v.asLong
            else bad("unrecognized $date value")
          ascii("{\"$date\": ")
          putLong(ms)
          put('}')
        case "$numberLong" => putLong(java.lang.Long.parseLong(v.asText))
        case "$numberInt" => putLong(java.lang.Integer.parseInt(v.asText))
        case "$numberDouble" => v.asText match {
          case t @ ("NaN" | "Infinity" | "-Infinity") => ascii(t)
          case t => ascii(pyFloatRepr(java.lang.Double.parseDouble(t)))
        }
        case "$timestamp" => // json_util's {"t": ..., "i": ...} member order
          ascii("{\"$timestamp\": {\"t\": ")
          putLong(field("t").asLong)
          ascii(", \"i\": ")
          putLong(field("i").asLong)
          ascii("}}")
        case _ =>
          val binary = w == "$binary"
          ascii(if (binary) "{\"$binary\": " else "{\"$regex\": ")
          string(field(if (binary) "base64" else "pattern").asText)
          ascii(if (binary) ", \"$type\": " else ", \"$options\": ")
          string(field(if (binary) "subType" else "options").asText)
          put('}')
      }
      true
    }

    private def room(n: Int): Unit =
      if (at + n > out.length) out = java.util.Arrays.copyOf(out, math.max(2 * out.length, at + n))

    private def put(c: Char): Unit = { room(1); out(at) = c.toByte; at += 1 }

    private def ascii(s: String): Unit = {
      room(s.length)
      var i = 0
      while (i < s.length) { out(at + i) = s.charAt(i).toByte; i += 1 }
      at += s.length
    }

    private def putLong(v: Long): Unit = { room(20); at = NumberOutput.outputLong(v, out, at) }

    private def string(s: String): Unit = string(s.toCharArray, 0, s.length)

    /** Python json.dumps default escaping: ensure_ascii, named escapes
      * for the C0 controls that have them, `\\uXXXX` for the rest and
      * for every char above 0x7E (surrogate halves escape per UTF-16
      * unit, exactly like CPython).
      */
    private def string(cs: Array[Char], from: Int, len: Int): Unit = {
      room(len + 2) // a byte a char and the quotes; an escape asks for more
      put('"')
      var i = from
      while (i < from + len) {
        val c = cs(i)
        val e: Byte = if (c < 0x80) Esc(c) else -1
        if (e == 0) { out(at) = c.toByte; at += 1 }
        else {
          room(from + len - i + 6)
          out(at) = '\\'.toByte
          if (e > 0) { out(at + 1) = e; at += 2 }
          else {
            out(at + 1) = 'u'.toByte
            for (k <- 0 to 3) out(at + 2 + k) = Hex((c >> (12 - 4 * k)) & 0xf)
            at += 6
          }
        }
        i += 1
      }
      put('"')
    }
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
    val s = DoubleToDecimal.toString(abs)
    // 1e-3 <= abs < 1e7: CPython's positional text is Schubfach's;
    // otherwise it renders `d.dddEn`, read here as digits and exponent
    if (s.indexOf('E') < 0) return if (neg) "-" + s else s
    val sch = new java.math.BigDecimal(s).stripTrailingZeros
    lazy val one = new java.math.BigDecimal(abs)
      .round(new java.math.MathContext(1, java.math.RoundingMode.HALF_EVEN))
    val dec =
      if (sch.precision == 2 && abs < java.lang.Double.MIN_NORMAL && one.doubleValue == abs) one
      else sch
    val digits = dec.unscaledValue.toString
    val e10 = digits.length - 1 - dec.scale
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
}

/** `legacy_ext_json(col)`: string → string, one static call to
  * `LegacyExtJson.convert`, which reads the `UTF8String`'s backing
  * bytes in place: one parser pass and one output array per value.
  */
object LegacyExtJsonCol {
  def apply(c: Column): Column =
    kernelCall("legacy_ext_json", LegacyExtJson, "convert", StringType, Seq(c -> StringType))
}
