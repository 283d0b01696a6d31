package graft.functions

import org.scalacheck.Gen

/** Generated extended-JSON documents for the legacy codec: `doc`,
  * which most often converts, and `malformed`, which both codecs must
  * reject. `LegacyExtJsonDiffSpec` checks the streaming codec against
  * the tree codec over them, and `graft.tools.CodecTiming` times both.
  *
  * No object repeats a key: the two codecs differ there on purpose
  * (`LegacyExtJsonSpec` pins it).
  */
object ExtJsonGen {

  // ---- text: ASCII, every C0 control, DEL, quote and backslash, and
  // 2-, 3- and 4-byte UTF-8 (the last a surrogate pair in UTF-16)
  private val codePoint: Gen[Int] = Gen.frequency(
    8 -> Gen.choose(0x20, 0x7e),
    2 -> Gen.choose(0x00, 0x1f),
    1 -> Gen.oneOf(0x7f, '"'.toInt, '\\'.toInt, '/'.toInt),
    2 -> Gen.choose(0x80, 0x7ff),
    2 -> Gen.oneOf(Gen.choose(0x800, 0xd7ff), Gen.choose(0xe000, 0xfffd),
      Gen.const(0x2028)),
    2 -> Gen.choose(0x10000, 0x10ffff))

  private val text: Gen[String] = Gen.choose(0, 12).flatMap(n =>
    Gen.listOfN(n, codePoint).map(cps =>
      new String(cps.toArray, 0, cps.length)))

  /** A JSON string literal: controls escaped (named or `\u`), other
    * chars raw or, sometimes, `\u`-escaped; lone surrogates only as
    * escapes (raw ones have no UTF-8 form).
    */
  private def literal(s: String, escapeAll: Boolean): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 || escapeAll && c > 0x7e => sb.append(f"\\u${c.toInt}%04X")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private val str: Gen[String] = Gen.frequency(
    10 -> text.map(literal(_, escapeAll = false)),
    2 -> text.map(literal(_, escapeAll = true)),
    1 -> Gen.oneOf("\"\\ud800\"", "\"a\\udc00b\"", "\"\\ud83d\\ude80\"", "\"\\/\""))

  // ---- numbers
  private val int: Gen[String] = Gen.frequency(
    4 -> Gen.choose(-1000, 1000).map(_.toString),
    2 -> Gen.long.map(_.toString),
    1 -> Gen.oneOf("-0", "0", "9223372036854775807", "-9223372036854775808",
      "9223372036854775808", "-9223372036854775809",
      "123456789012345678901234567890", "-99999999999999999999"))

  private val double: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e6, 1e6),
    2 -> Gen.long.map(java.lang.Double.longBitsToDouble)
      .filter(d => !d.isNaN && !d.isInfinite),
    2 -> Gen.oneOf(-0.0, 0.0, 1e16, 1e15, 1e-4, 1e-5, 5e-324, 4.9e-324,
      2.2250738585072014e-308, 1.7976931348623157e308, 1e23, 0.1, -1.5e-7))

  private val float: Gen[String] = Gen.frequency(
    3 -> double.map(_.toString), // Java text: 1.0E10 forms
    2 -> double.map(LegacyExtJson.pyFloatRepr), // Python text: 1e+16 forms
    1 -> Gen.oneOf("-0.0", "0.0", "1E400", "-1e-400", "1e16", "1.5E-5", "2e0",
      "10000000000.0", "0.000001", "123.456e2"))

  private val scalar: Gen[String] = Gen.frequency(
    4 -> str, 3 -> int, 3 -> float,
    1 -> Gen.oneOf("true", "false", "null"))

  // ---- wrappers: canonical, relaxed and already-legacy forms
  private def obj(fs: (String, String)*): String =
    fs.map { case (k, v) => s"${literal(k, escapeAll = false)}: $v" }
      .mkString("{", ", ", "}")

  private val iso: Gen[String] = for {
    ms <- Gen.choose(-62135596800000L, 253402300799999L)
    off <- Gen.oneOf("Z", "+02:00", "-05:30")
  } yield {
    val t = java.time.Instant.ofEpochMilli(ms).atOffset(java.time.ZoneOffset.UTC)
    val z = java.time.ZoneOffset.of(if (off == "Z") "+00:00" else off)
    "\"" + t.atZoneSameInstant(z).toOffsetDateTime.toString
      .replace("+00:00", "Z") + "\""
  }

  private def wrapper(v: Gen[String]): Gen[String] = Gen.frequency(
    // $date: canonical, relaxed, legacy
    3 -> Gen.long.map(ms => obj("$date" -> obj("$numberLong" -> s""""$ms"""")))
      .flatMap(Gen.const),
    2 -> iso.map(s => obj("$date" -> s)),
    2 -> Gen.long.map(ms => obj("$date" -> ms.toString)),
    // number wrappers and their legacy bare forms
    2 -> Gen.long.map(n => obj("$numberLong" -> s""""$n"""")),
    2 -> Gen.choose(Int.MinValue, Int.MaxValue).map(n => obj("$numberInt" -> s""""$n"""")),
    2 -> Gen.oneOf(double.map(_.toString), Gen.oneOf("NaN", "Infinity", "-Infinity",
      "1.0E10", "-0.0", "1e16")).map(d => obj("$numberDouble" -> s""""$d"""")),
    // $binary / $regularExpression / $timestamp, both inner orders, legacy
    2 -> Gen.zip(text, text, Gen.oneOf(true, false)).map { case (b, s, swap) =>
      val in = Seq("base64" -> literal(b, false), "subType" -> literal(s, false))
      obj("$binary" -> obj((if (swap) in.reverse else in): _*)) },
    1 -> Gen.zip(text, text).map { case (b, s) =>
      obj("$binary" -> literal(b, false), "$type" -> literal(s, false)) },
    2 -> Gen.zip(text, text, Gen.oneOf(true, false)).map { case (p, o, swap) =>
      val in = Seq("pattern" -> literal(p, false), "options" -> literal(o, false))
      obj("$regularExpression" -> obj((if (swap) in.reverse else in): _*)) },
    1 -> Gen.zip(text, text).map { case (p, o) =>
      obj("$regex" -> literal(p, false), "$options" -> literal(o, false)) },
    2 -> Gen.zip(Gen.choose(0L, 4294967295L), Gen.choose(0L, 4294967295L),
      Gen.oneOf(true, false)).map { case (t, i, swap) =>
      val in = Seq("t" -> t.toString, "i" -> i.toString)
      obj("$timestamp" -> obj((if (swap) in.reverse else in): _*)) },
    1 -> Gen.listOfN(24, Gen.oneOf("0123456789abcdef")).map(h =>
      obj("$oid" -> s""""${h.mkString}"""")),
    // odd values: non-object $binary/$timestamp/$regularExpression,
    // scalar or container values of every wrapper, odd inner values
    // and missing inner fields, and wrapper names with more fields
    3 -> Gen.zip(wrapperName, v).map { case (w, x) => obj(w -> x) },
    2 -> Gen.zip(wrapperName, v, v).map { case (w, x, y) =>
      obj(w -> x, "x" -> y) },
    1 -> Gen.zip(Gen.oneOf("$binary", "$regularExpression", "$date", "$numberInt"),
      v, v).map { case (w, x, y) => obj(w -> x, "$type" -> y, "$options" -> y) },
    1 -> Gen.zip(Gen.oneOf(("$binary", "base64", "subType"),
      ("$regularExpression", "pattern", "options"), ("$timestamp", "t", "i"),
      ("$date", "$numberLong", "x")), v, v, Gen.choose(0, 3)).map {
      case ((w, a, b), x, y, drop) =>
        val in = Seq(a -> x, b -> y, "z" -> y).take(3 - drop)
        obj(w -> obj(in: _*)) })

  private lazy val wrapperName: Gen[String] = Gen.oneOf("$date", "$numberLong",
    "$numberInt", "$numberDouble", "$binary", "$regularExpression", "$timestamp",
    "$oid", "$regex", "$type")

  /** Any value, nested to `depth` more levels. */
  private def value(depth: Int): Gen[String] =
    if (depth == 0) scalar
    else Gen.frequency(
      5 -> scalar,
      3 -> wrapper(Gen.lzy(value(depth - 1))),
      2 -> document(depth - 1),
      1 -> Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, value(depth - 1)))
        .map(_.mkString("[", ", ", "]")),
      1 -> Gen.oneOf("{}", "[]"))

  private def document(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 5)
    keys <- Gen.listOfN(n, Gen.frequency(4 -> text, 1 -> wrapperName))
    vals <- Gen.listOfN(keys.distinct.length, value(depth))
  } yield obj(keys.distinct.zip(vals): _*)

  /** A whole input, laid out compact (`{"a":1}`) or spaced. */
  val doc: Gen[String] = for {
    depth <- Gen.choose(1, 6)
    d <- Gen.frequency(5 -> document(depth),
      1 -> Gen.listOfN(3, value(depth)).map(_.mkString("[", ", ", "]")))
    compact <- Gen.oneOf(true, false)
  } yield if (compact) squeeze(d) else d

  // drops the blanks after `:` and `,` outside string literals
  private def squeeze(s: String): String = {
    val sb = new StringBuilder
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        sb.append(c)
        if (c == '\\') { sb.append(s.charAt(i + 1)); i += 1 }
        else if (c == '"') inStr = false
      } else if (c == '"') { inStr = true; sb.append(c) }
      else if (c != ' ') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Inputs both codecs must reject. */
  val malformed: Gen[String] = Gen.oneOf(
    // a proper prefix of a document (never blank: the root is `{` or `[`)
    doc.flatMap(d => Gen.choose(1, d.length - 1).map(d.substring(0, _))),
    // trailing tokens
    Gen.zip(doc, Gen.oneOf("1", "{}", "x", "]", "\"a\"", "[1]", ", 2"))
      .map { case (d, t) => d + " " + t },
    // bare non-finite literals
    Gen.zip(doc, Gen.oneOf("NaN", "Infinity", "-Infinity"))
      .map { case (d, x) => s"""{"a": [$x], "d": $d}""" })
}
