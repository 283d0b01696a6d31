package graft.functions

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** The tree form of the legacy codec, kept as the reference the
  * streaming `LegacyExtJson` is checked against: it decodes the input
  * to a `String`, `readTree`s it into a `JsonNode` tree and writes the
  * tree out in the legacy dialect. Floats go through the same
  * `LegacyExtJson.pyFloatRepr`.
  *
  * Where the two differ on purpose (see `LegacyExtJsonSpec`): the tree
  * keeps the last value of a repeated key at the first key's position,
  * turns invalid UTF-8 into U+FFFD, and converts an empty or blank
  * input to `null`.
  */
object LegacyExtJsonTree {

  // FAIL_ON_TRAILING_TOKENS: a default readTree stops after the first
  // value, so `{"_id": 5} {"b": 2}` would convert to `{"_id": 5}`
  // and drop the rest; trailing whitespace still passes.
  private val mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

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
      if (n.isFloatingPointNumber) sb.append(LegacyExtJson.pyFloatRepr(n.asDouble()))
      else sb.append(n.asText())
    }
    else if (n.isBoolean) sb.append(if (n.asBoolean()) "true" else "false")
    else sb.append("null") // null node
  }

  private def writeObject(n: JsonNode, sb: java.lang.StringBuilder): Unit = {
    val size = n.size()
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
      val t = n.get("$timestamp")
      sb.append("{\"$timestamp\": {\"t\": ").append(t.get("t").asLong())
        .append(", \"i\": ").append(t.get("i").asLong()).append("}}")
      return
    }
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

  private def writeDoubleText(t: String, sb: java.lang.StringBuilder): Unit =
    t match {
      case "NaN" => sb.append("NaN")
      case "Infinity" => sb.append("Infinity")
      case "-Infinity" => sb.append("-Infinity")
      case s => sb.append(LegacyExtJson.pyFloatRepr(java.lang.Double.parseDouble(s)))
    }

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
