package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The JSON line Spark's JSON datasource writes for a `(key, value)`
  * row — `{"key":"…","value":"…"}`, a null field left out — encoded
  * straight from the two strings' UTF-8 bytes into one exact-size
  * array, with no round trip through UTF-16 chars.
  *
  * Escaping is Jackson's default, byte for byte: `\"`, `\\`, the named
  * `\n \r \t \b \f`, `\u00XX` (upper-case hex) for every other byte
  * below 0x20, and every other byte — `/`, 0x7f, U+2028, all non-ASCII
  * — copied as is.
  *
  * Malformed UTF-8 is copied as is too, where Jackson's path (via
  * `UTF8String.toString`) would write U+FFFD in its place. The
  * envelope is built from valid strings, so the sink never sees any.
  */
object JsonLine {

  private val KeyHead = "\"key\":\"".getBytes("US-ASCII")
  private val ValueHead = "\"value\":\"".getBytes("US-ASCII")
  private val Hex = "0123456789ABCDEF".getBytes("US-ASCII")

  // per ASCII byte: 0 = copied, -1 = `\u00XX`, else the char after `\`
  private val Esc: Array[Byte] = {
    val t = new Array[Byte](128)
    (0 until 0x20).foreach(t(_) = -1)
    Seq('"' -> '"', '\\' -> '\\', '\n' -> 'n', '\r' -> 'r', '\t' -> 't',
      '\b' -> 'b', '\f' -> 'f').foreach { case (c, e) => t(c) = e.toByte }
    t
  }

  def encode(key: UTF8String, value: UTF8String): UTF8String = {
    var n = 2
    if (key != null) n += KeyHead.length + escapedSize(key) + 1
    if (value != null)
      n += ValueHead.length + escapedSize(value) + 1 + (if (key != null) 1 else 0)
    val out = new Array[Byte](n)
    out(0) = '{'.toByte
    var at = 1
    if (key != null) at = field(KeyHead, key, out, at)
    if (value != null) {
      if (key != null) { out(at) = ','.toByte; at += 1 }
      at = field(ValueHead, value, out, at)
    }
    out(at) = '}'.toByte
    UTF8String.fromBytes(out)
  }

  private def escapedSize(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var n = 0
    var i = 0
    while (i < s.numBytes) {
      val b = Platform.getByte(base, off + i)
      val e: Byte = if (b < 0) 0 else Esc(b)
      n += (if (e == 0) 1 else if (e < 0) 6 else 2)
      i += 1
    }
    n
  }

  // `"name":"` + the escaped bytes + `"`; returns the next free index
  private def field(head: Array[Byte], s: UTF8String, out: Array[Byte],
      from: Int): Int = {
    System.arraycopy(head, 0, out, from, head.length)
    var at = from + head.length
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < s.numBytes) {
      val b = Platform.getByte(base, off + i)
      val e: Byte = if (b < 0) 0 else Esc(b)
      if (e == 0) { out(at) = b; at += 1 }
      else {
        out(at) = '\\'.toByte
        if (e > 0) { out(at + 1) = e; at += 2 }
        else {
          out(at + 1) = 'u'.toByte; out(at + 2) = '0'.toByte; out(at + 3) = '0'.toByte
          out(at + 4) = Hex(b >> 4); out(at + 5) = Hex(b & 0xf)
          at += 6
        }
      }
      i += 1
    }
    out(at) = '"'.toByte
    at + 1
  }
}

/** `JsonLine.encode(key, value)` as one static call: never null, and a
  * null key or value is passed on to `encode`, which leaves it out.
  */
object JsonLineCol {
  def apply(key: Column, value: Column): Column =
    kernelCall("json_line", JsonLine, "encode", StringType,
      Seq(key -> StringType, value -> StringType), propagateNull = false)
}
