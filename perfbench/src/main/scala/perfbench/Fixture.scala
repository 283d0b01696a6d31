package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import graft.cdc.{ChangeEventRow, Ns, ResumeToken, UpdateDescription}

/** Document values, rendered independently of the code under test.
  *
  * Every generated document is a tree of these values. It is rendered
  * twice from the same tree: once in MongoDB's canonical extended JSON
  * (what a connector configured for canonical output emits) and once
  * in the legacy dialect that `bson.json_util.dumps(...,
  * LEGACY_JSON_OPTIONS)` prints. The legacy rendering is the oracle's
  * expectation, so the expected bytes never come from
  * `graft.functions.LegacyExtJson`.
  */
sealed trait V
final case class VStr(s: String) extends V
final case class VInt(n: Int) extends V
final case class VLong(n: Long) extends V
/** Finite values are multiples of 1/4 below 2^40, so the shortest
  * round-trip decimal is the exact one; NaN and the infinities cover
  * the codec's bare-literal branch.
  */
final case class VDouble(d: Double) extends V
final case class VBool(b: Boolean) extends V
final case class VOid(hex: String) extends V
/** `iso` selects the relaxed `{"$date": "<ISO-8601>"}` input form. */
final case class VDate(ms: Long, iso: Boolean = false) extends V
final case class VTs(t: Long, i: Long) extends V
final case class VBin(b64: String, subType: String) extends V
final case class VRegex(pattern: String, options: String) extends V
final case class VDoc(fields: Seq[(String, V)]) extends V
final case class VArr(items: Seq[V]) extends V

object Render {

  def legacy(v: V): String = { val sb = new StringBuilder; legacy(v, sb); sb.result() }
  def canonical(v: V): String = { val sb = new StringBuilder; canonical(v, sb); sb.result() }

  private def legacy(v: V, sb: StringBuilder): Unit = v match {
    case VStr(s) => pyString(s, sb)
    case VInt(n) => sb.append(n)
    case VLong(n) => sb.append(n)
    case VDouble(d) => sb.append(pyDouble(d))
    case VBool(b) => sb.append(if (b) "true" else "false")
    case VOid(h) => sb.append("{\"$oid\": \"").append(h).append("\"}")
    case VDate(ms, _) => sb.append("{\"$date\": ").append(ms).append('}')
    case VTs(t, i) =>
      sb.append("{\"$timestamp\": {\"t\": ").append(t).append(", \"i\": ")
        .append(i).append("}}")
    case VBin(b, s) =>
      sb.append("{\"$binary\": \"").append(b).append("\", \"$type\": \"")
        .append(s).append("\"}")
    case VRegex(p, o) =>
      sb.append("{\"$regex\": "); pyString(p, sb)
      sb.append(", \"$options\": "); pyString(o, sb); sb.append('}')
    case VDoc(fs) =>
      sb.append('{')
      var first = true
      fs.foreach { case (k, x) =>
        if (!first) sb.append(", ")
        first = false
        pyString(k, sb); sb.append(": "); legacy(x, sb)
      }
      sb.append('}')
    case VArr(xs) =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(", ")
        first = false
        legacy(x, sb)
      }
      sb.append(']')
  }

  /** Canonical extended JSON, compact like the Java driver's
    * `JsonMode.EXTENDED` writer: non-ASCII characters stay raw.
    */
  private def canonical(v: V, sb: StringBuilder): Unit = v match {
    case VStr(s) => jsonString(s, sb)
    case VInt(n) => sb.append("{\"$numberInt\": \"").append(n).append("\"}")
    case VLong(n) => sb.append("{\"$numberLong\": \"").append(n).append("\"}")
    case VDouble(d) =>
      sb.append("{\"$numberDouble\": \"").append(pyDouble(d)).append("\"}")
    case VBool(b) => sb.append(if (b) "true" else "false")
    case VOid(h) => sb.append("{\"$oid\": \"").append(h).append("\"}")
    case VDate(ms, false) =>
      sb.append("{\"$date\": {\"$numberLong\": \"").append(ms).append("\"}}")
    case VDate(ms, true) =>
      sb.append("{\"$date\": \"").append(java.time.Instant.ofEpochMilli(ms))
        .append("\"}")
    case VTs(t, i) =>
      // canonical member order is t, i; emitting i first exercises the
      // codec's reordering
      sb.append("{\"$timestamp\": {\"i\": ").append(i).append(", \"t\": ")
        .append(t).append("}}")
    case VBin(b, s) =>
      sb.append("{\"$binary\": {\"base64\": \"").append(b)
        .append("\", \"subType\": \"").append(s).append("\"}}")
    case VRegex(p, o) =>
      sb.append("{\"$regularExpression\": {\"pattern\": "); jsonString(p, sb)
      sb.append(", \"options\": "); jsonString(o, sb); sb.append("}}")
    case VDoc(fs) =>
      sb.append('{')
      var first = true
      fs.foreach { case (k, x) =>
        if (!first) sb.append(", ")
        first = false
        jsonString(k, sb); sb.append(": "); canonical(x, sb)
      }
      sb.append('}')
    case VArr(xs) =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(", ")
        first = false
        canonical(x, sb)
      }
      sb.append(']')
  }

  /** Python `float.__repr__` for the values the generator produces. */
  def pyDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isPosInfinity) "Infinity"
    else if (d.isNegInfinity) "-Infinity"
    else {
      require(math.abs(d) < 1e12 && d * 4 == math.rint(d * 4),
        s"generator double outside the exact-decimal range: $d")
      if (d == math.rint(d)) s"${d.toLong}.0"
      else new java.math.BigDecimal(d).toPlainString
    }

  def hexPad(n: Long, width: Int): String = {
    val h = java.lang.Long.toHexString(n)
    if (h.length >= width) h else "0" * (width - h.length) + h
  }

  private def hex4(c: Char): String = hexPad(c.toLong, 4)

  /** `json.dumps` string escaping with `ensure_ascii=True`. */
  def pyString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < 0x20 || c > 0x7e => sb.append("\\u").append(hex4(c))
      case c => sb.append(c)
    }
    sb.append('"')
  }

  private def jsonString(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append("\\u").append(hex4(c))
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

/** One expected envelope, as the reference would publish it. */
final case class Envelope(topic: String, key: String, value: String)

/** The generated input of one workload: the change events in stream
  * order and, for each data event, the envelope it must produce.
  */
final case class Fixture(
    events: IndexedSeq[ChangeEventRow],
    expected: IndexedSeq[Option[Envelope]]) {
  require(events.length == expected.length)
  def dataEvents: Int = expected.count(_.nonEmpty)
  /** Source bytes of the open sub-documents, as the codec would read them. */
  def sourceDocs: Iterator[String] = events.iterator.flatMap(e =>
    e.fullDocument.iterator ++ e.fullDocumentBeforeChange.iterator)
}

/** Shape of a workload's input. */
final case class Shape(
    namespaces: Int,
    keysPerNamespace: Int,
    /** Zipf exponent of the document-key choice (0 = uniform). */
    keySkew: Double,
    /** Items per document: small, and large with probability `largeShare`. */
    smallItems: Int,
    largeItems: Int,
    largeShare: Double,
    /** Canonical source strings (true) or legacy ones spliced verbatim. */
    canonical: Boolean,
    /** Share of updates carrying the verbatim `updateDescription.raw`. */
    rawShare: Double,
    /** Share of token-only events (drop, dropDatabase, invalidate). */
    tokenOnlyShare: Double)

object Shape {
  /** ~100-300 B legacy documents over 24 namespaces, Zipf keys. */
  val small: Shape = Shape(namespaces = 24, keysPerNamespace = 2000,
    keySkew = 1.1, smallItems = 1, largeItems = 3, largeShare = 0.2,
    canonical = false, rawShare = 0.0, tokenOnlyShare = 0.006)
  /** Canonical documents, ~1 KiB with a 16 KiB share, every rewritten type. */
  val legacyLarge: Shape = Shape(namespaces = 8, keysPerNamespace = 500,
    keySkew = 0.8, smallItems = 5, largeItems = 95, largeShare = 0.12,
    canonical = true, rawShare = 0.25, tokenOnlyShare = 0.006)
}

/** Seeded generator: the same seed and shape give the same fixture. */
final class Generator(seed: Long, shape: Shape, topicPrefix: String) {
  private val rnd = new SplittableRandom(seed)
  private val baseMs = 1720890531823L

  private val namespaces: IndexedSeq[Ns] = (0 until shape.namespaces).map(i =>
    Ns(s"db${i % 4}", s"coll-${i / 4}"))

  private val topics: IndexedSeq[String] = namespaces.map(ns =>
    Seq(topicPrefix, ns.db, ns.coll).filter(_.nonEmpty).mkString("."))

  // Zipf CDF over keys; rank 0 is the hottest key
  private val keyCdf: Array[Double] = {
    val w = Array.tabulate(shape.keysPerNamespace)(r =>
      1.0 / math.pow(r + 1, shape.keySkew))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }

  private val versions = mutable.HashMap.empty[(Int, Int), Int]

  private def pickKey(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(keyCdf, u)
    math.min(if (i >= 0) i else -i - 1, keyCdf.length - 1)
  }

  private def hex(n: Int): String = {
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb.append("0123456789abcdef".charAt(rnd.nextInt(16))))
    sb.result()
  }

  private val alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 -_"
  private val exotic = Array("é", "中", "😀", "\"", "\\", "\n", "\t")

  private def text(len: Int, exoticShare: Double): String = {
    val sb = new StringBuilder(len)
    while (sb.length < len)
      if (rnd.nextDouble() < exoticShare) sb.append(exotic(rnd.nextInt(exotic.length)))
      else sb.append(alphabet.charAt(rnd.nextInt(alphabet.length)))
    sb.result()
  }

  private def quarter(max: Int): Double = rnd.nextInt(max * 4) / 4.0

  private def date(): VDate =
    VDate(baseMs - rnd.nextInt(1 << 30), iso = shape.canonical && rnd.nextInt(4) == 0)

  private def docId(ns: Int, key: Int): V =
    if (shape.canonical && ns % 4 == 3) VLong(1L << 33 | key)
    else VOid(Render.hexPad(ns, 8) + Render.hexPad(key, 16))

  private def item(): VDoc = VDoc(Seq(
    "sku" -> VOid(hex(24)),
    "qty" -> VInt(rnd.nextInt(1000)),
    "price" -> VDouble(quarter(5000)),
    "at" -> date(),
    "note" -> VStr(text(24 + rnd.nextInt(24), 0.05))))

  private def document(id: V, version: Int): VDoc = {
    val large = rnd.nextDouble() < shape.largeShare
    val items = VArr(Seq.fill(if (large) shape.largeItems else shape.smallItems)(item()))
    if (!shape.canonical)
      VDoc(Seq("_id" -> id, "v" -> VInt(version),
        "name" -> VStr(text(8 + rnd.nextInt(24), 0.03)),
        "qty" -> VInt(rnd.nextInt(100000)), "at" -> date(), "items" -> items))
    else {
      val score = rnd.nextInt(50) match {
        case 0 => Double.NaN
        case 1 => Double.PositiveInfinity
        case 2 => Double.NegativeInfinity
        case _ => quarter(100000) - 50000
      }
      VDoc(Seq("_id" -> id, "v" -> VInt(version),
        "customer" -> VDoc(Seq("name" -> VStr(text(12, 0.1)),
          "since" -> date(), "tier" -> VLong(rnd.nextLong() >> 8))),
        "ts" -> VTs(baseMs / 1000 + rnd.nextInt(1 << 20), rnd.nextInt(100)),
        "blob" -> VBin(java.util.Base64.getEncoder.encodeToString(
          Array.fill[Byte](12 + rnd.nextInt(24))(rnd.nextInt(256).toByte)),
          Render.hexPad(rnd.nextInt(6), 2)),
        "pattern" -> VRegex("^" + text(6, 0.0) + ".*$", "i"),
        "score" -> VDouble(score),
        "active" -> VBool(rnd.nextBoolean()),
        "items" -> items))
    }
  }

  private def src(v: V): String =
    if (shape.canonical) Render.canonical(v) else Render.legacy(v)

  private def token(i: Int): ResumeToken =
    ResumeToken(("82be" + Render.hexPad(seed & 0xffff, 4) + Render.hexPad(i, 16))
      .toUpperCase)

  private def opOf(u: Double): String =
    if (u < 0.40) "insert" else if (u < 0.75) "update"
    else if (u < 0.88) "replace" else "delete"

  /** `n` events in stream order with their expected envelopes. */
  def fixture(n: Int): Fixture = {
    val events = new mutable.ArrayBuffer[ChangeEventRow](n)
    val expected = new mutable.ArrayBuffer[Option[Envelope]](n)
    var i = 0
    while (i < n) {
      val ts = new Timestamp(baseMs + i)
      val nsIdx = rnd.nextInt(namespaces.length)
      val ns = namespaces(nsIdx)
      if (rnd.nextDouble() < shape.tokenOnlyShare) {
        // token-only heartbeats: filtered out, but they advance offsets
        val (op, eventNs) = rnd.nextInt(3) match {
          case 0 => ("drop", ns)
          case 1 => ("dropDatabase", Ns(ns.db, null))
          case _ => ("invalidate", null)
        }
        events += ChangeEventRow(token(i), op, ts, ts, eventNs,
          None, None, None, None)
        expected += None
      } else {
        val key = pickKey()
        val version = versions.getOrElse((nsIdx, key), 0) + 1
        versions((nsIdx, key)) = version
        val id = docId(nsIdx, key)
        val keyDoc = VDoc(Seq("_id" -> id))
        val op = opOf(rnd.nextDouble())
        val after = document(id, version)
        val before =
          if (op != "insert" && rnd.nextDouble() < 0.7) Some(document(id, version - 1))
          else None
        val upd: Option[(VDoc, Seq[String], Seq[VDoc], Boolean)] =
          if (op != "update") None
          else {
            val changed = VDoc(Seq("v" -> VInt(version), "at" -> date()) ++
              (if (rnd.nextBoolean()) Seq("items.0" -> item()) else Nil))
            val removed =
              if (shape.canonical || rnd.nextInt(4) == 0)
                Seq.tabulate(1 + rnd.nextInt(3))(j => s"old_$j")
              else Nil
            val truncated =
              if (shape.canonical || rnd.nextInt(4) == 0)
                Seq(VDoc(Seq("field" -> VStr("items"), "newSize" -> VInt(rnd.nextInt(8)))))
              else Nil
            Some((changed, removed, truncated, rnd.nextDouble() < shape.rawShare))
          }
        val withAfter = op != "delete" && (op != "update" || rnd.nextDouble() < 0.8)
        val fullDocument = if (withAfter) Some(after) else None
        val updateDescription = upd.map { case (changed, removed, truncated, raw) =>
          val rawDoc = VDoc(Seq("updatedFields" -> changed,
            "removedFields" -> VArr(removed.map(VStr)),
            "truncatedArrays" -> VArr(truncated)))
          UpdateDescription(src(changed), removed, truncated.map(src),
            if (raw) src(rawDoc) else null)
        }
        val afterLegacy = fullDocument.map(Render.legacy)
        val beforeLegacy = before.map(Render.legacy)
        def srcOf(v: Option[VDoc], legacy: Option[String]) =
          if (shape.canonical) v.map(Render.canonical) else legacy
        events += ChangeEventRow(token(i), op, ts, ts, ns,
          Some(src(keyDoc)), srcOf(fullDocument, afterLegacy), srcOf(before, beforeLegacy),
          updateDescription)
        expected += Some(Envelope(topics(nsIdx), Render.legacy(keyDoc),
          expectedValue(op, afterLegacy, beforeLegacy, upd)))
      }
      i += 1
    }
    Fixture(events.toIndexedSeq, expected.toIndexedSeq)
  }

  /** The reference's envelope: `{before?, updateDescription?, after?, op}`. */
  private def expectedValue(op: String, after: Option[String], before: Option[String],
      upd: Option[(VDoc, Seq[String], Seq[VDoc], Boolean)]): String = {
    val updPart = upd.map { case (changed, removed, truncated, raw) =>
      if (raw)
        Render.legacy(VDoc(Seq("updatedFields" -> changed,
          "removedFields" -> VArr(removed.map(VStr)),
          "truncatedArrays" -> VArr(truncated))))
      else
        "{\"removedFields\": [" + removed.map(r => "\"" + r + "\"").mkString(", ") +
          "], \"truncatedArrays\": [" + truncated.map(Render.legacy).mkString(", ") +
          "], \"updatedFields\": " + Render.legacy(changed) + "}"
    }
    val code = op match {
      case "insert" => "c"
      case "delete" => "d"
      case _ => "u"
    }
    val parts = before.map("\"before\": " + _).toSeq ++
      updPart.map("\"updateDescription\": " + _) ++
      after.map("\"after\": " + _) :+
      ("\"op\": \"" + code + "\"")
    parts.mkString("{", ", ", "}")
  }
}
