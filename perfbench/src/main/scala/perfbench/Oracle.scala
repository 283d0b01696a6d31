package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper

/** One record as the sink wrote it, with the micro-batch that wrote it. */
final case class Written(batch: Long, topic: String, key: String, value: String)

/** What the correctness gate found in one run's sink output. */
final case class Verdict(
    expected: Long,
    written: Long,
    missing: Long,
    duplicated: Long,
    mismatched: Long,
    outOfOrder: Long,
    /** Key + value bytes written, per micro-batch. */
    bytesByBatch: Map[Long, Long]) {
  def bytes: Long = bytesByBatch.values.sum
  /** Events missing, duplicated or wrong in bytes or order. */
  def failed: Long = missing + duplicated + mismatched + outOfOrder
  def ok: Boolean = failed == 0
  def +(o: Verdict): Verdict = Verdict(expected + o.expected,
    written + o.written, missing + o.missing, duplicated + o.duplicated,
    mismatched + o.mismatched, outOfOrder + o.outOfOrder, Map.empty)
}

/** The correctness gate: a per-topic digest of (topic, key, value)
  * compared as a multiset with the generator's envelopes, and each
  * document key's value sequence compared in order.
  */
object Oracle {

  private def h64(s: String): Long = {
    val b = s.getBytes(UTF_8)
    (MurmurHash3.bytesHash(b, 0x3c074a61).toLong << 32) |
      (MurmurHash3.bytesHash(b, 0x7b5e1f23).toLong & 0xffffffffL)
  }

  /** Compare written records, in delivery order, with the expected
    * envelopes in stream order. Delivery order only matters per
    * (topic, key): the sink may interleave different keys freely.
    */
  def check(expected: Iterator[Envelope], written: Iterator[Written]): Verdict = {
    val want = mutable.HashMap.empty[String, mutable.HashMap[Long, Int]]
    val wantSeq = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Long]]
    var nExpected = 0L
    expected.foreach { e =>
      val h = h64(e.value)
      val m = want.getOrElseUpdate(e.topic, mutable.HashMap.empty)
      m(h64(e.key) * 31 + h) = m.getOrElse(h64(e.key) * 31 + h, 0) + 1
      wantSeq.getOrElseUpdate((e.topic, e.key), mutable.ArrayBuffer.empty) += h
      nExpected += 1
    }
    val got = mutable.HashMap.empty[String, mutable.HashMap[Long, Int]]
    val gotSeq = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Long]]
    var nWritten = 0L
    val bytes = mutable.HashMap.empty[Long, Long]
    written.foreach { w =>
      val h = h64(w.value)
      val m = got.getOrElseUpdate(w.topic, mutable.HashMap.empty)
      m(h64(w.key) * 31 + h) = m.getOrElse(h64(w.key) * 31 + h, 0) + 1
      gotSeq.getOrElseUpdate((w.topic, w.key), mutable.ArrayBuffer.empty) += h
      nWritten += 1
      bytes(w.batch) = bytes.getOrElse(w.batch, 0L) +
        w.key.getBytes(UTF_8).length + w.value.getBytes(UTF_8).length
    }
    var missing, duplicated, unknown = 0L
    (want.keySet ++ got.keySet).foreach { t =>
      val w = want.getOrElse(t, mutable.HashMap.empty[Long, Int])
      val g = got.getOrElse(t, mutable.HashMap.empty[Long, Int])
      (w.keySet ++ g.keySet).foreach { d =>
        val e = w.getOrElse(d, 0)
        val a = g.getOrElse(d, 0)
        if (a < e) missing += e - a
        else if (a > e) { if (e > 0) duplicated += a - e else unknown += a - e }
      }
    }
    // a record with wrong bytes shows as one missing plus one unknown
    val mismatched = math.min(missing, unknown)
    val extra = unknown - mismatched
    // order: compare each key's sequence where its multiset is intact
    var outOfOrder = 0L
    wantSeq.foreach { case (k, ws) =>
      gotSeq.get(k).foreach { gs =>
        if (gs.length == ws.length && gs != ws && gs.sorted == ws.sorted)
          outOfOrder += ws.indices.count(i => ws(i) != gs(i))
      }
    }
    Verdict(nExpected, nWritten, missing - mismatched, duplicated + extra, mismatched,
      outOfOrder, bytes.toMap)
  }

  private val mapper = new ObjectMapper()

  /** Read what `FileTopicSink.append` wrote under `root`, one
    * `batch=<id>` directory per micro-batch, in batch order. Within a
    * batch, records keep their order inside each part file.
    */
  def readSink(root: Path): Iterator[Written] = {
    if (!Files.isDirectory(root)) return Iterator.empty
    val batches = list(root).filter(_.getFileName.toString.startsWith("batch="))
      .sortBy(_.getFileName.toString.stripPrefix("batch=").toLong)
    batches.iterator.flatMap { b =>
      val id = b.getFileName.toString.stripPrefix("batch=").toLong
      list(b).filter(_.getFileName.toString.startsWith("topic=")).sortBy(_.toString)
        .iterator.flatMap { t =>
          val topic = unescapePath(t.getFileName.toString.stripPrefix("topic="))
          list(t).filter(p => p.getFileName.toString.startsWith("part-"))
            .sortBy(_.toString).iterator.flatMap { f =>
              Files.readAllLines(f, UTF_8).asScala.iterator.filter(_.nonEmpty).map { line =>
                val n = mapper.readTree(line)
                Written(id, topic, n.path("key").asText(), n.path("value").asText())
              }
            }
        }
    }
  }

  /** The part files one micro-batch wrote. */
  def sinkFiles(batchDir: Path): Seq[Path] =
    list(batchDir).filter(_.getFileName.toString.startsWith("topic="))
      .flatMap(t => list(t).filter(_.getFileName.toString.startsWith("part-")))

  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  // Hive-style partition directory escaping (%XX)
  private def unescapePath(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), UTF_8)
}
