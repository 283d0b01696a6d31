package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Drop the fixed-width word segments ("lines") whose h60 hash is in
  * the given set and re-join the survivors with single spaces, in one
  * pass per row: the row-local spelling of tx_boilerplate's strip +
  * reassembly. Returns struct(kept_text string, n_kept bigint).
  *
  * Byte-parity contract with the exploded legacy spelling (explode
  * the 5-word segments → h60 each → (source, lh) anti-join against
  * the per-domain boilerplate set → ordered collect_list →
  * array_join " "), pinned by StripSegmentsSpec: segment i of
  * `split(text, " ", -1)` is words [i*W, min((i+1)*W, n)) joined by
  * " " (the trailing segment may be short), nl = ceil(n / W)
  * segments total; segment i survives iff h60(segment) is not in
  * `drop`; survivors join with " " in segment order. h60(s) = first
  * 15 hex chars of md5(s) as a 60-bit integer — identical to
  * `conv(substring(md5(g), 1, 15), 16, 10)` (the PosGramHashes
  * contract).
  *
  * Why a kernel: the legacy spelling shuffled one row PER LINE
  * — carrying the line STRING — twice (the (source, lh) anti-join,
  * then the reassembly groupBy(doc_id)), ~1.5× corpus bytes over the
  * network each, for a decision that only needs the per-domain
  * boilerplate hash SET (bounded by lines with df ≥ threshold — the
  * frequent tail of a domain, small by construction). Attaching that
  * set by one dimension join and stripping row-locally moves corpus
  * text zero times.
  */
object StripSegments {
  /** drop: array<bigint> of h60 hashes of segments to strip. */
  def apply(text: Column, drop: Column, w: Int): Column = {
    require(w >= 1, "segment width must be >= 1")
    kernelCall("strip_segments", this, "eval", StructType(Seq(
      StructField("kept_text", StringType, nullable = false),
      StructField("n_kept", LongType, nullable = false))),
      Seq(text -> StringType, drop -> ArrayType(LongType)), Seq(w))
  }

  def eval(text: UTF8String, dropData: ArrayData, w: Int): InternalRow = {
    val words = Grams.words(text)
    val nDrop = dropData.numElements()
    val drop = new java.util.HashSet[java.lang.Long](math.max(nDrop * 2, 8))
    var i = 0
    while (i < nDrop) { drop.add(dropData.getLong(i)); i += 1 }
    val nl = (words.length + w - 1) / w
    val sb = new java.lang.StringBuilder(words.length * 8)
    val seg = new java.lang.StringBuilder(w * 8)
    var kept = 0L
    var li = 0
    while (li < nl) {
      val s = Grams.gram(words, li * w, math.min(w, words.length - li * w), seg)
      if (!drop.contains(Grams.h60(s))) {
        if (kept > 0L) sb.append(' ')
        sb.append(s)
        kept += 1L
      }
      li += 1
    }
    InternalRow(UTF8String.fromString(sb.toString), kept)
  }
}
