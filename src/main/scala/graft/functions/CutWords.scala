package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Remove the words at the given 1-based positions and re-join with
  * single spaces, in one pass per row: the row-local spelling of
  * tx_span_cut's reassembly. Returns
  * struct(kept_text string, n_kept_words bigint).
  *
  * Byte-parity contract with the exploded legacy spelling
  * (`posexplode(split(text, " ")) -> anti-join cut positions ->
  * collect_list ordered by position -> array_join " "`), pinned by
  * CutWordsSpec: word p (1-based) of `split(text, " ", -1)` survives
  * iff p is not in `cuts`; survivors join with " " in position order.
  * An empty `cuts` array therefore reproduces `text` byte-for-byte
  * (split-then-join with the same separator is the identity, empties
  * included), and a fully-cut doc yields ("", 0) — the legacy
  * left-join-restore branch.
  *
  * Why a kernel: the legacy spelling shuffles one row PER WORD
  * twice (anti-join, then the reassembly groupBy) and pays a per-doc
  * array_sort; this moves the corpus text exactly once (the doc-keyed
  * join that attaches `cuts`) and rewrites at scan speed. The
  * interpreted-HOF row-local spelling (zip_with + filter +
  * array_contains per word) measured SLOWER than the exploded
  * baseline (1.49 s vs 1.39 s at sf0.1) — per-element lambda
  * interpretation again, the H60BucketSum finding.
  *
  * `cuts` may arrive unsorted (collect_set) and may contain
  * positions past the word count (a doc's trailing gram covers
  * positions that exist, but defensive anyway); both are handled by
  * sorting a copy and merge-walking.
  */
object CutWords {
  /** cuts: array<bigint> of 1-based word positions to remove. */
  def apply(text: Column, cuts: Column): Column =
    kernelCall("cut_words", this, "eval", StructType(Seq(
      StructField("kept_text", StringType, nullable = false),
      StructField("n_kept_words", LongType, nullable = false))),
      Seq(text -> StringType, cuts -> ArrayType(LongType)))

  def eval(text: UTF8String, cutsData: ArrayData): InternalRow = {
    val words = Grams.words(text)
    val nCuts = cutsData.numElements()
    val cuts = new Array[Long](nCuts)
    var i = 0
    while (i < nCuts) { cuts(i) = cutsData.getLong(i); i += 1 }
    java.util.Arrays.sort(cuts)
    val sb = new java.lang.StringBuilder(words.length * 8)
    var kept = 0L
    var c = 0
    var p = 1L // 1-based word position
    i = 0
    while (i < words.length) {
      while (c < nCuts && cuts(c) < p) c += 1
      if (c < nCuts && cuts(c) == p) c += 1 // cut: skip this word
      else {
        if (kept > 0L) sb.append(' ')
        sb.append(words(i))
        kept += 1L
      }
      p += 1L
      i += 1
    }
    InternalRow(UTF8String.fromString(sb.toString), kept)
  }
}
