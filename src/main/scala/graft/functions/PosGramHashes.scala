package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Positional word-`k`-gram hashes in one pass: for every 1-based
  * word position p with a full gram, emit (p, h60(gram)) — the span
  * family's index rows (`TextQueries.posGrams` stages the result).
  *
  * Replaces the interpreted transform(sequence(...)) → slice →
  * array_join → md5 HOF chain, which re-materialized a k-word string
  * via generic array ops per position; this walks the word array
  * once with a reused StringBuilder at md5 speed (the same
  * WinnowHashes discipline).
  *
  * Hash parity contract: h60(s) = first 15 hex chars of md5(s) as a
  * 60-bit integer — identical to
  * `conv(substring(md5(g), 1, 15), 16, 10)` and the DuckDB oracle's
  * `CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)`. Token
  * semantics match `split(text, " ", -1)`; a doc with fewer than `k`
  * words yields an empty array (the `size(w) >= 16` filter's
  * behavior).
  */
object PosGramHashes {
  def apply(c: Column, k: Int): Column = {
    require(k >= 1, "gram width must be >= 1")
    kernelCall("pos_gram_hashes", this, "eval", ArrayType(
      StructType(Seq(
        StructField("p", LongType, nullable = false),
        StructField("gh", LongType, nullable = false))),
      containsNull = false), Seq(c -> StringType), Seq(k))
  }

  def eval(s: UTF8String, k: Int): ArrayData = {
    val words = Grams.words(s)
    val m = words.length - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) {
      // 1-based position
      out(i) = InternalRow(i + 1L, Grams.h60(Grams.gram(words, i, k, sb)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
