package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
  * 2003) in one pass: hash every word `k`-gram with the engine's
  * portable 60-bit md5-prefix hash (h60), slide a `w`-hash window,
  * select each window's minimum (rightmost on ties — the paper's
  * rule), and return the distinct selected hashes.
  *
  * Replaces the interpreted transform/slice/aggregate HOF chain that
  * dominated `dd_winnow`'s staging cost (the HOF derivation ran
  * minutes at sf0.1; this runs at md5 speed). Hash parity contract:
  * h60(s) = the first 15 hex chars of md5(s) as a 60-bit integer
  * = the big-endian top 60 bits of the digest — identical to
  * `conv(substring(md5(g), 1, 15), 16, 10)` and to the DuckDB
  * oracle's `CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)`.
  * Token semantics match `split(text, " ", -1)`.
  */
object WinnowHashes {
  def apply(c: Column, k: Int, w: Int): Column = {
    require(k >= 1, "gram width must be >= 1")
    require(w >= 1, "window width must be >= 1")
    kernelCall("winnow_hashes", this, "eval", ArrayType(LongType, containsNull = false),
      Seq(c -> StringType), Seq(k, w))
  }

  def eval(s: UTF8String, k: Int, w: Int): ArrayData = {
    val words = Grams.words(s)
    val m = words.length - k + 1 // gram count
    if (m < w) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](m)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < m) { hs(i) = Grams.h60(Grams.gram(words, i, k, sb)); i += 1 }
    val sel = new java.util.LinkedHashSet[Long]()
    var jw = 0
    while (jw <= m - w) {
      // rightmost minimum in hs[jw .. jw+w-1]: left-to-right with <=
      var best = hs(jw)
      var p = 1
      while (p < w) {
        if (hs(jw + p) <= best) best = hs(jw + p)
        p += 1
      }
      sel.add(best)
      jw += 1
    }
    val out = new Array[Any](sel.size)
    val it = sel.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }
}
