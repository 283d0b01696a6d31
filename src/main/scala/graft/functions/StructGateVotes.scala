package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The shared single-pass gate-metric kernel: token count, distinct
  * count, stopword("the","a") count, max per-token occurrence count,
  * distinct word-3-shingle count — one token scan + one hash map,
  * semantics matching `split(text, " ", -1)` and the (doc, word)
  * aggregate spellings bit-for-bit (the specs pin it through both
  * consumers).
  */
private[functions] object GateMetricsKernel {
  /** Returns [n_tokens, uniq_n, stop_n, maxn, d3]. */
  def of(text: UTF8String): Array[Long] = {
    val words = Grams.words(text)
    val n = words.length
    val counts = mutable.HashMap.empty[String, Long]
    var stopN = 0L
    var i = 0
    while (i < n) {
      val w = words(i)
      counts.update(w, counts.getOrElse(w, 0L) + 1L)
      if (w == "the" || w == "a") stopN += 1L
      i += 1
    }
    var maxN = 0L
    val it = counts.valuesIterator
    while (it.hasNext) { val v = it.next(); if (v > maxN) maxN = v }
    var d3 = 0L
    if (n >= 3) {
      val seen = mutable.HashSet.empty[String]
      val sb = new java.lang.StringBuilder(64)
      i = 0
      while (i + 3 <= n) {
        sb.setLength(0)
        sb.append(words(i)).append(' ').append(words(i + 1))
          .append(' ').append(words(i + 2))
        seen.add(sb.toString)
        i += 1
      }
      d3 = seen.size.toLong
    }
    Array(n.toLong, counts.size.toLong, stopN, maxN, d3)
  }
}

/** The five gate metrics as an array<long> [n_tokens, uniq_n, stop_n,
  * maxn, d3] — ONE call per row, replacing the corpus-wide
  * (doc, word) count aggregate + join that `filterVerdictOf`'s
  * top-word share otherwise requires: the verdict derivation becomes
  * a pure scan-speed projection with ZERO shuffle, which at 100 TB is
  * the difference between a verdict stage build that streams through
  * the corpus once and one that shuffles an exploded token table.
  * Values are bit-identical to the aggregate spelling (the oracle
  * compare and the parity specs both pin it).
  */
object TextGateMetrics {
  def apply(c: Column): Column =
    kernelCall("text_gate_metrics", this, "eval", ArrayType(LongType, containsNull = false),
      Seq(c -> StringType))

  def eval(s: UTF8String): ArrayData = new GenericArrayData(GateMetricsKernel.of(s))
}

/** The Gopher rule-family metrics as an array<long> [n_words, chars,
  * alpha_n, stop_n, top_cnt] — one token pass per row, replacing the
  * interpreted HOF chain in `gopherRules` (a per-token lambda for the
  * char sum, a per-token REGEX for the alphabetic count, and an
  * O(n log n) array_sort + interpreted fold for the top-word run).
  * Semantics pinned by the unchanged DuckDB oracle and
  * StreamingTextParitySpec:
  *  - chars counts Unicode CODE POINTS per token (Spark's `length`
  *    and DuckDB's `len` semantics, not UTF-16 units);
  *  - alpha_n counts tokens matching ^[a-z]+$ (non-empty, every code
  *    point in a-z) without the regex engine;
  *  - top_cnt is the max per-token occurrence count (the sorted-run
  *    and nested-filter spellings compute the same value).
  */
object GopherMetrics {
  def apply(c: Column): Column =
    kernelCall("gopher_metrics", this, "eval", ArrayType(LongType, containsNull = false),
      Seq(c -> StringType))

  def eval(s: UTF8String): ArrayData = {
    val words = Grams.words(s)
    val n = words.length
    val counts = mutable.HashMap.empty[String, Long]
    var chars = 0L
    var alphaN = 0L
    var stopN = 0L
    var i = 0
    while (i < n) {
      val w = words(i)
      counts.update(w, counts.getOrElse(w, 0L) + 1L)
      chars += w.codePointCount(0, w.length)
      if (w == "the" || w == "a") stopN += 1L
      var alpha = w.length > 0
      var j = 0
      while (alpha && j < w.length) {
        val c = w.charAt(j)
        if (c < 'a' || c > 'z') alpha = false
        j += 1
      }
      if (alpha) alphaN += 1L
      i += 1
    }
    var topCnt = 0L
    val it = counts.valuesIterator
    while (it.hasNext) { val v = it.next(); if (v > topCnt) topCnt = v }
    new GenericArrayData(Array[Any](n.toLong, chars, alphaN, stopN, topCnt))
  }
}

/** Σ votes(fid) over a document's five STRUCTURAL feature ids — the
  * whole per-row gate-metric + bin + model-lookup loop of the
  * `tx_clf_struct` classifier as ONE native call per row (the
  * H60BucketSum discipline). The interpreted spelling — per-distinct-
  * token `filter` lambdas for the top-word count plus five
  * `element_at` map lookups — measured 2.8k docs/s on StreamProbe
  * structclf; every HOF lambda evaluates interpreted per element, so
  * a 60-token doc paid ~3.6k boxed lambda calls for the top-word scan
  * alone. This kernel is one token pass + one hash map.
  *
  * Metric semantics are bit-identical to
  * `TextQueries.filterVerdictOf` (the batch derivation behind the
  * staged verdict table), pinned by StreamingStructClfSpec against
  * the oracle-checked batch query:
  *  - tokens: `split(text, " ", -1)` (empty tokens kept);
  *  - n_tokens / uniq / stopword("the","a") count / max per-token
  *    occurrence count / distinct word-3-shingle count;
  *  - ratios in IEEE doubles exactly as the SQL spelling computes
  *    them (uniq/n, stop/n, maxn/n, 1 - d3/tot3), binned with the
  *    batch query's floor/least arithmetic;
  *  - feature ids family*100 + bin, looked up in the caller-provided
  *    dense 500-slot vote table (unseen ids carry the model default
  *    in their slots).
  *
  * One pass builds the per-token count map (the top-word numerator),
  * a second short pass the 3-shingle set.
  */
object StructGateVotes {
  def apply(c: Column, votesDense: Seq[Long]): Column = {
    require(votesDense.length == 500,
      s"dense vote table must have 500 slots (5 families × 100), " +
        s"got ${votesDense.length}")
    kernelCall("struct_gate_votes", this, "eval", LongType, Seq(c -> StringType),
      Seq(votesDense.toArray))
  }

  def eval(s: UTF8String, votes: Array[Long]): Long = {
    val m = GateMetricsKernel.of(s)
    val n = m(0)
    val uniqN = m(1)
    val stopN = m(2)
    val maxN = m(3)
    val d3 = m(4)
    val tot3 = math.max(n - 2L, 0L)
    // IEEE doubles + floors exactly as the SQL spelling computes them
    val nd = n.toDouble
    val ttr = uniqN.toDouble / nd
    val stopR = stopN.toDouble / nd
    val topFrac = maxN.toDouble / nd
    val dupFrac = if (tot3 > 0) 1.0 - d3.toDouble / tot3.toDouble else 0.0
    def bin(x: Double, scale: Int, cap: Long): Long =
      math.min(math.floor(x * scale).toLong, cap)
    var sum = 0L
    sum += votes(math.min(n.toLong / 25L, 19L).toInt)
    sum += votes(100 + bin(ttr, 10, 9L).toInt)
    sum += votes(200 + bin(stopR, 100, 9L).toInt)
    sum += votes(300 + bin(topFrac, 20, 19L).toInt)
    sum += votes(400 + bin(dupFrac, 50, 9L).toInt)
    sum
  }
}
