package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Σ table(h60(gram) mod table.length) over a text's word-`k`-grams —
  * a broadcast hashed-feature model served as ONE native call per
  * row. This is the inference hot loop of every aggregate-learned
  * scorer here (DSIR importance, the quality classifier's bucket
  * votes).
  *
  * Why a kernel and not Columns: the declarative spelling —
  * `aggregate(bigrams, 0L, (acc, g) => acc + element_at(tableLit,
  * pmod(h60(g), B) + 1))` — evaluates its lambda INTERPRETED per
  * element (Spark's higher-order functions run the lambda through
  * Expression.eval outside whole-stage codegen), so every gram paid
  * an interpreted md5 + conv + boxing round trip. Measured on the
  * streaming runtime (StreamProbe qualityclf, 59 bigrams/doc):
  * 2.6k docs/s with a 1024-entry MAP literal (element_at on a
  * literal map additionally LINEAR-SCANS the entries per lookup),
  * 3.2k docs/s with the dense ARRAY literal (O(1) fetch, but the
  * HOF lambda still interpreted). This walks the words once in
  * tight JVM code — ThreadLocal MD5, reused StringBuilder, O(1)
  * table index — the [[PosGramHashes]] discipline. The table is
  * passed to the call as an `Array[Long]` literal, not copied per row.
  *
  * Hash parity contract (shared with PosGramHashes/WinnowHashes):
  * h60(s) = first 15 hex chars of md5(s) as a 60-bit integer —
  * identical to `conv(substring(md5(g), 1, 15), 16, 10)` and the
  * DuckDB oracles' `CAST(('0x' || substr(md5(g), 1, 15)) AS
  * BIGINT)`. Token semantics match `split(text, " ", -1)`; fewer
  * than `k` words sums to 0.
  */
object H60BucketSum {
  def apply(c: Column, table: Seq[Long], k: Int): Column = {
    require(k >= 1, "gram width must be >= 1")
    require(table.nonEmpty, "bucket table must be non-empty")
    kernelCall("h60_bucket_sum", this, "eval", LongType, Seq(c -> StringType),
      Seq(table.toArray, k))
  }

  def eval(s: UTF8String, table: Array[Long], k: Int): Long = {
    val words = Grams.words(s)
    val m = words.length - k + 1
    if (m <= 0) return 0L
    val b = table.length
    val sb = new java.lang.StringBuilder(64)
    var sum = 0L
    var i = 0
    while (i < m) {
      // h60 is non-negative (60-bit), so % == pmod here
      sum += table((Grams.h60(Grams.gram(words, i, k, sb)) % b).toInt)
      i += 1
    }
    sum
  }
}
