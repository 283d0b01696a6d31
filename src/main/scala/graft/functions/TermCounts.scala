package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document term frequencies as one row-local call:
  * `array<struct<term, tf>>` with terms in first-occurrence order —
  * the whole-row replacement for `explode(split(text, " "))` followed
  * by `groupBy(doc_id, term).count()`.
  *
  * Why it exists (r12, guide §2.3/§2.4): a document's tokens all live
  * in ONE input row, so its per-term counts are complete without any
  * cross-row motion — but the explode + groupBy spelling ships every
  * token occurrence into a corpus-wide (doc, term) hash aggregate
  * whose exchange carries one row per token. Consumers that then need
  * a doc-keyed shape (BM25/TF-IDF top-k windows, per-doc repetition
  * stats) pay a SECOND corpus shuffle. With the counts computed
  * row-locally, the exploded output is already the deduplicated
  * (doc, term, tf) table: the token-cardinality exchange disappears
  * and only vocabulary- or doc-cardinality aggregates remain.
  *
  * Token semantics match `split(text, " ")` (limit −1: empty tokens
  * from consecutive/leading/trailing spaces are kept), so counts are
  * bit-identical to the explode + groupBy spelling and the DuckDB
  * oracles' string_split.
  */
object TermCounts {
  def apply(c: Column): Column =
    kernelCall("term_counts", this, "eval", ArrayType(
      StructType(Seq(
        StructField("term", StringType, nullable = false),
        StructField("tf", LongType, nullable = false))),
      containsNull = false), Seq(c -> StringType))

  def eval(s: UTF8String): ArrayData = {
    val words = Grams.words(s)
    val counts = mutable.LinkedHashMap.empty[String, Long]
    var i = 0
    while (i < words.length) {
      counts.updateWith(words(i)) {
        case Some(c) => Some(c + 1L)
        case None    => Some(1L)
      }
      i += 1
    }
    new GenericArrayData(counts.iterator.map { case (t, c) =>
      InternalRow(UTF8String.fromString(t), c): Any
    }.toArray[Any])
  }
}
