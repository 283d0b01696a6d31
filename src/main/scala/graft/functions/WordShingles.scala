package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a space-separated text, in first-
  * occurrence order — single pass over the string, replacing the
  * 3-pass interpreted chain split → transform(sequence) →
  * array_distinct that dominated dedup staging cost.
  *
  * Token semantics match `split(text, " ", -1)` (empty tokens from
  * consecutive/leading spaces are kept), so the output SET equals the
  * HOF chain's and the DuckDB oracles' (string_split + list
  * comprehension + list_distinct).
  */
object WordShingles {
  def apply(c: Column, n: Int): Column = {
    require(n >= 1, "shingle width must be >= 1")
    kernelCall("word_shingles", this, "eval", ArrayType(StringType, containsNull = false),
      Seq(c -> StringType), Seq(n))
  }

  def eval(s: UTF8String, n: Int): ArrayData = {
    val words = Grams.words(s)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = mutable.LinkedHashSet.empty[String]
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= words.length) { seen.add(Grams.gram(words, i, n, sb)); i += 1 }
    new GenericArrayData(
      seen.iterator.map(s => UTF8String.fromString(s): Any).toArray)
  }
}
