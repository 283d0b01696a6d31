package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.kernelCall
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

// Every scalar kernel in this package is one static function over
// Catalyst values (UTF8String, ArrayData, InternalRow or primitives)
// plus a column factory that calls it through the shim's KernelCall:
// the same function runs in interpreted eval and in generated code.

/** Byte-sum-mod-N routing hash — the reference's producer routing
  * function (`change_stream_reading/change_handler.py:77-81`: sum of
  * the key's bytes modulo the number of producers). One static call
  * per row, so it stays inside whole-stage codegen on the hot path (a
  * Scala UDF would break the codegen span and add ser/de per row).
  */
object ByteSumMod {
  def apply(c: Column, n: Int): Column =
    kernelCall("byte_sum_mod", this, "eval", IntegerType, Seq(c -> StringType), Seq(n))

  def eval(s: UTF8String, n: Int): Int = {
    val bytes = s.getBytes
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum += (bytes(i) & 0xff); i += 1 }
    (sum % n).toInt
  }
}

/** Polynomial rolling-hash document fingerprint:
  * h = fold(h * 31 + byte) mod 1e9+7 over the string's UTF-8 bytes.
  * The modulus keeps every intermediate inside an int64 so the exact
  * same arithmetic is expressible in ANSI SQL (the DuckDB oracle uses
  * list_reduce with identical constants). `fold` is also the media
  * operators' payload fingerprint.
  */
object Fingerprint {
  def apply(c: Column): Column =
    kernelCall("graft_fingerprint", this, "eval", LongType, Seq(c -> StringType))

  def eval(s: UTF8String): Long = fold(s.getBytes)

  def fold(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * 31L + (bytes(i) & 0xff)) % 1000000007L; i += 1 }
    h
  }
}

/** Integer dot product of two array<bigint> vectors — the hot inner
  * loop of every similarity operator. The declarative form,
  * aggregate(zip_with(a, b, *), 0, +), is interpreted (higher-order
  * functions never enter whole-stage codegen) and allocates an
  * intermediate products array per row pair; this is one loop over
  * the two ArrayDatas with no allocation. At billions of pairs (ANN
  * re-rank at 100 TB) that is the difference between a scan-speed
  * stage and an interpreter-bound one.
  *
  * Length-mismatched inputs yield NULL — the same visible signal the
  * HOF form produces (zip_with pads with null, which nulls the sum):
  * a truncated embedding must surface as missing, never as a
  * plausible partial dot product.
  */
object DotProduct {
  def apply(a: Column, b: Column): Column =
    kernelCall("dot_product", this, "eval", LongType,
      Seq(a -> ArrayType(LongType), b -> ArrayType(LongType)), returnNullable = true)

  def eval(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }
}

/** Morton (z-order) interleave of the low 16 bits of two bigint
  * columns: bit i of x lands at position 2i, bit i of y at 2i+1,
  * yielding a 32-bit z-value. Range-partitioning + sorting a table by
  * this value clusters rows so that per-file min/max statistics prune
  * on BOTH dimensions — the standard multi-dimensional data-layout
  * trick for 100-TB scan avoidance (a single-column sort can only ever
  * prune its own column). Pure integer bit arithmetic, so the DuckDB
  * oracle reproduces it exactly with shifts and masks.
  */
object InterleaveBits {
  def apply(a: Column, b: Column): Column =
    kernelCall("interleave_bits", this, "eval", LongType, Seq(a -> LongType, b -> LongType))

  /** Low 16 bits of each input, x at even positions, y at odd. */
  def eval(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

/** What the word-gram kernels share. Tokens are `split(text, " ", -1)`
  * (empty tokens from consecutive, leading or trailing spaces kept);
  * h60(s) is the first 15 hex chars of md5(s) as a 60-bit integer —
  * identical to `conv(substring(md5(g), 1, 15), 16, 10)` and the
  * DuckDB oracles' `CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)`.
  */
private[functions] object Grams {
  def words(s: UTF8String): Array[String] = s.toString.split(" ", -1)

  /** words `i until i + k` joined by " ", built in `sb` */
  def gram(words: Array[String], i: Int, k: Int, sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var j = 0
    while (j < k) {
      if (j > 0) sb.append(' ')
      sb.append(words(i + j))
      j += 1
    }
    sb.toString
  }

  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def h60(s: String): Long = {
    val digest = md.get()
    digest.reset()
    val d = digest.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4 // top 60 bits = first 15 hex chars
  }
}
