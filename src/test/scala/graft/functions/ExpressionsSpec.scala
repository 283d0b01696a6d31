package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class ExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  private def refByteSum(s: String, n: Int): Int =
    (s.getBytes("UTF-8").map(x => (x & 0xff).toLong).sum % n).toInt

  private def refFingerprint(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((h, b) => (h * 31 + (b & 0xff)) % 1000000007L)

  private val samples = Seq(
    "", "a", "hello world", "1234", "þorn-ünïcode-字符",
    "{\"_id\": {\"$oid\": \"6692b4a31ede014d28852865\"}}",
    "x" * 10000)

  test("ByteSumMod matches reference semantics incl. unicode and empty") {
    import spark.implicits._
    val df = samples.toDF("s")
    for (n <- Seq(1, 2, 7, 8)) {
      val got = df.select(ByteSumMod(col("s"), n)).collect().map(_.getInt(0))
      assert(got.toSeq === samples.map(refByteSum(_, n)),
        s"mismatch for n=$n")
    }
  }

  test("Fingerprint matches the reference fold, null-safe") {
    import spark.implicits._
    val df = (samples :+ null).toDF("s")
    val got = df.select(Fingerprint(col("s"))).collect()
    val expected = samples.map(refFingerprint)
    assert(got.dropRight(1).map(_.getLong(0)).toSeq === expected)
    assert(got.last.isNullAt(0))
  }

  test("DotProduct matches the declarative HOF form on both codegen paths") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, -5L, 6L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq(10000L, -10000L), Seq(10000L, 10000L)),
      // length mismatch: NULL, as zip_with's null padding nulls the sum
      (Seq(1L, 2L), Seq(1L)))
      .toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    def check(): Unit = {
      val rows = df.select(DotProduct(col("a"), col("b")).alias("d"),
        hof.alias("h")).collect()
      rows.foreach(r => assert(r.get(0) === r.get(1)))
      assert(rows.map(_.get(0)).toSeq === Seq(12L, 0L, 0L, null))
    }
    check()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      check()
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // null-safety
    val withNull = Seq(Tuple1(Seq(1L))).toDF("a")
      .select(DotProduct(col("a"), lit(null).cast("array<bigint>")))
    assert(withNull.head().isNullAt(0))
  }

  test("InterleaveBits matches a bit-by-bit reference on both codegen paths") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val cases = Seq(
      (0L, 0L), (1L, 0L), (0L, 1L), (0xffffL, 0L), (0L, 0xffffL),
      (0xffffL, 0xffffL), (12345L, 54321L),
      // only the low 16 bits participate
      (0x1ffffL, 0L), (Long.MaxValue, Long.MaxValue))
    val df = cases.toDF("x", "y")
    def check(): Unit = {
      val got = df.select(InterleaveBits(col("x"), col("y"))).collect()
        .map(_.getLong(0))
      assert(got.toSeq === cases.map { case (x, y) => ref(x, y) })
    }
    check()
    // a non-bigint argument fails analysis; it is not cast
    intercept[AnalysisException](
      df.select(InterleaveBits(col("x").cast("int"), col("y"))).collect())
    // monotone locality sanity: full-range corners
    assert(InterleaveBits.eval(0xffffL, 0xffffL) === 0xffffffffL)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      check()
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("expressions survive codegen fallback (interpreted path)") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val got = samples.toDF("s")
        .select(ByteSumMod(col("s"), 8), Fingerprint(col("s")))
        .collect()
      assert(got.map(_.getInt(0)).toSeq === samples.map(refByteSum(_, 8)))
      assert(got.map(_.getLong(1)).toSeq === samples.map(refFingerprint))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }
}
