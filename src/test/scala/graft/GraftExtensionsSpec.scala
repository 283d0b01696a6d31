package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("custom expressions are callable from SQL via extensions") {
    // Extensions apply only at session construction, so this suite
    // replaces any shared session for its duration (tests run
    // sequentially; later suites recreate via getOrCreate).
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.builder("4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        "SELECT byte_sum_mod('1234', 8) AS p, graft_fingerprint('abc') AS fp")
        .head()
      assert(r.getInt(0) === "1234".getBytes.map(_ & 0xff).sum % 8)
      val expected = "abc".getBytes.foldLeft(0L)(
        (h, b) => (h * 31 + (b & 0xff)) % 1000000007L)
      assert(r.getLong(1) === expected)

      // Builder argument validation: bad arity / non-positive modulus
      // must fail analysis with a readable signature hint, not leak a
      // NoSuchElementException or a codegen-time ArithmeticException.
      val e1 = intercept[Exception](
        spark.sql("SELECT graft_fingerprint()").collect())
      assert(e1.getMessage.contains("exactly 1 argument"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql("SELECT byte_sum_mod('a', 0)").collect())
      assert(e2.getMessage.contains("positive"), e2.getMessage)
      val e3 = intercept[Exception](
        spark.sql("SELECT byte_sum_mod('a')").collect())
      assert(e3.getMessage.contains("byte_sum_mod"), e3.getMessage)

      assert(spark.sql(
        "SELECT dot_product(array(1L, 2L), array(3L, 4L)) AS d")
        .head().getLong(0) === 11L)
      // a mistyped argument fails analysis; it is not cast
      intercept[AnalysisException](
        spark.sql("SELECT dot_product(array(1, 2), array(3, 4))").collect())

      // word_shingles + the minhash_sig aggregate from plain SQL
      val sh = spark.sql(
        "SELECT word_shingles('a b c d', 3) AS sh").head().getSeq[String](0)
      assert(sh === Seq("a b c", "b c d"))
      val sig = spark.sql(
        """SELECT minhash_sig(h) AS sig FROM (
          |  SELECT CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)
          |         % 1073741789 AS h
          |  FROM VALUES ('a b c'), ('b c d') t(x))""".stripMargin)
        .head().getSeq[Long](0)
      assert(sig.length === graft.queries.DedupQueries.K)
      assert(sig.forall(_ >= 0L))

      // E3 codec from SQL
      assert(spark.sql(
        """SELECT legacy_ext_json('{"a": {"$numberLong": "42"}}') AS v""")
        .head().getString(0) === """{"a": 42}""")
      intercept[AnalysisException](spark.sql("SELECT legacy_ext_json(1)").collect())

      // winnow_hashes: selected hashes are a subset of the gram h60
      // hashes, computed here via the SQL md5 chain it must match
      val text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
      val wn = spark.sql(
        s"SELECT winnow_hashes('$text', 5, 4) AS h").head().getSeq[Long](0)
      val grams = spark.sql(
        s"""SELECT transform(sequence(1, 6), i -> CAST(conv(substring(
           |  md5(array_join(slice(split('$text', ' '), i, 5), ' ')),
           |  1, 15), 16, 10) AS BIGINT)) AS g""".stripMargin)
        .head().getSeq[Long](0)
      assert(wn.nonEmpty && wn.toSet.subsetOf(grams.toSet))
      val e4 = intercept[Exception](
        spark.sql("SELECT winnow_hashes('a', 0, 4)").collect())
      assert(e4.getMessage.contains("positive"), e4.getMessage)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
