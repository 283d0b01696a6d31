package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed pinning for the round-4 batch-prep operators:
  * sequence packing (bin/offset layout per lang shard) and the
  * composite filter gate (each rule firing alone).
  */
class PackFilterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  private def doc(words: Int, distinct: Boolean = true): String =
    if (distinct) (0 until words).map(i => s"w$i the").mkString(" ")
      .split(" ").take(words).mkString(" ")
    else Seq.fill(words)("x").mkString(" ")

  test("packing: bins fill head-to-tail per lang, offsets carry over") {
    import spark.implicits._
    // PackLen = 2048; en docs of 1500+800 tokens straddle the boundary
    val docs = Seq(
      (1L, "en", (1 to 1500).map(_ => "t").mkString(" ")),
      (2L, "en", (1 to 800).map(_ => "t").mkString(" ")),
      (3L, "en", (1 to 100).map(_ => "t").mkString(" ")),
      (4L, "de", (1 to 50).map(_ => "t").mkString(" "))
    ).toDF("doc_id", "lang", "text")
    val got = TextQueries.packOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
    assert(got === Seq(
      (1L, "en", 1500L, 0L, 0L),    // starts bin 0, offset 0
      (2L, "en", 800L, 0L, 1500L),  // starts bin 0, offset 1500
      (3L, "en", 100L, 1L, 252L),   // cum 2300 → bin 1, offset 252
      (4L, "de", 50L, 0L, 0L)))     // de shard packs independently
  }

  test("filter gate: each rule trips its own bit") {
    import spark.implicits._
    // 60 distinct words + 'the's interleaved → passes everything
    val good = ((0 until 60).map(i => s"w$i") ++ Seq.fill(3)("the"))
      .mkString(" ")
    // 10 tokens → fails ONLY length (distinct words, has 'the')
    val short = ((0 until 9).map(i => s"w$i") :+ "the").mkString(" ")
    // 60 tokens of one word → fails ttr + stopword + top-mass + dup3
    val degenerate = Seq.fill(60)("x").mkString(" ")
    val docs = Seq(
      (1L, good), (2L, short), (3L, degenerate)).toDF("doc_id", "text")
    val got = TextQueries.filterVerdictOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(6), r.getBoolean(7))).toMap
    assert(got(1L) === ((0L, true)))
    assert(got(2L) === ((1L, false)))
    assert(got(3L) === ((2L + 4L + 8L + 16L, false)))
  }
}
