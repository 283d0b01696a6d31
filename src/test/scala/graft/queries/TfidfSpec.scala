package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed TF-IDF on a three-document corpus: pins the score
  * definition (tf*N/df, one double division), the top-3 cut, and the
  * (score desc, term asc) tie-break.
  */
class TfidfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  test("scores, ranks, and tie-breaks match hand computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a b"),
      (2L, "a c"),
      (3L, "b b b c")).toDF("doc_id", "text")
    // N=3; df: a→2 b→2 c→2
    val got = TextQueries.tfidfTopK(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq.sortBy(r => (r._1, r._2))
    val expected = Seq(
      (1L, 1L, "a", 2L, 2L, 3.0),
      (1L, 2L, "b", 1L, 2L, 1.5),
      (2L, 1L, "a", 1L, 2L, 1.5), // tie with c → term asc
      (2L, 2L, "c", 1L, 2L, 1.5),
      (3L, 1L, "b", 3L, 2L, 4.5),
      (3L, 2L, "c", 1L, 2L, 1.5))
    assert(got === expected)
  }

  test("a rare term outranks a common one at equal tf") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common rare"),
      (2L, "common x"),
      (3L, "common y"),
      (4L, "common z")).toDF("doc_id", "text")
    val top1 = TextQueries.tfidfTopK(docs)
      .filter($"doc_id" === 1L && $"rk" === 1L)
      .head
    // rare: 1*4/1 = 4.0 beats common: 1*4/4 = 1.0
    assert(top1.getString(2) === "rare")
    assert(top1.getDouble(5) === 4.0)
  }

  test("top-3 cut keeps exactly three terms for a wide document") {
    import spark.implicits._
    val docs = Seq(
      (1L, "p q r s t"),
      (2L, "p p q")).toDF("doc_id", "text")
    val rows = TextQueries.tfidfTopK(docs).filter($"doc_id" === 1L).count()
    assert(rows === 3L)
  }
}
