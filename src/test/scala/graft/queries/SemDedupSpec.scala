package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Independent re-derivation of dd_semdedup at sf0.001: quantize,
  * seed, one floor-exact Lloyd step, assign, then the within-cell
  * min-earlier-neighbor verdict — all in plain Scala over collected
  * vectors (a different code path from the DataFrame pipeline, same
  * math contract). The corpus is small enough (≤100 vectors) that the
  * brute-force O(N²) check is instant.
  */
class SemDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  // mirrors Spark round(x*10000, 0): HALF_UP on the double value
  private def quant(v: Seq[Float]): Array[Long] =
    v.map(x => java.math.BigDecimal.valueOf(x.toDouble * 10000)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()).toArray

  private def dot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def cos(a: Array[Long], b: Array[Long]): Double =
    dot(a, b) / (math.sqrt(dot(a, a).toDouble) *
      math.sqrt(dot(b, b).toDouble))

  test("verdicts match a plain-Scala re-derivation of the pipeline") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        quant(r.getSeq[Float](1)))
      .sortBy(_._1)
    val byId = vecs.toMap
    val dim = vecs.head._2.length

    def assignTo(cents: Seq[(Long, Array[Long])]): Map[Long, Long] =
      vecs.map { case (id, q) =>
        val n2 = dot(q, q)
        id -> cents.map { case (cid, cq) =>
          (n2 + dot(cq, cq) - 2 * dot(q, cq), cid)
        }.min._2
      }.toMap

    val seeds = vecs.filter(_._1 < SimilarityQueries.NCentroids)
      .map { case (id, q) => (id, q) }.toSeq
    val a0 = assignTo(seeds)
    // one Lloyd step: element-wise floor(mean) per cell; floorDiv of
    // exact long sums == floor of the double avg for these magnitudes
    val cents1 = a0.groupBy(_._2).map { case (cell, members) =>
      val qs = members.keys.map(byId).toSeq
      cell -> Array.tabulate(dim) { p =>
        Math.floorDiv(qs.map(_(p)).sum, qs.size.toLong)
      }
    }.toSeq.sortBy(_._1)
    val a1 = assignTo(cents1)

    val expected = vecs.map { case (id, q) =>
      val cands = vecs.filter { case (jid, jq) =>
        jid < id && a1(jid) == a1(id) &&
          cos(q, jq) >= SimilarityQueries.SemThresh
      }
      val keeper = if (cands.isEmpty) id else cands.map(_._1).min
      (id, a1(id), keeper, keeper != id)
    }.toSeq

    val got = graft.SparkEntry.queries("dd_semdedup")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq.sortBy(_._1)
    assert(got === expected)
  }

  test("graft.kmeans.cells scales the cell count without breaking invariants") {
    spark.conf.set("graft.kmeans.cells", "16")
    try {
      val rows = graft.SparkEntry.queries("dd_semdedup")(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
      // more seeds → more (and therefore smaller) cells: the knob that
      // keeps sum(|cell|^2) bounded as the corpus grows
      assert(rows.map(_._2).distinct.length > 8)
      rows.foreach { case (id, _, keeper, isDup) =>
        assert(keeper <= id)
        assert(isDup === (keeper != id))
      }
    } finally spark.conf.unset("graft.kmeans.cells")
  }
}
