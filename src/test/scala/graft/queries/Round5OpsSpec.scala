package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-5 additions (the DuckDB compare
  * is the exactness gate; these pin operator semantics independently
  * of the oracle SQL, on sf0.001).
  */
class Round5OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("sim_knn_graph: no self edges, contiguous ranks, cos non-increasing") {
    val rows = q("sim_knn_graph").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) != r.getLong(2), "self neighbor"))
    rows.groupBy(_.getLong(0)).foreach { case (vid, rs) =>
      val byRank = rs.sortBy(_.getLong(1))
      assert(byRank.map(_.getLong(1)).toSeq == (1L to byRank.size).toSeq,
        s"vec $vid ranks not contiguous")
      assert(byRank.size <= SimilarityQueries.KnnK)
      val cos = byRank.map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        s"vec $vid neighbors not cos-ordered")
      assert(cos.forall(c => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9))
    }
  }

  test("tx_mixture: ppm shares sum to 1e6 within floor slack") {
    val rows = q("tx_mixture").collect()
    assert(rows.nonEmpty)
    val share = rows.map(_.getLong(5)).sum
    val raw = rows.map(_.getLong(6)).sum
    assert(share <= 1000000L && share > 1000000L - rows.length,
      s"share_ppm sums to $share")
    assert(raw <= 1000000L && raw > 1000000L - rows.length,
      s"raw_ppm sums to $raw")
  }

  test("tx_mixture: sqrt temperature never downweights the smallest domain " +
      "below its natural share relative to the largest") {
    val rows = q("tx_mixture").collect()
    val lo = rows.minBy(_.getLong(3))
    val hi = rows.maxBy(_.getLong(3))
    val boost = (r: org.apache.spark.sql.Row) =>
      r.getLong(5).toDouble / math.max(r.getLong(6), 1L)
    assert(boost(lo) >= boost(hi),
      "temperature sampling must upweight low-resource domains")
  }

  test("rel_window_range: matches a brute-force trailing-window recompute") {
    val rows = q("rel_window_range").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (_, rs) =>
      rs.foreach { r =>
        val sec = r.getLong(2)
        val inWin = rs.filter(x =>
          x.getLong(2) >= sec - 2592000L && x.getLong(2) <= sec)
        assert(r.getLong(4) == inWin.size, "roll_n brute-force mismatch")
        assert(r.getLong(5) == inWin.map(_.getLong(3)).sum,
          "roll_cents brute-force mismatch")
      }
    }
  }

  test("mm_dedup: keeper is minimal, idempotent, and covers every media") {
    val rows = q("mm_dedup").collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "one verdict row per media")
    val keeper = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(0), "keeper must not exceed the id")
      assert(keeper(r.getLong(1)) == r.getLong(1), "keeper's keeper is itself")
      assert(r.getBoolean(2) == (r.getLong(1) < r.getLong(0)))
    }
  }

  test("mm_dedup: every thresholded mm_phash edge joins one component") {
    val keeper = q("mm_dedup").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = q("mm_phash").collect()
      .filter(_.getLong(2) <= MultimodalQueries.MmHamThresh)
    assert(edges.nonEmpty, "threshold produces edges on this corpus")
    edges.foreach { e =>
      assert(keeper(e.getLong(0)) == keeper(e.getLong(1)),
        s"edge ${e.getLong(0)}-${e.getLong(1)} spans two components")
    }
  }

  test("dd_containment: bounds, max semantics, threshold") {
    val rows = q("dd_containment").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ca, cb, mc) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(ca > 0 && ca <= 1.0 + 1e-12)
      assert(cb > 0 && cb <= 1.0 + 1e-12)
      assert(math.abs(mc - math.max(ca, cb)) < 1e-12)
      assert(mc >= 0.5)
    }
  }

  test("pipe_report: funnel reconciles with the per-doc verdict") {
    val rep = q("pipe_report").collect()
    val verdict = q("pipe_curate").collect()
    assert(rep.nonEmpty)
    assert(rep.map(_.getLong(2)).sum == verdict.length,
      "n_docs must cover the corpus")
    assert(rep.map(_.getLong(6)).sum == verdict.count(_.getBoolean(4)),
      "kept must equal pipe_curate's kept count")
    rep.foreach { r =>
      assert(r.getLong(6) <= r.getLong(2), "kept <= n_docs per domain")
      assert(r.getLong(3) <= r.getLong(2), "drop_quality <= n_docs")
    }
  }

  test("tx_shard: exact partition of the corpus into balanced shards") {
    val rows = q("tx_shard").collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "every doc lands in exactly one shard")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    val byShard = rows.groupBy(_.getLong(1))
    assert(byShard.keySet == (0L until TextQueries.NShards).toSet
      .filter(_ < nDocs))
    val sizes = byShard.values.map(_.length)
    assert(sizes.max - sizes.min <= 1,
      s"round-robin shards must be balanced, got sizes $sizes")
    byShard.foreach { case (sid, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (0L until rs.length),
        s"shard $sid positions not contiguous from 0")
    }
  }

  test("tx_shard: shard assignment is content-determined (stable under " +
      "input reordering)") {
    // same corpus read twice with different partitioning → same rows
    val a = q("tx_shard").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val reparted = spark.sessionState.conf.numShufflePartitions
    assert(reparted > 0)
    val b = q("tx_shard").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(a.sameElements(b))
  }

  test("graph_pagerank: matches an independent plain-Scala recompute " +
      "from the kNN edges") {
    val edges = q("sim_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val nodes = graft.Tables.embeddings(spark, sf)
      .select("vec_id").collect().map(_.getLong(0))
    val deg = edges.groupBy(_._1).map { case (s0, es) => s0 -> es.length.toLong }
    var score: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to SimilarityQueries.PrIters) {
      val in = new scala.collection.mutable.HashMap[Long, Long]()
      edges.foreach { case (s0, d0) =>
        in(d0) = in.getOrElse(d0, 0L) + score(s0) / deg(s0)
      }
      score = nodes.map(n =>
        n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    val got = q("graph_pagerank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == score.keySet)
    score.foreach { case (n, s) =>
      assert(got(n) == s, s"node $n: got ${got(n)}, recompute $s")
    }
    // every score at or above the damping floor; an in-edge-rich node
    // outranks the floor strictly
    assert(got.values.forall(_ >= 150000L))
    assert(got.values.exists(_ > 1000000L), "some node accumulates mass")
  }

  test("sim_knn_label: matches a plain-Scala majority vote over the " +
      "kNN edges") {
    val edges = q("sim_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val labels = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expect = labels.map { case (v, lab) =>
      val nbrLabels = edges.filter(_._1 == v).map(e => labels(e._2))
      val pred =
        if (nbrLabels.isEmpty) -1
        else nbrLabels.groupBy(identity).toSeq
          .map { case (l, xs) => (l, xs.length) }
          .sortBy { case (l, n) => (-n, l) }.head._1
      (v, lab, pred, lab == pred)
    }.toSet
    val got = q("sim_knn_label").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3)))
      .toSet
    assert(got == expect)
    // the audit is informative on this corpus: some labels agree with
    // their neighborhood, some don't, and every prediction is either a
    // real label or the isolated-vector sentinel
    assert(got.exists(_._4) && got.exists(!_._4))
    val labelSet = labels.values.toSet + -1
    assert(got.forall(r => labelSet(r._3)))
  }

  test("tx_inverted_index: df = posting length, sorted postings, " +
      "top-df selection") {
    val rows = q("tx_inverted_index").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty && rows.length <= TextQueries.TopTerms)
    rows.foreach { case (term, df, postings) =>
      val ids = postings.split(",").map(_.toLong)
      assert(ids.length == df, s"term $term: df $df != ${ids.length}")
      assert(ids.sorted.sameElements(ids), s"term $term postings unsorted")
      assert(ids.distinct.length == ids.length, s"term $term dup postings")
    }
    // the rows are the TopTerms first terms of the (df desc, term asc)
    // order, re-derived here from the raw text
    val allDf = graft.Tables.documents(spark, sf).select("text").collect()
      .flatMap(r => Option(r.getString(0)).toSeq
        .flatMap(_.split(" ", -1).distinct))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val want = allDf.sortBy { case (t, n) => (-n, t) }
      .take(TextQueries.TopTerms)
    assert(rows.map(r => (r._1, r._2)).sortBy { case (t, n) => (-n, t) }
      .toSeq == want, "terms must be the top-df terms")
  }

  test("tx_quality_bins: ntile sizing, monotone deciles, lm-score " +
      "consistency") {
    val bins = q("tx_quality_bins").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bins.nonEmpty)
    val n = bins.length
    // SQL ntile: first (n mod 10) deciles hold ceil(n/10), rest floor
    val byDecile = bins.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byDecile.keySet.forall(d => d >= 1 && d <= 10))
    val (big, small) = (n / 10 + (if (n % 10 > 0) 1 else 0), n / 10)
    byDecile.foreach { case (d, sz) =>
      val want = if (d <= n % 10 || n % 10 == 0) big.max(small) else small
      assert(sz == (if (n % 10 == 0) small else want),
        s"decile $d has $sz rows (n=$n)")
    }
    // decile order agrees with avg_micro order
    val sorted = bins.sortBy(b => (b._2, b._1)).map(_._3)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
    // avg matches tx_lm_score's fields
    val lm = q("tx_lm_score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    bins.foreach { case (id, avg, _) =>
      val (nb, sc) = lm(id)
      assert(avg == sc / nb, s"doc $id avg_micro mismatch")
    }
  }

  test("pipe_mm_curate: verdict algebra reconciles with its components") {
    val rows = q("pipe_mm_curate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getBoolean(1) && !r.getBoolean(3)),
        "kept must equal keep_quality AND NOT is_dup_media")
    }
    val dup = q("mm_dedup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    rows.foreach { r =>
      assert(r.getBoolean(3) == dup(r.getLong(0)),
        s"media ${r.getLong(0)} dup flag disagrees with mm_dedup")
    }
  }
}
