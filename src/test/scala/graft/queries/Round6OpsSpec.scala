package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-6 additions (the DuckDB compare
  * is the exactness gate; these pin operator semantics independently
  * of the oracle SQL, on sf0.001).
  */
class Round6OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, sf)

  test("rel_concurrency: matches a brute-force single-machine sweep") {
    // recompute peaks from the session bounds directly, one event at
    // a time — the semantics the distributed sweep must reproduce
    val sess = q("s7_sessions").collect()
      .map(r => (r.getLong(3), r.getLong(4))) // start_ms, end_ms
    val deltas = scala.collection.mutable.SortedMap
      .empty[Long, Long].withDefaultValue(0L)
    sess.foreach { case (s0, e0) =>
      deltas(s0 / 1000) += 1L
      deltas(e0 / 1000 + 1) -= 1L
    }
    var run = 0L
    var close = Map.empty[Long, Long] // day -> closing run
    var peak = Map.empty[Long, Long].withDefaultValue(Long.MinValue)
    // keep net-zero seconds: the engine also emits their run rows,
    // which can carry a day's peak
    deltas.toSeq.foreach { case (sec, d) =>
      run += d
      val day = sec / 86400
      peak = peak.updated(day, math.max(peak(day), run))
      close = close.updated(day, run)
    }
    val days = peak.keys.toSeq.sorted
    val expected = days.zipWithIndex.map { case (day, i) =>
      val carry = if (i == 0) 0L else close(days(i - 1))
      day -> math.max(peak(day), carry)
    }.toMap
    val got = q("rel_concurrency").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    // concurrency is a real overlap signal, not a constant
    assert(got.values.max >= 1L)
  }

  test("pipe_epoch_plan: epochs within cap, plan never exceeds alloc " +
      "or cap x corpus, sqrt weighting flattens") {
    val rows = q("pipe_epoch_plan").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (kept, wt, alloc, plan, epochs, capped) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getBoolean(7))
      assert(epochs >= 1L && epochs <= AdvancedQueries.EpochCap)
      assert(plan <= alloc && plan <= AdvancedQueries.EpochCap * kept)
      assert(capped === (alloc > AdvancedQueries.EpochCap * kept))
      assert(wt === math.sqrt(kept.toDouble).toLong)
    }
    // sub-linear weights: the smallest source gets MORE epochs than
    // the largest (that is what the flattening buys)
    val lo = rows.minBy(_.getLong(2))
    val hi = rows.maxBy(_.getLong(2))
    assert(lo.getLong(6) >= hi.getLong(6),
      "sqrt weighting must favor small sources")
  }

  test("tx_novelty: doc order determines novelty; first doc is all-new") {
    val rows = q("tx_novelty").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val first = rows.minBy(_._1)
    assert(first._2 === first._3, "the first document must be 100% novel")
    rows.foreach { case (_, nGrams, nNew, ppm) =>
      assert(nNew <= nGrams)
      assert(ppm === (if (nGrams > 0) nNew * 1000000L / nGrams else 0L))
    }
    // the corpus repeats content, so SOME later doc must be non-novel
    assert(rows.exists(r => r._2 > 0 && r._3 < r._2),
      "expected shared 3-grams across the corpus")
  }

  test("dd_cluster_stats: histogram accounts for every document exactly once") {
    val rows = q("dd_cluster_stats").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val totalDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_._3).sum === totalDocs,
      "histogram n_docs must partition the corpus")
    rows.foreach { case (sz, n, docs) => assert(docs === sz * n) }
    // closure components have >= 2 members; size 1 is only the
    // singleton row
    assert(rows.count(_._1 == 1L) <= 1)
    val clusters = q("dd_cluster").collect()
    val paired = rows.filter(_._1 >= 2L).map(_._3).sum
    assert(paired === clusters.length,
      "size>=2 rows must cover exactly the paired documents")
  }

  test("sim_ood_score: deciles partition the corpus; decile 1 holds the " +
      "largest distances") {
    val rows = q("sim_ood_score").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    val n = rows.length
    val byDecile = rows.groupBy(_._3)
    assert(byDecile.keySet === (1L to math.min(10L, n.toLong)).toSet)
    // ntile balance: bucket sizes differ by at most 1
    val sizes = byDecile.values.map(_.length)
    assert(sizes.max - sizes.min <= 1)
    // every decile-1 distance >= every decile-10 distance
    val d1min = byDecile(1L).map(_._2).min
    val d10max = byDecile(byDecile.keySet.max).map(_._2).max
    assert(d1min >= d10max)
    rows.foreach { case (_, dist2, dec, ood) =>
      assert(dist2 >= 0L, "squared distance cannot be negative")
      assert(ood === (dec == 1L))
    }
  }

  test("cdc_gap_detect: finds exactly the dropped non-data event ids") {
    import org.apache.spark.sql.functions.col
    val missing = q("cdc_gap_detect").collect().map(_.getLong(0)).toSet
    val nonData = graft.Tables.events(spark, sf)
      .filter(!col("event_type").isin("click", "purchase", "signup", "view"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(missing === nonData,
      "the two-phase bucket scan must recover the full gap set")
    assert(missing.nonEmpty, "the corpus should contain dropped ops")
  }

  test("rel_basket_affinity: support ordering, triangle form, bounded lift") {
    val rows = q("rel_basket_affinity").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // the rows are the 20 first pairs of the (support desc, a, b)
    // order, re-derived here from the distinct (order, part) items
    val items = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getLong(1)).sorted)
    val support = items.toSeq
      .flatMap(ps => ps.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val top = support.sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
      .map { case ((a, b), n) => (a, b, n) }
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (a, b, n) => (-n, a, b) }.toSeq === top,
      "not the top-support pairs")
    rows.foreach { r =>
      val (a, b, both, na, nb, lift) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a < b, "pair must be in triangle (a < b) form")
      assert(both <= na && both <= nb,
        "joint support cannot exceed either marginal")
      assert(lift >= 0L)
      assert(both > 0L && na > 0L && nb > 0L)
    }
  }

  test("sim_centroid_balance: shares partition the corpus within floor slack") {
    val rows = q("sim_centroid_balance").collect()
    assert(rows.nonEmpty)
    val nTotal = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum === nTotal,
      "cell populations must partition the corpus")
    val ppm = rows.map(_.getLong(2)).sum
    assert(ppm <= 1000000L && ppm > 1000000L - rows.length,
      s"share_ppm sums to $ppm")
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(1) * 1000000L / nTotal)
    }
  }

  test("sim_nprobe_sweep: recall is monotone in probes and bounded by 1") {
    val rows = q("sim_nprobe_sweep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L))
    rows.foreach { case (_, hits, total, ppm) =>
      assert(hits <= total)
      assert(ppm === hits * 1000000L / total)
    }
    val recalls = rows.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      "probing more cells can never lose recall")
    assert(recalls.head > 0L, "one probe should already find something")
  }

  test("dd_sketch_error: buckets cover every LSH candidate pair exactly once") {
    val hist = q("dd_sketch_error").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nCand = q("dd_minhash_lsh").count()
    assert(hist.map(_._2).sum === nCand,
      "error histogram must partition the candidate pairs")
    hist.foreach { case (bucket, n) =>
      assert(bucket >= 0L && bucket <= 20L, s"bucket $bucket out of range")
      assert(n > 0L)
    }
  }

  test("rel_rank_stats: derived statistics agree with their formulas " +
      "and partition each nation") {
    val rows = q("rel_rank_stats").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (nk, rs) =>
      val n = rs.length.toLong
      val byRank = rs.sortBy(_.getLong(3))
      assert(byRank.map(_.getLong(3)).toSeq === (1L to n).toSeq,
        s"nation $nk ranks not contiguous")
      // revenue non-increasing along the rank
      val revs = byRank.map(_.getLong(2))
      assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
      byRank.foreach { r =>
        val (rn, q4, pr, cd) = (r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))
        assert(q4 >= 1L && q4 <= 4L)
        assert(pr === (if (n > 1) (rn - 1) * 1000000L / (n - 1) else 0L))
        assert(cd === rn * 1000000L / n)
      }
    }
  }

  test("tx_readability: flesch formula holds; bands cut at 70000/50000") {
    val rows = q("tx_readability").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, s0, y, flesch, band) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(6), r.getString(7))
      assert(s0 >= 1L)
      assert(flesch === 206835L - 1015L * w / s0 - 84600L * y / w)
      val expected =
        if (flesch >= 70000L) "easy"
        else if (flesch >= 50000L) "standard" else "difficult"
      assert(band === expected)
    }
  }

  test("tx_fertility: per-language ratios derive from the summed counts") {
    val rows = q("tx_fertility").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (words, sub, sym) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sub >= words, "BPE cannot merge across word boundaries, so " +
        "every word is >= 1 subword")
      assert(sym >= sub, "merges only shrink symbol counts")
      assert(r.getLong(5) === sub * 1000000L / words)
      assert(r.getLong(6) === sym * 1000000L / sub)
    }
  }

  test("sim_dim_stats: one row per dimension with consistent bounds") {
    val rows = q("sim_dim_stats").collect()
    assert(rows.length === SimilarityQueries.Dim)
    rows.foreach { r =>
      val (n, sum, sumsq, qMin, qMax) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(n > 0L)
      assert(qMin <= qMax)
      assert(n * qMin <= sum && sum <= n * qMax)
      // Cauchy-Schwarz lower bound: n * sumsq >= sum^2
      assert(n * sumsq >= sum * sum)
    }
  }
}
