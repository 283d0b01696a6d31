package graft

import org.scalatest.funsuite.AnyFunSuite

/** Where the bench's per-query expectations come from: the committed
  * calm artifact's own seconds (watchdog caps, sweep 0's order, the
  * sweep loop's calm rule), with `BenchExpect.default` only for a name
  * the artifact lacks. Pure decision logic — no Spark needed, apart
  * from the baseline-coverage guard, which reads git.
  */
class BenchExpectSpec extends AnyFunSuite {

  private val maxCap = 30L

  test("cap of a cheap committed query is the 5 s floor") {
    // the retired table listed tx_bpe_learn at 2.5 s (a 9 s cap); the
    // calm artifact measured ~0.2 s
    assert(BenchExpect(Map("tx_bpe_learn" -> 0.2), "tx_bpe_learn") == 0.2)
    assert(BenchExpect.capSec(Map("tx_bpe_learn" -> 0.2), "tx_bpe_learn",
      maxCap) == 5L)
  }

  test("cap is ceil(3.5x) the committed seconds") {
    // the retired table listed tx_pii at 0.5 s (a 5 s cap)
    assert(BenchExpect.capSec(Map("tx_pii" -> 3.0), "tx_pii", maxCap) == 11L)
  }

  test("cap of a slow committed query is clamped to maxCap") {
    assert(BenchExpect.capSec(Map("q" -> 20.0), "q", maxCap) == maxCap)
    assert(BenchExpect.capSec(Map("q" -> 20.0), "q", 60L) == 60L)
  }

  test("a name the committed map lacks gets the default's 7 s cap") {
    val committed = Map("q_other" -> 0.4)
    assert(BenchExpect(committed, "q_new") == BenchExpect.default)
    assert(BenchExpect.capSec(committed, "q_new", maxCap) == 7L)
    assert(BenchExpect.capSec(Map.empty, "q_new", maxCap) == 7L)
    // a failed (-1) committed entry is no expectation either
    assert(BenchExpect.capSec(Map("q_new" -> -1.0), "q_new", maxCap) == 7L)
  }

  test("every benched query's expectation is its committed value") {
    // distinct committed seconds per name: any per-name constant left
    // in BenchExpect would show up as a mismatch here
    val names = SparkEntry.queries.keys.toSeq.sorted
    val committed = names.zipWithIndex
      .map { case (n, i) => n -> (0.05 + i * 0.013) }.toMap
    val off = names.filterNot(n => BenchExpect(committed, n) == committed(n))
    assert(off.isEmpty, s"expectations not from the committed map: $off")
  }

  test("the sweep's pending set is exactly the names isOutlier flags") {
    val committed = Map("a" -> 1.0, "b" -> 1.0, "c" -> 0.1, "d" -> 0.6)
    val best = Map(
      "a" -> 2.5, // 2.5x: an outlier (a 3x + 0.5 s rule calls it calm)
      "b" -> 2.2, // under 2x + 0.3 s: not an outlier
      "c" -> 0.45, // sub-second jitter under the floor
      "d" -> 1.6) // 2.67x
    val names = Seq("a", "b", "c", "d")
    val pending = BenchExpect.pending(names, committed, best.get)
    assert(pending == names.filter(n => Bench.isOutlier(best(n), committed(n))))
    assert(pending == Seq("a", "d"))
    // a grid of samples around the 2x + 0.3 s boundary
    for (c <- Seq(0.1, 0.5, 1.0, 3.0); k <- 1 to 40) {
      val sec = c * k * 0.1
      assert(BenchExpect.pending(Seq("q"), Map("q" -> c), Map("q" -> sec).get)
        .nonEmpty == Bench.isOutlier(sec, c), s"committed $c, sample $sec")
    }
  }

  test("pending also holds names without an uncapped sample") {
    val committed = Map("a" -> 1.0, "b" -> 1.0)
    assert(BenchExpect.pending(Seq("a", "b", "q_new"), committed,
      Map("a" -> 0.9).get) == Seq("b", "q_new"))
    // an unbaselined name is judged against the default expectation
    assert(BenchExpect.pending(Seq("q_new"), Map.empty,
      Map("q_new" -> 4.2).get).isEmpty)
    assert(BenchExpect.pending(Seq("q_new"), Map.empty,
      Map("q_new" -> 4.4).get) == Seq("q_new"))
  }

  test("the committed calm baseline times every SparkEntry query") {
    // With the per-query table gone, a query added without a calm
    // baseline would otherwise run silently under the default cap.
    val repoFile = java.nio.file.Paths.get("bench_out.json").toAbsolutePath
    val gitHasIt =
      try {
        new ProcessBuilder("git", "-C", repoFile.getParent.toString,
          "cat-file", "-e", "HEAD:./bench_out.json").start().waitFor() == 0
      } catch { case _: Throwable => false }
    assume(gitHasIt, "not a git checkout with a committed bench_out.json")
    val bytes = Bench.committedBytes("bench_out.json")
    assert(bytes.exists(Bench.isCalmArtifact), "selected baseline is not calm")
    val (times, figures) = Bench.committedBaseline()
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => times.get(n).exists(_ > 0))
    assert(missing.isEmpty, s"no committed calm time for: $missing")
    assert(figures.get("envelope_events_per_sec").exists(_ > 0))
  }

  test("r12's snapshot drop: the calm walk skips it, so no slow figure") {
    // The r12 round artifact (streaming_snapshot 36,228 ev/s) names
    // itself contended: 4 requalified queries and 1 slow figure.
    val r12 =
      ("""{"metric":"total","value":134.5,"queries":{"q":1.0},""" +
        """"capped":[],"outliers":[],"requalified":["rel_bucket_join",""" +
        """"rel_cum_distinct","rel_cust_dist","tx_diversity"],""" +
        """"slow_figures":[{"figure":""" +
        """"streaming_envelope_events_per_sec_rocksdb",""" +
        """"value":167969,"committed":280505}],""" +
        """"streaming_snapshot_events_per_sec":36228,""" +
        """"streaming_snapshot_events_per_sec_rocksdb":30889}""")
        .getBytes("UTF-8")
    // The calm artifact committed just before it, which the walk
    // picked as r13's baseline.
    val r12Calm =
      ("""{"metric":"total","value":114.1,"queries":{"q":1.0},""" +
        """"capped":[],"outliers":[],"requalified":[],"slow_figures":[],""" +
        """"streaming_snapshot_events_per_sec":19248,""" +
        """"streaming_snapshot_events_per_sec_rocksdb":16132}""")
        .getBytes("UTF-8")
    assert(!Bench.isCalmArtifact(r12))
    assert(Bench.isCalmArtifact(r12Calm))
    val tmp = java.nio.file.Files.createTempFile("bench_r12_calm", ".json")
    try {
      java.nio.file.Files.write(tmp, r12Calm)
      val figs = Bench.committedBaseline(tmp.toString)._2
      assert(figs("streaming_snapshot_events_per_sec") == 19248.0)
      assert(figs("streaming_snapshot_events_per_sec_rocksdb") == 16132.0)
    } finally java.nio.file.Files.deleteIfExists(tmp)
    // r13's figures against the calm baseline: 0.96x and 1.03x
    assert(!Bench.isSlowFigure(18541L, 19248.0))
    assert(!Bench.isSlowFigure(16622L, 16132.0))
    // against the contended artifact the drop would have been flagged
    assert(Bench.isSlowFigure(18541L, 36228.0))
  }
}
