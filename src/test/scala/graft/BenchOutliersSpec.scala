package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's contention self-description (r9 verdict #1):
  * the committed-baseline reader, the per-query outlier rule, and the
  * batch↔streaming envelope agreement band. Pure decision logic — no
  * Spark needed.
  */
class BenchOutliersSpec extends AnyFunSuite {

  test("committedQueryTimes parses the committed artifact shape") {
    val tmp = java.nio.file.Files.createTempFile("bench_prev", ".json")
    java.nio.file.Files.write(tmp,
      ("""{"metric":"total","value":114.0,"unit":"sec",""" +
        """"queries":{"q_a":0.5,"q_b":1.25,"q_int":2},""" +
        """"capped":[],"sf":"/x"}""").getBytes("UTF-8"))
    val m = Bench.committedBaseline(tmp.toString)._1
    assert(m == Map("q_a" -> 0.5, "q_b" -> 1.25, "q_int" -> 2.0))
    java.nio.file.Files.deleteIfExists(tmp)
  }

  test("committedQueryTimes is empty on absent or malformed files") {
    assert(Bench.committedBaseline("/nonexistent/bench_out.json")._1.isEmpty)
    val tmp = java.nio.file.Files.createTempFile("bench_bad", ".json")
    java.nio.file.Files.write(tmp, "not json at all".getBytes("UTF-8"))
    assert(Bench.committedBaseline(tmp.toString)._1.isEmpty)
    java.nio.file.Files.deleteIfExists(tmp)
  }

  test("outlier rule: >2x committed plus the 0.3s noise floor") {
    // the r9 driver-run suspects would all have been flagged
    assert(Bench.isOutlier(3.44, 0.60)) // tx_repetition
    assert(Bench.isOutlier(3.18, 0.96)) // pipe_pack
    assert(Bench.isOutlier(3.31, 1.39)) // rel_wait_suppliers
    // ordinary jitter is not
    assert(!Bench.isOutlier(1.2, 0.9))
    assert(!Bench.isOutlier(0.4, 0.1)) // sub-second noise under the floor
    assert(!Bench.isOutlier(2.0, 1.0)) // exactly 2x + floor not exceeded
    // no committed value -> never an outlier
    assert(!Bench.isOutlier(10.0, 0.0))
    assert(!Bench.isOutlier(10.0, -1.0))
  }

  test("slow-figure rule: below 2/3 committed flags consistent depression") {
    // the hog-validation run: both envelope figures depressed
    // together (0.58x), pair agreed within band — still named
    assert(Bench.isSlowFigure(161809L, 280081.0))
    assert(Bench.isSlowFigure(184752L, 334989.0)) // r9 driver, 0.55x
    // calm-to-calm host variance (>= 0.83x observed) never flags
    assert(!Bench.isSlowFigure(253860L, 304204.0)) // 0.83x
    assert(!Bench.isSlowFigure(279923L, 334989.0)) // 0.84x
    assert(!Bench.isSlowFigure(280081L, 280081.0))
    assert(!Bench.isSlowFigure(-1L, 280081.0)) // failed measurement
    assert(!Bench.isSlowFigure(100000L, 0.0)) // no committed value
  }

  test("committedFigures reads the top-level throughput fields") {
    val tmp = java.nio.file.Files.createTempFile("bench_prev_fig", ".json")
    java.nio.file.Files.write(tmp,
      ("""{"metric":"total","value":114.0,"queries":{"q":1.0},""" +
        """"envelope_events_per_sec":334989,""" +
        """"streaming_envelope_events_per_sec":245700,"sf":"/x"}""")
        .getBytes("UTF-8"))
    val m = Bench.committedBaseline(tmp.toString)._2
    assert(m("envelope_events_per_sec") == 334989.0)
    assert(m("streaming_envelope_events_per_sec") == 245700.0)
    assert(m("value") == 114.0) // numeric top-levels included; harmless
    assert(!m.contains("queries") && !m.contains("sf"))
    java.nio.file.Files.deleteIfExists(tmp)
  }

  test("batch/stream agreement band catches the r9 artifact") {
    // committed r9 calm pair: batch 334,989 vs stream 245,700 — agrees
    assert(Bench.batchStreamAgree(334989L, 245700L))
    // the r9 driver artifact: batch 184,752 vs stream 246,900 — the
    // batch side is below stream/1.25, the corrupted-batch signature
    assert(!Bench.batchStreamAgree(184752L, 246900L))
    // calm drift above the committed 1.36 ratio must NOT trip the
    // band (observed calm ratios span 1.02-1.37; the band is 1.6)
    assert(Bench.batchStreamAgree(380000L, 245700L)) // 1.55x: drift
    // the 16-hog contention signature (>=1.65x) MUST trip it — an r11
    // cut widened the band to 1.7 and would have stamped it agreed
    // (ADVICE r11); batch far above stream = streaming is the suspect
    assert(!Bench.batchStreamAgree(408000L, 245700L)) // 1.66x: 16-hog
    assert(!Bench.batchStreamAgree(450000L, 245700L)) // 1.83x
    // failed measurements never agree (caller keeps its retry budget)
    assert(!Bench.batchStreamAgree(-1L, 245700L))
    assert(!Bench.batchStreamAgree(334989L, -1L))
  }

  test("committed baseline is pinned to git, not the working tree") {
    // The working-tree bench_out.json is the very file Bench.main
    // overwrites at the end of each run — a second run in one session
    // must still baseline against the COMMITTED calm artifact, or a
    // contended run followed by a re-run self-reports outliers:[]
    // (r10 verdict What's-wrong #1).
    val repoFile = java.nio.file.Paths.get("bench_out.json").toAbsolutePath
    val gitHasIt =
      try {
        new ProcessBuilder("git", "-C", repoFile.getParent.toString,
          "cat-file", "-e", "HEAD:./bench_out.json").start().waitFor() == 0
      } catch { case _: Throwable => false }
    assume(gitHasIt, "not a git checkout with a committed bench_out.json")
    val original = java.nio.file.Files.readAllBytes(repoFile)
    try {
      // simulate a contended prior run having overwritten the file
      java.nio.file.Files.write(repoFile,
        ("""{"queries":{"rel_q1_agg":99.9},""" +
          """"envelope_events_per_sec":1}""").getBytes("UTF-8"))
      val m = Bench.committedBaseline()._1
      // the baseline is HEAD's calm value, not the contended 99.9 —
      // so the contended sample still fires as an outlier
      assert(m.get("rel_q1_agg").exists(_ < 10.0))
      assert(Bench.isOutlier(99.9, m("rel_q1_agg")))
      val figs = Bench.committedBaseline()._2
      assert(figs.get("envelope_events_per_sec").exists(_ > 1000.0))
    } finally java.nio.file.Files.write(repoFile, original)
  }

  test("committed baseline walks past a contended committed artifact") {
    // The round driver commits its own bench output, and that run can
    // be contended — r10's round commit put a 176.5 s artifact with 9
    // self-flagged outliers at HEAD. The baseline must come from the
    // most recent SELF-DESCRIBED-CALM committed version, not bare
    // HEAD, or every outlier threshold silently inflates 2-5×.
    val repoFile = java.nio.file.Paths.get("bench_out.json").toAbsolutePath
    val gitHasIt =
      try {
        new ProcessBuilder("git", "-C", repoFile.getParent.toString,
          "cat-file", "-e", "HEAD:./bench_out.json").start().waitFor() == 0
      } catch { case _: Throwable => false }
    assume(gitHasIt, "not a git checkout with a committed bench_out.json")
    val bytes = Bench.committedBytes("bench_out.json")
    assert(bytes.isDefined)
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(bytes.get)
    def calmField(f: String): Boolean = {
      val n = root.get(f)
      n == null || (n.isArray && n.isEmpty)
    }
    assert(calmField("outliers"), "selected baseline has outliers")
    assert(calmField("capped"), "selected baseline has capped queries")
    assert(calmField("slow_figures"), "selected baseline has slow figures")
  }

  test("requalify clears transient contention and keeps sustained flags") {
    // q_transient: sweep 0 caught it in a burst (3.0 s vs committed
    // 0.6); the next sweep landed calm. q_sustained: every sweep was as
    // contended as sweep 0. q_slowclear: cleared only by the last
    // sweep. q_calm never read as an outlier.
    val committed = Map("q_transient" -> 0.6, "q_sustained" -> 0.8,
      "q_slowclear" -> 1.0, "q_calm" -> 0.5)
    val sweep0 = Map(
      "q_transient" -> 3.0, "q_sustained" -> 4.0, "q_slowclear" -> 5.0,
      "q_calm" -> 0.6)
    // the sweeps' min-merge of every later sample
    val best = Map(
      "q_transient" -> 0.55, "q_sustained" -> 3.9, "q_slowclear" -> 0.9,
      "q_calm" -> 0.5)
    val names = committed.keys.toSeq.sorted
    assert(Bench.requalified(names, committed, sweep0.get, best.get) ==
      Seq("q_slowclear", "q_transient"))
    // the sweep loop re-sampled exactly the sweep-0 outliers
    assert(BenchExpect.pending(names, committed, sweep0.get) ==
      Seq("q_slowclear", "q_sustained", "q_transient"))
    // the survivor still reads as an outlier for the artifact
    assert(Bench.isOutlier(best("q_sustained"), committed("q_sustained")))
  }

  test("requalify spends nothing on a calm run") {
    val committed = Map("q_a" -> 0.6, "q_b" -> 1.0)
    val sweep0 = Map("q_a" -> 0.7, "q_b" -> 1.1)
    val names = committed.keys.toSeq.sorted
    // no sweep-0 outlier: nothing to clear, and no query is re-sampled
    // to clear one
    assert(Bench.requalified(names, committed, sweep0.get, sweep0.get).isEmpty)
    assert(BenchExpect.pending(names, committed, sweep0.get).isEmpty)
    assert(Bench.requalified(Seq.empty, Map.empty, _ => Some(0.5),
      _ => Some(0.5)).isEmpty)
  }

  test("artifact keys are the committed calm artifact's plus cost") {
    val repoFile = java.nio.file.Paths.get("bench_out.json").toAbsolutePath
    val gitHasIt =
      try {
        new ProcessBuilder("git", "-C", repoFile.getParent.toString,
          "cat-file", "-e", "HEAD:./bench_out.json").start().waitFor() == 0
      } catch { case _: Throwable => false }
    assume(gitHasIt, "not a git checkout with a committed bench_out.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def keys(bytes: Array[Byte]): Set[String] = {
      val it = mapper.readTree(bytes).fieldNames()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSet
    }
    val committedKeys = keys(Bench.committedBytes("bench_out.json").get)
    val counters = Cost.Counters(2, 10, 698, 15, 1047, 0, 0, 5, 5, 5)
    val art = Bench.Artifact(
      queries = Seq("q_a" -> 0.5, "q_b" -> -1.0), capped = Seq("q_b"),
      outliers = Seq(("q_a", 0.5, 0.2)), requalified = Seq("q_c"),
      slowFigures = Seq(("envelope_events_per_sec", 1L, 3L)), sweeps = 3,
      stageBuildSec = 1.5, stageBuild = Seq("mm_phash" -> 0.5),
      staged = Seq("idx"), envelope = 1L, batchStreamAgreed = false,
      streamEnvelope = 2L, streamEnvelopeRocks = 3L, streamAgreed = true,
      snapshot = 4L, snapshotRocks = 5L, cost = Seq("q_a" -> counters),
      sf = "/x")
    val line = mapper.readTree(art.line)
    assert(keys(art.line.getBytes("UTF-8")) == committedKeys + "cost")
    assert(line.get("value").asDouble == 0.5) // a failed query counts nothing
    assert(line.get("cost").get("q_a").get("shuffle_bytes_read").asLong == 1047L)
    assert(line.get("cost").get("q_a").get("output_rows").asLong == 5L)
    val summary = mapper.readTree(art.summary).get("summary")
    assert(summary.get("outliers").get(0).asText == "q_a")
    assert(summary.get("slow_figures").get(0).asText == "envelope_events_per_sec")
  }

  test("calm-baseline walk skips requalified (was-contended) artifacts") {
    def art(extra: String): Array[Byte] =
      (s"""{"metric":"total","value":100.0,"queries":{"q":1.0},""" +
        s""""capped":[],"outliers":[],"slow_figures":[]$extra}""")
        .getBytes("UTF-8")
    assert(Bench.isCalmArtifact(art(""","requalified":[]""")))
    // pre-r12 artifacts lack the field entirely — still calm
    assert(Bench.isCalmArtifact(art("")))
    // a run that converged only via requalification is NOT a baseline
    assert(!Bench.isCalmArtifact(art(""","requalified":["graph_pagerank"]""")))
    // and the existing flags still disqualify
    assert(!Bench.isCalmArtifact(
      ("""{"queries":{"q":1.0},"capped":[],"slow_figures":[],""" +
        """"outliers":[{"query":"q","sec":9.0,"committed":1.0}]}""")
        .getBytes("UTF-8")))
    assert(!Bench.isCalmArtifact("not json".getBytes("UTF-8")))
  }

  test("committedBytes falls back to the file outside a git checkout") {
    val tmp = java.nio.file.Files.createTempFile("bench_nogit", ".json")
    java.nio.file.Files.write(tmp,
      """{"queries":{"q":1.5}}""".getBytes("UTF-8"))
    assert(Bench.committedBaseline(tmp.toString)._1 == Map("q" -> 1.5))
    java.nio.file.Files.deleteIfExists(tmp)
  }
}
