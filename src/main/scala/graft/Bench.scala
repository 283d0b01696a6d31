package graft

import org.apache.spark.sql.SparkSession

/** Per-query expected seconds: the committed calm bench artifact's
  * value ([[Bench.committedBaseline]]); a name the artifact lacks
  * gets `default`. NOT used to report results — only to (a) tier each
  * query's watchdog cap, (b) order sweep 0 cheapest-first and (c)
  * decide when a sample is calm enough that later sweeps should spend
  * their budget elsewhere.
  */
object BenchExpect {
  val default = 2.0

  def apply(committed: Map[String, Double], n: String): Double =
    committed.get(n).filter(_ > 0).getOrElse(default)

  /** Tiered per-query watchdog cap: 3.5× expected, clamped to
    * [5 s, maxCap]. The r3 failure was arithmetic — a flat 60 s cap ×
    * 54 queries let ONE fully-contended sweep (613 s) blow the whole
    * 450 s budget, so min-over-sweeps never engaged and every recorded
    * number was a single contended sample. At the committed calm
    * values the 185 tiered caps sum to 939 s: a fully-capped sweep 0
    * still overruns the default 450 s budget, but it always finishes
    * (every query gets a sample), and later sweeps run only the
    * queries whose cap still fits.
    */
  def capSec(committed: Map[String, Double], n: String, maxCap: Long): Long =
    math.min(maxCap,
      math.max(5L, math.ceil(apply(committed, n) * 3.5).toLong))

  /** The queries a later sweep re-samples: those without an uncapped
    * sample yet, and those whose best sample is an outlier against the
    * expected time — the same [[Bench.isOutlier]] rule that writes the
    * artifact's `outliers`.
    */
  def pending(names: Seq[String], committed: Map[String, Double],
      best: String => Option[Double]): Seq[String] =
    names.filterNot(n =>
      best(n).exists(b => !Bench.isOutlier(b, apply(committed, n))))
}

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is fully
  * evaluated through the noop sink (a bare .count() would let Catalyst
  * prune projection work and under-measure).
  *
  * Contention defense (this VM sees multi-minute host stalls that
  * stretch a ~1 s query 100×):
  *  - per-query tiered watchdog caps (BenchExpect.capSec) bound the
  *    cost of any one contended sample;
  *  - sweep 0 runs every query cheapest-first (a burst at the start
  *    caps cheap queries at ~5 s each instead of eating the budget);
  *  - later sweeps rerun ONLY queries without a calm sample yet
  *    ([[BenchExpect.pending]]), respending the budget where it's
  *    needed; once all queries are calm, full refinement sweeps
  *    continue until ≥3 sweeps ran;
  *  - the reported number is the per-query min over uncapped samples;
  *  - each query's [[Cost]] counters, taken from its first uncapped
  *    sample, do not depend on host load at all.
  */
object Bench {

  /** Bytes of the committed calm baseline artifact. Reads from GIT
    * first — never this run's own working-tree output: the
    * working-tree file is the very file [[main]] overwrites at the
    * end of each run, so a second bench run in one session would
    * otherwise baseline against the previous run's possibly-contended
    * numbers — a contended run followed by a re-run would self-report
    * `outliers:[]` and the corruption becomes invisible.
    *
    * Within git, the reader walks the file's history NEWEST-FIRST to
    * the most recent artifact that self-describes as CALM (empty
    * `outliers`/`capped`/`slow_figures`; fields absent count as
    * empty). Pinning to bare HEAD is not enough: the round driver
    * commits its own bench output, and its r10 commit put a contended
    * artifact (total 176.5 s, 9 self-flagged outliers) at HEAD — a
    * baseline taken from it would be 2-5× too high and mask real
    * contention. A contended artifact always names itself, so the
    * walk is well-founded. Falls back to the newest committed version
    * when no calm one exists in the last [[CalmWalkDepth]], then to
    * the working-tree file for non-git checkouts.
    */
  private[graft] val CalmWalkDepth = 10

  /** An artifact is a usable CALM baseline when every contention
    * self-description field is empty (absent counts as empty).
    * `requalified` non-empty means the run WAS contended: some queries
    * read as outliers in sweep 0 and only a later sweep cleared them;
    * pre-r12 artifacts lack the field and are unaffected.
    */
  private[graft] def isCalmArtifact(bytes: Array[Byte]): Boolean =
    try {
      val root =
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      def emptyArr(f: String): Boolean = {
        val n = root.get(f)
        n == null || (n.isArray && n.isEmpty)
      }
      root.isObject && emptyArr("outliers") && emptyArr("capped") &&
        emptyArr("slow_figures") && emptyArr("requalified")
    } catch { case _: Throwable => false }

  private[graft] def committedBytes(path: String): Option[Array[Byte]] = {
    val p = java.nio.file.Paths.get(path).toAbsolutePath
    val dir = p.getParent.toString
    val name = p.getFileName.toString
    def run(cmd: String*): Option[Array[Byte]] =
      try {
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val proc = pb.start()
        val out = proc.getInputStream.readAllBytes()
        if (proc.waitFor() == 0 && out.nonEmpty) Some(out) else None
      } catch { case _: Throwable => None }
    // the file's own history, newest-first (`-C parent` + `./name`
    // resolve relative to the file's directory wherever the repo
    // root is)
    val shas: Seq[String] = run("git", "-C", dir, "log",
        "--format=%H", "-n", CalmWalkDepth.toString, "--", name)
      .map(b => new String(b, "UTF-8").linesIterator.toSeq)
      .getOrElse(Seq.empty)
    val versions = shas.iterator
      .flatMap(sha => run("git", "-C", dir, "show", s"$sha:./$name"))
    val fromGit = {
      val all = versions.toSeq
      all.find(isCalmArtifact).orElse(all.headOption)
    }
    fromGit.orElse {
      try {
        if (java.nio.file.Files.exists(p))
          Some(java.nio.file.Files.readAllBytes(p))
        else None
      } catch { case _: Throwable => None }
    }
  }

  /** The committed calm artifact's per-query seconds and top-level
    * numeric fields (the throughput figures), from ONE
    * [[committedBytes]] read (a `git log` plus up to [[CalmWalkDepth]]
    * `git show`s) and one parse — git first, never this run's own
    * working-tree output. They feed `outliers` and `slow_figures`, so a
    * contended run is machine-readably suspect. Both are empty when no
    * baseline is readable: a first run on a fresh checkout flags
    * nothing.
    */
  private[graft] def committedBaseline(path: String = "bench_out.json")
      : (Map[String, Double], Map[String, Double]) = {
    def numericFields(node: com.fasterxml.jackson.databind.JsonNode) = {
      val b = Map.newBuilder[String, Double]
      if (node != null && node.isObject) {
        val it = node.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
        }
      }
      b.result()
    }
    try {
      committedBytes(path) match {
        case None => (Map.empty, Map.empty)
        case Some(bytes) =>
          val root =
            new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
          (numericFields(root.get("queries")), numericFields(root))
      }
    } catch { case _: Throwable => (Map.empty, Map.empty) }
  }

  /** A sample is an outlier against its committed calm value when it
    * exceeds 2× it plus a timer-noise floor (0.3 s — sub-second
    * queries jitter by scheduling quanta that are not contention).
    */
  private[graft] def isOutlier(sec: Double, committed: Double): Boolean =
    committed > 0 && sec > 2.0 * committed + 0.3

  /** The queries whose sweep-0 sample read as an outlier and whose
    * best sample no longer does: a raised flag that a later sweep of
    * the [[BenchExpect.pending]] loop cleared. A flag no sweep cleared
    * stays in `outliers`; a calm sweep 0 clears nothing.
    */
  private[graft] def requalified(names: Seq[String],
      committed: Map[String, Double], sweep0: String => Option[Double],
      best: String => Option[Double]): Seq[String] = {
    def flagged(n: String, v: Option[Double]) =
      v.exists(sec => committed.get(n).exists(isOutlier(sec, _)))
    names.filter(n => flagged(n, sweep0(n)) && !flagged(n, best(n)))
  }

  /** A throughput figure is suspect when it lands below TWO-THIRDS
    * of its committed calm value. Closes the blind spot the
    * hog-validation run exposed: a contention window can depress the
    * batch AND streaming envelope figures CONSISTENTLY — the pair
    * then agrees within band while both sit far below calm. The
    * threshold separates the observed populations: contention runs
    * measure 0.55-0.58× committed (the r9 driver artifact's 184.8k
    * vs 335.0k; the validation run's 161.8k vs 280.1k), while
    * calm-to-calm host variance stays ≥ 0.83× (280-335k envelope,
    * 17.5-20.3k snapshot across the r9/r10 calm runs).
    */
  private[graft] def isSlowFigure(value: Long, committed: Double): Boolean =
    committed > 0 && value > 0 && value * 3 < committed * 2

  /** The batch envelope figure's agreement band against the streaming
    * stateless figure. Same transform (EnvelopeTransform), same event
    * shape — the batch side reads sf parquet with zero micro-batch
    * overhead, the streaming side replays a warm in-memory fixture
    * through micro-batches, so calm runs put batch moderately ABOVE
    * streaming (committed r9: 335k vs 245k ev/s, ratio 1.37). Batch
    * below streaming/[[BatchLowSlack]] means the batch sample is
    * contention-corrupted (the r9 driver artifact: 184.8k batch vs
    * 246.9k streaming while the streaming pair itself passed its
    * enforced agreement); batch above streaming×[[BatchHighRatio]]
    * means the STREAMING side is the depressed one (its internal pair
    * shares a measurement path, so common-mode contention can pass
    * the internal check — the batch figure is the independent
    * witness). [[BatchHighRatio]] sizing: observed CALM ratios span
    * 1.02 (r11: 281.1k/274.4k) to 1.37 (r10: 334,989/245,700), so a
    * 1.5 band left only ~10% headroom over the calm maximum and
    * ordinary drift could stamp a false `agreed:false` on a
    * genuinely calm run; the observed CONTENTION signature (the
    * 16-hog validation run) sits at ≥1.65×. 1.6 is the gap between
    * the two populations — ~17% above the calm maximum, strictly
    * below the measured contention floor (an r11 cut used 1.7, which
    * would have stamped a 1.65-1.7× contention ratio as agreed).
    */
  private[graft] val BatchLowSlack = 1.25
  private[graft] val BatchHighRatio = 1.6

  private[graft] def batchStreamAgree(batch: Long, stream: Long): Boolean =
    batch > 0 && stream > 0 &&
      batch.toDouble * BatchLowSlack >= stream &&
      batch.toDouble <= stream.toDouble * BatchHighRatio

  /** One run's artifact: `bench_out.json` ([[line]]) and the trailing
    * stdout [[summary]]. Pure rendering of what the run measured.
    */
  private[graft] final case class Artifact(
      queries: Seq[(String, Double)], capped: Seq[String],
      outliers: Seq[(String, Double, Double)], requalified: Seq[String],
      slowFigures: Seq[(String, Long, Long)], sweeps: Int,
      stageBuildSec: Double, stageBuild: Seq[(String, Double)], staged: Seq[String],
      envelope: Long, batchStreamAgreed: Boolean,
      streamEnvelope: Long, streamEnvelopeRocks: Long, streamAgreed: Boolean,
      snapshot: Long, snapshotRocks: Long,
      cost: Seq[(String, Cost.Counters)], sf: String) {
    private def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    private def obj(kv: Seq[(String, Any)]) =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    /** Failed queries (-1) count nothing. */
    def total: Double = queries.map(_._2).filter(_ >= 0).sum

    def line: String = {
      val outs = outliers.map { case (n, v, c) =>
        s"""{"query":"$n","sec":$v,"committed":$c}""" }.mkString("[", ",", "]")
      val slow = slowFigures.map { case (f, v, c) =>
        s"""{"figure":"$f","value":$v,"committed":$c}""" }.mkString("[", ",", "]")
      val costs = obj(cost.map { case (n, c) => n -> c.json })
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(queries)},"capped":${arr(capped)},"outliers":$outs,"requalified":${arr(requalified)},"slow_figures":$slow,"sweeps":$sweeps,"stage_build_sec":$stageBuildSec,"stage_build":${obj(stageBuild)},"staged":${arr(staged)},"envelope_events_per_sec":$envelope,"batch_stream_envelope_agreed":$batchStreamAgreed,"streaming_envelope_events_per_sec":$streamEnvelope,"streaming_envelope_events_per_sec_rocksdb":$streamEnvelopeRocks,"streaming_envelope_agreed":$streamAgreed,"streaming_snapshot_events_per_sec":$snapshot,"streaming_snapshot_events_per_sec_rocksdb":$snapshotRocks,"cost":$costs,"sf":"$sf"}"""
    }

    /** The verdict flags (names only), printed LAST: a capture that
      * keeps only stdout's tail (BENCH_r10's started mid-artifact)
      * would otherwise lose the flags near the line's start.
      */
    def summary: String =
      s"""{"summary":{"total":$total,"sweeps":$sweeps,"capped":${arr(capped)},"outliers":${arr(outliers.map(_._1))},"requalified":${arr(requalified)},"slow_figures":${arr(slowFigures.map(_._1))},"batch_stream_envelope_agreed":$batchStreamAgreed,"streaming_envelope_agreed":$streamAgreed}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cost = Cost.attach(spark)

    val (committed, committedFigs) = committedBaseline()

    val maxCap = sys.env.getOrElse("SPARK_GRAFT_QUERY_CAP_SEC", "30").toLong
    def capSec(n: String): Long = BenchExpect.capSec(committed, n, maxCap)

    // Best UNCAPPED sample per query; capped samples only mark the
    // query as attempted (their recorded time is the cap — an upper
    // bound, not a timing — so they must never masquerade as measured).
    val best = collection.mutable.Map.empty[String, Double]
    val attempted = collection.mutable.Set.empty[String]
    val costs = collection.mutable.Map.empty[String, Cost.Counters]

    /** Seconds of an uncapped sample; None when capped or failed. */
    def run(name: String, capOverride: Long = 0L): Option[Double] = {
      // isolate queries: drop caches/broadcasts from earlier queries
      // so measurements don't depend on run order or GC debt
      spark.catalog.clearCache()
      val cap =
        if (capOverride > 0) capOverride else capSec(name)
      val group = s"bench-$name-${System.nanoTime()}"
      val sc = spark.sparkContext
      sc.setJobGroup(group, name, interruptOnCancel = true)
      val sample = try Drive.withWatchdog(cap)(sc.cancelJobGroup(group)) { capped =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          attempted += name
          if (sec < best.getOrElse(name, Double.MaxValue)) best(name) = sec
          Some(sec)
        } catch {
          case _: Throwable if capped() =>
            attempted += name
            System.err.println(s"[bench] $name capped at ${cap}s (contention)")
            None
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
        }
      } finally sc.clearJobGroup()
      val counters = cost.take(group).map(_.counters)
      if (sample.isDefined && !costs.contains(name)) counters.foreach(costs(name) = _)
      sample
    }

    // Warm the JVM/codegen once on the cheapest query so the first
    // measured number isn't dominated by classloading. Generous cap:
    // the tiered cap assumes a warm JVM, and a cold first query that
    // gets cancelled mid-flight would leave sweep 0 half-cold.
    run("p3_topic_route", capOverride = 120L)
    // Pre-stage the shared parquet indexes (StagedIndex writes happen
    // at query-construction time) so the one-time staging cost lands
    // here, not inside the first dedup/similarity query's measured
    // window — where it could exceed that query's cap and record a
    // spurious non-completion. The cost is NOT hidden: it is timed
    // and reported as stage_build_sec (with the staged index names)
    // in the output JSON, because the per-query numbers measure
    // scan-of-staged-parquet, not index derivation — the documented
    // compute-once-per-snapshot production pattern.
    val tStage = System.nanoTime()
    // per-query build seconds (construction alone triggers the
    // orStage builds), reported as stage_build so a cold-stage run
    // attributes its one-time derivation cost by name instead of
    // presenting one opaque total. A failed pre-stage records -1 for
    // that entry (the query itself will surface the error in-sweep).
    val stageBuild = collection.mutable.LinkedHashMap.empty[String, Double]
    def preStage(name: String): Unit = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
        stageBuild(name) = (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          stageBuild(name) = -1.0
          System.err.println(s"[bench] pre-stage $name failed: ${e.getMessage}")
      }
    }
    preStage("dd_minhash_lsh")
    preStage("sim_cosine_topk")
    preStage("sim_rrf_fusion") // lexical topk stage
    // ANN rank-list stages: multi-probe + the sweep legs (ivf
    // nprobe 1/2/4, lsh planes 4/6/8 + default)
    preStage("sim_multiprobe_recall")
    preStage("sim_nprobe_sweep")
    preStage("sim_planes_sweep")
    preStage("tx_boilerplate") // line index
    preStage("tx_filter_verdict") // staged gate-verdict table (r11)
    preStage("tx_quality_clf") // staged hashed-feature table (r11)
    preStage("mm_phash")
    preStage("tx_langid_ngram")
    preStage("tx_lm_score")
    preStage("graph_pagerank")
    preStage("pipe_mm_curate")
    preStage("dd_winnow")
    preStage("dd_agreement")
    preStage("tx_span_cut")
    preStage("mm_dedup")
    val stageBuildSec = (System.nanoTime() - tStage) / 1e9
    val stagedNames = graft.queries.StagedIndex.stagedNames(spark, sfDir)
    best.clear(); attempted.clear(); costs.clear()

    val names = SparkEntry.queries.keys.toSeq.sorted
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BUDGET_SEC", "450").toLong
    // Reserve a slice of the budget for the streaming-runtime
    // throughput measurements after the sweeps (envelope + snapshot,
    // each under the default AND RocksDB state-store providers). The
    // streaming block runs under its OWN wall-clock budget (below),
    // so the reserve is a target, not a hope: a stuck provider skips
    // remaining passes instead of running out the per-pass caps.
    val streamReserveSec = 150L
    val sweepBudget = math.max(60L, budgetSec - streamReserveSec)
    val tStart = System.nanoTime()
    def elapsedSec = (System.nanoTime() - tStart) / 1e9
    val maxSweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "99").toInt

    val sweep0 = collection.mutable.Map.empty[String, Double]
    var sweep = 0
    var lastSweepRan = true // a sweep that ran zero queries ends the loop
    def pending = BenchExpect.pending(names, committed, best.get)
    while (sweep == 0 ||
        (sweep < maxSweeps && lastSweepRan && elapsedSec < sweepBudget &&
          !(pending.isEmpty && sweep >= 3))) {
      val targets =
        if (sweep == 0) names.sortBy(BenchExpect(committed, _)) // cheapest-first
        else {
          val ts = { val p = pending; if (p.nonEmpty) p else names }
          // Different deterministic order each sweep: contention
          // bursts span minutes, so a fixed order lets one burst
          // shadow the same block of queries every sweep.
          ts.sortBy(n => scala.util.hashing.MurmurHash3.stringHash(s"$n#$sweep"))
        }
      var ran = 0
      for (n <- targets) {
        // sweep 0 must finish (every query needs >= 1 sample); later
        // sweeps skip a query when its cap no longer fits the budget
        if (sweep == 0 ||
            elapsedSec + capSec(n) <= sweepBudget) {
          val sec = run(n)
          if (sweep == 0) sec.foreach(sweep0(n) = _)
          ran += 1
        }
      }
      // When the remaining budget fits none of the pending queries'
      // caps, further sweeps would be empty spins up to maxSweeps —
      // stop so the reported sweep count means "sweeps that sampled".
      lastSweepRan = ran > 0
      sweep += 1
    }

    // The envelope measured on the actual streaming runtime (replay
    // source → EnvelopeTransform → noop streaming sink), under both
    // state-store providers; the envelope is stateless, so the pair
    // must agree (`streaming_envelope_agreed`). Plus the
    // state-store-BOUND figure: the StreamingSnapshot keyed upsert,
    // where RocksDB vs default heap is a real cost difference. The
    // whole block runs under a wall-clock budget = what remains of the
    // total (floor 90 s): passes skip when it exhausts. Every flag
    // below is computed once from the samples taken.
    val streamBudget = new BenchStreaming.WallBudget(
      math.max(90L, budgetSec - elapsedSec.toLong))
    val (streamEps, streamEpsRocks, streamAgreed) =
      BenchStreaming.envelopeFigurePair(spark, budget = streamBudget)
    // Reference-comparable headline: events/s through the CDC envelope
    // path (filter + envelope + routing — the reference's whole data
    // plane, `change_handler.py` + `change_event_handler.py`), derived
    // from the batch p1_cdc_envelope sample and checked against the
    // streaming stateless figure ([[batchStreamAgree]]).
    val nEvents = Tables.events(spark, sfDir).count()
    val eventsPerSec = best.get("p1_cdc_envelope").filter(_ > 0)
      .map(sec => (nEvents / sec).round).getOrElse(-1L)
    val snapEps = BenchStreaming.snapshotFigure(spark, None, streamBudget)
    val snapEpsRocks =
      BenchStreaming.snapshotFigure(spark, Some(Drive.RocksDb), streamBudget)

    val results = names.map { n =>
      n -> best.getOrElse(n, if (attempted(n)) capSec(n).toDouble else -1.0)
    }
    // Throughput figures below two-thirds of their committed calm
    // value ([[isSlowFigure]]): the agreement checks catch
    // INCONSISTENT contention; this catches the consistent kind,
    // where every figure is depressed together and the pairs agree.
    val slowFigures = Seq(
      "envelope_events_per_sec" -> eventsPerSec,
      "streaming_envelope_events_per_sec" -> streamEps,
      "streaming_envelope_events_per_sec_rocksdb" -> streamEpsRocks,
      "streaming_snapshot_events_per_sec" -> snapEps,
      "streaming_snapshot_events_per_sec_rocksdb" -> snapEpsRocks)
      .collect { case (f, v) if committedFigs.get(f).exists(isSlowFigure(v, _)) =>
        (f, v, committedFigs(f).round) }
    val artifact = Artifact(
      queries = results,
      // no uncapped sample in ANY sweep: never completed — a real
      // failure signal (regression/hang), not a timing
      capped = names.filter(n => attempted(n) && !best.contains(n)),
      // queries whose best sample exceeds ~2× their committed calm
      // value: a contended run names its own corrupted figures
      outliers = results.collect {
        case (n, v) if v > 0 && committed.get(n).exists(isOutlier(v, _)) =>
          (n, v, committed(n))
      },
      requalified = requalified(names, committed, sweep0.get, best.get),
      slowFigures = slowFigures,
      sweeps = sweep,
      stageBuildSec = stageBuildSec,
      stageBuild = stageBuild.toSeq,
      staged = stagedNames,
      envelope = eventsPerSec,
      batchStreamAgreed =
        batchStreamAgree(eventsPerSec, math.max(streamEps, streamEpsRocks)),
      streamEnvelope = streamEps,
      streamEnvelopeRocks = streamEpsRocks,
      streamAgreed = streamAgreed,
      snapshot = snapEps,
      snapshotRocks = snapEpsRocks,
      cost = names.flatMap(n => costs.get(n).map(n -> _)),
      sf = sfDir)
    println(artifact.line)
    // The driver captures stdout with `tail`, which can start
    // mid-artifact and truncate the per-query map. Persist the full
    // JSON in the repo too, so the committed snapshot is always
    // self-contained regardless of how the console capture slices it.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_out.json"),
        (artifact.line + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    println(artifact.summary)
    spark.stop()
  }
}
