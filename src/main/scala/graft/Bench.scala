package graft

import org.apache.spark.sql.SparkSession

/** Per-query expected seconds: the committed calm bench artifact's
  * value ([[Bench.committedQueryTimes]]); a name the artifact lacks
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
  *  - the reported number is the per-query min over uncapped samples.
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
    * `requalified` non-empty means the run WAS contended and its
    * flagged queries converged only to within 2× of the previous
    * baseline — treating such an artifact as the calm baseline would
    * let thresholds compound ×2 per generation; pre-r12 artifacts
    * lack the field and are unaffected.
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

  /** Per-query values from the committed `bench_out.json` (the
    * previous round's final calm run, via [[committedBytes]] — git
    * HEAD first, never this run's own working-tree output). Feeds the
    * `outliers` self-description: a query whose sample exceeds ~2× its
    * committed calm value is flagged in the artifact, so a contended
    * run is machine-readably suspect instead of demanding a human diff
    * against the committed file (the r7-r9 ritual). Empty map when no
    * baseline is readable — first run on a fresh checkout flags
    * nothing.
    */
  private[graft] def committedQueryTimes(
      path: String = "bench_out.json"): Map[String, Double] =
    committedBaseline(path)._1

  /** Top-level numeric fields of the committed artifact (the
    * throughput figures) — the [[committedQueryTimes]] companion.
    */
  private[graft] def committedFigures(
      path: String = "bench_out.json"): Map[String, Double] =
    committedBaseline(path)._2

  /** Both committed maps — per-query seconds and top-level figures —
    * from ONE [[committedBytes]] read (a `git log` plus up to
    * [[CalmWalkDepth]] `git show`s) and one parse. Both are empty when
    * no baseline is readable.
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

  /** Extra best-of-N passes a provisionally-flagged outlier gets
    * before the artifact emits ([[requalify]]).
    */
  private[graft] val RequalPasses = 3

  /** Wall seconds per slow-figure requalification round (the
    * streaming-side re-measures run under a fresh WallBudget of this
    * size; ≤ 2 rounds, so the extra spend is bounded at ~2× this).
    */
  private[graft] val FigureRequalBudgetSec = 120L

  /** Requalification of provisional outliers (r12, after r11 verdict
    * #1): every driver bench capture to date ran CONTENDED and flagged
    * 8-9 outliers that a later calm run cleared — each one costing the
    * next round a manual calm-confirm ritual. So after the normal
    * sweeps, each query whose best sample still reads as an outlier
    * gets up to `passes` extra samples (`sample` min-merges into the
    * caller's best-tracking; `current` reads it back), stopping early
    * the moment a calm-consistent sample lands. Returns the REQUALIFIED
    * subset — queries the extra passes cleared; the survivors stay in
    * `outliers`. A transient burst between sweeps clears here; a
    * sustained contention window still names itself, because the extra
    * passes are exactly as contended as the sweeps were. Wall bound by
    * construction: ≤ passes × the query's tiered watchdog cap per
    * flagged query (outlier count × O(committed calm) — never the
    * whole budget), and a calm run spends ZERO extra samples (empty
    * provisional set). Modeled on the envelope pair's
    * re-measure-on-disagreement loop.
    */
  private[graft] def requalify(provisional: Seq[String],
      committed: Map[String, Double],
      current: String => Option[Double],
      sample: String => Unit,
      passes: Int = RequalPasses): Seq[String] =
    provisional.filter { n =>
      def still = current(n).exists(v => isOutlier(v, committed(n)))
      var p = 0
      while (p < passes && still) { sample(n); p += 1 }
      !still
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
    * ordinary drift could trip the disagreement loop, burn up to 3
    * streaming re-measures, and stamp a false `agreed:false` on a
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (committed, committedFigs) = committedBaseline()

    val maxCap = sys.env.getOrElse("SPARK_GRAFT_QUERY_CAP_SEC", "30").toLong
    def capSec(n: String): Long = BenchExpect.capSec(committed, n, maxCap)

    // Best UNCAPPED sample per query; capped samples only mark the
    // query as attempted (their recorded time is the cap — an upper
    // bound, not a timing — so they must never masquerade as measured).
    val best = collection.mutable.Map.empty[String, Double]
    val attempted = collection.mutable.Set.empty[String]

    def run(name: String, capOverride: Long = 0L): Unit = {
      // isolate queries: drop caches/broadcasts from earlier queries
      // so measurements don't depend on run order or GC debt
      spark.catalog.clearCache()
      val cap =
        if (capOverride > 0) capOverride else capSec(name)
      val group = s"bench-$name-${System.nanoTime()}"
      val sc = spark.sparkContext
      sc.setJobGroup(group, name, interruptOnCancel = true)
      try Drive.withWatchdog(cap)(sc.cancelJobGroup(group)) { capped =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          val sec = (System.nanoTime() - t0) / 1e9
          attempted += name
          if (sec < best.getOrElse(name, Double.MaxValue)) best(name) = sec
        } catch {
          case _: Throwable if capped() =>
            attempted += name
            System.err.println(s"[bench] $name capped at ${cap}s (contention)")
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      } finally sc.clearJobGroup()
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
    best.clear(); attempted.clear()

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
          run(n); ran += 1
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
    // state-store providers. The envelope is stateless, so the two
    // must agree — ENFORCED by envelopeFigurePair (the lower side
    // re-measures on >1.5× disagreement; the r8 artifact shipped a
    // contention-corrupted 82k sample because the invariant was only
    // reported, not acted on). Plus the state-store-BOUND figure: the
    // StreamingSnapshot keyed upsert, where RocksDB vs default heap
    // is a real cost difference. The whole block runs under a
    // wall-clock budget = what remains of the total (floor 90 s):
    // passes skip when it exhausts.
    val streamBudget = new BenchStreaming.WallBudget(
      math.max(90L, budgetSec - elapsedSec.toLong))
    var (streamEps, streamEpsRocks, streamAgreed) =
      BenchStreaming.envelopeFigurePair(spark, budget = streamBudget)
    // Reference-comparable headline: events/s through the CDC envelope
    // path (filter + envelope + routing — the reference's whole data
    // plane, `change_handler.py` + `change_event_handler.py`), derived
    // from the batch p1_cdc_envelope sample. Paired with the streaming
    // stateless figure under the same re-measure-on-disagreement
    // discipline the streaming pair gets ([[batchStreamAgree]]): the
    // r9 driver artifact shipped a 184.8k batch figure against a
    // 246.9k pair-verified streaming figure — the batch side had no
    // retry path, so ONE contended p1 sample became the headline.
    // Re-measuring p1 costs ~0.5 s calm; re-measuring the streaming
    // side re-runs the (still pair-enforced) envelopeFigurePair. Both
    // re-measures below, and the slow-figure rounds after them, go
    // through these two helpers.
    val nEvents = Tables.events(spark, sfDir).count()
    def batchEnvelopeEps: Long =
      best.get("p1_cdc_envelope").filter(_ > 0)
        .map(sec => (nEvents / sec).round).getOrElse(-1L)
    var eventsPerSec = batchEnvelopeEps
    def remeasureBatchEnvelope(): Unit = {
      run("p1_cdc_envelope") // min-tracked: only a calmer sample lands
      eventsPerSec = batchEnvelopeEps
    }
    def remeasureStreamEnvelope(budget: BenchStreaming.WallBudget): Unit = {
      val (d2, r2, a2) = BenchStreaming.envelopeFigurePair(spark, budget = budget)
      streamEps = math.max(streamEps, d2)
      streamEpsRocks = math.max(streamEpsRocks, r2)
      streamAgreed = streamAgreed || a2
    }
    def streamRef = math.max(streamEps, streamEpsRocks)
    var envRetries = 0
    while (envRetries < 3 && !streamBudget.exhausted &&
        !batchStreamAgree(eventsPerSec, streamRef)) {
      System.err.println(s"[bench] batch vs streaming envelope disagree " +
        s"($eventsPerSec vs $streamRef ev/s) — re-measuring the suspect side")
      if (eventsPerSec <= 0 || eventsPerSec * BatchLowSlack < streamRef)
        remeasureBatchEnvelope()
      else remeasureStreamEnvelope(streamBudget)
      envRetries += 1
    }
    if (!batchStreamAgree(eventsPerSec, streamRef))
      System.err.println(s"[bench] batch vs streaming envelope STILL " +
        s"disagree after $envRetries re-measures ($eventsPerSec vs " +
        s"$streamRef ev/s) — sustained contention window; treat the " +
        "lower figure as corrupted")
    var snapEps =
      BenchStreaming.snapshotEventsPerSecDefault(spark, streamBudget)
    var snapEpsRocks =
      BenchStreaming.snapshotEventsPerSecRocksDb(spark, streamBudget)

    // Requalification ([[requalify]]): re-measure ONLY the queries
    // whose best sample still reads as an outlier, min-merging into
    // `best`, and record the cleared names as `requalified` so a
    // cleared flag stays visible in the artifact. Runs LAST (after
    // the streaming block) so it never eats the streaming reserve; a
    // calm run has an empty provisional set and spends nothing here.
    val provisionalOutliers = names.filter(n =>
      best.get(n).exists(v => committed.get(n).exists(isOutlier(v, _))))
    if (provisionalOutliers.nonEmpty)
      System.err.println(s"[bench] ${provisionalOutliers.size} provisional " +
        s"outlier(s): ${provisionalOutliers.mkString(", ")} — up to " +
        s"$RequalPasses extra passes each")
    val requalifiedNames =
      requalify(provisionalOutliers, committed, best.get, n => run(n))

    // Slow-FIGURE requalification — the figure-level twin of the
    // query pass above. A contention window during the streaming
    // block leaves depressed-but-internally-consistent throughput
    // figures the pair/agreement checks cannot catch (both sides sink
    // together), and the r12 transient-hog validation showed exactly
    // that hole: every flagged QUERY converged once the host calmed,
    // while the streaming envelope figure kept its contention-window
    // sample and stayed in `slow_figures`. So each figure still below
    // 2/3 of its committed calm value gets its SOURCE re-measured
    // under a bounded fresh budget ([[FigureRequalBudgetSec]] wall
    // per round, ≤ 2 rounds), max-merged — figures are throughput,
    // so the best observed rate is the honest report, symmetric with
    // the per-query min. A calm run has no slow figures and spends
    // nothing here; sustained contention still names itself because
    // the re-measure is exactly as contended as the first pass.
    def slowFigureEntries: Seq[(String, Long)] = Seq(
      "envelope_events_per_sec" -> eventsPerSec,
      "streaming_envelope_events_per_sec" -> streamEps,
      "streaming_envelope_events_per_sec_rocksdb" -> streamEpsRocks,
      "streaming_snapshot_events_per_sec" -> snapEps,
      "streaming_snapshot_events_per_sec_rocksdb" -> snapEpsRocks)
      .filter { case (f, v) => committedFigs.get(f).exists(isSlowFigure(v, _)) }
    def slowFigNames = slowFigureEntries.map(_._1)
    var figRounds = 0
    while (figRounds < 2 && slowFigNames.nonEmpty) {
      val slow = slowFigNames
      System.err.println(s"[bench] figure(s) below 2/3 committed calm: " +
        s"${slow.mkString(", ")} — re-measuring their sources")
      val figBudget = new BenchStreaming.WallBudget(FigureRequalBudgetSec)
      if (slow.contains("envelope_events_per_sec")) remeasureBatchEnvelope()
      if (slow.exists(_.startsWith("streaming_envelope")))
        remeasureStreamEnvelope(figBudget)
      if (slow.contains("streaming_snapshot_events_per_sec"))
        snapEps = math.max(snapEps,
          BenchStreaming.snapshotEventsPerSecDefault(spark, figBudget))
      if (slow.contains("streaming_snapshot_events_per_sec_rocksdb"))
        snapEpsRocks = math.max(snapEpsRocks,
          BenchStreaming.snapshotEventsPerSecRocksDb(spark, figBudget))
      figRounds += 1
    }
    // the agreement stamp must reflect the figures the artifact
    // actually reports, including any requalified envelope samples
    val batchStreamAgreedFinal = batchStreamAgree(eventsPerSec, streamRef)

    // results AFTER the envelope pairing loop and requalification: a
    // re-measure that found a calmer sample must be the one reported
    val results = names.map { n =>
      n -> best.getOrElse(n, if (attempted(n)) capSec(n).toDouble else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // A query with no uncapped sample in ANY sweep never completed —
    // a real failure signal (regression/hang), not a timing.
    val cappedFinal = names.filter(n => attempted(n) && !best.contains(n))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // Machine-readable contention self-description: queries whose
    // best sample this run exceeds ~2× their committed calm value.
    // A calm run emits []; a contended run names its own corrupted
    // figures, the way `sweeps`/`capped` already made a run
    // discardable as a whole.
    val outlierEntries = results.collect {
      case (n, v) if v > 0 && committed.get(n).exists(isOutlier(v, _)) =>
        (n, v)
    }
    val outliers = outlierEntries
      .map { case (n, v) =>
        s"""{"query":"$n","sec":$v,"committed":${committed(n)}}"""
      }
      .mkString("[", ",", "]")
    // Provisionally-flagged queries whose requalification passes found
    // a calm-consistent sample — visible so a cleared flag is still a
    // recorded event, not silence.
    val requalified = requalifiedNames
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Throughput figures below two-thirds of their committed calm
    // value ([[isSlowFigure]]): the pair/agreement checks catch
    // INCONSISTENT contention; this catches the consistent kind,
    // where every figure is depressed together and the pairs agree
    // anyway. Evaluated on the POST-requalification figures.
    val slowFigureFinal = slowFigureEntries
    val slowFigures = slowFigureFinal.map { case (f, v) =>
      s"""{"figure":"$f","value":$v,"committed":${committedFigs(f).round}}"""
    }.mkString("[", ",", "]")
    val stagedJson = stagedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stageBuildJson = stageBuild
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"capped":$cappedFinal,"outliers":$outliers,"requalified":$requalified,"slow_figures":$slowFigures,"sweeps":$sweep,"stage_build_sec":$stageBuildSec,"stage_build":$stageBuildJson,"staged":$stagedJson,"envelope_events_per_sec":$eventsPerSec,"batch_stream_envelope_agreed":$batchStreamAgreedFinal,"streaming_envelope_events_per_sec":$streamEps,"streaming_envelope_events_per_sec_rocksdb":$streamEpsRocks,"streaming_envelope_agreed":$streamAgreed,"streaming_snapshot_events_per_sec":$snapEps,"streaming_snapshot_events_per_sec_rocksdb":$snapEpsRocks,"sf":"$sfDir"}"""
    println(line)
    // The driver captures stdout with `tail`, which can start
    // mid-artifact and truncate the per-query map. Persist the full
    // JSON in the repo too, so the committed snapshot is always
    // self-contained regardless of how the console capture slices it.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_out.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    // Trailing one-line summary, printed LAST: the driver's stdout
    // capture keeps the tail, and BENCH_r10's tail started mid-artifact
    // — cutting off `outliers`/`slow_figures`, which appear early in
    // the full line. Repeating the verdict-relevant flags (names only)
    // at the very end makes them survive any tail slice.
    val outlierNames =
      outlierEntries.map(e => "\"" + e._1 + "\"").mkString("[", ",", "]")
    val slowFigureNames =
      slowFigureFinal.map(e => "\"" + e._1 + "\"").mkString("[", ",", "]")
    println(s"""{"summary":{"total":$total,"sweeps":$sweep,"capped":$cappedFinal,"outliers":$outlierNames,"requalified":$requalified,"slow_figures":$slowFigureNames,"batch_stream_envelope_agreed":$batchStreamAgreedFinal,"streaming_envelope_agreed":$streamAgreed}}""")
    spark.stop()
  }
}
