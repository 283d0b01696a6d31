package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.cdc.{FileTokenStore, SavedToken}
import graft.functions.LegacyExtJson

/** One workload: its input shape and how the pipeline is driven. */
final case class Workload(
    name: String,
    shape: Shape,
    /** Spark task threads; the paced generator adds one thread. */
    cores: Int,
    legacy: Boolean,
    /** events per replay pass and micro-batch cap */
    passEvents: Int,
    maxRows: Int,
    /** batch caps of the `t = a + b n` fit */
    fitSizes: Seq[Int],
    paced: Boolean = false)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("drain_small", Shape.small, cores = 4, legacy = false,
      passEvents = 150000, maxRows = 50000, fitSizes = Seq(1000, 10000, 50000)),
    Workload("drain_legacy_large", Shape.legacyLarge, cores = 4, legacy = true,
      passEvents = 16000, maxRows = 4000, fitSizes = Seq(500, 2000, 8000)),
    Workload("paced_trickle", Shape.small.copy(namespaces = 8), cores = 3,
      legacy = false, passEvents = 60000, maxRows = 10000,
      fitSizes = Seq(500, 5000, 20000), paced = true))

  /** The paced rate ladder, as (events/s, share of the run), and its
    * latency limit. The first rung warms the pipeline up. The rates
    * stay well below the latency knee and the limit is ~5x the p99 seen
    * on a calm host, so the sustained rung repeats under contention.
    */
  def rungs(seconds: Double): Seq[RungSpec] =
    Seq(1000 -> 0.1, 4000 -> 0.45, 8000 -> 0.45).map { case (r, f) =>
      RungSpec(r, f * seconds)
    }
  val latencyLimitMs = 5000.0
  val priming = 200
  /** Whole blocks before the ladder (unmeasured) and after each judged
    * rung (capacity): fixed counts, so that a slow host does not leave
    * fewer samples. Spreading them over the run lets a stretch in which
    * the host is slow move only some of them.
    */
  val warmBlocks = 3
  val capacityBlocks = Seq(0, 4, 4)
  val blockEvents = 16000
  /** Latency windows per judged rung (see `pacedRun`). */
  val windows = 4
}

/** Command-line entry: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Prints one JSON result line on
  * standard output; everything else goes to standard error.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload.all.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val result = new Run(w, seed, seconds, traced, work).run()
    println(result)
  }
}

final class Run(w: Workload, seed: Long, seconds: Double, traced: Boolean, work: Path) {
  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  private val absent = mutable.LinkedHashMap.empty[String, String]

  private var attempted = 0L
  private var failed = 0L
  private var correct = true

  /** The correctness gate, run over several passes at once. */
  private def gate(ps: Seq[PassResult]): Seq[PassResult] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(ps)(p => Future(p.verify())),
      scala.concurrent.duration.Duration.Inf)
    ps.foreach { p =>
      attempted += p.events
      p.verdict.foreach { v =>
        failed += v.failed
        if (!v.ok) { correct = false; log(s"${p.name}: correctness gate failed: $v") }
      }
      if (!p.finalTokenOk) { correct = false; log(s"${p.name}: final token != last offset") }
    }
    ps
  }

  private def gate(p: PassResult): PassResult = gate(Seq(p)).head

  private def session(cores: Int): SparkSession = {
    val s = GraftSession.builder(cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.noDataProgressEventInterval", "3600000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(): String = {
    Files.createDirectories(work)
    // generate the input while the session starts
    val tGen = System.nanoTime()
    val gen = scala.concurrent.Future(new Generator(seed, w.shape, Bench.Prefix).fixture(
      if (w.paced) math.max(w.passEvents,
        Workload.priming + Workload.rungs(seconds).map(r => (r.eventsPerS * r.seconds).toInt).sum +
          (Workload.warmBlocks + Workload.capacityBlocks.sum) * Workload.blockEvents)
      else w.passEvents))(scala.concurrent.ExecutionContext.global)
    val spans = new SpanLog(traced)
    val bench = new Bench(session(w.cores), work, spans, w.cores)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"session in ${(System.nanoTime() - tGen) / 1e9}%.2f s")
    val fx = scala.concurrent.Await.result(gen, scala.concurrent.duration.Duration.Inf)
    log(f"${w.name}: ${fx.events.length} events, ${fx.dataEvents} data events, " +
      f"ready after ${(System.nanoTime() - tGen) / 1e9}%.2f s")
    val passes =
      if (w.paced) pacedRun(bench, fx) else drainRun(bench, fx)
    // process start to the first batch committed: JVM and session
    // start, fixture generation and conversion, first codegen
    put("setup_s", (passes.head.batches.head.commitMs - jvmStartMs) / 1e3, "s")
    metrics.get("token_lag_p99_ms").foreach { case (v, _) =>
      log(f"token_lag_p99_ms $v%.1f ms against the 30000 ms limit of BASELINE.md: " +
        (if (v <= 30000) "within" else "exceeded"))
    }
    if (traced) {
      put("setup.session_s", sessionS, "s")
      put("setup.query_to_first_commit_s", median(passes.map(_.setupS)), "s")
      layers(bench, fx, passes)
    }
    if (traced) spans.writeJson(work.getParent.resolve(
      s"trace-${w.name}-$seed.json"))
    bench.spark.stop()
    if (traced) {
      baseline(fx)
      if (!w.paced) Seq("paced.generator_late_ms_p99", "paced.backlog_events")
        .foreach(absent(_) = "a replayed drain has no generator")
      absent.foreach { case (k, why) => log(s"absent: $k ($why)") }
    }
    put("peak_rss_mb", peakRssMb, "MB")
    metrics.foreach { case (k, (v, u)) => log(f"$k%-40s $v%.4f $u") }
    json
  }

  private def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def median(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  // ---- drains ------------------------------------------------------

  private def drainRun(bench: Bench, fx: Fixture): Seq[PassResult] = {
    val expected = fx.expected.flatten
    def pass(): PassResult = {
      val p = bench.replay(fx.events, expected, w.maxRows, Rung.Full, w.legacy)
      log(f"${w.name} ${p.name}: ${p.warmEventsPerS}%.0f ev/s setup ${p.setupS}%.3f s " +
        p.batches.map(_.triggerMs).mkString("batches ms ", " ", ""))
      p
    }
    // the first pass pays class loading and codegen, and the JIT is
    // still speeding the second one up: neither is measured
    val warmup = Seq.fill(2)(pass())
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    // a traced run needs one measured pass; the end-to-end figures come
    // from untraced runs
    val minPasses = if (traced) 1 else 3
    while (passes.length < minPasses ||
      (!traced && (System.nanoTime() - t0) / 1e9 < seconds)) passes += pass()
    // verified after the timed passes, in parallel
    gate(warmup ++ passes)
    // warm batches: rows and key + value bytes over the time between
    // consecutive appends returning (nanosecond clock)
    val intervals = passes.flatMap(p => p.batches.sliding(2).collect {
      case Seq(a, b) if b.id >= 1 =>
        (b.rows, p.verdict.get.bytesByBatch.getOrElse(b.id, 0L),
          (p.appended(b.id) - p.appended(a.id)) / 1e9)
    })
    val warmS = intervals.map(_._3).sum
    put("events_per_s", intervals.map(_._1).sum / warmS, "1/s")
    put("out_mb_per_s", intervals.map(_._2).sum / 1e6 / warmS, "MB/s")
    // a backlog is available in full when its pass starts
    val lat = passes.map(p => p.deliveryMs(_ => p.startNs).toSeq)
    log(s"latency samples per pass: ${lat.map(_.size).mkString(", ")}")
    put("latency_p50_ms", median(lat.map(Stats.percentile(_, 50).get)), "ms")
    put("latency_p99_ms", median(lat.map(Stats.percentile(_, 99).get)), "ms")
    put("token_lag_p99_ms", median(passes.map(p =>
      Stats.percentile(p.tokenLagMs(_ => p.startNs).toSeq, 99).get)), "ms")
    // the whole backlog, set-up included, pooled over the measured passes
    put("sustained_events_per_s", passes.map(_.events).sum * 1e9 /
      passes.map(p => p.appended(p.batches.last.id) - p.startNs).sum, "1/s")
    warmup ++ passes
  }

  // ---- paced -------------------------------------------------------

  private def pacedRun(bench: Bench, fx: Fixture): Seq[PassResult] = {
    val paced = new Paced(bench, fx, Workload.priming)
    val probes = Seq.fill(2)(paced.probe())
    val (pass, rungs, capacity) = paced.ladder(Workload.rungs(seconds), Workload.latencyLimitMs,
      Workload.warmBlocks, Workload.capacityBlocks, Workload.blockEvents)
    gate(probes :+ pass)
    rungs.zipWithIndex.foreach { case (r, i) =>
      def pct(xs: Seq[Double], p: Double) = Stats.percentile(xs, p).getOrElse(Double.NaN)
      log(f"rung $i ${r.spec.eventsPerS}%.0f ev/s: p50 ${pct(r.latencies, 50)}%.1f " +
        f"p99 ${pct(r.latencies, 99)}%.1f ms, lag p99 ${pct(r.tokenLags, 99)}%.1f, " +
        f"backlog ${r.backlogEnd}, late p99 ${pct(r.lateness, 99)}%.2f ms, " +
        f"achieved ${r.achievedPerS}%.1f ev/s ${r.mbPerS}%.3f MB/s, passed ${r.passed}")
    }
    // the rungs after the warm-up are judged
    val judged = rungs.tail
    val sustained = judged.takeWhile(_.passed).lastOption.getOrElse {
      log("no judged rung met the latency limit; reporting the warm-up rung")
      rungs.head
    }
    def pooled(f: RungResult => Seq[Double], p: Double) = Stats.percentile(judged.flatMap(f), p).get
    // Each judged rung's samples, in due-time order, are cut into
    // `windows` stretches, and a latency figure is the median over the
    // stretches of their percentile. A pooled p99 over the ~30 batches
    // of a run is set by its single slowest batch: one disk or CPU
    // stall of the shared host decides it (IQR/median 0.43 over ten
    // seeds), and the median keeps that to the stretch it fell in.
    def windowed(f: RungResult => Seq[Double], p: Double) = median(judged.flatMap { r =>
      val xs = f(r)
      xs.grouped(math.max(1, math.ceil(xs.length / Workload.windows.toDouble).toInt))
        .map(w => Stats.percentile(w, p).get).toSeq
    })
    log(s"latency samples: ${judged.map(_.latencies.size).sum}")
    capacity.foreach(b => log(f"capacity block ${b.events} events in ${b.seconds}%.3f s: " +
      f"${b.eventsPerS}%.0f ev/s ${b.mbPerS}%.3f MB/s"))
    // throughput is the capacity of one batch of a whole block: the
    // ladder's rates are fixed by the generator
    put("events_per_s", median(capacity.map(_.eventsPerS)), "1/s")
    put("out_mb_per_s", median(capacity.map(_.mbPerS)), "MB/s")
    put("latency_p50_ms", windowed(_.latencies, 50), "ms")
    put("latency_p99_ms", windowed(_.latencies, 99), "ms")
    put("token_lag_p99_ms", windowed(_.tokenLags, 99), "ms")
    put("sustained_events_per_s", sustained.achievedPerS, "1/s")
    if (traced) {
      put("paced.generator_late_ms_p99", pooled(_.lateness, 99), "ms")
      put("paced.backlog_events", judged.map(_.backlogEnd).max.toDouble, "count")
    }
    probes :+ pass
  }

  // ---- per-layer (traced) ------------------------------------------

  private def layers(bench: Bench, fx: Fixture, passes: Seq[PassResult]): Unit = {
    val warm = passes.flatMap(_.batches.filter(_.id >= 1))
    def phase(k: String) = median(warm.map(_.durations.getOrElse(k, 0L).toDouble))
    put("sources.latest_offset_ms", phase("latestOffset"), "ms")
    put("sources.rows_per_batch", median(warm.map(_.rows.toDouble)), "count")
    put("engine.query_planning_ms", phase("queryPlanning"), "ms")
    put("engine.add_batch_ms", phase("addBatch"), "ms")
    put("engine.wal_commit_ms", phase("walCommit"), "ms")
    put("engine.commit_offsets_ms", phase("commitOffsets"), "ms")
    put("engine.trigger_self_ms", median(warm.map(b => (b.triggerMs -
      Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .map(b.durations.getOrElse(_, 0L)).sum).toDouble)), "ms")

    val names = passes.map(_.name).toSet
    val appends = bench.spans.all.filter(s => s.name == "sink.append" && names(s.query) && s.batch >= 1)
    put("sink.append_ms", median(appends.map(_.ms)), "ms")
    // addBatch self time: the part of addBatch outside FileTopicSink.append
    val appendMs = appends.map(s => (s.query, s.batch) -> s.ms).toMap
    put("engine.add_batch_self_ms", median(passes.flatMap(p => p.batches.filter(_.id >= 1)
      .flatMap(b => appendMs.get((p.name, b.id)).map(b.durations.getOrElse("addBatch", 0L) - _)))),
      "ms")
    val files = passes.flatMap(p => p.batches.filter(_.id >= 1).flatMap(b => p.files.get(b.id)))
    if (files.nonEmpty) put("sink.files_per_batch", median(files.map(_.toDouble)), "count")
    val verdicts = passes.flatMap(_.verdict)
    put("sink.bytes_per_event", verdicts.map(_.bytes).sum.toDouble /
      verdicts.map(_.written).sum, "B")

    val counters = passes.flatMap(p => bench.tasks.of(p.queryId).filter(_._1 >= 1).values)
    val rows = warm.map(_.rows).sum.toDouble
    put("envelope.shuffle_bytes_per_event", counters.map(_.shuffleBytes).sum / rows, "B")
    val skews = counters.filter(_.reduceRecords.exists(_ > 0)).map { a =>
      a.reduceRecords.max.toDouble / (a.reduceRecords.sum.toDouble / a.reduceRecords.length)
    }
    if (skews.nonEmpty) put("envelope.partition_skew", median(skews), "ratio")
    else absent("envelope.partition_skew") = "no reduce-side records were recorded"
    put("jvm.gc_ms_per_batch", median(counters.map(_.gcMs.toDouble)), "ms")

    // token saves of the pipeline: delay after commit, failures
    val delays = passes.flatMap { p =>
      p.tokens.toSeq.flatMap(_.covered).flatMap { case (off, s) =>
        p.batches.find(_.endOffset.contains(off)).map(b => (s.startMs - b.commitMs).toDouble)
      }
    }
    put("token_store.listener_delay_ms", median(delays), "ms")
    put("token_store.failures",
      passes.flatMap(_.tokens.toSeq.flatMap(_.saves.asScala.filter(_.failed))).size.toDouble,
      "count")
    tokenSaves()
    convertNsPerByte(fx)
    ladder(bench, fx)
    fit(bench, fx)
  }

  /** `FileTokenStore.save` called directly: enough saves for a p99. */
  private def tokenSaves(): Unit = {
    val dir = work.resolve("token-loop")
    val store = new TimedTokenStore(new FileTokenStore(dir.toString))
    (0 until 1200).foreach(i => store.save(SavedToken("bench-reader", s"[$i]",
      new java.sql.Timestamp(System.currentTimeMillis()))))
    val ms = store.saves.asScala.toSeq.drop(200).map(s => (s.endNs - s.startNs) / 1e6)
    put("token_store.save_ms_p50", Stats.percentile(ms, 50).get, "ms")
    put("token_store.save_ms_p99", Stats.percentile(ms, 99).get, "ms")
    Bench.delete(dir)
  }

  /** `LegacyExtJson.convert` on this workload's documents, one thread. */
  private def convertNsPerByte(fx: Fixture): Unit = {
    var budget = 4L << 20
    val docs = fx.sourceDocs.takeWhile { d => budget -= d.length; budget > 0 }.toArray
    val bytes = docs.map(_.getBytes("UTF-8").length.toLong).sum
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      var sink = 0
      docs.foreach(d => sink += LegacyExtJson.convert(d).length)
      require(sink > 0)
      (System.nanoTime() - t0).toDouble
    }
    put("legacy_ext_json.convert_ns_per_byte", times.min / bytes, "ns/B")
  }

  /** The ablation ladder: each rung one replay pass, noop sink below
    * the file sink. Costs are differences of microseconds per event.
    */
  private def ladder(bench: Bench, fx: Fixture): Unit = {
    val n = math.min(fx.events.length, w.maxRows * 2)
    val rows = fx.events.take(n)
    val expected = fx.expected.take(n).flatten
    val us = Seq(Rung.Source, Rung.Filter, Rung.Envelope, Rung.Codec, Rung.Repartition,
      Rung.FileSink, Rung.Full).map { r =>
      val p = gate(bench.replay(rows, expected, w.maxRows, r, w.legacy))
      log(f"ladder ${r.label}%-12s ${p.warmEventsPerS}%.0f ev/s")
      r -> 1e6 / p.warmEventsPerS
    }.toMap
    val transformed = if (w.legacy) us(Rung.Codec) else us(Rung.Envelope)
    put("envelope.filter_us_per_event", us(Rung.Filter) - us(Rung.Source), "us")
    put("envelope.project_us_per_event", us(Rung.Envelope) - us(Rung.Filter), "us")
    put("legacy_ext_json.us_per_event", us(Rung.Codec) - us(Rung.Envelope), "us")
    put("envelope.repartition_us_per_event", us(Rung.Repartition) - transformed, "us")
    put("sink.us_per_event", us(Rung.FileSink) - us(Rung.Repartition), "us")
    put("token_store.ms_per_batch",
      (us(Rung.Full) - us(Rung.FileSink)) * w.maxRows / 1e3, "ms")
    // tracing overhead: the untraced figure of the same pipeline
    bench.tracing(false)
    val untraced = gate(bench.replay(rows, expected, w.maxRows, Rung.Full, w.legacy))
    bench.tracing(true)
    put("trace.overhead_pct", (us(Rung.Full) * untraced.warmEventsPerS / 1e6 - 1) * 100, "%")
  }

  /** `t_batch = a + b n` over full batches at three batch caps. */
  private def fit(bench: Bench, fx: Fixture): Unit = {
    val points = w.fitSizes.flatMap { cap =>
      val n = math.min(fx.events.length, cap * 3)
      val p = gate(bench.replay(fx.events.take(n), fx.expected.take(n).flatten, cap,
        Rung.Full, w.legacy))
      p.batches.filter(b => b.id >= 1 && b.rows == cap).map(b => (cap.toDouble, b.triggerMs.toDouble))
    }
    val (a, b) = Stats.fit(points)
    put("engine.fixed_ms_per_batch", a, "ms")
    put("engine.us_per_event", b * 1e3, "us")
  }

  /** The same pipeline with one task thread. */
  private def baseline(fx: Fixture): Unit = {
    val bench = new Bench(session(1), work, new SpanLog(false), 1)
    try {
      val n = math.min(fx.events.length, w.maxRows * 2)
      val p = gate(bench.replay(fx.events.take(n), fx.expected.take(n).flatten, w.maxRows,
        Rung.Full, w.legacy))
      put("engine.local1_events_per_s", p.warmEventsPerS, "1/s")
    } finally bench.spark.stop()
  }
}
