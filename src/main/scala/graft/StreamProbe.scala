package graft

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.streaming.{StreamingAsofState, StreamingDeltaAgg,
  StreamingNearDup, StreamingPack, StreamingScd2, StreamingSemDedup}

/** Throughput probes for the stateful streaming twins a 100-TB ingest
  * would gate on — the MinHash near-dup matcher, the embedding
  * SemDedup matcher, and the token packer — measured on the actual
  * flatMapGroupsWithState runtime under BOTH state-store providers
  * (default heap, RocksDB), on the [[Drive]] core: every workload
  * carries planted work (duplicate docs / duplicate vectors / every
  * doc places), the probe counts the emissions in-run, and a pass
  * whose expected output did not happen is REFUSED rather than
  * reported (the class of bogus number a silently-skipped drive loop
  * once produced — see PLANS.md r9).
  *
  * `runMain graft.StreamProbe [op] [nEvents]` where op ∈
  * `neardup | semdedup | pack | heavyhitters | crossdedup | lateness |
  * novelty | scd2 | asofstate | deltaagg | funnel | retention | anomaly |
  * growth | sourcecap | gapdetect | sample | sessions | committracker |
  * qualityclf | dsir | structclf | evtumble | evslide | evdedup |
  * evjoin | evouterjoin | evenrich | all` (default all). Batches are
  * pre-built outside the timed window; the first batch is warm-up;
  * best of 3 passes per provider is reported. `lateness` is one
  * default-provider figure; its historical figure was taken at
  * nEvents = 300000.
  *
  * Bucket TTLs are disabled here (`bucketTtl = None`): with a
  * processing-time timeout the engine schedules timeout-check
  * batches continuously and `processAllAvailable` never quiesces, so
  * a timed drive loop can't use them. The TTL path is behavior, not
  * throughput — its eviction semantics are spec-pinned
  * (StreamingNearDupSpec / StreamingSemDedupSpec); state size here
  * is bounded by the probe's key space instead.
  */
object StreamProbe {

  /** Drive `pipeline` over pre-built batches through MemoryStream →
    * foreachBatch (the first batch is an untimed warm-up), best of 3
    * passes under `provider`; a pass whose output count fails
    * `selfCheck` refuses the run.
    */
  private def measure[I <: Product : Encoder, O](spark: SparkSession,
      name: String, provider: Option[String],
      batches: IndexedSeq[IndexedSeq[I]],
      pipeline: Dataset[I] => Dataset[O],
      selfCheck: Long => Boolean): Long = Drive.withProvider(spark, provider) {
    val label = provider.map(_ => "rocksdb").getOrElse("default")
    Drive.bestOf(s"$name/$label", selfCheck) { pass =>
      val out = new java.util.concurrent.atomic.AtomicLong
      val fed = Drive.feed(spark, pipeline,
        (w: DataStreamWriter[O]) => w.outputMode("append")
          .foreachBatch { (b: Dataset[O], _: Long) =>
            out.addAndGet(b.count()); ()
          },
        Iterator(batches.head), batches.tail)
      println(f"[stream-probe] $name provider=$label pass ${pass + 1}: " +
        f"${fed.rate} ev/s (out=${out.get})")
      Drive.Pass(fed.rate, out.get)
    }
  }

  /** splitmix64 finalizer — the generators below need NONLINEAR word
    * and coordinate hashes: a linear grid like `(i*A + w*B) mod P`
    * makes doc i's word sequence a SHIFT of doc j's whenever
    * (i-j)*A ≡ k*B, so shingles collide en masse across unrelated
    * docs (a first cut of this probe emitted 7.2M pairs from 100k
    * docs and measured emission cost, not matcher throughput).
    */
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** ~30-word texts from a doc-indexed vocabulary; every 10th doc is
    * an EXACT duplicate of the doc 9 before it — same signature, same
    * band keys, guaranteed pair emission (agree = K). Non-dup docs
    * are pairwise shingle-disjoint w.h.p. (mix() words), so expected
    * emissions ≈ the planted n/10 pairs.
    */
  private def nearDupBatches(n: Int,
      batches: Int): IndexedSeq[IndexedSeq[StreamingNearDup.Doc]] = {
    def text(i: Long): String =
      (0 until 30).map(w =>
        s"w${math.floorMod(mix(i * 64 + w), 1000003L)}").mkString(" ")
    Drive.grid(n, batches) { (_, _, i) =>
      StreamingNearDup.Doc(i, if (i % 10 == 9) text(i - 9) else text(i))
    }
  }

  /** dim-64 vectors keyed by index; every 10th is an exact copy of
    * the vector 9 before it (cos = 1 ≥ threshold in its bucket).
    */
  private def semDedupBatches(n: Int, batches: Int,
      dim: Int): IndexedSeq[IndexedSeq[StreamingSemDedup.Vec]] = {
    def vec(i: Long): Array[Float] =
      Array.tabulate(dim)(p =>
        (math.floorMod(mix(i * 64 + p), 2000L) - 1000L).toFloat / 1000f)
    Drive.grid(n, batches) { (_, _, i) =>
      StreamingSemDedup.Vec(i, if (i % 10 == 9) vec(i - 9) else vec(i))
    }
  }

  /** Zipf-ish term stream: rank r = mix(i) mod 1000, term = "t" + r
    * with heavy mass on low ranks via a second mod — the workload a
    * Misra-Gries summary exists for; every batch touches every
    * bucket, so summaries flow continuously.
    */
  private def heavyHitterBatches(n: Int,
      batches: Int): IndexedSeq[IndexedSeq[graft.streaming.StreamingHeavyHitters.Term]] = {
    Drive.grid(n, batches) { (_, _, i) =>
      val u = math.floorMod(mix(i), 1000000L)
      // ~50% of mass on 8 hot terms, the rest spread over 10k
      val term = if (u < 500000L) s"hot${u % 8}"
      else s"t${math.floorMod(mix(u), 10000L)}"
      graft.streaming.StreamingHeavyHitters.Term(term)
    }
  }

  /** Per-doc gram arrays over 64 shards (keeps each shard's bloom
    * filter under ~40% fill at n=100k so fresh docs stay verifiably
    * novel); every 10th doc repeats the grams of an ORIGINAL doc one
    * batch EARLIER (same shard by construction), so the original's
    * filter bits are committed state before the twin arrives —
    * flatMapGroupsWithState guarantees nothing about within-group
    * iterator order, so a same-batch plant would rest on an ordering
    * accident and an order change would abort the whole run (ADVICE
    * r10). The warm-up batch plants no duplicates; the probe pipeline
    * filters to LOW-novelty verdicts and requires at least the
    * planted count from the later batches.
    */
  private def noveltyBatches(n: Int,
      batches: Int): IndexedSeq[IndexedSeq[graft.streaming.StreamingNovelty.Doc]] = {
    val perBatch = math.max(1, n / batches)
    def grams(i: Long): Array[Long] =
      Array.tabulate(20)(g => mix(i * 32 + g))
    Drive.grid(n, batches) { (b, j, i) =>
      // j%10==9 → copy the doc at in-batch index j-9 one batch back.
      // The replay condition is on the IN-BATCH index (j, not i):
      // the source's in-batch index is j-9 ≡ 0 (mod 10), so the
      // source doc carried its OWN grams at ANY perBatch — the i%10
      // spelling held only when perBatch was a multiple of 10, and
      // at tiny perBatch it could even derive a negative src whose
      // original never existed (ADVICE r11). j%10==9 implies j ≥ 9,
      // so src ≥ (b-1)·perBatch ≥ 0 whenever b > 0.
      val src = if (j % 10 == 9 && b > 0) i - perBatch - 9 else i
      graft.streaming.StreamingNovelty.Doc(i, s"s${src % 64}", grams(src))
    }
  }

  /** One event per key per batch over K = n/batches keys (eventId =
    * the global position, the stream's total order), for the CDC
    * materialization trio. Every 10th key's arrivals from batch 1 on
    * REPLAY the key's batch-0 event verbatim — the resume-token
    * redelivery path must move nothing at rate, not just in the spec
    * — and every 4th key alternates delete/re-create so tombstone
    * handling is in the measured path. Emissions are exact
    * arithmetic per operator (see the call sites).
    */
  private def cdcChangeBatches[A](n: Int, batches: Int)(
      mk: (Long, Long, String, Long) => A): IndexedSeq[IndexedSeq[A]] = {
    Drive.grid(n, batches) { (b, j, i) =>
      if (j % 10 == 9 && b > 0)
        mk(j.toLong, j.toLong, "u", j.toLong) // replay batch-0 event
      else {
        val opv = if (j % 4 == 3 && b % 2 == 1) "d" else "u"
        mk(j.toLong, i, opv, i)
      }
    }
  }

  /** Purchases ("c", odd keys) interleaved with state changes ("u",
    * even keys), one event per user per batch; every 10th user
    * replays their batch-0 purchase from batch 1 on. Each FRESH
    * purchase enriches exactly once; redeliveries enrich nothing.
    */
  private def asofBatches(n: Int,
      batches: Int): IndexedSeq[IndexedSeq[StreamingAsofState.Ev]] = {
    Drive.grid(n, batches) { (b, j, i) =>
      if (j % 10 == 9 && b > 0)
        StreamingAsofState.Ev(j.toLong, j.toLong, "c", j.toLong)
      else
        StreamingAsofState.Ev(i, j.toLong,
          if (j % 2 == 1) "c" else "u", i)
    }
  }

  /** Funnel journeys: every user signs up (batch 0), clicks
    * (batch 1), purchases (batch 2) — one stage-advance emission
    * each — then batches 3..9 REPLAY the user's purchase event
    * verbatim (post-conversion traffic the operator must no-op
    * cheaply, and the t-based advance() makes the replay a strict
    * no-emission; most real traffic does not advance a funnel).
    */
  private def funnelBatches(n: Int, batches: Int)
      : IndexedSeq[IndexedSeq[graft.streaming.StreamingFunnel.Ev]] = {
    Drive.grid(n, batches) { (b, j, _) =>
      val t0 = j.toLong * 1000L
      b match {
        case 0 => graft.streaming.StreamingFunnel.Ev(j.toLong, "signup", t0)
        case 1 => graft.streaming.StreamingFunnel.Ev(j.toLong, "click", t0 + 1000L)
        case _ => graft.streaming.StreamingFunnel.Ev(j.toLong, "purchase", t0 + 2000L)
      }
    }
  }

  /** Retention journeys: signup on the user's cohort day (batch 0,
    * one credit at offset 0), then one activity event per day —
    * batch b lands exactly on offset b, crediting once while
    * b ≤ maxOffset (7) and falling off the tracked window after,
    * so batches 8-9 exercise the no-credit path at rate.
    */
  private def retentionBatches(n: Int, batches: Int)
      : IndexedSeq[IndexedSeq[graft.streaming.StreamingRetention.Ev]] = {
    val day = graft.streaming.StreamingRetention.DayUs
    Drive.grid(n, batches) { (b, j, _) =>
      val t0 = (j % 5).toLong * day
      if (b == 0)
        graft.streaming.StreamingRetention.Ev(j.toLong, "signup", t0)
      else
        graft.streaming.StreamingRetention.Ev(j.toLong, "act",
          t0 + b.toLong * day)
    }
  }

  /** Metric observations over 1,000 keys (10 per key per batch):
    * baseline alternates 0/2 by in-batch slot (per-key variance 1
    * from the first batch — a constant baseline would zero the
    * variance and mute the detector); from batch 6 on, each key's
    * last slot is a planted 1000 (minN=50 is reached at batch 5's
    * end, and the z stays > 3 even as earlier outliers inflate the
    * folded moments: 999 → 8.3 → 6.2 → 5.4).
    */
  private def anomalyBatches(n: Int, batches: Int,
      keys: Int): IndexedSeq[IndexedSeq[graft.streaming.StreamingAnomaly.Obs]] = {
    val perBatch = math.max(1, n / batches)
    Drive.grid(n, batches) { (b, j, i) =>
      val slot = j / keys
      val v =
        if (b >= 6 && slot == (perBatch / keys) - 1) 1000L
        else (slot % 2).toLong * 2L
      graft.streaming.StreamingAnomaly.Obs(i, s"k${j % keys}", v)
    }
  }

  /** Growth hits: 90% of each post-warm-up batch is NEW users (state
    * grows by ~0.9·perBatch booleans per batch — the natural
    * exact-distinct shape), 10% repeats batch-0 users (the
    * no-emission path). Every first touch emits exactly once.
    */
  private def growthBatches(n: Int, batches: Int)
      : IndexedSeq[IndexedSeq[graft.streaming.StreamingGrowth.Hit]] = {
    Drive.grid(n, batches) { (b, j, i) =>
      val user = if (j % 10 == 9 && b > 0) j.toLong else i
      graft.streaming.StreamingGrowth.Hit(user, i / 1000L)
    }
  }

  /** Event-time fixtures for the EventTimeOps built-in shapes. The
    * epoch base is fixed AND minute-aligned (divisible by 60000 ms):
    * `window(ts, "1 minute")` aligns window boundaries to the epoch,
    * so a non-aligned base would put every batch astride a window
    * boundary and the per-window emission arithmetic would silently
    * change (the first probe cut measured out=10000, not the 9000
    * the aligned geometry predicts, for exactly this reason).
    * Batches step in whole minutes (or seconds, per generator) so
    * the engine watermark advances deterministically batch-over-batch.
    */
  private val EvEpochMs = 1599999960000L
  private def tsAt(ms: Long) = new java.sql.Timestamp(ms)

  final case class TEv(key: Long, v: Long, ts: java.sql.Timestamp)
  final case class JEv(side: String, key: Long, ts: java.sql.Timestamp)

  /** One event per key slot per batch, all of batch b inside minute-
    * window b (second jitter < 60), for the tumbling/sliding agg
    * probes. With a 0-second watermark delay, the engine watermark
    * after batch b sits inside window b, so window b-1 flushes while
    * batch b+1 processes: each timed batch from the second on emits
    * one full window of `keys` rows, and the final window(s) lag the
    * watermark by design — the self-check is a FLOOR, the sessions-
    * probe precedent for engine-state append-mode operators.
    */
  private def windowAggBatches(n: Int, batches: Int,
      keys: Int): IndexedSeq[IndexedSeq[TEv]] = {
    Drive.grid(n, batches) { (b, j, _) =>
      TEv(j % keys, (j % 7).toLong,
        tsAt(EvEpochMs + b.toLong * 60000L + (j % 60) * 1000L))
    }
  }

  /** Keyed events for within-watermark dedup: every 10th slot from
    * batch 1 on REDELIVERS the key first seen one batch back (the
    * at-least-once profile the operator exists for; in-batch index
    * j-9 ≡ 0 mod 10, so the source event carried a fresh key at any
    * perBatch). Event time advances 1 s per batch against a 1-hour
    * horizon, so no dedup state is evicted mid-run and the expected
    * emission count is EXACT arithmetic: first-seen keys only.
    */
  private def evDedupBatches(n: Int,
      batches: Int): IndexedSeq[IndexedSeq[TEv]] = {
    val perBatch = math.max(1, n / batches)
    Drive.grid(n, batches) { (b, j, i) =>
      val key = if (j % 10 == 9 && b > 0) i - perBatch - 9 else i
      TEv(key, 1L, tsAt(EvEpochMs + b.toLong * 1000L))
    }
  }

  /** Left/right pairs for the stream-stream interval joins, tagged on
    * one stream and split inside the pipeline (a stream self-join).
    * Inner-join workload: every odd slot is the right-side partner of
    * the left event one slot before it (+1 s, inside the 10 s bound),
    * both in the SAME batch — matches emit immediately, so the
    * expected count is exact. Outer-join workload (`withUnmatched`):
    * slots cycle matched-left / its-right / unmatched-left /
    * unmatched-right — the unmatched left must null-emit once the
    * watermark proves no partner can arrive, and the unmatched right
    * must emit nothing at all.
    */
  private def evJoinBatches(n: Int, batches: Int,
      withUnmatched: Boolean): IndexedSeq[IndexedSeq[JEv]] = {
    Drive.grid(n, batches) { (b, j, i) =>
      val base = EvEpochMs + b.toLong * 60000L
      if (!withUnmatched) {
        if (j % 2 == 1) JEv("r", i - 1, tsAt(base + 1000L))
        else JEv("l", i, tsAt(base))
      } else (j % 4) match {
        case 0 => JEv("l", i, tsAt(base)) // matched below
        case 1 => JEv("r", i - 1, tsAt(base + 1000L)) // the partner
        case 2 => JEv("l", i, tsAt(base)) // no partner ever
        case _ => JEv("r", i, tsAt(base + 1000L)) // matches no left
      }
    }
  }

  private def packBatches(n: Int,
      batches: Int): IndexedSeq[IndexedSeq[StreamingPack.Doc]] = {
    val langs = Array("en", "de", "fr", "es", "pt", "it", "nl", "pl")
    Drive.grid(n, batches) { (_, _, i) =>
      StreamingPack.Doc(i, langs((i % langs.length).toInt),
        64L + i % 1900L)
    }
  }

  def main(args: Array[String]): Unit = {
    val op = args.headOption.getOrElse("all")
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(100000)
    val batches = 10
    val spark = GraftSession.local()
    GraftSession.applyEnvConf(spark)
    import spark.implicits._

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // one figure under the default provider: the stateless ops (no
    // state-store comparison applies) and lateness
    def single[I <: Product : Encoder, O](name: String,
        data: IndexedSeq[IndexedSeq[I]],
        pipeline: Dataset[I] => Dataset[O],
        selfCheck: Long => Boolean): Unit =
      results(s"${name}_events_per_sec") =
        measure(spark, name, None, data, pipeline, selfCheck)
    def probe[I <: Product : Encoder, O](name: String,
        data: IndexedSeq[IndexedSeq[I]],
        pipeline: Dataset[I] => Dataset[O],
        selfCheck: Long => Boolean): Unit = {
      single(name, data, pipeline, selfCheck)
      results(s"${name}_events_per_sec_rocksdb") =
        measure(spark, name, Some(Drive.RocksDb), data, pipeline, selfCheck)
    }

    // planted duplicates: 1 in 10 docs pairs with its original — the
    // timed 9 batches alone contain ≥ n*9/10/10 duplicate arrivals,
    // so a run emitting no pairs did no matcher work
    if (op == "all" || op == "neardup")
      probe[StreamingNearDup.Doc, StreamingNearDup.Pair]("neardup",
        nearDupBatches(n, batches),
        ds => StreamingNearDup.candidatePairs(ds, bucketTtl = None),
        _ >= n.toLong / 10)
    if (op == "all" || op == "semdedup") {
      val data = semDedupBatches(n, batches, 64)
      // planes from the first 6 vectors — the batch twin's rule
      val planes = StreamingSemDedup.planesOf(data.head.take(6), 6)
      probe[StreamingSemDedup.Vec, StreamingSemDedup.SemPair]("semdedup",
        data,
        ds => StreamingSemDedup.candidatePairs(ds, planes,
          bucketTtl = None),
        _ >= n.toLong / 10)
    }
    if (op == "all" || op == "pack")
      probe[StreamingPack.Doc, StreamingPack.Placement]("pack",
        packBatches(n, batches),
        ds => StreamingPack.pack(ds, packLen = 4096L),
        // EVERY doc must place exactly once across the 10 batches
        _ == n.toLong / batches * batches)
    if (op == "all" || op == "heavyhitters")
      probe[graft.streaming.StreamingHeavyHitters.Term,
          graft.streaming.StreamingHeavyHitters.Hitter]("heavyhitters",
        heavyHitterBatches(n, batches),
        ds => graft.streaming.StreamingHeavyHitters.summaries(ds,
          idleTtl = None),
        // every batch hits every bucket, so each of the 10 batches
        // must re-emit >= 1 summary row per bucket (16 buckets)
        _ >= 10L * 16L)
    if (op == "all" || op == "crossdedup") {
      // dedup-at-ingest against an existing corpus: STATELESS on the
      // stream side (a stream-static equi-join against the per-
      // snapshot band index), so no state-store comparison applies —
      // one figure, default provider. The index (50k docs × 8 band
      // rows with full signatures) is built and materialized OUTSIDE
      // the timed window, exactly the staged-once-per-snapshot
      // production pattern; every 10th stream doc duplicates a
      // corpus doc and must match it exactly once.
      import graft.streaming.StreamingCrossDedup
      val corpusDocs = (0 until 50000).map { j =>
        StreamingNearDup.Doc(2000000000L + j, (0 until 30).map(w =>
          s"c${math.floorMod(mix(3000000000L + j * 64L + w), 1000003L)}")
          .mkString(" "))
      }
      val index = StreamingCrossDedup.corpusIndex(
        spark.createDataset(corpusDocs).toDF()).cache()
      index.count() // materialize before any timed pass
      val data = Drive.grid(n, batches) { (_, _, i) =>
        if (i % 10 == 9) {
          val c = corpusDocs((i % 50000).toInt)
          StreamingNearDup.Doc(i, c.text)
        } else StreamingNearDup.Doc(i, (0 until 30).map(w =>
          s"w${math.floorMod(mix(i * 64 + w), 1000003L)}").mkString(" "))
      }
      single[StreamingNearDup.Doc, org.apache.spark.sql.Row]("crossdedup", data,
        ds => StreamingCrossDedup.matches(ds, index),
        _ >= n.toLong / 10)
      index.unpersist()
    }
    if (op == "all" || op == "lateness") {
      // the at-ingest lateness monitor — one figure, default provider
      // (as crossdedup). Each key gets 6 consecutive arrival ids (50k
      // keys at nEvents = 300000, the figure's historical size) and
      // every 5th event arrives event-time-inverted WITHIN its key,
      // so the inversion depth is the monitor's real work; a pass
      // that reports no late row did none of it.
      import graft.streaming.StreamingLateness
      val data = Drive.grid(n, batches) { (_, _, i) =>
        StreamingLateness.Ev(i, i / 6,
          "u", (if (i % 5 == 4) i - 3 else i) * 1000000L)
      }
      single[StreamingLateness.Ev, StreamingLateness.Late]("lateness", data,
        ds => StreamingLateness.observe(ds),
        _ > 0)
    }
    if (op == "all" || op == "novelty")
      probe[graft.streaming.StreamingNovelty.Doc,
          graft.streaming.StreamingNovelty.Verdict]("novelty",
        noveltyBatches(n, batches),
        // count only LOW-novelty verdicts: the planted duplicates
        // must resolve to ~0 new grams against their shard's filter
        ds => graft.streaming.StreamingNovelty.score(ds)
          .filter(_.novel_ppm < 500000L),
        // batches 1..9 each plant perBatch/10 duplicates (warm-up
        // batch plants none — its originals must be committed first)
        _ >= (batches - 1).toLong * (math.max(1, n / batches) / 10))
    // The CDC materialization trio (r10 verdict #3): per-key state
    // held FOREVER (open version / latest user state / applied
    // high-water + live value), so these — not the stateless paths —
    // gate a 100-TB ingest. Workloads plant redeliveries (every 10th
    // key replays its batch-0 event from batch 1 on), so the
    // idempotence path runs at rate; expected emissions are EXACT
    // arithmetic — a missing or doubled emission refuses the run.
    val perBatch = math.max(1, n / batches)
    if (op == "all" || op == "funnel")
      probe[graft.streaming.StreamingFunnel.Ev,
          graft.streaming.StreamingFunnel.FunnelRow]("funnel",
        funnelBatches(n, batches),
        ds => graft.streaming.StreamingFunnel.track(ds,
          windowUs = 3600000000L, idleTtl = None),
        // one stage-advance emission per user per stage; the 7
        // replay batches emit nothing
        _ == 3L * perBatch)
    if (op == "all" || op == "retention")
      probe[graft.streaming.StreamingRetention.Ev,
          graft.streaming.StreamingRetention.Credit]("retention",
        retentionBatches(n, batches),
        ds => graft.streaming.StreamingRetention.track(ds,
          maxOffset = 7L, idleTtl = None),
        // offsets 0..7 credit exactly once per user; 8-9 never do
        _ == 8L * perBatch)
    if (op == "all" || op == "anomaly") {
      // keys sized so every key sees ≥10 slots per batch — minN=50
      // must be reached by batch 6 or the detector (correctly) stays
      // silent: the integration run at n=20k caught the fixed-1000-
      // keys version flagging nothing (2 slots × 6 batches = 12 < 50)
      val keys = math.max(1, math.min(1000, perBatch / 10))
      probe[graft.streaming.StreamingAnomaly.Obs,
          graft.streaming.StreamingAnomaly.Anomaly]("anomaly",
        anomalyBatches(n, batches, keys),
        ds => graft.streaming.StreamingAnomaly.detect(ds, idleTtl = None),
        // keys × one planted outlier per batch in batches 6-9;
        // baseline z stays ≤ 1, so flags == plants exactly
        _ == 4L * keys)
    }
    if (op == "all" || op == "growth")
      probe[graft.streaming.StreamingGrowth.Hit,
          graft.streaming.StreamingGrowth.NewUser]("growth",
        growthBatches(n, batches),
        ds => graft.streaming.StreamingGrowth.firstTouch(ds),
        // every first touch emits once; batch-0 repeats never do
        _ == perBatch.toLong +
          (batches - 1).toLong * (perBatch - perBatch / 10))
    if (op == "all" || op == "scd2")
      probe[StreamingScd2.Change, StreamingScd2.Version]("scd2",
        cdcChangeBatches(n, batches)(StreamingScd2.Change.apply),
        ds => StreamingScd2(ds),
        // each fresh arrival after a key's first closes one version;
        // redelivery keys (K/10) emit nothing after batch 0
        _ == (perBatch - perBatch / 10).toLong * (batches - 1))
    if (op == "all" || op == "asofstate")
      probe[StreamingAsofState.Ev, StreamingAsofState.Enriched]("asofstate",
        asofBatches(n, batches),
        ds => StreamingAsofState.enrich(ds),
        // fresh purchases: odd non-redelivery users every batch +
        // the redelivery users' single batch-0 purchase
        _ == (perBatch / 2 - perBatch / 10).toLong * batches +
          perBatch / 10)
    if (op == "all" || op == "deltaagg")
      probe[StreamingDeltaAgg.Change, StreamingDeltaAgg.Delta]("deltaagg",
        cdcChangeBatches(n, batches)(StreamingDeltaAgg.Change.apply),
        // stage 1 (the forever-state operator) is what the probe
        // times; stage 2 is Spark's own streaming agg over <= 1
        // delta row per key per batch. Every fresh event changes the
        // key's value (unique cents / alternating tombstones), so
        // deltas == fresh events exactly.
        ds => StreamingDeltaAgg.deltas(ds),
        _ == perBatch.toLong * batches -
          (perBatch / 10).toLong * (batches - 1))
    if (op == "all" || op == "sourcecap")
      probe[graft.streaming.StreamingSourceCap.Doc,
          graft.streaming.StreamingSourceCap.Verdict]("sourcecap",
        Drive.grid(n, batches) { (b, j, i) =>
          // every 10th row-block replays its batch-0 twin
          // (high-water no-op) — keyed on j/50 so the replay slots
          // are spread across ALL 50 sources rather than pinning
          // the s%10==9 sources to replay-only traffic
          if ((j / 50) % 10 == 9 && b > 0)
            graft.streaming.StreamingSourceCap.Doc(j.toLong, s"s${j % 50}")
          else
            graft.streaming.StreamingSourceCap.Doc(i, s"s${(i % 50).toInt}")
        },
        ds => graft.streaming.StreamingSourceCap.admit(ds, cap = 500)
          .filter(_.admitted),
        // 50 sources × the first min(500, fresh-per-source) arrivals
        // (fresh per source: psb rows per batch, psb/10 of them
        // replays after batch 0 — 1,820 at n=100k so budgets fill;
        // 364 at n=20k so every fresh doc admits)
        _ == {
          val psb = perBatch / 50
          val fresh = psb.toLong + (batches - 1).toLong * (psb - psb / 10)
          50L * math.min(500L, fresh)
        })
    if (op == "all" || op == "gapdetect")
      probe[graft.streaming.StreamingGapDetect.Ev,
          graft.streaming.StreamingGapDetect.Gap]("gapdetect",
        Drive.grid(n, batches) { (b, j, _) =>
          // 50 topics; topic-local index m advances per batch; the
          // id skips one value at every 10th m → exactly one
          // width-1 gap per skip
          val topic = j % 50
          val m = b.toLong * (perBatch / 50) + j / 50
          graft.streaming.StreamingGapDetect.Ev(m + m / 10, s"t$topic")
        },
        ds => graft.streaming.StreamingGapDetect.detect(ds),
        // per topic: m ∈ {10, 20, …, 1990} each skip one id → 199
        _ == 50L * ((perBatch.toLong * batches / 50 - 1) / 10))
    if (op == "all" || op == "sample") {
      // bottom-K changelog sampler: 8 language shards, K=64 keys per
      // shard. The change count is input-dependent, so the expected
      // emissions are derived by SIMULATING the bottom-K contract
      // driver-side over the exact generated sequence (adds + evicts)
      // — the probe refuses the rate unless the operator's changelog
      // length matches the simulation exactly.
      val langs = Array("en", "de", "fr", "es", "pt", "it", "nl", "pl")
      val k = 64
      val data = Drive.grid(n, batches) { (_, _, i) =>
        graft.streaming.StreamingSample.Doc(i,
          langs((i % langs.length).toInt), mix(i))
      }
      var expected = 0L
      val sim = scala.collection.mutable.Map.empty[String,
        scala.collection.mutable.TreeSet[(Long, Long)]]
      for (batch <- data; d <- batch.sortBy(_.doc_id)) {
        val s = sim.getOrElseUpdate(d.lang,
          scala.collection.mutable.TreeSet.empty[(Long, Long)])
        if (s.size < k) { s += ((d.h, d.doc_id)); expected += 1 }
        else {
          val worst = s.last
          if (d.h < worst._1 || (d.h == worst._1 && d.doc_id < worst._2)) {
            s -= worst; s += ((d.h, d.doc_id)); expected += 2 // evict+add
          }
        }
      }
      probe[graft.streaming.StreamingSample.Doc,
          graft.streaming.StreamingSample.Change]("sample",
        data,
        ds => graft.streaming.StreamingSample.sample(ds, k),
        _ == expected)
    }
    if (op == "all" || op == "sessions")
      // the one twin on Spark's BUILT-IN session_window aggregation
      // (engine state, not flatMapGroupsWithState) — the contrast row
      // for the table. One event per user per batch, 1 h apart with a
      // 30 min gap → every batch epoch closes the previous one's
      // 10k single-event sessions once the watermark passes; the
      // engine's watermark lags the final 1-2 epochs, so the check is
      // a floor, not an equality (still refuses a no-emission run).
      probe[graft.streaming.StreamingSessions.Ev,
          org.apache.spark.sql.Row]("sessions",
        Drive.grid(n, batches) { (b, j, _) =>
          graft.streaming.StreamingSessions.Ev(j.toLong,
            b.toLong * perBatch + j, b.toLong * 3600000L + j % 1000)
        },
        ds => graft.streaming.StreamingSessions.track(ds,
          gapMs = 1800000L),
        _ >= 7L * perBatch)
    if (op == "all" || op == "committracker") {
      // The reference's contiguous-prefix commit protocol (C1) at
      // rate: 20 multiplexed readers, two events per count (in-flight
      // then tokened confirm), every 10th count's confirm DEFERRED
      // one batch — the out-of-order window the tracker exists for,
      // so the confirmed map is never trivially contiguous. Each
      // batch extends each reader's prefix exactly once (up to just
      // before its first still-deferred count), so emissions are
      // exactly readers × batches; state stays O(window) because
      // committed counts evict every batch.
      import graft.streaming.CommitTracker
      val readers = 20
      val cPerB = perBatch / (2 * readers) // counts per reader per batch
      val data = (0 until batches).map { b =>
        val evs = IndexedSeq.newBuilder[CommitTracker.CommitInput]
        for (r <- 0 until readers) {
          val rid = s"r$r"
          for (k <- 0 until cPerB) {
            val c = b.toLong * cPerB + k + 1
            evs += CommitTracker.CommitInput(rid, c,
              needConfirm = true, Some(s"t$c"))
            if (c % 10 != 0)
              evs += CommitTracker.CommitInput(rid, c,
                needConfirm = false, Some(s"t$c"))
          }
          if (b > 0) for (k <- 0 until cPerB) {
            val c = (b - 1).toLong * cPerB + k + 1
            if (c % 10 == 0)
              evs += CommitTracker.CommitInput(rid, c,
                needConfirm = false, Some(s"t$c"))
          }
        }
        evs.result()
      }
      probe[CommitTracker.CommitInput, CommitTracker.Committable](
        "committracker", data,
        ds => CommitTracker.trackStream(ds),
        _ == readers.toLong * batches)
    }
    if (op == "all" || op == "qualityclf") {
      // Quality classification at ingest: STATELESS on the stream
      // side (a broadcast-model projection), so no state-store
      // comparison applies — one figure, default provider. The model
      // is learned OUTSIDE the timed window from a 100-doc labeled
      // corpus whose keep/drop vocabularies are disjoint, which
      // makes the classifier's separation exact by construction:
      // every keep-class bigram bucket is keep-leaning (nd=0) and
      // every drop-class bucket drop-leaning, so streamed docs that
      // reuse the training variants MUST predict their class — the
      // probe filters to pred_keep and requires exactly the planted
      // keep-class half.
      import graft.streaming.StreamingQualityClf
      def kw(v: Int, w: Int) = s"ka${math.floorMod(mix(v * 100L + w), 1000003L)}"
      def dw(v: Int, w: Int) = s"dr${math.floorMod(mix(v * 100L + w), 1000003L)}"
      // keep variant: 60 tokens (one stopword so the gate's
      // stop-ratio rule passes); drop variant: 35 tokens (fails the
      // gate's length rule)
      def keepText(v: Int) =
        ("the" +: (0 until 59).map(w => kw(v, w))).mkString(" ")
      def dropText(v: Int) = (0 until 35).map(w => dw(v, w)).mkString(" ")
      val train = (0 until 50).flatMap { v =>
        Seq(StreamingNearDup.Doc(v.toLong, keepText(v)),
          StreamingNearDup.Doc(100L + v, dropText(v)))
      }
      val model = StreamingQualityClf.learn(
        spark.createDataset(train).toDF())
      val data = Drive.grid(n, batches) { (_, _, i) =>
        val v = (i % 50L).toInt
        StreamingNearDup.Doc(i,
          if (i % 2 == 0) keepText(v) else dropText(v))
      }
      single[StreamingNearDup.Doc, org.apache.spark.sql.Row]("qualityclf", data,
        ds => StreamingQualityClf.score(ds.toDF(), model)
          .filter(col("pred_keep")),
        _ == perBatch.toLong * batches / 2)
    }
    if (op == "all" || op == "dsir") {
      // DSIR importance scoring at ingest — stateless broadcast-model
      // projection (one figure, default provider), the H60BucketSum
      // unigram path. Self-check by ARITHMETIC: a uniform hand-built
      // model (every bucket 7 ppm) makes each 60-token doc's score
      // exactly 420 — the probe filters to that equality, so a
      // skipped or doubled token lookup drops the row and refuses the
      // run, while the md5+table work per token is still fully paid.
      import graft.streaming.StreamingDsir
      val model = StreamingDsir.Model(Map.empty, defaultPpm = 7L)
      val data = Drive.grid(n, batches) { (_, _, i) =>
        StreamingNearDup.Doc(i, (0 until 60).map(w =>
          s"w${math.floorMod(mix(i * 64 + w), 1000003L)}").mkString(" "))
      }
      single[StreamingNearDup.Doc, org.apache.spark.sql.Row]("dsir", data,
        ds => StreamingDsir.score(ds.toDF(), model)
          .filter(col("score_ppm") === 420L),
        _ == perBatch.toLong * batches)
    }
    if (op == "all" || op == "structclf") {
      // The GENERALIZING struct-feature classifier at ingest:
      // stateless broadcast-model projection (one figure, default
      // provider). The two classes are STRUCTURALLY disjoint in every
      // feature family — keep docs: 60 distinct tokens incl. one
      // stopword (len bin 2, ttr bin 9, stop bin 1, top bin 0, dup
      // bin 0); drop docs: 35 tokens, one repeated 30× and no
      // stopword (len bin 1, ttr bin 1, stop bin 0, top bin 17, dup
      // bin 9) — so after training every keep-class bin is
      // keep-leaning (nd=0) and every drop-class bin drop-leaning,
      // and the planted keep half MUST predict keep exactly.
      import graft.streaming.StreamingStructClf
      def kw(v: Int, w: Int) = s"sa${math.floorMod(mix(v * 100L + w), 1000003L)}"
      def dw(v: Int, w: Int) = s"sb${math.floorMod(mix(v * 100L + w), 1000003L)}"
      def keepText(v: Int) =
        ("the" +: (0 until 59).map(w => kw(v, w))).mkString(" ")
      def dropText(v: Int) =
        (Seq.fill(30)(dw(v, 99)) ++ (0 until 5).map(w => dw(v, w)))
          .mkString(" ")
      val train = (0 until 50).flatMap { v =>
        Seq(StreamingNearDup.Doc(v.toLong, keepText(v)),
          StreamingNearDup.Doc(100L + v, dropText(v)))
      }
      val model = StreamingStructClf.learn(
        spark.createDataset(train).toDF())
      val data = Drive.grid(n, batches) { (_, _, i) =>
        val v = (i % 50L).toInt
        StreamingNearDup.Doc(i,
          if (i % 2 == 0) keepText(v) else dropText(v))
      }
      single[StreamingNearDup.Doc, org.apache.spark.sql.Row]("structclf", data,
        ds => StreamingStructClf.score(ds.toDF(), model)
          .filter(col("pred_keep")),
        _ == perBatch.toLong * batches / 2)
    }
    // The six EventTimeOps built-in shapes (r11 verdict #2) — Spark's
    // own event-time machinery under the same planted-work
    // discipline, completing the built-in-vs-handrolled comparison
    // the sessions row started. The stateful five run under both
    // providers; enrichment is stateless (broadcast static dim) —
    // one figure. Dedup and the inner join check EXACT arithmetic;
    // the windowed aggs and the outer join's null-emissions check
    // FLOORS because append-mode emission lags the watermark by
    // design (the sessions-probe precedent) — a floor still refuses
    // a run that dropped keys or never flushed.
    import graft.streaming.EventTimeOps
    val evKeys = math.min(1000, perBatch)
    if (op == "all" || op == "evtumble")
      probe[TEv, org.apache.spark.sql.Row]("evtumble",
        windowAggBatches(n, batches, evKeys),
        ds => EventTimeOps.windowedAgg(ds.toDF(), "ts", "0 seconds",
          "1 minute", None, Seq(col("key")),
          Seq(count(lit(1)).alias("n"), sum(col("v")).alias("s"))),
        // batches 2..9 each flush the previous closed window's
        // evKeys rows; the last windows lag the watermark
        _ >= (batches - 2).toLong * evKeys)
    if (op == "all" || op == "evslide")
      probe[TEv, org.apache.spark.sql.Row]("evslide",
        windowAggBatches(n, batches, evKeys),
        ds => EventTimeOps.windowedAgg(ds.toDF(), "ts", "0 seconds",
          "2 minutes", Some("1 minute"), Seq(col("key")),
          Seq(count(lit(1)).alias("n"), sum(col("v")).alias("s"))),
        // every event lands in TWO sliding windows; one window end
        // crosses the watermark per timed batch from the second on
        _ >= (batches - 2).toLong * evKeys)
    if (op == "all" || op == "evdedup")
      probe[TEv, org.apache.spark.sql.Row]("evdedup",
        evDedupBatches(n, batches),
        ds => EventTimeOps.dedupWithinWatermark(ds.toDF(), "ts",
          "1 hour", Seq("key")),
        // exactly the first-seen keys: all of batch 0 + the fresh
        // 9-in-10 of every later batch; a redelivery that slips
        // through (or a fresh key wrongly dropped) breaks equality
        _ == perBatch.toLong + (batches - 1).toLong *
          (perBatch - perBatch / 10))
    // the tagged join stream's (lkey, lts) and (rkey, rts) sides
    def sides(ds: Dataset[JEv]) = {
      def side(s: String) = ds.toDF().filter(col("side") === s)
        .select(col("key").alias(s + "key"), col("ts").alias(s + "ts"))
      (side("l"), side("r"))
    }
    if (op == "all" || op == "evjoin")
      probe[JEv, org.apache.spark.sql.Row]("evjoin",
        evJoinBatches(n, batches, withUnmatched = false),
        ds => {
          val (l, r) = sides(ds)
          EventTimeOps.intervalJoin(l, r, "lkey", "rkey", "lts", "rts",
            "30 seconds", "10 seconds")
        },
        // every right event pairs with exactly one left event in the
        // same batch — inner matches emit immediately, so the count
        // is exact: one row per planted pair
        _ == batches.toLong * (perBatch / 2))
    if (op == "all" || op == "evouterjoin") {
      val m1 = (0 until perBatch).count(_ % 4 == 1) // matched pairs
      val m2 = (0 until perBatch).count(_ % 4 == 2) // unmatched lefts
      probe[JEv, org.apache.spark.sql.Row]("evouterjoin",
        evJoinBatches(n, batches, withUnmatched = true),
        ds => {
          val (l, r) = sides(ds)
          EventTimeOps.outerIntervalJoin(l, r, "lkey", "rkey", "lts",
            "rts", "30 seconds", "10 seconds")
        },
        // matches emit immediately (exact); each batch's unmatched
        // lefts null-emit once the 30s watermark clears their 10s
        // bound — the final batches' lag makes the total a floor
        _ >= batches.toLong * m1 + math.max(0, batches - 3).toLong * m2)
    }
    if (op == "all" || op == "evenrich") {
      // stream-static enrichment: STATELESS on the stream side (a
      // broadcast hash join against a static dimension), so no
      // state-store comparison applies — one figure, default
      // provider. 50% of stream keys hit the 10k-row dim, the rest
      // exercise the left-outer null path; every stream row emits
      // exactly once (unique dim keys — no fanout).
      val dim = spark.range(10000)
        .select(col("id").alias("dim_key"), (col("id") % 97).alias("attr"))
        .cache()
      dim.count() // materialize outside every timed pass
      val data = Drive.grid(n, batches) { (_, j, i) =>
        TEv(i % 20000L, (j % 7).toLong, tsAt(EvEpochMs + i))
      }
      single[TEv, org.apache.spark.sql.Row]("evenrich", data,
        ds => EventTimeOps.enrich(ds.toDF(), dim, "key", "dim_key"),
        _ == perBatch.toLong * batches)
      dim.unpersist()
    }
    val json = results.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    println(json)
    spark.stop()
  }
}
