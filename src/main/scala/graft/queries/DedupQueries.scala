package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Deduplication operators over `documents` — the LLM-training-data
  * pipeline surface: exact (hash group-by), n-gram Jaccard via an
  * inverted shingle index, MinHash + LSH banding (the 100 TB path),
  * and SimHash fingerprints.
  *
  * Every hash is engine-portable by construction: md5 (identical in
  * Spark and DuckDB) reduced into int64 ranges that never overflow,
  * so each query has an exact SQL oracle.
  *
  * Scale notes:
  *  - exact dedup is a single hash-partitioned group-by (map-side
  *    combine, no skew: keys are hashes).
  *  - the Jaccard inverted index is quadratic in posting-list length,
  *    so every posting join runs over the df-CAPPED shingle universe
  *    (see [[DefaultMaxShingleDf]]) — Σdf² becomes ≤ cap·Σdf, and the
  *    one hot boilerplate key that would melt a 100 TB run is dropped
  *    before the join. It is still the *verifier* stage: at 100 TB
  *    candidate generation must come from LSH banding
  *    (dd_minhash_lsh): band keys hash-partition evenly and each
  *    bucket joins locally.
  *  - SimHash is a pure per-document aggregate (one explode + one
  *    group-by keyed by doc_id — the natural partitioning).
  */
object DedupQueries {

  /** 60-bit portable hash: first 15 hex digits of md5. Shared across
    * the query modules (tx_sample strata use the same hash) — the hex
    * width must stay in lock-step with SqlH60 and every oracle that
    * replays it.
    */
  private[queries] def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  private[queries] val SqlH60 = (e: String) =>
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  // MinHash parameters: k=32 permutations h_i(x) = (a_i*x + b_i) mod P,
  // P < 2^31 and x reduced mod P so products stay < 2^62 (no int64
  // overflow in either engine, no ANSI failures).
  final val P = 1073741789L
  final val K = 32
  final val Bands = 8
  final val RowsPerBand = 4
  // deterministic odd constants derived from small primes
  final val As: Seq[Long] = (1 to K).map(i => (2L * i * i * 7919L + 1L) % P)
  final val Bs: Seq[Long] = (1 to K).map(i => (3L * i * 104729L + 7L) % P)

  /** Stage-name fingerprint: any change to the MinHash constants, the
    * shingle width, the band geometry, or the verify threshold changes
    * the staged path, so a stale stage can never be read back as
    * current. Bands/RowsPerBand/VerifyAgree belong here because the
    * staged candidate/verified-pair and component-label artifacts bake
    * those knobs into their row sets (they are compile-time constants,
    * so referencing them ahead of their declaration is safe).
    */
  private val StageFp: String = {
    val spec = s"$K|$P|${As.mkString(",")}|${Bs.mkString(",")}|sh3" +
      s"|b${Bands}x$RowsPerBand|va$VerifyAgree"
    java.security.MessageDigest.getInstance("MD5")
      .digest(spec.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
  }

  /** Hot-shingle document-frequency ceiling for the posting-list
    * detectors (`graft.dedup.maxShingleDf`, default
    * [[DefaultMaxShingleDf]] — what the oracle replays). The inverted-
    * index self-join behind dd_ngram_jaccard / dd_containment /
    * dd_sketch_error's exact side costs Σ df² over posting lists: one
    * boilerplate shingle ("all rights reserved …") shared by f
    * documents alone contributes f²/2 join rows — 10¹² pairs from a
    * single hot key on a real crawl. Dropping shingles with df above
    * the ceiling bounds the join at cap·Σdf (the frequency-cap
    * practice of Lee et al. 2022, arXiv:2107.06499): a shingle shared
    * by thousands of documents carries no near-dup signal, only cost.
    * Jaccard/containment are then measured over the CAPPED shingle
    * universe (sizes too, so the measure stays a true set ratio).
    * At the verification scales the testdata's max df is 25, so the
    * default ceiling is in force but never binds — oracle hashes are
    * unchanged; on a real corpus it is THE knob that keeps these
    * detectors alive at 100×.
    */
  final val DefaultMaxShingleDf = 64L

  private[queries] def maxShingleDf(s: SparkSession): Long = {
    val n = s.conf.get("graft.dedup.maxShingleDf",
      DefaultMaxShingleDf.toString).toLong
    // a ceiling of 1 would drop every SHARED shingle — the detectors
    // would silently report "no near-duplicates"; fail loudly instead
    require(n >= 2,
      s"graft.dedup.maxShingleDf must be >= 2, got $n")
    n
  }

  /** (doc_id, s) posting rows from a (doc_id, sh) shingle frame, with
    * every shingle whose document frequency exceeds `cap` removed.
    * The df aggregate is one map-side-combined pass over the (staged)
    * shingle index; the hot set is tiny by construction (≤ Σdf/cap
    * keys), so the anti-join is cheap on any scale.
    */
  private[queries] def cappedInvOf(sh: DataFrame, cap: Long): DataFrame = {
    val inv = sh.select(col("doc_id"), explode(col("sh")).alias("s"))
    val hot = inv.groupBy("s").agg(count(lit(1)).alias("df"))
      .filter(col("df") > cap).select(col("s"))
    inv.join(hot, Seq("s"), "left_anti")
  }

  /** Per-doc CAPPED shingle-set size (doc_id, nsh), staged once per
    * snapshot. Shared by dd_ngram_jaccard / dd_containment /
    * dd_sketch_error — each used to re-derive it from the posting
    * index per run. The stage name embeds the constants fingerprint
    * AND the df cap, so a re-tuned ceiling restages.
    */
  private def cappedSizes(s: SparkSession, d: String): DataFrame =
    StagedIndex.orStage(s,
      s"dd_capped_sizes_v1_${StageFp}_df${maxShingleDf(s)}", d,
      docsInput(d)) {
      cappedInvOf(shingled(s, d), maxShingleDf(s))
        .groupBy("doc_id").agg(count(lit(1)).alias("nsh"))
    }

  /** Pairwise CAPPED shingle intersection counts (ida < idb, common),
    * staged once per snapshot — THE posting-self-join artifact, the
    * single most expensive derivation in the dedup family, previously
    * rebuilt independently by dd_ngram_jaccard, dd_containment, and
    * dd_sketch_error's exact side. O(co-occurring pairs) rows,
    * bounded at cap·Σdf by the df ceiling; consumers apply their own
    * thresholds (Jaccard ≥ 0.3, containment ≥ 0.5, candidate
    * restriction), so one artifact serves all three measures — the
    * compute-once-per-snapshot pattern every staged index follows.
    */
  // NOT appendable-delta (unlike lshAgreePairs): the df CAP couples
  // old rows to new ones — a shingle under the ceiling before an
  // ingest can exceed it after, which must REMOVE old×old pairs from
  // the artifact, violating the delta contract (rows_full(old∪new) ⊇
  // rows_full(old) fails). Growth restages the full posting join.
  private def cappedCommon(s: SparkSession, d: String): DataFrame =
    StagedIndex.orStage(s,
      s"dd_capped_common_v1_${StageFp}_df${maxShingleDf(s)}", d,
      docsInput(d)) {
      val inv = cappedInvOf(shingled(s, d), maxShingleDf(s))
      inv.alias("a").join(inv.alias("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").alias("ida"),
          col("b.doc_id").alias("idb"))
        .agg(count(lit(1)).alias("common"))
    }

  /** doc_id + distinct word-3-gram shingles.
    *
    * Staged to parquet once per input dir (StagedIndex): the shingle
    * transform is a chain of higher-order functions (split → transform
    * → array_distinct) that Catalyst cannot codegen, and a self-join
    * over the unstaged plan re-evaluates it per side (measured 5×
    * slower at sf0.1). Staging computes it once ever; every consumer —
    * across queries, sessions, and the bench's clearCache isolation —
    * scans the columnar result instead of re-tokenizing the corpus.
    */
  private def docsInput(d: String) = Seq(s"$d/documents.parquet")

  private def shingled(s: SparkSession, d: String): DataFrame =
    // per-row (one output row per document) — appendable: a growing
    // snapshot re-tokenizes only its new part files
    StagedIndex.orStageAppendable(s, "dd_shingled_v1_sh3", d,
      s"$d/documents.parquet") { docs =>
      docs.select(col("doc_id"),
        graft.functions.WordShingles(col("text"), 3).alias("sh"))
    }

  /** Per-doc MinHash signature via the MinHashSigAgg typed aggregate:
    * explode shingle hashes, one-pass k-minima per document with
    * map-side combine (the shuffle carries one 32-long signature per
    * doc, not every shingle hash). Exposed as m0..m{K-1} columns for
    * the banding stage. Staged like the shingle index — the signature
    * table is the dedup pipeline's reusable artifact (doc_id + K
    * longs, tiny next to the corpus).
    */
  private def signatures(s: SparkSession, d: String): DataFrame =
    // per-doc artifact — appendable: a new crawl's signatures derive
    // from its new part files only (the delta re-shingles just those
    // docs rather than riding the shingled stage, keeping the chain
    // single-input; cold builds pay the fast WordShingles pass twice
    // per snapshot, ingest pays O(delta) forever after)
    StagedIndex.orStageAppendable(s, s"dd_signatures_v1_$StageFp", d,
      s"$d/documents.parquet") { docs =>
      sigFromShingles(docs.select(col("doc_id"),
        graft.functions.WordShingles(col("text"), 3).alias("sh")))
    }

  /** (doc_id, sh) shingle rows → m0..m{K-1} signature columns; the one
    * definition both the staged query path and the spec-facing
    * `signaturesOf` share.
    */
  private def sigFromShingles(sh: DataFrame): DataFrame = {
    val hashed = sh
      .select(col("doc_id"), explode(col("sh")).alias("shingle"))
      .select(col("doc_id"), pmod(h60(col("shingle")), lit(P)).alias("h"))
    val agg = hashed.groupBy("doc_id")
      .agg(graft.functions.MinHashSig(col("h"), K, P, As, Bs).alias("sig"))
    val cols =
      (0 until K).map(i => element_at(col("sig"), i + 1).alias(s"m$i"))
    agg.select(col("doc_id") +: cols: _*)
  }

  /** (doc_id, band, key) LSH band rows over a signature table — the
    * index every LSH consumer equi-joins on.
    */
  private[queries] def bandedOf(sig: DataFrame): DataFrame =
    bandedAt(sig, Bands, RowsPerBand)

  /** bandedOf at an explicit (bands × rows-per-band) geometry over
    * the same K-long signature — the dd_band_sweep leg builder.
    */
  private[queries] def bandedAt(sig: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= K,
      s"banding $bands×$rowsPerBand exceeds signature length $K")
    val bandCols = (0 until bands).map { bnd =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"m${bnd * rowsPerBand + r}"))
      struct(lit(bnd).alias("band"),
        concat_ws("_", parts: _*).alias("key"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).alias("bk"))
      .select(col("doc_id"), col("bk.band").alias("band"),
        col("bk.key").alias("key"))
  }

  // Band rows are DERIVED from the staged signature chain per use,
  // not staged themselves — measured and rejected (r10): every
  // consumer that needs band rows also reads the signature chain
  // (the agree step), so the banding is pure CPU on top of a scan
  // already paid, while a staged band table adds bytes to read AND
  // a stage round-trip per access (AppendProbe: pairs full
  // 3.90→4.98 s, delta 2.01→2.99 s with the band stage in place).
  private def banded(s: SparkSession, d: String): DataFrame =
    bandedOf(signatures(s, d))

  /** LSH candidate pairs (ida < idb): join docs sharing any band
    * bucket. Shared by dd_minhash_lsh (verify stage) and dd_cluster
    * (connected components).
    */
  private def candidatePairs(s: SparkSession, d: String): DataFrame = {
    val bd = banded(s, d)
    val a = bd.alias("a")
    val b = bd.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").alias("ida"), col("b.doc_id").alias("idb"))
      .distinct()
  }

  /** LSH candidate pairs WITH their signature agreement
    * (ida < idb, agree of K) — staged once per snapshot. This is the
    * shared spine of the MinHash family: dd_minhash_lsh reports it
    * verbatim (+ the estimated Jaccard), dd_dedup_verdict and
    * dd_cross_dedup filter it at [[VerifyAgree]], dd_sketch_error
    * scores it against the exact capped intersection. Unstaged, each
    * consumer re-ran the band self-join + two signature joins per
    * query; staged, the steady state is a scan of O(candidate pairs)
    * rows. The stage name carries [[StageFp]] (constants, band
    * geometry, verify threshold), so retuning any knob restages.
    */
  /** agree column over a canonical (ida < idb) pair frame, from the
    * full signature table — the one definition the full and delta
    * pair builds share.
    */
  private def agreeOf(pairs: DataFrame, sig: DataFrame): DataFrame = {
    val sigArr = array((0 until K).map(i => col(s"m$i")): _*)
    val sa = sig.select(col("doc_id").alias("ida"), sigArr.alias("siga"))
    val sb = sig.select(col("doc_id").alias("idb"), sigArr.alias("sigb"))
    pairs.join(sa, "ida").join(sb, "idb")
      .withColumn("agree",
        size(filter(zip_with(col("siga"), col("sigb"),
          (x, y) => x === y), b => b)).cast(LongType))
      .select(col("ida"), col("idb"), col("agree"))
  }

  private def lshAgreePairs(s: SparkSession, d: String): DataFrame =
    // APPENDABLE-DELTA (r10): pair artifacts are not row-wise, so
    // plain appendable staging can't cover them — but on append-only
    // growth the new pair rows are exactly the ≥-one-new-side band
    // collisions, which is the dd_cross_dedup computation (new crawl
    // vs existing corpus): band the NEW docs' fresh signatures
    // against the WHOLE corpus's staged signature chain, verify
    // agreement from the full chain, and union onto the prior spine.
    // Old×old pairs live in the chain's earlier links and are never
    // re-derived — O(delta·bucket) pair maintenance per ingest
    // instead of the full band self-join (AppendProbe measures it).
    // The delta pass does narrow-scan the FULL staged signature
    // chain (band + agree), but that scan is measured DECOUPLED from
    // corpus size: AppendProbe with the base grown ×10 (50k docs,
    // rehashed replicas) and the same fixed append shows delta
    // 2.22 s → 2.08 s (flat; identical +565 new pairs found) while
    // the full build grows 4.58 → 4.81 s — the chain is doc_id + K
    // longs (~0.3% of corpus bytes), so the scan's growth is noise
    // next to the fixed delta work (r11; the r10-rejected staged
    // band table remains rejected).
    // A rewritten/shrunk input falls back to the full build below.
    StagedIndex.orStageAppendableDelta(s, s"dd_lsh_pairs_v2_$StageFp", d,
      s"$d/documents.parquet") { _ =>
      // full build ignores its arg: it rides the staged signature
      // chain, which tracks the same input (and is itself O(delta))
      agreeOf(candidatePairs(s, d), signatures(s, d))
    } { (newDocs, _) =>
      val sigNew = sigFromShingles(newDocs.select(col("doc_id"),
        graft.functions.WordShingles(col("text"), 3).alias("sh")))
      val sigAll = signatures(s, d)
      // new-side band rows against the whole corpus's band rows
      // (banded from the O(delta)-maintained signature chain — the
      // same scan the agree step below pays anyway): every pair with
      // ≥ 1 new doc, found from its new side; a new×new pair is seen
      // from both sides and distinct-ed under the canonical
      // (min, max) orientation — old×old pairs are unreachable by
      // construction
      val pairs = bandedOf(sigNew).alias("a")
        .join(bandedOf(sigAll).alias("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).alias("ida"),
          greatest(col("a.doc_id"), col("b.doc_id")).alias("idb"))
        .distinct()
      agreeOf(pairs, sigAll)
    }

  /** Per-document full-content hash (doc_id, k = md5(text)) — the
    * exact-dedup tier's key table, staged so cross-snapshot runs
    * never re-read the text column (the corpus's widest) just to
    * re-hash unchanged content. O(docs) rows of 32-char digests.
    */
  private def contentKeys(s: SparkSession, d: String): DataFrame =
    // per-row artifact on the APPENDABLE path: when a new crawl lands
    // as new part files, only those files are hashed — the existing
    // corpus's keys chain in from the prior stage (O(delta) ingest)
    StagedIndex.orStageAppendable(s, "dd_content_keys_v1", d,
      s"$d/documents.parquet") { docs =>
      docs.select(col("doc_id"), md5(col("text")).alias("k"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-group on a normalized key (5-token prefix);
    // one row per retained (min-id) document.
    "dd_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(split(col("text"), " "), 1, 5)))
            .alias("k"))
        .groupBy("k")
        .agg(min(col("doc_id")).alias("keeper"), count(lit(1)).alias("n"))),

    // N-gram Jaccard near-dup: inverted shingle index self-join,
    // exact |A∩B| / |A∪B| over the df-capped shingle universe (see
    // DefaultMaxShingleDf — the hot-boilerplate guard that keeps the
    // posting join bounded at cap·Σdf), threshold 0.3. Sizes come
    // from the same capped universe so jac stays a true set ratio.
    "dd_ngram_jaccard" -> ((s, d) => {
      val common = cappedCommon(s, d)
      val sizes = cappedSizes(s, d)
      val sa = sizes.select(col("doc_id").alias("ida"), col("nsh").alias("sa"))
      val sb = sizes.select(col("doc_id").alias("idb"), col("nsh").alias("sb"))
      // No broadcast hint on the per-doc sizes tables: one row per
      // document means corpus-sized at scale (driver OOM if forced to
      // broadcast). ida/idb are hash-partitionable equi-join keys —
      // let the planner (and AQE at runtime) pick the strategy.
      common
        .join(sa, "ida").join(sb, "idb")
        .withColumn("jac",
          col("common") / (col("sa") + col("sb") - col("common")))
        .filter(col("jac") >= 0.3)
        .select(col("ida"), col("idb"), col("common"), col("sa"),
          col("sb"), col("jac"))
    }),

    // N-gram CONTAINMENT near-dup (Broder's asymmetric measure):
    // C(A,B) = |A∩B| / |A|. Jaccard misses a short doc quoted inside
    // a much longer one (the union dwarfs the intersection); the
    // containment of the shorter side stays high, so thresholding
    // max(C(A,B), C(B,A)) catches doc-inside-doc duplication —
    // boilerplate expansion, quote inflation, wrapper pages. Same
    // inverted-index scale shape as dd_ngram_jaccard — including the
    // df ceiling (DefaultMaxShingleDf) that bounds the posting join —
    // keyed count, two hash joins against the per-doc sizes table
    // (no broadcast hint — corpus-sized at scale).
    "dd_containment" -> ((s, d) => {
      val common = cappedCommon(s, d)
      val sizes = cappedSizes(s, d)
      val sa = sizes.select(col("doc_id").alias("ida"), col("nsh").alias("sa"))
      val sb = sizes.select(col("doc_id").alias("idb"), col("nsh").alias("sb"))
      common
        .join(sa, "ida").join(sb, "idb")
        .withColumn("cont_a", col("common") / col("sa"))
        .withColumn("cont_b", col("common") / col("sb"))
        .withColumn("max_cont", greatest(col("cont_a"), col("cont_b")))
        .filter(col("max_cont") >= 0.5)
        .select(col("ida"), col("idb"), col("common"),
          col("cont_a"), col("cont_b"), col("max_cont"))
    }),

    // MinHash+LSH candidate pairs: 32 portable hash permutations,
    // banded 8×4; docs sharing any band key become candidates; the
    // signature-agreement fraction estimates Jaccard. This is the
    // shape that scales: band keys shuffle-partition evenly and no
    // full self-join ever happens.
    "dd_minhash_lsh" -> ((s, d) =>
      // candidate gen + signature verify live in the staged
      // lshAgreePairs artifact (shared with dd_dedup_verdict /
      // dd_cross_dedup / dd_sketch_error); this query is its report
      lshAgreePairs(s, d)
        .select(col("ida"), col("idb"), col("agree"),
          (col("agree") / lit(K.toLong)).alias("est_jaccard"))),

    // Sketch-calibration histogram: |minhash-estimated − exact|
    // Jaccard error over the LSH candidate pairs, in 5%-wide buckets
    // — the table that justifies (or indicts) the signature length K.
    // A mass spike in high-error buckets means K is too short for the
    // dedup threshold in force and the verdicts behind dd_minhash_lsh
    // / dd_dedup_verdict are noisy; re-run after changing K and watch
    // the histogram collapse into bucket 0. All-integer micro-unit
    // error, so the oracle replays exactly. Scale shape: the exact
    // side rides the STAGED capped-posting artifacts (cappedCommon /
    // cappedSizes — per-pair intersection and per-doc set size are
    // independent of any candidate restriction, so the shared tables
    // serve here verbatim); the estimate rides the staged signatures;
    // candidates that collide in a band WITHOUT sharing a (surviving)
    // shingle take the zero-overlap left-join branch.
    "dd_sketch_error" -> ((s, d) => {
      // the staged pair spine directly, as dd_minhash_lsh reports it
      val est = lshAgreePairs(s, d)
        .select(col("ida"), col("idb"), col("agree"))
      val sizes = cappedSizes(s, d)
      val common = cappedCommon(s, d)
      // sizes joins are LEFT: a candidate doc whose every shingle
      // exceeded the df cap has no sizes row at all; an inner join
      // would silently drop its pairs from the histogram instead of
      // scoring them. All-capped docs carry nsh=0 and an empty-union
      // pair takes exact=0 (no surviving evidence of overlap).
      est
        .join(sizes.select(col("doc_id").alias("ida"),
          col("nsh").alias("sa")), Seq("ida"), "left")
        .join(sizes.select(col("doc_id").alias("idb"),
          col("nsh").alias("sb")), Seq("idb"), "left")
        .join(common, Seq("ida", "idb"), "left")
        .withColumn("est_micro", expr(s"agree * 1000000 div $K"))
        .withColumn("exact_micro", expr(
          "CASE WHEN coalesce(sa, 0) + coalesce(sb, 0) " +
            "- coalesce(common, 0) > 0 " +
            "THEN coalesce(common, 0) * 1000000 div " +
            "(coalesce(sa, 0) + coalesce(sb, 0) - coalesce(common, 0)) " +
            "ELSE 0 END"))
        .withColumn("err_bucket",
          expr("abs(est_micro - exact_micro) div 50000"))
        .groupBy("err_bucket")
        .agg(count(lit(1)).alias("n_pairs"))
    }),

    // Banding-geometry sweep — the S-curve tuning table for the LSH
    // knob the MinHash family actually exposes (bands × rows-per-band
    // over the same K=32 signature; Leskovec/Rajaraman/Ullman's
    // standard analysis: more bands ⇒ lower collision threshold ⇒
    // more candidates, fewer misses). For 16×2 / 8×4 (the default) /
    // 4×8: candidate-pair volume, pairs surviving the
    // signature-agreement verify (≥ 31/32), and candidate precision —
    // the cost/recall tradeoff read off BEFORE committing a banding
    // to a 100-TB run (candidate volume IS the dedup pipeline's
    // shuffle bill). Every leg is the already-audited band-join shape
    // on the staged signatures; results are three 1-row aggregates.
    "dd_band_sweep" -> ((s, d) => {
      val sig = signatures(s, d)
      val sigArr = array((0 until K).map(i => col(s"m$i")): _*)
      val sa = sig.select(col("doc_id").alias("ida"), sigArr.alias("siga"))
      val sb = sig.select(col("doc_id").alias("idb"), sigArr.alias("sigb"))
      Seq((16, 2), (8, 4), (4, 8)).map { case (bands, rpb) =>
        val bd = bandedAt(sig, bands, rpb)
        val cand = bd.alias("a").join(bd.alias("b"),
            col("a.band") === col("b.band") &&
              col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").alias("ida"), col("b.doc_id").alias("idb"))
          .distinct()
        cand.join(sa, "ida").join(sb, "idb")
          .withColumn("agree",
            size(filter(zip_with(col("siga"), col("sigb"),
              (x, y) => x === y), bb => bb)))
          .agg(count(lit(1)).alias("n_candidates"),
            coalesce(sum(when(col("agree") >= VerifyAgree, 1L)
              .otherwise(0L)), lit(0L)).alias("n_verified"))
          .select(lit(bands.toLong).alias("bands"),
            lit(rpb.toLong).alias("rows_per_band"),
            col("n_candidates"), col("n_verified"))
      }.reduce(_ unionByName _)
        .withColumn("precision_ppm",
          when(col("n_candidates") > 0,
            expr("n_verified * 1000000 div n_candidates")).otherwise(0L))
    }),

    // SimHash: 16-bit signed-sum fingerprint over word hashes.
    "dd_simhash" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).alias("wd"))
        .withColumn("h", h60(col("wd")))
      val bitSums = (0 until 16).map { j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L)).alias(s"s$j")
      }
      val agg = words.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      val sim = (0 until 16).map { j =>
        when(col(s"s$j") > 0, 1L << j).otherwise(0L)
      }.reduce(_ + _)
      agg.select(col("doc_id"), sim.alias("simhash"))
    }),

    // Near-dup clustering: connected components over the LSH candidate
    // pairs via alternating large-star/small-star (Kiveris et al.,
    // "Connected Components in MapReduce and Beyond") — each doc in a
    // pair gets cluster_id = the smallest doc_id reachable through
    // shared band buckets. Unlike plain min-label propagation
    // (component-diameter rounds), the star operators contract paths
    // multiplicatively and converge in O(log n) rounds; each round is
    // a bounded number of shuffles of the edge set (tiny relative to
    // the corpus), never a corpus-wide operation.
    "dd_cluster" -> ((s, d) =>
      clusterLabels(s, d)
        .select(col("id").alias("doc_id"), col("label").alias("cluster_id"))),

    // Near-dup component SIZE HISTOGRAM — the dataset-card table that
    // says whether duplication is a long tail of pairs or a few
    // mega-clusters (template spam, mirrored sites), which decides
    // between keep-one-per-cluster and cluster-cap policies. Rows:
    // one per component size, with the cluster count and the documents
    // they hold; unpaired documents appear as the size-1 row (every
    // closure component has ≥ 2 members, so the union is disjoint).
    // Scale shape: two map-side-combined aggs over dd_cluster's
    // O(paired docs) table down to O(max component size) rows, plus
    // two 1-row count scalars for the singleton row.
    "dd_cluster_stats" -> ((s, d) => {
      val clus = queries("dd_cluster")(s, d)
      val hist = clus.groupBy("cluster_id")
        .agg(count(lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).alias("n_clusters"))
      val total = Tables.documents(s, d).agg(count(lit(1)).alias("tot"))
      val paired = clus.agg(count(lit(1)).alias("pr"))
      val singles = total.crossJoin(paired)
        .select(lit(1L).alias("cluster_size"),
          (col("tot") - col("pr")).alias("n_clusters"))
      hist.unionByName(singles)
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    }),

    // Eval-set decontamination: flag every training document sharing
    // any word-8-gram with the benchmark probe set (here: doc_id ≡ 0
    // mod 7 plays the held-out benchmark). The canonical
    // pre-training hygiene op. Scale shape: the probe side reduces to
    // a distinct set of 8-byte gram hashes — benchmark suites are
    // tiny, so it broadcasts; the training side streams at scan
    // speed through the hash join, and the per-doc count is a
    // map-side-combining agg. No corpus self-join, no corpus shuffle
    // beyond the doc-keyed count.
    // Substring-level duplication measurement (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better",
    // arXiv:2107.06499 — the ExactSubstr idea at word-16-gram
    // granularity, re-expressed relationally instead of via a suffix
    // array): a span is duplicated when its 16-gram appears in ≥2
    // documents; per doc report total spans, duplicated spans, and
    // the duplicated fraction — the signal used to cut boilerplate
    // and templated text. Scale shape: one explode + a
    // map-side-combining df count per distinct gram hash (one 8-byte
    // row per gram crosses the shuffle), one equi-join back, one
    // doc-keyed agg; docs shorter than 16 words take the zero-span
    // left-join branch.
    "dd_span_dedup" -> ((s, d) => {
      // distinct-per-doc gram index, derived from the staged
      // POSITIONAL gram index the span family shares (a distinct of
      // the scanned stage instead of re-tokenizing + re-hashing the
      // corpus). Deliberately distinct-per-doc: here a gram repeated
      // WITHIN one doc counts once (document-level dup fraction),
      // unlike tx_span_strip's positional occ counts.
      val grams = TextQueries.posGrams(s, d)
        .select(col("doc_id"), col("gh")).distinct()
      val dup = grams.groupBy("gh")
        .agg(count(lit(1)).alias("df"))
        .filter(col("df") >= 2)
        .select(col("gh"), lit(true).alias("isdup"))
      // r12 single-aggregate shape: n_spans and n_dup_spans are both
      // facts of the SAME per-doc distinct-gram rows, so one LEFT
      // join against the duplicated-gram set and one doc-keyed
      // aggregate replace the old perDoc + dupPerDoc pair (two
      // aggregates over the gram table and two left joins onto docs
      // → one of each; values identical — an inner-join count of
      // matches equals the left-join sum of hit flags).
      val perDoc = grams.join(dup, Seq("gh"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).alias("n_spans"),
          sum(when(col("isdup"), 1L).otherwise(0L)).alias("n_dup_spans"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).alias("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).alias("n_dup_spans"))
        .withColumn("dup_frac",
          when(col("n_spans") > 0,
            col("n_dup_spans").cast("double") / col("n_spans"))
            .otherwise(0.0))
    }),

    // r13 probe (the r12 "noted, not changed" settled by measurement):
    // the two branches below each re-derive the 8-gram hashes from
    // their own corpus scan — no exchange, no materialized
    // intermediate — and ScaleProbe says the shape holds: ×1/×10/×100
    // steady = 2.82/2.66/3.26 s, skew ≤ 1.5 (wall grows 1.16× at
    // 100× volume on fixed cores). Forcing single derivation would
    // trade that second scan for a corpus-scale exchange or a
    // persisted intermediate — strictly worse per guide §2.3 (scan <
    // shuffle) and the probe shows nothing to win back.
    "dd_decontaminate" -> ((s, d) => {
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.WordShingles(col("text"), 8)).alias("g"))
        .select(col("doc_id"), h60(col("g")).alias("gh"))
      val probe = grams.filter(col("doc_id") % 7 === 0)
        .select(col("gh")).distinct()
      grams.filter(col("doc_id") % 7 =!= 0)
        .join(broadcast(probe), "gh")
        .groupBy("doc_id")
        .agg(count(lit(1)).alias("n_shared"))
    }),

    // Incremental cross-snapshot dedup: dedupe a NEW crawl snapshot
    // (odd doc_ids) against the EXISTING corpus (even doc_ids) —
    // the recurring production job (each crawl dedupes against
    // everything already kept, not against itself). Exact tier:
    // byte-identical content hash. Near tier: LSH band-key join
    // new→old, signature-agreement verify (≥31/32). Verdict per new
    // doc: 'exact' | 'near' | 'keep'. Scale shape: both tiers ride
    // staged artifacts — the exact tier joins the staged content-key
    // table (never re-reads text), and the near tier is a FILTER of
    // the staged verified-pair table (parity-mixed pairs at agree ≥
    // VerifyAgree), because "new doc collides with an old doc in some
    // band and verifies" is exactly an lshAgreePairs row with one odd
    // and one even id. The unstaged equivalent (crossDedup, the
    // spec-driven core) computes the identical rows from scratch.
    "dd_cross_dedup" -> ((s, d) => {
      val keyed = contentKeys(s, d)
      val exactHits = keyed.filter(col("doc_id") % 2 === 1)
        .join(keyed.filter(col("doc_id") % 2 === 0)
          .select(col("k")).distinct(), Seq("k"), "left_semi")
        .select(col("doc_id")).distinct()
      val nearHits = lshAgreePairs(s, d)
        .filter(col("agree") >= VerifyAgree &&
          (col("ida") + col("idb")) % 2 === 1) // exactly one side odd
        .select(when(col("ida") % 2 === 1, col("ida"))
          .otherwise(col("idb")).alias("doc_id"))
        .distinct()
      // the id universe comes from the staged key table too (one row
      // per doc by construction) — no reason to touch the corpus
      keyed.select(col("doc_id"))
        .filter(col("doc_id") % 2 === 1)
        .join(exactHits.withColumn("is_exact", lit(true)),
          Seq("doc_id"), "left")
        .join(nearHits.withColumn("is_near", lit(true)),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact"), "exact")
            .when(col("is_near"), "near")
            .otherwise("keep").alias("verdict"))
    }),

    // The end-to-end dedup operator a training-data pipeline actually
    // runs: LSH candidate generation → signature-agreement VERIFY
    // (est. Jaccard ≥ 31/32 — rejects the weaker collisions) →
    // connected components over verified edges → a corpus-wide
    // verdict: every document gets (keeper = its component minimum,
    // is_dup = would be dropped). Candidate gen + verify + contraction
    // all touch only the candidate graph; the corpus-wide part is one
    // left join of ids against the (tiny) label table.
    "dd_dedup_verdict" -> ((s, d) => {
      // candidate gen + signature verify + star contraction — the
      // whole verified-component derivation — staged once per
      // snapshot (the dd_cluster labels discipline, but over the
      // VERIFIED edge set, which is a different graph than the raw
      // candidate one clusterLabels holds); the verdict itself is
      // one left join of the id universe against the label table
      val labels = StagedIndex.orStage(s,
        s"dd_verdict_labels_v1_$StageFp", d, docsInput(d)) {
        // candidate gen + verify come from the staged lshAgreePairs
        // spine; only the star contraction is built here
        connectedComponents(
          lshAgreePairs(s, d)
            .filter(col("agree") >= VerifyAgree)
            .select(col("ida").alias("src"), col("idb").alias("dst")))
      }
      Tables.documents(s, d).select(col("doc_id"))
        .join(labels, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).alias("keeper"),
          (coalesce(col("label"), col("doc_id")) =!= col("doc_id"))
            .alias("is_dup"))
    }),

    // Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    // MOSS local-fingerprinting algorithm): hash every word 5-gram,
    // slide a 4-hash window, select each window's minimum hash
    // (rightmost on ties — the paper's rule), and report document
    // pairs sharing >= 2 selected fingerprints. Winnowing guarantees
    // any shared run of >= w+k-1 = 8 words produces at least one
    // SHARED fingerprint, so the pair list catches local plagiarism /
    // partial overlap that whole-document signatures dilute. Scale
    // shape: the entire select-in-window pass is per-row array
    // arithmetic at scan speed — ZERO shuffle until the fingerprints
    // explode into the (hash → docs) posting join, whose cost is
    // Σ|posting|² over selected (≈ 1/w of all) grams — the same
    // bounded posting-list class as dd_ngram_jaccard's verifier. The
    // 60-bit md5-prefix gram hash is the engine-portable h60.
    "dd_winnow" -> ((s, d) => {
      // the selection pass is scan-speed but interpreted (HOF array
      // exprs); like the shingle/signature/trigram indexes, the
      // (doc_id, h) fingerprint table is staged once per snapshot so
      // every consumer scans the columnar result
      // per-doc distinct fingerprints — appendable (O(delta) ingest)
      val fps = StagedIndex.orStageAppendable(s, "dd_winnow_fp_v2", d,
        s"$d/documents.parquet") { docs =>
        winnowFingerprintsOf(docs)
      }
      fps.select(col("doc_id").alias("ida"), col("h"))
        .join(fps.select(col("doc_id").alias("idb"), col("h")), Seq("h"))
        .filter(col("ida") < col("idb"))
        .groupBy("ida", "idb")
        .agg(count(lit(1)).alias("shared"))
        .filter(col("shared") >= 2L)
    }),

    // Cross-method agreement matrix: how much do the five pair-
    // producing near-dup detectors (MinHash-LSH, n-gram Jaccard,
    // winnowing, containment, embedding-cosine) agree on WHICH pairs
    // are duplicates? For every method pair: candidates flagged by
    // both, by either, and the agreement Jaccard in micro-units —
    // the calibration table that justifies picking one method's
    // threshold (or ensembling) before a 100-TB run. Every input is
    // an already-oracle-checked query (the staged indexes make them
    // cheap scans), so this oracle composes from the components' own
    // SQL. The pair tables are candidate-sized (tiny): the joins/aggs
    // here never touch the corpus.
    "dd_agreement" -> ((s, d) => {
      // The union below is consumed THREE times (the per-method total
      // plus both sides of the pair self-join) — unstaged, every
      // detector pipeline (two capped-posting self-joins among them)
      // re-evaluated per reference. Stage the method-pair union once
      // per snapshot instead: O(detected pairs) rows, the canonical
      // shared artifact of the detector family. The stage name embeds
      // every knob a leg depends on (MinHash constants fingerprint,
      // the shingle-df cap, the LSH plane count), so a tuned session
      // can never read stale pairs; staged rows ARE the recomputed
      // rows, so the oracle is unaffected.
      val pm = StagedIndex.orStage(s,
        s"dd_method_pairs_v1_${StageFp}_df${maxShingleDf(s)}" +
          s"_p${SimilarityQueries.lshPlanes(s, d)}",
        d, Seq(s"$d/documents.parquet", s"$d/embeddings.parquet")) {
        val methods: Seq[(String, DataFrame)] = Seq(
          "minhash" -> queries("dd_minhash_lsh")(s, d),
          "ngram" -> queries("dd_ngram_jaccard")(s, d),
          "winnow" -> queries("dd_winnow")(s, d),
          "contain" -> queries("dd_containment")(s, d),
          "embed" -> SimilarityQueries.queries("dd_embed_cosine")(s, d))
        methods.map { case (m, df) =>
          df.select(lit(m).alias("m"), col("ida"), col("idb"))
        }.reduce(_ union _)
      }
      val tot = pm.groupBy("m").agg(count(lit(1)).alias("n"))
      val both = pm.select(col("m").alias("m1"), col("ida"), col("idb"))
        .join(pm.select(col("m").alias("m2"), col("ida"), col("idb")),
          Seq("ida", "idb"))
        .filter(col("m1") < col("m2"))
        .groupBy("m1", "m2")
        .agg(count(lit(1)).alias("n_both"))
      // all 10 method pairs, zero-filled where no overlap exists
      // (5-row aggregate × 5-row aggregate — broadcast by design)
      val pairs = tot.select(col("m").alias("m1"), col("n").alias("n1"))
        .crossJoin(broadcast(
          tot.select(col("m").alias("m2"), col("n").alias("n2"))))
        .filter(col("m1") < col("m2"))
      pairs.join(both, Seq("m1", "m2"), "left")
        .select(col("m1"), col("m2"),
          coalesce(col("n_both"), lit(0L)).alias("n_both"),
          (col("n1") + col("n2") - coalesce(col("n_both"), lit(0L)))
            .alias("n_either"))
        .withColumn("jac_micro", expr("(n_both * 1000000) div n_either"))
    }))

  /** Verify-stage threshold: signature agreement (of K) at or above
    * which an LSH candidate pair is accepted as a true near-duplicate.
    */
  final val VerifyAgree = 31

  /** The staged near-dup component labels (id, label) — the iterative
    * star contraction is the one multi-round job in the dedup family,
    * and THREE consumers re-ran it per suite (dd_cluster,
    * dd_cluster_stats, pipe_split → pipe_manifest). Materialized once
    * per snapshot like the signature index it derives from; the stage
    * name embeds the MinHash-constants fingerprint, so a constants
    * change can never read stale labels. O(paired docs) rows.
    */
  private[queries] def clusterLabels(s: SparkSession, d: String): DataFrame =
    StagedIndex.orStage(s, s"dd_cluster_labels_v1_$StageFp", d,
      docsInput(d)) {
      connectedComponents(
        candidatePairs(s, d)
          .select(col("ida").alias("src"), col("idb").alias("dst")))
    }

  /** Winnowing core behind `dd_winnow` (specs drive it on synthetic
    * frames): word-5-gram h60 hashes, window w = 4, rightmost-min
    * selection, distinct (doc_id, h) fingerprints. One kernel call
    * per row (functions.WinnowHashes — md5-speed single
    * pass; the interpreted HOF chain it replaced ran minutes at
    * sf0.1) — zero shuffle up to the returned distinct.
    */
  private[queries] def winnowFingerprintsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.WinnowHashes(col("text"), 5, 4))
          .alias("h"))
      .distinct()

  /** MinHash signatures computed directly from a documents frame —
    * the unstaged pipeline behind `signatures` (specs drive it on
    * synthetic corpora; the query path stages its result to parquet).
    */
  private[queries] def signaturesOf(docs: DataFrame): DataFrame =
    sigFromShingles(docs.select(col("doc_id"),
      graft.functions.WordShingles(col("text"), 3).alias("sh")))

  /** Cross-snapshot dedup core (see the `dd_cross_dedup` entry): NEW
    * snapshot = odd doc_ids, EXISTING corpus = even. Exact tier joins
    * on the full content hash; near tier joins band keys new→old and
    * verifies by signature agreement. One verdict row per new doc.
    */
  private[queries] def crossDedup(docs: DataFrame, sig: DataFrame)
      : DataFrame = {
    val keyed = docs.select(col("doc_id"), md5(col("text")).alias("k"))
    val exactHits = keyed.filter(col("doc_id") % 2 === 1)
      .join(keyed.filter(col("doc_id") % 2 === 0).select(col("k")).distinct(),
        Seq("k"), "left_semi")
      .select(col("doc_id")).distinct()
    val bd = bandedOf(sig)
    val sigArr = array((0 until K).map(i => col(s"m$i")): _*)
    val sa = sig.select(col("doc_id").alias("ida"), sigArr.alias("siga"))
    val sb = sig.select(col("doc_id").alias("idb"), sigArr.alias("sigb"))
    val nearHits = bd.filter(col("doc_id") % 2 === 1).alias("a")
      .join(bd.filter(col("doc_id") % 2 === 0).alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key"))
      .select(col("a.doc_id").alias("ida"), col("b.doc_id").alias("idb"))
      .distinct()
      .join(sa, "ida").join(sb, "idb")
      .filter(size(filter(zip_with(col("siga"), col("sigb"),
        (x, y) => x === y), bb => bb)) >= VerifyAgree)
      .select(col("ida").alias("doc_id")).distinct()
    docs.select(col("doc_id"))
      .filter(col("doc_id") % 2 === 1)
      .join(exactHits.withColumn("is_exact", lit(true)), Seq("doc_id"), "left")
      .join(nearHits.withColumn("is_near", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "exact")
          .when(col("is_near"), "near")
          .otherwise("keep").alias("verdict"))
  }

  /** One large-star step: every node u connects its strictly-larger
    * neighbors to m = min(N(u) ∪ {u}). The per-u minimum is a window
    * aggregate over the symmetrized edge list — one hash-partition
    * shuffle on u, no join.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.unionByName(
      e.select(col("dst").alias("src"), col("src").alias("dst")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    nbrs
      .withColumn("m", least(col("src"), min(col("dst")).over(w)))
      .filter(col("dst") > col("src"))
      .select(col("dst").alias("src"), col("m").alias("dst"))
      .distinct()
  }

  /** One small-star step: orient edges larger→smaller, then every node
    * u connects its smaller neighbors (and itself) to
    * m = min(N_small(u) ∪ {u}). Same one-shuffle window shape.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e
      .select(greatest(col("src"), col("dst")).alias("src"),
        least(col("src"), col("dst")).alias("dst"))
      .filter(col("src") =!= col("dst"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val withM = oriented
      .withColumn("m", least(col("src"), min(col("dst")).over(w)))
    withM.select(col("dst").alias("v"), col("m"))
      .unionByName(withM.select(col("src").alias("v"), col("m")))
      .filter(col("v") =!= col("m"))
      .select(col("v").alias("src"), col("m").alias("dst"))
      .distinct()
  }

  /** Cut iteration lineage each round. Reliable `checkpoint()` (HDFS/
    * object-store dir via `graft.cluster.checkpointDir`) survives
    * executor loss — the right choice for a long job at scale;
    * `localCheckpoint` (default: fast, executor-storage-pinned) is
    * fine for short local runs.
    */
  private def materialize(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    df.sparkSession.conf.getOption("graft.cluster.checkpointDir") match {
      case Some(dir) =>
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** Connected components of an undirected edge list: returns
    * (id, label) for every node appearing in `edges0`, label = the
    * component's minimum node id.
    *
    * Convergence is detected by EXACT edge-set equality between
    * consecutive rounds (count + one-sided exceptAll — both are
    * shuffles of the already-materialized edge set, the same order of
    * cost as a star step), not a lossy checksum: at the fixpoint of
    * large∘small the edge set is a star forest rooted at component
    * minima, so labels read off directly. The round cap is a runaway
    * backstop: star-contraction provably converges in O(log n) rounds,
    * so 60 covers any graph that fits in 64-bit ids; hitting the cap
    * is an error, never a silent partial answer.
    */
  private[queries] def connectedComponents(edges0: DataFrame): DataFrame = {
    val nodes = edges0.select(col("src").alias("id"))
      .unionByName(edges0.select(col("dst").alias("id")))
      .distinct()
    var e = materialize(edges0.select(col("src"), col("dst")).distinct())
    var converged = false
    var iter = 0
    while (!converged && iter < 60) {
      val next = materialize(smallStar(largeStar(e)))
      converged = next.count() == e.count() && next.exceptAll(e).isEmpty
      e = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dd_cluster: star contraction did not converge in $iter rounds")
    // star forest: each non-root points to its component min; roots
    // (and singletons, were any present) label themselves
    nodes
      .join(e.select(col("src").alias("id"), col("dst").alias("label")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).alias("label"))
  }

  // ----------------------------------------------------------------
  // Oracles (DuckDB). Repetitive parts are generated so the constants
  // provably match the Scala side.
  // ----------------------------------------------------------------

  private val sqlShingles =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM docs, UNNEST(range(1, len(w) - 1)) t(i))""".stripMargin

  /** sh → per-shingle df → df-capped posting list `shc`, the oracle
    * twin of [[cappedInvOf]] with the DEFAULT ceiling baked in (a
    * session tuning `graft.dedup.maxShingleDf` diverges from the
    * oracle by design — the SQL replays the default, like CmsWidth).
    * One fragment shared by every posting-join oracle so the ceiling
    * can never drift between them.
    */
  private val sqlCappedPostings: String =
    s"""sdf AS (SELECT s, CAST(count(*) AS BIGINT) AS df
       |        FROM sh GROUP BY 1),
       |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN sdf USING (s)
       |        WHERE sdf.df <= $DefaultMaxShingleDf)""".stripMargin

  private val sqlSignature: String = {
    // per doc: list of shingle hashes reduced mod P, then K minima
    val mins = (0 until K).map { i =>
      s"list_min(list_transform(hs, x -> (x * ${As(i)} + ${Bs(i)}) % $P)) AS m$i"
    }.mkString(",\n       ")
    s"""hashes AS (SELECT doc_id,
       |  list_transform(list_distinct(
       |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |     for i in range(1, len(w) - 1)]),
       |    x -> ${SqlH60("x")} % $P) AS hs
       |  FROM docs
       |  -- docs with <3 words have no shingles: the Spark side drops
       |  -- them (explode of an empty array), so the oracle must too —
       |  -- otherwise NULL minima collapse to band key '' and every
       |  -- short doc pairs with every other one.
       |  WHERE len(w) >= 3),
       |sig AS (SELECT doc_id,
       |       $mins
       |  FROM hashes)""".stripMargin
  }

  /** docs → signatures → band keys, as SQL CTEs (the oracle twin of
    * `banded`).
    */
  private val sqlBandedCtes: String = {
    val bandKeys = (0 until Bands).map { bnd =>
      val parts = (0 until RowsPerBand)
        .map(r => s"m${bnd * RowsPerBand + r}")
      s"SELECT doc_id, $bnd AS band, concat_ws('_', ${parts.mkString(", ")}) AS key FROM sig"
    }.mkString("\n UNION ALL ")
    s"""docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |$sqlSignature,
       |banded AS ($bandKeys)""".stripMargin
  }

  /** …plus distinct candidate pairs (the oracle twin of
    * `candidatePairs`).
    */
  private val sqlCandCtes: String =
    s"""$sqlBandedCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.key = b.key
       |              AND a.doc_id < b.doc_id)""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    "dd_exact" ->
      """SELECT md5(array_to_string(w[1:5], ' ')) AS k,
        |  min(doc_id) AS keeper,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
        |GROUP BY 1 ORDER BY keeper""".stripMargin,

    "dd_ngram_jaccard" ->
      s"""WITH $sqlShingles,
         |$sqlCappedPostings,
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
         |          FROM shc GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |            CAST(count(*) AS BIGINT) AS common
         |          FROM shc a JOIN shc b
         |            ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT ida, idb, common, sa.nsh AS sa, sb.nsh AS sb,
         |  common / (sa.nsh + sb.nsh - common) AS jac
         |FROM pairs
         |JOIN sizes sa ON pairs.ida = sa.doc_id
         |JOIN sizes sb ON pairs.idb = sb.doc_id
         |WHERE common / (sa.nsh + sb.nsh - common) >= 0.3
         |ORDER BY ida, idb""".stripMargin,

    "dd_containment" ->
      s"""WITH $sqlShingles,
         |$sqlCappedPostings,
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
         |          FROM shc GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |            CAST(count(*) AS BIGINT) AS common
         |          FROM shc a JOIN shc b
         |            ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT ida, idb, common,
         |  common / sa.nsh AS cont_a, common / sb.nsh AS cont_b,
         |  greatest(common / sa.nsh, common / sb.nsh) AS max_cont
         |FROM pairs
         |JOIN sizes sa ON pairs.ida = sa.doc_id
         |JOIN sizes sb ON pairs.idb = sb.doc_id
         |WHERE greatest(common / sa.nsh, common / sb.nsh) >= 0.5
         |ORDER BY ida, idb""".stripMargin,

    "dd_minhash_lsh" -> {
      val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
      s"""WITH $sqlCandCtes,
         |sigs AS (SELECT doc_id, $sigList AS sig FROM sig)
         |SELECT ida, idb,
         |  CAST(len(list_filter(range(1, ${K + 1}),
         |    i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS agree,
         |  CAST(len(list_filter(range(1, ${K + 1}),
         |    i -> sa.sig[i] = sb.sig[i])) AS BIGINT) / $K AS est_jaccard
         |FROM cand
         |JOIN sigs sa ON cand.ida = sa.doc_id
         |JOIN sigs sb ON cand.idb = sb.doc_id
         |ORDER BY ida, idb""".stripMargin
    },

    // three banding geometries unrolled over the shared signature
    // CTE; each leg is the dd_minhash_lsh band join + verify count
    "dd_band_sweep" -> {
      val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
      def leg(bands: Int, rpb: Int): String = {
        val bandKeys = (0 until bands).map { bnd =>
          val parts = (0 until rpb).map(r => s"m${bnd * rpb + r}")
          s"SELECT doc_id, $bnd AS band, " +
            s"concat_ws('_', ${parts.mkString(", ")}) AS key FROM sig"
        }.mkString("\n UNION ALL ")
        s"""bd$bands AS ($bandKeys),
           |cd$bands AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           |  FROM bd$bands a JOIN bd$bands b
           |    ON a.band = b.band AND a.key = b.key
           |       AND a.doc_id < b.doc_id),
           |st$bands AS (
           |  SELECT CAST($bands AS BIGINT) AS bands,
           |    CAST($rpb AS BIGINT) AS rows_per_band,
           |    CAST(count(*) AS BIGINT) AS n_candidates,
           |    CAST(coalesce(sum(CASE WHEN len(list_filter(
           |      range(1, ${K + 1}), i -> sa.sig[i] = sb.sig[i]))
           |        >= $VerifyAgree THEN 1 ELSE 0 END), 0) AS BIGINT)
           |      AS n_verified
           |  FROM cd$bands c
           |  JOIN sigs sa ON c.ida = sa.doc_id
           |  JOIN sigs sb ON c.idb = sb.doc_id)""".stripMargin
      }
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
         |             FROM documents),
         |$sqlSignature,
         |sigs AS (SELECT doc_id, $sigList AS sig FROM sig),
         |${Seq((16, 2), (8, 4), (4, 8)).map { case (b, r) => leg(b, r) }
           .mkString(",\n")}
         |SELECT bands, rows_per_band, n_candidates, n_verified,
         |  CASE WHEN n_candidates > 0
         |    THEN CAST(n_verified * 1000000 // n_candidates AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS precision_ppm
         |FROM (SELECT * FROM st16 UNION ALL SELECT * FROM st8
         |      UNION ALL SELECT * FROM st4) u
         |ORDER BY bands""".stripMargin
    },

    "dd_sketch_error" -> {
      val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
      s"""WITH $sqlCandCtes,
         |sigs AS (SELECT doc_id, $sigList AS sig FROM sig),
         |sh AS (SELECT DISTINCT doc_id,
         |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
         |       FROM docs, UNNEST(range(1, len(w) - 1)) t(i)),
         |$sqlCappedPostings,
         |cdocs AS (SELECT ida AS doc_id FROM cand
         |          UNION SELECT idb FROM cand),
         |shcc AS (SELECT shc.doc_id, shc.s
         |         FROM shc JOIN cdocs USING (doc_id)),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh
         |          FROM shcc GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |            CAST(count(*) AS BIGINT) AS common
         |          FROM shcc a JOIN shcc b
         |            ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |err AS (
         |  SELECT c.ida, c.idb,
         |    CAST(len(list_filter(range(1, ${K + 1}),
         |      i -> sa.sig[i] = sb.sig[i])) * 1000000 // $K AS BIGINT)
         |      AS est_micro,
         |    CASE WHEN coalesce(za.nsh, 0) + coalesce(zb.nsh, 0)
         |        - coalesce(p.common, 0) > 0
         |      THEN CAST(coalesce(p.common, 0) * 1000000
         |        // (coalesce(za.nsh, 0) + coalesce(zb.nsh, 0)
         |           - coalesce(p.common, 0)) AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END
         |      AS exact_micro
         |  FROM cand c
         |  JOIN sigs sa ON c.ida = sa.doc_id
         |  JOIN sigs sb ON c.idb = sb.doc_id
         |  LEFT JOIN sizes za ON c.ida = za.doc_id
         |  LEFT JOIN sizes zb ON c.idb = zb.doc_id
         |  LEFT JOIN pairs p ON c.ida = p.ida AND c.idb = p.idb)
         |SELECT CAST(abs(est_micro - exact_micro) // 50000 AS BIGINT)
         |    AS err_bucket,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM err GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "dd_simhash" -> {
      val bitSums = (0 until 16).map { j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n  ")
      val simExpr = (0 until 16).map { j =>
        s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH words AS (
         |  SELECT doc_id, ${SqlH60("wd")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
         |        FROM documents) t),
         |agg AS (SELECT doc_id,
         |  $bitSums
         |  FROM words GROUP BY doc_id)
         |SELECT doc_id, CAST($simExpr AS BIGINT) AS simhash
         |FROM agg ORDER BY doc_id""".stripMargin
    },

    // Connected components as a recursive transitive closure: correct
    // on the candidate-pair graph at oracle scale (components are
    // tiny); the engine side uses star contraction, which computes
    // the same min-reachable-id per node.
    "dd_cluster" ->
      s"""WITH RECURSIVE $sqlCandCtes,
         |edges(a, b) AS (SELECT ida, idb FROM cand
         |                UNION SELECT idb, ida FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // the dd_cluster closure again, rolled up to the size histogram,
    // with the singleton (unpaired) row appended from two count
    // scalars
    "dd_cluster_stats" ->
      s"""WITH RECURSIVE $sqlCandCtes,
         |edges(a, b) AS (SELECT ida, idb FROM cand
         |                UNION SELECT idb, ida FROM cand),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |clus AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a),
         |hist AS (
         |  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |  FROM (SELECT cluster_id, CAST(count(*) AS BIGINT)
         |          AS cluster_size
         |        FROM clus GROUP BY 1) s
         |  GROUP BY 1),
         |sing AS (
         |  SELECT CAST(1 AS BIGINT) AS cluster_size,
         |    CAST((SELECT count(*) FROM documents)
         |      - (SELECT count(*) FROM clus) AS BIGINT) AS n_clusters)
         |SELECT cluster_size, n_clusters,
         |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
         |FROM (SELECT * FROM hist UNION ALL SELECT * FROM sing) u
         |ORDER BY cluster_size""".stripMargin,

    "dd_span_dedup" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
         |             FROM documents),
         |gr AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+15], ' ') AS s
         |       FROM docs, UNNEST(range(1, len(w) - 14)) t(i)
         |       WHERE len(w) >= 16),
         |gh AS (SELECT doc_id, ${SqlH60("s")} AS ghash FROM gr),
         |dup AS (SELECT ghash FROM gh GROUP BY ghash
         |        HAVING count(*) >= 2),
         |per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
         |            FROM gh GROUP BY doc_id),
         |dup_per_doc AS (
         |  SELECT gh.doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
         |  FROM gh JOIN dup ON gh.ghash = dup.ghash
         |  GROUP BY gh.doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.n_spans, 0) AS n_spans,
         |  coalesce(dp.n_dup_spans, 0) AS n_dup_spans,
         |  CASE WHEN coalesce(p.n_spans, 0) > 0
         |    THEN CAST(coalesce(dp.n_dup_spans, 0) AS DOUBLE)
         |      / coalesce(p.n_spans, 0)
         |    ELSE 0.0 END AS dup_frac
         |FROM documents d
         |LEFT JOIN per_doc p ON d.doc_id = p.doc_id
         |LEFT JOIN dup_per_doc dp ON d.doc_id = dp.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "dd_decontaminate" ->
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
         |             FROM documents),
         |gr AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS s
         |       FROM docs, UNNEST(range(1, len(w) - 6)) t(i)
         |       WHERE len(w) >= 8),
         |gh AS (SELECT doc_id, ${SqlH60("s")} AS ghash FROM gr),
         |probe AS (SELECT DISTINCT ghash FROM gh WHERE doc_id % 7 = 0),
         |train AS (SELECT doc_id, ghash FROM gh WHERE doc_id % 7 <> 0)
         |SELECT train.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM train JOIN probe ON train.ghash = probe.ghash
         |GROUP BY train.doc_id ORDER BY doc_id""".stripMargin,

    "dd_cross_dedup" -> {
      val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
      s"""WITH $sqlBandedCtes,
         |sigs AS (SELECT doc_id, $sigList AS sig FROM sig),
         |kk AS (SELECT doc_id, md5(text) AS k FROM documents),
         |exact_hits AS (
         |  SELECT DISTINCT n.doc_id FROM kk n JOIN kk o ON n.k = o.k
         |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0),
         |near_hits AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key
         |  JOIN sigs sa ON sa.doc_id = a.doc_id
         |  JOIN sigs sb ON sb.doc_id = b.doc_id
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         |    AND len(list_filter(range(1, ${K + 1}),
         |          i -> sa.sig[i] = sb.sig[i])) >= $VerifyAgree)
         |SELECT d.doc_id,
         |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
         |       WHEN nh.doc_id IS NOT NULL THEN 'near'
         |       ELSE 'keep' END AS verdict
         |FROM documents d
         |LEFT JOIN exact_hits e ON d.doc_id = e.doc_id
         |LEFT JOIN near_hits nh ON d.doc_id = nh.doc_id
         |WHERE d.doc_id % 2 = 1
         |ORDER BY d.doc_id""".stripMargin
    },

    "dd_dedup_verdict" -> {
      val sigList = (0 until K).map(i => s"m$i").mkString("[", ", ", "]")
      s"""WITH RECURSIVE $sqlCandCtes,
         |sigs AS (SELECT doc_id, $sigList AS sig FROM sig),
         |verified AS (
         |  SELECT ida, idb FROM cand
         |  JOIN sigs sa ON cand.ida = sa.doc_id
         |  JOIN sigs sb ON cand.idb = sb.doc_id
         |  WHERE len(list_filter(range(1, ${K + 1}),
         |    i -> sa.sig[i] = sb.sig[i])) >= $VerifyAgree),
         |edges(a, b) AS (SELECT ida, idb FROM verified
         |                UNION SELECT idb, ida FROM verified),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS id, least(a, min(b)) AS label
         |           FROM reach GROUP BY a)
         |SELECT d.doc_id,
         |  coalesce(l.label, d.doc_id) AS keeper,
         |  coalesce(l.label, d.doc_id) <> d.doc_id AS is_dup
         |FROM documents d LEFT JOIN labels l ON d.doc_id = l.id
         |ORDER BY d.doc_id""".stripMargin
    },

    // the same winnowing pass relationally: every gram joins to the
    // windows it can win (p-3 <= j <= p), rightmost-min per window
    // via row_number (h ASC, p DESC), shared-fingerprint pair counts
    "dd_winnow" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
        |              FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS p,
        |    CAST(('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),
        |      1, 15)) AS BIGINT) AS h,
        |    len(w) - 4 AS m
        |  FROM docs, UNNEST(range(1, len(w) - 3)) t(i)
        |  WHERE len(w) >= 5),
        |wj AS (
        |  SELECT doc_id, p, h, j
        |  FROM g, UNNEST(range(greatest(1, p - 3),
        |                       least(m - 3, p) + 1)) t(j)
        |  WHERE m >= 4),
        |sel AS (
        |  SELECT DISTINCT doc_id, h FROM (
        |    SELECT doc_id, j, h,
        |      row_number() OVER (PARTITION BY doc_id, j
        |        ORDER BY h ASC, p DESC) AS rn
        |    FROM wj) t
        |  WHERE rn = 1)
        |SELECT a.doc_id AS ida, b.doc_id AS idb,
        |  CAST(count(*) AS BIGINT) AS shared
        |FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin)

  // composed from the five components' own oracles (each embeds its
  // full WITH chain as a derived table, the pipe_curate pattern)
  lazy val oracles: Map[String, String] = baseOracles +
    ("dd_agreement" -> {
      val union = Seq(
        "minhash" -> baseOracles("dd_minhash_lsh"),
        "ngram" -> baseOracles("dd_ngram_jaccard"),
        "winnow" -> baseOracles("dd_winnow"),
        "contain" -> baseOracles("dd_containment"),
        "embed" -> SimilarityQueries.oracles("dd_embed_cosine"))
        .map { case (m, sql) =>
          s"SELECT '$m' AS m, ida, idb FROM ($sql)"
        }
        .mkString("\nUNION ALL\n")
      s"""WITH pm AS (
         |$union),
         |tot AS (SELECT m, CAST(count(*) AS BIGINT) AS n
         |        FROM pm GROUP BY 1),
         |b AS (SELECT a.m AS m1, c.m AS m2,
         |        CAST(count(*) AS BIGINT) AS nb
         |      FROM pm a JOIN pm c
         |        ON a.ida = c.ida AND a.idb = c.idb AND a.m < c.m
         |      GROUP BY 1, 2)
         |SELECT m1, m2, coalesce(nb, 0) AS n_both,
         |  n1 + n2 - coalesce(nb, 0) AS n_either,
         |  (coalesce(nb, 0) * 1000000)
         |    // (n1 + n2 - coalesce(nb, 0)) AS jac_micro
         |FROM (SELECT t1.m AS m1, t1.n AS n1, t2.m AS m2, t2.n AS n2
         |      FROM tot t1, tot t2 WHERE t1.m < t2.m) p
         |LEFT JOIN b USING (m1, m2)
         |ORDER BY 1, 2""".stripMargin
    })
}
