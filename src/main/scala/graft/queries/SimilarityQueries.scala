package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Similarity search over the `embeddings` table (dim-64 float
  * vectors): brute-force cosine top-k as the exactness baseline, and
  * a hyperplane-LSH bucketed variant as the scale path.
  *
  * Exactness strategy: vectors are quantized to integer 1e-4 grid
  * (`round(x * 10000)`), so dot products and squared norms are exact
  * int64 arithmetic (dim 64 × 1e8 max per term ≪ 2^63) and identical
  * in any engine; the cosine is then one deterministic double
  * division. Ranking ties break on vec_id.
  *
  * Scale notes (100 TB): brute force is O(Q×N) — fine when the query
  * set is broadcast (it is: the probe side is a small isin-filtered
  * set, Catalyst broadcasts it). The LSH variant is the real ANN
  * shape: bucket by sign bits against shared hyperplanes, shuffle
  * once on bucket id, search inside buckets only. An IVF variant
  * would swap sign-buckets for nearest-centroid assignment; the
  * partitioning story is identical.
  */
object SimilarityQueries {

  final val Dim = 64
  final val TopK = 10
  final val KnnK = 3   // neighbors per vector in the kNN graph
  final val PrIters = 3 // unrolled PageRank iterations (graph_pagerank)
  final val LpIters = 2   // unrolled label-propagation rounds
  final val LpSeedMod = 4 // vec_id % LpSeedMod == 0 keeps its seed label
  final val CoreK = 3     // k-core threshold (undirected kNN degree)
  final val CoreIters = 3 // unrolled peeling rounds (graph_core)
  final val Sq8Shortlist = 50 // SQ8 shortlist default (oracle replays this)

  /** SQ8 integer-score shortlist width before the exact rerank —
    * session-configurable like `graft.pq.shortlist`; the DuckDB
    * oracle hard-codes the default (Verify refuses a tuned knob).
    */
  private def sq8Shortlist(s: SparkSession): Int = {
    val n = s.conf.get("graft.sq8.shortlist", Sq8Shortlist.toString).toInt
    require(n > 0 && n <= (1 << 20),
      s"graft.sq8.shortlist must be in (0, 2^20], got $n")
    n
  }
  final val NQueries = 5   // probe vectors: vec_id < 5
  final val MrlDim = 16        // Matryoshka prefix dims (stage-1 scan)
  final val MrlShortlist = 50  // stage-1 shortlist width per probe

  /** MRL stage-1 shortlist width — session-configurable like
    * `graft.pq.shortlist`; the DuckDB oracle hard-codes the default
    * (Verify refuses a tuned knob).
    */
  private def mrlShortlist(s: SparkSession): Int = {
    val n = s.conf.get("graft.mrl.shortlist", MrlShortlist.toString).toInt
    require(n > 0 && n <= (1 << 20),
      s"graft.mrl.shortlist must be in (0, 2^20], got $n")
    n
  }
  final val NPlanes = 6    // LSH oracle constant: 2^6 = 64 buckets
  final val NCentroids = 8 // IVF oracle constant: centroid seeds

  /** Auto-derivation targets. The ×100 probe proved 2^planes must
    * track corpus size (with planes fixed, bucket population grows
    * linearly in N and the within-bucket join quadratically —
    * sim_knn_graph's super-linear ×100 point), and sum(|cell|²)
    * likewise wants |cell| constant, so when the knobs are UNSET the
    * defaults are computed from the corpus count instead of being
    * constants a 100-TB user must know to override. Targets are
    * chosen so the oracle corpus (N=500 at sf0.01) derives exactly
    * the constants the DuckDB SQL hard-codes (6 planes, 8 cells);
    * Verify additionally pins the knobs explicitly, so verification
    * never depends on that coincidence.
    */
  final val TargetBucketPop = 8L  // mean vectors per LSH bucket
  final val TargetCellPop = 64L   // mean vectors per k-means cell

  /** ceil(log2(N / TargetBucketPop)) clamped to [1, 20]. */
  private[queries] def derivedPlanes(n: Long): Int = {
    val ratio = math.max(1L, n).toDouble / TargetBucketPop
    val raw = math.ceil(math.log(ratio) / math.log(2.0)).toInt
    math.min(20, math.max(1, raw))
  }

  /** ceil(N / TargetCellPop) clamped to [1, 2^20]. */
  private[queries] def derivedCells(n: Long): Int = {
    val raw = (math.max(1L, n) + TargetCellPop - 1) / TargetCellPop
    math.min(1L << 20, math.max(1L, raw)).toInt
  }

  /** Corpus count behind the derived defaults — one count job per
    * (session, input dir), memoized; stopped sessions evicted.
    */
  private val embCountMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Long]
  private def embCount(s: SparkSession, d: String): Long = {
    embCountMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    embCountMemo.getOrElseUpdate((s, d), Tables.embeddings(s, d).count())
  }

  /** Drop the memoized corpus counts. Called by
    * [[StagedIndex.refreshTokens]]: after an in-place rewrite of
    * embeddings.parquet the derived lsh.planes / kmeans.cells (and the
    * plane/cell-suffixed stage names they feed) must re-derive from
    * the NEW count — the same staleness class refreshTokens already
    * clears for the BPE frame memo.
    */
  private[queries] def clearEmbCountMemo(): Unit = embCountMemo.clear()

  /** Hyperplane-count knob (`graft.lsh.planes`; unset ⇒ derived from
    * the corpus count, see [[derivedPlanes]] — the oracle replays
    * [[NPlanes]], which Verify pins). Raising it leaves every plan
    * shape unchanged (the plane table is a ≤20-row broadcast and
    * buckets stay hash-partitioned keys).
    */
  private[queries] def lshPlanes(s: SparkSession, d: String): Int =
    s.conf.getOption("graft.lsh.planes") match {
      case Some(v) =>
        val n = v.toInt
        // bucket ids are 2^planes longs; 20 keeps the bit weights
        // exact and the plane broadcast trivial
        require(n >= 1 && n <= 20,
          s"graft.lsh.planes must be in [1, 20], got $n")
        n
      case None => derivedPlanes(embCount(s, d))
    }

  /** integer-quantized embedding: array<long>.
    *
    * Both engines MUST multiply in DOUBLE before rounding: Spark
    * promotes the float32 element to double here, but DuckDB's
    * FLOAT * INTEGER stays single-precision, which rounds a handful
    * of products to a different integer (first seen as a sf0.1
    * sim_knn_graph mismatch on vectors no thresholded/top-k query
    * happened to compare) — so the oracle's sqlQuant carries an
    * explicit CAST(x AS DOUBLE).
    */
  private def quant(c: Column): Column =
    transform(c, x => round(x * 10000, 0).cast(LongType))

  // one static loop inside whole-stage codegen — the
  // aggregate(zip_with(...)) HOF form is interpreted and allocates a
  // products array per pair (see functions.DotProduct)
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct(a, b)

  /** cosine from exact integer parts — bit-identical across engines */
  private def cosine(d: Column, na: Column, nb: Column): Column =
    d / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** Staged to parquet once per input dir (StagedIndex): every
    * similarity query references this frame 2-5 times (probes,
    * assignment, both self-join sides), and the interpreted
    * transform() quantization would otherwise re-run per reference —
    * the same re-evaluation multiplier measured and fixed for the
    * shingle index (DedupQueries.shingled). Unlike the old in-session
    * persist, the staged table also survives the bench's per-query
    * clearCache isolation and session restarts; each reference is a
    * columnar scan of (vec_id, q, n2).
    */
  private def quantized(s: SparkSession, dir: String): DataFrame =
    // per-row artifact — appendable: new embedding part files
    // quantize as a delta, the rest chains in from the prior stage
    StagedIndex.orStageAppendable(s, "sim_quantized_v1", dir,
      s"$dir/embeddings.parquet") { embs =>
      embs
        .select(col("vec_id"), quant(col("embedding")).alias("q"))
        .withColumn("n2", dot(col("q"), col("q")))
    }

  /** Brute-force cosine top-k for a broadcast probe set — the exact
    * baseline (and the ground truth `sim_recall_at_k` scores ANN
    * variants against).
    *
    * Staged once per snapshot: SIX queries consume this table
    * (sim_cosine_topk itself, and the recall/audit family —
    * rrf_fusion, recall_at_k, multiprobe_recall, nprobe_sweep,
    * planes_sweep — each scoring an ANN variant against the same
    * exact truth), and unstaged each re-ran the O(Q×N) brute-force
    * scan + rank per query (~5.5 s of the r9 114 s bench doing
    * repeated identical work). The truth table is one artifact per
    * snapshot by construction — at 100 TB it is THE thing you
    * compute once and keep next to the index it audits. The stage
    * name carries k and the probe-set fingerprint (vec_id <
    * NQueries), so retuning either restages; ≤ NQueries × TopK rows.
    */
  private def cosineTopK(s: SparkSession, d: String): DataFrame =
    StagedIndex.orStage(s, s"sim_exact_topk_k${TopK}_q${NQueries}_v1", d,
      Seq(s"$d/embeddings.parquet")) {
      val all = quantized(s, d)
      val probes = all.filter(col("vec_id") < NQueries)
        .select(col("vec_id").alias("qid"), col("q").alias("qq"),
          col("n2").alias("qn2"))
      val scored = all.join(broadcast(probes), col("vec_id") =!= col("qid"))
        .withColumn("dp", dot(col("qq"), col("q")))
        .withColumn("cos", cosine(col("dp"), col("qn2"), col("n2")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      scored
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("rk"), col("vec_id"), col("dp"), col("cos"))
    }

  /** Per-probe lexical top-k: the probe DOCUMENT's distinct terms act
    * as the query, candidates score by the same exact-rational BM25
    * micro-units tx_bm25_topk pins (integer floor per (doc, term)
    * BEFORE the sum, so the cross-row sum is shuffle-order-
    * independent). Scale shape: the probe term set is bounded by a
    * constant number of probe documents, so it broadcasts; the
    * corpus-side tf/df/dlen tables are the standard retrieval
    * aggregates (doc- and term-keyed, map-side combined); the
    * per-probe rank is a `row_number <= k` window that
    * WindowGroupLimit bounds — retrieval cost is posting-list-sized
    * (Σ df over probe terms), the inherent cost of running a query.
    */
  private def lexicalTopK(s: SparkSession, d: String): DataFrame =
    // staged with the exact vector truth (same rationale): the
    // lexical rank list is deterministic per snapshot and bounded at
    // NQueries × TopK rows — sim_rrf_fusion's fusion join reads two
    // tiny staged rank lists instead of re-running the BM25 corpus
    // aggregates per bench sample
    StagedIndex.orStage(s, s"sim_lexical_topk_k${TopK}_q${NQueries}_v1", d,
      Seq(s"$d/documents.parquet")) {
      // tf/dlen/dft/stats and the micro-unit score come from the shared
      // TextQueries.bm25Corpus/bm25Micro definition (single source of
      // truth with tx_bm25_topk — see the Scaladoc there)
      val c = TextQueries.bm25Corpus(Tables.documents(s, d))
      val probeTerms = c.toks.filter(col("doc_id") < NQueries).distinct()
        .select(col("doc_id").alias("qid"), col("term"))
      val scored = c.tf.join(broadcast(probeTerms), "term")
        .filter(col("doc_id") =!= col("qid"))
        .join(c.dft, "term")
        .join(c.dlen, "doc_id")
        .crossJoin(broadcast(c.stats))
        .select(col("qid"), col("doc_id"), TextQueries.bm25Micro.alias("sm"))
        .groupBy("qid", "doc_id")
        .agg(sum(col("sm")).alias("lex_micro"))
      val wL = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("lex_micro").desc, col("doc_id").asc)
      scored
        .withColumn("lex_rank", row_number().over(wL).cast(LongType))
        .filter(col("lex_rank") <= TopK)
        .select(col("qid"), col("doc_id"), col("lex_rank"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_cosine_topk" -> (cosineTopK(_, _)),

    // Hybrid retrieval via reciprocal rank fusion (Cormack, Clarke &
    // Buettcher 2009): for each probe document, fuse its lexical
    // (doc-as-query BM25) and vector (cosine) top-k lists by
    // rrf = Σ floor(1e6 / (60 + rank)) — rank-only fusion, so the
    // incomparable score scales of the two retrievers never meet, and
    // the integer division makes the fused score exact in any engine.
    // A document in only one list contributes only that list's term
    // (the standard RRF convention). Scale shape: both inputs are
    // already-bounded rank lists (≤ probes × k rows each), fused by a
    // full-outer equi-join and re-ranked by a WindowGroupLimit-bounded
    // row_number — everything after the component retrievals is
    // constant-sized.
    "sim_rrf_fusion" -> ((s, d) => {
      val lex = lexicalTopK(s, d)
      val vec = cosineTopK(s, d)
        .select(col("qid"), col("vec_id").alias("doc_id"),
          col("rk").alias("vec_rank"))
      val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
      val wF = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("rrf_micro").desc, col("doc_id").asc)
      fused
        .withColumn("rk", row_number().over(wF).cast(LongType))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("rk"), col("doc_id"), col("lex_rank"),
          col("vec_rank"), col("rrf_micro"))
    }),

    // Hyperplane-LSH buckets: sign of dot(v, plane_s) for 6 shared
    // hyperplanes (planes = quantized vectors 0..5 — deterministic,
    // data-derived, available to the oracle). One row per vector
    // with its bucket, plus bucket population — the partition-level
    // statistic an ANN search plans with.
    "sim_lsh_bucket" -> ((s, d) => {
      val all = quantized(s, d)
      val planes = all.filter(col("vec_id") < lshPlanes(s, d))
        .select(col("vec_id").alias("pid"), col("q").alias("pq"))
      val bucketed = all.crossJoin(broadcast(planes))
        .withColumn("bit",
          when(dot(col("q"), col("pq")) > 0,
            pow(lit(2.0), col("pid")).cast(LongType)).otherwise(0L))
        .groupBy(col("vec_id"))
        .agg(sum(col("bit")).alias("bucket"))
      bucketed
        .groupBy("bucket")
        .agg(count(lit(1)).alias("pop"),
          min(col("vec_id")).alias("min_vec"),
          max(col("vec_id")).alias("max_vec"))
    }),

    // Embedding-cosine near-duplicate pairs: candidates from shared
    // LSH bucket (no full O(N^2) pair scan), exact integer dot
    // re-rank, threshold on cosine. The dedup-by-embedding operator
    // of a training-data pipeline.
    "dd_embed_cosine" -> ((s, d) => {
      val all = quantized(s, d)
      val planes = all.filter(col("vec_id") < lshPlanes(s, d))
        .select(col("vec_id").alias("pid"), col("q").alias("pq"))
      val withBucket = all.crossJoin(broadcast(planes))
        .withColumn("bit",
          when(dot(col("q"), col("pq")) > 0,
            pow(lit(2.0), col("pid")).cast(LongType)).otherwise(0L))
        .groupBy(col("vec_id"))
        .agg(sum(col("bit")).alias("bucket"))
        .join(all, "vec_id")
      val a = withBucket.select(col("bucket"), col("vec_id").alias("ida"),
        col("q").alias("qa"), col("n2").alias("na"))
      val b = withBucket.select(col("bucket"), col("vec_id").alias("idb"),
        col("q").alias("qb"), col("n2").alias("nb"))
      a.join(b, Seq("bucket")).filter(col("ida") < col("idb"))
        .withColumn("cos", cosine(dot(col("qa"), col("qb")),
          col("na"), col("nb")))
        // 0.35: high enough to mean "near-duplicate" on this synthetic
        // corpus (max observed pair cosine ≈ 0.51), low enough that the
        // result set is non-empty and the oracle check is substantive
        .filter(col("cos") >= 0.35)
        .select(col("ida"), col("idb"), col("cos"))
    }),

    // Threshold calibration sweep: how many near-dup pairs would each
    // candidate cosine threshold flag? The curve an operator reads
    // before committing a dedup threshold to a 100-TB run (too low →
    // mass false-merges, too high → misses) — the dd_embed_cosine
    // pipeline with the threshold swept instead of fixed. Scale
    // shape: the bucketed pair scan happens ONCE; pairs collapse to a
    // ≤200-row 1%-bin histogram (map-side combined), and the
    // per-threshold cumulative counts come from joining that tiny
    // aggregate against a 5-row literal threshold table — the corpus
    // is never rescanned per threshold. floor(cos·100) is the same
    // double expression in both engines, so binning is exact.
    "sim_threshold_sweep" -> ((s, d) => {
      val all = quantized(s, d)
      val planes = all.filter(col("vec_id") < lshPlanes(s, d))
        .select(col("vec_id").alias("pid"), col("q").alias("pq"))
      val withBucket = all.crossJoin(broadcast(planes))
        .withColumn("bit",
          when(dot(col("q"), col("pq")) > 0,
            pow(lit(2.0), col("pid")).cast(LongType)).otherwise(0L))
        .groupBy(col("vec_id"))
        .agg(sum(col("bit")).alias("bucket"))
        .join(all, "vec_id")
      val a = withBucket.select(col("bucket"), col("vec_id").alias("ida"),
        col("q").alias("qa"), col("n2").alias("na"))
      val b = withBucket.select(col("bucket"), col("vec_id").alias("idb"),
        col("q").alias("qb"), col("n2").alias("nb"))
      val hist = a.join(b, Seq("bucket")).filter(col("ida") < col("idb"))
        .withColumn("cos", cosine(dot(col("qa"), col("qb")),
          col("na"), col("nb")))
        .select(floor(col("cos") * 100).cast(LongType).alias("bin"))
        .groupBy("bin").agg(count(lit(1)).alias("n"))
      import s.implicits._
      val taus = (20L to 50L by 5L).toDF("tau_pct")
      hist.join(broadcast(taus), col("bin") >= col("tau_pct"))
        .groupBy("tau_pct")
        .agg(sum(col("n")).alias("n_pairs"))
    }),

    // IVF variant: assign every vector to its nearest centroid
    // (centroids = quantized vectors 0..7 — deterministic, available
    // to the oracle), then search only the probe's cell. Same
    // partition-once-search-locally shape as production IVF; a real
    // deployment would learn centroids with k-means and probe
    // multiple cells.
    "sim_ivf_ann" -> ((s, d) => {
      val all = quantized(s, d)
      val cents = all.filter(col("vec_id") < NCentroids)
        .select(col("vec_id").alias("cid"), col("q").alias("cq"),
          col("n2").alias("cn2"))
      val wAssign = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("dist2").asc, col("cid").asc)
      val assigned = all.crossJoin(broadcast(cents))
        // dist^2 = |v|^2 + |c|^2 - 2<v,c> — exact ints
        .withColumn("dist2",
          col("n2") + col("cn2") - lit(2L) * dot(col("q"), col("cq")))
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").alias("cell"), col("q"), col("n2"))
      val probes = assigned.filter(col("vec_id") < NQueries)
        .select(col("vec_id").alias("qid"), col("cell").alias("qcell"),
          col("q").alias("qq"), col("n2").alias("qn2"))
      val scored = assigned
        .join(broadcast(probes),
          col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
        .withColumn("cos", cosine(dot(col("qq"), col("q")),
          col("qn2"), col("n2")))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      scored
        .withColumn("rk", row_number().over(wRank).cast(LongType))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
    }),

    // IVF with LEARNED centroids + multi-probe — the production IVF
    // shape sim_ivf_ann's comment promises: seed centroids (vectors
    // 0..7), one Lloyd step (per-cell integer mean, floor-exact and
    // engine-portable), re-assign against the learned centroids, then
    // search the probe's 2 nearest cells (multi-probe recovers recall
    // lost at cell boundaries). Everything before the final top-k is
    // integer arithmetic, so the DuckDB oracle replays it exactly.
    // Scale shape: centroid learning is one explode + keyed agg over
    // (cell, pos) — map-side combining, centroid table stays tiny and
    // broadcast; the corpus shuffles once per assignment.
    "sim_ivf_kmeans" -> (ivfKmeans(_, _)),

    // Measure, don't guess: recall@k of the learned-centroid IVF
    // against the exact brute-force top-k — the quality gate an ANN
    // deployment watches. Both sides are deterministic pipelines, so
    // even the recall numbers are oracle-checkable.
    "sim_recall_at_k" -> ((s, d) => {
      val exact = cosineTopK(s, d).select(col("qid"), col("vec_id"))
      val approx = ivfKmeans(s, d)
        .select(col("qid").alias("aq"), col("vec_id").alias("av"))
      exact.join(broadcast(approx),
          col("qid") === col("aq") && col("vec_id") === col("av"), "left")
        .groupBy("qid")
        .agg(count(col("av")).alias("hits"))
        .withColumn("recall", col("hits").cast("double") / lit(TopK))
    }),

    "sim_lsh_ann" -> (lshAnn(_, _)),

    // multi-probe variant (see multiProbeAnn's Scaladoc): same
    // corpus-side plan, extra one-bit-flip buckets per probe
    "sim_multiprobe_ann" -> (multiProbeAnn(_, _)),

    // What multi-probe buys: per-probe recall@k of the single-probe
    // and multi-probe LSH searches against brute-force truth — the
    // table an operator reads before deciding whether boundary
    // recall needs more probes or more planes. All three component
    // pipelines are the already-audited shapes; the comparison
    // itself is two semi-joins against the ≤ probes×k truth rows.
    "sim_multiprobe_recall" -> ((s, d) => {
      val truth = cosineTopK(s, d).select(col("qid"), col("vec_id"))
      val single = lshAnn(s, d).select(col("qid"), col("vec_id"))
      val multi = multiProbeAnn(s, d).select(col("qid"), col("vec_id"))
      val base = truth.groupBy("qid").agg(count(lit(1)).alias("k"))
      val hs = truth.join(single, Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).alias("hits_single"))
      val hm = truth.join(multi, Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).alias("hits_multi"))
      base
        .join(hs, Seq("qid"), "left")
        .join(hm, Seq("qid"), "left")
        .select(col("qid"), col("k"),
          coalesce(col("hits_single"), lit(0L)).alias("hits_single"),
          coalesce(col("hits_multi"), lit(0L)).alias("hits_multi"))
        .withColumn("recall_single_ppm",
          expr("hits_single * 1000000 div k"))
        .withColumn("recall_multi_ppm",
          expr("hits_multi * 1000000 div k"))
    }),

    // Recall-vs-plane-count tuning curve — the audit table behind the
    // graft.lsh.planes knob (the ×100 scale probe's one super-linear
    // finding: fixed 2^6 buckets make the within-bucket join
    // quadratic as the corpus grows; PLANS.md "×1/×10/×100"). For
    // planes ∈ {4, 6, 8}: bucket the corpus, take each probe's
    // same-bucket cosine top-k, and score recall@k against the
    // brute-force truth — the measurement that says how much recall a
    // finer (cheaper-at-scale) bucketing costs BEFORE committing the
    // knob for a 100-TB run. Same composition discipline as
    // sim_nprobe_sweep: every leg is the already-oracled lshAnn shape
    // at a different constant, hits via one semi-join per leg against
    // the shared exact table, O(1) result rows.
    "sim_planes_sweep" -> ((s, d) => {
      val exact = cosineTopK(s, d).select(col("qid"), col("vec_id"))
      val total = exact.agg(count(lit(1)).alias("total"))
      Seq(4, 6, 8).map { p =>
        lshAnnAt(s, d, p).select(col("qid"), col("vec_id"))
          .join(exact, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).alias("hits"))
          .withColumn("planes", lit(p.toLong))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(total))
        .withColumn("recall_ppm", expr("hits * 1000000 div total"))
        .select(col("planes"), col("hits"), col("total"),
          col("recall_ppm"))
    }),

    // Product quantization (Jégou et al. 2011, "Product Quantization
    // for Nearest Neighbor Search"), production shape: split dim-64
    // vectors into 4 16-dim subspaces, encode each sub-vector as its
    // nearest sub-centroid id (codebook = the seed vectors'
    // sub-vectors), score probes by asymmetric distance computation —
    // probe sub-vector · sub-centroid once (a 5×4×8-row LUT), then
    // approx_dot(v) = Σ_m LUT[m, code_m(v)] — and exact-rerank the
    // ADC top-`graft.pq.shortlist` shortlist to the final top-k (the
    // IVF-PQ deployment pattern: codes give a cheap shortlist, full
    // vectors are only touched for shortlist members). The
    // memory-compression scale path: at 100 TB each vector is 4 bytes
    // of codes instead of 256 bytes of floats; codebook, LUT, and
    // shortlist all broadcast; the full-vector table is only probed
    // by the (tiny) shortlist join. All integer arithmetic until the
    // final cosine, so the oracle replays it exactly.
    "sim_pq_ann" -> (pqAnn(_, _)),

    // PQ codebook health: per (subspace, code) population and
    // within-subspace share — the sim_centroid_balance twin for the
    // product-quantizer. A code soaking up most of its subspace
    // means the sub-centroids don't span the data (ADC distances
    // collapse, recall dies quietly); this is the table to read
    // before trusting sim_pq_ann/sim_ivfpq_ann shortlists at a new
    // scale. Scale shape: the encode is the audited PQ shape
    // (broadcast codebook, per-(vector, subspace) rank-1 window);
    // everything after is a PqM×NCentroids-row roll-up.
    "sim_pq_code_balance" -> ((s, d) => {
      val (codes, _) = pqCodesLut(s, d)
      val pop = codes.groupBy("m", "cid")
        .agg(count(lit(1)).alias("n_vecs"))
      val tot = pop.groupBy("m").agg(sum("n_vecs").alias("mtot"))
      pop.join(tot, "m")
        .select(col("m").cast(LongType).alias("m"), col("cid"),
          col("n_vecs"),
          expr("n_vecs * 1000000 div mtot").alias("share_ppm"))
    }),

    "sim_ivfpq_ann" -> (ivfPqAnn(_, _)),

    // Matryoshka two-stage retrieval (Kusupati et al. 2022,
    // "Matryoshka Representation Learning"): MRL-trained embeddings
    // concentrate signal in their prefix dimensions, so stage 1
    // scores every candidate with only the FIRST MrlDim of Dim
    // coordinates — a 4× narrower scan, the adaptive-retrieval
    // deployment pattern MRL papers ship — keeps the per-probe
    // cosine shortlist of MrlShortlist, and stage 2 exact-reranks
    // only the shortlist with full-width vectors. Scale shape: the
    // prefix table is a narrow projection of the staged quantized
    // index (at 100 TB it would be its own staged column family);
    // probes broadcast in both stages; the shortlist is
    // probes × MrlShortlist rows, so the full-width table is touched
    // through one small equi-join; both ranks are
    // WindowGroupLimit-prunable row_number ≤ k filters.
    "sim_mrl_ann" -> ((s, d) => {
      val all = quantized(s, d)
      val pref = all.select(col("vec_id"),
          slice(col("q"), 1, MrlDim).alias("p"))
        .withColumn("pn2", dot(col("p"), col("p")))
      val probesP = pref.filter(col("vec_id") < NQueries)
        .select(col("vec_id").alias("qid"), col("p").alias("pp"),
          col("pn2").alias("ppn2"))
      val wC = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("ccos").desc, col("vec_id").asc)
      val short = pref.join(broadcast(probesP), col("vec_id") =!= col("qid"))
        .withColumn("ccos", cosine(dot(col("pp"), col("p")),
          col("ppn2"), col("pn2")))
        .withColumn("crk", row_number().over(wC))
        .filter(col("crk") <= mrlShortlist(s))
        .select(col("qid"), col("vec_id"))
      val probesF = all.filter(col("vec_id") < NQueries)
        .select(col("vec_id").alias("qid"), col("q").alias("qq"),
          col("n2").alias("qn2"))
      val wF = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      short.join(all, "vec_id")
        .join(broadcast(probesF), "qid")
        .withColumn("cos", cosine(dot(col("qq"), col("q")),
          col("qn2"), col("n2")))
        .withColumn("rk", row_number().over(wF).cast(LongType))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
    }),

    // Filtered (hybrid) vector search — the vector-DB pattern where a
    // metadata predicate and a similarity query compose: top-k ONLY
    // over vectors whose document passes the filter (here lang='en').
    // Post-filtering a plain ANN top-k under-returns when the
    // predicate is selective; filtering BEFORE the search is the
    // correct semantics and the scale shape is unchanged — the
    // predicate side reduces to a key list that equi-joins the vector
    // table (colocatable on the shared id at 100 TB), probes stay
    // broadcast.
    "sim_filtered_ann" -> ((s, d) => {
      val all = quantized(s, d)
      val keep = Tables.documents(s, d)
        .filter(col("lang") === "en")
        .select(col("doc_id").alias("vec_id"))
      val probes = all.filter(col("vec_id") < NQueries)
        .select(col("vec_id").alias("qid"), col("q").alias("qq"),
          col("n2").alias("qn2"))
      val scored = all.join(keep, "vec_id")
        .join(broadcast(probes), col("vec_id") =!= col("qid"))
        .withColumn("cos", cosine(dot(col("qq"), col("q")),
          col("qn2"), col("n2")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      scored
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // deduplication — k-means-cluster the embedding space, then call a
    // vector a duplicate when a lower-id member of the SAME cluster is
    // within cosine >= SemThresh; the keeper is the smallest such
    // neighbor. The pairwise scan never leaves a cell, so the cost is
    // sum(|cell|^2), not N^2 — the same partition-once-search-locally
    // shape as IVF, and at 100 TB the cell count scales with the
    // corpus so cells stay bounded. One corpus-wide verdict row per
    // vector (vec_id, cell, keeper, is_dup).
    "dd_semdedup" -> ((s, d) => {
      val assigned = kmeansAssign(s, d)
      val a = assigned.select(col("cell"), col("vec_id"),
        col("q"), col("n2"))
      val b = assigned.select(col("cell"), col("vec_id").alias("idb"),
        col("q").alias("qb"), col("n2").alias("nb"))
      val keepers = a.join(b, Seq("cell"))
        .filter(col("idb") < col("vec_id"))
        .filter(cosine(dot(col("q"), col("qb")), col("n2"), col("nb"))
          >= SemThresh)
        .groupBy("vec_id")
        .agg(min(col("idb")).alias("kmin"))
      assigned.select(col("vec_id"), col("cell"))
        .join(keepers, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("kmin"), col("vec_id")).alias("keeper"),
          col("kmin").isNotNull.alias("is_dup"))
    }),

    // k-NN graph construction: top-KnnK neighbors for EVERY corpus
    // vector (not a probe set) among its LSH bucket-mates — the batch
    // all-neighbors primitive that graph-based dedup (dd_cluster over
    // near-dup edges), SemDeDup-style pruning and kNN-classifier
    // labeling consume. Scale shape: the corpus self-joins only
    // inside a bucket (sum(|bucket|^2), never N^2), the per-vector
    // top-k is a WindowGroupLimit-pruned rank on a corpus-cardinality
    // key, and bucket skew is the knob: more hyperplanes → smaller
    // buckets. A production run would union several plane sets
    // (multi-probe) to recover boundary recall — same plan repeated.
    "sim_knn_graph" -> ((s, d) => {
      val all = quantized(s, d)
      val planes = all.filter(col("vec_id") < lshPlanes(s, d))
        .select(col("vec_id").alias("pid"), col("q").alias("pq"))
      val withBucket = all.crossJoin(broadcast(planes))
        .withColumn("bit",
          when(dot(col("q"), col("pq")) > 0,
            pow(lit(2.0), col("pid")).cast(LongType)).otherwise(0L))
        .groupBy(col("vec_id"))
        .agg(sum(col("bit")).alias("bucket"))
        .join(all, "vec_id")
      val a = withBucket.select(col("bucket"), col("vec_id"),
        col("q"), col("n2"))
      val b = withBucket.select(col("bucket"), col("vec_id").alias("nbr"),
        col("q").alias("qb"), col("n2").alias("nb"))
      val scored = a.join(b, Seq("bucket"))
        .filter(col("vec_id") =!= col("nbr"))
        .withColumn("cos",
          cosine(dot(col("q"), col("qb")), col("n2"), col("nb")))
      val wR = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("cos").desc, col("nbr").asc)
      scored
        .withColumn("rk", row_number().over(wR).cast(LongType))
        .filter(col("rk") <= KnnK)
        .select(col("vec_id"), col("rk"), col("nbr"), col("cos"))
    }),

    // PageRank over the kNN graph (Page et al. 1999) — the graph
    // centrality pass a curation pipeline runs on its similarity
    // graph (authoritative-document weighting, seed selection).
    // Integer micro-unit arithmetic end-to-end so the oracle replays
    // it exactly: score_0 = 1e6 per node; each step a node splits its
    // score equally over its out-neighbors by exact integral division
    // (the truncation remainder is deterministic and identical in
    // both engines, and integer sums are order-independent — no
    // floating-point drift), then refreshes to
    // 0.15e6 + 0.85·(incoming mass), three unrolled iterations.
    // Scale shape: the O(N·k) edge list is staged once per snapshot;
    // each iteration joins edges⋈scores on src and re-aggregates on
    // dst — the textbook distributed PageRank step, two key-
    // partitioned shuffles per iteration, nothing quadratic, no
    // driver-side state. The kNN graph has no dangling nodes with
    // out-edges missing their score row, and isolated nodes simply
    // decay to the 0.15e6 floor.
    "graph_pagerank" -> ((s, d) => {
      val edges = StagedIndex.orStage(s, s"graph_knn_edges_p${lshPlanes(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        queries("sim_knn_graph")(s, d)
          .select(col("vec_id").alias("src"), col("nbr").alias("dst"))
      }
      val deg = edges.groupBy("src").agg(count(lit(1)).alias("deg"))
      val nodes = Tables.embeddings(s, d).select(col("vec_id"))
      val init = nodes.withColumn("score", lit(1000000L))
      // r13 decision: a localCheckpoint-per-round variant (plan-depth
      // cut, guide §5) was measured against this unrolled fold over
      // the ×10/×100 ScaleProbe replicas and REJECTED: pagerank
      // checkpointed 1.93-3.15 s vs unrolled 1.50-2.13 s at both
      // factors (the eager per-round materialization serializes
      // rounds and forfeits the ReusedExchange the unrolled plan
      // gets); graph_core measured neutral (±0.2 s). Revisit only if
      // round counts grow past the point where planning time shows
      // up in a profile.
      val last = (1 to PrIters).foldLeft(init) { (sc, _) =>
        val contrib = edges
          .join(deg, "src")
          .join(sc.withColumnRenamed("vec_id", "src"), "src")
          .groupBy(col("dst"))
          .agg(sum(expr("score div deg")).alias("m"))
          .withColumnRenamed("dst", "vec_id")
        nodes.join(contrib, Seq("vec_id"), "left")
          .select(col("vec_id"),
            expr("CAST(150000 + (85 * coalesce(m, 0)) div 100 AS BIGINT)")
              .alias("score"))
      }
      last
    }),

    // kNN label voting (Fix & Hodges 1951 / Cover & Hart 1967) over
    // the same staged kNN-graph edges: each vector's predicted label
    // is the majority label among its k nearest neighbors (ties →
    // smallest label; isolated vectors predict -1). Agreement with
    // the stored label is the embedding-space label-consistency
    // audit — the standard mislabel / noisy-annotation detector run
    // over a training corpus before the labels are trusted. Scale
    // shape: edges ⋈ labels is a key-partitioned equi-join on dst,
    // votes aggregate on (src, label), and the majority pick is a
    // WindowGroupLimit-pruned rank on the corpus-cardinality src key.
    "sim_knn_label" -> ((s, d) => {
      val edges = StagedIndex.orStage(s, s"graph_knn_edges_p${lshPlanes(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        queries("sim_knn_graph")(s, d)
          .select(col("vec_id").alias("src"), col("nbr").alias("dst"))
      }
      val labels = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"))
      val votes = edges
        .join(labels.select(col("vec_id").alias("dst"),
          col("label").alias("plabel")), "dst")
        .groupBy(col("src"), col("plabel"))
        .agg(count(lit(1)).alias("v"))
      val wV = org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(col("v").desc, col("plabel").asc)
      val pred = votes
        .withColumn("rn", row_number().over(wV))
        .filter(col("rn") === 1)
        .select(col("src").alias("vec_id"), col("plabel"))
      labels.join(pred, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("plabel"), lit(-1)).alias("pred"),
          (col("label") === coalesce(col("plabel"), lit(-1)))
            .alias("correct"))
    }),

    // Label propagation (Zhu & Ghahramani 2002; Raghavan et al. 2007)
    // over the same staged kNN edges: a quarter of the corpus keeps
    // its label as a clamped seed, everyone else starts unlabeled and
    // takes the majority label among its neighbors each round (ties →
    // smallest label; no labeled neighbor → keep current). Two
    // synchronous unrolled rounds — the semi-supervised label-
    // spreading pass that turns a small annotated set into corpus-wide
    // weak labels. All-integer state, so both engines replay the
    // rounds exactly. Scale shape: per round one edges ⋈ state equi-
    // join on dst, a (src, label) vote agg, a WindowGroupLimit-pruned
    // rn=1 majority pick on the corpus-cardinality src key, and one
    // left join back — node-sized state, two hash shuffles per round,
    // the same plan class as graph_pagerank.
    // Per-label centroid table — the embedding-QA aggregate a corpus
    // owner materializes before trusting a labeled embedding space:
    // for every (label, dimension), the member count and the integer
    // dimension sum over the staged quantized vectors (consumers
    // derive means; the sums stay exact integers so the table
    // hash-matches — a mean would need float division whose
    // truncate-vs-floor semantics differ between engines on negative
    // sums). Scale shape: posexplode multiplies rows by Dim but the
    // aggregate combines map-side down to labels × Dim rows — nothing
    // corpus-sized crosses the shuffle.
    "sim_label_centroids" -> ((s, d) => {
      val lbl = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      quantized(s, d).join(lbl, "vec_id")
        .select(col("label"), posexplode(col("q")))
        .withColumnRenamed("pos", "dim")
        .groupBy("label", "dim")
        .agg(count(lit(1)).alias("n"), sum(col("col")).alias("dim_sum"))
        .select(col("label").cast(LongType).alias("label"),
          col("dim").cast(LongType).alias("dim"), col("n"), col("dim_sum"))
    }),

    // Per-dimension profile of the embedding space — the QA table a
    // corpus owner reads BEFORE trusting any ANN index built on it:
    // count, sum, sum-of-squares, min and max of every dimension over
    // the staged integer-quantized vectors (consumers derive
    // mean/variance; the sums stay exact integers so the table
    // hash-matches, the sim_label_centroids convention). A dead
    // dimension (zero variance) or a rogue one (magnitude far above
    // its peers) breaks cosine geometry and silently wrecks
    // PQ/SQ8/LSH codebooks — this is the cheap detector. Scale shape:
    // posexplode multiplies rows by Dim but the aggregate combines
    // map-side down to exactly Dim output rows; nothing corpus-sized
    // crosses the shuffle.
    "sim_dim_stats" -> ((s, d) => {
      quantized(s, d)
        .select(posexplode(col("q")))
        .withColumnRenamed("pos", "dim")
        .groupBy("dim")
        .agg(count(lit(1)).alias("n"),
          sum(col("col")).alias("dim_sum"),
          sum(col("col") * col("col")).alias("dim_sumsq"),
          min(col("col")).alias("q_min"),
          max(col("col")).alias("q_max"))
        .select(col("dim").cast(LongType).alias("dim"), col("n"),
          col("dim_sum"), col("dim_sumsq"), col("q_min"), col("q_max"))
    }),

    // Per-source embedding drift — the distribution-shift monitor a
    // production pipeline reads per ingest batch: for every (source,
    // dimension), how far that source's mean coordinate sits from the
    // corpus mean, in exact micro-units. A drifting source (encoder
    // version skew, a broken preprocessing branch, adversarial
    // content) shows up here dimensions-first, long before recall
    // drops — the group-wise companion of sim_dim_stats. Integer-
    // exact: means are floored micro-units; the floor uses the
    // pmod trick ((x - pmod(x, n)) div n) because Spark's `div`
    // truncates toward zero while the oracle's `//` floors, and
    // drift is SIGNED (|1e6·dim_sum| overflows past ~7e10 rows per
    // source — far beyond any per-source corpus; documented bound).
    // Scale shape: posexplode multiplies rows by Dim but the
    // (source, dim) aggregate combines map-side down to
    // sources × Dim rows; the corpus-mean roll-up derives from THAT
    // aggregate (never rescans), joined back on the Dim-row key.
    "sim_source_drift" -> ((s, d) => {
      val src = Tables.documents(s, d)
        .select(col("doc_id").alias("vec_id"), col("source"))
      val per = quantized(s, d).join(src, "vec_id")
        .select(col("source"), posexplode(col("q")))
        .withColumnRenamed("pos", "dim")
        .groupBy("source", "dim")
        .agg(count(lit(1)).alias("n"), sum(col("col")).alias("dim_sum"))
      val glob = per.groupBy("dim")
        .agg(sum(col("n")).alias("n_all"),
          sum(col("dim_sum")).alias("sum_all"))
      per.join(glob, "dim")
        .select(col("source"), col("dim").cast(LongType).alias("dim"),
          col("n"), col("dim_sum"),
          expr("(1000000 * dim_sum - pmod(1000000 * dim_sum, n)) div n" +
            " - (1000000 * sum_all - pmod(1000000 * sum_all, n_all))" +
            " div n_all").alias("drift_micro"))
    }),

    // Nearest-neighbor margin per vector — cos(top1) − cos(top2) over
    // the staged kNN graph, in floored micro-units. The ANN-tuning
    // profile: a corpus whose margins concentrate near zero has
    // ambiguous neighborhoods (recall falls off a cliff as nprobe/
    // shortlist shrink), while fat margins mean cheap parameters are
    // safe — this table is how the recall-gated specs' floors get
    // chosen. Derived doubles stay engine-exact: cos is the integer
    // dot over sqrt'd integer norms (both sides compute bit-identical
    // IEEE doubles — the sim_knn_graph convention), so the micro
    // floor hash-matches. Scale shape: one rk<=2 filter over the
    // staged edge list + a vec-keyed 2-row pivot agg.
    "sim_margin" -> ((s, d) => {
      val knn = queries("sim_knn_graph")(s, d)
      knn.filter(col("rk") <= 2)
        .groupBy("vec_id")
        .agg(max(when(col("rk") === 1, col("cos"))).alias("cos1"),
          max(when(col("rk") === 2, col("cos"))).alias("cos2"))
        .filter(col("cos2").isNotNull)
        .select(col("vec_id"),
          floor((col("cos1") - col("cos2")) * lit(1000000d))
            .cast(LongType).alias("margin_micro"))
    }),

    // Degree distribution of the undirected kNN graph — the one-look
    // health check on the neighborhood structure every graph_* op
    // builds on: a spiked histogram (hub nodes) means the embedding
    // space has density pathologies (duplicate clusters, collapsed
    // regions) that poison pagerank/label-prop/k-core alike.
    // Scale shape: symmetrize + dedup the staged O(N·k) edge list,
    // one map-side-combined degree agg, a left join for the
    // zero-degree nodes, and a roll-up to O(max degree) rows.
    "graph_degree_dist" -> ((s, d) => {
      val edges0 = StagedIndex.orStage(s, s"graph_knn_edges_p${lshPlanes(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        queries("sim_knn_graph")(s, d)
          .select(col("vec_id").alias("src"), col("nbr").alias("dst"))
      }
      val und = edges0.select(col("src"), col("dst"))
        .union(edges0.select(col("dst").alias("src"),
          col("src").alias("dst")))
        .distinct()
      val deg = und.groupBy("src").agg(count(lit(1)).alias("deg"))
        .select(col("src").alias("vec_id"), col("deg"))
      Tables.embeddings(s, d).select(col("vec_id"))
        .join(deg, Seq("vec_id"), "left")
        .select(coalesce(col("deg"), lit(0L)).alias("deg"))
        .groupBy("deg")
        .agg(count(lit(1)).alias("n_nodes"))
    }),

    // Cluster purity of the learned k-means cells against the label
    // column — the do-the-clusters-mean-anything audit (complement of
    // sim_label_centroids' space-trust table): per cell, the majority
    // label, its count, and purity in exact ppm. High purity means
    // the unsupervised cells recover the labeling and cell-level
    // curation decisions (SemDeDup keeps/drops, IVF routing) respect
    // semantic boundaries; purity near 1/|labels| means the embedding
    // space and the labels disagree. Scale shape: one (cell, label)
    // map-side-combined count (cells × labels rows), the majority
    // pick and totals over that aggregate, nothing corpus-sized past
    // the first agg.
    "sim_label_purity" -> ((s, d) => {
      val assigned = kmeansAssign(s, d).select(col("vec_id"), col("cell"))
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val counts = assigned.join(lab, "vec_id")
        .groupBy("cell", "label")
        .agg(count(lit(1)).alias("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cell").orderBy(col("n").desc, col("label").asc)
      val top = counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cell"), col("label").alias("top_label"),
          col("n").alias("top_n"))
      val tot = counts.groupBy("cell").agg(sum(col("n")).alias("cell_n"))
      top.join(tot, "cell")
        .select(col("cell").cast(LongType).alias("cell"),
          col("top_label").cast(LongType).alias("top_label"),
          col("top_n"), col("cell_n"))
        .withColumn("purity_ppm", expr("top_n * 1000000 div cell_n"))
    }),

    // Recall-vs-nprobe tuning curve for the IVF index: recall@TopK
    // against the exact brute-force ground truth at 1, 2, and 4
    // probed cells — THE operating-point decision for an IVF
    // deployment (each probe multiplies query cost; this table says
    // what each buys in recall, and where the curve flattens).
    // Integer hits and ppm recall, so the oracle replays exactly.
    // Scale shape: each leg is the audited ivf plan (centroid
    // broadcast + cell-restricted scoring + WindowGroupLimit rank);
    // ground truth is the brute-force probe broadcast; hits are
    // semi-joins of TopK-bounded rank lists; everything after is
    // 3 one-row aggregates.
    "sim_nprobe_sweep" -> ((s, d) => {
      val exact = cosineTopK(s, d).select(col("qid"), col("vec_id"))
      val total = exact.agg(count(lit(1)).alias("total"))
      Seq(1, 2, 4).map { p =>
        ivfKmeansAt(s, d, p).select(col("qid"), col("vec_id"))
          .join(exact, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).alias("hits"))
          .withColumn("nprobe", lit(p.toLong))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(total))
        .withColumn("recall_ppm", expr("hits * 1000000 div total"))
        .select(col("nprobe"), col("hits"), col("total"),
          col("recall_ppm"))
    }),

    // Cell-population audit of the learned k-means partition — the
    // table an IVF operator reads before trusting the index: a badly
    // skewed cell map (one mega-cell, many empties) makes probe-2
    // search either slow (the mega-cell dominates every query) or
    // blind (probes land in deserted cells), and the fix — re-seed or
    // split — is decided from exactly this histogram. share_ppm is
    // the exact integer corpus share per cell. Scale shape: one
    // map-side-combined count over the assignment down to O(cells)
    // rows, plus the 1-row corpus-count scalar broadcast onto them.
    "sim_centroid_balance" -> ((s, d) => {
      val perCell = kmeansAssign(s, d)
        .groupBy("cell")
        .agg(count(lit(1)).alias("n_vectors"))
      val total = Tables.embeddings(s, d)
        .agg(count(lit(1)).alias("n_total"))
      perCell.crossJoin(broadcast(total))
        .select(col("cell").cast(LongType).alias("cell"),
          col("n_vectors"),
          expr("n_vectors * 1000000 div n_total").alias("share_ppm"))
    }),

    // Out-of-distribution score per vector — the embedding-side
    // outlier gate a curation pipeline runs next to the text-side
    // quality rules (SemDeDup prunes the DENSE regions; this flags
    // the sparse ones: mislabeled content, encoder failures, format
    // junk — all of which land far from every k-means centroid).
    // Score = exact integer squared distance to the assigned (nearest
    // learned) centroid, re-derived from the shared kmeansCore;
    // decile 1 under a dist2-descending global rank = the most-OOD
    // tenth, surfaced as the is_ood verdict. Scale shape: the
    // centroid table broadcast (bounded by the kmeansCells ceiling)
    // against the corpus, one integer dot per row, then constant-
    // group GroupRank — range partition + broadcast offsets — for
    // the decile; nothing corpus-sized funnels.
    "sim_ood_score" -> ((s, d) => {
      val (cents, assigned) = kmeansCore(s, d)
      val scored = assigned
        .join(broadcast(cents), col("cell") === col("cid"))
        .select(col("vec_id"), col("cell"),
          (col("n2") + col("cn2") - lit(2L) * dot(col("q"), col("cq")))
            .alias("dist2"))
        .withColumn("g0", lit(0))
      GroupRank.rank(scored, "g0",
          Seq(col("dist2").desc, col("vec_id").asc))
        .select(col("vec_id"), col("cell"), col("dist2"),
          GroupRank.ntileFromRank(10, col("rn"), col("grp_n"))
            .alias("decile"))
        .withColumn("is_ood", col("decile") === 1L)
    }),

    // k-core decomposition (Seidman 1983, "Network structure and
    // minimum degree") over the undirected staged kNN graph: CoreIters
    // unrolled peeling rounds, each dropping nodes whose degree among
    // surviving nodes is < CoreK — the density filter that separates
    // the corpus's tightly-embedded core (topic clusters, likely
    // near-dup neighborhoods) from peripheral vectors, a standard
    // pre-step before community detection or dedup-cluster triage.
    // Scale shape: each round is two id equi-joins of the O(N·k)
    // staged edge list against the (shrinking) alive set plus one
    // map-side-combined degree agg — the same per-round cost class as
    // graph_pagerank, R rounds total, no corpus-sized state beyond
    // the edge list. Deterministic (no tie-breaking needed: peeling
    // is order-independent within a round), so the oracle replays the
    // identical unrolled rounds.
    "graph_core" -> ((s, d) => {
      val edges0 = StagedIndex.orStage(s, s"graph_knn_edges_p${lshPlanes(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        queries("sim_knn_graph")(s, d)
          .select(col("vec_id").alias("src"), col("nbr").alias("dst"))
      }
      val und = edges0.select(col("src"), col("dst"))
        .union(edges0.select(col("dst").alias("src"),
          col("src").alias("dst")))
        .distinct()
      val nodes = Tables.embeddings(s, d).select(col("vec_id"))
      def degOver(alive: DataFrame): DataFrame =
        und.join(alive.withColumnRenamed("vec_id", "src"), "src")
          .join(alive.select(col("vec_id").alias("dst")), "dst")
          .groupBy("src").agg(count(lit(1)).cast(LongType).alias("deg"))
      // r13: localCheckpoint-per-round measured neutral here (×10:
      // 2.0-2.6 s both arms; ×100: ckpt 3.4-3.7 vs unrolled 3.9-4.0)
      // and a regression for graph_pagerank — unrolled kept (see the
      // pagerank decision comment).
      val aliveR = (1 to CoreIters).foldLeft(nodes) { (alive, _) =>
        degOver(alive).filter(col("deg") >= CoreK)
          .select(col("src").alias("vec_id"))
      }
      val coreDeg = degOver(aliveR)
        .select(col("src").alias("vec_id"), col("deg").alias("core_deg"))
      nodes
        .join(aliveR.withColumn("alive", lit(true)), Seq("vec_id"), "left")
        .join(coreDeg, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("alive"), lit(false)).alias("in_core"),
          coalesce(col("core_deg"), lit(0L)).alias("core_deg"))
    }),

    "graph_label_prop" -> ((s, d) => {
      val edges = StagedIndex.orStage(s, s"graph_knn_edges_p${lshPlanes(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        queries("sim_knn_graph")(s, d)
          .select(col("vec_id").alias("src"), col("nbr").alias("dst"))
      }
      val nodes = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          (col("vec_id") % LpSeedMod === 0).alias("seed"))
      val init = nodes
        .select(col("vec_id"), col("seed"),
          when(col("seed"), col("label")).otherwise(lit(-1)).alias("lbl"))
      val last = (1 to LpIters).foldLeft(init) { (st, _) =>
        val votes = edges
          .join(st.select(col("vec_id").alias("dst"),
            col("lbl").alias("nl")), "dst")
          .filter(col("nl") >= 0)
          .groupBy(col("src"), col("nl"))
          .agg(count(lit(1)).alias("v"))
        val wV = org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy(col("v").desc, col("nl").asc)
        val maj = votes
          .withColumn("rn", row_number().over(wV))
          .filter(col("rn") === 1)
          .select(col("src").alias("vec_id"), col("nl").alias("maj"))
        st.join(maj, Seq("vec_id"), "left")
          .select(col("vec_id"), col("seed"),
            when(col("seed"), col("lbl"))
              .otherwise(coalesce(col("maj"), col("lbl"))).alias("lbl"))
      }
      last.join(nodes.select(col("vec_id"), col("label")), "vec_id")
        .select(col("vec_id"), col("seed"), col("lbl"),
          (col("lbl") === col("label")).alias("agrees"))
    }),

    // FAISS-style SQ8 scalar quantization: each dimension affinely
    // rescaled to an 8-bit code by the corpus-wide per-dim (min,
    // span) — the 8-byte-per-dim → 1-byte-per-dim memory-compression
    // ANN path that complements PQ (per-dim affine vs per-subspace
    // codebooks). Candidates are shortlisted by the integer dot of
    // the DECODED codes (recon·255 = mn·255 + code·span — scoring raw
    // affine codes would be offset-dominated and track nothing; FAISS
    // likewise decodes before distance), then exact-cosine reranked.
    // All arithmetic is integer until the rerank's one deterministic
    // division, so the oracle replays it exactly ((x-mn)*255 is
    // nonnegative, so Spark's div and DuckDB's // agree). Scale
    // shape: the per-dim stats are a Dim-row agg packed to ONE
    // broadcast row (never per-vector state), codes decode at scan
    // speed, the shortlist/rerank top-k are WindowGroupLimit-pruned
    // ranks keyed by probe, and the probe set broadcasts — nothing
    // corpus-sized joins anything corpus-sized.
    "sim_sq8_ann" -> ((s, d) => {
      val all = quantized(s, d)
      val packed = all
        .select(posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("pos").agg(min("v").alias("mn"), max("v").alias("mx"))
        .agg(array_sort(collect_list(struct(col("pos"), col("mn"),
          col("mx")))).alias("st"))
        .select(
          transform(col("st"), x => x.getField("mn")).alias("mns"),
          transform(col("st"),
            x => greatest(x.getField("mx") - x.getField("mn"), lit(1L)))
            .alias("spans"))
      val coded = all.crossJoin(broadcast(packed))
        .select(col("vec_id"),
          expr("transform(q, (x, i) -> ((x - mns[i]) * 255) div spans[i])")
            .alias("c"),
          col("mns"), col("spans"))
        .select(col("vec_id"),
          expr("transform(c, (x, i) -> mns[i] * 255 + x * spans[i])")
            .alias("r"))
      val probes = coded.filter(col("vec_id") < NQueries)
        .select(col("vec_id").alias("qid"), col("r").alias("qc"))
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("iscore").desc, col("vec_id").asc)
      val shortlist = coded
        .join(broadcast(probes), col("vec_id") =!= col("qid"))
        .withColumn("iscore", dot(col("r"), col("qc")))
        .withColumn("srk", row_number().over(wS))
        .filter(col("srk") <= sq8Shortlist(s))
        .select("qid", "vec_id")
      val pv = all.filter(col("vec_id") < NQueries)
        .select(col("vec_id").alias("qid"), col("q").alias("qq"),
          col("n2").alias("qn2"))
      val wR = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      shortlist.join(all, "vec_id").join(broadcast(pv), "qid")
        .withColumn("cos",
          cosine(dot(col("q"), col("qq")), col("n2"), col("qn2")))
        .withColumn("rk", row_number().over(wR).cast(LongType))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
    }),

    // Modularity of the LABEL partition over the staged kNN graph
    // (Newman & Girvan 2004, eq. Q = Σ_c [e_c/m − (d_c/2m)²], here in
    // the directed-double-arc form Q_c = (e2_c·M − d_c²)/M² with
    // M = total arcs): the embedding-QA scalar that measures how well
    // the embedding-space neighborhood structure agrees with the
    // labels — high Q = neighbors mostly share labels (pairs with
    // sim_label_centroids as the space-trust audit). Per-community
    // terms in exact integer ppm; both engines truncate integer
    // division toward zero (Spark `div` = Java, DuckDB `//`), so the
    // possibly-NEGATIVE q_ppm of an anti-community still replays
    // exactly. Scale shape: two id equi-joins attach endpoint labels
    // to the O(N·k) arc list, one map-side-combined agg per community,
    // a 1-row arc-count scalar broadcast — nothing corpus-quadratic.
    // int64 headroom: 1e6·e2_c·M ≤ 1e6·M² needs M ≤ ~3e6 arcs per
    // partition-of-analysis; shard the graph (or drop to 1e3 units)
    // beyond that.
    "graph_modularity" -> ((s, d) => {
      val edges = StagedIndex.orStage(s, s"graph_knn_edges_p${lshPlanes(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        queries("sim_knn_graph")(s, d)
          .select(col("vec_id").alias("src"), col("nbr").alias("dst"))
      }
      val sym = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").alias("src"),
          col("src").alias("dst")))
        .distinct()
      val lbl = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast(LongType).alias("lbl"))
      val arcs = sym
        .join(lbl.select(col("vec_id").alias("src"),
          col("lbl").alias("sl")), "src")
        .join(lbl.select(col("vec_id").alias("dst"),
          col("lbl").alias("dl")), "dst")
      val m2 = arcs.agg(count(lit(1)).alias("m2"))
      val perC = arcs.groupBy(col("sl").alias("label"))
        .agg(sum(when(col("dl") === col("sl"), 1L).otherwise(0L))
          .alias("intra_arcs"),
          count(lit(1)).alias("d_sum"))
      val nodes = lbl.groupBy(col("lbl").alias("label"))
        .agg(count(lit(1)).alias("n_nodes"))
      perC.join(nodes, "label").crossJoin(broadcast(m2))
        .select(col("label"), col("n_nodes"), col("d_sum"),
          col("intra_arcs"),
          expr("(1000000 * (intra_arcs * m2 - d_sum * d_sum))" +
            " div (m2 * m2)").alias("q_ppm"))
    }),

    // Triangle counting + local clustering coefficient over the staged
    // kNN edges — the node-iterator join (Suri & Vassilvitskii 2011,
    // "Counting Triangles and the Curse of the Last Reducer"): orient
    // every undirected edge low→high id, join wedges on the middle
    // vertex, close them with a semi-join against the oriented edge
    // set. Each triangle (a<b<c) is found exactly once. The embedding-
    // space community-structure signal (how clique-ish each vector's
    // neighborhood is) that complements per-node degree. Scale shape:
    // every join is a key-partitioned equi-join on vertex ids; wedge
    // count is bounded by Σ deg² with deg ≤ 2·KnnK — never corpus-
    // quadratic; the per-node count is one keyed agg. All integers,
    // and the coefficient's one division is integral micro-units, so
    // the oracle replays it exactly.
    "graph_triangles" -> ((s, d) => {
      val edges = StagedIndex.orStage(s, s"graph_knn_edges_p${lshPlanes(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        queries("sim_knn_graph")(s, d)
          .select(col("vec_id").alias("src"), col("nbr").alias("dst"))
      }
      val sym = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").alias("src"),
          col("src").alias("dst")))
        .distinct()
      val o = sym.filter(col("src") < col("dst"))
        .select(col("src").alias("a"), col("dst").alias("b"))
      val tri = o
        .join(o.select(col("a").alias("b2"), col("b").alias("c")),
          col("b") === col("b2"))
        .select(col("a"), col("b"), col("c"))
        .join(o.select(col("a").alias("a3"), col("b").alias("c3")),
          col("a") === col("a3") && col("c") === col("c3"), "left_semi")
      val pern = tri.select(col("a").alias("tv"))
        .union(tri.select(col("b").alias("tv")))
        .union(tri.select(col("c").alias("tv")))
        .groupBy("tv").agg(count(lit(1)).alias("tri"))
      val deg = sym.groupBy("src").agg(count(lit(1)).alias("deg"))
        .withColumnRenamed("src", "dv")
      Tables.embeddings(s, d).select(col("vec_id"))
        .join(deg, col("vec_id") === col("dv"), "left")
        .join(pern, col("vec_id") === col("tv"), "left")
        .select(col("vec_id"),
          coalesce(col("deg"), lit(0L)).alias("deg"),
          coalesce(col("tri"), lit(0L)).alias("tri"))
        .withColumn("cc_micro",
          when(col("deg") >= 2L,
            expr("(2 * tri * 1000000) div (deg * (deg - 1))"))
            .otherwise(lit(0L)))
    }),

    // Neighbor-set Jaccard link prediction over the staged kNN edges
    // (the classic common-neighbors/Jaccard link predictor, Liben-
    // Nowell & Kleinberg 2003): for every NON-edge pair sharing at
    // least one neighbor, |N(a)∩N(b)| / |N(a)∪N(b)| in exact integer
    // micro-units — the "these two should probably be connected"
    // candidates a dedup/retrieval graph audit reviews. Scale shape:
    // the common-neighbor pairs come from one self-equi-join on the
    // shared neighbor (Σ deg² bounded, deg ≤ 2·KnnK), existing edges
    // leave via a left-anti equi-join, degrees attach by two keyed
    // joins of the node-sized degree table, and the global top-20 is
    // a TakeOrdered (no full sort ever materializes).
    "graph_jaccard" -> ((s, d) => {
      val edges = StagedIndex.orStage(s, s"graph_knn_edges_p${lshPlanes(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        queries("sim_knn_graph")(s, d)
          .select(col("vec_id").alias("src"), col("nbr").alias("dst"))
      }
      val sym = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").alias("src"),
          col("src").alias("dst")))
        .distinct()
      val deg = sym.groupBy("src").agg(count(lit(1)).alias("deg"))
      val inter = sym.select(col("src").alias("a"), col("dst").alias("n"))
        .join(sym.select(col("src").alias("b"), col("dst").alias("n")),
          Seq("n"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).alias("inter"))
      val cand = inter.join(
        sym.select(col("src").alias("a"), col("dst").alias("b")),
        Seq("a", "b"), "left_anti")
      cand
        .join(deg.select(col("src").alias("a"), col("deg").alias("da")),
          "a")
        .join(deg.select(col("src").alias("b"), col("deg").alias("db")),
          "b")
        .select(col("a"), col("b"), col("inter"), col("da"), col("db"),
          expr("(inter * 1000000) div (da + db - inter)")
            .alias("jac_micro"))
        .orderBy(col("jac_micro").desc, col("a").asc, col("b").asc)
        .limit(20)
    }))

  /** SemDeDup duplicate threshold: within-cluster cosine at or above
    * which the later vector defers to the earlier keeper. 0.35 matches
    * dd_embed_cosine's near-duplicate bar on this corpus.
    */
  final val SemThresh = 0.35

  /** PQ geometry: 4 subspaces × 16 dims; codebook entries per
    * subspace = NCentroids.
    */
  final val PqM = 4
  final val PqSubDim = Dim / PqM

  /** ADC shortlist width ahead of the exact rerank.
    * Session-configurable (`graft.pq.shortlist`); the default 50 is
    * what the oracle replays — raising it trades rerank compute for
    * recall (PqRecallSpec pins the floor and the monotonicity).
    */
  private def pqShortlist(s: SparkSession): Int = {
    val n = s.conf.get("graft.pq.shortlist", "50").toInt
    // 0/negative would silently yield an empty shortlist (ANN returns
    // nothing); bound above so a typo can't turn the rerank into a
    // corpus-sized exact pass.
    require(n > 0 && n <= (1 << 20),
      s"graft.pq.shortlist must be in (0, 2^20], got $n")
    n
  }

  /** PQ encode + probe lookup tables, shared by `sim_pq_ann` and
    * `sim_ivfpq_ann`: per-vector 4-byte codes (nearest sub-centroid
    * per subspace) and the per-probe ADC LUT (exact probe sub-vector
    * · every sub-centroid).
    */
  private def pqCodesLut(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val all = quantized(s, d)
    // one row per (vector, subspace): the sub-vector
    val sub = all.select(col("vec_id"),
      explode(array((0 until PqM).map(m =>
        struct(lit(m).alias("m"),
          slice(col("q"), m * PqSubDim + 1, PqSubDim).alias("sv"))): _*))
        .alias("x"))
      .select(col("vec_id"), col("x.m").alias("m"), col("x.sv").alias("sv"))
    val cb = sub.filter(col("vec_id") < NCentroids)
      .select(col("m"), col("vec_id").alias("cid"), col("sv").alias("cq"))
      .withColumn("cn2", dot(col("cq"), col("cq")))
    // encode: nearest sub-centroid per (vector, subspace) — the codes
    val wEnc = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "m").orderBy(col("dist2").asc, col("cid").asc)
    val codes = sub
      .withColumn("sn2", dot(col("sv"), col("sv")))
      .join(broadcast(cb), Seq("m"))
      .withColumn("dist2",
        col("sn2") + col("cn2") - lit(2L) * dot(col("sv"), col("cq")))
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid"))
    val lut = sub.filter(col("vec_id") < NQueries)
      .select(col("vec_id").alias("qid"), col("m"), col("sv").alias("qsv"))
      .join(cb, Seq("m"))
      .select(col("qid"), col("m"), col("cid"),
        dot(col("qsv"), col("cq")).alias("pdot"))
    (codes, lut)
  }

  /** ADC-scored candidates → shortlist → exact rerank → top-k: the
    * shared tail of the PQ family.
    */
  private def adcShortlistRerank(s: SparkSession, d: String,
      scored: DataFrame): DataFrame = {
    val all = quantized(s, d)
    // ADC shortlist: top-R per probe by approximate dot
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("approx_dot").desc, col("vec_id").asc)
    val shortlist = scored
      .withColumn("adc_rk", row_number().over(wAdc))
      .filter(col("adc_rk") <= pqShortlist(s))
      .select(col("qid"), col("vec_id"), col("approx_dot"))
    // exact rerank: full vectors touched ONLY for shortlist members
    val probes = all.filter(col("vec_id") < NQueries)
      .select(col("vec_id").alias("qid"), col("q").alias("qq"),
        col("n2").alias("qn2"))
    val reranked = all
      .join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(probes), Seq("qid"))
      .withColumn("cos", cosine(dot(col("qq"), col("q")),
        col("qn2"), col("n2")))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    reranked
      .withColumn("rk", row_number().over(wRank).cast(LongType))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("rk"), col("vec_id"), col("approx_dot"),
        col("cos"))
  }

  private def pqAnn(s: SparkSession, d: String): DataFrame = {
    val (codes, lut) = pqCodesLut(s, d)
    val scored = codes.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("pdot")).alias("approx_dot"))
    adcShortlistRerank(s, d, scored)
  }

  /** IVF-PQ (the FAISS IVFPQ deployment shape): a coarse IVF cell
    * assignment turns the corpus into posting lists, and ADC scoring
    * touches ONLY the probe's cell-mates — the compressed-codes
    * analogue of sim_ivf_ann's partition-once-search-locally, with
    * sim_pq_ann's memory story (4-byte codes cross the scoring join,
    * full vectors only for the shortlist rerank). At 100 TB the cell
    * count scales with the corpus (cells stay bounded), the LUT stays
    * probe×subspace×centroid-sized, and nothing corpus-sized is ever
    * broadcast.
    */
  private def ivfPqAnn(s: SparkSession, d: String): DataFrame = {
    val all = quantized(s, d)
    val cents = all.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").alias("cid"), col("q").alias("cq"),
        col("n2").alias("cn2"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist2").asc, col("cid").asc)
    val cells = all.crossJoin(broadcast(cents))
      .withColumn("dist2",
        col("n2") + col("cn2") - lit(2L) * dot(col("q"), col("cq")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").alias("cell"))
    val qcells = cells.filter(col("vec_id") < NQueries)
      .select(col("vec_id").alias("qid"), col("cell").alias("qcell"))
    // posting-list restriction: candidate pairs are cell-mates only
    val cand = cells
      .join(broadcast(qcells),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
    val (codes, lut) = pqCodesLut(s, d)
    val scored = cand.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("qid", "m", "cid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("pdot")).alias("approx_dot"))
    adcShortlistRerank(s, d, scored)
  }

  /** Multi-probe width: how many nearest cells each probe searches.
    * Session-configurable (`graft.ivf.probes`); the default 2 is what
    * the oracle replays — raising it trades compute for recall without
    * touching the plan shape (IvfRecallSpec pins the recall floor and
    * the monotonicity).
    */
  private def probeCount(s: SparkSession): Int = {
    val n = s.conf.get("graft.ivf.probes", "2").toInt
    require(n > 0 && n <= (1 << 20),
      s"graft.ivf.probes must be in (0, 2^20], got $n")
    n
  }

  /** Cell count for the learned-k-means operators
    * (`graft.kmeans.cells`; unset ⇒ derived from the corpus count,
    * see [[derivedCells]] — the oracle replays [[NCentroids]], which
    * Verify pins). THE scale knob: sum(|cell|²) bounds the
    * semantic-dedup pair scan and |cell| bounds an IVF probe, so a
    * 1000× corpus wants ~1000× more cells, not bigger ones; raising
    * this leaves every plan shape unchanged (the centroid table stays
    * broadcast — even 1M centroids ≈ 512 MB is routinely
    * broadcastable at that scale, and the Lloyd step is the same
    * keyed agg).
    */
  private[queries] def kmeansCells(s: SparkSession, d: String): Int =
    s.conf.getOption("graft.kmeans.cells") match {
      case Some(v) =>
        val n = v.toInt
        // 0/negative would silently yield an empty seed set —
        // dd_semdedup would then report "no semantic duplicates" and
        // pipe_curate would stage and consume that as a verdict. Fail
        // loudly instead. The upper bound keeps the centroid table
        // broadcastable (1M × Dim floats ≈ 512 MB, the documented
        // ceiling of the scale note above).
        require(n > 0 && n <= (1 << 20),
          s"graft.kmeans.cells must be in (0, 2^20], got $n")
        n
      case None => derivedCells(embCount(s, d))
    }

  /** Learned centroids (seed with the first `graft.kmeans.cells`
    * vectors, one floor-exact Lloyd step) and the corpus assigned to
    * them — the shared k-means core behind `sim_ivf_kmeans` and
    * `dd_semdedup`. Returns
    * (centroids (cid, cq, cn2), assigned (vec_id, cell, q, n2)).
    *
    * BOTH frames are staged per snapshot: six queries (ivf_kmeans,
    * nprobe_sweep, semdedup, ood_score, centroid_balance,
    * label_purity — plus pipe_curate through dd_semdedup) consume the
    * core, and unstaged each re-ran the seed assignment, the Lloyd
    * step, and the O(N·cells) final assignment per query. The
    * assignment stage derives from the STAGED centroid table, so the
    * two can never disagree; the cell-count knob lives in both stage
    * names (a re-tuned geometry restages).
    */
  private def kmeansCore(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val all = quantized(s, d)
    val cells = kmeansCells(s, d)
    val in = Seq(s"$d/embeddings.parquet")
    def assign(cents: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("dist2").asc, col("cid").asc)
      all.crossJoin(broadcast(cents))
        .withColumn("dist2",
          col("n2") + col("cn2") - lit(2L) * dot(col("q"), col("cq")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("cid").alias("cell"), col("q"),
          col("n2"))
    }
    val cents1 = StagedIndex.orStage(s, s"sim_kmeans_cents_c${cells}_v1",
      d, in) {
      val seeds = all.filter(col("vec_id") < cells)
        .select(col("vec_id").alias("cid"), col("q").alias("cq"),
          col("n2").alias("cn2"))
      // one Lloyd step: element-wise floor(mean) per cell — exact in
      // both engines (sums stay far below 2^53)
      assign(seeds)
        .select(col("cell"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(floor(avg(col("v"))).cast(LongType).alias("cv"))
        .groupBy("cell")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).alias("cq"))
        .select(col("cell").alias("cid"), col("cq"),
          dot(col("cq"), col("cq")).alias("cn2"))
    }
    val assigned = StagedIndex.orStage(s, s"sim_kmeans_assign_c${cells}_v1",
      d, in) {
      assign(cents1)
    }
    (cents1, assigned)
  }

  private def kmeansAssign(s: SparkSession, d: String): DataFrame =
    kmeansCore(s, d)._2

  private def ivfKmeans(s: SparkSession, d: String): DataFrame =
    ivfKmeansAt(s, d, probeCount(s))

  /** IVF top-k at an explicit nprobe, staged per snapshot like the
    * exact truth table (same rationale: sim_ivf_kmeans,
    * sim_recall_at_k, and the three sim_nprobe_sweep legs all consume
    * these ≤ NQueries × TopK-row rank lists, and unstaged each re-ran
    * the centroid-broadcast scoring per query; a real IVF deployment
    * persists every evaluated operating point's result next to the
    * index while tuning). The name embeds cells + nprobe + k + the
    * probe set, so any retuned knob restages.
    */
  private def ivfKmeansAt(s: SparkSession, d: String,
      probes: Int): DataFrame =
    StagedIndex.orStage(s,
      s"sim_ivf_topk_c${kmeansCells(s, d)}_np${probes}" +
        s"_k${TopK}_q${NQueries}_v1",
      d, Seq(s"$d/embeddings.parquet")) {
      ivfKmeansBuild(s, d, probes)
    }

  private def ivfKmeansBuild(s: SparkSession, d: String,
      probes: Int): DataFrame = {
    val all = quantized(s, d)
      val (cents1, assigned) = kmeansCore(s, d)
      // multi-probe: each probe searches its `probes` nearest cells
      val wProbe = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("dist2").asc, col("cid").asc)
      val probeCells = all.filter(col("vec_id") < NQueries)
        .crossJoin(broadcast(cents1))
        .withColumn("dist2",
          col("n2") + col("cn2") - lit(2L) * dot(col("q"), col("cq")))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= probes)
        .select(col("vec_id").alias("qid"), col("cid").alias("qcell"),
          col("q").alias("qq"), col("n2").alias("qn2"))
      val scored = assigned
        .join(broadcast(probeCells),
          col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
        .withColumn("cos", cosine(dot(col("qq"), col("q")),
          col("qn2"), col("n2")))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      scored
      .withColumn("rk", row_number().over(wRank).cast(LongType))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
  }

  // ANN search restricted to the probe's bucket: the end-to-end
  // LSH query shape (candidate generation + exact re-rank inside
  // the bucket).
  private def lshAnn(s: SparkSession, d: String): DataFrame =
    lshAnnAt(s, d, lshPlanes(s, d))

  /** Extra buckets probed per query by [[multiProbeAnn]]: the probe's
    * own bucket plus this many one-bit flips.
    */
  final val MultiProbeFlips = 2

  /** Multi-probe LSH ANN (Lv et al., VLDB 2007): besides the probe's
    * own bucket, search the buckets reached by flipping the
    * [[MultiProbeFlips]] hyperplane bits with the smallest |margin| —
    * the planes the probe sits closest to, where its true neighbors
    * most plausibly landed on the other side. The standard
    * recall-recovery move for bucketed LSH WITHOUT growing the plane
    * count or replicating the index: the corpus side stays exactly
    * the single-probe shape (one bucket per vector, hash-partitioned
    * on the bucket key), and only the ≤ probes × (flips+1) probe rows
    * multiply — `sim_multiprobe_recall` is the audit table showing
    * what the extra buckets buy against brute-force truth.
    */
  private def multiProbeAnn(s: SparkSession, d: String): DataFrame =
    // staged rank list (see ivfKmeansAt): shared by sim_multiprobe_ann
    // and sim_multiprobe_recall
    StagedIndex.orStage(s,
      s"sim_multiprobe_topk_p${lshPlanes(s, d)}_f${MultiProbeFlips}" +
        s"_k${TopK}_q${NQueries}_v1",
      d, Seq(s"$d/embeddings.parquet")) {
      multiProbeAnnBuild(s, d)
    }

  private def multiProbeAnnBuild(s: SparkSession, d: String): DataFrame = {
    val all = quantized(s, d)
    val nP = lshPlanes(s, d)
    val planes = all.filter(col("vec_id") < nP)
      .select(col("vec_id").alias("pid"), col("q").alias("pq"))
    val withBucket = all.crossJoin(broadcast(planes))
      .withColumn("bit",
        when(dot(col("q"), col("pq")) > 0,
          pow(lit(2.0), col("pid")).cast(LongType)).otherwise(0L))
      .groupBy(col("vec_id"))
      .agg(sum(col("bit")).alias("bucket"))
      .join(all, "vec_id")
    val base = withBucket.filter(col("vec_id") < NQueries)
      .select(col("vec_id").alias("qid"), col("bucket").alias("qb"),
        col("q").alias("qq"), col("n2").alias("qn2"))
    // the flips smallest-|margin| planes per probe (deterministic
    // pid tie-break); tiny: probes × planes rows through the window
    val wM = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("m").asc, col("pid").asc)
    val flips = all.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(planes))
      .withColumn("m", abs(dot(col("q"), col("pq"))))
      .withColumn("mr", row_number().over(wM))
      .filter(col("mr") <= MultiProbeFlips)
      .select(col("vec_id").alias("qid"), col("pid"))
    val flipped = base.join(flips, "qid")
      .select(col("qid"),
        col("qb").bitwiseXOR(pow(lit(2.0), col("pid")).cast(LongType))
          .alias("qb"),
        col("qq"), col("qn2"))
    // distinct buckets per probe by construction (each flip toggles a
    // different bit), so a candidate joins at most once per probe
    val probeBuckets = base.unionByName(flipped)
    val scored = withBucket
      .join(broadcast(probeBuckets),
        col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .withColumn("cos",
        cosine(dot(col("qq"), col("q")), col("qn2"), col("n2")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
    scored
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
  }

  /** lshAnn at an explicit plane count — the sweep's leg builder,
    * staged per snapshot (see ivfKmeansAt: shared by sim_lsh_ann and
    * sim_multiprobe_recall at the default plane count, and by the
    * sim_planes_sweep legs at 4/6/8).
    */
  private def lshAnnAt(s: SparkSession, d: String, nPlanes: Int)
      : DataFrame =
    StagedIndex.orStage(s,
      s"sim_lsh_topk_p${nPlanes}_k${TopK}_q${NQueries}_v1",
      d, Seq(s"$d/embeddings.parquet")) {
      lshAnnBuild(s, d, nPlanes)
    }

  private def lshAnnBuild(s: SparkSession, d: String, nPlanes: Int)
      : DataFrame = {
    val all = quantized(s, d)
      val planes = all.filter(col("vec_id") < nPlanes)
        .select(col("vec_id").alias("pid"), col("q").alias("pq"))
      val withBucket = all.crossJoin(broadcast(planes))
        .withColumn("bit",
          when(dot(col("q"), col("pq")) > 0,
            pow(lit(2.0), col("pid")).cast(LongType)).otherwise(0L))
        .groupBy(col("vec_id"))
        .agg(sum(col("bit")).alias("bucket"))
        .join(all, "vec_id")
      val probes = withBucket.filter(col("vec_id") < NQueries)
        .select(col("vec_id").alias("qid"), col("bucket").alias("qb"),
          col("q").alias("qq"), col("n2").alias("qn2"))
      val scored = withBucket
        .join(broadcast(probes),
          col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
        .withColumn("dp", dot(col("qq"), col("q")))
        .withColumn("cos", cosine(col("dp"), col("qn2"), col("n2")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id").asc)
      scored
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= TopK)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
  }

  // ----------------------------------------------------------------
  // DuckDB oracles: same integer quantization; dot products via
  // position-joined unnest (order-independent integer sums).
  // ----------------------------------------------------------------

  private val sqlQuant =
    """q AS (SELECT vec_id,
      |        list_transform(embedding,
      |          x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS qv
      |      FROM embeddings),
      |qn AS (SELECT vec_id, qv,
      |         list_sum(list_transform(qv, x -> x * x)) AS n2
      |       FROM q)""".stripMargin

  private def sqlDot(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))"

  private def sqlDotSub(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${PqSubDim + 1}), i -> $a[i] * $b[i]))"

  private def sqlDotMrl(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${MrlDim + 1}), i -> $a[i] * $b[i]))"

  /** The kNN-graph edge derivation as a reusable WITH prefix (ends at
    * `edges (src, dst)`) — verbatim the sim_knn_graph pipeline, shared
    * by the graph-operator oracles built on the staged edge list.
    */
  private lazy val sqlKnnEdgesWith: String =
    s"""WITH $sqlQuant,
       |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
       |           WHERE vec_id < $NPlanes),
       |bucketed AS (
       |  SELECT v.vec_id,
       |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
       |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM qn v CROSS JOIN planes p
       |  GROUP BY v.vec_id),
       |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
       |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id),
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS nbr,
       |    CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
       |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
       |      AS cos
       |  FROM wb a JOIN wb b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |edges AS (
       |  SELECT vec_id AS src, nbr AS dst FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, nbr ASC) AS rk
       |    FROM scored) t
       |  WHERE rk <= $KnnK)""".stripMargin

  private lazy val sqlCosineTopk: String =
      s"""WITH $sqlQuant,
         |scored AS (
         |  SELECT p.vec_id AS qid, v.vec_id AS vec_id,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT) AS dp,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM qn p JOIN qn v ON v.vec_id <> p.vec_id
         |  WHERE p.vec_id < $NQueries)
         |SELECT qid, rk, vec_id, dp, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM scored) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin

  private lazy val sqlLshAnn: String =
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id),
         |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
         |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id),
         |scored AS (
         |  SELECT p.vec_id AS qid, v.vec_id AS vec_id,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM (SELECT * FROM wb WHERE vec_id < $NQueries) p
         |  JOIN wb v ON v.bucket = p.bucket AND v.vec_id <> p.vec_id)
         |SELECT qid, rk, vec_id, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM scored) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin

  // the sim_lsh_ann derivation plus per-probe one-bit-flip buckets on
  // the MultiProbeFlips smallest-|margin| planes
  private lazy val sqlMultiProbeAnn: String =
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id),
         |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
         |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id),
         |pm AS (
         |  SELECT v.vec_id AS qid, p.pid,
         |    abs(CAST(${sqlDot("v.qv", "p.pq")} AS BIGINT)) AS m
         |  FROM qn v CROSS JOIN planes p
         |  WHERE v.vec_id < $NQueries),
         |fl AS (SELECT qid, pid FROM (
         |    SELECT qid, pid, row_number() OVER (PARTITION BY qid
         |      ORDER BY m ASC, pid ASC) AS rn FROM pm) t
         |  WHERE rn <= $MultiProbeFlips),
         |base AS (SELECT vec_id AS qid, bucket AS qb FROM bucketed
         |         WHERE vec_id < $NQueries),
         |pb AS (SELECT qid, qb FROM base
         |       UNION ALL
         |       SELECT b.qid, xor(b.qb, CAST(1 << f.pid AS BIGINT))
         |       FROM base b JOIN fl f ON b.qid = f.qid),
         |probe AS (SELECT vec_id, qv, n2 FROM qn
         |          WHERE vec_id < $NQueries),
         |scored AS (
         |  SELECT pb.qid, v.vec_id,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM pb
         |  JOIN wb v ON v.bucket = pb.qb
         |  JOIN probe p ON p.vec_id = pb.qid
         |  WHERE v.vec_id <> pb.qid)
         |SELECT qid, rk, vec_id, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM scored) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin

  /** Shared CTE chain: quantize → seed → one Lloyd step → assign to
    * learned centroids (mirrors kmeansCore). Ends with `a1 (vec_id,
    * cell, qv, n2)`; callers append their own CTEs/SELECT.
    */
  private lazy val sqlKmeansAssign: String =
      s"""$sqlQuant,
         |seeds AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM qn
         |          WHERE vec_id < $NCentroids),
         |a0 AS (
         |  SELECT vec_id, cell, qv, n2 FROM (
         |    SELECT v.vec_id, c.cid AS cell, v.qv, v.n2,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY v.n2 + c.cn2 - 2 * ${sqlDot("v.qv", "c.cq")} ASC,
         |                 c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN seeds c) t
         |  WHERE rn = 1),
         |cents1 AS (
         |  SELECT cell AS cid, list(cv ORDER BY pos) AS cq FROM (
         |    SELECT a.cell, t.i AS pos,
         |      CAST(floor(avg(a.qv[t.i])) AS BIGINT) AS cv
         |    FROM a0 a, UNNEST(range(1, ${Dim + 1})) t(i)
         |    GROUP BY a.cell, t.i) s
         |  GROUP BY cell),
         |cents AS (SELECT cid, cq,
         |            list_sum(list_transform(cq, x -> x * x)) AS cn2
         |          FROM cents1),
         |a1 AS (
         |  SELECT vec_id, cell, qv, n2 FROM (
         |    SELECT v.vec_id, c.cid AS cell, v.qv, v.n2,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY v.n2 + c.cn2 - 2 * ${sqlDot("v.qv", "c.cq")} ASC,
         |                 c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN cents c) t
         |  WHERE rn = 1)""".stripMargin

  private lazy val sqlIvfKmeans: String =
      s"""WITH $sqlKmeansAssign,
         |probecells AS (
         |  SELECT vec_id AS qid, cid AS qcell, qq, qn2 FROM (
         |    SELECT v.vec_id, c.cid, v.qv AS qq, v.n2 AS qn2,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY v.n2 + c.cn2 - 2 * ${sqlDot("v.qv", "c.cq")} ASC,
         |                 c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN cents c
         |    WHERE v.vec_id < $NQueries) t
         |  WHERE rn <= 2),
         |scored AS (
         |  SELECT p.qid, v.vec_id,
         |    CAST(${sqlDot("p.qq", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.qn2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM probecells p
         |  JOIN a1 v ON v.cell = p.qcell AND v.vec_id <> p.qid)
         |SELECT qid, rk, vec_id, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM scored) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin

  lazy val oracles: Map[String, String] = Map(
    "sim_cosine_topk" -> sqlCosineTopk,

    // lexical leg replayed from the documents table (the tx_bm25_topk
    // derivation with the probe document's terms as the query), the
    // vector leg as the cosine-topk oracle verbatim, fused by the
    // same integer RRF arithmetic
    "sim_rrf_fusion" ->
      s"""WITH ${TextQueries.bm25OracleCte},
         |probes AS (SELECT DISTINCT doc_id AS qid, term FROM toks
         |           WHERE doc_id < $NQueries),
         |lex_scored AS (
         |  SELECT p.qid, t.doc_id,
         |    CAST(sum(${TextQueries.bm25OracleMicro("f.df")})
         |      AS BIGINT) AS lex_micro
         |  FROM tf t JOIN probes p USING (term) JOIN dft f USING (term)
         |       JOIN dlen d ON t.doc_id = d.doc_id CROSS JOIN stats s
         |  WHERE t.doc_id <> p.qid
         |  GROUP BY p.qid, t.doc_id),
         |lex AS (
         |  SELECT qid, doc_id, rn AS lex_rank FROM (
         |    SELECT qid, doc_id,
         |      CAST(row_number() OVER (PARTITION BY qid
         |        ORDER BY lex_micro DESC, doc_id ASC) AS BIGINT) AS rn
         |    FROM lex_scored) t
         |  WHERE rn <= $TopK),
         |vec AS (SELECT qid, vec_id AS doc_id, rk AS vec_rank
         |        FROM ($sqlCosineTopk) c),
         |fused AS (
         |  SELECT qid, doc_id, l.lex_rank, v.vec_rank,
         |    coalesce(1000000 // (60 + l.lex_rank), 0)
         |      + coalesce(1000000 // (60 + v.vec_rank), 0) AS rrf_micro
         |  FROM lex l FULL JOIN vec v USING (qid, doc_id))
         |SELECT qid, rn AS rk, doc_id, lex_rank, vec_rank, rrf_micro
         |FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rn
         |  FROM fused) t
         |WHERE rn <= $TopK ORDER BY qid, rk""".stripMargin,
    "sim_ivf_kmeans" -> sqlIvfKmeans,

    // filtered search: predicate applied BEFORE the top-k
    "sim_filtered_ann" ->
      s"""WITH $sqlQuant,
         |keep AS (SELECT doc_id AS vec_id FROM documents
         |         WHERE lang = 'en'),
         |scored AS (
         |  SELECT p.vec_id AS qid, v.vec_id AS vec_id,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM qn p
         |  JOIN (SELECT qn.* FROM qn JOIN keep ON qn.vec_id = keep.vec_id) v
         |    ON v.vec_id <> p.vec_id
         |  WHERE p.vec_id < $NQueries)
         |SELECT qid, rk, vec_id, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM scored) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin,

    // PQ/ADC: encode per (vector, subspace), LUT = probe sub-vector ·
    // sub-centroid, approx_dot = Σ over subspaces, ADC top-50
    // shortlist, exact-cosine rerank to top-k.
    // stage 1 on the 16-dim prefix (slice + prefix-dot), stage 2 the
    // full-width rerank tail shared with the PQ/SQ8 oracles
    "sim_mrl_ann" ->
      s"""WITH $sqlQuant,
         |pref AS (
         |  SELECT vec_id, qv[1:$MrlDim] AS p,
         |    list_sum(list_transform(qv[1:$MrlDim], x -> x * x)) AS pn2
         |  FROM qn),
         |pprobes AS (SELECT vec_id AS qid, p AS pp, pn2 AS ppn2
         |            FROM pref WHERE vec_id < $NQueries),
         |coarse AS (
         |  SELECT b.qid, v.vec_id,
         |    CAST(${sqlDotMrl("b.pp", "v.p")} AS BIGINT)
         |      / (sqrt(CAST(b.ppn2 AS DOUBLE)) * sqrt(CAST(v.pn2 AS DOUBLE)))
         |      AS ccos
         |  FROM pref v CROSS JOIN pprobes b WHERE v.vec_id <> b.qid),
         |short AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY ccos DESC, vec_id ASC) AS crk FROM coarse) t
         |  WHERE crk <= $MrlShortlist),
         |reranked AS (
         |  SELECT sl.qid, sl.vec_id,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM short sl
         |  JOIN qn v ON v.vec_id = sl.vec_id
         |  JOIN qn p ON p.vec_id = sl.qid)
         |SELECT qid, rk, vec_id, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM reranked) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin,

    "sim_pq_ann" ->
      s"""WITH $sqlQuant,
         |sub AS (
         |  SELECT vec_id, t.m,
         |    qv[CAST(t.m * $PqSubDim + 1 AS INTEGER):
         |       CAST((t.m + 1) * $PqSubDim AS INTEGER)] AS sv
         |  FROM qn, UNNEST(range(0, $PqM)) t(m)),
         |cb AS (
         |  SELECT m, vec_id AS cid, sv AS cq,
         |    list_sum(list_transform(sv, x -> x * x)) AS cn2
         |  FROM sub WHERE vec_id < $NCentroids),
         |codes AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT s.vec_id, s.m, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY list_sum(list_transform(s.sv, x -> x * x)) + c.cn2
         |          - 2 * ${sqlDotSub("s.sv", "c.cq")} ASC, c.cid ASC) AS rn
         |    FROM sub s JOIN cb c ON s.m = c.m) t
         |  WHERE rn = 1),
         |lut AS (
         |  SELECT s.vec_id AS qid, s.m, c.cid,
         |    ${sqlDotSub("s.sv", "c.cq")} AS pdot
         |  FROM sub s JOIN cb c ON s.m = c.m
         |  WHERE s.vec_id < $NQueries),
         |scored AS (
         |  SELECT l.qid, co.vec_id, CAST(sum(l.pdot) AS BIGINT) AS approx_dot
         |  FROM codes co JOIN lut l ON co.m = l.m AND co.cid = l.cid
         |  WHERE co.vec_id <> l.qid
         |  GROUP BY l.qid, co.vec_id),
         |shortlist AS (
         |  SELECT qid, vec_id, approx_dot FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY approx_dot DESC, vec_id ASC) AS adc_rk
         |    FROM scored) t
         |  WHERE adc_rk <= 50),
         |reranked AS (
         |  SELECT sl.qid, sl.vec_id, sl.approx_dot,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM shortlist sl
         |  JOIN qn v ON v.vec_id = sl.vec_id
         |  JOIN qn p ON p.vec_id = sl.qid)
         |SELECT qid, rk, vec_id, approx_dot, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM reranked) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin,

    // the sim_pq_ann encode CTEs, rolled up per (subspace, code)
    "sim_pq_code_balance" ->
      s"""WITH $sqlQuant,
         |sub AS (
         |  SELECT vec_id, t.m,
         |    qv[CAST(t.m * $PqSubDim + 1 AS INTEGER):
         |       CAST((t.m + 1) * $PqSubDim AS INTEGER)] AS sv
         |  FROM qn, UNNEST(range(0, $PqM)) t(m)),
         |cb AS (
         |  SELECT m, vec_id AS cid, sv AS cq,
         |    list_sum(list_transform(sv, x -> x * x)) AS cn2
         |  FROM sub WHERE vec_id < $NCentroids),
         |codes AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT s.vec_id, s.m, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY list_sum(list_transform(s.sv, x -> x * x)) + c.cn2
         |          - 2 * ${sqlDotSub("s.sv", "c.cq")} ASC, c.cid ASC) AS rn
         |    FROM sub s JOIN cb c ON s.m = c.m) t
         |  WHERE rn = 1),
         |pop AS (SELECT m, cid, CAST(count(*) AS BIGINT) AS n_vecs
         |        FROM codes GROUP BY 1, 2),
         |tot AS (SELECT m, CAST(sum(n_vecs) AS BIGINT) AS mtot
         |        FROM pop GROUP BY 1)
         |SELECT CAST(p.m AS BIGINT) AS m, p.cid, p.n_vecs,
         |  CAST(p.n_vecs * 1000000 // t.mtot AS BIGINT) AS share_ppm
         |FROM pop p JOIN tot t ON p.m = t.m
         |ORDER BY m, p.cid""".stripMargin,

    // IVF-PQ: sim_ivf_ann's cell assignment restricts sim_pq_ann's
    // ADC scoring to cell-mates; shortlist/rerank tail identical.
    "sim_ivfpq_ann" ->
      s"""WITH $sqlQuant,
         |cents AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM qn
         |          WHERE vec_id < $NCentroids),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cid AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY v.n2 + c.cn2 - 2 * ${sqlDot("v.qv", "c.cq")} ASC,
         |                 c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |cand AS (
         |  SELECT p.vec_id AS qid, v.vec_id
         |  FROM assigned p JOIN assigned v
         |    ON v.cell = p.cell AND v.vec_id <> p.vec_id
         |  WHERE p.vec_id < $NQueries),
         |sub AS (
         |  SELECT vec_id, t.m,
         |    qv[CAST(t.m * $PqSubDim + 1 AS INTEGER):
         |       CAST((t.m + 1) * $PqSubDim AS INTEGER)] AS sv
         |  FROM qn, UNNEST(range(0, $PqM)) t(m)),
         |cb AS (
         |  SELECT m, vec_id AS cid, sv AS cq,
         |    list_sum(list_transform(sv, x -> x * x)) AS cn2
         |  FROM sub WHERE vec_id < $NCentroids),
         |codes AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT s.vec_id, s.m, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m
         |        ORDER BY list_sum(list_transform(s.sv, x -> x * x)) + c.cn2
         |          - 2 * ${sqlDotSub("s.sv", "c.cq")} ASC, c.cid ASC) AS rn
         |    FROM sub s JOIN cb c ON s.m = c.m) t
         |  WHERE rn = 1),
         |lut AS (
         |  SELECT s.vec_id AS qid, s.m, c.cid,
         |    ${sqlDotSub("s.sv", "c.cq")} AS pdot
         |  FROM sub s JOIN cb c ON s.m = c.m
         |  WHERE s.vec_id < $NQueries),
         |scored AS (
         |  SELECT ca.qid, ca.vec_id, CAST(sum(l.pdot) AS BIGINT) AS approx_dot
         |  FROM cand ca
         |  JOIN codes co ON co.vec_id = ca.vec_id
         |  JOIN lut l ON l.qid = ca.qid AND l.m = co.m AND l.cid = co.cid
         |  GROUP BY ca.qid, ca.vec_id),
         |shortlist AS (
         |  SELECT qid, vec_id, approx_dot FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY approx_dot DESC, vec_id ASC) AS adc_rk
         |    FROM scored) t
         |  WHERE adc_rk <= 50),
         |reranked AS (
         |  SELECT sl.qid, sl.vec_id, sl.approx_dot,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM shortlist sl
         |  JOIN qn v ON v.vec_id = sl.vec_id
         |  JOIN qn p ON p.vec_id = sl.qid)
         |SELECT qid, rk, vec_id, approx_dot, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM reranked) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin,

    // SemDeDup verdict: within-cell pairs under the learned k-means
    // assignment, keeper = min earlier neighbor with cos >= SemThresh.
    "dd_semdedup" ->
      s"""WITH $sqlKmeansAssign,
         |keepers AS (
         |  SELECT a.vec_id, min(b.vec_id) AS kmin
         |  FROM a1 a JOIN a1 b
         |    ON b.cell = a.cell AND b.vec_id < a.vec_id
         |  WHERE CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |      >= $SemThresh
         |  GROUP BY a.vec_id)
         |SELECT a1.vec_id, a1.cell,
         |  coalesce(k.kmin, a1.vec_id) AS keeper,
         |  k.kmin IS NOT NULL AS is_dup
         |FROM a1 LEFT JOIN keepers k ON a1.vec_id = k.vec_id
         |ORDER BY a1.vec_id""".stripMargin,

    // recall@k: exact top-k LEFT JOIN the IVF top-k; hits per probe.
    // Both sub-pipelines are the (deterministic) oracles above, so
    // the recall fractions themselves hash-compare.
    "sim_recall_at_k" ->
      s"""SELECT e.qid, CAST(count(a.vec_id) AS BIGINT) AS hits,
         |  CAST(count(a.vec_id) AS DOUBLE) / $TopK AS recall
         |FROM ($sqlCosineTopk) e
         |LEFT JOIN ($sqlIvfKmeans) a
         |  ON e.qid = a.qid AND e.vec_id = a.vec_id
         |GROUP BY e.qid ORDER BY e.qid""".stripMargin,

    "sim_lsh_bucket" ->
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS pop,
         |  min(vec_id) AS min_vec, max(vec_id) AS max_vec
         |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin,

    "dd_embed_cosine" ->
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id),
         |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
         |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id)
         |SELECT a.vec_id AS ida, b.vec_id AS idb,
         |  CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    AS cos
         |FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |    >= 0.35
         |ORDER BY ida, idb""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id),
         |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
         |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nbr,
         |    CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |      AS cos
         |  FROM wb a JOIN wb b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |SELECT vec_id, rk, nbr, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, nbr ASC) AS BIGINT) AS rk
         |  FROM scored) t
         |WHERE rk <= $KnnK ORDER BY vec_id, rk""".stripMargin,

    // the kNN-graph edge derivation verbatim, then three unrolled
    // integer PageRank steps (// is DuckDB integral division — exact
    // match for Spark's `div` on the all-positive scores here)
    "graph_pagerank" -> {
      val iters = (1 to PrIters).map { i =>
        val prev = if (i == 1) "s0" else s"i${i - 1}"
        s"""i$i AS (
           |  SELECT n.vec_id,
           |    CAST(150000 + (85 * COALESCE(c.m, 0)) // 100 AS BIGINT)
           |      AS score
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS vec_id, SUM(s.score // d.deg) AS m
           |    FROM edges e JOIN $prev s ON e.src = s.vec_id
           |                 JOIN deg d ON e.src = d.src
           |    GROUP BY e.dst) c ON n.vec_id = c.vec_id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id),
         |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
         |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nbr,
         |    CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |      AS cos
         |  FROM wb a JOIN wb b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |edges AS (
         |  SELECT vec_id AS src, nbr AS dst FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, nbr ASC) AS rk
         |    FROM scored) t
         |  WHERE rk <= $KnnK),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY src),
         |nodes AS (SELECT vec_id FROM embeddings),
         |s0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS score
         |       FROM nodes),
         |$iters
         |SELECT vec_id, score FROM i$PrIters ORDER BY vec_id"""
        .stripMargin
    },

    // same edge derivation; majority vote with (count desc, label asc)
    // tie-break, -1 for isolated vectors
    "sim_knn_label" ->
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id),
         |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
         |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nbr,
         |    CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |      AS cos
         |  FROM wb a JOIN wb b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |edges AS (
         |  SELECT vec_id AS src, nbr AS dst FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, nbr ASC) AS rk
         |    FROM scored) t
         |  WHERE rk <= $KnnK),
         |votes AS (
         |  SELECT e.src, l.label AS plabel, count(*) AS v
         |  FROM edges e JOIN embeddings l ON e.dst = l.vec_id
         |  GROUP BY e.src, l.label),
         |pred AS (
         |  SELECT src, plabel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |      ORDER BY v DESC, plabel ASC) AS rn
         |    FROM votes) t
         |  WHERE rn = 1)
         |SELECT n.vec_id, n.label,
         |  COALESCE(p.plabel, -1) AS pred,
         |  n.label = COALESCE(p.plabel, -1) AS correct
         |FROM embeddings n LEFT JOIN pred p ON n.vec_id = p.src
         |ORDER BY n.vec_id""".stripMargin,

    "sim_ivf_ann" ->
      s"""WITH $sqlQuant,
         |cents AS (SELECT vec_id AS cid, qv AS cq, n2 AS cn2 FROM qn
         |          WHERE vec_id < $NCentroids),
         |assigned AS (
         |  SELECT vec_id, cell, qv, n2 FROM (
         |    SELECT v.vec_id, c.cid AS cell, v.qv, v.n2,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY v.n2 + c.cn2 - 2 * ${sqlDot("v.qv", "c.cq")} ASC,
         |                 c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN cents c) t
         |  WHERE rn = 1),
         |scored AS (
         |  SELECT p.vec_id AS qid, v.vec_id AS vec_id,
         |    CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
         |      AS cos
         |  FROM (SELECT * FROM assigned WHERE vec_id < $NQueries) p
         |  JOIN assigned v ON v.cell = p.cell AND v.vec_id <> p.vec_id)
         |SELECT qid, rk, vec_id, cos FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM scored) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin,


    "sim_lsh_ann" -> sqlLshAnn,

    "sim_multiprobe_ann" -> sqlMultiProbeAnn,

    // the three component pipelines as subquery CTEs, compared by
    // two (qid, vec_id) semi-joins against the truth rows
    "sim_multiprobe_recall" ->
      s"""WITH truth AS (SELECT qid, vec_id FROM ($sqlCosineTopk) t0),
         |single AS (SELECT qid, vec_id FROM ($sqlLshAnn) t1),
         |multi AS (SELECT qid, vec_id FROM ($sqlMultiProbeAnn) t2),
         |base AS (SELECT qid, CAST(count(*) AS BIGINT) AS k
         |         FROM truth GROUP BY 1),
         |hs AS (SELECT t.qid, CAST(count(*) AS BIGINT) AS hits_single
         |       FROM truth t JOIN single s
         |         ON t.qid = s.qid AND t.vec_id = s.vec_id
         |       GROUP BY 1),
         |hm AS (SELECT t.qid, CAST(count(*) AS BIGINT) AS hits_multi
         |       FROM truth t JOIN multi m
         |         ON t.qid = m.qid AND t.vec_id = m.vec_id
         |       GROUP BY 1)
         |SELECT b.qid, b.k,
         |  CAST(coalesce(hs.hits_single, 0) AS BIGINT) AS hits_single,
         |  CAST(coalesce(hm.hits_multi, 0) AS BIGINT) AS hits_multi,
         |  CAST(coalesce(hs.hits_single, 0) * 1000000 // b.k AS BIGINT)
         |    AS recall_single_ppm,
         |  CAST(coalesce(hm.hits_multi, 0) * 1000000 // b.k AS BIGINT)
         |    AS recall_multi_ppm
         |FROM base b
         |LEFT JOIN hs ON b.qid = hs.qid
         |LEFT JOIN hm ON b.qid = hm.qid
         |ORDER BY b.qid""".stripMargin,

    // same edge derivation; clamped seeds (vec_id % LpSeedMod == 0),
    // then LpIters unrolled majority-vote rounds (count desc, label
    // asc tie-break; unlabeled neighbors excluded; no labeled
    // neighbor → carry)
    "graph_label_prop" -> {
      val rounds = (1 to LpIters).map { i =>
        val prev = if (i == 1) "s0" else s"i${i - 1}"
        s"""v$i AS (
           |  SELECT e.src, s.lbl AS nl, CAST(count(*) AS BIGINT) AS v
           |  FROM edges e JOIN $prev s ON e.dst = s.vec_id
           |  WHERE s.lbl >= 0 GROUP BY 1, 2),
           |m$i AS (
           |  SELECT src AS vec_id, nl AS maj FROM (
           |    SELECT src, nl, row_number() OVER (PARTITION BY src
           |      ORDER BY v DESC, nl ASC) AS rn FROM v$i) t
           |  WHERE rn = 1),
           |i$i AS (
           |  SELECT s.vec_id, s.seed,
           |    CASE WHEN s.seed THEN s.lbl
           |         ELSE COALESCE(m.maj, s.lbl) END AS lbl
           |  FROM $prev s LEFT JOIN m$i m ON s.vec_id = m.vec_id)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id),
         |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
         |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id),
         |scored AS (
         |  SELECT a.vec_id, b.vec_id AS nbr,
         |    CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |      AS cos
         |  FROM wb a JOIN wb b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |edges AS (
         |  SELECT vec_id AS src, nbr AS dst FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, nbr ASC) AS rk
         |    FROM scored) t
         |  WHERE rk <= $KnnK),
         |nodes AS (SELECT vec_id, label,
         |          (vec_id % $LpSeedMod = 0) AS seed FROM embeddings),
         |s0 AS (SELECT vec_id, seed,
         |       CASE WHEN seed THEN label ELSE -1 END AS lbl FROM nodes),
         |$rounds
         |SELECT i.vec_id, i.seed, i.lbl, (i.lbl = n.label) AS agrees
         |FROM i$LpIters i JOIN nodes n ON i.vec_id = n.vec_id
         |ORDER BY i.vec_id""".stripMargin
    },

    // the SQ8 pipeline relationally: per-dim (min, span) over the
    // exploded quantized corpus, 8-bit codes DECODED back to
    // dimension-ordered reconstruction lists (mn*255 + code*span),
    // integer decoded-dot shortlist, exact-cosine rerank ((x-mn)*255
    // is nonnegative, so // matches Spark's div)
    "sim_sq8_ann" ->
      s"""WITH $sqlQuant,
         |exploded AS (
         |  SELECT vec_id, i, qv[i] AS v
         |  FROM qn, UNNEST(range(1, len(qv) + 1)) u(i)),
         |stats AS (
         |  SELECT i, min(v) AS mn,
         |    GREATEST(max(v) - min(v), 1) AS span
         |  FROM exploded GROUP BY i),
         |coded AS (
         |  SELECT vec_id,
         |    list(mn * 255 + (((v - mn) * 255) // span) * span
         |         ORDER BY i) AS c
         |  FROM exploded JOIN stats USING (i)
         |  GROUP BY vec_id),
         |short AS (
         |  SELECT p.vec_id AS qid, x.vec_id,
         |    ${sqlDot("x.c", "p.c")} AS iscore
         |  FROM coded x JOIN coded p
         |    ON p.vec_id < $NQueries AND x.vec_id <> p.vec_id),
         |sl AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY iscore DESC, vec_id ASC) AS srk
         |    FROM short) t
         |  WHERE srk <= $Sq8Shortlist),
         |rr AS (
         |  SELECT sl.qid, sl.vec_id,
         |    CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |      AS cos
         |  FROM sl JOIN qn a ON sl.vec_id = a.vec_id
         |          JOIN qn b ON sl.qid = b.vec_id)
         |SELECT qid, rk, vec_id, cos FROM (
         |  SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rk
         |  FROM rr) t
         |WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin,

    // the dd_embed_cosine bucket pipeline with the threshold swept:
    // 1%-bin histogram of bucket-pair cosines, then cumulative counts
    // per candidate threshold (identical floor(cos*100) binning)
    "sim_threshold_sweep" ->
      s"""WITH $sqlQuant,
         |planes AS (SELECT vec_id AS pid, qv AS pq FROM qn
         |           WHERE vec_id < $NPlanes),
         |bucketed AS (
         |  SELECT v.vec_id,
         |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
         |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM qn v CROSS JOIN planes p
         |  GROUP BY v.vec_id),
         |wb AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
         |       FROM bucketed b JOIN qn ON b.vec_id = qn.vec_id),
         |hist AS (
         |  SELECT CAST(floor(
         |    CAST(${sqlDot("a.qv", "b.qv")} AS BIGINT)
         |      / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
         |      * 100) AS BIGINT) AS bin,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM wb a JOIN wb b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  GROUP BY 1),
         |taus AS (SELECT CAST(unnest(range(20, 55, 5)) AS BIGINT)
         |         AS tau_pct)
         |SELECT tau_pct, CAST(sum(n) AS BIGINT) AS n_pairs
         |FROM hist JOIN taus ON bin >= tau_pct
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // edge derivation verbatim; per-label arc tallies and the
    // integer-ppm modularity terms (// truncates toward zero in both
    // engines, so negative q_ppm replays exactly)
    "graph_modularity" ->
      s"""$sqlKnnEdgesWith,
         |sym AS (SELECT src, dst FROM edges
         |        UNION SELECT dst AS src, src AS dst FROM edges),
         |arcs AS (
         |  SELECT es.label AS sl, ed.label AS dl
         |  FROM sym
         |  JOIN embeddings es ON sym.src = es.vec_id
         |  JOIN embeddings ed ON sym.dst = ed.vec_id),
         |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM arcs),
         |perc AS (
         |  SELECT CAST(sl AS BIGINT) AS label,
         |    CAST(sum(CASE WHEN sl = dl THEN 1 ELSE 0 END) AS BIGINT)
         |      AS intra_arcs,
         |    CAST(count(*) AS BIGINT) AS d_sum
         |  FROM arcs GROUP BY 1),
         |nodes AS (
         |  SELECT CAST(label AS BIGINT) AS label,
         |    CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM embeddings GROUP BY 1)
         |SELECT p.label, n.n_nodes, p.d_sum, p.intra_arcs,
         |  CAST((1000000 * (p.intra_arcs * m2.m2 - p.d_sum * p.d_sum))
         |    // (m2.m2 * m2.m2) AS BIGINT) AS q_ppm
         |FROM perc p JOIN nodes n ON p.label = n.label CROSS JOIN m2
         |ORDER BY p.label""".stripMargin,

    // edge derivation verbatim, then oriented-wedge triangle closure
    // and the integral-micro-unit clustering coefficient
    "graph_triangles" ->
      s"""$sqlKnnEdgesWith,
         |sym AS (SELECT src, dst FROM edges
         |        UNION SELECT dst AS src, src AS dst FROM edges),
         |o AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
         |tri AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM o e1 JOIN o e2 ON e1.b = e2.a
         |  WHERE EXISTS (SELECT 1 FROM o e3
         |                WHERE e3.a = e1.a AND e3.b = e2.b)),
         |pern AS (
         |  SELECT tv, CAST(count(*) AS BIGINT) AS tri FROM (
         |    SELECT a AS tv FROM tri
         |    UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) GROUP BY 1),
         |deg AS (SELECT src AS dv, CAST(count(*) AS BIGINT) AS deg
         |        FROM sym GROUP BY 1)
         |SELECT n.vec_id,
         |  CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
         |  CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
         |  CAST(CASE WHEN COALESCE(d.deg, 0) >= 2
         |    THEN (2 * COALESCE(p.tri, 0) * 1000000)
         |         // (d.deg * (d.deg - 1))
         |    ELSE 0 END AS BIGINT) AS cc_micro
         |FROM embeddings n LEFT JOIN deg d ON n.vec_id = d.dv
         |LEFT JOIN pern p ON n.vec_id = p.tv
         |ORDER BY n.vec_id""".stripMargin,

    // 0-based UNNEST ordinality matches posexplode's 0-based pos
    "sim_label_centroids" ->
      s"""WITH $sqlQuant
         |SELECT CAST(e.label AS BIGINT) AS label,
         |  CAST(u.i - 1 AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(v.qv[u.i]) AS BIGINT) AS dim_sum
         |FROM qn v JOIN embeddings e ON v.vec_id = e.vec_id,
         |     UNNEST(range(1, $Dim + 1)) u(i)
         |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,

    // same 0-based ordinality convention; all-integer stats
    "sim_dim_stats" ->
      s"""WITH $sqlQuant
         |SELECT CAST(u.i - 1 AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(v.qv[u.i]) AS BIGINT) AS dim_sum,
         |  CAST(sum(v.qv[u.i] * v.qv[u.i]) AS BIGINT) AS dim_sumsq,
         |  CAST(min(v.qv[u.i]) AS BIGINT) AS q_min,
         |  CAST(max(v.qv[u.i]) AS BIGINT) AS q_max
         |FROM qn v, UNNEST(range(1, $Dim + 1)) u(i)
         |GROUP BY 1 ORDER BY dim""".stripMargin,

    // group-wise dim stats joined to their own roll-up; DuckDB's //
    // floors, matching the Spark side's pmod floor
    "sim_source_drift" ->
      s"""WITH $sqlQuant,
         |per AS (
         |  SELECT d.source AS source, CAST(u.i - 1 AS BIGINT) AS dim,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v.qv[u.i]) AS BIGINT) AS dim_sum
         |  FROM qn v JOIN documents d ON v.vec_id = d.doc_id,
         |       UNNEST(range(1, $Dim + 1)) u(i)
         |  GROUP BY 1, 2),
         |tot AS (
         |  SELECT dim, sum(n) AS n_all, sum(dim_sum) AS sum_all
         |  FROM per GROUP BY 1)
         |SELECT p.source, p.dim, p.n, p.dim_sum,
         |  CAST((1000000 * p.dim_sum) // p.n
         |    - (1000000 * g.sum_all) // g.n_all AS BIGINT) AS drift_micro
         |FROM per p JOIN tot g USING (dim)
         |ORDER BY source, dim""".stripMargin,

    // the shared bucketed-scoring CTEs, re-ranked to the top 2, then
    // the micro-floored margin
    "sim_margin" ->
      s"""$sqlKnnEdgesWith,
         |ranked AS (
         |  SELECT vec_id, nbr, cos,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, nbr ASC) AS rk
         |  FROM scored),
         |m AS (
         |  SELECT vec_id,
         |    max(CASE WHEN rk = 1 THEN cos END) AS cos1,
         |    max(CASE WHEN rk = 2 THEN cos END) AS cos2
         |  FROM ranked WHERE rk <= 2 GROUP BY 1)
         |SELECT vec_id,
         |  CAST(floor((cos1 - cos2) * 1000000) AS BIGINT)
         |    AS margin_micro
         |FROM m WHERE cos2 IS NOT NULL ORDER BY vec_id""".stripMargin,

    // the shared edge derivation, symmetrized, degree-counted, with
    // zero-degree nodes kept through the left join
    "graph_degree_dist" -> {
      s"""$sqlKnnEdgesWith,
         |sym AS (SELECT src, dst FROM edges
         |        UNION SELECT dst AS src, src AS dst FROM edges),
         |dg AS (SELECT src AS vec_id, CAST(count(*) AS BIGINT) AS deg
         |       FROM sym GROUP BY 1),
         |alln AS (SELECT n.vec_id,
         |           CAST(coalesce(d.deg, 0) AS BIGINT) AS deg
         |         FROM embeddings n LEFT JOIN dg d
         |           ON n.vec_id = d.vec_id)
         |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM alln GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // the shared k-means CTEs, (cell, label) counts, majority pick,
    // exact ppm purity
    "sim_label_purity" ->
      s"""WITH $sqlKmeansAssign,
         |cnt AS (
         |  SELECT a.cell, e.label, CAST(count(*) AS BIGINT) AS n
         |  FROM a1 a JOIN embeddings e ON a.vec_id = e.vec_id
         |  GROUP BY 1, 2),
         |top AS (
         |  SELECT cell, label AS top_label, n AS top_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cell
         |      ORDER BY n DESC, label ASC) AS rn
         |    FROM cnt) t
         |  WHERE rn = 1),
         |tot AS (
         |  SELECT cell, CAST(sum(n) AS BIGINT) AS cell_n
         |  FROM cnt GROUP BY 1)
         |SELECT CAST(top.cell AS BIGINT) AS cell,
         |  CAST(top_label AS BIGINT) AS top_label, top_n, cell_n,
         |  CAST(top_n * 1000000 // cell_n AS BIGINT) AS purity_ppm
         |FROM top JOIN tot ON top.cell = tot.cell
         |ORDER BY cell""".stripMargin,

    // k-means CTEs + brute-force ground truth + one rank leg per
    // probe count; a vector lives in exactly one cell, so the legs
    // need no dedup
    // three unrolled lshAnn legs at constant plane counts + the shared
    // brute-force truth — the sim_nprobe_sweep factoring
    "sim_planes_sweep" -> {
      def leg(p: Int) =
        s"""pl$p AS (SELECT vec_id AS pid, qv AS pq FROM qn
           |         WHERE vec_id < $p),
           |bk$p AS (
           |  SELECT v.vec_id,
           |    CAST(sum(CASE WHEN ${sqlDot("v.qv", "p.pq")} > 0
           |      THEN (1 << p.pid) ELSE 0 END) AS BIGINT) AS bucket
           |  FROM qn v CROSS JOIN pl$p p
           |  GROUP BY v.vec_id),
           |wb$p AS (SELECT b.vec_id, b.bucket, qn.qv, qn.n2
           |         FROM bk$p b JOIN qn ON b.vec_id = qn.vec_id),
           |r$p AS (
           |  SELECT qid, vec_id FROM (
           |    SELECT q.vec_id AS qid, v.vec_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY CAST(${sqlDot("q.qv", "v.qv")} AS BIGINT)
           |          / (sqrt(CAST(q.n2 AS DOUBLE))
           |             * sqrt(CAST(v.n2 AS DOUBLE))) DESC,
           |          v.vec_id ASC) AS rk
           |    FROM wb$p q JOIN wb$p v
           |      ON v.bucket = q.bucket AND v.vec_id <> q.vec_id
           |    WHERE q.vec_id < $NQueries) t
           |  WHERE rk <= $TopK),
           |h$p AS (SELECT CAST($p AS BIGINT) AS planes,
           |  CAST(count(*) AS BIGINT) AS hits
           |  FROM r$p JOIN exact e USING (qid, vec_id))""".stripMargin
      s"""WITH $sqlQuant,
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT p.vec_id AS qid, v.vec_id,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |          / (sqrt(CAST(p.n2 AS DOUBLE))
         |             * sqrt(CAST(v.n2 AS DOUBLE))) DESC,
         |          v.vec_id ASC) AS rk
         |    FROM qn p JOIN qn v ON v.vec_id <> p.vec_id
         |    WHERE p.vec_id < $NQueries) t
         |  WHERE rk <= $TopK),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM exact),
         |${Seq(4, 6, 8).map(leg).mkString(",\n")}
         |SELECT planes, hits, total,
         |  CAST(hits * 1000000 // total AS BIGINT) AS recall_ppm
         |FROM (SELECT * FROM h4 UNION ALL SELECT * FROM h6
         |      UNION ALL SELECT * FROM h8) u
         |CROSS JOIN tot ORDER BY planes""".stripMargin
    },

    "sim_nprobe_sweep" -> {
      def leg(p: Int) =
        s"""r$p AS (
           |  SELECT qid, vec_id FROM (
           |    SELECT c.qid, v.vec_id,
           |      row_number() OVER (PARTITION BY c.qid
           |        ORDER BY CAST(${sqlDot("c.qq", "v.qv")} AS BIGINT)
           |          / (sqrt(CAST(c.qn2 AS DOUBLE))
           |             * sqrt(CAST(v.n2 AS DOUBLE))) DESC,
           |          v.vec_id ASC) AS rk
           |    FROM (SELECT qid, qcell, qq, qn2 FROM probecells
           |          WHERE prn <= $p) c
           |    JOIN a1 v ON v.cell = c.qcell AND v.vec_id <> c.qid) t
           |  WHERE rk <= $TopK),
           |h$p AS (SELECT CAST($p AS BIGINT) AS nprobe,
           |  CAST(count(*) AS BIGINT) AS hits
           |  FROM r$p JOIN exact e USING (qid, vec_id))""".stripMargin
      s"""WITH $sqlKmeansAssign,
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT p.vec_id AS qid, v.vec_id,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY CAST(${sqlDot("p.qv", "v.qv")} AS BIGINT)
         |          / (sqrt(CAST(p.n2 AS DOUBLE))
         |             * sqrt(CAST(v.n2 AS DOUBLE))) DESC,
         |          v.vec_id ASC) AS rk
         |    FROM qn p JOIN qn v ON v.vec_id <> p.vec_id
         |    WHERE p.vec_id < $NQueries) t
         |  WHERE rk <= $TopK),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM exact),
         |probecells AS (
         |  SELECT vec_id AS qid, cid AS qcell, qv AS qq, n2 AS qn2,
         |    rn AS prn
         |  FROM (
         |    SELECT v.vec_id, c.cid, v.qv, v.n2,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY v.n2 + c.cn2 - 2 * ${sqlDot("v.qv", "c.cq")}
         |          ASC, c.cid ASC) AS rn
         |    FROM qn v CROSS JOIN cents c
         |    WHERE v.vec_id < $NQueries) t
         |  WHERE rn <= 4),
         |${leg(1)},
         |${leg(2)},
         |${leg(4)}
         |SELECT nprobe, hits, total,
         |  CAST(hits * 1000000 // total AS BIGINT) AS recall_ppm
         |FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2
         |      UNION ALL SELECT * FROM h4) u
         |CROSS JOIN tot ORDER BY nprobe""".stripMargin
    },

    // the shared k-means CTEs rolled up per final cell, with the
    // 1-row corpus count
    "sim_centroid_balance" ->
      s"""WITH $sqlKmeansAssign,
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total
         |        FROM embeddings)
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(count(*) * 1000000 // n_total AS BIGINT) AS share_ppm
         |FROM a1 CROSS JOIN tot
         |GROUP BY cell, n_total ORDER BY cell""".stripMargin,

    // the shared k-means CTEs, the integer dist2 to the assigned
    // centroid, and a plain ntile over the global dist2-desc order
    // (ntileFromRank matches SQL ntile for every (n, k))
    "sim_ood_score" ->
      s"""WITH $sqlKmeansAssign,
         |scored AS (
         |  SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
         |    CAST(a.n2 + c.cn2 - 2 * ${sqlDot("a.qv", "c.cq")}
         |      AS BIGINT) AS dist2
         |  FROM a1 a JOIN cents c ON a.cell = c.cid)
         |SELECT vec_id, cell, dist2,
         |  CAST(ntile(10) OVER (ORDER BY dist2 DESC, vec_id ASC)
         |    AS BIGINT) AS decile,
         |  ntile(10) OVER (ORDER BY dist2 DESC, vec_id ASC) = 1
         |    AS is_ood
         |FROM scored ORDER BY vec_id""".stripMargin,

    // edge derivation verbatim, then CoreIters unrolled peel rounds
    // over the symmetrized edges; peeling is order-independent within
    // a round so both engines converge identically
    "graph_core" -> {
      val rounds = (1 to CoreIters).map { i =>
        val prev = if (i == 1) "a0" else s"a${i - 1}"
        s"""d$i AS (
           |  SELECT e.src, CAST(count(*) AS BIGINT) AS deg
           |  FROM sym e JOIN $prev s ON e.src = s.vec_id
           |             JOIN $prev t ON e.dst = t.vec_id
           |  GROUP BY 1),
           |a$i AS (SELECT src AS vec_id FROM d$i WHERE deg >= $CoreK)"""
          .stripMargin
      }.mkString(",\n")
      s"""$sqlKnnEdgesWith,
         |sym AS (SELECT src, dst FROM edges
         |        UNION SELECT dst AS src, src AS dst FROM edges),
         |a0 AS (SELECT vec_id FROM embeddings),
         |$rounds,
         |fd AS (
         |  SELECT e.src AS vec_id, CAST(count(*) AS BIGINT) AS core_deg
         |  FROM sym e JOIN a$CoreIters s ON e.src = s.vec_id
         |             JOIN a$CoreIters t ON e.dst = t.vec_id
         |  GROUP BY 1)
         |SELECT n.vec_id, a.vec_id IS NOT NULL AS in_core,
         |  CAST(COALESCE(fd.core_deg, 0) AS BIGINT) AS core_deg
         |FROM embeddings n
         |LEFT JOIN a$CoreIters a ON n.vec_id = a.vec_id
         |LEFT JOIN fd ON n.vec_id = fd.vec_id
         |ORDER BY n.vec_id""".stripMargin
    },

    // edge derivation verbatim, then common-neighbor pairs, existing
    // edges removed, Jaccard in integer micro-units, top-20
    "graph_jaccard" ->
      s"""$sqlKnnEdgesWith,
         |sym AS (SELECT src, dst FROM edges
         |        UNION SELECT dst AS src, src AS dst FROM edges),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM sym GROUP BY 1),
         |inter AS (
         |  SELECT x.src AS a, y.src AS b, CAST(count(*) AS BIGINT) AS inter
         |  FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT i.* FROM inter i
         |  WHERE NOT EXISTS (SELECT 1 FROM sym e
         |                    WHERE e.src = i.a AND e.dst = i.b))
         |SELECT a, b, inter, da.deg AS da, db.deg AS db,
         |  CAST((inter * 1000000) // (da.deg + db.deg - inter)
         |    AS BIGINT) AS jac_micro
         |FROM cand JOIN deg da ON a = da.src JOIN deg db ON b = db.src
         |ORDER BY jac_micro DESC, a, b LIMIT 20""".stripMargin)
}
