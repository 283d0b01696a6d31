package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Operators beyond plain relational algebra that a Spark engine must
  * still express scale-first: as-of joins, range/band joins, exact
  * distributive percentiles, and batch sessionization.
  *
  * The reference pipeline has none of these (SURVEY §2 "absent
  * operator categories") — they are part of the engine's analytics
  * surface, each built so the plan holds at 100 TB:
  *  - as-of join: union + keyed window carry-forward — ONE shuffle on
  *    the join key, no time-range blow-up, no broadcast of the big side.
  *  - range join: small band table broadcast against the fact table —
  *    a nested-loop over 6 rows per fact row, never a shuffle.
  *  - percentiles: rank-based discrete quantiles (integer-exact, so
  *    the oracle can hash-match), one window + one group-by on the
  *    same key.
  *  - sessionization: gap-detection via lag + running count — the
  *    batch twin of streaming session windows, partitioned by user.
  */
object AdvancedQueries {

  /** Session gap: 30 minutes, in ms. */
  final val SessionGapMs = 1800000L

  /** Funnel conversion window: 6 hours, in µs. */
  final val FunnelWindowUs = 21600000000L

  private def cents = round(col("o_totalprice") * 100, 0).cast(LongType)

  /** Price bands: 6 × $100k-wide tiers in cents. Kept arithmetic-
    * friendly so engines agree exactly.
    */
  final val BandWidthCents = 10000000L
  final val NBands = 6

  /** Histogram-percentile bin width in cents (rel_percentiles_hist). */
  final val HistBinCents = 1000000L

  /** pipe_epoch_plan: repetition cap (epochs per source) and the
    * token budget as a multiple of the curated corpus — 4 epochs is
    * the Muennighoff et al. 2023 ("Scaling Data-Constrained Language
    * Models") point past which repeated data stops buying loss; 3×
    * makes the budget exceed the corpus so the plan actually
    * exercises repetition and the cap.
    */
  final val EpochCap = 4L
  final val BudgetMult = 3L

  /** The staged end-to-end curation verdict — doc_id + the three gate
    * booleans + kept. Five consumers re-derived this per run
    * (pipe_pack, pipe_report, pipe_datacard, pipe_epoch_plan,
    * pipe_manifest — each through pipe_curate's composition); it is
    * doc_id + 4 booleans, the perfect staged artifact, so the
    * composed verdict is now materialized once per input snapshot
    * like the component indexes it joins. The stage name embeds the
    * k-means cell knob (the one session knob the semantic component
    * depends on) — a tuned session can never read a stale verdict.
    * Row order is unspecified (parquet read-back).
    */
  private def curateVerdict(s: SparkSession, d: String): DataFrame =
    StagedIndex.orStage(s,
      s"pipe_curate_verdict_c${SimilarityQueries.kmeansCells(s, d)}_v1", d,
      Seq(s"$d/documents.parquet", s"$d/embeddings.parquet")) {
      val quality = TextQueries.filterVerdicts(s, d)
        .select(col("doc_id"), col("keep").alias("keep_quality"))
      // the two expensive component verdicts are themselves staged
      // once per input snapshot — their derivation costs remain
      // separately measured by their own queries, and the staged rows
      // ARE the recomputed rows, so oracle parity is unaffected
      val textDup = StagedIndex.orStage(s, "curate_textdup_v1", d,
        Seq(s"$d/documents.parquet")) {
        DedupQueries.queries("dd_dedup_verdict")(s, d)
      }.select(col("doc_id"), col("is_dup").alias("is_dup_text"))
      val semDup = StagedIndex.orStage(s,
        s"curate_semdup_c${SimilarityQueries.kmeansCells(s, d)}_v1", d,
        Seq(s"$d/embeddings.parquet")) {
        SimilarityQueries.queries("dd_semdedup")(s, d)
      }.select(col("vec_id").alias("doc_id"),
        col("is_dup").alias("is_dup_sem"))
      quality
        .join(textDup, "doc_id")
        .join(semDup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("keep_quality"), col("is_dup_text"),
          coalesce(col("is_dup_sem"), lit(false)).alias("is_dup_sem"))
        .withColumn("kept",
          col("keep_quality") && !col("is_dup_text") && !col("is_dup_sem"))
    }

  /** Staged session table (user_id, session_no, n_events, start_ms,
    * end_ms) — sessionization is ONE user-keyed window pass over the
    * event stream, and both s7_sessions and rel_concurrency consumed
    * it per-run; like every staged index it is computed once per
    * snapshot and scanned back (at 100 TB the session table is the
    * canonical derived artifact every product-analytics query joins,
    * not something each query re-derives from raw events). Stage name
    * embeds the gap knob; row order unspecified.
    */
  private def sessionsTable(s: SparkSession, d: String): DataFrame =
    StagedIndex.orStage(s, s"rel_sessions_v1_g$SessionGapMs", d,
      Seq(s"$d/events.parquet")) {
      val wOrd = Window.partitionBy("user_id")
        .orderBy(col("ms"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000000").alias("ms"))
        .withColumn("new_session",
          when(lag(col("ms"), 1).over(wOrd).isNull ||
            col("ms") - lag(col("ms"), 1).over(wOrd) > SessionGapMs, 1L)
            .otherwise(0L))
        .withColumn("session_no", sum(col("new_session")).over(wRun))
        .groupBy("user_id", "session_no")
        .agg(count(lit(1)).alias("n_events"),
          min(col("ms")).alias("start_ms"),
          max(col("ms")).alias("end_ms"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The capstone: one end-to-end curation verdict per document,
    // composed from three independently-oracle-checked operators —
    // the quality gate (tx_filter_verdict), the text near-dup verdict
    // (dd_dedup_verdict), and the semantic near-dup verdict
    // (dd_semdedup, joined on the shared doc/vec id, left join
    // because embeddings may cover only a corpus prefix). kept =
    // passes quality AND is no one's text dup AND no one's semantic
    // dup — exactly the decision a training-data pipeline materializes
    // before packing. Scale shape: three doc-keyed equi-joins of
    // per-doc verdict tables, each of which already has a bounded
    // plan; nothing new shuffles beyond the id joins.
    "pipe_curate" -> (curateVerdict(_, _)),

    // Curation verdict → packed training rows: the end-to-end hop a
    // training-data pipeline actually ships. The kept id set from
    // pipe_curate (itself composed of staged, separately-oracle-
    // checked verdict tables) prunes the documents scan via one
    // doc_id equi-join, then the surviving corpus packs through the
    // same scale-safe two-level cumsum as tx_pack (GroupRank: range
    // partition + local cumsum + broadcast chunk offsets). Nothing
    // here adds a new shuffle class: one id join + the pack shape.
    "pipe_pack" -> ((s, d) => {
      val keptIds = curateVerdict(s, d)
        .filter(col("kept")).select("doc_id")
      TextQueries.packOf(Tables.documents(s, d).join(keptIds, "doc_id"))
    }),

    // The one-row dataset card — the summary a corpus release ships:
    // corpus-wide document/language/source counts, every gate's drop
    // totals, the kept set and its token budget, and the dominant
    // language of the KEPT corpus (docs desc, lang asc tie-break).
    // Composed entirely from pipe_report's already-oracled
    // (lang, source) funnel table, so this is an O(langs × sources)
    // re-aggregation — nothing corpus-sized is touched again. The
    // final agg is a deliberate one-row scalar (whitelisted shape).
    "pipe_datacard" -> ((s, d) => {
      val rep = AdvancedQueries.queries("pipe_report")(s, d)
      val byLang = rep.groupBy("lang")
        .agg(sum(col("kept")).alias("lang_kept"))
      val wT = Window.orderBy(col("lang_kept").desc, col("lang").asc)
      val top = byLang.withColumn("rn", row_number().over(wT))
        .filter(col("rn") === 1)
        .select(col("lang").alias("top_lang"),
          col("lang_kept").alias("top_lang_kept"))
      rep.agg(
          sum(col("n_docs")).alias("n_docs"),
          countDistinct(col("lang")).alias("n_langs"),
          countDistinct(col("source")).alias("n_sources"),
          sum(col("drop_quality")).alias("drop_quality"),
          sum(col("dup_text")).alias("dup_text"),
          sum(col("dup_sem")).alias("dup_sem"),
          sum(col("kept")).alias("kept"),
          sum(col("kept_tokens")).alias("kept_tokens"))
        .crossJoin(broadcast(top))
    }),

    // Curriculum ordering (the quality-annealing recipe: train on the
    // low-quality bulk first, end on the highest-quality data): every
    // document gets a deterministic global curriculum position ordered
    // by its LM-score quality decile ascending, with a content-hash
    // shuffle INSIDE each decile so consecutive positions are not
    // corpus-ordered (the within-stage shuffle any curriculum loader
    // assumes). Composed from the independently-oracled
    // tx_quality_bins decile table; same corpus ⇒ same curriculum on
    // any engine. Scale shape: one doc_id equi-join, then the same
    // constant-group GroupRank global rank as tx_shard — a range
    // partition + broadcast offsets, never an ORDER-BY-everything
    // window task.
    // The training manifest — the one table a trainer's data loader
    // actually consumes, composed from three independently-oracled
    // components joined on doc_id: pipe_pack's (bin, offset) layout
    // over the curated kept set, pipe_split's leakage-safe
    // train/valid/test assignment, and pipe_curriculum's global
    // quality-annealed position. Scale shape: three id-keyed
    // equi-joins of tables whose own plans are already audited;
    // nothing new shuffles beyond the id joins. The inner join
    // restricts to packed (kept) documents by construction.
    "pipe_manifest" -> ((s, d) => {
      val pack = queries("pipe_pack")(s, d)
      val split = queries("pipe_split")(s, d)
        .select(col("doc_id"), col("split"))
      val curr = queries("pipe_curriculum")(s, d)
        .select(col("doc_id"), col("pos"))
      pack.join(split, "doc_id").join(curr, "doc_id")
        .select(col("doc_id"), col("lang"), col("split"),
          col("n_tokens"), col("bin"), col("offset"), col("pos"))
    }),

    "pipe_curriculum" -> ((s, d) => {
      val bins = TextQueries.qualityDeciles(s, d)
        .select(col("doc_id"), col("decile"))
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"), DedupQueries.h60(col("text")).alias("h"))
      val base = bins.join(hashed, "doc_id").withColumn("g0", lit(0))
      GroupRank.rank(base, "g0",
          Seq(col("decile").asc, col("h").asc, col("doc_id").asc))
        .select(col("doc_id"), col("decile"), col("rn").alias("pos"))
    }),

    // Leakage-safe train/valid/test split: the split is a
    // deterministic hash of the document's NEAR-DUP CLUSTER
    // representative (dd_cluster's min-reachable-id label; documents
    // in no candidate pair are their own representative), so
    // near-duplicates can never straddle train and test — the
    // split-contamination failure mode decontamination work warns
    // about (a test document's near-dup leaking into train scores as
    // memorization). 80/10/10 by hash bucket of the representative;
    // same corpus ⇒ same split on any engine, any partitioning, and
    // adding unrelated documents never moves an existing one between
    // splits (the bucket depends only on the representative id).
    // Scale shape: the cluster table is O(paired docs), joined to the
    // corpus on the doc_id equi-key (AQE broadcasts it while small; a
    // plain hash join at scale), then per-row hash arithmetic — no
    // new shuffle class beyond the id join.
    "pipe_split" -> ((s, d) => {
      val clusters = DedupQueries.clusterLabels(s, d)
        .select(col("id").alias("doc_id"), col("label").alias("cluster_id"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).alias("rep"))
        .withColumn("bucket",
          DedupQueries.h60(col("rep").cast("string")) % 100L)
        .withColumn("split",
          when(col("bucket") < 80L, "train")
            .when(col("bucket") < 90L, "valid")
            .otherwise("test"))
    }),

    // The curation dashboard: per-(lang, source) funnel counts — how
    // many documents each domain contributed, what each gate dropped
    // (quality / text-dup / semantic-dup), what survived, and the
    // surviving token budget. This is the table a dataset card or a
    // mixture re-plan (tx_mixture over the curated corpus) is built
    // from. Scale shape: one doc_id equi-join of the corpus against
    // the per-doc verdict, one map-side-combined agg to
    // O(langs × sources) rows — nothing corpus-sized moves after it.
    // Referential-integrity audit of the corpus table pair — the
    // health gate a pipeline runs after every ingest or rewrite,
    // BEFORE any derived stage is trusted: row counts, documents
    // lacking an embedding, orphaned embeddings, duplicate ids in
    // each table. Scale shape: every check reduces map-side to one
    // row (counts and anti-join counts over two id columns — column-
    // pruned scans, never the text/vector payloads); the final
    // assembly is the 1-row scalar-aggregate crossJoin pattern
    // (broadcast by construction).
    "pipe_integrity" -> ((s, d) => {
      val docIds = Tables.documents(s, d).select(col("doc_id"))
      val vecIds = Tables.embeddings(s, d).select(col("vec_id"))
      val nDocs = docIds.agg(count(lit(1)).alias("n_docs"))
      val nEmbs = vecIds.agg(count(lit(1)).alias("n_embeddings"))
      val missing = docIds
        .join(vecIds, col("doc_id") === col("vec_id"), "left_anti")
        .agg(count(lit(1)).alias("docs_missing_embedding"))
      val orphans = vecIds
        .join(docIds, col("vec_id") === col("doc_id"), "left_anti")
        .agg(count(lit(1)).alias("embeddings_orphaned"))
      val dupDocs = docIds.groupBy("doc_id")
        .agg(count(lit(1)).alias("c"))
        .agg(coalesce(sum(col("c") - 1L), lit(0L)).alias("doc_id_dups"))
      val dupVecs = vecIds.groupBy("vec_id")
        .agg(count(lit(1)).alias("c"))
        .agg(coalesce(sum(col("c") - 1L), lit(0L)).alias("vec_id_dups"))
      nDocs.crossJoin(broadcast(nEmbs)).crossJoin(broadcast(missing))
        .crossJoin(broadcast(orphans)).crossJoin(broadcast(dupDocs))
        .crossJoin(broadcast(dupVecs))
    }),

    "pipe_report" -> ((s, d) => {
      val verdict = curateVerdict(s, d)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          size(split(col("text"), " ")).cast(LongType).alias("n_tokens"))
      docs.join(verdict, "doc_id")
        .groupBy("lang", "source")
        .agg(count(lit(1)).alias("n_docs"),
          sum(when(!col("keep_quality"), 1L).otherwise(0L))
            .alias("drop_quality"),
          sum(when(col("is_dup_text"), 1L).otherwise(0L)).alias("dup_text"),
          sum(when(col("is_dup_sem"), 1L).otherwise(0L)).alias("dup_sem"),
          sum(when(col("kept"), 1L).otherwise(0L)).alias("kept"),
          sum(when(col("kept"), col("n_tokens")).otherwise(0L))
            .alias("kept_tokens"))
    }),

    // Epoch plan under a token budget (Muennighoff et al. 2023,
    // "Scaling Data-Constrained Language Models"): when the training
    // budget exceeds the curated corpus, decide how many times each
    // SOURCE is repeated. Budget = BudgetMult × total kept tokens,
    // allocated across sources by sqrt(kept_tokens) weights (the
    // standard sub-linear flattening that keeps big sources from
    // drowning small ones), then clamped to EpochCap repetitions —
    // the table a training run's data loader is configured from.
    // All-integer arithmetic (floor-sqrt weights, micro-unit budget
    // shares with bounded intermediates, ceil epochs) so the oracle
    // replays bit-for-bit at any corpus size. Scale shape:
    // composed from pipe_report's already-oracled funnel table —
    // everything after it touches O(sources) rows, with the 1-row
    // totals scalar broadcast.
    "pipe_epoch_plan" -> ((s, d) => {
      val perSource = queries("pipe_report")(s, d)
        .groupBy("source")
        .agg(sum(col("kept")).alias("kept_docs"),
          sum(col("kept_tokens")).alias("kept_tokens"))
        .filter(col("kept_tokens") > 0)
      val weighted = perSource.withColumn("wt",
        floor(sqrt(col("kept_tokens").cast("double"))).cast(LongType))
      val tot = weighted.agg(sum(col("wt")).alias("tw"),
        sum(col("kept_tokens")).alias("tt"))
      weighted.crossJoin(broadcast(tot))
        // staged division (the rel_basket_affinity discipline): the
        // naive (BudgetMult * tt * wt) div tw overflows int64 at the
        // stated design scale (tt ~2.5e13 kept tokens × wt ~5e6
        // sqrt-weight ⇒ ~3.8e20 > 2^63) and would silently wrap under
        // non-ANSI Spark while DuckDB promotes to HUGEINT. Quantize
        // each source's share of the budget to micro-units first
        // (bsm ≤ BudgetMult·10^6 since wt ≤ tw), then apply it to tt
        // in two bounded terms. Every intermediate stays under 2^63
        // for tt up to ~3e18 tokens — five orders above the 100 TB
        // point; precision cost ≤ tt/10^6 tokens per source.
        .withColumn("bsm",
          expr(s"($BudgetMult * wt * 1000000) div tw"))
        .withColumn("alloc_tokens",
          expr("(tt div 1000000) * bsm + ((tt % 1000000) * bsm) div 1000000"))
        .withColumn("plan_tokens",
          least(col("alloc_tokens"), lit(EpochCap) * col("kept_tokens")))
        .withColumn("epochs",
          expr("(plan_tokens + kept_tokens - 1) div kept_tokens"))
        .withColumn("capped",
          col("alloc_tokens") > lit(EpochCap) * col("kept_tokens"))
        .select(col("source"), col("kept_docs"), col("kept_tokens"),
          col("wt"), col("alloc_tokens"), col("plan_tokens"),
          col("epochs"), col("capped"))
    }),

    // Joint text+media curation (the LAION-style multimodal funnel):
    // a media item survives iff its caption text passes the quality
    // gate AND it is its pHash near-dup component's keeper. Composed
    // from two independently-oracle-checked verdicts joined on the
    // shared id — the same verdict-table algebra as pipe_curate, on
    // the media axis. The media verdict is staged per snapshot (its
    // stage name embeds the decoder knob, like the pHash table it
    // derives from); the join is one id-keyed equi-join.
    "pipe_mm_curate" -> ((s, d) => {
      val quality = TextQueries.filterVerdicts(s, d)
        .select(col("doc_id").alias("media_id"),
          col("keep").alias("keep_quality"))
      val dec = s.conf.get("graft.media.decoder", "stub")
      val media = StagedIndex.orStage(s, s"curate_mmdedup_${dec}_v1", d,
        Seq(s"$d/documents.parquet")) {
        MultimodalQueries.queries("mm_dedup")(s, d)
      }.select(col("media_id"), col("keeper"),
        col("is_dup").alias("is_dup_media"))
      media.join(quality, "media_id")
        .select(col("media_id"), col("keep_quality"), col("keeper"),
          col("is_dup_media"),
          (col("keep_quality") && !col("is_dup_media")).alias("kept"))
    }),

    // Ordered event funnel: first signup, then the first click within
    // FunnelWindowUs of it, then the first purchase within the window
    // of that click — the staged conversion query a product analytics
    // surface owes its users, with strict stage ordering (a click
    // before signup does not count) and a conversion window that
    // makes the funnel discriminate (150 → 14 → 4 users at sf0.01).
    // Scale shape: every stage is a user-keyed filter + agg +
    // equi-join — one hash partitioning reused end to end, no windows
    // over global order, no self-join; integer-microsecond timestamps
    // keep it oracle-exact.
    "rel_funnel" -> ((s, d) => {
      // microseconds, not nanos: DuckDB reads TIMESTAMP_NS parquet at
      // µs precision, and floor(ns→µs) is monotone so min/ordering
      // semantics agree on both sides
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").alias("t"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("t")).alias("t_signup"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id")
        .filter(col("t") >= col("t_signup") &&
          col("t") <= col("t_signup") + FunnelWindowUs)
        .groupBy("user_id").agg(min(col("t")).alias("t_click"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("t") >= col("t_click") &&
          col("t") <= col("t_click") + FunnelWindowUs)
        .groupBy("user_id").agg(min(col("t")).alias("t_purchase"))
      s1.join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t_signup"), col("t_click"),
          col("t_purchase"),
          col("t_click").isNotNull.alias("reached_click"),
          col("t_purchase").isNotNull.alias("reached_purchase"))
    }),

    // Cohort retention: users cohorted by signup day; a cohort member
    // counts as retained at day-offset k when they have ANY event on
    // the k-th day after signup. The classic product-analytics matrix
    // (cohort × offset → retained users), and a different shape from
    // the funnel: one user-keyed join then a map-side-combining
    // count-distinct-free agg (the per-(cohort, offset, user) row is
    // deduped BEFORE counting, so the final count is a plain sum).
    // Integer-microsecond day arithmetic keeps it oracle-exact.
    "rel_retention" -> ((s, d) => {
      val dayUs = 86400000000L
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 1000").alias("t"))
      val cohorts = Tables.events(s, d)
        .filter(col("event_type") === "signup")
        .select(col("user_id"), expr("ts div 1000").alias("t0"))
        .groupBy("user_id").agg(min(col("t0")).alias("t0"))
        .withColumn("cohort_day", expr(s"t0 div $dayUs"))
      val active = ev.join(cohorts, "user_id")
        .filter(col("t") >= col("t0"))
        .select(col("cohort_day"),
          expr(s"(t - t0) div $dayUs").alias("offset"),
          col("user_id"))
        .distinct()
      active.groupBy("cohort_day", "offset")
        .agg(count(lit(1)).alias("retained"))
        .filter(col("offset") <= 7)
    }),

    // As-of join: for every event, the most recent order of the same
    // user at-or-before the event time. Implemented as union + window
    // carry-forward (last non-null order column per user in time
    // order): one hash shuffle on user_id, linear work — the shape
    // that survives 100 TB where a per-event range probe cannot.
    "rel_asof_join" -> ((s, d) => {
      val orders = Tables.orders(s, d).select(
        col("o_custkey").alias("user_id"),
        // o_orderdate is TIMESTAMP_NTZ; session tz is UTC, so the cast
        // yields the same epoch-ms as the oracle's epoch_ms
        unix_millis(col("o_orderdate").cast("timestamp")).alias("ms"),
        lit(0).alias("kind"),
        col("o_orderkey"),
        cents.alias("ocents"),
        lit(null).cast(LongType).alias("event_id"))
      // ts is LongType nanos (nanosAsLong); integer div keeps exactness
      val events = Tables.events(s, d).select(
        col("user_id"),
        expr("ts div 1000000").alias("ms"),
        lit(1).alias("kind"),
        lit(null).cast(LongType).alias("o_orderkey"),
        lit(null).cast(LongType).alias("ocents"),
        col("event_id"))
      // order rows sort before event rows at the same ms (kind 0 < 1),
      // so an order exactly at the event time is visible; equal-time
      // orders resolve to the max orderkey (deterministic).
      val w = Window.partitionBy("user_id")
        .orderBy(col("ms"), col("kind"), coalesce(col("o_orderkey"), lit(-1L)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      orders.unionByName(events)
        .withColumn("asof_orderkey",
          last(col("o_orderkey"), ignoreNulls = true).over(w))
        .withColumn("asof_cents",
          last(col("ocents"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("ms"),
          col("asof_orderkey"), col("asof_cents"))
    }),

    // Range (band) join: orders against a 6-row price-band dim on a
    // BETWEEN predicate. The band table is broadcast — a nested loop
    // over 6 rows per order, no shuffle of the fact side at all.
    // (With equi-width bands the key is also derivable arithmetically;
    // the join form is the general path for irregular bands.)
    "rel_range_join" -> ((s, d) => {
      val bands = s.range(NBands.toLong).select(
        col("id").cast(LongType).alias("band"),
        (col("id") * BandWidthCents).alias("lo"),
        ((col("id") + 1) * BandWidthCents - 1).alias("hi"))
      val o = Tables.orders(s, d).select(cents.alias("c"))
      o.join(broadcast(bands), col("c").between(col("lo"), col("hi")))
        .groupBy("band")
        .agg(count(lit(1)).alias("n"), sum(col("c")).alias("sum_cents"))
    }),

    // Discrete percentiles (p50/p90/p99 of order value per priority):
    // exact integer outputs via global per-group rank, picked at index
    // ceil(p*n). The five-value priority key makes a plain
    // `Window.partitionBy(o_orderpriority)` a five-task corpus sort,
    // so the rank comes from GroupRank (range partition + local rank +
    // broadcast offsets); target indices derive from the broadcast
    // group count, the non-target rows are filtered BEFORE the final
    // aggregate, and the group-by then sums three rows per priority.
    // The quantile SKETCH, accuracy-gated (the rel_approx_distinct
    // pattern): approx_percentile's t-digest answers p50/p90 in one
    // pass with O(compression) state per group — the way a 100 TB
    // monitoring surface actually computes latency percentiles — and
    // the query emits the EXACT quantiles (GroupRank rank-based, the
    // rel_percentiles machinery) plus within-5% booleans comparing
    // the sketch against them. DuckDB emits the exact values and
    // literal TRUEs, so the row hash-matches iff the sketch is in
    // tolerance on fresh data.
    "rel_approx_quantiles" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), cents.alias("c"))
      val ranked = GroupRank.rank(base, "o_orderpriority",
        Seq(col("c").asc, col("o_orderkey").asc))
      def tgt(num: Int, den: Int) =
        expr(s"(grp_n * $num + $den - 1) div $den")
      def pick(num: Int, den: Int) =
        min(when(col("rn") === tgt(num, den), col("c")))
      val exact = ranked
        .filter(col("rn") === tgt(1, 2) || col("rn") === tgt(9, 10))
        .groupBy("o_orderpriority")
        .agg(max(col("grp_n")).alias("n_orders"),
          pick(1, 2).alias("p50"),
          pick(9, 10).alias("p90"))
      // r12 tried-and-rejected: sketching over the RANKED frame (to
      // consume GroupRank's range exchange as a ReusedExchange and
      // save this second scan) measured SLOWER at sf0.1 (+0.4 s vs
      // the rel_percentiles control in the same contended session) —
      // the reuse saves a cheap columnar scan but re-pays the
      // per-partition sort+window in the sketch leg, and t-digest
      // construction, not the scan, dominates this leg. Two scans
      // stay: the sketch leg reads 2 pruned columns once.
      val approx = base.groupBy("o_orderpriority")
        .agg(expr("approx_percentile(c, 0.5, 10000)").alias("a50"),
          expr("approx_percentile(c, 0.9, 10000)").alias("a90"))
      exact.join(approx, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_orders"), col("p50"),
          col("p90"),
          (abs(col("a50") - col("p50")).cast("double") / col("p50")
            <= 0.05).alias("p50_within_tol"),
          (abs(col("a90") - col("p90")).cast("double") / col("p90")
            <= 0.05).alias("p90_within_tol"))
    }),

    "rel_percentiles" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), cents.alias("c"))
      val ranked = GroupRank.rank(base, "o_orderpriority",
        Seq(col("c").asc, col("o_orderkey").asc))
      // ceil(p*n) with pure integer arithmetic: (n*num + den - 1) div den
      def tgt(num: Int, den: Int) =
        expr(s"(grp_n * $num + $den - 1) div $den")
      def pick(num: Int, den: Int) =
        min(when(col("rn") === tgt(num, den), col("c")))
      ranked
        .filter(col("rn") === tgt(1, 2) || col("rn") === tgt(9, 10) ||
          col("rn") === tgt(99, 100))
        .groupBy("o_orderpriority")
        .agg(max(col("grp_n")).alias("n_orders"),
          pick(1, 2).alias("p50"),
          pick(9, 10).alias("p90"),
          pick(99, 100).alias("p99"))
    }),

    // Exact percentiles WITHOUT any per-group sort — the two-pass
    // histogram algorithm for groups too large even for GroupRank's
    // partition-local sorts. Pass 1: per-(group, value-bin) counts (a
    // tiny map-side-combined aggregate) → cumulative counts over the
    // tiny bin table locate the one bin containing each target rank.
    // Pass 2: only rows in a located bin (a broadcast semi-filter,
    // ≤ 3 bins per group) are ranked within that bin, and the row at
    // target − rows_before_bin is the exact percentile. Bin width is
    // the knob: at 100 TB narrow the bins (or recurse) so pass-2
    // partitions stay small; every stage is either corpus-scan +
    // partial agg or arithmetic on the bin table.
    "rel_percentiles_hist" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"), cents.alias("c"))
        .withColumn("bin", expr(s"c div $HistBinCents"))
      val bins = base.groupBy("o_orderpriority", "bin")
        .agg(count(lit(1)).alias("bn"))
      val wcum = Window.partitionBy("o_orderpriority").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = bins
        .withColumn("cum", sum(col("bn")).over(wcum))
        .withColumn("n",
          sum(col("bn")).over(Window.partitionBy("o_orderpriority")))
      val targets = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
        .map { case (p, num, den) =>
          cum.withColumn("t", expr(s"(n * $num + $den - 1) div $den"))
            .filter(col("cum") >= col("t") &&
              col("cum") - col("bn") < col("t"))
            .select(col("o_orderpriority"), lit(p).alias("p"), col("bin"),
              (col("cum") - col("bn")).alias("before"), col("t"), col("n"))
        }.reduce(_ unionByName _) // ≤ 3 rows per group, ever
      val wbin = Window.partitionBy("o_orderpriority", "p")
        .orderBy(col("c").asc, col("o_orderkey").asc)
      base.join(broadcast(targets), Seq("o_orderpriority", "bin"))
        .withColumn("rnb", row_number().over(wbin).cast(LongType))
        .filter(col("rnb") === col("t") - col("before"))
        .groupBy("o_orderpriority")
        .agg(max(col("n")).alias("n_orders"),
          min(when(col("p") === "p50", col("c"))).alias("p50"),
          min(when(col("p") === "p90", col("c"))).alias("p90"),
          min(when(col("p") === "p99", col("c"))).alias("p99"))
    }),

    // Batch sessionization: per-user 30-min-gap sessions via lag +
    // running new-session count. One shuffle on user_id; the batch
    // analogue of streaming/EventTimeOps session windows.
    "s7_sessions" -> (sessionsTable(_, _)),

    // Top event paths: the most common 3-step event-type sequences
    // across per-user ordered streams — the product-analytics "what do
    // users actually do" miner behind funnel design. Consecutive
    // triples via two leads on the user-keyed window (fact-cardinality
    // partitioning — one shuffle on user_id), then a count per path.
    // The path key space is |event_type|³ (tiny), but the agg is
    // skew-immune anyway: partial aggregation reduces every partition
    // to at most that many rows before the final exchange. Top-20 is
    // a TakeOrdered with a full deterministic tiebreak.
    "rel_event_paths" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type").alias("s1"))
        .withColumn("s2", lead(col("s1"), 1).over(w))
        .withColumn("s3", lead(col("s1"), 2).over(w))
        .filter(col("s2").isNotNull && col("s3").isNotNull)
        .groupBy("s1", "s2", "s3")
        .agg(count(lit(1)).alias("n"))
        .orderBy(col("n").desc, col("s1").asc, col("s2").asc,
          col("s3").asc)
        .limit(20)
    }),

    // Peak concurrent sessions per day — the capacity-planning query
    // (how many users are ACTIVE at once, not how many events fire):
    // every s7 session contributes a +1 at its start second and a −1
    // one second after its end, the classic interval-overlap sweep.
    // Scale shape: the boundary stream is REDUCED to one net-delta row
    // per distinct second by a map-side-combined agg (O(time span)
    // rows — bounded by wall-clock duration, not by data volume — ~32M
    // rows per year even at 100 TB), the global prefix sum over that
    // reduced table runs on constant-group GroupRank (range partition
    // + broadcast offsets, never one task), and the day roll-up plus
    // the O(days) carry-in lag window touch only day-cardinality
    // aggregates. The carry-in matters: a day whose sessions only END
    // peaks at its opening concurrency, which lives in the previous
    // active day's closing run.
    "rel_concurrency" -> ((s, d) => {
      val sess = sessionsTable(s, d)
        .select(col("start_ms"), col("end_ms"))
      // r12: both boundary rows come from ONE session row, so derive
      // them with a 2-element explode instead of a union of two scans
      // of the staged session table — halves the session-table reads
      // (each union branch scanned it separately), same rows.
      val deltas = sess
        .select(explode(array(
          struct(expr("start_ms div 1000").alias("sec"),
            lit(1L).alias("delta")),
          struct((expr("end_ms div 1000") + 1L).alias("sec"),
            lit(-1L).alias("delta")))).alias("e"))
        .select(col("e.sec").alias("sec"), col("e.delta").alias("delta"))
      val perSec = deltas.groupBy("sec")
        .agg(sum(col("delta")).alias("delta"))
        .withColumn("g0", lit(0))
      val run = GroupRank.runningSum(perSec, "g0",
          Seq(col("sec").asc), "delta")
        .select(expr("sec div 86400").alias("day"), col("sec"), col("run"))
      val perDay = run.groupBy("day")
        .agg(max(col("run")).alias("peak_in_day"),
          max_by(col("run"), col("sec")).alias("close_run"))
      val wDay = Window.orderBy(col("day"))
      perDay
        .withColumn("carry_in",
          coalesce(lag(col("close_run"), 1).over(wDay), lit(0L)))
        .select(col("day"),
          greatest(col("peak_in_day"), col("carry_in"))
            .alias("peak_concurrency"))
    }))

  // one oracle for both exact-percentile algorithms (rank-based and
  // histogram-based): DuckDB computes the answer the straightforward
  // single-window way; the two Spark plans must both match it
  private val percentilesSql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT),
      |               o_orderkey) AS rn,
      |    count(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  min(CASE WHEN rn = (n * 1 + 1) // 2 THEN c END) AS p50,
      |  min(CASE WHEN rn = (n * 9 + 9) // 10 THEN c END) AS p90,
      |  min(CASE WHEN rn = (n * 99 + 99) // 100 THEN c END) AS p99
      |FROM ranked GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // composition of the three components' own oracles (each a full
  // SELECT usable as a derived table), joined on the shared id;
  // shared between the pipe_curate entry and pipe_pack's kept-set
  private val pipeCurateSql: String =
    s"""SELECT fv.doc_id, fv.keep AS keep_quality,
       |  dv.is_dup AS is_dup_text,
       |  coalesce(sd.is_dup, false) AS is_dup_sem,
       |  fv.keep AND NOT dv.is_dup AND NOT coalesce(sd.is_dup, false)
       |    AS kept
       |FROM (${TextQueries.oracles("tx_filter_verdict")}) fv
       |JOIN (${DedupQueries.oracles("dd_dedup_verdict")}) dv
       |  ON fv.doc_id = dv.doc_id
       |LEFT JOIN (${SimilarityQueries.oracles("dd_semdedup")}) sd
       |  ON fv.doc_id = sd.vec_id
       |ORDER BY fv.doc_id""".stripMargin

  // factored so pipe_manifest can compose the three components'
  // oracles without a second copy (the pipeReportSql discipline)
  private lazy val pipeCurriculumSql: String =
    s"""WITH bins AS (
       |  SELECT doc_id, decile
       |  FROM (${TextQueries.oracles("tx_quality_bins")}) b),
       |hashed AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
       |  FROM documents)
       |SELECT doc_id, decile,
       |  CAST(row_number() OVER (ORDER BY decile ASC, h ASC,
       |    doc_id ASC) AS BIGINT) AS pos
       |FROM bins JOIN hashed USING (doc_id)
       |ORDER BY pos""".stripMargin

  private lazy val pipePackSql: String =
    s"""WITH curated AS (
       |  SELECT doc_id FROM ($pipeCurateSql) c WHERE kept),
       |sized AS (
       |  SELECT d.doc_id, d.lang,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents d JOIN curated USING (doc_id)),
       |packed AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum
       |  FROM sized)
       |SELECT doc_id, lang, n_tokens,
       |  (cum - n_tokens) // ${TextQueries.PackLen} AS bin,
       |  (cum - n_tokens) % ${TextQueries.PackLen} AS offset
       |FROM packed ORDER BY doc_id""".stripMargin

  private lazy val pipeSplitSql: String =
    s"""WITH rep AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
       |  FROM documents d
       |  LEFT JOIN (${DedupQueries.oracles("dd_cluster")}) c
       |    ON d.doc_id = c.doc_id),
       |b AS (
       |  SELECT doc_id, rep,
       |    ${DedupQueries.SqlH60("CAST(rep AS VARCHAR)")} % 100 AS bucket
       |  FROM rep)
       |SELECT doc_id, rep, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  private lazy val pipeReportSql: String =
    s"""SELECT d.lang, d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (NOT c.keep_quality) AS BIGINT)
         |    AS drop_quality,
         |  CAST(count(*) FILTER (c.is_dup_text) AS BIGINT) AS dup_text,
         |  CAST(count(*) FILTER (c.is_dup_sem) AS BIGINT) AS dup_sem,
         |  CAST(count(*) FILTER (c.kept) AS BIGINT) AS kept,
         |  CAST(coalesce(sum(CASE WHEN c.kept
         |    THEN len(string_split(d.text, ' ')) ELSE 0 END), 0) AS BIGINT)
         |    AS kept_tokens
         |FROM documents d JOIN ($pipeCurateSql) c USING (doc_id)
         |GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  lazy val oracles: Map[String, String] = Map(
    "pipe_curate" -> pipeCurateSql,

    // tx_quality_bins' own oracle as a derived table, hash-shuffled
    // inside each decile by the corpus content hash, globally ranked
    "pipe_curriculum" -> pipeCurriculumSql,

    // the two components' own oracles joined on the shared id
    "pipe_mm_curate" ->
      s"""SELECT m.media_id, fv.keep AS keep_quality, m.keeper,
         |  m.is_dup AS is_dup_media,
         |  fv.keep AND NOT m.is_dup AS kept
         |FROM (${MultimodalQueries.oracles("mm_dedup")}) m
         |JOIN (${TextQueries.oracles("tx_filter_verdict")}) fv
         |  ON m.media_id = fv.doc_id
         |ORDER BY m.media_id""".stripMargin,

    "pipe_integrity" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
        |    AS n_embeddings,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents d
        |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e
        |                     WHERE e.vec_id = d.doc_id))
        |    AS docs_missing_embedding,
        |  (SELECT CAST(count(*) AS BIGINT) FROM embeddings e
        |   WHERE NOT EXISTS (SELECT 1 FROM documents d
        |                     WHERE d.doc_id = e.vec_id))
        |    AS embeddings_orphaned,
        |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
        |     (SELECT count(*) AS c FROM documents GROUP BY doc_id))
        |    AS doc_id_dups,
        |  (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM
        |     (SELECT count(*) AS c FROM embeddings GROUP BY vec_id))
        |    AS vec_id_dups""".stripMargin,

    "pipe_report" -> pipeReportSql,

    // pipe_report's oracle as a derived table, re-aggregated to the
    // one-row card + the deterministic dominant-language pick
    "pipe_datacard" ->
      s"""WITH rep AS ($pipeReportSql),
         |top AS (
         |  SELECT lang AS top_lang, lang_kept AS top_lang_kept FROM (
         |    SELECT lang, CAST(sum(kept) AS BIGINT) AS lang_kept,
         |      row_number() OVER (ORDER BY sum(kept) DESC, lang ASC)
         |        AS rn
         |    FROM rep GROUP BY lang) t
         |  WHERE rn = 1)
         |SELECT
         |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(sum(drop_quality) AS BIGINT) AS drop_quality,
         |  CAST(sum(dup_text) AS BIGINT) AS dup_text,
         |  CAST(sum(dup_sem) AS BIGINT) AS dup_sem,
         |  CAST(sum(kept) AS BIGINT) AS kept,
         |  CAST(sum(kept_tokens) AS BIGINT) AS kept_tokens,
         |  top.top_lang, top.top_lang_kept
         |FROM rep CROSS JOIN top
         |GROUP BY top.top_lang, top.top_lang_kept""".stripMargin,

    // pipe_report's oracle again, rolled up per source, then the
    // sqrt-weighted budget split and the epoch clamp — every derived
    // column CAST away from HUGEINT
    "pipe_epoch_plan" ->
      s"""WITH rep AS ($pipeReportSql),
         |per AS (
         |  SELECT source,
         |    CAST(sum(kept) AS BIGINT) AS kept_docs,
         |    CAST(sum(kept_tokens) AS BIGINT) AS kept_tokens
         |  FROM rep GROUP BY 1
         |  HAVING sum(kept_tokens) > 0),
         |wtd AS (
         |  SELECT *,
         |    CAST(floor(sqrt(CAST(kept_tokens AS DOUBLE))) AS BIGINT)
         |      AS wt
         |  FROM per),
         |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS tw,
         |               CAST(sum(kept_tokens) AS BIGINT) AS tt
         |        FROM wtd),
         |alloc AS (
         |  SELECT source, kept_docs, kept_tokens, wt,
         |    CAST((tt // 1000000) * bsm
         |      + ((tt % 1000000) * bsm) // 1000000 AS BIGINT)
         |      AS alloc_tokens
         |  FROM (SELECT *,
         |          CAST(($BudgetMult * wt * 1000000) // tw AS BIGINT)
         |            AS bsm
         |        FROM wtd CROSS JOIN tot) q)
         |SELECT source, kept_docs, kept_tokens, wt, alloc_tokens,
         |  CAST(least(alloc_tokens, $EpochCap * kept_tokens) AS BIGINT)
         |    AS plan_tokens,
         |  CAST((least(alloc_tokens, $EpochCap * kept_tokens)
         |    + kept_tokens - 1) // kept_tokens AS BIGINT) AS epochs,
         |  alloc_tokens > $EpochCap * kept_tokens AS capped
         |FROM alloc ORDER BY source""".stripMargin,

    // the last hop of the training-data story: pack ONLY the curated
    // kept set — pipe_curate's oracle as a derived table, filtered to
    // kept, joined back to documents, then the same two-level-safe
    // cumsum packing tx_pack pins (DuckDB computes it as one plain
    // window; the Spark side goes through GroupRank)
    "pipe_pack" -> pipePackSql,

    // the three already-oracled manifest components joined on doc_id
    "pipe_manifest" ->
      s"""WITH pk AS ($pipePackSql),
         |sp AS ($pipeSplitSql),
         |cu AS ($pipeCurriculumSql)
         |SELECT pk.doc_id, pk.lang, sp.split, pk.n_tokens, pk.bin,
         |  pk."offset" AS "offset", cu.pos
         |FROM pk JOIN sp USING (doc_id) JOIN cu USING (doc_id)
         |ORDER BY pk.doc_id""".stripMargin,

    // the dd_cluster oracle (recursive transitive closure) as a
    // derived table: representative = cluster label where one exists,
    // else the doc's own id; bucket = the shared 60-bit hash of the
    // representative, mod 100
    "pipe_split" -> pipeSplitSql,

    "rel_retention" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS t FROM events),
        |cohorts AS (
        |  SELECT user_id, min(epoch_ns(ts) // 1000) AS t0,
        |    min(epoch_ns(ts) // 1000) // 86400000000 AS cohort_day
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |active AS (
        |  SELECT DISTINCT c.cohort_day,
        |    (e.t - c.t0) // 86400000000 AS "offset", e.user_id
        |  FROM ev e JOIN cohorts c ON e.user_id = c.user_id
        |  WHERE e.t >= c.t0)
        |SELECT cohort_day, "offset", CAST(count(*) AS BIGINT) AS retained
        |FROM active WHERE "offset" <= 7
        |GROUP BY cohort_day, "offset"
        |ORDER BY cohort_day, "offset"""".stripMargin,

    "rel_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t
        |  FROM events),
        |s1 AS (SELECT user_id, min(t) AS t_signup FROM ev
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.t) AS t_click
        |       FROM ev e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.t >= s1.t_signup
        |         AND e.t <= s1.t_signup + 21600000000
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.t) AS t_purchase
        |       FROM ev e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.t >= s2.t_click
        |         AND e.t <= s2.t_click + 21600000000
        |       GROUP BY e.user_id)
        |SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
        |  s2.t_click IS NOT NULL AS reached_click,
        |  s3.t_purchase IS NOT NULL AS reached_purchase
        |FROM s1
        |LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,

    "rel_asof_join" ->
      """WITH u AS (
        |  SELECT o_custkey AS user_id, epoch_ms(o_orderdate) AS ms,
        |         0 AS kind, o_orderkey,
        |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS ocents,
        |         CAST(NULL AS BIGINT) AS event_id
        |  FROM orders
        |  UNION ALL
        |  SELECT user_id, epoch_ns(ts) // 1000000, 1,
        |         NULL, NULL, event_id
        |  FROM events),
        |w AS (
        |  SELECT *,
        |    last_value(o_orderkey IGNORE NULLS) OVER win AS asof_orderkey,
        |    last_value(ocents IGNORE NULLS) OVER win AS asof_cents
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id
        |    ORDER BY ms, kind, coalesce(o_orderkey, -1)
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ms, asof_orderkey, asof_cents
        |FROM w WHERE kind = 1 ORDER BY event_id""".stripMargin,

    "rel_range_join" ->
      s"""WITH bands AS (
         |  SELECT CAST(i AS BIGINT) AS band,
         |         i * $BandWidthCents AS lo,
         |         (i + 1) * $BandWidthCents - 1 AS hi
         |  FROM range($NBands) t(i)),
         |o AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
         |      FROM orders)
         |SELECT band, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(c) AS BIGINT) AS sum_cents
         |FROM o JOIN bands ON c BETWEEN lo AND hi
         |GROUP BY band ORDER BY band""".stripMargin,

    "rel_percentiles" -> percentilesSql,

    "rel_approx_quantiles" ->
      """WITH ranked AS (
        |  SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT),
        |               o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  min(CASE WHEN rn = (n * 1 + 1) // 2 THEN c END) AS p50,
        |  min(CASE WHEN rn = (n * 9 + 9) // 10 THEN c END) AS p90,
        |  TRUE AS p50_within_tol,
        |  TRUE AS p90_within_tol
        |FROM ranked GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // identical answer, different algorithm — one shared oracle
    "rel_percentiles_hist" -> percentilesSql,

    "s7_sessions" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ms
         |  FROM events),
         |flagged AS (
         |  SELECT *,
         |    CASE WHEN lag(ms) OVER w IS NULL
         |           OR ms - lag(ms) OVER w > $SessionGapMs
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |sess AS (
         |  SELECT *,
         |    CAST(sum(new_session) OVER (PARTITION BY user_id
         |      ORDER BY ms, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS session_no
         |  FROM flagged)
         |SELECT user_id, session_no,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  min(ms) AS start_ms, max(ms) AS end_ms
         |FROM sess GROUP BY user_id, session_no
         |ORDER BY user_id, session_no""".stripMargin,

    "rel_event_paths" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS s1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS s2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS s3
        |  FROM events)
        |SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE s2 IS NOT NULL AND s3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, s1, s2, s3 LIMIT 20""".stripMargin,

    // sessions verbatim from the s7 oracle, then the sweep: ±1 at
    // session bounds, per-second net deltas, global running sum, and
    // the previous-active-day carry-in
    "rel_concurrency" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ms
         |  FROM events),
         |flagged AS (
         |  SELECT *,
         |    CASE WHEN lag(ms) OVER w IS NULL
         |           OR ms - lag(ms) OVER w > $SessionGapMs
         |         THEN 1 ELSE 0 END AS new_session
         |  FROM ev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |sess AS (
         |  SELECT *,
         |    CAST(sum(new_session) OVER (PARTITION BY user_id
         |      ORDER BY ms, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS session_no
         |  FROM flagged),
         |bounds AS (
         |  SELECT user_id, session_no,
         |    min(ms) AS start_ms, max(ms) AS end_ms
         |  FROM sess GROUP BY 1, 2),
         |deltas AS (
         |  SELECT start_ms // 1000 AS sec, 1 AS delta FROM bounds
         |  UNION ALL
         |  SELECT end_ms // 1000 + 1, -1 FROM bounds),
         |per AS (
         |  SELECT sec, CAST(sum(delta) AS BIGINT) AS delta
         |  FROM deltas GROUP BY 1),
         |run AS (
         |  SELECT sec,
         |    CAST(sum(delta) OVER (ORDER BY sec
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS run
         |  FROM per),
         |perday AS (
         |  SELECT sec // 86400 AS day,
         |    max(run) AS peak_in_day, max_by(run, sec) AS close_run
         |  FROM run GROUP BY 1)
         |SELECT day,
         |  CAST(greatest(peak_in_day,
         |    coalesce(lag(close_run) OVER (ORDER BY day), 0))
         |    AS BIGINT) AS peak_concurrency
         |FROM perday ORDER BY day""".stripMargin)
}
