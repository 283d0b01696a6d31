package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit,
  LogicalPlan, Project, Sort}
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape audit over EVERY query's physical plan: the properties
  * that must survive a 100× scale-up, asserted as regressions.
  *
  *  - no CartesianProduct, ever (an unconstrained O(N²) pair scan);
  *  - BroadcastNestedLoopJoin only where a deliberately tiny dimension
  *    (band table, probe set, 1-row scalar) is broadcast against a
  *    non-equi predicate;
  *  - Exchange SinglePartition only for final one-row aggregates —
  *    never as a data-path stage (the global-window trap).
  *
  * Audited at BOTH sf0.001 and the bench scale sf0.1: broadcast
  * thresholds and AQE decisions are statistics-driven, so a plan that
  * is clean at the small factor can regress at the larger one (the
  * exact blind spot a fixed-sf audit would have).
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.GraftSession.builder("4").getOrCreate()

  // override with SPARK_GRAFT_AUDIT_SFS=/path1,/path2 if needed
  private val sfs: Seq[String] = sys.env.get("SPARK_GRAFT_AUDIT_SFS")
    .map(_.split(",").toSeq)
    .getOrElse(Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1"))

  // formatted mode: scan blocks print complete (untruncated)
  // ReadSchema/PushedFilters lines
  private lazy val plans: Seq[(String, String, String)] =
    for {
      sf <- sfs
      (n, f) <- SparkEntry.queries.toSeq
    } yield (sf, n,
      f(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))

  // Queries whose RESULT is a single row (global scalar aggregate):
  // the one-partition final exchange is inherent and carries one row.
  // tx_tfidf's result is per-doc, but it embeds one such aggregate —
  // the corpus count N (one long per partition into one row, then
  // broadcast); the document-scale path never funnels.
  private val singleRowAggregates =
    Set("c1_commit_watermark", "rel_approx_distinct", "rel_distinct",
      "tx_tfidf",
      "tx_sample_weighted", // 1-row total-weight scalar, broadcast back
      "tx_mixture", // 1-row grand-total scalar over the domain agg
      "cdc_delta_agg", // 1-row cut-point scalar (max event id), broadcast
      "cdc_reconcile", // same 1-row cut scalar shape as cdc_delta_agg
      "tx_class_tfidf", // 1-row class-count scalar, broadcast back
      "tx_lm_score", // 1-row char-vocab-size scalar, broadcast
      // global GroupRank (constant group): the offset-table window
      // funnels the AGGREGATED partitions×1 count table (O(cluster
      // partitions) rows forever) through one task — tiny by
      // construction; the corpus itself stays range-partitioned
      "tx_shard",
      "tx_quality_bins", // global GroupRank + tx_lm_score's 1-row vocab
      "pipe_curriculum", // inherits tx_quality_bins' shapes verbatim
      "pipe_datacard", // the RESULT is a 1-row card (langs x sources in)
      // 1-row corpus-stats scalar + query-term rank over the
      // aggregate-reduced vocabulary table
      "tx_bm25_topk",
      "sim_rrf_fusion", // inherits tx_bm25_topk's 1-row stats scalar
      "tx_collocations", // 1-row corpus-count scalar, broadcast back
      "sim_sq8_ann", // Dim-row stats packed to ONE broadcast row
      "rel_top_suppliers", // 1-row max-revenue scalar, equi-joined back
      "rel_small_qty", // the RESULT is a 1-row scalar aggregate
      "pipe_integrity", // the RESULT is a 1-row audit card: six
                        // count/anti-join scalars crossed together
      "rel_idle_customers", // 1-row balance-stats scalar, broadcast back
      // suffix-max window over the DATE-cardinality aggregate (tiny
      // by construction); the corpus never reaches the window
      "rel_skyline",
      // prefix-sum window over the day-cardinality new-user agg;
      // the corpus itself reduces through two keyed aggs first
      "rel_cum_distinct",
      // 1-row max-id scalar broadcast + prefix-sum window over the
      // 10-row decile aggregate (tiny by construction); terms reduce
      // through a keyed min-bucket agg before anything global
      "tx_vocab_growth",
      // 1-row min/max bounds scalar, exploded into the day skeleton
      "rel_resample",
      // 1-row token-totals scalar (R, T), broadcast onto the B-row
      // ratio table; the corpus side never funnels
      "tx_dsir",
      // global GroupRank (constant group) over the per-doc scores +
      // the same 1-row totals scalar as tx_dsir
      "pipe_dsir",
      // 1-row total-arc-count scalar, broadcast onto the per-label agg
      "graph_modularity",
      // global GroupRank (constant group) over the per-SECOND reduced
      // delta table + the O(days) carry-in lag window over the day agg
      "rel_concurrency",
      // 1-row budget-totals scalar over the O(sources) roll-up
      "pipe_epoch_plan",
      // global GroupRank (constant group) for the OOD decile
      "sim_ood_score",
      // two 1-row count scalars feed the singleton histogram row
      "dd_cluster_stats",
      // 1-row corpus-count scalar vs the O(cells) roll-up
      "sim_centroid_balance",
      // 1-row id-bounds scalar seeds the bucket skeleton
      "cdc_gap_detect",
      // global GroupRank (constant group) cumsum + 1-row total scalar
      "rel_pareto_abc",
      // 1-row grand-total scalar vs the 168-cell profile
      "rel_seasonality",
      // three 1-row hit counts + the 1-row ground-truth total
      "sim_nprobe_sweep",
      // inherits pipe_curriculum's global-GroupRank + vocab scalar
      "pipe_manifest",
      // 1-row order-total scalar vs the 20-row affinity table
      "rel_basket_affinity",
      // union of three 1-row scalar aggregates (one per band count b):
      // each leg reduces the staged signature table to a single
      // (b, pairs, dup_pairs) row before the union — the only rows
      // that ever cross a single-partition exchange are those three
      "dd_band_sweep",
      // same union-of-1-row-scalar-aggregates shape, one leg per
      // plane count, plus the 1-row ground-truth total
      "sim_planes_sweep",
      // 1-row (TNK, TND) class-totals scalar over the ≤1024-bucket
      // counts agg — the weight formula's ratio denominator
      "tx_quality_clf",
      // the same class-totals scalar, train-half variant
      "tx_clf_holdout",
      // the same class-totals scalar over the ~70-id struct counts
      "tx_clf_struct")

  // Queries that intentionally broadcast a tiny build side against a
  // non-equi / cross predicate (band dim, probe rows, hyperplanes,
  // centroids, 1-row scalar).
  private val broadcastNonEqui = Set(
    "rel_range_join", "c1_commit_watermark", "sim_cosine_topk",
    "sim_lsh_bucket", "sim_lsh_ann", "sim_ivf_ann", "sim_ivf_kmeans",
    "sim_ivfpq_ann", // coarse-centroid broadcast for the cell assignment
    "sim_recall_at_k", // inherits its sub-pipelines' centroid/probe broadcasts
    "dd_embed_cosine",
    "dd_semdedup", // centroid table broadcast against every vector
    "sim_filtered_ann", // broadcast probe rows against the filtered corpus
    "sim_mrl_ann", // broadcast prefix + full probe rows, both stages
    "pipe_curate", // inherits dd_semdedup's centroid broadcast
    "pipe_curriculum", // inherits tx_quality_bins' vocab-scalar broadcast
    "pipe_datacard", // 1-row top-language row crossed onto the 1-row card
    "tx_tfidf", // 1-row corpus-count scalar broadcast
    "tx_sample_weighted", // 1-row total-weight scalar vs 5-row weights
    "tx_mixture", // 1-row grand-total scalar vs the domain agg
    "sim_knn_graph", // hyperplane broadcast for the bucket assignment
    "pipe_report", // inherits pipe_curate's component broadcasts
    "cdc_delta_agg", // 1-row cut scalar vs the event stream
    "cdc_reconcile", // 1-row cut scalar vs the event stream
    "dd_agreement", // 5-row × 5-row method-total cross, broadcast;
                    // inherits dd_embed_cosine's hyperplane broadcast
    "tx_class_tfidf", // 1-row class-count scalar vs the vocab agg
    "sim_threshold_sweep", // hyperplane broadcast + 5-row literal
                           // threshold table vs the bin histogram
    "tx_lm_score", // 1-row vocab scalar vs the bigram model table
    "tx_quality_bins", // inherits tx_lm_score's vocab-scalar broadcast
    "pipe_curriculum", // inherits tx_quality_bins' vocab scalar
    "tx_bm25_topk", // 1-row corpus-stats scalar broadcast
    "sim_rrf_fusion", // inherits both legs: the bm25 stats scalar and
                      // sim_cosine_topk's broadcast probe rows
    "tx_collocations", // 1-row corpus-count scalar broadcast
    "sim_sq8_ann", // 1-row stats row + probe codes vs every vector
    "rel_idle_customers", // 1-row balance-stats scalar vs customers
    "rel_resample", // generated day skeleton × 5-row type dim cross
    "tx_dsir", // 1-row (R, T) totals scalar vs the 4096-row histogram
    "tx_quality_clf", // 1-row class-totals scalar vs the bucket counts
    "tx_clf_holdout", // same scalar, plus the unseen-bucket default
    "tx_clf_struct", // same scalar over the struct feature-id counts
    "pipe_dsir", // inherits tx_dsir's 1-row totals scalar
    "graph_modularity", // 1-row arc-count scalar vs the label agg
    "pipe_epoch_plan", // 1-row budget-totals scalar vs the source agg
    "sim_ood_score", // centroid broadcast against every vector
    "dd_cluster_stats", // 1-row total × 1-row paired count cross
    "pipe_integrity", // six 1-row audit scalars crossed (broadcast)
    "sim_centroid_balance", // 1-row corpus-count scalar vs cell rows
    "rel_basket_affinity", // 1-row order-total scalar vs top-20 pairs
    "cdc_gap_detect", // 1-row bounds scalar vs the bucket skeleton
    "rel_pareto_abc", // 1-row grand-total scalar vs the part ranking
    "rel_seasonality", // 1-row grand-total scalar vs the 168 cells
    "sim_margin", // inherits sim_knn_graph's hyperplane broadcast
    "sim_nprobe_sweep", // centroid/probe broadcasts + 1-row scalars
    "sim_label_purity", // kmeansCore's centroid broadcast
    "pipe_manifest", // inherits curriculum/curate component broadcasts
    // crossJoin(broadcast(total)): a 1-row ground-truth total crossed
    // onto the 3-row per-plane-count result — both sides tiny by
    // construction, plus the inherited hyperplane broadcasts
    "sim_planes_sweep",
    // hyperplane broadcast (≤20 rows) + broadcast probe-bucket rows
    // (probes × flips+1), both id-bounded by construction
    "sim_multiprobe_ann",
    // inherits all three component pipelines' plane/probe broadcasts
    "sim_multiprobe_recall",
    // crossJoin(broadcast(mx)): 1-row max-doc-id scalar broadcast onto
    // the corpus scan for decile assignment
    "tx_vocab_growth",
    // 1-row exact-counts row × 1-row sketch row (split so the HLL
    // imperative agg can't drag the countDistinct off codegen)
    "rel_approx_distinct",
    // four 1-row per-column distinct-count scalars crossed (split so
    // three distinct groups in one Aggregate can't plan an Expand ×4)
    "rel_distinct")

  test("no query plan contains a CartesianProduct") {
    plans.foreach { case (sf, n, p) =>
      assert(!p.contains("CartesianProduct"),
        s"$n has a cartesian product at $sf")
    }
  }

  test("single-partition exchanges only in one-row scalar aggregates") {
    plans.foreach { case (sf, n, p) =>
      if (!singleRowAggregates(n)) {
        assert(!p.contains("SinglePartition"),
          s"$n funnels data through one partition at $sf")
      }
    }
  }

  test("nested-loop joins only where a tiny side is deliberately broadcast") {
    plans.foreach { case (sf, n, p) =>
      if (!broadcastNonEqui(n)) {
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$n has an unexpected nested-loop join at $sf")
      }
    }
  }

  // --- low-cardinality window rule -----------------------------------
  // `Window.partitionBy(dimensionKey)` with a handful of key values
  // executes the corpus as one sorted task per value — the exchange is
  // hashpartitioning(key) with ~5 populated partitions, which the
  // SinglePartition check above cannot see. A window partitioned
  // SOLELY on these keys is only acceptable when its input is already
  // aggregated (tiny by construction — GroupRank's offset tables) or
  // rank-limit-pruned (a WindowGroupLimit bounds what reaches the
  // exchange — rel_topk's k=3 cut). Everything else must go through
  // GroupRank (range partition + local rank + broadcast offsets).
  private val dimensionKeys = Set("o_orderpriority", "o_orderstatus",
    "c_mktsegment", "lang", "source", "l_returnflag", "l_linestatus",
    "r_name", "n_name", "event_type")

  test("no window partitioned solely on a dimension key over un-reduced input") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Window => LogicalWindow, WindowGroupLimit}
    for (sf <- sfs; (n, f) <- SparkEntry.queries.toSeq) {
      f(spark, sf).queryExecution.optimizedPlan.foreach {
        case w: LogicalWindow =>
          val allDim = w.partitionSpec.nonEmpty && w.partitionSpec.forall {
            case a: AttributeReference => dimensionKeys(a.name.toLowerCase)
            case _ => false
          }
          if (allDim) {
            val reduced = w.child.exists {
              case _: Aggregate => true
              case _: WindowGroupLimit => true
              case _ => false
            }
            val keys = w.partitionSpec.map(_.sql).mkString(", ")
            assert(reduced,
              s"$n at $sf: window partitioned on low-cardinality ($keys) " +
                "over un-reduced input — the corpus would funnel through " +
                "one task per key value; use GroupRank")
          }
        case _ =>
      }
    }
  }

  // --- rank-pushdown pinning -----------------------------------------
  // The top-k family's 100-TB story depends on Spark inserting a
  // WindowGroupLimit below every `row_number <= k` window: partial
  // limits run BEFORE the exchange, so only k rows per (partition,
  // group) ever shuffle. That insertion is an optimizer inference (a
  // cast or predicate-shape change can silently drop it), so pin it.
  // dd_semdedup is NOT pinned here since r8: its rn=1 assignment
  // window moved into the staged kmeans-core build, so the audited
  // steady-state plan is a stage scan + joins with no window at all
  // (the build plan still gets the pushdown when it runs). The same
  // move de-pins the whole staged-rank-list family in r10:
  // sim_cosine_topk / sim_lsh_ann / sim_multiprobe_ann /
  // sim_ivf_kmeans and their audit consumers (sim_recall_at_k,
  // sim_multiprobe_recall) now scan ≤ probes×k staged rows; their
  // top-k windows live in the stage builds.
  private val rankLimited = Set("rel_topk",
    "rel_window_nav", "sim_filtered_ann",
    "sim_ivf_ann", "sim_pq_ann",
    "sim_pq_code_balance", // the PQ encode's rank-1 window
    "sim_ivfpq_ann", "tx_tfidf", "tx_source_cap",
    "tx_sample_weighted", "sim_knn_graph", "tx_langid_ngram",
    "sim_knn_label", // majority-vote rn=1 pick over (src, label) votes
    "graph_label_prop", // per-round majority pick on the src key
    "sim_sq8_ann", // integer-dot shortlist + exact rerank windows
    "tx_class_tfidf") // per-lang top-5 over the vocab-sized agg

  test("rank-limit pushdown (WindowGroupLimit) fires for the top-k family") {
    plans.foreach { case (sf, n, p) =>
      if (rankLimited(n)) {
        assert(p.contains("WindowGroupLimit"),
          s"$n at $sf: row_number<=k filter without WindowGroupLimit — " +
            "rank pushdown regressed; whole partitions would sort " +
            "through the window buffer")
      }
    }
  }

  // --- broadcast-hint rule -------------------------------------------
  // A broadcast() hint forces its side to the driver regardless of
  // size, so a hinted side that scans a FACT/CORPUS table (one row
  // per order/event/document/embedding) must be reduced first — an
  // aggregated/deduplicated derivation, a generated Range / literal
  // relation — or the query must be allowlisted as an id-bounded
  // probe/plane/centroid subset (a selective filter the rule cannot
  // prove small). Hints on the declared dimension tables
  // (region/nation/customer/supplier/part) are the engine's scale
  // contract and always fine. A hint on a raw per-document table is
  // the driver-OOM-at-scale shape dd_ngram_jaccard used to have.
  private val filterBoundedBroadcasts = Set("sim_cosine_topk",
    "sim_lsh_bucket", "sim_lsh_ann", "sim_ivf_ann", "sim_ivf_kmeans",
    "sim_pq_ann", "sim_ivfpq_ann", "sim_recall_at_k", "sim_filtered_ann",
    "dd_embed_cosine", "dd_semdedup", "pipe_curate", "sim_knn_graph",
    "pipe_report", // inherits pipe_curate's staged-component derivation
    "pipe_epoch_plan", // inherits pipe_report's component derivation
    "sim_ood_score", // kmeansCore's id-bounded seed broadcast
    "sim_centroid_balance", // kmeansCore's id-bounded seed broadcast
    "sim_margin", // inherits sim_knn_graph's id-bounded plane broadcast
    "sim_nprobe_sweep", // id-bounded probes + kmeans seed broadcast
    "sim_label_purity", // kmeansCore's id-bounded seed broadcast
    "pipe_manifest", // inherits pipe_curate's staged-component hints
    "sim_sq8_ann", // id-bounded probe codes / probe vectors
    "sim_multiprobe_ann", // id-bounded plane + probe-bucket hints
    "sim_multiprobe_recall", // inherits the component pipelines' hints
    "sim_pq_code_balance") // id-bounded sub-codebook broadcast

  test("broadcast hints only on aggregated or generated (tiny) sides") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Deduplicate, LocalRelation, OneRowRelation, Range => LogicalRange,
      ResolvedHint}
    for (sf <- sfs; (n, f) <- SparkEntry.queries.toSeq
         if !filterBoundedBroadcasts(n)) {
      f(spark, sf).queryExecution.analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.nonEmpty =>
          val reduced = h.child.exists {
            case _: Aggregate => true
            case _: Deduplicate => true
            case _: LocalRelation => true
            case _: LogicalRange => true
            case _: OneRowRelation => true
            case _ => false
          }
          val factTables =
            Seq("orders", "lineitem", "events", "documents", "embeddings")
          val scansFact = h.child.collectLeaves().exists { leaf =>
            val s = leaf.toString
            factTables.exists(t => s.contains(s"$t.parquet"))
          }
          assert(reduced || !scansFact,
            s"$n at $sf: broadcast hint on an un-reduced fact-table " +
              "side — corpus-sized at scale, OOMs the driver; drop the " +
              "hint and let the planner/AQE choose")
        case _ =>
      }
    }
  }

  // --- bucketed co-location pinning ----------------------------------
  // rel_bucket_join's whole reason to exist is the exchange-free
  // fact-to-fact join: both staged tables are CLUSTERED BY orderkey
  // into the same bucket count, so the sort-merge join must consume
  // the scans' bucket partitioning directly. Pin all three legs —
  // bucketed scans on both sides, an SMJ, and NO exchange on either
  // join key (the only exchanges allowed are the 5-row priority
  // aggregate and the final sort). A regression here (bucket-count
  // drift, a dropped merge hint flipping to broadcast, bucketing
  // disabled) silently reintroduces the full fact-fact shuffle that
  // at 100 TB is the single most expensive stage in the plan.
  test("rel_bucket_join joins bucket-to-bucket with no join-key exchange") {
    plans.filter(_._2 == "rel_bucket_join").foreach { case (sf, _, p) =>
      assert("Bucketed: true".r.findAllIn(p).size == 2,
        s"rel_bucket_join at $sf: expected both scans bucketed")
      assert(p.contains("SortMergeJoin"),
        s"rel_bucket_join at $sf: expected a sort-merge join")
      assert(!p.contains("hashpartitioning(l_orderkey") &&
        !p.contains("hashpartitioning(o_orderkey"),
        s"rel_bucket_join at $sf: a join-key exchange appeared — " +
          "bucket co-location regressed")
    }
  }

  // tx_vocab_growth's two downstream aggregations (token mass per
  // decile, first-occurrence per term) both consume the SAME
  // (bucket, term) tf exchange; exchange reuse must dedupe it so the
  // corpus-sized explode runs once. Under AQE the reuse is a RUNTIME
  // decision (the pre-execution plan prints both branches), so the
  // pin executes the query and asserts on the final adaptive plan. A
  // regression (e.g. a branch picking up a non-identical projection)
  // silently doubles the token-stream pass — invisible at sf0.1, a
  // full extra corpus scan at 100 TB.
  test("tx_vocab_growth reuses the (bucket, term) tf exchange") {
    for (sf <- sfs) {
      val df = SparkEntry.queries("tx_vocab_growth")(spark, sf)
      df.collect() // 10-row result; runs AQE to the final plan
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("isFinalPlan=true"),
        s"tx_vocab_growth at $sf: expected an executed adaptive plan")
      assert(p.contains("ReusedExchange"),
        s"tx_vocab_growth at $sf: the shared tf exchange is not reused " +
          "— the token explode now runs twice")
    }
  }

  // rel_min_cost once fed one per-(part, supplier) aggregate to two
  // consumers (the per-part minimum and the join back to it); AQE's
  // runtime reuse of that exchange sometimes missed, so identical runs
  // executed 7 or 8 exchanges. The single struct-min aggregate has no
  // shared exchange: pin that the executed plan reuses none and runs
  // the same number on two runs.
  test("rel_min_cost executes one plan shape: no reused exchange, stable count") {
    for (sf <- sfs) {
      val counts = (1 to 2).map { _ =>
        val df = SparkEntry.queries("rel_min_cost")(spark, sf)
        df.collect()
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        assert(p.contains("isFinalPlan=true"),
          s"rel_min_cost at $sf: expected an executed adaptive plan")
        assert(!p.contains("ReusedExchange"),
          s"rel_min_cost at $sf: an exchange feeds two consumers again")
        Cost.exchanges(df.queryExecution.executedPlan)
      }
      assert(counts.distinct.size == 1,
        s"rel_min_cost at $sf: exchange counts differ across runs: $counts")
    }
  }

  // --- row order ------------------------------------------------------
  // A query's result is an unordered bag: the oracle compare sorts both
  // sides, so a global sort at the root only buys a range-sampling job
  // and an extra exchange. A sort stays where a limit consumes it.
  private lazy val analyzedRoots: Seq[(String, LogicalPlan)] =
    SparkEntry.queries.toSeq.map { case (n, f) =>
      n -> underProjections(f(spark, sfs.head).queryExecution.analyzed)
    }

  private def underProjections(p: LogicalPlan): LogicalPlan = p match {
    case Project(_, child) => underProjections(child)
    case other => other
  }

  test("no query ends in a global sort under projections only") {
    val sorted = analyzedRoots.collect {
      case (n, Sort(_, true, _, _)) => n
    }.sorted
    assert(sorted.isEmpty,
      s"${sorted.size} queries sort their whole result: ${sorted.mkString(", ")}")
  }

  test("a root limit keeps the global sort directly under it") {
    val limited = analyzedRoots.collect {
      case (n, GlobalLimit(_, LocalLimit(_, child))) => n -> child
    }
    assert(limited.nonEmpty, "no query ends in a limit")
    limited.foreach { case (n, child) =>
      assert(PartialFunction.cond(child) { case Sort(_, true, _, _) => true },
        s"$n limits an unsorted result: ${child.nodeName} under its limit")
    }
  }

  test("parquet scans prune columns (no full-width reads)") {
    // No query legitimately needs every column of a wide table: a scan
    // whose ReadSchema carries ALL of a table's columns means pruning
    // regressed (e.g. the full documents `text` payload dragged along).
    val wideTables = Seq("events", "documents", "orders", "lineitem",
      "customer")
    for (sf <- sfs) {
      val tableCols: Map[String, Seq[String]] = wideTables.map(t =>
        t -> Tables.load(spark, sf, t).schema.fieldNames.toSeq).toMap
      val readSchemas = plans.filter(_._1 == sf).flatMap { case (_, n, p) =>
        "ReadSchema: struct<([^\n]*)".r.findAllMatchIn(p)
          .map(m => (n, m.group(1)))
      }
      for ((q, rs) <- readSchemas; (t, cols) <- tableCols) {
        assert(!cols.forall(c => rs.contains(s"$c:")),
          s"$q reads every column of $t at $sf: $rs")
      }
    }
  }
}
