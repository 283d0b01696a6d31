package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables

/** Relational operators the reference lacks entirely (SURVEY §2
  * "absent operator categories") but that the Spark engine provides —
  * aggregation, joins (broadcast), window functions, top-k, set ops.
  *
  * Scale notes (100 TB): dimension sides (nation/region/customer at
  * dim-scale) are broadcast to avoid shuffling the fact table; all
  * aggregations are partial (map-side combine) by construction; money
  * sums are exact integer cents so results are order-independent and
  * shuffle-safe.
  */
object RelationalQueries {

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast(LongType)

  /** Bucketed fact-core stages — the ingest-layout pattern: each fact
    * table's hot projection written ONCE clustered ×8 on the order
    * key, after which every orderkey join over these columns is
    * exchange-free (the scan itself reports the HashPartitioning the
    * join wants, and any later groupBy whose keys INCLUDE the order
    * key inherits it too — HashPartitioning(ok) satisfies clustering
    * on (ok, x)). v2 widens v1 with the wait-suppliers columns
    * (l_suppkey/l_shipdate/o_orderdate) so ONE staged copy serves
    * both consumers; knob-in-name, so v1 dirs are never misread.
    *
    * Bucket-count sizing (r13, measured): the count bounds the
    * bucket-local consumers' parallelism — rel_wait_suppliers' whole
    * cost is one zero-exchange stage of nBuckets tasks, and a b8/b16/
    * b32 staged A/B over the ×100 ScaleProbe replica measured wall
    * min-of-6 2.66/1.44/1.14 s (wall tracks bucket count until other
    * costs dominate; at ×10 all three are latency-bound ~0.8-1.0 s,
    * flat). Production rule: size buckets to 100 MB-1 GB of the
    * projected fact core (guide §2.2/§6) — at 100 TB that is ≥10⁵
    * buckets, far above any core count, so parallelism is never the
    * binding constraint there. Locally 8 stays: each sf0.1 bucket is
    * ~2.5 MB, already 100× SMALLER than the production target, so
    * raising the local count would be core-count tuning, not the
    * bytes rule.
    */
  private def bktLineitem(s: SparkSession, d: String): DataFrame =
    StagedIndex.orStageBucketed(s, "rel_bkt_lineitem_v2", d,
      Seq(s"$d/lineitem.parquet"), "l_orderkey", 8)(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate"),
        cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .alias("rev")))

  private def bktOrders(s: SparkSession, d: String): DataFrame =
    StagedIndex.orStageBucketed(s, "rel_bkt_orders_v2", d,
      Seq(s"$d/orders.parquet"), "o_orderkey", 8)(
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_orderdate"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Market-basket affinity (Agrawal & Srikant 1994's support
    // counting, the 2-itemset case): the top-20 part pairs bought
    // together in one order, with the exact integer lift —
    // P(a,b)·N / (P(a)·P(b)) in micro-units — that separates "popular
    // × popular" co-occurrence from real affinity. Scale shape: the
    // pair generator is a lineitem SELF-join on l_orderkey, the one
    // equi-key both sides already shuffle on ONCE (AQE reuses the
    // exchange); its output is bounded by Σ_orders k², with k = items
    // per order — a per-entity constant (~7 in TPC-H), NOT data-scale
    // — so the blow-up is linear in orders. The (a < b) triangle cut
    // halves it, the pair agg map-side combines, top-20 is a
    // TakeOrdered, and the per-part order counts + 1-row order total
    // attach to just those 20 rows via broadcast joins.
    "rel_basket_affinity" -> ((s, d) => {
      // the distinct (order, part) "basket items" set is the reusable
      // artifact here — staged BUCKETED on the order key, so the
      // self-join below needs no exchange at all (the scan itself
      // reports the HashPartitioning the join wants) and the distinct
      // is computed once per snapshot, not per run
      val items = StagedIndex.orStageBucketed(s, "rel_basket_items_v1", d,
        Seq(s"$d/lineitem.parquet"), "ok", 8)(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").alias("ok"),
            col("l_partkey").alias("pk"))
          .distinct())
      val pairs = items.alias("x")
        .join(items.alias("y"), col("x.ok") === col("y.ok") &&
          col("x.pk") < col("y.pk"))
        .select(col("x.pk").alias("part_a"), col("y.pk").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).alias("n_both"))
        .orderBy(col("n_both").desc, col("part_a").asc, col("part_b").asc)
        .limit(20)
      val perPart = items.groupBy("pk")
        .agg(count(lit(1)).alias("n_orders"))
      val total = items.select(col("ok")).distinct()
        .agg(count(lit(1)).alias("n_total"))
      pairs
        .join(perPart.select(col("pk").alias("part_a"),
          col("n_orders").alias("n_a")), "part_a")
        .join(perPart.select(col("pk").alias("part_b"),
          col("n_orders").alias("n_b")), "part_b")
        .crossJoin(broadcast(total))
        // staged division keeps every intermediate under 2^63 at any
        // corpus size: n_both/n_a <= 1 so the first term caps at 1e6,
        // and 1e6 x n_total stays safe for 10^12-order corpora
        .withColumn("lift_micro",
          expr("((n_both * 1000000 div n_a) * n_total) div n_b"))
        .select(col("part_a"), col("part_b"), col("n_both"),
          col("n_a"), col("n_b"), col("lift_micro"))
    }),

    // Cohort lifetime-value table — the subscription-analytics
    // staple: customers grouped by their FIRST order month (the
    // cohort), revenue tracked by months-since-first — the revenue-
    // retention triangle a finance team reads down the diagonal.
    // Scale shape: the cohort assignment is one min-agg on o_custkey
    // (fact-side high-cardinality key, map-side combined), the join
    // back is the same custkey equi-shuffle, and the final roll-up is
    // cohorts × offsets (calendar-bounded, tiny). The distinct-
    // customer count inside each cell goes through Spark's two-phase
    // distinct aggregation — per-partition dedup before the exchange,
    // never a collect.
    "rel_cohort_ltv" -> ((s, d) => {
      // r12 single-pass shape: the first cut derived the cohort with a
      // min-agg + join back (orders scanned twice, shuffled twice) and
      // then ran countDistinct(custkey) mixed with plain aggs — which
      // plans an Expand (row ×2) plus an extra exchange phase. Now:
      // one custkey-clustered agg to (custkey, month) cells, the
      // cohort from a min-window on the SAME partitioning (zero extra
      // exchange), and — because each custkey appears at most once per
      // (cohort, m) cell after that agg — n_customers is a plain
      // count(*), no distinct machinery at all. One scan, one raw
      // shuffle, one tiny aggregate exchange.
      val o = Tables.orders(s, d).select(
        col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast(LongType).alias("m"),
        cents(col("o_totalprice")).alias("cents"))
      val perCM = o.repartition(col("o_custkey"))
        .groupBy("o_custkey", "m")
        .agg(count(lit(1)).alias("n"), sum(col("cents")).alias("rc"))
      val wCust = Window.partitionBy("o_custkey")
      perCM.withColumn("cohort", min(col("m")).over(wCust))
        .groupBy(col("cohort"), (col("m") - col("cohort")).alias("offset_m"))
        .agg(count(lit(1)).alias("n_customers"),
          sum(col("n")).alias("n_orders"),
          sum(col("rc")).alias("rev_cents"))
    }),

    // The full SQL rank-statistics family — row_number, ntile(4),
    // percent_rank, cume_dist — for customers ranked by revenue
    // within their nation, all derived ARITHMETICALLY from one
    // GroupRank (rn, grp_n) pair: ntile via the bucket formula,
    // percent_rank as (rn−1)/(n−1) and cume_dist as rn/n in floored
    // micro-units (the doubles SQL's own functions emit cannot
    // hash-match across engines; the micro-unit integers can, and
    // carry the same information). Scale shape: the corpus reduces to
    // per-customer revenue FIRST (map-side combined), so the
    // nation-keyed rank runs over the reduced table through
    // GroupRank's range partition — the dimension-window trap this
    // engine never takes. No ties ambiguity: revenue desc with the
    // custkey tiebreak is a total order.
    "rel_rank_stats" -> ((s, d) => {
      val perCust = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).alias("rev_cents"))
      val withNation = perCust.join(
        broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
        .select(col("o_custkey").alias("custkey"),
          col("c_nationkey").cast(LongType).alias("nationkey"),
          col("rev_cents"))
      GroupRank.rank(withNation, "nationkey",
          Seq(col("rev_cents").desc, col("custkey").asc))
        .select(col("custkey"), col("nationkey"), col("rev_cents"),
          col("rn"),
          GroupRank.ntileFromRank(4, col("rn"), col("grp_n"))
            .alias("quartile"),
          when(col("grp_n") > 1,
            expr("(rn - 1) * 1000000 div (grp_n - 1)")).otherwise(0L)
            .alias("pct_rank_micro"),
          expr("rn * 1000000 div grp_n").alias("cume_dist_micro"))
    }),

    // Weekly seasonality profile — the (day-of-week × hour) heatmap
    // behind capacity planning and anomaly baselines. dow is derived
    // ARITHMETICALLY from the epoch day ((day + 3) mod 7, 0 = Monday,
    // since 1970-01-01 was a Thursday) instead of through the
    // engines' dayofweek() functions, whose 0-vs-1-based and
    // Sunday-vs-Monday conventions differ — integer arithmetic is the
    // only spelling both engines share bit-for-bit. Scale shape:
    // per-row bucket math at scan speed, a map-side-combined agg to
    // at most 168 cells, and the 1-row grand total broadcast for
    // exact ppm shares.
    "rel_seasonality" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        expr("(ts div 86400000000000 + 3) % 7").alias("dow"),
        expr("(ts div 3600000000000) % 24").alias("hour"),
        round(col("value") * 100, 0).cast(LongType).alias("cents"))
      val cells = ev.groupBy("dow", "hour")
        .agg(count(lit(1)).alias("n"), sum(col("cents")).alias("cents_sum"))
      val tot = ev.agg(count(lit(1)).alias("n_tot"))
      cells.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("n * 1000000 div n_tot"))
        .select(col("dow"), col("hour"), col("n"), col("cents_sum"),
          col("share_ppm"))
    }),

    // ABC (Pareto) classification of parts by revenue contribution —
    // the inventory-policy staple: class A = parts inside the first
    // 80% of cumulative revenue, B to 95%, C the tail. Scale shape:
    // one map-side-combined per-part revenue agg, a GLOBAL
    // revenue-descending cumulative sum on constant-group GroupRank
    // (range partition + broadcast offsets — the classic Pareto query
    // is a global-ORDER-BY window, one task naively), and a 1-row
    // grand-total scalar broadcast for the class cuts. The cuts are
    // cross-multiplied integer comparisons with SMALL multipliers
    // (cum*5 <= tot*4 is the 80% line, cum*20 <= tot*19 the 95%) so
    // the arithmetic stays far inside 64 bits at any corpus size.
    "rel_pareto_abc" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(cents(col("l_extendedprice") *
          (lit(1.0) - col("l_discount")))).alias("rev_cents"))
        .withColumn("g0", lit(0))
      val run = GroupRank.runningSum(rev, "g0",
        Seq(col("rev_cents").desc, col("l_partkey").asc), "rev_cents")
      val tot = run.agg(sum(col("rev_cents")).alias("tot"))
      run.crossJoin(broadcast(tot))
        .withColumn("abc_class",
          when(col("run") * 5 <= col("tot") * 4, "A")
            .when(col("run") * 20 <= col("tot") * 19, "B")
            .otherwise("C"))
        .select(col("l_partkey"), col("rev_cents"),
          col("run").alias("cum_cents"), col("abc_class"))
    }),

    // TPC-H Q1-style full-scan aggregation with map-side combine.
    "rel_q1_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity"), 0).cast(LongType)).alias("sum_qty"),
          sum(cents(col("l_extendedprice"))).alias("price_cents"),
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .alias("revenue_cents"),
          count(lit(1)).alias("n"))),

    // Fact-to-dimension join chain; both dims broadcast → zero shuffle
    // of the orders fact beyond the final (tiny) group-by.
    "rel_join_broadcast" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val n = Tables.nation(s, d).select("n_nationkey", "n_name")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).alias("n_orders"),
          sum(cents(col("o_totalprice"))).alias("cents"))
    }),

    // Windowed top-k per group with deterministic tie-break.
    "rel_topk" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"),
          cents(col("o_totalprice")).alias("price_cents"))
    }),

    // Set operations: EXCEPT / INTERSECT over distinct key sets.
    "rel_setop" -> ((s, d) => {
      val cn = Tables.customer(s, d).select(col("c_nationkey").alias("nk")).distinct()
      val sn = Tables.supplier(s, d).select(col("s_nationkey").alias("nk")).distinct()
      val custOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
      val both = cn.intersect(sn).withColumn("tag", lit("both"))
      custOnly.unionAll(both).select("tag", "nk")
    }),

    // ROLLUP with explicit grouping-set markers (coalesced so null
    // ordering differences between engines can't bite).
    "rel_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_quantity"), 0).cast(LongType)).alias("sum_qty"),
          count(lit(1)).alias("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).alias("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).alias("ls"),
          col("sum_qty"), col("n"))),

    // CUBE: all grouping-set combinations with coalesced markers.
    "rel_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).alias("n"),
          sum(cents(col("o_totalprice"))).alias("cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).alias("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).alias("pri"),
          col("n"), col("cents"))),

    // Pivot: order counts+value by status, one column per priority.
    // Pivot values are enumerated explicitly — at scale an unlisted-
    // values pivot needs a driver-side distinct pass first; listing
    // them keeps the plan a single pass.
    "rel_pivot" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          cents(col("o_totalprice")).alias("c"))
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(sum(col("c")))
        .select(col("o_orderstatus"),
          col("1-URGENT").alias("p1"), col("2-HIGH").alias("p2"),
          col("3-MEDIUM").alias("p3"), col("4-NOT SPECIFIED").alias("p4"),
          col("5-LOW").alias("p5"))),

    // Explicit GROUPING SETS (the general form rollup/cube special-
    // case), with grouping() markers instead of coalesce so NULL data
    // values can't collide with the ALL marker.
    "rel_grouping_sets" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_orderpriority"),
          cents(col("o_totalprice")).alias("c"))
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")),
            Seq.empty),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).alias("n"), sum(col("c")).alias("cents"),
          grouping(col("o_orderstatus")).cast(LongType).alias("g_st"),
          grouping(col("o_orderpriority")).cast(LongType).alias("g_pri"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).alias("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).alias("pri"),
          col("g_st"), col("g_pri"), col("n"), col("cents"))),

    // JSON column decode: parse the props payload with an explicit
    // schema (from_json — no inference, the rule for open documents,
    // SURVEY §7.3 hard part 4) and aggregate the extracted field.
    "rel_json_agg" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").cast(LongType).alias("kv"))
        .groupBy("event_type")
        .agg(count(lit(1)).alias("n"),
          count(col("kv")).alias("n_k"),
          sum(col("kv")).alias("sum_k"),
          min(col("kv")).alias("min_k"),
          max(col("kv")).alias("max_k"))),

    // Skew-safe aggregation: salt the hot key space into 8 subkeys,
    // partially aggregate per (key, salt), then merge — the two-phase
    // shape that bounds any single reducer's load at 100 TB. The salt
    // must be deterministic (id-derived, not random) so the oracle —
    // and any retry of a failed task — sees the same result.
    "rel_skew_agg" -> ((s, d) => {
      val salted = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          pmod(col("l_orderkey"), lit(8)).alias("salt"),
          round(col("l_quantity"), 0).cast(LongType).alias("q"))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(sum(col("q")).alias("pq"), count(lit(1)).alias("pn"))
      salted.groupBy(col("l_returnflag"))
        .agg(sum(col("pq")).alias("sum_qty"), sum(col("pn")).alias("n"))
    }),

    // Semi/anti joins: customers with vs without orders, per nation.
    "rel_semi_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey").alias("nk"))
        .agg(count(lit(1)).alias("n")).withColumn("tag", lit("has_orders"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").alias("nk"))
        .agg(count(lit(1)).alias("n")).withColumn("tag", lit("no_orders"))
      withO.unionAll(withoutO).select("tag", "nk", "n")
    }),

    // Exact distinct counts (the HLL/approx variant is
    // rel_approx_distinct below).
    // r12: one agg with THREE distinct column groups plans an
    // Expand ×4 — every lineitem row quadruples before the first
    // hash aggregate. Split per column instead (the measured
    // rel_approx_distinct discipline): each branch is a plain
    // two-phase distinct over one pruned column, the branches run
    // concurrently inside one job, and the 1-row results cross via
    // broadcast. Same values, no Expand anywhere.
    "rel_distinct" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.agg(countDistinct(col("l_partkey")).alias("parts"))
        .crossJoin(broadcast(
          li.agg(countDistinct(col("l_suppkey")).alias("supps"))))
        .crossJoin(broadcast(
          li.agg(countDistinct(col("l_orderkey")).alias("ords"))))
        .crossJoin(broadcast(li.agg(count(lit(1)).alias("n"))))
    }),

    // HLL sketch values are engine-specific, so the oracle-checkable
    // contract is the sketch's accuracy guarantee: exact counts plus
    // a boolean per sketch asserting relative error ≤ 15% = 3× the
    // default rsd (0.05). At 1σ ≈ a third of (column, dataset) draws
    // would fail a 5% gate on fresh data; 3σ makes a healthy sketch's
    // pass virtually certain while still catching a broken one.
    // DuckDB emits the exact counts and literal TRUEs; the row
    // hash-matches iff the engine's sketches are in tolerance.
    // The exact and sketch halves aggregate SEPARATELY: mixing
    // countDistinct (expand + codegen hash agg) with
    // approx_count_distinct (TypedImperative HLL++) in one Aggregate
    // forces the whole thing onto the non-codegen fallback — measured
    // 1.8 s vs 0.9+0.3 s split at sf0.1. Two 1-row results cross via
    // broadcast; each scan reads the same two pruned columns.
    "rel_approx_distinct" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val exact = li.agg(
        countDistinct(col("l_partkey")).alias("parts"),
        countDistinct(col("l_orderkey")).alias("ords"))
      val sketch = li.agg(
        approx_count_distinct(col("l_partkey")).alias("ap"),
        approx_count_distinct(col("l_orderkey")).alias("ao"))
      exact.crossJoin(broadcast(sketch))
        .select(
          col("parts"), col("ords"),
          (abs(col("ap") - col("parts")).cast("double") / col("parts")
            <= 0.15).alias("parts_within_tol"),
          (abs(col("ao") - col("ords")).cast("double") / col("ords")
            <= 0.15).alias("ords_within_tol"))
    }),

    // TPC-H Q14-shaped promo share: lineitem ⋈ broadcast part, monthly
    // revenue split by a dimension predicate. The share is the one
    // deterministic double division from exact integer cents.
    "rel_promo_share" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d).select("p_partkey", "p_type")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .withColumn("rev",
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .groupBy(
          year(col("l_shipdate")).cast(LongType).alias("yr"),
          month(col("l_shipdate")).cast(LongType).alias("mo"))
        .agg(
          sum(when(col("p_type") === "ECONOMY", col("rev")).otherwise(0L))
            .alias("promo_cents"),
          sum(col("rev")).alias("total_cents"))
        .withColumn("promo_share",
          col("promo_cents").cast("double") / col("total_cents"))
    }),

    // Q5-shaped star join: fact ⋈ three broadcast dimension hops
    // (supplier → nation → region). The lineitem fact shuffles once —
    // for the final tiny group-by — because every dimension broadcasts.
    "rel_star_join" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val n = Tables.nation(s, d).select("n_nationkey", "n_regionkey")
      val r = Tables.region(s, d).select("r_regionkey", "r_name")
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .alias("revenue_cents"),
          count(lit(1)).alias("n"))
    }),

    // Scalar function library over orders: string/date/math.
    "rel_scalar_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).alias("pri_up"),
          substring(col("o_orderpriority"), 1, 1).alias("pri_1"),
          length(col("o_orderpriority")).cast(LongType).alias("pri_len"),
          year(col("o_orderdate")).cast(LongType).alias("yr"),
          month(col("o_orderdate")).cast(LongType).alias("mo"),
          dayofmonth(col("o_orderdate")).cast(LongType).alias("dom"),
          unix_millis(date_trunc("month", col("o_orderdate")))
            .alias("month_ms"),
          pmod(col("o_orderkey"), lit(7)).alias("k_mod"),
          abs(round(col("o_totalprice") * 100, 0).cast(LongType) - 1000000L)
            .alias("cents_off"))),

    // Window navigation beyond running sums: quartile assignment
    // (ntile), percent_rank, cume_dist — the ranking statistics an
    // analytics surface owes its users, pinned deterministic by the
    // (cents desc, key asc) total order. o_orderpriority has FIVE
    // values, so `Window.partitionBy(o_orderpriority)` would funnel
    // the corpus through five sorted tasks; instead GroupRank derives
    // the global per-priority rank from a range-partitioned local
    // rank (WindowGroupLimit-pruned to 100/partition/group) plus a
    // broadcast prefix-offset table, and ntile/percent_rank/cume_dist
    // follow arithmetically from (rn, grp_n) — SQL-standard bucket
    // sizes: the first (n mod 4) quartiles take ceil(n/4) rows.
    "rel_window_nav" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          cents(col("o_totalprice")).alias("cents"))
      GroupRank.rank(base, "o_orderpriority",
          Seq(col("cents").desc, col("o_orderkey").asc),
          localLimit = Some(100))
        .filter(col("rn") <= 100)
        .withColumn("quartile",
          GroupRank.ntileFromRank(4, col("rn"), col("grp_n")))
        .withColumn("pct_rank",
          when(col("grp_n") === 1L, lit(0.0))
            .otherwise((col("rn") - 1).cast("double") / (col("grp_n") - 1)))
        .withColumn("cume", col("rn").cast("double") / col("grp_n"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
          col("rn"), col("quartile"), col("pct_rank"), col("cume"))
    }),

    "rel_window_running" -> ((s, d) => {
      val priceCents = cents(col("o_totalprice"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          priceCents.alias("cents"))
        .withColumn("running", sum(col("cents")).over(wr))
        .withColumn("prev", lag(col("cents"), 1).over(w))
        .withColumn("nxt", lead(col("cents"), 1).over(w))
        .withColumn("rk", rank().over(
          Window.partitionBy("o_custkey").orderBy(col("cents").desc,
            col("o_orderkey").asc)).cast(LongType))
        .drop("o_orderdate")
    }),

    // Tumbling event-time window as integer-exact hour bucketing over
    // the nanosecond ts (streaming-window semantics in batch; the
    // streaming variant with watermarks lives in graft.streaming).
    "rel_hour_window" -> ((s, d) =>
      Tables.events(s, d)
        .select(expr("ts div 3600000000000").alias("hour_bucket"),
          col("event_type"),
          round(col("value") * 100, 0).cast(LongType).alias("cents"))
        .groupBy("hour_bucket", "event_type")
        .agg(count(lit(1)).alias("n"), sum(col("cents")).alias("cents_sum"))),

    // Z-score outlier gate: per-type mean/variance from exact integer
    // (count, sum, sum-of-squares) aggregates — one map-side-combined
    // agg to a 5-row stats table, broadcast back, flag |z| > 3. The
    // data-quality anomaly filter of an ingest pipeline. Every double
    // derives from exact int64 sums through a fixed expression order,
    // so both engines produce bit-identical z values (no Welford-vs-
    // naive variance drift). Scale shape: corpus scans twice at scan
    // speed; only the 5-row stats table ever funnels.
    "rel_anomaly" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"),
        col("event_type"),
        round(col("value") * 100, 0).cast(LongType).alias("cents"))
      val stats = ev.groupBy("event_type").agg(
        count(lit(1)).alias("n"), sum(col("cents")).alias("s"),
        sum(col("cents") * col("cents")).alias("ss"))
      val mean = col("s").cast("double") / col("n")
      val z = (col("cents").cast("double") - mean) /
        sqrt(col("ss").cast("double") / col("n") - mean * mean)
      ev.join(broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("cents"), col("z"))
    }),

    // Time-RANGE window frame: per-customer trailing-30-day order
    // count and revenue at every order. Unlike a rows-frame running
    // total (rel_window_running), the frame is value-based — all
    // orders within 2 592 000 s of the current one, peers included —
    // the rolling-feature shape of a behavioral/training-feature
    // pipeline. Scale shape: partitioned on o_custkey (fact-side key
    // cardinality, grows with the data — the opposite of the
    // dimension-key window anti-pattern), one hash exchange, frames
    // bounded by a customer's 30-day order count. Money is exact
    // integer cents so the rolling sums are order-independent.
    "rel_window_range" -> ((s, d) => {
      val wRange = Window.partitionBy("o_custkey").orderBy(col("sec"))
        .rangeBetween(-2592000L, 0L)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          // o_orderdate is TIMESTAMP_NTZ; session tz is UTC, so the
          // cast to TIMESTAMP is epoch-preserving
          expr("unix_millis(cast(o_orderdate as timestamp)) div 1000")
            .alias("sec"),
          cents(col("o_totalprice")).alias("cents"))
        .withColumn("roll_n", count(lit(1)).over(wRange))
        .withColumn("roll_cents", sum(col("cents")).over(wRange))
    }),

    // Morton/z-order key for multi-dimensional data layout: interleave
    // the low 16 bits of two scan-predicate columns so that range-
    // partitioning + sorting by zval clusters the table for min/max
    // pruning on BOTH dimensions (a single-column sort prunes only its
    // own column). At 100 TB this is the difference between touching
    // every file for a (user, id-range) probe and touching the handful
    // whose per-file stats overlap the 2-D box — ZorderLayoutSpec
    // proves the pruning property on written files. The interleave is
    // one static kernel call per row (graft.functions.InterleaveBits);
    // pure integer bit arithmetic, reproduced exactly by the oracle.
    "rel_zorder" -> ((s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 1000)
        .select(col("event_id"),
          (col("user_id") % 65536L).alias("x"),
          (col("event_id") % 65536L).alias("y"))
        .withColumn("zval", graft.functions.InterleaveBits(col("x"), col("y")))),

    // TPC-H Q15-shaped top supplier(s): quarterly revenue per supplier,
    // then the supplier(s) achieving the maximum — the aggregate-then-
    // join-on-the-aggregate's-extremum shape (Q15's revenue view +
    // scalar subquery). Scale: the fact scan carries a pushed shipdate
    // range filter, the per-supplier agg is map-side combined down to
    // supplier cardinality, the max is a 1-row scalar whose equi-join
    // back is a broadcast hash join, and the name lookup broadcasts the
    // supplier dim. Exact integer cents keep the extremum and the
    // equality deterministic under any shuffle order.
    "rel_top_suppliers" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .alias("rev_cents"))
      val mx = rev.agg(max(col("rev_cents")).alias("rev_cents"))
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
      rev.join(mx, "rev_cents")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("rev_cents"))
    }),

    // TPC-H Q18-shaped large-order report: per-order quantity totals
    // HAVING-filtered to the heavy tail, joined back to orders and the
    // broadcast customer dim. Scale: the lineitem agg shuffles on the
    // fact-cardinality orderkey (map-side combined), the filtered
    // survivor set is tiny so AQE broadcasts it into the orders join,
    // and quantities sum as exact integers. The timestamp surfaces as
    // epoch seconds (cross-engine-stable representation).
    "rel_large_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(round(col("l_quantity"), 0).cast(LongType)).alias("sum_qty"))
        .filter(col("sum_qty") > 300L)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).select("c_custkey", "c_name")
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          expr("unix_millis(cast(o_orderdate as timestamp)) div 1000")
            .alias("order_sec"),
          cents(col("o_totalprice")).alias("total_cents"),
          col("sum_qty"))
    }),

    // TPC-H Q2-shaped minimum-cost supplier: for every part in a dim-
    // filtered subset, the supplier quoting the minimum price — the
    // correlated-min-subquery shape, decorrelated as ONE aggregate:
    // the struct minimum of (cost, supplier) per part is the lowest
    // cost, tie-broken by the lowest supplier (the oracle's rule), and
    // a null cost is dropped first, as `min` drops it. No exchange
    // feeds two consumers, so the plan does not hinge on AQE's runtime
    // reuse (a self-joined per-(part, supp) aggregate ran 7 or 8
    // exchanges across identical runs). Scale: the broadcast semi-join
    // of the filtered part list prunes the fact scan FIRST, and both
    // dims broadcast. Exact integer cents keep every extremum and the
    // equality deterministic.
    "rel_min_cost" -> ((s, d) => {
      val pt = Tables.part(s, d)
        .filter(col("p_size") === 15)
        .select(col("p_partkey"), col("p_name"))
      val best = Tables.lineitem(s, d)
        .join(broadcast(pt.select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_suppkey"),
          cents(col("l_extendedprice")).alias("cost_cents"))
        .filter(col("cost_cents").isNotNull)
        .groupBy(col("l_partkey"))
        .agg(min(struct(col("cost_cents"), col("l_suppkey"))).alias("m"))
        .select(col("l_partkey"), col("m.cost_cents").alias("cost_cents"),
          col("m.l_suppkey").alias("s_suppkey"))
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
      best
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), "s_suppkey")
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("cost_cents"))
    }),

    // TPC-H Q17-shaped small-quantity revenue: total revenue of
    // lineitems whose quantity is below 20% of their part's average —
    // the correlated-average shape. Decorrelated as (count, sum) per
    // part joined back, and the fractional comparison cross-multiplied
    // into exact integers (5·q·cnt < Σq ⇔ q < avg/5), so no division
    // ever happens and both engines agree bit-for-bit. Scale: one
    // map-side-combined agg to part cardinality, one key-partitioned
    // join back on partkey (the agg side is part-sized, AQE broadcasts
    // it), and a final 1-row scalar aggregate.
    "rel_small_qty" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"),
          round(col("l_quantity"), 0).cast(LongType).alias("q"),
          cents(col("l_extendedprice")).alias("pc"))
      val st = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).alias("cnt"), sum(col("q")).alias("sumq"))
      li.join(st, "l_partkey")
        .filter(col("q") * lit(5L) * col("cnt") < col("sumq"))
        .agg(sum(col("pc")).alias("revenue_cents"),
          count(lit(1)).alias("n"))
    }),

    // TPC-H Q22-shaped idle high-balance customers: customers whose
    // balance exceeds the positive-balance average but who placed no
    // order since 2000 — the scalar-subquery + anti-join shape. The
    // average never divides: bal·cnt > Σbal cross-multiplies into
    // exact integer cents, the (cnt, Σ) scalar is a 1-row broadcast,
    // and the NOT EXISTS is a left-anti equi-join on custkey (both
    // sides key-partitioned; the orders side carries a pushed
    // orderdate filter so only the recent slice shuffles). Output
    // aggregates to nation cardinality with the dim broadcast.
    "rel_idle_customers" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          cents(col("c_acctbal")).alias("bal"))
      val st = c.filter(col("bal") > 0L)
        .agg(count(lit(1)).alias("cnt"), sum(col("bal")).alias("tot"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2000-01-01"))
        .select(col("o_custkey"))
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      c.crossJoin(broadcast(st))
        .filter(col("bal") * col("cnt") > col("tot"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).alias("n_custs"), sum(col("bal")).alias("bal_cents"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_custs"), col("bal_cents"))
    }),

    // TPC-H Q21-shaped sole-late-supplier report: suppliers who were
    // the ONLY late shipper in a multi-supplier order (late = shipped
    // more than 90 days after the order date) — the EXISTS + NOT
    // EXISTS correlated pair, decorrelated into pure aggregation:
    // per-(order, supplier) late flags, per-order (supplier count,
    // late-supplier count), and the verdict is a filter on the two
    // counts — no correlated subquery survives. Scale: lineitem ⋈
    // orders is one orderkey-partitioned equi-join, both aggs are
    // map-side combined and REUSE the same orderkey partitioning
    // (agg → agg → join back, zero extra shuffles), the final agg is
    // supplier-sized, and the name dim broadcasts. All flags/counts
    // integer-exact.
    "rel_wait_suppliers" -> ((s, d) => {
      // both sides ride the bucketed fact cores: the lineitem⋈orders
      // join AND the two orderkey-clustered aggs below run with zero
      // exchanges until the supplier-level roll-up (the "one reused
      // orderkey partitioning" claim, now from the scan itself). The
      // merge hint keeps SMJ at small factors where stats broadcast.
      val li = bktLineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val od = bktOrders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"))
      val j = li.hint("merge")
        .join(od, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").alias("ok"), col("l_suppkey"),
          when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
            .otherwise(0L).alias("late"))
      val per = j.groupBy(col("ok"), col("l_suppkey"))
        .agg(max(col("late")).alias("late"))
      val os = per.groupBy(col("ok"))
        .agg(count(lit(1)).alias("n_supp"), sum(col("late")).alias("n_late"))
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
      per.filter(col("late") === 1L)
        .join(os.filter(col("n_supp") > 1L && col("n_late") === 1L), "ok")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).alias("numwait"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
    }),

    // TPC-H Q8-shaped market share: NATION_9's share of yearly
    // revenue — the conditional-aggregation-over-a-join shape
    // (sum(CASE WHEN nation THEN rev END) / sum(rev)), with the
    // share in exact integer ppm so no double division varies by
    // engine. Scale: lineitem ⋈ orders is the one fact-fact join
    // (orderkey-partitioned); the supplier→nation attribution is two
    // broadcast dims folded into one CASE flag before aggregation,
    // so the year-keyed agg is map-side combined to |years| rows.
    "rel_market_share" -> ((s, d) => {
      val supNat = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .alias("rev"))
        .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
      li.join(Tables.orders(s, d).select(col("o_orderkey"),
          year(col("o_orderdate")).cast(LongType).alias("yr")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("yr")
        .agg(sum(col("rev")).alias("total_cents"),
          sum(when(col("n_name") === "NATION_9", col("rev"))
            .otherwise(0L)).alias("nation_cents"))
        .withColumn("share_ppm",
          expr("(nation_cents * 1000000) div total_cents"))
    }),

    // Skyline operator (Börzsönyi, Kossmann & Stocker, ICDE 2001):
    // the Pareto frontier of orders on (totalprice max, orderdate
    // max) — "largest AND most recent", no order in the result
    // dominated by another on both axes. The distributed plan never
    // compares orders pairwise: aggregate max price per DATE (date-
    // cardinality, map-side combined), compute each date's best
    // strictly-later price with one window over that tiny aggregate
    // (date-sized input — the corpus never touches the window), and
    // broadcast the per-date frontier back onto the fact scan; an
    // order survives iff it matches its date's max and strictly beats
    // every later date. The oracle runs the textbook NOT EXISTS
    // dominance self-join — an independent algorithm, so the
    // hash-match pins the rewrite, not just the arithmetic. Exact
    // integer cents; date ties and price ties both handled strictly.
    "rel_skyline" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"),
          cents(col("o_totalprice")).alias("pc"))
      val byDay = o.groupBy(col("o_orderdate"))
        .agg(max(col("pc")).alias("day_max"))
      val wSuf = Window.orderBy(col("o_orderdate").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = byDay
        .withColumn("later_best", max(col("day_max")).over(wSuf))
      o.join(broadcast(frontier), Seq("o_orderdate"))
        .filter(col("pc") === col("day_max") &&
          (col("later_best").isNull || col("later_best") < col("pc")))
        .select(col("o_orderkey"),
          expr("unix_millis(cast(o_orderdate as timestamp)) div 1000")
            .alias("order_sec"),
          col("pc").alias("price_cents"))
    }),

    // TPC-H Q3-shaped shipping priority: revenue still in flight for
    // one market segment — orders placed before the cutoff whose
    // lineitems ship after it, top-10 by outstanding revenue. Scale:
    // the BUILDING customer keys broadcast into the orders scan (the
    // segment predicate never touches the fact side), lineitem ⋈
    // orders is the one fact-fact join (orderkey-partitioned, both
    // date filters pushed to the scans), the per-order agg reuses
    // that partitioning, and the top-10 is TakeOrderedAndProject —
    // per-partition heaps, never a global sort.
    "rel_ship_priority" -> ((s, d) => {
      val cutoff = lit("1998-06-01").cast("timestamp")
      val c = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .alias("rev"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"),
          expr("unix_millis(cast(o_orderdate as timestamp)) div 1000")
            .alias("order_sec"),
          col("o_orderpriority"))
        .agg(sum(col("rev")).alias("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q7-shaped bilateral trade volume: yearly revenue flowing
    // between two nations in either direction (supplier nation ≠
    // customer nation). Scale: both nation attributions are broadcast
    // dims folded onto their fact sides BEFORE the one fact-fact
    // lineitem ⋈ orders join; the inequality filter runs on two
    // already-attached string columns; the final agg is map-side
    // combined to (2 nations)² × years rows.
    "rel_nation_volume" -> ((s, d) => {
      val pair = Seq("NATION_3", "NATION_7")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      val sn = Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(pair: _*))
        .select(col("s_suppkey"), col("n_name").alias("supp_nation"))
      val cn = Tables.customer(s, d)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(pair: _*))
        .select(col("c_custkey"), col("n_name").alias("cust_nation"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast(LongType).alias("yr"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .alias("rev"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(sum(col("rev")).alias("volume_cents"),
          count(lit(1)).alias("n"))
    }),

    // TPC-H Q9-shaped product-line profit: revenue by supplier nation
    // and order year for parts matching a name token. Scale: the
    // name-filtered part keys and the supplier→nation attribution are
    // both broadcast onto the lineitem scan (shrinking it ~10× before
    // any shuffle); lineitem ⋈ orders on orderkey is the one
    // fact-fact join; the (nation, year) agg is map-side combined.
    "rel_profit" -> ((s, d) => {
      val p = Tables.part(s, d)
        .filter(col("p_name").contains("red"))
        .select("p_partkey")
      val supNat = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .alias("rev"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supNat), col("l_suppkey") === col("s_suppkey"))
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).alias("yr"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").alias("nation"), col("yr"))
        .agg(sum(col("rev")).alias("profit_cents"),
          count(lit(1)).alias("n"))
    }),

    // TPC-H Q10-shaped returned-item report: the top-20 customers by
    // revenue lost to returns in one quarter. Scale: both date and
    // returnflag predicates push to the parquet scans; lineitem ⋈
    // orders on orderkey is the one fact-fact join; the per-customer
    // agg shuffles on custkey (map-side combined); customer + nation
    // attach by broadcast AFTER the aggregation (top-20 candidates ×
    // dim, not fact × dim); top-20 is TakeOrderedAndProject.
    "rel_returned_top" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .alias("rev"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cn = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          cents(col("c_acctbal")).alias("acctbal_cents"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev")).alias("revenue_cents"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("acctbal_cents"), col("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // TPC-H Q13-shaped customer order-count distribution, including
    // the zero-order customers a plain inner join would drop. Scale:
    // orders aggregates to per-custkey counts FIRST (map-side
    // combined, custkey-partitioned), then customer LEFT-joins that
    // custkey-sized table — dim ⋈ agg on the same key, never
    // customer × orders row-level; the histogram agg output is
    // |distinct counts| rows. The oracle runs the textbook LEFT
    // OUTER JOIN + count(o_orderkey) formulation — a different
    // algorithm, so the hash-match pins the rewrite.
    "rel_cust_dist" -> ((s, d) => {
      val per = Tables.orders(s, d)
        .filter(!col("o_orderpriority").startsWith("4"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).alias("c_count"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(per, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("c_count", coalesce(col("c_count"), lit(0L)))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).alias("custdist"))
    }),

    // Cumulative distinct users by hour — the growth-curve query —
    // WITHOUT per-day distinct state or HLL sketches: a user counts
    // on exactly their FIRST active hour (one min-agg keyed on
    // user_id, map-side combined), hourly new-user counts follow from
    // an hour-keyed agg, and the running total is a prefix sum over
    // that hour-cardinality table (tiny by construction — the corpus
    // never reaches the window). Exact at any scale; the classic
    // alternative (count(DISTINCT user) OVER (ORDER BY hour)) holds
    // O(users) state per bucket and has no distributed form.
    "rel_cum_distinct" -> ((s, d) => {
      val firstHour = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 3600000000000").alias("hour"))
        .groupBy(col("user_id"))
        .agg(min(col("hour")).alias("hour"))
      val per = firstHour.groupBy(col("hour"))
        .agg(count(lit(1)).alias("new_users"))
      val w = Window.orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.withColumn("cum_users", sum(col("new_users")).over(w))
    }),

    // Time-series densification (resampling with zero-fill): the
    // dense (day × event_type) skeleton is GENERATED dimension-side —
    // a 1-row min/max bounds agg exploded through sequence(), crossed
    // with the 5-row type dim — and the fact table aggregates FIRST,
    // then left-joins onto the skeleton. The fact side is never
    // densified row-level (the classic mistake that multiplies the
    // corpus by the calendar); missing buckets surface as exact
    // zeros. The feed a forecasting or SLO dashboard needs.
    "rel_resample" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(expr("ts div 86400000000000").alias("day"),
          col("event_type"),
          round(col("value") * 100, 0).cast(LongType).alias("cents"))
      val per = ev.groupBy("day", "event_type")
        .agg(count(lit(1)).alias("n"), sum(col("cents")).alias("cents_sum"))
      val days = ev.agg(min(col("day")).alias("lo"), max(col("day")).alias("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).alias("day"))
      val types = ev.select("event_type").distinct()
      days.crossJoin(broadcast(types))
        .join(per, Seq("day", "event_type"), "left")
        .select(col("day"), col("event_type"),
          coalesce(col("n"), lit(0L)).alias("n"),
          coalesce(col("cents_sum"), lit(0L)).alias("cents_sum"))
    }),

    // Gaps-and-islands: consecutive-day activity streaks per user via
    // the day − row_number() constant-within-a-run trick, reduced to
    // the streak-length histogram. Scale: the (user, day) dedup agg
    // is map-side combined; the window partitions on user_id — a
    // fact-side HIGH-cardinality key that scales with data (never a
    // dimension key); the histogram output is O(longest streak) rows.
    "rel_islands" -> ((s, d) => {
      val active = Tables.events(s, d)
        .select(col("user_id"), expr("ts div 86400000000000").alias("day"))
        .groupBy("user_id", "day").agg(count(lit(1)).alias("n_ev"))
      val w = Window.partitionBy("user_id").orderBy("day")
      active
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).alias("streak_len"))
        .groupBy(col("streak_len"))
        .agg(count(lit(1)).alias("n_streaks"))
    }),

    // TPC-H Q19-shaped disjunctive predicate: three (brand, size
    // range, quantity range) arms OR'd together across the part ⋈
    // lineitem boundary. Scale: the brand filter prunes part before
    // its broadcast; the DERIVED common bound l_quantity ≤ 30 — the
    // union of the three arms' quantity ranges — is applied on the
    // fact side so it reaches the parquet scan as a pushed filter
    // (the disjunction itself can only run post-join because each
    // arm spans both tables — the classic Q19 optimizer lesson);
    // per-brand agg is map-side combined to 3 rows.
    "rel_disjunct" -> ((s, d) => {
      val p = Tables.part(s, d)
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey", "p_brand", "p_size")
      val l = Tables.lineitem(s, d)
        .filter(col("l_quantity") <= 30.0)
        .select(col("l_partkey"), col("l_quantity"),
          cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .alias("rev"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1.0, 11.0)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10.0, 20.0)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
            col("l_quantity").between(20.0, 30.0)))
        .groupBy(col("p_brand"))
        .agg(sum(col("rev")).alias("revenue_cents"),
          count(lit(1)).alias("n"))
    }),

    // UNPIVOT (wide -> long): per-returnflag measures melted into
    // (rf, measure, value) rows with the Dataset.unpivot operator.
    // Scale: the melt runs AFTER the aggregation — a 3-row-per-group
    // expansion of the 3-row aggregate, not a 3x blowup of the fact
    // table (unpivot-before-agg is the trap; at 100 TB it triples the
    // shuffle for no reason).
    "rel_unpivot" -> ((s, d) => {
      val aggd = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").alias("rf"))
        .agg(
          sum(round(col("l_quantity"), 0).cast(LongType)).alias("qty"),
          sum(cents(col("l_extendedprice"))).alias("price_cents"),
          sum(cents(col("l_extendedprice") * col("l_discount")))
            .alias("disc_cents"))
      aggd.unpivot(Array(col("rf")),
          Array(col("qty"), col("price_cents"), col("disc_cents")),
          "measure", "value")
    }),

    // Join-key skew audit — the table an operator reads BEFORE
    // committing a 100-TB shuffle plan: the rows-per-key histogram of
    // the fact-fact join key. Two map-side-combined aggregations at
    // scan speed; output bounded by the MAX group size (a per-entity
    // constant), never by data volume. A long tail here is the signal
    // to salt the key or lean on AQE's skew-join split; the ScaleProbe
    // skew column measures the same thing after the fact — this reads
    // it off the data before the job runs.
    "rel_key_skew" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).alias("n"))
        .groupBy(col("n").alias("rows_per_key"))
        .agg(count(lit(1)).alias("n_keys"))),

    // Shuffle-free fact-to-fact join via bucketed staging: lineitem
    // and orders are staged CLUSTERED BY orderkey INTO the same
    // bucket count, so the sort-merge join consumes both scans'
    // bucket partitioning directly — the ONLY exchange in the plan is
    // the final 5-row priority aggregate (PlanAudit pins exactly
    // that). This is the ingest-time answer to the one join shape
    // broadcasting can't fix (both sides fact-scale): at 100 TB the
    // bucketing is paid once per table write and every subsequent
    // orderkey join/agg is exchange-free. The merge hint keeps the
    // plan on SMJ at small factors where stats would broadcast.
    "rel_bucket_join" -> ((s, d) => {
      val l = bktLineitem(s, d).select(col("l_orderkey"), col("rev"))
      val o = bktOrders(s, d).select("o_orderkey", "o_orderpriority")
      l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).alias("n"),
          sum(col("rev")).alias("revenue_cents"))
    }))

  lazy val oracles: Map[String, String] = Map(

    // SQL's own window functions emit the ranks; the derived
    // statistics are replayed with the same integer formulas
    "rel_rank_stats" ->
      """WITH pc AS (
        |  SELECT o_custkey AS custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |wn AS (
        |  SELECT custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
        |    rev_cents
        |  FROM pc JOIN customer ON custkey = c_custkey),
        |rk AS (
        |  SELECT *,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY nationkey) AS BIGINT)
        |      AS grp_n,
        |    CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |  FROM wn
        |  WINDOW w AS (PARTITION BY nationkey
        |    ORDER BY rev_cents DESC, custkey ASC))
        |SELECT custkey, nationkey, rev_cents, rn, quartile,
        |  CAST(CASE WHEN grp_n > 1
        |    THEN (rn - 1) * 1000000 // (grp_n - 1) ELSE 0 END
        |    AS BIGINT) AS pct_rank_micro,
        |  CAST(rn * 1000000 // grp_n AS BIGINT) AS cume_dist_micro
        |FROM rk ORDER BY nationkey, rn""".stripMargin,

    // identical epoch-day arithmetic for dow; 1-row total for shares
    "rel_seasonality" ->
      """WITH ev AS (
        |  SELECT (epoch_ns(ts) // 86400000000000 + 3) % 7 AS dow,
        |    (epoch_ns(ts) // 3600000000000) % 24 AS hour,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |cells AS (
        |  SELECT dow, hour, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS cents_sum
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM ev)
        |SELECT dow, hour, n, cents_sum,
        |  CAST(n * 1000000 // n_tot AS BIGINT) AS share_ppm
        |FROM cells CROSS JOIN tot
        |ORDER BY dow, hour""".stripMargin,

    // plain window cumsum over the per-part revenue, same integer
    // class cuts
    "rel_pareto_abc" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |      * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |run AS (
        |  SELECT l_partkey, rev_cents,
        |    CAST(sum(rev_cents) OVER (
        |      ORDER BY rev_cents DESC, l_partkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM rev),
        |tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS tot FROM rev)
        |SELECT l_partkey, rev_cents, cum_cents,
        |  CASE WHEN cum_cents * 5 <= tot * 4 THEN 'A'
        |       WHEN cum_cents * 20 <= tot * 19 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM run CROSS JOIN tot
        |ORDER BY l_partkey""".stripMargin,

    "rel_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
        |      AS m,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY 1)
        |SELECT cohort, m - cohort AS offset_m,
        |  CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM o JOIN f USING (o_custkey)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the same triangle self-join and the same staged-division lift
    "rel_basket_affinity" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |pairs AS (
        |  SELECT x.pk AS part_a, y.pk AS part_b,
        |    CAST(count(*) AS BIGINT) AS n_both
        |  FROM items x JOIN items y
        |    ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2
        |  ORDER BY n_both DESC, part_a, part_b LIMIT 20),
        |per AS (
        |  SELECT pk, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM items GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_total
        |  FROM items)
        |SELECT part_a, part_b, n_both,
        |  a.n_orders AS n_a, b.n_orders AS n_b,
        |  CAST(((n_both * 1000000 // a.n_orders) * n_total)
        |    // b.n_orders AS BIGINT) AS lift_micro
        |FROM pairs JOIN per a ON part_a = a.pk
        |           JOIN per b ON part_b = b.pk
        |           CROSS JOIN tot
        |ORDER BY n_both DESC, part_a, part_b""".stripMargin,
    "rel_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |       AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rel_join_broadcast" ->
      """SELECT n_name,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "rel_topk" ->
      """SELECT c_mktsegment, rk, o_orderkey, price_cents FROM (
        |  SELECT c_mktsegment,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |         ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rk,
        |    o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin,

    "rel_setop" ->
      """SELECT tag, nk FROM (
        |  SELECT 'cust_only' AS tag, nk FROM (
        |    SELECT DISTINCT c_nationkey AS nk FROM customer
        |    EXCEPT
        |    SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |  UNION ALL
        |  SELECT 'both' AS tag, nk FROM (
        |    SELECT DISTINCT c_nationkey AS nk FROM customer
        |    INTERSECT
        |    SELECT DISTINCT s_nationkey AS nk FROM supplier)) t
        |ORDER BY tag, nk""".stripMargin,

    "rel_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "rel_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |  coalesce(o_orderpriority, 'ALL') AS pri,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,

    "rel_pivot" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT) AS p1,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'
        |    THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT) AS p2,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
        |    THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT) AS p3,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
        |    THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT) AS p4,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
        |    THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END) AS BIGINT) AS p5
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "rel_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |  coalesce(o_orderpriority, 'ALL') AS pri,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_st,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY st, pri, g_st, g_pri""".stripMargin,

    "rel_json_agg" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(json_extract(props, '$.k')) AS BIGINT) AS n_k,
        |  CAST(sum(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
        |  CAST(min(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS min_k,
        |  CAST(max(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the salt is an engine-side execution detail; the oracle states
    // the semantic result (plain group-by)
    "rel_skew_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "rel_semi_anti" ->
      """SELECT tag, nk, n FROM (
        |  SELECT 'has_orders' AS tag, c_nationkey AS nk,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer WHERE EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_nationkey
        |  UNION ALL
        |  SELECT 'no_orders' AS tag, c_nationkey AS nk,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer WHERE NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_nationkey) t
        |ORDER BY tag, nk""".stripMargin,

    "rel_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supps,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ords,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem""".stripMargin,

    "rel_approx_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ords,
        |  TRUE AS parts_within_tol,
        |  TRUE AS ords_within_tol
        |FROM lineitem""".stripMargin,

    "rel_promo_share" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
        |  CAST(month(l_shipdate) AS BIGINT) AS mo,
        |  CAST(sum(CASE WHEN p_type = 'ECONOMY'
        |    THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |         AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |       AS BIGINT)) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN p_type = 'ECONOMY'
        |    THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |         AS BIGINT) ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100,
        |         0) AS BIGINT)) AS BIGINT) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,

    "rel_star_join" ->
      """SELECT r_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |       AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "rel_scalar_funcs" ->
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS pri_up,
        |  substr(o_orderpriority, 1, 1) AS pri_1,
        |  CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  epoch_ms(date_trunc('month', o_orderdate)) AS month_ms,
        |  o_orderkey % 7 AS k_mod,
        |  abs(CAST(round(o_totalprice * 100, 0) AS BIGINT) - 1000000)
        |    AS cents_off
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "rel_window_nav" ->
      """SELECT o_orderkey, o_orderpriority, cents, rn, quartile,
        |  pct_rank, cume
        |FROM (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |    percent_rank() OVER w AS pct_rank,
        |    cume_dist() OVER w AS cume
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC,
        |             o_orderkey ASC)) t
        |WHERE rn <= 100 ORDER BY o_orderpriority, rn""".stripMargin,

    "rel_window_running" ->
      """SELECT o_custkey, o_orderkey, cents,
        |  CAST(sum(cents) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS running,
        |  lag(cents, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev,
        |  lead(cents, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS nxt,
        |  CAST(rank() OVER (PARTITION BY o_custkey
        |    ORDER BY cents DESC, o_orderkey ASC) AS BIGINT) AS rk
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |        CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |      FROM orders) t
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "rel_hour_window" ->
      """SELECT epoch_us(ts) // 3600000000 AS hour_bucket, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents_sum
        |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin,

    "rel_anomaly" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |stats AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(sum(cents * cents) AS BIGINT) AS ss
        |  FROM ev GROUP BY 1)
        |SELECT event_id, event_type, cents,
        |  (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |    / sqrt(CAST(ss AS DOUBLE) / n
        |           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS z
        |FROM ev JOIN stats USING (event_type)
        |WHERE abs((CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |    / sqrt(CAST(ss AS DOUBLE) / n
        |           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))) > 3.0
        |ORDER BY event_id""".stripMargin,

    "rel_window_range" ->
      """SELECT o_orderkey, o_custkey,
        |  epoch_us(o_orderdate) // 1000000 AS sec,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |  CAST(count(*) OVER w AS BIGINT) AS roll_n,
        |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER w
        |    AS BIGINT) AS roll_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY epoch_us(o_orderdate) // 1000000
        |  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "rel_zorder" ->
      """SELECT event_id,
        |  user_id % 65536 AS x,
        |  event_id % 65536 AS y,
        |  CAST(
        |    list_aggregate(list_transform(range(0, 16), i ->
        |      ((((user_id % 65536) >> i) & 1) << (2 * i)) +
        |      ((((event_id % 65536) >> i) & 1) << (2 * i + 1))), 'sum')
        |  AS BIGINT) AS zval
        |FROM events WHERE event_id < 1000
        |ORDER BY event_id""".stripMargin,

    "rel_top_suppliers" ->
      """WITH r AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100,
        |         0) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_cents
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_cents = (SELECT max(rev_cents) FROM r)
        |ORDER BY s_suppkey""".stripMargin,

    "rel_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
        |      AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  epoch_us(o_orderdate) // 1000000 AS order_sec,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents,
        |  sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_cents DESC, o_orderkey ASC""".stripMargin,

    "rel_min_cost" ->
      """WITH pt AS (
        |  SELECT p_partkey, p_name FROM part WHERE p_size = 15),
        |costs AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS cost_cents
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM pt)
        |  GROUP BY 1, 2),
        |minc AS (
        |  SELECT l_partkey, min(cost_cents) AS min_cents
        |  FROM costs GROUP BY 1),
        |best AS (
        |  SELECT c.l_partkey, c.cost_cents,
        |    min(c.l_suppkey) AS s_suppkey
        |  FROM costs c JOIN minc m
        |    ON c.l_partkey = m.l_partkey AND c.cost_cents = m.min_cents
        |  GROUP BY 1, 2)
        |SELECT p_partkey, p_name, s_suppkey, s_name, cost_cents
        |FROM best JOIN pt ON l_partkey = p_partkey
        |JOIN supplier USING (s_suppkey)
        |ORDER BY p_partkey""".stripMargin,

    "rel_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |    CAST(round(l_quantity, 0) AS BIGINT) AS q,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
        |  FROM lineitem),
        |st AS (
        |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(q) AS BIGINT) AS sumq
        |  FROM li GROUP BY 1)
        |SELECT CAST(sum(pc) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM li JOIN st USING (l_partkey)
        |WHERE 5 * li.q * st.cnt < st.sumq""".stripMargin,

    "rel_idle_customers" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal
        |  FROM customer),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(bal) AS BIGINT) AS tot
        |  FROM c WHERE bal > 0),
        |idle AS (
        |  SELECT c.* FROM c, st
        |  WHERE c.bal * st.cnt > st.tot
        |    AND NOT EXISTS (
        |      SELECT 1 FROM orders o
        |      WHERE o.o_custkey = c.c_custkey
        |        AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
        |  CAST(sum(bal) AS BIGINT) AS bal_cents
        |FROM idle JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_wait_suppliers" ->
      """WITH j AS (
        |  SELECT l_orderkey AS ok, l_suppkey,
        |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |      THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |per AS (
        |  SELECT ok, l_suppkey, max(late) AS late
        |  FROM j GROUP BY 1, 2),
        |os AS (
        |  SELECT ok, count(*) AS n_supp, sum(late) AS n_late
        |  FROM per GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM per p JOIN os USING (ok)
        |JOIN supplier ON p.l_suppkey = s_suppkey
        |WHERE p.late = 1 AND os.n_supp > 1 AND os.n_late = 1
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey""".stripMargin,

    // the textbook dominance definition, deliberately NOT the Spark
    // plan's algorithm: the hash-match pins the rewrite itself
    "rel_skyline" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderdate,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS pc
        |  FROM orders)
        |SELECT o_orderkey,
        |  epoch_us(o_orderdate) // 1000000 AS order_sec,
        |  pc AS price_cents
        |FROM o p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM o q
        |  WHERE q.pc >= p.pc AND q.o_orderdate >= p.o_orderdate
        |    AND (q.pc > p.pc OR q.o_orderdate > p.o_orderdate))
        |ORDER BY o_orderkey""".stripMargin,

    "rel_market_share" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |      AS BIGINT) AS rev,
        |    n_name
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey)
        |SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(rev) AS BIGINT) AS total_cents,
        |  CAST(sum(CASE WHEN n_name = 'NATION_9' THEN rev ELSE 0 END)
        |    AS BIGINT) AS nation_cents,
        |  CAST((sum(CASE WHEN n_name = 'NATION_9' THEN rev ELSE 0 END)
        |    * 1000000) // sum(rev) AS BIGINT) AS share_ppm
        |FROM li JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_ship_priority" ->
      """SELECT o_orderkey,
        |  epoch_us(o_orderdate) // 1000000 AS order_sec,
        |  o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100,
        |       0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_cents DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "rel_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100,
        |       0) AS BIGINT)) AS BIGINT) AS volume_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_3', 'NATION_7')
        |  AND cn.n_name IN ('NATION_3', 'NATION_7')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "rel_profit" ->
      """SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100,
        |       0) AS BIGINT)) AS BIGINT) AS profit_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rel_returned_top" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100,
        |       0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue_cents DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    // the textbook LEFT OUTER JOIN + count(o_orderkey) formulation,
    // deliberately NOT the Spark plan's agg-then-join rewrite
    "rel_cust_dist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey,
        |    CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority NOT LIKE '4%'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "rel_disjunct" ->
      """SELECT p_brand,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100,
        |       0) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
        |       AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "rel_cum_distinct" ->
      """WITH fh AS (
        |  SELECT user_id,
        |    min(epoch_ns(ts) // 3600000000000) AS hour
        |  FROM events GROUP BY 1),
        |per AS (
        |  SELECT hour, CAST(count(*) AS BIGINT) AS new_users
        |  FROM fh GROUP BY 1)
        |SELECT hour, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_users
        |FROM per ORDER BY hour""".stripMargin,

    "rel_resample" ->
      """WITH ev AS (
        |  SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events),
        |per AS (
        |  SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS cents_sum
        |  FROM ev GROUP BY 1, 2),
        |days AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(day) FROM ev), (SELECT max(day) FROM ev))) AS day),
        |types AS (SELECT DISTINCT event_type FROM ev)
        |SELECT d.day, t.event_type,
        |  CAST(coalesce(p.n, 0) AS BIGINT) AS n,
        |  CAST(coalesce(p.cents_sum, 0) AS BIGINT) AS cents_sum
        |FROM days d CROSS JOIN types t
        |LEFT JOIN per p ON d.day = p.day AND t.event_type = p.event_type
        |ORDER BY 1, 2""".stripMargin,

    "rel_islands" ->
      """WITH active AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events GROUP BY 1, 2),
        |runs AS (
        |  SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS island
        |  FROM active),
        |streaks AS (
        |  SELECT user_id, island, CAST(count(*) AS BIGINT) AS streak_len
        |  FROM runs GROUP BY 1, 2)
        |SELECT streak_len, CAST(count(*) AS BIGINT) AS n_streaks
        |FROM streaks GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag AS rf,
        |    CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
        |      AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS price_cents,
        |    CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0)
        |      AS BIGINT)) AS BIGINT) AS disc_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT rf, measure, value FROM (
        |  SELECT rf, 'qty' AS measure, qty AS value FROM a
        |  UNION ALL
        |  SELECT rf, 'price_cents' AS measure, price_cents FROM a
        |  UNION ALL
        |  SELECT rf, 'disc_cents' AS measure, disc_cents FROM a)
        |ORDER BY rf, measure""".stripMargin,

    "rel_key_skew" ->
      """SELECT n AS rows_per_key, CAST(count(*) AS BIGINT) AS n_keys
        |FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
        |      FROM lineitem GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_bucket_join" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100,
        |    0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
