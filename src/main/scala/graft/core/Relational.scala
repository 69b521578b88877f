package graft.core

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational / wrangling operators (SURVEY.md §2.1).
  *
  * These re-express the tidyverse/data.table surface the reference uses
  * everywhere (group_by+summarise, distinct-per-group checks, ordered
  * factors, crosstabs, melt, stratified sampling, top-n) as declarative
  * Spark plans. Scale notes per operator inline; dims are broadcast,
  * facts shuffle once on their natural key.
  */
object Relational extends Op.Registry {

  /** Round doubles at the END of a pipeline so the DuckDB-oracle hash
    * compare is stable against summation-order fp jitter. */
  private def r(c: Column, d: Int): Column = round(c, d)

  // ---------------------------------------------------------------
  // 1. groupBy + multi-agg summarise — TPC-H Q1 shape.
  // Scale: single shuffle on (returnflag, linestatus); partial aggs
  // map-side; scan reads only the 7 needed columns (verified pushdown).
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val disc  = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge = disc * (lit(1.0) + col("l_tax"))
    l.filter(col("l_shipdate") <= lit("2001-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r(sum(col("l_quantity")), 2).as("sum_qty"),
        r(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        r(sum(disc), 2).as("sum_disc_price"),
        r(sum(charge), 2).as("sum_charge"),
        r(avg(col("l_quantity")), 6).as("avg_qty"),
        r(avg(col("l_extendedprice")), 4).as("avg_price"),
        r(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  // ---------------------------------------------------------------
  // 2. 5-table join + agg — TPC-H Q5 shape.
  // Scale: region/nation broadcast (tiny dims); customer⋈orders and
  // orders⋈lineitem shuffle on their keys; AQE handles skew.
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(r(sum(rev), 2).as("revenue"))
  }

  // ---------------------------------------------------------------
  // 3. join + groupBy + deterministic top-k.
  def q3TopOrders(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(r(sum(rev), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
  }

  // ---------------------------------------------------------------
  // 4. window rank / top-n per group. row_number cast to long so the
  // schema matches DuckDB's BIGINT row_number.
  def topkPartsPerBrand(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val agg = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(r(sum(rev), 2).as("revenue"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("revenue").desc, col("p_partkey").asc)
    agg.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
  }

  // ---------------------------------------------------------------
  // 5. window running aggregate per entity ordered by time.
  def runningCustomerSpend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        r(sum(col("o_totalprice")).over(w), 2).as("cum_spend"))
  }

  // ---------------------------------------------------------------
  // 6. label-specificity check (reference utils.R:24-41): are labels
  // unique per grouping key? distinct + groupBy + countDistinct.
  def labelSpecificity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey").as("group_key"))
      .agg(countDistinct(col("c_mktsegment")).as("n_labels"))
      .withColumn("is_specific", col("n_labels") === 1L)

  // ---------------------------------------------------------------
  // 7. factor-by-size (reference utils.R:46-52): order levels by freq.
  def factorBySize(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("level"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n").desc, col("level").asc)
    counts.withColumn("size_rank", row_number().over(w).cast("long"))
  }

  // ---------------------------------------------------------------
  // 8. crosstab + row proportions (reference integrate.R:231-238).
  def crosstabPriorityStatus(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderpriority"))
    counts.withColumn("prop",
      r(col("n").cast("double") / sum(col("n")).over(w).cast("double"), 6))
  }

  // ---------------------------------------------------------------
  // 9. melt / pivot_longer (reference wrapper.R:127, reshape2::melt).
  // stack() is codegen'd; no shuffle at all — pure narrow map.
  def meltLineitemMetrics(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).selectExpr(
      "l_orderkey", "l_linenumber",
      """stack(4,
           'quantity', l_quantity,
           'extendedprice', l_extendedprice,
           'discount', l_discount,
           'tax', l_tax) AS (metric, value)""")

  // ---------------------------------------------------------------
  // 11. stratified deterministic subsample (reference reference.R:146-155):
  // n per group, seeded — re-expressed as order-by-md5(key) so it is
  // reproducible on any cluster AND expressible in the oracle.
  // Scale: one shuffle on the stratum key; no driver collect.
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.stratifiedSample(Tables.customer(s, dir),
        col("c_mktsegment"), col("c_custkey"), n = 10)
      .select(col("c_mktsegment"), col("c_custkey"))

  // ---------------------------------------------------------------
  // 12. set-membership (UpSet) matrix (reference wrapper.R:364-374).
  def upsetMembership(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(
        max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("in_returned"),
        max(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("in_urgent"),
        max(when(col("l_discount") > 0.05, 1).otherwise(0)).as("in_discounted"))

  // ---------------------------------------------------------------
  // 13. as-of join: for each 'purchase' event, the latest prior
  // 'click' event of the same user (ts_click <= ts_purchase).
  //
  // Spark-first implementation: union the two sides tagged, ONE shuffle
  // on the key, then last(ignoreNulls) over an ordered window — the
  // standard scalable as-of pattern (no O(n·m) join, no range explode).
  // At equal ts the right side sorts first (side=0) giving <= semantics;
  // among right ties the larger event_id wins deterministically.
  def asofPurchaseClick(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val left = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("k"), col("ts_ns").as("t"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("double").as("click_value"),
        lit(1).as("side"))
    val right = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("k"), col("ts_ns").as("t"),
        col("event_id").as("click_id"),
        col("value").as("click_value"),
        lit(0).as("side"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("side").asc, col("click_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .withColumn("asof_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("asof_click_value", last(col("click_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("asof_click_id").isNotNull)
      .select(col("event_id"), col("k").as("user_id"), expr("t div 1000").as("ts_us"),
        col("asof_click_id"), col("asof_click_value"))
  }

  // ---------------------------------------------------------------
  // 284. forward as-of join — #13's mirror (pandas merge_asof
  // direction='forward' / QuestDB LT JOIN reversed): each purchase
  // picks the EARLIEST click at-or-after it per user — "what did the
  // user do next" where #13 asks "what led here". Same union + one
  // per-user window device, with the reversed sort and a first-
  // non-null carry from the future side; ties (same ts) break to the
  // smaller click id — the exact total order the oracle replays.
  def asofForwardClick(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val left = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("k"), col("ts_ns").as("t"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("double").as("click_value"),
        lit(1).as("side"))
    val right = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("k"), col("ts_ns").as("t"),
        col("event_id").as("click_id"),
        col("value").as("click_value"),
        lit(0).as("side"))
    // reversed scan: descending time; at equal ts clicks sort BEFORE
    // purchases (side asc) so the join is at-or-after (the ≤ mirror of
    // #13's ≥); among equal-ts clicks the smaller id sits nearest the
    // purchase (click_id desc), so "last non-null" = earliest
    // at-or-after click, ties to the smaller id
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").desc, col("side").asc, col("click_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right)
      .withColumn("next_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("next_click_value", last(col("click_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("next_click_id").isNotNull)
      .select(col("event_id"), col("k").as("user_id"), expr("t div 1000").as("ts_us"),
        col("next_click_id"), col("next_click_value"))
  }

  // ---------------------------------------------------------------
  // 339. nearest as-of join (pandas merge_asof direction='nearest') —
  // completes the direction trio with #13 (backward) and #284
  // (forward): each purchase picks the click minimizing |Δt|, ties to
  // the PRIOR click (pandas' own rule). Runs BOTH carries over the
  // one unioned per-user frame — the shuffle happens once; the two
  // ordered windows ride the same partitioning (two sorts, zero extra
  // exchanges) — then a row-local arbiter picks the closer side.
  // Tie conventions inherited verbatim: backward equal-ts → larger
  // click id (#13), forward equal-ts → smaller click id (#284), so
  // the oracle replays both with the same row_number orders.
  def asofNearestClick(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val left = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("k"), col("ts_ns").as("t"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("double").as("click_value"),
        lit(null).cast("long").as("ct"),
        lit(1).as("side"))
    val right = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("k"), col("ts_ns").as("t"),
        col("event_id").as("click_id"),
        col("value").as("click_value"),
        col("ts_ns").as("ct"),
        lit(0).as("side"))
    val wb = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("side").asc, col("click_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("k"))
      .orderBy(col("t").desc, col("side").asc, col("click_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val both = left.unionByName(right)
      .withColumn("b_id", last(col("click_id"), ignoreNulls = true).over(wb))
      .withColumn("b_val", last(col("click_value"), ignoreNulls = true).over(wb))
      .withColumn("b_t", last(col("ct"), ignoreNulls = true).over(wb))
      .withColumn("f_id", last(col("click_id"), ignoreNulls = true).over(wf))
      .withColumn("f_val", last(col("click_value"), ignoreNulls = true).over(wf))
      .withColumn("f_t", last(col("ct"), ignoreNulls = true).over(wf))
      .filter(col("side") === 1 &&
        (col("b_id").isNotNull || col("f_id").isNotNull))
    // µs per side FIRST, then subtract — the arbiter AND gap_us both
    // match the oracle's epoch_us(a) − epoch_us(b) exactly even if ts
    // carries sub-µs ns
    val takeBack = col("b_id").isNotNull &&
      (col("f_id").isNull ||
        (expr("t div 1000") - expr("b_t div 1000")) <=
          (expr("f_t div 1000") - expr("t div 1000")))
    both.select(col("event_id"), col("k").as("user_id"),
      expr("t div 1000").as("ts_us"),
      when(takeBack, col("b_id")).otherwise(col("f_id")).as("nearest_click_id"),
      when(takeBack, col("b_val")).otherwise(col("f_val")).as("nearest_click_value"),
      when(takeBack, lit("backward")).otherwise(lit("forward")).as("direction"),
      when(takeBack, expr("t div 1000") - expr("b_t div 1000"))
        .otherwise(expr("f_t div 1000") - expr("t div 1000")).as("gap_us"))
  }

  // ---------------------------------------------------------------
  // 298. order-fulfillment latency per priority — the ops cycle-time
  // table (#268 timed the event funnel; this times the WAREHOUSE
  // flow): per line, ship delay = epoch-day(l_shipdate) −
  // epoch-day(o_orderdate), rolled up per priority with n / mean /
  // exact p50 / p90 / max (the #78 exact-percentile device; integer
  // day deltas, so the interpolated percentiles replay bit-exact).
  // Day extraction via unix_micros(CAST(ts)) div — the exact integral
  // device (o_orderdate ships as TIMESTAMP_NTZ; value-identity under
  // the session's UTC zone).
  def fulfillmentLatency(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(s, dir).select(col("l_orderkey"),
      expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000").as("ship_day"))
    val ords = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"),
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").as("order_day"))
    lines.join(ords, col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay", (col("ship_day") - col("order_day")).cast("double"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        round(avg(col("delay")), 6).as("mean_days"),
        round(expr("percentile(delay, 0.5)"), 4).as("p50_days"),
        round(expr("percentile(delay, 0.9)"), 4).as("p90_days"),
        max(col("delay")).cast("long").as("max_days"))
  }

  // ---------------------------------------------------------------
  // 299. discount-band revenue effect (the TPC-H Q6 shape generalized
  // into the pricing-elasticity audit: what does each discount band
  // actually buy?): lines binned by exact integer percent
  // (round(l_discount·100) — discounts ship as clean hundredths, so
  // the bin is exact), per band n / quantity / gross & net revenue /
  // the discount give-back, and the avg quantity the band moves.
  def discountBandEffect(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("band", round(col("l_discount") * 100, 0).cast("long"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(sum(col("l_extendedprice")), 4).as("gross_revenue"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("net_revenue"),
        round(sum(col("l_extendedprice") * col("l_discount")), 4).as("discount_cost"))

  // ---------------------------------------------------------------
  // 300. supplier concentration per nation — the Herfindahl–Hirschman
  // procurement-risk audit (HHI = Σ share²; >0.25 = concentrated):
  // supplier revenue shares within each nation off the lineitem →
  // supplier join (dims broadcast), with the top-supplier share
  // alongside. Two bounded-key aggregations; shares are ratios of
  // 4dp-rounded sums so the Σshare² replays.
  def supplierConcentration(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("rev"))
    val tot = rev.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("rev")).as("total"))
    rev.join(tot, "n_name")
      .withColumn("share", col("rev") / col("total"))
      .groupBy(col("n_name"))
      .agg(first(col("n_suppliers")).as("n_suppliers"),
        round(first(col("total")), 4).as("total_revenue"),
        round(sum(col("share") * col("share")), 6).as("hhi"),
        round(max(col("share")), 6).as("top_share"))
  }

  // ---------------------------------------------------------------
  // 58. deterministic weighted sample (Efraimidis–Spirakis A-ES): 10
  // customers per segment, inclusion probability ∝ shifted account
  // balance, reproducible via the content-hash uniform.
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.weightedSample(Tables.customer(s, dir),
        col("c_mktsegment"), col("c_custkey"),
        col("c_acctbal") + lit(1000.0), n = 10)
      .select(col("c_mktsegment"), col("c_custkey"))

  // ---------------------------------------------------------------
  // 59. salted two-phase aggregation through the correctness gate:
  // salting must be results-invariant, so the oracle is the PLAIN
  // group-by — the gate proves the skew-spreading rewrite changes
  // nothing.
  def userSpendSalted(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.saltedAggregate(
        Tables.events(s, dir), col("user_id"), salts = 8,
        aggs = Map(
          "n" -> (count(lit(1)), (p: String) => sum(col(p))),
          "sum_value" -> (sum(col("value")), (p: String) => sum(col(p)))))
      .select(col("key").as("user_id"), col("n"),
        round(col("sum_value"), 4).as("sum_value"))

  // ---------------------------------------------------------------
  // Hierarchical ROLLUP aggregates (detail → per-flag subtotal → grand
  // total in ONE pass): Spark's Expand feeds a single hash aggregation,
  // so the three grouping levels cost one shuffle, not three scans.
  // NULL grouping markers are projected to 'ALL' (these columns are
  // non-null in the data) so the oracle compare is marker-stable.
  def rollupPricing(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"), col("sum_price"))

  // ---------------------------------------------------------------
  // 225. CUBE aggregates — the full 2^d grouping lattice in ONE pass
  // (rollup_pricing's #82 sibling: ROLLUP walks one hierarchy; CUBE
  // also emits the (ALL, status) slice). Spark's Expand feeds a single
  // hash aggregation, so all four grouping levels cost one shuffle.
  // The grouping id is DERIVED from the 'ALL' markers (these columns
  // are non-null in the data) instead of grouping_id() so both engines
  // share one definition regardless of their native grouping-id
  // bit-orders.
  def cubePricing(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(avg(col("l_discount")), 6).as("avg_disc"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        (when(col("l_returnflag").isNull, lit(2L)).otherwise(lit(0L))
          + when(col("l_linestatus").isNull, lit(1L)).otherwise(lit(0L))).as("gid"),
        col("n"), col("sum_qty"), col("avg_disc"))

  private val cubePricingSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
              coalesce(l_linestatus, 'ALL') AS linestatus,
              (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
               + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END)::BIGINT AS gid,
              count(*) AS n, round(sum(l_quantity), 4) AS sum_qty,
              round(avg(l_discount), 6) AS avg_disc
       FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""

  // ---------------------------------------------------------------
  // 343. ε-DP noisy counts (Dwork et al. 2006, the Laplace mechanism)
  // — the RELEASE side of the #235/#329/#330 privacy-audit ladder:
  // per (nation, segment) customer counts with Laplace(1/ε) noise at
  // ε = 1 (sensitivity 1 for a count). The noise draw is the inverse
  // CDF −(1/ε)·sgn(u−½)·ln(1−2|u−½|) over the md5-uniform content
  // hash of the GROUP KEY — deterministic by design, so the mechanism
  // SHAPE (calibration, post-processing, utility auditing) is testable
  // and the oracle replays it bit-exactly; a production release would
  // swap hashUniform for a sealed RNG draw, changing nothing else.
  // true counts ride along as the utility-audit columns (this is the
  // engineering eval table, not a privacy-safe release). One bounded
  // QI-key aggregation; noise is a per-row expression.
  def dpNoisyCounts(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.customer(s, dir)
      .groupBy(col("c_nationkey").as("nation"), col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_true"))
    val u = graft.api.Analytics.hashUniform(
      concat(col("nation").cast("string"), lit("|"), col("segment")))
    val noise = lit(-1.0) *
      when(u < 0.5, lit(-1.0)).otherwise(lit(1.0)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    g.select(col("nation"), col("segment"), col("n_true"),
      round(noise, 6).as("noise"),
      round(col("n_true") + noise, 6).as("n_noisy"),
      lit(1.0).as("epsilon"))
  }

  // ---------------------------------------------------------------
  // 235. k-anonymity audit (Sweeney 2002) — the governance screen a
  // training-data release runs over its metadata: group by the
  // quasi-identifier tuple (nation, market segment, account-balance
  // band), count the equivalence class, flag classes below k=5 as
  // re-identifiable. One shuffle on the bounded QI key; the balance
  // band is integer floor-division (no fp boundary ambiguity). The
  // row_share column is the class's population share (l-diversity and
  // suppression planning read off the same table).
  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val classes = c.select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("class_size"))
    val tot = c.agg(count(lit(1)).as("n_total"))
    classes.crossJoin(broadcast(tot))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
        col("class_size"),
        (col("class_size") < 5).as("at_risk"),
        round(col("class_size") / col("n_total").cast("double"), 6).as("row_share"))
  }

  private val dpNoisyCountsSql = {
    val md5k = "md5(CAST(nation AS VARCHAR) || '|' || segment)"
    val u6 = (1 to 6).map { i =>
      s"(strpos('0123456789abcdef', substr($md5k,$i,1))-1)*${math.pow(16, 6 - i).toLong}"
    }.mkString(" + ")
    s"""WITH g AS (
         SELECT c_nationkey AS nation, c_mktsegment AS segment,
                count(*) AS n_true
         FROM customer GROUP BY 1, 2),
       h AS (
         SELECT nation, segment, n_true,
                (($u6) + 1.0) / 16777217.0 AS u
         FROM g)
       SELECT nation, segment, n_true,
              round(-1.0 * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
                    * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise,
              round(n_true + -1.0 * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
                    * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS n_noisy,
              1.0 AS epsilon
       FROM h"""
  }

  private val kAnonymitySql =
    """WITH cls AS (
         SELECT c_nationkey, c_mktsegment,
                CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                count(*) AS class_size
         FROM customer GROUP BY 1, 2, 3),
       tot AS (SELECT count(*) AS n_total FROM customer)
       SELECT c_nationkey, c_mktsegment, bal_band, class_size,
              class_size < 5 AS at_risk,
              round(class_size / CAST(n_total AS DOUBLE), 6) AS row_share
       FROM cls, tot"""

  // ---------------------------------------------------------------
  // 329. l-diversity audit (Machanavalja et al. 2007) — k-anonymity's
  // known hole: a k=50 class where every member shares ONE sensitive
  // value re-identifies the attribute with certainty. Per
  // quasi-identifier class (nation, balance band), over the SENSITIVE
  // column (market segment): distinct-l (how many sensitive values
  // appear) and entropy-l (exp of the Shannon entropy of the class's
  // sensitive mix — the paper's stricter variant, penalizing a
  // 99%/1% split that distinct-l calls diverse). Classes with
  // distinct-l < 3 are flagged. Two stacked aggregations on the same
  // bounded QI key (class×sensitive → class) — one shuffle, no
  // windows, no fact-row fan-out; entropy is grouped identically in
  // both engines (the #105 entropy_by_group contract, 6 dp).
  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    val sv = Tables.customer(s, dir)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
        col("c_mktsegment"))
      .groupBy(col("c_nationkey"), col("bal_band"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val cls = sv.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("n")).as("class_size"))
    sv.join(cls, Seq("c_nationkey", "bal_band"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(first(col("class_size")).as("class_size"),
        count(lit(1)).as("l_distinct"),
        round(exp(-sum((col("n") / col("class_size").cast("double"))
          * log(col("n") / col("class_size").cast("double")))), 6)
          .as("entropy_l"))
      .withColumn("at_risk", col("l_distinct") < 3)
  }

  private val lDiversitySql =
    """WITH sv AS (
         SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                c_mktsegment, count(*)::BIGINT AS n
         FROM customer GROUP BY 1, 2, 3),
       cls AS (SELECT c_nationkey, bal_band, CAST(sum(n) AS BIGINT) AS class_size
               FROM sv GROUP BY 1, 2)
       SELECT sv.c_nationkey, sv.bal_band,
              any_value(cls.class_size) AS class_size,
              count(*)::BIGINT AS l_distinct,
              round(exp(-sum((sv.n / CAST(cls.class_size AS DOUBLE))
                    * ln(sv.n / CAST(cls.class_size AS DOUBLE)))), 6) AS entropy_l,
              count(*) < 3 AS at_risk
       FROM sv JOIN cls USING (c_nationkey, bal_band)
       GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 330. t-closeness audit (Li, Li & Venkatasubramanian 2007) —
  // l-diversity's own hole: a class can be "diverse" yet still leak
  // by SKEW (90% AUTOMOBILE in a 20%-global-share town). Per QI class,
  // the total-variation distance between the class's sensitive
  // distribution and the corpus-global one:
  //   t = ½ Σ_s |p_class(s) − p_global(s)|,  flag t > 0.4.
  // The |segments| scaffold (≤5 rows) crosses the class table so
  // segments ABSENT from a class contribute their full global mass —
  // the distance is over the complete support, not the observed one.
  // One QI-key shuffle for class×segment counts; the scaffold cross
  // and the global mix are bounded broadcasts (the ma_stats
  // bounded-scaffold precedent, PlanSpec-allowlisted).
  def tCloseness(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
        col("c_mktsegment"))
    val segTot = c.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("gn"))
    val tot = c.agg(count(lit(1)).as("n_total"))
    val glob = segTot.crossJoin(broadcast(tot))
      .select(col("c_mktsegment"), (col("gn") / col("n_total").cast("double")).as("pg"))
    val sv = c.groupBy(col("c_nationkey"), col("bal_band"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val cls = sv.groupBy(col("c_nationkey"), col("bal_band"))
      .agg(sum(col("n")).as("class_size"))
    cls.crossJoin(broadcast(glob)) // |classes| x |segments| scaffold
      .join(sv, Seq("c_nationkey", "bal_band", "c_mktsegment"), "left")
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(first(col("class_size")).as("class_size"),
        round(sum(abs(coalesce(col("n"), lit(0L)) / col("class_size").cast("double")
          - col("pg"))) / 2, 6).as("t_distance"))
      .withColumn("at_risk", col("t_distance") > 0.4)
  }

  private val tClosenessSql =
    """WITH base AS (
         SELECT c_nationkey, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
                c_mktsegment
         FROM customer),
       gm AS (
         SELECT c_mktsegment,
                count(*) / CAST((SELECT count(*) FROM base) AS DOUBLE) AS pg
         FROM base GROUP BY 1),
       sv AS (SELECT c_nationkey, bal_band, c_mktsegment, count(*)::BIGINT AS n
              FROM base GROUP BY 1, 2, 3),
       cls AS (SELECT c_nationkey, bal_band, CAST(sum(n) AS BIGINT) AS class_size
               FROM sv GROUP BY 1, 2)
       SELECT cls.c_nationkey, cls.bal_band,
              any_value(cls.class_size) AS class_size,
              round(sum(abs(coalesce(sv.n, 0) / CAST(cls.class_size AS DOUBLE)
                    - gm.pg)) / 2, 6) AS t_distance,
              round(sum(abs(coalesce(sv.n, 0) / CAST(cls.class_size AS DOUBLE)
                    - gm.pg)) / 2, 6) > 0.4 AS at_risk
       FROM cls CROSS JOIN gm
       LEFT JOIN sv ON sv.c_nationkey = cls.c_nationkey
                   AND sv.bal_band = cls.bal_band
                   AND sv.c_mktsegment = gm.c_mktsegment
       GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 237. market-basket association mining (support/confidence/lift —
  // the Agrawal association-rule core, and the co-occurrence
  // recommendation primitive): part pairs co-ordered in the same
  // order. Pair generation self-joins WITHIN each order key, so the
  // fan-out is (order size choose 2) — bounded by the ~7-lineitem
  // order shape, never corpus-quadratic; the pair aggregation
  // shuffles on the (p1, p2) key. Min support 3, global top-100 by
  // (lift desc, p1, p2) via TakeOrdered (the pmi_bigrams device).
  def basketLift(s: SparkSession, dir: String): DataFrame = {
    // r15: checkpoint the distinct once — the nOrders scalar runs in its
    // own action and previously re-executed the full distinct; the main
    // plan reads the same materialized table for supp + both pair sides
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .localCheckpoint()
    val nOrders = items.select(col("ok")).distinct().count() // bounded driver scalar
    val supp = items.groupBy(col("pk")).agg(count(lit(1)).as("n1"))
    val pairs = items.as("x")
      .join(items.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("p1"), col("y.pk").as("p2"))
      .agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= 3)
    pairs
      .join(supp.select(col("pk").as("p1"), col("n1").as("s1")), "p1")
      .join(supp.select(col("pk").as("p2"), col("n1").as("s2")), "p2")
      .select(col("p1"), col("p2"), col("n12"),
        round(col("n12") / lit(nOrders.toDouble), 6).as("support"),
        round(col("n12") / col("s1").cast("double"), 6).as("confidence"),
        round(col("n12") * lit(nOrders.toDouble) / (col("s1") * col("s2")), 6).as("lift"))
      .orderBy(col("lift").desc, col("p1").asc, col("p2").asc)
      .limit(100)
  }

  private val basketLiftSql =
    """WITH items AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       n AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_orders FROM items),
       supp AS (SELECT pk, count(*) AS n1 FROM items GROUP BY 1),
       pairs AS (
         SELECT x.pk AS p1, y.pk AS p2, count(*) AS n12
         FROM items x JOIN items y ON x.ok = y.ok AND x.pk < y.pk
         GROUP BY 1, 2 HAVING count(*) >= 3)
       SELECT p.p1, p.p2, p.n12,
              round(p.n12 / n.n_orders, 6) AS support,
              round(p.n12 / CAST(s1.n1 AS DOUBLE), 6) AS confidence,
              round(p.n12 * n.n_orders / (s1.n1 * s2.n1), 6) AS lift
       FROM pairs p
       JOIN supp s1 ON p.p1 = s1.pk
       JOIN supp s2 ON p.p2 = s2.pk, n
       ORDER BY lift DESC, p.p1 ASC, p.p2 ASC
       LIMIT 100"""

  // ---------------------------------------------------------------
  // 239. exact weighted median per group WITHOUT a global sort: per
  // (group, value) weight rollup, cumulative weight over the bounded
  // distinct-value window, first value where 2·cumw ≥ total — a pure
  // INTEGER comparison (weights cast to BIGINT on both engines), so no
  // fp percentile interpolation can diverge. At corpus scale the
  // distinct-value rollup is the shuffle; the window runs per group
  // over distinct values, not rows.
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    val byVal = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("x"),
        expr("CAST(round(l_quantity, 0) AS BIGINT)").as("w"))
      .groupBy(col("flag"), col("x")).agg(sum(col("w")).as("wv"))
    val win = Window.partitionBy(col("flag")).orderBy(col("x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byVal.groupBy(col("flag")).agg(sum(col("wv")).as("wtot"))
    byVal.withColumn("cumw", sum(col("wv")).over(win))
      .join(broadcast(tot), "flag")
      .filter(col("cumw") * 2 >= col("wtot"))
      .groupBy(col("flag"))
      .agg(min(col("x")).as("median_price"), first(col("wtot")).as("wtot"))
      .select(col("flag").as("l_returnflag"), col("wtot").as("total_weight"),
        round(col("median_price"), 4).as("weighted_median"))
  }

  private val weightedMedianSql =
    """WITH byval AS (
         SELECT l_returnflag AS flag, l_extendedprice AS x,
                CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS wv
         FROM lineitem GROUP BY 1, 2),
       cum AS (
         SELECT flag, x, wv,
                CAST(sum(wv) OVER (PARTITION BY flag ORDER BY x ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw
         FROM byval),
       tot AS (SELECT flag, CAST(sum(wv) AS BIGINT) AS wtot FROM byval GROUP BY 1)
       SELECT c.flag AS l_returnflag,
              any_value(t.wtot) AS total_weight,
              round(min(c.x), 4) AS weighted_median
       FROM cum c JOIN tot t USING (flag)
       WHERE c.cumw * 2 >= t.wtot
       GROUP BY 1"""

  // ---------------------------------------------------------------
  // 257. key-sequence gap detection (missing-ID audit — the
  // completeness check every ingestion pipeline runs on a supposedly
  // dense surrogate key; audited here over ONE upstream partition's
  // key stream — status 'F' — the practical shape when each shard owns
  // a key range and its holes are the lost records). NOT a
  // global-sort window: keys bucket by k div 1024, the within-bucket
  // lead() runs per bucket (parallel), and cross-bucket gaps come from
  // a lead() over the BOUNDED bucket summary (keys/1024 rows — the
  // decile-bounds scale of driver-safe). Pure integers.
  def keySequenceGaps(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("k")).distinct()
    val bucketed = keys.withColumn("bucket", expr("k div 1024"))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("k").asc)
    val within = bucketed.withColumn("nxt", lead(col("k"), 1).over(wb))
      .filter(col("nxt") > col("k") + 1)
      .select((col("k") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"))
    val bsum = bucketed.groupBy(col("bucket"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    val wg = Window.orderBy(col("bucket").asc) // bounded bucket summary
    val across = bsum.withColumn("nxtmn", lead(col("mn"), 1).over(wg))
      .filter(col("nxtmn") > col("mx") + 1)
      .select((col("mx") + 1).as("gap_start"), (col("nxtmn") - 1).as("gap_end"))
    within.unionByName(across)
      .select(col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start") + 1).as("gap_len"))
  }

  private val keySequenceGapsSql =
    """WITH keys AS (
         SELECT DISTINCT o_orderkey AS k FROM orders
         WHERE o_orderstatus = 'F'),
       b AS (SELECT k, k // 1024 AS bucket FROM keys),
       within AS (
         SELECT k + 1 AS gap_start, nxt - 1 AS gap_end FROM (
           SELECT k, lead(k) OVER (PARTITION BY bucket ORDER BY k ASC) AS nxt
           FROM b)
         WHERE nxt > k + 1),
       bsum AS (
         SELECT bucket, min(k) AS mn, max(k) AS mx FROM b GROUP BY 1),
       across AS (
         SELECT mx + 1 AS gap_start, nxtmn - 1 AS gap_end FROM (
           SELECT bucket, mn, mx, lead(mn) OVER (ORDER BY bucket ASC) AS nxtmn
           FROM bsum)
         WHERE nxtmn > mx + 1),
       gaps AS (SELECT * FROM within UNION ALL SELECT * FROM across)
       SELECT gap_start, gap_end, gap_end - gap_start + 1 AS gap_len
       FROM gaps"""

  // ---------------------------------------------------------------
  // 264. ranking-function suite — the window-function completeness
  // exhibit (#4 used row_number; this emits rank/dense_rank/
  // percent_rank/cume_dist/ntile in one window pass): per brand, part
  // revenue ranked under the (revenue desc, partkey) total order. All
  // five are POSITIONAL (ties broken by the order columns), so every
  // output is hash-exact; one shuffle on the brand key serves all
  // five frames.
  def windowRankSuite(s: SparkSession, dir: String): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val base = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(round(sum(rev), 4).as("revenue"))
    // rank-family over revenue ALONE (real ties — the tie-aware
    // functions are deterministic on them); ntile needs the total
    // order (intra-tie position is otherwise arbitrary). Same
    // partitioning → one exchange serves both windows.
    val wTies = Window.partitionBy(col("p_brand")).orderBy(col("revenue").desc)
    val wTotal = Window.partitionBy(col("p_brand"))
      .orderBy(col("revenue").desc, col("p_partkey").asc)
    base
      .withColumn("rnk", rank().over(wTies).cast("long"))
      .withColumn("drnk", dense_rank().over(wTies).cast("long"))
      .withColumn("prank", round(percent_rank().over(wTies), 6))
      .withColumn("cdist", round(cume_dist().over(wTies), 6))
      .withColumn("quartile", ntile(4).over(wTotal).cast("long"))
  }

  private val windowRankSuiteSql =
    """WITH base AS (
         SELECT p.p_brand, p.p_partkey,
                round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS revenue
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         GROUP BY 1, 2)
       SELECT p_brand, p_partkey, revenue,
              rank() OVER wt AS rnk,
              dense_rank() OVER wt AS drnk,
              round(percent_rank() OVER wt, 6) AS prank,
              round(cume_dist() OVER wt, 6) AS cdist,
              CAST(ntile(4) OVER wo AS BIGINT) AS quartile
       FROM base
       WINDOW wt AS (PARTITION BY p_brand ORDER BY revenue DESC),
              wo AS (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey ASC)"""

  // ---------------------------------------------------------------
  // 273. price-consistency audit — the same-entity-different-value
  // data-quality screen (one part selling at wildly different unit
  // prices usually means a load bug, not a market): per part, distinct
  // observed prices, the min/max spread, and a flag when the spread
  // exceeds half the minimum. One shuffle on the part key; the flag is
  // a comparison of exact aggregates.
  def priceConsistency(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_sales"),
        countDistinct(col("l_extendedprice")).as("n_prices"),
        r(min(col("l_extendedprice")), 4).as("min_price"),
        r(max(col("l_extendedprice")), 4).as("max_price"))
      .select(col("l_partkey"), col("n_sales"), col("n_prices"),
        col("min_price"), col("max_price"),
        r((col("max_price") - col("min_price")) / col("min_price"), 6)
          .as("rel_spread"),
        ((col("max_price") - col("min_price")) * 2 > col("min_price"))
          .as("inconsistent"))

  private val priceConsistencySql =
    """SELECT l_partkey, count(*) AS n_sales,
              count(DISTINCT l_extendedprice) AS n_prices,
              round(min(l_extendedprice), 4) AS min_price,
              round(max(l_extendedprice), 4) AS max_price,
              round((round(max(l_extendedprice), 4) - round(min(l_extendedprice), 4))
                    / round(min(l_extendedprice), 4), 6) AS rel_spread,
              (round(max(l_extendedprice), 4) - round(min(l_extendedprice), 4)) * 2
                > round(min(l_extendedprice), 4) AS inconsistent
       FROM lineitem GROUP BY 1"""

  // ---------------------------------------------------------------
  // 274. referential-integrity audit — the FK health table every
  // warehouse load gate runs: orphan counts and match rates for
  // lineitem→orders, lineitem→part, and orders→customer. Left anti
  // joins on the key columns (each one shuffle or broadcast by dim
  // size); counts integer, rates one division.
  def fkIntegrity(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, fact: DataFrame, fk: String,
        dim: DataFrame, pk: String): DataFrame = {
      val n = fact.count() // bounded driver scalars: audit-table grain
      val orphans = fact.join(dim.select(col(pk)),
        col(fk) === col(pk), "left_anti").count()
      import s.implicits._
      Seq((name, n, orphans)).toDF("relation", "n_rows", "n_orphans")
    }
    audit("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey")
      .unionByName(audit("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
        Tables.part(s, dir), "p_partkey"))
      .unionByName(audit("orders_customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey"))
      // ENGINE round, not driver BigDecimal — the cross-engine contract
      .select(col("relation"), col("n_rows"), col("n_orphans"),
        round(lit(1.0) - col("n_orphans") / col("n_rows").cast("double"), 6)
          .as("match_rate"))
  }

  private val fkIntegritySql =
    """SELECT 'lineitem_orders' AS relation,
              (SELECT count(*) FROM lineitem) AS n_rows,
              (SELECT count(*) FROM lineitem l ANTI JOIN orders o
                 ON l.l_orderkey = o.o_orderkey) AS n_orphans,
              round(1.0 - (SELECT count(*) FROM lineitem l ANTI JOIN orders o
                 ON l.l_orderkey = o.o_orderkey)
                / CAST((SELECT count(*) FROM lineitem) AS DOUBLE), 6) AS match_rate
       UNION ALL
       SELECT 'lineitem_part',
              (SELECT count(*) FROM lineitem),
              (SELECT count(*) FROM lineitem l ANTI JOIN part p
                 ON l.l_partkey = p.p_partkey),
              round(1.0 - (SELECT count(*) FROM lineitem l ANTI JOIN part p
                 ON l.l_partkey = p.p_partkey)
                / CAST((SELECT count(*) FROM lineitem) AS DOUBLE), 6)
       UNION ALL
       SELECT 'orders_customer',
              (SELECT count(*) FROM orders),
              (SELECT count(*) FROM orders o ANTI JOIN customer c
                 ON o.o_custkey = c.c_custkey),
              round(1.0 - (SELECT count(*) FROM orders o ANTI JOIN customer c
                 ON o.o_custkey = c.c_custkey)
                / CAST((SELECT count(*) FROM orders) AS DOUBLE), 6)"""

  // ---------------------------------------------------------------
  // Equi-depth decile binning WITHOUT a global sort: exact interpolated
  // boundary computation (one aggregation; percentile_approx at corpus
  // scale), then per-row bucket assignment against the broadcast
  // boundary array — the plan stays one scan + one tiny agg, vs the
  // ntile() formulation that drags every row through a single-partition
  // window sort.
  def decileBins(s: SparkSession, dir: String): DataFrame = {
    // boundaries rounded to 6dp on BOTH sides before the > comparison:
    // Spark percentile and DuckDB quantile_cont interpolate independently,
    // and a last-ulp difference at a boundary would flip a row's decile.
    // The rounding transform runs HERE, on the one-row bounds aggregate —
    // inside the per-row fold it would re-evaluate the interpreted lambda
    // 9× per fact row (measured 0.9s → 1.5s on the sf0.1 bench).
    val bounds = Tables.orders(s, dir).agg(
      graft.core.Stats.quantilesCol(col("o_totalprice"),
        (1 to 9).map(_ / 10.0)).as("qs0"))
      .select(expr("transform(qs0, q -> round(q, 6))").as("qs"))
    Tables.orders(s, dir).crossJoin(broadcast(bounds))
      .withColumn("decile",
        expr("aggregate(qs, 0, (acc, q) -> acc + IF(o_totalprice > q, 1, 0))").cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 4).as("lo"),
        round(max(col("o_totalprice")), 4).as("hi"),
        round(avg(col("o_totalprice")), 6).as("mean"))
  }

  // ---------------------------------------------------------------
  // make-unique naming (wrapper.R:38 make_uniqueAsInSeu / R's
  // make.unique): first occurrence keeps the name, later occurrences
  // get ".1", ".2", … in id order. Window partitions are per-name
  // occurrence lists (bounded by duplicate multiplicity).
  def makeUniqueNames(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("p_name")).orderBy(col("p_partkey").asc)
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_name"))
      .withColumn("occ", row_number().over(w) - 1)
      .select(col("p_partkey"), col("p_name"),
        when(col("occ") === 0, col("p_name"))
          .otherwise(concat(col("p_name"), lit("."), col("occ"))).as("unique_name"))
  }

  // ---------------------------------------------------------------
  // 121. skim/glimpse-style table profile (the tidyverse data-audit
  // idiom): one aggregation pass emitting per-column null counts,
  // exact distincts, and numeric/date ranges for the orders table.
  // Multiple countDistincts expand through ONE Expand pass — still a
  // single scan; at 100 TB swap countDistinct for approx_count_distinct
  // (Analytics.approxDistinct) and the plan loses the Expand entirely.
  def profileTable(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("custkey_nulls"),
      countDistinct(col("o_custkey")).as("custkey_distinct"),
      countDistinct(col("o_orderpriority")).as("priority_distinct"),
      countDistinct(col("o_orderstatus")).as("status_distinct"),
      r(min(col("o_totalprice")), 4).as("totalprice_min"),
      r(max(col("o_totalprice")), 4).as("totalprice_max"),
      r(avg(col("o_totalprice")), 4).as("totalprice_mean"),
      min(col("o_orderdate")).cast("string").as("orderdate_min"),
      max(col("o_orderdate")).cast("string").as("orderdate_max"))

  private val profileTableSql =
    """SELECT count(*) AS n_rows,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS custkey_nulls,
         count(DISTINCT o_custkey) AS custkey_distinct,
         count(DISTINCT o_orderpriority) AS priority_distinct,
         count(DISTINCT o_orderstatus) AS status_distinct,
         round(min(o_totalprice), 4) AS totalprice_min,
         round(max(o_totalprice), 4) AS totalprice_max,
         round(avg(o_totalprice), 4) AS totalprice_mean,
         CAST(min(o_orderdate) AS VARCHAR) AS orderdate_min,
         CAST(max(o_orderdate) AS VARCHAR) AS orderdate_max
       FROM orders"""

  // ---------------------------------------------------------------
  // 111. pivot_wider (the inverse of #9 melt; tidyr::pivot_wider /
  // data.table::dcast): per-customer spend by priority as wide columns.
  // Explicit pivot values keep it ONE pass (no value-discovery scan)
  // and make the output schema static — the scalable form of pivot.
  def pivotWide(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(sum(col("o_totalprice")))
      .select(col("o_custkey"),
        r(coalesce(col("1-URGENT"), lit(0.0)), 2).as("urgent"),
        r(coalesce(col("2-HIGH"), lit(0.0)), 2).as("high"),
        r(coalesce(col("3-MEDIUM"), lit(0.0)), 2).as("medium"),
        r(coalesce(col("4-NOT SPECIFIED"), lit(0.0)), 2).as("not_specified"),
        r(coalesce(col("5-LOW"), lit(0.0)), 2).as("low"))

  private val pivotWideSql =
    """SELECT o_custkey,
         round(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 0.0), 2) AS urgent,
         round(coalesce(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 0.0), 2) AS high,
         round(coalesce(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 0.0), 2) AS medium,
         round(coalesce(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 0.0), 2) AS not_specified,
         round(coalesce(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 0.0), 2) AS low
       FROM orders GROUP BY 1"""

  // ---------------------------------------------------------------
  // 112. semi/anti join coverage (dplyr semi_join/anti_join — the
  // reference's filter-by-membership idiom): per nation, customers WITH
  // orders (left_semi) vs WITHOUT (left_anti). Both plan as one
  // shuffle-free-probe join against the distinct custkey set; neither
  // materializes order columns.
  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(s, dir).select(col("o_custkey"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with_orders"))
    val withoutOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without_orders"))
    withOrders.join(withoutOrders, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey").as("nation_key"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
  }

  private val semiAntiJoinSql =
    """WITH w AS (
         SELECT c_nationkey, count(*) AS n_with_orders
         FROM customer WHERE EXISTS (
           SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY 1),
       wo AS (
         SELECT c_nationkey, count(*) AS n_without_orders
         FROM customer WHERE NOT EXISTS (
           SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY 1)
       SELECT coalesce(w.c_nationkey, wo.c_nationkey) AS nation_key,
              coalesce(n_with_orders, 0) AS n_with_orders,
              coalesce(n_without_orders, 0) AS n_without_orders
       FROM w FULL OUTER JOIN wo ON w.c_nationkey = wo.c_nationkey"""

  // ---------------------------------------------------------------
  // 108. categorical association per group (the inference companion of
  // #8 crosstab): χ² via the margin identity (observed cells only),
  // Wilson–Hilferty p through the shared Φ, mutual information,
  // Cramér's V — segment×priority association within each nation.
  def catAssoc(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.orders(s, dir)
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    graft.api.Analytics.categoricalAssociation(t, col("c_nationkey"),
        col("c_mktsegment"), col("o_orderpriority"))
      .select(col("group").as("nation_key"), col("n"), col("r"), col("c"),
        // double-round: χ² from integer counts is rational and can sit
        // EXACTLY on a 4dp midpoint (e.g. 4.78125), where engine ulp
        // jitter flips the round. 6dp first snaps both engines to the
        // identical double; the 4dp round of identical input then agrees.
        r(r(col("chi2"), 6), 4).as("chi2"), col("dof"),
        r(col("p_chi2"), 6).as("p_chi2"),
        r(col("mutual_info"), 6).as("mutual_info"),
        r(col("cramers_v"), 6).as("cramers_v"))
  }

  private val catAssocSql = {
    val qPos = graft.core.Stats.normalUpperTailSql("zz")
    val qNeg = graft.core.Stats.normalUpperTailSql("-zz")
    s"""WITH t AS (
         SELECT c_nationkey AS g, c_mktsegment AS a, o_orderpriority AS b
         FROM orders JOIN customer ON o_custkey = c_custkey),
       cells AS (
         SELECT g, a, b, CAST(count(*) AS DOUBLE) AS cc FROM t GROUP BY 1, 2, 3),
       m AS (
         SELECT g, a, b, cc,
                sum(cc) OVER (PARTITION BY g, a) AS rt,
                sum(cc) OVER (PARTITION BY g, b) AS ct,
                sum(cc) OVER (PARTITION BY g) AS n
         FROM cells),
       agg AS (
         SELECT g, max(n) AS n,
                count(DISTINCT a) AS r, count(DISTINCT b) AS c,
                sum(cc*cc*n/(rt*ct)) AS s,
                sum(cc*ln(cc*n/(rt*ct))) AS minum
         FROM m GROUP BY 1),
       sc AS (
         SELECT g, n, r, c, greatest(s - n, 0.0) AS chi2,
                CAST((r-1)*(c-1) AS DOUBLE) AS dof, minum
         FROM agg),
       z AS (
         SELECT *, (cbrt(chi2/dof) - (1.0 - 2.0/(9.0*dof)))/sqrt(2.0/(9.0*dof)) AS zz
         FROM sc)
       SELECT g AS nation_key, CAST(n AS BIGINT) AS n, r, c,
              round(round(chi2, 6), 4) AS chi2, CAST(dof AS BIGINT) AS dof,
              round(CASE WHEN dof > 0 THEN coalesce(least(1.0,
                CASE WHEN zz >= 0 THEN $qPos ELSE 1.0 - $qNeg END), 0.0) END, 6) AS p_chi2,
              round(minum/n, 6) AS mutual_info,
              round(CASE WHEN dof > 0
                THEN sqrt(chi2/(n*least(r-1, c-1))) END, 6) AS cramers_v
       FROM z"""
  }

  // ---------------------------------------------------------------
  // 203. join-key skew audit — the pre-join diagnostic behind the
  // salted join/agg ops (#50/#110): per candidate key, the per-key
  // count distribution (max, exact p50/p99, top-10 share, max/avg
  // ratio) that tells you whether to salt, broadcast, or let AQE
  // handle it. Per key: one partial-agg shuffle to the counts table;
  // top-10 rides TakeOrdered (distributed heap, no global sort). At
  // corpus scale swap the exact percentiles for the #53 sketch —
  // the audit's decisions only need coarse quantiles.
  def joinKeySkew(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, df: DataFrame, key: Column): DataFrame = {
      val counts = df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))
      val tot = counts.agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"), max(col("c")).as("max_cnt"),
        expr("percentile(c, 0.5D)").as("p50"),
        expr("percentile(c, 0.99D)").as("p99"))
      val top10 = counts.orderBy(col("c").desc, col("k").asc).limit(10)
        .agg(sum(col("c")).as("top10_rows"))
      tot.crossJoin(top10).select(
        lit(name).as("key_name"), col("n_rows"), col("n_keys"), col("max_cnt"),
        round(col("p50"), 4).as("p50_cnt"),
        round(col("p99"), 4).as("p99_cnt"),
        round(col("top10_rows") / col("n_rows").cast("double"), 6).as("top10_share"),
        round(col("max_cnt") * col("n_keys") / col("n_rows").cast("double"), 4).as("max_over_avg"))
    }
    audit("lineitem.l_partkey", Tables.lineitem(s, dir), col("l_partkey"))
      .unionByName(audit("lineitem.l_suppkey", Tables.lineitem(s, dir), col("l_suppkey")))
      .unionByName(audit("orders.o_custkey", Tables.orders(s, dir), col("o_custkey")))
      .unionByName(audit("events.user_id", Tables.events(s, dir), col("user_id")))
  }

  private val joinKeySkewSql = {
    def block(name: String, table: String, key: String) =
      s"""SELECT '$name' AS key_name,
                CAST(sum(c) AS BIGINT) AS n_rows,
                count(*) AS n_keys, max(c) AS max_cnt,
                round(quantile_cont(c, 0.5), 4) AS p50_cnt,
                round(quantile_cont(c, 0.99), 4) AS p99_cnt,
                round((SELECT sum(c) FROM (SELECT c FROM (
                    SELECT $key AS k, count(*) AS c FROM $table GROUP BY 1)
                  ORDER BY c DESC, k ASC LIMIT 10))
                  / CAST(sum(c) AS DOUBLE), 6) AS top10_share,
                round(max(c) * count(*) / CAST(sum(c) AS DOUBLE), 4) AS max_over_avg
         FROM (SELECT $key AS k, count(*) AS c FROM $table GROUP BY 1)"""
    Seq(block("lineitem.l_partkey", "lineitem", "l_partkey"),
      block("lineitem.l_suppkey", "lineitem", "l_suppkey"),
      block("orders.o_custkey", "orders", "o_custkey"),
      block("events.user_id", "events", "user_id"))
      .mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------
  // 205. ABC / Pareto analysis: parts classed by cumulative revenue
  // share (A ≤ 80%, B ≤ 95%, C tail) — the inventory-management
  // classic. One fact-table aggregation to |parts| rows, then a global
  // (rev desc, partkey) window over the DIMENSION-sized aggregate —
  // the factor_by_size contract: the single-partition sort touches
  // only the bounded part dimension, never the fact table. Cumulative
  // shares ride the sequential running sum both engines replay.
  def abcAnalysis(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(expr("l_extendedprice * (1 - l_discount)")).as("rev"))
    val w = Window.orderBy(col("rev").desc, col("l_partkey").asc)
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    rev
      .withColumn("rev_rank", row_number().over(w).cast("long"))
      .withColumn("cum_share", sum(col("rev")).over(wCum) / sum(col("rev")).over(wAll))
      .select(col("l_partkey"), r(col("rev"), 4).as("revenue"), col("rev_rank"),
        r(col("cum_share"), 6).as("cum_share"),
        when(col("cum_share") <= 0.80, "A")
          .when(col("cum_share") <= 0.95, "B")
          .otherwise("C").as("abc_class"))
  }

  private val abcAnalysisSql =
    """WITH rev AS (
         SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS rev
         FROM lineitem GROUP BY 1),
       cs AS (
         SELECT l_partkey, rev,
                row_number() OVER w AS rev_rank,
                sum(rev) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  / sum(rev) OVER () AS cum_share
         FROM rev
         WINDOW w AS (ORDER BY rev DESC, l_partkey ASC))
       SELECT l_partkey, round(rev, 4) AS revenue,
              CAST(rev_rank AS BIGINT) AS rev_rank,
              round(cum_share, 6) AS cum_share,
              CASE WHEN cum_share <= 0.80 THEN 'A'
                   WHEN cum_share <= 0.95 THEN 'B'
                   ELSE 'C' END AS abc_class
       FROM cs"""

  val ops: Seq[Op] = Seq(
    Op("abc_analysis", abcAnalysis _, Oracle(abcAnalysisSql),
      globalWindow = Some("per-part revenue aggregate (catalog-bounded)")),
    Op("join_key_skew", joinKeySkew _, Oracle(joinKeySkewSql),
      quadratic = Some("join_key_skew attaches the 1-row totals agg to the 1-row top-10 " +
        "agg per key column — scalar attaches")),
    Op("profile_table", profileTable _, Oracle(profileTableSql)),
    Op("pivot_wide", pivotWide _, Oracle(pivotWideSql)),
    Op("semi_anti_join", semiAntiJoin _, Oracle(semiAntiJoinSql)),
    Op("cat_assoc", catAssoc _, Oracle(catAssocSql)),
    Op("make_unique_names", makeUniqueNames _, Oracle(
      """SELECT p_partkey, p_name,
         CASE WHEN occ = 0 THEN p_name
              ELSE p_name || '.' || CAST(occ AS VARCHAR) END AS unique_name
         FROM (
           SELECT p_partkey, p_name,
                  row_number() OVER (PARTITION BY p_name ORDER BY p_partkey ASC) - 1 AS occ
           FROM part)""")),
    Op("cube_pricing", cubePricing _, Oracle(cubePricingSql)),
    Op("k_anonymity", kAnonymity _, Oracle(kAnonymitySql),
      quadratic = Some(Reasons.TotalsAttach)),
    Op("dp_noisy_counts", dpNoisyCounts _, Oracle(dpNoisyCountsSql)),
    Op("l_diversity", lDiversity _, Oracle(lDiversitySql)),
    Op("t_closeness", tCloseness _, Oracle(tClosenessSql),
      quadratic = Some("t_closeness crosses the |classes| table with the ≤|segments| " +
        "global-mix scaffold so absent segments contribute their full global mass (the " +
        "ma_stats bounded-scaffold precedent)")),
    Op("basket_lift", basketLift _, Oracle(basketLiftSql)),
    Op("key_sequence_gaps", keySequenceGaps _, Oracle(keySequenceGapsSql),
      globalWindow = Some("bucketed gap summary (|buckets| rows)")),
    Op("window_rank_suite", windowRankSuite _, Oracle(windowRankSuiteSql)),
    Op("price_consistency", priceConsistency _, Oracle(priceConsistencySql)),
    Op("fk_integrity", fkIntegrity _, Oracle(fkIntegritySql)),
    Op("weighted_median", weightedMedian _, Oracle(weightedMedianSql)),
    Op("rollup_pricing", rollupPricing _, Oracle(
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
         coalesce(l_linestatus, 'ALL') AS linestatus,
         count(*) AS n, round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_price
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")),
    Op("decile_bins", decileBins _, Oracle(
      """WITH b AS (
           SELECT quantile_cont(o_totalprice,
             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs FROM orders)
         SELECT CAST(list_sum(list_transform(qs,
                  q -> CASE WHEN o_totalprice > round(q, 6) THEN 1 ELSE 0 END)) AS BIGINT) AS decile,
                count(*) AS n, round(min(o_totalprice), 4) AS lo,
                round(max(o_totalprice), 4) AS hi, round(avg(o_totalprice), 6) AS mean
         FROM orders, b GROUP BY 1"""),
      quadratic = Some(Reasons.OneRowTotals)),
    Op("weighted_sample", weightedSample _, Oracle(
      """WITH u AS (
           SELECT c_mktsegment, c_custkey, c_acctbal + 1000.0 AS w,
                  ((strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)),1,1))-1)*1048576.0
                 + (strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)),2,1))-1)*65536.0
                 + (strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)),3,1))-1)*4096.0
                 + (strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)),4,1))-1)*256.0
                 + (strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)),5,1))-1)*16.0
                 + (strpos('0123456789abcdef', substr(md5(CAST(c_custkey AS VARCHAR)),6,1))-1)
                 + 1.0) / 16777217.0 AS u
           FROM customer)
         SELECT c_mktsegment, c_custkey FROM (
           SELECT c_mktsegment, c_custkey,
                  row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY power(u, 1.0/w) DESC, c_custkey ASC) AS rn
           FROM u)
         WHERE rn <= 10""")),
    Op("user_spend_salted", userSpendSalted _, Oracle(
      """SELECT user_id, count(*) AS n, round(sum(value), 4) AS sum_value
         FROM events GROUP BY user_id""")),
    Op("q1_pricing_summary", q1PricingSummary _, Oracle(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
         round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
         round(avg(l_quantity),6) AS avg_qty,
         round(avg(l_extendedprice),4) AS avg_price,
         round(avg(l_discount),6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
         GROUP BY l_returnflag, l_linestatus""")),
    Op("q5_region_revenue", q5RegionRevenue _, Oracle(
      """SELECT r_name, n_name,
         round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""")),
    Op("q3_top_orders", q3TopOrders _, Oracle(
      """SELECT o_orderkey, revenue, o_orderdate, o_orderpriority FROM (
           SELECT o_orderkey, o_orderdate, o_orderpriority,
                  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           WHERE c_mktsegment = 'BUILDING'
           GROUP BY o_orderkey, o_orderdate, o_orderpriority)
         ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""")),
    Op("topk_parts_per_brand", topkPartsPerBrand _, Oracle(
      """SELECT p_brand, p_partkey, revenue, rk FROM (
           SELECT p_brand, p_partkey,
                  round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
                  row_number() OVER (
                    PARTITION BY p_brand
                    ORDER BY round(sum(l_extendedprice*(1-l_discount)),2) DESC,
                             p_partkey ASC) AS rk
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY p_brand, p_partkey)
         WHERE rk <= 3""")),
    Op("running_customer_spend", runningCustomerSpend _, Oracle(
      """SELECT o_custkey, o_orderkey, o_orderdate,
         round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS cum_spend
         FROM orders""")),
    Op("label_specificity", labelSpecificity _, Oracle(
      """SELECT c_nationkey AS group_key,
         count(DISTINCT c_mktsegment) AS n_labels,
         count(DISTINCT c_mktsegment) = 1 AS is_specific
         FROM customer GROUP BY c_nationkey""")),
    Op("factor_by_size", factorBySize _, Oracle(
      """SELECT level, n, row_number() OVER (ORDER BY n DESC, level ASC) AS size_rank
         FROM (SELECT o_orderpriority AS level, count(*) AS n
               FROM orders GROUP BY o_orderpriority)"""),
      globalWindow = Some("|levels| frequency rank")),
    Op("crosstab_priority_status", crosstabPriorityStatus _, Oracle(
      """SELECT o_orderpriority, o_orderstatus, n,
         round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY o_orderpriority) AS DOUBLE), 6) AS prop
         FROM (SELECT o_orderpriority, o_orderstatus, count(*) AS n
               FROM orders GROUP BY o_orderpriority, o_orderstatus)""")),
    Op("melt_lineitem_metrics", meltLineitemMetrics _, Oracle(
      """SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem""")),
    Op("stratified_sample", stratifiedSample _, Oracle(
      """SELECT c_mktsegment, c_custkey FROM (
           SELECT c_mktsegment, c_custkey,
                  row_number() OVER (
                    PARTITION BY c_mktsegment
                    ORDER BY md5(CAST(c_custkey AS VARCHAR)) ASC, c_custkey ASC) AS rn
           FROM customer)
         WHERE rn <= 10""")),
    Op("upset_membership", upsetMembership _, Oracle(
      """SELECT l_partkey AS p_partkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS in_returned,
         max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_urgent,
         max(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS in_discounted
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY l_partkey""")),
    Op("asof_purchase_click", asofPurchaseClick _, Oracle(
      """SELECT event_id, user_id, ts_us, asof_click_id, asof_click_value FROM (
           SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                  c.event_id AS asof_click_id, c.value AS asof_click_value,
                  row_number() OVER (
                    PARTITION BY p.event_id
                    ORDER BY c.ts DESC, c.event_id DESC) AS rn
           FROM events p JOIN events c
             ON c.user_id = p.user_id AND c.ts <= p.ts AND c.event_type = 'click'
           WHERE p.event_type = 'purchase')
         WHERE rn = 1""")),
    Op("discount_band_effect", discountBandEffect _, Oracle(
      """SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS band,
                count(*) AS n_lines,
                round(sum(l_quantity), 4) AS sum_qty,
                round(avg(l_quantity), 6) AS avg_qty,
                round(sum(l_extendedprice), 4) AS gross_revenue,
                round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS net_revenue,
                round(sum(l_extendedprice * l_discount), 4) AS discount_cost
         FROM lineitem GROUP BY 1""")),
    Op("supplier_concentration", supplierConcentration _, Oracle(
      """WITH rev AS (
           SELECT n.n_name, l.l_suppkey,
                  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS rev
           FROM lineitem l
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           GROUP BY 1, 2),
         tot AS (
           SELECT n_name, count(*) AS n_suppliers, sum(rev) AS total
           FROM rev GROUP BY 1)
         SELECT r.n_name, any_value(t.n_suppliers) AS n_suppliers,
                round(any_value(t.total), 4) AS total_revenue,
                round(sum((r.rev / t.total) * (r.rev / t.total)), 6) AS hhi,
                round(max(r.rev / t.total), 6) AS top_share
         FROM rev r JOIN tot t USING (n_name)
         GROUP BY 1""")),
    Op("order_fulfillment_latency", fulfillmentLatency _, Oracle(
      """WITH x AS (
           SELECT o.o_orderpriority,
                  CAST(epoch_us(l.l_shipdate) // 86400000000
                       - epoch_us(o.o_orderdate) // 86400000000 AS DOUBLE) AS delay
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         SELECT o_orderpriority, count(*) AS n_lines,
                round(avg(delay), 6) AS mean_days,
                round(quantile_cont(delay, 0.5), 4) AS p50_days,
                round(quantile_cont(delay, 0.9), 4) AS p90_days,
                CAST(max(delay) AS BIGINT) AS max_days
         FROM x GROUP BY 1""")),
    Op("asof_forward_click", asofForwardClick _, Oracle(
      """SELECT event_id, user_id, ts_us, next_click_id, next_click_value FROM (
           SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                  c.event_id AS next_click_id, c.value AS next_click_value,
                  row_number() OVER (
                    PARTITION BY p.event_id
                    ORDER BY c.ts ASC, c.event_id ASC) AS rn
           FROM events p JOIN events c
             ON c.user_id = p.user_id AND c.ts >= p.ts AND c.event_type = 'click'
           WHERE p.event_type = 'purchase')
         WHERE rn = 1""")),
    Op("asof_nearest_click", asofNearestClick _, Oracle(
      """WITH back AS (
           SELECT event_id, b_id, b_val, b_ts FROM (
             SELECT p.event_id,
                    c.event_id AS b_id, c.value AS b_val, epoch_us(c.ts) AS b_ts,
                    row_number() OVER (PARTITION BY p.event_id
                      ORDER BY c.ts DESC, c.event_id DESC) AS rn
             FROM events p JOIN events c
               ON c.user_id = p.user_id AND c.ts <= p.ts AND c.event_type = 'click'
             WHERE p.event_type = 'purchase')
           WHERE rn = 1),
         fwd AS (
           SELECT event_id, f_id, f_val, f_ts FROM (
             SELECT p.event_id,
                    c.event_id AS f_id, c.value AS f_val, epoch_us(c.ts) AS f_ts,
                    row_number() OVER (PARTITION BY p.event_id
                      ORDER BY c.ts ASC, c.event_id ASC) AS rn
             FROM events p JOIN events c
               ON c.user_id = p.user_id AND c.ts >= p.ts AND c.event_type = 'click'
             WHERE p.event_type = 'purchase')
           WHERE rn = 1),
         pur AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                 FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.ts_us,
                CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR p.ts_us - b_ts <= f_ts - p.ts_us)
                     THEN b_id ELSE f_id END AS nearest_click_id,
                CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR p.ts_us - b_ts <= f_ts - p.ts_us)
                     THEN b_val ELSE f_val END AS nearest_click_value,
                CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR p.ts_us - b_ts <= f_ts - p.ts_us)
                     THEN 'backward' ELSE 'forward' END AS direction,
                CASE WHEN b_id IS NOT NULL AND (f_id IS NULL OR p.ts_us - b_ts <= f_ts - p.ts_us)
                     THEN p.ts_us - b_ts ELSE f_ts - p.ts_us END AS gap_us
         FROM pur p LEFT JOIN back b ON p.event_id = b.event_id
                    LEFT JOIN fwd f ON p.event_id = f.event_id
         WHERE coalesce(b_id, f_id) IS NOT NULL""")))
}
