package graft.core

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event sessionization + windowed aggregates (SURVEY.md §2.6 #45/#46)
  * — the batch twins of the Structured Streaming pipeline in
  * graft.streaming. Timestamps are kept as exact epoch-nanos BIGINTs
  * (see Tables.events) so the oracle comparison is precision-safe.
  */
object Sessions extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  private val GapUs: Long = 30L * 60 * 1000 * 1000 // 30 min in micros

  // ---------------------------------------------------------------
  // 45. gap sessionization (30-min): lag per user, cumulative new-session
  // counter, one shuffle on user_id; both window passes reuse the same
  // partitioning (single exchange in the physical plan). Gap math runs
  // on epoch-micros (the oracle's max precision — DuckDB truncates the
  // nanos parquet column to micros at read).
  def sessionizeEvents(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.sessionize(
        Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
        col("user_id"), col("ts_us"), col("event_id"), GapUs)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        r(sum(col("value")), 4).as("sum_value"))

  // ---------------------------------------------------------------
  // 46. tumbling 1-hour window aggregates: integer-division bucketing on
  // epoch nanos — one shuffle on (bucket, event_type), partial aggs
  // map-side, approx-free.
  def windowedEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(expr("ts_ns div 3600000000000").as("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        r(sum(col("value")), 4).as("sum_value"))

  // ---------------------------------------------------------------
  // 48b. banded range join: for each purchase, aggregate the same
  // user's clicks in the preceding hour. The range predicate becomes an
  // equi-join on (user, hour-bucket) by replicating each click into its
  // own and the following bucket — bounded 2× fan-out instead of an
  // O(n·m) theta join, the scalable shape for interval joins.
  def rangeJoinClicks(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600L * 1000 * 1000
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us").as("p_ts"),
        expr(s"ts_us div $HourUs").as("bucket"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_ts"), col("value").as("c_val"),
        explode(expr(s"array(ts_us div $HourUs, ts_us div $HourUs + 1)")).as("bucket"))
    purchases.join(clicks, Seq("user_id", "bucket"), "left")
      .groupBy(col("event_id"), col("user_id"))
      .agg(
        count(when(col("c_ts") >= col("p_ts") - HourUs && col("c_ts") <= col("p_ts"), 1)).as("n_clicks"),
        r(coalesce(sum(when(col("c_ts") >= col("p_ts") - HourUs && col("c_ts") <= col("p_ts"),
          col("c_val"))), lit(0.0)), 4).as("click_value"))
  }

  // ---------------------------------------------------------------
  // 52. sliding-window aggregates: 1-hour windows sliding every 15 min
  // via Spark's native window() (each event lands in 4 windows). The
  // oracle replicates the window-assignment arithmetic with an explicit
  // 4-way explode.
  def slidingWindowsEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), r(sum(col("value")), 4).as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))

  // ---------------------------------------------------------------
  // 71. rolling time-range aggregate: per user, count/sum of activity in
  // the trailing hour at every event — a RANGE frame on epoch nanos.
  // Spark advances range-frame bounds monotonically (O(n) per
  // partition); partitions are per-user, so this scales with users.
  def rollingEvents(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600L * 1000 * 1000 // micros: the oracle's max timestamp precision
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc)
      .rangeBetween(-HourUs, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("value"))
      .withColumn("rolling_n", count(lit(1)).over(w))
      .withColumn("rolling_sum", r(sum(col("value")).over(w), 4))
  }

  // ---------------------------------------------------------------
  // 77. semi-structured JSON parsing: extract typed fields from the
  // events' JSON props column and aggregate — the metadata-sidecar
  // pattern of every ingestion pipeline. get_json_object is codegen'd
  // and schema-on-read; no inference pass, no UDF.
  def eventsJsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        r(avg(col("k")), 6).as("avg_k"))

  // ---------------------------------------------------------------
  // 78. grouped quantiles: exact interpolated p50/p95/p99 of value per
  // event_type. Group count is tiny (the percentile state is per-group
  // sorted values — at 100 TB swap percentile→percentile_approx, a
  // single-pass bounded-memory sketch; Stats.quantileApproxCol).
  def groupQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        r(min(col("value")), 6).as("vmin"),
        r(max(col("value")), 6).as("vmax"),
        r(avg(col("value")), 6).as("vmean"),
        r(graft.core.Stats.quantileCol(col("value"), 0.5), 6).as("p50"),
        r(graft.core.Stats.quantileCol(col("value"), 0.95), 6).as("p95"),
        r(graft.core.Stats.quantileCol(col("value"), 0.99), 6).as("p99"))

  // ---------------------------------------------------------------
  // 79. fixed-width histogram per event_type: integer bucketing is a
  // pure map-side key, one shuffle on (type, bucket).
  def valueHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"),
        floor(col("value") / 50.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        r(min(col("value")), 4).as("lo"), r(max(col("value")), 4).as("hi"))

  // ---------------------------------------------------------------
  // 80. cohort retention: users bucketed by first-activity day, distinct
  // actives per (cohort, age). Two shuffles on user_id (the cohort agg
  // and the join reuse the same partitioning), one on the cohort key —
  // the per-user cohort table is user-cardinality sized and joins on
  // the user key, never broadcast.
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val DayUs = 86400L * 1000 * 1000
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_ns div 1000 div $DayUs").as("day"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  // ---------------------------------------------------------------
  // Latest-per-key snapshot (SCD-style current-state view of an event
  // stream): one shuffle via max(struct(ts, id, payload)) — the struct
  // max is a partial-aggregable single pass, no per-key window sort;
  // (ts, event_id) is a total order so the pick is deterministic.
  def latestPerKey(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m.ts_us").as("ts_us"), col("m.event_id").as("event_id"),
        r(col("m.value"), 4).as("value"))

  // ---------------------------------------------------------------
  // Winsorized moments per event_type: exact p05/p95 per group (one
  // aggregation; percentile_approx at corpus scale), broadcast back,
  // clamp, re-aggregate — two bounded-key shuffles, no windows.
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bounds = ev.groupBy(col("event_type"))
      .agg(graft.core.Stats.quantileCol(col("value"), 0.05).as("p05"),
        graft.core.Stats.quantileCol(col("value"), 0.95).as("p95"))
    val clamped = ev.join(broadcast(bounds), "event_type")
      .withColumn("w", least(greatest(col("value"), col("p05")), col("p95")))
    clamped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        r(avg(col("w")), 6).as("wins_mean"),
        r(stddev_pop(col("w")), 6).as("wins_std"),
        r(min(col("p05")), 6).as("p05"), r(min(col("p95")), 6).as("p95"))
  }

  // ---------------------------------------------------------------
  // Hot-key envelope for the per-key ordered-array folds below,
  // ASSERTED not narrated (the acfDaily precedent, r7 verdict item 6):
  // an array fold is bounded by events-per-key — fine at session-scale
  // cardinalities, a single-task OOM for a bot key with 1e8 events.
  // Fail loudly at 8M elements (~200 MB of (ts, value) structs in one
  // task) instead of dying in collect_list. Beyond the envelope both
  // folds compose by segment — EWMA and the clamped balance are linear
  // /clamped recurrences whose segments carry (decay^len, offset) /
  // (entry→exit) maps — the heaps_fit-style bucketed two-pass swap
  // (SURVEY §5). The guard rides the output expression (coalesce over
  // assert_true's null) so column pruning can't drop it, and costs one
  // comparison per KEY, not per event.
  private val MaxFoldEventsPerKey = 8L * 1000 * 1000

  private def guardedN(n: Column, what: String): Column =
    coalesce(
      assert_true(n <= lit(MaxFoldEventsPerKey),
        lit(s"$what: a key exceeds the $MaxFoldEventsPerKey events-per-key " +
          "fold envelope; shard the history by period and carry the closing " +
          "state (segmented-fold swap, SURVEY §5)")).cast("long"),
      n)

  // ---------------------------------------------------------------
  // Per-user EWMA (α=0.3) over the time-ordered value sequence — the
  // recursive smoothing no window frame expresses. One shuffle into
  // per-user ordered arrays (bounded by events-per-user, envelope
  // asserted above), then a higher-order fold; the fold seeds with the
  // FIRST element to mirror DuckDB's list_reduce semantics exactly.
  def ewmaUserValue(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("value"))
      .groupBy(col("user_id"))
      .agg(expr("transform(sort_array(collect_list(struct(ts_us, value))), e -> e.value)").as("vs"))
      .select(col("user_id"),
        guardedN(size(col("vs")).cast("long"), "ewma_user_value").as("n"),
        r(expr("""aggregate(slice(vs, 2, greatest(size(vs) - 1, 0)),
                   element_at(vs, 1), (acc, x) -> acc * 0.7 + x * 0.3)"""), 6).as("ewma"))

  // ---------------------------------------------------------------
  // 332. Holt linear-trend smoothing (Holt 1957) per event type over
  // the daily count series — the EWMA's (#93) two-state sibling: a
  // level AND a trend recursion (double exponential smoothing), the
  // classical next-day traffic forecaster and the first thing a
  // capacity planner fits before reaching for ARIMA:
  //   l_t = α·y_t + (1−α)(l_{t−1} + b_{t−1})
  //   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
  // α=0.5, β=0.3, initialized l_1 = y_1, b_1 = y_2 − y_1 (Hyndman's
  // convention), iterated t = 2..n; output = final level/trend and the
  // one-step forecast l_n + b_n. The series is |types|×|days| rows
  // (bounded post-aggregation), so the per-type ordered-array fold is
  // the EWMA device with a two-field struct accumulator; the oracle
  // replays the identical recursion as a WITH RECURSIVE chain — both
  // engines run the same IEEE ops in the same order (round 6 at the
  // end only). Scale: one shuffle for daily counts, then |types| rows.
  def holtTrend(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(expr("transform(sort_array(collect_list(struct(day, x))), e -> CAST(e.x AS DOUBLE))").as("ys"))
      .filter(size(col("ys")) >= 2)
      .select(col("event_type"),
        size(col("ys")).cast("long").as("n_days"),
        expr("""aggregate(slice(ys, 2, greatest(size(ys) - 1, 0)),
                 struct(element_at(ys, 1) AS l,
                        element_at(ys, 2) - element_at(ys, 1) AS b),
                 (acc, y) -> struct(
                   0.5D * y + 0.5D * (acc.l + acc.b) AS l,
                   0.3D * ((0.5D * y + 0.5D * (acc.l + acc.b)) - acc.l)
                     + 0.7D * acc.b AS b))""").as("st"))
      .select(col("event_type"), col("n_days"),
        r(col("st.l"), 6).as("level"),
        r(col("st.b"), 6).as("trend"),
        r(col("st.l") + col("st.b"), 6).as("forecast_next"))

  // ---------------------------------------------------------------
  // 345. Holt–Winters triple exponential smoothing (Winters 1960,
  // additive, weekly m=7) — adds the SEASONAL component #332's Holt
  // recursion lacks: per event type over the DENSE daily-count grid
  // (missing days enter as 0 — the grid keeps the 7-day phase
  // aligned), classic init on the first two weeks (l₇ = mean wk1,
  // b₇ = (mean wk2 − mean wk1)/7, sᵢ = yᵢ − mean wk1), then
  // l←α(y−s₋₇)+(1−α)(l+b), b←β Δl+(1−β)b, s←γ(y−l)+(1−γ)s₋₇ with
  // α=0.2 β=0.1 γ=0.3, emitting the one-step-ahead fitted value and
  // residual per day — the seasonality-aware anomaly/forecast table
  // (#285 subtracts a static weekday mean; this adapts it). The whole
  // recursion is ONE array fold per type (the #93/#332 device); the
  // oracle replays it as a WITH RECURSIVE walk over identical doubles
  // (the repeated l′ subexpression is inlined IDENTICALLY in both
  // engines, so every intermediate is bit-equal).
  def holtWinters(s: SparkSession, dir: String): DataFrame = {
    val wk1 = "aggregate(slice(ys, 1, 7), 0.0D, (a, y2) -> a + y2) / 7.0D"
    val wk2 = "aggregate(slice(ys, 8, 7), 0.0D, (a, y2) -> a + y2) / 7.0D"
    val Y = "element_at(ys, CAST(t AS INT))"
    val IDX = "CAST(((t - 1) % 7) + 1 AS INT)"
    val S = s"element_at(acc.s, $IDX)"
    val LP = s"(0.2D * ($Y - $S) + 0.8D * (acc.l + acc.b))"
    val fold =
      s"""aggregate(
           sequence(8L, CAST(size(ys) AS LONG)),
           named_struct(
             'l', $wk1,
             'b', ($wk2 - $wk1) / 7.0D,
             's', transform(sequence(1, 7), i ->
               element_at(ys, CAST(i AS INT)) - $wk1),
             'out', CAST(array() AS
               array<struct<t: int, y: double, fitted: double,
                            level: double, trend: double, seasonal: double>>)),
           (acc, t) -> named_struct(
             'l', $LP,
             'b', 0.1D * ($LP - acc.l) + 0.9D * acc.b,
             's', transform(sequence(1, 7), i ->
               IF(CAST(i AS INT) = $IDX,
                  0.3D * ($Y - $LP) + 0.7D * element_at(acc.s, CAST(i AS INT)),
                  element_at(acc.s, CAST(i AS INT)))),
             'out', concat(acc.out, array(named_struct(
               't', CAST(t AS INT), 'y', $Y,
               'fitted', acc.l + acc.b + $S,
               'level', $LP,
               'trend', 0.1D * ($LP - acc.l) + 0.9D * acc.b,
               'seasonal', 0.3D * ($Y - $LP) + 0.7D * $S)))))"""
    Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"),
        map_from_entries(collect_list(struct(col("day"), col("x")))).as("m"))
      .withColumn("ys", expr(
        "transform(sequence(mn, mx), d -> CAST(coalesce(element_at(m, d), 0L) AS DOUBLE))"))
      .filter(size(col("ys")) >= 15)
      .select(col("event_type"), col("mn"), explode(expr(s"($fold).out")).as("e"))
      .select(col("event_type"),
        col("e.t").cast("long").as("t"),
        (col("mn") + col("e.t") - 1).as("day"),
        col("e.y").as("y"),
        r(col("e.fitted"), 6).as("fitted"),
        r(col("e.level"), 6).as("level"),
        r(col("e.trend"), 6).as("trend"),
        r(col("e.seasonal"), 6).as("seasonal"),
        r(col("e.y") - col("e.fitted"), 6).as("resid"))
  }

  private val holtWintersSql =
    """WITH RECURSIVE d AS (
         SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                count(*)::DOUBLE AS y
         FROM events GROUP BY 1, 2),
       g AS (SELECT event_type, min(day) AS mn, max(day) AS mx FROM d GROUP BY 1),
       grid AS (
         SELECT g.event_type, g.mn, CAST(t.dd AS BIGINT) AS day
         FROM g, LATERAL unnest(generate_series(g.mn, g.mx)) AS t(dd)),
       o AS (
         SELECT grid.event_type, grid.mn,
                row_number() OVER (PARTITION BY grid.event_type ORDER BY grid.day) AS rn,
                coalesce(d.y, 0.0)::DOUBLE AS y
         FROM grid LEFT JOIN d ON d.event_type = grid.event_type AND d.day = grid.day),
       arr AS (
         SELECT event_type, any_value(mn) AS mn, list(y ORDER BY rn) AS ys,
                CAST(count(*) AS INT) AS n
         FROM o GROUP BY 1),
       init AS (
         SELECT event_type, mn, ys, n,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[1:7]), (a, b2) -> a + b2) / 7.0 AS l0,
                (list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[8:14]), (a, b2) -> a + b2) / 7.0
                 - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[1:7]), (a, b2) -> a + b2) / 7.0) / 7.0 AS b0,
                list_transform(generate_series(1, 7), i ->
                  ys[CAST(i AS INT)] - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys[1:7]), (a, b2) -> a + b2) / 7.0) AS s0
         FROM arr WHERE n >= 15),
       rec AS (
         SELECT event_type, mn, ys, n, 7 AS t, l0 AS l, b0 AS b, s0 AS s,
                CAST(NULL AS DOUBLE) AS fitted, CAST(NULL AS DOUBLE) AS y_t,
                CAST(NULL AS DOUBLE) AS s_t
         FROM init
         UNION ALL
         SELECT event_type, mn, ys, n, t + 1,
                0.2 * (ys[t + 1] - s[(t % 7) + 1]) + 0.8 * (l + b),
                0.1 * ((0.2 * (ys[t + 1] - s[(t % 7) + 1]) + 0.8 * (l + b)) - l) + 0.9 * b,
                list_transform(generate_series(1, 7), i ->
                  CASE WHEN i = (t % 7) + 1
                       THEN 0.3 * (ys[t + 1] - (0.2 * (ys[t + 1] - s[(t % 7) + 1]) + 0.8 * (l + b)))
                            + 0.7 * s[(t % 7) + 1]
                       ELSE s[CAST(i AS INT)] END),
                l + b + s[(t % 7) + 1],
                ys[t + 1],
                0.3 * (ys[t + 1] - (0.2 * (ys[t + 1] - s[(t % 7) + 1]) + 0.8 * (l + b)))
                  + 0.7 * s[(t % 7) + 1]
         FROM rec WHERE t < n)
       SELECT event_type, CAST(t AS BIGINT) AS t, mn + t - 1 AS day,
              y_t AS y, round(fitted, 6) AS fitted,
              round(l, 6) AS level, round(b, 6) AS trend,
              round(s_t, 6) AS seasonal, round(y_t - fitted, 6) AS resid
       FROM rec WHERE t >= 8"""

  private val holtTrendSql =
    """WITH RECURSIVE d AS (
         SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                count(*)::DOUBLE AS y
         FROM events GROUP BY 1, 2),
       o AS (SELECT event_type, y,
                    row_number() OVER (PARTITION BY event_type ORDER BY day ASC) AS rn
             FROM d),
       mx AS (SELECT event_type, max(rn) AS n FROM o GROUP BY 1),
       rec AS (
         SELECT a.event_type, 1 AS t, a.y AS l, b.y - a.y AS b
         FROM o a JOIN o b USING (event_type)
         WHERE a.rn = 1 AND b.rn = 2
         UNION ALL
         SELECT r.event_type, r.t + 1,
                0.5 * o.y + 0.5 * (r.l + r.b) AS l,
                0.3 * ((0.5 * o.y + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b AS b
         FROM rec r JOIN o ON o.event_type = r.event_type AND o.rn = r.t + 1)
       SELECT rec.event_type, CAST(mx.n AS BIGINT) AS n_days,
              round(rec.l, 6) AS level, round(rec.b, 6) AS trend,
              round(rec.l + rec.b, 6) AS forecast_next
       FROM rec JOIN mx USING (event_type)
       WHERE rec.t = mx.n AND mx.n >= 2"""

  // ---------------------------------------------------------------
  // Value-per-bin along a continuous axis (tradeseq.R:131
  // get_value_per_bin: pseudotime → equal-width bins → mean per bin,
  // here over event time per type; the reference's fun_per_bin =
  // "percent_expressing" mode is the pct_expressing column — the
  // fraction of nonzero values per bin, tradeseq.R:133-139). Bin
  // assignment is pure integer arithmetic against the broadcast global
  // range — exact in both engines, no float edge cases, one scan + one
  // bounded-key shuffle.
  def valuePerBin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val range = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
    ev.crossJoin(broadcast(range))
      .withColumn("bin",
        expr("((ts_us - mn) * 20) div (mx - mn + 1)"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"), r(avg(col("value")), 6).as("mean_value"),
        r(avg(when(col("value") =!= 0.0, 1.0).otherwise(0.0)), 6).as("pct_expressing"))
  }

  // ---------------------------------------------------------------
  // 104. interval-interval overlap join (GRanges findOverlaps analog —
  // the genomic-ranges primitive behind every annotate-peaks /
  // feature-overlap step, here over time ranges): user sessions vs
  // ±15-min purchase attribution windows of the same user. Runs as a
  // binned equi-join on (user, hour-bucket) with bounded fan-out —
  // see Analytics.intervalOverlapJoin.
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val sess = graft.api.Analytics.sessionize(
        ev, col("user_id"), col("ts_us"), col("event_id"), GapUs)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
      .withColumn("session_key", col("user_id") * 1000000L + col("session_idx"))
    val QuarterUs = 900L * 1000 * 1000
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
        (col("ts_us") - QuarterUs).as("w_start"),
        (col("ts_us") + QuarterUs).as("w_end"))
    graft.api.Analytics.intervalOverlapJoin(
        sess, col("session_key"), col("s_start"), col("s_end"),
        pur, col("event_id"), col("w_start"), col("w_end"),
        binWidth = 3600L * 1000 * 1000,
        lKey = col("user_id"), rKey = col("p_user"))
      .select(col("l_id").as("session_key"), col("r_id").as("event_id"),
        col("overlap").as("overlap_us"))
  }

  // ---------------------------------------------------------------
  // 109. ordered funnel conversion (view → click → purchase) per
  // session: sequential first-times via three STACKED window mins over
  // the SAME (user, session) partition — one sort, no self-joins; a
  // later stage only counts if it happens at-or-after the previous
  // stage's first time. The final stage tallies are a single-row agg.
  def funnelConversion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val sess = graft.api.Analytics.sessionize(
        ev, col("user_id"), col("ts_us"), col("event_id"), GapUs)
      .select(col("user_id"), col("session_idx"), col("event_type"), col("ts_us"))
    val w = Window.partitionBy(col("user_id"), col("session_idx"))
    val staged = sess
      .withColumn("tv", min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("tc", min(when(col("event_type") === "click" &&
        col("ts_us") >= col("tv"), col("ts_us"))).over(w))
      .withColumn("tp", min(when(col("event_type") === "purchase" &&
        col("ts_us") >= col("tc"), col("ts_us"))).over(w))
    staged.groupBy(col("user_id"), col("session_idx"))
      .agg(max(col("tv")).as("v"), max(col("tc")).as("c"), max(col("tp")).as("p"))
      .agg(count(lit(1)).as("n_sessions"),
        count(col("v")).as("n_view"),
        count(col("c")).as("n_view_click"),
        count(col("p")).as("n_full_funnel"),
        r(count(col("c")).cast("double") / nullif(count(col("v")).cast("double"), lit(0.0)), 6)
          .as("rate_click"),
        r(count(col("p")).cast("double") / nullif(count(col("c")).cast("double"), lit(0.0)), 6)
          .as("rate_purchase"))
  }

  // ---------------------------------------------------------------
  // 116. rolling z-score anomaly flags per user: each event scored
  // against its own trailing-hour mean/std (RANGE frame — Spark
  // advances the frame bounds monotonically, O(n) per user partition).
  // The |z| > 2 flag compares the ROUNDED z so a last-ulp difference
  // in the incremental variance can't flip a boundary row vs the oracle.
  def rollingAnomaly(s: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600L * 1000 * 1000
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us").asc)
      .rangeBetween(-HourUs, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("ts_us"), col("value"))
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev_pop(col("value")).over(w))
      .withColumn("z", round((col("value") - col("mu")) / nullif(col("sd"), lit(0.0)), 4))
      .select(col("event_id"), col("user_id"), col("ts_us"), col("n_window"),
        round(col("mu"), 4).as("mu"), round(col("sd"), 4).as("sd"), col("z"),
        coalesce(abs(col("z")) > 2.0, lit(false)).as("is_anomaly"))
  }

  // ---------------------------------------------------------------
  // 117. inter-event time statistics per user: lag deltas in one
  // per-user window pass, then mean/median/std gap and the burstiness
  // index (σ−μ)/(σ+μ) — the session-rhythm screen (−1 periodic,
  // 0 Poisson, →1 bursty).
  //
  // Cross-engine determinism (the round-3 hash-mismatch fix): gaps are
  // integer µs, so per-user Σgap < 2^53 is EXACT under any summation
  // order — avg (exact sum / count) and interpolated median (exact
  // half-integer midpoint) are therefore bit-identical doubles in Spark
  // and DuckDB, and are emitted UNROUNDED (rounding them is what broke
  // round 3: a half-µs median in seconds lands exactly on a 4dp decimal
  // midpoint, where Spark's BigDecimal HALF_UP and DuckDB's
  // multiply-then-round disagree). stddev_pop IS engine-dependent
  // (Σgap² ~ 2.5e21 loses ulps), so it alone is rounded — at SECONDS
  // scale (~5e4), where 4dp needs only ~9 matching significant digits.
  def intereventStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val us = lit(1e6)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), expr("ts_ns div 1000").as("ts_us"))
      .withColumn("gap", (col("ts_us") - lag(col("ts_us"), 1).over(w)).cast("double"))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        (avg(col("gap")) / us).as("mean_gap_s"),
        (graft.core.Stats.medianCol(col("gap")) / us).as("median_gap_s"),
        round(stddev_pop(col("gap") / us), 4).as("sd_gap_s"),
        round((stddev_pop(col("gap") / us) - avg(col("gap")) / us) /
          nullif(stddev_pop(col("gap") / us) + avg(col("gap")) / us, lit(0.0)), 6)
          .as("burstiness"))
  }

  // ---------------------------------------------------------------
  // 136. event-transition matrix (first-order Markov structure of the
  // clickstream): per user, lag the ordered event stream, count
  // (prev → next) pairs, row-normalize per source state. One window
  // shuffle on user (bounded per-user partitions), then a bounded
  // |types|² aggregation.
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").asc, col("event_id").asc)
    val wp = Window.partitionBy(col("prev_type"))
    Tables.events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("prev_type"), col("next_type"), col("n"),
        r(col("n").cast("double") / sum(col("n")).over(wp), 6).as("prob"))
  }

  private val eventTransitionsSql =
    """WITH ordered AS (
         SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY epoch_ns(ts) ASC, event_id ASC) AS prev
         FROM events),
       c AS (
         SELECT prev AS prev_type, event_type AS next_type, count(*) AS n
         FROM ordered WHERE prev IS NOT NULL GROUP BY 1, 2)
       SELECT prev_type, next_type, n,
              round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6)
                AS prob
       FROM c"""

  // ---------------------------------------------------------------
  // 149. top session paths (clickstream path mining): the ordered
  // event-type sequence of every 30-min-gap session, globally ranked by
  // frequency — what funnels exist, not just whether the canonical one
  // converts (#109). Path strings assemble from a SORTED collect_list
  // inside the session aggregation (deterministic (ts, event_id)
  // order); the global rank runs over the distinct-path count table.
  def topPaths(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.api.Analytics.sessionize(
      Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000")),
      col("user_id"), col("ts_us"), col("event_id"), GapUs)
    val paths = sess.groupBy(col("user_id"), col("session_idx"))
      .agg(expr("concat_ws('>', transform(sort_array(collect_list(" +
        "struct(ts_us, event_id, event_type))), s -> s.event_type))").as("path"))
    val counts = paths.groupBy(col("path")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n").desc, col("path").asc)
    counts.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("path"), col("n"))
  }

  private val topPathsSql =
    """WITH e AS (
         SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
         FROM events),
       l AS (
         SELECT *, lag(ts_us) OVER (PARTITION BY user_id
           ORDER BY ts_us ASC, event_id ASC) AS prev
         FROM e),
       flagged AS (
         SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
                   THEN 1 ELSE 0 END AS new_s
         FROM l),
       sess AS (
         SELECT *, sum(new_s) OVER (PARTITION BY user_id
           ORDER BY ts_us ASC, event_id ASC
           ROWS UNBOUNDED PRECEDING) AS sid
         FROM flagged),
       paths AS (
         SELECT user_id, sid,
                string_agg(event_type, '>' ORDER BY ts_us ASC, event_id ASC)
                  AS path
         FROM sess GROUP BY 1, 2),
       counts AS (SELECT path, count(*) AS n FROM paths GROUP BY 1)
       SELECT rk, path, n FROM (
         SELECT path, n,
                row_number() OVER (ORDER BY n DESC, path ASC) AS rk
         FROM counts)
       WHERE rk <= 20"""

  // ---------------------------------------------------------------
  // 137. Kaplan–Meier survival curve over days-to-first-purchase
  // (right-censored at each user's last activity): per-user durations
  // are one bounded aggregation; the KM product Π(1 − d/n) runs as
  // exp(Σ ln) over the DISTINCT-duration table (a few hundred rows —
  // the bhAdjust-style bounded global window), never over raw events.
  def survivalKm(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts_ns")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts_ns"))).as("tp"),
        max(col("ts_ns")).as("tl"))
      .select(
        when(col("tp").isNotNull,
          expr("(tp - t0) div 86400000000000"))
          .otherwise(expr("(tl - t0) div 86400000000000")).as("duration_days"),
        col("tp").isNotNull.as("event"))
    val counts = perUser.groupBy(col("duration_days"))
      .agg(count(when(col("event"), lit(1))).as("d"),
        count(when(!col("event"), lit(1))).as("c"))
    val total = counts.agg(sum(col("d") + col("c")).as("__n_total"))
    val wOrd = Window.orderBy(col("duration_days").asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__n_total") - coalesce(sum(col("d") + col("c"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // d = n_risk (everyone at risk dies — only possible at the last
      // duration) would be ln(0): Spark ln returns NULL there and the
      // oracle engine raises, so both sides special-case survival = 0
      .withColumn("survival",
        r(when(col("d") === col("n_risk"), lit(0.0))
          .otherwise(exp(sum(when(col("d") === col("n_risk"), lit(0.0))
            .otherwise(log(lit(1.0) - col("d").cast("double") / col("n_risk"))))
            .over(wCum))), 6))
      .select(col("duration_days"), col("d").as("n_events"),
        col("c").as("n_censored"), col("n_risk"), col("survival"))
  }

  private val survivalKmSql =
    """WITH per_user AS (
         SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000000000
                ELSE (tl - t0) // 86400000000000 END AS duration_days,
                tp IS NOT NULL AS event
         FROM (
           SELECT user_id, min(epoch_ns(ts)) AS t0,
                  min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS tp,
                  max(epoch_ns(ts)) AS tl
           FROM events GROUP BY 1)),
       c AS (
         SELECT duration_days,
                count(CASE WHEN event THEN 1 END) AS d,
                count(CASE WHEN NOT event THEN 1 END) AS c
         FROM per_user GROUP BY 1),
       t AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM c),
       r AS (
         SELECT duration_days, d, c,
                n_total - coalesce(sum(d + c) OVER (ORDER BY duration_days ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
         FROM c, t)
       SELECT duration_days, d AS n_events, c AS n_censored,
              CAST(n_risk AS BIGINT) AS n_risk,
              round(CASE WHEN d = n_risk THEN 0.0 ELSE
                exp(sum(CASE WHEN d = n_risk THEN 0.0
                        ELSE ln(1.0 - CAST(d AS DOUBLE) / n_risk) END)
                OVER (ORDER BY duration_days ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END, 6)
                AS survival
       FROM r"""

  // ---------------------------------------------------------------
  // 340. Markov removal-effect attribution (Anderl et al. 2014) — the
  // DATA-DRIVEN multi-touch model beside #251's position-agnostic
  // linear split: build the first-order journey chain over 30-min-gap
  // session paths (START → channels → CONV at the first purchase /
  // NULL at path end), then credit each channel by how much the
  // chain's START→CONV absorption probability DROPS when that channel
  // is removed (transitions into it redirected to NULL — the standard
  // removal semantics). Scale shape: the fact-sized work is exactly
  // the #149 session-path aggregation + one (a,b) transition rollup;
  // everything after lives on the ≤(channels+3)² transition matrix.
  // The absorption solve runs as ONE array fold per removal variant
  // (the #93 EWMA device): 100 synchronous power iterations of
  // p ← M·p over the flattened matrix with a FIXED summation order,
  // on transition probs pre-rounded to 6 dp — both engines walk
  // bit-identical doubles, so every output column hash-checks. 100
  // iterations ≈ spectral-gap convergence well past 6 dp for session
  // paths (transient mass decays geometrically); the oracle replays
  // the identical iteration count either way.
  def markovAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val sess = graft.api.Analytics.sessionize(
      ev.withColumn("ts_us", expr("ts_ns div 1000")),
      col("user_id"), col("ts_us"), col("event_id"), GapUs)
    val paths = sess.groupBy(col("user_id"), col("session_idx"))
      .agg(expr("transform(sort_array(collect_list(struct(ts_us, event_id, " +
        "event_type))), x -> x.event_type)").as("p"))
      .localCheckpoint() // feeds transitions AND the conversion count
    val spaths = paths.select(expr(
      "CASE WHEN array_position(p, 'purchase') > 0 " +
        "THEN concat(array('START'), slice(p, 1, int(array_position(p, 'purchase')) - 1), array('CONV')) " +
        "ELSE concat(array('START'), p, array('NULL')) END").as("sp"))
    val pairs = spaths.select(explode(expr(
      "transform(sequence(1, size(sp) - 1), i -> " +
        "struct(element_at(sp, int(i)) AS a, element_at(sp, int(i) + 1) AS b))")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val wa = Window.partitionBy(col("a"))
    val probs = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .select(col("a"), col("b"),
        r(col("n").cast("double") / sum(col("n")).over(wa), 6).as("pr"))
      .localCheckpoint() // bounded (≤ states²); joined twice into cells
    val nConv = paths.agg(sum(when(expr("array_position(p, 'purchase') > 0"),
      1L).otherwise(0L)).as("n_conv"))
    val chans = ev.select(col("event_type").as("c"))
      .filter(col("c") =!= "purchase").distinct()
    val nch = chans.agg(count(lit(1)).cast("int").as("nc"))
    val chIdx = chans.select(col("c").as("st"),
      row_number().over(Window.orderBy(col("c"))).cast("int").as("sid"))
    val states = nch.select(lit("START").as("st"), lit(0).as("sid"))
      .unionByName(chIdx)
      .unionByName(nch.select(lit("CONV").as("st"), (col("nc") + 1).as("sid")))
      .unionByName(nch.select(lit("NULL").as("st"), (col("nc") + 2).as("sid")))
    val variants = nch.select(lit("FULL").as("rm"))
      .unionByName(chans.select(col("c").as("rm")))
    val s1 = states.select(col("st").as("a_st"), col("sid").as("sa"))
    val s2 = states.select(col("st").as("b_st"), col("sid").as("sb"))
    val cells = variants.crossJoin(s1).crossJoin(s2)
      .join(probs.select(col("a").as("a_st"), col("b").as("b_st"),
        col("pr").as("p0")), Seq("a_st", "b_st"), "left")
      .join(probs.select(col("a").as("__ra"), col("b").as("__rb"),
        col("pr").as("prm")),
        col("__ra") === col("a_st") && col("__rb") === col("rm") &&
          col("rm") =!= "FULL", "left")
      .select(col("rm"), col("sa"), col("sb"),
        when(col("a_st") === "CONV",
            when(col("b_st") === "CONV", 1.0).otherwise(0.0))
          .when(col("a_st") === "NULL",
            when(col("b_st") === "NULL", 1.0).otherwise(0.0))
          .when(col("a_st") === col("rm"),
            when(col("b_st") === "NULL", 1.0).otherwise(0.0))
          .when(col("b_st") === col("rm"), lit(0.0))
          .when(col("b_st") === "NULL",
            coalesce(col("p0"), lit(0.0)) + coalesce(col("prm"), lit(0.0)))
          .otherwise(coalesce(col("p0"), lit(0.0))).as("pr"))
    val mats = cells.groupBy(col("rm"))
      .agg(expr("transform(sort_array(collect_list(struct(sa * 1000 + sb AS k, " +
        "pr))), x -> x.pr)").as("mt"))
      .crossJoin(broadcast(nch))
    val pfin = mats.select(col("rm"), element_at(expr(
      "aggregate(sequence(1, 100), " +
        "transform(sequence(1, nc + 3), i -> IF(i = nc + 2, 1.0D, 0.0D)), " +
        "(acc, x) -> transform(sequence(1, nc + 3), s -> " +
        "aggregate(sequence(1, nc + 3), 0.0D, (aa, t) -> " +
        "aa + element_at(mt, int((s - 1) * (nc + 3) + t)) * element_at(acc, int(t)))))"),
      1).as("pconv"))
      .localCheckpoint() // ≤ channels+1 rows; consumed twice below
    val full = pfin.filter(col("rm") === "FULL")
      .select(col("pconv").as("__pf"))
    val res = pfin.filter(col("rm") =!= "FULL")
      .crossJoin(broadcast(full))
      .select(col("rm").as("channel"),
        r(lit(1.0) - col("pconv") / col("__pf"), 6).as("removal_effect"),
        col("__pf").as("__pc"))
    val tot = res.agg(expr("aggregate(transform(sort_array(collect_list(" +
      "struct(channel, removal_effect))), x -> x.removal_effect), 0.0D, " +
      "(a, b) -> a + b)").as("__sre"))
    res.crossJoin(broadcast(tot)).crossJoin(broadcast(nConv))
      .select(col("channel"), col("removal_effect"),
        r(col("removal_effect") / col("__sre"), 6).as("attribution_share"),
        r(col("removal_effect") / col("__sre") * col("n_conv"), 4)
          .as("attributed_conversions"),
        r(col("__pc"), 6).as("p_conv_full"))
  }

  // ---------------------------------------------------------------
  // 338. Nelson–Aalen cumulative hazard (Nelson 1972; Aalen 1978) —
  // the estimator dual of #137's Kaplan–Meier: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ
  // with variance Σ dᵢ/nᵢ² and the Fleming–Harrington survival
  // exp(−H) (the small-sample-safer curve — never hits an exact 0 the
  // way KM's product does when dᵢ = nᵢ). Same per-user duration
  // scaffold and distinct-duration bounded window as #137; both
  // engines accumulate in ascending-duration order so the fp sums are
  // IEEE-identical and every column hash-checks at 6 dp.
  def nelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts_ns")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts_ns"))).as("tp"),
        max(col("ts_ns")).as("tl"))
      .select(
        when(col("tp").isNotNull,
          expr("(tp - t0) div 86400000000000"))
          .otherwise(expr("(tl - t0) div 86400000000000")).as("duration_days"),
        col("tp").isNotNull.as("event"))
    val counts = perUser.groupBy(col("duration_days"))
      .agg(count(when(col("event"), lit(1))).as("d"),
        count(when(!col("event"), lit(1))).as("c"))
    val total = counts.agg(sum(col("d") + col("c")).as("__n_total"))
    val wOrd = Window.orderBy(col("duration_days").asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__n_total") - coalesce(sum(col("d") + col("c"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__h", sum(col("d").cast("double") / col("n_risk")).over(wCum))
      .select(col("duration_days"), col("d").as("n_events"),
        col("c").as("n_censored"), col("n_risk"),
        r(col("__h"), 6).as("cum_hazard"),
        r(exp(-col("__h")), 6).as("na_survival"),
        r(sum(col("d").cast("double") / (col("n_risk").cast("double") * col("n_risk")))
          .over(wCum), 6).as("hazard_var"))
  }

  /** Exact replay of markov_attribution: the same session paths,
    * truncated state chains, 6-dp-pre-rounded transition matrix, and
    * the SAME 100-iteration fixed-order power fold (list_reduce with a
    * prepended init — DuckDB's list_reduce types the accumulator as
    * the element type, hence the dummy p0 list to fold over). */
  private val markovAttributionSql =
    """WITH l AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                lag(epoch_us(ts)) OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
         FROM events),
       flagged AS (
         SELECT *, CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
                   THEN 1 ELSE 0 END AS new_s FROM l),
       sess AS (
         SELECT *, sum(new_s) OVER (PARTITION BY user_id
           ORDER BY ts_us ASC, event_id ASC ROWS UNBOUNDED PRECEDING) AS sid
         FROM flagged),
       paths AS (
         SELECT user_id, sid, list(event_type ORDER BY ts_us ASC, event_id ASC) AS p
         FROM sess GROUP BY 1, 2),
       spaths AS (
         SELECT CASE WHEN list_position(p, 'purchase') > 0
                THEN list_concat(list_prepend('START', p[1:list_position(p, 'purchase') - 1]), ['CONV'])
                ELSE list_concat(list_prepend('START', p), ['NULL']) END AS sp
         FROM paths),
       nconv AS (
         SELECT CAST(count(*) AS BIGINT) AS n_conv FROM paths
         WHERE list_position(p, 'purchase') > 0),
       pairs AS (
         SELECT sp[CAST(i AS INT)] AS a, sp[CAST(i AS INT) + 1] AS b
         FROM spaths, LATERAL unnest(generate_series(1, len(sp) - 1)) AS u(i)),
       tc AS (SELECT a, b, count(*) AS n FROM pairs GROUP BY 1, 2),
       probs AS (
         SELECT a, b, round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY a), 6) AS pr
         FROM tc),
       chans AS (SELECT DISTINCT event_type AS c FROM events WHERE event_type != 'purchase'),
       nch AS (SELECT CAST(count(*) AS INT) AS nc FROM chans),
       states AS (
         SELECT 'START' AS st, 0 AS sid
         UNION ALL SELECT c, CAST(row_number() OVER (ORDER BY c) AS INT) FROM chans
         UNION ALL SELECT 'CONV', nc + 1 FROM nch
         UNION ALL SELECT 'NULL', nc + 2 FROM nch),
       variants AS (SELECT 'FULL' AS rm UNION ALL SELECT c FROM chans),
       cells AS (
         SELECT v.rm, s1.sid AS sa, s2.sid AS sb,
           CASE
             WHEN s1.st = 'CONV' THEN CASE WHEN s2.st = 'CONV' THEN 1.0 ELSE 0.0 END
             WHEN s1.st = 'NULL' THEN CASE WHEN s2.st = 'NULL' THEN 1.0 ELSE 0.0 END
             WHEN s1.st = v.rm THEN CASE WHEN s2.st = 'NULL' THEN 1.0 ELSE 0.0 END
             WHEN s2.st = v.rm THEN 0.0
             WHEN s2.st = 'NULL' THEN coalesce(p0.pr, 0.0) + coalesce(prm.pr, 0.0)
             ELSE coalesce(p0.pr, 0.0)
           END AS pr
         FROM variants v
         CROSS JOIN states s1 CROSS JOIN states s2
         LEFT JOIN probs p0 ON p0.a = s1.st AND p0.b = s2.st
         LEFT JOIN probs prm ON prm.a = s1.st AND prm.b = v.rm AND v.rm != 'FULL'),
       mats AS (
         SELECT rm, list(CAST(pr AS DOUBLE) ORDER BY sa * 1000 + sb) AS mt
         FROM cells GROUP BY 1),
       pfin AS (
         SELECT rm,
           list_reduce(
             list_prepend(
               list_transform(generate_series(1, nc + 3), i ->
                 CASE WHEN i = nc + 2 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END),
               list_transform(generate_series(1, 100), x ->
                 list_transform(generate_series(1, nc + 3), i -> CAST(0.0 AS DOUBLE)))),
             (acc, x) -> list_transform(generate_series(1, nc + 3), s ->
               list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(generate_series(1, nc + 3), t ->
                     mt[CAST((s - 1) * (nc + 3) + t AS INT)] * acc[CAST(t AS INT)])),
                 (aa, bb) -> aa + bb)))[1] AS pconv
         FROM mats, nch),
       res AS (
         SELECT p.rm AS channel,
                round(1.0 - p.pconv / f.pconv, 6) AS removal_effect,
                f.pconv AS pc
         FROM pfin p, (SELECT pconv FROM pfin WHERE rm = 'FULL') f
         WHERE p.rm != 'FULL'),
       tot AS (
         SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(CAST(removal_effect AS DOUBLE) ORDER BY channel)),
                  (a, b) -> a + b) AS sre
         FROM res)
       SELECT channel, removal_effect,
              round(removal_effect / sre, 6) AS attribution_share,
              round(removal_effect / sre * n_conv, 4) AS attributed_conversions,
              round(pc, 6) AS p_conv_full
       FROM res, tot, nconv"""

  private val nelsonAalenSql =
    """WITH per_user AS (
         SELECT CASE WHEN tp IS NOT NULL THEN (tp - t0) // 86400000000000
                ELSE (tl - t0) // 86400000000000 END AS duration_days,
                tp IS NOT NULL AS event
         FROM (
           SELECT user_id, min(epoch_ns(ts)) AS t0,
                  min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS tp,
                  max(epoch_ns(ts)) AS tl
           FROM events GROUP BY 1)),
       c AS (
         SELECT duration_days,
                count(CASE WHEN event THEN 1 END) AS d,
                count(CASE WHEN NOT event THEN 1 END) AS c
         FROM per_user GROUP BY 1),
       t AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM c),
       r AS (
         SELECT duration_days, d, c,
                n_total - coalesce(sum(d + c) OVER (ORDER BY duration_days ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
         FROM c, t)
       SELECT duration_days, d AS n_events, c AS n_censored,
              CAST(n_risk AS BIGINT) AS n_risk,
              round(sum(CAST(d AS DOUBLE) / n_risk) OVER w, 6) AS cum_hazard,
              round(exp(-sum(CAST(d AS DOUBLE) / n_risk) OVER w), 6) AS na_survival,
              round(sum(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk)) OVER w, 6)
                AS hazard_var
       FROM r
       WINDOW w AS (ORDER BY duration_days ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""

  // ---------------------------------------------------------------
  // 187. complete-grid + LOCF fill (tidyr::complete + fill, the
  // dense-time-series materialization): per user, the full hour grid
  // over the user's active span; hours with no event are FILLED with
  // the last observed value carried forward (within-hour pick = latest
  // by (ts, event_id), a total order). Scale: the grid explodes to
  // Σ span-hours rows (bounded: users × max-span), the LOCF is one
  // ordered window per user — same shuffle the per-user ops already
  // pay; no cross-user work.
  def timeGridFill(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts_ns"),
        expr("ts_ns div 3600000000000").as("h"))
    // r15: last-in-hour is a pure argmax — max(struct(ts_ns, event_id,
    // value)) reproduces the (ts desc, event_id desc) rank-1 row with
    // map-side partial aggregation instead of a window sort
    val lastInHour = ev.groupBy(col("user_id"), col("h"))
      .agg(max(struct(col("ts_ns"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("h"), col("m.value").as("v"))
    // r16 (guide §2.4 — remove the grid-sized shuffle outright): the
    // LOCF fill is per-SEGMENT constant, so the dense grid never needs
    // a window sort. Consecutive non-null observed hours bound each
    // segment (one SMALL per-user lead window over observed rows); the
    // grid rows then stream out of a per-segment sequence explode with
    // the carried value attached — zero exchanges at grid size. A
    // null-valued observed hour is output-equivalent to an unobserved
    // one (flag true, LOCF skips it — `last(ignoreNulls)` semantics),
    // so segments key on NON-NULL observations and hours before the
    // first non-null observation ride a separate null-valued leading
    // range (empty whenever `value` has no nulls, as in this corpus).
    val span = ev.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val nn = lastInHour.filter(col("v").isNotNull)
    val wSeg = Window.partitionBy(col("user_id")).orderBy(col("h"))
    val segs = nn
      .withColumn("hn", lead(col("h"), 1).over(wSeg))
      .join(broadcast(span.select(col("user_id"), col("h1"))), "user_id")
    val segRows = segs
      .select(col("user_id"), col("h"), col("v"),
        explode(expr("sequence(h, coalesce(hn - 1, h1))")).as("hour"))
      .select(col("user_id"), col("hour").as("hour_idx"),
        (col("hour") =!= col("h")).as("filled"),
        r(col("v"), 6).as("value_filled"))
    val firsts = nn.groupBy(col("user_id")).agg(min(col("h")).as("fh"))
    val leadRows = span.join(firsts, Seq("user_id"), "left")
      .filter(col("fh").isNull || col("h0") < col("fh"))
      .select(col("user_id"),
        explode(expr("sequence(h0, coalesce(fh - 1, h1))")).as("hour"))
      .select(col("user_id"), col("hour").as("hour_idx"),
        lit(true).as("filled"), lit(null).cast("double").as("value_filled"))
    segRows.unionByName(leadRows)
  }

  private val timeGridFillSql =
    """WITH ev AS (
         SELECT user_id, event_id, value, epoch_ns(ts) AS tn,
                epoch_ns(ts) // 3600000000000 AS h
         FROM events),
       last_in AS (
         SELECT user_id, h, value AS v FROM (
           SELECT user_id, h, value,
                  row_number() OVER (PARTITION BY user_id, h
                    ORDER BY tn DESC, event_id DESC) AS rk
           FROM ev)
         WHERE rk = 1),
       span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY 1),
       grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM span),
       j AS (SELECT g.user_id, g.h, l.v
             FROM grid g LEFT JOIN last_in l ON g.user_id = l.user_id AND g.h = l.h)
       SELECT user_id, h AS hour_idx, (v IS NULL) AS filled,
              round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                AS value_filled
       FROM j"""

  // ---------------------------------------------------------------
  // 282. linear interpolation over the dense hour grid — the
  // zoo::na.approx twin of #187's LOCF fill (sensor/metric gap repair
  // where carry-forward biases a trend): per user, missing hours get
  // vp + (vn−vp)·(h−hp)/(hn−hp) between the bracketing observed
  // values. The grid spans [min h, max h] per user, so every missing
  // point has both brackets by construction. Two per-user windows
  // (forward + reverse LOCF of value and hour); the interpolation is
  // one shared-IEEE expression, identical tree in the oracle.
  def timeGridInterp(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"), col("ts_ns"),
        expr("ts_ns div 3600000000000").as("h"))
    // r15: last-in-hour is a pure argmax — max(struct(ts_ns, event_id,
    // value)) reproduces the (ts desc, event_id desc) rank-1 row with
    // map-side partial aggregation instead of a window sort
    val lastInHour = ev.groupBy(col("user_id"), col("h"))
      .agg(max(struct(col("ts_ns"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("h"), col("m.value").as("v"))
    // r16 (guide §2.4 — remove the grid-sized shuffle outright, the
    // timeGridFill segment shape): between two consecutive non-null
    // observed hours the interpolation brackets are the SEGMENT
    // endpoints, so the dense grid never needs the forward+reverse
    // window sorts the r15 shape paid (one exchange + two grid-size
    // sorts). One small per-user lead window over observed rows builds
    // (hp=h, vp=v, hn, vn); the grid rows stream out of a per-segment
    // sequence explode with the interpolation computed per row — the
    // SAME IEEE tree vp + (vn - vp) * (h - hp) / (hn - hp) over the
    // same inputs, so values are bit-identical. Hours past the last
    // bracket (vn missing) and before the first non-null observation
    // are null exactly as the window form produced (null vp or vn
    // propagates through the arithmetic).
    val span = ev.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val nn = lastInHour.filter(col("v").isNotNull)
    val wSeg = Window.partitionBy(col("user_id")).orderBy(col("h"))
    val segs = nn
      .withColumn("hn", lead(col("h"), 1).over(wSeg))
      .withColumn("vn", lead(col("v"), 1).over(wSeg))
      .join(broadcast(span.select(col("user_id"), col("h1"))), "user_id")
    val segRows = segs
      .select(col("user_id"), col("h"), col("v"), col("hn"), col("vn"),
        explode(expr("sequence(h, coalesce(hn - 1, h1))")).as("hour"))
      .select(col("user_id"), col("hour").as("hour_idx"),
        (col("hour") =!= col("h")).as("interpolated"),
        // UNROUNDED (the §5 exact-rational rule): both engines build
        // the value from the same IEEE tree over the same inputs, and
        // interpolated values land on exact decimal midpoints where a
        // 6dp round is what DIVERGES (HALF_UP vs away-from-zero)
        when(col("hour") === col("h"), col("v"))
          .otherwise(col("v") + (col("vn") - col("v")) * (col("hour") - col("h"))
            / (col("hn") - col("h"))).as("value_interp"))
    val firsts = nn.groupBy(col("user_id")).agg(min(col("h")).as("fh"))
    val leadRows = span.join(firsts, Seq("user_id"), "left")
      .filter(col("fh").isNull || col("h0") < col("fh"))
      .select(col("user_id"),
        explode(expr("sequence(h0, coalesce(fh - 1, h1))")).as("hour"))
      .select(col("user_id"), col("hour").as("hour_idx"),
        lit(true).as("interpolated"), lit(null).cast("double").as("value_interp"))
    segRows.unionByName(leadRows)
  }

  private val timeGridInterpSql =
    """WITH ev AS (
         SELECT user_id, event_id, value, epoch_ns(ts) AS tn,
                epoch_ns(ts) // 3600000000000 AS h
         FROM events),
       last_in AS (
         SELECT user_id, h, value AS v FROM (
           SELECT user_id, h, value,
                  row_number() OVER (PARTITION BY user_id, h
                    ORDER BY tn DESC, event_id DESC) AS rk
           FROM ev)
         WHERE rk = 1),
       span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY 1),
       grid AS (SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM span),
       j AS (SELECT g.user_id, g.h, l.v
             FROM grid g LEFT JOIN last_in l ON g.user_id = l.user_id AND g.h = l.h),
       br AS (
         SELECT user_id, h, v,
                last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                  OVER wb AS hp,
                last_value(v IGNORE NULLS) OVER wb AS vp,
                last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                  OVER wf AS hn,
                last_value(v IGNORE NULLS) OVER wf AS vn
         FROM j
         WINDOW wb AS (PARTITION BY user_id ORDER BY h ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wf AS (PARTITION BY user_id ORDER BY h DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT user_id, h AS hour_idx, (v IS NULL) AS interpolated,
              CASE WHEN v IS NOT NULL THEN v
                   ELSE vp + (vn - vp) * (h - hp) / (hn - hp) END
                AS value_interp
       FROM br"""

  // ---------------------------------------------------------------
  // 283. Theil–Sen robust slope per event type over the daily count
  // series — the magnitude to #244's Mann–Kendall direction (the
  // standard pairing: MK says "is there a monotonic trend", Theil–Sen
  // says "how steep", both outlier-immune): median of all pairwise
  // slopes (x_j−x_i)/(day_j−day_i). Day count per type is
  // retention-window-bounded, so the pair self-join is ≤ |days|²
  // rows per type — a bounded scaffold, not a fact join. Slopes are
  // one integer/integer division each; the median interpolates the
  // two middle order statistics identically in both engines (the
  // group_quantiles percentile device).
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // both sides of the pair join
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type")
          && col("b.day") > col("a.day"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.x") - col("a.x")).cast("double")
          / (col("b.day") - col("a.day")).cast("double")).as("slope"))
    val nd = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        r(expr("percentile(slope, 0.5)"), 6).as("slope_per_day"))
      .join(nd, "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"), col("slope_per_day"))
  }

  private val theilSenSql =
    """WITH daily AS MATERIALIZED (
         SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                count(*) AS x
         FROM events GROUP BY 1, 2),
       pairs AS (
         SELECT a.event_type,
                CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND b.day > a.day),
       nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
       SELECT p.event_type, n.n_days, CAST(count(*) AS BIGINT) AS n_pairs,
              round(quantile_cont(p.slope, 0.5), 6) AS slope_per_day
       FROM pairs p JOIN nd n USING (event_type)
       GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 295. Hodges–Lehmann location estimate per event type over the
  // daily count series — the robust LEVEL to #283's robust SLOPE
  // (median of Walsh averages (x_i+x_j)/2 over all i ≤ j; the
  // estimator behind the Wilcoxon signed-rank CI, ~95% efficient at
  // the normal yet 0%-breakdown-free): same |days|²-bounded pair
  // scaffold as theil_sen (self-pairs included per the one-sample
  // definition), same cross-engine midpoint-interpolated median.
  def hodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // both sides of the Walsh-pair join
    val walsh = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type")
          && col("b.day") >= col("a.day"))
      .select(col("a.event_type").as("event_type"),
        ((col("a.x") + col("b.x")) / lit(2.0)).as("w"))
    val nd = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), round(avg(col("x")), 6).as("mean_daily"))
    walsh.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_walsh"),
        round(expr("percentile(w, 0.5)"), 6).as("hl_location"))
      .join(nd, "event_type")
      .select(col("event_type"), col("n_days"), col("n_walsh"),
        col("hl_location"), col("mean_daily"))
  }

  private val hodgesLehmannSql =
    """WITH daily AS MATERIALIZED (
         SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                count(*) AS x
         FROM events GROUP BY 1, 2),
       walsh AS (
         SELECT a.event_type, (a.x + b.x) / 2.0 AS w
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND b.day >= a.day),
       nd AS (
         SELECT event_type, count(*) AS n_days,
                round(avg(x), 6) AS mean_daily
         FROM daily GROUP BY 1)
       SELECT w.event_type, n.n_days, CAST(count(*) AS BIGINT) AS n_walsh,
              round(quantile_cont(w.w, 0.5), 6) AS hl_location,
              n.mean_daily
       FROM walsh w JOIN nd n USING (event_type)
       GROUP BY 1, 2, 5"""

  // ---------------------------------------------------------------
  // 292. session gap-parameter sweep — the tuning table behind #45's
  // fixed 30-minute rule (the third member of the parameter-sweep
  // family with #289/#290: pick the knee where session counts
  // stabilize): for gap thresholds 10/30/60 min, global session
  // counts, mean events/session and mean session duration. One
  // per-user ordered window computes the inter-event gaps once; each
  // threshold is a different integer cut over the SAME gap column —
  // three aggregations, one sort.
  def sessionGapSweep(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .localCheckpoint() // re-cut three times
    Seq(10L, 30L, 60L).map { gapMin =>
      val thresh = gapMin * 60L * 1000000L
      val wS = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = ev
        .withColumn("brk",
          when(col("gap_us").isNull || col("gap_us") > thresh, 1L).otherwise(0L))
        .withColumn("sid", sum(col("brk")).over(wS))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_ev"),
          (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
      sess.agg(count(lit(1)).as("ns"),
          sum(col("n_ev")).as("te"), sum(col("dur_us")).as("td"))
        .select(lit(gapMin).as("gap_minutes"), col("ns").as("n_sessions"),
          round(col("te") / col("ns").cast("double"), 6).as("avg_events"),
          round(col("td") / col("ns").cast("double"), 4).as("avg_duration_us"))
    }.reduce(_ unionByName _)
  }

  private val sessionGapSweepSql = {
    val perG = Seq(10L, 30L, 60L).map { gapMin =>
      val thresh = gapMin * 60L * 1000000L
      s"""SELECT CAST($gapMin AS BIGINT) AS gap_minutes,
                 count(*) AS n_sessions,
                 round(sum(n_ev) / CAST(count(*) AS DOUBLE), 6) AS avg_events,
                 round(sum(dur_us) / CAST(count(*) AS DOUBLE), 4) AS avg_duration_us
          FROM (
            SELECT user_id, sid, count(*) AS n_ev,
                   max(ts_us) - min(ts_us) AS dur_us
            FROM (
              SELECT user_id, ts_us,
                     sum(CASE WHEN gap_us IS NULL OR gap_us > $thresh
                         THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id
                             ORDER BY ts_us ASC, event_id ASC
                             ROWS UNBOUNDED PRECEDING) AS sid
              FROM gse)
            GROUP BY 1, 2)"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH gse AS MATERIALIZED (
         SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts) ASC, event_id ASC) AS gap_us
         FROM events)
       $perG"""
  }

  // ---------------------------------------------------------------
  // 285. seasonality-adjusted anomaly screen — #280 put to work (a
  // Saturday spike that is normal FOR Saturdays must not page anyone):
  // per (event_type, day), the expected count is that type's mean for
  // the day's weekday (integer sums: dow_total / dow_days), and the
  // anomaly flags are EXACT integer cross-multiplications
  // (2·n·dow_days < dow_total → low, n·dow_days > 2·dow_total → high)
  // — no fp in the decision, ratios only in the reported columns.
  def seasonalAdjustedAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", (col("day") + 3) % 7)
      .localCheckpoint() // re-joined against its own dow rollup
    val byDow = daily.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("dow_total"), count(lit(1)).as("dow_days"))
    daily.join(byDow, Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("dow"), col("n"),
        round(col("dow_total") / col("dow_days").cast("double"), 6).as("expected"),
        round(col("n") * col("dow_days") / col("dow_total").cast("double"), 6).as("ratio"),
        (col("n") * col("dow_days") > col("dow_total") * 2).as("anomaly_high"),
        (col("n") * col("dow_days") * 2 < col("dow_total")).as("anomaly_low"))
  }

  private val seasonalAdjustedAnomalySql =
    """WITH daily AS MATERIALIZED (
         SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                count(*) AS n
         FROM events GROUP BY 1, 2),
       dd AS (SELECT *, (day + 3) % 7 AS dow FROM daily),
       by_dow AS (
         SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS dow_total,
                count(*) AS dow_days
         FROM dd GROUP BY 1, 2)
       SELECT d.event_type, d.day, d.dow, d.n,
              round(b.dow_total / CAST(b.dow_days AS DOUBLE), 6) AS expected,
              round(d.n * b.dow_days / CAST(b.dow_total AS DOUBLE), 6) AS ratio,
              (d.n * b.dow_days > b.dow_total * 2) AS anomaly_high,
              (d.n * b.dow_days * 2 < b.dow_total) AS anomaly_low
       FROM dd d JOIN by_dow b USING (event_type, dow)"""

  // ---------------------------------------------------------------
  // 286. retention decay fit — the model on top of #80's cohort
  // triangle (every growth plan quotes a half-life, not a table):
  // pooled day-age retention with the triangle correction (an age's
  // denominator counts only cohorts OLD enough to observe it), then
  // ln(rate) ~ age OLS over ages 1.. via the exact regr_* aggregates
  // → decay rate λ/day and half-life ln2/λ. Rates are integer/integer
  // divisions; the 1-row max-day scalar rides a broadcast attach.
  def retentionDecayFit(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      .localCheckpoint() // actives join + eligibility scaffold
    val maxDay = ev.agg(max(col("day"))).collect()(0).getLong(0)
    val actives = ev.join(cohorts, "user_id")
      .groupBy((col("day") - col("cohort_day")).as("age"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val eligible = cohorts
      .groupBy(col("cohort_day")).agg(count(lit(1)).as("sz"))
      .select(explode(expr(s"sequence(0, $maxDay - cohort_day)")).as("age"), col("sz"))
      .groupBy(col("age")).agg(sum(col("sz")).as("n_eligible"))
    val rates = actives.join(eligible, "age")
      .select(col("age"), col("n_active"), col("n_eligible"),
        (col("n_active") / col("n_eligible").cast("double")).as("rate"))
    rates.filter(col("age") > 0 && col("n_active") > 0)
      .agg(count(lit(1)).as("n_ages"),
        regr_slope(log(col("rate")), col("age").cast("double")).as("sl"),
        regr_r2(log(col("rate")), col("age").cast("double")).as("r2u"))
      // half-life from the UNROUNDED slope on both engines; round last
      .select(col("n_ages"), round(col("sl"), 6).as("ln_slope"),
        round(col("r2u"), 6).as("r2"),
        round(when(col("sl") < 0, -log(lit(2.0)) / col("sl")), 6)
          .as("half_life_days"))
  }

  private val retentionDecayFitSql =
    """WITH ev AS MATERIALIZED (
         SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
       cohorts AS MATERIALIZED (
         SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
       maxd AS (SELECT max(day) AS md FROM ev),
       actives AS (
         SELECT e.day - c.cohort_day AS age, count(DISTINCT e.user_id) AS n_active
         FROM ev e JOIN cohorts c USING (user_id) GROUP BY 1),
       sizes AS (SELECT cohort_day, count(*) AS sz FROM cohorts GROUP BY 1),
       eligible AS (
         SELECT t.age, CAST(sum(s.sz) AS BIGINT) AS n_eligible
         FROM sizes s, maxd,
         LATERAL (SELECT unnest(generate_series(0, md - s.cohort_day)) AS age) t
         GROUP BY 1),
       rates AS (
         SELECT a.age, a.n_active, e.n_eligible,
                a.n_active / CAST(e.n_eligible AS DOUBLE) AS rate
         FROM actives a JOIN eligible e USING (age))
       SELECT count(*) AS n_ages,
              round(regr_slope(ln(rate), CAST(age AS DOUBLE)), 6) AS ln_slope,
              round(regr_r2(ln(rate), CAST(age AS DOUBLE)), 6) AS r2,
              round(CASE WHEN regr_slope(ln(rate), CAST(age AS DOUBLE)) < 0
                    THEN -ln(2.0) / regr_slope(ln(rate), CAST(age AS DOUBLE)) END, 6)
                AS half_life_days
       FROM rates WHERE age > 0 AND n_active > 0"""

  // ---------------------------------------------------------------
  // 200. event debounce: telemetry-cleaning primitive — within each
  // (user, event_type) stream, keep only events ≥ 5 s after their
  // predecessor (the first event of every burst survives; retries /
  // double-clicks / duplicate beacons are dropped). One window pass on
  // the (user, type) shuffle; the audit output is all-integer counts +
  // one exact division, hash-exact.
  def eventDebounce(s: SparkSession, dir: String): DataFrame = {
    val DebounceUs = 5L * 1000 * 1000
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .withColumn("keep",
        col("prev").isNull || col("ts_us") - col("prev") >= DebounceUs)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("drop_frac",
        r((col("n_raw") - col("n_kept")) / col("n_raw").cast("double"), 6))
  }

  private val eventDebounceSql =
    """WITH e AS (SELECT user_id, event_type, event_id,
                         epoch_us(ts) AS ts_us FROM events),
       flagged AS (
         SELECT user_id, event_type,
                CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w >= 5000000
                     THEN 1 ELSE 0 END AS keep
         FROM e
         WINDOW w AS (PARTITION BY user_id, event_type
                      ORDER BY ts_us ASC, event_id ASC))
       SELECT user_id, event_type, count(*) AS n_raw,
              CAST(sum(keep) AS BIGINT) AS n_kept,
              round((count(*) - sum(keep)) / CAST(count(*) AS DOUBLE), 6)
                AS drop_frac
       FROM flagged GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 201. interval-union active time: each event opens a 30-min activity
  // window; per user, the total UNION length of those (overlapping)
  // intervals — the sweep-line classic, as one ordered window pass:
  // sorted by start, each interval contributes
  // max(0, end − max(start, max-prev-end)); segments open where start
  // exceeds every previous end. All epoch-micro integers → hash-exact.
  def activeTimeUnion(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("end_us", col("ts_us") + GapUs)
      .withColumn("pmax", max(col("end_us")).over(wPrev))
      .withColumn("contrib", greatest(lit(0L),
        col("end_us") - greatest(col("ts_us"), coalesce(col("pmax"), lit(Long.MinValue)))))
      .withColumn("is_new",
        (col("pmax").isNull || col("ts_us") > col("pmax")).cast("long"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("is_new")).as("n_segments"),
        sum(col("contrib")).as("active_us"))
  }

  private val activeTimeUnionSql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                         epoch_us(ts) + 1800000000 AS end_us FROM events),
       sw AS (
         SELECT user_id,
                max(end_us) OVER (PARTITION BY user_id
                  ORDER BY ts_us ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
                ts_us, end_us
         FROM e)
       SELECT user_id, count(*) AS n_events,
              CAST(sum(CASE WHEN pmax IS NULL OR ts_us > pmax
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
              CAST(sum(greatest(0, end_us - greatest(ts_us,
                coalesce(pmax, -9223372036854775808)))) AS BIGINT) AS active_us
       FROM sw GROUP BY 1"""

  // ---------------------------------------------------------------
  // 204. CUSUM level-shift detection per event type (Page 1954): over
  // the hourly count series, the running sum of deviations from the
  // series mean; the max |CUSUM| (standardized by sd·√n, the
  // KS-style 95% cut at 1.358) locates the change point. Counts are
  // exact integers and the mean is ONE division, so every deviation
  // term is bit-identical cross-engine and the sequential running sum
  // replays exactly — argmax needs no fp tolerance. One bounded
  // (type, hour) aggregation; the per-type series windows are
  // dimension-sized.
  def cusumShift(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 3600000000000").as("h"))
      .agg(count(lit(1)).as("x"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(sum(col("x")).as("tot"), count(lit(1)).as("nb"),
        var_pop(col("x")).as("s2"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly.join(broadcast(stats), "event_type")
      .withColumn("dev", col("x") - col("tot") / col("nb"))
      .withColumn("cusum", sum(col("dev")).over(w))
      .groupBy(col("event_type"))
      .agg(first(col("nb")).as("n_buckets"),
        first(col("s2")).as("s2"),
        max(struct(abs(col("cusum")).as("a"), (-col("h")).as("nh"),
          col("h").as("h"))).as("m"))
      .select(col("event_type"), col("n_buckets"),
        col("m.h").as("cp_hour"),
        r(col("m.a") / (sqrt(col("s2")) * sqrt(col("n_buckets"))), 4).as("shift_stat"),
        (col("m.a") / (sqrt(col("s2")) * sqrt(col("n_buckets"))) > 1.358).as("shifted"))
  }

  private val cusumShiftSql =
    """WITH hourly AS (
         SELECT event_type, epoch_ns(ts) // 3600000000000 AS h,
                count(*) AS x
         FROM events GROUP BY 1, 2),
       st AS (
         SELECT event_type, sum(x) AS tot, count(*) AS nb,
                var_pop(x) AS s2
         FROM hourly GROUP BY 1),
       cs AS (
         SELECT h.event_type, h.h,
                sum(h.x - st.tot / st.nb) OVER (PARTITION BY h.event_type
                  ORDER BY h.h ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
         FROM hourly h JOIN st USING (event_type)),
       mx AS (
         SELECT event_type, h, abs(cusum) AS a,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY abs(cusum) DESC, h ASC) AS rk
         FROM cs)
       SELECT s.event_type, s.nb AS n_buckets, m.h AS cp_hour,
              round(m.a / (sqrt(s.s2) * sqrt(s.nb)), 4) AS shift_stat,
              m.a / (sqrt(s.s2) * sqrt(s.nb)) > 1.358 AS shifted
       FROM mx m JOIN st s USING (event_type) WHERE m.rk = 1"""

  // ---------------------------------------------------------------
  // 226. activity islands (gaps-and-islands): per user, maximal runs of
  // CONSECUTIVE active days — the warehouse streak/churn primitive the
  // 30-min sessionizer (#45) is the intraday cousin of. Day index is
  // the integer UTC epoch-day (exact on both engines); the island key
  // is the classic day − row_number() constant, so one shuffle on
  // user_id drives both windows and the island rollup rides the same
  // partitioning. Pure integers end to end.
  def activityIslands(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
    val isl = days.withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
        count(lit(1)).as("n_days"))
    val wi = Window.partitionBy(col("user_id")).orderBy(col("start_day").asc)
    isl.withColumn("island_idx", row_number().over(wi).cast("long"))
      .select(col("user_id"), col("island_idx"), col("start_day"),
        col("end_day"), col("n_days"))
  }

  private val activityIslandsSql =
    """WITH days AS (
         SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
         FROM events),
       isl AS (
         SELECT user_id,
                day - row_number() OVER (PARTITION BY user_id ORDER BY day ASC) AS grp,
                day
         FROM days),
       agg AS (
         SELECT user_id, grp, min(day) AS start_day, max(day) AS end_day,
                count(*) AS n_days
         FROM isl GROUP BY 1, 2)
       SELECT user_id,
              row_number() OVER (PARTITION BY user_id ORDER BY start_day ASC) AS island_idx,
              start_day, end_day, n_days
       FROM agg"""

  // ---------------------------------------------------------------
  // 227. SCD Type-2 history build — the dimension-table twin of
  // latest_per_key (#84, the SCD-1 snapshot): collapse each user's
  // event-type stream into change intervals [valid_from, valid_to) with
  // an is_current flag. Change points come from lag() over the
  // (ts, event_id) total order; valid_to from lead() over the change
  // points — both windows plus the version counter ride ONE shuffle on
  // user_id. Timestamps stay exact epoch-nanos BIGINTs.
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").asc, col("event_id").asc)
    val changes = Tables.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val wc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").asc, col("event_id").asc)
    changes
      .withColumn("version", row_number().over(wc).cast("long"))
      .withColumn("valid_to_ns", lead(col("ts_ns"), 1).over(wc))
      .select(col("user_id"), col("version"), col("event_type").as("state"),
        col("ts_ns").as("valid_from_ns"), col("valid_to_ns"),
        col("valid_to_ns").isNull.as("is_current"))
  }

  private val scd2HistorySql =
    """WITH ord AS (
         SELECT user_id, epoch_ns(ts) AS tn, event_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY epoch_ns(ts) ASC, event_id ASC) AS prev
         FROM events),
       chg AS (
         SELECT user_id, tn, event_id, event_type
         FROM ord WHERE prev IS NULL OR prev != event_type)
       SELECT user_id,
              row_number() OVER w AS version,
              event_type AS state,
              tn AS valid_from_ns,
              lead(tn) OVER w AS valid_to_ns,
              lead(tn) OVER w IS NULL AS is_current
       FROM chg
       WINDOW w AS (PARTITION BY user_id ORDER BY tn ASC, event_id ASC)"""

  // ---------------------------------------------------------------
  // 250. autocorrelation function (lag 1..7) per event type over the
  // daily count series — the seasonality/persistence screen next to
  // Mann-Kendall (#244 asks "is there a trend", this asks "how does
  // today predict day t+k"). The ACF estimator r_k = c_k/c_0 is
  // rearranged so BOTH sums are integers before the one division:
  // n²·n·c_k = n²·A_k − n·S·(H_k+T_k) + (n−k)·S² with A_k = Σx_d·x_{d+k},
  // H/T the head/tail sums, S/n the series total/length — no
  // mean-subtracted double accumulates. Series index = dense
  // row_number per type (gap-tolerant), pairs from ONE banded
  // self-join (idx+1..idx+7); everything rides the per-type shuffle.
  // Overflow envelope: n²·A_k ≲ 8e18 needs daily counts ≤ ~3e5 at
  // n=60 — rescale to weekly buckets beyond that.
  private val AcfMaxLag = 7

  def acfDaily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("idx", (row_number().over(w) - 1).cast("long"))
      .localCheckpoint() // pair join both sides + totals
    // BIGINT overflow envelope, asserted not narrated (r6 ADVICE 4):
    // the rearranged estimator's largest term is n²·A_k ≤ n³·xmax²;
    // past it non-ANSI Spark wraps silently while DuckDB raises —
    // fail loudly here from a bounded driver scalar over the
    // checkpointed (|types|×|days|)-row series. Beyond the envelope,
    // rescale to weekly buckets (the documented swap).
    val env = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("x")).as("xm"))
      .agg(max(col("n")).as("n"), max(col("xm")).as("xm")).collect()(0)
    val (envN, envX) = (env.getLong(0).toDouble, env.getLong(1).toDouble)
    require(envN * envN * envN * envX * envX < 9e18,
      s"acfDaily: n=${envN.toLong} days x max daily count ${envX.toLong} " +
        "exceeds the BIGINT envelope (n^3*xmax^2 >= 2^63); use weekly buckets")
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("a0"))
    val pairs = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type")
          && col("b.idx") > col("a.idx")
          && col("b.idx") <= col("a.idx") + AcfMaxLag)
      .select(col("a.event_type").as("event_type"),
        (col("b.idx") - col("a.idx")).as("k"),
        col("a.x").as("xa"), col("b.x").as("xb"))
      .groupBy(col("event_type"), col("k"))
      .agg(sum(col("xa") * col("xb")).as("ak"),
        sum(col("xa")).as("hk"), sum(col("xb")).as("tk"))
    pairs.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("k"), col("n").as("n_days"),
        round(
          (col("n") * col("n") * col("ak") - col("n") * col("s") * (col("hk") + col("tk"))
            + (col("n") - col("k")) * col("s") * col("s"))
            / (col("n") * col("n") * col("a0") - col("n") * col("s") * col("s")).cast("double"),
          6).as("acf"))
  }

  private val acfDailySql =
    s"""WITH daily AS MATERIALIZED (
         SELECT event_type, day, x,
                row_number() OVER (PARTITION BY event_type ORDER BY day ASC) - 1 AS idx
         FROM (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                      count(*) AS x
               FROM events GROUP BY 1, 2)),
       tot AS (
         SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
                CAST(sum(x * x) AS BIGINT) AS a0
         FROM daily GROUP BY 1),
       pairs AS (
         SELECT a.event_type, b.idx - a.idx AS k,
                CAST(sum(a.x * b.x) AS BIGINT) AS ak,
                CAST(sum(a.x) AS BIGINT) AS hk,
                CAST(sum(b.x) AS BIGINT) AS tk
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type
          AND b.idx > a.idx AND b.idx <= a.idx + $AcfMaxLag
         GROUP BY 1, 2)
       SELECT p.event_type, p.k, t.n AS n_days,
              round((t.n * t.n * p.ak - t.n * t.s * (p.hk + p.tk)
                     + (t.n - p.k) * t.s * t.s)
                    / CAST(t.n * t.n * t.a0 - t.n * t.s * t.s AS DOUBLE), 6) AS acf
       FROM pairs p JOIN tot t USING (event_type)"""

  // ---------------------------------------------------------------
  // 251. linear multi-touch attribution (the #13 as-of join was
  // last-touch; this splits credit): each purchase's value divides
  // equally across the user's clicks in the trailing hour; the
  // "channel" is the click's props.k mod 5 (the #77 JSON-extraction
  // device); purchases with no qualifying click credit 'direct'. The
  // pair join shuffles on user_id with the time predicate screening
  // inside the partition (per-user bounded; the #49 binned equi-join
  // is the shape at hotter keys).
  def linearAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("ts_ns").as("pt"), col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_ns").as("ct"),
        (get_json_object(col("props"), "$.k").cast("long") % 5).as("channel"))
    // the window predicate lives IN the join condition: a purchase with
    // clicks but none in-window must still surface (one null row →
    // 'direct'), which a post-join filter would drop
    val touched = purchases.as("p").join(clicks.as("c"),
      col("p.user_id") === col("c.user_id")
        && col("c.ct") <= col("p.pt")
        && col("c.ct") > col("p.pt") - lit(3600L * 1000 * 1000 * 1000),
      "left")
      .select(col("p.pid").as("pid"), col("p.value").as("value"),
        col("c.ct").as("ct"), col("c.channel").as("channel"))
    val perP = touched.groupBy(col("pid"), col("value"))
      .agg(sum(when(col("ct").isNotNull, 1L).otherwise(0L)).as("n_touch"))
    val shares = touched.filter(col("ct").isNotNull)
      .join(perP.select(col("pid"), col("n_touch")), "pid")
      .filter(col("n_touch") > 0)
      .select(concat(lit("ch"), col("channel")).as("channel"),
        (col("value") / col("n_touch")).as("share"))
      .unionByName(perP.filter(col("n_touch") === 0)
        .select(lit("direct").as("channel"), col("value").as("share")))
    shares.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("share")), 4).as("attributed_value"))
  }

  private val linearAttributionSql =
    """WITH p AS (
         SELECT user_id, event_id AS pid, epoch_ns(ts) AS pt, value
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id, epoch_ns(ts) AS ct,
                CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS channel
         FROM events WHERE event_type = 'click'),
       touched AS MATERIALIZED (
         SELECT p.pid, p.value, c.ct, c.channel
         FROM p LEFT JOIN c ON p.user_id = c.user_id
          AND c.ct <= p.pt AND c.ct > p.pt - 3600000000000),
       perp AS (
         SELECT pid, any_value(value) AS value,
                CAST(sum(CASE WHEN ct IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_touch
         FROM touched GROUP BY 1),
       shares AS (
         SELECT 'ch' || CAST(t.channel AS VARCHAR) AS channel,
                t.value / pp.n_touch AS share
         FROM touched t JOIN perp pp USING (pid)
         WHERE t.ct IS NOT NULL AND pp.n_touch > 0
         UNION ALL
         SELECT 'direct' AS channel, value AS share
         FROM perp WHERE n_touch = 0)
       SELECT channel, count(*) AS n_touches,
              round(sum(share), 4) AS attributed_value
       FROM shares GROUP BY 1"""

  // ---------------------------------------------------------------
  // 252. period-over-period deltas — the reporting-layer staple (DoD
  // growth per event type): daily counts with lag-1 absolute and
  // relative change. One shuffle on event_type drives the lag window;
  // the pct change is a ratio of exact integers (NULL on the first
  // day, identical on both engines).
  def periodOverPeriod(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
    Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(col("event_type"), col("day"), col("n"), col("prev_n"),
        (col("n") - col("prev_n")).as("delta_n"),
        round((col("n") - col("prev_n")) / col("prev_n").cast("double"), 6)
          .as("pct_change"))
  }

  private val periodOverPeriodSql =
    """WITH daily AS (
         SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                count(*) AS n
         FROM events GROUP BY 1, 2),
       lagd AS (
         SELECT event_type, day, n,
                lag(n) OVER (PARTITION BY event_type ORDER BY day ASC) AS prev_n
         FROM daily)
       SELECT event_type, day, n, prev_n,
              n - prev_n AS delta_n,
              round((n - prev_n) / CAST(prev_n AS DOUBLE), 6) AS pct_change
       FROM lagd"""

  // ---------------------------------------------------------------
  // 255. active-user rollup (DAU/WAU/MAU + stickiness) — THE product
  // dashboard table: per day, distinct users that day, in the trailing
  // 7 days, and in the trailing 30, plus DAU/MAU. Sliding DISTINCT
  // doesn't fit a window frame, so each trailing window is an
  // equi-join of the day grid against the distinct (day, user) pairs
  // in range — fan-out bounded by window length × daily actives, then
  // a distinct count per day. All integers; stickiness is one exact
  // ratio. At 100 TB the (day, user) dedupe is the only corpus pass;
  // the grid join touches the bounded daily-actives table.
  def activeUsers(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(expr("ts_ns div 86400000000000").as("day"), col("user_id"))
      .distinct()
      .localCheckpoint() // grid join scans it three times
    val days = du.select(col("day")).distinct()
    def trailing(win: Int, name: String): DataFrame =
      days.as("g").join(du.as("e"),
          col("e.day") <= col("g.day") && col("e.day") > col("g.day") - win)
        .groupBy(col("g.day").as("day"))
        .agg(countDistinct(col("e.user_id")).as(name))
    trailing(1, "dau")
      .join(trailing(7, "wau"), "day")
      .join(trailing(30, "mau"), "day")
      .select(col("day"), col("dau"), col("wau"), col("mau"),
        round(col("dau") / col("mau").cast("double"), 6).as("stickiness"))
  }

  private val activeUsersSql =
    """WITH du AS MATERIALIZED (
         SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
         FROM events),
       days AS (SELECT DISTINCT day FROM du),
       dau AS (
         SELECT g.day, count(DISTINCT e.user_id) AS dau
         FROM days g JOIN du e ON e.day = g.day GROUP BY 1),
       wau AS (
         SELECT g.day, count(DISTINCT e.user_id) AS wau
         FROM days g JOIN du e ON e.day <= g.day AND e.day > g.day - 7 GROUP BY 1),
       mau AS (
         SELECT g.day, count(DISTINCT e.user_id) AS mau
         FROM days g JOIN du e ON e.day <= g.day AND e.day > g.day - 30 GROUP BY 1)
       SELECT d.day, d.dau, w.wau, m.mau,
              round(d.dau / CAST(m.mau AS DOUBLE), 6) AS stickiness
       FROM dau d JOIN wau w USING (day) JOIN mau m USING (day)"""

  // ---------------------------------------------------------------
  // 256. audience overlap between event types: pairwise distinct-user
  // Jaccard — the segment-overlap matrix marketing/product reads
  // before targeting. Distinct (type, user) pairs self-join on user
  // (fan-out = types-per-user², bounded by the type cardinality);
  // counts are integers, Jaccard one division.
  def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val tu = Tables.events(s, dir)
      .select(col("event_type").as("t"), col("user_id")).distinct()
      .localCheckpoint() // pair join + per-type sizes
    val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("nu"))
    tu.as("a").join(tu.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(sizes.select(col("t").as("type_a"), col("nu").as("n_a")), "type_a")
      .join(sizes.select(col("t").as("type_b"), col("nu").as("n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        round(col("n_both") / (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"))
  }

  // ---------------------------------------------------------------
  // 341. KMV-sketch audience overlap (Bar-Yossef et al. 2002; Beyer et
  // al. 2007 distinct/Jaccard estimation) — the SKETCH twin of #256:
  // at 100 TB the pairwise distinct-user join is only viable because
  // types-per-user is tiny; the K-minimum-values route needs ONE pass
  // producing k=64 (hash, id) minima per type (the native bounded-heap
  // topk_by aggregate — exchanges carry ≤ k entries per type per
  // partition), after which every estimate lives on bounded arrays.
  // Estimators: distinct ≈ (k−1)/h_k (h_k = k-th smallest md5-uniform
  // hash; exact count when |type| < k — both engines branch
  // identically); union sketch = k smallest of the merged minima;
  // Jaccard ≈ (union-sketch members sketched by BOTH types)/k (the
  // classic sketch-membership numerator); intersection ≈ Ĵ·Û. The
  // exact #256 Jaccard rides along as the calibration column (the
  // ann_recall_eval convention). Hash ties at the k-boundary resolve
  // by (u asc, user_id asc) in BOTH engines — deterministic even on
  // md5's 24-bit grid.
  def audienceOverlapKmv(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val tu = Tables.events(s, dir)
      .select(col("event_type").as("t"), col("user_id")).distinct()
      .localCheckpoint() // sketches + exact sizes + exact pair join
    val hu = tu.withColumn("u", graft.api.Analytics.hashUniform(col("user_id")))
    val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n_exact"))
    val sk = hu.groupBy(col("t"))
      .agg(graft.functions.VectorFunctions
        .topKByScore(-col("u"), col("user_id"), k).as("__sk"))
      .select(col("t"), explode(col("__sk")).as("e"))
      .select(col("t"), col("e.id").as("user_id"), (-col("e.score")).as("u"))
      .localCheckpoint() // ≤ k·|types| rows; fans into merged twice
    val sunm = sk.groupBy(col("t")).agg(max(col("u")).as("hk"))
    val est = sizes.join(sunm, "t")
      .select(col("t"),
        when(col("n_exact") < k, col("n_exact").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("hk")).as("est_d"))
    val tp = sizes.select(col("t").as("type_a"))
      .crossJoin(sizes.select(col("t").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val merged = tp.join(sk,
        col("t") === col("type_a") || col("t") === col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("user_id"), col("u"))
      .agg(count(lit(1)).as("n_sides"))
    val wu = Window.partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("u").asc, col("user_id").asc)
    val ustat = merged.withColumn("rn", row_number().over(wu))
      .filter(col("rn") <= k)
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("nu"), max(col("u")).as("hku"),
        sum(when(col("n_sides") === 2, 1L).otherwise(0L)).as("n_shared"))
    val ex = tu.as("a").join(tu.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val estU = when(col("nu") < k, col("nu").cast("double"))
      .otherwise(lit((k - 1).toDouble) / col("hku"))
    val estJ = col("n_shared").cast("double") / least(col("nu"), lit(k.toLong))
    val exactJ = col("n_both").cast("double") /
      (col("n_a") + col("n_b") - col("n_both"))
    ustat
      .join(est.select(col("t").as("type_a"), col("est_d").as("__ea")), "type_a")
      .join(est.select(col("t").as("type_b"), col("est_d").as("__eb")), "type_b")
      .join(ex, Seq("type_a", "type_b"))
      .join(sizes.select(col("t").as("type_a"), col("n_exact").as("n_a")), "type_a")
      .join(sizes.select(col("t").as("type_b"), col("n_exact").as("n_b")), "type_b")
      .select(col("type_a"), col("type_b"), lit(k.toLong).as("k"),
        r(col("__ea"), 4).as("est_a"), r(col("__eb"), 4).as("est_b"),
        r(estU, 4).as("est_union"),
        r(estJ, 6).as("est_jaccard"),
        r(estJ * estU, 4).as("est_intersection"),
        r(exactJ, 6).as("exact_jaccard"),
        r(abs(estJ - exactJ), 6).as("jaccard_err"))
  }

  private val audienceOverlapKmvSql = {
    val u6 = (1 to 6).map { i =>
      s"(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)),$i,1))-1)*${math.pow(16, 6 - i).toLong}"
    }.mkString(" + ")
    s"""WITH tu AS MATERIALIZED (SELECT DISTINCT event_type AS t, user_id FROM events),
       hu AS (SELECT t, user_id, ($u6 + 1.0) / 16777217.0 AS u FROM tu),
       sizes AS (SELECT t, count(*) AS n_exact FROM tu GROUP BY 1),
       sk AS MATERIALIZED (
         SELECT t, user_id, u FROM (
           SELECT t, user_id, u, row_number() OVER (PARTITION BY t
             ORDER BY u ASC, user_id ASC) AS rn FROM hu)
         WHERE rn <= 64),
       sunm AS (SELECT t, max(u) AS hk FROM sk GROUP BY 1),
       est AS (
         SELECT s.t, CASE WHEN s.n_exact < 64 THEN CAST(s.n_exact AS DOUBLE)
                     ELSE 63.0 / m.hk END AS est_d
         FROM sizes s JOIN sunm m USING (t)),
       tp AS (SELECT a.t AS type_a, b.t AS type_b FROM sizes a, sizes b WHERE a.t < b.t),
       merged AS (
         SELECT tp.type_a, tp.type_b, k.user_id, k.u, count(*) AS n_sides
         FROM tp JOIN sk k ON k.t = tp.type_a OR k.t = tp.type_b
         GROUP BY 1, 2, 3, 4),
       usk AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY type_a, type_b
             ORDER BY u ASC, user_id ASC) AS rn
           FROM merged)
         WHERE rn <= 64),
       ustat AS (
         SELECT type_a, type_b, count(*) AS nu, max(u) AS hku,
                CAST(sum(CASE WHEN n_sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         FROM usk GROUP BY 1, 2),
       ex AS (
         SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
         FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.t < b.t
         GROUP BY 1, 2)
       SELECT u.type_a, u.type_b, CAST(64 AS BIGINT) AS k,
              round(ea.est_d, 4) AS est_a, round(eb.est_d, 4) AS est_b,
              round(CASE WHEN u.nu < 64 THEN CAST(u.nu AS DOUBLE) ELSE 63.0 / u.hku END, 4)
                AS est_union,
              round(CAST(u.n_shared AS DOUBLE) / least(u.nu, 64), 6) AS est_jaccard,
              round(CAST(u.n_shared AS DOUBLE) / least(u.nu, 64)
                    * CASE WHEN u.nu < 64 THEN CAST(u.nu AS DOUBLE) ELSE 63.0 / u.hku END, 4)
                AS est_intersection,
              round(CAST(e.n_both AS DOUBLE) / (sa.n_exact + sb.n_exact - e.n_both), 6)
                AS exact_jaccard,
              round(abs(CAST(u.n_shared AS DOUBLE) / least(u.nu, 64)
                    - CAST(e.n_both AS DOUBLE) / (sa.n_exact + sb.n_exact - e.n_both)), 6)
                AS jaccard_err
       FROM ustat u
       JOIN est ea ON u.type_a = ea.t
       JOIN est eb ON u.type_b = eb.t
       JOIN ex e ON u.type_a = e.type_a AND u.type_b = e.type_b
       JOIN sizes sa ON u.type_a = sa.t
       JOIN sizes sb ON u.type_b = sb.t"""
  }

  private val audienceOverlapSql =
    """WITH tu AS MATERIALIZED (
         SELECT DISTINCT event_type AS t, user_id FROM events),
       sizes AS (SELECT t, count(*) AS nu FROM tu GROUP BY 1),
       pairs AS (
         SELECT a.t AS type_a, b.t AS type_b, count(*) AS n_both
         FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.t < b.t
         GROUP BY 1, 2)
       SELECT p.type_a, p.type_b, sa.nu AS n_a, sb.nu AS n_b, p.n_both,
              round(p.n_both / CAST(sa.nu + sb.nu - p.n_both AS DOUBLE), 6) AS jaccard
       FROM pairs p
       JOIN sizes sa ON p.type_a = sa.t
       JOIN sizes sb ON p.type_b = sb.t"""

  // ---------------------------------------------------------------
  // 259. session bounce/entry analysis — the web-analytics read on the
  // #45 sessionizer: per entry event type (the session's first event
  // under the (ts, event_id) total order), how many sessions start
  // there, how many bounce (single-event), and the mean session depth.
  // One user shuffle builds sessions; the entry pick is a struct-min
  // (no per-session sort).
  def sessionBounce(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val sess = graft.api.Analytics.sessionize(
      e, col("user_id"), col("ts_us"), col("event_id"), GapUs)
    val per = sess.groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("fst"))
      .select(col("fst.event_type").as("entry_type"), col("n_events"))
    per.groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("n_events")).as("total_events"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces") / col("n_sessions").cast("double"), 6).as("bounce_rate"),
        round(col("total_events") / col("n_sessions").cast("double"), 6).as("avg_depth"))
  }

  private val sessionBounceSql =
    """WITH e AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
       flagged AS (
         SELECT user_id, event_id, event_type, ts_us,
                CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
       sess AS (
         SELECT user_id, event_id, event_type, ts_us,
                CAST(sum(is_new) OVER (PARTITION BY user_id
                  ORDER BY ts_us ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         FROM flagged),
       firsts AS (
         SELECT user_id, session_idx, event_type AS entry_type FROM (
           SELECT user_id, session_idx, event_type,
                  row_number() OVER (PARTITION BY user_id, session_idx
                    ORDER BY ts_us ASC, event_id ASC) AS rk
           FROM sess) WHERE rk = 1),
       cnts AS (
         SELECT user_id, session_idx, count(*) AS n_events
         FROM sess GROUP BY 1, 2),
       per AS (
         SELECT f.entry_type, c.n_events
         FROM firsts f JOIN cnts c USING (user_id, session_idx))
       SELECT entry_type,
              count(*) AS n_sessions,
              CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
              round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 6) AS bounce_rate,
              round(sum(n_events) / CAST(count(*) AS DOUBLE), 6) AS avg_depth
       FROM per GROUP BY 1"""

  // ---------------------------------------------------------------
  // 260. bounded-balance replay (credit/inventory semantics): per user,
  // fold the event stream in (ts, event_id) order through
  // acc' = clamp(acc + delta, 0, 100) with purchases depositing value
  // and other events draining value/4. The clamp makes the recursion
  // NON-LINEAR — no window frame or prefix-sum trick expresses it —
  // so it rides the #93 EWMA device: sort the bounded per-user stream
  // into an array, run one deterministic fold (identical order in
  // DuckDB's list_reduce). Per-user history must fit an array — true
  // for session-scale entities; shard long histories by period and
  // carry the closing balance.
  def cappedRunningSum(s: SparkSession, dir: String): DataFrame = {
    val delta = when(col("event_type") === "purchase", col("value"))
      .otherwise(-col("value") / 4)
    Tables.events(s, dir)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), delta.as("delta"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr("""aggregate(
             transform(sort_array(collect_list(struct(ts_us, event_id, delta))), x -> x.delta),
             0D, (acc, d) -> least(100D, greatest(0D, acc + d)))""").as("bal"))
      .select(col("user_id"),
        guardedN(col("n_events"), "capped_running_sum").as("n_events"),
        round(col("bal"), 6).as("final_balance"))
  }

  private val cappedRunningSumSql =
    """WITH e AS (
         SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                CASE WHEN event_type = 'purchase' THEN value ELSE -value / 4 END AS delta
         FROM events),
       l AS (
         SELECT user_id, count(*) AS n_events,
                list(delta ORDER BY ts_us ASC, event_id ASC) AS ds
         FROM e GROUP BY 1)
       SELECT user_id, n_events,
              round(list_reduce(list_prepend(0.0, ds),
                (acc, d) -> least(100.0, greatest(0.0, acc + d))), 6) AS final_balance
       FROM l"""

  // ---------------------------------------------------------------
  // 268. funnel step latencies — the timing half of #109 (which
  // measured conversion RATES): per completed transition within a
  // session (first view → first subsequent click → first subsequent
  // purchase), the n/mean/p50/p90 of the step latency. Latencies are
  // exact integer micros; the quantiles are the shared exact
  // interpolated percentile (the group_quantiles contract). One user
  // shuffle drives sessionization, staging, and both rollups.
  def funnelLatency(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_us", expr("ts_ns div 1000"))
    val sess = graft.api.Analytics.sessionize(
        ev, col("user_id"), col("ts_us"), col("event_id"), GapUs)
      .select(col("user_id"), col("session_idx"), col("event_type"), col("ts_us"))
    val w = Window.partitionBy(col("user_id"), col("session_idx"))
    val staged = sess
      .withColumn("tv", min(when(col("event_type") === "view", col("ts_us"))).over(w))
      .withColumn("tc", min(when(col("event_type") === "click" &&
        col("ts_us") >= col("tv"), col("ts_us"))).over(w))
      .withColumn("tp", min(when(col("event_type") === "purchase" &&
        col("ts_us") >= col("tc"), col("ts_us"))).over(w))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(max(col("tv")).as("v"), max(col("tc")).as("c"), max(col("tp")).as("p"))
    val lats = staged
      .select(lit("view_to_click").as("step"), (col("c") - col("v")).as("lat"))
      .unionByName(staged
        .select(lit("click_to_purchase").as("step"), (col("p") - col("c")).as("lat")))
      .filter(col("lat").isNotNull)
    lats.groupBy(col("step"))
      .agg(count(lit(1)).as("n"),
        r(avg(col("lat")), 4).as("mean_us"),
        r(graft.core.Stats.quantileCol(col("lat"), 0.5), 4).as("p50_us"),
        r(graft.core.Stats.quantileCol(col("lat"), 0.9), 4).as("p90_us"))
  }

  private val funnelLatencySql =
    """WITH e AS (
         SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
       flagged AS (
         SELECT user_id, event_id, event_type, ts_us,
                CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
       sess AS (
         SELECT user_id, event_type, ts_us,
                CAST(sum(is_new) OVER (PARTITION BY user_id
                  ORDER BY ts_us ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         FROM flagged),
       tv AS (
         SELECT user_id, session_idx,
                min(CASE WHEN event_type = 'view' THEN ts_us END) AS v
         FROM sess GROUP BY 1, 2),
       tc AS (
         SELECT s.user_id, s.session_idx,
                min(CASE WHEN s.event_type = 'click' AND s.ts_us >= t.v
                    THEN s.ts_us END) AS c
         FROM sess s JOIN tv t USING (user_id, session_idx)
         GROUP BY 1, 2),
       tp AS (
         SELECT s.user_id, s.session_idx,
                min(CASE WHEN s.event_type = 'purchase' AND s.ts_us >= t.c
                    THEN s.ts_us END) AS p
         FROM sess s JOIN tc t USING (user_id, session_idx)
         GROUP BY 1, 2),
       lats AS (
         SELECT 'view_to_click' AS step, c.c - v.v AS lat
         FROM tv v JOIN tc c USING (user_id, session_idx)
         WHERE c.c IS NOT NULL AND v.v IS NOT NULL
         UNION ALL
         SELECT 'click_to_purchase' AS step, p.p - c.c AS lat
         FROM tc c JOIN tp p USING (user_id, session_idx)
         WHERE p.p IS NOT NULL AND c.c IS NOT NULL)
       SELECT step, count(*) AS n,
              round(avg(lat), 4) AS mean_us,
              round(quantile_cont(lat, 0.5), 4) AS p50_us,
              round(quantile_cont(lat, 0.9), 4) AS p90_us
       FROM lats GROUP BY 1"""

  // ---------------------------------------------------------------
  // 280. day-of-week seasonal indices per event type — the weekly
  // seasonality decomposition next to #151's hour-of-day χ² (that asks
  // "is the hourly mix uniform", this quantifies the weekly shape a
  // capacity plan or anomaly baseline divides by): n events per
  // (type, dow), share of the type's total, and the seasonal index
  // 7·n/total (1.0 = flat week). dow by pure epoch-day integer
  // arithmetic — (day + 3) % 7 puts Monday at 0 (day 0 = Thursday) —
  // identical in both engines, no timezone/calendar functions. One
  // bounded-key aggregation; the totals ride a |types|-row join.
  def dowSeasonality(s: SparkSession, dir: String): DataFrame = {
    val byDow = Tables.events(s, dir)
      .select(col("event_type"),
        expr("(ts_ns div 86400000000000 + 3) % 7").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
    val tot = byDow.groupBy(col("event_type")).agg(sum(col("n")).as("total"))
    byDow.join(tot, "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        round(col("n") / col("total").cast("double"), 6).as("share"),
        round(col("n") * lit(7) / col("total").cast("double"), 6).as("seasonal_index"))
  }

  private val dowSeasonalitySql =
    """WITH byd AS (
         SELECT event_type, ((epoch_ns(ts) // 86400000000000) + 3) % 7 AS dow,
                count(*) AS n
         FROM events GROUP BY 1, 2),
       tot AS (
         SELECT event_type, CAST(sum(n) AS BIGINT) AS total
         FROM byd GROUP BY 1)
       SELECT b.event_type, b.dow, b.n,
              round(b.n / CAST(t.total AS DOUBLE), 6) AS share,
              round(b.n * 7 / CAST(t.total AS DOUBLE), 6) AS seasonal_index
       FROM byd b JOIN tot t USING (event_type)"""

  // ---------------------------------------------------------------
  // 346. HyperLogLog distinct users per event type (Flajolet et al.
  // 2007) — the register-sketch sibling of #341's KMV: ONE pass builds
  // m=256 max-rho registers per type (a 256-key groupBy with map-side
  // partials — at 100 TB the registers merge associatively across any
  // partitioning, which is the whole point of HLL over exact distinct),
  // then the harmonic-mean estimate with the standard small-range
  // (linear-counting) correction. The md5-derived bit stream replays
  // exactly in DuckDB (the #341 hash convention): bucket = first 8
  // hash bits, rho = leading-zero count of the next 56 + 1. The exact
  // distinct count rides along as the calibration column.
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val m = 256
    val tu = Tables.events(s, dir)
      .select(col("event_type").as("t"), col("user_id")).distinct()
    val hx = tu.withColumn("hex", md5(col("user_id").cast("string")))
      .withColumn("bucket", conv(substring(col("hex"), 1, 2), 16, 10).cast("long"))
      .withColumn("stream", substring(col("hex"), 3, 14))
    val z = length(regexp_extract(col("stream"), "^0*", 0))
    val nib = (call_function("locate",
      substring(col("stream"), z + 1, lit(1)), lit("0123456789abcdef")) - 1).cast("int")
    val nibBits = when(nib >= 8, 4).when(nib >= 4, 3).when(nib >= 2, 2).otherwise(1)
    val rho = when(z >= 14, lit(57)).otherwise(z * 4 + (lit(4) - nibBits) + 1)
    val regs = hx.withColumn("rho", rho)
      .groupBy(col("t"), col("bucket")).agg(max(col("rho")).as("mj"))
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val agg = regs.groupBy(col("t"))
      .agg(count(lit(1)).as("v"), sum(pow(lit(2.0), -col("mj"))).as("sp"))
      .withColumn("raw", lit(alpha * m * m) / (col("sp") + (lit(m) - col("v"))))
    val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n_exact"))
    val estC = when(col("raw") <= 2.5 * m && col("v") < m,
      lit(m.toDouble) * log(lit(m.toDouble) / (lit(m) - col("v"))))
      .otherwise(col("raw"))
    agg.join(sizes, "t")
      .select(col("t").as("event_type"), lit(m.toLong).as("m"),
        col("v").as("registers_used"), r(col("raw"), 4).as("raw_est"),
        r(estC, 4).as("est_distinct"), col("n_exact"),
        r(abs(estC - col("n_exact")) / col("n_exact"), 4).as("rel_err"))
  }

  private val hllDistinctSql =
    """WITH tu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
       hx AS (SELECT t, user_id, md5(CAST(user_id AS VARCHAR)) AS hex FROM tu),
       parts AS (
         SELECT t,
           (strpos('0123456789abcdef', substr(hex,1,1))-1)*16
             + (strpos('0123456789abcdef', substr(hex,2,1))-1) AS bucket,
           substr(hex, 3, 14) AS stream
         FROM hx),
       rho AS (
         SELECT t, bucket,
           CASE WHEN length(regexp_extract(stream, '^0*')) >= 14 THEN 57
             ELSE length(regexp_extract(stream, '^0*'))*4
               + (4 - CASE
                   WHEN (strpos('0123456789abcdef', substr(stream, length(regexp_extract(stream, '^0*'))+1, 1))-1) >= 8 THEN 4
                   WHEN (strpos('0123456789abcdef', substr(stream, length(regexp_extract(stream, '^0*'))+1, 1))-1) >= 4 THEN 3
                   WHEN (strpos('0123456789abcdef', substr(stream, length(regexp_extract(stream, '^0*'))+1, 1))-1) >= 2 THEN 2
                   ELSE 1 END) + 1
             END AS rho
         FROM parts),
       regs AS (SELECT t, bucket, max(rho) AS mj FROM rho GROUP BY 1, 2),
       agg AS (
         SELECT t, count(*) AS v, sum(power(2.0, -mj)) AS sp FROM regs GROUP BY 1),
       sizes AS (SELECT t, count(*) AS n_exact FROM tu GROUP BY 1),
       est AS (
         SELECT a.t, a.v,
           (0.7213/(1.0 + 1.079/256.0)) * 256.0 * 256.0
             / (a.sp + (256 - a.v) * 1.0) AS raw,
           s.n_exact
         FROM agg a JOIN sizes s USING (t))
       SELECT t AS event_type, CAST(256 AS BIGINT) AS m, v AS registers_used,
         round(raw, 4) AS raw_est,
         round(CASE WHEN raw <= 640.0 AND v < 256
           THEN 256.0 * ln(256.0 / (256 - v)) ELSE raw END, 4) AS est_distinct,
         n_exact,
         round(abs(CASE WHEN raw <= 640.0 AND v < 256
           THEN 256.0 * ln(256.0 / (256 - v)) ELSE raw END - n_exact)
           / n_exact, 4) AS rel_err
       FROM est"""

  // ---------------------------------------------------------------
  // 347. CUPED variance reduction (Deng et al. 2013) — the experiment-
  // analysis op every metrics pipeline runs before reading an A/B test:
  // per (event type, user) split the value stream at the corpus time
  // midpoint into a pre-period covariate x and the experiment metric y,
  // then theta = cov(x,y)/var(x) and var(y_cuped) = var(y) - cov^2/var(x).
  // ONE fact pass: the (type, user) rollup computes both period sums,
  // the per-type moments are a bounded second agg riding it. The time
  // midpoint is a 1-row aggregate attached via crossJoin(broadcast) —
  // the PlanSpec bounded-scaffold contract.
  def cupedAdjustment(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // Integer `div`, not fp `/`: min+max of epoch-ns (~3.4e18) exceeds 2^53,
    // so double division loses the low bits and can land 76 ns below DuckDB's
    // exact (min+max)//2, silently flipping pre/post for an event in the gap.
    val bnd = ev.agg(expr("(min(ts_ns) + max(ts_ns)) div 2").as("mid"))
    val ux = ev.crossJoin(broadcast(bnd))
      .groupBy(col("event_type").as("t"), col("user_id"))
      .agg(sum(when(col("ts_ns") < col("mid"), col("value")).otherwise(0.0)).as("x"),
        sum(when(col("ts_ns") >= col("mid"), col("value")).otherwise(0.0)).as("y"))
    val mom = ux.groupBy(col("t"))
      .agg(count(lit(1)).as("n_users"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"),
        (avg(col("x") * col("x")) - avg(col("x")) * avg(col("x"))).as("vx"),
        (avg(col("y") * col("y")) - avg(col("y")) * avg(col("y"))).as("vy"),
        (avg(col("x") * col("y")) - avg(col("x")) * avg(col("y"))).as("cxy"))
    mom.select(col("t").as("event_type"), col("n_users"),
      r(when(col("vx") > 0, col("cxy") / col("vx")), 6).as("theta"),
      r(col("vy"), 6).as("var_y"),
      r(when(col("vx") > 0, col("vy") - col("cxy") * col("cxy") / col("vx"))
        .otherwise(col("vy")), 6).as("var_y_cuped"),
      r(when(col("vx") > 0 && col("vy") > 0,
        (col("cxy") * col("cxy") / col("vx")) / col("vy")).otherwise(0.0), 4)
        .as("var_reduction"))
  }

  private val cupedAdjustmentSql =
    """WITH bnd AS (
         SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS mid FROM events),
       ux AS (
         SELECT event_type AS t, user_id,
           sum(CASE WHEN epoch_ns(ts) < (SELECT mid FROM bnd)
               THEN value ELSE 0.0 END) AS x,
           sum(CASE WHEN epoch_ns(ts) >= (SELECT mid FROM bnd)
               THEN value ELSE 0.0 END) AS y
         FROM events GROUP BY 1, 2),
       mom AS (
         SELECT t, count(*) AS n_users,
           avg(x*x) - avg(x)*avg(x) AS vx,
           avg(y*y) - avg(y)*avg(y) AS vy,
           avg(x*y) - avg(x)*avg(y) AS cxy
         FROM ux GROUP BY 1)
       SELECT t AS event_type, n_users,
         round(CASE WHEN vx > 0 THEN cxy / vx END, 6) AS theta,
         round(vy, 6) AS var_y,
         round(CASE WHEN vx > 0 THEN vy - cxy*cxy/vx ELSE vy END, 6) AS var_y_cuped,
         round(CASE WHEN vx > 0 AND vy > 0 THEN (cxy*cxy/vx) / vy
               ELSE 0.0 END, 4) AS var_reduction
       FROM mom"""

  // ---------------------------------------------------------------
  // 356. Sample-ratio-mismatch check (the FIRST read of every A/B
  // analysis — Fabijan et al. 2019 report ~6% of experiments at scale
  // fail it, invalidating everything downstream): per experiment
  // (event type as the experiment key), distinct users per arm under
  // the deterministic id-parity assignment, the 1-dof chi-square
  // statistic against the designed 50/50 split — which reduces to
  // (n0−n1)²/n, kept in integer arithmetic until one final division —
  // and the flag at the 95% critical value 3.841. Production swaps the
  // parity assignment for a salted hash; the chi-square read is
  // unchanged. ONE distinct-users shuffle, |event_type|-bounded output.
  def srmCheck(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), col("user_id"),
        pmod(col("user_id"), lit(2)).as("arm"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_arm0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_arm1"))
      .select(col("event_type"), col("n_users"), col("n_arm0"), col("n_arm1"),
        r(((col("n_arm0") - col("n_arm1")) * (col("n_arm0") - col("n_arm1")))
          .cast("double") / col("n_users"), 6).as("chi2"),
        (((col("n_arm0") - col("n_arm1")) * (col("n_arm0") - col("n_arm1")))
          .cast("double") / col("n_users") > 3.841).as("srm_flag"))

  private val srmCheckSql =
    """WITH arms AS (
         SELECT DISTINCT event_type, user_id, user_id % 2 AS arm FROM events),
       cnt AS (
         SELECT event_type, count(*) AS n_users,
                sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_arm0,
                sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_arm1
         FROM arms GROUP BY 1)
       SELECT event_type, n_users,
              CAST(n_arm0 AS BIGINT) AS n_arm0, CAST(n_arm1 AS BIGINT) AS n_arm1,
              round(CAST((n_arm0 - n_arm1) * (n_arm0 - n_arm1) AS DOUBLE) / n_users, 6) AS chi2,
              CAST((n_arm0 - n_arm1) * (n_arm0 - n_arm1) AS DOUBLE) / n_users > 3.841 AS srm_flag
       FROM cnt"""

  // ---------------------------------------------------------------
  // 357. Difference-in-differences (Card & Krueger 1994; with #347
  // CUPED, #350 propensity matching and #356 SRM this completes the
  // experiment-metrics reads): per event type, the 2×2 cell means of
  // value over (treatment = id parity) × (period = before/after the
  // corpus time midpoint, the #347 integer-div midpoint), and the DiD
  // estimator (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre) — the
  // causal read when assignment isn't random but trends are parallel.
  // ONE fact pass: a single groupBy computes all four conditional
  // means; the midpoint is the 1-row broadcast scaffold.
  def diffInDiff(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val bnd = ev.agg(expr("(min(ts_ns) + max(ts_ns)) div 2").as("mid"))
    val treat = pmod(col("user_id"), lit(2)) === 1
    val post = col("ts_ns") >= col("mid")
    ev.crossJoin(broadcast(bnd))
      .groupBy(col("event_type"))
      .agg(
        avg(when(treat && !post, col("value"))).as("tp"),
        avg(when(treat && post, col("value"))).as("tq"),
        avg(when(!treat && !post, col("value"))).as("cp"),
        avg(when(!treat && post, col("value"))).as("cq"))
      .select(col("event_type"),
        r(col("tp"), 6).as("m_treat_pre"), r(col("tq"), 6).as("m_treat_post"),
        r(col("cp"), 6).as("m_ctrl_pre"), r(col("cq"), 6).as("m_ctrl_post"),
        r((col("tq") - col("tp")) - (col("cq") - col("cp")), 6).as("did"))
  }

  private val diffInDiffSql =
    """WITH bnd AS (
         SELECT (min(epoch_ns(ts)) + max(epoch_ns(ts))) // 2 AS mid FROM events),
       cells AS (
         SELECT event_type,
           avg(CASE WHEN user_id % 2 = 1 AND epoch_ns(ts) < mid THEN value END) AS tp,
           avg(CASE WHEN user_id % 2 = 1 AND epoch_ns(ts) >= mid THEN value END) AS tq,
           avg(CASE WHEN user_id % 2 = 0 AND epoch_ns(ts) < mid THEN value END) AS cp,
           avg(CASE WHEN user_id % 2 = 0 AND epoch_ns(ts) >= mid THEN value END) AS cq
         FROM events, bnd GROUP BY 1)
       SELECT event_type,
              round(tp, 6) AS m_treat_pre, round(tq, 6) AS m_treat_post,
              round(cp, 6) AS m_ctrl_pre, round(cq, 6) AS m_ctrl_post,
              round((tq - tp) - (cq - cp), 6) AS did
       FROM cells"""

  val ops: Seq[Op] = Seq(
    Op("srm_check", srmCheck _, Oracle(srmCheckSql)),
    Op("diff_in_diff", diffInDiff _, Oracle(diffInDiffSql),
      quadratic = Some(Reasons.RoundScalarAttach)),
    Op("hll_distinct", hllDistinct _, Oracle(hllDistinctSql)),
    Op("cuped_adjustment", cupedAdjustment _, Oracle(cupedAdjustmentSql),
      quadratic = Some(Reasons.BoundedScaffolds)),
    Op("funnel_latency", funnelLatency _, Oracle(funnelLatencySql)),
    Op("session_bounce", sessionBounce _, Oracle(sessionBounceSql)),
    Op("capped_running_sum", cappedRunningSum _, Oracle(cappedRunningSumSql)),
    Op("active_users", activeUsers _, Oracle(activeUsersSql),
      quadratic = Some("active_users joins the deduped (day, user) pairs against the " +
        "BOUNDED day grid (retention-window rows) on a trailing-range predicate — the " +
        "ma_stats bounded-scaffold shape, not a fact-fact pair join")),
    Op("audience_overlap", audienceOverlap _, Oracle(audienceOverlapSql)),
    Op("period_over_period", periodOverPeriod _, Oracle(periodOverPeriodSql)),
    Op("acf_daily", acfDaily _, Oracle(acfDailySql)),
    Op("holt_trend", holtTrend _, Oracle(holtTrendSql)),
    Op("dow_seasonality", dowSeasonality _, Oracle(dowSeasonalitySql)),
    Op("time_grid_interp", timeGridInterp _, Oracle(timeGridInterpSql)),
    Op("theil_sen", theilSen _, Oracle(theilSenSql)),
    Op("seasonal_adjusted_anomaly", seasonalAdjustedAnomaly _, Oracle(seasonalAdjustedAnomalySql)),
    Op("session_gap_sweep", sessionGapSweep _, Oracle(sessionGapSweepSql)),
    Op("hodges_lehmann", hodgesLehmann _, Oracle(hodgesLehmannSql)),
    Op("retention_decay_fit", retentionDecayFit _, Oracle(retentionDecayFitSql)),
    Op("linear_attribution", linearAttribution _, Oracle(linearAttributionSql)),
    Op("activity_islands", activityIslands _, Oracle(activityIslandsSql)),
    Op("scd2_history", scd2History _, Oracle(scd2HistorySql)),
    Op("cusum_shift", cusumShift _, Oracle(cusumShiftSql)),
    Op("event_debounce", eventDebounce _, Oracle(eventDebounceSql)),
    Op("active_time_union", activeTimeUnion _, Oracle(activeTimeUnionSql)),
    Op("time_grid_fill", timeGridFill _, Oracle(timeGridFillSql)),
    Op("event_transitions", eventTransitions _, Oracle(eventTransitionsSql)),
    Op("top_paths", topPaths _, Oracle(topPathsSql),
      globalWindow = Some("distinct session-path counts (post-agg top-k)")),
    Op("survival_km", survivalKm _, Oracle(survivalKmSql),
      quadratic = Some(Reasons.GlobalScalarsOrBinGrid),
      globalWindow = Some("day grid (retention-window rows)")),
    Op("nelson_aalen", nelsonAalen _, Oracle(nelsonAalenSql),
      quadratic = Some("nelson_aalen attaches the 1-row total-at-risk scalar (the " +
        "survival_km shape it duals)"),
      globalWindow = Some("day grid (retention-window rows — the survival_km dual)")),
    Op("markov_attribution", markovAttribution _, Oracle(markovAttributionSql),
      quadratic = Some("markov_attribution's grid/matrix algebra lives entirely on " +
        "bounded frames: (channels+1)·(channels+3)² cells, 1-row conversion-count / " +
        "normalizer / full-chain attaches — scalar and bounded-scaffold attaches, never " +
        "a fact pair join"),
      globalWindow = Some("|channels| state-index rank (bounded chain states)")),
    Op("audience_overlap_kmv", audienceOverlapKmv _, Oracle(audienceOverlapKmvSql),
      quadratic = Some("audience_overlap_kmv probes k·|types| sketch rows against the " +
        "|types|²-row pair table (OR-key tag join, the pairwise_ks precedent) and " +
        "attaches bounded per-type estimate scalars")),
    Op("holt_winters", holtWinters _, Oracle(holtWintersSql)),
    Op("rolling_anomaly", rollingAnomaly _, Oracle(
      """SELECT event_id, user_id, ts_us, n_window,
                round(mu, 4) AS mu, round(sd, 4) AS sd, z,
                coalesce(abs(z) > 2.0, false) AS is_anomaly
         FROM (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                  count(*) OVER w AS n_window,
                  avg(value) OVER w AS mu,
                  stddev_pop(value) OVER w AS sd,
                  round((value - avg(value) OVER w)
                        / nullif(stddev_pop(value) OVER w, 0.0), 4) AS z
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))""")),
    Op("interevent_stats", intereventStats _, Oracle(
      """WITH g AS (
           SELECT user_id,
                  CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id
                    ORDER BY epoch_us(ts) ASC, event_id ASC) AS DOUBLE) AS gap
           FROM events)
         SELECT user_id, count(*) AS n_gaps,
                avg(gap) / 1000000.0 AS mean_gap_s,
                median(gap) / 1000000.0 AS median_gap_s,
                round(stddev_pop(gap / 1000000.0), 4) AS sd_gap_s,
                round((stddev_pop(gap / 1000000.0) - avg(gap) / 1000000.0)
                      / nullif(stddev_pop(gap / 1000000.0)
                               + avg(gap) / 1000000.0, 0.0), 6) AS burstiness
         FROM g WHERE gap IS NOT NULL GROUP BY 1""")),
    Op("funnel_conversion", funnelConversion _, Oracle(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
         flagged AS (
           SELECT user_id, event_id, event_type, ts_us,
                  CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
         sess0 AS (
           SELECT user_id, event_type, ts_us,
                  CAST(sum(is_new) OVER (PARTITION BY user_id
                    ORDER BY ts_us ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM flagged),
         t1 AS (
           SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
                  OVER (PARTITION BY user_id, session_idx) AS tv
           FROM sess0),
         t2 AS (
           SELECT *, min(CASE WHEN event_type = 'click' AND ts_us >= tv THEN ts_us END)
                  OVER (PARTITION BY user_id, session_idx) AS tc
           FROM t1),
         t3 AS (
           SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us >= tc THEN ts_us END)
                  OVER (PARTITION BY user_id, session_idx) AS tp
           FROM t2),
         per_sess AS (
           SELECT user_id, session_idx, max(tv) AS v, max(tc) AS c, max(tp) AS p
           FROM t3 GROUP BY 1, 2)
         SELECT count(*) AS n_sessions,
                count(v) AS n_view,
                count(c) AS n_view_click,
                count(p) AS n_full_funnel,
                round(CAST(count(c) AS DOUBLE) / nullif(CAST(count(v) AS DOUBLE), 0.0), 6) AS rate_click,
                round(CAST(count(p) AS DOUBLE) / nullif(CAST(count(c) AS DOUBLE), 0.0), 6) AS rate_purchase
         FROM per_sess""")),
    Op("interval_overlap", intervalOverlap _, Oracle(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
         flagged AS (
           SELECT user_id, event_id, ts_us,
                  CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
         sess0 AS (
           SELECT user_id, ts_us,
                  CAST(sum(is_new) OVER (PARTITION BY user_id
                    ORDER BY ts_us ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM flagged),
         sess AS (
           SELECT user_id, session_idx,
                  min(ts_us) AS s_start, max(ts_us) AS s_end
           FROM sess0 GROUP BY 1, 2),
         p AS (
           SELECT event_id, user_id, ts_us - 900000000 AS w_start,
                  ts_us + 900000000 AS w_end
           FROM e WHERE event_type = 'purchase')
         SELECT s.user_id * 1000000 + s.session_idx AS session_key,
                p.event_id,
                least(s.s_end, p.w_end) - greatest(s.s_start, p.w_start) AS overlap_us
         FROM sess s JOIN p
           ON s.user_id = p.user_id
          AND s.s_start <= p.w_end AND p.w_start <= s.s_end""")),
    Op("value_per_bin", valuePerBin _, Oracle(
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, value FROM events),
         rng AS (SELECT min(ts_us) AS mn, max(ts_us) AS mx FROM e)
         SELECT event_type, ((ts_us - mn) * 20) // (mx - mn + 1) AS bin,
                count(*) AS n, round(avg(value), 6) AS mean_value,
                round(avg(CASE WHEN value <> 0.0 THEN 1.0 ELSE 0.0 END), 6) AS pct_expressing
         FROM e, rng GROUP BY 1, 2"""),
      quadratic = Some(Reasons.GroupPairsOrRange)),
    Op("ewma_user_value", ewmaUserValue _, Oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
         l AS (SELECT user_id, list(value ORDER BY ts_us ASC, value ASC) AS vs
               FROM e GROUP BY 1)
         SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
                round(list_reduce(vs, (acc, x) -> acc * 0.7 + x * 0.3), 6) AS ewma
         FROM l""")),
    Op("latest_per_key", latestPerKey _, Oracle(
      """SELECT user_id, event_type, ts_us, event_id, round(value, 4) AS value
         FROM (
           SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value,
                  row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1""")),
    Op("winsorized_stats", winsorizedStats _, Oracle(
      """WITH b AS (
           SELECT event_type, quantile_cont(value, 0.05) AS p05,
                  quantile_cont(value, 0.95) AS p95
           FROM events GROUP BY 1),
         c AS (
           SELECT e.event_type, least(greatest(e.value, b.p05), b.p95) AS w,
                  b.p05, b.p95
           FROM events e JOIN b ON e.event_type = b.event_type)
         SELECT event_type, count(*) AS n,
                round(avg(w), 6) AS wins_mean,
                round(stddev_pop(w), 6) AS wins_std,
                round(min(p05), 6) AS p05, round(min(p95), 6) AS p95
         FROM c GROUP BY 1""")),
    Op("cohort_retention", cohortRetention _, Oracle(
      """WITH ev AS (
           SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
         cohorts AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
         SELECT cohort_day, day - cohort_day AS age_days,
                count(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN cohorts ON ev.user_id = cohorts.user_id
         GROUP BY 1, 2""")),
    Op("group_quantiles", groupQuantiles _, Oracle(
      """SELECT event_type, count(*) AS n,
         round(min(value), 6) AS vmin,
         round(max(value), 6) AS vmax,
         round(avg(value), 6) AS vmean,
         round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.95), 6) AS p95,
         round(quantile_cont(value, 0.99), 6) AS p99
         FROM events GROUP BY 1""")),
    Op("value_histogram", valueHistogram _, Oracle(
      """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
         count(*) AS n, round(min(value), 4) AS lo, round(max(value), 4) AS hi
         FROM events GROUP BY 1, 2""")),
    Op("events_json_props", eventsJsonProps _, Oracle(
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k
         FROM events GROUP BY 1""")),
    Op("rolling_events", rollingEvents _, Oracle(
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
         count(*) OVER w AS rolling_n,
         round(sum(value) OVER w, 4) AS rolling_sum
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""")),
    Op("sessionize_events", sessionizeEvents _, Oracle(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events),
         flagged AS (
           SELECT user_id, event_id, ts_us, value,
                  CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
         sess AS (
           SELECT user_id, ts_us, value,
                  CAST(sum(is_new) OVER (PARTITION BY user_id
                    ORDER BY ts_us ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
           FROM flagged)
         SELECT user_id, session_idx, count(*) AS n_events,
                min(ts_us) AS start_us, max(ts_us) AS end_us,
                round(sum(value), 4) AS sum_value
         FROM sess GROUP BY user_id, session_idx""")),
    Op("range_join_clicks", rangeJoinClicks _, Oracle(
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM events),
         p AS (SELECT event_id, user_id, ts_us AS p_ts FROM e WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts_us AS c_ts, value AS c_val FROM e WHERE event_type = 'click')
         SELECT p.event_id, p.user_id,
                count(c.c_ts) AS n_clicks,
                round(coalesce(sum(c.c_val), 0.0), 4) AS click_value
         FROM p LEFT JOIN c
           ON p.user_id = c.user_id
          AND c.c_ts >= p.p_ts - 3600000000 AND c.c_ts <= p.p_ts
         GROUP BY p.event_id, p.user_id""")),
    Op("sliding_windows_events", slidingWindowsEvents _, Oracle(
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS ts_us FROM events),
         assigned AS (
           SELECT ((ts_us // 900000000) - k) * 900000000 AS window_start_us,
                  event_type, value
           FROM e, LATERAL unnest(generate_series(0, 3)) AS t(k))
         SELECT window_start_us, event_type, count(*) AS n,
                round(sum(value), 4) AS sum_value
         FROM assigned GROUP BY 1, 2""")),
    Op("windowed_events", windowedEvents _, Oracle(
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
         count(*) AS n, count(DISTINCT user_id) AS n_users,
         round(sum(value), 4) AS sum_value
         FROM events GROUP BY 1, 2""")))
}
