package graft.core

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Score-quality analytics (SURVEY.md §2.9): the audit layer a
  * model-scored data pipeline needs around its quality/classifier
  * scores — discrimination (ROC AUC) and drift (PSI) — next to the
  * distribution-shift screens (KL #86, pairwise KS #94).
  */
object Scores extends Op.Registry {

  // ---------------------------------------------------------------
  // 128. ROC AUC of a quality score against a binary label, per group:
  // does n_chars discriminate English docs within each source? The
  // Mann-Whitney midrank form over per-value counts — exact rational
  // arithmetic, one bounded window over distinct score values.
  def scoreAuc(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.rocAuc(Tables.documents(s, dir),
        col("source"), col("n_chars"), col("lang") === "en")
      .select(col("group").as("source"), col("n_pos"), col("n_neg"), col("auc"))

  private val scoreAucSql =
    """WITH counts AS (
         SELECT source, n_chars AS s,
                count(CASE WHEN lang = 'en' THEN 1 END) AS n1,
                count(CASE WHEN lang <> 'en' THEN 1 END) AS n0
         FROM documents GROUP BY 1, 2),
       mr AS (
         SELECT source, n1, n0,
                CAST(sum(n1 + n0) OVER (PARTITION BY source ORDER BY s ASC
                     ROWS UNBOUNDED PRECEDING) - (n1 + n0) AS DOUBLE)
                  + CAST(n1 + n0 + 1 AS DOUBLE) / 2.0 AS midrank
         FROM counts)
       SELECT source, CAST(sum(n1) AS BIGINT) AS n_pos,
              CAST(sum(n0) AS BIGINT) AS n_neg,
              round(CASE WHEN sum(n1) > 0 AND sum(n0) > 0 THEN
                (sum(midrank * n1) - CAST(sum(n1) AS DOUBLE) * (sum(n1) + 1) / 2.0)
                  / (CAST(sum(n1) AS DOUBLE) * sum(n0)) END, 6) AS auc
       FROM mr GROUP BY 1"""

  // ---------------------------------------------------------------
  // 296. categorical drift between stream halves — the categorical
  // twin of #129 (that bins VALUES; this watches the event-type MIX
  // itself, the first thing that moves when an upstream producer
  // changes): per event type, first-half vs second-half counts and
  // shares (Laplace +1 smoothing over |types| — zero-count-safe,
  // deterministic), and the per-type PSI contribution
  // (s2 − s1)·ln(s2/s1) whose sum is the drift index. Same exact
  // integral midpoint cut as #129.
  def categoryDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("ts_ns"))
    val rng = e.agg(min(col("ts_ns")).as("__mnts"), max(col("ts_ns")).as("__mxts"))
    val counts = e.crossJoin(broadcast(rng))
      .withColumn("b", col("ts_ns") <= expr("__mnts + (__mxts - __mnts) div 2"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("b"), 1L).otherwise(0L)).as("n_first"),
        sum(when(!col("b"), 1L).otherwise(0L)).as("n_second"))
      .localCheckpoint() // totals re-join its own rollup
    val tot = counts.agg(sum(col("n_first")).as("t1"),
      sum(col("n_second")).as("t2"), count(lit(1)).as("k"))
    counts.crossJoin(broadcast(tot))
      .withColumn("s1",
        (col("n_first") + lit(1L)).cast("double") / (col("t1") + col("k")).cast("double"))
      .withColumn("s2",
        (col("n_second") + lit(1L)).cast("double") / (col("t2") + col("k")).cast("double"))
      .select(col("event_type"), col("n_first"), col("n_second"),
        round(col("s1"), 6).as("share_first"),
        round(col("s2"), 6).as("share_second"),
        round((col("s2") - col("s1")) * log(col("s2") / col("s1")), 6)
          .as("psi_contrib"))
  }

  private val categoryDriftSql =
    """WITH rng AS (
         SELECT min(epoch_ns(ts)) AS mnts, max(epoch_ns(ts)) AS mxts FROM events),
       counts AS MATERIALIZED (
         SELECT event_type,
                CAST(sum(CASE WHEN epoch_ns(ts) <= mnts + (mxts - mnts) // 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
                CAST(sum(CASE WHEN epoch_ns(ts) <= mnts + (mxts - mnts) // 2
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_second
         FROM events, rng GROUP BY 1),
       tot AS (
         SELECT CAST(sum(n_first) AS BIGINT) AS t1,
                CAST(sum(n_second) AS BIGINT) AS t2, count(*) AS k
         FROM counts),
       sh AS (
         SELECT c.event_type, c.n_first, c.n_second,
                CAST(c.n_first + 1 AS DOUBLE) / CAST(t.t1 + t.k AS DOUBLE) AS s1,
                CAST(c.n_second + 1 AS DOUBLE) / CAST(t.t2 + t.k AS DOUBLE) AS s2
         FROM counts c, tot t)
       SELECT event_type, n_first, n_second,
              round(s1, 6) AS share_first,
              round(s2, 6) AS share_second,
              round((s2 - s1) * ln(s2 / s1), 6) AS psi_contrib
       FROM sh"""

  // ---------------------------------------------------------------
  // 129. PSI score drift per event type between the first and second
  // half of the stream (by the global ns-timestamp midpoint — exact
  // integer arithmetic, no double rounding at e18 magnitudes): 10
  // fixed-width bins over each type's global value span, smoothed.
  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("event_type"), col("value"), col("ts_ns"))
    val rng = e.agg(min(col("ts_ns")).as("__mnts"), max(col("ts_ns")).as("__mxts"))
    val tagged = e.crossJoin(broadcast(rng))
      // `div` = exact integral division: ns timestamps sit at ~1.8e18,
      // past double's 2^53 exact range, so `/` (double) would misplace
      // the midpoint cut
      .withColumn("__base", col("ts_ns") <= expr("__mnts + (__mxts - __mnts) div 2"))
    graft.api.Analytics.psi(tagged, col("event_type"), col("value"), col("__base"))
      .select(col("group").as("event_type"), col("n_baseline"),
        col("n_current"), col("psi"))
  }

  private val psiDriftSql =
    """WITH rng AS (
         SELECT min(epoch_ns(ts)) AS mnts, max(epoch_ns(ts)) AS mxts FROM events),
       e AS (
         SELECT event_type, value,
                (epoch_ns(ts) <= mnts + (mxts - mnts) // 2) AS b
         FROM events, rng),
       span AS (
         SELECT event_type, min(value) AS vmn, max(value) AS vmx FROM e GROUP BY 1),
       binned AS (
         SELECT e.event_type,
                CASE WHEN vmx > vmn THEN least(9,
                  CAST(floor((value - vmn) / (vmx - vmn) * 10) AS INT))
                ELSE 0 END AS bin,
                count(CASE WHEN b THEN 1 END) AS c1,
                count(CASE WHEN NOT b THEN 1 END) AS c0
         FROM e JOIN span ON e.event_type = span.event_type GROUP BY 1, 2),
       grid AS (
         SELECT event_type, bin
         FROM span CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin)),
       dense AS (
         SELECT grid.event_type, grid.bin,
                coalesce(c1, 0) AS c1, coalesce(c0, 0) AS c0
         FROM grid LEFT JOIN binned
           ON grid.event_type = binned.event_type AND grid.bin = binned.bin),
       tot AS (
         SELECT event_type, c1, c0,
                sum(c1) OVER (PARTITION BY event_type) AS t1,
                sum(c0) OVER (PARTITION BY event_type) AS t0
         FROM dense)
       SELECT event_type, CAST(max(t1) AS BIGINT) AS n_baseline,
              CAST(max(t0) AS BIGINT) AS n_current,
              round(sum(((c1 + 0.5) / (t1 + 5.0) - (c0 + 0.5) / (t0 + 5.0))
                * ln(((c1 + 0.5) / (t1 + 5.0)) / ((c0 + 0.5) / (t0 + 5.0)))), 6) AS psi
       FROM tot GROUP BY 1"""

  // ---------------------------------------------------------------
  // 135. time-decayed aggregate per entity (the feature-store recency
  // smoother; exponential half-life weighting to the corpus's newest
  // timestamp): Σ v·2^(−age/halflife), half-life 24 h. One bounded-key
  // aggregation; ages are exact long ns diffs cast to double hours
  // (diffs span days ≪ 2⁵³, so the cast is exact).
  def decayedSum(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("value"), col("ts_ns"))
    val mx = e.agg(max(col("ts_ns")).as("__mxts"))
    e.crossJoin(broadcast(mx))
      .withColumn("__age_h",
        (col("__mxts") - col("ts_ns")).cast("double") / lit(3.6e12))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") *
          exp(lit(-math.log(2.0) / 24.0) * col("__age_h"))), 6).as("decayed_sum"),
        round(sum(col("value")), 4).as("total"))
  }

  private val decayedSumSql =
    """WITH mx AS (SELECT max(epoch_ns(ts)) AS mxts FROM events)
       SELECT user_id, count(*) AS n_events,
              round(sum(value * exp(-ln(2)/24.0 *
                (CAST(mxts - epoch_ns(ts) AS DOUBLE)/3600000000000.0))), 6)
                AS decayed_sum,
              round(sum(value), 4) AS total
       FROM events, mx GROUP BY 1"""

  // ---------------------------------------------------------------
  // 147. calibration / reliability bins (the ECE table for a
  // quality-classifier score): normalize the score to [0,1] per group,
  // 10 fixed bins, per bin the mean confidence vs the observed positive
  // rate and their gap — the table behind a reliability diagram and the
  // Σ(n_b/N)|conf−acc| expected-calibration-error. Exact integer
  // normalization spans; bin math identical to psi's.
  def calibrationBins(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("source"), col("n_chars"), (col("lang") === "en").cast("int").as("__y"))
    val span = d.groupBy(col("source"))
      .agg(min(col("n_chars")).as("__mn"), max(col("n_chars")).as("__mx"))
    d.join(broadcast(span), "source")
      .withColumn("__u", when(col("__mx") > col("__mn"),
        (col("n_chars") - col("__mn")).cast("double") / (col("__mx") - col("__mn")))
        .otherwise(lit(0.0)))
      .withColumn("bin", least(lit(9), floor(col("__u") * 10).cast("int")).cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__u")), 6).as("confidence"),
        count(when(col("__y") === 1, lit(1))).as("__pos"))
      .select(col("source"), col("bin"), col("n"), col("confidence"),
        round(col("__pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(abs(col("confidence") -
          round(col("__pos").cast("double") / col("n"), 6)), 6).as("gap"))
  }

  private val calibrationBinsSql =
    """WITH d AS (
         SELECT source, n_chars, (lang = 'en') AS y FROM documents),
       span AS (
         SELECT source, min(n_chars) AS mn, max(n_chars) AS mx
         FROM d GROUP BY 1),
       u AS (
         SELECT d.source,
                CASE WHEN mx > mn
                  THEN CAST(n_chars - mn AS DOUBLE) / (mx - mn)
                  ELSE 0.0 END AS u, y
         FROM d JOIN span ON d.source = span.source),
       b AS (
         SELECT source, CAST(least(9, CAST(floor(u * 10) AS INT)) AS BIGINT) AS bin,
                count(*) AS n, round(avg(u), 6) AS confidence,
                count(CASE WHEN y THEN 1 END) AS pos
         FROM u GROUP BY 1, 2)
       SELECT source, bin, n, confidence,
              round(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
              round(abs(confidence - round(CAST(pos AS DOUBLE) / n, 6)), 6) AS gap
       FROM b"""

  // ---------------------------------------------------------------
  // 150. RFM quintile segmentation (recency / frequency / monetary —
  // the classic user-value partitioning): per-user metrics in one
  // aggregation; quintile boundaries are a 1-row exact-quantile
  // aggregate over the ROUNDED metrics (deterministic input ⇒ both
  // engines interpolate identical rationals), rounded 6dp, broadcast
  // back for the per-user fold-count assignment (the decile_bins
  // pattern — no sort, no ntile window). Recency scores inverted (most
  // recent = 5).
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val DayNs = 86400L * 1000 * 1000 * 1000
    val e = Tables.events(s, dir).select(col("user_id"), col("ts_ns"), col("value"))
    val mx = e.agg(max(expr(s"ts_ns div $DayNs")).as("__mxd"))
    val perUser = e.crossJoin(broadcast(mx))
      .groupBy(col("user_id"))
      .agg((max(col("__mxd")) - max(expr(s"ts_ns div $DayNs"))).as("recency_days"),
        count(lit(1)).as("frequency"),
        round(sum(col("value")), 4).as("monetary"))
    val bounds = perUser.agg(
      expr("transform(percentile(recency_days, array(0.2D, 0.4D, 0.6D, 0.8D)), q -> round(q, 6))").as("rb"),
      expr("transform(percentile(frequency, array(0.2D, 0.4D, 0.6D, 0.8D)), q -> round(q, 6))").as("fb"),
      expr("transform(percentile(monetary, array(0.2D, 0.4D, 0.6D, 0.8D)), q -> round(q, 6))").as("mb"))
    perUser.crossJoin(broadcast(bounds))
      .withColumn("r_score",
        expr("5 - aggregate(rb, 0, (acc, q) -> acc + IF(recency_days > q, 1, 0))").cast("long"))
      .withColumn("f_score",
        expr("1 + aggregate(fb, 0, (acc, q) -> acc + IF(frequency > q, 1, 0))").cast("long"))
      .withColumn("m_score",
        expr("1 + aggregate(mb, 0, (acc, q) -> acc + IF(monetary > q, 1, 0))").cast("long"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm_code"))
  }

  private val rfmSegmentsSql =
    """WITH mx AS (
         SELECT max(epoch_ns(ts) // 86400000000000) AS mxd FROM events),
       per_user AS (
         SELECT user_id,
                mxd - max(epoch_ns(ts) // 86400000000000) AS recency_days,
                count(*) AS frequency,
                round(sum(value), 4) AS monetary
         FROM events, mx GROUP BY user_id, mxd),
       bounds AS (
         SELECT list_transform(quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]),
                  q -> round(q, 6)) AS rb,
                list_transform(quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]),
                  q -> round(q, 6)) AS fb,
                list_transform(quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]),
                  q -> round(q, 6)) AS mb
         FROM per_user),
       scored AS (
         SELECT user_id, recency_days, frequency, monetary,
                5 - (CASE WHEN recency_days > rb[1] THEN 1 ELSE 0 END
                   + CASE WHEN recency_days > rb[2] THEN 1 ELSE 0 END
                   + CASE WHEN recency_days > rb[3] THEN 1 ELSE 0 END
                   + CASE WHEN recency_days > rb[4] THEN 1 ELSE 0 END) AS r_score,
                1 + (CASE WHEN frequency > fb[1] THEN 1 ELSE 0 END
                   + CASE WHEN frequency > fb[2] THEN 1 ELSE 0 END
                   + CASE WHEN frequency > fb[3] THEN 1 ELSE 0 END
                   + CASE WHEN frequency > fb[4] THEN 1 ELSE 0 END) AS f_score,
                1 + (CASE WHEN monetary > mb[1] THEN 1 ELSE 0 END
                   + CASE WHEN monetary > mb[2] THEN 1 ELSE 0 END
                   + CASE WHEN monetary > mb[3] THEN 1 ELSE 0 END
                   + CASE WHEN monetary > mb[4] THEN 1 ELSE 0 END) AS m_score
         FROM per_user, bounds)
       SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
              frequency, monetary,
              CAST(r_score AS BIGINT) AS r_score,
              CAST(f_score AS BIGINT) AS f_score,
              CAST(m_score AS BIGINT) AS m_score,
              CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code
       FROM scored"""

  // ---------------------------------------------------------------
  // 151. hour-of-day uniformity χ² (seasonality screen per event type):
  // goodness-of-fit of the 24 hour-bucket counts against uniform —
  // χ² = (24/N)·Σn_h² − N needs only OBSERVED cells (empty hours fold
  // into the identity). χ² is computed from exact integer counts with
  // one expression shape on both engines, so it ships bit-identical
  // and unrounded (the kruskal_wallis rational-statistic rule).
  def hourlyUniformity(s: SparkSession, dir: String): DataFrame = {
    val byHour = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("(ts_ns div 3600000000000) % 24").as("__h"))
      .agg(count(lit(1)).as("__nh"))
    val stats = byHour.groupBy(col("event_type"))
      .agg(sum(col("__nh")).as("n"), sum(col("__nh") * col("__nh")).as("__s2"))
    val chi2 = lit(24.0) / col("n") * col("__s2") - col("n")
    val dof = lit(23.0)
    val z = (cbrt(chi2 / dof) - (lit(1.0) - lit(2.0) / (lit(9.0) * dof))) /
      sqrt(lit(2.0) / (lit(9.0) * dof))
    val pTail = when(z >= 0, graft.core.Stats.normalUpperTail(z))
      .otherwise(lit(1.0) - graft.core.Stats.normalUpperTail(-z))
    stats.select(col("event_type"), col("n"), chi2.as("chi2"),
      round(coalesce(least(lit(1.0), pTail), lit(0.0)), 6).as("p_uniform"))
  }

  private val hourlyUniformitySql = {
    val qPos = graft.core.Stats.normalUpperTailSql("zz")
    val qNeg = graft.core.Stats.normalUpperTailSql("-zz")
    s"""WITH by_hour AS (
         SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS h,
                count(*) AS nh
         FROM events GROUP BY 1, 2),
       stats AS (
         SELECT event_type, CAST(sum(nh) AS BIGINT) AS n,
                CAST(sum(nh * nh) AS BIGINT) AS s2
         FROM by_hour GROUP BY 1),
       z AS (
         SELECT event_type, n, 24.0 / n * s2 - n AS chi2,
                (cbrt((24.0 / n * s2 - n) / 23.0) - (1.0 - 2.0/(9.0*23.0)))
                  / sqrt(2.0/(9.0*23.0)) AS zz
         FROM stats)
       SELECT event_type, n, chi2,
              round(coalesce(least(1.0,
                CASE WHEN zz >= 0 THEN $qPos ELSE 1.0 - $qNeg END), 0.0), 6)
                AS p_uniform
       FROM z"""
  }

  // ---------------------------------------------------------------
  // 233. deterministic Poisson-bootstrap confidence intervals (Chamandy
  // et al. 2012, "Estimating Uncertainty for Massive Data Streams" —
  // the Google large-scale bootstrap): per customer segment, a 95% CI
  // on mean order value from B=64 resample replicas. The classic
  // n-out-of-n resample needs global coordination; the Poisson trick
  // gives every row an INDEPENDENT Poisson(1) weight per replica, so
  // one streaming pass computes all B replicas. Weights derive from
  // SplitMix64(row_key·64+b) folded onto the 2000003 grid and an
  // integer inverse-CDF threshold chain — no RNG state, bit-identical
  // on any cluster and in DuckDB. The 64× explode collapses map-side
  // to (segment, replica) partials, so the exchange carries
  // |segments|·64 rows regardless of corpus size; replica sums are
  // rounded (4dp — magnitude ~1e8, fp slack ~1e-7) before the exact
  // order-statistic CI pick (rank 2 / rank 63 of 64, no interpolation).
  private val PoisThresholds =
    Seq(735760L, 1471520L, 1839400L, 1962027L, 1992683L, 1998815L)

  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val B = 64
    val rows = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_orderkey").as("key"),
        col("o_totalprice").as("x"))
    val weighted = rows
      .select(col("seg"), col("key"), col("x"),
        explode(expr(s"sequence(0, ${B - 1})")).as("b"))
      .withColumn("v",
        graft.functions.VectorFunctions
          .splitMixComp(col("key") * lit(B.toLong) + col("b")) + lit(1000001L))
      .withColumn("w", PoisThresholds
        .map(t => when(col("v") >= t, lit(1L)).otherwise(lit(0L)))
        .reduce(_ + _))
    val reps = weighted.groupBy(col("seg"), col("b"))
      .agg((round(sum(col("w") * col("x")), 4) / sum(col("w"))).as("m"))
    val ci = reps.groupBy(col("seg"))
      .agg(expr("sort_array(collect_list(round(m, 6)))").as("ms"))
      .select(col("seg"),
        round(element_at(col("ms"), 2), 6).as("ci_lo"),
        round(element_at(col("ms"), B - 1), 6).as("ci_hi"))
    rows.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_orders"), round(avg(col("x")), 4).as("mean_price"))
      .join(ci, "seg")
      .select(col("seg").as("c_mktsegment"), col("n_orders"), col("mean_price"),
        col("ci_lo"), col("ci_hi"), lit(64L).as("n_replicas"))
  }

  private val bootstrapCiSql = {
    val thr = PoisThresholds
      .map(t => s"(CASE WHEN v >= $t THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH rows_ AS MATERIALIZED (
         SELECT c.c_mktsegment AS seg, o.o_orderkey AS key, o.o_totalprice AS xv
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       bskeys AS MATERIALIZED (
         SELECT seg, key, xv, CAST(t.b AS BIGINT) AS b,
                (key * 64 + t.b)::HUGEINT AS x
         FROM rows_, LATERAL (SELECT unnest(generate_series(0, 63)) AS b) t),
       ${graft.sim.Ann.splitmixCtes("bs", "bskeys", "seg, key, xv, b")},
       wtd AS (
         SELECT seg, xv AS x, b,
                ($thr)::BIGINT AS w
         FROM (SELECT seg, key, xv, b,
                      ((hs % 2000003) + 2000003) % 2000003 AS v
               FROM bsh)),
       reps AS (
         SELECT seg, b, round(sum(w * x), 4) / sum(w) AS m
         FROM wtd GROUP BY 1, 2),
       ci AS (
         SELECT seg, list_sort(list(round(m, 6))) AS ms
         FROM reps GROUP BY 1)
       SELECT r.seg AS c_mktsegment,
              count(*) AS n_orders,
              round(avg(r.xv), 4) AS mean_price,
              round(any_value(c.ms)[2], 6) AS ci_lo,
              round(any_value(c.ms)[63], 6) AS ci_hi,
              64::BIGINT AS n_replicas
       FROM rows_ r JOIN ci c ON r.seg = c.seg
       GROUP BY 1"""
  }

  // ---------------------------------------------------------------
  // 238. Benford's-law first-digit screen (Nigrini's forensic/data-
  // quality test): per order priority, the observed leading-digit mix
  // of order totals vs the Benford expectation log10(1+1/d), with the
  // group χ². The leading digit is extracted from the INTEGER cents
  // string (round(x·100) → VARCHAR → first char): identical in both
  // engines, no log10-of-double boundary anywhere. Zero-count digits
  // materialize via the 9-digit frame so χ² sums all 9 cells; one
  // bounded-key shuffle.
  private val BenfordExp = Seq(
    0.301029995664, 0.176091259056, 0.124938736608, 0.096910013008,
    0.079181246048, 0.066946789631, 0.057991946978, 0.051152522447,
    0.045757490561)

  def benfordScreen(s: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("prio"),
        expr("CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS STRING), 1, 1) AS INT)")
          .as("d"))
      .groupBy(col("prio"), col("d")).agg(count(lit(1)).as("n_d"))
    val frame = digits.select(col("prio")).distinct()
      .crossJoin(broadcast(s.range(1, 10).select(col("id").cast("int").as("d"))))
    val tot = digits.groupBy(col("prio")).agg(sum(col("n_d")).as("n"))
    val expArr = array(BenfordExp.map(lit(_)): _*)
    val cells = frame
      .join(digits, Seq("prio", "d"), "left")
      .join(broadcast(tot), "prio")
      .select(col("prio"), col("d"), coalesce(col("n_d"), lit(0L)).as("n_d"), col("n"),
        (coalesce(col("n_d"), lit(0L)) / col("n").cast("double")).as("obs"),
        element_at(expArr, col("d")).as("exp"))
    val chi2 = cells.groupBy(col("prio"))
      .agg(round(sum(col("n") * (col("obs") - col("exp")) * (col("obs") - col("exp"))
        / col("exp")), 4).as("chi2"))
    cells.join(broadcast(chi2), "prio")
      .select(col("prio").as("o_orderpriority"), col("d").as("digit"),
        col("n_d"), round(col("obs"), 6).as("obs_share"),
        round(col("exp"), 6).as("exp_share"), col("chi2"))
  }

  private val benfordScreenSql = {
    val expList = BenfordExp.mkString("[", ", ", "]")
    s"""WITH digits AS (
         SELECT o_orderpriority AS prio,
                CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d,
                count(*) AS n_d
         FROM orders GROUP BY 1, 2),
       frame AS (
         SELECT p.prio, CAST(t.d AS INT) AS d
         FROM (SELECT DISTINCT prio FROM digits) p,
              LATERAL (SELECT unnest(generate_series(1, 9)) AS d) t),
       tot AS (SELECT prio, CAST(sum(n_d) AS BIGINT) AS n FROM digits GROUP BY 1),
       cells AS MATERIALIZED (
         SELECT f.prio, f.d, coalesce(g.n_d, 0) AS n_d, t.n,
                coalesce(g.n_d, 0) / CAST(t.n AS DOUBLE) AS obs,
                ($expList)[f.d] AS exp
         FROM frame f
         LEFT JOIN digits g ON f.prio = g.prio AND f.d = g.d
         JOIN tot t ON f.prio = t.prio),
       chi AS (
         SELECT prio, round(sum(n * (obs - exp) * (obs - exp) / exp), 4) AS chi2
         FROM cells GROUP BY 1)
       SELECT c.prio AS o_orderpriority, c.d AS digit, c.n_d,
              round(c.obs, 6) AS obs_share, round(c.exp, 6) AS exp_share,
              h.chi2
       FROM cells c JOIN chi h USING (prio)"""
  }

  // ---------------------------------------------------------------
  // 241. HBOS anomaly scores (Goldstein & Dengel 2012 histogram-based
  // outlier score — the deterministic unsupervised screen that scales
  // where isolation forests need RNG): three independent feature
  // histograms over orders (price in 10 fixed-width bins off the
  // global [min,max], day-of-week, capped line count), score =
  // Σ_f ln(N / n_bin(f)) — rare bins score high. Bin indices are
  // shared-IEEE floor arithmetic (identical op order both engines);
  // the flag compares the ROUNDED score to a literal. One pass +
  // broadcast bin tables; the lineitem count is the only extra
  // shuffle (its natural orderkey).
  def hbosOutliers(s: SparkSession, dir: String): DataFrame = {
    val nl = Tables.lineitem(s, dir).groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("nl0"))
    val base0 = Tables.orders(s, dir)
      .join(nl, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice").as("x"),
        // NTZ→TZ cast is value-identity under the session's UTC TZ
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 % 7").as("dow"),
        least(coalesce(col("nl0"), lit(0L)), lit(7L)).as("nlb"))
    val mm = base0.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val base = base0.crossJoin(broadcast(mm))
      .withColumn("pb", least(floor((col("x") - col("mn")) * lit(10.0)
        / (col("mx") - col("mn"))).cast("long"), lit(9L)))
      .localCheckpoint() // 3 bin-table scans + the final score pass
    val nTot = base.count() // bounded driver scalar
    def binTab(c: String) = base.groupBy(col(c)).agg(count(lit(1)).as(s"n_$c"))
    base
      .join(broadcast(binTab("pb")), "pb")
      .join(broadcast(binTab("dow")), "dow")
      .join(broadcast(binTab("nlb")), "nlb")
      .select(col("o_orderkey"), col("pb").as("price_bin"), col("dow"),
        col("nlb").as("lines_bin"),
        round(log(lit(nTot.toDouble) / col("n_pb"))
          + log(lit(nTot.toDouble) / col("n_dow"))
          + log(lit(nTot.toDouble) / col("n_nlb")), 6).as("hbos_score"))
      .withColumn("is_outlier", col("hbos_score") >= 6.0)
  }

  private val hbosOutliersSql =
    """WITH nl AS (
         SELECT l_orderkey AS o_orderkey, count(*) AS nl0
         FROM lineitem GROUP BY 1),
       base0 AS (
         SELECT o.o_orderkey, o.o_totalprice AS x,
                epoch_us(o.o_orderdate) // 86400000000 % 7 AS dow,
                least(coalesce(nl.nl0, 0), 7) AS nlb
         FROM orders o LEFT JOIN nl USING (o_orderkey)),
       mm AS (SELECT min(x) AS mn, max(x) AS mx FROM base0),
       base AS MATERIALIZED (
         SELECT o_orderkey, x, dow, nlb,
                least(CAST(floor((x - mn) * 10.0 / (mx - mn)) AS BIGINT), 9) AS pb
         FROM base0, mm),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM base),
       bpb AS (SELECT pb, count(*) AS n_pb FROM base GROUP BY 1),
       bdw AS (SELECT dow, count(*) AS n_dow FROM base GROUP BY 1),
       bnl AS (SELECT nlb, count(*) AS n_nlb FROM base GROUP BY 1)
       SELECT b.o_orderkey, b.pb AS price_bin, b.dow, b.nlb AS lines_bin,
              round(ln(n.nt / p.n_pb) + ln(n.nt / d.n_dow) + ln(n.nt / l.n_nlb), 6)
                AS hbos_score,
              round(ln(n.nt / p.n_pb) + ln(n.nt / d.n_dow) + ln(n.nt / l.n_nlb), 6)
                >= 6.0 AS is_outlier
       FROM base b
       JOIN bpb p USING (pb)
       JOIN bdw d USING (dow)
       JOIN bnl l USING (nlb), n"""

  // ---------------------------------------------------------------
  // 242. two-proportion z-test per segment (one-vs-rest): is this
  // customer segment's urgent-order rate different from everyone
  // else's? Pooled-variance z off pure integer counts, p-value via the
  // shared Zelen–Severo normal tail (Stats.normalUpperTail — the
  // hourly_uniformity device), two-sided. One bounded-key aggregation;
  // the one-vs-rest complement comes from broadcast totals, not a
  // second scan.
  def conversionZtest(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n1"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("k1"))
    val tot = seg.agg(sum(col("n1")).as("nt"), sum(col("k1")).as("kt"))
    val z = seg.crossJoin(broadcast(tot))
      .withColumn("n2", col("nt") - col("n1"))
      .withColumn("k2", col("kt") - col("k1"))
      .withColumn("p1", col("k1") / col("n1").cast("double"))
      .withColumn("p2", col("k2") / col("n2").cast("double"))
      .withColumn("pp", col("kt") / col("nt").cast("double"))
      .withColumn("z", (col("p1") - col("p2"))
        / sqrt(col("pp") * (lit(1.0) - col("pp"))
          * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))))
    z.select(col("c_mktsegment"), col("n1").as("n_orders"),
        col("k1").as("n_urgent"),
        round(col("p1"), 6).as("rate"),
        round(col("p2"), 6).as("rate_rest"),
        round(col("z"), 4).as("z"),
        round(lit(2.0) * graft.core.Stats.normalUpperTail(abs(col("z"))), 6).as("p_value"))
      .withColumn("significant", col("p_value") < 0.05)
  }

  private val conversionZtestSql = {
    val q = graft.core.Stats.normalUpperTailSql("abs(z)")
    s"""WITH seg AS (
         SELECT c.c_mktsegment, count(*) AS n1,
                CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS k1
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1),
       tot AS (SELECT CAST(sum(n1) AS BIGINT) AS nt, CAST(sum(k1) AS BIGINT) AS kt FROM seg),
       zt AS (
         SELECT c_mktsegment, n1, k1,
                k1 / CAST(n1 AS DOUBLE) AS p1,
                (kt - k1) / CAST(nt - n1 AS DOUBLE) AS p2,
                (k1 / CAST(n1 AS DOUBLE) - (kt - k1) / CAST(nt - n1 AS DOUBLE))
                  / sqrt(kt / CAST(nt AS DOUBLE) * (1.0 - kt / CAST(nt AS DOUBLE))
                    * (1.0 / n1 + 1.0 / (nt - n1))) AS z
         FROM seg, tot)
       SELECT c_mktsegment, n1 AS n_orders, k1 AS n_urgent,
              round(p1, 6) AS rate, round(p2, 6) AS rate_rest,
              round(z, 4) AS z,
              round(2.0 * $q, 6) AS p_value,
              round(2.0 * $q, 6) < 0.05 AS significant
       FROM zt"""
  }

  // ---------------------------------------------------------------
  // 244. Mann-Kendall trend test per event type over the daily count
  // series — the nonparametric monotonic-trend screen (is traffic
  // drifting?) that needs no distributional assumption: S = Σ_{i<j}
  // sign(x_j − x_i), tie-corrected variance, continuity-corrected z,
  // p via the shared normal tail. S and the tie terms are pure
  // integers; the pair join is per-type over the DAY-count series
  // (bounded by the retention window, never by event volume — at
  // scale the same test runs windowed or seasonally partitioned).
  def mannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // feeds the pair join twice + ties + n
    val sStat = daily.as("a")
      .join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.x") > col("a.x"), 1L)
        .when(col("b.x") < col("a.x"), -1L).otherwise(0L)).as("s_stat"))
    val nD = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("event_type"), col("x")).agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tie_term"))
    val z = sStat.join(nD, "event_type").join(ties, "event_type")
      .withColumn("var_s",
        (col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5)
          - col("tie_term")) / lit(18.0))
      .withColumn("z",
        when(col("s_stat") > 0, (col("s_stat") - 1) / sqrt(col("var_s")))
          .when(col("s_stat") < 0, (col("s_stat") + 1) / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
    z.select(col("event_type"), col("n_days"), col("s_stat"),
        round(col("var_s"), 4).as("var_s"), round(col("z"), 4).as("z"),
        round(lit(2.0) * graft.core.Stats.normalUpperTail(abs(col("z"))), 6).as("p_value"))
      .withColumn("trend",
        when(col("p_value") >= 0.05, lit("none"))
          .when(col("s_stat") > 0, lit("increasing")).otherwise(lit("decreasing")))
  }

  private val mannKendallSql = {
    val q = graft.core.Stats.normalUpperTailSql("abs(z)")
    s"""WITH daily AS MATERIALIZED (
         SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
                count(*) AS x
         FROM events GROUP BY 1, 2),
       sstat AS (
         SELECT a.event_type,
                CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
         FROM daily a JOIN daily b
           ON a.event_type = b.event_type AND a.day < b.day
         GROUP BY 1),
       nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
       ties AS (
         SELECT event_type,
                CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
         FROM (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2)
         GROUP BY 1),
       zt AS (
         SELECT s.event_type, n.n_days, s.s_stat,
                (n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - t.tie_term) / 18.0 AS var_s,
                CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - t.tie_term) / 18.0)
                     WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - t.tie_term) / 18.0)
                     ELSE 0.0 END AS z
         FROM sstat s JOIN nd n USING (event_type) JOIN ties t USING (event_type))
       SELECT event_type, n_days, s_stat,
              round(var_s, 4) AS var_s, round(z, 4) AS z,
              round(2.0 * $q, 6) AS p_value,
              CASE WHEN round(2.0 * $q, 6) >= 0.05 THEN 'none'
                   WHEN s_stat > 0 THEN 'increasing'
                   ELSE 'decreasing' END AS trend
       FROM zt"""
  }

  // ---------------------------------------------------------------
  // 245. Cohen's kappa between the two annotation methods (#20's
  // agreement score): per order priority, chance-corrected agreement
  // of the price-argmax vs quantity-argmax labels. The whole statistic
  // reduces to integers before one final division — kappa =
  // (diag·n − Σ_l c1_l·c2_l) / (n² − Σ_l c1_l·c2_l) — so no expected-
  // proportion fp accumulates. Winner construction mirrors
  // annotation_combine (bounded per-entity label windows).
  def cohensKappa(s: SparkSession, dir: String): DataFrame = {
    // r15 optimization (guide §2.4): both winner picks are pure
    // argmaxes — min(struct(−v, label)) reproduces the (v desc, label
    // asc) rank-1 row with map-side partial aggregation instead of the
    // two window sorts over the per-(entity, label) table. Same total
    // order, same winners, same hashes.
    val winners = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("entity"), col("l_returnflag").as("label"))
      .agg(sum(col("l_extendedprice")).as("v1"), sum(col("l_quantity")).as("v2"))
      .groupBy(col("entity"))
      .agg(min(struct((-col("v1")).as("nv"), col("label").as("l"))).as("a1"),
        min(struct((-col("v2")).as("nv"), col("label").as("l"))).as("a2"))
      .select(col("entity"), col("a1.l").as("m1"), col("a2.l").as("m2"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey").as("entity"), col("o_orderpriority").as("prio")), "entity")
    val n = winners.groupBy(col("prio")).agg(count(lit(1)).as("n"),
      sum(when(col("m1") === col("m2"), 1L).otherwise(0L)).as("diag"))
    val c1 = winners.groupBy(col("prio"), col("m1").as("lbl")).agg(count(lit(1)).as("c1"))
    val c2 = winners.groupBy(col("prio"), col("m2").as("lbl")).agg(count(lit(1)).as("c2"))
    val peNum = c1.join(c2, Seq("prio", "lbl"))
      .groupBy(col("prio")).agg(sum(col("c1") * col("c2")).as("pe_num"))
    n.join(peNum, "prio")
      .select(col("prio").as("o_orderpriority"), col("n"), col("diag"),
        round(col("diag") / col("n").cast("double"), 6).as("po"),
        round(col("pe_num") / (col("n") * col("n")).cast("double"), 6).as("pe"),
        when(col("n") * col("n") - col("pe_num") > 0,
          round((col("diag") * col("n") - col("pe_num"))
            / (col("n") * col("n") - col("pe_num")).cast("double"), 6)).as("kappa"))
  }

  private val cohensKappaSql =
    """WITH agg AS (
         SELECT l_orderkey AS entity, l_returnflag AS label,
                sum(l_extendedprice) AS v1, sum(l_quantity) AS v2
         FROM lineitem GROUP BY 1, 2),
       rk AS (
         SELECT entity, label,
                row_number() OVER (PARTITION BY entity ORDER BY v1 DESC, label ASC) AS rk1,
                row_number() OVER (PARTITION BY entity ORDER BY v2 DESC, label ASC) AS rk2
         FROM agg),
       winners AS MATERIALIZED (
         SELECT r.entity,
                max(CASE WHEN rk1 = 1 THEN label END) AS m1,
                max(CASE WHEN rk2 = 1 THEN label END) AS m2,
                any_value(o.o_orderpriority) AS prio
         FROM rk r JOIN orders o ON r.entity = o.o_orderkey
         GROUP BY 1),
       n AS (
         SELECT prio, count(*) AS n,
                CAST(sum(CASE WHEN m1 = m2 THEN 1 ELSE 0 END) AS BIGINT) AS diag
         FROM winners GROUP BY 1),
       c1 AS (SELECT prio, m1 AS lbl, count(*) AS c1 FROM winners GROUP BY 1, 2),
       c2 AS (SELECT prio, m2 AS lbl, count(*) AS c2 FROM winners GROUP BY 1, 2),
       pe AS (
         SELECT prio, CAST(sum(c1.c1 * c2.c2) AS BIGINT) AS pe_num
         FROM c1 JOIN c2 USING (prio, lbl) GROUP BY 1)
       SELECT n.prio AS o_orderpriority, n.n, n.diag,
              round(n.diag / CAST(n.n AS DOUBLE), 6) AS po,
              round(pe.pe_num / CAST(n.n * n.n AS DOUBLE), 6) AS pe,
              CASE WHEN n.n * n.n - pe.pe_num > 0 THEN
                round((n.diag * n.n - pe.pe_num)
                      / CAST(n.n * n.n - pe.pe_num AS DOUBLE), 6) END AS kappa
       FROM n JOIN pe USING (prio)"""

  // ---------------------------------------------------------------
  // 266. Wilson score intervals per segment — the small-sample-safe
  // rate CI (the #242 z-test's estimation dual; Wald intervals lie at
  // the extremes, Wilson doesn't): closed-form from the integer
  // (k, n) pair with z = 1.959964 — identical IEEE arithmetic on both
  // engines, no resampling. One bounded-key aggregation.
  private val WilsonZ = 1.959964

  def wilsonRates(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("k"))
    val z2 = WilsonZ * WilsonZ
    val p = col("k") / col("n").cast("double")
    val denom = lit(1.0) + lit(z2) / col("n")
    val center = (p + lit(z2) / (lit(2.0) * col("n"))) / denom
    val half = lit(WilsonZ) * sqrt(p * (lit(1.0) - p) / col("n")
      + lit(z2) / (lit(4.0) * col("n") * col("n"))) / denom
    seg.select(col("c_mktsegment"), col("n").as("n_orders"), col("k").as("n_urgent"),
      round(p, 6).as("rate"),
      round(center - half, 6).as("wilson_lo"),
      round(center + half, 6).as("wilson_hi"))
  }

  private val wilsonRatesSql = {
    val z = WilsonZ
    val z2 = z * z
    s"""WITH seg AS (
         SELECT c.c_mktsegment, count(*) AS n,
                CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS k
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1)
       SELECT c_mktsegment, n AS n_orders, k AS n_urgent,
              round(k / CAST(n AS DOUBLE), 6) AS rate,
              round(((k / CAST(n AS DOUBLE) + $z2 / (2.0 * n))
                     / (1.0 + $z2 / n))
                    - ($z * sqrt(k / CAST(n AS DOUBLE) * (1.0 - k / CAST(n AS DOUBLE)) / n
                                 + $z2 / (4.0 * n * n)) / (1.0 + $z2 / n)), 6) AS wilson_lo,
              round(((k / CAST(n AS DOUBLE) + $z2 / (2.0 * n))
                     / (1.0 + $z2 / n))
                    + ($z * sqrt(k / CAST(n AS DOUBLE) * (1.0 - k / CAST(n AS DOUBLE)) / n
                                 + $z2 / (4.0 * n * n)) / (1.0 + $z2 / n)), 6) AS wilson_hi
       FROM seg"""
  }

  // ---------------------------------------------------------------
  // 311. split-conformal prediction intervals (Vovk et al. 2005; Lei
  // et al. JASA 2018) — the distribution-free coverage guarantee next
  // to #147's calibration bins and #266's Wilson intervals: a
  // prediction rule plus a calibration quantile of its absolute
  // residuals gives P(y ∈ ŷ ± q̂) ≥ 1−α for ANY data distribution.
  // Protocol: calibration = even o_orderkey, test = odd (the #309
  // split convention); the predictor is the per-priority calibration
  // mean (conformal wraps any predictor — the point is the wrapper,
  // not the model); α = 0.1. The conformal order statistic
  // k = ⌈(n_cal+1)(1−α)⌉ is realized BINNED (the pairwise_ks_binned
  // precedent): residuals land in 1024 fixed-width bins over the
  // broadcast global calibration range, q̂ = the right edge of the
  // first bin whose cumulative count reaches k — q̂_binned ≥ q̂_exact
  // by construction, so the ≥ 1−α guarantee is PRESERVED (the bin
  // discretization only widens, never narrows). Per-priority window
  // over ≤1024 bins — bounded by construction; everything else is
  // two scans of orders and 5-row broadcasts. The test-half coverage
  // column demonstrates the guarantee empirically (≥ 0.9 up to
  // binomial noise).
  private val ConformalBins = 1024

  def conformalIntervals(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"),
        col("o_totalprice").as("y"))
    val cal = o.filter(pmod(col("k"), lit(2)) === 0)
    val yhat = cal.groupBy(col("prio"))
      .agg(avg(col("y")).as("yhat"), count(lit(1)).as("n_cal"))
    val calR = cal.join(broadcast(yhat), "prio")
      .withColumn("res", abs(col("y") - col("yhat")))
    val range = calR.agg(max(col("res")).as("rmax"))
    // greatest(rmax, tiny): all-zero calibration residuals (rmax = 0)
    // would otherwise NULL the bin and silently drop every priority;
    // with the guard they land in bin 0 and q̂ = (0+1)·(0/B) = 0 — the
    // honest degenerate answer. Mirrored in the oracle SQL.
    val binned = calR.crossJoin(broadcast(range))
      .withColumn("bin",
        least(floor(col("res") / (greatest(col("rmax"), lit(1e-12)) / ConformalBins)),
          lit((ConformalBins - 1).toDouble)).cast("long"))
      .groupBy(col("prio"), col("bin")).agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("prio")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // k = ceil((n_cal + 1) * 0.9) in exact integers
    val qhat = binned
      .withColumn("cum", sum(col("c")).over(wcum))
      .join(broadcast(yhat.select(col("prio"),
        expr("(9 * (n_cal + 1) + 9) div 10").as("kth"))), "prio")
      .filter(col("cum") >= col("kth"))
      .groupBy(col("prio")).agg(min(col("bin")).as("qbin"))
      .crossJoin(broadcast(range))
      .select(col("prio"),
        ((col("qbin") + 1) * (col("rmax") / ConformalBins)).as("qhat"))
    o.filter(pmod(col("k"), lit(2)) === 1)
      .join(broadcast(yhat), "prio")
      .join(broadcast(qhat), "prio")
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_test"),
        avg((abs(col("y") - col("yhat")) <= col("qhat")).cast("double")).as("cov"),
        first(col("n_cal")).as("n_cal"),
        first(col("yhat")).as("yh"), first(col("qhat")).as("qh"))
      .select(col("prio").as("o_orderpriority"), col("n_cal"), col("n_test"),
        round(col("yh"), 4).as("yhat"), round(col("qh"), 4).as("qhat"),
        round(col("cov"), 6).as("coverage"))
  }

  private val conformalIntervalsSql =
    s"""WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS prio, o_totalprice AS y FROM orders),
       |cal AS MATERIALIZED (SELECT * FROM o WHERE k % 2 = 0),
       |yh AS MATERIALIZED (
       |  SELECT prio, avg(y) AS yhat, count(*)::BIGINT AS n_cal FROM cal GROUP BY 1),
       |calr AS MATERIALIZED (
       |  SELECT cal.prio, abs(cal.y - yh.yhat) AS res FROM cal JOIN yh USING (prio)),
       |rg AS (SELECT max(res) AS rmax FROM calr),
       |binned AS (
       |  SELECT prio,
       |         CAST(least(floor(res / (greatest(rg.rmax, 1e-12) / $ConformalBins)),
       |                    ${ConformalBins - 1}.0) AS BIGINT) AS bin,
       |         count(*)::BIGINT AS c
       |  FROM calr, rg GROUP BY 1, 2),
       |cum AS (
       |  SELECT prio, bin, sum(c) OVER (PARTITION BY prio ORDER BY bin
       |           ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM binned),
       |qh AS MATERIALIZED (
       |  SELECT cum.prio, (min(bin) + 1) * (rg.rmax / $ConformalBins) AS qhat
       |  FROM cum JOIN yh ON cum.prio = yh.prio, rg
       |  WHERE cum >= (9 * (yh.n_cal + 1) + 9) // 10
       |  GROUP BY cum.prio, rg.rmax)
       |SELECT o.prio AS o_orderpriority, yh.n_cal, count(*)::BIGINT AS n_test,
       |       round(yh.yhat, 4) AS yhat, round(qh.qhat, 4) AS qhat,
       |       round(avg(CASE WHEN abs(o.y - yh.yhat) <= qh.qhat
       |                 THEN 1.0 ELSE 0.0 END), 6) AS coverage
       |FROM o JOIN yh ON o.prio = yh.prio JOIN qh ON o.prio = qh.prio
       |WHERE o.k % 2 = 1
       |GROUP BY 1, 2, yh.yhat, qh.qhat""".stripMargin

  // ---------------------------------------------------------------
  // 349. Isotonic (PAV) calibration of a quality score (Zadrozny &
  // Elkan 2002; the standard post-hoc calibrator for classifier-scored
  // curation): bin n_chars into 40 fixed-width buckets, fit the
  // monotone-nondecreasing rate curve by pool-adjacent-violators in
  // its minimax closed form — fit(k) = max_{i<=k} min_{j>=k}
  // wavg(i..j) — over the BOUNDED bin table (everything after the one
  // fact agg is a <=40-row frame, so the O(B^3) pair enumeration is
  // ~64k tuples regardless of corpus size). All ratios are
  // integer/integer, so min/max see bit-identical doubles in both
  // engines — fp-safe argmins without rounding tricks.
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    val B = 40
    val mx = Tables.documents(s, dir).agg(max(col("n_chars")).as("mc"))
    val binned = Tables.documents(s, dir).crossJoin(broadcast(mx))
      .select(least(floor(col("n_chars") * B / (col("mc") + 1)), lit(B - 1))
        .cast("long").as("bin"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val bins = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("w"), sum(col("y")).as("yy"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
    // <=40 rows from here on: the global-order window is bounded
    val c = bins.select(col("bin"), col("w"), col("yy"),
      sum(col("w")).over(wOrd).as("cw"), sum(col("yy")).over(wOrd).as("cy"),
      coalesce(sum(col("w")).over(wOrd.rowsBetween(Long.MinValue, -1)), lit(0L)).as("pcw"),
      coalesce(sum(col("yy")).over(wOrd.rowsBetween(Long.MinValue, -1)), lit(0L)).as("pcy"))
    val k = c.select(col("bin").as("kb"))
    val pairs = k
      .join(broadcast(c.select(col("bin").as("ib"), col("pcy"), col("pcw"))),
        col("ib") <= col("kb"))
      .join(broadcast(c.select(col("bin").as("jb"), col("cy"), col("cw"))),
        col("jb") >= col("kb"))
      .select(col("kb"), col("ib"), col("pcy"), col("pcw"),
        ((col("cy") - col("pcy")) / (col("cw") - col("pcw")).cast("double")).as("m"))
    val fit = pairs.groupBy(col("kb"), col("ib")).agg(min(col("m")).as("mn"))
      .groupBy(col("kb")).agg(max(col("mn")).as("iso"))
    bins.join(fit, col("bin") === col("kb"))
      .select(col("bin"), col("w").as("n"),
        round(col("yy") / col("w").cast("double"), 6).as("rate"),
        round(col("iso"), 6).as("iso_rate"),
        round(abs(col("yy") / col("w").cast("double") - col("iso")), 6).as("gap"))
  }

  private val isotonicCalibrationSql =
    """WITH mx AS (SELECT max(n_chars) AS mc FROM documents),
       b AS (
         SELECT least(CAST(n_chars * 40 // (mc + 1) AS BIGINT), 39) AS bin,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         FROM documents, mx),
       bins AS (SELECT bin, count(*) AS w, sum(y) AS yy FROM b GROUP BY 1),
       c AS (
         SELECT bin, w, yy,
           sum(w) OVER (ORDER BY bin) AS cw,
           sum(yy) OVER (ORDER BY bin) AS cy,
           coalesce(sum(w) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pcw,
           coalesce(sum(yy) OVER (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pcy
         FROM bins),
       pairs AS (
         SELECT k.bin AS kb, i.bin AS ib, i.pcy, i.pcw,
                (j.cy - i.pcy) / CAST(j.cw - i.pcw AS DOUBLE) AS m
         FROM c k JOIN c i ON i.bin <= k.bin JOIN c j ON j.bin >= k.bin),
       inner_min AS (
         SELECT kb, ib, min(m) AS mn FROM pairs GROUP BY 1, 2),
       fit AS (SELECT kb, max(mn) AS iso FROM inner_min GROUP BY 1)
       SELECT b.bin, b.w AS n,
              round(b.yy / CAST(b.w AS DOUBLE), 6) AS rate,
              round(f.iso, 6) AS iso_rate,
              round(abs(b.yy / CAST(b.w AS DOUBLE) - f.iso), 6) AS gap
       FROM bins b JOIN fit f ON b.bin = f.kb"""

  // ---------------------------------------------------------------
  // 350. Propensity-score nearest match (Rosenbaum & Rubin 1983;
  // with-replacement 1-NN): treated units (BUILDING-segment customers)
  // each match the nearest control by account balance WITHIN their
  // nation stratum — the standard exact-match-on-covariate +
  // nearest-on-score design, and the stratification is also the scale
  // story: the sort window partitions by nation, never globally (at
  // 100 TB stratify finer — score-bucket pre-binning — the same
  // contract). Nearest = min |score diff| between the previous and
  // next control in the (score, id) order; equal diffs break to the
  // smaller control id. Deterministic: parquet doubles are identical
  // bytes in both engines.
  def propensityMatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = Tables.customer(s, dir).select(col("c_custkey").as("id"),
      col("c_acctbal").as("score"), col("c_nationkey").as("nation"),
      (col("c_mktsegment") === "BUILDING").as("treated"))
    val w = Window.partitionBy(col("nation")).orderBy(col("score").asc, col("id").asc)
    val ctlId = when(!col("treated"), col("id"))
    val ctlS = when(!col("treated"), col("score"))
    val marked = u
      .withColumn("prev_id", last(ctlId, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("prev_s", last(ctlS, ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_id", first(ctlId, ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .withColumn("next_s", first(ctlS, ignoreNulls = true)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("treated"))
    val dPrev = abs(col("score") - col("prev_s"))
    val dNext = abs(col("next_s") - col("score"))
    marked.select(col("id").as("treated_id"), col("nation"), col("score"),
      when(col("prev_id").isNull, col("next_id"))
        .when(col("next_id").isNull, col("prev_id"))
        .when(dPrev < dNext, col("prev_id"))
        .when(dNext < dPrev, col("next_id"))
        .otherwise(least(col("prev_id"), col("next_id"))).as("control_id"),
      round(when(col("prev_id").isNull, dNext)
        .when(col("next_id").isNull, dPrev)
        .otherwise(least(dPrev, dNext)), 6).as("score_diff"))
      .filter(col("control_id").isNotNull)
  }

  private val propensityMatchSql =
    """WITH u AS (
         SELECT c_custkey AS id, c_acctbal AS score, c_nationkey AS nation,
                (c_mktsegment = 'BUILDING') AS treated
         FROM customer),
       w AS (
         SELECT id, nation, score, treated,
           last_value(CASE WHEN NOT treated THEN id END IGNORE NULLS)
             OVER (PARTITION BY nation ORDER BY score ASC, id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
           last_value(CASE WHEN NOT treated THEN score END IGNORE NULLS)
             OVER (PARTITION BY nation ORDER BY score ASC, id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_s,
           first_value(CASE WHEN NOT treated THEN id END IGNORE NULLS)
             OVER (PARTITION BY nation ORDER BY score ASC, id ASC
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id,
           first_value(CASE WHEN NOT treated THEN score END IGNORE NULLS)
             OVER (PARTITION BY nation ORDER BY score ASC, id ASC
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_s
         FROM u)
       SELECT id AS treated_id, nation, score,
         CASE
           WHEN prev_id IS NULL THEN next_id
           WHEN next_id IS NULL THEN prev_id
           WHEN abs(score - prev_s) < abs(next_s - score) THEN prev_id
           WHEN abs(next_s - score) < abs(score - prev_s) THEN next_id
           ELSE least(prev_id, next_id) END AS control_id,
         round(CASE
           WHEN prev_id IS NULL THEN abs(next_s - score)
           WHEN next_id IS NULL THEN abs(score - prev_s)
           ELSE least(abs(score - prev_s), abs(next_s - score)) END, 6) AS score_diff
       FROM w
       WHERE treated AND (prev_id IS NOT NULL OR next_id IS NOT NULL)"""

  val ops: Seq[Op] = Seq(
    Op("isotonic_calibration", isotonicCalibration _, Oracle(isotonicCalibrationSql),
      quadratic = Some(Reasons.BoundedScaffolds),
      globalWindow = Some("<=40-row bin cum table")),
    Op("propensity_match", propensityMatch _, Oracle(propensityMatchSql)),
    Op("conformal_intervals", conformalIntervals _, Oracle(conformalIntervalsSql),
      quadratic = Some("conformal_intervals attaches the 1-row global residual-range " +
        "aggregate twice (bin width + q̂ reconstruction — the hbos_outliers min-max " +
        "precedent)")),
    Op("bootstrap_ci", bootstrapCi _, Oracle(bootstrapCiSql)),
    Op("benford_screen", benfordScreen _, Oracle(benfordScreenSql),
      quadratic = Some(Reasons.TotalsAttach)),
    Op("hbos_outliers", hbosOutliers _, Oracle(hbosOutliersSql),
      quadratic = Some(Reasons.TotalsAttach)),
    Op("wilson_rates", wilsonRates _, Oracle(wilsonRatesSql)),
    Op("mann_kendall", mannKendall _, Oracle(mannKendallSql)),
    Op("cohens_kappa", cohensKappa _, Oracle(cohensKappaSql)),
    Op("conversion_ztest", conversionZtest _, Oracle(conversionZtestSql),
      quadratic = Some(Reasons.TotalsAttach)),
    Op("rfm_segments", rfmSegments _, Oracle(rfmSegmentsSql),
      quadratic = Some("rfm_segments attaches the 1-row day-max and quintile-bounds " +
        "aggs")),
    Op("hourly_uniformity", hourlyUniformity _, Oracle(hourlyUniformitySql)),
    Op("score_auc", scoreAuc _, Oracle(scoreAucSql)),
    Op("psi_drift", psiDrift _, Oracle(psiDriftSql),
      quadratic = Some(Reasons.GlobalScalarsOrBinGrid)),
    Op("category_drift", categoryDrift _, Oracle(categoryDriftSql),
      quadratic = Some("category_drift attaches the 1-row ts-range and totals aggs — " +
        "scalar attaches (the psi_drift precedent)")),
    Op("decayed_sum", decayedSum _, Oracle(decayedSumSql),
      quadratic = Some(Reasons.GlobalScalarsOrBinGrid)),
    Op("calibration_bins", calibrationBins _, Oracle(calibrationBinsSql)))
}
