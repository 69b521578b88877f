package graft.api

import graft.core.Stats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The generic, user-facing operator API.
  *
  * Every analytic the engine offers is defined here over ARBITRARY
  * DataFrames + column bindings — the long-format (entity, feature,
  * value) model the reference's cell×gene matrices map onto (SURVEY.md
  * §3). graft.sc / graft.dedup / graft.sim bind these operators to the
  * test star schema for the oracle harness; a user brings their own
  * tables and calls these directly.
  *
  * All operators return unrounded results (callers round for display /
  * comparison) and are pure plan builders: no actions, no collect, no
  * caching side effects.
  */
object Analytics {

  /** Spread a narrow input across the cluster before compute-heavy
    * per-row work (sketch signatures, shingle hashing, vector math).
    * No-op when the source files already yield ≥ defaultParallelism
    * scan splits — the 100 TB case, where inputs arrive with thousands
    * of row groups. On small/single-row-group files (which Spark
    * cannot split below a row group) it unlocks the full core count;
    * the extra exchange moves only the raw rows it spreads, which the
    * downstream CPU cost dwarfs by construction at these call sites.
    * The split estimate reads only file METADATA (no physical
    * planning — .rdd here would re-plan the query at ~250ms a call);
    * non-file sources (memory streams, JDBC) estimate 0 and spread,
    * which is the conservative choice for a compute-heavy consumer. */
  def spread(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val p = s.sparkContext.defaultParallelism
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    val files = df.inputFiles
    val splits =
      if (files.isEmpty) 0L
      else {
        // per-path filesystem resolution (NOT FileSystem.get, which
        // returns the DEFAULT fs): inputs may live on a scheme other
        // than the cluster default (s3a on an hdfs-default cluster)
        val conf = s.sessionState.newHadoopConf()
        files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val len = p.getFileSystem(conf).getFileStatus(p).getLen
          math.max(1L, (len + maxSplit - 1) / maxSplit)
        }.sum
      }
    if (splits < p) df.repartition(p) else df
  }

  // ----------------------------------------------------------- QC

  /** Per-entity QC: total value, #features detected, % of total value
    * inside the feature subset defined by `subset` (wrapper.R:78-117). */
  def cellMetrics(m: DataFrame, entity: Column, feature: Column, value: Column,
      subset: Column): DataFrame =
    m.groupBy(entity.as("entity"))
      .agg(sum(value).as("total"),
        countDistinct(feature).as("detected"),
        (lit(100.0) * sum(when(subset, value).otherwise(0.0)) / sum(value)).as("pct_subset"))

  /** Per-batch MAD outlier flags on a metric (wrapper.R:148-220):
    * |x − median| > nmads·1.4826·MAD, with a low-side flag. Medians are
    * tiny per-batch aggregates broadcast back — no giant window sorts. */
  def madOutliers(metrics: DataFrame, batch: String, x: String,
      nmads: Double = 3.0, exact: Boolean = true): DataFrame = {
    // exact=false swaps the medians for single-pass bounded-memory
    // sketches (percentile_approx) — the 100 TB default when the oracle
    // doesn't demand exact interpolation.
    def med50(c: Column): Column =
      if (exact) Stats.medianCol(c) else Stats.quantileApproxCol(c, 0.5)
    val med = metrics.groupBy(col(batch)).agg(med50(col(x)).as("med"))
    val withMed = metrics.join(broadcast(med), batch)
    val mad = withMed.groupBy(col(batch))
      .agg(med50(abs(col(x) - col("med"))).as("mad"))
    withMed.join(broadcast(mad), batch)
      .withColumn("outlier", abs(col(x) - col("med")) > lit(nmads * 1.4826) * col("mad"))
      .withColumn("outlier_low", col(x) < col("med") - lit(nmads * 1.4826) * col("mad"))
  }

  /** Keep features detected in ≥ minCount entities or ≥ minFrac of all
    * entities (wrapper.R:223-252). */
  def featureFilter(m: DataFrame, entity: Column, feature: Column,
      minCount: Int, minFrac: Double): DataFrame = {
    val nEntities = m.agg(countDistinct(entity).as("n_entities"))
    m.groupBy(feature.as("feature"))
      .agg(countDistinct(entity).as("n_detected")) // ENTITIES, not rows — input may repeat (entity, feature)
      .crossJoin(broadcast(nEntities))
      .withColumn("keep",
        col("n_detected") >= minCount ||
          col("n_detected").cast("double") / col("n_entities") >= minFrac)
  }

  /** Counts-per-`scale` log1p normalization (reference.R:157-160). */
  def logNormalize(m: DataFrame, entity: Column, feature: Column, value: Column,
      scale: Double = 1e4): DataFrame = {
    // r15 optimization note: a groupBy-totals + broadcast-join variant
    // was measured SLOWER here (log_normalize 1.03 → 1.40 s,
    // tf_activity_ulm 3.01 → 4.60 s at sf0.1): `m` is itself a lazy
    // aggregation in every caller, and referencing it from both join
    // sides re-executes it — the window reads the matrix once. Kept as
    // the window form deliberately.
    val w = Window.partitionBy(entity)
    m.select(entity.as("entity"), feature.as("feature"),
      log1p(value / sum(value).over(w) * lit(scale)).as("lognorm"))
  }

  /** Quantile normalization across entities (the classic microarray /
    * expression-matrix normalizer): rank values within each entity,
    * average values at each rank across entities, substitute. Requires
    * equal per-entity vector lengths for strict semantics; with ragged
    * entities the rank-mean join still applies rank-wise. Two shuffles:
    * the per-entity rank window and the per-rank mean. */
  def quantileNormalize(m: DataFrame, entity: Column, feature: Column,
      value: Column): DataFrame = {
    val wRank = Window.partitionBy(col("entity")).orderBy(col("value").asc, col("feature").asc)
    val ranked = m.select(entity.as("entity"), feature.as("feature"), value.as("value"))
      .withColumn("rnk", row_number().over(wRank))
    val rankMeans = ranked.groupBy(col("rnk")).agg(avg(col("value")).as("qnorm"))
    ranked.join(rankMeans, "rnk")
      .select(col("entity"), col("feature"), col("value"), col("qnorm"))
  }

  /** Approximate distinct count per group via HyperLogLog++ — the
    * 100 TB path for cardinality (countDistinct shuffles every distinct
    * value; HLL ships a fixed-size sketch). rsd = relative std dev. */
  def approxDistinct(df: DataFrame, grp: Column, item: Column,
      rsd: Double = 0.01): DataFrame =
    df.groupBy(grp.as("grp"))
      .agg(approx_count_distinct(item, rsd).as("n_distinct_approx"))

  // --------------------------------------------------- annotation

  /** Winning label per entity with delta-from-median and delta-from-
    * runner-up quality scores (compare_annotation.R:18-48). */
  def annotationDeltas(scores: DataFrame, entity: Column, label: Column,
      score: Column): DataFrame = {
    val wRank = Window.partitionBy(col("entity")).orderBy(col("score").desc, col("label").asc)
    val wAll = Window.partitionBy(col("entity"))
    scores.select(entity.as("entity"), label.as("label"), score.as("score"))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("med", Stats.medianCol(col("score")).over(wAll))
      .withColumn("nxt", lead(col("score"), 1).over(wRank))
      .filter(col("rk") === 1)
      .select(col("entity"), col("label").as("top_label"), col("score"),
        (col("score") - col("med")).as("delta_med"),
        (col("score") - coalesce(col("nxt"), lit(0.0))).as("delta_next"))
  }

  /** Combine two per-entity annotations: agreement keeps the label,
    * disagreement → `ambiguousLabel` (compare_annotation.R:57-113). */
  def annotationCombine(m1: DataFrame, m2: DataFrame,
      ambiguousLabel: String = "Ambiguous"): DataFrame =
    m1.join(m2, "entity")
      .withColumn("final_label",
        when(col("label_m1") === col("label_m2"), col("label_m1"))
          .otherwise(lit(ambiguousLabel)))

  // ---------------------------------------------------- diversity

  /** Label×group crosstab row proportions, then per-label coefficient of
    * variation across groups (integrate.R:188-266). */
  def labelGroupCv(df: DataFrame, grp: Column, label: Column): DataFrame = {
    val counts = df.groupBy(grp.as("grp"), label.as("label")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp"))
    counts
      .withColumn("prop", col("n").cast("double") / sum(col("n")).over(w))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_groups"),
        (stddev_pop(col("prop")) / avg(col("prop"))).as("cv"))
  }

  /** Inverse-Simpson (LISI-like) diversity per group (integrate.R:239-266). */
  def inverseSimpson(df: DataFrame, grp: Column, label: Column): DataFrame =
    df.groupBy(grp.as("grp"), label.as("label")).agg(count(lit(1)).as("n"))
      .groupBy(col("grp"))
      .agg(sum(col("n")).as("n_total"), sum(col("n") * col("n")).as("sum_sq"))
      .select(col("grp"), col("n_total"),
        (col("n_total").cast("double") * col("n_total") / col("sum_sq")).as("inv_simpson"))

  // --------------------------------------------------- enrichment

  /** Hypergeometric over-representation per term + BH adjust
    * (funx_enrichment.R:19-158). `membership` is (term, item); `hits` is
    * the distinct hit items; `universeSize` the total item count.
    * p-values are computed in log space with the codegen'd Stirling
    * lgamma (graft.core.Stats) — no UDFs, no lookup joins. */
  def enrichmentOra(membership: DataFrame, term: Column, item: Column,
      hits: DataFrame, hitItem: Column): DataFrame = {
    val h = hits.select(hitItem.as("hit_item")).distinct()
    val base = membership.select(term.as("term"), item.as("item"))
      .join(h.withColumn("hit", lit(1)), col("item") === col("hit_item"), "left")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("k_term"), sum(coalesce(col("hit"), lit(0))).as("k_hits"))
      .crossJoin(broadcast(
        membership.agg(countDistinct(item).as("n_universe"))))
      .crossJoin(broadcast(h.agg(count(lit(1)).as("n_hits"))))
    val tail = base
      .withColumn("j", explode(sequence(col("k_hits"), least(col("k_term"), col("n_hits")))))
      .withColumn("lnp",
        Stats.lnChoose(col("k_term").cast("double"), col("j").cast("double")) +
          Stats.lnChoose((col("n_universe") - col("k_term")).cast("double"),
            (col("n_hits") - col("j")).cast("double")) -
          Stats.lnChoose(col("n_universe").cast("double"), col("n_hits").cast("double")))
      .groupBy(col("term"), col("n_universe"), col("k_term"), col("n_hits"), col("k_hits"))
      .agg(sum(exp(col("lnp"))).as("p_value"))
    bhAdjust(tail, col("p_value"), col("term"))
  }

  /** Benjamini-Hochberg adjustment: adds `p_adj` given a p-value column
    * and a deterministic tie-break column. */
  def bhAdjust(df: DataFrame, p: Column, tieBreak: Column): DataFrame = {
    val wRank = Window.orderBy(p.asc, tieBreak.asc)
    // running min over rk DESC, [unboundedPreceding, current]: Spark
    // maintains growing frames incrementally (O(n)), while a
    // [current, unboundedFollowing] frame is recomputed from scratch
    // per row (O(n²) — 8s on 2000 features before this was flipped).
    val wBh = Window.orderBy(col("__rk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__rk", row_number().over(wRank))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("p_adj", least(lit(1.0), min(p * col("__m") / col("__rk")).over(wBh)))
      .drop("__rk", "__m")
  }

  /** Module score: mean value over a feature set minus mean over the
    * control set, per entity (wrapper.R:254-257). */
  def moduleScore(m: DataFrame, entity: Column, value: Column,
      inSet: Column, inControl: Column): DataFrame =
    m.groupBy(entity.as("entity"))
      .agg((avg(when(inSet, value)) - avg(when(inControl, value))).as("module_score"))

  // -------------------------------------------------------- stats

  /** Per-feature one-way ANOVA R² of value vs a categorical covariate
    * (integrate.R:19-44): SS_between / SS_total via two aggregations. */
  def varianceExplained(df: DataFrame, feature: Column, grp: Column,
      x: Column): DataFrame = {
    val t = df.select(feature.as("feature"), grp.as("grp"), x.as("x"))
    val byGroup = t.groupBy(col("feature"), col("grp"))
      .agg(count(lit(1)).as("n_g"), avg(col("x")).as("m_g"))
    val overall = t.groupBy(col("feature"))
      .agg(count(lit(1)).as("n_all"), avg(col("x")).as("m_all"), var_pop(col("x")).as("v_all"))
    byGroup.join(overall, "feature")
      .groupBy(col("feature"), col("n_all"), col("v_all"))
      .agg(sum(col("n_g") * (col("m_g") - col("m_all")) * (col("m_g") - col("m_all"))).as("ss_between"))
      .select(col("feature"), col("n_all"),
        (col("ss_between") / (col("n_all") * nullif(col("v_all"), lit(0.0)))).as("r2"))
  }

  /** Regress a continuous covariate out of a value, per feature
    * (integrate.R:51-181 / scater regressBatches analog): residual =
    * y − (α_f + β_f·x) with per-feature OLS coefficients from one
    * aggregate pass, broadcast back — fact rows never shuffle. */
  def regressOut(df: DataFrame, feature: Column, x: Column,
      y: Column): DataFrame = {
    val t = df.withColumn("__f", feature).withColumn("__x", x).withColumn("__y", y)
    val coef = t.groupBy(col("__f"))
      .agg(regr_slope(col("__y"), col("__x")).as("__b"),
        regr_intercept(col("__y"), col("__x")).as("__a"),
        avg(col("__y")).as("__my"))
    t.join(broadcast(coef), "__f")
      .withColumn("residual",
        when(col("__b").isNull, col("__y") - col("__my")) // zero-variance covariate
          .otherwise(col("__y") - (col("__a") + col("__b") * col("__x"))))
      .drop("__f", "__x", "__y", "__a", "__b", "__my")
  }

  /** Per-feature TWO-covariate OLS residuals (integrate.R:51-181's
    * vars.to.regress with multiple variables — e.g. batch effect AND
    * library size): closed-form normal-equation solve per feature via
    * Cramer's rule on population (co)variances, coefficients broadcast
    * back, fact rows unshuffled. Collinear/degenerate covariates
    * (det ≤ 0) fall back to the mean-centered residual. */
  def regressOut2(df: DataFrame, feature: Column, x1: Column, x2: Column,
      y: Column): DataFrame = {
    val t = df.withColumn("__f", feature).withColumn("__x1", x1)
      .withColumn("__x2", x2).withColumn("__y", y)
    val coef = t.groupBy(col("__f")).agg(
      var_pop(col("__x1")).as("__s11"), var_pop(col("__x2")).as("__s22"),
      covar_pop(col("__x1"), col("__x2")).as("__s12"),
      covar_pop(col("__x1"), col("__y")).as("__s1y"),
      covar_pop(col("__x2"), col("__y")).as("__s2y"),
      avg(col("__x1")).as("__m1"), avg(col("__x2")).as("__m2"),
      avg(col("__y")).as("__my"))
    val det = col("__s11") * col("__s22") - col("__s12") * col("__s12")
    val b1 = (col("__s1y") * col("__s22") - col("__s2y") * col("__s12")) / det
    val b2 = (col("__s2y") * col("__s11") - col("__s1y") * col("__s12")) / det
    t.join(broadcast(coef), "__f")
      .withColumn("residual",
        when(det.isNull || det <= 0, col("__y") - col("__my"))
          .otherwise(col("__y") - col("__my") -
            b1 * (col("__x1") - col("__m1")) - b2 * (col("__x2") - col("__m2"))))
      .drop("__f", "__x1", "__x2", "__y", "__s11", "__s22", "__s12",
        "__s1y", "__s2y", "__m1", "__m2", "__my")
  }

  /** Per-batch z-standardization of a value column (integrate.R:51-181
    * re-expressed): batch moments broadcast back, fact rows unshuffled. */
  def batchStandardize(df: DataFrame, batch: String, x: Column): DataFrame = {
    val moments = df.groupBy(col(batch))
      .agg(avg(x).as("__mu"), stddev_pop(x).as("__sigma"))
    df.join(broadcast(moments), batch)
      .withColumn("z", (x - col("__mu")) / nullif(col("__sigma"), lit(0.0)))
      .drop("__mu", "__sigma")
  }

  /** Per-feature two-group differential test — the marker-detection
    * analog of the reference's marker gene workflow (marker*.R gene
    * sets + wrapper.R clustering → find what separates a cluster):
    * Welch t of group A vs the rest, log2 fold change on +1-shifted
    * means, two-sided normal-approximation p (Stats.normalUpperTail —
    * pure codegen'd arithmetic, no UDF), BH-adjusted across features.
    * One aggregation pass over the fact table; the per-feature stats
    * table is feature-cardinality sized (tiny at any scale). */
  def deMarkers(df: DataFrame, feature: Column, inGroupA: Column,
      x: Column): DataFrame = {
    val t = df.select(feature.as("feature"), inGroupA.as("__a"), x.as("__x"))
    val s = t.groupBy(col("feature")).agg(
      count(when(col("__a"), lit(1))).as("n_a"),
      count(when(!col("__a"), lit(1))).as("n_b"),
      avg(when(col("__a"), col("__x"))).as("mean_a"),
      avg(when(!col("__a"), col("__x"))).as("mean_b"),
      var_samp(when(col("__a"), col("__x"))).as("var_a"),
      var_samp(when(!col("__a"), col("__x"))).as("var_b"))
    val se = sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b"))
    val scored = s
      .withColumn("log2fc", log2((col("mean_a") + lit(1.0)) / (col("mean_b") + lit(1.0))))
      .withColumn("t_stat", (col("mean_a") - col("mean_b")) / nullif(se, lit(0.0)))
      .withColumn("p_value",
        coalesce(least(lit(1.0), lit(2.0) * Stats.normalUpperTail(abs(col("t_stat")))), lit(1.0)))
    bhAdjust(scored, col("p_value"), col("feature"))
  }

  /** Per-feature Wilcoxon rank-sum (Mann-Whitney U) test of group A vs
    * the rest — the nonparametric twin of deMarkers and the default DE
    * test of the reference's stack (scran::findMarkers runs exactly
    * this). Average ranks with tie correction, ±0.5 continuity, normal
    * approximation (legitimate at any real group size; exact small-n
    * enumeration doesn't matter at scale).
    *
    * Shape: ONE fact shuffle by feature (the kruskalWallis trick —
    * feature-hash partitioning satisfies clustering for the
    * (feature, value) rollup, the rank window, and the closing groupBy
    * alike, so none of them re-exchanges), a groupBy collapses the fact
    * table to (feature, value) tie groups, a per-feature window
    * accumulates rank sums over those DISTINCT values (partition size =
    * per-feature value cardinality, not row count), one more groupBy
    * closes the statistics. No giant-partition sort of raw rows. */
  def wilcoxonMarkers(df: DataFrame, feature: Column, inGroupA: Column,
      x: Column): DataFrame = {
    val vals = df.select(feature.as("feature"), inGroupA.as("__a"), x.as("__x"))
      .repartition(col("feature"))
      .groupBy(col("feature"), col("__x"))
      .agg(count(lit(1)).cast("double").as("cnt"),
        sum(when(col("__a"), 1.0).otherwise(0.0)).as("cnt_a"))
    val wCum = Window.partitionBy(col("feature")).orderBy(col("__x").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = vals
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("avg_rank", col("cum") - (col("cnt") - lit(1.0)) / lit(2.0))
    val stats = ranked.groupBy(col("feature")).agg(
      sum(col("cnt")).as("n"),
      sum(col("cnt_a")).as("n_a"),
      sum(col("cnt_a") * col("avg_rank")).as("r_a"),
      sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("tie_term"))
    val nB = col("n") - col("n_a")
    val u = col("r_a") - col("n_a") * (col("n_a") + lit(1.0)) / lit(2.0)
    val mu = col("n_a") * nB / lit(2.0)
    val varU = col("n_a") * nB / lit(12.0) *
      ((col("n") + lit(1.0)) - col("tie_term") / (col("n") * (col("n") - lit(1.0))))
    // ±0.5 continuity toward the mean; guard all-tied features (var 0)
    val zNum = when(u > mu, u - mu - lit(0.5))
      .when(u < mu, u - mu + lit(0.5)).otherwise(lit(0.0))
    val scored = stats
      .withColumn("u_stat", u)
      .withColumn("z", zNum / nullif(sqrt(varU), lit(0.0)))
      .withColumn("p_value",
        coalesce(least(lit(1.0), lit(2.0) * Stats.normalUpperTail(abs(col("z")))), lit(1.0)))
    bhAdjust(scored, col("p_value"), col("feature"))
      .select(col("feature"), col("n").cast("long").as("n"),
        col("n_a").cast("long").as("n_a"), col("u_stat"), col("z"),
        col("p_value"), col("p_adj"))
  }

  /** Per-feature Kruskal–Wallis rank test across k groups — the
    * multi-cluster generalization of wilcoxonMarkers (scran's
    * findMarkers over >2 clusters): tie-averaged ranks over distinct
    * (feature, value) counts, H with the tie correction, χ²(k−1) p via
    * Wilson–Hilferty, BH adjust. Rank windows run over value-
    * cardinality-sized partitions (the wilcoxon trick), never raw rows.
    */
  def kruskalWallis(df: DataFrame, feature: Column, group: Column,
      x: Column): DataFrame = {
    // one fact shuffle by feature: the cell rollup, both rank windows,
    // the per-group sums, the tie terms, and their join all ride the
    // feature partitioning (every later key set contains `feature`)
    val cells = df.select(feature.as("feature"), group.as("__g"), x.as("__x"))
      .filter(col("__x").isNotNull && col("__g").isNotNull) // rank order is engine-ambiguous for nulls
      .repartition(col("feature"))
      .groupBy(col("feature"), col("__x"), col("__g"))
      .agg(count(lit(1)).cast("double").as("cg"))
    val wVal = Window.partitionBy(col("feature"), col("__x"))
    // RANGE frame so every (value, group) row sees the cumulative count
    // through its WHOLE value tie-block
    val wCum = Window.partitionBy(col("feature")).orderBy(col("__x").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cnt", sum(col("cg")).over(wVal))
      .withColumn("cum", sum(col("cg")).over(wCum))
      .withColumn("avg_rank", col("cum") - (col("cnt") - lit(1.0)) / lit(2.0))
    val byGroup = ranked.groupBy(col("feature"), col("__g"))
      .agg(sum(col("cg")).as("n_g"), sum(col("cg") * col("avg_rank")).as("r_g"))
    val ties = cells.groupBy(col("feature"), col("__x"))
      .agg(sum(col("cg")).as("cnt"))
      .groupBy(col("feature"))
      .agg(sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("__tie"))
    // Σ R_g²/n_g is summed in GROUP-SORTED order via an explicit fold:
    // ranks/counts are half-integers (exact in double), each division
    // is IEEE-deterministic, so a deterministic summation order makes H
    // BIT-identical across engines (the oracle folds the same sorted
    // list) — H is a rational near-decimal statistic, so no rounding
    // precision is safe against engine ulp (a 7dp-midpoint value burned
    // the double-round here); bit-equality is, and H ships unrounded.
    val stats = byGroup
      .withColumn("__term", col("r_g") * col("r_g") / col("n_g"))
      .groupBy(col("feature"))
      .agg(sum(col("n_g")).as("n"), count(lit(1)).as("k_groups"),
        expr("aggregate(transform(sort_array(collect_list(struct(__g, __term)))," +
          " s -> s.__term), 0.0D, (a, x) -> a + x)").as("__sum_r2n"))
      .join(ties, "feature")
    val h = lit(12.0) / (col("n") * (col("n") + lit(1.0))) * col("__sum_r2n") -
      lit(3.0) * (col("n") + lit(1.0))
    val c = lit(1.0) - col("__tie") / (col("n") * col("n") * col("n") - col("n"))
    val hc = h / nullif(c, lit(0.0))
    val dof = (col("k_groups") - 1).cast("double")
    val z = (cbrt(hc / dof) - (lit(1.0) - lit(2.0) / (lit(9.0) * dof))) /
      sqrt(lit(2.0) / (lit(9.0) * dof))
    val pTail = when(z >= 0, Stats.normalUpperTail(z))
      .otherwise(lit(1.0) - Stats.normalUpperTail(-z))
    val scored = stats
      .withColumn("h_stat", hc)
      .withColumn("p_value", when(dof > 0 && hc.isNotNull,
        coalesce(least(lit(1.0), pTail), lit(0.0))))
    bhAdjust(scored.filter(col("p_value").isNotNull), col("p_value"), col("feature"))
      .select(col("feature"), col("n").cast("long").as("n"), col("k_groups"),
        col("h_stat"), col("p_value"), col("p_adj"))
  }

  /** AUCell-like gene-set activity per entity: rank features within
    * each entity by value (desc), AUC of the set-recovery curve over
    * the top `topN` ranks. Window partitions are per-entity feature
    * lists (gene-cardinality bounded). */
  def aucModuleScore(m: DataFrame, entity: Column, feature: Column,
      value: Column, inSet: Column, topN: Int = 50): DataFrame = {
    val wRank = Window.partitionBy(col("entity"))
      .orderBy(col("value").desc, col("feature").asc)
    val denom = least(sum(when(col("__set"), lit(1.0))), lit(topN.toDouble)) * lit(topN.toDouble)
    m.select(entity.as("entity"), feature.as("feature"), value.as("value"),
        inSet.as("__set"))
      .withColumn("rnk", row_number().over(wRank))
      .groupBy(col("entity"))
      .agg((sum(when(col("__set") && col("rnk") <= topN,
          lit(topN + 1).cast("double") - col("rnk"))) / denom).as("auc_score"))
      .withColumn("auc_score", coalesce(col("auc_score"), lit(0.0)))
  }

  /** Pairwise Pearson correlation between the features in `selected`
    * (a small feature list — e.g. top HVGs): broadcast self-join on the
    * entity key, one corr aggregate per (f1, f2) pair. Pair count is
    * |selected|² — keep the selection small; the entity join is the
    * only fact-scale work. */
  def featureCorr(m: DataFrame, entity: Column, feature: Column,
      value: Column, selected: Seq[Any]): DataFrame = {
    val t = m.select(entity.as("entity"), feature.as("feature"), value.as("value"))
      .filter(col("feature").isin(selected: _*))
    val a = t.select(col("entity"), col("feature").as("f1"), col("value").as("v1"))
    val b = t.select(col("entity"), col("feature").as("f2"), col("value").as("v2"))
    a.join(b, Seq("entity"))
      .filter(col("f1") < col("f2"))
      .groupBy(col("f1"), col("f2"))
      .agg(count(lit(1)).as("n_pairs"), corr(col("v1"), col("v2")).as("c"))
      .select(col("f1"), col("f2"), col("n_pairs"),
        when(isnan(col("c")), lit(null)).otherwise(col("c")).as("pearson"))
  }

  /** Per-feature Pearson correlation of value vs an ordering variable
    * (slingshot/tradeseq association analog). */
  def orderedAssociation(df: DataFrame, feature: Column, order: Column,
      x: Column): DataFrame =
    df.groupBy(feature.as("feature"))
      .agg(count(lit(1)).as("n"), corr(x, order).as("c"))
      .select(col("feature"), col("n"),
        when(isnan(col("c")), lit(null)).otherwise(col("c")).as("assoc"))

  /** Per-feature simple OLS of y on x with full inference — the
    * tradeSeq associationTest analog done properly: slope, intercept,
    * R², slope t-statistic (se from Σ-decomposition: SSE = Syy −
    * Sxy²/Sxx, se = √(SSE/(n−2)/Sxx)), two-sided normal-approx p
    * (Stats.normalUpperTail), BH-adjusted across features. ONE
    * aggregation pass over the fact table — regr_* aggregates are all
    * partial-aggregable, and the stats table is feature-sized. */
  def groupedOls(df: DataFrame, feature: Column, x: Column,
      y: Column): DataFrame = {
    val t = df.select(feature.as("feature"), x.as("__x"), y.as("__y"))
    val s = t.groupBy(col("feature")).agg(
      regr_count(col("__y"), col("__x")).as("n"),
      regr_slope(col("__y"), col("__x")).as("slope"),
      regr_intercept(col("__y"), col("__x")).as("intercept"),
      regr_r2(col("__y"), col("__x")).as("r2"),
      regr_sxx(col("__y"), col("__x")).as("__sxx"),
      regr_syy(col("__y"), col("__x")).as("__syy"),
      regr_sxy(col("__y"), col("__x")).as("__sxy"))
    val sse = col("__syy") - col("__sxy") * col("__sxy") / nullif(col("__sxx"), lit(0.0))
    val se = sqrt(sse / (col("n") - lit(2.0)) / nullif(col("__sxx"), lit(0.0)))
    val scored = s
      .withColumn("t_stat", col("slope") / nullif(se, lit(0.0)))
      .withColumn("p_value",
        coalesce(least(lit(1.0), lit(2.0) * Stats.normalUpperTail(abs(col("t_stat")))), lit(1.0)))
      .drop("__sxx", "__syy", "__sxy")
    bhAdjust(scored, col("p_value"), col("feature"))
  }

  /** Per-feature Spearman rank correlation of y vs x (the tie-robust
    * monotone-association twin of orderedAssociation). Average ranks
    * via row_number + tie-group mean — the group average of consecutive
    * integers is assignment-order independent, so no tiebreak column is
    * needed and both engines agree exactly. Windows partition per
    * feature (per-feature row counts, never corpus-wide sorts). */
  def spearmanAssociation(df: DataFrame, feature: Column, x: Column,
      y: Column): DataFrame = {
    val t = df.select(feature.as("feature"), x.as("__x"), y.as("__y"))
    val ranked = t
      .withColumn("__rx0", row_number().over(
        Window.partitionBy(col("feature")).orderBy(col("__x").asc)))
      .withColumn("__rx", avg(col("__rx0")).over(
        Window.partitionBy(col("feature"), col("__x"))))
      .withColumn("__ry0", row_number().over(
        Window.partitionBy(col("feature")).orderBy(col("__y").asc)))
      .withColumn("__ry", avg(col("__ry0")).over(
        Window.partitionBy(col("feature"), col("__y"))))
    ranked.groupBy(col("feature"))
      .agg(count(lit(1)).as("n"), corr(col("__rx"), col("__ry")).as("c"))
      .select(col("feature"), col("n"),
        when(isnan(col("c")), lit(null)).otherwise(col("c")).as("rho"))
  }

  // ----------------------------------------------------- wrangling

  /** Interval-interval overlap join (GRanges findOverlaps analog, the
    * core genomic-ranges primitive): each interval is replicated into
    * the fixed-width bins it covers, the join runs as an EQUI join on
    * (key, bin), and the exact overlap predicate screens the bin
    * collisions — bounded fan-out (span/binWidth per interval) instead
    * of an O(n·m) theta join, the scalable interval-join shape. Pick
    * binWidth near the typical interval span. `lId`/`rId` must be
    * unique per interval (pair dedup keys). `lKey`/`rKey` are optional
    * equi keys (chromosome / user) that co-partition the join. */
  def intervalOverlapJoin(left: DataFrame, lId: Column, lStart: Column,
      lEnd: Column, right: DataFrame, rId: Column, rStart: Column,
      rEnd: Column, binWidth: Long, lKey: Column = lit(0),
      rKey: Column = lit(0)): DataFrame = {
    val la = left.select(lKey.as("__k"), lId.as("l_id"),
        lStart.cast("long").as("l_start"), lEnd.cast("long").as("l_end"))
      .withColumn("__bin", explode(sequence(
        expr(s"l_start div $binWidth"), expr(s"l_end div $binWidth"))))
    val rb = right.select(rKey.as("__k"), rId.as("r_id"),
        rStart.cast("long").as("r_start"), rEnd.cast("long").as("r_end"))
      .withColumn("__bin", explode(sequence(
        expr(s"r_start div $binWidth"), expr(s"r_end div $binWidth"))))
    la.join(rb, Seq("__k", "__bin"))
      .filter(col("l_start") <= col("r_end") && col("r_start") <= col("l_end"))
      .dropDuplicates("l_id", "r_id")
      .select(col("l_id"), col("r_id"), col("l_start"), col("l_end"),
        col("r_start"), col("r_end"),
        (least(col("l_end"), col("r_end")) - greatest(col("l_start"), col("r_start")))
          .as("overlap"))
  }

  /** Gini coefficient of a value per group (inequality screen — the
    * library-evenness diagnostic next to inverseSimpson): ranks within
    * the group via one per-group window (deterministic tiebreak on the
    * id), closed-form G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over the sorted
    * values. Window partitions are per-group, never global. */
  def giniByGroup(df: DataFrame, group: Column, id: Column,
      value: Column): DataFrame = {
    val t = df.select(group.as("group"), id.as("__id"), value.as("__v"))
    val w = Window.partitionBy(col("group")).orderBy(col("__v").asc, col("__id").asc)
    t.withColumn("__i", row_number().over(w))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("__tot"),
        sum(col("__i") * col("__v")).as("__iw"))
      .select(col("group"), col("n"),
        (lit(2.0) * col("__iw") / (col("n") * nullif(col("__tot"), lit(0.0)))
          - (col("n") + lit(1.0)) / col("n")).as("gini"))
  }

  /** Per-group association between two categorical columns: Pearson χ²
    * (via the margin identity χ² = Σ o²/e − N, which needs only the
    * OBSERVED cells — empty grid cells contribute zero, so no dense
    * scaffold), Wilson–Hilferty normal approximation of the χ² tail
    * (cube-root transform → the shared Zelen–Severo Φ, exact arithmetic
    * in both engines), mutual information in nats, and Cramér's V.
    * Everything is two bounded-key aggregations over the cell table —
    * margins attach via per-group windows, never a fact re-scan. */
  def categoricalAssociation(df: DataFrame, group: Column, a: Column,
      b: Column): DataFrame = {
    val cells = df.select(group.as("group"), a.as("__a"), b.as("__b"))
      .groupBy(col("group"), col("__a"), col("__b"))
      .agg(count(lit(1)).cast("double").as("__c"))
    val wg = Window.partitionBy(col("group"))
    val withMargins = cells
      .withColumn("__rt", sum(col("__c")).over(Window.partitionBy(col("group"), col("__a"))))
      .withColumn("__ct", sum(col("__c")).over(Window.partitionBy(col("group"), col("__b"))))
      .withColumn("__n", sum(col("__c")).over(wg))
    val agg = withMargins.groupBy(col("group")).agg(
      max(col("__n")).as("n"),
      countDistinct(col("__a")).as("r"),
      countDistinct(col("__b")).as("c"),
      sum(col("__c") * col("__c") * col("__n") / (col("__rt") * col("__ct"))).as("__sum_o2e"),
      sum(col("__c") * log(col("__c") * col("__n") / (col("__rt") * col("__ct")))).as("__mi_num"))
    val chi2 = greatest(col("__sum_o2e") - col("n"), lit(0.0))
    val dof = ((col("r") - 1) * (col("c") - 1)).cast("double")
    // Wilson–Hilferty: (χ²/df)^(1/3) ≈ N(1 − 2/(9df), 2/(9df))
    val z = (cbrt(chi2 / dof) - (lit(1.0) - lit(2.0) / (lit(9.0) * dof))) /
      sqrt(lit(2.0) / (lit(9.0) * dof))
    // the Zelen–Severo polynomial is for z ≥ 0; reflect for negative z
    val pTail = when(z >= 0, Stats.normalUpperTail(z))
      .otherwise(lit(1.0) - Stats.normalUpperTail(-z))
    agg.select(col("group"), col("n").cast("long").as("n"), col("r"), col("c"),
      chi2.as("chi2"), dof.cast("long").as("dof"),
      when(dof > 0, coalesce(least(lit(1.0), pTail), lit(0.0))).as("p_chi2"),
      (col("__mi_num") / col("n")).as("mutual_info"),
      when(dof > 0, sqrt(chi2 / (col("n") * least(col("r") - 1, col("c") - 1))))
        .as("cramers_v"))
  }

  /** Shannon entropy of a label distribution per group, with the
    * log(k)-normalized evenness (integrate.R:188-266's diversity screen
    * next to the inverse-Simpson LISI analog). Two bounded-key
    * aggregations; p·ln p is exact arithmetic in both engines. */
  def shannonEntropy(df: DataFrame, group: Column, label: Column): DataFrame =
    df.select(group.as("group"), label.as("__l"))
      .groupBy(col("group"), col("__l")).agg(count(lit(1)).as("__c"))
      .groupBy(col("group"))
      .agg(sum(col("__c")).as("n"), count(lit(1)).as("n_labels"),
        (-sum(col("__c") * log(col("__c")))).as("__part"))
      .select(col("group"), col("n"), col("n_labels"),
        // −Σ p ln p = ln n − (Σ c ln c)/n, computed in count space so
        // partials merge without knowing n
        (log(col("n")) + col("__part") / col("n")).as("entropy"),
        when(col("n_labels") > 1,
          (log(col("n")) + col("__part") / col("n")) / log(col("n_labels")))
          .as("evenness"))

  /** Stratified deterministic subsample: n per group, ordered by a
    * content hash so the result is reproducible on any cluster
    * (reference.R:146-155). */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
      n: Int): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(md5(key.cast("string")).asc, key.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Two-phase salted aggregation for skewed keys: phase 1 aggregates
    * on (key, salt) spreading a hot key over `salts` reducers, phase 2
    * merges the partials per key. Use for algebraic aggregates
    * (sum/count/min/max) when one key dominates — e.g. a mega-user in a
    * clickstream — and AQE's skew handling can't help (it only splits
    * join partitions, not aggregation keys).
    * `aggs` maps output column name → (phase1 agg of the value column,
    * phase2 merge of the partial column). */
  def saltedAggregate(df: DataFrame, key: Column, salts: Int,
      aggs: Map[String, (Column, String => Column)]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(crc32(key.cast("string")) + spark_partition_id(), lit(salts)))
    val phase1 = salted.groupBy(key.as("key"), col("__salt"))
      .agg(aggs.head._2._1.as(s"__p_${aggs.head._1}"),
        aggs.tail.map { case (n, (a, _)) => a.as(s"__p_$n") }.toSeq: _*)
    phase1.groupBy(col("key"))
      .agg(aggs.head._2._2(s"__p_${aggs.head._1}").as(aggs.head._1),
        aggs.tail.map { case (n, (_, m)) => m(s"__p_$n").as(n) }.toSeq: _*)
  }

  /** Salted equi-join for skewed keys when the small side is too big
    * to broadcast (the broadcast path needs no salt — use it first):
    * every big-side row picks ONE deterministic salt, the small side is
    * replicated across ALL `salts`, and the join runs on (key, salt) —
    * a hot key's rows now land on `salts` reducers instead of one.
    * Result-identical to a plain inner join on `key` (spec-proven);
    * small-side cost is a bounded `salts`× replication. With AQE's
    * skew-join handling this is the manual fallback for when runtime
    * stats miss the skew (e.g. a single giant key after a filter). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    require(salts > 0, s"saltedJoin requires salts > 0, got $salts")
    // deterministic per-row salt from the whole row content: no RNG
    // state, stable across retries/speculative tasks
    val b = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.toIndexedSeq.map(col): _*)), lit(salts.toLong)).cast("int"))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Deterministic weighted sampling without replacement, n per
    * stratum (Efraimidis–Spirakis A-ES): key = u^(1/w) with u a
    * content-hash uniform — reproducible on any cluster AND expressible
    * in portable SQL (the hash→uniform uses only md5/substr/strpos
    * arithmetic). Higher weight → higher expected inclusion. One
    * shuffle on the stratum key. */
  def weightedSample(df: DataFrame, stratum: Column, key: Column,
      weight: Column, n: Int): DataFrame = {
    val u = hashUniform(key)
    val w = Window.partitionBy(stratum)
      .orderBy(pow(u, lit(1.0) / weight).desc, key.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Deterministic train/val/test assignment by content-hash uniform —
    * identical on any cluster, partitioning, or run (no RNG state), and
    * portable to the SQL oracle (hashUniform is pure md5 arithmetic).
    * Narrow per-row math: no shuffle, no sort, no sampling pass. */
  def datasetSplit(df: DataFrame, key: Column, trainFrac: Double = 0.8,
      valFrac: Double = 0.1): DataFrame =
    df.withColumn("u", hashUniform(key))
      .withColumn("split",
        when(col("u") <= trainFrac, "train")
          .when(col("u") <= trainFrac + valFrac, "val")
          .otherwise("test"))

  /** Content-hash uniform in (0,1]: six hex digits of md5(key) — pure
    * md5/substr/position arithmetic that evaluates identically in Spark
    * and DuckDB (oracle side uses strpos with swapped arg order). */
  def hashUniform(key: Column): Column = {
    val hex = md5(key.cast("string"))
    val value = (1 to 6).map { i =>
      (call_function("locate", substring(hex, i, 1), lit("0123456789abcdef"))
        .cast("double") - 1.0) * lit(math.pow(16, 6 - i))
    }.reduce(_ + _)
    (value + lit(1.0)) / lit(math.pow(16, 6) + 1.0)
  }

  /** Deterministic sequence packing for LLM pretraining: concatenate
    * docs in a stable order within each shard and split at token-budget
    * boundaries (the concat-and-chunk model real pretraining uses —
    * docs may straddle sequence boundaries). Emits per-doc token
    * offsets and the range of training sequences the doc lands in.
    * One window shuffle per shard; shards are independent, so at 100 TB
    * the parallelism is #shards — shard by file/source key, never
    * globally. */
  def packSequences(df: DataFrame, shard: Column, id: Column, tokens: Column,
      budget: Int): DataFrame = {
    val w = Window.partitionBy(col("__shard")).orderBy(col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__shard", shard).withColumn("__id", id)
      .withColumn("__tok", tokens.cast("long"))
      .withColumn("end_off", sum(col("__tok")).over(w))
      .withColumn("start_off", col("end_off") - col("__tok"))
      .withColumn("seq_first", floor(col("start_off") / budget).cast("long"))
      .withColumn("seq_last",
        floor(greatest(col("end_off") - 1, col("start_off")) / budget).cast("long"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .drop("__shard", "__id", "__tok")
  }

  /** Whole-document first-fit-decreasing packing into token-budget
    * bins, per shard — the padding-minimizing twin of packSequences
    * (which concat-and-chunks, splitting documents across sequence
    * boundaries). FFD is inherently sequential, so it runs per shard
    * via typed mapGroups (the documented last-resort tier): the shard
    * key bounds the in-memory state, exactly like the sessionizer's
    * per-user state — shard your corpus so a shard's doc list fits an
    * executor (the packer's contract at any scale). Deterministic:
    * docs sorted by (tokens desc, id asc), first-fit into the
    * lowest-indexed bin with room; oversize docs get their own bin,
    * flagged. Output: (shard, id, tokens, bin, oversize). */
  def packSequencesBestFit(df: DataFrame, shard: Column, id: Column,
      tokens: Column, budget: Long): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    df.select(shard.cast("string").as("shard"), id.cast("long").as("id"),
        tokens.cast("long").as("tokens"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (s, it) =>
        val docs = it.toArray.sortBy { case (_, i, t) => (-t, i) }
        val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        docs.iterator.map { case (_, i, t) =>
          if (t > budget) {
            loads += budget // oversize: own (full) bin, never refilled
            (s, i, t, (loads.length - 1).toLong, true)
          } else {
            var b = 0
            while (b < loads.length && loads(b) + t > budget) b += 1
            if (b == loads.length) loads += t else loads(b) += t
            (s, i, t, b.toLong, false)
          }
        }
      }
      .toDF("shard", "id", "tokens", "bin", "oversize")
  }

  /** SingleR-style correlation annotation (compare_annotation.R:57-113's
    * upstream: the score matrix its `singler_obj` carries): correlate
    * each entity's value vector against per-label reference centroids
    * over a FIXED feature panel of `panelSize` dims (missing features
    * = 0), assign the best-correlated label, report the score and the
    * SingleR "delta" (top − runner-up).
    *
    * Plan shape (the r14 rewrite; the r13 sf9 octave measured every
    * array-materializing variant super-linear): the centroid panel is
    * DRIVER-BOUNDED BY CONTRACT — |labels| × panelSize cells (SingleR
    * atlases carry a few dozen labels over a fixed gene panel) — so it
    * is collected like the repo's other documented driver-bounded
    * geometry (Prim over |clusters|², the BPE argmax row) and baked
    * into the scoring pass as LITERAL per-label arrays. Scoring is then
    * ONE codegen HashAggregate over the raw long matrix: map-side
    * partials compute Σx, Σx², and one Σx·c_l per label (O(1) literal
    * array index per row), the only fact-sized shuffle ships the
    * |entities| partial-sum rows, and the argmax is an in-row
    * array_sort over |labels| literal-built structs — no object agg,
    * no per-entity array, no checkpoint, no fact-level atlas join.
    * The centroid job itself is the only other fact pass: one join to
    * the atlas (entity-keyed shuffle) feeding a ≤|labels|·panel-key
    * partial agg that ships ~250 rows.
    *
    * `m` is the long matrix (entity, feature ∈ [0, panelSize), value);
    * `entityLabels` maps entity → training label (the reference atlas,
    * reference.R:75-165). Scores are rounded to 6dp BEFORE the argmax
    * so rank order is engine-stable; Σc/Σc² fold on the driver in
    * sorted-feature order (cross-engine fp agreement at 6dp is the
    * same standing contract every fp-sum oracle query relies on). */
  def annotateByCorrelation(m: DataFrame, entity: Column, feature: Column,
      value: Column, entityLabels: DataFrame, labelEntity: Column,
      label: Column, panelSize: Int): DataFrame = {
    val n = panelSize.toDouble
    val mm = m.select(entity.as("entity"), feature.cast("long").as("fb"),
      value.cast("double").as("x"))
    val lab = entityLabels.select(labelEntity.as("__le"),
      label.cast("string").as("__own"))
    // centroid numerators (Σx per (label, fb)) and per-label entity
    // counts (the oracle's nent CTE) in ONE action: both subtrees read
    // the same atlas join, so ReuseExchange computes the two fact-sized
    // shuffles once and only the join probe + bounded aggs run twice.
    // shuffle_hash beats SMJ here — neither side needs the sort, and
    // the build side is |atlas|/parts entries per task. countDistinct's
    // (label, entity) dedup rides the join's entity partitioning.
    val labeled = mm.join(lab.hint("shuffle_hash"), col("entity") === col("__le"))
    val centDf = labeled.groupBy(col("__own"), col("fb"))
      .agg(sum(col("x")).as("__csx"))
      .select(col("__own"), col("fb"), col("__csx"),
        lit(null).cast("long").as("__n"))
    val nEntDf = labeled.groupBy(col("__own"))
      .agg(countDistinct(col("entity")).as("__n"))
      .select(col("__own"), lit(-1L).as("fb"),
        lit(null).cast("double").as("__csx"), col("__n"))
    val prep = centDf.unionAll(nEntDf).collect()
    val centRows = prep.filter(!_.isNullAt(2))
    val nEnt: Map[String, Long] = prep.filter(!_.isNullAt(3))
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    // driver-side panel fold, sorted (label, fb) order throughout
    case class Panel(lab: String, c: IndexedSeq[Double], sc: Double,
      scc: Double, varC: Double)
    val panels: Seq[Panel] = centRows.groupBy(_.getString(0)).toSeq
      .sortBy(_._1).map { case (l, rows) =>
        val ne = nEnt(l).toDouble
        val arr = Array.fill(panelSize)(0.0)
        rows.sortBy(_.getLong(1)).foreach { r =>
          val fb = r.getLong(1)
          if (fb >= 0 && fb < panelSize) arr(fb.toInt) = r.getDouble(2) / ne
        }
        val sc = arr.sum
        val scc = arr.map(v => v * v).sum
        Panel(l, arr.toIndexedSeq, sc, scc, scc - sc * sc / n)
      }
    // ONE fact shuffle, TWO pipelined codegen aggs riding it: the
    // (entity, fb) rollup must happen before the moments (Σx² is over
    // the AGGREGATED matrix cells — raw-row squares diverge whenever
    // two raw rows share a cell), and HashPartitioning(entity)
    // satisfies both groupings, so the rollup and the per-entity
    // Σx/Σx²/Σx·c_l sums run in one post-shuffle stage
    val inPanel = col("fb") >= 0 && col("fb") < panelSize
    val pm = mm.repartition(col("entity"))
      .groupBy(col("entity"), col("fb")).agg(sum(col("x")).as("x"))
    val sxcAggs = panels.zipWithIndex.map { case (p, i) =>
      sum(col("x") * when(inPanel,
        element_at(typedLit(p.c), col("fb").cast("int") + 1))
        .otherwise(lit(0.0))).as(s"__sxc_$i")
    }
    val aggs = Seq(sum(col("x") * col("x")).as("__sxx")) ++ sxcAggs
    val sums = pm.groupBy(col("entity"))
      .agg(sum(col("x")).as("__sx"), aggs: _*)
    // score every label in-row; argmax = array_sort of |labels| structs.
    // Sort key (−score, label) ≡ the oracle's (score DESC, label ASC);
    // a null score (degenerate variance) sorts last via +MaxValue.
    val varX = col("__sxx") - col("__sx") * col("__sx") / n
    val scoreStructs = panels.zipWithIndex.map { case (p, i) =>
      val score = if (p.varC > 0)
        round(when(varX > 0,
          (col(s"__sxc_$i") - col("__sx") * p.sc / n) /
            sqrt(varX * p.varC)), 6)
      else lit(null).cast("double")
      struct(
        when(score.isNull, lit(Double.MaxValue)).otherwise(-score).as("ns"),
        lit(p.lab).as("l"), score.as("sc"))
    }
    sums.withColumn("__a", array_sort(array(scoreStructs: _*)))
      .select(col("entity"),
        element_at(col("__a"), 1).getField("l").as("top_label"),
        element_at(col("__a"), 1).getField("sc").as("score"),
        round(element_at(col("__a"), 1).getField("sc") -
          element_at(col("__a"), 2).getField("sc"), 6).as("delta_next"))
  }

  /** GSEA enrichment score per gene set (the ranked companion of the
    * over-representation test, funx_enrichment.R:19-158): rank ALL
    * features by `stat` descending, walk the list accumulating
    * +stat/Σ_set stat on set members and −1/(N−m) on non-members; ES is
    * the maximum signed deviation of the running sum (classic weighted
    * KS statistic, p=1). `sets` maps set_label → member feature.
    *
    * The feature axis is bounded (genes / vocabulary), so the tagged
    * list is |features| × |sets| rows and each running-sum window
    * partition is |features| rows — never corpus-sized. `stat` should
    * arrive pre-rounded so both engines rank identical doubles. */
  def gseaScore(features: DataFrame, feature: Column, stat: Column,
      sets: DataFrame, setLabel: Column, setMember: Column): DataFrame = {
    val f = features.select(feature.as("feature"), stat.as("stat"))
      .filter(col("stat").isNotNull) // rank order is engine-ambiguous for nulls
    val mem = sets.select(setLabel.as("__set"), setMember.as("__mf")).distinct()
    // alias through distinct so the join below compares two DISTINCT
    // attributes (set_label vs __set), never mem's column with itself
    val setNames = mem.select(col("__set").as("set_label")).distinct()
    val nFeat = f.agg(count(lit(1)).as("__n_feat"))
    val tagged = f.crossJoin(broadcast(setNames))
      .join(broadcast(mem), col("set_label") === col("__set") &&
        col("feature") === col("__mf"), "left_outer")
      .select(col("feature"), col("stat"), col("set_label"),
        col("__mf").isNotNull.as("__hit"))
    val setStats = tagged.filter(col("__hit")).groupBy(col("set_label"))
      .agg(count(lit(1)).as("n_members"), sum(col("stat")).as("__s_sum"))
    val w = Window.partitionBy(col("set_label"))
      .orderBy(col("stat").desc, col("feature").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged.join(broadcast(setStats), "set_label").crossJoin(broadcast(nFeat))
      .withColumn("__step", when(col("__hit"), col("stat") / col("__s_sum"))
        .otherwise(lit(-1.0) / (col("__n_feat") - col("n_members"))))
      .withColumn("__run", sum(col("__step")).over(w))
      .groupBy(col("set_label"), col("n_members"))
      .agg(max(col("__run")).as("__mx"), min(col("__run")).as("__mn"))
      .select(col("set_label"), col("n_members"),
        round(when(col("__mx") >= -col("__mn"), col("__mx"))
          .otherwise(col("__mn")), 6).as("es"))
  }

  /** emptyDrops-style ambient test (wrapper.R:70-76 plot_ambientPval →
    * DropletUtils::emptyDrops): entities with total ≤ the `lowQuantile`
    * total form the ambient pool; its Laplace-smoothed feature profile
    * is the null multinomial, and every entity ABOVE the threshold gets
    * a G-statistic 2·Σ c·ln(c/(T·p)) against it with a Wilson–Hilferty
    * χ²(panelSize−1) p-value (deterministic analytic form in place of
    * the reference's Monte-Carlo p — same decision semantics). Low p ⇒
    * the barcode deviates from ambient ⇒ a real cell.
    *
    * The ambient profile is a panelSize-row broadcast; the test is one
    * groupBy over present (entity, feature) rows — zeros contribute 0.
    * The threshold is rounded to 6dp so both engines cut identically. */
  def ambientTest(m: DataFrame, entity: Column, feature: Column, value: Column,
      panelSize: Int, lowQuantile: Double = 0.25, pCut: Double = 0.01): DataFrame = {
    // one fact shuffle by entity up front: the panel rollup, the entity
    // totals, the totals⋈matrix join, and the per-entity G aggregation
    // all ride that partitioning with no further fact-sized exchanges
    // (the shuffle_hash hint keeps the co-partitioned join sort-free);
    // only the |panel|-key ambient profile shuffles again (1.8s → 1.5s
    // at sf0.1 vs the exchange-per-concept form)
    val mx = m.select(entity.as("entity"), feature.as("fb"), value.as("x"))
      .repartition(col("entity"))
      .groupBy(col("entity"), col("fb")).agg(sum(col("x")).as("x"))
    val tot = mx.groupBy(col("entity")).agg(sum(col("x")).as("total"))
    val thr = tot.agg(round(Stats.quantileCol(col("total"), lowQuantile), 6).as("__thr"))
    val withThr = mx.hint("shuffle_hash").join(tot.hint("shuffle_hash"), "entity")
      .crossJoin(broadcast(thr))
    val amb = withThr.filter(col("total") <= col("__thr"))
      .groupBy(col("fb")).agg(sum(col("x")).as("__amb"))
    val ambTot = amb.agg(sum(col("__amb")).as("__amb_tot"))
    val dof = lit((panelSize - 1).toDouble)
    val g = withThr.filter(col("total") > col("__thr"))
      .join(broadcast(amb), Seq("fb"), "left_outer").crossJoin(broadcast(ambTot))
      .withColumn("__p", (coalesce(col("__amb"), lit(0.0)) + lit(1.0)) /
        (col("__amb_tot") + lit(panelSize.toDouble)))
      .groupBy(col("entity"), col("total"))
      .agg((lit(2.0) * sum(col("x") * log(col("x") / (col("total") * col("__p")))))
        .as("g_stat"))
    val z = (cbrt(col("g_stat") / dof) - (lit(1.0) - lit(2.0) / (lit(9.0) * dof))) /
      sqrt(lit(2.0) / (lit(9.0) * dof))
    val pTail = when(z >= 0, Stats.normalUpperTail(z))
      .otherwise(lit(1.0) - Stats.normalUpperTail(-z))
    g.withColumn("p_value", round(coalesce(least(lit(1.0), pTail), lit(0.0)), 6))
      // flag from the ROUNDED p so both engines cut identically
      .withColumn("looks_cell", col("p_value") < pCut)
      .select(col("entity"), col("total"), round(col("g_stat"), 6).as("g_stat"),
        col("p_value"), col("looks_cell"))
  }

  /** ROC AUC of a score against a binary label, per group — the
    * Mann-Whitney U form over per-value counts (tie-averaged midranks),
    * the standard audit of a model-based quality-filter score. Exact
    * rational arithmetic from integer counts; one bounded window over
    * DISTINCT score values per group (pre-bin huge-cardinality scores
    * through the quantile sketch first at corpus scale). */
  def rocAuc(df: DataFrame, group: Column, score: Column,
      positive: Column): DataFrame = {
    // null scores/labels are dropped (the standard convention), which
    // also keeps cross-engine rank order deterministic — Spark and SQL
    // engines disagree on null sort placement
    val counts = df.select(group.as("group"), score.as("__s"),
        positive.cast("int").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy(col("group"), col("__s"))
      .agg(sum(col("__y")).as("__n1"), sum(lit(1) - col("__y")).as("__n0"))
    val w = Window.partitionBy(col("group")).orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .withColumn("__cum", sum(col("__n1") + col("__n0")).over(w))
      // tie-averaged midrank of this value block = rank before it + (block+1)/2
      .withColumn("__midrank",
        (col("__cum") - (col("__n1") + col("__n0"))).cast("double") +
          (col("__n1") + col("__n0") + 1).cast("double") / 2.0)
      .groupBy(col("group"))
      .agg(sum(col("__n1")).as("n_pos"), sum(col("__n0")).as("n_neg"),
        sum(col("__midrank") * col("__n1")).as("__r1"))
      .select(col("group"), col("n_pos"), col("n_neg"),
        round(when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__r1") - col("n_pos").cast("double") * (col("n_pos") + 1) / 2.0) /
            (col("n_pos").cast("double") * col("n_neg"))), 6).as("auc"))
  }

  /** Population stability index between a baseline and a comparison
    * slice of a score distribution, per group: 10 fixed-width bins over
    * the group's GLOBAL [min, max] span, Laplace-smoothed proportions,
    * PSI = Σ (p−q)·ln(p/q) — the standard drift monitor for quality /
    * classifier scores between pipeline runs. Bin edges are exact
    * min/max arithmetic (no summation), so both engines bin
    * identically; bins with no mass still enter via smoothing. */
  def psi(df: DataFrame, group: Column, value: Column, inBaseline: Column,
      nBins: Int = 10): DataFrame = {
    val v = df.select(group.as("group"), value.as("__v"),
        inBaseline.cast("int").as("__b"))
      .filter(col("__v").isNotNull && col("__b").isNotNull) // null-safe binning
    val span = v.groupBy(col("group"))
      .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
    val binned = v.join(broadcast(span), "group")
      .withColumn("__bin", when(col("__mx") > col("__mn"), least(lit(nBins - 1),
        floor((col("__v") - col("__mn")) / (col("__mx") - col("__mn")) * nBins)
          .cast("int"))).otherwise(lit(0)))
      .groupBy(col("group"), col("__bin"))
      .agg(sum(col("__b")).as("__c1"), sum(lit(1) - col("__b")).as("__c0"))
    // dense bin grid: empty bins still carry smoothed mass
    val grid = span.select(col("group"))
      .crossJoin(broadcast(v.sparkSession.range(nBins).select(col("id").cast("int").as("__bin"))))
    grid.join(binned, Seq("group", "__bin"), "left_outer")
      .withColumn("__c1", coalesce(col("__c1"), lit(0L)))
      .withColumn("__c0", coalesce(col("__c0"), lit(0L)))
      .withColumn("__t1", sum(col("__c1")).over(Window.partitionBy(col("group"))))
      .withColumn("__t0", sum(col("__c0")).over(Window.partitionBy(col("group"))))
      .withColumn("__p", (col("__c1") + lit(0.5)) / (col("__t1") + lit(0.5) * nBins))
      .withColumn("__q", (col("__c0") + lit(0.5)) / (col("__t0") + lit(0.5) * nBins))
      .groupBy(col("group"))
      .agg(max(col("__t1")).as("n_baseline"), max(col("__t0")).as("n_current"),
        round(sum((col("__p") - col("__q")) * log(col("__p") / col("__q"))), 6).as("psi"))
  }

  /** Gap sessionization over (key, ordered timestamp): cumulative
    * new-session counter; both windows share one shuffle. */
  def sessionize(df: DataFrame, key: Column, ts: Column, tieBreak: Column,
      gap: Long): DataFrame = {
    val wOrd = Window.partitionBy(col("__k")).orderBy(col("__ts").asc, tieBreak.asc)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__k", key).withColumn("__ts", ts)
      .withColumn("__prev", lag(col("__ts"), 1).over(wOrd))
      .withColumn("__new",
        when(col("__prev").isNull || col("__ts") - col("__prev") > gap, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(wRun))
      .drop("__prev", "__new", "__k", "__ts")
  }
}
