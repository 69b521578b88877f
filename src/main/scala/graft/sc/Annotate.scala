package graft.sc

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-annotation analytics (SURVEY.md §2.9): the annotation
  * SCORING step upstream of compare_annotation.R's combine/delta ops,
  * the ranked sibling of the ORA enrichment test, and the
  * ambient-droplet test behind wrapper.R's emptyDrops plot.
  *
  * Reference provenance: compare_annotation.R:57-113 consumes a
  * SingleR score matrix — annotate_corr computes that matrix's argmax/
  * delta from a labeled reference atlas (reference.R:75-165) by
  * per-label centroid correlation (the published SingleR method's
  * core: Spearman→argmax; we use Pearson over a fixed panel, the
  * deterministic-oracle form). funx_enrichment.R:19-158 runs ORA;
  * gsea_es is clusterProfiler's other half (ranked GSEA, weighted KS
  * running sum). wrapper.R:70-76 plots emptyDrops ambient p-values;
  * ambient_pval computes the analytic G-test twin.
  */
object Annotate extends Op.Registry {

  private def r(c: org.apache.spark.sql.Column, d: Int) = round(c, d)

  /** Long matrix over a FIXED feature panel: entity × (partkey mod P)
    * (the oracle CTE; the Spark side feeds RAW rows and lets each
    * generic op own its panel rollup inside one partitioning). */
  private def panelMatrixSql(p: Int): String =
    s"""SELECT l_orderkey AS entity, l_partkey % $p AS fb,
        sum(l_quantity) AS x FROM lineitem GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 125. SingleR-style correlation annotation: label each entity by its
  // best-correlated per-label centroid over a 50-dim panel; report the
  // score and the SingleR delta (top − runner-up). Labels are the
  // order priorities (5-level reference atlas analog).
  def annotateCorr(s: SparkSession, dir: String): DataFrame =
    // raw long rows, NOT panelMatrix: the generic op aggregates the
    // panel itself after attaching labels, so the whole pipeline is one
    // matrix rollup (pre-aggregating here would add a pass)
    graft.api.Analytics.annotateByCorrelation(
      Tables.lineitem(s, dir).select(col("l_orderkey").as("entity"),
        pmod(col("l_partkey"), lit(50)).as("fb"), col("l_quantity").as("x")),
      col("entity"), col("fb"), col("x"),
      Tables.orders(s, dir), col("o_orderkey"), col("o_orderpriority"),
      panelSize = 50)

  private val annotateCorrSql =
    s"""WITH m AS (${panelMatrixSql(50)}),
        ml AS (
          SELECT entity, fb, x, o_orderpriority AS label
          FROM m JOIN orders ON entity = o_orderkey),
        nent AS (SELECT label, count(DISTINCT entity) AS n_ent FROM ml GROUP BY 1),
        cent0 AS (SELECT label, fb, sum(x) AS csx FROM ml GROUP BY 1, 2),
        cent AS (
          SELECT cent0.label, fb, csx / n_ent AS c
          FROM cent0 JOIN nent ON cent0.label = nent.label),
        ls AS (SELECT label, sum(c) AS sc, sum(c*c) AS scc FROM cent GROUP BY 1),
        -- sx/sxx from m ALONE (per entity, over all its present panel
        -- features), centroids joined only for the cross-moment sxc —
        -- mirroring the Spark plan exactly: restricting sx/sxx to the
        -- fbs present in a label's centroid would silently diverge the
        -- moment a label misses a panel dim at some SF
        esums AS (
          SELECT entity, sum(x) AS sx, sum(x*x) AS sxx FROM m GROUP BY 1),
        sums AS (
          SELECT entity, label, sum(x*c) AS sxc
          FROM m JOIN cent USING (fb) GROUP BY 1, 2),
        scored AS (
          SELECT sums.entity, sums.label,
                 round(CASE WHEN (sxx - sx*sx/50.0) > 0 AND (scc - sc*sc/50.0) > 0
                   THEN (sxc - sx*sc/50.0)
                        / sqrt((sxx - sx*sx/50.0) * (scc - sc*sc/50.0)) END, 6) AS score
          FROM sums JOIN esums ON sums.entity = esums.entity
          JOIN ls ON sums.label = ls.label),
        ranked AS (
          SELECT entity, label, score,
                 row_number() OVER (PARTITION BY entity ORDER BY score DESC, label ASC) AS rk,
                 lead(score, 1) OVER (PARTITION BY entity ORDER BY score DESC, label ASC) AS nxt
          FROM scored)
        SELECT entity, label AS top_label, score, round(score - nxt, 6) AS delta_next
        FROM ranked WHERE rk = 1"""

  // ---------------------------------------------------------------
  // 126. GSEA enrichment score per brand gene-set over the
  // avg-quantity-ranked feature list (stat pre-rounded to 6dp so both
  // engines walk identical doubles).
  def gseaEs(s: SparkSession, dir: String): DataFrame = {
    val stats = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("feature"))
      .agg(r(avg(col("l_quantity")), 6).as("stat"))
    val feats = stats.join(
      Tables.part(s, dir).select(col("p_partkey"), col("p_brand")),
      col("feature") === col("p_partkey"))
    graft.api.Analytics.gseaScore(feats, col("feature"), col("stat"),
      feats, col("p_brand"), col("feature"))
  }

  private val gseaEsSql =
    """WITH f AS (
         SELECT l_partkey AS feature, round(avg(l_quantity), 6) AS stat
         FROM lineitem GROUP BY 1),
       fb AS (
         SELECT feature, stat, p_brand FROM f JOIN part ON feature = p_partkey),
       n AS (SELECT count(*) AS n_feat FROM fb),
       sets AS (SELECT DISTINCT p_brand AS set_label FROM fb),
       tagged AS (
         SELECT fb.feature, fb.stat, sets.set_label,
                (fb.p_brand = sets.set_label) AS hit
         FROM fb CROSS JOIN sets),
       ss AS (
         SELECT set_label, count(*) AS n_members, sum(stat) AS s_sum
         FROM tagged WHERE hit GROUP BY 1),
       run AS (
         SELECT tagged.set_label, ss.n_members,
                sum(CASE WHEN hit THEN stat / s_sum
                         ELSE -1.0 / (n_feat - n_members) END)
                  OVER (PARTITION BY tagged.set_label
                        ORDER BY stat DESC, feature ASC
                        ROWS UNBOUNDED PRECEDING) AS runsum
         FROM tagged JOIN ss ON tagged.set_label = ss.set_label CROSS JOIN n)
       SELECT set_label, n_members,
              round(CASE WHEN max(runsum) >= -min(runsum)
                    THEN max(runsum) ELSE min(runsum) END, 6) AS es
       FROM run GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 127. emptyDrops-analog ambient test over a 25-dim panel: the
  // bottom-quartile-total entities form the ambient pool; every entity
  // above the cut gets a G-statistic against the smoothed ambient
  // profile with a Wilson–Hilferty χ²(24) p.
  def ambientPval(s: SparkSession, dir: String): DataFrame =
    // raw long rows: the generic op owns the panel rollup (single
    // entity-partitioned pipeline; pre-aggregating here would add a pass)
    graft.api.Analytics.ambientTest(
      Tables.lineitem(s, dir).select(col("l_orderkey").as("entity"),
        pmod(col("l_partkey"), lit(25)).as("fb"), col("l_quantity").as("x")),
      col("entity"), col("fb"), col("x"), panelSize = 25)
      .select(col("entity"), r(col("total"), 4).as("total"),
        col("g_stat"), col("p_value"), col("looks_cell"))

  private val ambientPvalSql = {
    val qPos = graft.core.Stats.normalUpperTailSql("zz")
    val qNeg = graft.core.Stats.normalUpperTailSql("-zz")
    s"""WITH m AS (${panelMatrixSql(25)}),
        tot AS (SELECT entity, sum(x) AS total FROM m GROUP BY 1),
        thr AS (SELECT round(quantile_cont(total, 0.25), 6) AS thr FROM tot),
        amb AS (
          SELECT fb, sum(x) AS amb FROM m JOIN tot USING (entity) CROSS JOIN thr
          WHERE total <= thr GROUP BY 1),
        ambtot AS (SELECT sum(amb) AS amb_tot FROM amb),
        g AS (
          SELECT entity, total,
                 2.0 * sum(x * ln(x / (total *
                   ((coalesce(amb, 0.0) + 1.0) / (amb_tot + 25.0))))) AS g_stat
          FROM m JOIN tot USING (entity) CROSS JOIN thr
               LEFT JOIN amb USING (fb) CROSS JOIN ambtot
          WHERE total > thr
          GROUP BY 1, 2),
        z AS (
          SELECT entity, total, g_stat,
                 (cbrt(g_stat/24.0) - (1.0 - 2.0/(9.0*24.0)))
                   / sqrt(2.0/(9.0*24.0)) AS zz
          FROM g),
        p AS (
          SELECT entity, total, g_stat,
                 round(coalesce(least(1.0,
                   CASE WHEN zz >= 0 THEN $qPos ELSE 1.0 - $qNeg END), 0.0), 6) AS p_value
          FROM z)
        SELECT entity, round(total, 4) AS total, round(g_stat, 6) AS g_stat,
               p_value, p_value < 0.01 AS looks_cell
        FROM p"""
  }

  // ---------------------------------------------------------------
  // 134. robust per-feature scaling (the outlier-immune twin of
  // batch_standardize #28, integrate.R's scaling step with scater's
  // MAD convention): z = (x − median_f)/(1.4826·MAD_f). Per-feature
  // medians/MADs are bounded aggregates (|features| keys) broadcast
  // back — the madOutliers plan shape, exact percentile at oracle SF,
  // percentile_approx at 100 TB where exactness isn't contractual.
  def robustScale(s: SparkSession, dir: String): DataFrame = {
    // one fact shuffle by feature: the (entity, feature) rollup, both
    // percentile aggregations, and the broadcast joins back all ride
    // the feature partitioning with no further fact-sized exchanges
    val m = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("entity"), col("l_partkey").as("feature"),
        col("l_quantity").as("q"))
      .repartition(col("feature"))
      .groupBy(col("entity"), col("feature"))
      .agg(sum(col("q")).as("value"))
    val med = m.groupBy(col("feature"))
      .agg(graft.core.Stats.medianCol(col("value")).as("__med"))
    val withMed = m.join(broadcast(med), "feature")
    val mad = withMed.groupBy(col("feature"))
      .agg(graft.core.Stats.medianCol(abs(col("value") - col("__med"))).as("__mad"))
    withMed.join(broadcast(mad), "feature")
      .select(col("entity"), col("feature"), r(col("value"), 4).as("value"),
        r((col("value") - col("__med")) /
          nullif(lit(1.4826) * col("__mad"), lit(0.0)), 6).as("robust_z"))
  }

  private val robustScaleSql =
    """WITH m AS (
         SELECT l_orderkey AS entity, l_partkey AS feature,
                sum(l_quantity) AS value
         FROM lineitem GROUP BY 1, 2),
       med AS (SELECT feature, median(value) AS med FROM m GROUP BY 1),
       mad AS (
         SELECT m.feature, median(abs(value - med)) AS mad
         FROM m JOIN med USING (feature) GROUP BY 1)
       SELECT entity, m.feature, round(value, 4) AS value,
              round((value - med) / nullif(1.4826 * mad, 0.0), 6) AS robust_z
       FROM m JOIN med USING (feature) JOIN mad ON m.feature = mad.feature"""

  val ops: Seq[Op] = Seq(
    Op("annotate_corr", annotateCorr _, Oracle(annotateCorrSql),
      quadratic = Some(Reasons.EveryLabelCentroid)),
    Op("gsea_es", gseaEs _, Oracle(gseaEsSql),
      quadratic = Some(Reasons.EveryLabelCentroid)),
    Op("ambient_pval", ambientPval _, Oracle(ambientPvalSql),
      quadratic = Some(Reasons.GlobalScalarsOrBinGrid)),
    Op("robust_scale", robustScale _, Oracle(robustScaleSql)))
}
