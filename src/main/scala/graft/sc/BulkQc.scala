package graft.sc

import graft.{Op, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bulk/pseudobulk RNA QC analytics (SURVEY.md §2.2, reference
  * qc_rna.R:73-115 + wrapper.R:54-68).
  *
  * The reference's bulk-QC script is a chain of DESeq2/RNAseqQC calls
  * whose *tables behind the plots* are what we compute: per-sample
  * totals, library-complexity curves (plot_library_complexity,
  * qc_rna.R:79), median-of-ratios size factors (the normalization core
  * of vst(dds), qc_rna.R:92), pairwise sample MA statistics
  * (plot_sample_MAs, qc_rna.R:101-103), euclidean sample distances
  * (plot_sample_clustering, qc_rna.R:105-107), and the barcode
  * rank/knee curve (plot_barcodeRanks, wrapper.R:54-68 →
  * DropletUtils::barcodeRanks).
  *
  * Scale shape: ONE partial-aggregated shuffle reduces the 100 TB fact
  * table to a pseudobulk matrix bounded by |samples| × |features|
  * (thousands × tens-of-thousands — megabytes). Everything downstream
  * (ratios, medians, pair joins, window ranks) operates on that bounded
  * table, so the per-pair self-joins here are NOT O(n²) in the corpus —
  * they are O(|samples|²) on an already-tiny aggregate, the same
  * contract DESeq2 itself assumes.
  */
object BulkQc extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  /** Pseudobulk counts: sample (= o_orderpriority, the batch analog)
    * × gene (= l_partkey) summed counts, cast to double so downstream
    * ratio/log math is double on both Spark and the DuckDB oracle. */
  private def pseudobulk(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("sample"), col("l_partkey").as("gene"))
      .agg(sum(col("l_quantity")).cast("double").as("cnt"))

  private val pseudobulkSql =
    """SELECT o_orderpriority AS sample, l_partkey AS gene,
              CAST(sum(l_quantity) AS DOUBLE) AS cnt
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 97. DESeq2 median-of-ratios size factors (qc_rna.R:92: vst(dds)
  // normalizes by estimateSizeFactors first). Per-gene geometric mean
  // across samples (genes present in ALL samples only — the DESeq2
  // rule, since a zero kills the geomean), then per-sample median of
  // count/geomean ratios. The geomean table is |genes| rows and the
  // sample count is a 1-row broadcast — no wide shuffle after the
  // pseudobulk reduction.
  def sizeFactors(s: SparkSession, dir: String): DataFrame = {
    val pb = pseudobulk(s, dir)
    val nSamples = pb.agg(countDistinct(col("sample")).as("n_samples"))
    val geo = pb.groupBy(col("gene"))
      .agg(avg(log(col("cnt"))).as("lngeo"), count(lit(1)).as("n_present"))
    pb.join(broadcast(geo.crossJoin(nSamples)
        .where(col("n_present") === col("n_samples"))
        .select(col("gene"), col("lngeo"))), Seq("gene"))
      .select(col("sample"), (col("cnt") / exp(col("lngeo"))).as("ratio"))
      .groupBy(col("sample"))
      .agg(r(expr("percentile(ratio, 0.5)"), 6).as("size_factor"))
  }

  private val sizeFactorsSql =
    s"""WITH pb AS ($pseudobulkSql),
        ns AS (SELECT count(DISTINCT sample) AS n_samples FROM pb),
        geo AS (SELECT gene, avg(ln(cnt)) AS lngeo, count(*) AS n_present
                FROM pb GROUP BY 1),
        complete AS (SELECT g.gene, g.lngeo FROM geo g, ns
                     WHERE g.n_present = ns.n_samples)
        SELECT pb.sample, round(median(pb.cnt / exp(c.lngeo)), 6) AS size_factor
        FROM pb JOIN complete c USING (gene) GROUP BY 1"""

  // ---------------------------------------------------------------
  // 98. library-complexity curve (qc_rna.R:79 plot_library_complexity):
  // per sample, the cumulative fraction of total counts captured by the
  // top-N most-expressed genes. Window is partitioned BY SAMPLE over
  // the bounded pseudobulk — never a global sort of the fact table.
  def libraryComplexity(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("sample"))
      .orderBy(col("cnt").desc, col("gene").asc)
    val cum = pseudobulk(s, dir)
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("sample"))))
    cum.where(col("rnk").isin(10, 25, 50, 100, 250, 500, 1000))
      .select(col("sample"), col("rnk").cast("long").as("top_n"),
        r(col("cum") / col("tot"), 6).as("cum_frac"))
  }

  private val libraryComplexitySql =
    s"""WITH pb AS ($pseudobulkSql),
        ranked AS (
          SELECT sample, cnt,
                 row_number() OVER (PARTITION BY sample ORDER BY cnt DESC, gene) AS top_n,
                 sum(cnt) OVER (PARTITION BY sample ORDER BY cnt DESC, gene
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(cnt) OVER (PARTITION BY sample) AS tot
          FROM pb)
        SELECT sample, top_n, round(cum / tot, 6) AS cum_frac
        FROM ranked WHERE top_n IN (10, 25, 50, 100, 250, 500, 1000)"""

  // ---------------------------------------------------------------
  // 99. pairwise euclidean sample distances (qc_rna.R:105-107
  // plot_sample_clustering's distance matrix) over log2(1+count)
  // vectors. Missing genes are implicit zeros, handled algebraically:
  // d² = ‖x1‖² + ‖x2‖² − 2·x1·x2 needs only the INNER join on gene for
  // the dot product plus per-sample norms — no dense grid, no outer
  // join, and the same identity holds at any gene cardinality.
  def sampleDists(s: SparkSession, dir: String): DataFrame = {
    val vec = pseudobulk(s, dir)
      .select(col("sample"), col("gene"), log2(col("cnt") + 1).as("x"))
    val norms = vec.groupBy(col("sample")).agg(sum(col("x") * col("x")).as("n2"))
    // shuffle-hash on both sides: the two identical per-gene exchanges
    // canonicalize equal, so ReuseExchange computes the pseudobulk
    // subtree ONCE and replays it for the probe side (an SMJ would add
    // sorts; a broadcast build would recompute the aggregation).
    val dots = vec.as("a").hint("shuffle_hash")
      .join(vec.as("b").hint("shuffle_hash"),
        col("a.gene") === col("b.gene") && col("a.sample") < col("b.sample"))
      .groupBy(col("a.sample").as("s1"), col("b.sample").as("s2"))
      .agg(sum(col("a.x") * col("b.x")).as("dot"))
    dots.join(broadcast(norms).as("n1"), col("s1") === col("n1.sample"))
      .join(broadcast(norms).as("n2b"), col("s2") === col("n2b.sample"))
      .select(col("s1"), col("s2"),
        r(sqrt(greatest(lit(0.0), col("n1.n2") + col("n2b.n2") - lit(2.0) * col("dot"))), 6)
          .as("dist"))
  }

  private val sampleDistsSql =
    s"""WITH pb AS ($pseudobulkSql),
        vec AS (SELECT sample, gene, log2(cnt + 1) AS x FROM pb),
        norms AS (SELECT sample, sum(x * x) AS n2 FROM vec GROUP BY 1),
        dots AS (
          SELECT a.sample AS s1, b.sample AS s2, sum(a.x * b.x) AS dot
          FROM vec a JOIN vec b ON a.gene = b.gene AND a.sample < b.sample
          GROUP BY 1, 2)
        SELECT d.s1, d.s2,
               round(sqrt(greatest(0.0, n1.n2 + n2.n2 - 2.0 * d.dot)), 6) AS dist
        FROM dots d
        JOIN norms n1 ON d.s1 = n1.sample
        JOIN norms n2 ON d.s2 = n2.sample"""

  // ---------------------------------------------------------------
  // 100. pairwise sample MA statistics (qc_rna.R:101-103
  // plot_sample_MAs): per sample pair, per gene M = log2(1+x1) −
  // log2(1+x2) over the UNION of genes (missing → 0), summarized to
  // median M, mean |M|, and ±1 log2FC fractions. The dense grid is
  // |samples| × |genes| — bounded pseudobulk size, built with a
  // broadcast cross join, never a fact-table blowup.
  def maStats(s: SparkSession, dir: String): DataFrame = {
    val pb = pseudobulk(s, dir)
    val samples = pb.select(col("sample")).distinct()
    val genes = pb.select(col("gene")).distinct()
    val grid = genes.crossJoin(broadcast(samples))
      .join(pb, Seq("sample", "gene"), "left")
      .select(col("sample"), col("gene"),
        log2(coalesce(col("cnt"), lit(0.0)) + 1).as("x"))
    // shuffle-hash self-join: identical grid exchanges → ReuseExchange
    // builds the dense grid once (see sampleDists)
    grid.as("a").hint("shuffle_hash").join(grid.as("b").hint("shuffle_hash"),
        col("a.gene") === col("b.gene") && col("a.sample") < col("b.sample"))
      .where(col("a.x") + col("b.x") > 0)
      .select(col("a.sample").as("s1"), col("b.sample").as("s2"),
        // rounded before thresholding: Spark's and the oracle's log2
        // differ in the last ulp, which flips genes sitting exactly on
        // the |M| = 1 boundary
        round(col("a.x") - col("b.x"), 6).as("m"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_genes"),
        r(expr("percentile(m, 0.5)"), 6).as("median_m"),
        r(avg(abs(col("m"))), 6).as("mean_abs_m"),
        r(avg(when(col("m") > 1, 1.0).otherwise(0.0)), 6).as("frac_up"),
        r(avg(when(col("m") < -1, 1.0).otherwise(0.0)), 6).as("frac_down"))
  }

  private val maStatsSql =
    s"""WITH pb AS ($pseudobulkSql),
        samples AS (SELECT DISTINCT sample FROM pb),
        genes AS (SELECT DISTINCT gene FROM pb),
        grid AS (
          SELECT s.sample, g.gene, log2(coalesce(pb.cnt, 0.0) + 1) AS x
          FROM genes g CROSS JOIN samples s
          LEFT JOIN pb ON pb.sample = s.sample AND pb.gene = g.gene),
        m AS (
          SELECT a.sample AS s1, b.sample AS s2, round(a.x - b.x, 6) AS m
          FROM grid a JOIN grid b
            ON a.gene = b.gene AND a.sample < b.sample
          WHERE a.x + b.x > 0)
        SELECT s1, s2, count(*) AS n_genes,
               round(median(m), 6) AS median_m,
               round(avg(abs(m)), 6) AS mean_abs_m,
               round(avg(CASE WHEN m > 1 THEN 1.0 ELSE 0.0 END), 6) AS frac_up,
               round(avg(CASE WHEN m < -1 THEN 1.0 ELSE 0.0 END), 6) AS frac_down
        FROM m GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 101. barcode rank/knee curve (wrapper.R:54-68 plot_barcodeRanks →
  // DropletUtils::barcodeRanks): entities ranked by total counts
  // (competition rank, ties collapse to one curve point), log-log
  // curvature via the change in slope between adjacent distinct
  // points; the knee is the most-negative slope change. The windows
  // run over the DISTINCT-totals curve (bounded by the value domain,
  // not the entity count) — the only entity-wide work is the initial
  // partial-agg shuffle.
  def barcodeRanks(s: SparkSession, dir: String): DataFrame = {
    val totals = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("double").as("total"))
    val curve = totals.groupBy(col("total")).agg(count(lit(1)).as("n_entities"))
    val wOrd = Window.orderBy(col("total").desc)
    val withRank = curve
      .withColumn("rnk",
        coalesce(sum(col("n_entities")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + 1)
    val ll = withRank
      .withColumn("lr", log(col("rnk").cast("double")))
      .withColumn("lt", log(col("total")))
    val byRank = Window.orderBy(col("rnk"))
    val curv = ll
      .withColumn("s1",
        (col("lt") - lag(col("lt"), 1).over(byRank)) /
          (col("lr") - lag(col("lr"), 1).over(byRank)))
      .withColumn("s2",
        (lead(col("lt"), 1).over(byRank) - col("lt")) /
          (lead(col("lr"), 1).over(byRank) - col("lr")))
      .withColumn("slope_change", col("s2") - col("s1"))
    curv
      .withColumn("is_knee",
        col("slope_change") ===
          min(col("slope_change")).over(Window.partitionBy()) &&
          col("slope_change").isNotNull)
      .select(col("rnk").as("rank"), col("total"), col("n_entities"),
        r(col("slope_change"), 6).as("slope_change"), col("is_knee"))
  }

  private val barcodeRanksSql =
    """WITH totals AS (
         SELECT l_orderkey, CAST(sum(l_quantity) AS DOUBLE) AS total
         FROM lineitem GROUP BY 1),
       curve AS (SELECT total, count(*) AS n_entities FROM totals GROUP BY 1),
       ranked AS (
         SELECT total, n_entities,
                coalesce(sum(n_entities) OVER (ORDER BY total DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS rank,
                ln(total) AS lt
         FROM curve),
       ll AS (SELECT *, ln(CAST(rank AS DOUBLE)) AS lr FROM ranked),
       curv AS (
         SELECT rank, total, n_entities,
                (lt - lag(lt) OVER (ORDER BY rank)) /
                  (lr - lag(lr) OVER (ORDER BY rank)) AS sl1,
                (lead(lt) OVER (ORDER BY rank) - lt) /
                  (lead(lr) OVER (ORDER BY rank) - lr) AS sl2
         FROM ll)
       SELECT CAST(rank AS BIGINT) AS rank, total, n_entities,
              round(sl2 - sl1, 6) AS slope_change,
              (sl2 - sl1) IS NOT NULL AND
                sl2 - sl1 = min(sl2 - sl1) OVER () AS is_knee
       FROM curv"""

  // ---------------------------------------------------------------
  // 106. N50/L50 assembly-style length statistics per group (the
  // classic sequence-assembly summary; here part sizes per brand):
  // N50 = the length at which the descending cumulative sum first
  // reaches half the total, L50 = how many items that takes. All
  // windows partition per group; cum×2 ≥ tot is exact integer math.
  def n50Stats(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.part(s, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_size").cast("long").as("len"))
    val wOrd = Window.partitionBy(col("p_brand"))
      .orderBy(col("len").desc, col("p_partkey").asc)
    val wp = Window.partitionBy(col("p_brand"))
    t.withColumn("rk", row_number().over(wOrd).cast("long"))
      .withColumn("cum", sum(col("len")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("len")).over(wp))
      .withColumn("n_parts", count(lit(1)).over(wp))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("p_brand"))
      .agg(max(col("n_parts")).as("n_parts"), max(col("tot")).as("total_len"),
        min(struct(col("rk"), col("len"))).as("m"))
      .select(col("p_brand").as("brand"), col("n_parts"), col("total_len"),
        col("m.rk").as("l50"), col("m.len").as("n50"))
  }

  private val n50StatsSql =
    """WITH t AS (
         SELECT p_brand, p_partkey, CAST(p_size AS BIGINT) AS len FROM part),
       r AS (
         SELECT p_brand, len,
                row_number() OVER (PARTITION BY p_brand
                  ORDER BY len DESC, p_partkey ASC) AS rk,
                sum(len) OVER (PARTITION BY p_brand
                  ORDER BY len DESC, p_partkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(len) OVER (PARTITION BY p_brand) AS tot,
                count(*) OVER (PARTITION BY p_brand) AS n_parts
         FROM t)
       SELECT p_brand AS brand, max(n_parts) AS n_parts,
              CAST(max(tot) AS BIGINT) AS total_len,
              CAST(min(rk) AS BIGINT) AS l50,
              CAST(min_by(len, rk) AS BIGINT) AS n50
       FROM r WHERE cum * 2 >= tot GROUP BY 1"""

  // ---------------------------------------------------------------
  // 107. Gini coefficient of customer spend per nation (inequality
  // screen — the evenness companion of the diversity analytics; in
  // expression terms: how concentrated is a sample's library?).
  // Spend is rounded to 4dp BEFORE ranking so both engines sort the
  // same values (summation-order ulp jitter must not reorder ranks).
  def giniSpend(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 4).as("spend"))
    val t = spend.join(
      Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
      col("o_custkey") === col("c_custkey"))
    graft.api.Analytics.giniByGroup(t, col("c_nationkey"), col("o_custkey"),
        col("spend"))
      .select(col("group").as("nation_key"), col("n"), r(col("gini"), 6).as("gini"))
  }

  private val giniSpendSql =
    """WITH sp AS (
         SELECT o_custkey, round(sum(o_totalprice), 4) AS spend
         FROM orders GROUP BY 1),
       t AS (
         SELECT c_nationkey AS nation_key, o_custkey, spend
         FROM sp JOIN customer ON o_custkey = c_custkey),
       rk AS (
         SELECT nation_key, spend,
                row_number() OVER (PARTITION BY nation_key
                  ORDER BY spend ASC, o_custkey ASC) AS i
         FROM t)
       SELECT nation_key, count(*) AS n,
              round(2.0 * sum(i * spend) / (count(*) * nullif(sum(spend), 0.0))
                    - (count(*) + 1.0) / count(*), 6) AS gini
       FROM rk GROUP BY 1"""

  // ---------------------------------------------------------------
  // 195. Tukey median polish over the pseudobulk matrix — the
  // summarization core of RMA (Irizarry et al. 2003: probe × array
  // median polish; here gene × sample): two fixed sweeps of
  // alternately removing row and column medians (the stats::medpolish
  // step order), leaving additive effects cnt = overall + row_eff +
  // col_eff + resid. Two FIXED sweeps (not run-to-eps) keep the op
  // deterministic and the oracle a finite CTE chain. Every value is an
  // exact integer count or a dyadic rational from median interpolation
  // (x.5, x.25 …) — both engines compute them bit-exactly, so the
  // output ships UNROUNDED and hash-matches with no fp tolerance.
  // Scale: one partial-agg shuffle reduces the fact table to the
  // |genes|×|samples| grid; the polish itself runs on that bounded
  // matrix (tiny groupBy/join chain + 1-row scalar attaches).
  def medianPolish(s: SparkSession, dir: String): DataFrame = {
    // r16 (guide §1.2 "the distributed algorithm first", §2.4): the r15
    // shape ran ~14 tiny grid-keyed joins/aggs + 2 grid checkpoints per
    // polish — 48 Spark jobs of pure scheduling overhead on a bounded
    // matrix. The grid now pivots to ONE |genes|-row frame of
    // |samples|-length arrays and each sweep is per-row array math; the
    // only aggregations left are the two column-median/effect-median
    // passes (one combined agg job per sweep). Every value stays the
    // same dyadic rational the join form produced: row medians are the
    // identical sorted-middle/interpolated-midpoint the percentile agg
    // computes (exact on dyadic inputs), column medians still USE the
    // percentile agg, and +/- on dyadic rationals is exact in double —
    // bit-identical output, hash-checked.
    val med = (sqlCol: String) => expr(s"percentile($sqlCol, 0.5D)")
    // median of an ARRAY column, mirroring percentile's interpolation
    // exactly: pos = 0.5*(n-1); odd n hits the middle element (frac 0),
    // even n interpolates lower + (upper - lower) * 0.5. Inputs here
    // are dyadic rationals, so both branches are exact.
    def amed(a: Column): Column = {
      val srt = array_sort(a)
      val n = size(a)
      val half = ((n + 1) / 2).cast("int") // Column./ is double division
      val lo = (n / 2).cast("int")
      when(pmod(n, lit(2)) === 1, element_at(srt, half))
        .otherwise(element_at(srt, lo) +
          (element_at(srt, lo + 1) - element_at(srt, lo)) * lit(0.5))
    }
    // complete grid: a gene never sold under a priority is count 0.
    // Materialize the bounded pseudobulk once: the fact shuffle behind
    // it is the only data-sized work in the query; the sample axis is
    // collected from it (|samples| is dim-bounded — o_orderpriority)
    // so the pivot's column order is a literal, and the per-gene pivot
    // checkpoint is what both sweeps scan.
    val pbc = pseudobulk(s, dir).localCheckpoint()
    val samples = pbc.select(col("sample")).distinct()
      .collect().map(_.getString(0)).sorted
    val gv = pbc.groupBy(col("gene"))
      .agg(map_from_entries(collect_list(struct(col("sample"), col("cnt")))).as("m"))
      .select(col("gene"), array(samples.map(x =>
        coalesce(element_at(col("m"), lit(x)), lit(0.0))): _*).as("cnt"))
      .coalesce(8) // tiny frame, same task-launch argument as the r15 grid
      .localCheckpoint()

    // sweep 1 (stats::medpolish order — row medians out, re-center col
    // effects [no-op: ce0 = 0], col medians out, re-center row effects)
    val g1 = gv.withColumn("rd", amed(col("cnt")))
      .withColumn("r1", expr("transform(cnt, x -> x - rd)"))
    // ONE agg job: per-sample column medians of r1 + the row-effect
    // median — the two cross-gene reductions sweep 1 needs
    val st1 = g1.agg(
      array(samples.indices.map(i =>
        med(s"element_at(r1, ${i + 1})").cast("double")): _*).as("cd1"),
      med("rd").cast("double").as("rm1"))
    val g2 = g1.crossJoin(broadcast(st1))
      .withColumn("r2", expr("zip_with(r1, cd1, (x, c) -> x - c)"))
      // re1 = rd - rm1; ov after sweep 1 = rm1 (ce0 = 0 makes cm1 = 0)
      .withColumn("re1", col("rd") - col("rm1"))
      // sweep 2 row phase: rd2 out of r2, folded into the row effect
      .withColumn("rd2", amed(col("r2")))
      .withColumn("r3", expr("transform(r2, x -> x - rd2)"))
      .withColumn("re2", col("re1") + col("rd2"))
      // col-effect re-center: cm2 = median of sweep-1 col medians
      .withColumn("cm2", amed(col("cd1")))
    val st2 = g2.agg(
      array(samples.indices.map(i =>
        med(s"element_at(r3, ${i + 1})").cast("double")): _*).as("cd2"),
      med("re2").cast("double").as("rm2"))
    // final effects: row_eff = re2 - rm2; col_eff = cd1 + cd2 - cm2;
    // overall = rm1 + cm2 + rm2; resid = r3 - cd2. Explode the sample
    // axis back to (gene, sample) rows against the literal sample list.
    g2.crossJoin(broadcast(st2))
      .select(col("gene"), col("cnt"),
        expr("zip_with(r3, cd2, (x, c) -> x - c)").as("r4"),
        (col("re2") - col("rm2")).as("row_eff"),
        (col("rm1") + col("cm2") + col("rm2")).as("overall"),
        expr("zip_with(cd1, cd2, (a, b) -> a + b)").as("ceAB"), col("cm2"))
      .select(col("gene"), col("row_eff"), col("overall"),
        col("ceAB"), col("cm2"), col("r4"),
        posexplode(col("cnt")).as(Seq("i", "cv")))
      .select(col("gene"),
        element_at(typedLit(samples.toSeq), col("i") + 1).as("sample"),
        col("cv").as("cnt"), col("row_eff"),
        (element_at(col("ceAB"), col("i") + 1) - col("cm2")).as("col_eff"),
        col("overall"), element_at(col("r4"), col("i") + 1).as("resid"))
  }

  private val medianPolishSql =
    s"""WITH pb AS ($pseudobulkSql),
       genes AS (SELECT DISTINCT gene FROM pb),
       samples AS (SELECT DISTINCT sample FROM pb),
       grid AS (
         SELECT g.gene, s.sample, coalesce(pb.cnt, 0.0) AS cnt
         FROM genes g CROSS JOIN samples s
         LEFT JOIN pb USING (gene, sample)),
       -- sweep 1 (col effects start at 0, so the first re-center is a
       -- no-op and ov1 = 0; kept implicit)
       rd1 AS (SELECT gene, median(cnt) AS rd FROM grid GROUP BY 1),
       r1 AS (SELECT gene, sample, cnt, cnt - rd AS r
              FROM grid JOIN rd1 USING (gene)),
       cd1 AS (SELECT sample, median(r) AS cd FROM r1 GROUP BY 1),
       r2 AS (SELECT gene, sample, cnt, r - cd AS r
              FROM r1 JOIN cd1 USING (sample)),
       rm1 AS (SELECT median(rd) AS m FROM rd1),
       re1 AS (SELECT gene, rd - m AS re FROM rd1, rm1),
       ov1 AS (SELECT m AS ov FROM rm1),
       -- sweep 2
       rd2 AS (SELECT gene, median(r) AS rd FROM r2 GROUP BY 1),
       r3 AS (SELECT gene, sample, cnt, r - rd AS r
              FROM r2 JOIN rd2 USING (gene)),
       re2 AS (SELECT gene, re + rd AS re
               FROM re1 JOIN rd2 USING (gene)),
       cm2 AS (SELECT median(cd) AS m FROM cd1),
       ov2 AS (SELECT ov + m AS ov FROM ov1, cm2),
       ce2 AS (SELECT sample, cd - m AS ce FROM cd1, cm2),
       cd2 AS (SELECT sample, median(r) AS cd FROM r3 GROUP BY 1),
       r4 AS (SELECT gene, sample, cnt, r - cd AS r
              FROM r3 JOIN cd2 USING (sample)),
       ce3 AS (SELECT sample, ce + cd AS ce
               FROM ce2 JOIN cd2 USING (sample)),
       rm2 AS (SELECT median(re) AS m FROM re2),
       ov3 AS (SELECT ov + m AS ov FROM ov2, rm2),
       re3 AS (SELECT gene, re - m AS re FROM re2, rm2)
       SELECT g.gene, g.sample, g.cnt, re3.re AS row_eff,
              ce3.ce AS col_eff, ov3.ov AS overall, g.r AS resid
       FROM r4 g
       JOIN re3 USING (gene) JOIN ce3 USING (sample) CROSS JOIN ov3"""

  val ops: Seq[Op] = Seq(
    Op("median_polish", medianPolish _, Oracle(medianPolishSql),
      quadratic = Some("median_polish crosses the |genes| rows with the broadcast " +
        "|samples| set to complete the bounded grid (the ma_stats precedent) and " +
        "attaches 1-row median scalars")),
    Op("size_factors", sizeFactors _, Oracle(sizeFactorsSql)),
    Op("library_complexity", libraryComplexity _, Oracle(libraryComplexitySql)),
    Op("sample_dists", sampleDists _, Oracle(sampleDistsSql)),
    Op("ma_stats", maStats _, Oracle(maStatsSql),
      quadratic = Some("ma_stats crosses the two aggregated DIM sets (samples × genes) " +
        "to build the dense log-CPM scaffold MA analysis requires (missing entry ≡ " +
        "count 0) — a bounded scaffold materialization, not a fact-fact pair join")),
    Op("barcode_ranks", barcodeRanks _, Oracle(barcodeRanksSql),
      globalWindow = Some("distinct (total,count) curve points")),
    Op("n50_stats", n50Stats _, Oracle(n50StatsSql)),
    Op("gini_spend", giniSpend _, Oracle(giniSpendSql)))
}
