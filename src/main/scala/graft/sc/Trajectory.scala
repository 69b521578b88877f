package graft.sc

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trajectory-inference analytics (SURVEY.md §2.9 #132-133) — the
  * slingshot/tradeseq surface beyond the per-feature association tests
  * already in SingleCell (#31, #102, #122).
  *
  * Reference provenance: slingshot.R:8-57 run_slingshot calls
  * getLineages, whose core is a minimum spanning tree over cluster
  * centroids in reduced-dim space (lineages = tree paths) —
  * cluster_mst computes that tree. tradeseq.R:43-129's patternTest
  * compares the SHAPE of two lineages' smoothed expression along the
  * time axis — pattern_diff re-expresses it as a per-bin Welch
  * contrast combined into a χ²(#bins) statistic (the same
  * analytic-in-place-of-GAM simplification start_vs_end (#122) uses
  * for startVsEndTest).
  */
object Trajectory extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  // ---------------------------------------------------------------
  // 132. slingshot cluster MST: label centroids over the embedding
  // corpus, pairwise euclidean distances, minimum spanning tree.
  // The centroid reduction is fully distributed (one narrow pass +
  // bounded-key agg); only the |labels|² distance matrix reaches the
  // driver (labels are cluster ids — dozens at most, by construction
  // the same bound slingshot itself assumes). Prim with deterministic
  // (dist, from, to) tie-breaks; hash-checked at the driver gate since
  // round 4 (the oracle replays Prim via the shared 9-layer argmin
  // unroll in clusterMstSql — the device pseudotime_assign's green
  // oracle already depends on), semantics additionally spec'd in
  // ScalaTest.
  def clusterMst(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val e = Tables.embeddings(s, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
    val cents = e
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim")).agg(avg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), s -> s.c)").as("cv"))
    val pairs = cents.as("a").crossJoin(broadcast(cents.as("b")))
      .filter(col("a.label") < col("b.label"))
      .select(col("a.label").as("l1"), col("b.label").as("l2"),
        sqrt(greatest(lit(0.0),
          dot(col("a.cv"), col("a.cv")) + dot(col("b.cv"), col("b.cv"))
            - lit(2.0) * dot(col("a.cv"), col("b.cv")))).as("dist"))
      .collect()
    // degenerate corpus (< 2 distinct labels): no spanning edges — an
    // empty edge list, not a driver crash on verts.head
    if (pairs.isEmpty) {
      import s.implicits._
      return Seq.empty[(Int, Int, Double)].toDF("from_label", "to_label", "dist")
    }
    // Prim over the tiny collected matrix (k² entries, k = #clusters)
    val verts = pairs.flatMap(p => Seq(p.getInt(0), p.getInt(1))).distinct.sorted
    val d = pairs.map(p => ((p.getInt(0), p.getInt(1)), p.getDouble(2))).toMap
    def dist(a: Int, b: Int): Double = d.getOrElse((a min b, a max b), Double.MaxValue)
    val inTree = scala.collection.mutable.Set(verts.head)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    while (inTree.size < verts.length) {
      val (from, to, w) = (for {
        a <- verts if inTree(a)
        b <- verts if !inTree(b)
      } yield (a, b, dist(a, b))).minBy { case (a, b, w) => (w, a, b) }
      inTree += to
      edges += ((from min to, from max to, w))
    }
    import s.implicits._
    edges.toSeq.toDF("from_label", "to_label", "dist")
      .select(col("from_label"), col("to_label"), r(col("dist"), 6).as("dist"))
  }

  // ---------------------------------------------------------------
  // 158. slingshot per-cell pseudotime (slingshot.R:8-57 run_slingshot →
  // slingshot()'s projection step): lineages are root→leaf paths of the
  // #132 centroid MST (root = min label, slingshot's start.clus made
  // deterministic), and each cell's pseudotime along a lineage
  // containing its label is its arc-length position on the path — the
  // nearest-segment projection (principal-curve iteration replaced by
  // the closed-form piecewise-linear projection, which keeps a DuckDB
  // oracle possible: every step below is dot-product arithmetic).
  //
  // 100 TB shape: ONE distributed centroid aggregation (bounded
  // |labels|×dim), then all graph/geometry work on the driver at k²
  // size (k = #clusters — dozens, the same bound slingshot assumes,
  // and the bound clusterMst already documents), then ONE broadcast
  // join + codegen projection pass over the cells. The final argmin
  // groupBy carries cells×lineages rows with map-side combine — no
  // corpus shuffle, no iteration.
  def pseudotimeAssign(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    import s.implicits._
    val cells = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val cvs = collectCentroids(cells)
    if (cvs.size < 2)
      return Seq.empty[(Long, Int, Long, Double)]
        .toDF("vec_id", "label", "lineage_id", "pseudotime")
    val geom = lineageGeometry(cvs)
    val segTable = geom.memberSegs.toDF(
      "label", "lineage_id", "seg_idx", "ca", "cb", "aa", "ab", "len2", "seg_len", "cum")
    val num = (col("vb") - col("va") - col("ab") + col("aa"))
    val t = least(lit(1.0), greatest(lit(0.0), num / col("len2")))
    cells.join(broadcast(segTable), "label")
      .withColumn("vv", dot(col("v"), col("v")))
      .withColumn("va", dot(col("v"), col("ca")))
      .withColumn("vb", dot(col("v"), col("cb")))
      .withColumn("tt", t)
      .withColumn("dist2",
        (col("vv") - lit(2.0) * col("va") + col("aa"))
          - lit(2.0) * col("tt") * num + col("tt") * col("tt") * col("len2"))
      .withColumn("pt", col("cum") + col("tt") * col("seg_len"))
      .groupBy(col("vec_id"), col("label"), col("lineage_id"))
      .agg(min(struct(col("dist2"), col("seg_idx"), col("pt"))).as("m"))
      .select(col("vec_id"), col("label"), col("lineage_id"),
        r(col("m.pt"), 6).as("pseudotime"))
  }

  // ---------------------------------------------------------------
  // 159. slingBranchID tally (slingshot.R:57's
  // `table(slingshot::slingBranchID())` comment): how many cells belong
  // to each lineage-membership combination. Membership is
  // label-determined (a cell is on every lineage whose path contains
  // its cluster), so the combo map is driver-built from the same
  // geometry and the query is one broadcast join + bounded-key count.
  def lineageMembership(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val cvs = collectCentroids(cells)
    if (cvs.size < 2)
      return Seq.empty[(String, Long)].toDF("branch_id", "n_cells")
    val branchDf = lineageGeometry(cvs).branch.toDF("label", "branch_id")
    cells.join(broadcast(branchDf), "label")
      .groupBy(col("branch_id")).agg(count(lit(1)).as("n_cells"))
  }

  // ---------------------------------------------------------------
  // 164. trajectory DE against the ASSIGNED pseudotime — the actual
  // slingshot → tradeSeq composition reference.R runs (run_slingshot
  // feeds pathStats pseudotime into fitGAM/associationTest,
  // tradeseq.R:65-72): per (lineage, embedding dim), OLS of the dim's
  // value against the #158 arc-length pseudotime, with slope/R²/t/p/BH.
  // Unlike #102 (which regresses on a calendar proxy), the regressor
  // here is produced in-engine by pseudotimeAssign. One broadcast
  // projection pass (from #158) + a 64-way dim explode + ONE shuffle on
  // the bounded (lineage, dim) key.
  def pseudotimeDe(s: SparkSession, dir: String): DataFrame = {
    val pt = pseudotimeAssign(s, dir)
    val dims = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim0", "y")))
      .select(col("vec_id"), (col("dim0") + lit(1)).cast("long").as("dim"), col("y"))
    graft.api.Analytics.groupedOls(pt.join(dims, "vec_id"),
        struct(col("lineage_id"), col("dim")), col("pseudotime"), col("y"))
      .select(col("feature.lineage_id").as("lineage_id"),
        col("feature.dim").as("dim"), col("n").cast("long").as("n"),
        r(col("slope"), 6).as("slope"), r(col("intercept"), 6).as("intercept"),
        r(col("r2"), 6).as("r2"), r(col("t_stat"), 6).as("t_stat"),
        r(col("p_value"), 6).as("p_value"), r(col("p_adj"), 6).as("p_adj"))
  }

  private val pseudotimeDeSql = {
    val q = graft.core.Stats.normalUpperTailSql("abs(t_stat)")
    s"""$lineagePrefixSql,
       proj AS MATERIALIZED (
         SELECT c.vec_id, g.lineage_id, g.seg_idx,
                g.seg_len, g.len2, g.cum, g.aa, g.ab,
                list_dot_product(c.v, c.v) AS vv,
                list_dot_product(c.v, g.ca) AS va,
                list_dot_product(c.v, g.cb) AS vb
         FROM cells c JOIN member m ON c.label = m.lab
         JOIN seg_cum g ON m.lineage_id = g.lineage_id),
       tcalc AS MATERIALIZED (
         SELECT *, least(1.0, greatest(0.0, (vb - va - ab + aa) / len2)) AS t
         FROM proj),
       scored0 AS MATERIALIZED (
         SELECT vec_id, lineage_id, seg_idx, seg_len, cum, t,
                (vv - 2.0*va + aa) - 2.0*t*(vb - va - ab + aa) + t*t*len2 AS dist2
         FROM tcalc),
       best AS MATERIALIZED (
         SELECT *, row_number() OVER (PARTITION BY vec_id, lineage_id
                    ORDER BY dist2 ASC, seg_idx ASC) AS rk
         FROM scored0),
       ptab AS MATERIALIZED (
         SELECT vec_id, lineage_id, round(cum + t*seg_len, 6) AS pt
         FROM best WHERE rk = 1),
       dims AS MATERIALIZED (
         SELECT vec_id, t.dim, t.y FROM cells,
         LATERAL (SELECT unnest(v) AS y, generate_subscripts(v, 1) AS dim) t),
       s AS (
         SELECT p.lineage_id, d.dim,
                regr_count(d.y, p.pt) AS n,
                regr_slope(d.y, p.pt) AS slope,
                regr_intercept(d.y, p.pt) AS intercept,
                regr_r2(d.y, p.pt) AS r2,
                regr_sxx(d.y, p.pt) AS sxx,
                regr_syy(d.y, p.pt) AS syy,
                regr_sxy(d.y, p.pt) AS sxy
         FROM ptab p JOIN dims d USING (vec_id) GROUP BY 1, 2),
       scored AS (
         SELECT lineage_id, dim, n, slope, intercept, r2,
                slope / nullif(sqrt((syy - sxy*sxy/nullif(sxx, 0.0))
                                    / (n - 2.0) / nullif(sxx, 0.0)), 0.0) AS t_stat
         FROM s),
       p AS (
         SELECT *, coalesce(least(1.0, 2.0 * $q), 1.0) AS p_value FROM scored),
       ranked AS (
         SELECT *, row_number() OVER (ORDER BY p_value ASC, lineage_id ASC, dim ASC) AS rk,
                count(*) OVER () AS m
         FROM p)
       SELECT lineage_id, CAST(dim AS BIGINT) AS dim, CAST(n AS BIGINT) AS n,
              round(slope,6) AS slope, round(intercept,6) AS intercept,
              round(r2,6) AS r2, round(t_stat,6) AS t_stat,
              round(p_value,6) AS p_value,
              round(least(1.0, min(p_value*m/rk) OVER (ORDER BY rk ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),6) AS p_adj
       FROM ranked"""
  }

  /** Distributed per-label centroid pass, collected (k×dim doubles —
    * bounded by cluster count, the clusterMst contract). */
  private def collectCentroids(cells: DataFrame): Map[Int, Array[Double]] =
    cells
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim")).agg(avg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), s -> s.c)").as("cv"))
      .collect()
      .map(row => row.getInt(0) -> row.getSeq[Double](1).toArray)
      .toMap

  private case class LineageGeom(
      memberSegs: Seq[(Int, Long, Int, Seq[Double], Seq[Double], Double, Double, Double, Double, Double)],
      branch: Seq[(Int, String)])

  /** Driver-side lineage geometry over the collected centroids: Prim
    * MST with the canonical (dist, l1, l2) tie-break the oracle uses,
    * root→leaf lineage paths (lineage ids = leaf labels ascending),
    * per-segment dot-product geometry with cumulative arc length, and
    * the label→lineage membership fan. Everything here is O(k³) on k =
    * #clusters — driver-cheap by the same bound clusterMst documents. */
  private def lineageGeometry(cvs: Map[Int, Array[Double]]): LineageGeom = {
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val labels = cvs.keys.toSeq.sorted
    val root = labels.head
    def edgeLen2(i: Int, j: Int): Double = {
      val (a, b) = (cvs(i), cvs(j))
      dotA(a, a) + dotA(b, b) - 2 * dotA(a, b)
    }
    val dist = (for { i <- labels; j <- labels if i < j }
      yield (i, j) -> math.sqrt(math.max(0.0, edgeLen2(i, j)))).toMap
    val inTree = scala.collection.mutable.Set(root)
    val mstEdges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    while (inTree.size < labels.size) {
      val (_, i, j) = dist.toSeq
        .collect { case ((i, j), d) if inTree(i) != inTree(j) => (d, i, j) }
        .minBy(identity)
      inTree += (if (inTree(i)) j else i)
      mstEdges += ((i, j))
    }
    val adj = mstEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val leaves = labels.filter(l => l != root && adj(l).size == 1)
    def pathTo(leaf: Int): List[Int] = {
      def dfs(cur: Int, prev: Int, acc: List[Int]): Option[List[Int]] =
        if (cur == leaf) Some((cur :: acc).reverse)
        else adj(cur).filter(_ != prev)
          .view.flatMap(n => dfs(n, cur, cur :: acc)).headOption
      dfs(root, -1, Nil).get
    }
    val paths: Seq[(Long, List[Int])] =
      leaves.sorted.zipWithIndex.map { case (leaf, i) => ((i + 1).toLong, pathTo(leaf)) }
    val memberSegs = for {
      (lid, path) <- paths
      member <- path
      (Seq(la, lb), idx) <- path.sliding(2).zipWithIndex.toSeq
    } yield {
      val aa = dotA(cvs(la), cvs(la))
      val bb = dotA(cvs(lb), cvs(lb))
      val ab = dotA(cvs(la), cvs(lb))
      val segLen = math.sqrt(math.max(0.0, aa + bb - 2 * ab))
      // prefix-exclusive cumulative arc length, summed in path order
      // (matches the oracle's ordered window sum)
      val cum = path.sliding(2).take(idx).collect { case Seq(a, b) =>
        math.sqrt(math.max(0.0, edgeLen2(a, b))) }.sum
      (member, lid, idx + 1, cvs(la).toSeq, cvs(lb).toSeq,
        aa, ab, math.max(aa + bb - 2 * ab, 1e-300), segLen, cum)
    }
    val branch = paths.flatMap { case (lid, path) => path.map(_ -> lid) }
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.mkString(",")).toSeq
      .sortBy(_._1)
    LineageGeom(memberSegs, branch)
  }

  // ---------------------------------------------------------------
  // 133. tradeseq patternTest analog: per feature, contrast the
  // URGENT-priority lineage's binned mean-value profile along the
  // 10-bin day axis against the rest; per-bin Welch t, combined
  // χ²(#used bins) with a Wilson–Hilferty p and BH adjust. Bin edges
  // are pure integer day arithmetic (no quantile boundary to disagree
  // on); one aggregation pass over the fact join, bounded
  // (feature × bin) intermediate.
  def patternDiff(s: SparkSession, dir: String): DataFrame =
    binnedWelchChi2(s, dir, col("o_orderpriority") === "1-URGENT", binMax = 9)

  // ---------------------------------------------------------------
  // 160. tradeseq earlyDETest analog (tradeseq.R:92 run_de_tests_
  // tradeseq → earlyDETest): the same between-lineage binned-Welch
  // contrast as patternTest, restricted to the EARLY third of the time
  // axis (bins 0-2 — the post-branching window where fate-committing
  // genes first diverge). Identical machinery, different bin mask.
  def earlyDe(s: SparkSession, dir: String): DataFrame =
    binnedWelchChi2(s, dir, col("o_orderpriority") === "1-URGENT", binMax = 2)

  // ---------------------------------------------------------------
  // 161. tradeseq conditionTest analog (tradeseq.R:74-79
  // run_de_tests_tradeseq → conditionTest when fitGAM ran with
  // conditions): contrast the binned profile between experimental
  // CONDITIONS along the same trajectory — the same per-bin Welch
  // χ² core with the dichotomy swapped from lineage to condition
  // (deterministic supplier-parity split, orthogonal to the time axis
  // by construction).
  def conditionTest(s: SparkSession, dir: String): DataFrame =
    binnedWelchChi2(s, dir, pmod(col("l_suppkey"), lit(2)) === 0, binMax = 9)

  // ---------------------------------------------------------------
  // 162. tradeseq diffEndTest analog (tradeseq.R:87-90
  // run_de_tests_tradeseq → diffEndTest): do the lineages arrive at
  // DIFFERENT endpoints — per feature, Welch t of lineage A vs B values
  // restricted to the LATEST 10% of the time axis (the endpoint window,
  // the same integer-arithmetic tail cutoff startVsEnd uses). Reuses
  // the deMarkers single-contrast aggregation.
  def diffEnd(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("day", expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 86400"))
    val range = x.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val tail = x.crossJoin(broadcast(range))
      .filter(col("day") >= expr("mx - (mx - mn) div 10"))
    graft.api.Analytics.deMarkers(tail, col("l_partkey"),
        col("o_orderpriority") === "1-URGENT", col("l_quantity"))
      .select(col("feature"), col("n_a"), col("n_b"),
        r(col("mean_a"), 6).as("mean_a"), r(col("mean_b"), 6).as("mean_b"),
        r(col("log2fc"), 6).as("log2fc"), r(col("t_stat"), 6).as("t_stat"),
        r(col("p_value"), 6).as("p_value"), r(col("p_adj"), 6).as("p_adj"))
  }

  private val diffEndSql = {
    val q = graft.core.Stats.normalUpperTailSql("abs(t_stat)")
    s"""WITH x0 AS (
         SELECT l_partkey AS feature, l_quantity AS x,
                (o_orderpriority = '1-URGENT') AS a,
                CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       rng AS (SELECT min(day) AS mn, max(day) AS mx FROM x0),
       x AS (
         SELECT feature, x, a FROM x0, rng
         WHERE day >= mx - (mx - mn) // 10),
       s AS (
         SELECT feature,
                count(CASE WHEN a THEN 1 END) AS n_a,
                count(CASE WHEN NOT a THEN 1 END) AS n_b,
                avg(CASE WHEN a THEN x END) AS mean_a,
                avg(CASE WHEN NOT a THEN x END) AS mean_b,
                var_samp(CASE WHEN a THEN x END) AS var_a,
                var_samp(CASE WHEN NOT a THEN x END) AS var_b
         FROM x GROUP BY 1),
       scored AS (
         SELECT feature, n_a, n_b, mean_a, mean_b,
                log2((mean_a + 1.0)/(mean_b + 1.0)) AS log2fc,
                (mean_a - mean_b)/nullif(sqrt(var_a/n_a + var_b/n_b), 0.0) AS t_stat
         FROM s),
       p AS (
         SELECT *, coalesce(least(1.0, 2.0 * $q), 1.0) AS p_value FROM scored),
       ranked AS (
         SELECT *, row_number() OVER (ORDER BY p_value ASC, feature ASC) AS rk,
                count(*) OVER () AS m
         FROM p)
       SELECT feature, n_a, n_b, round(mean_a,6) AS mean_a,
              round(mean_b,6) AS mean_b, round(log2fc,6) AS log2fc,
              round(t_stat,6) AS t_stat, round(p_value,6) AS p_value,
              round(least(1.0, min(p_value*m/rk) OVER (ORDER BY rk ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),6) AS p_adj
       FROM ranked"""
  }

  /** Shared core of #133/#160/#161: per feature, Welch-contrast the `a`
    * dichotomy's binned mean-value profile along the 10-bin day axis
    * over bins ≤ binMax; per-bin t² sums into a χ²(#used bins) with a
    * Wilson–Hilferty normal p and BH adjust. Bin edges are pure integer
    * day arithmetic (no quantile boundary to disagree on); one
    * aggregation pass over the fact join, bounded (feature × bin)
    * intermediate. */
  private def binnedWelchChi2(s: SparkSession, dir: String, aCol: Column,
      binMax: Int): DataFrame = {
    val x = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("day", expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 86400"))
    val range = x.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val binned = x.crossJoin(broadcast(range))
      .withColumn("bin", expr("((day - mn) * 10) div (mx - mn + 1)"))
      .filter(col("bin") <= binMax)
      .withColumn("a", aCol)
    val perBin = binned.groupBy(col("l_partkey").as("feature"), col("bin"))
      .agg(count(when(col("a"), lit(1))).as("n_a"),
        avg(when(col("a"), col("l_quantity"))).as("m_a"),
        var_samp(when(col("a"), col("l_quantity"))).as("v_a"),
        count(when(!col("a"), lit(1))).as("n_b"),
        avg(when(!col("a"), col("l_quantity"))).as("m_b"),
        var_samp(when(!col("a"), col("l_quantity"))).as("v_b"))
    val se2 = col("v_a") / col("n_a") + col("v_b") / col("n_b")
    val used = col("n_a") >= 2 && col("n_b") >= 2 && se2.isNotNull && se2 > 0
    val perFeature = perBin.groupBy(col("feature"))
      .agg(count(when(used, lit(1))).as("n_bins_used"),
        sum(when(used, (col("m_a") - col("m_b")) * (col("m_a") - col("m_b"))))
          .as("pattern_dist"),
        sum(when(used, (col("m_a") - col("m_b")) * (col("m_a") - col("m_b")) / se2))
          .as("chi2"))
      .filter(col("n_bins_used") > 0)
    val dof = col("n_bins_used").cast("double")
    val z = (cbrt(col("chi2") / dof) - (lit(1.0) - lit(2.0) / (lit(9.0) * dof))) /
      sqrt(lit(2.0) / (lit(9.0) * dof))
    val pTail = when(z >= 0, graft.core.Stats.normalUpperTail(z))
      .otherwise(lit(1.0) - graft.core.Stats.normalUpperTail(-z))
    val scored = perFeature
      .withColumn("p_value", coalesce(least(lit(1.0), pTail), lit(0.0)))
    graft.api.Analytics.bhAdjust(scored, col("p_value"), col("feature"))
      .select(col("feature"), col("n_bins_used"),
        r(col("pattern_dist"), 6).as("pattern_dist"), r(col("chi2"), 6).as("chi2"),
        r(col("p_value"), 6).as("p_value"), r(col("p_adj"), 6).as("p_adj"))
  }

  private val patternDiffSql = binnedWelchChi2Sql(
    "(o_orderpriority = '1-URGENT')", binMax = 9)
  private val earlyDeSql = binnedWelchChi2Sql(
    "(o_orderpriority = '1-URGENT')", binMax = 2)
  private val conditionTestSql = binnedWelchChi2Sql(
    "(l_suppkey % 2 = 0)", binMax = 9)

  private def binnedWelchChi2Sql(aSql: String, binMax: Int): String = {
    val qPos = graft.core.Stats.normalUpperTailSql("zz")
    val qNeg = graft.core.Stats.normalUpperTailSql("-zz")
    s"""WITH x AS (
         SELECT l_partkey AS feature, l_quantity AS q,
                $aSql AS a,
                CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       rng AS (SELECT min(day) AS mn, max(day) AS mx FROM x),
       binned AS (
         SELECT *, ((day - mn) * 10) // (mx - mn + 1) AS bin
         FROM x, rng),
       per_bin AS (
         SELECT feature, bin,
                count(CASE WHEN a THEN 1 END) AS n_a,
                avg(CASE WHEN a THEN q END) AS m_a,
                var_samp(CASE WHEN a THEN q END) AS v_a,
                count(CASE WHEN NOT a THEN 1 END) AS n_b,
                avg(CASE WHEN NOT a THEN q END) AS m_b,
                var_samp(CASE WHEN NOT a THEN q END) AS v_b
         FROM binned WHERE bin <= $binMax GROUP BY 1, 2),
       per_feature AS (
         SELECT feature,
                count(CASE WHEN n_a >= 2 AND n_b >= 2
                  AND (v_a/n_a + v_b/n_b) > 0 THEN 1 END) AS n_bins_used,
                sum(CASE WHEN n_a >= 2 AND n_b >= 2 AND (v_a/n_a + v_b/n_b) > 0
                  THEN (m_a - m_b)*(m_a - m_b) END) AS pattern_dist,
                sum(CASE WHEN n_a >= 2 AND n_b >= 2 AND (v_a/n_a + v_b/n_b) > 0
                  THEN (m_a - m_b)*(m_a - m_b) / (v_a/n_a + v_b/n_b) END) AS chi2
         FROM per_bin GROUP BY 1),
       kept AS (SELECT * FROM per_feature WHERE n_bins_used > 0),
       z AS (
         SELECT *, (cbrt(chi2/CAST(n_bins_used AS DOUBLE))
                    - (1.0 - 2.0/(9.0*n_bins_used)))
                   / sqrt(2.0/(9.0*n_bins_used)) AS zz
         FROM kept),
       p AS (
         SELECT feature, n_bins_used, pattern_dist, chi2,
                coalesce(least(1.0,
                  CASE WHEN zz >= 0 THEN $qPos ELSE 1.0 - $qNeg END), 0.0) AS p_value
         FROM z),
       ranked AS (
         SELECT *, row_number() OVER (ORDER BY p_value ASC, feature ASC) AS rk,
                count(*) OVER () AS m
         FROM p)
       SELECT feature, n_bins_used, round(pattern_dist, 6) AS pattern_dist,
              round(chi2, 6) AS chi2, round(p_value, 6) AS p_value,
              round(least(1.0, min(p_value*m/rk) OVER (ORDER BY rk ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6) AS p_adj
       FROM ranked"""
  }

  /** Shared oracle prefix: centroids → pairwise distances → Prim MST
    * (unrolled as 9 argmin layers — 10 labels at every SF, the same
    * fixed-unroll device the pagerank oracle uses for its iterations)
    * → recursive root→leaf walk → per-segment geometry + membership.
    * MATERIALIZED throughout: the unrolled layers reference their
    * predecessors twice, and DuckDB's default CTE inlining would
    * re-evaluate the whole prefix exponentially. */
  // lazy: referenced by oracle strings declared ABOVE this definition
  // in the object body (a plain val would interpolate null at init)
  private lazy val lineagePrefixSql = {
    val primStep = (i: Int) =>
      s"""e$i AS MATERIALIZED (SELECT * FROM e${i - 1} UNION ALL
           (SELECT p.l1, p.l2, p.dist FROM pairs p
            WHERE (p.l1 IN (SELECT v FROM t${i - 1})) != (p.l2 IN (SELECT v FROM t${i - 1}))
            ORDER BY p.dist, p.l1, p.l2 LIMIT 1)),
         t$i AS MATERIALIZED (SELECT l1 AS v FROM e$i UNION SELECT l2 FROM e$i)"""
    s"""WITH RECURSIVE cells AS MATERIALIZED (
         SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       exploded AS MATERIALIZED (
         SELECT label, t.x, t.dim FROM cells,
         LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS dim) t),
       cent AS MATERIALIZED (
         SELECT label, list(c ORDER BY dim) AS cv
         FROM (SELECT label, dim, avg(x) AS c FROM exploded GROUP BY 1, 2)
         GROUP BY label),
       pairs AS MATERIALIZED (
         SELECT a.label AS l1, b.label AS l2,
                sqrt(greatest(0.0, list_dot_product(a.cv, a.cv)
                  + list_dot_product(b.cv, b.cv)
                  - 2*list_dot_product(a.cv, b.cv))) AS dist
         FROM cent a JOIN cent b ON a.label < b.label),
       root AS MATERIALIZED (SELECT min(label) AS r FROM cent),
       e1 AS MATERIALIZED (
         SELECT p.l1, p.l2, p.dist FROM pairs p, root
         WHERE p.l1 = r OR p.l2 = r
         ORDER BY p.dist, p.l1, p.l2 LIMIT 1),
       t1 AS MATERIALIZED (SELECT l1 AS v FROM e1 UNION SELECT l2 FROM e1),
       ${(2 to 9).map(primStep).mkString(",\n       ")},
       edges AS MATERIALIZED (SELECT l1 AS a, l2 AS b, dist FROM e9
                 UNION ALL SELECT l2, l1, dist FROM e9),
       walk AS (
         SELECT r AS node, [r] AS path FROM root
         UNION ALL
         SELECT e.b, list_append(w.path, e.b)
         FROM walk w JOIN edges e ON w.node = e.a
         WHERE NOT list_contains(w.path, e.b)),
       deg AS MATERIALIZED (SELECT a AS v, count(*) AS d FROM edges GROUP BY 1),
       lineages AS MATERIALIZED (
         SELECT row_number() OVER (ORDER BY w.node) AS lineage_id, w.path
         FROM walk w JOIN deg ON w.node = deg.v, root
         WHERE deg.d = 1 AND w.node != r),
       segs AS MATERIALIZED (
         SELECT l.lineage_id, s.seg_idx,
                l.path[s.seg_idx] AS la, l.path[s.seg_idx+1] AS lb
         FROM lineages l,
         LATERAL (SELECT unnest(range(1, len(l.path))) AS seg_idx) s),
       seg_geo AS MATERIALIZED (
         SELECT s.lineage_id, s.seg_idx, ca.cv AS ca, cb.cv AS cb,
                list_dot_product(ca.cv, ca.cv) AS aa,
                list_dot_product(cb.cv, cb.cv) AS bb,
                list_dot_product(ca.cv, cb.cv) AS ab
         FROM segs s JOIN cent ca ON s.la = ca.label
                     JOIN cent cb ON s.lb = cb.label),
       seg_cum AS MATERIALIZED (
         SELECT *, sqrt(greatest(0.0, aa + bb - 2*ab)) AS seg_len,
                greatest(aa + bb - 2*ab, 1e-300) AS len2,
                coalesce(sum(sqrt(greatest(0.0, aa + bb - 2*ab)))
                  OVER (PARTITION BY lineage_id ORDER BY seg_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum
         FROM seg_geo),
       member AS MATERIALIZED (
         SELECT l.lineage_id, m.lab FROM lineages l,
         LATERAL (SELECT unnest(l.path) AS lab) m)"""
  }

  private val pseudotimeAssignSql =
    s"""$lineagePrefixSql,
       proj AS MATERIALIZED (
         SELECT c.vec_id, c.label, g.lineage_id, g.seg_idx,
                g.seg_len, g.len2, g.cum, g.aa, g.ab,
                list_dot_product(c.v, c.v) AS vv,
                list_dot_product(c.v, g.ca) AS va,
                list_dot_product(c.v, g.cb) AS vb
         FROM cells c JOIN member m ON c.label = m.lab
         JOIN seg_cum g ON m.lineage_id = g.lineage_id),
       tcalc AS MATERIALIZED (
         SELECT *, least(1.0, greatest(0.0, (vb - va - ab + aa) / len2)) AS t
         FROM proj),
       scored AS MATERIALIZED (
         SELECT vec_id, label, lineage_id, seg_idx, seg_len, cum, t,
                (vv - 2.0*va + aa) - 2.0*t*(vb - va - ab + aa) + t*t*len2 AS dist2
         FROM tcalc),
       best AS (
         SELECT *, row_number() OVER (PARTITION BY vec_id, lineage_id
                    ORDER BY dist2 ASC, seg_idx ASC) AS rk
         FROM scored)
       SELECT vec_id, label, lineage_id,
              round(cum + t*seg_len, 6) AS pseudotime
       FROM best WHERE rk = 1"""

  /** MST edges straight off the shared Prim unroll: e9 holds exactly
    * the |labels|−1 tree edges, already oriented l1 < l2 (pairs is
    * built on a.label < b.label — the same min/max orientation the
    * engine emits). This upgrades cluster_mst from rows-only to
    * hash-checked with zero new machinery; the driver-side Prim and
    * this unrolled Prim agreeing on edge choice is already load-bearing
    * for pseudotime_assign's green oracle. */
  private lazy val clusterMstSql =
    s"""$lineagePrefixSql
       SELECT l1 AS from_label, l2 AS to_label, round(dist, 6) AS dist
       FROM e9"""

  private val lineageMembershipSql =
    s"""$lineagePrefixSql,
       combo AS MATERIALIZED (
         SELECT lab AS label,
                string_agg(CAST(lineage_id AS VARCHAR), ','
                  ORDER BY lineage_id) AS branch_id
         FROM member GROUP BY lab)
       SELECT branch_id, count(*) AS n_cells
       FROM cells JOIN combo USING (label) GROUP BY 1"""

  val ops: Seq[Op] = Seq(
    Op("cluster_mst", clusterMst _, Oracle(clusterMstSql),
      quadratic = Some(Reasons.EveryLabelCentroid)),
    Op("pattern_diff", patternDiff _, Oracle(patternDiffSql),
      quadratic = Some(Reasons.GlobalScalarsOrBinGrid),
      globalWindow = Some("|features|x|bins| profile")),
    Op("early_de", earlyDe _, Oracle(earlyDeSql),
      quadratic = Some(Reasons.GlobalScalarsOrBinGrid),
      globalWindow = Some("|features|x|bins| profile")),
    Op("condition_test", conditionTest _, Oracle(conditionTestSql),
      quadratic = Some(Reasons.GlobalScalarsOrBinGrid),
      globalWindow = Some("|features|x|bins| profile")),
    Op("diff_end", diffEnd _, Oracle(diffEndSql),
      quadratic = Some(Reasons.GlobalScalarsOrBinGrid),
      globalWindow = Some("|features| endpoint stats")),
    Op("pseudotime_assign", pseudotimeAssign _, Oracle(pseudotimeAssignSql)),
    Op("pseudotime_de", pseudotimeDe _, Oracle(pseudotimeDeSql),
      globalWindow = Some("|features| BH ranks")),
    Op("lineage_membership", lineageMembership _, Oracle(lineageMembershipSql)))
}
