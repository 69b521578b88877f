package graft

import org.apache.spark.sql.functions._

/** Semantic specs for the annotation/score/drift operators added in
  * round 3 (SURVEY.md §2.9 #125-131): crafted inputs with known
  * answers for the generic API, plus structural invariants for the
  * MLlib elbow sweep (rows-only at the driver gate).
  */
class AnnotateScoresSpec extends SparkSpecBase {
  import spark.implicits._

  test("annotateByCorrelation assigns the label whose centroid matches") {
    // two labels with orthogonal profiles over a 4-dim panel; each
    // entity is a noisy copy of one profile → must recover its label
    val m = Seq(
      // entities 1, 2 ~ label A profile (high on dims 0, 1)
      (1L, 0, 10.0), (1L, 1, 8.0), (1L, 2, 1.0),
      (2L, 0, 9.0), (2L, 1, 7.0), (2L, 3, 2.0),
      // entities 3, 4 ~ label B profile (high on dims 2, 3)
      (3L, 2, 11.0), (3L, 3, 9.0), (3L, 0, 1.0),
      (4L, 2, 10.0), (4L, 3, 8.0), (4L, 1, 2.0)
    ).toDF("entity", "fb", "x")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("e", "label")
    val out = api.Analytics.annotateByCorrelation(m, col("entity"), col("fb"),
        col("x"), labels, col("e"), col("label"), panelSize = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "B"))
  }

  test("gseaScore: top-concentrated set scores near +1, es within [-1, 1]") {
    // 10 features ranked by stat; set "top" = the 3 best, set "bottom"
    // = the 3 worst. ES(top) must be strongly positive and > ES(bottom).
    val feats = (1 to 10).map(i => (i, (11 - i).toDouble)).toDF("feature", "stat")
    val sets = (Seq(1, 2, 3).map(("top", _)) ++ Seq(8, 9, 10).map(("bottom", _)))
      .toDF("set_label", "member")
    val es = api.Analytics.gseaScore(feats, col("feature"), col("stat"),
        sets, col("set_label"), col("member"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(es("top") > 0.8 && es("top") <= 1.0)
    assert(es("bottom") < 0.0 && es("bottom") >= -1.0)
    assert(es("top") > es("bottom"))
  }

  test("ambientTest flags profile-deviant entities, not ambient-like ones") {
    // ambient pool: many small entities spread evenly over 4 dims; one
    // big entity matches the pool profile (high p), another
    // concentrates all mass on one dim (low p → looks_cell)
    val low = (1 to 20).flatMap(e => (0 until 4).map(d => (e.toLong, d, 5.0)))
    val even = (0 until 4).map(d => (100L, d, 250.0))
    val spiky = Seq((200L, 0, 1000.0))
    val m = (low ++ even ++ spiky).toDF("entity", "fb", "x")
    val out = api.Analytics.ambientTest(m, col("entity"), col("fb"), col("x"),
        panelSize = 4, lowQuantile = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out(200L), "concentrated entity must reject the ambient null")
    assert(!out(100L), "profile-matching entity must look ambient")
    assert(!out.contains(1L), "pool entities are not tested")
  }

  test("rocAuc matches the closed form on a known arrangement") {
    // perfect separation → AUC 1; anti-separation → AUC 0; one swap of
    // adjacent scores on 2×2 → AUC 0.75
    val perfect = Seq(("g", 1.0, false), ("g", 2.0, false), ("g", 3.0, true), ("g", 4.0, true))
    // positives {2, 4} vs negatives {1, 3}: 3 of 4 pairs concordant
    val swapped = Seq(("g", 1.0, false), ("g", 2.0, true), ("g", 3.0, false), ("g", 4.0, true))
    def auc(rows: Seq[(String, Double, Boolean)]): Double =
      api.Analytics.rocAuc(rows.toDF("g", "s", "y"), col("g"), col("s"), col("y"))
        .collect().head.getDouble(3)
    assert(auc(perfect) === 1.0)
    assert(auc(perfect.map { case (g, s, y) => (g, -s, y) }) === 0.0)
    assert(auc(swapped) === 0.75)
    // all ties → 0.5 by midrank convention
    assert(auc(Seq(("g", 1.0, true), ("g", 1.0, false))) === 0.5)
  }

  test("psi is ~0 for identical slices and grows under shift") {
    val same = (1 to 100).flatMap(i => Seq(("g", i.toDouble, true), ("g", i.toDouble, false)))
    val psiSame = api.Analytics.psi(same.toDF("g", "v", "b"), col("g"), col("v"), col("b"))
      .collect().head.getDouble(3)
    assert(math.abs(psiSame) < 1e-9)
    val shifted = (1 to 100).map(i => ("g", i.toDouble, true)) ++
      (1 to 100).map(i => ("g", i.toDouble + 80.0, false))
    val psiShift = api.Analytics.psi(shifted.toDF("g", "v", "b"), col("g"), col("v"), col("b"))
      .collect().head.getDouble(3)
    assert(psiShift > 0.5, s"shifted PSI should be large, got $psiShift")
  }

  test("paraDedup scores repeated spans and ignores short fragments") {
    val docs = Seq(
      (1L, "this sentence is repeated across documents. unique little tail one. x"),
      (2L, "this sentence is repeated across documents. unique little tail two. y"),
      (3L, "completely singular content lives here alone. unique little tail three")
    ).toDF("doc_id", "text")
    val sent = docs
      .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("s"))
      .filter(length(col("s")) >= 20)
      .select(col("doc_id"), xxhash64(col("s")).as("h")).distinct()
    val freq = sent.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val out = sent.join(freq, "h").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), count(when(col("df") >= 2, lit(1))).as("d"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._2 === 1L && out(2L)._2 === 1L, "shared span counted once per doc")
    assert(out(3L)._2 === 0L, "singular doc has no duplicated spans")
  }

  test("clusterMst is a deterministic spanning tree over label centroids") {
    val edges = sc.Trajectory.clusterMst(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(edges.length === verts.length - 1, "spanning tree has k-1 edges")
    assert(edges.forall(_._3 > 0.0))
    // connectivity: union-find over the edge list reaches one component
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(v: Int): Int = if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    edges.foreach { case (a, b, _) => parent(find(a)) = find(b) }
    assert(verts.map(find).distinct.length === 1, "tree must be connected")
    val again = sc.Trajectory.clusterMst(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(edges.sorted.sameElements(again.sorted), "MST must be deterministic")
  }

  test("pseudotimeAssign: arc-length positions along MST lineages are well-formed") {
    val mst = sc.Trajectory.clusterMst(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val pt = sc.Trajectory.pseudotimeAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(pt.nonEmpty)
    // pseudotime is an arc-length position: bounded by the total tree
    // length (every lineage path is a subset of the MST edges)
    val treeLen = mst.map(_._3).sum
    assert(pt.forall(p => p._4 >= 0.0 && p._4 <= treeLen + 1e-6),
      "pseudotime outside [0, total tree length]")
    // a cell appears once per lineage containing its label, and every
    // cell of a label gets the SAME lineage set (membership is
    // label-determined)
    val byCell = pt.groupBy(_._1)
    assert(byCell.values.forall(rows => rows.map(_._3).distinct.length == rows.length),
      "duplicate (cell, lineage) rows")
    val labelLineages = pt.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    pt.groupBy(p => (p._1, p._2)).foreach { case ((_, label), rows) =>
      assert(rows.map(_._3).toSet == labelLineages(label))
    }
    // the branch tally is consistent: total membership rows == Σ cells
    // per combo weighted by combo size
    val tally = sc.Trajectory.lineageMembership(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val comboWeighted = tally.map { case (b, n) => b.split(",").length * n }.sum
    assert(comboWeighted == pt.length,
      s"membership tally ($comboWeighted) disagrees with pseudotime rows (${pt.length})")
  }

  test("pageRank: star center dominates, ranks conserve mass, cycle is uniform") {
    import api.Similarity
    // star: center 0 connected to 1..6 — center must rank highest
    val star = (1 to 6).map(i => (0L, i.toLong)).toDF("a", "b")
    val ranks = Similarity.pageRank(star, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(0L) > ranks(1L) * 2, s"center must dominate: $ranks")
    assert((1 to 6).map(i => ranks(i.toLong)).distinct.length == 1,
      "leaves are symmetric")
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6,
      s"ranks sum to 1 on a dangling-free graph: ${ranks.values.sum}")
    // cycle: perfect symmetry → exactly uniform at every iteration
    val cycle = (0 until 5).map(i => (i.toLong, ((i + 1) % 5).toLong)).toDF("a", "b")
    val cr = Similarity.pageRank(cycle, col("a"), col("b"))
      .collect().map(_.getDouble(1))
    assert(cr.forall(r => math.abs(r - 0.2) < 1e-12), s"cycle must stay uniform: ${cr.toSeq}")
  }

  test("split conformal: binned qhat brackets the exact order statistic and covers") {
    import org.apache.spark.sql.functions._
    val out = core.Scores.conformalIntervals(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(out.nonEmpty)
    // reference: exact conformal quantile from the raw calibration residuals
    val o = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val cal = o.filter(_._1 % 2 == 0)
    val yhat = cal.groupBy(_._2).map { case (p, rs) =>
      p -> rs.map(_._3).sum / rs.size
    }
    val resByP = cal.groupBy(_._2).map { case (p, rs) =>
      p -> rs.map(r => math.abs(r._3 - yhat(p))).sorted
    }
    val rmax = resByP.values.flatten.max
    val width = rmax / 1024
    out.foreach { case (p, (nCal, nTest, yh, qh, cov)) =>
      val res = resByP(p)
      assert(nCal == res.size)
      // yhat agrees with the reference mean at the output rounding
      assert(math.abs(yh - yhat(p)) < 5e-4, s"$p yhat $yh vs ${yhat(p)}")
      val k = math.ceil((nCal + 1) * 0.9).toInt
      val exact = res(k - 1)
      assert(qh >= exact - 1e-9, s"$p binned qhat $qh < exact $exact — guarantee broken")
      assert(qh - exact <= width + 1e-6, s"$p qhat $qh further than a bin from $exact")
      // the finite-sample guarantee, with slack for binomial noise
      assert(cov >= 0.9 - 3 * math.sqrt(0.09 / nTest),
        s"$p coverage $cov too far below 0.9 (n_test=$nTest)")
    }
  }
}
