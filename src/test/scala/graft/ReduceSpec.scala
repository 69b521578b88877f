package graft

/** Grid reductions: structural invariants (component variance ordering,
  * cluster arity, determinism, clustree mass conservation). */
class ReduceSpec extends SparkSpecBase {

  test("cluster transitions conserve mass across resolutions (clustree contract)") {
    val t = ml.Reduce.lloydTransitions(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(t.nonEmpty)
    // every transition level accounts for the full corpus
    t.groupBy(_._1).foreach { case (kFrom, rows) =>
      assert(rows.map(_._5).sum == 500, s"k=$kFrom transition loses cells")
      assert(rows.forall(r => r._2 >= 0 && r._2 < kFrom && r._4 >= 0 && r._4 < kFrom + 1))
    }
    // a cluster's outgoing overlap mass (as source of k→k+1) equals its
    // incoming mass (as target of k-1→k): both are the cluster's size
    val outMass = t.groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._5).sum)
    val inMass = t.groupBy(r => (r._3, r._4)).view.mapValues(_.map(_._5).sum)
    for (((k, c), m) <- outMass if inMass.contains((k, c)))
      assert(inMass((k, c)) == m, s"cluster ($k,$c) mass in ${inMass((k, c))} != out $m")
  }

  test("Lloyd grid replay: valid assignments, elbow SSE drops with k") {
    val a = ml.Reduce.lloydClusters(spark, sf).collect()
    assert(a.length == 500)
    assert(a.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 10))
    val b = ml.Reduce.lloydClusters(spark, sf).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(2))).toMap ==
      b.map(r => (r.getLong(0), r.getLong(2))).toMap,
      "grid Lloyd must be deterministic")
    val elbow = ml.Reduce.lloydElbow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(elbow.keySet == (2L to 8L).toSet)
    assert(elbow.values.forall(_ > 0.0))
    assert(elbow(2L) > elbow(8L),
      s"SSE must drop from k=2 (${elbow(2L)}) to k=8 (${elbow(8L)})")
  }

  test("grid PCA: variance-ordered, near-orthogonal scores, deterministic") {
    val rows = ml.Reduce.pcaGridEmbeddings(spark, sf).collect()
    assert(rows.length == 500)
    val cols = (1 to 8).map(p => rows.map(_.getDouble(p)).toSeq)
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val vars = cols.map(variance)
    (0 until 7).foreach(i =>
      assert(vars(i) >= vars(i + 1) * 0.999,
        s"pc${i + 1} var ${vars(i)} < pc${i + 2} var ${vars(i + 1)}"))
    // converged subspace iteration gives near-orthogonal score vectors
    def corr(a: Seq[Double], b: Seq[Double]): Double = {
      val (ma, mb) = (a.sum / a.size, b.sum / b.size)
      val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum *
        b.map(y => (y - mb) * (y - mb)).sum)
    }
    assert(math.abs(corr(cols(0), cols(1))) < 0.15,
      s"pc1/pc2 correlation ${corr(cols(0), cols(1))} — not orthogonalized")
    val again = ml.Reduce.pcaGridEmbeddings(spark, sf).collect()
    assert(rows.map(_.getDouble(1)).toSeq == again.map(_.getDouble(1)).toSeq,
      "grid PCA must be deterministic")
  }

  test("grid bisecting: 8 leaf clusters partition the corpus, deterministic") {
    val a = ml.Reduce.bisectingGridClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(a.length == 500, "every vector gets exactly one leaf")
    val sizes = a.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.size == 8, s"7 splits should yield 8 leaves, got ${sizes.size}")
    assert(sizes.values.sum == 500)
    val b = ml.Reduce.bisectingGridClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(a.toMap == b.toMap, "grid bisecting must be deterministic")
  }

  test("embedding dim profile: one row per dim, moment identities hold") {
    val rows = ml.Reduce.embeddingDimProfile(spark, sf).collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    val dims = rows.map(_.getLong(0)).sorted
    assert(dims.sameElements(0L until dims.length.toLong), "dims not contiguous from 0")
    rows.foreach { r =>
      val (n, mean, sd, mn, mx, nz) = (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(n == nVecs, "every vector contributes to every dim")
      assert(mn <= mean && mean <= mx)
      assert(sd >= 0.0)
      assert(nz >= 0.0 && nz <= 1.0)
    }
  }

  test("DBSCAN: roles partition correctly and clusters are component-min labels") {
    import org.apache.spark.sql.functions._
    val eps = 0.38 // pin the query's contract
    val out = ml.Reduce.dbscanEmbeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val pairs = api.Similarity.bruteForceCosinePairs(
        graft.Tables.embeddings(spark, sf), col("vec_id"), col("embedding"), eps)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "eps-graph empty — spec is vacuous")
    val nbrs = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val core = nbrs.filter(_._2.size >= 2).keySet
    out.foreach { case (v, (role, cl)) =>
      val deg = nbrs.get(v).map(_.size).getOrElse(0)
      role match {
        case "core" => assert(deg >= 2 && cl >= 0)
        case "border" =>
          assert(deg < 2, s"border $v has core degree $deg")
          assert(nbrs(v).exists(core), s"border $v has no core neighbor")
          assert(cl >= 0)
        case "noise" =>
          assert(cl == -1L)
          assert(!core.contains(v) && !nbrs.getOrElse(v, Set.empty).exists(core))
      }
    }
    // cluster label = min member over each core component (BFS reference)
    val coreAdj = nbrs.map { case (v, ns) => v -> ns.filter(core) }
    core.foreach { v =>
      var seen = Set(v); var frontier = Set(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(coreAdj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
      }
      assert(out(v)._2 == seen.filter(core).min,
        s"core $v cluster ${out(v)._2} != component min")
    }
    // LSH twin: candidate pairs are a subset, so its core set can only
    // shrink — every LSH core must be an exact core with the same label
    val lsh = ml.Reduce.dbscanEmbeddingsLsh(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val lshCore = lsh.collect { case (v, ("core", _)) => v }.toSet
    assert(lshCore.subsetOf(core), "LSH core set exceeds the exact core set")
  }

  test("cluster ARI: bounded, chance-corrected, and exact on the contingency") {
    val rows = ml.Reduce.lloydAri(spark, sf).collect()
    assert(rows.length == 4, "k=2..6 yields 4 consecutive-resolution pairs")
    val n = rows.head.getAs[Long]("n")
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == n, "same vector universe for every k pair")
      val ari = r.getAs[Double]("ari")
      assert(ari >= -1.0 && ari <= 1.0, s"ARI $ari out of range")
      // recompute from the emitted integer pair sums — the double tail
      // is pure arithmetic over them, no hidden state
      val (sNij, sA, sB) = (r.getAs[Long]("s_nij"), r.getAs[Long]("s_a"), r.getAs[Long]("s_b"))
      val c2n = n * (n - 1) / 2
      val e = sA.toDouble * sB / c2n
      val want = if ((sA + sB) / 2.0 == e) 1.0
        else (sNij - e) / ((sA + sB) / 2.0 - e)
      assert(math.abs(ari - BigDecimal(want).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"ari $ari != recomputed $want")
      // pair-sum sanity: intersection pairs can't exceed either side
      assert(sNij <= sA && sNij <= sB, "C(nij,2) sum exceeds a marginal")
    }
  }
}
