package graft

import org.apache.spark.sql.functions._

/** Generic-API semantics on hand-checkable inputs. */
class AnalyticsSpec extends SparkSpecBase {

  test("spread reads a maxPartitionBytes given with a unit suffix") {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "64m")
    try {
      val emb = Tables.embeddings(spark, sf)
      // one small file is one split, under the spec session's 4 cores
      val spread = api.Analytics.spread(emb)
      assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
      assert(spread.count() == emb.count())
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("saltedAggregate equals plain groupBy on skewed data") {
    import spark.implicits._
    // one hot key (90% of rows) + a tail
    val df = ((1 to 900).map(i => ("hot", i.toDouble)) ++
      (1 to 100).map(i => (s"k${i % 10}", i.toDouble))).toDF("k", "v")
    val salted = api.Analytics.saltedAggregate(df, col("k"), salts = 8,
      aggs = Map(
        "total" -> (sum(col("v")), (p: String) => sum(col(p))),
        "n"     -> (count(lit(1)), (p: String) => sum(col(p)))))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val plain = df.groupBy("k").agg(sum("v").as("total"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == plain)
  }

  test("madOutliers flags a planted extreme value") {
    import spark.implicits._
    val df = ((1 to 50).map(i => ("b1", 10.0 + (i % 5))) :+ (("b1", 1000.0)))
      .toDF("batch", "x")
    val out = api.Analytics.madOutliers(df, "batch", "x")
    assert(out.filter(col("x") === 1000.0).select("outlier").collect()(0).getBoolean(0))
    assert(out.filter(col("outlier")).count() == 1)
  }

  test("approx-quantile MAD outliers agree with exact on the planted extreme") {
    import spark.implicits._
    val df = ((1 to 500).map(i => ("b1", 10.0 + (i % 7))) :+ (("b1", 5000.0)))
      .toDF("batch", "x")
    val exact = api.Analytics.madOutliers(df, "batch", "x", exact = true)
      .filter(col("outlier")).select("x").collect().map(_.getDouble(0)).toSet
    val approx = api.Analytics.madOutliers(df, "batch", "x", exact = false)
      .filter(col("outlier")).select("x").collect().map(_.getDouble(0)).toSet
    assert(exact == Set(5000.0))
    assert(approx == exact, "sketch path must agree on a clear outlier")
  }

  test("asofJoinBackward picks latest right row <= left ts, null when none") {
    import spark.implicits._
    val trades = Seq((1L, 100L, "t1"), (1L, 205L, "t2"), (2L, 50L, "t3")).toDF("sym", "ts", "trade")
    val quotes = Seq((1L, 90L, 9.5), (1L, 200L, 10.5), (1L, 205L, 11.0), (2L, 60L, 5.0)).toDF("sym", "ts", "px")
    val out = api.Similarity.asofJoinBackward(
      trades, col("sym"), col("ts"), quotes, col("sym"), col("ts"),
      payload = struct(col("ts").as("q_ts"), col("px")), tieBreak = col("ts"))
    val rows = out.collect().map(r => (r.getAs[String]("trade"),
      Option(r.getStruct(r.fieldIndex("asof_match"))).map(_.getDouble(1)))).toMap
    assert(rows("t1").contains(9.5))   // quote@90 is latest <= 100
    assert(rows("t2").contains(11.0))  // equal-ts quote matches (<= semantics)
    assert(rows("t3").isEmpty)         // no quote <= 50
  }

  test("quantileNormalize gives identical distributions across entities") {
    import spark.implicits._
    val m = Seq(
      ("e1","f1",5.0),("e1","f2",2.0),("e1","f3",3.0),
      ("e2","f1",50.0),("e2","f2",20.0),("e2","f3",30.0)).toDF("e","f","v")
    val out = api.Analytics.quantileNormalize(m, col("e"), col("f"), col("v"))
    val dists = out.collect().groupBy(_.getString(0))
      .map { case (e, rows) => e -> rows.map(_.getDouble(3)).sorted.toSeq }
    // rank means: rank1=(2+20)/2=11, rank2=(3+30)/2=16.5, rank3=(5+50)/2=27.5
    assert(dists("e1") == Seq(11.0, 16.5, 27.5))
    assert(dists("e1") == dists("e2"))
  }

  test("approxDistinct tracks exact cardinality within rsd") {
    import spark.implicits._
    val df = (1 to 5000).map(i => ("g", s"item$i")).toDF("g", "x")
    val approx = api.Analytics.approxDistinct(df, col("g"), col("x"))
      .collect()(0).getLong(1)
    assert(math.abs(approx - 5000) < 5000 * 0.05, s"approx=$approx")
  }

  test("deMarkers recovers the planted differential feature") {
    import spark.implicits._
    // f_up: group A ~ 20, rest ~ 5 (clear marker); f_null: identical
    val rows =
      (1 to 30).map(i => ("f_up", true, 20.0 + (i % 3))) ++
      (1 to 30).map(i => ("f_up", false, 5.0 + (i % 3))) ++
      (1 to 30).map(i => ("f_null", true, 7.0 + (i % 5))) ++
      (1 to 30).map(i => ("f_null", false, 7.0 + (i % 5)))
    val out = api.Analytics.deMarkers(rows.toDF("f", "a", "x"),
      col("f"), col("a"), col("x"))
      .collect().map(r => r.getAs[String]("feature") ->
        (r.getAs[Double]("t_stat"), r.getAs[Double]("p_value"), r.getAs[Double]("log2fc"))).toMap
    val (tUp, pUp, fcUp) = out("f_up")
    val (tNull, pNull, _) = out("f_null")
    assert(tUp > 10, s"planted marker should have a large t, got $tUp")
    assert(pUp < 1e-6 && pNull > 0.9, s"p_up=$pUp p_null=$pNull")
    assert(fcUp > 1.0, "A-mean 21 vs B-mean 6 is > 1 doubling")
    assert(math.abs(tNull) < 1e-9)
  }

  test("wilcoxonMarkers: planted shift is significant, identical groups give z=0 p=1") {
    import spark.implicits._
    val rows =
      (1 to 40).map(i => ("f_shift", true, 100.0 + (i % 7))) ++
      (1 to 40).map(i => ("f_shift", false, 50.0 + (i % 7))) ++
      (1 to 40).map(i => ("f_same", true, (i % 5).toDouble)) ++
      (1 to 40).map(i => ("f_same", false, (i % 5).toDouble))
    val out = api.Analytics.wilcoxonMarkers(rows.toDF("f", "a", "x"),
      col("f"), col("a"), col("x"))
      .collect().map(r => r.getAs[String]("feature") ->
        (r.getAs[Double]("u_stat"), r.getAs[Double]("z"), r.getAs[Double]("p_value"))).toMap
    val (uShift, zShift, pShift) = out("f_shift")
    val (_, zSame, pSame) = out("f_same")
    assert(uShift == 1600.0, "complete separation: U = n_a*n_b")
    assert(zShift > 5 && pShift < 1e-6, s"z=$zShift p=$pShift")
    // the Zelen–Severo polynomial has |ε| < 7.5e-8, so p(z=0) ≈ 1 − 1e-9
    assert(zSame == 0.0 && pSame > 0.999999, s"identical groups: z=$zSame p=$pSame")
    // swapping the groups must mirror the statistic
    val sw = api.Analytics.wilcoxonMarkers(rows.toDF("f", "a", "x"),
      col("f"), !col("a"), col("x"))
      .collect().map(r => r.getAs[String]("feature") -> r.getAs[Double]("z")).toMap
    assert(math.abs(sw("f_shift") + zShift) < 1e-9)
  }

  test("aucModuleScore is 1 when set features fill the top ranks, 0 when absent from them") {
    import spark.implicits._
    // e1: the 3 set features hold ranks 1-3 of 6 → perfect recovery
    // e2: set features at the bottom, below topN → zero recovery
    val m = Seq(
      ("e1","s1",9.0,true),("e1","s2",8.0,true),("e1","s3",7.0,true),
      ("e1","x1",1.0,false),("e1","x2",0.5,false),("e1","x3",0.2,false),
      ("e2","s1",0.1,true),("e2","s2",0.2,true),
      ("e2","x1",9.0,false),("e2","x2",8.0,false),("e2","x3",7.0,false)
    ).toDF("e","f","v","inset")
    val out = api.Analytics.aucModuleScore(m, col("e"), col("f"), col("v"),
        col("inset"), topN = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // e1: hits at ranks 1,2,3 → (3+2+1)/(3*3) = 2/3 of max… with N+1−rank
    // weights the perfect score is (3+2+1)/(min(3,3)*3) = 6/9
    assert(math.abs(out("e1") - 6.0 / 9.0) < 1e-9)
    assert(out("e2") == 0.0)
  }

  test("featureCorr finds the planted perfect correlation") {
    import spark.implicits._
    val m = (1 to 20).flatMap(i => Seq(
      (s"e$i", "fa", i.toDouble),
      (s"e$i", "fb", 2.0 * i + 3.0),      // exactly linear in fa
      (s"e$i", "fc", if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("e", "f", "v")
    val out = api.Analytics.featureCorr(m, col("e"), col("f"), col("v"),
        Seq("fa", "fb", "fc"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        Option(r.getAs[java.lang.Double]("pearson")).map(_.toDouble)).toMap
    assert(math.abs(out(("fa", "fb")).get - 1.0) < 1e-9)
    assert(math.abs(out(("fa", "fc")).get) < 0.2, "alternating series ~uncorrelated with index")
    assert(out.keySet == Set(("fa","fb"), ("fa","fc"), ("fb","fc")))
  }

  test("packSequences offsets tile each shard contiguously") {
    import spark.implicits._
    val docs = Seq(("s1", 1L, 300L), ("s1", 2L, 300L), ("s1", 3L, 500L),
      ("s2", 10L, 512L), ("s2", 11L, 100L)).toDF("src", "id", "tok")
    val out = api.Analytics.packSequences(docs, col("src"), col("id"), col("tok"), budget = 512)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("start_off"), r.getAs[Long]("end_off"),
          r.getAs[Long]("seq_first"), r.getAs[Long]("seq_last"), r.getAs[Long]("n_seqs"))).toMap
    assert(out(1L) == (0L, 300L, 0L, 0L, 1L))
    assert(out(2L) == (300L, 600L, 0L, 1L, 2L))   // straddles the 512 boundary
    assert(out(3L) == (600L, 1100L, 1L, 2L, 2L))
    assert(out(10L) == (0L, 512L, 0L, 0L, 1L))    // exact fit stays in seq 0
    assert(out(11L) == (512L, 612L, 1L, 1L, 1L))
  }

  test("decontaminate flags only the doc that copies eval text") {
    import spark.implicits._
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog again and again tonight"))
      .toDF("id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (2L, "completely unrelated words about spark shuffles and parquet footers")
    ).toDF("id", "text")
    val out = api.Similarity.decontaminate(train, col("id"), col("text"),
        evalSet, col("text"), shingle = 20, minShared = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("contaminated")).toMap
    assert(out == Map(1L -> true, 2L -> false))
  }

  test("intervalOverlapJoin matches the naive theta join on random intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // spans from sub-bin to multi-bin so bin replication paths all fire
    val left = (1 to 120).map { i =>
      val s = rnd.nextInt(5000); (i.toLong, s.toLong, (s + rnd.nextInt(800)).toLong)
    }.toDF("id", "s", "e")
    val right = (1 to 120).map { i =>
      val s = rnd.nextInt(5000); (i.toLong, s.toLong, (s + rnd.nextInt(300)).toLong)
    }.toDF("id", "s", "e")
    val binned = api.Analytics.intervalOverlapJoin(
        left, col("id"), col("s"), col("e"),
        right, col("id"), col("s"), col("e"), binWidth = 250L)
      .select("l_id", "r_id", "overlap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = left.as("a").join(right.as("b"),
        col("a.s") <= col("b.e") && col("b.s") <= col("a.e"))
      .select(col("a.id"), col("b.id"),
        least(col("a.e"), col("b.e")) - greatest(col("a.s"), col("b.s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(binned == naive)
    assert(naive.nonEmpty)
  }

  test("groupedOls recovers a planted linear trend with near-zero p") {
    import spark.implicits._
    val rows = (1 to 200).map { i =>
      ("f1", i.toDouble, 3.0 + 0.5 * i + (if (i % 2 == 0) 0.1 else -0.1))
    } ++ (1 to 200).map { i =>
      // pure alternating noise, no trend: slope ~0, |t| small, p large
      ("f2", i.toDouble, 7.0 + (if (i % 2 == 0) 0.1 else -0.1))
    }
    val out = api.Analytics.groupedOls(rows.toDF("f", "x", "y"),
        col("f"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val f1 = out("f1")
    assert(math.abs(f1.getAs[Double]("slope") - 0.5) < 1e-3)
    assert(f1.getAs[Double]("p_value") < 1e-6)
    assert(f1.getAs[Double]("r2") > 0.99)
    val f2 = out("f2")
    assert(math.abs(f2.getAs[Double]("slope")) < 1e-2)
    assert(f2.getAs[Double]("p_value") > 0.1)
  }

  test("spearmanAssociation is 1 for any monotone map, sign-flips, and handles ties") {
    import spark.implicits._
    val mono = (1 to 50).map(i => ("f", i.toDouble, math.exp(i / 10.0)))
    val anti = (1 to 50).map(i => ("g", i.toDouble, -math.log(i + 1.0)))
    val out = api.Analytics.spearmanAssociation(
        (mono ++ anti).toDF("f", "x", "y"), col("f"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rho")).toMap
    assert(math.abs(out("f") - 1.0) < 1e-9)
    assert(math.abs(out("g") + 1.0) < 1e-9)
    // tie-heavy: rho must still be deterministic and within [-1, 1]
    val ties = (1 to 40).map(i => ("t", (i / 10).toDouble, (i / 7).toDouble))
    val rho = api.Analytics.spearmanAssociation(ties.toDF("f", "x", "y"),
        col("f"), col("x"), col("y")).collect()(0).getAs[Double]("rho")
    assert(rho > 0.8 && rho <= 1.0)
  }

  test("giniByGroup: 0 for equal values, near 1-1/n for one-holder concentration") {
    import spark.implicits._
    val eq = (1 to 10).map(i => ("a", i.toLong, 5.0))
    val conc = (1 to 9).map(i => ("b", i.toLong, 0.0)) :+ (("b", 10L, 100.0))
    val out = api.Analytics.giniByGroup((eq ++ conc).toDF("g", "id", "v"),
        col("g"), col("id"), col("v"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("gini")).toMap
    assert(math.abs(out("a")) < 1e-9)
    assert(math.abs(out("b") - 0.9) < 1e-9)
  }

  test("shannonEntropy: 0 for a single label, ln(k) for uniform labels") {
    import spark.implicits._
    val one = (1 to 8).map(i => ("g1", "only"))
    val uni = (1 to 8).map(i => ("g2", s"l${i % 4}"))
    val out = api.Analytics.shannonEntropy((one ++ uni).toDF("g", "l"),
        col("g"), col("l"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(out("g1").getAs[Double]("entropy")) < 1e-9)
    assert(out("g1").getAs[Any]("evenness") == null)
    assert(math.abs(out("g2").getAs[Double]("entropy") - math.log(4.0)) < 1e-9)
    assert(math.abs(out("g2").getAs[Double]("evenness") - 1.0) < 1e-9)
  }

  test("packSequencesBestFit: every doc once, no bin over budget, beats naive packing") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (1 to 300).map(i =>
      ("s" + (i % 3), i.toLong, (rnd.nextInt(900) + 100).toLong)) :+
      (("s0", 9999L, 5000L)) // oversize doc
    val budget = 1000L
    val out = api.Analytics.packSequencesBestFit(docs.toDF("sh", "id", "tok"),
        col("sh"), col("id"), col("tok"), budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(out.map(_._2).sorted.toSeq == docs.map(_._2).sorted, "every doc exactly once")
    // bin loads within budget (oversize docs excepted, and flagged)
    val loads = out.filterNot(_._5).groupBy(o => (o._1, o._4)).view.mapValues(_.map(_._3).sum)
    assert(loads.values.forall(_ <= budget), s"over-budget bin: ${loads.filter(_._2 > budget)}")
    assert(out.count(_._5) == 1 && out.find(_._5).get._2 == 9999L)
    // FFD uses no more bins than naive in-id-order first-fit-on-last-bin
    for (s <- Seq("s0", "s1", "s2")) {
      val ffdBins = out.filter(o => o._1 == s && !o._5).map(_._4).distinct.length
      val seq = docs.filter(d => d._1 == s && d._3 <= budget).sortBy(_._2)
      var bins = 1; var load = 0L
      seq.foreach { d => if (load + d._3 > budget) { bins += 1; load = d._3 } else load += d._3 }
      assert(ffdBins <= bins, s"$s: FFD $ffdBins bins > naive $bins")
    }
  }

  test("saltedJoin equals the plain inner join on skewed keys") {
    import spark.implicits._
    // one hot key (90% of rows) + a long tail
    val big = ((1 to 900).map(i => (1L, s"b$i")) ++
      (1 to 100).map(i => (i.toLong + 1, s"t$i"))).toDF("k", "payload")
    val small = (1 to 50).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val salted = api.Analytics.saltedJoin(big, small, "k", salts = 8)
      .select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val plain = big.join(small, "k").select("k", "payload", "name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.size == 900 + 49) // hot key 1 and tail keys 2..50
  }

  test("categoricalAssociation matches the hand-computed 2x2 chi-square") {
    import spark.implicits._
    // classic 2x2: rows (10,20 / 30,40) -> chi2 = N*(ad-bc)^2/((a+b)(c+d)(a+c)(b+d))
    val rows =
      Seq.fill(10)(("g", "x", "u")) ++ Seq.fill(20)(("g", "x", "v")) ++
      Seq.fill(30)(("g", "y", "u")) ++ Seq.fill(40)(("g", "y", "v"))
    val out = api.Analytics.categoricalAssociation(rows.toDF("g", "a", "b"),
      col("g"), col("a"), col("b")).collect()(0)
    val expected = 100.0 * math.pow(10.0 * 40 - 20.0 * 30, 2) / (30.0 * 70 * 40 * 60)
    assert(math.abs(out.getAs[Double]("chi2") - expected) < 1e-9)
    assert(out.getAs[Long]("dof") == 1L)
    val p = out.getAs[Double]("p_chi2")
    assert(p > 0 && p < 1)
    // independent table -> chi2 0, MI 0, p ~ 1
    val ind = Seq.fill(10)(("g", "x", "u")) ++ Seq.fill(10)(("g", "x", "v")) ++
      Seq.fill(10)(("g", "y", "u")) ++ Seq.fill(10)(("g", "y", "v"))
    val o2 = api.Analytics.categoricalAssociation(ind.toDF("g", "a", "b"),
      col("g"), col("a"), col("b")).collect()(0)
    assert(math.abs(o2.getAs[Double]("chi2")) < 1e-9)
    assert(math.abs(o2.getAs[Double]("mutual_info")) < 1e-9)
    assert(o2.getAs[Double]("p_chi2") > 0.95)
  }

  test("varianceExplained is 1 for perfectly-separated groups, ~0 for identical") {
    import spark.implicits._
    val sep = Seq(("f1","a",1.0),("f1","a",1.0),("f1","b",9.0),("f1","b",9.0))
      .toDF("f","g","x")
    val r2 = api.Analytics.varianceExplained(sep, col("f"), col("g"), col("x"))
      .collect()(0).getDouble(2)
    assert(math.abs(r2 - 1.0) < 1e-9)
    val same = Seq(("f1","a",3.0),("f1","a",5.0),("f1","b",3.0),("f1","b",5.0))
      .toDF("f","g","x")
    val r2b = api.Analytics.varianceExplained(same, col("f"), col("g"), col("x"))
      .collect()(0).getDouble(2)
    assert(math.abs(r2b) < 1e-9)
  }

  test("dsirWeights rank the target source's own docs above the rest") {
    // the defining property of importance weighting: documents drawn
    // from the target distribution score higher under log p_t − p_r
    val w = text.TextOps.dsirWeights(spark, sf)
      .join(Tables.documents(spark, sf).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source") === "src0")
      .agg(avg(col("log_weight")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(w(true) > w(false),
      s"target-source mean log-weight ${w(true)} not above rest ${w(false)}")
  }

  test("dsirWeightsHashed tracks the exact-vocab weights (few collisions at 2^16)") {
    val exact = text.TextOps.dsirWeights(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val hashed = text.TextOps.dsirWeightsHashed(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(exact.keySet == hashed.keySet)
    val pairs = exact.keys.toSeq.map(k => (exact(k), hashed(k)))
    val (mx, my) = (pairs.map(_._1).sum / pairs.size, pairs.map(_._2).sum / pairs.size)
    val cov = pairs.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sx = math.sqrt(pairs.map(p => math.pow(p._1 - mx, 2)).sum)
    val sy = math.sqrt(pairs.map(p => math.pow(p._2 - my, 2)).sum)
    val corr = cov / (sx * sy)
    assert(corr > 0.9, s"hashed/exact weight correlation $corr too low")
  }

  test("tokenBudgetAlloc: water-filling invariants — quotas exhaust the budget, " +
      "caps bind on the most-boosted sources, fills are valid") {
    val rows = text.TextOps.tokenBudgetAlloc(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getDouble(4), r.getDouble(5)))
    val total = rows.map(_._2).sum
    val t = math.floor(total * 0.95)
    // Σ quota = T (the defining water-filling property; 4dp rounding slack)
    assert(math.abs(rows.map(_._5).sum - t) < 0.01 * rows.length,
      s"quotas ${rows.map(_._5).sum} do not exhaust budget $t")
    rows.foreach { case (src, n, _, capped, quota, fill) =>
      if (capped) assert(quota == n.toDouble && fill == 1.0,
        s"$src capped but quota $quota != capacity $n")
      else assert(quota < n && fill < 1.0 && fill > 0.0,
        s"$src uncapped but quota $quota !< capacity $n")
    }
    assert(rows.exists(_._4) && rows.exists(!_._4),
      "test corpus should exercise both branches")
    // capping is monotone: every capped source is smaller than every
    // uncapped one (capacity ratio n/p ∝ n^0.7 — the prefix argument)
    val maxCapped = rows.filter(_._4).map(_._2).max
    val minFree = rows.filterNot(_._4).map(_._2).min
    assert(maxCapped <= minFree, s"capped prefix violated: $maxCapped > $minFree")
  }

  test("topicAssign: deterministic non-trivial partition; identical docs share a topic") {
    val rows = text.TextOps.topicAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "every doc gets exactly one topic row")
    assert(rows.forall { case (_, t) => t >= 0 && t < 32 }, "topic in [0, 2^5)")
    assert(rows.map(_._2).distinct.length > 1, "partition must be non-trivial")
    // identical text ⇒ identical signature ⇒ identical topic (the
    // planted exact-dup groups from dedup_exact)
    val dupGroups = dedup.Dedup.dedupExact(spark, sf)
      .filter(col("has_dup")).select("norm_hash").collect().length
    if (dupGroups > 0) {
      val byTopic = rows.toMap
      val sameText = Tables.documents(spark, sf)
        .select(col("doc_id"),
          md5(trim(regexp_replace(lower(col("text")), lit("\\s+"), lit(" ")))).as("h"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._2).values.filter(_.length > 1)
      sameText.foreach { g =>
        assert(g.map(d => byTopic(d._1)).distinct.length == 1,
          s"exact-dup docs ${g.map(_._1)} landed in different topics")
      }
    }
  }

  test("topicTopTerms: ranks are contiguous from 1, terms pass the stopword cut") {
    val rows = text.TextOps.topicTopTerms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (t, g) =>
      val rks = g.map(_._2).sorted
      assert(rks.head == 1L && rks.sameElements(1L to rks.length.toLong),
        s"topic $t ranks not contiguous: ${rks.mkString(",")}")
      assert(rks.length <= 5)
      // within a topic, n_docs is non-increasing with rank
      val byRank = g.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"topic $t term counts not ranked: ${byRank.mkString(",")}")
    }
  }

  test("gopherRules: pass is the conjunction of flags; word-count rule actually bins the corpus") {
    val rows = text.TextOps.gopherRules(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val flags = Seq("wc_ok", "mwl_ok", "symbol_ok", "bullet_ok",
        "ellipsis_ok", "alpha_ok", "stop_ok").map(f => r.getBoolean(r.fieldIndex(f)))
      assert(r.getBoolean(r.fieldIndex("pass")) == flags.forall(identity))
      assert(r.getBoolean(r.fieldIndex("pass_no_stop")) == flags.init.forall(identity))
    }
    // corpus facts this spec pins: the canonical stopword rule rejects
    // the synthetic vocab wholesale (only 'the' of the 8 occurs), so
    // the multilingual composite is the one that must bin BOTH ways,
    // driven by the word-count rule
    assert(rows.forall(!_.getBoolean(rows.head.fieldIndex("stop_ok"))))
    assert(rows.map(_.getBoolean(rows.head.fieldIndex("pass_no_stop"))).distinct.length == 2)
    assert(rows.map(_.getBoolean(rows.head.fieldIndex("wc_ok"))).distinct.length == 2)
  }

  test("wordLangMi: nonnegative and equal to an exact in-test recompute") {
    // NOTE: this corpus's text is lang-independent (no marker words in
    // the vocab), so every MI is small — the pin is exact mechanical
    // equality against an independent recompute, not a ranking claim.
    val rows = text.TextOps.wordLangMi(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (w, n, mi) => assert(mi >= -1e-9 && n > 0, s"$w: $mi") }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val nn = docs.length.toDouble
    val docWords = docs.map { case (d, l, t) =>
      (d, l, "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSet) }
    val langs = docs.map(_._2).distinct
    val nl = langs.map(l => l -> docs.count(_._2 == l)).toMap
    rows.foreach { case (w, nDocs, mi) =>
      val nw = docWords.count(_._3.contains(w))
      assert(nDocs == nw, s"$w n_docs $nDocs != $nw")
      val expect = langs.map { l =>
        val n11 = docWords.count(dw => dw._2 == l && dw._3.contains(w))
        val n01 = nl(l) - n11
        val t11 = if (n11 > 0) n11 / nn * math.log(n11 * nn / (nw.toDouble * nl(l))) else 0.0
        val t01 = if (n01 > 0) n01 / nn * math.log(n01 * nn / ((nn - nw) * nl(l))) else 0.0
        t11 + t01
      }.sum
      assert(math.abs(mi - expect) < 1e-5, s"$w MI $mi != recompute $expect")
    }
  }

  test("proportionalAllocation: Hamilton invariants — sums to budget, within 1 of quota") {
    val rows = text.TextOps.proportionalAllocation(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val total = rows.map(_._3).sum
    assert(rows.map(_._4).sum == 100L, "allocations must exhaust the budget")
    rows.foreach { case (l, src, n, alloc) =>
      val base = n * 100L / total
      assert(alloc == base || alloc == base + 1,
        s"cell ($l,$src) alloc $alloc not in {$base, ${base + 1}}")
    }
  }

  test("timeGridFill: contiguous hour grid per user, LOCF only on event-free hours") {
    val rows = core.Sessions.timeGridFill(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, g) =>
      val hs = g.map(_._2).sorted
      assert(hs.head to hs.last forall (hs.toSet.contains),
        s"user $u grid has holes")
      assert(hs.length == hs.distinct.length, s"user $u duplicate hours")
      // first hour of every span is an observed hour (span starts at an event)
      val first = g.minBy(_._2)
      assert(!first._3, s"user $u first hour marked filled")
      // a filled hour repeats the previous hour's value exactly
      val byH = g.sortBy(_._2)
      byH.zip(byH.tail).foreach { case ((_, _, _, pv), (_, h, filled, v)) =>
        if (filled) assert(v == pv, s"user $u hour $h filled value $v != prev $pv")
      }
    }
    assert(rows.exists(_._3), "no filled hours — grid degenerate")
  }

  test("curationFunnel: stages shrink monotonically and ingest matches a direct recompute") {
    val rows = text.TextOps.curationFunnel(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq ==
      Seq("0_ingest", "1_quality", "2_exact_dedup", "3_decontaminated"))
    val docs = rows.map(_._2)
    val toks = rows.map(_._3)
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b }, "docs not monotone")
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b }, "tokens not monotone")
    rows.foreach { case (_, n, _, frac) =>
      assert(math.abs(frac - n.toDouble / docs.head) < 1e-5)
    }
    val expect = Tables.documents(spark, sf)
      .filter(col("source") =!= "src0").count()
    assert(docs.head == expect, s"ingest ${docs.head} != train corpus $expect")
    assert(docs.last > 0, "funnel emptied the corpus")
    assert(docs.last < docs.head, "no stage filtered anything")
  }

  test("tokenFertility: fertility >= 1 (BPE never merges across whitespace) and bounded") {
    val rows = text.TextOps.tokenFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSet == Set("de", "en", "es", "fr", "zh"))
    rows.foreach { case (lang, n, fert, meanFert) =>
      assert(n > 0)
      assert(fert >= 1.0 && fert < 10.0, s"$lang corpus fertility $fert out of range")
      assert(meanFert >= 1.0 && meanFert < 10.0, s"$lang mean fertility $meanFert")
    }
  }

  test("dupNgramFraction matches a string-keyed recompute (hash is invisible)") {
    val out = text.TextOps.dupNgramFraction(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // independent recompute carrying the gram STRINGS end to end — any
    // xxhash64 collision or slice/window slip in the engine path shows
    val toks = Tables.documents(spark, sf).select(col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
    val grams = toks.filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 7), i -> array_join(slice(ws, i, 8), ' '))")).as("g"))
      .distinct()
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val exp = grams.join(freq, "g").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), count(when(col("df") >= 2, lit(1))).as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out.foreach { case (id, (n, d, f)) =>
      val (en, ed) = exp.getOrElse(id, (0L, 0L))
      assert(n == en && d == ed, s"doc $id: got ($n,$d) expected ($en,$ed)")
      assert(f >= 0.0 && f <= 1.0)
    }
    assert(out.values.exists(_._2 > 0), "corpus should contain cross-doc dup 8-grams")
  }

  test("sourceMixWeights: probabilities sum to 1 and temperature flattens") {
    val rows = text.TextOps.sourceMixWeights(spark, sf)
      .select(col("n_tokens"), col("p_mix"), col("resample_factor"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-3, "p_mix must sum to 1")
    val smallest = rows.minBy(_._1)
    val largest = rows.maxBy(_._1)
    // α < 1 upsamples small sources relative to large ones
    assert(smallest._3 > largest._3,
      s"smallest source factor ${smallest._3} not above largest ${largest._3}")
  }

  test("filterDecision: keep iff no reasons; gates agree with their source ops") {
    val fd = text.TextOps.filterDecision(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
    assert(fd.nonEmpty)
    fd.foreach { case (id, keep, reasons) =>
      assert(keep == reasons.isEmpty, s"doc $id: keep=$keep but reasons='$reasons'")
    }
    // the contamination gate must be exactly the decontaminate op's verdict
    val contamOp = dedup.Dedup.decontaminate(spark, sf)
      .filter(col("contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val contamFd = fd.filter(_._3.split(",").contains("contaminated")).map(_._1).toSet
    assert(contamFd == contamOp, "contaminated gate disagrees with decontaminate")
    // every exact_dup loser has a smaller-id doc with identical normalized text
    val norm = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(api.Similarity.normalizeText(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val minByHash = norm.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val hashOf = norm.toMap
    fd.filter(_._3.split(",").contains("exact_dup")).foreach { case (id, _, _) =>
      assert(minByHash(hashOf(id)) < id, s"doc $id flagged exact_dup but is the keeper")
    }
  }

  test("mixResample: max-factor source keeps everything, rates anti-monotone in size") {
    val rates = text.TextOps.mixResample(spark, sf)
      .groupBy(col("source")).agg(max(col("rate")).as("rate"), count(lit(1)).as("n"),
        sum(when(col("keep"), 1).otherwise(0)).as("kept"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(rates.exists(_._2 == 1.0), "some source must realize rate 1.0 (the max factor)")
    // α < 1 ⇒ smaller sources get higher keep rates (anti-monotone)
    val toks = text.TextOps.sourceMixWeights(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sorted = rates.sortBy(r => toks(r._1))
    sorted.sliding(2).foreach { case Array((sa, ra, _, _), (sb, rb, _, _)) =>
      assert(ra >= rb, s"rate must not increase with size: $sa=$ra < $sb=$rb")
    case _ => ()
    }
  }

  test("perplexityBuckets: balanced terciles per lang, head outscores tail") {
    val rows = text.TextOps.perplexityBuckets(spark, sf)
      .select(col("lang"), col("bucket"), col("lm_score")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val perLang = rows.groupBy(_._1)
    perLang.foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_._2).view.mapValues(_.size)
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$lang terciles unbalanced: $sizes")
      val mean = (b: String) => { val xs = rs.filter(_._2 == b).map(_._3); xs.sum / xs.size }
      assert(mean("head") > mean("tail"),
        s"$lang head ${mean("head")} not above tail ${mean("tail")}")
    }
  }

  test("ngramDiversity ratios are valid and bigrams are rarer-repeated than words") {
    val rows = text.TextOps.ngramDiversity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, v, ttr) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val (nb, vb, ttrB) = (r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(v <= n && vb <= nb, "distinct cannot exceed total")
      assert(ttr > 0 && ttr <= 1 && ttrB > 0 && ttrB <= 1)
      // bigram space is larger → strictly more diverse than unigrams
      // on natural text (equality only under pathological repetition)
      assert(ttrB >= ttr, s"bigram TTR $ttrB below word TTR $ttr")
    }
  }

  test("eventDebounce and activeTimeUnion: bounds and segment accounting hold") {
    val db = core.Sessions.eventDebounce(spark, sf).collect()
    assert(db.nonEmpty)
    db.foreach { r =>
      val raw = r.getAs[Long]("n_raw"); val kept = r.getAs[Long]("n_kept")
      assert(kept >= 1 && kept <= raw, s"kept $kept outside [1, $raw]")
    }
    val WinUs = 1800L * 1000 * 1000
    val au = core.Sessions.activeTimeUnion(spark, sf).collect()
    assert(au.nonEmpty)
    au.foreach { r =>
      val n = r.getAs[Long]("n_events"); val seg = r.getAs[Long]("n_segments")
      val act = r.getAs[Long]("active_us")
      assert(seg >= 1 && seg <= n)
      // each segment covers at least one window; total cannot exceed
      // one window per event
      assert(act >= seg * WinUs && act <= n * WinUs,
        s"active $act outside [${seg * WinUs}, ${n * WinUs}]")
    }
  }

  test("mahalanobisOutliers and joinKeySkew: structural invariants") {
    val mo = ml.Reduce.mahalanobisOutliers(spark, sf).collect()
    assert(mo.length == 500)
    mo.foreach { r =>
      val md2 = r.getAs[Double]("md2")
      assert(md2 >= 0.0)
      assert(r.getAs[Boolean]("outlier") == (md2 > 93.2168) ||
        math.abs(md2 - 93.2168) < 1e-3, "flag inconsistent with cut")
    }
    // E[md²] = d for the label's own fit; the sample estimate must sit
    // in the right decade
    val mean = mo.map(_.getAs[Double]("md2")).sum / mo.length
    assert(mean > 32 && mean < 128, s"mean md2 $mean far from dim count 64")

    val ks = core.Relational.joinKeySkew(spark, sf).collect()
    assert(ks.length == 4)
    ks.foreach { r =>
      val share = r.getAs[Double]("top10_share")
      assert(share > 0.0 && share <= 1.0)
      assert(r.getAs[Double]("max_over_avg") >= 1.0 - 1e-9)
      assert(r.getAs[Double]("p99_cnt") >= r.getAs[Double]("p50_cnt"))
      assert(r.getAs[Long]("max_cnt") >= r.getAs[Double]("p99_cnt").toLong)
    }
  }

  test("cusumShift and abcAnalysis: structural invariants") {
    val cs = core.Sessions.cusumShift(spark, sf).collect()
    assert(cs.nonEmpty)
    cs.foreach { r =>
      assert(r.getAs[Double]("shift_stat") >= 0.0)
      assert(r.getAs[Long]("n_buckets") >= 1L)
    }
    val abc = core.Relational.abcAnalysis(spark, sf).collect()
    assert(abc.nonEmpty)
    // classes partition by cumulative share: every A share below every
    // C share; ranks are a permutation of 1..n; shares end at 1
    val shares = abc.map(r => (r.getAs[String]("abc_class"), r.getAs[Double]("cum_share")))
    val aMax = shares.collect { case ("A", x) => x }.maxOption.getOrElse(0.0)
    val cMin = shares.collect { case ("C", x) => x }.minOption.getOrElse(1.0)
    assert(aMax <= 0.80 + 1e-9 && cMin > 0.95 - 1e-9)
    assert(math.abs(shares.map(_._2).max - 1.0) < 1e-6, "cumulative share must end at 1")
    val ranks = abc.map(_.getAs[Long]("rev_rank")).sorted
    assert(ranks.head == 1L && ranks.last == abc.length &&
      ranks.distinct.length == abc.length, "ranks not a permutation")
  }

  test("medianPolish: additive identity exact, residual medians centered after 2 sweeps") {
    val mp = sc.BulkQc.medianPolish(spark, sf)
    val rows = mp.collect()
    assert(rows.nonEmpty)
    // complete grid: |genes| × |samples| cells
    val genes = rows.map(_.getAs[Long]("gene")).distinct.length
    val samples = rows.map(_.getAs[String]("sample")).distinct.length
    assert(rows.length == genes * samples, "grid not complete")
    // decomposition is exact: cnt = overall + row_eff + col_eff + resid
    // (all values are dyadic rationals — no fp drift)
    rows.foreach { r =>
      val recon = r.getAs[Double]("overall") + r.getAs[Double]("row_eff") +
        r.getAs[Double]("col_eff") + r.getAs[Double]("resid")
      assert(math.abs(recon - r.getAs[Double]("cnt")) < 1e-9,
        s"identity broken at (${r.get(0)}, ${r.get(1)})")
    }
    // after the final row sweep each gene's residual median is ~0 (the
    // subsequent column sweep can only perturb it by a shared shift)
    val byGene = rows.groupBy(_.getAs[Long]("gene")).values
    val med = (xs: Array[Double]) => {
      val s = xs.sorted; (s((s.length - 1) / 2) + s(s.length / 2)) / 2.0 }
    val geneMeds = byGene.map(g => math.abs(med(g.map(_.getAs[Double]("resid")))))
    val cntMeds = byGene.map(g => math.abs(med(g.map(_.getAs[Double]("cnt")))))
    assert(geneMeds.max <= cntMeds.max / 10.0,
      "row medians of residuals not reduced by the polish")
  }

  test("lDiversity and tCloseness: privacy-audit invariants vs a direct recompute") {
    val cust = Tables.customer(spark, sf)
      .select(org.apache.spark.sql.functions.col("c_nationkey"),
        org.apache.spark.sql.functions.floor(
          org.apache.spark.sql.functions.col("c_acctbal") / 1000).cast("long").as("bal_band"),
        org.apache.spark.sql.functions.col("c_mktsegment"))
      .collect()
      .map(r => (r.getInt(0).toLong, r.getAs[Long]("bal_band"), r.getAs[String]("c_mktsegment")))
    val byClass = cust.groupBy(t => (t._1, t._2))
    val ld = core.Relational.lDiversity(spark, sf).collect()
    assert(ld.length == byClass.size, "one row per QI class")
    ld.foreach { r =>
      val key = (r.getInt(0).toLong, r.getAs[Long]("bal_band"))
      val members = byClass(key)
      val distinct = members.map(_._3).distinct.length.toLong
      assert(r.getAs[Long]("class_size") == members.length.toLong)
      assert(r.getAs[Long]("l_distinct") == distinct)
      assert(r.getAs[Boolean]("at_risk") == (distinct < 3))
      val el = r.getAs[Double]("entropy_l")
      // entropy-l is bounded by distinct-l (uniform mix) and >= 1
      assert(el >= 1.0 - 1e-9 && el <= distinct + 1e-6, s"entropy_l $el out of [1, $distinct]")
    }
    val n = cust.length.toDouble
    val pg = cust.groupBy(_._3).map { case (s, xs) => s -> xs.length / n }
    val tc = core.Relational.tCloseness(spark, sf).collect()
    assert(tc.length == byClass.size)
    tc.foreach { r =>
      val key = (r.getInt(0).toLong, r.getAs[Long]("bal_band"))
      val members = byClass(key)
      val cs = members.length.toDouble
      val pc = members.groupBy(_._3).map { case (s, xs) => s -> xs.length / cs }
      val t = pg.map { case (s, p) => math.abs(pc.getOrElse(s, 0.0) - p) }.sum / 2
      assert(math.abs(r.getAs[Double]("t_distance") - t) < 1e-5,
        s"t-distance mismatch at $key: got ${r.getAs[Double]("t_distance")}, want $t")
      assert(r.getAs[Double]("t_distance") >= -1e-9 && r.getAs[Double]("t_distance") <= 1.0 + 1e-9)
      assert(r.getAs[Boolean]("at_risk") == (r.getAs[Double]("t_distance") > 0.4))
    }
  }

  test("holtTrend replays the level/trend recursion exactly") {
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), expr("ts_ns div 86400000000000").as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day"), r.getAs[Long]("x")))
      .groupBy(_._1).map { case (t, xs) => t -> xs.sortBy(_._2).map(_._3.toDouble) }
    val ht = core.Sessions.holtTrend(spark, sf).collect()
    assert(ht.length == daily.size)
    ht.foreach { r =>
      val ys = daily(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_days") == ys.length.toLong)
      var l = ys(0); var b = ys(1) - ys(0)
      ys.drop(1).foreach { y =>
        val l2 = 0.5 * y + 0.5 * (l + b)
        b = 0.3 * (l2 - l) + 0.7 * b; l = l2
      }
      assert(math.abs(r.getAs[Double]("level") - l) < 1e-5, s"level ${r.getAs[Double]("level")} vs $l")
      assert(math.abs(r.getAs[Double]("trend") - b) < 1e-5)
      assert(math.abs(r.getAs[Double]("forecast_next") - (l + b)) < 1e-5)
    }
  }

  test("kneserNeyScore: valid log-probs and the per-context distribution sums to 1") {
    import org.apache.spark.sql.functions._
    val kn = text.Classify.kneserNeyScore(spark, sf).collect()
    assert(kn.nonEmpty)
    kn.foreach { r =>
      assert(r.getAs[Double]("kn_score") < 0.0, "mean log-prob of a <1 probability must be negative")
      assert(r.getAs[Long]("n_bigrams") >= 1L)
    }
    // the smoothing identity: for every context w1, Σ_w2 P_KN(w2|w1) = 1
    val pairs = Tables.documents(spark, sf)
      .select(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
      .collect().map(_.getSeq[String](0)).filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.tail))
    val c12 = pairs.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val nl = c12.groupBy(_._1._1).map { case (w, m) => w -> m.size }
    val nr = c12.groupBy(_._1._2).map { case (w, m) => w -> m.size }
    val nb = c12.size.toDouble
    val d = 0.75
    c1.keys.take(20).foreach { w1 =>
      val cont = c12.collect { case ((a, b), c) if a == w1 => (b, c) }
      val pSeen = cont.map { case (w2, c) =>
        math.max(c - d, 0.0) / c1(w1) + d * nl(w1) / c1(w1) * (nr(w2) / nb) }.sum
      val pUnseen = nr.keys.toSeq.filterNot(w2 => c12.contains((w1, w2)))
        .map(w2 => d * nl(w1) / c1(w1) * (nr(w2) / nb)).sum
      assert(math.abs(pSeen + pUnseen - 1.0) < 1e-9,
        s"P(.|$w1) sums to ${pSeen + pUnseen}, not 1")
    }
  }

  test("readability and blocklistFilter and oovRate: formula and count recomputes") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rd = text.TextOps.readability(spark, sf).collect()
    assert(rd.length == docs.size)
    rd.take(50).foreach { r =>
      val t = docs(r.getLong(0))
      val chars = t.count(_.isLetterOrDigit).toDouble
      val words = math.max(t.split("\\s+").count(_.nonEmpty), 1).toDouble
      val sents = math.max("[.!?]+".r.findAllIn(t).length, 1).toDouble
      assert(r.getAs[Long]("n_sentences") >= 1L)
      val ari = 4.71 * (chars / words) + 0.5 * (words / sents) - 21.43
      assert(math.abs(r.getAs[Double]("ari") - ari) < 1e-5, s"ari at doc ${r.getLong(0)}")
      // CLI is letters-only (r12 ADVICE): digits count for ARI, not L
      val letters = t.count(_.isLetter).toDouble
      val cli = 5.88 * (letters / words) - 29.6 * (sents / words) - 15.8
      assert(r.getAs[Long]("n_letters") == letters.toLong)
      assert(math.abs(r.getAs[Double]("coleman_liau") - cli) < 1e-5,
        s"cli at doc ${r.getLong(0)}")
    }
    val bl = text.TextOps.blocklistFilter(spark, sf).collect()
    val terms = Set("slow", "big", "merge", "spam")
    bl.take(50).foreach { r =>
      val ws = "[a-z0-9]+".r.findAllIn(docs(r.getLong(0)).toLowerCase).toSeq
      val hits = ws.count(terms)
      assert(r.getAs[Long]("n_hits") == hits.toLong)
      assert(r.getAs[Long]("n_terms_hit") == ws.distinct.count(terms).toLong)
      assert(r.getAs[Boolean]("blocked") == (hits >= 3))
    }
    assert(bl.exists(_.getAs[Boolean]("blocked")) && bl.exists(!_.getAs[Boolean]("blocked")),
      "test corpus must exercise both block branches")
    val ov = text.TextOps.oovRate(spark, sf).collect()
    val corpus = docs.values.flatMap(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase)).toSeq
    val vocab = corpus.groupBy(identity).map { case (w, xs) => (w, xs.length) }.toSeq
      .sortBy { case (w, c) => (-c, w) }.take(20).map(_._1).toSet
    ov.take(50).foreach { r =>
      val ws = "[a-z0-9]+".r.findAllIn(docs(r.getLong(0)).toLowerCase).toSeq
      assert(r.getAs[Long]("n_tokens") == ws.length.toLong)
      assert(r.getAs[Long]("oov_tokens") == ws.count(w => !vocab(w)).toLong)
      val rate = r.getAs[Double]("oov_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    assert(ov.exists(_.getAs[Double]("oov_rate") > 0.0), "top-20 vocab must leave some OOV mass")
  }
}
