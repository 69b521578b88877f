package graft

import org.apache.spark.sql.Row

/** Semantics of the probabilistic dedup paths against the exact
  * inverted-index Jaccard (the oracle-checked path). */
class DedupSpec extends SparkSpecBase {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").collect().map { case Row(a: Long, b: Long) => (a, b) }.toSet

  lazy val exact: Set[(Long, Long)] = pairs(dedup.Dedup.dedupNgramJaccard(spark, sf))

  test("minhash LSH recovers exactly the verified near-dup pairs") {
    val lsh = pairs(dedup.Dedup.dedupMinhashLsh(spark, sf))
    // candidates are verified with TRUE Jaccard, so lsh ⊆ exact always;
    // with 16 bands × 4 rows, P(miss | J≥0.7) < 2%, and the planted
    // pairs are J≥0.9 (P(miss) ≈ 2e-8) — equality is the expectation.
    assert(lsh.subsetOf(exact), s"LSH produced non-verified pairs: ${lsh -- exact}")
    assert(lsh == exact, s"LSH missed pairs: ${exact -- lsh}")
  }

  test("simhash pairs are genuinely similar at the word level (its actual signal)") {
    import org.apache.spark.sql.functions._
    val sim = pairs(dedup.Dedup.dedupSimhash(spark, sf))
    assert(sim.nonEmpty, "simhash should find the planted near-dups")
    // simhash votes over word occurrences, so its similarity statement is
    // word-multiset overlap — verify every reported pair with exact
    // word-set Jaccard (not the 5-gram shingle Jaccard, which penalizes
    // word-order changes that simhash is intentionally blind to).
    val words = Tables.documents(spark, sf)
      .select(col("doc_id"),
        expr("array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0))").as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    // hamming ≤ 3 bounds tf-vector cosine, which only loosely bounds
    // set-Jaccard — 0.6 is the empirical floor that separates genuine
    // near-dups from random same-vocab pairs in this corpus (~0.3).
    sim.foreach { case (a, b) =>
      val j = words(a).intersect(words(b)).size.toDouble / words(a).union(words(b)).size
      assert(j >= 0.6, s"simhash pair ($a,$b) has word-Jaccard $j < 0.6")
    }
  }

  test("connected components resolves chains to the minimum vertex") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two components: a 4-chain {1-2, 2-3, 3-4} and a pair {10-11}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("d1", "d2")
    val comp = api.Similarity.connectedComponents(pairs, col("d1"), col("d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("star-fed components (the benched scale twin) match the exact-pair components") {
    // r13: dedupComponentsLsh feeds on bucket-STAR edges (Θ(Σc) output)
    // instead of the pair list (Θ(Σc²)); components must still equal the
    // exact inverted-index path's — deterministic on this corpus (fixed
    // hash seeds, clusters pairwise ≥ t so every hub edge verifies).
    def comps(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("vertex", "component").collect()
        .map { case Row(v: Long, c: Long) => v -> c }.toMap
    assert(comps(dedup.Dedup.dedupComponentsLsh(spark, sf)) ==
      comps(dedup.Dedup.dedupComponents(spark, sf)))
  }

  test("star edges: subset of verified pairs, hub-oriented, and linear in cluster mass") {
    import org.apache.spark.sql.functions.col
    val star = api.Similarity.nearDupStarEdgesLsh(
        Tables.documents(spark, sf), col("doc_id"), col("text"), threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every star edge is a true verified near-dup pair (edges ⊆ exact)
    assert(star.subsetOf(exact), s"unverified star edges: ${star -- exact}")
    assert(star.forall { case (a, b) => a < b }, "hub orientation d1 < d2 violated")
    // Θ(Σc) not Θ(Σc²): per component of size c the star feed carries at
    // most (c−1)·bands edges pre-dedup but ≤ c·(c−1)/2 post-verification;
    // on this corpus's verbatim clusters it must be ≤ the pair count and
    // ≥ the spanning minimum (c−1 per cluster — connectivity)
    val comp = dedup.Dedup.dedupComponents(spark, sf)
      .select("vertex", "component").collect()
      .map { case Row(v: Long, c: Long) => v -> c }.toMap
    val bySize = comp.groupBy(_._2).map(_._2.size)
    val spanMin = bySize.map(_ - 1).sum
    val pairMax = bySize.map(c => c.toLong * (c - 1) / 2).sum
    assert(star.size >= spanMin && star.size <= pairMax,
      s"star edge count ${star.size} outside [$spanMin, $pairMax]")
  }

  test("borderline chain: star components REFINE exact components, never merge across") {
    // r13 ADVICE: on a chain a—b—c with both adjacent Jaccards >= t but
    // J(a,c) < t, a hub edge can fail verification a non-hub pair would
    // pass — the star feed may SPLIT such a component but must never
    // over-merge. Construct exactly that chain and pin the refinement
    // property (the safety half of the star contract; the oracle
    // binding at gate SFs doubles as the recall canary for the rest).
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorFunctions.{charShingles, jaccardSim}
    val base = ("the quick brown fox jumps over the lazy dog while seventeen "
      + "green bottles hang on the wall and the rain in spain falls mainly "
      + "on the plain near the old mill by the river bend today as four "
      + "silver clouds drift slowly past the tall white tower where nine "
      + "small birds sing their morning song to wake the sleeping village")
    val a = "zzz qqq xxx vvv kkk www jjj uuu ppp yyy " + base.drop(40)
    val b = base
    val c = base.dropRight(40) + " fff ggg hhh mmm nnn rrr sss ttt lll bbb"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    // the construction must actually be a borderline chain
    val j = docs.as("x").crossJoin(docs.as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        jaccardSim(charShingles(api.Similarity.normalizeText(col("x.text")), 5),
          charShingles(api.Similarity.normalizeText(col("y.text")), 5)).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) >= 0.7 && j((2L, 3L)) >= 0.7 && j((1L, 3L)) < 0.7,
      s"construction is not a borderline chain: $j")
    val star = api.Similarity.nearDupStarEdgesLsh(
      docs, col("doc_id"), col("text"), threshold = 0.7)
    val starComp = api.Similarity.connectedComponents(star, col("d1"), col("d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact components: the chain is ONE component rooted at 1
    // refinement: every star component sits inside one exact component
    // (here: any partition of {1,2,3} is a refinement EXCEPT one that
    // merges while excluding the middle — impossible — so the real
    // assertion is that emitted star edges are verified true pairs)
    val edges = star.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    edges.foreach { case (d1, d2) =>
      assert(j((math.min(d1, d2), math.max(d1, d2))) >= 0.7,
        s"star edge ($d1,$d2) is not a verified >= t pair")
    }
    // and vertices never land in a component outside their exact one
    starComp.foreach { case (v, comp) =>
      assert(Set(1L, 2L, 3L).contains(v) && Set(1L, 2L, 3L).contains(comp))
    }
  }

  test("consumer rule: linear-output dedup consumers feed on star edges, never the pair list") {
    // SURVEY §5 consumer rule (r13 verdict item 9): pair-list outputs
    // are Θ(Σ cluster²) and must never feed a linear-output consumer.
    // Guard the one place that regressed before: the components feed.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/dedup/Dedup.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val at = src.indexOf("def dedupComponentsLsh")
    assert(at > 0)
    val body = src.substring(at, src.indexOf("def ", at + 10) match {
      case -1 => src.length; case n => n })
    assert(body.contains("nearDupStarEdgesLsh"),
      "dedupComponentsLsh must feed on bucket-star edges")
    assert(!body.contains("nearDupPairsLsh") && !body.contains("dedupMinhashLsh"),
      "dedupComponentsLsh must not consume a pair-list output")
  }

  test("exact dedup groups every doc exactly once") {
    val g = dedup.Dedup.dedupExact(spark, sf)
    val total = g.selectExpr("sum(n_docs)").collect()(0).getLong(0)
    val docs = Tables.documents(spark, sf).count()
    assert(total == docs)
  }

  test("semanticDedup: planted near-copy loses to its more-central twin; " +
      "every bucket keeps its least-central member") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val base = (1L to 200L).map(i =>
      (i, Array.fill(16)(rnd.nextDouble() - 0.5)))
    // 1001 is a near-copy of vector 1 (same direction, tiny jitter):
    // same sign bucket, cosine ≈ 1 — exactly one of the pair survives
    val twin = (1001L, base.head._2.map(x => x * 1.01 + 1e-9))
    val df = (base :+ twin).toDF("vec_id", "embedding")
    val out = api.Similarity.semanticDedup(
      df, col("vec_id"), col("embedding"), eps = 0.95)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == 201)
    val pair = rows.filter(r => r._1 == 1L || r._1 == 1001L)
    assert(pair.map(_._2).distinct.length == 1, "twin not in the same bucket")
    assert(pair.count(_._4) == 1, s"expected exactly one of the twin pair kept: $pair")
    // the survivor is the one LESS similar to the bucket centroid
    assert(pair.minBy(r => (r._3, r._1))._4, "keeper is not the least-central twin")
    // the least-central member of every bucket has no earlier member
    // to lose against, so it always survives
    rows.groupBy(_._2).foreach { case (b, members) =>
      assert(members.minBy(r => (r._3, r._1))._4,
        s"bucket $b dropped its least-central member")
    }
  }

  test("incremental dedup: verdict algebra holds and exact dups really exist upstream") {
    import org.apache.spark.sql.functions._
    val rows = dedup.Dedup.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getDouble(3), r.getBoolean(4)))
    val nIncoming = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(5)) === 4).count()
    assert(rows.length == nIncoming, "one verdict row per incoming doc")
    rows.foreach { case (d, ex, near, mj, keep) =>
      assert(keep == !(ex || near), s"doc $d verdict algebra broken")
      // max_jaccard is defined over VERIFIED dup pairs (>= 0.7) only
      if (near) assert(mj >= 0.7, s"doc $d near-dup with max_jaccard $mj")
      else assert(mj == 0.0, s"doc $d not near-dup but max_jaccard $mj")
    }
    // recompute exact-dup ground truth on collected normalized text
    val norm = Tables.documents(spark, sf)
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), lit("\\s+"), lit(" "))).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val existingTexts = norm.collect { case (d, t) if d % 5 != 4 => t }.toSet
    val flagged = rows.filter(_._2).map(_._1).toSet
    val expect = norm.collect {
      case (d, t) if d % 5 == 4 && existingTexts.contains(t) => d }.toSet
    assert(flagged == expect, s"exact-dup sets differ: ${flagged.diff(expect)} / ${expect.diff(flagged)}")
  }

  test("minhash calibration: binomial error bound holds, banding recalls all true pairs") {
    val rows = dedup.Dedup.minhashCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty, "no banding candidates at this SF")
    rows.foreach { case (d1, d2, est, tj, err) =>
      assert(math.abs(err - math.abs(est - tj)) < 1e-5)
      // est ~ Binomial(64, j)/64: 5 sigma = 5*sqrt(j(1-j)/64) <= 0.3125
      assert(err <= 0.35, s"pair ($d1,$d2) est $est vs true $tj: err $err")
    }
    // every exact near-dup pair (>= 0.7) must appear as a candidate
    val candSet = rows.map(r => (r._1, r._2)).toSet
    val truePairs = dedup.Dedup.dedupNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    truePairs.foreach { p =>
      assert(candSet.contains(p), s"true pair $p missed by banding")
    }
  }

  test("winnowing density sits inside the Schleimer bounds") {
    val rows = dedup.Dedup.winnowFingerprints(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.filter(_.getLong(1) >= 50).foreach { r => // bounds are asymptotic — skip tiny docs
      val density = r.getDouble(3)
      // w=4: expected 2/(w+1) = 0.4; hard lower bound 1/w = 0.25 can be
      // beaten only through DISTINCT collapsing repeated fingerprints,
      // so allow repetition-heavy docs to undershoot, and cap above by
      // the per-window-max 1.0
      assert(density > 0.0 && density <= 1.0, s"doc ${r.getLong(0)} density $density")
    }
    // corpus-level: the mean density of long docs should track 2/(w+1)
    val longs = rows.filter(_.getLong(1) >= 200).map(_.getDouble(3))
    val mean = longs.sum / longs.length
    assert(mean > 0.1 && mean < 0.6, s"mean winnow density $mean far from 2/(w+1)=0.4")
  }

  test("winnowing detects most known near-duplicate pairs") {
    val winnow = dedup.Dedup.winnowDupPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the raw winnowing guarantee (every shared run >= w+n-1 chars
    // shares a fingerprint) is weakened by the df<=50 stop-fingerprint
    // cap: pairs inside 50+-doc duplicate clusters can lose ALL their
    // shared fingerprints to the cap — by design (MOSS drops boilerplate
    // matches too). So pin high recall, not totality.
    val truePairs = dedup.Dedup.dedupNgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(truePairs.nonEmpty)
    val recall = truePairs.count(winnow.contains).toDouble / truePairs.length
    assert(recall >= 0.6, s"winnow recall of J>=0.7 pairs = $recall")
    winnow.foreach { case (d1, d2) => assert(d1 < d2) }
  }

  test("quality keeper: exactly one keeper per cluster, and it is the best member") {
    val rows = dedup.Dedup.dedupKeeperQuality(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.groupBy(_._2).foreach { case (comp, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, s"cluster $comp has ${keepers.length} keepers")
      val best = members.minBy(m => (-m._3, m._1))
      assert(keepers.head._1 == best._1,
        s"cluster $comp kept ${keepers.head._1}, best is ${best._1}")
    }
  }

  test("passJoin is EXACT: equals brute-force levenshtein join on an adversarial set") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic adversarial corpus: tiny alphabet (forced segment
    // collisions), lengths 0..12 (exercises the short bucket and every
    // segment-layout remainder), planted 1- and 2-edit neighbors
    val rnd = new scala.util.Random(42)
    val alpha = "abc"
    def rs(n: Int): String = (1 to n).map(_ => alpha(rnd.nextInt(3))).mkString
    val baseStrs = (1 to 120).map(_ => rs(rnd.nextInt(13)))
    val edited = baseStrs.take(60).map { s0 =>
      var s = s0
      (1 to (1 + rnd.nextInt(2))).foreach { _ =>
        val op = rnd.nextInt(3)
        val p = if (s.isEmpty) 0 else rnd.nextInt(s.length)
        s = op match {
          case 0 if s.nonEmpty => s.updated(p, alpha(rnd.nextInt(3))) // sub
          case 1 => s.patch(p, Seq(alpha(rnd.nextInt(3))), 0).mkString // ins
          case _ if s.nonEmpty => s.patch(p, Nil, 1).mkString // del
          case _ => s
        }
      }
      s
    }
    val all = (baseStrs ++ edited).zipWithIndex
      .map { case (s, i) => (i.toLong, (i % 2).toString, s) }
    val df = all.toDF("sid", "blk", "s")
    val got = api.Similarity.passJoinPairs(df, col("sid"), col("s"), Seq("blk"), tau = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // reference: full quadratic join + Spark's own (unbounded) levenshtein
    val ref = df.as("a").join(df.as("b"),
        col("a.blk") === col("b.blk") && col("a.sid") < col("b.sid"))
      .select(col("a.sid"), col("b.sid"),
        levenshtein(col("a.s"), col("b.s")).as("d"))
      .filter(col("d") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2).toLong).toMap
    assert(ref.nonEmpty, "adversarial set produced no reference pairs — test is vacuous")
    val byId = all.map { case (i, _, s) => i -> s }.toMap
    assert(ref.keySet.exists { case (a, b) =>
      byId(a).length < 3 || byId(b).length < 3
    }, "no short-bucket pair exercised — test lost its edge-case coverage")
    val missed = ref.keySet -- got.keySet
    val extra = got.keySet -- ref.keySet
    assert(missed.isEmpty, s"passJoin MISSED ${missed.size} true pairs: ${missed.take(5)}")
    assert(extra.isEmpty, s"passJoin emitted ${extra.size} false pairs: ${extra.take(5)}")
    got.foreach { case (p, d) =>
      assert(d == ref(p), s"pair $p: passJoin dist $d != reference ${ref(p)}")
    }
  }

  test("JaroWinklerSim reproduces DuckDB's kernel on the probed pin set") {
    // Every expected value below is a PROBED DuckDB
    // jaro_winkler_similarity output (see the expression scaladoc) —
    // this is the contract the jaro_winkler_pairs oracle hash-checks:
    // textbook window, FLOORED transposition halves, 0.7 boost
    // threshold, 0.0 for any empty side.
    val pins = Seq(
      ("martha", "marhta") -> 0.9611111111111111, // classic; prefix 3
      ("dwayne", "duane") -> 0.8400000000000001,
      ("abcde", "abced") -> 0.9533333333333333, // adjacent transposition
      ("abcxxx", "bcaxxx") -> 0.9444444444444445, // trans=3 FLOORS to 1; zero prefix
      ("abcdefgh", "abzzzzzz") -> 0.5, // jaro .5 <= .7: boost suppressed
      ("crate", "trace") -> 0.7333333333333334, // > .7 but zero prefix
      ("aaa", "aa") -> 0.9111111111111111, // window 0: same-index only
      ("ba", "ab") -> 0.0, // window 0, no aligned match
      ("same", "same") -> 1.0,
      ("", "") -> 0.0, // DuckDB convention, NOT rapidfuzz's 1.0
      ("a", "") -> 0.0)
    for (((a, b), want) <- pins) {
      val got = graft.functions.JaroWinklerSim.compute(a, b)
      assert(got == want, s"compute($a, $b) = $got, want $want")
      assert(got == graft.functions.JaroWinklerSim.compute(b, a),
        s"JW must be symmetric on ($a, $b)")
    }
    // the Column path (codegen) agrees with the static kernel
    import spark.implicits._
    val df = pins.map { case ((a, b), w) => (a, b, w) }.toDF("a", "b", "want")
      .withColumn("got", graft.functions.VectorFunctions
        .jaroWinklerSim(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")))
    df.collect().foreach { r =>
      assert(r.getDouble(3) == r.getDouble(2),
        s"codegen path diverges on (${r.getString(0)}, ${r.getString(1)})")
    }
  }

  test("one-perm minhash signature matches a driver replay of bucketing + densification") {
    import org.apache.spark.sql.functions.{col, lower}
    import org.apache.spark.unsafe.types.UTF8String
    val df = Tables.documents(spark, sf).limit(25)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.charShingles(lower(col("text")), 5).as("sh"),
        graft.functions.VectorFunctions.ophMinhashSig(
          graft.functions.VectorFunctions.charShingles(lower(col("text")), 5)).as("sig"))
    df.collect().foreach { r =>
      val sh = r.getSeq[String](1)
      val sig = Array.fill(64)(Long.MaxValue)
      val present = new Array[Boolean](64)
      sh.foreach { g =>
        val h = graft.functions.HyperplaneBucket.mix64(
          graft.functions.MinHashSigText.fnv1a64(UTF8String.fromString(g)))
        val b = (h >>> 58).toInt
        if (!present(b) || h < sig(b)) { sig(b) = h; present(b) = true }
      }
      (0 until 64).foreach { j =>
        if (!present(j)) {
          var t = 1
          var done = false
          while (t < 64 && !done) {
            val src = (j + t) & 63
            if (present(src)) { sig(j) = sig(src) + t; done = true }
            t += 1
          }
        }
      }
      assert(r.getSeq[Long](2) == sig.toSeq,
        s"OPH signature diverges from the replay at doc ${r.getLong(0)}")
      assert(present.exists(identity), "a nonempty doc must fill at least one bucket")
    }
  }

  test("OPH minhash calibration: estimator valid, exact duplicates estimate 1") {
    val rows = dedup.Dedup.minhashOphCalibration(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Double]("est_jaccard")
      val tj = r.getAs[Double]("true_jaccard")
      assert(est >= 0.0 && est <= 1.0 && tj >= 0.0 && tj <= 1.0)
      assert(math.abs(r.getAs[Double]("abs_err") - math.abs(est - tj)) < 2e-6)
      assert(math.abs(est * 64 - math.round(est * 64)) < 1e-4, s"est $est must be k/64")
      if (tj >= 0.999) assert(est >= 0.999,
        s"identical shingle sets must produce identical signatures (${r.getLong(0)}, ${r.getLong(1)})")
    }
    val mae = rows.map(_.getAs[Double]("abs_err")).sum / rows.length
    assert(mae < 0.15, f"mean abs err $mae%.4f too high for a 64-slot OPH estimator")
  }

  /** `documents` (doc_id, text) written to a fresh temp dir. */
  private def documentsDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dedup-fixture").toString
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def jaccardRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.select("d1", "d2", "jaccard").collect()
      .map { case Row(a: Long, b: Long, j: Double) => (a, b, j) }.toSeq.sorted

  test("prefix join equals the exact inverted index on boundary cases") {
    // x and g hold only distinct characters, so every 5-gram of a slice
    // is distinct and the overlaps below are exact by construction
    val x = "abcdefghijklmnopqrstuvwxy"
    val g = "αβγδεζηθικλμνξοπρστυφχψω"
    val fox = "the quick brown fox jumps over the lazy dog near the river bank"
    val dir = documentsDir(Seq(
      // identical after normalization: one group of three
      1L -> "Hello   World, this is a plain test sentence.",
      2L -> "hello world, this is a plain TEST sentence.",
      3L -> " hello world, this is a plain test sentence. ",
      // a near copy of the group, sharing most prefix tokens with it
      4L -> "hello world, this is a plain test sentence!",
      // different texts, equal shingle sets (the five rotations of 01234)
      5L -> "012340123",
      6L -> "01234012340123401",
      // 17 shingles each, 14 shared: 17·14 = 7·(17+17), J = 0.7 exactly
      7L -> x.slice(0, 21),
      8L -> x.slice(3, 24),
      // 13 shared with 7 (J < 0.7), 16 with 8
      11L -> x.slice(4, 25),
      // length-filter boundary: 10·14 = 7·20, and 10 ⊂ 9, so J = 0.7
      9L -> g,
      10L -> g.slice(3, 21),
      // several near copies sharing many prefix tokens
      12L -> fox,
      13L -> fox.replace("dog", "cat"),
      14L -> fox.replace("river", "rivet"),
      // sets of one shingle
      15L -> "ok",
      16L -> "OK"))
    val prefix = jaccardRows(dedup.Dedup.dedupJaccardPrefix(spark, dir))
    val exact = jaccardRows(dedup.Dedup.dedupNgramJaccard(spark, dir))
    assert(prefix == exact)
    // the fixture really hits each boundary
    val got = prefix.map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got((7L, 8L)) == 0.7 && got((9L, 10L)) == 0.7 && !got.contains((7L, 11L)))
    assert(got((5L, 6L)) == 1.0 && got((1L, 2L)) == 1.0 && got((15L, 16L)) == 1.0)
    assert(Seq((1L, 4L), (2L, 4L), (3L, 4L), (8L, 11L), (12L, 14L)).forall(got.contains))
  }

  test("prefix join on a one-document corpus returns no rows") {
    val dir = documentsDir(Seq(1L -> "a single document with no partner"))
    assert(dedup.Dedup.dedupJaccardPrefix(spark, dir).count() == 0)
    assert(dedup.Dedup.dedupNgramJaccard(spark, dir).count() == 0)
  }

  test("dedup_jaccard_prefix runs in at most 2 jobs") {
    // the dictionary job and the consuming write; the table's schema is
    // read first, as Bench's warm-up does, so no inference job is counted
    Tables.documents(spark, sf)
    val jobs = Bench.Recorder.jobs(spark)(
      dedup.Dedup.dedupJaccardPrefix(spark, sf).write.format("noop").mode("overwrite").save())
    assert(jobs >= 1 && jobs <= 2, s"dedup_jaccard_prefix launched $jobs jobs")
  }
}
