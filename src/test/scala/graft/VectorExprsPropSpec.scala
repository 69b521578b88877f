package graft

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the native codegen expressions against plain
  * Scala reference implementations, exercised through real Spark plans
  * (so the codegen path is what's tested, not just eval). Samples are
  * drawn from scalacheck generators under a fixed seed for
  * reproducibility. */
class VectorExprsPropSpec extends SparkSpecBase {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val word: Gen[String] = Gen.choose(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val text: Gen[String] = Gen.choose(0, 30).flatMap(n =>
    Gen.listOfN(n, word).map(_.mkString(" ")))

  test("jaccardSim equals the set-based reference") {
    import spark.implicits._
    val cases = samples(Gen.zip(Gen.listOfN(8, word), Gen.listOfN(8, word)), 40)
    val df = cases.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
      .withColumn("j", jaccardSim(col("a"), col("b")))
    val got = df.select("i", "j").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      val (sa, sb) = (a.toSet, b.toSet)
      val expect =
        if (sa.union(sb).isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(got(i) - expect) < 1e-12, s"case $i: $a vs $b")
    }
  }

  test("charShingles equals the substring reference (incl. short strings)") {
    import spark.implicits._
    val texts = samples(text, 60) ++ Seq("", "a", "abcd", "abcde")
    val df = texts.zipWithIndex.map(_.swap).toDF("i", "t")
      .withColumn("sh", charShingles(col("t"), 5))
    val got = df.select("i", "sh").collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1).toVector).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val last = math.max(t.length - 4, 1)
      val expect = (1 to last).map(p => t.slice(p - 1, p - 1 + 5)).distinct.toVector
      assert(got(i) == expect, s"case $i: '$t'")
    }
  }

  test("charNgramCounts equals the exploded-count reference (incl. edge strings)") {
    import spark.implicits._
    val texts = samples(text, 60) ++ Seq("", "a", "ab", "aaaa", "ababab")
    val df = texts.zipWithIndex.map(_.swap).toDF("i", "t")
      .withColumn("m", charNgramCounts(col("t"), 2))
    val got = df.select("i", "m").collect()
      .map(r => r.getInt(0) -> r.getMap[String, Long](1).toMap).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val last = math.max(t.length - 1, 1)
      val expect = (1 to last).map(p => t.slice(p - 1, p + 1))
        .groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
      assert(got(i) == expect, s"case $i: '$t'")
    }
    // interpreted-eval parity probe: the same expression evaluated
    // without codegen must agree (the nullSafeEval path)
    val expr = graft.functions.CharNgramCounts(
      org.apache.spark.sql.catalyst.expressions.Literal.create("banana bandana",
        org.apache.spark.sql.types.StringType), 2)
    val interp = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    val keys = (0 until interp.numElements()).map(k =>
      interp.keyArray().getUTF8String(k).toString)
    val vals = (0 until interp.numElements()).map(k => interp.valueArray().getLong(k))
    val viaSpark = Seq(("banana bandana", 0)).toDF("t", "i")
      .select(charNgramCounts(col("t"), 2).as("m"))
      .collect().head.getMap[String, Long](0).toMap
    assert(keys.zip(vals).toMap == viaSpark, "interpreted vs codegen parity")
  }

  test("approxHeavyHitters: exact when distinct <= k, MG bound when over") {
    import spark.implicits._
    // exact regime: 5 distinct values, k = 8 — counts must equal truth
    val small = Seq.fill(30)("a") ++ Seq.fill(20)("b") ++ Seq.fill(10)("c") ++
      Seq.fill(5)("d") ++ Seq.fill(1)("e")
    val exact = small.toDF("v")
      .agg(approxHeavyHitters(col("v"), 8).as("hh"))
      .select(explode(col("hh"))).select(col("col.item"), col("col.est_count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact === Map("a" -> 30L, "b" -> 20L, "c" -> 10L, "d" -> 5L, "e" -> 1L))
    // approximate regime: 1 heavy item among 100 light ones, k = 8.
    // Misra-Gries under-counts by at most N/(k+1); the heavy item must
    // survive with an estimate within that bound.
    val heavy = Seq.fill(1000)("HOT") ++
      (1 to 100).flatMap(i => Seq.fill(10)(f"cold$i%03d"))
    val n = heavy.length
    val hh = heavy.toDF("v")
      .repartition(4) // force partial buffers + merges
      .agg(approxHeavyHitters(col("v"), 8).as("hh"))
      .select(explode(col("hh"))).select(col("col.item"), col("col.est_count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh.contains("HOT"), s"heavy item must survive: $hh")
    assert(hh("HOT") <= 1000L, "MG never over-counts")
    assert(hh("HOT") >= 1000L - n / (8 + 1), s"error bound violated: ${hh("HOT")}")
    assert(hh.size <= 8, "at most k counters")
  }

  test("deflate_ratio orders repetitive < prose < noise, bounded and deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val repetitive = "lorem ipsum " * 200
    val prose = "The quick brown fox jumps over the lazy dog near the riverbank, " +
      "where a miller was grinding wheat into flour for the village baker. " * 8
    // deterministic high-entropy stream (splitmix64 finalizer — a plain
    // linear sequence is periodic and compresses BETTER than prose)
    def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val noise = (1 to 2400).map(i => (math.floorMod(mix(i), 93) + 33).toChar).mkString
    val rows = Seq((1L, repetitive), (2L, prose), (3L, noise)).toDF("id", "t")
      .select(col("id"), graft.functions.DeflateRatio.column(col("t")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(1L) < rows(2L), s"repetition must compress best: $rows")
    assert(rows(2L) < rows(3L), s"noise must compress worst: $rows")
    assert(rows.values.forall(v => v > 0.0 && v < 1.2), s"ratio out of range: $rows")
    // empty text: defined as 1.0 (nothing to compress, nothing saved)
    assert(graft.functions.DeflateRatio.ratio(Array.emptyByteArray, 6) == 1.0)
    // interpreted vs codegen parity + determinism across calls
    val e = graft.functions.DeflateRatio(
      org.apache.spark.sql.catalyst.expressions.Literal.create(prose,
        org.apache.spark.sql.types.StringType), 6)
    val interp = e.eval(null).asInstanceOf[Double]
    assert(interp == rows(2L), "interpreted vs codegen parity")
  }

  test("text_compression golden fixture: full sf0.01 output hash is frozen") {
    // r11 verdict item 6: text_compression is the last non-streaming
    // rows-only gate entry (DuckDB has no zlib), so its byte-level
    // contract is pinned HERE instead — a SHA-256 over the full 500-row
    // sf0.01 output in a canonical text form (rows sorted by doc_id,
    // ratio at the query's own 6-dp rounding). The committed constant
    // freezes JDK-zlib deflate output at level 6 (nowrap): if a JDK
    // upgrade ships a zlib whose compressed sizes differ, or the query's
    // projection drifts, this fails loudly with both hashes. The
    // fixture was produced by this very canonicalization on
    // OpenJDK 17 — regenerate deliberately (update the constant) only
    // after diffing per-row ratios, never to silence a surprise.
    val golden = "474e31dd9e8b4cc19921791483ada64d100e22b35de0681c0dc6c861765d40f4"
    val rows = SparkEntry.queries("text_compression")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.length == 500, s"sf0.01 documents cardinality moved: ${rows.length}")
    val canon = rows.map { r =>
      val ratio = "%.6f".format(r.getAs[Double]("deflate_ratio"))
      s"${r.getAs[Long]("doc_id")}|${r.getAs[String]("source")}|" +
        s"${r.getAs[Long]("n_chars")}|$ratio"
    }.sorted.mkString("\n")
    val got = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == golden,
      s"text_compression output drifted from the frozen fixture: got $got " +
        s"(first rows: ${canon.linesIterator.take(3).mkString("; ")})")
  }

  test("heavy_hitters oracle precondition: <= k distinct langs per source") {
    // the heavy_hitters DuckDB oracle emits ALL (source, lang) rows and
    // only matches the k=8 Misra-Gries summary while every source stays
    // at <= 8 distinct langs — pin that corpus property here so drift
    // fails a test instead of silently diverging the oracle
    import org.apache.spark.sql.functions._
    val maxLangs = Tables.documents(spark, sf)
      .groupBy(col("source")).agg(countDistinct(col("lang")).as("n"))
      .agg(max(col("n"))).collect().head.getLong(0)
    assert(maxLangs <= 8, s"corpus now has $maxLangs distinct langs per source; " +
      "raise the heavy_hitters k or cap the oracle at the same rank")
  }

  test("minhash signature match fraction estimates true Jaccard") {
    import spark.implicits._
    val base = (1 to 60).map(i => f"tok$i%03d").mkString(" ")
    val variantA = base + " " + (1 to 12).map(i => f"aaa$i%03d").mkString(" ")
    val variantB = base + " " + (1 to 12).map(i => f"bbb$i%03d").mkString(" ")
    val df = Seq((1L, variantA), (2L, variantB)).toDF("id", "t")
      .withColumn("sig", minhashSigText(col("t"), 5, 256))
      .withColumn("sh", charShingles(col("t"), 5))
    val rows = df.collect()
    val sig = rows.map(r => r.getAs[Long]("id") -> r.getSeq[Long](r.fieldIndex("sig"))).toMap
    val sh = rows.map(r => r.getAs[Long]("id") -> r.getSeq[String](r.fieldIndex("sh")).toSet).toMap
    val trueJ = sh(1L).intersect(sh(2L)).size.toDouble / sh(1L).union(sh(2L)).size
    val est = sig(1L).zip(sig(2L)).count { case (a, b) => a == b } / 256.0
    // 256 hashes: sd ≈ sqrt(J(1-J)/256) ≈ 0.03 — allow 4σ
    assert(math.abs(est - trueJ) < 0.13, s"est=$est trueJ=$trueJ")
  }

  test("repetitionStats equals the scala reference on random word lists") {
    import spark.implicits._
    val lists = samples(Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "ba", "ccc"))), 60) ++
      Seq(Nil, List("x"), List("x", "x", "x", "x"))
    val df = lists.zipWithIndex.map(_.swap).toDF("i", "w")
      .withColumn("st", repetitionStats(col("w")))
      .select(col("i"), col("st.*"))
    val got = df.collect().map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    lists.zipWithIndex.foreach { case (w, i) =>
      val g2 = w.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toList
      val counts = g2.groupBy(identity).view.mapValues(_.size)
      val expect = (w.size.toLong, w.distinct.size.toLong,
        math.max(w.size - 1, 0).toLong, counts.size.toLong,
        if (counts.isEmpty) 0L else counts.values.max.toLong)
      assert(got(i) == expect, s"case $i: $w")
    }
  }

  test("topKByScore matches the rank-window formulation incl. score ties") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // scores drawn from a tiny set so ties are common — the tie-break
    // (score desc, id asc) must match row_number() exactly
    val rows = samples(Gen.choose(0, 5), 400).zipWithIndex
      .map { case (s, i) => (i.toLong % 7, i.toLong, s.toDouble / 4) }
    val df = rows.toDF("grp", "id", "score")
    val viaAgg = df.groupBy(col("grp"))
      .agg(topKByScore(col("score"), col("id"), 5).as("tk"))
      .select(col("grp"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("grp"), col("e.id").as("id"), col("e.score").as("score"),
        (col("pos") + 1).as("rk"))
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("grp"), col("id"), col("score"), col("rk"))
    val a = viaAgg.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val b = viaWindow.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(a == b)
  }

  test("topKByScore handles NaN and -0.0 like the rank window (total order)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // NaN sorts FIRST under DESC in Spark's sort; -0.0 ties 0.0 with the
    // id tie-break deciding — the heap must implement the same total
    // order (java.lang.Double.compare), or a NaN admitted early would
    // pin the heap and a -0.0/0.0 pair would rank by sign
    val rows = Seq(
      (0L, 1L, Double.NaN), (0L, 2L, 5.0), (0L, 3L, Double.NaN),
      (0L, 4L, -0.0), (0L, 5L, 0.0), (0L, 6L, 7.0), (0L, 7L, -3.0))
    val df = rows.toDF("grp", "id", "score")
    val viaAgg = df.groupBy(col("grp"))
      .agg(topKByScore(col("score"), col("id"), 5).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("e.id"), (col("pos") + 1).as("rk"))
    val w = Window.partitionBy(col("grp")).orderBy(col("score").desc, col("id").asc)
    val viaWindow = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("id"), col("rk"))
    val a = viaAgg.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = viaWindow.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a == b, s"agg=$a window=$b")
  }

  test("charNgrams equals the substring reference with multiplicity and order") {
    import spark.implicits._
    val texts = samples(Gen.listOfN(12, Gen.oneOf('a', 'b', ' ')), 80)
      .map(_.mkString) :+ "x" :+ "ab" // short-string edges
    val df = texts.toDF("t")
    val viaExpr = df.select(col("t"),
        graft.functions.VectorFunctions.charNgrams(col("t"), 3).as("gs"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    texts.foreach { t =>
      val ref = if (t.length <= 3) Seq(t)
        else (0 to t.length - 3).map(i => t.substring(i, i + 3))
      assert(viaExpr(t) == ref, s"'$t'")
    }
  }

  test("boundedLevenshtein: exact within the cap, capped above it") {
    import spark.implicits._
    val words = samples(Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')), 60)
      .map(_.mkString)
    val pairs = for (a <- words.take(20); b <- words.take(20)) yield (a, b)
    val df = pairs.toDF("a", "b")
      .withColumn("full", levenshtein(col("a"), col("b")).cast("long"))
      .withColumn("capped", graft.functions.BoundedLevenshtein.column(col("a"), col("b"), 2))
    df.collect().foreach { r =>
      val (full, capped) = (r.getLong(2), r.getLong(3))
      if (full <= 2) assert(capped == full, s"${r.getString(0)} / ${r.getString(1)}")
      else assert(capped == 3, s"${r.getString(0)} / ${r.getString(1)}: got $capped")
    }
  }

  test("hyperplaneBucket equals the SplitMix64 reference on random vectors") {
    import spark.implicits._
    def refBucket(v: Seq[Double], planes: Int): Long = {
      var bucket = 0L
      for (j <- 0 until planes) {
        var acc = 0.0
        for (i <- v.indices) {
          val h = graft.functions.HyperplaneBucket.mix64(j * 64L + i)
          val m = ((h % 2000003L) + 2000003L) % 2000003L
          acc += v(i) * (m.toDouble / 1000001.0 - 1.0)
        }
        if (acc > 0) bucket |= (1L << j)
      }
      bucket
    }
    val vecs = samples(Gen.listOfN(16, Gen.choose(-10.0, 10.0)), 24)
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
      .withColumn("b", hyperplaneBucket(col("v"), 5))
    val got = df.select("i", "b").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i) == refBucket(v, 5), s"case $i")
    }
  }

  test("splitMixComp equals the SplitMix64 reference; range bounded") {
    import spark.implicits._
    val xs = samples(Gen.choose(Long.MinValue, Long.MaxValue), 64) ++
      Seq(0L, -1L, 1L, Long.MaxValue, Long.MinValue, 65536L * 5 - 1)
    val got = xs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "x")
      .withColumn("c", splitMixComp(col("x")))
      .select("i", "c").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    xs.zipWithIndex.foreach { case (x, i) =>
      val h = graft.functions.HyperplaneBucket.mix64(x)
      val expect = ((h % 2000003L) + 2000003L) % 2000003L - 1000001L
      assert(got(i) == expect, s"case $i (x=$x)")
      assert(got(i) >= -1000001L && got(i) <= 1000001L)
    }
  }

  test("dotProduct equals the reference on random vectors") {
    import spark.implicits._
    val vecs = samples(Gen.listOfN(16, Gen.choose(-10.0, 10.0)), 12)
    val pairs = vecs.sliding(2, 2).collect { case Seq(a, b) => (a, b) }.toSeq
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
      .withColumn("d", dot(col("a"), col("b")))
    val got = df.select("i", "d").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    pairs.zipWithIndex.foreach { case ((a, b), i) =>
      val expect = a.zip(b).map { case (x, y) => x * y }.sum
      assert(math.abs(got(i) - expect) < 1e-9, s"case $i")
    }
  }

  test("firstSharedOverlap: exact overlap at the first shared id, -1 otherwise") {
    // b is a with a few ids dropped and a few added, so many pairs sit
    // near J = 0.7; every id of either set is tried as the row's id
    val pair = for {
      a <- Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, Gen.choose(0, 80))).map(_.distinct)
      drop <- Gen.choose(0, 6)
      add <- Gen.listOfN(6, Gen.choose(0, 80)).flatMap(xs => Gen.choose(0, 6).map(xs.take))
    } yield (a.sorted, (a.drop(drop) ++ add).distinct.sorted)
    val rows = samples(pair, 300).flatMap { case (a, b) =>
      (a ++ b :+ 81).distinct.map(g => (a, b, g))
    }
    def expected(a: Seq[Int], b: Seq[Int], g: Int): Int = {
      val i = a.intersect(b)
      if (i.nonEmpty && i.min == g && 17 * i.size >= 7 * (a.size + b.size)) i.size else -1
    }
    assert(rows.count { case (a, b, g) => expected(a, b, g) >= 0 } >= 50,
      "too few qualifying pairs to test")
    rows.foreach { case (a, b, g) =>
      assert(dedup.Dedup.firstSharedOverlap(a.toArray, b.toArray, g) == expected(a, b, g),
        s"case ${(a, b, g)}")
    }
  }
}
