package graft
import scala.jdk.CollectionConverters._

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR
  * and prints one JSON line on stdout.
  *
  * A query whose `Op` declares an `untimed` reason is left out: the
  * exact oracle paths whose work grows super-linearly by design (their
  * LSH or binned scale twins are timed), the queries and the calibration
  * audit that consume their output, and the streaming replay lane, which
  * collects the fact table to the driver. `--list-skip` prints them.
  * Results are fully materialized through a noop datasource sink (not
  * count(), which would let Spark skip projection work).
  */
object Bench {
  /** Parse a previous round's bench artifact into name → seconds.
    * Accepts BOTH artifact shapes: the builder's raw full map AND the
    * driver's wrapper, whose JSON line sits ESCAPED inside a "tail"
    * string (\"name\":2.72) — unescape before regexing or a driver-map
    * PREV silently yields an empty map and the driftSet degrades to
    * the hand list (r12: the exact failure this machinery was built
    * to avoid). \s* after every colon: builder maps are written
    * compact, but older artifacts (r10's sf1 map) came through a
    * pretty-printing serializer with ": " — the r12 sf1 sweep parsed
    * 0 PREV queries off exactly that. Spec-pinned in BenchPrevSpec. */
  /** Newest committed builder full map in cwd (highest round number;
    * `_final` variants of the same round sort after the base name), or
    * None when the repo has no full maps yet. Spec-pinned in
    * BenchPrevSpec. */
  private[graft] def discoverPrev(
      dir: java.nio.file.Path = java.nio.file.Paths.get(".")): Option[String] = {
    val re = """BENCH_builder_r(\d+)_full\w*\.json""".r
    val listed =
      try {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString).toVector
        finally s.close()
      } catch { case _: java.io.IOException => Vector.empty }
    listed.flatMap { f =>
      re.findFirstMatchIn(f).filter(_.matched == f)
        .map(m => (m.group(1).toInt, f))
    }.sorted.lastOption.map { case (_, f) => dir.resolve(f).toString }
  }

  private[graft] def parsePrev(raw: String): Map[String, Double] = {
    val txt = raw.replace("\\\"", "\"")
    val at = txt.indexOf("\"queries\":")
    if (at < 0) Map.empty
    else {
      val qs = txt.substring(at + 10)
      val re = """"([a-z0-9_]+)":\s*\{?\s*(?:"suite":\s*)?(-?[0-9.]+)""".r
      re.findAllMatchIn(qs).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    // "--list-skip": print the untimed names (one per line) and exit;
    // tools/close_round.sh derives the timed-query set from this
    if (args.headOption.contains("--list-skip")) {
      SparkEntry.ops.filter(_.untimed.isDefined).map(_.name).sorted.foreach(println)
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    GraftSession.warm(spark, sfDir)
    // min of N consecutive runs per query: single-run numbers on a
    // shared box swing ±50% with machine load; the minimum is the
    // reproducible steady-state cost that projects to cluster scale
    // (3 runs: whole-suite sweeps observed ±20% drift between full
    // passes under load — the third sample reliably catches the
    // steady state the first two sometimes both miss)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // local iteration aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a subset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // each query also reports whether its cold runs built memoized state
    val suite = SparkEntry.timed.filter(o => only.forall(_.contains(o.name)))
      .map { case Op(name, fn, _, _, _, _) =>
        val builds0 = graft.api.Memo.builds
        val times = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e"); -1.0 }
          finally {
            // every timed run is cold: it pays its own state builds,
            // and its number does not depend on query order
            GraftSession.reset(spark)
          }
        }
        // a failed query must NOT flatter the total with its fail-fast
        // time — record the sentinel -1 and exclude it from the sum
        val best = if (times.exists(_ < 0)) -1.0 else times.min
        // progress to stderr so a long (sf1-scale) run is monitorable
        System.err.println(f"[bench] $name%s ${best}%.2f s")
        (name -> best, graft.api.Memo.builds > builds0)
      }
    val results = suite.map(_._1)
    // SPARK_GRAFT_BENCH_PROTOCOL=full (builder-side only) appends two
    // extra per-query fields to the FULL_OUT map (r7 verdict items 4+5;
    // the driver's stdout line stays scalar suite numbers):
    //  - isolated: min-of-5 consecutive cold runs for the known
    //    suite-load drift set — committed next to the suite number so
    //    verdicts stop re-measuring drift query by query;
    //  - warm: for every query whose cold suite runs built memoized
    //    state, one run consuming an already-built state — the
    //    documented cluster pattern (the caller persists
    //    Lloyd/Louvain/PQ/Harmony state and fans out); cold stays the
    //    headline suite number.
    val extras: Map[String, Map[String, Double]] =
      if (!sys.env.get("SPARK_GRAFT_BENCH_PROTOCOL").contains("full")) Map.empty
      else {
        def timed(name: String): Double = {
          val t0 = System.nanoTime()
          try { SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => -1.0 }
        }
        def cold(name: String): Double = { GraftSession.reset(spark); timed(name) }
        // r10 verdict item 5: the isolated re-measure set is DATA-DRIVEN,
        // not a hand-kept list — SPARK_GRAFT_BENCH_PREV names the previous
        // round's committed full map; any query whose suite number moved
        // >50% in either direction gets an isolated min-of-5 re-measure.
        // r14 verdict item 4: drift auto-isolation must be STANDING, not
        // env-wired — r14's four no-iso offenders happened because PREV
        // pointed at the driver wrapper (different suite environment) for
        // one run. When PREV is unset, a full-protocol run auto-discovers
        // the newest committed builder full map in cwd; the explicit env
        // var still wins (sf1/sf3 sweeps compare against their own band).
        val prevPath: Option[String] =
          sys.env.get("SPARK_GRAFT_BENCH_PREV").orElse(discoverPrev())
        val prevMap: Map[String, Double] =
          prevPath.map { p =>
            parsePrev(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
          }.getOrElse(Map.empty)
        prevPath.filterNot(_ => sys.env.contains("SPARK_GRAFT_BENCH_PREV"))
          .foreach(p => System.err.println(
            s"[bench] PREV auto-discovered: $p (${prevMap.size} queries)"))
        if (sys.env.contains("SPARK_GRAFT_BENCH_PREV")) {
          System.err.println(s"[bench] PREV map parsed: ${prevMap.size} queries")
          // r12 ADVICE: an explicitly-set PREV that parses to zero
          // queries means a format the widened regex still misses, and
          // would silently empty the drift set (it burned the r12 sf1
          // sweep). Fail hard so the sweep is rerun with a fixed parser
          // instead of committing a map with a degraded drift set.
          require(prevMap.nonEmpty,
            s"SPARK_GRAFT_BENCH_PREV set (${sys.env("SPARK_GRAFT_BENCH_PREV")}) " +
              "but zero queries parsed — fix the PREV parser or unset PREV")
        }
        val driftSet = results.collect { case (n, t)
          if t > 0 && prevMap.get(n).exists(p =>
            p > 0 && (t / p > 1.5 || p / t > 1.5)) => n }
        val memoSet = suite.collect { case ((n, _), true) => n }
        val iso = driftSet.map { n =>
          n -> Map("isolated" -> (1 to 5).map(_ => cold(n)).min)
        }
        val warm = memoSet.map { n =>
          cold(n) // untimed state build; next run rides the memo
          n -> Map("warm" -> timed(n))
        }
        GraftSession.reset(spark)
        (iso ++ warm).groupBy(_._1)
          .map { case (n, vs) => n -> vs.map(_._2).reduce(_ ++ _) }
      }
    // the driver captures only the LAST 2000 chars of stdout and parses
    // the JSON line out of that tail — round 1's full-precision line was
    // ~2600 chars, got truncated mid-line, and the round recorded
    // parsed:null. 2 decimals (10 ms resolution) keeps the whole line +
    // sbt's trailing [success] banner inside the 2000-char window with
    // headroom for ~60 per-query entries.
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val total = results.map(_._2).filter(_ >= 0).sum
    // hard cap: if the per-query map would push the line past the tail
    // window, drop the FASTEST queries from the map (never from the
    // total) until it fits — a complete-but-parseable line beats a
    // complete-but-truncated one. Failed queries (-1) always stay.
    def render(rs: Seq[(String, Double)], dropped: Int = 0): String = {
      val qs = rs.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      // when the stdout cap forced per-query drops, the line itself says
      // where the full map lives (r13 verdict item 10: BENCH_r13's tail
      // silently lost dedup_minhash_lsh; a reader of the driver artifact
      // alone had no pointer to the untruncated file)
      val note = if (dropped > 0)
        s""","dropped":$dropped,"full_map":"BENCH_full_latest.json"""" else ""
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs$note,"sf":"$sfDir"}"""
    }
    // full, untruncated per-query map to a file: the driver's 1850-char
    // stdout tail drops the fastest queries (r5 lost ~118 of 194), which
    // made round-over-round regression diffs depend on which queries
    // happened to be slow — the builder commits this file each round.
    // Queries with PROTOCOL=full extras render as objects
    // {"suite": s, "isolated": i, "warm": w}; tools/bench_diff.py reads
    // the suite field as the comparable number.
    def renderFull(rs: Seq[(String, Double)]): String = {
      val qs = rs.sortBy(_._1).map { case (k, v) =>
        extras.get(k) match {
          case Some(m) =>
            val fields = (Seq("suite" -> v) ++ m.toSeq.sortBy(_._1))
              .map { case (f, x) => "\"" + f + "\":" + r3(x) }.mkString(",")
            "\"" + k + "\":{" + fields + "}"
          case None => "\"" + k + "\":" + r3(v)
        }
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    }
    // ALWAYS written (r11 verdict item 5): the driver's stdout tail has
    // a ~1850-char cap that silently drops the fastest per-query entries
    // from the committed line (BENCH_r11 lost mnn_correct); the full
    // untruncated map lands in a file in the repo cwd on EVERY run —
    // driver rounds included — so the builder can commit it verbatim.
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_OUT",
      "BENCH_full_latest.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullOut), renderFull(results))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write full map to $fullOut: $e") }
    val maxLen = 1850
    var kept = results
    var line = render(kept)
    var undroppable = false
    while (!undroppable && line.length > maxLen && kept.nonEmpty) {
      kept.filter(_._2 >= 0).minByOption(_._2).map(_._1) match {
        case Some(name) =>
          System.err.println(s"[bench] line over $maxLen chars: dropping $name from per-query map (still in total)")
          kept = kept.filterNot(_._1 == name)
          line = render(kept, dropped = results.size - kept.size)
        case None =>
          // only failed (-1) entries remain — they must stay visible, so
          // accept the long line rather than emptying the map
          undroppable = true
      }
    }
    println(line)
    spark.stop()
  }
}
