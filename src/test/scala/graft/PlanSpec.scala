package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale contract (SURVEY.md §5).
  * Filters must reach the parquet scan (PushedFilters), projections must
  * prune the read schema, dims must broadcast — at 100 TB these are the
  * difference between reading terabytes and reading everything.
  */
class PlanSpec extends SparkSpecBase {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter is pushed to the parquet scan") {
    val plan = formatted(
      Tables.lineitem(spark, sf)
        .filter(col("l_shipdate") <= lit("2001-09-02"))
        .select(col("l_quantity")))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("LessThanOrEqual(l_shipdate"), plan)
  }

  test("q1 scan reads only the columns it needs (column pruning)") {
    val df = core.Relational.q1PricingSummary(spark, sf)
    val scanCols = df.queryExecution.sparkPlan.collectLeaves().flatMap {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.schema.fieldNames
      case _ => Nil
    }.toSet
    assert(scanCols.contains("l_quantity") && scanCols.contains("l_returnflag"), scanCols)
    assert(!scanCols.contains("l_partkey") && !scanCols.contains("l_suppkey"), scanCols)
    assert(scanCols.size <= 7, s"scan reads more than the 7 needed columns: $scanCols")
    df.collect() // materialize so AQE finalizes the plan
    val plan = formatted(df)
    assert(plan.contains("codegen id"), s"q1 must stay inside whole-stage codegen:\n$plan")
  }

  test("q5 broadcasts the small dims (nation/region)") {
    val plan = formatted(core.Relational.q5RegionRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("qc_mad_outliers broadcasts the per-batch medians back (no giant window sort)") {
    val plan = formatted(sc.SingleCell.qcMadOutliers(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("WindowExec"), "medians must come from aggregates, not windows")
  }

  test("text ops are shuffle-free narrow plans") {
    val plan = formatted(text.TextOps.textQuality(spark, sf))
    assert(!plan.contains("Exchange"), s"text_quality must not shuffle:\n$plan")
  }

  /** Names of every node of `df`'s physical plan, exchanges included. */
  private def nodeNames(df: org.apache.spark.sql.DataFrame): Seq[String] =
    PlanNodes.collect(df.queryExecution.executedPlan) { case p => p.nodeName }

  /** No join of any kind (cartesian and nested-loop included) and no
    * Generate: the eval set is probed inside a projection. */
  private def assertNarrowProbe(names: Seq[String]): Unit =
    assert(!names.exists(n => n.contains("Join") || n == "CartesianProduct" || n == "Generate"),
      s"the contamination probe must not join or explode: ${names.mkString(", ")}")

  test("decontaminate probes the eval shingle set in one projection: no join, no Generate") {
    val names = nodeNames(dedup.Dedup.decontaminate(spark, sf))
    assertNarrowProbe(names)
    assert(names.count(_.contains("Exchange")) <= 1, names.mkString(", "))
  }

  test("pack_sequences windows per shard — no single-partition global sort") {
    val plan = formatted(text.TextOps.packSequences(spark, sf))
    assert(plan.contains("Window"), plan)
    // the window partition spec must carry the shard key
    assert(plan.contains("partitionBy") || plan.contains("PartitionSpec") ||
      plan.toLowerCase.contains("source"),
      s"pack window must be partitioned by the shard column:\n$plan")
  }

  test("de_markers is one aggregation pass over the fact join (no fact-row window)") {
    val plan = sc.SingleCell.deMarkersQuery(spark, sf).queryExecution.sparkPlan.toString
    // windows may only appear AFTER the per-feature aggregation (the BH
    // adjust over the tiny stats table needs exactly 3 window
    // functions: rank, total count, running min); the fact table itself
    // must reach an aggregate without a window sort
    val windowFns = "windowspecdefinition".r.findAllIn(plan).length
    assert(plan.contains("HashAggregate"), plan)
    assert(windowFns == 3, s"expected exactly the 3 BH window functions, got $windowFns:\n$plan")
  }

  test("decile_bins assigns buckets without any sort (boundaries, not ntile)") {
    val plan = formatted(core.Relational.decileBins(spark, sf))
    assert(!plan.contains("Sort"), s"bucket assignment must not sort:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"boundary array must broadcast:\n$plan")
  }

  test("latest_per_key is one aggregation, no per-key window sort") {
    val plan = formatted(core.Sessions.latestPerKey(spark, sf))
    assert(!plan.contains("WindowExec"), s"latest pick must be a struct-max aggregate:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("HashAggregate"),
      s"expected partial-aggregable max:\n$plan")
  }

  test("brute-force topk aggregates map-side (partial topk_by before the exchange)") {
    val plan = sim.Ann.annBruteforceTopk(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_by"),
      s"TopKByScore must partial-aggregate before the shuffle (is the " +
        s"ObjectHashAggregate sort-fallback threshold set?):\n$plan")
  }

  test("interval_overlap plans as an equi join on (user, bin), not a theta join") {
    val plan = formatted(core.Sessions.intervalOverlap(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"overlap must bin-join, not theta-join:\n$plan")
  }

  test("funnel_conversion's three stacked window mins share one sort") {
    val plan = core.Sessions.funnelConversion(spark, sf).queryExecution.executedPlan.toString
    // all three stage windows partition by (user, session): one exchange
    // + one sort must satisfy them all
    val sorts = "\\bSort \\[".r.findAllIn(plan).size
    assert(sorts <= 2, s"expected the stage windows to reuse one sort, got $sorts:\n${plan.take(3000)}")
  }

  test("annotate_corr plans one fact shuffle and no rank-window sort") {
    // r14 shape: the centroid panel is collected at build time
    // (driver-bounded, |labels|×panel rows), so the RETURNED plan is a
    // single codegen HashAggregate pass over the fact table — exactly
    // one entity-keyed exchange (the partial-sum shuffle), no object
    // agg, no window, and the per-entity partial rows are the only
    // thing on the wire.
    val df = sc.Annotate.annotateCorr(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(([^)#]+)#".r
      .findAllMatchIn(plan).map(_.group(1).trim).toList
    assert(exchanges == List("entity"),
      s"scoring must be one partial-agg entity shuffle, got keys: $exchanges")
    assert(!plan.contains("Window"),
      "argmax must be the in-row array_sort, not a rank window")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"scoring must stay in codegen HashAggregate:\n${plan.take(1500)}")
  }

  test("downsample_counts rides one entity shuffle for all three windows") {
    val plan = sc.SingleCell.downsampleCounts(spark, sf).queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.length <= 2,
      s"windows must share the entity partitioning, got ${exchanges.length} exchanges:\n$plan")
  }

  test("ambient_pval joins co-partitioned sides without a sort-merge") {
    val plan = sc.Annotate.ambientPval(spark, sf).queryExecution.sparkPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"matrix-totals join must be hash-based on the shared partitioning:\n$plan")
  }

  test("pseudotime_assign broadcasts the segment geometry; one bounded-key shuffle") {
    val plan = sc.Trajectory.pseudotimeAssign(spark, sf).queryExecution.sparkPlan
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"segment table must broadcast onto the cell scan:\n$plan")
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the argmin groupBy on (vec_id, label, lineage_id) is the ONLY
    // corpus shuffle (the centroid pass already ran at plan-build time)
    assert(exchanges.length <= 1,
      s"projection pass must shuffle once, got ${exchanges.length}:\n$plan")
  }

  test("LSH kNN feed joins on the bucket key via shuffle-hash (no corpus broadcast)") {
    // guard the FEED itself: the graph twins materialize their edge list
    // eagerly (localCheckpoint), so their returned plan is only the tail
    val plan = api.Similarity.lshTopK(Tables.embeddings(spark, sf),
        col("vec_id"), col("embedding"), k = 5)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"bucket self-join must be shuffle-hash, not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH feed must never fall back to an all-pairs join:\n${plan.take(3000)}")
  }

  test("semantic_dedup broadcasts the bounded centroid stats; candidate join " +
      "is bucket-keyed shuffle-hash") {
    val plan = dedup.Dedup.semanticDedup(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"within-bucket candidate join must be shuffle-hash on bucket:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-bucket centroid sums (≤2^planes·dim rows) must broadcast back:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"semantic dedup must never fall back to an all-pairs join:\n${plan.take(3000)}")
  }

  test("dsir_weights scores through a word-key shuffle join, no LM broadcast") {
    val plan = text.TextOps.dsirWeights(spark, sf).queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"doc-term × LM must join on the word key, not broadcast the vocab:\n${plan.take(3000)}")
  }

  test("filter_decision is one probe projection and one window, with no join") {
    val names = nodeNames(text.TextOps.filterDecision(spark, sf))
    assertNarrowProbe(names)
    assert(names.count(_.contains("Exchange")) <= 2,
      s"spread and the norm-hash window are the only exchanges: ${names.mkString(", ")}")
  }

  test("span removal joins its gram-frequency table on the gram key, not broadcast") {
    // the df table is corpus-vocabulary-sized — broadcasting it is the
    // mistake that OOMs at 100 TB; the hint must hold
    val plan = text.Clean.dedupSpanRemoval(spark, sf).queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"gram df join must be shuffle-hash on the gram key:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span removal must stay linear:\n${plan.take(3000)}")
  }

  test("bpe merge round is a narrow per-row projection — no window, no exchange") {
    // r15 optimization pin: one merge round folds each word's symbol
    // array in a single codegen'd projection. Any Window or Exchange
    // reappearing here means the per-round shuffle crept back (×32 in
    // the deep trainer). The input is a local relation so every plan
    // node below belongs to the merge step itself.
    import spark.implicits._
    val dict = Seq(("the", 5L, Seq("t", "h", "e")))
      .toDF("w", "wc", "syms")
    val plan = text.Vocab.mergeOnce(dict, "t", "h")
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"),
      s"merge round must not window over the token stream:\n$plan")
    assert(!plan.contains("Exchange"),
      s"merge round must not shuffle:\n$plan")
  }

  /** Every registry query's physical plan at `sf`, built once for both
    * sweeps below: its text when the quadratic sweep checks it, and
    * the windows it runs without a partition key. */
  private lazy val plans: Seq[(Op, String, Int)] =
    SparkEntry.ops.filter(o => o.quadratic.isEmpty || o.globalWindow.isEmpty).map { op =>
      val plan = op.build(spark, sf).queryExecution.sparkPlan
      val globals = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty => w
      }
      (op, if (op.quadratic.isEmpty) plan.toString else "", globals.size)
    }

  test("no registry query hides an accidental quadratic join") {
    // the ONLY operators allowed a cartesian/BNL shape are the ones whose
    // Op declares a `quadratic` reason
    plans.foreach { case (op, plan, _) =>
      if (op.quadratic.isEmpty) {
        val name = op.name
        assert(!plan.contains("CartesianProduct"),
          s"$name contains a CartesianProduct:\n$plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name contains a BroadcastNestedLoopJoin:\n$plan")
      }
    }
  }

  test("no registry query windows an unbounded input through a single partition") {
    // The guard that would have caught heaps_fit at authoring time: a
    // WindowExec with an EMPTY partitionSpec drags its whole input
    // through ONE task — fine on rows that are bounded by construction
    // (post-aggregation curves, dims, post-limit top-k,
    // |sources|/|labels|/|bins| tables), an OOM + serial bottleneck on
    // anything fact-sized. Every query allowed a global window names its
    // bound in its Op's `globalWindow`.
    val offenders = plans.collect {
      case (op, _, globals) if op.globalWindow.isEmpty && globals > 0 => op.name
    }
    assert(offenders.isEmpty,
      s"queries with a single-partition window not in the allowlist: ${offenders.mkString(", ")}")
  }

  test("every registry query analyzes against every testdata scale factor") {
    // Schema-drift guard: the r4 gate silently dropped 32 queries when a
    // regenerated events.parquet changed ts's encoding and analysis threw.
    // Analysis (no execution) per query per SF dir keeps this fast while
    // surfacing the real AnalysisException with the query's name attached.
    // sf0.001 is exercised by every other suite (and the quadratic sweep
    // above builds full physical plans there), so the correctness-gate SF
    // is what adds coverage. A handful of builders do bounded eager work
    // (quantile boundaries etc.) at construction, which is why this stays
    // off the larger bench SF.
    // gate SF dir from the env when set (the SparkSpecBase convention),
    // else the driver's default; CANCEL (not fail) on a machine without
    // the testdata so the suite stays portable
    val sfDirs = Seq(sys.env.getOrElse("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01"))
      .filter(d => new java.io.File(d).isDirectory)
    assume(sfDirs.nonEmpty, "no testdata dirs found — skipping analysis sweep")
    val failures = for {
      dir <- sfDirs
      (name, fn) <- SparkEntry.queries.toSeq
      err <- (try { fn(spark, dir).queryExecution.analyzed; None }
              catch { case e: Throwable => Some(s"$name @ $dir: ${e.toString.linesIterator.next()}") })
    } yield err
    assert(failures.isEmpty, s"${failures.size} queries fail analysis:\n${failures.mkString("\n")}")
  }
}

/** Walks adaptive plans into their current physical plan. */
private object PlanNodes
  extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
