package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, declared once in the module that implements
  * it. Every registry-wide fact about the query lives here, and Bench,
  * Verify and PlanSpec read it instead of keeping their own name lists.
  *
  * `build` returns the query's DataFrame for an SF directory. It may run
  * Spark jobs while it constructs that frame: the trainers (Lloyd,
  * Louvain, PQ, the perceptron, BPE and unigram) collect, checkpoint or
  * memoize their state eagerly, so even a plan-only consumer such as
  * `explain`, a schema check or a PlanSpec sweep pays for that work, and
  * Bench books it under "build". No caller may assume `build` is lazy.
  *
  * @param check        the DuckDB oracle SQL the gate hashes the result
  *                     against, or the reason the query is checked for
  *                     rows only
  * @param untimed      why Bench does not time the query (the default is
  *                     to time it)
  * @param quadratic    why the physical plan may hold a cartesian product
  *                     or a broadcast nested-loop join
  * @param globalWindow the bound on the rows a window without a partition
  *                     key sees, when the plan holds one
  */
final case class Op(
    name: String,
    build: (SparkSession, String) => DataFrame,
    check: Op.Check,
    untimed: Option[String] = None,
    quadratic: Option[String] = None,
    globalWindow: Option[String] = None) {
  def oracleSql: Option[String] = check match {
    case Op.Oracle(sql) => Some(sql)
    case Op.RowsOnly(_) => None
  }
}

object Op {
  sealed trait Check
  final case class Oracle(sql: String) extends Check
  final case class RowsOnly(reason: String) extends Check

  /** A module that registers queries. `queries` is the name → `build`
    * view of its ops, the shape external harnesses compile against. */
  trait Registry {
    def ops: Seq[Op]
    lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
      ops.map(o => o.name -> o.build).toMap
  }

  /** The one line a tool ends with in place of Spark's per-plan window
    * warnings (silenced in `GraftSession`): the ops it ran that declare a
    * global window. */
  def windowNote(tool: String, ran: Seq[Op]): String = {
    val w = ran.filter(_.globalWindow.isDefined).map(_.name).sorted
    s"[$tool] ${w.size} ops ran a declared global window: ${w.mkString(", ")}"
  }
}

/** Declaration reasons that cover queries in more than one module. */
object Reasons {
  val BoundedScaffolds =
    "scalar/bounded scaffolds: cuped_adjustment attaches the 1-row time-midpoint agg; " +
      "isotonic_calibration attaches the 1-row max-score agg and enumerates bin pairs " +
      "on the <=40-row cum table; good_turing_mass attaches the 1-row total/N1 aggs " +
      "over the |distinct r|-row table; corpus_bleu_proxy attaches the 1-row " +
      "corpus-length and min/sum-ln aggs to the 4-row precision frame"
  val BruteForceBaseline =
    "the ONLY operators allowed a cartesian/BNL shape are the ones explicitly " +
      "documented as brute-force baselines"
  val EveryLabelCentroid =
    "annotate_corr crosses each entity with the |labels|-row centroid broadcast " +
      "(correlation against EVERY reference label is the operator); gsea_es tags every " +
      "ranked feature into every |sets|-row set; cluster_mst crosses the |labels|² " +
      "centroid pairs"
  val ExactAllPairsCosine =
    "exact all-pairs cosine oracle paths: the sf0.1→sf1 table measured them at " +
      "19.1×/19.4×/15.7× on 10× data — super-linear BY DESIGN (each point scores every " +
      "other point). Their `_lsh` production twins (2.3×/5.4×/2.8× on the same table) " +
      "ARE benchmarked — the dedup_ngram_jaccard convention."
  val ExactKnnGraphFeed =
    "the 15 exact kNN-graph feed queries: every one sits on Ann.knnEdges(exact=true), " +
      "which scores ALL pairs — O(n²) by design (the DuckDB-checkable oracle feed). The " +
      "sf3 octave measured the asymptote on 3× data: snn_graph 22.4×, knn_da_screen " +
      "8.7×, knn_components 8.4×, knn_assortativity 8.1×, knn_label_noise 6.6× (n² on " +
      "3× = 9×). Their `_lsh` twins — same graph logic over hyperplane-bucketed " +
      "candidate edges, sub-n² at sf3 (knn_label_noise_lsh 4.8×) — ARE benchmarked: the " +
      "dbscan/local_lisi/dedup_embedding convention."
  val GlobalScalarsOrBinGrid =
    "ambient_pval / pattern_diff / decayed_sum / psi_drift / survival_km attach 1-row " +
      "global scalars (threshold, day range, max-ts, ns-range, total-at-risk) or the " +
      "10-row bin grid; early_de / condition_test / diff_end are the pattern_diff / " +
      "start_vs_end machinery with different masks — same 1-row day-range attach"
  val GroupPairsOrRange =
    "pairwise_ks broadcasts the 10-row group-pair table into an OR-predicate tag join; " +
      "value_per_bin and start_vs_end attach a 1-row global range"
  val OneRowTotals =
    "bm25/pmi/decile/kl join a ONE-ROW broadcast of global totals — the BNL there is a " +
      "scalar attach, not a quadratic pair join"
  val RoundScalarAttach =
    "unigram train/encode attach the 1-row usage total per EM round (cuped " +
      "scalar-attach precedent, dict-bounded inputs); diff_in_diff attaches the 1-row " +
      "midpoint (the cuped shape); chrf_proxy attaches the 1-row macro-average to the " +
      "6-row order frame (corpus_bleu_proxy precedent); the threshold sweep crosses " +
      "five 1-row aggregates of the checkpointed pair list"
  val SampledOrTruthScorer =
    "distance_histogram broadcasts the sampled anchor set (the documented brute-force " +
      "sampling bound); ivf_nprobe_sweep rides the brute-force truth scorer " +
      "(ann_recall_eval precedent)"
  val TotalsAttach =
    "word_lm_score attaches the 1-row corpus bigram total (the char_lm_score " +
      "precedent); k_anonymity / hbos_outliers / conversion_ztest attach 1-row " +
      "totals/min-max/pooled aggs; benford_screen crosses the |priorities|×9 digit " +
      "scaffold (ma_stats precedent)"
}
