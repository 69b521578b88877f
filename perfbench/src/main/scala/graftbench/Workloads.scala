package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry call in a session: the query name, the module (layer)
  * that registers it, the function `SparkEntry.queries` serves, and
  * whether its result is saved to parquet (the sources write path) or
  * consumed in place. */
final case class Call(name: String, layer: String,
    fn: (SparkSession, String) => DataFrame, toParquet: Boolean)

/** A fixed analysis session: calls issued one after another by one
  * client thread. */
final case class Workload(name: String, calls: Seq[Call])

object Workloads {
  /** Registry modules, named by the package that registers them. */
  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "core" -> graft.core.Relational.queries,
    "core" -> graft.core.Sessions.queries,
    "core" -> graft.core.Scores.queries,
    "sc" -> graft.sc.SingleCell.queries,
    "sc" -> graft.sc.BulkQc.queries,
    "sc" -> graft.sc.Annotate.queries,
    "sc" -> graft.sc.Trajectory.queries,
    "sc" -> graft.sc.Integrate.queries,
    "text" -> graft.text.TextOps.queries,
    "text" -> graft.text.Batching.queries,
    "text" -> graft.text.Vocab.queries,
    "text" -> graft.text.Clean.queries,
    "text" -> graft.text.Classify.queries,
    "dedup" -> graft.dedup.Dedup.queries,
    "sim" -> graft.sim.Ann.queries,
    "sim" -> graft.sim.GraphOps.queries,
    "sim" -> graft.sim.Quantize.queries,
    "ml" -> graft.ml.Reduce.queries)

  val layers: Seq[String] = Seq("core", "sc", "text", "dedup", "sim", "ml")

  private def call(name: String, toParquet: Boolean = false): Call =
    modules.collectFirst { case (layer, qs) if qs.contains(name) => Call(name, layer, qs(name), toParquet) }
      .getOrElse(throw new IllegalArgumentException(s"no registry module serves $name"))

  /** Two sessions keep a run near one minute. The relational and event
    * reports ride in cell_atlas, where they are the only calls into
    * `core` and the only results written to parquet. */
  val all: Seq[Workload] = Seq(
    Workload("curation",
      Seq("filter_decision", "dedup_jaccard_prefix", "pack_sequences").map(call(_))),
    Workload("cell_atlas",
      Seq("qc_cell_metrics", "kmeans_clusters", "ann_ivfpq_topk").map(call(_)) ++
        Seq("q1_pricing_summary", "window_rank_suite", "sessionize_events")
          .map(call(_, toParquet = true))))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name"))
}
