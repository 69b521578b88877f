package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query registry: every module's ops in one sequence. Each query
  * is a `(SparkSession, sfDir) => DataFrame` with either a DuckDB oracle
  * over the same parquet tables or a declared rows-only reason (see
  * `Op`). Bench, Verify, Explain and the specs all read it.
  */
object SparkEntry extends Op.Registry {

  val ops: Seq[Op] = {
    val all = Seq[Op.Registry](core.Relational, sc.SingleCell, sc.BulkQc, sc.Annotate,
      sc.Trajectory, sc.Integrate, text.TextOps, text.Batching, text.Vocab, text.Clean,
      text.Classify, dedup.Dedup, sim.Ann, sim.GraphOps, sim.Quantize, ml.Reduce,
      multimodal.Multimodal, core.Sessions, core.Scores, streaming.StreamReplay)
      .flatMap(_.ops)
    val dups = all.groupBy(_.name).collect { case (n, os) if os.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names in the registry: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    core.Relational.q5RegionRevenue(spark, "/root/testdata/sf0.001")

  /** The ops Bench times, by name. */
  def timed: Seq[Op] = ops.filter(_.untimed.isEmpty).sortBy(_.name)

  /** Oracle SQL by query name; rows-only queries have no entry. */
  def oracleSql: Map[String, String] = ops.flatMap(o => o.oracleSql.map(o.name -> _)).toMap
}
