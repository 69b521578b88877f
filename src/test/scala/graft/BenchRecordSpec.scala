package graft

import com.fasterxml.jackson.databind.JsonNode
import scala.collection.immutable.SeqMap

/** Bench's per-query record on three queries at the smallest SF: an
  * eager trainer, a lazy relational query and the prefix join (whose
  * stages update named counters), two cold samples each, plus the
  * stage-flag rules on hand-made stage rows. */
class BenchRecordSpec extends SparkSpecBase {
  private val runs = 2

  private lazy val record: JsonNode = {
    // Bench's warm-up reads every table first; lineitem stands in here
    Tables.lineitem(spark, sf)
    val rec = Bench.Recorder.attach(spark)
    val byName = SparkEntry.ops.map(o => o.name -> o).toMap
    try Bench.mapper.readTree(Bench.record(SeqMap("sf" -> sf, "runs" -> runs),
      Seq("kmeans_clusters", "q1_pricing_summary", "dedup_jaccard_prefix").map(n =>
        Bench.measure(spark, sf, byName(n), runs, rec))))
    finally Bench.Recorder.detach(spark, rec)
  }
  private def q(name: String): JsonNode = record.get("queries").get(name)

  // a table read passes the schema inferred once per file version, so
  // building a lazy query launches no job: q1 runs all of its jobs under
  // exec
  test("an eager trainer books its rounds under build, a lazy query none") {
    assert(q("kmeans_clusters").get("build_jobs").asInt > 2)
    assert(q("q1_pricing_summary").get("build_jobs").asInt == 0)
    assert(q("q1_pricing_summary").get("jobs").asInt > 1)
  }

  test("prefix join counters: emitted = pruned + verified, true <= verified") {
    val c = q("dedup_jaccard_prefix").get("counters")
    def n(k: String): Long = c.get(s"graft.dedup.prefix.$k").asLong
    assert(n("emitted") == n("length_pruned") + n("position_pruned") + n("verified"), c)
    assert(n("true") > 0 && n("true") <= n("verified"), c)
    assert(q("kmeans_clusters").get("counters").isEmpty)
  }

  test("each query keeps every sample, and min <= median <= max") {
    Seq("kmeans_clusters", "q1_pricing_summary").foreach { n =>
      val e = q(n)
      assert(e.get("samples").size == runs, n)
      val Seq(min, med, max) = Seq("suite", "median", "max").map(e.get(_).asDouble)
      assert(min > 0 && min <= med && med <= max, s"$n: $min $med $max")
    }
  }

  test("build + plan + exec is within 5% of the fastest sample's wall time") {
    Seq("kmeans_clusters", "q1_pricing_summary").foreach { n =>
      val e = q(n)
      val parts = Seq("build_s", "plan_s", "exec_s").map(e.get(_).asDouble)
      assert(parts.forall(_ >= 0), s"$n: $parts")
      assert(math.abs(parts.sum - e.get("suite").asDouble) <= 0.05 * e.get("suite").asDouble,
        s"$n: $parts vs ${e.get("suite")}")
    }
  }

  test("stage flags: a single-task stage of 1 s or more, a shuffle-writing stage repeated") {
    def stage(id: Int, name: String, ms: Long, tasks: Int, bytes: Long = 0L) =
      Bench.Stage(id, name, ms, tasks, 0L, 0L, 0L, bytes, if (bytes > 0) 10L else 0L, 0L)
    assert(Bench.serialStages(Seq(stage(1, "a", 990, 1), stage(2, "b", 1000, 1),
      stage(3, "c", 5000, 2))).map(_.name) == Seq("b"))
    assert(Bench.repeatedStages(Seq(stage(1, "x", 10, 4, 100), stage(2, "x", 10, 4, 100),
      stage(3, "y", 10, 4, 100), stage(4, "y", 10, 4, 101), stage(5, "z", 10, 4))
    ).map(_.name) == Seq("x"))
  }
}
