package graft

import com.fasterxml.jackson.databind.JsonNode
import scala.collection.immutable.SeqMap

/** Bench's per-query record on two queries at the smallest SF: an eager
  * trainer and a lazy relational query, two cold samples each, plus the
  * stage-flag rules on hand-made stage rows. */
class BenchRecordSpec extends SparkSpecBase {
  private val runs = 2

  private lazy val record: JsonNode = {
    val rec = Bench.Recorder.attach(spark)
    val byName = SparkEntry.ops.map(o => o.name -> o).toMap
    try Bench.mapper.readTree(Bench.record(SeqMap("sf" -> sf, "runs" -> runs),
      Seq("kmeans_clusters", "q1_pricing_summary").map(n =>
        Bench.measure(spark, sf, byName(n), runs, rec))))
    finally Bench.Recorder.detach(spark, rec)
  }
  private def q(name: String): JsonNode = record.get("queries").get(name)

  // Spark's parquet reader infers a table's schema in a one-task job
  // while the frame is built, so a lazy query books one build job per
  // table read: q1 reads lineitem once and runs the rest under exec
  test("an eager trainer books its rounds under build, a lazy query only its table read") {
    assert(q("kmeans_clusters").get("build_jobs").asInt > 2)
    assert(q("q1_pricing_summary").get("build_jobs").asInt == 1)
    assert(q("q1_pricing_summary").get("jobs").asInt > 1)
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
