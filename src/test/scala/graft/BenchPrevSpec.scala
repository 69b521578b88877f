package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.SeqMap

/** Pins Bench.parsePrev against every artifact shape a
  * SPARK_GRAFT_BENCH_PREV file has actually shipped in (r12/r13
  * verdict items: a PREV that parses empty silently degraded the
  * drift set to the hand list twice; main now fails hard on that,
  * and this spec keeps the parser honest against all known shapes). */
class BenchPrevSpec extends AnyFunSuite {

  test("builder compact full map parses") {
    val m = Bench.parsePrev(
      """{"metric":"total","value":12.3,"unit":"sec","queries":{"q1_agg":0.62,"dedup_exact":1.75},"sf":"x"}""")
    assert(m == Map("q1_agg" -> 0.62, "dedup_exact" -> 1.75))
  }

  test("pretty-printed map with ': ' separators parses (the r10 sf1 shape)") {
    val m = Bench.parsePrev(
      """{"queries": {"q1_agg": 0.62, "abc_analysis": 3.4}}""")
    assert(m == Map("q1_agg" -> 0.62, "abc_analysis" -> 3.4))
  }

  test("driver wrapper with escaped tail string parses (the r12 failure shape)") {
    val m = Bench.parsePrev(
      """{"tail":"{\"metric\":\"total\",\"queries\":{\"q1_agg\":0.62,\"zipf_fit\":0.28}}"}""")
    assert(m == Map("q1_agg" -> 0.62, "zipf_fit" -> 0.28))
  }

  test("per-query object shape reads the suite field as the query's time") {
    val m = Bench.parsePrev(
      """{"queries":{"q1_agg":{"isolated":0.41,"suite":0.62,"build_s":0.1,"jobs":3}}}""")
    assert(m == Map("q1_agg" -> 0.62))
  }

  test("a record written by Bench's writer parses back to name -> suite") {
    val s = Bench.Sample(0.5, 0.1, 0.05, Nil, Nil)
    val rec = Bench.record(SeqMap("sf" -> "x"), Seq(
      Bench.Measured("q1_agg", Seq(s, s.copy(wall = 0.4)), 2, 30, builtMemo = false),
      Bench.Measured("zipf_fit", Seq(s, s.copy(wall = -1.0)), 0, 0, builtMemo = false)),
      Map("q1_agg" -> Map("isolated" -> 0.3)))
    assert(Bench.parsePrev(rec) == Map("q1_agg" -> 0.4, "zipf_fit" -> -1.0))
  }

  test("a file with no queries key parses to empty (main then fails hard)") {
    assert(Bench.parsePrev("""{"metric":"total","value":1.0}""").isEmpty)
    assert(Bench.parsePrev("").isEmpty)
    // a wrapper tail that starts inside the JSON line
    assert(Bench.parsePrev(
      """{"tail":"_agg\":0.62,\"zipf_fit\":0.28}}\n[success] done"}""").isEmpty)
  }

  // r14 verdict item 4: drift auto-isolation is STANDING — when PREV is
  // unset, a full-protocol run discovers the newest builder full map
  // itself instead of degrading to the hand list.
  test("discoverPrev picks the highest-round builder full map, _final wins within a round") {
    val dir = java.nio.file.Files.createTempDirectory("bench_prev")
    def touch(n: String) = java.nio.file.Files.writeString(dir.resolve(n), "{}")
    touch("BENCH_builder_r9_full.json")
    touch("BENCH_builder_r12_full.json")
    touch("BENCH_builder_r12_full_final.json")
    touch("BENCH_builder_r12_sf1.json")     // not a full map — ignored
    touch("BENCH_r13.json")                 // driver wrapper — ignored
    touch("CORRECTNESS_builder_r14.json")   // not a bench map — ignored
    assert(Bench.discoverPrev(dir).map(p => dir.relativize(
      java.nio.file.Paths.get(p)).toString)
      .contains("BENCH_builder_r12_full_final.json"))
  }

  test("discoverPrev returns None when no builder full map exists") {
    val dir = java.nio.file.Files.createTempDirectory("bench_prev_empty")
    assert(Bench.discoverPrev(dir).isEmpty)
  }
}
