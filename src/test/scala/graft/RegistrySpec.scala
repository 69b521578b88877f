package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's declarations: every query name is registered once,
  * and the counts of timed, untimed, plan-exception and rows-only
  * queries only change when an `Op` declaration does. */
class RegistrySpec extends AnyFunSuite {
  private val ops = SparkEntry.ops

  test("every query name is registered once") {
    assert(ops.map(_.name).distinct.size == ops.size)
    assert(SparkEntry.queries.size == ops.size)
  }

  test("declared counts: timed, untimed, quadratic, global-window, rows-only") {
    assert(ops.size == 359)
    assert(SparkEntry.timed.size == 325)
    assert(ops.count(_.untimed.isDefined) == 34)
    assert(ops.count(_.quadratic.isDefined) == 121)
    assert(ops.count(_.globalWindow.isDefined) == 27)
    val rowsOnly = ops.collect { case Op(n, _, Op.RowsOnly(_), _, _, _) => n }
    assert(rowsOnly.sorted ==
      Seq("stream_funnel_replay", "stream_neardup_replay", "text_compression"))
    assert(SparkEntry.oracleSql.size == 356)
  }

  test("every declaration carries a non-empty reason") {
    val empty = ops.flatMap { o =>
      val check = o.check match {
        case Op.Oracle(sql) => "oracle" -> sql
        case Op.RowsOnly(why) => "rowsOnly" -> why
      }
      (Seq(check) ++ Seq("untimed" -> o.untimed, "quadratic" -> o.quadratic,
          "globalWindow" -> o.globalWindow).collect { case (k, Some(v)) => k -> v })
        .collect { case (k, v) if v.trim.isEmpty => s"${o.name}.$k" }
    }
    assert(empty.isEmpty, s"empty declarations: ${empty.mkString(", ")}")
  }
}
