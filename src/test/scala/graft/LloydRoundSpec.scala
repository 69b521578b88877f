package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The shared grid-Lloyd round primitive (`Reduce.lloydRounds`) on a
  * hand-built fixture whose every centroid and assignment is worked out
  * below, plus the job budget of the training behind kmeans_clusters. */
class LloydRoundSpec extends SparkSpecBase {

  // (group, id, x, xq, initial k). Dimension 2 is a constant 0.001
  // (grid 1) so every centroid carries it unchanged.
  //
  // Group 0, k0 = id mod 3. x·1e6 is an exact half for id 0 (-0.5 → -1)
  // and id 3 (10000.5 → 10001), both rounded away from zero.
  //  round 1: c0 = {0, 3} sum 10000 → cq 5; c1 = {1, 4} sum 10000 → cq 5;
  //           c2 = {2} → cq 10. Ids 0 and 1 (grid 0) tie at d² 25
  //           between c0 and c1: the smaller k wins, so cluster 1
  //           empties and drops out of the table.
  //  rounds 2-3: c0 = {0, 1} sum -1 → cv -5e-7, cq 0;
  //              c2 = {2, 3, 4} sum 30001 → cv 30001/3e6, cq 10.
  // Group 1, k0 = id mod 2: the centroids sit on exact halves of the
  // 1e-3 grid, cv·1000 = 2.5 → 3 and -2.5 → -3.
  private val fixture = Seq(
    Row(0, 0L, Seq(-0.0000005, 0.001), Seq(0L, 1L), 0L),
    Row(0, 1L, Seq(0.0, 0.001), Seq(0L, 1L), 1L),
    Row(0, 2L, Seq(0.01, 0.001), Seq(10L, 1L), 2L),
    Row(0, 3L, Seq(0.0100005, 0.001), Seq(10L, 1L), 0L),
    Row(0, 4L, Seq(0.01, 0.001), Seq(10L, 1L), 1L),
    Row(1, 10L, Seq(0.002, 0.001), Seq(2L, 1L), 0L),
    Row(1, 12L, Seq(0.003, 0.001), Seq(3L, 1L), 0L),
    Row(1, 11L, Seq(-0.0025, 0.001), Seq(-3L, 1L), 1L),
    Row(1, 13L, Seq(-0.0025, 0.001), Seq(-3L, 1L), 1L))

  private val schema = StructType(Seq(
    StructField("grp", IntegerType), StructField("id", LongType),
    StructField("v", ArrayType(DoubleType)), StructField("xq", ArrayType(LongType)),
    StructField("k0", LongType)))

  test("grid-Lloyd primitive: exact halves, d² ties, an emptied cluster, two groups") {
    // the fixture's halves are exact in binary, as the comments claim
    assert(-0.0000005 * 1e6 == -0.5 && 0.0100005 * 1e6 == 10000.5)
    assert(5000 / (1e6 * 2) * 1000 == 2.5 && -5000 / (1e6 * 2) * 1000 == -2.5)
    val pts = spark.createDataFrame(
      spark.sparkContext.parallelize(fixture, 3), schema)
    val (assign, cents) = ml.Reduce.gridLloydFit(pts)
    assert(assign.columns.toSeq == Seq("grp", "id", "k", "d2"))
    assert(cents.columns.toSeq == Seq("grp", "k", "cv", "cq"))
    val a = assign.collect().map(r => r.getLong(1) -> (r.getInt(0), r.getLong(2), r.getLong(3))).toMap
    assert(a == Map(
      0L -> (0, 0L, 0L), 1L -> (0, 0L, 0L),
      2L -> (0, 2L, 0L), 3L -> (0, 2L, 0L), 4L -> (0, 2L, 0L),
      10L -> (1, 0L, 1L), 12L -> (1, 0L, 0L), 11L -> (1, 1L, 0L), 13L -> (1, 1L, 0L)))
    val c = cents.collect().map(r =>
      (r.getInt(0), r.getLong(1)) -> (r.getSeq[Double](2), r.getSeq[Long](3))).toMap
    assert(c == Map(
      (0, 0L) -> (Seq(-1 / 2e6, 0.001), Seq(0L, 1L)),
      (0, 2L) -> (Seq(30001 / 3e6, 0.001), Seq(10L, 1L)),
      (1, 0L) -> (Seq(0.0025, 0.001), Seq(3L, 1L)),
      (1, 1L) -> (Seq(-0.0025, 0.001), Seq(-3L, 1L))))
  }

  test("grid-Lloyd primitive: residual vectors average as round(sum / n)") {
    // one group, k0 = id mod 2; sums 3 and -5 over two points each:
    // 1.5 → 2 and -2.5 → -3, then the argmin settles on the same split
    import ml.Reduce.{LloydPoint, lloydRounds, nearest}
    val pts = Seq((1L, 1L, 0L), (2L, 2L, 0L), (3L, -2L, 1L), (4L, -3L, 1L))
      .map { case (id, r, k0) => LloydPoint(7, id, Array(r), Array(r), k0) }
    val table = lloydRounds(spark.sparkContext.parallelize(pts, 2), residual = true)
    assert(table.keySet == Set(7))
    val c = table(7)
    assert(c.k.toSeq == Seq(0L, 1L) && c.n.toSeq == Seq(2L, 2L))
    assert(c.cv.map(_.toSeq).toSeq == Seq(Seq(1.5), Seq(-2.5)))
    assert(c.cq.map(_.toSeq).toSeq == Seq(Seq(2L), Seq(-3L)))
    assert(pts.map(p => p.id -> nearest(p.xq, c)).toMap ==
      Map(1L -> (0L, 1L), 2L -> (0L, 0L), 3L -> (1L, 1L), 4L -> (1L, 0L)))
  }

  test("kmeans_clusters trains in at most LloydRounds + 2 jobs") {
    api.Memo.reset()
    val jobs = Bench.Recorder.jobs(spark)(ml.Reduce.lloydState(spark, sf, Seq(10))) // kmeans_clusters' training
    assert(jobs >= 1 && jobs <= ml.Reduce.LloydRounds + 2,
      s"kmeans_clusters training launched $jobs jobs")
  }
}
