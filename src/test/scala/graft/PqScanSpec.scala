package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The PQ family's one-scan search (`ann_pq_topk`, `ann_ivfpq_topk`,
  * `ann_ivfpq_residual_topk`) against a nested-loop reference built
  * from the definition, its job budget, and its edge shapes. */
class PqScanSpec extends SparkSpecBase {

  private val queries: Seq[(String, (SparkSession, String) => DataFrame, Boolean, Int)] = Seq(
    ("ann_pq_topk", sim.Quantize.annPqTopk _, false, 16),
    ("ann_ivfpq_topk", sim.Quantize.annIvfPqTopk _, false, 4),
    ("ann_ivfpq_residual_topk", sim.Quantize.annIvfPqResidualTopk _, true, 4))

  /** `embeddings` (vec_id, embedding, label) written to a fresh temp dir. */
  private def embeddingsDir(rows: Seq[Row]): String = {
    val dir = java.nio.file.Files.createTempDirectory("pq-fixture").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Tables.embeddings(spark, sf).schema)
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** A 64-dim vector, zero but for `dims`. */
  private def vec(id: Long, dims: (Int, Float)*): Row = {
    val v = Array.fill(64)(0f)
    dims.foreach { case (d, x) => v(d) = x }
    Row(id, v.toSeq, 0)
  }

  // Coarse init cell and PQ init code are both vec_id mod 16; the
  // queries are ids 0 and 50. Every vector lies in sub-space 0.
  //  - q1 = 0 at the origin and 12 copies of w = 0.001·e0 share cell 0,
  //    so q1's ten nearest are 10 of 12 equal-ADC copies: the cut falls
  //    inside a tie, and q1 itself (ADC 1 too) must never appear.
  //  - 1 sits at 0.1·e0 with 9 and 25 (init cell 9): both round-1
  //    centroids are 0.1·e0, every point ties to cell 1, and cell 9
  //    empties after round 1.
  //  - q2 = 50 at 10·e2 is alone in cell 2; 6, 7, 8, 10 sit 0.05 from
  //    it along ±e3 and ±e4, one per cell, so its probe list cuts
  //    through four cells at equal d² (6, 7, 8 win) and its probed
  //    cells hold only 3 candidates.
  private val fixture =
    Seq(vec(0L), vec(1L, 0 -> 0.1f), vec(9L, 0 -> 0.1f), vec(25L, 0 -> 0.1f),
      vec(50L, 2 -> 10f), vec(6L, 2 -> 10f, 3 -> 0.05f), vec(7L, 2 -> 10f, 3 -> -0.05f),
      vec(8L, 2 -> 10f, 4 -> 0.05f), vec(10L, 2 -> 10f, 4 -> -0.05f)) ++
      (1 to 12).map(i => vec(16L * i, 0 -> 0.001f))

  /** Which boundary cases the reference met in one query. */
  private case class Cases(emptied: Boolean, probeTie: Boolean, cutTie: Boolean,
      fewCandidates: Boolean)

  private def round(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  private def d2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
  private def nearest(xq: Seq[Long], table: Map[Long, Seq[Long]]): Long =
    table.toSeq.map { case (k, c) => (d2(xq, c), k) }.min._2

  /** Grid Lloyd on (id, summed vector, grid vector), init k = id mod 16:
    * every round's centroid table k → grid centroid. */
  private def lloyd(pts: Seq[(Long, Seq[Long], Seq[Long])], residual: Boolean)
      : Seq[Map[Long, Seq[Long]]] = {
    var assign = pts.map(p => p._1 -> Math.floorMod(p._1, 16L)).toMap
    (1 to ml.Reduce.LloydRounds).map { _ =>
      val table = pts.groupBy(p => assign(p._1)).map { case (k, ms) =>
        val n = ms.size
        k -> ms.map(_._2).transpose.map { c =>
          if (residual) round(c.sum / n.toDouble) else round(c.sum / (1e6 * n) * 1000)
        }
      }
      assign = pts.map(p => p._1 -> nearest(p._3, table)).toMap
      table
    }
  }

  /** The query by definition: train, encode, probe `nprobe` cells by
    * (d2, cell), score every other vector in them, keep the first 10
    * by (adc, vec_id). Rows (qid, neighbor_id, adc_d2, rk). */
  private def reference(vecs: Seq[(Long, Seq[Double])], residual: Boolean, nprobe: Int)
      : (Seq[(Long, Long, Long, Long)], Cases) = {
    val pts = vecs.map { case (id, v) => (id, v.map(x => round(x * 1e6)), v.map(x => round(x * 1000))) }
    val cellRounds = lloyd(pts, residual = false)
    val cells = cellRounds.last
    val cellOf = pts.map(p => p._1 -> nearest(p._3, cells)).toMap
    def minus(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => x - y }
    def sub(v: Seq[Long], s: Int) = v.slice(s * 8, s * 8 + 8)
    val enc = pts.map(p => p._1 -> (if (residual) minus(p._3, cells(cellOf(p._1))) else p._3)).toMap
    val books = (0 until 8).map { s =>
      lloyd(pts.map(p => (p._1, sub(if (residual) enc(p._1) else p._2, s), sub(enc(p._1), s))),
        residual).last
    }
    val codes = pts.map(p => p._1 -> (0 until 8).map(s => nearest(sub(enc(p._1), s), books(s)))).toMap
    val perQuery = pts.filter(_._1 % 50 == 0).map { case (qid, _, qxq) =>
      val byD2 = cells.toSeq.map { case (c, cq) => (d2(qxq, cq), c) }.sorted
      val probed = byD2.take(nprobe).map(_._2).toSet
      val scored = pts.filter(p => probed(cellOf(p._1)) && p._1 != qid).map { p =>
        val qv = if (residual) minus(qxq, cells(cellOf(p._1))) else qxq
        ((0 until 8).map(s => d2(sub(qv, s), books(s)(codes(p._1)(s)))).sum, p._1)
      }.sorted
      val rows = scored.take(10).zipWithIndex.map { case ((adc, id), r) => (qid, id, adc, r + 1L) }
      (rows, Cases(emptied = cellRounds.head.size > cells.size,
        probeTie = byD2.size > nprobe && byD2(nprobe - 1)._1 == byD2(nprobe)._1,
        cutTie = scored.size > 10 && scored(9)._1 == scored(10)._1,
        fewCandidates = scored.size < 10))
    }
    (perQuery.flatMap(_._1).sorted, perQuery.map(_._2).reduce((a, b) =>
      Cases(a.emptied || b.emptied, a.probeTie || b.probeTie, a.cutTie || b.cutTie,
        a.fewCandidates || b.fewCandidates)))
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted

  test("PQ scans equal the nested-loop definition on ties, an emptied cell and a thin probe") {
    val dir = embeddingsDir(fixture)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    queries.foreach { case (name, run, residual, nprobe) =>
      val (want, cases) = reference(vecs, residual, nprobe)
      assert(rowsOf(run(spark, dir)) == want, name)
      // the fixture reaches every boundary it was built for
      assert(cases.emptied && cases.cutTie, s"$name: $cases")
      if (nprobe < 16) assert(cases.probeTie && cases.fewCandidates, s"$name: $cases")
      // q1's ten come from the tied copies, smallest ids first
      assert(want.filter(_._1 == 0L).map(_._2) == (1 to 10).map(16L * _), name)
      if (nprobe < 16) assert(want.filter(_._1 == 50L).map(_._2) == Seq(6L, 7L, 8L), name)
    }
  }

  test("PQ queries launch at most 8 (flat), 9 (IVF) and 12 (residual) jobs") {
    val caps = Map("ann_pq_topk" -> 8, "ann_ivfpq_topk" -> 9, "ann_ivfpq_residual_topk" -> 12)
    queries.foreach { case (name, run, _, _) =>
      api.Memo.reset()
      val jobs = Bench.Recorder.jobs(spark)(run(spark, sf).collect())
      info(s"$name: $jobs jobs")
      assert(jobs >= 1 && jobs <= caps(name), s"$name launched $jobs jobs")
    }
  }

  test("PQ queries on an empty and on a one-vector corpus return no rows, declared schema") {
    val one = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L).collect().toSeq
    assert(one.size == 1)
    Seq(embeddingsDir(Nil), embeddingsDir(one)).foreach { dir =>
      queries.foreach { case (name, run, _, _) =>
        val df = run(spark, dir)
        assert(df.schema == run(spark, sf).schema, name)
        assert(df.collect().isEmpty, s"$name on $dir")
      }
    }
  }
}
