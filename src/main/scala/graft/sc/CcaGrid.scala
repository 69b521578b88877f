package graft.sc

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #214 cca_project, hash-checked: the Cholesky → SVD → triangular
  * solve chain of the CCA derivation in Integrate.scala, run as
  * deterministic driver-side algebra on the integer-quantized Grams,
  * with every loop a STRICTLY ascending-index left fold seeded at 0.0 —
  * the pca_embeddings program applied to CCA.
  *
  * Pipeline (reference integrate.R:126-152 CCAIntegration):
  *  1. per-(batch,dim) standardization stats from integer-quantized
  *     sums of x and x² (order-free, bit-identical across engines);
  *  2. per-batch d×d Grams of the standardized z from quantized
  *     product sums (the cca_grams machinery) + 1e-9 ridge;
  *  3. driver-side 64×64 algebra, all ascending folds: Cholesky
  *     G=LLᵀ (column order), core M = L0ᵀL1, 12 rounds of subspace
  *     iteration + classical Gram-Schmidt on N = MᵀM (right singular
  *     vectors V), σ²=‖Mv‖² ordering (desc, k asc), u = Mv/‖Mv‖,
  *     sign-fix on v's largest-|loading| (first index on ties), then
  *     back-substitution W0 = L0⁻ᵀU, W1 = L1⁻ᵀV;
  *  4. one narrow distributed pass projects each cell through its
  *     batch's broadcast d×5 W (ascending aggregate fold, round 6dp,
  *     +0.0 canonicalizing −0.0).
  * The DuckDB oracle replays EVERY fold via
  * list_reduce(list_prepend(0.0, …)) over unrolled CTEs: 2×64
  * Cholesky columns, 12×5 GS steps, 2×64 back-substitution rows —
  * ~600 MATERIALIZED CTEs over ≤64-row tables (driver-geometry cost,
  * corpus touched exactly twice). The oracle unrolls at d=64 (the
  * embeddings schema); the Scala side is d-generic.
  *
  * IntegrateSpec pins the SVD algebra the result must satisfy: per-batch
  * orthonormal loadings and a diagonal, decreasing UᵀMV (at a tolerance
  * that allows for 12 subspace rounds).
  */
object CcaGrid {

  private val K = 5
  // 12 GS rounds on N⁸ (three bit-symmetric squarings of N = MᵀM) =
  // effective power 96: plain N needed ~100 rounds for the close-σ
  // tail (12 rounds left U-orthonormality at 5e-2, 24 at 1.8e-2), and
  // each unrolled GS round costs ~17 oracle CTEs while a squaring
  // costs 1 — power-up front is the cheap replay.
  private val Iters = 12
  private val D = 64 // oracle unroll width; Scala asserts it matches

  def ccaGridProject(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("batch", pmod(col("vec_id"), lit(2)))
    // 1. standardization stats: quantized sums per (batch, dim)
    val statRows = vecs
      .select(col("batch"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("batch"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(x * 1e6, 0) AS BIGINT)")).as("sq"),
        sum(expr("CAST(round(x * x * 1e6, 0) AS BIGINT)")).as("sq2"))
      .collect()
    val d = statRows.map(_.getInt(1)).max + 1
    require(d == D, s"cca_project oracle is unrolled at d=$D, data has d=$d")
    val mu = Array.fill(2, d)(0.0)
    val sd = Array.fill(2, d)(0.0)
    statRows.foreach { r =>
      val (b, i) = (r.getLong(0).toInt, r.getInt(1))
      val n = r.getLong(2)
      val m = r.getLong(3) / (1e6 * n)
      val e2 = r.getLong(4) / (1e6 * n)
      val vr = e2 - m * m
      mu(b)(i) = m
      sd(b)(i) = if (vr <= 0) 0.0 else math.sqrt(vr)
    }
    def arr(a: Array[Double]) = array(a.map(lit(_)): _*)
    val muCol = when(col("batch") === 0, arr(mu(0))).otherwise(arr(mu(1)))
    val sdCol = when(col("batch") === 0, arr(sd(0))).otherwise(arr(sd(1)))
    val std = vecs.withColumn("__mu", muCol).withColumn("__sd", sdCol)
      .withColumn("z", expr(
        "zip_with(v, zip_with(__mu, __sd, (m, s) -> named_struct('m', m, 's', s)), " +
          "(x, p) -> IF(p.s = 0D, 0D, (x - p.m) / p.s))"))
      .select(col("vec_id"), col("batch"), col("z"))
      .localCheckpoint() // scanned twice: gram pass + projection pass
    // 2. quantized Grams — one native QuantOuterProduct pass for both
    // batches (long[d²] partials, no n·d² explode)
    val gRows = std.groupBy(col("batch"))
      .agg(graft.functions.VectorFunctions.quantOuterProduct(col("z")).as("s"))
      .collect().map(r => r.getLong(0).toInt -> r.getSeq[Long](1))
    val g = Array.fill(2, d, d)(0.0)
    gRows.foreach { case (b, arr) =>
      var kk = 0
      while (kk < arr.length) { g(b)(kk / d)(kk % d) = arr(kk) / 1e6; kk += 1 }
    }
    (0 until 2).foreach(b => (0 until d).foreach(i => g(b)(i)(i) += 1e-9))
    // 3. driver algebra — every loop ascending, seeded 0.0
    def cholesky(gm: Array[Array[Double]]): Array[Array[Double]] = {
      val l = Array.fill(d, d)(0.0)
      var j = 0
      while (j < d) {
        var acc = 0.0; var k = 0
        while (k < j) { acc += l(j)(k) * l(j)(k); k += 1 }
        l(j)(j) = math.sqrt(gm(j)(j) - acc)
        var i = j + 1
        while (i < d) {
          var a2 = 0.0; var k2 = 0
          while (k2 < j) { a2 += l(i)(k2) * l(j)(k2); k2 += 1 }
          l(i)(j) = (gm(i)(j) - a2) / l(j)(j)
          i += 1
        }
        j += 1
      }
      l
    }
    val l0 = cholesky(g(0))
    val l1 = cholesky(g(1))
    // core M = L0ᵀ L1 and N = MᵀM
    val mMat = Array.tabulate(d, d) { (i, j) =>
      var acc = 0.0; var k = 0
      while (k < d) { acc += l0(k)(i) * l1(k)(j); k += 1 }; acc
    }
    val nMat = Array.tabulate(d, d) { (i, j) =>
      var acc = 0.0; var k = 0
      while (k < d) { acc += mMat(k)(i) * mMat(k)(j); k += 1 }; acc
    }
    // N is bit-symmetric (a*b = b*a exactly, same fold order), so each
    // squaring written as Σ_k a(i)(k)·a(j)(k) replays as a row-row dot
    def sqSym(a: Array[Array[Double]]): Array[Array[Double]] =
      Array.tabulate(d, d) { (i, j) =>
        var acc = 0.0; var k = 0
        while (k < d) { acc += a(i)(k) * a(j)(k); k += 1 }; acc
      }
    val n8 = sqSym(sqSym(sqSym(nMat)))
    // subspace iteration + GS on N⁸ (the pcaGridEmbeddings loop)
    var vMat = Array.tabulate(K, d)((k, i) => if (k == i) 1.0 else 0.0)
    for (_ <- 1 to Iters) {
      val w = Array.tabulate(K, d) { (k, i) =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += n8(i)(j) * vMat(k)(j); j += 1 }; acc
      }
      for (k <- 0 until K) {
        val u = w(k).clone()
        for (p <- 0 until k) {
          var dot = 0.0; var i = 0
          while (i < d) { dot += w(k)(i) * vMat(p)(i); i += 1 }
          i = 0
          while (i < d) { u(i) -= dot * vMat(p)(i); i += 1 }
        }
        var s2 = 0.0; var i = 0
        while (i < d) { s2 += u(i) * u(i); i += 1 }
        val nrm = math.sqrt(s2)
        vMat(k) = u.map(_ / nrm)
      }
    }
    // σ² = ‖Mv‖² per k (ascending folds), ordering + sign + u
    val mv = Array.tabulate(K, d) { (k, i) =>
      var acc = 0.0; var j = 0
      while (j < d) { acc += mMat(i)(j) * vMat(k)(j); j += 1 }; acc
    }
    val s2s = Array.tabulate(K) { k =>
      var acc = 0.0; var i = 0
      while (i < d) { acc += mv(k)(i) * mv(k)(i); i += 1 }; acc
    }
    val order = (0 until K).sortBy(k => (-s2s(k), k))
    val uCols = Array.ofDim[Array[Double]](K)
    val vCols = Array.ofDim[Array[Double]](K)
    order.zipWithIndex.foreach { case (k, p) =>
      val q = vMat(k)
      val mx = q.map(math.abs).max
      val im = q.indexWhere(math.abs(_) == mx)
      val sg = if (q(im) < 0) -1.0 else 1.0
      val nrm = math.sqrt(s2s(k))
      uCols(p) = mv(k).map(x => sg * x / nrm)
      vCols(p) = q.map(x => sg * x)
    }
    // back-substitution: solve Lᵀx = y (ascending inner folds)
    def backSolve(l: Array[Array[Double]], y: Array[Double]): Array[Double] = {
      val x = new Array[Double](d)
      var i = d - 1
      while (i >= 0) {
        var acc = 0.0; var k = i + 1
        while (k < d) { acc += l(k)(i) * x(k); k += 1 }
        x(i) = (y(i) - acc) / l(i)(i)
        i -= 1
      }
      x
    }
    val w0 = (0 until K).map(p => backSolve(l0, uCols(p)))
    val w1 = (0 until K).map(p => backSolve(l1, vCols(p)))
    // 4. project through the broadcast per-batch d×K weights
    def wLit(w: Seq[Array[Double]]) = array(w.map(arr): _*)
    std.withColumn("__w", when(col("batch") === 0, wLit(w0)).otherwise(wLit(w1)))
      .select(col("vec_id"), col("batch").cast("long").as("batch"),
        posexplode(expr(
          "transform(__w, wk -> aggregate(zip_with(z, wk, (a, b) -> a * b), 0D, (acc, e) -> acc + e))"))
          .as(Seq("cc0", "value")))
      .select(col("vec_id"), col("batch"),
        (col("cc0") + 1).cast("long").as("cc"),
        (round(col("value"), 6) + lit(0.0)).as("cc_value"))
  }

  // ----------------------------------------------------------------
  // DuckDB replay. Shared fold helpers (the pcaGridSql vocabulary).
  private def fold(terms: String) =
    s"list_reduce(list_prepend(0.0, $terms), (a, b) -> a + b)"
  private def dotSql(a: String, b: String) =
    fold(s"list_transform(generate_series(1, $D), __k -> ($a)[__k] * ($b)[__k])")

  /** Cholesky column j1 (1-based) for batch b: diagonal from row j1's
    * prefix, then every row appends its column-j1 entry. */
  private def cholStepSql(b: Int, j1: Int): String =
    s"""lj${b}_$j1 AS (
         SELECT sqrt(g.grow[$j1] - ${fold("list_transform(r.lrow, __x -> __x * __x)")}) AS ljj
         FROM (SELECT grow FROM grow$b WHERE i = $j1) g,
              (SELECT lrow FROM ch${b}_${j1 - 1} WHERE i = $j1) r),
       ch${b}_$j1 AS MATERIALIZED (
         SELECT c.i, list_append(c.lrow,
             CASE WHEN c.i < $j1 THEN 0.0
                  WHEN c.i = $j1 THEN lj.ljj
                  ELSE (g.grow[$j1] - ${fold(s"list_transform(generate_series(1, ${j1 - 1}), __k -> c.lrow[__k] * rj.jrow[__k])")}) / lj.ljj
             END) AS lrow
         FROM ch${b}_${j1 - 1} c
         JOIN grow$b g ON g.i = c.i
         CROSS JOIN lj${b}_$j1 lj
         CROSS JOIN (SELECT lrow AS jrow FROM ch${b}_${j1 - 1} WHERE i = $j1) rj)"""

  /** One subspace-iteration round t on N: matmul + K GS steps + union
    * (the pcaGridSql iter, K=5, rows named nrow). */
  private def ccaIterSql(t: Int): String = {
    val matmul =
      s"""cw$t AS MATERIALIZED (
           SELECT v.k,
                  list(${fold("list_transform(generate_series(1, " + D + "), __j -> c.nrow[__j] * v.q[__j])")}
                       ORDER BY c.i) AS w
           FROM cv${t - 1} v, n8mat c
           GROUP BY v.k)"""
    def gs(k: Int): String = {
      val dots = (0 until k).map(p =>
        s"""cd${t}_${k}_$p AS (
             SELECT ${dotSql("w.w", "q.q")} AS d
             FROM (SELECT w FROM cw$t WHERE k = $k) w, cq${t}_$p q)""")
      val proj = (0 until k).map(p => s" - d$p.d * q$p.q[__i]").mkString
      val joins = (0 until k).map(p => s", cd${t}_${k}_$p d$p, cq${t}_$p q$p").mkString
      val qCte =
        s"""cq${t}_$k AS MATERIALIZED (
             SELECT list_transform(u, __x -> __x / sqrt(${fold("list_transform(u, __y -> __y * __y)")})) AS q
             FROM (
               SELECT list_transform(generate_series(1, $D), __i -> w.w[__i]$proj) AS u
               FROM (SELECT w FROM cw$t WHERE k = $k) w$joins))"""
      (dots :+ qCte).mkString(",\n       ")
    }
    (matmul +: (0 until K).map(gs) :+
      s"""cv$t AS MATERIALIZED (
           ${(0 until K).map(k => s"SELECT $k AS k, q FROM cq${t}_$k").mkString("\n           UNION ALL ")})""")
      .mkString(",\n       ")
  }

  /** Back-substitution step t (1-based; solves row i1 = D−t+1) for
    * weight table w$b over source columns `src` (u for batch 0, vq for
    * batch 1): prepend x_i1 so xs[k−i1] = x_k for already-solved k. */
  private def backStepSql(b: Int, t: Int, src: String): String = {
    val i1 = D - t + 1
    val inner =
      if (i1 == D) "0.0"
      else fold(s"list_transform(generate_series(${i1 + 1}, $D), __k -> lc.colv[__k] * b.xs[__k - $i1])")
    s"""bs${b}_$t AS MATERIALIZED (
         SELECT b.p, list_prepend((c.$src[$i1] - $inner) / lc.colv[$i1], b.xs) AS xs
         FROM bs${b}_${t - 1} b
         JOIN cuv c USING (p)
         CROSS JOIN (SELECT colv FROM lcol$b WHERE ci = $i1) lc)"""
  }

  private[graft] val ccaGridSql: String = {
    val prefix =
      s"""csrc AS MATERIALIZED (
           SELECT vec_id, vec_id % 2 AS batch, embedding::DOUBLE[] AS v FROM embeddings),
         cstats AS (
           SELECT batch, t.i AS dim, count(*) AS n,
                  sum(CAST(round(t.x * 1e6, 0) AS BIGINT)) AS sq,
                  sum(CAST(round(t.x * t.x * 1e6, 0) AS BIGINT)) AS sq2
           FROM csrc, LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i) t
           GROUP BY 1, 2),
         cmusd AS MATERIALIZED (
           SELECT batch,
                  list(sq / (1e6 * n) ORDER BY dim) AS mu,
                  list(CASE WHEN (sq2 / (1e6 * n)) - (sq / (1e6 * n)) * (sq / (1e6 * n)) <= 0
                            THEN 0.0
                            ELSE sqrt((sq2 / (1e6 * n)) - (sq / (1e6 * n)) * (sq / (1e6 * n))) END
                       ORDER BY dim) AS sd
           FROM cstats GROUP BY 1),
         czc AS MATERIALIZED (
           SELECT s.vec_id, s.batch,
                  list_transform(generate_series(1, $D),
                    __j -> CASE WHEN m.sd[__j] = 0 THEN 0.0
                                ELSE (s.v[__j] - m.mu[__j]) / m.sd[__j] END) AS z
           FROM csrc s JOIN cmusd m USING (batch)),
         cgq AS (
           SELECT batch, u.i, u2.j,
                  sum(CAST(round(z[u.i] * z[u2.j] * 1e6, 0) AS BIGINT)) AS sq
           FROM czc,
                LATERAL (SELECT unnest(generate_series(1, $D)) AS i) u,
                LATERAL (SELECT unnest(generate_series(1, $D)) AS j) u2
           GROUP BY 1, 2, 3),
         grow0 AS MATERIALIZED (
           SELECT i, list(sq / 1e6 + CASE WHEN i = j THEN 1e-9 ELSE 0.0 END ORDER BY j) AS grow
           FROM cgq WHERE batch = 0 GROUP BY i),
         grow1 AS MATERIALIZED (
           SELECT i, list(sq / 1e6 + CASE WHEN i = j THEN 1e-9 ELSE 0.0 END ORDER BY j) AS grow
           FROM cgq WHERE batch = 1 GROUP BY i),
         ch0_0 AS (SELECT unnest(generate_series(1, $D)) AS i, []::DOUBLE[] AS lrow),
         ch1_0 AS (SELECT unnest(generate_series(1, $D)) AS i, []::DOUBLE[] AS lrow),
         ${(1 to D).map(cholStepSql(0, _)).mkString(",\n         ")},
         ${(1 to D).map(cholStepSql(1, _)).mkString(",\n         ")},
         lcol0 AS MATERIALIZED (
           SELECT ci.ci, (SELECT list(lrow[ci.ci] ORDER BY i) FROM ch0_$D) AS colv
           FROM (SELECT unnest(generate_series(1, $D)) AS ci) ci),
         lcol1 AS MATERIALIZED (
           SELECT ci.ci, (SELECT list(lrow[ci.ci] ORDER BY i) FROM ch1_$D) AS colv
           FROM (SELECT unnest(generate_series(1, $D)) AS ci) ci),
         mmat AS MATERIALIZED (
           SELECT a.ci AS i, list(${dotSql("a.colv", "b.colv")} ORDER BY b.ci) AS mrow
           FROM lcol0 a, lcol1 b GROUP BY a.ci),
         mcol AS MATERIALIZED (
           SELECT ci.ci, (SELECT list(mrow[ci.ci] ORDER BY i) FROM mmat) AS colv
           FROM (SELECT unnest(generate_series(1, $D)) AS ci) ci),
         nmat AS MATERIALIZED (
           SELECT a.ci AS i, list(${dotSql("a.colv", "b.colv")} ORDER BY b.ci) AS nrow
           FROM mcol a, mcol b GROUP BY a.ci),
         n2mat AS MATERIALIZED (
           SELECT a.i, list(${dotSql("a.nrow", "b.nrow")} ORDER BY b.i) AS nrow
           FROM nmat a, nmat b GROUP BY a.i),
         n4mat AS MATERIALIZED (
           SELECT a.i, list(${dotSql("a.nrow", "b.nrow")} ORDER BY b.i) AS nrow
           FROM n2mat a, n2mat b GROUP BY a.i),
         n8mat AS MATERIALIZED (
           SELECT a.i, list(${dotSql("a.nrow", "b.nrow")} ORDER BY b.i) AS nrow
           FROM n4mat a, n4mat b GROUP BY a.i),
         cv0 AS (
           ${(0 until K).map(k =>
             s"SELECT $k AS k, list_transform(generate_series(1, $D), __i -> CASE WHEN __i = ${k + 1} THEN 1.0 ELSE 0.0 END) AS q")
             .mkString("\n           UNION ALL ")})"""
    val tail =
      s"""cmv AS MATERIALIZED (
           SELECT v.k, list(${dotSql("m.mrow", "v.q")} ORDER BY m.i) AS mv
           FROM cv$Iters v, mmat m GROUP BY v.k),
         cs2 AS (
           SELECT k, ${fold("list_transform(mv, __x -> __x * __x)")} AS s2 FROM cmv),
         cord AS (SELECT k, row_number() OVER (ORDER BY s2 DESC, k ASC) AS p FROM cs2),
         csgn AS (
           SELECT k, CASE WHEN q[list_position(list_transform(q, __x -> abs(__x)),
                                               list_max(list_transform(q, __x -> abs(__x))))] < 0
                          THEN -1.0 ELSE 1.0 END AS s
           FROM cv$Iters),
         cuv AS MATERIALIZED (
           SELECT o.p,
                  list_transform(c.mv, __x -> (g.s * __x) / sqrt(s2.s2)) AS u,
                  list_transform(v.q, __x -> g.s * __x) AS vq
           FROM cv$Iters v
           JOIN cmv c USING (k) JOIN cs2 s2 USING (k)
           JOIN cord o USING (k) JOIN csgn g USING (k)),
         bs0_0 AS (SELECT p, []::DOUBLE[] AS xs FROM cuv),
         bs1_0 AS (SELECT p, []::DOUBLE[] AS xs FROM cuv),
         ${(1 to D).map(backStepSql(0, _, "u")).mkString(",\n         ")},
         ${(1 to D).map(backStepSql(1, _, "vq")).mkString(",\n         ")},
         cw AS MATERIALIZED (
           SELECT 0 AS wb, p, xs FROM bs0_$D
           UNION ALL SELECT 1 AS wb, p, xs FROM bs1_$D)
         SELECT z.vec_id, CAST(z.batch AS BIGINT) AS batch, CAST(w.p AS BIGINT) AS cc,
                (round(${fold(s"list_transform(generate_series(1, $D), __j -> z.z[__j] * w.xs[__j])")}, 6) + 0.0) AS cc_value
         FROM czc z JOIN cw w ON z.batch = w.wb"""
    s"""WITH $prefix,
       ${(1 to Iters).map(ccaIterSql).mkString(",\n       ")},
       $tail"""
  }
}
