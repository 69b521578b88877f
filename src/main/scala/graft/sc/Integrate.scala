package graft.sc

import graft.{Op, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch integration by mutual nearest neighbors — the distributed
  * analog of the reference's anchor-based integration wrappers
  * (`/root/reference/R/integrate.R:51-181`: Seurat `IntegrateLayers`
  * CCA anchors + `RunHarmony`), re-expressed Spark-first after
  * Haghverdi et al. 2018 (MNN correction).
  *
  * The decomposition:
  *  - #206 `mnn_pairs`      — mutual cross-batch top-k cosine pairs
  *    (the anchors). Exact scorer = oracle path (the documented BNL
  *    shape of dedup_embedding); `mnn_pairs_lsh` is the corpus-scale
  *    twin over hyperplane-bucket candidates.
  *  - #207 `mnn_shift`      — the per-dimension batch-correction
  *    vector estimated from the anchors only (NOT from all cells:
  *    resistance to batch composition differences is the entire point
  *    of MNN over plain per-batch centering, which #28 already does).
  *  - #208 `mnn_correct`    — the shift applied to every target-batch
  *    embedding (melted to (cell, dim) rows).
  *
  * Determinism at scale: the shift accumulates integer-quantized
  * differences (round(δ·1e6) as BIGINT — the semantic_dedup centroid
  * trick), so the aggregation is order-independent and hash-exact on
  * any partitioning; the division back to double is a single IEEE op
  * both engines perform identically.
  *
  * Batches are pmod(vec_id, 2): batch 0 = reference, batch 1 = target.
  */
object Integrate extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)
  import graft.functions.VectorFunctions.{dot, topKByScore, hyperplaneBucket}

  private val K = 5
  private val LshPlanes = 5 // must match sim.Ann's bucket table (shared oracle prefix)

  private def batched(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.spread(
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("batch", pmod(col("vec_id"), lit(2)))

  /** Cross-batch scored candidates, exact: every (ref, tgt) pair. The
    * reference side broadcasts — the documented quadratic oracle shape;
    * the LSH variant below is the plan you run at corpus scale. */
  private def scoredExact(s: SparkSession, dir: String): DataFrame = {
    val vecs = batched(s, dir)
    val b0 = vecs.filter(col("batch") === 0)
      .select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val b1 = vecs.filter(col("batch") === 1)
      .select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    b1.crossJoin(broadcast(b0))
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cs"))
  }

  /** Cross-batch scored candidates via shared hyperplane buckets: the
    * target side probes its own bucket plus all hamming-1 flips (the
    * hardNegativesLsh convention), the reference side joins on the
    * bucket key — bounded fan-out, no corpus broadcast. */
  private def scoredLsh(s: SparkSession, dir: String): DataFrame = {
    val vecs = batched(s, dir)
      .withColumn("bucket", hyperplaneBucket(col("v"), LshPlanes))
    val b0 = vecs.filter(col("batch") === 0)
      .select(col("vec_id").as("a"), col("v").as("va"), col("nrm").as("na"),
        col("bucket"))
    val b1 = vecs.filter(col("batch") === 1)
      .select(col("vec_id").as("b"), col("v").as("vb"), col("nrm").as("nb"),
        explode(expr(s"""transform(sequence(0, $LshPlanes),
          p -> IF(p = 0, bucket, bucket ^ shiftleft(1L, p - 1)))""")).as("bucket"))
    b0.hint("shuffle_hash").join(b1.hint("shuffle_hash"), Seq("bucket"))
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cs"))
      .dropDuplicates("a", "b")
  }

  /** Mutual top-K filter over a scored candidate table: (a,b) survives
    * iff b is in a's top-K AND a is in b's top-K (score desc, id asc —
    * the total order topKByScore and the SQL windows share). */
  private def mutualTopK(scored0: DataFrame): DataFrame = {
    val scored = scored0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val topA = scored.groupBy(col("a"))
      .agg(topKByScore(col("cs"), col("b"), K).as("tk"))
      .select(col("a"), explode(col("tk")).as("e"))
      .select(col("a"), col("e.id").as("b"), col("e.score").as("cs"))
    val topB = scored.groupBy(col("b"))
      .agg(topKByScore(col("cs"), col("a"), K).as("tk"))
      .select(col("b"), explode(col("tk")).as("e"))
      .select(col("e.id").as("a"), col("b"))
    topA.join(topB, Seq("a", "b"))
      .select(col("a").as("ref_id"), col("b").as("tgt_id"), r(col("cs"), 6).as("cos_sim"))
  }

  // ---------------------------------------------------------------
  // 206. MNN anchor pairs (exact = oracle path; _lsh = scale path).
  def mnnPairs(s: SparkSession, dir: String): DataFrame =
    mutualTopK(scoredExact(s, dir))

  def mnnPairsLsh(s: SparkSession, dir: String): DataFrame =
    mutualTopK(scoredLsh(s, dir))

  // ---------------------------------------------------------------
  // 207. per-dimension batch-shift vector from the anchors: for dim d,
  // delta_d = mean over pairs of (ref_d − tgt_d), accumulated as
  // integer-quantized BIGINTs so the sum is order-independent.
  private def shiftFrom(s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    val vecs = batched(s, dir)
    val refV = vecs.select(col("vec_id").as("ref_id"), col("v").as("va"))
    val tgtV = vecs.select(col("vec_id").as("tgt_id"), col("v").as("vb"))
    pairs.select(col("ref_id"), col("tgt_id"))
      .join(refV, "ref_id").join(tgtV, "tgt_id")
      .select(posexplode(expr(
        "zip_with(va, vb, (x, y) -> CAST(round((x - y) * 1e6, 0) AS BIGINT))"))
        .as(Seq("dim", "q")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("q")).as("sq"))
      .select(col("dim"), col("n_pairs"),
        (col("sq") / (lit(1e6) * col("n_pairs"))).as("delta"))
  }

  def mnnShift(s: SparkSession, dir: String): DataFrame =
    shiftFrom(s, dir, mnnPairs(s, dir))
      .select(col("dim"), col("n_pairs"), r(col("delta"), 6).as("delta"))

  // ---------------------------------------------------------------
  // 208. apply the shift to every target-batch cell: melted
  // (vec_id, dim, x, x_corrected). The 64-row shift table broadcasts;
  // the target batch streams through one narrow posexplode — linear,
  // shuffle-free on the fact side.
  def mnnCorrect(s: SparkSession, dir: String): DataFrame = {
    val delta = shiftFrom(s, dir, mnnPairs(s, dir)) // unrounded here; rounding is applied after the add
    batched(s, dir).filter(col("batch") === 1)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("x"))
      .join(broadcast(delta.select(col("dim"), col("delta"))), "dim")
      .select(col("vec_id"), col("dim"),
        r(col("x"), 6).as("x"), r(col("x") + col("delta"), 6).as("x_corrected"))
  }

  // ---------------------------------------------------------------
  // 209-210. Harmony-style iterative cluster-conditional correction —
  // the OTHER half of integrate.R's integration surface (RunHarmony,
  // integrate.R:103-120): alternate (cluster on the corrected space,
  // subtract each cluster's per-batch centroid displacement) for 2
  // unrolled iterations. Initial clustering = the 5-plane hyperplane
  // sign buckets (the shared lsig table, so the oracle reuses
  // Ann.lshSigPrefixSql verbatim).
  //
  // Determinism is engineered, not hoped for:
  //  - centroids accumulate integer-quantized values (round(x·1e6) as
  //    BIGINT) — order-independent sums, exact on any partitioning;
  //  - ASSIGNMENT distances are computed on a 1e-3 integer grid
  //    (round(x·1e3), the SQ8/ADC precedent) — argmin over integer
  //    d² with cluster-id tiebreak has NO fp ambiguity at all;
  //  - corrections apply identical IEEE ops (x − (cb − c)) to
  //    identical doubles in both engines.
  // Scale: centroid tables are ≤32 rows of d-arrays (broadcast); the
  // fact side streams through one posexplode per aggregation and one
  // zip_with fold per assignment/correction; localCheckpoint truncates
  // the plan between iterations (the medianPolish contract).

  private def quant1e6(v: String) =
    expr(s"transform($v, x -> CAST(round(x * 1e6, 0) AS BIGINT))")
  private def gridded(v: String) =
    expr(s"transform($v, x -> CAST(round(x * 1000, 0) AS BIGINT))")

  // r15 optimization (the gridLloyd rewrite, guide §2.3/§2.4): the
  // cluster assignment k RIDES the vector frame through the whole
  // iteration, so the cur⋈g fact joins disappear (centroids/corrections
  // aggregate cur directly) and the n×|k| exploded argmin exchange
  // becomes a per-row fold over the broadcast centroid array. Integer
  // d² with the (d2, k) total order and the exact-rational correction
  // arithmetic are unchanged, so the corrected values and the oracle
  // hashes replay exactly.

  /** Per-cluster centroids of `cur` under the assignment it carries in
    * `k`: exact-rational array `c` + assignment-grid array `cq`. */
  private def centroidsOf(cur: DataFrame): DataFrame =
    // one native quant_vec_sum pass (long[d] buffer per k, bit-identical
    // to the posexplode per-dim sums it replaces — same q() rounding)
    cur.groupBy(col("k"))
      .agg(graft.functions.VectorFunctions.quantVecSum(col("v")).as("sq"),
        count(lit(1)).as("n"))
      .select(col("k"), expr("transform(sq, q -> q / (1e6 * n))").as("c"))
      .withColumn("cq", gridded("c"))

  /** Nearest-centroid re-assignment on the integer grid (d² BIGINT,
    * tie → smallest cluster id): overwrites `k` via a per-row argmin
    * fold over the ≤|k|-entry broadcast centroid array. */
  private def assignTo(cur: DataFrame, cents: DataFrame): DataFrame = {
    val carr = cents.agg(collect_list(struct(col("k"), col("cq"))).as("cents"))
    cur.withColumn("xq", gridded("v"))
      .crossJoin(broadcast(carr))
      .withColumn("m", expr(
        """array_min(transform(cents, ce -> named_struct(
          |  'd2', aggregate(zip_with(xq, ce.cq, (a, b) -> (a - b) * (a - b)),
          |          0L, (s, e) -> s + e),
          |  'k', ce.k)))""".stripMargin))
      .select(col("vec_id"), col("batch"), col("v"), col("m.k").as("k"))
  }

  /** One correction pass: v := v − (centroid(k, batch) − centroid(k)),
    * centroids from the integer-quantized sums of `cur` under the
    * assignment it carries; `k` rides along unchanged. */
  private def correctBy(cur: DataFrame): DataFrame = {
    // fact-side pass is ONE quant_vec_sum aggregate to (k, batch)
    // partials (bit-identical to the posexplode per-dim sums); the
    // k-level rollup re-expands only the BOUNDED (k × batch) partial
    // table — |k|·|batch|·d rows, not n·d
    val sums = cur.groupBy(col("k"), col("batch"))
      .agg(graft.functions.VectorFunctions.quantVecSum(col("v")).as("sq"),
        count(lit(1)).as("n"))
    val cb = sums.select(col("k"), col("batch"),
      expr("transform(sq, q -> q / (1e6 * n))").as("cb"))
    val cAll = sums
      .select(col("k"), col("n"), posexplode(col("sq")).as(Seq("dim", "q")))
      .groupBy(col("k"), col("dim"))
      .agg(sum(col("q")).as("s2"), sum(col("n")).as("n2"))
      .withColumn("cv", col("s2") / (lit(1e6) * col("n2")))
      .groupBy(col("k"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, cv))), s -> s.cv)").as("call"))
    cur.join(broadcast(cb), Seq("k", "batch"))
      .join(broadcast(cAll), Seq("k"))
      .select(col("vec_id"), col("batch"),
        expr("zip_with(v, zip_with(cb, call, (p, q) -> p - q), (x, d) -> x - d)").as("v"),
        col("k"))
  }

  /** The 2-iteration state: (corrected vectors, final assignment).
    * Memoized per (session, dir): harmony_correct and harmony_mixing
    * both consume it, and the iteration (5 eager localCheckpoint jobs)
    * was the most expensive pair in the bench when paid twice. The
    * checkpointed RDDs are corpus-bounded (n×d doubles) and live for
    * the session — the standard shared-intermediate trade. */
  private val stateCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long, Unit), (DataFrame, DataFrame)]()
  graft.api.Memo.register(() => stateCache.clear())

  private def harmonyState(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.api.Memo.stamped(stateCache, s, dir, ()) {
      // the assignment column k rides cur throughout: k = g0 (bucket
      // init) → g1 after the first re-assign → g2 after the second;
      // correctBy corrects v under the k it carries (same sequencing
      // as the old (cur, g) pairs — g1 from cur0-centroids under g0,
      // cur1 corrected under g1, g2 from cur1-centroids under g1,
      // cur2 corrected under g2)
      val cur0 = batched(s, dir).select(col("vec_id"), col("batch"), col("v"))
        .withColumn("k", hyperplaneBucket(col("v"), LshPlanes))
      val cur0g1 = assignTo(cur0, centroidsOf(cur0)).localCheckpoint()
      val cur1 = correctBy(cur0g1).localCheckpoint()
      val cur1g2 = assignTo(cur1, centroidsOf(cur1)).localCheckpoint()
      val cur2 = correctBy(cur1g2)
      (cur2, cur2.select(col("vec_id"), col("k")))
    }

  def harmonyCorrect(s: SparkSession, dir: String): DataFrame = {
    val (cur2, _) = harmonyState(s, dir)
    cur2
      .select(col("vec_id"), col("batch").cast("long").as("batch"),
        col("k").cast("long").as("cluster"), col("v"))
      .select(col("vec_id"), col("batch"), col("cluster"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("batch"), col("cluster"),
        col("dim").cast("long").as("dim"), r(col("x"), 6).as("x_corrected"))
  }

  /** Integration-quality audit over the final clustering: batch counts
    * + inverse-Simpson batch diversity per cluster (the LISI-style
    * "did the batches actually mix" table the reference assesses
    * integrations with). */
  def harmonyMixing(s: SparkSession, dir: String): DataFrame = {
    val (_, g2) = harmonyState(s, dir)
    g2.withColumn("batch", pmod(col("vec_id"), lit(2)))
      .groupBy(col("k").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("batch") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("batch") === 1, 1L).otherwise(0L)).as("n_tgt"))
      .select(col("cluster"), col("n_cells"), col("n_ref"), col("n_tgt"),
        r(lit(1.0) / ((col("n_ref") / col("n_cells")) * (col("n_ref") / col("n_cells"))
          + (col("n_tgt") / col("n_cells")) * (col("n_tgt") / col("n_cells"))), 6)
          .as("batch_inv_simpson"))
  }

  // ---------------------------------------------------------------
  // oracles

  private val pairsPrefixSql =
    """b0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0),
       b1 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1),
       scored AS MATERIALIZED (
         SELECT b0.vec_id AS a, b1.vec_id AS b,
                list_cosine_similarity(b0.v, b1.v) AS cs
         FROM b0, b1),
       ra AS (SELECT a, b, cs,
                row_number() OVER (PARTITION BY a ORDER BY cs DESC, b ASC) AS rk
              FROM scored),
       rb AS (SELECT a, b,
                row_number() OVER (PARTITION BY b ORDER BY cs DESC, a ASC) AS rk
              FROM scored),
       pairs AS (
         SELECT ra.a, ra.b, ra.cs
         FROM ra JOIN rb ON ra.a = rb.a AND ra.b = rb.b
         WHERE ra.rk <= 5 AND rb.rk <= 5)"""

  private val mnnPairsSql =
    s"""WITH $pairsPrefixSql
       SELECT a AS ref_id, b AS tgt_id, round(cs, 6) AS cos_sim FROM pairs"""

  private val mnnPairsLshSql = {
    val sigPrefix = graft.sim.Ann.lshSigPrefixSql
    s"""WITH $sigPrefix,
       tprobes AS MATERIALIZED (
         SELECT s.vec_id AS b,
                CASE WHEN t.p < 0 THEN s.bucket
                     ELSE xor(s.bucket, (1::BIGINT << t.p)) END AS bucket
         FROM lsig s, LATERAL (SELECT unnest(generate_series(-1, ${LshPlanes - 1})) AS p) t
         WHERE s.vec_id % 2 = 1),
       cand AS (
         SELECT DISTINCT s0.vec_id AS a, p.b
         FROM tprobes p JOIN lsig s0 USING (bucket)
         WHERE s0.vec_id % 2 = 0),
       scored AS MATERIALIZED (
         SELECT c.a, c.b,
                list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS cs
         FROM cand c JOIN embeddings q ON c.a = q.vec_id
                     JOIN embeddings n ON c.b = n.vec_id),
       ra AS (SELECT a, b, cs,
                row_number() OVER (PARTITION BY a ORDER BY cs DESC, b ASC) AS rk
              FROM scored),
       rb AS (SELECT a, b,
                row_number() OVER (PARTITION BY b ORDER BY cs DESC, a ASC) AS rk
              FROM scored)
       SELECT ra.a AS ref_id, ra.b AS tgt_id, round(ra.cs, 6) AS cos_sim
       FROM ra JOIN rb ON ra.a = rb.a AND ra.b = rb.b
       WHERE ra.rk <= 5 AND rb.rk <= 5"""
  }

  private val shiftPrefixSql =
    s"""$pairsPrefixSql,
       pd AS (
         SELECT t.i - 1 AS dim,
                CAST(round((av.v[t.i] - bv.v[t.i]) * 1e6, 0) AS BIGINT) AS q
         FROM pairs p
         JOIN b0 av ON p.a = av.vec_id
         JOIN b1 bv ON p.b = bv.vec_id,
         LATERAL (SELECT unnest(generate_series(1, len(av.v))) AS i) t),
       shift AS (
         SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n_pairs,
                sum(q) / (1e6 * count(*)) AS delta
         FROM pd GROUP BY 1)"""

  private val mnnShiftSql =
    s"""WITH $shiftPrefixSql
       SELECT dim, n_pairs, round(delta, 6) AS delta FROM shift"""

  private val mnnCorrectSql =
    s"""WITH $shiftPrefixSql,
       tx AS (
         SELECT vec_id, t.i - 1 AS dim, t.x
         FROM b1, LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i) t)
       SELECT tx.vec_id, CAST(tx.dim AS BIGINT) AS dim,
              round(tx.x, 6) AS x, round(tx.x + sh.delta, 6) AS x_corrected
       FROM tx JOIN shift sh ON tx.dim = sh.dim"""

  // ---------------------------------------------------------------
  // 218. margin-based bitext mining (Artetxe & Schwenk 2019 — the
  // LASER/CCMatrix parallel-corpus miner): across the two "languages"
  // (batch parity), score every forward/backward nearest-neighbor
  // candidate by the RATIO margin — cos(x,y) normalized by the mean of
  // both sides' k=4 neighborhood cosines — and keep each x's best
  // partner when the margin clears 1.05. The margin denominator is why
  // this beats raw cosine thresholds at corpus scale: hubs (vectors
  // near everything) get discounted by their own dense neighborhoods.
  // Exact scorer = oracle path (the mnn_pairs precedent); both sides'
  // k-neighborhood means fold over the topKByScore array in (score
  // desc, id asc) order, so the sum order is pinned and the oracle
  // folds the identical sequence.
  private val MarginK = 4
  private val MarginThreshold = 1.05

  def bitextMarginMining(s: SparkSession, dir: String): DataFrame =
    bitextFrom(scoredExact(s, dir))

  /** Scale twin of #218: identical margin pipeline over the shared
    * hyperplane-bucket candidates (filter-then-rank, the
    * hardNegativesLsh convention) — neighborhood means are taken over
    * each endpoint's CANDIDATE cosines, no corpus broadcast. */
  def bitextMarginMiningLsh(s: SparkSession, dir: String): DataFrame =
    bitextFrom(scoredLsh(s, dir))

  private def bitextFrom(scored0: DataFrame): DataFrame = {
    val scored = scored0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def side(key: String, other: String): (DataFrame, DataFrame) = {
      val tk = scored.groupBy(col(key))
        .agg(topKByScore(col("cs"), col(other), MarginK).as("tk"))
      val pairs = tk.select(col(key), explode(col("tk")).as("e"))
        .select(col(key), col("e.id").as(other), col("e.score").as("cs"))
      val avgs = tk.select(col(key),
        (expr("aggregate(tk, 0D, (acc, e) -> acc + e.score)") / size(col("tk")))
          .as(s"avg_$key"))
      (pairs, avgs)
    }
    val (fwd, avgA) = side("a", "b")
    val (bwd, avgB) = side("b", "a")
    val cand = fwd.union(bwd.select(col("a"), col("b"), col("cs"))).dropDuplicates("a", "b")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("margin").desc, col("b").asc)
    cand
      .join(avgA, "a").join(avgB, "b")
      .withColumn("margin", col("cs") / ((col("avg_a") + col("avg_b")) / lit(2.0)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1 && col("margin") >= lit(MarginThreshold))
      .select(col("a").as("x_id"), col("b").as("y_id"),
        r(col("cs"), 6).as("cos_sim"), r(col("margin"), 6).as("margin"))
  }

  private val bitextMarginMiningSql =
    s"""WITH b0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0),
       b1 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1),
       scored AS MATERIALIZED (
         SELECT b0.vec_id AS a, b1.vec_id AS b,
                list_cosine_similarity(b0.v, b1.v) AS cs
         FROM b0, b1),
       ra AS (SELECT a, b, cs,
                row_number() OVER (PARTITION BY a ORDER BY cs DESC, b ASC) AS rk
              FROM scored),
       rb AS (SELECT a, b, cs,
                row_number() OVER (PARTITION BY b ORDER BY cs DESC, a ASC) AS rk
              FROM scored),
       avga AS (
         SELECT a, list_reduce(list(cs ORDER BY cs DESC, b ASC), (x, y) -> x + y)
                   / count(*) AS avg_a
         FROM ra WHERE rk <= $MarginK GROUP BY a),
       avgb AS (
         SELECT b, list_reduce(list(cs ORDER BY cs DESC, a ASC), (x, y) -> x + y)
                   / count(*) AS avg_b
         FROM rb WHERE rk <= $MarginK GROUP BY b),
       cand AS (
         SELECT DISTINCT a, b, cs FROM (
           SELECT a, b, cs FROM ra WHERE rk <= $MarginK
           UNION ALL
           SELECT a, b, cs FROM rb WHERE rk <= $MarginK)),
       marg AS (
         SELECT c.a, c.b, c.cs,
                c.cs / ((va.avg_a + vb.avg_b) / 2.0) AS margin
         FROM cand c JOIN avga va ON c.a = va.a JOIN avgb vb ON c.b = vb.b),
       best AS (
         SELECT a, b, cs, margin,
                row_number() OVER (PARTITION BY a ORDER BY margin DESC, b ASC) AS rk
         FROM marg)
       SELECT a AS x_id, b AS y_id, round(cs, 6) AS cos_sim, round(margin, 6) AS margin
       FROM best WHERE rk = 1 AND margin >= $MarginThreshold"""

  private val bitextMarginMiningLshSql = {
    val sigPrefix = graft.sim.Ann.lshSigPrefixSql
    s"""WITH $sigPrefix,
       tprobes AS MATERIALIZED (
         SELECT s.vec_id AS b,
                CASE WHEN t.p < 0 THEN s.bucket
                     ELSE xor(s.bucket, (1::BIGINT << t.p)) END AS bucket
         FROM lsig s, LATERAL (SELECT unnest(generate_series(-1, ${LshPlanes - 1})) AS p) t
         WHERE s.vec_id % 2 = 1),
       candk AS (
         SELECT DISTINCT s0.vec_id AS a, p.b
         FROM tprobes p JOIN lsig s0 USING (bucket)
         WHERE s0.vec_id % 2 = 0),
       scored AS MATERIALIZED (
         SELECT c.a, c.b,
                list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS cs
         FROM candk c JOIN embeddings q ON c.a = q.vec_id
                      JOIN embeddings n ON c.b = n.vec_id),
       ra AS (SELECT a, b, cs,
                row_number() OVER (PARTITION BY a ORDER BY cs DESC, b ASC) AS rk
              FROM scored),
       rb AS (SELECT a, b, cs,
                row_number() OVER (PARTITION BY b ORDER BY cs DESC, a ASC) AS rk
              FROM scored),
       avga AS (
         SELECT a, list_reduce(list(cs ORDER BY cs DESC, b ASC), (x, y) -> x + y)
                   / count(*) AS avg_a
         FROM ra WHERE rk <= $MarginK GROUP BY a),
       avgb AS (
         SELECT b, list_reduce(list(cs ORDER BY cs DESC, a ASC), (x, y) -> x + y)
                   / count(*) AS avg_b
         FROM rb WHERE rk <= $MarginK GROUP BY b),
       cand AS (
         SELECT DISTINCT a, b, cs FROM (
           SELECT a, b, cs FROM ra WHERE rk <= $MarginK
           UNION ALL
           SELECT a, b, cs FROM rb WHERE rk <= $MarginK)),
       marg AS (
         SELECT c.a, c.b, c.cs,
                c.cs / ((va.avg_a + vb.avg_b) / 2.0) AS margin
         FROM cand c JOIN avga va ON c.a = va.a JOIN avgb vb ON c.b = vb.b),
       best AS (
         SELECT a, b, cs, margin,
                row_number() OVER (PARTITION BY a ORDER BY margin DESC, b ASC) AS rk
         FROM marg)
       SELECT a AS x_id, b AS y_id, round(cs, 6) AS cos_sim, round(margin, 6) AS margin
       FROM best WHERE rk = 1 AND margin >= $MarginThreshold"""
  }

  // ---------------------------------------------------------------
  // 214. CCA cell projections — the spectral half of Seurat's
  // IntegrateLayers(method = CCAIntegration) (integrate.R:126-152):
  // the SVD of the standardized cross-batch product X₀X₁ᵀ, whose left/
  // right singular vectors are the per-cell canonical embeddings.
  // Distributed via the textbook tall-skinny factorization — X₀X₁ᵀ is
  // n₀×n₁ and NEVER materialized:
  //   X₀ = Q₀R₀, X₁ = Q₁R₁ (R from the d×d Grams, distributed one-pass
  //   outer-product aggregation, 4096 keys with map-side combine);
  //   X₀X₁ᵀ = Q₀ (R₀R₁ᵀ) Q₁ᵀ — SVD of the 64×64 core on the driver
  //   (the |clusters|²-bounded driver-geometry precedent), then each
  //   cell projects through a broadcast d×5 matrix: U = X₀·W₀.
  // The registered cca_project query is CcaGrid.ccaGridProject, which
  // runs this pipeline as deterministic ascending-fold algebra on
  // quantized Grams, hash-checked against a full DuckDB replay.

  // ---------------------------------------------------------------
  // cca_grams — the hash-checked distributed 90% of #214: the per-batch
  // d×d Gram matrices of the standardized embeddings (the ONLY
  // cluster-side aggregation cca_project runs; everything after is
  // 64×64 driver-side algebra). Entries accumulate
  // integer-quantized products (round(zᵢ·zⱼ·1e6) as BIGINT — the
  // mnn_shift trick), so the sum is order-independent and the DuckDB
  // replay is exact. Scale: one flatten-posexplode pass over the
  // corpus, d² bounded keys with map-side partial aggregation.
  def ccaGrams(s: SparkSession, dir: String): DataFrame = {
    val vecs = batched(s, dir)
    val stats = vecs
      .select(col("batch"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("batch"), col("dim"))
      .agg(avg(col("x")).as("mu"), stddev_pop(col("x")).as("sd"))
      .groupBy(col("batch"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, mu))), s -> s.mu)").as("mus"),
        expr("transform(sort_array(collect_list(struct(dim, sd))), s -> s.sd)").as("sds"))
    vecs.join(broadcast(stats), "batch")
      .withColumn("z", expr(
        "zip_with(v, zip_with(mus, sds, (m, s) -> named_struct('m', m, 's', s)), " +
          "(x, p) -> IF(p.s = 0D, 0D, (x - p.m) / p.s))"))
      .groupBy(col("batch").cast("long").as("batch"))
      .agg(graft.functions.VectorFunctions.quantOuterProduct(col("z")).as("s"))
      .withColumn("dd", sqrt(size(col("s"))).cast("int"))
      .select(col("batch"), col("dd"), posexplode(col("s")).as(Seq("kk", "sq")))
      .select(col("batch"),
        expr("CAST(kk DIV dd AS BIGINT)").as("i"),
        (col("kk") % col("dd")).cast("long").as("j"),
        r(col("sq") / lit(1e6), 6).as("gram"))
  }

  private val ccaGramsSql =
    """WITH vxb AS (
         SELECT vec_id, vec_id % 2 AS batch, t.i AS dim, t.x
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e,
         LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) - 1 AS i) t),
       st AS (
         SELECT batch, dim, avg(x) AS mu, stddev_pop(x) AS sd
         FROM vxb GROUP BY 1, 2),
       z AS MATERIALIZED (
         SELECT v.vec_id, v.batch, v.dim,
                CASE WHEN st.sd = 0 THEN 0.0 ELSE (v.x - st.mu) / st.sd END AS z
         FROM vxb v JOIN st USING (batch, dim)),
       g AS (
         SELECT a.batch, a.dim AS i, b.dim AS j,
                sum(CAST(round(a.z * b.z * 1e6, 0) AS BIGINT)) AS sq
         FROM z a JOIN z b ON a.vec_id = b.vec_id AND a.batch = b.batch
         GROUP BY 1, 2, 3)
       SELECT CAST(batch AS BIGINT) AS batch, CAST(i AS BIGINT) AS i,
              CAST(j AS BIGINT) AS j, round(sq / 1e6, 6) AS gram
       FROM g"""

  /** One Harmony iteration as CTEs: given state rows `$v` (vec_id,
    * batch, dim, x) and grouping `$g` (vec_id, k), emit `g$o` (the new
    * assignment) and `v$o` (the corrected state). Mirrors centroidsOf/
    * assignTo/correctBy op-for-op: integer-quantized centroid sums,
    * 1e-3-grid integer assignment distances, x − (cb − c) correction. */
  private def harmonyIterSql(v: String, g: String, o: String): String =
    s"""cent$o AS (
         SELECT g.k, v.dim,
                sum(CAST(round(v.x * 1e6, 0) AS BIGINT)) AS sq, count(*) AS n
         FROM $v v JOIN $g g USING (vec_id) GROUP BY 1, 2),
       centq$o AS (
         SELECT k, dim, CAST(round((sq / (1e6 * n)) * 1000, 0) AS BIGINT) AS cq
         FROM cent$o),
       xq$o AS (
         SELECT vec_id, dim, CAST(round(x * 1000, 0) AS BIGINT) AS xq FROM $v),
       a$o AS (
         SELECT q.vec_id, c.k, sum((q.xq - c.cq) * (q.xq - c.cq)) AS d2
         FROM xq$o q JOIN centq$o c USING (dim) GROUP BY 1, 2),
       g$o AS MATERIALIZED (
         SELECT vec_id, k FROM (
           SELECT vec_id, k,
                  row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, k ASC) AS rk
           FROM a$o) WHERE rk = 1),
       s$o AS (
         SELECT g.k, v.batch, v.dim,
                sum(CAST(round(v.x * 1e6, 0) AS BIGINT)) AS sq, count(*) AS n
         FROM $v v JOIN g$o g USING (vec_id) GROUP BY 1, 2, 3),
       cb$o AS (SELECT k, batch, dim, sq / (1e6 * n) AS cb FROM s$o),
       call$o AS (SELECT k, dim, sum(sq) / (1e6 * sum(n)) AS c FROM s$o GROUP BY 1, 2),
       v$o AS MATERIALIZED (
         SELECT v.vec_id, v.batch, v.dim, v.x - (cb.cb - c.c) AS x
         FROM $v v JOIN g$o g USING (vec_id)
         JOIN cb$o cb ON g.k = cb.k AND v.batch = cb.batch AND v.dim = cb.dim
         JOIN call$o c ON g.k = c.k AND v.dim = c.dim)"""

  private def harmonyPrefixSql: String = {
    val sigPrefix = graft.sim.Ann.lshSigPrefixSql
    s"""$sigPrefix,
       v0 AS MATERIALIZED (
         SELECT vec_id, vec_id % 2 AS batch, i AS dim, x FROM vx),
       g0 AS (SELECT vec_id, bucket AS k FROM lsig),
       ${harmonyIterSql("v0", "g0", "1")},
       ${harmonyIterSql("v1", "g1", "2")}"""
  }

  private val harmonyCorrectSql =
    s"""WITH $harmonyPrefixSql
       SELECT v.vec_id, CAST(v.batch AS BIGINT) AS batch,
              CAST(g.k AS BIGINT) AS cluster,
              CAST(v.dim AS BIGINT) AS dim, round(v.x, 6) AS x_corrected
       FROM v2 v JOIN g2 g USING (vec_id)"""

  private val harmonyMixingOuterSql =
    s"""WITH $harmonyPrefixSql,
       mixc AS (
         SELECT CAST(k AS BIGINT) AS cluster, count(*) AS n_cells,
                sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref,
                sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_tgt
         FROM g2 GROUP BY 1)
       SELECT cluster, n_cells, n_ref, n_tgt,
              round(1.0 / ((n_ref / n_cells) * (n_ref / n_cells)
                           + (n_tgt / n_cells) * (n_tgt / n_cells)), 6)
                AS batch_inv_simpson
       FROM mixc"""

  private val ExactBatchOracle =
    "exact BNL oracle paths of #206/#218: each broadcasts an entire batch (≈half the " +
      "embedding corpus) as the small side — fine at sf0.1, quadratic at a larger gate " +
      "SF. Their _lsh scale twins ARE benchmarked (same output contract, bounded bucket " +
      "fan-out) — the dedup_ngram_jaccard convention."
  private val MnnExactScorer =
    "MNN exact scorer is the documented brute-force oracle path (dedup_embedding " +
      "precedent); mnn_pairs_lsh is the scale feed and stays BNL-free"
  private val HarmonyCentroids =
    "harmony assignment crosses each cell with the ≤32-row broadcast centroid table — " +
      "the label_silhouette \"every point must see every centroid\" shape, bounded by " +
      "cluster count"

  val ops: Seq[Op] = Seq(
    Op("mnn_pairs", mnnPairs _, Oracle(mnnPairsSql),
      untimed = Some(ExactBatchOracle),
      quadratic = Some(MnnExactScorer)),
    Op("mnn_pairs_lsh", mnnPairsLsh _, Oracle(mnnPairsLshSql)),
    Op("mnn_shift", mnnShift _, Oracle(mnnShiftSql),
      quadratic = Some(MnnExactScorer)),
    Op("mnn_correct", mnnCorrect _, Oracle(mnnCorrectSql),
      quadratic = Some(MnnExactScorer)),
    Op("harmony_correct", harmonyCorrect _, Oracle(harmonyCorrectSql),
      quadratic = Some(HarmonyCentroids)),
    Op("harmony_mixing", harmonyMixing _, Oracle(harmonyMixingOuterSql),
      quadratic = Some(HarmonyCentroids)),
    Op("cca_project", CcaGrid.ccaGridProject _, Oracle(CcaGrid.ccaGridSql)),
    Op("cca_grams", ccaGrams _, Oracle(ccaGramsSql)),
    Op("bitext_margin_mining", bitextMarginMining _, Oracle(bitextMarginMiningSql),
      untimed = Some(ExactBatchOracle),
      quadratic = Some("bitext mining scores through the exact cross-batch oracle " +
        "scorer (mnn_pairs precedent)")),
    Op("bitext_margin_mining_lsh", bitextMarginMiningLsh _, Oracle(bitextMarginMiningLshSql)))
}
