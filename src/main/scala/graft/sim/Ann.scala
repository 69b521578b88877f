package graft.sim

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embedding corpus
  * (SURVEY.md §2.4).
  *
  * Three tiers:
  *  - brute-force cosine top-k — the exact baseline/oracle path;
  *  - random-hyperplane LSH buckets — sub-linear candidate generation,
  *    the shuffle key is the sign-pattern bucket id (bounded fan-out);
  *  - IVF (KMeans-partitioned, nprobe=4) — the classic coarse-quantizer
  *    layout; at 100 TB the centroid table broadcasts and each query
  *    only scans its probed partitions.
  *
  * The kNN-GRAPH queries (#76 communities, #123 LISI, #153 PageRank)
  * each ship as a pair: the brute-force-fed base query is the ORACLE
  * path (exact neighbors, DuckDB-verifiable, O(n²) — never the plan
  * you run at corpus scale), and a `_lsh` twin feeds the identical
  * graph tail from Similarity.lshTopK's bucket self-join (linear in
  * bucket-bounded candidates — the 100 TB path, recall-spec'd against
  * the oracle in AnnSpec).
  *
  * All vector math is double-precision higher-order folds over the
  * packed array column — no per-dimension rows, no UDFs.
  */
object Ann extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  import graft.functions.VectorFunctions.dot

  /** Vectors with precomputed L2 norm, embedding cast to double.
    * spread(): local single-row-group files otherwise serialize all
    * vector math on one core (no-op at real input-split counts). */
  private def vectors(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.spread(
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  private def cosCol: Column = dot(col("qv"), col("v")) / (col("qn") * col("nrm"))

  // per-query top-k via the native bounded-heap aggregate: candidates
  // fold into map-side k-heaps, the exchange carries O(queries·k) rows
  private[sim] def topk(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(graft.functions.VectorFunctions.topKByScore(col("cs"), col("vec_id"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("qid"), col("e.id").as("neighbor_id"),
        r(col("e.score"), 6).as("cos_sim"), (col("pos") + 1).cast("long").as("rk"))

  // ---------------------------------------------------------------
  // 37. brute-force cosine top-k: queries × corpus scored exhaustively.
  // The corpus side streams through a broadcast of the (tiny) query
  // side, so at scale this is one full scan, no shuffle of the corpus.
  def annBruteforceTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.api.Similarity.bruteForceTopK(
        emb, col("vec_id"), col("embedding"),
        emb.filter(pmod(col("vec_id"), lit(50)) === 0), col("vec_id"), col("embedding"),
        k = 10)
      .select(col("qid"), col("neighbor_id"), r(col("cos_sim"), 6).as("cos_sim"), col("rk"))
  }

  // ---------------------------------------------------------------
  // 38. random-hyperplane LSH: deterministic pseudo-random hyperplanes
  // (components derived from xxhash64 of the (plane, dim) index —
  // reproducible on any cluster, no driver-side randomness); the sign
  // pattern over LshPlanes planes is the bucket id, and queries probe
  // only their own bucket.
  /** 5 hyperplanes → 32 buckets: sized for the test corpus (500 vecs →
    * ~16 candidates/bucket, enough for top-10). At corpus scale raise
    * the plane count so bucket occupancy stays bounded (bits ≈
    * log2(n/target_bucket_size)). The bucket id is the native codegen'd
    * graft.functions.HyperplaneBucket (hash-derived planes, no driver
    * randomness, no plane table). */
  private val LshPlanes = 5

  def annLshTopk(s: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(s, dir).withColumn("bucket",
      graft.functions.VectorFunctions.hyperplaneBucket(col("v"), LshPlanes))
    // multi-probe: each query also probes the LshPlanes buckets at
    // hamming distance 1 (the standard recall lever — flipping the
    // least-confident hyperplane signs) for (planes+1)× candidates
    // while still scanning only a fraction of the corpus. Buckets
    // partition the vectors, so probes never duplicate a candidate.
    val qs = vecs.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        explode(expr(s"""transform(sequence(0, $LshPlanes),
          p -> IF(p = 0, bucket, bucket ^ shiftleft(1L, p - 1)))""")).as("bucket"))
    // QUERY-SIDE BROADCAST CONTRACT: queries = corpus/50 × (planes+1) probes
    // grows with the corpus; when queries ~ corpus, use Similarity.lshTopK's
    // bucket-keyed shuffle self-join instead of broadcast(qs) (SURVEY §5).
    val scored = vecs.join(broadcast(qs), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cs", cosCol)
    topk(scored, 10)
  }

  // ---------------------------------------------------------------
  // 289. LSH plane-count recall sweep — the tuning table for the
  // documented scale lever (#38's scaladoc: "raise the plane count so
  // bucket occupancy stays bounded"; ivf_nprobe_sweep is the IVF
  // sibling): candidate-set recall@10 and mean candidate count for
  // p = 3..6 hyperplanes. Because plane j's components depend only on
  // j (mix64(j·64+i)), the p-plane signature is the low-p-bit PREFIX
  // of one 6-plane signature — ONE signature build serves the whole
  // sweep, per-p buckets are `b6 % 2^p`. Recall is candidate-set
  // coverage (no re-scoring — the nprobe-sweep convention): every
  // statistic is integer until the two final divisions.
  def lshPlanesSweep(s: SparkSession, dir: String): DataFrame = {
    val sig6 = vectors(s, dir)
      .withColumn("b6", graft.functions.VectorFunctions.hyperplaneBucket(col("v"), 6))
      .select(col("vec_id"), col("b6"))
      .localCheckpoint() // shared by all four plane counts
    val truth = annBruteforceTopk(s, dir)
      .select(col("qid"), col("neighbor_id").as("nid"))
      .localCheckpoint() // joined once per plane count
    (3 to 6).map { p =>
      val sigp = sig6.select(col("vec_id"), (col("b6") % lit(1L << p)).as("bucket"))
      val probes = sigp.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("qid"),
          explode(expr(s"""transform(sequence(0, $p),
            q -> IF(q = 0, bucket, bucket ^ shiftleft(1L, q - 1)))""")).as("bucket"))
      val cand = sigp.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("nid"))
      val nc = cand.groupBy(col("qid")).agg(count(lit(1)).as("n_cand"))
      val hits = cand.join(truth, Seq("qid", "nid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
      nc.join(hits, Seq("qid"), "left")
        .agg(count(lit(1)).as("nq"),
          sum(col("n_cand")).as("tc"),
          sum(coalesce(col("n_hit"), lit(0L))).as("th"))
        .select(lit(p.toLong).as("planes"), col("nq").as("n_queries"),
          round(col("tc") / col("nq").cast("double"), 6).as("avg_candidates"),
          round(col("th") / (col("nq") * lit(10)).cast("double"), 6).as("recall_at10"))
    }.reduce(_ unionByName _)
  }

  /** #289 oracle: one 6-plane signature chain (same SplitMix64 plane
    * derivation, distinct CTE names so the 5-plane `lsig` consumers
    * are untouched), per-p prefix buckets, candidate-coverage counts
    * against the brute-force truth. */
  private val lshPlanesSweepSql = {
    val perP = (3 to 6).map { p =>
      s"""sig$p AS (SELECT vec_id, b6 % ${1L << p} AS bucket FROM lsig6),
         pr$p AS (
           SELECT vec_id AS qid,
                  CASE WHEN t.q < 0 THEN bucket
                       ELSE xor(bucket, (1::BIGINT << t.q)) END AS bucket
           FROM sig$p, LATERAL (SELECT unnest(generate_series(-1, ${p - 1})) AS q) t
           WHERE vec_id % 50 = 0),
         cd$p AS MATERIALIZED (
           SELECT p.qid, s.vec_id AS nid
           FROM pr$p p JOIN sig$p s USING (bucket)
           WHERE s.vec_id != p.qid),
         nc$p AS (SELECT qid, count(*) AS n_cand FROM cd$p GROUP BY 1),
         ht$p AS (
           SELECT c.qid, count(*) AS n_hit
           FROM cd$p c JOIN btruth t ON c.qid = t.qid AND c.nid = t.nid
           GROUP BY 1)"""
    }.mkString(",\n       ")
    val rows = (3 to 6).map { p =>
      s"""SELECT CAST($p AS BIGINT) AS planes,
                 count(*) AS n_queries,
                 round(sum(n.n_cand) / CAST(count(*) AS DOUBLE), 6) AS avg_candidates,
                 round(sum(coalesce(h.n_hit, 0)) / CAST(count(*) * 10 AS DOUBLE), 6) AS recall_at10
          FROM nc$p n LEFT JOIN ht$p h USING (qid)"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH dimn6 AS MATERIALIZED (
         SELECT max(len(embedding::DOUBLE[])) AS nd FROM embeddings),
       pidx6 AS MATERIALIZED (
         SELECT t.j, u.i, (CASE WHEN u.i < 64 THEN t.j*64 + u.i
                         ELSE 9223372036854775808::HUGEINT + t.j*4032 + (u.i - 64) END)::HUGEINT AS x
         FROM (SELECT unnest(generate_series(0, 5)) AS j) t,
              dimn6, LATERAL (SELECT unnest(generate_series(0, nd - 1)) AS i) u),
       ${splitmixCtes("p6", "pidx6", "j, i")},
       planes6 AS MATERIALIZED (
         SELECT j, i,
                (((hs % 2000003) + 2000003) % 2000003) / 1000001.0 - 1.0 AS comp
         FROM p6h),
       vx6 AS MATERIALIZED (
         SELECT vec_id, t.i, t.x
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e,
         LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) - 1 AS i) t),
       lsig6 AS MATERIALIZED (
         SELECT vec_id,
                sum(CASE WHEN acc > 0 THEN (1::BIGINT << CAST(j AS INT))
                    ELSE 0 END)::BIGINT AS b6
         FROM (SELECT vx6.vec_id, p.j, sum(vx6.x * p.comp) AS acc
               FROM vx6 JOIN planes6 p ON vx6.i = p.i GROUP BY 1, 2)
         GROUP BY 1),
       bscored6 AS MATERIALIZED (
         SELECT q.vec_id AS qid, c.vec_id AS nid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                           c.vec_id ASC) AS rk
         FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         WHERE q.vec_id % 50 = 0),
       btruth AS MATERIALIZED (SELECT qid, nid FROM bscored6 WHERE rk <= 10),
       $perP
       $rows"""
  }

  // ---------------------------------------------------------------
  // 291. IVF cell-balance audit — the partition-skew screen for the
  // coarse quantizer (a hot cell is a hot Spark partition AND a slow
  // probe: nprobe×(n/cells) scan cost assumes balance; faiss surfaces
  // the same through imbalance_factor): per-cell vector counts off the
  // shared grid-Lloyd assignment, each cell's share and its skew ratio
  // n·cells/total (1.0 = perfectly balanced — the seasonal-index
  // shape). Integer until the two divisions.
  def ivfCellBalance(s: SparkSession, dir: String): DataFrame = {
    val (assign, _) = graft.ml.Reduce.gridLloydMemo(s, dir, "raw", Seq(IvfCells))(
      vectors(s, dir).select(col("vec_id"), col("v")))
    val counts = assign.groupBy(col("k").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum(col("n_vecs")).as("total"), count(lit(1)).as("nc"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs") / col("total").cast("double"), 6).as("share"),
        round(col("n_vecs") * col("nc") / col("total").cast("double"), 6).as("skew"))
  }

  // lazy: IvfCells is declared LATER in this object — an eager val
  // here would capture 0 (Scala object vals initialize in order)
  private lazy val ivfCellBalanceSql = {
    val R = graft.ml.Reduce.LloydRounds
    s"""WITH ${graft.ml.Reduce.lloydPrefixSql(Seq(IvfCells))},
       ccounts AS (
         SELECT CAST(k AS BIGINT) AS cell, count(*) AS n_vecs
         FROM lg$R GROUP BY 1),
       ctot AS (
         SELECT CAST(sum(n_vecs) AS BIGINT) AS total, count(*) AS nc
         FROM ccounts)
       SELECT c.cell, c.n_vecs,
              round(c.n_vecs / CAST(t.total AS DOUBLE), 6) AS share,
              round(c.n_vecs * t.nc / CAST(t.total AS DOUBLE), 6) AS skew
       FROM ccounts c, ctot t"""
  }

  // ---------------------------------------------------------------
  // 39. IVF-style ANN: the grid-Lloyd fixed-iteration KMeans
  // (Reduce.gridLloyd — the harmony_correct determinism template) as
  // the coarse quantizer, k=16 cells; every vector is assigned to its
  // cell, queries probe the nprobe=4 nearest centroids on the SAME
  // integer grid the assignment used (BIGINT d², (d2, cell) total
  // order — no fp probe ambiguity) and scan only those cells.
  // Centroids are a broadcast-sized table by construction. The swap
  // from MLlib KMeans graduates both IVF queries from rows-only to
  // DuckDB hash-checked; recall is re-pinned in AnnSpec/QuantizeSpec.
  private[sim] val IvfCells = 16
  private val IvfProbe = 4

  def annIvfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopkFrom(s, dir, "raw", vectors(s, dir))

  /** IVF tail over a prepared (vec_id, v, nrm) frame — shared by the
    * full-precision #39 and the int8 SQ variant (Quantize.annIvfSqTopk),
    * which passes the dequantized corpus instead. */
  private[sim] def ivfTopkFrom(s: SparkSession, dir: String, tag: String,
      prepared: DataFrame): DataFrame = {
    val (assign, cents) = graft.ml.Reduce.gridLloydMemo(s, dir, tag, Seq(IvfCells))(
      prepared.select(col("vec_id"), col("v")))
    val assigned = prepared
      .join(assign.select(col("vec_id"), col("k").as("cell")), "vec_id")
    val qs = prepared.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        expr("transform(v, x -> CAST(round(x * 1000, 0) AS BIGINT))").as("qxq"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("cell").asc)
    val probed = qs.crossJoin(broadcast(cents.select(col("k").as("cell"), col("cq"))))
      .withColumn("d2",
        expr("aggregate(zip_with(qxq, cq, (a, b) -> (a - b) * (a - b)), 0L, (s, e) -> s + e)"))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= IvfProbe) // nprobe=4 of 16 cells: ~1/4 corpus scanned
      .select(col("qid"), col("qv"), col("qn"), col("cell"))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cs", cosCol)
    topk(scored, 10)
  }

  /** IVF probe + cell-scan + rank CTEs over [[graft.ml.Reduce.lloydPrefixSql]]'s
    * `lsrc`/`lxq`/`lg*`/`lcentq*` contract — the oracle twin of
    * [[ivfTopkFrom]], shared with the SQ variant in Quantize. */
  private[sim] def ivfTailSql: String = {
    val R = graft.ml.Reduce.LloydRounds
    s"""ivfq AS MATERIALIZED (
         SELECT vec_id AS qid, dim, xq FROM lxq WHERE vec_id % 50 = 0),
       ivfd AS (
         SELECT q.qid, c.k AS cell, sum((q.xq - c.cq) * (q.xq - c.cq)) AS d2
         FROM ivfq q JOIN lcentq$R c ON q.dim = c.dim
         GROUP BY 1, 2),
       ivfp AS (
         SELECT qid, cell FROM (
           SELECT qid, cell,
                  row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS rk
           FROM ivfd) WHERE rk <= $IvfProbe),
       ivfscan AS (
         SELECT p.qid, g.vec_id AS nid
         FROM ivfp p JOIN lg$R g ON g.k = p.cell
         WHERE g.vec_id != p.qid),
       ivfsc AS (
         SELECT s.qid, s.nid,
                list_cosine_similarity(q.v, n.v) AS cs,
                row_number() OVER (PARTITION BY s.qid
                  ORDER BY list_cosine_similarity(q.v, n.v) DESC, s.nid ASC) AS rk
         FROM ivfscan s JOIN lsrc q ON s.qid = q.vec_id
                        JOIN lsrc n ON s.nid = n.vec_id)
       SELECT qid, nid AS neighbor_id, round(cs, 6) AS cos_sim,
              CAST(rk AS BIGINT) AS rk
       FROM ivfsc WHERE rk <= 10"""
  }

  private[sim] def ivfOracleSql(srcSql: String): String =
    s"WITH ${graft.ml.Reduce.lloydPrefixSql(Seq(IvfCells), srcSql)},\n$ivfTailSql"

  // ---------------------------------------------------------------
  // 261. IVF nprobe-recall sweep — the tuning table you read BEFORE
  // fixing nprobe (the "measure, don't guess" exhibit for #39): exact
  // recall@10 at nprobe ∈ {1, 2, 4, 8} in ONE pipeline. Because
  // scoring inside the probed cells is exact cosine, recall@10 equals
  // CELL COVERAGE of the true top-10 (any true neighbor in a probed
  // cell outscores every non-true candidate), so the sweep needs no
  // re-scoring per setting — just each true neighbor's cell probe
  // rank. Integer hit counts; one division per row.
  def ivfNprobeSweep(s: SparkSession, dir: String): DataFrame = {
    val vecs = vectors(s, dir)
    val (assign, cents) = graft.ml.Reduce.gridLloydMemo(s, dir, "raw", Seq(IvfCells))(
      vecs.select(col("vec_id"), col("v")))
    val truth = annBruteforceTopk(s, dir).select(col("qid"), col("neighbor_id"))
    val qs = vecs.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("qid"),
        expr("transform(v, x -> CAST(round(x * 1000, 0) AS BIGINT))").as("qxq"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("cell").asc)
    val prk = qs.crossJoin(broadcast(cents.select(col("k").as("cell"), col("cq"))))
      .withColumn("d2",
        expr("aggregate(zip_with(qxq, cq, (a, b) -> (a - b) * (a - b)), 0L, (s, e) -> s + e)"))
      .withColumn("prk", row_number().over(wProbe))
      .select(col("qid"), col("cell"), col("prk"))
    val truthPrk = truth
      .join(assign.select(col("vec_id").as("neighbor_id"), col("k").as("cell")),
        "neighbor_id")
      .join(prk, Seq("qid", "cell"))
    val nq = truth.select(col("qid")).distinct().count() // bounded driver scalar
    truthPrk
      .select(col("qid"), col("prk"),
        explode(expr("array(1, 2, 4, 8)")).as("nprobe"))
      .groupBy(col("nprobe"))
      .agg(sum(when(col("prk") <= col("nprobe"), 1L).otherwise(0L)).as("n_hit"))
      .select(col("nprobe").cast("long").as("nprobe"),
        lit(nq).as("n_queries"),
        col("n_hit"),
        round(col("n_hit") / lit(10.0 * nq), 6).as("avg_recall"))
  }

  private[sim] def ivfNprobeSweepSql: String = {
    val R = graft.ml.Reduce.LloydRounds
    s"""WITH ${graft.ml.Reduce.lloydPrefixSql(Seq(IvfCells))},
       bscored AS (
         SELECT q.vec_id AS qid, c.vec_id AS nid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                           c.vec_id ASC) AS rk
         FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         WHERE q.vec_id % 50 = 0),
       btruth AS (SELECT qid, nid FROM bscored WHERE rk <= 10),
       nq AS (SELECT count(DISTINCT qid) AS n FROM btruth),
       ivfd AS (
         SELECT q.vec_id AS qid, c.k AS cell, sum((q.xq - c.cq) * (q.xq - c.cq)) AS d2
         FROM lxq q JOIN lcentq$R c ON q.dim = c.dim
         WHERE q.vec_id % 50 = 0 GROUP BY 1, 2),
       iprk AS (
         SELECT qid, cell,
                row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cell ASC) AS prk
         FROM ivfd),
       tp AS (
         SELECT t.qid, p.prk
         FROM btruth t
         JOIN lg$R g ON t.nid = g.vec_id
         JOIN iprk p ON t.qid = p.qid AND g.k = p.cell)
       SELECT CAST(u.np AS BIGINT) AS nprobe,
              (SELECT CAST(n AS BIGINT) FROM nq) AS n_queries,
              CAST(sum(CASE WHEN tp.prk <= u.np THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
              round(sum(CASE WHEN tp.prk <= u.np THEN 1 ELSE 0 END)
                    / (10.0 * (SELECT n FROM nq)), 6) AS avg_recall
       FROM tp, (SELECT unnest([1, 2, 4, 8]) AS np) u
       GROUP BY 1"""
  }

  // ---------------------------------------------------------------
  // Shared kNN-edge builders for the graph queries (#76/#123/#153).
  // `exact = true` is the ORACLE feed: bruteForceTopK broadcasts the
  // whole corpus as the query side and scores all n² pairs — exact and
  // DuckDB-matchable, but a broadcast OOM + quadratic scan at corpus
  // scale. `exact = false` is the SCALE feed: Similarity.lshTopK's
  // hyperplane-bucket self-join (candidates bounded per bucket, no
  // broadcast of the corpus) — approximate, recall-spec'd in AnnSpec.
  /** Memoized per (session, dir, k, exact) — the louvainState/
    * lloydState "persisted graph state" contract: in production the
    * kNN edge list is built once and every graph query rides it. The
    * r15 optimization round added the memo because leiden_refine(_lsh)
    * consumes the SAME edge feed twice in one query (once for the
    * restrict join, once inside louvainState's own build) and paid the
    * full LSH candidate generation both times. localCheckpoint bounds
    * the entry at O(corpus·k) rows. Cold bench numbers stay honest:
    * Memo.reset precedes every timed run. */
  private val knnEdgeCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, (Int, Boolean)), DataFrame]()
  graft.api.Memo.register(() => knnEdgeCache.clear())

  private[graft] def knnEdges(s: SparkSession, dir: String, k: Int,
      exact: Boolean): DataFrame =
    graft.api.Memo.stamped(knnEdgeCache, s, dir, (k, exact)) {
      val emb = Tables.embeddings(s, dir)
      val knn =
        if (exact)
          graft.api.Similarity.bruteForceTopK(
              emb, col("vec_id"), col("embedding"),
              emb, col("vec_id"), col("embedding"), k = k)
            .select(col("qid"), col("neighbor_id").as("nid"))
        else
          graft.api.Similarity.lshTopK(
              emb, col("vec_id"), col("embedding"), k = k, planes = LshPlanes)
            .select(col("qid"), col("neighbor_id").as("nid"))
      knn.localCheckpoint()
    }

  /** MUTUAL kNN edges (both endpoints list each other), a < b. */
  private[graft] def mutualEdges(knn: DataFrame): DataFrame =
    knn.as("x")
      .join(knn.as("y"),
        col("x.qid") === col("y.nid") && col("x.nid") === col("y.qid"))
      .filter(col("x.qid") < col("x.nid"))
      .select(col("x.qid").as("a"), col("x.nid").as("b"))

  // ---------------------------------------------------------------
  // 76. kNN-graph communities (wrapper.R:267-348: kNN graph +
  // Louvain/Leiden re-expressed): k=5 cosine neighbors per vector,
  // MUTUAL edges only (both endpoints list each other), connected
  // components label the communities. Brute-force neighbor generation
  // is the oracle path; knnComponentsLsh is the corpus-scale twin.
  def knnComponents(s: SparkSession, dir: String): DataFrame =
    knnComponentsFrom(knnEdges(s, dir, k = 5, exact = true))

  /** Scale twin of #76: identical mutual-edge/components tail over the
    * LSH-bucketed neighbor feed. */
  def knnComponentsLsh(s: SparkSession, dir: String): DataFrame =
    knnComponentsFrom(knnEdges(s, dir, k = 5, exact = false))

  private def knnComponentsFrom(knn: DataFrame): DataFrame =
    graft.api.Similarity.connectedComponents(mutualEdges(knn), col("a"), col("b"))
      .select(col("vertex").as("vec_id"), col("component").as("community"))

  // ---------------------------------------------------------------
  // 123. per-cell LISI (integrate.R:188-266 measure_label_groupdiversity
  // method "lisi" → immunogenomics/LISI): the LOCAL inverse Simpson of
  // the label mix among each cell's k=30 cosine neighbors — the
  // faithful per-cell form whose per-group cousin is #23. Neighborhoods
  // come from the same top-k machinery as #37 (bounded-heap aggregate,
  // O(q·k) exchange); localLisiLsh is the corpus-scale twin (LSH
  // candidate feed, identical downstream).
  def localLisi(s: SparkSession, dir: String): DataFrame =
    localLisiFrom(s, dir, knnEdges(s, dir, k = 30, exact = true))

  /** Scale twin of #123: same label-mix tail over LSH neighborhoods. */
  def localLisiLsh(s: SparkSession, dir: String): DataFrame =
    localLisiFrom(s, dir, knnEdges(s, dir, k = 30, exact = false))

  private def localLisiFrom(s: SparkSession, dir: String, knn0: DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val knn = knn0.select(col("qid"), col("nid").as("neighbor_id"))
    val counts = knn
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel")),
        "neighbor_id")
      .groupBy(col("qid"), col("nlabel")).agg(count(lit(1)).as("c"))
      .groupBy(col("qid"))
      .agg(sum(col("c")).as("k_eff"), sum(col("c") * col("c")).as("c2"))
    counts
      .join(emb.select(col("vec_id"), col("label")), col("qid") === col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("k_eff").cast("long").as("k_eff"),
        round(col("k_eff") * col("k_eff") / col("c2").cast("double"), 6).as("lisi"))
  }

  // ---------------------------------------------------------------
  // 153. PageRank over the mutual-kNN graph (the centrality view of
  // the #76 communities: which vectors anchor their neighborhood —
  // wrapper.R:267-348's graph, a different lens). Five fixed power
  // iterations at damping 0.85; the oracle unrolls the same five
  // layers (aggregation in a recursive CTE term is not portable).
  // pagerankKnnLsh is the corpus-scale twin.
  def pagerankKnn(s: SparkSession, dir: String): DataFrame =
    pagerankFrom(knnEdges(s, dir, k = 5, exact = true))

  /** Scale twin of #153: same 5-iteration PageRank over the LSH-fed
    * mutual-kNN graph. */
  def pagerankKnnLsh(s: SparkSession, dir: String): DataFrame =
    pagerankFrom(knnEdges(s, dir, k = 5, exact = false))

  private def pagerankFrom(knn: DataFrame): DataFrame =
    graft.api.Similarity.pageRank(mutualEdges(knn), col("a"), col("b"))
      .select(col("vertex").as("vec_id"),
        round(col("pagerank"), 6).as("pagerank"))

  // ---------------------------------------------------------------
  // 198. per-vertex triangle count + local clustering coefficient over
  // the mutual-kNN graph — the transitivity lens on the #76 graph
  // (Watts-Strogatz local coefficient: 2·tri / deg(deg−1); how clique-
  // like each embedding neighborhood is — a cluster-cohesion screen).
  // Wedge enumeration joins each vertex's neighbor list with itself
  // (x < y) and probes the edge set: degree ≤ k bounds the fan-out at
  // k² per vertex, so the whole pass is linear in the corpus. Exact
  // feed = oracle path; the _lsh twin is the corpus-scale feed.
  def knnClusteringCoeff(s: SparkSession, dir: String): DataFrame =
    clusteringFrom(s, dir, knnEdges(s, dir, k = 5, exact = true))

  /** Scale twin of #198: same triangle tail over the LSH kNN feed. */
  def knnClusteringCoeffLsh(s: SparkSession, dir: String): DataFrame =
    clusteringFrom(s, dir, knnEdges(s, dir, k = 5, exact = false))

  private def clusteringFrom(s: SparkSession, dir: String, knn0: DataFrame): DataFrame = {
    val knn = knn0.select(col("qid"), col("nid"))
    val mutual = mutualEdges(knn)
    val und = mutual.select(col("a").as("v"), col("b").as("n"))
      .union(mutual.select(col("b").as("v"), col("a").as("n")))
    val deg = und.groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val wedges = und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.v") && col("e1.n") < col("e2.n"))
      .select(col("e1.v").as("v"), col("e1.n").as("x"), col("e2.n").as("y"))
    val tri = wedges
      .join(mutual, col("x") === col("a") && col("y") === col("b"))
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    Tables.embeddings(s, dir).select(col("vec_id"))
      .join(deg, col("vec_id") === col("v"), "left").drop("v")
      .join(tri, col("vec_id") === col("v"), "left").drop("v")
      .select(col("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        r(when(coalesce(col("degree"), lit(0L)) >= 2,
            lit(2.0) * coalesce(col("triangles"), lit(0L))
              / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering_coeff"))
  }

  // ---------------------------------------------------------------
  // 178. ANN recall evaluation: per-query recall@10 of the LSH bucket
  // feed against the exact brute-force neighbors — the index-quality
  // eval every ANN deployment runs before trusting the approximate
  // path. Compares ID SETS only (both sides' rank-10 cuts are already
  // hash-pinned by their own oracles), so the op is insensitive to
  // cross-engine cosine ULPs. Scale: the truth side is exact kNN over
  // the SAMPLED query set (n/50) — the standard recall protocol; cost
  // is |queries|·n, linear in the corpus, not n².
  def annRecallEval(s: SparkSession, dir: String): DataFrame = {
    val truth = annBruteforceTopk(s, dir).select(col("qid"), col("neighbor_id"))
    val approx = annLshTopk(s, dir).select(col("qid"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("qid", "neighbor_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("qid")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_true"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        r(coalesce(col("n_hit"), lit(0L)) / col("n_true"), 6).as("recall"))
  }

  // ---------------------------------------------------------------
  // 317. rank-biased overlap of the LSH ranking vs exact truth
  // (Webber, Moffat & Zobel 2010, p = 0.9, truncated at depth 10) —
  // the TOP-WEIGHTED companion to #178's recall@10: recall treats a
  // rank-1 hit and a rank-10 hit identically; RBO pays p^d/d per
  // agreeing depth, so losing the FIRST neighbor costs more than the
  // tenth (the metric retrieval evals actually report). A matched pair
  // (t, l) first counts at depth max(rk_t, rk_l), so its total
  // contribution is w(m) = (1−p)/p · Σ_{d=m}^{10} p^d/d — ten fixed
  // coefficients, embedded as IDENTICAL decimal literals in engine
  // and oracle (same source strings → same doubles; the per-query sum
  // is ≤10 terms, 6 dp rounding absorbs association order). Perfect
  // agreement scores 1 − p¹⁰ ≈ 0.6513 (the truncated mass — documented
  // ceiling, not normalized away, matching the paper's RBO@k form).
  private val RboP = 0.9
  private[graft] val RboCoef: IndexedSeq[Double] =
    (1 to 10).map(m =>
      (1 - RboP) / RboP * (m to 10).map(d => math.pow(RboP, d) / d).sum)

  def annRboEval(s: SparkSession, dir: String): DataFrame = {
    val truth = annBruteforceTopk(s, dir)
      .select(col("qid"), col("neighbor_id"), col("rk").as("rt"))
    val approx = annLshTopk(s, dir)
      .select(col("qid"), col("neighbor_id"), col("rk").as("rl"))
    val w = (1 to 10).foldLeft(lit(0.0)) { (acc, m) =>
      when(greatest(col("rt"), col("rl")) === m, lit(RboCoef(m - 1))).otherwise(acc)
    }
    val agg = truth.join(approx, Seq("qid", "neighbor_id"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_overlap"), sum(w).as("srbo"))
    truth.groupBy(col("qid")).agg(count(lit(1)).as("n_true"))
      .join(agg, Seq("qid"), "left")
      .select(col("qid"), col("n_true"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        r(coalesce(col("srbo"), lit(0.0)), 6).as("rbo"))
  }

  private val annRboEvalSql = {
    val cases = (1 to 10).map(m =>
      s"WHEN ${m} THEN ${RboCoef(m - 1)}").mkString(" ")
    s"""WITH $lshSigPrefixSql,
       ${lshKnnSql(10, "WHERE s.vec_id % 50 = 0")},
       bscored AS (
         SELECT q.vec_id AS qid, c.vec_id AS nid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                           c.vec_id ASC) AS rk
         FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         WHERE q.vec_id % 50 = 0),
       btruth AS (SELECT qid, nid, rk FROM bscored WHERE rk <= 10),
       lr AS (SELECT qid, nid, rk FROM scored WHERE rk <= 10),
       mtc AS (
         SELECT t.qid, count(*) AS n_overlap,
                sum(CASE greatest(t.rk, l.rk) $cases END) AS srbo
         FROM btruth t JOIN lr l ON t.qid = l.qid AND t.nid = l.nid
         GROUP BY 1),
       tr AS (SELECT qid, count(*) AS n_true FROM btruth GROUP BY 1)
       SELECT tr.qid, tr.n_true,
              CAST(coalesce(m.n_overlap, 0) AS BIGINT) AS n_overlap,
              round(coalesce(m.srbo, 0.0), 6) AS rbo
       FROM tr LEFT JOIN mtc m USING (qid)"""
  }

  // ---------------------------------------------------------------
  // 318. nDCG@10 of the LSH ranking vs exact truth — the third leg of
  // the retrieval-eval family (#178 recall counts hits, #317 RBO
  // weights agreement depth on BOTH lists, nDCG discounts by the
  // APPROXIMATE list's position only — the metric offline search evals
  // report). Binary relevance (in the exact top-10 or not), gain
  // 1/log₂(d+1) at the LSH rank d, normalized by the ideal
  // Σ_{d=1..10} 1/log₂(d+1): ten normalized coefficients embedded as
  // IDENTICAL decimal literals in engine and oracle (the #317
  // convention). Perfect ranking = 1.0 exactly.
  private[graft] val NdcgCoef: IndexedSeq[Double] = {
    val raw = (1 to 10).map(d => 1.0 / (math.log(d + 1.0) / math.log(2.0)))
    val idcg = raw.sum
    raw.map(_ / idcg)
  }

  def annNdcgEval(s: SparkSession, dir: String): DataFrame = {
    val truth = annBruteforceTopk(s, dir).select(col("qid"), col("neighbor_id"))
    val approx = annLshTopk(s, dir)
      .select(col("qid"), col("neighbor_id"), col("rk").as("rl"))
    val w = (1 to 10).foldLeft(lit(0.0)) { (acc, d) =>
      when(col("rl") === d, lit(NdcgCoef(d - 1))).otherwise(acc)
    }
    val agg = truth.join(approx, Seq("qid", "neighbor_id"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_overlap"), sum(w).as("sdcg"))
    truth.groupBy(col("qid")).agg(count(lit(1)).as("n_true"))
      .join(agg, Seq("qid"), "left")
      .select(col("qid"), col("n_true"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        r(coalesce(col("sdcg"), lit(0.0)), 6).as("ndcg"))
  }

  private val annNdcgEvalSql = {
    val cases = (1 to 10).map(d =>
      s"WHEN ${d} THEN ${NdcgCoef(d - 1)}").mkString(" ")
    s"""WITH $lshSigPrefixSql,
       ${lshKnnSql(10, "WHERE s.vec_id % 50 = 0")},
       bscored AS (
         SELECT q.vec_id AS qid, c.vec_id AS nid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                           c.vec_id ASC) AS rk
         FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         WHERE q.vec_id % 50 = 0),
       btruth AS (SELECT qid, nid FROM bscored WHERE rk <= 10),
       lr AS (SELECT qid, nid, rk FROM scored WHERE rk <= 10),
       mtc AS (
         SELECT t.qid, count(*) AS n_overlap,
                sum(CASE l.rk $cases END) AS sdcg
         FROM btruth t JOIN lr l ON t.qid = l.qid AND t.nid = l.nid
         GROUP BY 1),
       tr AS (SELECT qid, count(*) AS n_true FROM btruth GROUP BY 1)
       SELECT tr.qid, tr.n_true,
              CAST(coalesce(m.n_overlap, 0) AS BIGINT) AS n_overlap,
              round(coalesce(m.sdcg, 0.0), 6) AS ndcg
       FROM tr LEFT JOIN mtc m USING (qid)"""
  }

  /** Vectors with label + norm — the feed for label-aware mining. */
  private def vectorsWithLabel(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.spread(
        Tables.embeddings(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"), col("label")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  // ---------------------------------------------------------------
  // 179. hard-negative mining: for each query vector, the top-5 MOST
  // similar corpus vectors carrying a DIFFERENT label — the contrastive
  // -training negative sampler (high-similarity wrong-class examples).
  // Exact scorer = oracle path (same BNL shape as ann_bruteforce_topk);
  // hardNegativesLsh is the corpus-scale twin: identical label filter
  // over the hyperplane-bucket candidate feed, ranked AFTER the filter
  // so the two paths agree on semantics (filter-then-rank, not
  // truncate-then-filter).
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val vecs = vectorsWithLabel(s, dir)
    val qs = vecs.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("label").as("qlabel"))
    val scored = vecs.join(broadcast(qs),
        col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
      .withColumn("cs", cosCol)
    topk(scored, 5)
  }

  /** Scale twin of #179: label-filtered rank over the LSH bucket
    * candidates (own bucket + hamming-1 probes), no corpus broadcast. */
  def hardNegativesLsh(s: SparkSession, dir: String): DataFrame = {
    val vecs = vectorsWithLabel(s, dir).withColumn("bucket",
      graft.functions.VectorFunctions.hyperplaneBucket(col("v"), LshPlanes))
    val qs = vecs.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("label").as("qlabel"),
        explode(expr(s"""transform(sequence(0, $LshPlanes),
          p -> IF(p = 0, bucket, bucket ^ shiftleft(1L, p - 1)))""")).as("bucket"))
    val scored = vecs.join(broadcast(qs), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
      .withColumn("cs", cosCol)
    topk(scored, 5)
  }

  // ---------------------------------------------------------------
  // 180. kNN label propagation (semi-supervised labeling): seeds =
  // every 10th vector keeps its label; 3 synchronous rounds over the
  // mutual-kNN(k=5) graph where each non-seed node takes the argmax
  // neighbor-label vote (count desc, label asc — total order, so the
  // rounds are deterministic and the SQL unroll replays them exactly).
  // Non-seed labels may flip between rounds (recomputed from the
  // previous frontier each time — synchronous LPA). Unreached nodes
  // emit -1. Exact edge feed = oracle path; labelPropKnnLsh twins it
  // over the LSH feed. Scale: each round is one (dst-key shuffle +
  // bounded window); at real depth, localCheckpoint between rounds
  // (the Similarity.pageRank contract).
  def labelPropKnn(s: SparkSession, dir: String): DataFrame =
    labelPropFrom(s, dir, knnEdges(s, dir, k = 5, exact = true))

  /** Scale twin of #180: same 3-round vote over the LSH-fed graph. */
  def labelPropKnnLsh(s: SparkSession, dir: String): DataFrame =
    labelPropFrom(s, dir, knnEdges(s, dir, k = 5, exact = false))

  private def labelPropFrom(s: SparkSession, dir: String, knn: DataFrame): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val mut = mutualEdges(knn)
    // localCheckpoint (the Similarity.pageRank contract): the edge set
    // feeds every vote round — without it the kNN candidate generation
    // re-executes once per round
    val edges = mut.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(mut.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val seeds = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    var lab = seeds
    for (_ <- 1 to 3) {
      val votes = edges.join(lab.withColumnRenamed("vec_id", "src"), "src")
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      // seeds are exactly vec_id%10=0, so the seed exclusion is a
      // filter, not an anti join. r15: the vote argmax is
      // min(struct(−c, label)) — the same (c desc, label asc) total
      // order the rank window computed, as a map-side partial aggregate
      // instead of a per-round window sort.
      val prop = votes
        .filter(pmod(col("dst"), lit(10)) =!= 0)
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("dst").as("vec_id"), col("m.l").as("label"))
      lab = seeds.unionAll(prop)
    }
    emb.select(col("vec_id"), col("label").as("true_label"))
      .join(lab.withColumnRenamed("label", "prop_label"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("true_label"),
        coalesce(col("prop_label"), lit(-1)).as("prop_label"),
        (pmod(col("vec_id"), lit(10)) === 0).as("is_seed"))
  }

  // ---------------------------------------------------------------
  // Louvain-style modularity clustering over the mutual-kNN graph —
  // the reference's DEFAULT community step (wrapper.R:267-348:
  // get_clusters builds the SNN graph and runs Louvain; #76's
  // components and #180's LPA are its connectivity/vote cousins, this
  // is the modularity-optimizing one). Three fixed synchronous rounds
  // of the Louvain local-move criterion: every node moves to the
  // neighboring community (own included) maximizing the modularity
  // gain. The gain comparison is scaled by 2m so the score is PURE
  // INTEGER — score(c) = 2m·k_i,in(c) − d_i·(Σtot(c) − [c=own]·d_i),
  // argmax with (score desc, community asc) total order: no fp
  // ambiguity anywhere, so the SQL unroll replays each round exactly
  // (the labelPropKnn determinism contract). Init = singleton
  // communities (c_i = vec_id). Scale: each round is two bounded-key
  // aggregations (Σtot over communities, k_in over edge endpoints) +
  // one argmax — all shuffles keyed on vertex/community, no
  // quadratic step; assignments localCheckpoint between rounds.
  private val LouvainRounds = 3

  /** Memoized per (session, dir, exact) — the lloydState/harmonyState
    * contract: the checkpointed 3-round assignment is vertex-bounded
    * and consumed by #219 itself plus the GraphOps refinement (#247)
    * and modularity (#248) audits, which would otherwise each pay the
    * full iteration again (measured 4.0-4.4 s apiece at sf0.1). */
  private val louvainCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long, Boolean), DataFrame]()
  graft.api.Memo.register(() => louvainCache.clear())

  private def louvainState(s: SparkSession, dir: String, exact: Boolean): DataFrame =
    graft.api.Memo.stamped(louvainCache, s, dir, exact) {
      louvainFrom(knnEdges(s, dir, k = 5, exact = exact)).localCheckpoint()
    }

  def louvainKnn(s: SparkSession, dir: String): DataFrame =
    louvainState(s, dir, exact = true)

  /** Scale twin: same 3-round modularity moves over the LSH kNN feed. */
  def louvainKnnLsh(s: SparkSession, dir: String): DataFrame =
    louvainState(s, dir, exact = false)

  private def louvainFrom(knn: DataFrame): DataFrame = {
    val mut = mutualEdges(knn)
    val edges = mut.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(mut.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint() // feeds every round (the labelPropFrom contract)
    val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))
    // |E| read off the already-checkpointed edge list: a bounded driver
    // scalar (the pageRank vertex-count precedent) — embedding it as a
    // literal keeps every round's join equi-keyed (no 1-row BNL attach)
    val m = edges.count() / 2
    var c = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("c"))
    for (i <- 1 to LouvainRounds) {
      val tot = c.join(deg, "v").groupBy(col("c")).agg(sum(col("d")).as("tot"))
      val kin = edges.join(c.select(col("v").as("dst"), col("c").as("cand")), "dst")
        .groupBy(col("src"), col("cand")).agg(count(lit(1)).as("kin"))
        .select(col("src").as("v"), col("cand"), col("kin"))
      // candidate set = neighbor communities ∪ own (kin=0 when no
      // neighbor is in it); max() folds the duplicate own row
      val cands = kin
        .unionByName(c.select(col("v"), col("c").as("cand"), lit(0L).as("kin")))
        .groupBy(col("v"), col("cand")).agg(max(col("kin")).as("kin"))
      val scored = cands
        .join(c.select(col("v"), col("c").as("own")), "v")
        .join(deg, "v")
        .join(tot.select(col("c").as("cand"), col("tot")), "cand")
        .select(col("v"), col("cand"),
          (lit(2L * m) * col("kin")
            - col("d") * (col("tot")
              - when(col("cand") === col("own"), col("d")).otherwise(lit(0L))))
            .as("score"))
      val next = scored
        .select(col("v"), struct((-col("score")).as("ns"), col("cand").as("c")).as("sc"))
        .groupBy(col("v")).agg(min(col("sc")).as("mx"))
        .select(col("v"), col("mx.c").as("c"))
      c = (if (i < LouvainRounds) next.localCheckpoint() else next)
    }
    c.select(col("v").as("vec_id"), col("c").as("community"))
  }

  /** SQL replay of the LSH machinery (HyperplaneBucket + hamming-1
    * multi-probe), shared by every `_lsh` oracle including
    * dedup_embedding_lsh over in Dedup. Three stages:
    *  1. planes — SplitMix64(j·64+i) per (plane, dim) via HUGEINT
    *     mod-2⁶⁴ arithmetic (xor runs in the signed-BIGINT domain,
    *     bitwise-identical; >>> s is `// 2^s` on the unsigned value),
    *     then the engine's signed-mod mapping into [−1, 1);
    *  2. lsig — per-vector sign bucket. The dot product folds through
    *     SQL sum() (unordered) vs the engine's sequential loop: signs
    *     can only disagree where |v·h| ~ 1e-13, and unlike decimal
    *     rounding midpoints the dot of a data vector with a
    *     pseudo-random plane has no probability mass near any exact
    *     value — measure-zero in practice, re-checked every round by
    *     the driver gate itself;
    *  3. probes — own bucket + each 1-bit flip, the engine's probe set.
    * MATERIALIZED: each CTE is referenced twice downstream. */
  private def u2s(h: String) = s"""CASE WHEN $h < 9223372036854775808::HUGEINT
      THEN ($h)::BIGINT ELSE ($h - 18446744073709551616::HUGEINT)::BIGINT END"""
  private def s2u(x: String) = s"""CASE WHEN $x >= 0 THEN ($x)::HUGEINT
      ELSE ($x)::HUGEINT + 18446744073709551616::HUGEINT END"""
  // (a·b) mod 2⁶⁴ without exceeding INT128: split a into 32-bit
  // halves — al·b < 2⁹⁶ and ((ah·(b mod 2³²)) mod 2³²)·2³² < 2⁹⁶,
  // so every intermediate fits HUGEINT (a straight 64×64 multiply
  // can reach ~2¹²⁸ and overflows INT128's 2¹²⁷−1 max).
  private def mulMod64(a: String, b: BigInt) = {
    val bLo = b % BigInt(4294967296L)
    s"""((($a % 4294967296) * $b::HUGEINT
        + ((($a // 4294967296) * $bLo) % 4294967296) * 4294967296::HUGEINT)
        % 18446744073709551616::HUGEINT)"""
  }
  private def xorShiftMul(z: String, zs: String, shift: Long, mul: BigInt) = {
    val shifted = s"($z // ${1L << shift})::BIGINT"
    mulMod64(s2u(s"xor($zs, $shifted)"), mul)
  }

  /** SplitMix64 finalizer as a DuckDB CTE chain: given a CTE `src`
    * with columns ($keys, x HUGEINT), emits CTEs ending in `${pfx}h`
    * with ($keys, hs BIGINT) = the signed-64 mix of x — the exact
    * HUGEINT mod-2⁶⁴ replay of HyperplaneBucket.mix64, shared by the
    * embedding-plane prefix below and the hashed-feature topic planes
    * in TextOps. */
  private[graft] def splitmixCtes(pfx: String, src: String, keys: String): String =
    s"""${pfx}z0 AS MATERIALIZED (
         SELECT $keys, (x + 11400714819323198485::HUGEINT)
                      % 18446744073709551616::HUGEINT AS z FROM $src),
       ${pfx}z0s AS MATERIALIZED (SELECT $keys, z, ${u2s("z")} AS zs FROM ${pfx}z0),
       ${pfx}z1 AS MATERIALIZED (
         SELECT $keys, ${xorShiftMul("z", "zs", 30, BigInt("13787848793156543929"))} AS z FROM ${pfx}z0s),
       ${pfx}z1s AS MATERIALIZED (SELECT $keys, z, ${u2s("z")} AS zs FROM ${pfx}z1),
       ${pfx}z2 AS MATERIALIZED (
         SELECT $keys, ${xorShiftMul("z", "zs", 27, BigInt("10723151780598845931"))} AS z FROM ${pfx}z1s),
       ${pfx}z2s AS MATERIALIZED (SELECT $keys, z, ${u2s("z")} AS zs FROM ${pfx}z2),
       ${pfx}h AS MATERIALIZED (
         SELECT $keys, xor(zs, (z // 2147483648)::BIGINT) AS hs FROM ${pfx}z2s)"""

  private[graft] lazy val lshSigPrefixSql = {
    s"""dimn AS MATERIALIZED (
         SELECT max(len(embedding::DOUBLE[])) AS nd FROM embeddings),
       pidx AS MATERIALIZED (
         SELECT t.j, u.i, (CASE WHEN u.i < 64 THEN t.j*64 + u.i
                         ELSE 9223372036854775808::HUGEINT + t.j*4032 + (u.i - 64) END)::HUGEINT AS x
         FROM (SELECT unnest(generate_series(0, 4)) AS j) t,
              dimn, LATERAL (SELECT unnest(generate_series(0, nd - 1)) AS i) u),
       ${splitmixCtes("p", "pidx", "j, i")},
       planes AS MATERIALIZED (
         SELECT j, i,
                (((hs % 2000003) + 2000003) % 2000003) / 1000001.0 - 1.0 AS comp
         FROM ph),
       vx AS MATERIALIZED (
         SELECT vec_id, t.i, t.x
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e,
         LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) - 1 AS i) t),
       lsig AS MATERIALIZED (
         SELECT vec_id,
                sum(CASE WHEN acc > 0 THEN (1::BIGINT << CAST(j AS INT))
                    ELSE 0 END)::BIGINT AS bucket
         FROM (SELECT vx.vec_id, p.j, sum(vx.x * p.comp) AS acc
               FROM vx JOIN planes p ON vx.i = p.i GROUP BY 1, 2)
         GROUP BY 1)"""
  }

  /** Probe + candidate + ranked-kNN CTEs over [[lshSigPrefixSql]] —
    * the oracle twin of Similarity.lshTopK's feed. `queryWhere`
    * restricts the probing side (ann_lsh_topk probes every 50th
    * vector; the graph twins probe the whole corpus). */
  private[sim] def lshKnnSql(k: Int, queryWhere: String = ""): String =
    s"""probes AS MATERIALIZED (
         SELECT s.vec_id AS qid,
                CASE WHEN t.p < 0 THEN s.bucket
                     ELSE xor(s.bucket, (1::BIGINT << t.p)) END AS bucket
         FROM lsig s, LATERAL (SELECT unnest(generate_series(-1, 4)) AS p) t
         $queryWhere),
       cand AS MATERIALIZED (
         SELECT p.qid, s2.vec_id AS nid
         FROM probes p JOIN lsig s2 USING (bucket)
         WHERE s2.vec_id != p.qid),
       scored AS MATERIALIZED (
         SELECT c.qid, c.nid,
                list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS cs,
                row_number() OVER (PARTITION BY c.qid
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                           c.nid ASC) AS rk
         FROM cand c JOIN embeddings q ON c.qid = q.vec_id
                     JOIN embeddings n ON c.nid = n.vec_id),
       knn AS MATERIALIZED (SELECT qid, nid FROM scored WHERE rk <= $k)"""

  /** Exact kNN feed for the brute-force graph oracles: all-pairs
    * cosine rank. The `_lsh` twins swap in lshKnnSql's bucket feed;
    * both produce the same `knn (qid, nid)` contract the tails eat. */
  private[sim] def bruteKnnSql(k: Int): String =
    s"""scored AS (
         SELECT q.vec_id AS qid, c.vec_id AS nid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                           c.vec_id ASC) AS rk
         FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id),
       knn AS MATERIALIZED (SELECT qid, nid FROM scored WHERE rk <= $k)"""

  private val pagerankTailSql = {
    val step = (i: Int) =>
      s"""pr$i AS (
           SELECT e.b AS v, (1.0 - 0.85) / nv + 0.85 * sum(p.r / d.d) AS r
           FROM pr${i - 1} p
           JOIN edges e ON p.v = e.a
           JOIN deg d ON p.v = d.v, n
           GROUP BY e.b, nv)"""
    s"""mutual AS MATERIALIZED (
         SELECT x.qid AS a, x.nid AS b FROM knn x
         JOIN knn y ON x.qid = y.nid AND x.nid = y.qid
         WHERE x.qid < x.nid),
       edges AS MATERIALIZED (SELECT a, b FROM mutual UNION ALL SELECT b, a FROM mutual),
       deg AS MATERIALIZED (SELECT a AS v, count(*) AS d FROM edges GROUP BY 1),
       verts AS MATERIALIZED (SELECT DISTINCT a AS v FROM edges),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM verts),
       pr0 AS (SELECT v, 1.0 / nv AS r FROM verts, n),
       ${(1 to 5).map(step).mkString(",\n       ")}
       SELECT v AS vec_id, round(r, 6) AS pagerank FROM pr5"""
  }

  private val componentsTailSql =
    """mutual AS MATERIALIZED (
         SELECT x.qid AS a, x.nid AS b FROM knn x
         JOIN knn y ON x.qid = y.nid AND x.nid = y.qid
         WHERE x.qid < x.nid),
       edges AS MATERIALIZED (SELECT a, b FROM mutual UNION SELECT b, a FROM mutual),
       reach AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       verts AS (SELECT DISTINCT a AS vertex FROM edges)
       SELECT v.vertex AS vec_id,
              least(v.vertex, min(r.b)) AS community
       FROM verts v LEFT JOIN reach r ON v.vertex = r.a
       GROUP BY v.vertex"""

  private val lisiTailSql =
    """counts AS (
         SELECT k.qid, e.label AS nlabel, count(*) AS c
         FROM knn k JOIN embeddings e ON k.nid = e.vec_id GROUP BY 1, 2),
       agg AS (
         SELECT qid, CAST(sum(c) AS BIGINT) AS k_eff,
                sum(c*c) AS c2
         FROM counts GROUP BY 1)
       SELECT e.vec_id, e.label, a.k_eff,
              round(a.k_eff * a.k_eff / CAST(a.c2 AS DOUBLE), 6) AS lisi
       FROM agg a JOIN embeddings e ON a.qid = e.vec_id"""

  /** Triangle/clustering tail over the `knn (qid, nid)` contract —
    * oracle twin of [[clusteringFrom]]. */
  private val clusteringTailSql =
    """mutual AS MATERIALIZED (
         SELECT x.qid AS a, x.nid AS b FROM knn x
         JOIN knn y ON x.qid = y.nid AND x.nid = y.qid
         WHERE x.qid < x.nid),
       und AS MATERIALIZED (SELECT a AS v, b AS n FROM mutual
               UNION ALL SELECT b, a FROM mutual),
       deg AS (SELECT v, count(*) AS degree FROM und GROUP BY 1),
       wed AS (SELECT e1.v, e1.n AS x, e2.n AS y
               FROM und e1 JOIN und e2 ON e1.v = e2.v AND e1.n < e2.n),
       tri AS (SELECT w.v, count(*) AS triangles
               FROM wed w JOIN mutual m ON w.x = m.a AND w.y = m.b
               GROUP BY 1)
       SELECT e.vec_id,
              coalesce(d.degree, 0) AS degree,
              coalesce(t.triangles, 0) AS triangles,
              round(CASE WHEN coalesce(d.degree, 0) >= 2
                    THEN 2.0 * coalesce(t.triangles, 0)
                         / (d.degree * (d.degree - 1))
                    ELSE 0.0 END, 6) AS clustering_coeff
       FROM embeddings e
       LEFT JOIN deg d ON e.vec_id = d.v
       LEFT JOIN tri t ON e.vec_id = t.v"""

  /** 3-round synchronous LPA unroll over the `knn (qid, nid)` contract
    * — the oracle twin of [[labelPropFrom]]. Vote argmax is a total
    * order (count desc, label asc), so every round replays exactly. */
  private val labelPropTailSql = {
    val step = (i: Int) =>
      s"""v$i AS (
           SELECT e.dst, l.label, count(*) AS c
           FROM edges e JOIN l${i - 1} l ON e.src = l.vec_id GROUP BY 1, 2),
         p$i AS (
           SELECT dst AS vec_id, label FROM (
             SELECT dst, label,
                    row_number() OVER (PARTITION BY dst
                      ORDER BY c DESC, label ASC) AS rk
             FROM v$i)
           WHERE rk = 1 AND dst % 10 != 0),
         l$i AS (SELECT * FROM seeds UNION ALL SELECT * FROM p$i)"""
    s"""mutual AS MATERIALIZED (
         SELECT x.qid AS a, x.nid AS b FROM knn x
         JOIN knn y ON x.qid = y.nid AND x.nid = y.qid
         WHERE x.qid < x.nid),
       edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM mutual
                 UNION ALL SELECT b, a FROM mutual),
       seeds AS MATERIALIZED (SELECT vec_id, label FROM embeddings WHERE vec_id % 10 = 0),
       l0 AS (SELECT * FROM seeds),
       ${(1 to 3).map(step).mkString(",\n       ")}
       SELECT e.vec_id, e.label AS true_label,
              coalesce(l.label, -1) AS prop_label,
              (e.vec_id % 10 = 0) AS is_seed
       FROM embeddings e LEFT JOIN l3 l ON e.vec_id = l.vec_id"""
  }

  private[sim] def LouvainRoundsSql: Int = LouvainRounds

  /** 3-round synchronous Louvain unroll over the `knn (qid, nid)`
    * contract — the oracle twin of [[louvainFrom]]. Scores are pure
    * integers (scaled by 2m), argmax total-ordered (score desc, c asc),
    * so every round replays exactly. The CTE chain (ending in
    * c$LouvainRounds, with `mutual`/`edges`/`deg` in scope) is exposed
    * separately for the GraphOps refinement/modularity audits. */
  private val louvainTailSql =
    louvainCtesSqlVal + s"\n       SELECT v AS vec_id, c AS community FROM c$LouvainRounds"

  /** The Louvain CTE chain alone (mutual/edges/deg/m/c0..c3), for the
    * GraphOps audits that extend it with more CTEs. */
  private[sim] def louvainUnrollSql: String = louvainCtesSqlVal

  private lazy val louvainCtesSqlVal: String = {
    val step = (i: Int) =>
      s"""tot$i AS (
           SELECT c.c, sum(d.d) AS tot
           FROM c${i - 1} c JOIN deg d USING (v) GROUP BY 1),
         kin$i AS (
           SELECT e.src AS v, c.c AS cand, count(*) AS kin
           FROM edges e JOIN c${i - 1} c ON e.dst = c.v GROUP BY 1, 2),
         cand$i AS (
           SELECT v, cand, max(kin) AS kin FROM (
             SELECT v, cand, kin FROM kin$i
             UNION ALL
             SELECT v, c AS cand, 0::BIGINT AS kin FROM c${i - 1})
           GROUP BY 1, 2),
         sc$i AS (
           SELECT cd.v, cd.cand,
                  2 * m.m * cd.kin
                    - d.d * (t.tot - CASE WHEN cd.cand = o.c THEN d.d ELSE 0 END)
                    AS score
           FROM cand$i cd
           JOIN c${i - 1} o ON cd.v = o.v
           JOIN deg d ON cd.v = d.v
           JOIN tot$i t ON cd.cand = t.c, m),
         c$i AS MATERIALIZED (
           SELECT v, cand AS c FROM (
             SELECT v, cand,
                    row_number() OVER (PARTITION BY v
                      ORDER BY score DESC, cand ASC) AS rk
             FROM sc$i) WHERE rk = 1)"""
    s"""mutual AS MATERIALIZED (
         SELECT x.qid AS a, x.nid AS b FROM knn x
         JOIN knn y ON x.qid = y.nid AND x.nid = y.qid
         WHERE x.qid < x.nid),
       edges AS (SELECT a AS src, b AS dst FROM mutual
                 UNION ALL SELECT b, a FROM mutual),
       deg AS (SELECT src AS v, count(*) AS d FROM edges GROUP BY 1),
       m AS (SELECT count(*)::BIGINT AS m FROM mutual),
       c0 AS (SELECT DISTINCT src AS v, src AS c FROM edges),
       ${(1 to LouvainRounds).map(step).mkString(",\n       ")}"""
  }

  private val hardNegativesSql =
    """SELECT qid, neighbor_id, cos_sim, rk FROM (
         SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
                round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos_sim,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                           c.vec_id ASC) AS rk
         FROM embeddings q JOIN embeddings c
           ON q.vec_id != c.vec_id AND q.label != c.label
         WHERE q.vec_id % 50 = 0)
       WHERE rk <= 5"""

  private val hardNegativesLshSql =
    s"""WITH $lshSigPrefixSql,
       hnprobes AS MATERIALIZED (
         SELECT s.vec_id AS qid,
                CASE WHEN t.p < 0 THEN s.bucket
                     ELSE xor(s.bucket, (1::BIGINT << t.p)) END AS bucket
         FROM lsig s, LATERAL (SELECT unnest(generate_series(-1, ${LshPlanes - 1})) AS p) t
         WHERE s.vec_id % 50 = 0),
       hncand AS (
         SELECT p.qid, s2.vec_id AS nid
         FROM hnprobes p JOIN lsig s2 USING (bucket)
         WHERE s2.vec_id != p.qid),
       hnscored AS (
         SELECT c.qid, c.nid,
                round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS cos_sim,
                row_number() OVER (PARTITION BY c.qid
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                           c.nid ASC) AS rk
         FROM hncand c JOIN embeddings q ON c.qid = q.vec_id
                       JOIN embeddings n ON c.nid = n.vec_id
         WHERE q.label != n.label)
       SELECT qid, nid AS neighbor_id, cos_sim, rk
       FROM hnscored WHERE rk <= 5"""

  private val annRecallEvalSql =
    s"""WITH $lshSigPrefixSql,
       ${lshKnnSql(10, "WHERE s.vec_id % 50 = 0")},
       bscored AS (
         SELECT q.vec_id AS qid, c.vec_id AS nid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                           c.vec_id ASC) AS rk
         FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
         WHERE q.vec_id % 50 = 0),
       btruth AS (SELECT qid, nid FROM bscored WHERE rk <= 10),
       hits AS (
         SELECT t.qid, count(*) AS n_hit
         FROM btruth t JOIN knn l ON t.qid = l.qid AND t.nid = l.nid
         GROUP BY 1),
       tr AS (SELECT qid, count(*) AS n_true FROM btruth GROUP BY 1)
       SELECT tr.qid, tr.n_true,
              CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
              round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / tr.n_true, 6) AS recall
       FROM tr LEFT JOIN hits h USING (qid)"""

  // ---------------------------------------------------------------
  // 352. MMR-diversified top-k (Carbonell & Goldstein 1998 maximal
  // marginal relevance) — the re-rank stage a retrieval pipeline runs
  // AFTER candidate generation so the returned set is relevant AND
  // non-redundant: pick argmax rel, then 4× argmax of
  // λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), λ=0.7. Candidates come from
  // the multiprobe LSH feed (#38's bucket contract — the scale path;
  // MMR itself only ever touches the ≤25-candidate-per-query frames,
  // so the 25² pair-sim table and the 5 unrolled selection rounds are
  // bounded work regardless of corpus size). Rel and pair sims round
  // to 6dp BEFORE every argmax so both engines rank identical doubles;
  // ties break by vec_id ascending.
  def mmrDiversifiedTopk(s: SparkSession, dir: String): DataFrame = {
    val lam = 0.7
    val vecs = vectors(s, dir).withColumn("bucket",
      graft.functions.VectorFunctions.hyperplaneBucket(col("v"), LshPlanes))
    val qs = vecs.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        explode(expr(s"""transform(sequence(0, $LshPlanes),
          p -> IF(p = 0, bucket, bucket ^ shiftleft(1L, p - 1)))""")).as("bucket"))
    // QUERY-SIDE BROADCAST CONTRACT: broadcast(qs) assumes queries ≪ corpus.
    // This registry binds queries = corpus/50 × (planes+1) probes, which GROWS
    // with the corpus — at 100× the broadcast is the bottleneck. When queries
    // approach corpus size, swap to Similarity.lshTopK's bucket-keyed
    // shuffle self-join (same candidate semantics, no broadcast).
    val scored = vecs.join(broadcast(qs), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cs", cosCol)
    // r15 optimization (the unigram-DP precedent, guide §2.4): MMR only
    // ever touches ≤25 candidates and their ≤25² pair sims PER QUERY —
    // gather both into one array row per query and run ALL five
    // selection rounds as a single codegen'd fold. The old shape ran
    // 4 unrolled rounds of (penalty join + anti join + argmax groupBy +
    // localCheckpoint) — ~16 exchanges and 5 materializations of
    // |queries|-scale frames. Identical selection: 6dp-rounded rel/sim
    // enter the fold unchanged, the per-round key is the same
    // min-struct (−mmr, id) total order, and a query whose candidate
    // pool runs dry stops early exactly as the empty-argmax rounds did.
    val cand = topk(scored, 25)
      .select(col("qid"), col("neighbor_id").as("id"), col("cos_sim").as("rel"))
      // no checkpoint: both consumers (pair build, per-query fold) hang
      // off topk's canonical groupBy(qid) exchange — ReuseExchange
      // replays it from shuffle files within the one action
    val cv = cand.join(vecs.select(col("vec_id").as("id"), col("v"), col("nrm")), "id")
    val pairs = cv.select(col("qid"), col("id").as("d1"), col("v").as("v1"), col("nrm").as("n1"))
      .join(cv.select(col("qid"), col("id").as("d2"), col("v").as("v2"), col("nrm").as("n2")),
        Seq("qid"))
      .filter(col("d1") =!= col("d2"))
      .select(col("qid"), col("d1"), col("d2"),
        r(dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 6).as("sim"))
    val candArr = cand.groupBy(col("qid"))
      .agg(collect_list(struct(col("id"), col("rel"))).as("cands"))
    val simArr = pairs.groupBy(col("qid"))
      .agg(collect_list(struct(col("d1"), col("d2"), col("sim"))).as("sims"))
    val selExpr = expr(s"""
      aggregate(
        sequence(1, 5),
        CAST(array() AS array<struct<id: BIGINT, rel: DOUBLE, mmr: DOUBLE, pos: BIGINT>>),
        (sel, t) -> CASE
          WHEN size(filter(cands, c -> NOT exists(sel, s0 -> s0.id = c.id))) = 0
            THEN sel
          ELSE array_append(sel, aggregate(
            ARRAY(array_min(transform(
              filter(cands, c -> NOT exists(sel, s0 -> s0.id = c.id)),
              c -> named_struct(
                'nk', -(CASE WHEN size(sel) = 0 THEN c.rel
                        ELSE round($lam * c.rel - ${1 - lam} * coalesce(
                          array_max(transform(
                            filter(sims, p -> p.d1 = c.id
                              AND exists(sel, s0 -> s0.id = p.d2)),
                            p -> p.sim)),
                          0D), 6) END),
                'id', c.id, 'rel', c.rel)))),
            CAST(NULL AS struct<id: BIGINT, rel: DOUBLE, mmr: DOUBLE, pos: BIGINT>),
            (z, pk) -> named_struct('id', pk.id, 'rel', pk.rel,
              'mmr', -pk.nk, 'pos', CAST(t AS BIGINT))))
        END,
        sel -> sel)""")
    candArr.join(simArr, Seq("qid"), "left")
      .withColumn("sims", coalesce(col("sims"),
        expr("CAST(array() AS array<struct<d1: BIGINT, d2: BIGINT, sim: DOUBLE>>)")))
      .withColumn("s", explode(selExpr))
      .select(col("qid"), col("s.pos").as("pos"), col("s.id").as("vec_id"),
        col("s.rel").as("relevance"), col("s.mmr").as("mmr_score"))
  }

  private val mmrDiversifiedTopkSql = {
    val step = (t: Int) =>
      s"""ms$t AS (
           SELECT p.qid, p.d1 AS id, max(p.sim) AS ms
           FROM prs p JOIN selall${t - 1} s ON p.qid = s.qid AND p.d2 = s.id
           GROUP BY 1, 2),
         sc$t AS (
           SELECT c.qid, c.id, c.rel,
                  round(0.7 * c.rel - 0.3 * coalesce(m.ms, 0.0), 6) AS mmr
           FROM cnd c LEFT JOIN ms$t m ON c.qid = m.qid AND c.id = m.id
           WHERE NOT EXISTS (SELECT 1 FROM selall${t - 1} s
                             WHERE s.qid = c.qid AND s.id = c.id)),
         sel$t AS (
           SELECT qid, id, rel, mmr, $t AS pos FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY mmr DESC, id ASC) AS rn FROM sc$t)
           WHERE rn = 1),
         selall$t AS (
           SELECT * FROM selall${t - 1} UNION ALL SELECT * FROM sel$t)"""
    s"""WITH $lshSigPrefixSql,
       ${lshKnnSql(25, "WHERE s.vec_id % 50 = 0")},
       cnd AS MATERIALIZED (
         SELECT qid, nid AS id, round(cs, 6) AS rel
         FROM scored WHERE rk <= 25),
       prs AS MATERIALIZED (
         SELECT a.qid, a.id AS d1, b.id AS d2,
           round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS sim
         FROM cnd a JOIN cnd b ON a.qid = b.qid AND a.id != b.id
         JOIN embeddings ea ON a.id = ea.vec_id
         JOIN embeddings eb ON b.id = eb.vec_id),
       sel1 AS (
         SELECT qid, id, rel, rel AS mmr, 1 AS pos FROM (
           SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY rel DESC, id ASC) AS rn FROM cnd)
         WHERE rn = 1),
       selall1 AS (SELECT * FROM sel1),
       ${(2 to 5).map(step).mkString(",\n")}
       SELECT qid, CAST(pos AS BIGINT) AS pos, id AS vec_id,
              rel AS relevance, mmr AS mmr_score
       FROM selall5"""
  }

  private val ExactTruthScorer =
    "ann_recall_eval / hard_negatives / label_prop_knn ride the documented brute-force " +
      "scorer (oracle paths; the _lsh twins are the scale feeds and stay BNL-free)"
  private val RankEvalTruth =
    "RBO + NDCG evals score the LSH feed against the documented brute-force exact truth " +
      "(the ann_recall_eval precedent)"

  val ops: Seq[Op] = Seq(
    Op("pagerank_knn", pagerankKnn _, Oracle(s"WITH ${bruteKnnSql(5)},\n$pagerankTailSql"),
      untimed = Some(Reasons.ExactKnnGraphFeed),
      quadratic = Some(Reasons.BruteForceBaseline)),
    Op("pagerank_knn_lsh", pagerankKnnLsh _, Oracle(
      s"WITH $lshSigPrefixSql,\n${lshKnnSql(5)},\n$pagerankTailSql")),
    Op("local_lisi", localLisi _, Oracle(s"WITH ${bruteKnnSql(30)},\n$lisiTailSql"),
      untimed = Some(Reasons.ExactAllPairsCosine),
      quadratic = Some("local_lisi's neighborhoods come from the documented brute-force " +
        "scorer (LSH/IVF candidates are the scale path)")),
    Op("local_lisi_lsh", localLisiLsh _, Oracle(
      s"WITH $lshSigPrefixSql,\n${lshKnnSql(30)},\n$lisiTailSql")),
    Op("knn_components", knnComponents _, Oracle(
      s"WITH RECURSIVE ${bruteKnnSql(5)},\n$componentsTailSql"),
      untimed = Some(Reasons.ExactKnnGraphFeed),
      quadratic = Some(Reasons.BruteForceBaseline)),
    Op("knn_clustering_coeff", knnClusteringCoeff _, Oracle(
      s"WITH ${bruteKnnSql(5)},\n$clusteringTailSql"),
      untimed = Some(Reasons.ExactKnnGraphFeed),
      quadratic = Some("exact triangle feed rides the documented brute-force kNN oracle " +
        "path; the _lsh twin is the scale feed and stays BNL-free")),
    Op("knn_clustering_coeff_lsh", knnClusteringCoeffLsh _, Oracle(
      s"WITH $lshSigPrefixSql,\n${lshKnnSql(5)},\n$clusteringTailSql")),
    Op("knn_components_lsh", knnComponentsLsh _, Oracle(
      s"WITH RECURSIVE $lshSigPrefixSql,\n${lshKnnSql(5)},\n$componentsTailSql")),
    Op("ivf_nprobe_sweep", ivfNprobeSweep _, Oracle(ivfNprobeSweepSql),
      quadratic = Some(Reasons.SampledOrTruthScorer)),
    Op("ann_ivf_topk", annIvfTopk _, Oracle(ivfOracleSql(
      "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")),
      quadratic = Some(Reasons.BruteForceBaseline)),
    Op("lsh_planes_sweep", lshPlanesSweep _, Oracle(lshPlanesSweepSql),
      quadratic = Some("lsh_planes_sweep rides the brute-force truth scorer " +
        "(ann_recall_eval precedent); its candidate joins are bucketed")),
    Op("ivf_cell_balance", ivfCellBalance _, Oracle(ivfCellBalanceSql),
      quadratic = Some("ivf_cell_balance attaches the 1-row totals agg to the 16-row " +
        "cell counts — scalar attach, not a pair join")),
    Op("ann_recall_eval", annRecallEval _, Oracle(annRecallEvalSql),
      quadratic = Some(ExactTruthScorer)),
    Op("ann_rbo_eval", annRboEval _, Oracle(annRboEvalSql),
      quadratic = Some(RankEvalTruth)),
    Op("ann_ndcg_eval", annNdcgEval _, Oracle(annNdcgEvalSql),
      quadratic = Some(RankEvalTruth)),
    Op("hard_negatives", hardNegatives _, Oracle(hardNegativesSql),
      quadratic = Some(ExactTruthScorer)),
    Op("hard_negatives_lsh", hardNegativesLsh _, Oracle(hardNegativesLshSql)),
    Op("label_prop_knn", labelPropKnn _, Oracle(s"WITH ${bruteKnnSql(5)},\n$labelPropTailSql"),
      untimed = Some(Reasons.ExactKnnGraphFeed),
      quadratic = Some(ExactTruthScorer)),
    Op("label_prop_knn_lsh", labelPropKnnLsh _, Oracle(
      s"WITH $lshSigPrefixSql,\n${lshKnnSql(5)},\n$labelPropTailSql")),
    Op("louvain_knn", louvainKnn _, Oracle(s"WITH ${bruteKnnSql(5)},\n$louvainTailSql"),
      untimed = Some(Reasons.ExactKnnGraphFeed),
      quadratic = Some("louvain's exact feed rides the same brute-force scorer; the " +
        "_lsh twin is the scale feed and stays BNL-free (m is a bounded driver scalar " +
        "off the checkpointed edge list, not a 1-row BNL)")),
    Op("louvain_knn_lsh", louvainKnnLsh _, Oracle(
      s"WITH $lshSigPrefixSql,\n${lshKnnSql(5)},\n$louvainTailSql")),
    Op("mmr_diversified_topk", mmrDiversifiedTopk _, Oracle(mmrDiversifiedTopkSql)),
    Op("ann_lsh_topk", annLshTopk _, Oracle(
      s"""WITH $lshSigPrefixSql,
         ${lshKnnSql(10, "WHERE s.vec_id % 50 = 0")}
         SELECT qid, nid AS neighbor_id, round(cs, 6) AS cos_sim,
                CAST(rk AS BIGINT) AS rk
         FROM scored WHERE rk <= 10"""),
      quadratic = Some(Reasons.BruteForceBaseline)),
    Op("ann_bruteforce_topk", annBruteforceTopk _, Oracle(
      """SELECT qid, neighbor_id, cos_sim, rk FROM (
           SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos_sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                             c.vec_id ASC) AS rk
           FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
           WHERE q.vec_id % 50 = 0)
         WHERE rk <= 10"""),
      quadratic = Some(Reasons.BruteForceBaseline)))
}
