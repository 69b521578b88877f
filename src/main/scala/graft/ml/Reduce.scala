package graft.ml

import scala.jdk.CollectionConverters._

import graft.{Op, Reasons, Tables}, Op.Oracle
import graft.functions.QuantOuterProduct
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dimensionality reduction + clustering on the embedding corpus
  * (SURVEY.md §2.2 #29/#30; reference wrapper.R:259-348 — denoised PCA,
  * k-means and hierarchical clustering, plus the tradeseq.R:6-40
  * evaluate-k sweep and the wrapper.R:350-360 clustree). Each is an
  * integer-grid replay: fixed iterations over quantized coordinates
  * with exact-integer tie-breaks, so the DuckDB oracle recomputes the
  * identical result and the driver hash-checks it.
  */
object Reduce extends Op.Registry {

  /** 115. label-centroid (simplified) silhouette — embedding-space
    * health per label: a(i) = distance to the OWN label centroid,
    * b(i) = distance to the nearest OTHER centroid, silhouette =
    * (b−a)/max(a,b) averaged per label. Centroids are a 10-row
    * broadcast; distances use the codegen'd DotProduct via
    * d² = ‖x‖²+‖c‖²−2x·c, so the corpus is ONE narrow pass — no
    * per-dimension explode of the fact table (the oracle uses the
    * exploded Σ(x−c)² form; both agree well inside 6dp rounding). */
  def labelSilhouette(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val cents = e
      .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("clabel"), col("dim")).agg(avg(col("x")).as("c"))
      .groupBy(col("clabel"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), s -> s.c)").as("cv"))
    val d = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        sqrt(greatest(lit(0.0),
          dot(col("v"), col("v")) + dot(col("cv"), col("cv"))
            - lit(2.0) * dot(col("v"), col("cv")))).as("dist"))
    d.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg((col("b") - col("a")) /
          nullif(greatest(col("a"), col("b")), lit(0.0))), 6).as("mean_silhouette"),
        round(avg(col("a")), 6).as("mean_intra"),
        round(avg(col("b")), 6).as("mean_nearest_other"))
  }

  private val labelSilhouetteSql =
    """WITH pts AS (
         SELECT vec_id, label,
                CAST(embedding[CAST(dim AS INT)] AS DOUBLE) AS x, dim
         FROM embeddings,
              LATERAL unnest(generate_series(1, len(embedding))) AS u(dim)),
       cents AS (
         SELECT label AS clabel, dim, avg(x) AS c FROM pts GROUP BY 1, 2),
       d2 AS (
         SELECT p.vec_id, p.label, c.clabel,
                sqrt(sum((p.x - c.c)*(p.x - c.c))) AS dist
         FROM pts p JOIN cents c ON p.dim = c.dim GROUP BY 1, 2, 3),
       per AS (
         SELECT vec_id, label,
                max(CASE WHEN clabel = label THEN dist END) AS a,
                min(CASE WHEN clabel <> label THEN dist END) AS b
         FROM d2 GROUP BY 1, 2)
       SELECT label, count(*) AS n,
              round(avg((b - a)/nullif(greatest(a, b), 0.0)), 6) AS mean_silhouette,
              round(avg(a), 6) AS mean_intra,
              round(avg(b), 6) AS mean_nearest_other
       FROM per GROUP BY 1"""

  // ---------------------------------------------------------------
  // 30/131 hash-checked replay: fixed-iteration Lloyd on the integer
  // grid — the harmony_correct determinism template applied to KMeans,
  // so the clustering queries are DuckDB hash-checked (a seeded
  // floating-point fit would not be SQL-replayable).
  //  - init: random-partition (cluster = vec_id mod k) — the classic
  //    Forgy-alternative, deterministic and SQL-trivial;
  //  - centroids accumulate integer-quantized coordinates
  //    (round(x·1e6) as BIGINT — order-independent sums, exact on any
  //    partitioning);
  //  - assignment distances are Σ(Δ grid)² over round(x·1e3) BIGINTs —
  //    integer argmin with cluster-id tiebreak, NO fp ambiguity;
  //  - 3 unrolled rounds; every k of the elbow sweep rides ONE
  //    pipeline (the kval column), so the 7-fit sweep is 3 rounds
  //    total, not 21.
  // Every grid-Lloyd trainer (k-means, elbow, IVF, PQ, residual PQ,
  // bisecting) runs on one round primitive, [[lloydRounds]]: the
  // points persist once as long arrays and each round is ONE job — a
  // mapPartitions that assigns every point against the driver-held
  // centroid table and sums its long vector per (group, k), whose
  // partials the driver merges (the MLlib KMeans shape). Rounds are
  // Scala closures, so they plan and generate no code per round.
  private[graft] val LloydRounds = 3

  private def quant1e6(v: String) =
    expr(s"transform($v, x -> CAST(round(x * 1e6, 0) AS BIGINT))")
  private def gridded(v: String) =
    expr(s"transform($v, x -> CAST(round(x * 1000, 0) AS BIGINT))")

  /** One training point: `x` is what the centroid sums add (round(v·1e6)
    * for real vectors, the residual itself for residual PQ), `xq` what
    * the argmin measures, `k` its cluster in the first round. */
  private[graft] final case class LloydPoint(group: Any, id: Any, x: Array[Long],
      xq: Array[Long], k: Long)

  /** One group's centroid table, ascending by cluster id k: member
    * count, mean and grid centroid per cluster. */
  private[graft] final case class LloydCents(k: Array[Long], n: Array[Long],
      cv: Array[Array[Double]], cq: Array[Array[Long]])

  /** Nearest centroid as (k, d²): integer d², the smaller k wins a tie —
    * the (d2, k) total order of the oracle's row_number. */
  private[graft] def nearest(xq: Array[Long], c: LloydCents): (Long, Long) = {
    var best = 0; var bd = 0L; var j = 0
    while (j < c.k.length) {
      val d2 = sqDist(xq, c.cq(j))
      if (j == 0 || d2 < bd) { best = j; bd = d2 }
      j += 1
    }
    (c.k(best), bd)
  }

  /** Integer squared distance Σ(a − b)² over `a`'s dimensions. */
  private[graft] def sqDist(a: Array[Long], b: Array[Long]): Long = {
    var d2 = 0L; var i = 0
    while (i < a.length) { val e = a(i) - b(i); d2 += e * e; i += 1 }
    d2
  }

  /** A cluster's mean and grid centroid from its long-vector sum, in
    * the same double operations as the SQL: `cv = sq / (1e6 * n)`,
    * `cq = round(cv * 1000)` over quant_vec_sum sums, or for residuals
    * `cv = sq / n`, `cq = round(cv)`. */
  private def centroid(sum: Array[Long], n: Long, residual: Boolean)
      : (Array[Double], Array[Long]) =
    if (residual) { val cv = sum.map(_ / n.toDouble); (cv, cv.map(QuantOuterProduct.q)) }
    else { val cv = sum.map(_ / (1e6 * n)); (cv, cv.map(c => QuantOuterProduct.q(c * 1000))) }

  /** [[LloydRounds]] rounds over `points`, one job each; returns every
    * group's final-round centroid table. A cluster that no point chose
    * drops out of the table. */
  private[graft] def lloydRounds(points: RDD[LloydPoint], residual: Boolean)
      : Map[Any, LloydCents] = {
    var table: Map[Any, LloydCents] = null
    for (_ <- 1 to LloydRounds) {
      val prev = table
      val partials = points.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[(Any, Long), (Array[Long], Array[Long])]
        it.foreach { p =>
          val k = if (prev == null) p.k else nearest(p.xq, prev(p.group))._1
          val (sum, n) = acc.getOrElseUpdate((p.group, k),
            (new Array[Long](p.x.length), new Array[Long](1)))
          var i = 0
          while (i < sum.length) { sum(i) += p.x(i); i += 1 }
          n(0) += 1
        }
        acc.iterator.map { case ((g, k), (sum, n)) => (g, k, n(0), sum) }
      }.collect()
      table = partials.groupBy(_._1).map { case (g, ps) =>
        val cs = ps.groupBy(_._2).toArray.sortBy(_._1).map { case (k, pk) =>
          val n = pk.map(_._3).sum
          (k, n, centroid(pk.map(_._4).reduce((a, b) => a.zip(b).map(t => t._1 + t._2)), n, residual))
        }
        g -> LloydCents(cs.map(_._1), cs.map(_._2), cs.map(_._3._1), cs.map(_._3._2))
      }
    }
    table
  }

  /** `pts` (group, id, vector, grid vector, initial k) as points, the
    * vector summed on the 1e-6 grid; group and id must be integral. */
  private def lloydPoints(pts: DataFrame): RDD[LloydPoint] = {
    val types = pts.schema.fields.map(_.dataType)
    pts.queryExecution.toRdd.map { r =>
      LloydPoint(r.get(0, types(0)), r.get(1, types(1)),
        r.getArray(2).toDoubleArray().map(v => QuantOuterProduct.q(v * 1e6)),
        r.getArray(3).toLongArray(), r.get(4, types(4)).asInstanceOf[Number].longValue)
    }
  }

  /** Grid-Lloyd training of `pts` (group, id, vector, grid vector,
    * initial k). Returns the final assignment (group, id, k, d2),
    * checkpointed, and the final-round centroids (group, k, cv, cq) as
    * a local table. The points persist for the rounds only. */
  private[graft] def gridLloydFit(pts: DataFrame): (DataFrame, DataFrame) = {
    val s = pts.sparkSession
    val Array(gf, idf, _, _, _) = pts.schema.fields
    val points = lloydPoints(pts).persist()
    try {
      val table = lloydRounds(points, residual = false)
      val assign = s.createDataFrame(points.map { p =>
          val (k, d2) = nearest(p.xq, table(p.group))
          Row(p.group, p.id, k, d2)
        }, StructType(Seq(gf, idf,
          StructField("k", LongType, nullable = false), StructField("d2", LongType, nullable = false))))
        .localCheckpoint()
      val cents = table.toSeq.flatMap { case (g, c) =>
        c.k.indices.map(j => Row(g, c.k(j), c.cv(j).toSeq, c.cq(j).toSeq))
      }
      (assign, s.createDataFrame(cents.asJava, StructType(Seq(
        StructField(gf.name, gf.dataType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false), nullable = false),
        StructField("cq", ArrayType(LongType, containsNull = false), nullable = false)))))
    } finally { points.unpersist(blocking = false); () }
  }

  /** Grid Lloyd over an arbitrary `(vec_id, v: array<double>)` frame,
    * all `kvals` in one pipeline. Returns (final assignment
    * (kval, vec_id, k, d2), final-round centroids (kval, k, cv, cq));
    * d2 is the grid-unit squared distance to the assigned centroid
    * (SSE numerator), cq the assignment-grid centroid used by IVF
    * probing. */
  private[graft] def gridLloyd(base: DataFrame, kvals: Seq[Int]): (DataFrame, DataFrame) =
    gridLloydFit(base
      .withColumn("kval", explode(array(kvals.map(lit(_)): _*)))
      .select(col("kval"), col("vec_id"), col("v"), gridded("v"),
        pmod(col("vec_id"), col("kval"))))

  /** Memoized FULL grid-Lloyd training — (assignment, final centroids)
    * — keyed by (dir, tag, kvals). The clustering queries and the
    * IVF index family consume this: in production the trained
    * coarse quantizer is persisted index state, rebuilt only when the
    * corpus changes, and every index query rides it. Before this, the
    * warm bench column exposed that ann_ivf_* re-ran the whole training
    * per query even with a hot memo (r9 finding: ann_ivf_sq_topk warm
    * 5.37 vs suite 5.74 — the "state" the memo held didn't include the
    * coarse quantizer). All raw-corpus consumers share tag "raw": the
    * training is deterministic in the input VALUES (the DuckDB-replay
    * contract), so identical (tag, kvals) content yields identical
    * state regardless of which query built it first. Cold bench
    * numbers are unaffected (Memo.reset precedes every timed run).
    *
    * TAG CONTRACT (r9 advice): the `base` frame is IGNORED on a cache
    * hit, so a tag names ONE canonical corpus frame — passing a
    * value-different frame under an existing tag would silently
    * receive the other frame's training state. Registered tags:
    *   "raw" — the full-precision embeddings corpus, projected
    *           (vec_id, v) (lloydClusters / lloydElbow /
    *           lloydTransitions / lloydAri, Ann.annIvfTopk /
    *           ivfCellBalance / ivfNprobeSweep)
    *   "sq"  — the int8-dequantized corpus (Quantize.annIvfSqTopk
    *           via Ann.ivfTopkFrom; bit-exact dequantized values)
    * Introducing a new corpus variant REQUIRES a new tag — never reuse
    * one for a frame that isn't value-identical to the rows above. */
  private val lloydFullCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, (String, Seq[Int])), (DataFrame, DataFrame)]()
  graft.api.Memo.register(() => lloydFullCache.clear())

  private[graft] def gridLloydMemo(s: SparkSession, dir: String, tag: String,
      kvals: Seq[Int])(base: => DataFrame): (DataFrame, DataFrame) =
    graft.api.Memo.stamped(lloydFullCache, s, dir, (tag, kvals))(gridLloyd(base, kvals))

  /** Final assignment (kval, vec_id, k, d2) over the embeddings table
    * after [[LloydRounds]] rounds, shared by the clustering queries. */
  private[graft] def lloydState(s: SparkSession, dir: String, kvals: Seq[Int]): DataFrame =
    gridLloydMemo(s, dir, "raw", kvals)(
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))._1

  /** 30 (hash-checked): k=10 Lloyd assignment per vector. */
  def lloydClusters(s: SparkSession, dir: String): DataFrame =
    lloydState(s, dir, Seq(10))
      .join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), col("k").cast("long").as("cluster"))

  /** 131 (hash-checked): the evaluate-k sweep as a clustering elbow —
    * grid-exact within-cluster SSE for k=2..8, all seven runs in one
    * pipeline. */
  def lloydElbow(s: SparkSession, dir: String): DataFrame =
    lloydState(s, dir, 2 to 8)
      .groupBy(col("kval").cast("long").as("k"))
      .agg(count(lit(1)).as("n_vec"),
        round(sum(col("d2")) / lit(1e6), 6).as("sse"))

  /** One Lloyd round as CTEs over `lbase`/`lxq` (the oracle twin of one
    * [[gridLloyd]] iteration): quantized centroid sums → grid
    * centroids → integer d² argmin with (d2, k) total order. */
  private def lloydIterSql(i: Int): String =
    s"""lcent$i AS (
         SELECT b.kval, g.k, b.dim,
                sum(CAST(round(b.x * 1e6, 0) AS BIGINT)) AS sq, count(*) AS n
         FROM lbase b JOIN lg${i - 1} g ON b.kval = g.kval AND b.vec_id = g.vec_id
         GROUP BY 1, 2, 3),
       lcentq$i AS (
         SELECT kval, k, dim,
                CAST(round((sq / (1e6 * n)) * 1000, 0) AS BIGINT) AS cq
         FROM lcent$i),
       ld$i AS (
         SELECT q.kval, q.vec_id, c.k,
                sum((q.xq - c.cq) * (q.xq - c.cq)) AS d2
         FROM lxq q JOIN lcentq$i c ON q.kval = c.kval AND q.dim = c.dim
         GROUP BY 1, 2, 3),
       lg$i AS MATERIALIZED (
         SELECT kval, vec_id, k, d2 FROM (
           SELECT kval, vec_id, k, d2,
                  row_number() OVER (PARTITION BY kval, vec_id
                    ORDER BY d2 ASC, k ASC) AS rk
           FROM ld$i) WHERE rk = 1)"""

  /** The full Lloyd CTE chain over an arbitrary vector source
    * (`srcSql` must yield (vec_id, v DOUBLE[])) — shared by the
    * clustering/elbow/transition oracles here and the IVF oracles in
    * sim.Ann / sim.Quantize. Exposes `lsrc` (the vectors), `lxq` (grid
    * coords), `lg$LloydRounds` (final assignment) and
    * `lcentq$LloydRounds` (final grid centroids). */
  private[graft] def lloydPrefixSql(kvals: Seq[Int],
      srcSql: String = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"): String =
    s"""lsrc AS MATERIALIZED ($srcSql),
       lvx AS MATERIALIZED (
         SELECT vec_id, t.i AS dim, t.x
         FROM lsrc e,
         LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) - 1 AS i) t),
       lbase AS MATERIALIZED (
         SELECT k.kval, v.vec_id, v.dim, v.x
         FROM lvx v, (SELECT unnest([${kvals.mkString(", ")}]) AS kval) k),
       lxq AS MATERIALIZED (
         SELECT kval, vec_id, dim, CAST(round(x * 1000, 0) AS BIGINT) AS xq
         FROM lbase),
       lg0 AS (
         SELECT DISTINCT kval, vec_id, vec_id % kval AS k FROM lbase),
       ${(1 to LloydRounds).map(lloydIterSql).mkString(",\n       ")}"""

  private val lloydClustersSql =
    s"""WITH ${lloydPrefixSql(Seq(10))}
       SELECT g.vec_id, e.label, CAST(g.k AS BIGINT) AS cluster
       FROM lg$LloydRounds g JOIN embeddings e ON g.vec_id = e.vec_id"""

  private val lloydElbowSql =
    s"""WITH ${lloydPrefixSql(2 to 8)}
       SELECT CAST(kval AS BIGINT) AS k, count(*) AS n_vec,
              round(sum(d2) / 1e6, 6) AS sse
       FROM lg$LloydRounds GROUP BY 1"""

  // ---------------------------------------------------------------
  // 57 hash-checked replay: divisive bisecting KMeans on the integer
  // grid — 7 unrolled splits to k=8. Each split: pick the largest
  // cluster (count desc, path-label asc — exact-integer total order),
  // run grid 2-means (3 rounds, vec_id mod 2 init) over its members,
  // relabel c → 2c/2c+1 (binary path labels, root=1). The pick is a
  // bounded driver scalar (≤8-row size table — the pageRank
  // vertex-count precedent); the SQL oracle computes the identical
  // pick as a 1-row CTE.
  private val BisectSplits = 7

  def bisectingGridClusters(s: SparkSession, dir: String): DataFrame = {
    // Each split runs the 2-means rounds of EVERY current cluster at
    // once on the round primitive (groups train independently, and a
    // point costs one 2-centroid argmin either way), so the pick's
    // cluster sizes come from the final centroid counts with no extra
    // job. A point's cluster is a pure function of its grid vector and
    // the split history, so the corpus persists once for all splits.
    val points = lloydPoints(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(lit(1L), col("vec_id"), col("v"), gridded("v"), pmod(col("vec_id"), lit(2L))))
      .persist()
    try {
      var splits = Vector.empty[(Long, LloydCents)]
      for (_ <- 1 to BisectSplits) {
        val done = splits
        val table = lloydRounds(points.map(p => p.copy(group = bisectLabel(done, p.xq))),
          residual = false)
        val pick = table.map { case (c, t) => (c.asInstanceOf[Long], t.n.sum) }
          .maxBy { case (c, n) => (n, -c) }._1
        splits :+= (pick -> table(pick))
      }
      val done = splits
      val labels = s.createDataFrame(points.map(p => Row(p.id, bisectLabel(done, p.xq))),
          StructType(Seq(StructField("vec_id", LongType), StructField("cluster", LongType))))
        .localCheckpoint()
      labels.join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")), "vec_id")
        .select(col("vec_id"), col("label"), col("cluster"))
    } finally { points.unpersist(blocking = false); () }
  }

  /** A point's cluster after `splits`: from the root 1, each split of
    * its cluster p moves it to 2p + its nearest of p's final centroids. */
  private def bisectLabel(splits: Seq[(Long, LloydCents)], xq: Array[Long]): Long =
    splits.foldLeft(1L) { case (c, (p, t)) => if (c == p) 2 * p + nearest(xq, t)._1 else c }

  /** One bisecting split as CTEs: pick (1-row), member subset, 3 grid
    * 2-means rounds, relabel. */
  private def bisectSplitSql(sp: Int): String = {
    val round = (r: Int) =>
      s"""bcent${sp}_$r AS (
           SELECT g.b, v.dim,
                  sum(CAST(round(v.x * 1e6, 0) AS BIGINT)) AS sq, count(*) AS n
           FROM bmv$sp v JOIN bg${sp}_${r - 1} g USING (vec_id) GROUP BY 1, 2),
         bcq${sp}_$r AS (
           SELECT b, dim, CAST(round((sq / (1e6 * n)) * 1000, 0) AS BIGINT) AS cq
           FROM bcent${sp}_$r),
         bd${sp}_$r AS (
           SELECT q.vec_id, c.b, sum((q.xq - c.cq) * (q.xq - c.cq)) AS d2
           FROM bmq$sp q JOIN bcq${sp}_$r c USING (dim) GROUP BY 1, 2),
         bg${sp}_$r AS MATERIALIZED (
           SELECT vec_id, b FROM (
             SELECT vec_id, b,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, b ASC) AS rk
             FROM bd${sp}_$r) WHERE rk = 1)"""
    s"""bpick$sp AS (
         SELECT c FROM (SELECT c, count(*) AS n FROM bc${sp - 1} GROUP BY 1)
         ORDER BY n DESC, c ASC LIMIT 1),
       bmem$sp AS MATERIALIZED (
         SELECT b.vec_id FROM bc${sp - 1} b JOIN bpick$sp p USING (c)),
       bmv$sp AS MATERIALIZED (
         SELECT v.vec_id, v.dim, v.x FROM bvx v JOIN bmem$sp m USING (vec_id)),
       bmq$sp AS MATERIALIZED (
         SELECT q.vec_id, q.dim, q.xq FROM bxq q JOIN bmem$sp m USING (vec_id)),
       bg${sp}_0 AS (SELECT vec_id, vec_id % 2 AS b FROM bmem$sp),
       ${(1 to LloydRounds).map(round).mkString(",\n       ")},
       bc$sp AS MATERIALIZED (
         SELECT c.vec_id, c.c FROM bc${sp - 1} c
         WHERE c.c != (SELECT c FROM bpick$sp)
         UNION ALL
         SELECT g.vec_id, 2 * p.c + g.b AS c
         FROM bg${sp}_$LloydRounds g, bpick$sp p)"""
  }

  private val bisectingGridClustersSql =
    s"""WITH bvx AS MATERIALIZED (
         SELECT vec_id, t.i AS dim, t.x
         FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e,
         LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) - 1 AS i) t),
       bxq AS MATERIALIZED (
         SELECT vec_id, dim, CAST(round(x * 1000, 0) AS BIGINT) AS xq FROM bvx),
       bc0 AS (SELECT DISTINCT vec_id, 1::BIGINT AS c FROM bvx),
       ${(1 to BisectSplits).map(bisectSplitSql).mkString(",\n       ")}
       SELECT b.vec_id, e.label, CAST(b.c AS BIGINT) AS cluster
       FROM bc$BisectSplits b JOIN embeddings e ON b.vec_id = e.vec_id"""

  // ---------------------------------------------------------------
  // 29 hash-checked replay: PCA to 8 components WITHOUT the linalg
  // backend — the determinism program taken to its end. Three stages:
  //  1. mean + covariance accumulate integer-quantized values (the
  //     cca_grams machinery), so both engines derive the IDENTICAL
  //     64×64 C (BIGINT sums → one division);
  //  2. 12 rounds of subspace iteration + Gram-Schmidt run on the
  //     collected C (4096-row bounded driver geometry, the CCA-gram
  //     precedent) with STRICTLY ascending-index left folds starting
  //     at 0.0 — the oracle replays every fold with
  //     list_reduce(list_prepend(0.0, …)), so every intermediate
  //     double is bit-identical across engines (IEEE ops on identical
  //     inputs in identical order);
  //  3. components sort by Rayleigh quotient (λ desc, k asc), sign-fix
  //     to largest-|loading| positive (first index on ties), and the
  //     corpus projects through the broadcast 64×8 Q — one narrow
  //     distributed pass.
  private val PcaK = 8
  private val PcaIters = 12

  def pcaGridEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = vecs.count()
    // μ from integer-quantized sums — identical in both engines
    val muSums = vecs.select(posexplode(quant1e6("v")).as(Seq("dim", "q")))
      .groupBy(col("dim")).agg(sum(col("q")).as("sq"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val d = muSums.size
    val mu = Array.tabulate(d)(i => muSums(i) / (1e6 * n))
    val muCol = array(mu.map(lit(_)): _*)
    // C from integer-quantized centered products — one native
    // QuantOuterProduct pass (long[d²] partials, no n·d² explode)
    val cArr = vecs.withColumn("__mus", muCol)
      .select(graft.functions.VectorFunctions.quantOuterProduct(
        expr("zip_with(v, __mus, (x, m) -> x - m)")).as("s"))
      .collect()(0).getSeq[Long](0)
    val cMat = Array.tabulate(d, d)((i, j) => cArr(i * d + j) / (1e6 * n))
    // 12 rounds of subspace iteration + GS, ascending folds from 0.0
    var vMat = Array.tabulate(PcaK, d)((k, i) => if (k == i) 1.0 else 0.0)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(PcaK, d) { (k, i) =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += cMat(i)(j) * vMat(k)(j); j += 1 }; acc
      }
      for (k <- 0 until PcaK) {
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
    // Rayleigh quotients → order desc (k asc ties), then sign fix
    val lam = Array.tabulate(PcaK) { k =>
      val cq = Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += cMat(i)(j) * vMat(k)(j); j += 1 }; acc
      }
      var acc = 0.0; var i = 0
      while (i < d) { acc += vMat(k)(i) * cq(i); i += 1 }; acc
    }
    val order = (0 until PcaK).sortBy(k => (-lam(k), k))
    val qMat = order.map { k =>
      val q = vMat(k)
      val mx = q.map(math.abs).max
      val im = q.indexWhere(math.abs(_) == mx)
      if (q(im) < 0) q.map(-_) else q
    }
    val qCol = array(qMat.map(q => array(q.map(lit(_)): _*)): _*)
    // + 0.0 canonicalizes −0.0: Spark's BigDecimal round drops the
    // sign of a rounded-to-zero negative, DuckDB's C round keeps it —
    // the one place the bit-identical chain can diverge in FORMAT
    vecs
      .withColumn("__mus", muCol).withColumn("__q", qCol)
      .select(col("vec_id") +: (1 to PcaK).map(p =>
        (round(expr(
          s"aggregate(sequence(0, ${d - 1}), 0D, " +
            s"(acc, j) -> acc + (v[j] - __mus[j]) * __q[${p - 1}][j])"), 4) + lit(0.0)).as(s"pc$p")): _*)
  }

  /** The oracle twin: identical quantized μ/C, the same 12×8 GS unroll
    * as CTEs (every fold = list_reduce(list_prepend(0.0, …)) — the
    * engine's ascending 0-seeded left fold, bit-identical), Rayleigh
    * ordering, sign fix, projection. */
  private val pcaGridSql: String = {
    def fold(terms: String) =
      s"list_reduce(list_prepend(0.0, $terms), (a, b) -> a + b)"
    def dotSql(aExpr: String, bExpr: String) =
      fold(s"list_transform(generate_series(1, len($aExpr)), __j -> ($aExpr)[__j] * ($bExpr)[__j])")
    // C·basis: one row per (k, i), regrouped to arrays ordered by i
    def matmul(t: Int): String =
      s"""pw$t AS MATERIALIZED (
           SELECT v.k,
                  list(${fold("list_transform(generate_series(1, len(c.crow)), __j -> c.crow[__j] * v.q[__j])")}
                       ORDER BY c.i) AS w
           FROM pv${t - 1} v, pcrow c
           GROUP BY v.k)"""
    // GS step k of iteration t: dots vs previous q's, left-assoc
    // subtraction chain, 0-seeded norm fold — the exact Scala loop.
    // DuckDB forbids subqueries inside lambda bodies, so every 1-row
    // CTE is cross-joined into FROM and referenced as a plain column.
    def gs(t: Int, k: Int): String = {
      val dots = (0 until k).map(p =>
        s"""pd${t}_${k}_$p AS (
             SELECT ${dotSql("w.w", "q.q")} AS d
             FROM (SELECT w FROM pw$t WHERE k = $k) w, pq${t}_$p q)""")
      val proj = (0 until k).map(p =>
        s" - d$p.d * q$p.q[__i]").mkString
      val joins = (0 until k).map(p =>
        s", pd${t}_${k}_$p d$p, pq${t}_$p q$p").mkString
      val qCte =
        s"""pq${t}_$k AS MATERIALIZED (
             SELECT list_transform(u, __x -> __x / sqrt(${fold("list_transform(u, __y -> __y * __y)")})) AS q
             FROM (
               SELECT list_transform(generate_series(1, len(w.w)), __i -> w.w[__i]$proj) AS u
               FROM (SELECT w FROM pw$t WHERE k = $k) w$joins))"""
      (dots :+ qCte).mkString(",\n       ")
    }
    def iter(t: Int): String =
      (matmul(t) +: (0 until PcaK).map(k => gs(t, k)) :+
        s"""pv$t AS MATERIALIZED (
             ${(0 until PcaK).map(k => s"SELECT $k AS k, q FROM pq${t}_$k").mkString("\n             UNION ALL ")})""")
        .mkString(",\n       ")
    val prefix =
      s"""psrc AS MATERIALIZED (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         pn AS (SELECT count(*) AS n FROM psrc),
         pvxp AS MATERIALIZED (
           SELECT vec_id, t.i, t.x
           FROM psrc, LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i) t),
         pmu AS MATERIALIZED (
           SELECT list(sq / (1e6 * (SELECT n FROM pn)) ORDER BY i) AS mu FROM (
             SELECT i, sum(CAST(round(x * 1e6, 0) AS BIGINT)) AS sq
             FROM pvxp GROUP BY 1)),
         pcq0 AS (
           SELECT u.i, u2.j,
                  sum(CAST(round((e.v[u.i] - pmu.mu[u.i])
                                 * (e.v[u2.j] - pmu.mu[u2.j]) * 1e6, 0) AS BIGINT)) AS sq
           FROM psrc e, pmu,
                LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS i) u,
                LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS j) u2
           GROUP BY 1, 2),
         pcrow AS MATERIALIZED (
           SELECT i, list(sq / (1e6 * (SELECT n FROM pn)) ORDER BY j) AS crow
           FROM pcq0 GROUP BY 1),
         pv0 AS (
           ${(0 until PcaK).map(k =>
             s"SELECT $k AS k, list_transform(generate_series(1, (SELECT len(crow) FROM pcrow LIMIT 1)), __i -> CASE WHEN __i = ${k + 1} THEN 1.0 ELSE 0.0 END) AS q")
             .mkString("\n           UNION ALL ")})"""
    val tail =
      s"""pcq AS (
           SELECT v.k,
                  list(${fold("list_transform(generate_series(1, len(c.crow)), __j -> c.crow[__j] * v.q[__j])")}
                       ORDER BY c.i) AS cq
           FROM pv$PcaIters v, pcrow c
           GROUP BY v.k),
         plam AS (
           SELECT v.k, ${dotSql("v.q", "w.cq")} AS lam
           FROM pv$PcaIters v JOIN pcq w USING (k)),
         pord AS (
           SELECT k, row_number() OVER (ORDER BY lam DESC, k ASC) AS p FROM plam),
         psgn AS MATERIALIZED (
           SELECT o.p,
                  CASE WHEN v.q[list_position(list_transform(v.q, __x -> abs(__x)),
                                              list_max(list_transform(v.q, __x -> abs(__x))))] < 0
                       THEN list_transform(v.q, __x -> -__x) ELSE v.q END AS q
           FROM pv$PcaIters v JOIN pord o USING (k))
         SELECT e.vec_id,
                ${(1 to PcaK).map(p =>
                  s"(round(${fold(s"list_transform(generate_series(1, len(e.v)), __j -> (e.v[__j] - pmu.mu[__j]) * s$p.qq$p[__j])")}, 4) + 0.0) AS pc$p")
                  .mkString(",\n                ")}
         FROM psrc e, pmu${(1 to PcaK).map(p =>
           s", (SELECT q AS qq$p FROM psgn WHERE p = $p) s$p").mkString}"""
    s"""WITH $prefix,
       ${(1 to PcaIters).map(iter).mkString(",\n       ")},
       $tail"""
  }

  /** 163 (hash-checked): the clustree transition table over the grid
    * Lloyd assignments at k=2..6 — one shared pipeline (kval column),
    * one vec_id self-join per adjacent resolution pair: the overlap
    * counts between clusterings at adjacent k, i.e. the edge weights
    * of the clustering tree. */
  def lloydTransitions(s: SparkSession, dir: String): DataFrame = {
    val g = lloydState(s, dir, 2 to 6)
    val a = g.select(col("kval").as("k_from"), col("vec_id"),
      col("k").as("cluster_from"))
    val b = g.select((col("kval") - 1).as("k_from"), col("kval").as("k_to"),
      col("vec_id"), col("k").as("cluster_to"))
    a.join(b, Seq("k_from", "vec_id"))
      .groupBy(col("k_from").cast("long").as("k_from"),
        col("cluster_from").cast("long").as("cluster_from"),
        col("k_to").cast("long").as("k_to"),
        col("cluster_to").cast("long").as("cluster_to"))
      .agg(count(lit(1)).as("n_cells"))
  }

  private val lloydTransitionsSql =
    s"""WITH ${lloydPrefixSql(2 to 6)}
       SELECT CAST(a.kval AS BIGINT) AS k_from, CAST(a.k AS BIGINT) AS cluster_from,
              CAST(b.kval AS BIGINT) AS k_to, CAST(b.k AS BIGINT) AS cluster_to,
              count(*) AS n_cells
       FROM lg$LloydRounds a JOIN lg$LloydRounds b
         ON a.vec_id = b.vec_id AND b.kval = a.kval + 1
       GROUP BY 1, 2, 3, 4"""

  // ---------------------------------------------------------------
  // 315. adjusted Rand index across consecutive Lloyd resolutions —
  // #163's contingency table collapsed into the PROPER chance-corrected
  // agreement index (Hubert & Arabie 1985; the number a clustree is
  // eyeballed for): ARI = (Σᵢⱼ C(nᵢⱼ,2) − E) / (½[ΣC(aᵢ,2)+ΣC(bⱼ,2)] − E),
  // E = ΣC(aᵢ,2)·ΣC(bⱼ,2)/C(n,2). Every pair sum is exact integer
  // combinatorics off the SAME memoized grid-Lloyd state #131/#163
  // ride (one extra bounded aggregation — no new training); the two
  // final divisions run in identically-ordered double math in Spark
  // and the oracle. ARI(k,k+1) near 1 = resolutions nest cleanly;
  // a dip marks the k where splitting starts shredding real clusters.
  def lloydAri(s: SparkSession, dir: String): DataFrame = {
    val g = lloydState(s, dir, 2 to 6)
    val a = g.select(col("kval").as("k_from"), col("vec_id"), col("k").as("ca"))
    val b = g.select((col("kval") - 1).as("k_from"), col("kval").as("k_to"),
      col("vec_id"), col("k").as("cb"))
    val j = a.join(b, Seq("k_from", "vec_id"))
      .select(col("k_from").cast("long").as("k_from"),
        col("k_to").cast("long").as("k_to"), col("ca"), col("cb"))
      .localCheckpoint() // three bounded aggregations below share it
    def pairSum(keys: Seq[String], out: String): DataFrame =
      j.groupBy((Seq("k_from", "k_to") ++ keys).map(col): _*)
        .agg(count(lit(1)).as("n"))
        .groupBy(col("k_from"), col("k_to"))
        .agg(sum(expr("n * (n - 1) div 2")).as(out), sum(col("n")).as(s"__n_$out"))
    val nij = pairSum(Seq("ca", "cb"), "s_nij")
    val ai = pairSum(Seq("ca"), "s_a")
    val bj = pairSum(Seq("cb"), "s_b")
    nij.join(ai, Seq("k_from", "k_to")).join(bj, Seq("k_from", "k_to"))
      .select(col("k_from"), col("k_to"), col("__n_s_a").as("n"),
        col("s_nij"), col("s_a"), col("s_b"),
        round(when(
            (col("s_a") + col("s_b")) / lit(2.0)
              === col("s_a").cast("double") * col("s_b")
                / expr("__n_s_a * (__n_s_a - 1) div 2"), lit(1.0))
          .otherwise(
            (col("s_nij") - col("s_a").cast("double") * col("s_b")
              / expr("__n_s_a * (__n_s_a - 1) div 2"))
            / ((col("s_a") + col("s_b")) / lit(2.0)
              - col("s_a").cast("double") * col("s_b")
                / expr("__n_s_a * (__n_s_a - 1) div 2"))), 6).as("ari"))
  }

  private val lloydAriSql =
    s"""WITH ${lloydPrefixSql(2 to 6)},
       j AS MATERIALIZED (
         SELECT CAST(a.kval AS BIGINT) AS k_from, CAST(b.kval AS BIGINT) AS k_to,
                a.k AS ca, b.k AS cb
         FROM lg$LloydRounds a JOIN lg$LloydRounds b
           ON a.vec_id = b.vec_id AND b.kval = a.kval + 1),
       nij AS (SELECT k_from, k_to, sum(n*(n-1)//2) AS s_nij FROM (
                 SELECT k_from, k_to, ca, cb, count(*) AS n FROM j GROUP BY 1,2,3,4)
               GROUP BY 1, 2),
       ai AS (SELECT k_from, k_to, sum(n*(n-1)//2) AS s_a, CAST(sum(n) AS BIGINT) AS nt FROM (
                 SELECT k_from, k_to, ca, count(*) AS n FROM j GROUP BY 1,2,3)
               GROUP BY 1, 2),
       bj AS (SELECT k_from, k_to, sum(n*(n-1)//2) AS s_b FROM (
                 SELECT k_from, k_to, cb, count(*) AS n FROM j GROUP BY 1,2,3)
               GROUP BY 1, 2)
       SELECT nij.k_from, nij.k_to, ai.nt AS n,
              CAST(nij.s_nij AS BIGINT) AS s_nij,
              CAST(ai.s_a AS BIGINT) AS s_a, CAST(bj.s_b AS BIGINT) AS s_b,
              round(CASE WHEN (ai.s_a + bj.s_b) / 2.0
                              = CAST(ai.s_a AS DOUBLE) * bj.s_b / (ai.nt*(ai.nt-1)//2)
                         THEN 1.0
                         ELSE (nij.s_nij - CAST(ai.s_a AS DOUBLE) * bj.s_b / (ai.nt*(ai.nt-1)//2))
                              / ((ai.s_a + bj.s_b) / 2.0
                                 - CAST(ai.s_a AS DOUBLE) * bj.s_b / (ai.nt*(ai.nt-1)//2))
                    END, 6) AS ari
       FROM nij JOIN ai ON nij.k_from = ai.k_from AND nij.k_to = ai.k_to
                JOIN bj ON nij.k_from = bj.k_from AND nij.k_to = bj.k_to"""

  /** 157. embedding norm statistics per label — the cheapest
    * embedding-space health screen (collapsed or exploding embeddings
    * show up as degenerate norm distributions long before a silhouette
    * is computed). One narrow codegen'd pass (DotProduct) + a
    * bounded-key aggregation. */
  def embeddingNormStats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dot
    Tables.embeddings(s, dir)
      .select(col("label"),
        sqrt(dot(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>"))).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("nrm")), 6).as("mean_norm"),
        round(stddev_samp(col("nrm")), 6).as("std_norm"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
  }

  // ---------------------------------------------------------------
  // 181. per-dimension embedding profile — the "dead/collapsed dim"
  // screen run before trusting any index or projection built on the
  // embedding space: per dim mean, population std, min/max, and the
  // fraction of near-zero entries. One narrow posexplode + a
  // |dims|-key aggregation (map-side partial; no wide shuffle —
  // the exchange carries dims × partitions rows). Values are O(1)
  // floats, so 6dp rounding sits ~6 orders above double ULP — the
  // rational-statistic rule is satisfied without rescaling.
  def embeddingDimProfile(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("x")), 6).as("mean_x"),
        round(stddev_pop(col("x")), 6).as("sd_x"),
        round(min(col("x")), 6).as("min_x"),
        round(max(col("x")), 6).as("max_x"),
        round(avg((abs(col("x")) < 0.01).cast("double")), 6).as("near_zero_frac"))

  private val embeddingDimProfileSql =
    """WITH vx AS (
         SELECT t.i AS dim, t.x
         FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings) e,
         LATERAL (SELECT unnest(v) AS x, generate_subscripts(v, 1) - 1 AS i) t)
       SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
              round(avg(x), 6) AS mean_x,
              round(stddev_pop(x), 6) AS sd_x,
              round(min(x), 6) AS min_x,
              round(max(x), 6) AS max_x,
              round(avg(CASE WHEN abs(x) < 0.01 THEN 1.0 ELSE 0.0 END), 6) AS near_zero_frac
       FROM vx GROUP BY 1"""

  // ---------------------------------------------------------------
  // 202. per-label diagonal-Mahalanobis outliers: each vector's
  // distance to its label centroid, normalized per-dim by the label's
  // population variance — the mislabeled/contaminated-embedding screen
  // (a full covariance needs d² state per label; the diagonal form is
  // the standard corpus-scale approximation). Stats are a |labels|·d
  // aggregation collected to per-label arrays (bounded, broadcast
  // equi-join back — no BNL); md² is one codegen'd fold. Flag cut =
  // χ²₀.₉₉(64) — md² is continuous, so the boundary carries no
  // probability mass (the hyperplane-sign argument).
  def mahalanobisOutliers(s: SparkSession, dir: String): DataFrame = {
    val Chi99Dim64 = 93.2168
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val stats = vecs.select(col("label"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg(avg(col("x")).as("mu"), var_pop(col("x")).as("s2"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(d, mu))), s -> s.mu)").as("mus"),
        expr("transform(sort_array(collect_list(struct(d, s2))), s -> s.s2)").as("s2s"))
    vecs.join(broadcast(stats), "label")
      .withColumn("md2", expr(
        """aggregate(sequence(0, size(v) - 1), 0D,
          |  (acc, i) -> acc + (v[i] - mus[i]) * (v[i] - mus[i]) / (s2s[i] + 1e-12))""".stripMargin))
      .select(col("vec_id"), col("label"),
        round(col("md2"), 4).as("md2"),
        (col("md2") > Chi99Dim64).as("outlier"))
  }

  private val mahalanobisOutliersSql =
    """WITH vx AS (
         SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       dims AS (
         SELECT label, t.i AS d, avg(t.x) AS mu, var_pop(t.x) AS s2
         FROM vx, LATERAL (SELECT unnest(v) AS x,
                                  generate_subscripts(v, 1) AS i) t
         GROUP BY 1, 2),
       st AS (
         SELECT label, list(mu ORDER BY d) AS mus, list(s2 ORDER BY d) AS s2s
         FROM dims GROUP BY 1),
       md AS (
         SELECT vec_id, vx.label,
                list_sum(list_transform(generate_series(1, len(v)),
                  i -> (v[i] - mus[i]) * (v[i] - mus[i]) / (s2s[i] + 1e-12))) AS md2
         FROM vx JOIN st USING (label))
       SELECT vec_id, label, round(md2, 4) AS md2,
              md2 > 93.2168 AS outlier
       FROM md"""

  private val embeddingNormStatsSql =
    """WITH nrms AS (
         SELECT label,
                sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS nrm
         FROM embeddings)
       SELECT label, count(*) AS n,
              round(avg(nrm), 6) AS mean_norm,
              round(stddev_samp(nrm), 6) AS std_norm,
              round(min(nrm), 6) AS min_norm,
              round(max(nrm), 6) AS max_norm
       FROM nrms GROUP BY 1"""

  // ---------------------------------------------------------------
  // 308. DBSCAN density clustering (Ester et al., KDD 1996) over the
  // embedding corpus — the density family beside the centroid
  // (kmeans/bisecting) and graph-modularity (Louvain/Leiden)
  // clusterings, the one that finds non-convex clusters and names
  // noise: eps-neighbors = cosine ≥ 0.38 (margin to the nearest
  // achievable sim ≥ 2.6e-6 at every test SF — threshold-boundary
  // safe), core = ≥ 2 neighbors (self excluded), clusters = connected
  // components of the core-core eps-graph (min-id labels — the dedup
  // family's deterministic component machinery), border points attach
  // to their MINIMUM adjacent core cluster, everything else is noise
  // (cluster −1, role 'noise'). The exact form feeds the all-pairs
  // cosine join (oracle-exact); dbscan_embeddings_lsh swaps in the
  // hyperplane-bucket pair miner — same DBSCAN tail, bucket fan-out
  // bounds the join, the 100 TB path (candidate recall follows the
  // cosinePairsLsh collision bound; components iterate localCheckpoint
  // rounds past the union-find cutoff).
  private val DbscanEps = 0.38
  private val DbscanMinPts = 2

  private def dbscanFrom(s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    val p0 = pairs.select(col("id1"), col("id2")).localCheckpoint()
    val edges = p0.unionByName(p0.select(col("id2").as("id1"), col("id1").as("id2")))
    val core = edges.groupBy(col("id1").as("v"))
      .agg(count(lit(1)).as("n_nbrs"))
      .filter(col("n_nbrs") >= DbscanMinPts).select(col("v"))
    val coreEdges = edges
      .join(core.select(col("v").as("id1")), "id1")
      .join(core.select(col("v").as("id2")), "id2")
      .filter(col("id1") < col("id2"))
    val comp = graft.api.Similarity.connectedComponents(
      coreEdges, col("id1"), col("id2"))
    // a core with no core neighbor still founds its own (singleton-core)
    // cluster — the left join + coalesce(v) is DBSCAN's rule, not a tiebreak
    val coreClusters = core
      .join(comp.select(col("vertex").as("v"), col("component")), Seq("v"), "left")
      .select(col("v"), coalesce(col("component"), col("v")).as("cluster"))
      .localCheckpoint() // referenced twice below (core output + border attach)
    val borderClusters = edges
      .join(coreClusters.select(col("v").as("id2"), col("cluster")), "id2")
      .select(col("id1").as("v"), col("cluster"))
      .join(core, Seq("v"), "left_anti")
      .groupBy(col("v")).agg(min(col("cluster")).as("cluster"))
    Tables.embeddings(s, dir).select(col("vec_id"))
      .join(coreClusters.select(col("v").as("vec_id"), col("cluster").as("ccl")),
        Seq("vec_id"), "left")
      .join(borderClusters.select(col("v").as("vec_id"), col("cluster").as("bcl")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("ccl").isNotNull, lit("core"))
          .when(col("bcl").isNotNull, lit("border")).otherwise(lit("noise")).as("role"),
        coalesce(col("ccl"), col("bcl"), lit(-1L)).as("cluster"))
  }

  def dbscanEmbeddings(s: SparkSession, dir: String): DataFrame =
    dbscanFrom(s, dir, graft.api.Similarity.bruteForceCosinePairs(
      Tables.embeddings(s, dir), col("vec_id"), col("embedding"), DbscanEps))

  /** Scale twin of #308: the hyperplane-bucket candidate miner feeds
    * the identical DBSCAN tail. */
  def dbscanEmbeddingsLsh(s: SparkSession, dir: String): DataFrame =
    dbscanFrom(s, dir, graft.api.Similarity.cosinePairsLsh(
      Tables.embeddings(s, dir), col("vec_id"), col("embedding"), DbscanEps))

  // shared DBSCAN tail over a pair CTE named `p(i, j)` with i < j
  private def dbscanTailSql(pairCte: String): String =
    s"""$pairCte,
       ed AS MATERIALIZED (SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
       deg AS (SELECT a AS v, count(*) AS n FROM ed GROUP BY 1),
       core AS MATERIALIZED (SELECT v FROM deg WHERE n >= $DbscanMinPts),
       ce AS MATERIALIZED (
         SELECT e.a, e.b FROM ed e
         JOIN core c1 ON e.a = c1.v JOIN core c2 ON e.b = c2.v),
       reach AS (
         SELECT a, b FROM ce
         UNION
         SELECT r.a, e.b FROM reach r JOIN ce e ON r.b = e.a),
       comp AS (
         SELECT c.v, least(c.v, coalesce(min(r.b), c.v)) AS cluster
         FROM core c LEFT JOIN reach r ON c.v = r.a GROUP BY c.v),
       bord AS (
         SELECT e.a AS v, min(comp.cluster) AS cluster
         FROM ed e JOIN comp ON e.b = comp.v
         WHERE e.a NOT IN (SELECT v FROM core) GROUP BY 1)
       SELECT em.vec_id,
              CASE WHEN c.cluster IS NOT NULL THEN 'core'
                   WHEN bo.cluster IS NOT NULL THEN 'border'
                   ELSE 'noise' END AS role,
              coalesce(c.cluster, bo.cluster, -1) AS cluster
       FROM embeddings em
       LEFT JOIN comp c ON em.vec_id = c.v
       LEFT JOIN bord bo ON em.vec_id = bo.v"""

  private val dbscanSql = dbscanTailSql(
    s"""WITH RECURSIVE p AS MATERIALIZED (
         SELECT a.vec_id AS i, b.vec_id AS j
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= $DbscanEps)""")

  // the dedup_embedding_lsh candidate chain (shared SplitMix64 planes,
  // own-bucket + 1-bit-flip probes) at the DBSCAN threshold, then the
  // same tail — the LSH twin is oracle-exact, not rows-only
  private val dbscanLshSql = dbscanTailSql(
    s"""WITH RECURSIVE ${graft.sim.Ann.lshSigPrefixSql},
       probes AS MATERIALIZED (
         SELECT s.vec_id AS qid,
                CASE WHEN t.p < 0 THEN s.bucket
                     ELSE xor(s.bucket, (1::BIGINT << t.p)) END AS bucket
         FROM lsig s, LATERAL (SELECT unnest(generate_series(-1, 4)) AS p) t),
       p AS MATERIALIZED (
         SELECT pr.qid AS i, s2.vec_id AS j
         FROM probes pr JOIN lsig s2 USING (bucket)
         JOIN embeddings a ON pr.qid = a.vec_id
         JOIN embeddings b ON s2.vec_id = b.vec_id
         WHERE pr.qid < s2.vec_id
           AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= $DbscanEps)""")

  val ops: Seq[Op] = Seq(
    Op("dbscan_embeddings", dbscanEmbeddings _, Oracle(dbscanSql),
      untimed = Some(Reasons.ExactAllPairsCosine)),
    Op("dbscan_embeddings_lsh", dbscanEmbeddingsLsh _, Oracle(dbscanLshSql)),
    Op("embedding_norm_stats", embeddingNormStats _, Oracle(embeddingNormStatsSql)),
    Op("embedding_dim_profile", embeddingDimProfile _, Oracle(embeddingDimProfileSql)),
    Op("mahalanobis_outliers", mahalanobisOutliers _, Oracle(mahalanobisOutliersSql)),
    Op("kmeans_clusters", lloydClusters _, Oracle(lloydClustersSql)),
    Op("kmeans_elbow", lloydElbow _, Oracle(lloydElbowSql)),
    Op("cluster_transitions", lloydTransitions _, Oracle(lloydTransitionsSql)),
    Op("cluster_ari", lloydAri _, Oracle(lloydAriSql)),
    Op("bisecting_clusters", bisectingGridClusters _, Oracle(bisectingGridClustersSql)),
    Op("pca_embeddings", pcaGridEmbeddings _, Oracle(pcaGridSql)),
    Op("label_silhouette", labelSilhouette _, Oracle(labelSilhouetteSql),
      quadratic = Some("label_silhouette crosses each point with the LABEL-count-sized " +
        "centroid broadcast (10 rows) — every point must see every centroid by " +
        "definition of the metric")))
}
