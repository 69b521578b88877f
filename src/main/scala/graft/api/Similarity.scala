package graft.api

import graft.functions.LongSet
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic dedup / similarity API over arbitrary DataFrames — the
  * user-facing form of graft.dedup / graft.sim (which bind these to the
  * test corpus). All signature math runs in native codegen'd
  * expressions (graft.functions); shuffle keys are always bounded
  * (band buckets / sign buckets), never O(n²) cross joins — except the
  * explicitly-named bruteForce* baselines.
  */
object Similarity {

  /** Whitespace-normalized lowercase text. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), lit("\\s+"), lit(" ")))

  /** Exact duplicate groups by normalized-text hash: one row per
    * distinct content with the minimum id as the keeper. */
  def exactDupGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(md5(normalizeText(text)).as("norm_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_docs"))
      .withColumn("has_dup", col("n_docs") > 1)

  /** MinHash + banded LSH near-duplicate pairs at a Jaccard threshold:
    * fused text→signature, band-bucket candidates, signature-fraction
    * screen, exact shingle verification. P(miss | J ≥ 0.7) < 2% with
    * the default 16×4 banding; raise bands for lower thresholds.
    *
    * Signature family: at the default 64-slot width the signature is
    * one-permutation MinHash with rotation densification
    * ([[graft.functions.OnePermMinHashSig]]) — ONE SplitMix64 call per
    * shingle instead of the classic 64 (the r12 #337 calibration
    * measured MAE ≈ 0.03 vs exact Jaccard on the same banding-candidate
    * protocol, indistinguishable from classic MinHash's binomial noise;
    * the emitted pairs are identical on corpora whose near-dups sit
    * above the banding S-curve knee because every candidate still
    * verifies EXACT shingle Jaccard before emission — the signature
    * only gates candidate RECALL, never precision). Non-64 widths keep
    * the classic per-slot stream (OPH's 6-bit bucket route is the
    * 64-slot banding contract). */
  def nearDupPairsLsh(docs: DataFrame, id: Column, text: Column,
      threshold: Double = 0.7, shingle: Int = 5, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val d = Analytics.spread(docs.select(id.as("doc_id"), text.as("__t")))
      .select(col("doc_id"), normalizeText(col("__t")).as("t"))
    // Distinct-text rendezvous FIRST (r15 — the dedupJaccardPrefix r10
    // lesson applied to the banding path, and the production order of
    // operations: exact-dedup before near-dup). Verbatim-dup clusters
    // put c identical signatures in every band bucket, so within-bucket
    // candidates grow Θ(bands·Σc²) — the r15 sf9 band measured the old
    // path at 17.1× on 3× data off exactly this (clusters grow with SF,
    // candidates grow with its square: 650M candidate rows at sf9).
    // Running signature + banding once per DISTINCT normalized text and
    // expanding group members at the END moves the Σc² term out of the
    // shuffle and into the output writer — the pair LIST stays Θ(Σc²)
    // rows BY CONTRACT, but they are result rows now, not intermediate
    // state. Exactness is preserved: identical texts share a shingle
    // set (J = 1 ≥ t, emitted as in-group pairs with jaccard exactly
    // 1.0, the same value verification produced), identical texts carry
    // identical signatures (deterministic exprs) so rep-level banding
    // capture equals member-level capture, and two DIFFERENT texts with
    // equal shingle sets still meet in the rep-level join.
    // md5-keyed rendezvous (the exactDupGroups precedent): grouping
    // shuffles 16-byte digests, not full texts — the map-side partial
    // of max(t) ships ~one text per (digest, partition) so rep texts
    // ride the combine.
    // r16 (r15 verdict item 2, guide §2.4): rep selection, member list
    // AND the signature now ride ONE digest-keyed aggregation into ONE
    // persisted group table. The old shape paid a second (h, doc_id)
    // shuffle + join for `members`, a second persist, and — because
    // `groups` itself was never materialized — re-ran the corpus scan +
    // groupBy for EACH of the two shingle-verification join sides. Every
    // later stage (banding, screen, verification, member expansion) now
    // derives from the single persisted frame. collect_list order is
    // nondeterministic but only ever consumed orderless (explode) or
    // sorted (array_sort) below.
    val sigExpr =
      if (bands * rowsPerBand == 64) ophMinhashSig(charShingles(col("t"), shingle))
      else minhashSigText(col("t"), shingle, bands * rowsPerBand)
    val groups = d.withColumn("h", md5(col("t")))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), max(col("t")).as("t"),
        collect_list(col("doc_id")).as("ms"))
      .select(col("doc_id"), col("t"), col("ms"))
      .withColumn("sig", sigExpr)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = groups.select(col("doc_id"), col("sig"))
    val bandsDf = sigs.select(col("doc_id"),
      explode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
        s"struct(b AS band, xxhash64(slice(sig, b*$rowsPerBand+1, $rowsPerBand)) AS bh))")).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))
    // shuffle-hash self-join: the two identical band exchanges
    // canonicalize equal → ReuseExchange shuffles the band table once
    val cand = bandsDf.as("a").hint("shuffle_hash")
      .join(bandsDf.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    val screened = cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .filter(longMatchFrac(col("sig1"), col("sig2")) >= threshold - 0.2)
      .select(col("d1"), col("d2"))
    val sh = groups.select(col("doc_id"), charShingles(col("t"), shingle).as("sh"))
    val repPairs = screened
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("jaccard", jaccardSim(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
    // expand rep-level matches back to record pairs (the
    // dedupJaccardPrefix expansion): identical texts are J = 1 pairs
    // within their group; qualifying DISTINCT-text rep pairs fan out
    // over both member lists (disjoint groups ⇒ least/greatest is a
    // pure orientation fix). Output-bounded — these ARE the result
    // rows, not intermediate state. r16: in-group pairs come from a
    // per-row combination expansion over the SORTED member array (no
    // rep-keyed self-join shuffle): for j ≥ 1, pair msrt[j] with every
    // earlier element — sorted ascending, so d1 < d2 by construction.
    val selfPairs = groups.filter(size(col("ms")) > 1)
      .withColumn("msrt", array_sort(col("ms")))
      .select(explode(expr(
        """flatten(transform(sequence(1, size(msrt) - 1),
          |  j -> transform(slice(msrt, 1, j),
          |         x -> struct(x AS d1, msrt[j] AS d2))))""".stripMargin)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"), lit(1.0).as("jaccard"))
    val crossPairs = repPairs
      .join(groups.select(col("doc_id").as("d1"), explode(col("ms")).as("da")), "d1")
      .join(groups.select(col("doc_id").as("d2"), explode(col("ms")).as("db")), "d2")
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("jaccard"))
    selfPairs.unionByName(crossPairs)
  }

  /** Bucket-STAR verified near-dup candidate edges — the linear-output
    * feed for consumers that only need connected COMPONENTS (keeper
    * selection, cluster sizes, savings accounting), built because the
    * r12 sf3 octave measured the PAIR-list contract at Θ(Σ cluster²)
    * output (21.7× on 3× data): a verbatim-dup cluster of c docs emits
    * c·(c−1)/2 pairs but only needs c−1 edges to carry its component.
    *
    * Shape: same OPH signature + 16×4 banding as [[nearDupPairsLsh]],
    * but instead of the within-bucket PAIR self-join each bucket member
    * emits ONE candidate edge to the bucket's min-id member (the hub) —
    * candidate volume drops Θ(Σc²) → Θ(Σc) and the heavy bucket that
    * breaks the pair join (a 10⁶-doc template cluster → 10¹² pairs)
    * costs exactly 10⁶ edges. Every edge still verifies EXACT shingle
    * Jaccard ≥ threshold before emission, so edges ⊆ the true pair set
    * always. On clusters whose members are pairwise ≥ threshold (the
    * verbatim/template case that dominates real dup mass — every hub
    * edge verifies), components over these edges EQUAL components over
    * the full pair list; for borderline chains (a—b—c where J(a,c) <
    * t but both adjacent pairs pass) a hub edge can fail verification
    * that some non-hub pair would have passed — one more recall/cost
    * rung on the already-probabilistic LSH ladder (banding itself
    * already misses pairs with probability 1−(1−s⁴)¹⁶). DedupSpec
    * asserts star-fed components ≡ exact-pair-fed components on the
    * test corpus, deterministically (fixed hash seeds).
    *
    * Output: (d1, d2, jaccard) with d1 = hub < d2 — the edge contract
    * [[connectedComponents]] consumes. */
  def nearDupStarEdgesLsh(docs: DataFrame, id: Column, text: Column,
      threshold: Double = 0.7, shingle: Int = 5, bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val d = Analytics.spread(docs.select(id.as("doc_id"), text.as("__t")))
      .select(col("doc_id"), normalizeText(col("__t")).as("t"))
    val sigExpr =
      if (bands * rowsPerBand == 64) ophMinhashSig(charShingles(col("t"), shingle))
      else minhashSigText(col("t"), shingle, bands * rowsPerBand)
    // caching contract: lazy result ⇒ caller clears (see nearDupPairsLsh)
    val sigs = d.withColumn("sig", sigExpr)
      .select(col("doc_id"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandsDf = sigs.select(col("doc_id"),
      explode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
        s"struct(b AS band, xxhash64(slice(sig, b*$rowsPerBand+1, $rowsPerBand)) AS bh))")).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))
    // hub = per-bucket min id: ONE partial-aggregating groupBy over the
    // band table (map-side combine collapses each bucket to one row per
    // partition before the shuffle), then each member joins back to its
    // bucket's hub — no self-join, no Σc² blowup. Buckets of size 1
    // produce no edge (count filter) and a hub never edges to itself.
    val hubs = bandsDf.groupBy(col("band"), col("bh"))
      .agg(min(col("doc_id")).as("hub"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select(col("band"), col("bh"), col("hub"))
    val cand = bandsDf.join(hubs.hint("shuffle_hash"), Seq("band", "bh"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("d1"), col("doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    val screened = cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .filter(longMatchFrac(col("sig1"), col("sig2")) >= threshold - 0.2)
      .select(col("d1"), col("d2"))
    val sh = d.select(col("doc_id"), charShingles(col("t"), shingle).as("sh"))
    screened
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("jaccard", jaccardSim(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** SimHash near-duplicate pairs within a hamming radius (chunk-banded
    * candidate generation covers radius ≤ chunks−1 by pigeonhole). */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    val d = Analytics.spread(docs.select(id.as("doc_id"), text.as("__t")))
      .withColumn("simhash", simhash64(
        regexp_extract_all(normalizeText(col("__t")), lit("[a-z0-9]+"), lit(0))))
      .select(col("doc_id"), col("simhash"))
    val chunks = d.select(col("doc_id"), col("simhash"),
        explode(expr("transform(sequence(0, 3), c -> struct(c AS chunk, shiftright(simhash, c*16) & 65535 AS cv))")).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.chunk"), col("e.cv"))
    // shuffle-hash on both sides (NOT the default broadcast): the two
    // shuffle Exchanges canonicalize identically so ReuseExchange runs
    // the regex+simhash scan ONCE and replays it from shuffle files for
    // the probe side — a broadcast build would recompute the full
    // signature subtree for the build side
    chunks.as("a").hint("shuffle_hash").join(chunks.as("b").hint("shuffle_hash"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      // hamming is pair-deterministic, so filter BEFORE the distinct:
      // the dedup shuffle then carries only near-dup pairs, not every
      // chunk collision
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("d1", "d2")
  }

  /** Cosine near-duplicate pairs over a vector column — brute-force
    * baseline (quadratic; use annTopK's LSH for scale). */
  def bruteForceCosinePairs(vecs: DataFrame, id: Column, vec: Column,
      threshold: Double): DataFrame = {
    val e = Analytics.spread(vecs.select(id.as("vid"), vec.cast("array<double>").as("v")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = e.select(col("vid").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = e.select(col("vid").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cos_sim", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id1"), col("id2"), col("cos_sim"))
  }

  /** LSH-bucketed cosine near-duplicate pairs — the scale twin of
    * [[bruteForceCosinePairs]]: candidates are pairs whose hyperplane
    * sign buckets differ in ≤ 1 bit (each vector probes its own bucket
    * plus the `planes` hamming-1 flips; a pair lands in candidates
    * exactly once — the probe set is distinct and the id1 < id2 filter
    * keeps one orientation — so no dedup shuffle is needed). Recall at
    * a threshold τ follows the hyperplane collision bound
    * P(agree) = 1 − acos(τ)/π per plane; at τ ≥ 0.9 the default 5-plane
    * banding covers ≥ 0.8 of true pairs, at τ = 0.4 expect ~0.4 (the
    * AnnSpec recall bar documents the probe-volume baseline). Raise
    * `planes` with corpus size to keep buckets bounded; add probe bits
    * to buy recall. */
  def cosinePairsLsh(vecs: DataFrame, id: Column, vec: Column,
      threshold: Double, planes: Int = 5): DataFrame = {
    val e = Analytics.spread(vecs.select(id.as("vid"), vec.cast("array<double>").as("v")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bucket", hyperplaneBucket(col("v"), planes))
    val probes = e.select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
      explode(expr(s"""transform(sequence(0, $planes),
        p -> IF(p = 0, bucket, bucket ^ shiftleft(1L, p - 1)))""")).as("bucket"))
    probes.join(e.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("qid") < col("vid"))
      .withColumn("cos_sim", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .filter(col("cos_sim") >= threshold)
      .select(col("qid").as("id1"), col("vid").as("id2"), col("cos_sim"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * partition the corpus into clusters, find within-cluster semantic
    * duplicate pairs (cosine ≥ `eps`), and from each duplicate group
    * keep the member LEAST similar to the cluster centroid — pruning
    * toward diversity, the opposite keeper rule from min-id dedup.
    *
    * Two deliberate substitutions make the op deterministic and
    * oracle-replayable where the paper is not:
    *  1. clusters are hyperplane sign buckets (the shared SplitMix64
    *     planes) instead of k-means — any partition bounds the
    *     quadratic, and buckets replay exactly in SQL; `planes` is the
    *     scale lever (buckets ~ n / 2^planes).
    *  2. the centroid statistic runs on integer-quantized vectors
    *     (floor(x·1000) per dim): per-bucket per-dim sums become exact
    *     integers, so the centroid cosine is identical under ANY
    *     accumulation order — a float centroid would differ between
    *     Spark's unordered partial aggregates and any oracle. Pair
    *     cosines use the raw vectors (a fixed-order fold both engines
    *     reproduce bit-identically).
    *
    * Keeper rule: order bucket members by (centroid-cos asc, id asc);
    * drop a member iff some earlier member is within `eps`. The first
    * member of every bucket always survives.
    *
    * Plan shape: two narrow passes + three bounded shuffles — the
    * (bucket, dim) centroid-sum aggregate (≤ 2^planes · dim rows, then
    * broadcast back), the per-vector dot aggregate, and the
    * within-bucket candidate self-join (bounded bucket fan-out, the
    * SemDeDup trick that replaces the O(n²) pair scan). */
  def semanticDedup(vecs: DataFrame, id: Column, vec: Column,
      eps: Double, planes: Int = 5): DataFrame = {
    val e = Analytics.spread(vecs.select(id.as("vid"), vec.cast("array<double>").as("v")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bucket", hyperplaneBucket(col("v"), planes))
      .withColumn("qv", expr("transform(v, x -> CAST(floor(x * 1000) AS BIGINT))"))
    // exact-integer centroid algebra: per-(bucket, dim) sums sq, bucket
    // norm Σ sq², per-vector Σ q·sq and Σ q² — every sum order-free
    val qd = e.select(col("vid"), col("bucket"), posexplode(col("qv")).as(Seq("i", "q")))
    val sq = qd.groupBy(col("bucket"), col("i")).agg(sum(col("q")).as("sq"))
    val bn = sq.groupBy(col("bucket")).agg(sum(col("sq") * col("sq")).as("nn_b"))
    val dots = qd.join(broadcast(sq), Seq("bucket", "i"))
      .groupBy(col("vid"))
      .agg(sum(col("q") * col("sq")).as("dqs"), sum(col("q") * col("q")).as("nn_v"))
    val scored = e.join(dots, "vid").join(broadcast(bn), "bucket")
      .withColumn("cos_c", when(col("nn_v") === 0 || col("nn_b") === 0, lit(0.0))
        .otherwise(col("dqs") / (sqrt(col("nn_v")) * sqrt(col("nn_b")))))
      .select(col("vid"), col("bucket"), col("v"), col("nrm"), col("cos_c"))
    val later = scored.select(col("bucket"), col("vid").as("id_a"),
      col("v").as("va"), col("nrm").as("na"), col("cos_c").as("ca"))
    val earlier = scored.select(col("bucket"), col("vid").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"), col("cos_c").as("cb"))
    val dropped = later.join(earlier.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("cb") < col("ca") ||
        (col("cb") === col("ca") && col("id_b") < col("id_a")))
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= eps)
      .select(col("id_a").as("vid")).distinct()
    scored
      .join(dropped.withColumn("hit", lit(true)), Seq("vid"), "left")
      .select(col("vid"), col("bucket"),
        round(col("cos_c"), 6).as("cos_centroid"), col("hit").isNull.as("keep"))
  }

  /** Brute-force cosine top-k: every query vector scored against the
    * full corpus (broadcast queries, one corpus scan — the exact
    * baseline for ANN evaluation). Per-query top-k runs through the
    * native bounded-heap aggregate (graft.functions.TopKByScore):
    * map-side partial heaps ship ≤k candidates per query per partition,
    * so the exchange is O(queries·k), never O(corpus·queries) — the
    * rank-window formulation this replaced sorted every scored pair
    * through a single shuffle. */
  def bruteForceTopK(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, qId: Column, qVec: Column, k: Int): DataFrame = {
    val c = Analytics.spread(corpus.select(id.as("vid"), vec.cast("array<double>").as("v")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = queries.select(qId.as("qid"), qVec.cast("array<double>").as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    c.join(broadcast(q), col("vid") =!= col("qid"))
      .withColumn("cs", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .groupBy(col("qid"))
      .agg(topKByScore(col("cs"), col("vid"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("qid"), col("e.id").as("neighbor_id"),
        col("e.score").as("cos_sim"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** LSH-bucketed cosine top-k where EVERY corpus vector is a query —
    * the kNN-GRAPH scale path, where [[bruteForceTopK]]'s
    * broadcast-the-queries trick cannot apply (the query side IS the
    * corpus: broadcasting it OOMs and scoring it is O(n²)). Candidates
    * come from a bucket-equi SELF-join on random-hyperplane sign
    * buckets with hamming-1 multi-probe on the query side (flip each
    * plane's sign bit once): per-vector candidate volume is
    * (planes+1) · n/2^planes — raise `planes` with corpus size
    * (planes ≈ log2(n / target_bucket)) to keep buckets bounded, the
    * same lever as annLshTopk. Buckets partition the corpus, so the
    * probe set never duplicates a candidate. Both join sides are
    * shuffle-hash on the bounded bucket key; per-query top-k folds
    * through the native bounded-heap aggregate (O(n·k) exchange).
    * Approximate by construction — pair it with a brute-force oracle
    * and a recall spec, as the `_lsh` query twins do. */
  def lshTopK(corpus: DataFrame, id: Column, vec: Column, k: Int,
      planes: Int = 5): DataFrame = {
    // NOT cached here: the (vector, norm, bucket) signature table feeds
    // both join sides, so the corpus scan + signature compute run twice
    // in this plan. Measured at sf0.1, columnar-caching the array column
    // costs MORE than the second scan (1.9× slower end-to-end) — and a
    // forced persist inside a lazy plan has no clean unpersist point
    // (the annIvfTopk lesson). At corpus scale the caller persists or
    // checkpoints the signature table ONCE and reuses it across every
    // ANN/graph query built on it — the nearDupPairsLsh sigs contract,
    // owned by the caller because its lifetime outlives this one query.
    val c = Analytics.spread(corpus.select(id.as("vid"), vec.cast("array<double>").as("v")))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bucket", hyperplaneBucket(col("v"), planes))
    val probes = c.select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
      explode(expr(s"""transform(sequence(0, $planes),
        p -> IF(p = 0, bucket, bucket ^ shiftleft(1L, p - 1)))""")).as("bucket"))
    // corpus side carries the shuffle-hash hint: it is the BUILD side —
    // (planes+1)× smaller than the exploded probe stream
    probes.join(c.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("vid") =!= col("qid"))
      .withColumn("cs", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .groupBy(col("qid"))
      .agg(topKByScore(col("cs"), col("vid"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("qid"), col("e.id").as("neighbor_id"),
        col("e.score").as("cos_sim"), (col("pos") + 1).cast("long").as("rk"))
  }

  /** Training-set decontamination: flag train docs sharing ≥ minShared
    * distinct character n-gram shingles with ANY doc in the eval set —
    * the standard benchmark-leakage filter for pretraining corpora.
    * The eval side (benchmarks — small by construction) is collected
    * once as shingle hashes ([[sharedShingles]]) and probed inside one
    * projection over the spread train scan: no explode, no join, no
    * shuffle of text. Output: `doc_id`, `n_shared` (bigint) and
    * `contaminated`, both non-null — a null train text shares 0. */
  def decontaminate(train: DataFrame, id: Column, text: Column,
      evalSet: DataFrame, evalText: Column,
      shingle: Int = 20, minShared: Int = 5): DataFrame = {
    val shared = sharedShingles(evalSet, evalText, shingle)
    Analytics.spread(train.select(id.as("doc_id"), text.as("__t")))
      .select(col("doc_id"), shared(col("__t")).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= minShared)
  }

  /** The decontamination probe: a function from a text column to the
    * number of its distinct `shingle`-char shingles (of
    * [[normalizeText]]) that occur in any text of `evalSet`. Building
    * it runs one job — the eval texts' `charShingleHashes`, collected
    * and folded into one hash set on the driver — and the set rides in
    * the native [[graft.functions.ShingleHits]] kernel. Shingles match
    * as xxhash64 longs; collision odds are ~|train|·|eval| / 2⁶⁴. */
  def sharedShingles(evalSet: DataFrame, evalText: Column, shingle: Int): Column => Column = {
    val set = new LongSet(1024)
    evalSet.select(charShingleHashes(normalizeText(evalText), shingle))
      .collect().foreach(r => if (!r.isNullAt(0)) r.getSeq[Long](0).foreach(set.add))
    val hashes = set.toArray
    t => shingleHits(normalizeText(t), shingle, hashes)
  }

  /** Connected components over an undirected pair list via iterative
    * min-label propagation: each vertex repeatedly adopts the minimum
    * label in its neighborhood until fixpoint (≤ graph diameter
    * iterations; near-dup graphs are shallow). Driver coordinates only
    * the convergence check (a count) — no data is collected. Returns
    * (vertex, component) where component = min vertex id reachable. */
  /** Edge count below which components run as single-task union-find:
    * 10M edges ≈ a few hundred MB of hash state, comfortably one task.
    * Near-dup/kNN edge lists are the VERIFIED-pair output — orders of
    * magnitude smaller than the corpus that produced them — so at 100 TB
    * this path still usually applies; truly giant graphs take the
    * distributed propagation loop below. */
  private val UnionFindMaxEdges = 10_000_000L

  /** Fixed-iteration PageRank over an undirected edge list (damping
    * 0.85, `iters` power iterations from the uniform vector) — the
    * centrality companion of connectedComponents for the kNN graph
    * (which vectors anchor their neighborhood). Each iteration is one
    * join + bounded-key aggregation on the EDGE list (linear in edges),
    * localCheckpoint'ed so the plan stays O(1) per round (the
    * components lesson). Symmetric edges mean no dangling mass; the
    * vertex count attaches as a broadcast scalar, not a driver action.
    * Isolated vertices (no edges) are out of the graph, as in
    * components. */
  def pageRank(edges0: DataFrame, a: Column, b: Column, iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    val sym = edges0.select(a.as("src"), b.as("dst"))
      .union(edges0.select(b.as("src"), a.as("dst")))
      .localCheckpoint()
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val verts = sym.select(col("src").as("v")).distinct()
    val nvDf = broadcast(verts.agg(count(lit(1)).cast("double").as("__nv")))
    var pr = verts.crossJoin(nvDf)
      .select(col("v"), (lit(1.0) / col("__nv")).as("r"))
    for (_ <- 1 to iters) {
      pr = pr.join(sym, col("v") === col("src"))
        .join(deg, "src")
        .groupBy(col("dst"))
        .agg(sum(col("r") / col("__d")).as("__in"))
        .crossJoin(nvDf)
        .select(col("dst").as("v"),
          (lit(1.0 - damping) / col("__nv") + lit(damping) * col("__in")).as("r"))
        .localCheckpoint()
    }
    pr.select(col("v").as("vertex"), col("r").as("pagerank"))
  }

  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
      maxIter: Int = 20): DataFrame = {
    // localCheckpoint (NOT persist): every iteration's plan references the
    // previous labels twice, so without lineage truncation the logical
    // plan doubles per iteration and Catalyst planning goes exponential.
    // Checkpointing pins the materialized partitions and restarts the
    // plan at O(1) size each round — on a cluster this is the standard
    // iterative-graph pattern (GraphX/GraphFrames do the same).
    // normalize integral vertex ids to long up front so the output
    // schema is the same whichever path runs below (the union-find path
    // widens to long for its hash state; without this the distributed
    // path would preserve e.g. int and the schema would silently depend
    // on edge count)
    // materialize the pair list ONCE before mirroring it: the union
    // references `pairs` twice, and without this checkpoint the whole
    // upstream pair-finding pipeline (LSH banding, verification joins)
    // executes twice (measured 2.4s → 1.6s on the sf0.1 components
    // bench)
    val p0 = pairs.select(a.as("src"), b.as("dst")).localCheckpoint()
    val edges0 = p0
      .unionByName(p0.select(col("dst").as("src"), col("src").as("dst")))
    import org.apache.spark.sql.types._
    val edges = (edges0.schema("src").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        edges0.select(col("src").cast("long"), col("dst").cast("long"))
      case _ => edges0
    }).distinct()
      .localCheckpoint()
    // sizing probe (edges are checkpointed — this is a block count, not
    // a recompute): small graphs pay ONE task of union-find instead of
    // per-iteration job scheduling, which dominates end-to-end time when
    // the propagation loop runs on a few thousand edges
    if (edges.count() <= UnionFindMaxEdges) return unionFindLocal(edges)
    // the first propagation round is folded into the init: every vertex
    // starts at min(self, neighbors) — one aggregation instead of a
    // distinct + a full join round
    var labels = edges
      .groupBy(col("src").as("vertex"))
      .agg(least(col("src"), min(col("dst"))).as("component"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("vertex", "dst"), "dst")
        .groupBy(col("src").as("vertex"))
        .agg(min(col("component")).as("nbr_min"))
      val stepped = labels.join(neighborMin, Seq("vertex"), "left")
        .select(col("vertex"), col("component").as("old"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("mid"))
      // pointer jumping (path halving): adopt the label OF my label —
      // label(v) is always a vertex id in v's component, so label(label(v))
      // is too, and labels only decrease. Neighbor-min alone needs
      // O(diameter) rounds (chains in near-dup graphs run long); the jump
      // compresses paths geometrically → O(log diameter) rounds. Both
      // sides of the self-join read this iteration's small label table;
      // lineage is truncated per round so the plan stays O(1).
      val step = stepped.join(
          stepped.select(col("vertex").as("mid"), col("mid").as("jumped")),
          Seq("mid"), "left")
        .select(col("vertex"), col("old"),
          least(col("mid"), coalesce(col("jumped"), col("mid"))).as("component"))
        .localCheckpoint(eager = false)
      // the checkpoint is LAZY: this count materializes it — one Spark
      // job per iteration — and doubles as the convergence check
      val changed = step.filter(col("component") =!= col("old")).count()
      labels = step.select(col("vertex"), col("component"))
      converged = changed == 0
      iter += 1
    }
    labels
  }

  /** Single-task union-find with path compression: unions always point
    * the larger root at the smaller, so every root IS its component's
    * minimum vertex id — the same (vertex, min-reachable) contract as
    * the distributed loop. Generic over the vertex column type (long
    * ids for docs/vectors, strings for term graphs). */
  private def unionFindLocal(edges: DataFrame): DataFrame = {
    val sess = edges.sparkSession
    import sess.implicits._
    import org.apache.spark.sql.types._
    edges.schema("src").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        unionFind(edges.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)])
      case StringType => unionFind(edges.as[(String, String)])
      case t => throw new IllegalArgumentException(
        s"connectedComponents vertex type $t: expected integral or string")
    }
  }

  private def unionFind[T](ds: org.apache.spark.sql.Dataset[(T, T)])(
      implicit ord: Ordering[T]): DataFrame = {
    ds.coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[T, T]
        def find(x: T): T = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (s, d) =>
          parent.getOrElseUpdate(s, s); parent.getOrElseUpdate(d, d)
          val rs = find(s); val rd = find(d)
          if (rs != rd) {
            if (ord.lt(rs, rd)) parent(rd) = rs else parent(rs) = rd
          }
        }
        parent.keys.toVector.iterator.map(v => (v, find(v)))
      }(ds.encoder)
      .toDF("vertex", "component")
  }

  /** Backward as-of join: for each left row, the latest right row with
    * rightTs ≤ leftTs on the same key — one shuffle via the tagged-union
    * + running-last pattern (no range explode, no O(n·m) join). Right
    * columns arrive via `payload` (a struct column built from the right
    * side); ties on timestamp resolve to the right side first, then the
    * larger tieBreak. */
  def asofJoinBackward(left: DataFrame, leftKey: Column, leftTs: Column,
      right: DataFrame, rightKey: Column, rightTs: Column,
      payload: Column, tieBreak: Column): DataFrame = {
    val rNorm = right.select(rightKey.as("__k"), rightTs.as("__t"),
      tieBreak.cast("long").as("__tb"), lit(0).as("__side"), payload.as("asof_match"))
    val lNorm = left.select(leftKey.as("__k"), leftTs.as("__t"),
      lit(null).cast("long").as("__tb"), lit(1).as("__side"),
      lit(null).cast(rNorm.schema("asof_match").dataType).as("asof_match"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("left_row"))
    val rAligned = rNorm.withColumn("left_row",
      lit(null).cast(lNorm.schema("left_row").dataType))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lNorm.unionByName(rAligned)
      .withColumn("__asof", last(col("asof_match"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("left_row.*"), col("__asof").as("asof_match"))
  }

  /** PassJoin (Li, Deng, Wang & Feng, "PassJoin: a partition-based
    * method for similarity joins", PVLDB 5(3), 2011): EXACT
    * edit-distance self-join without a quadratic candidate step — the
    * documented escalation when a fuzzy join's blocking attribute has
    * high cardinality and the distinct-value rendezvous (Dedup #89)
    * stops bounding the per-block DP work.
    *
    * Pigeonhole: partition every string into tau+1 segments; any pair
    * within edit distance tau must agree EXACTLY on at least one
    * segment, shifted by at most tau characters (insertions minus
    * deletions before the untouched segment). So the index side emits
    * tau+1 (segment-index, length, content) keys per string and the
    * probe side emits one key per candidate partner length (±tau) per
    * segment per admissible shift — O(tau³) keys per row, LINEAR in the
    * corpus — and the equi-join on (block, length, segment-index,
    * content) yields a candidate superset verified by the banded DP.
    * Both sides shuffle on content-bearing keys: no broadcast of the
    * corpus, no block² fan-out; candidates beyond true matches are
    * hash-collision-rare.
    *
    * Strings shorter than tau+1 chars can't donate non-empty segments;
    * they rendezvous in a per-block short bucket against all strings of
    * length ≤ 2·tau (an edit-distance-reachable partner of a short
    * string), which is bounded for any real vocabulary. Output: one row
    * per unordered pair (id1 < id2) with the exact distance ≤ tau.
    */
  def passJoinPairs(df: DataFrame, id: Column, str: Column,
      blockCols: Seq[String], tau: Int = 2): DataFrame = {
    require(tau >= 1, s"passJoinPairs: tau must be >= 1, got $tau")
    val k = tau + 1
    val blocks = blockCols.map(col)
    val base = df.select(blocks :+ id.as("pj_id") :+ str.as("pj_s"): _*)
      .withColumn("pj_len", length(col("pj_s")))
    // segment layout for a length-L partition into k parts, remainder
    // spread over the FIRST segments (both sides must agree on this):
    //   len_i = L div k + (i < L mod k), start_i = i*(L div k) + min(i, L mod k)
    def segLen(lb: Column, i: Column): Column =
      (lb.cast("long") / k).cast("int") + when(i < lb % k, 1).otherwise(0)
    def segStart(lb: Column, i: Column): Column =
      (i * (lb.cast("long") / k).cast("int")) + least(i, lb % k)
    val idx = base.filter(col("pj_len") >= k)
      .withColumn("pj_i", explode(sequence(lit(0), lit(tau))))
      .withColumn("pj_st", segStart(col("pj_len"), col("pj_i")))
      .withColumn("pj_ln", segLen(col("pj_len"), col("pj_i")))
      .select(blocks ++ Seq(col("pj_len").as("pj_lb"), col("pj_i"),
        expr("substr(pj_s, pj_st + 1, pj_ln)").as("pj_sub"),
        col("pj_id").as("pj_idb"), col("pj_s").as("pj_sb")): _*)
    val probe = base
      .withColumn("pj_lb",
        explode(sequence(col("pj_len") - tau, col("pj_len") + tau)))
      .filter(col("pj_lb") >= k)
      .withColumn("pj_i", explode(sequence(lit(0), lit(tau))))
      .withColumn("pj_st", segStart(col("pj_lb"), col("pj_i")))
      .withColumn("pj_ln", segLen(col("pj_lb"), col("pj_i")))
      // admissible shifts: segment must land inside the probe string
      .withColumn("pj_lo", greatest(lit(-tau), -col("pj_st")))
      .withColumn("pj_hi",
        least(lit(tau), col("pj_len") - col("pj_ln") - col("pj_st")))
      .withColumn("pj_d",
        explode(when(col("pj_lo") <= col("pj_hi"),
          sequence(col("pj_lo"), col("pj_hi")))))
      .select(blocks ++ Seq(col("pj_lb"), col("pj_i"),
        expr("substr(pj_s, pj_st + pj_d + 1, pj_ln)").as("pj_sub"),
        col("pj_id").as("pj_ida"), col("pj_s").as("pj_sa")): _*)
      .distinct() // shifts often repeat a substring — dedup before the join
    val mainCand = probe.join(idx,
        blockCols ++ Seq("pj_lb", "pj_i", "pj_sub"))
      .filter(col("pj_ida") =!= col("pj_idb"))
      .select(least(col("pj_ida"), col("pj_idb")).as("id1"),
        greatest(col("pj_ida"), col("pj_idb")).as("id2"),
        when(col("pj_ida") < col("pj_idb"), col("pj_sa"))
          .otherwise(col("pj_sb")).as("s1"),
        when(col("pj_ida") < col("pj_idb"), col("pj_sb"))
          .otherwise(col("pj_sa")).as("s2"))
    // short bucket: strings with < k chars against all length-<= 2*tau
    // partners in the block (|len diff| <= tau bounds partners of a
    // (k-1)-char string by k-1+tau = 2*tau)
    val shorts = base.filter(col("pj_len") < k)
      .select(blocks ++ Seq(col("pj_id").as("pj_ida"), col("pj_s").as("pj_sa")): _*)
    val shortPartners = base.filter(col("pj_len") <= 2 * tau)
      .select(blocks ++ Seq(col("pj_id").as("pj_idb"), col("pj_s").as("pj_sb")): _*)
    val shortCand = shorts.join(shortPartners, blockCols)
      .filter(col("pj_ida") =!= col("pj_idb"))
      .select(least(col("pj_ida"), col("pj_idb")).as("id1"),
        greatest(col("pj_ida"), col("pj_idb")).as("id2"),
        when(col("pj_ida") < col("pj_idb"), col("pj_sa"))
          .otherwise(col("pj_sb")).as("s1"),
        when(col("pj_ida") < col("pj_idb"), col("pj_sb"))
          .otherwise(col("pj_sa")).as("s2"))
    mainCand.unionAll(shortCand)
      .distinct() // a pair can match via several segments/paths
      .withColumn("dist",
        graft.functions.BoundedLevenshtein.column(col("s1"), col("s2"), tau))
      .filter(col("dist") <= tau)
      .select(col("id1"), col("id2"), col("dist"))
  }
}
