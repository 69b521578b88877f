package graft.dedup

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Deduplication for LLM-data pipelines (SURVEY.md §2.3): exact hash,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design: the exact-Jaccard inverted index (dedup_ngram_jaccard)
  * is the ORACLE path — at 100 TB the production path is the banded
  * MinHash LSH (dedup_minhash_lsh), whose shuffle keys are (band,
  * band-hash) buckets with bounded fan-out, never an O(n²) cross join.
  * All signatures (minhash, simhash) are computed with higher-order
  * array folds inside whole-stage codegen — one narrow pass per doc,
  * no explode of the shingle set, no UDFs.
  */
object Dedup extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  /** Whitespace-normalized lowercase text. */
  private def norm(c: Column): Column = trim(regexp_replace(lower(c), lit("\\s+"), lit(" ")))

  private val normSql = raw"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

  /** Shared simhash candidate CTE chain (words → signatures → chunk
    * banding → `cand(d1, d2, hamming)`), composed into the
    * dedup_simhash and simhash_radius_sweep oracles. */
  private val simhashCandSql =
    """words AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
           FROM documents),
         dwords AS (SELECT DISTINCT w FROM words),
         wh AS (
           SELECT w, list_reduce(
             list_prepend(14695981039346656037::HUGEINT,
               list_transform(string_split(w, ''), c -> ascii(c)::HUGEINT)),
             (acc, b) -> (((acc // 256) * 256 + xor((acc % 256)::BIGINT, b::BIGINT)::HUGEINT)
                          * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h
           FROM dwords),
         whs AS (
           SELECT w, CASE WHEN h < 9223372036854775808::HUGEINT THEN h::BIGINT
                          ELSE (h - 18446744073709551616::HUGEINT)::BIGINT END AS hs
           FROM wh),
         votes AS (
           SELECT doc_id, t.b, sum(CASE WHEN (hs >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           FROM words JOIN whs USING (w),
           LATERAL (SELECT unnest(generate_series(0, 63)) AS b) t
           GROUP BY 1, 2),
         sh AS (
           SELECT doc_id, sum(CASE WHEN v > 0 THEN
                    CASE WHEN b = 63 THEN (-9223372036854775807 - 1)
                         ELSE (1::BIGINT << CAST(b AS INT)) END
                  ELSE 0 END)::BIGINT AS simhash
           FROM votes GROUP BY 1),
         chunks AS MATERIALIZED (
           SELECT doc_id, simhash, t.c, (simhash >> (t.c*16)) & 65535 AS cv
           FROM sh, LATERAL (SELECT unnest([0,1,2,3]) AS c) t),
         cand AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           FROM chunks a JOIN chunks b
             ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id)"""

  /** Distinct character 5-gram shingles as an array column — a native
    * codegen'd expression (graft.functions.CharShingles); semantics are
    * byte-for-byte the oracle's substr loop. */
  private def shinglesExpr(tExpr: String): Column =
    graft.functions.VectorFunctions.charShingles(col(tExpr), 5)

  private def docsNorm(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.spread(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), norm(col("text")).as("t"))

  // ---------------------------------------------------------------
  // 32. exact dedup: hash of normalized text; keep the minimum id per
  // hash group. One shuffle on the 128-bit hash — uniform keys, no skew.
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    graft.api.Similarity.exactDupGroups(Tables.documents(s, dir),
      col("doc_id"), col("text"))

  // ---------------------------------------------------------------
  // 267. Chao1 distinct-population estimate over the exact-dup cluster
  // sizes (capture-recapture applied to corpus audit: "how many
  // distinct documents would an infinite crawl surface?"): with f1
  // singletons and f2 doubletons among D observed distinct texts,
  // Chao1 = D + f1(f1−1)/(2(f2+1)) (the bias-corrected form — defined
  // even at f2=0), plus the Good-Turing sample coverage 1 − f1/N. All
  // integers until two closed-form divisions. One aggregation over the
  // #32 group table.
  def chaoEstimate(s: SparkSession, dir: String): DataFrame =
    dedupExact(s, dir)
      .agg(sum(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("n_docs") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("n_docs") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_docs"), col("n_distinct"), col("f1"), col("f2"),
        round(col("n_distinct")
          + col("f1") * (col("f1") - 1) / (lit(2.0) * (col("f2") + 1)), 4)
          .as("chao1"),
        round(lit(1.0) - col("f1") / col("n_docs").cast("double"), 6)
          .as("coverage"))

  private val chaoEstimateSql =
    s"""WITH g AS (
         SELECT md5($normSql) AS h, count(*) AS c
         FROM documents GROUP BY 1),
       agg AS (
         SELECT CAST(sum(c) AS BIGINT) AS n_docs,
                count(*) AS n_distinct,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
         FROM g)
       SELECT n_docs, n_distinct, f1, f2,
              round(n_distinct + f1 * (f1 - 1) / (2.0 * (f2 + 1)), 4) AS chao1,
              round(1.0 - f1 / CAST(n_docs AS DOUBLE), 6) AS coverage
       FROM agg"""

  // ---------------------------------------------------------------
  // 33. n-gram Jaccard near-dup pairs via shingle inverted index:
  // explode distinct shingles, self-join on shingle (the inverted-index
  // bucket), count intersections, Jaccard = |∩|/(|A|+|B|−|∩|).
  // Exact — serves as the oracle for the LSH path. At 100 TB the
  // frequent-shingle buckets make Σ df² explode; that's what
  // dedup_minhash_lsh is for.
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = docsNorm(s, dir)
      .select(col("doc_id"), explode(shinglesExpr("t")).as("g"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac", col("i").cast("double") / (col("n1") + col("n2") - col("i")))
      .filter(col("jac") >= 0.7)
      .select(col("d1"), col("d2"), r(col("jac"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------
  // 307. prefix-filtered exact Jaccard join (All-Pairs, Bayardo et al.
  // WWW 2007; PPJoin, Xiao et al. WWW 2008) — the EXACT scalable path
  // for #33's contract. The inverted-index form above pays Σ df² rows
  // on the shingle join; prefix filtering joins only each set's RAREST
  // shingles under a global (df, shingle) order: a pair with J ≥ t
  // shares a token inside both prefixes (prefix-filter lemma), and
  // rare-first order keeps the prefix df's small.
  //
  // Pipeline shape: one RDD DAG from the scan on, in two jobs (the
  // dictionary, then the consuming write). An RDD's shuffles run inside
  // the job that consumes them, where a DataFrame exchange would run
  // under AQE as a job of its own, and only the scan projection and the
  // output projection compile code:
  //  1. The scan projection (doc_id and the normalized text `t`) keeps
  //     the oracle's text semantics as Spark expressions.
  //  2. One shuffle groups the docs by their text: each distinct text
  //     runs the pair machinery once with its sorted members (the rep
  //     is the first). The CharShingles expression shingles it once,
  //     into one packed byte array, persisted for both jobs (the #190
  //     caching contract: the result is lazy, so the caller's reset
  //     sweep frees it).
  //  3. The dictionary: each partition counts its (shingle, df) pairs,
  //     the driver merges them and ranks by (df, shingle) into dense
  //     1-based ids, then broadcasts. It is vocabulary-bounded (distinct
  //     5-grams). Each rep encodes to its sorted id array, so a prefix
  //     is the HEAD.
  //  4. One shuffle partitioned by prefix id carries every probe-prefix
  //     entry with the rep's whole id array (record replication,
  //     Vernica et al. SIGMOD 2010), in one record per (rep, partition)
  //     so the arrays travel once per partition. The probe prefix for
  //     J ≥ 0.7 is n − ⌈0.7n⌉ + 1 = n − (7n+9) div 10 + 1; the
  //     (n, rep)-smaller side only needs its index prefix
  //     n − ⌈14n/17⌉ + 1 (overlap ≥ 2t/(1+t)·|smaller|). Integer bounds
  //     throughout: a float ⌈0.7n⌉ could cut a prefix unsafely short.
  //     A partition sorts its entries by (id, n, rep); within an id,
  //     every entry meets every smaller index entry, and the pair runs
  //     the O(1) length bound (10·|B| ≥ 7·|A|), the positional bound,
  //     then [[firstSharedOverlap]]'s merge.
  //  5. A true rep pair expands over both member lists, and each group
  //     of identical texts into its own J = 1 pairs (at the rep's first
  //     prefix entry), both in the same task. The rows carry the
  //     overlap and both set sizes; the Jaccard division, its round and
  //     the 0.7 bound stay Spark expressions.
  //
  // Exactness of the first-shared rule: let s be the smallest id a
  // qualifying pair shares. Some shared id lies in both prefixes, and
  // prefixes are heads of the sorted arrays, so s (no later than it in
  // either array) lies in both prefixes too: the pair meets at s. At s
  // nothing has matched yet, so the overlap is at most 1 + min(ids left
  // after s on either side) — the positional bound there, and no larger
  // than at any later shared id. So every qualifying pair is emitted
  // exactly once (at s, oriented by (n, rep)) and no pruning drops it;
  // the merge's stop rule uses the same bound with the matches so far.
  // No distinct is needed. Same output, same oracle as #33.
  //
  // The candidate stage adds its counts at partition end to the named
  // accumulators graft.dedup.prefix.{emitted, length_pruned,
  // position_pruned, verified, true}: emitted = length_pruned +
  // position_pruned + verified, and `true` counts the verified pairs
  // the merge keeps (Bench records them per query under `counters`).
  def dedupJaccardPrefix(s: SparkSession, dir: String): DataFrame = {
    val sc = s.sparkContext
    val parts = s.sessionState.conf.numShufflePartitions
    val texts = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), norm(col("text")))
      .queryExecution.toRdd
      .map(r => (r.getUTF8String(1).clone(), r.getLong(0)))
      .groupByKey(parts)
      .map { case (t, ds) => Shingled(ds.toArray.sorted, t) }
      .persist()
    // each partition's (shingle, df) counts, merged on the driver
    val df = mutable.HashMap[UTF8String, Long]()
    texts.mapPartitions { it =>
      val m = mutable.HashMap[UTF8String, Long]()
      it.foreach(_.shingles.foreach(g => m(g) = m.getOrElse(g, 0L) + 1))
      Iterator(m)
    }.collect().foreach(_.foreach { case (g, n) => df(g) = df.getOrElse(g, 0L) + n })
    val ranked = df.toArray.sortBy { case (g, n) => (n, g) }
    val dict = sc.broadcast(ranked.iterator.map(_._1).zipWithIndex.map { case (g, i) => g -> (i + 1) }.toMap)
    val acc = PrefixCounters.map(n => sc.longAccumulator(s"graft.dedup.prefix.$n"))
    val rows = texts.flatMap { t =>
        val ids = t.shingles.map(dict.value).toArray
        java.util.Arrays.sort(ids)
        val rep = PrefixRep(t.ms, ids)
        // one record per (rep, partition) carries the rep's arrays once
        (0 until probeLen(ids.length)).groupBy(ids(_) % parts).iterator
          .map { case (p, ps) => (p, (rep, ps.toArray)) }
      }
      .partitionBy(new org.apache.spark.HashPartitioner(parts))
      .mapPartitions { it =>
        val c = new Array[Long](acc.size)
        val es = it.flatMap { case (_, (rep, ps)) => ps.iterator.map(pos => (rep.ids(pos), pos, rep)) }
          .toArray.sorted(ByIdSizeRep)
        val starts = es.indices.filter(k => k == 0 || es(k)._1 != es(k - 1)._1) :+ es.length
        // `++` takes its tail by name: the counts are added once the
        // partition's pairs are drained
        starts.iterator.zip(starts.iterator.drop(1)).flatMap { case (lo, hi) => prefixPairs(es, lo, hi, c) } ++
          { acc.indices.foreach(i => acc(i).add(c(i))); Iterator.empty }
      }
    val jac = col("i").cast("double") / (col("n1") + col("n2") - col("i"))
    org.apache.spark.sql.GraftGlue.internalFrame(s, rows, PrefixPairSchema)
      .filter(jac >= 0.7)
      .select(col("d1"), col("d2"), r(jac, 6).as("jaccard"))
  }

  private val PrefixCounters = Seq("emitted", "length_pruned", "position_pruned", "verified", "true")

  /** (d1, d2, overlap, both set sizes). */
  private val PrefixPairSchema = StructType(Seq("d1", "d2", "i", "n1", "n2")
    .map(StructField(_, LongType, nullable = false)))

  /** One distinct text: its sorted members (the rep first) and its
    * sorted shingle ids. */
  private final case class PrefixRep(ms: Array[Long], ids: Array[Int])

  private val charShingles5 = graft.functions.CharShingles(
    org.apache.spark.sql.catalyst.expressions.BoundReference(0, StringType, nullable = false), 5)

  /** One distinct text: its sorted members (the rep first) and its
    * distinct 5-gram shingles packed into one byte array, shingle k
    * at bytes at(k) until at(k + 1). */
  private final class Shingled(val ms: Array[Long], bytes: Array[Byte], at: Array[Int])
      extends Serializable {
    def shingles: Iterator[UTF8String] =
      Iterator.range(0, at.length - 1).map(k => UTF8String.fromBytes(bytes, at(k), at(k + 1) - at(k)))
  }

  private object Shingled {
    /** Shingles the normalized text `t` with the CharShingles expression. */
    def apply(ms: Array[Long], t: UTF8String): Shingled = {
      val a = charShingles5.eval(InternalRow(t)).asInstanceOf[ArrayData]
      val gs = Array.tabulate(a.numElements)(a.getUTF8String)
      val at = gs.scanLeft(0)(_ + _.numBytes)
      val bytes = new Array[Byte](at.last)
      gs.indices.foreach(k => gs(k).writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + at(k)))
      new Shingled(ms, bytes, at)
    }
  }

  /** Probe prefix length for J ≥ 0.7: n − ⌈0.7n⌉ + 1. */
  private def probeLen(n: Int): Int = n - (n * 7 + 9) / 10 + 1

  /** Index prefix length for J ≥ 0.7: n − ⌈14n/17⌉ + 1. */
  private def indexLen(n: Int): Int = n - (n * 14 + 16) / 17 + 1

  /** Prefix entries (id, pos, rep) by id, then by (set size, rep). */
  private val ByIdSizeRep: Ordering[(Int, Int, PrefixRep)] =
    Ordering.by[(Int, Int, PrefixRep), Int](_._1).orElseBy(_._3.ids.length).orElseBy(_._3.ms(0))

  /** The pairs met on one prefix id, whose entries are es(lo until hi)
    * in (set size, rep) order, as output rows: each rep's self pairs at
    * its first prefix entry, and every verified pair of a larger probe
    * entry with a smaller index entry, over both member lists. Counts go
    * to `c` in [[PrefixCounters]] order. */
  private def prefixPairs(es: Array[(Int, Int, PrefixRep)], lo: Int, hi: Int,
      c: Array[Long]): Iterator[InternalRow] = {
    def row(x: Long, y: Long, i: Int, n1: Int, n2: Int): InternalRow =
      InternalRow(math.min(x, y), math.max(x, y), i.toLong, n1.toLong, n2.toLong)
    (lo until hi).iterator.flatMap { k =>
      val (gid, pa, a) = es(k)
      val na = a.ids.length
      val self =
        if (pa > 0) Iterator.empty
        else for (j <- a.ms.indices.iterator; i <- 0 until j) yield row(a.ms(i), a.ms(j), na, na, na)
      self ++ (lo until k).iterator.flatMap { j =>
        val (_, pb, b) = es(j)
        val nb = b.ids.length
        if (pb >= indexLen(nb)) Iterator.empty
        else {
          c(0) += 1
          if (na * 7L > nb * 10L) { c(1) += 1; Iterator.empty }
          else if ((1L + math.min(na - 1 - pa, nb - 1 - pb)) * 17 < (na + nb) * 7L) { c(2) += 1; Iterator.empty }
          else {
            c(3) += 1
            val m = firstSharedOverlap(a.ids, b.ids, gid)
            if (m < 0) Iterator.empty
            else {
              c(4) += 1
              for (x <- a.ms.iterator; y <- b.ms.iterator) yield row(x, y, m, na, nb)
            }
          }
        }
      }
    }
  }

  /** The prefix join's verify rule: the overlap |A ∩ B| of two SORTED
    * duplicate-free id arrays, or -1 when the pair is rejected. It is
    * rejected when `first` is not the smallest id the arrays share (so
    * a pair met on several shared prefix ids is kept once), or as soon
    * as Jaccard ≥ 0.7 is out of reach: J ≥ 0.7 ⟺ 17·|A∩B| ≥ 7·(|A|+|B|),
    * and the overlap can grow to at most matched + min(remaining of A,
    * remaining of B), so the merge stops once 17·that bound <
    * 7·(|A|+|B|) (PPJoin's positional bound, applied at every
    * mismatch). One linear int merge; exact integer arithmetic. */
  def firstSharedOverlap(a: Array[Int], b: Array[Int], first: Int): Int = {
    val na = a.length; val nb = b.length
    val need = 7L * (na + nb)
    var i = 0; var j = 0; var m = 0
    var out = if (17L * math.min(na, nb) < need) -1 else 0
    while (out == 0 && i < na && j < nb) {
      val u = a(i); val v = b(j)
      if (u == v) {
        if (m == 0 && u != first) out = -1
        m += 1; i += 1; j += 1
      } else {
        if (u < v) i += 1 else j += 1
        if (17L * (m + math.min(na - i, nb - j)) < need) out = -1
      }
    }
    if (out < 0 || m == 0 || 17L * m < need) -1 else m
  }

  // ---------------------------------------------------------------
  // 34. MinHash + banded LSH, banded 16×4; docs sharing a band bucket
  // are candidates; candidates verified with exact Jaccard on the
  // shingle arrays. r13: the 64-slot signature is one-permutation
  // MinHash + rotation densification (the #337 lever — ONE SplitMix64
  // per shingle instead of 64; calibration table minhash_oph_calibration
  // measured MAE ≈ 0.03 vs exact, and every emitted pair still verifies
  // exact Jaccard, so the signature gates recall only). Signature is one
  // codegen'd fold per doc; the only shuffle is the (band, band_hash)
  // groupBy — bounded buckets, the 100 TB-safe shape.
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    graft.api.Similarity.nearDupPairsLsh(Tables.documents(s, dir),
        col("doc_id"), col("text"), threshold = 0.7)
      .select(col("d1"), col("d2"), r(col("jaccard"), 6).as("jaccard"))

  // ---------------------------------------------------------------
  // 148. containment near-dup pairs: the ASYMMETRIC companion of #33 —
  // containment = |A∩B|/min(|A|,|B|) catches quote/subset relations
  // (one doc embedded in a larger one) that the symmetric Jaccard
  // misses when the size ratio is large. Same exact inverted-index
  // plan as #33 (the oracle path; at scale feed candidates from LSH
  // with the same verification predicate).
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val sh = docsNorm(s, dir)
      .select(col("doc_id"), explode(shinglesExpr("t")).as("g"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("containment",
        col("i").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= 0.9)
      .select(col("d1"), col("d2"), col("n1"), col("n2"),
        r(col("containment"), 6).as("containment"))
  }

  private val dedupContainmentSql =
    s"""WITH nrm AS (SELECT doc_id, $normSql AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
               FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT d1, d2, s1.n AS n1, s2.n AS n2,
               round(CAST(i AS DOUBLE) / least(s1.n, s2.n), 6) AS containment
        FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE CAST(i AS DOUBLE) / least(s1.n, s2.n) >= 0.9"""

  // ---------------------------------------------------------------
  // 156. near-dup pair rates by source pair: where do the duplicates
  // LIVE — within a source or across two (the audit that decides
  // whether dedup must run globally or can shard per source). Consumes
  // the exact pair list (oracle path, Bench-excluded with it); at
  // scale feed the LSH pairs — identical downstream.
  def dupPairsBySource(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgramJaccard(s, dir).select(col("d1"), col("d2"))
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("__s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("__s2")), "d2")
      .groupBy(least(col("__s1"), col("__s2")).as("source_a"),
        greatest(col("__s1"), col("__s2")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val dupPairsBySourceSql =
    s"""WITH nrm AS (SELECT doc_id, $normSql AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
               FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (
          SELECT d1, d2 FROM inter
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(i AS DOUBLE)/(s1.n + s2.n - i) >= 0.7)
        SELECT least(a.source, b.source) AS source_a,
               greatest(a.source, b.source) AS source_b,
               count(*) AS n_pairs
        FROM pairs
        JOIN documents a ON d1 = a.doc_id
        JOIN documents b ON d2 = b.doc_id
        GROUP BY 1, 2"""

  // ---------------------------------------------------------------
  // 35. SimHash (64-bit): per-word hash votes per bit, sign → bit;
  // near-dups = pairs within hamming distance 3, found via 4×16-bit
  // chunk banding (any exact-matching chunk → candidate, guaranteed to
  // cover hamming ≤ 3 by pigeonhole). The word hash is FNV-1a 64
  // (SimHash64's scaladoc explains the choice), which the oracle
  // re-derives exactly in SQL — a HUGEINT list_reduce fold per distinct
  // word — so this query is hash-checked, not rows-only.
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    graft.api.Similarity.simhashPairs(Tables.documents(s, dir),
      col("doc_id"), col("text"), maxHamming = 3)

  // ---------------------------------------------------------------
  // 316. simhash hamming-radius sweep — the tuning table for #35's
  // maxHamming knob, completing the family with the IVF nprobe (#261),
  // LSH plane (#289), and MinHash banding (#290) sweeps: per radius
  // h ∈ 0..3 (the range the 4×16-bit chunk banding is recall-complete
  // for, by pigeonhole), CUMULATIVE candidate-pair counts (hamming ≤ h
  // — each row IS the volume/precision you'd get setting maxHamming=h,
  // the actual tuning number; r10 ADVICE item 1) and PRECISION against
  // the #33 char-5-gram J ≥ 0.7 ground truth — the table that says
  // where widening the radius stops buying real near-dups. Pair volume
  // is #35's own output (banding-bounded); verification is one native
  // set-Jaccard per pair, then each pair fans out to the ≤4 radii
  // that include it (bounded ×4, not a join).
  def simhashRadiusSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.api.Similarity.simhashPairs(Tables.documents(s, dir),
      col("doc_id"), col("text"), maxHamming = 3)
    val d = docsNorm(s, dir).select(col("doc_id"), shinglesExpr("t").as("gs"))
    pairs
      .join(d.select(col("doc_id").as("d1"), col("gs").as("g1")), "d1")
      .join(d.select(col("doc_id").as("d2"), col("gs").as("g2")), "d2")
      .withColumn("jac",
        graft.functions.VectorFunctions.jaccardSim(col("g1"), col("g2")))
      .withColumn("radius", explode(expr("sequence(hamming, 3L)")))
      .groupBy(col("radius"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("jac") >= 0.7, 1L).otherwise(0L)).as("n_true"),
        r(avg(when(col("jac") >= 0.7, 1.0).otherwise(0.0)), 6).as("precision"))
  }

  // ---------------------------------------------------------------
  // 36. embedding-cosine near-dup pairs. Brute-force pair join — the
  // oracle-exact baseline; dedupEmbeddingLsh is the bucketed scale twin
  // (hamming≤1 hyperplane buckets, recall-spec'd in AnnSpec).
  // Norms precomputed once per vector before the join.
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    graft.api.Similarity.bruteForceCosinePairs(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), threshold = 0.4)
      .select(col("id1"), col("id2"), r(col("cos_sim"), 6).as("cos_sim"))

  /** Scale twin of #36: same (id1, id2, cos_sim) contract over
    * hyperplane-bucket candidates instead of the all-pairs join. */
  def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame =
    graft.api.Similarity.cosinePairsLsh(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), threshold = 0.4)
      .select(col("id1"), col("id2"), r(col("cos_sim"), 6).as("cos_sim"))

  // ---------------------------------------------------------------
  // 277. semantic decontamination — the embedding-space face of #64's
  // shingle decontamination (paraphrased eval leakage slips past
  // n-gram overlap; cosine similarity catches it): eval set = every
  // 50th vector (the query protocol), train = the rest. A train vector
  // is contaminated when some eval vector sits at cosine ≥ 0.4 among
  // its LSH probe candidates — the #36-lsh bucket feed, so the check
  // is bounded bucket fan-out, never an eval×train pair scan (and at
  // a real eval-set size the eval side is a broadcast). Argmax on the
  // 6dp-rounded sim (the cross-engine equality the #36 oracle proves),
  // ties to the larger eval id; untouched train rows carry the
  // explicit not-contaminated row (the #64 output contract).
  def decontaminateSemantic(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.api.Similarity.cosinePairsLsh(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), threshold = 0.4)
      .select(col("id1"), col("id2"), r(col("cos_sim"), 6).as("cs"))
    val hits = pairs
      .filter((pmod(col("id1"), lit(50)) === 0) =!= (pmod(col("id2"), lit(50)) === 0))
      .select(
        when(pmod(col("id1"), lit(50)) === 0, col("id2")).otherwise(col("id1")).as("vec_id"),
        when(pmod(col("id1"), lit(50)) === 0, col("id1")).otherwise(col("id2")).as("eval_id"),
        col("cs"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cs"), col("eval_id"))).as("m"))
      .select(col("vec_id"), col("m.cs").as("best"), col("m.eval_id").as("ev"))
    Tables.embeddings(s, dir).select(col("vec_id"))
      .filter(pmod(col("vec_id"), lit(50)) =!= 0)
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("best").isNotNull.as("contaminated"),
        coalesce(col("best"), lit(0.0)).as("best_sim"),
        coalesce(col("ev"), lit(-1L)).as("eval_match"))
  }

  // ---------------------------------------------------------------
  // 173. SemDeDup semantic dedup (Abbas et al. 2023): hyperplane-bucket
  // clusters, within-cluster cosine duplicates at eps=0.4 (the #36
  // threshold), keep the member least similar to the integer-quantized
  // cluster centroid. graft.api.Similarity.semanticDedup documents the
  // two determinism substitutions (sign buckets for k-means, exact-int
  // centroid sums) that make this hash-checkable.
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    graft.api.Similarity.semanticDedup(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), eps = 0.4)
      .withColumnRenamed("vid", "vec_id")

  // ---------------------------------------------------------------
  // 60. near-dup components + keeper selection: the final step of a
  // dedup pipeline — exact-Jaccard pairs (oracle path) → connected
  // components → keep the minimum doc id per component. Docs in no
  // pair are their own component.
  def dedupComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgramJaccard(s, dir)
    graft.api.Similarity.connectedComponents(pairs, col("d1"), col("d2"))
      .withColumn("keep", col("vertex") === col("component"))
  }

  /** Scale twin of dedup_components: identical component/keeper logic
    * fed by the BUCKET-STAR verified edge finder — the shape that runs
    * at 100 TB (Bench times this one; dedup_components stays the
    * DuckDB-checkable oracle path). r13: the feed moved from the
    * dedupMinhashLsh PAIR list (Θ(Σ cluster²) output — the r12 sf3
    * octave measured it at 21.7× on 3× data) to
    * [[graft.api.Similarity.nearDupStarEdgesLsh]]'s Θ(Σc) hub edges;
    * components are identical on pairwise-≥t clusters (DedupSpec pins
    * star ≡ pair ≡ exact on the corpus) and the consumer chain is now
    * linear in dup mass. */
  def dedupComponentsLsh(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.api.Similarity.nearDupStarEdgesLsh(
      Tables.documents(s, dir), col("doc_id"), col("text"), threshold = 0.7)
    graft.api.Similarity.connectedComponents(edges, col("d1"), col("d2"))
      .withColumn("keep", col("vertex") === col("component"))
  }

  // ---------------------------------------------------------------
  // 184. incremental-batch dedup: the ingestion-time form of the dedup
  // pipeline — an INCOMING batch (doc_id % 5 = 4 plays the new crawl
  // snapshot) is checked against the EXISTING corpus: exact dup via
  // normalized-text hash membership, near dup via best VERIFIED
  // cross-set Jaccard (≥ 0.7; max_jaccard is 0 when no dup — defining
  // the column over verified-dup pairs only is what lets the exact
  // oracle and the LSH feed agree). Scale shape: exact is a hash
  // semi-join; near-dup candidates come from the 16×4 MinHash banding
  // (bounded buckets) with pairs restricted to cross-set — the
  // 243M-row exact cross-set shingle join this corpus would cost at
  // sf0.1 never materializes. Oracle = the exact inter-set Jaccard
  // (banding miss odds ≈ 2e-8 at 0.7, re-checked every round).
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = docsNorm(s, dir)
    val incoming = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val existing = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
    val exHash = existing.select(md5(col("t")).as("h")).distinct()
      .withColumn("__exact", lit(true))
    val exact = incoming.select(col("doc_id"), md5(col("t")).as("h"))
      .join(exHash, Seq("h"), "left")
    val best = graft.api.Similarity.nearDupPairsLsh(
        Tables.documents(s, dir), col("doc_id"), col("text"), threshold = 0.7)
      .filter((pmod(col("d1"), lit(5)) === 4) =!= (pmod(col("d2"), lit(5)) === 4))
      .select(when(pmod(col("d1"), lit(5)) === 4, col("d1")).otherwise(col("d2")).as("di"),
        col("jaccard"))
      .groupBy(col("di")).agg(max(col("jaccard")).as("mj"))
    exact.join(best, col("doc_id") === col("di"), "left")
      .select(col("doc_id"),
        coalesce(col("__exact"), lit(false)).as("exact_dup"),
        col("mj").isNotNull.as("near_dup"),
        r(coalesce(col("mj"), lit(0.0)), 6).as("max_jaccard"),
        (coalesce(col("__exact"), lit(false)) || col("mj").isNotNull)
          .unary_!.as("keep"))
  }

  private val dedupIncrementalSql =
    s"""WITH nrm AS (SELECT doc_id, $normSql AS t FROM documents),
        inc AS (SELECT * FROM nrm WHERE doc_id % 5 = 4),
        ex  AS (SELECT * FROM nrm WHERE doc_id % 5 != 4),
        exh AS (SELECT DISTINCT md5(t) AS h FROM ex),
        shi AS (SELECT DISTINCT doc_id AS di, substr(t, CAST(i AS INT), 5) AS g
                FROM inc, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
        she AS (SELECT DISTINCT doc_id AS de, substr(t, CAST(i AS INT), 5) AS g
                FROM ex, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
        szi AS (SELECT di, count(*) AS ni FROM shi GROUP BY 1),
        sze AS (SELECT de, count(*) AS ne FROM she GROUP BY 1),
        best AS (
          SELECT di, max(CAST(i AS DOUBLE) / (ni + ne - i)) AS mj
          FROM (SELECT a.di, b.de, count(*) AS i
                FROM shi a JOIN she b USING (g) GROUP BY 1, 2)
          JOIN szi USING (di) JOIN sze USING (de)
          WHERE CAST(i AS DOUBLE) / (ni + ne - i) >= 0.7
          GROUP BY 1)
        SELECT i.doc_id,
               (md5(i.t) IN (SELECT h FROM exh)) AS exact_dup,
               (b.mj IS NOT NULL) AS near_dup,
               round(coalesce(b.mj, 0.0), 6) AS max_jaccard,
               NOT ((md5(i.t) IN (SELECT h FROM exh))
                    OR b.mj IS NOT NULL) AS keep
        FROM inc i LEFT JOIN best b ON i.doc_id = b.di"""

  // ---------------------------------------------------------------
  // 185. quality-aware keeper selection: the production refinement of
  // #60's min-id keeper — per near-dup cluster keep the HIGHEST
  // quality member (the #41 blended score; doc_id asc tie-break).
  // Fed from the LSH components path (the 100 TB feed; identical
  // clusters to the exact path since LSH candidates verify exact
  // Jaccard — the dedup_cluster_sizes precedent), oracled by the exact
  // recursive-CTE components + the same quality formula. Singleton
  // docs form their own cluster and are always kept.
  def dedupKeeperQuality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = dedupComponentsLsh(s, dir)
      .select(col("vertex").as("doc_id"), col("component"))
    val q = graft.text.TextOps.textQuality(s, dir)
      .select(col("doc_id"), col("quality"))
    val all = q.join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    all.withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("quality"), col("keep"))
  }

  // lazy: componentsPrefixSql is declared further down the object and
  // would interpolate as null during eager init
  private lazy val dedupKeeperQualitySql =
    s"""$componentsPrefixSql,
        comp AS (
          SELECT v.vertex AS doc_id, least(v.vertex, min(r.b)) AS component
          FROM verts v LEFT JOIN reach r ON v.vertex = r.a
          GROUP BY v.vertex),
        q AS (
          SELECT doc_id,
                 round(0.4 * (CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b')) AS DOUBLE)
                        / len(regexp_extract_all(text, '\\S+')))
                     + 0.3 * least(1.0, len(regexp_extract_all(text, '\\S+')) / 100.0)
                     + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                        / length(text)), 6) AS quality
          FROM documents),
        allq AS (
          SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component, q.quality
          FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id)
        SELECT doc_id, component, quality,
               (row_number() OVER (PARTITION BY component
                  ORDER BY quality DESC, doc_id ASC) = 1) AS keep
        FROM allq"""

  // ---------------------------------------------------------------
  // 190. MinHash estimator calibration — the eval table that justifies
  // trusting the 16×4 banding: for every banding CANDIDATE pair (no
  // screen, no threshold), the 64-hash signature estimate vs the exact
  // shingle Jaccard and the absolute error. HASH-CHECKED: the FNV-1a +
  // SplitMix64 signature family, the literal band tuples as join keys,
  // and the md5-uniform sample key all replay exactly in DuckDB (r5 —
  // previously rows-only under xxhash64). The spec additionally pins
  // the binomial error bound (est ~ Binomial(64, j)/64) and that
  // banding recalls every true pair ≥ 0.7. Plan: the same bounded
  // band-bucket self-join as nearDupPairsLsh, then a deterministic
  // content-hash sample of the candidates (smallest-k md5-uniform of
  // the pair key) before the expensive exact-Jaccard re-join — the full
  // shingle arrays of BOTH docs ship per surviving pair, so the sample
  // cap (not the banding) is what bounds the audit at corpus scale.
  // 20k pairs pin the binomial error profile as tightly as any corpus-
  // sized table would; sampleCap=None (specs) keeps the exhaustive form.
  def minhashCalibration(s: SparkSession, dir: String): DataFrame =
    minhashCalibration(s, dir, sampleCap = Some(20000))

  def minhashCalibration(s: SparkSession, dir: String,
      sampleCap: Option[Int]): DataFrame = {
    import graft.functions.VectorFunctions.{minhashSigText, longMatchFrac, charShingles, jaccardSim}
    val d = docsNorm(s, dir)
    // CACHING CONTRACT (shared with #337 below and the production
    // banding path): the signature table feeds banding AND both screen
    // joins, so it persists for the query's lifetime; the cache is NOT
    // unpersisted here because the returned DataFrame is lazy — callers
    // that materialize and move on should clear it
    // (spark.catalog.clearCache() or an unpersist sweep, as Bench's
    // cold() does). At cluster scale this is the checkpointed signature
    // table of a dedup pipeline, deliberately long-lived.
    // r16 note: a (doc_id, t, sig) persist that also fed the shingle
    // joins was TRIED (the oph fix below, minus the rendezvous) and
    // showed no reproducible win at sf0.1 (subset-bench readings
    // straddled the baseline; solo/suite protocol variance dominates
    // the ±0.3 s at this size). Kept as the signature-only persist
    // deliberately: the verification side is sample-capped at 20k
    // pairs, so the saved work is one cheap fused scan+norm pass,
    // while carrying the corpus TEXT in the long-lived signature cache
    // is exactly the memory pressure a 100 TB dedup pipeline cannot
    // afford (guide §5 — cached data competes with execution memory).
    val sigs = d.withColumn("sig", minhashSigText(col("t"), 5, 64))
      .select(col("doc_id"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandsDf = sigs.select(col("doc_id"),
      explode(expr("transform(sequence(0, 15), b -> " +
        "struct(b AS band, concat_ws(',', transform(slice(sig, b*4+1, 4), " +
        "x -> CAST(x AS STRING))) AS bh))")).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))
    val candAll = bandsDf.as("a").hint("shuffle_hash")
      .join(bandsDf.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    val cand = sampleCap.fold(candAll)(k =>
      candAll
        .withColumn("__u", graft.api.Analytics.hashUniform(
          concat_ws("_", col("d1"), col("d2"))))
        .orderBy(col("__u"), col("d1"), col("d2")).limit(k).drop("__u"))
    val sh = d.select(col("doc_id"), charShingles(col("t"), 5).as("sh"))
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("est", longMatchFrac(col("sig1"), col("sig2")))
      .withColumn("tj", jaccardSim(col("sh1"), col("sh2")))
      .select(col("d1"), col("d2"), r(col("est"), 6).as("est_jaccard"),
        r(col("tj"), 6).as("true_jaccard"),
        r(abs(col("est") - col("tj")), 6).as("abs_err"))
  }

  // ---------------------------------------------------------------
  // 337. one-permutation MinHash calibration (Li, Owen & Zhang 2012;
  // Shrivastava & Li 2014 densification) — the #190 audit re-run over
  // the OPH signature, which is the 100 TB cost lever on the classic
  // one: #190's signature pays 64 SplitMix64 calls per shingle, OPH
  // pays ONE (hash once, route by the top 6 bits into one of 64
  // buckets, keep per-bucket minima, densify empty buckets by cyclic
  // rightward borrowing with a +t offset). Densified match fraction is
  // an unbiased Jaccard estimator (Shrivastava & Li) — this table
  // measures its error against exact shingle Jaccard on the SAME
  // banding-candidate protocol as #190, so the two calibrations read
  // side by side: same schema, same sample cap, ~64× less signature
  // compute. The oracle replays fnv1a64 → ONE mix64 → top-6-bit
  // bucketing → minima → the rotation densification (wrap-safe mod
  // 2⁶⁴) through the shared HUGEINT CTE chain — hash-checked.
  //
  // r15: the audit runs on the DISTINCT-TEXT rep table (the
  // nearDupPairsLsh rendezvous). Verbatim clones carry identical
  // signatures, so every clone pair estimates 1.0 against true 1.0 —
  // zero information about the estimator — while multiplying the
  // candidate stage Θ(bands·Σc²) (the r15 sf9 band measured the
  // member-level audit at 898 s / 18.4× on 3× data; Σc² dominated the
  // 20 000-pair sample with trivial rows). Rep-level candidates are
  // the informative set, and the audit cost follows distinct content,
  // not corpus size.
  def minhashOphCalibration(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{ophMinhashSig, longMatchFrac, charShingles, jaccardSim}
    // r16 (r15 verdict item 2): the rendezvous groups on the 16-byte
    // md5 digest (not the full text) and the rep table is PERSISTED
    // with its signature — the old shape re-ran the full-text groupBy
    // for each of the two shingle-verification join sides (the same
    // per-consumer re-execution nearDupPairsLsh paid), which is where
    // the r15 regression (2.17 → 4.96 s driver) lived.
    val d = docsNorm(s, dir).withColumn("h", md5(col("t")))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"), max(col("t")).as("t"))
      .select(col("doc_id"), col("t"))
      .withColumn("sig", ophMinhashSig(charShingles(col("t"), 5)))
      // caching contract: see #190 above (lazy result ⇒ caller clears)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = d.select(col("doc_id"), col("sig"))
    val bandsDf = sigs.select(col("doc_id"),
      explode(expr("transform(sequence(0, 15), b -> " +
        "struct(b AS band, concat_ws(',', transform(slice(sig, b*4+1, 4), " +
        "x -> CAST(x AS STRING))) AS bh))")).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))
    val candAll = bandsDf.as("a").hint("shuffle_hash")
      .join(bandsDf.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    val cand = candAll
      .withColumn("__u", graft.api.Analytics.hashUniform(
        concat_ws("_", col("d1"), col("d2"))))
      .orderBy(col("__u"), col("d1"), col("d2")).limit(20000).drop("__u")
    val sh = d.select(col("doc_id"), charShingles(col("t"), 5).as("sh"))
    cand
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("est", longMatchFrac(col("sig1"), col("sig2")))
      .withColumn("tj", jaccardSim(col("sh1"), col("sh2")))
      .select(col("d1"), col("d2"), r(col("est"), 6).as("est_jaccard"),
        r(col("tj"), 6).as("true_jaccard"),
        r(abs(col("est") - col("tj")), 6).as("abs_err"))
  }

  // ---------------------------------------------------------------
  // 165. dedup cluster-size distribution — the audit table every dedup
  // run reports (how much of the corpus is duplicated, and in what
  // cluster sizes): docs in no near-dup pair count as size-1 clusters.
  // Fed from the LSH components path (the production feed; identical
  // output to the exact path — LSH candidates verify exact Jaccard, so
  // the same pairs survive), oracled by the exact recursive-CTE
  // components. All-integer output → hash-exact compare.
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponentsLsh(s, dir)
      .select(col("vertex").as("doc_id"), col("component"))
    val sizes = Tables.documents(s, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))
  }

  // ---------------------------------------------------------------
  // 64. training-set decontamination: drop/flag train docs sharing ≥5
  // distinct 20-char shingles with the eval set (source 'src0' plays
  // the benchmark corpus). Eval shingles broadcast; train side is one
  // narrow scan — no pair join (graft.api.Similarity.decontaminate).
  def decontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminate(Tables.documents(s, dir))

  /** #64 over an already-read `documents` frame. */
  def decontaminate(docs: DataFrame): DataFrame =
    graft.api.Similarity.decontaminate(
      docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
      docs.filter(col("source") === "src0"), col("text"),
      shingle = 20, minShared = 5)

  // ---------------------------------------------------------------
  // 270. leakage-by-source rollup — the per-source read on #64's
  // decontamination flags (which SOURCES are contaminated against the
  // held-out set tells you where to cut, not just which docs):
  // contaminated-doc counts and rate per source, plus the flagged
  // docs' mean shared-shingle count. Pure aggregation over the #64
  // output joined back to the source column.
  def leakageBySource(s: SparkSession, dir: String): DataFrame = {
    val flags = decontaminate(s, dir)
      .select(col("doc_id"), col("contaminated"), col("n_shared"))
    Tables.documents(s, dir).filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"))
      .join(flags, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_leaked"),
        r(sum(when(col("contaminated"), 1L).otherwise(0L))
          / count(lit(1)).cast("double"), 6).as("leak_rate"),
        r(avg(when(col("contaminated"), col("n_shared"))), 4).as("mean_shared"))
  }

  // ---------------------------------------------------------------
  // 271. dedup savings by source — the budget sheet dedup hands the
  // data-mix planner: per source, docs and whitespace tokens REMOVED
  // by exact dedup (non-keeper members of #32's groups) and the
  // retention rate. Token counts ride the removed docs only; one
  // group join + one bounded-key rollup.
  def dedupSavings(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).cast("long").as("nt"),
      md5(graft.api.Similarity.normalizeText(col("text"))).as("norm_hash"))
    val keep = dedupExact(s, dir).select(col("norm_hash"), col("keep_id"))
    docs.join(keep, "norm_hash")
      .withColumn("removed", col("doc_id") =!= col("keep_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(col("nt")).as("n_tokens"),
        sum(when(col("removed"), col("nt")).otherwise(0L)).as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        col("n_tokens"), col("tokens_removed"),
        r(lit(1.0) - col("n_removed") / col("n_docs").cast("double"), 6)
          .as("doc_retention"),
        r(lit(1.0) - col("tokens_removed") / col("n_tokens").cast("double"), 6)
          .as("token_retention"))
  }

  private val dedupSavingsSql =
    s"""WITH d AS MATERIALIZED (
         SELECT doc_id, source,
                CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nt,
                md5($normSql) AS norm_hash
         FROM documents),
       keep AS (
         SELECT norm_hash, min(doc_id) AS keep_id
         FROM d GROUP BY 1)
       SELECT d.source, count(*) AS n_docs,
              CAST(sum(CASE WHEN d.doc_id != k.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
              CAST(sum(d.nt) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN d.doc_id != k.keep_id THEN d.nt ELSE 0 END) AS BIGINT) AS tokens_removed,
              round(1.0 - sum(CASE WHEN d.doc_id != k.keep_id THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 6) AS doc_retention,
              round(1.0 - sum(CASE WHEN d.doc_id != k.keep_id THEN d.nt ELSE 0 END)
                    / CAST(sum(d.nt) AS DOUBLE), 6) AS token_retention
       FROM d JOIN keep k USING (norm_hash)
       GROUP BY 1"""

  // ---------------------------------------------------------------
  // Blocked fuzzy match (entity-resolution building block): the match
  // predicate depends only on the VALUE triple (brand, type, name), so
  // all edit-distance work runs on the distinct-value rendezvous frame
  // and record pairs are a pure expansion join at the end. The r9 sf1
  // scaling audit motivated this shape: the record-level blocked
  // self-join paid one banded DP per candidate RECORD pair — Σc² =
  // 2.69M DPs at sf0.1 → 269M at sf1 (blocks are fixed in number, so
  // block size ∝ n and candidates ∝ n²) — while the distinct frame is
  // vocabulary-bounded (64 names × 150 blocks), making DP work O(v²)
  // per block INDEPENDENT of corpus size. The expansion join's output
  // is the query's own result set (inherently quadratic in same-name
  // group sizes — that's what "list every near-dup pair" means); the
  // scalable consumers (#240 golden_record) never expand at all. At
  // corpus scale with a high-cardinality vocabulary, the documented
  // escalation inside the rendezvous is PassJoin segment blocking
  // (Li et al., PVLDB 2011) — see Similarity.passJoinPairs.

  /** Distinct (brand, type, name) value nodes with record count, min
    * record id (the stable node id — also the min record id of the
    * node's clique, which keeps cluster labels oracle-exact), and the
    * price envelope — everything #89/#240 need, one groupBy over part. */
  private def nameValueNodes(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .groupBy(col("p_brand"), col("p_type"), col("p_name"))
      .agg(count(lit(1)).as("nv"), min(col("p_partkey")).as("vid"),
        min(col("p_retailprice")).as("pmin"), max(col("p_retailprice")).as("pmax"))

  /** Value-level fuzzy edges within a block, name_a <= name_b (equality
    * = the same-name clique edge, dist 0). Both sides of the self-join
    * are the same bounded distinct frame → broadcastable; only distinct
    * VALUE pairs pay the banded DP (exact ≤ 2, early-exit above). */
  private def nameValueEdges(v: DataFrame): DataFrame =
    v.as("a").join(broadcast(v.as("b")),
        col("a.p_brand") === col("b.p_brand") &&
          col("a.p_type") === col("b.p_type") &&
          col("a.p_name") <= col("b.p_name"))
      .select(col("a.p_brand").as("brand"), col("a.p_type").as("ptype"),
        col("a.p_name").as("na"), col("b.p_name").as("nb"),
        col("a.vid").as("vida"), col("b.vid").as("vidb"),
        graft.functions.BoundedLevenshtein.column(
          col("a.p_name"), col("b.p_name"), 2).as("dist"))
      .filter(col("dist") <= 2)

  def fuzzyBlockedJoin(s: SparkSession, dir: String): DataFrame = {
    val recs = Tables.part(s, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
    val vp = nameValueEdges(nameValueNodes(s, dir)).localCheckpoint()
    // expansion: every record of na × every record of nb in the block.
    // Same-name value pairs would emit each unordered record pair twice,
    // so those keep only ra < rb; cross-name pairs are already unique
    // per unordered record pair and just get orientation-normalized.
    recs.as("ra").join(broadcast(vp),
        col("ra.p_brand") === col("brand") && col("ra.p_type") === col("ptype") &&
          col("ra.p_name") === col("na"))
      .join(recs.as("rb"),
        col("rb.p_brand") === col("brand") && col("rb.p_type") === col("ptype") &&
          col("rb.p_name") === col("nb"))
      .filter(col("na") < col("nb") || col("ra.p_partkey") < col("rb.p_partkey"))
      .select(least(col("ra.p_partkey"), col("rb.p_partkey")).as("id1"),
        greatest(col("ra.p_partkey"), col("rb.p_partkey")).as("id2"),
        col("dist"))
  }

  // ---------------------------------------------------------------
  // 306. PassJoin edit-distance near-dup pairs over document title
  // prefixes (Li et al., PVLDB 2011) — the HIGH-CARDINALITY fuzzy join
  // #89's rendezvous can't bound: when the matched attribute has ~n
  // distinct values (here the 32-char document prefix — a title/URL
  // analog), distinct-value dedup buys nothing and segment blocking is
  // the exact, linear-candidate scheme: tau+1 segments per string,
  // pigeonhole guarantees near pairs share one segment content at a
  // ±tau shift, the equi-join on (block, length, segment, content)
  // shuffles bounded keys — never block² pairs, never a corpus
  // broadcast. Verification is the same banded DP as #89.
  def fuzzyPassjoin(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, 32).as("prefix"))
    graft.api.Similarity.passJoinPairs(
      d, col("doc_id"), col("prefix"), Seq("lang"), tau = 2)
  }

  // ---------------------------------------------------------------
  // 312. Jaro-Winkler fuzzy name pairs — the TYPO-class matcher next
  // to the edit-distance family (#89/#306 count operations; JW weights
  // agreement by position, the record-linkage standard since the
  // Census Bureau original). Blocked distinct-value rendezvous (the
  // #89/#240 convention): distinct (brand, type, name) triples (8.4k
  // at sf0.1 vs 20k part rows), within-block name pairs scored by the
  // native JaroWinklerSim expression. DuckDB computes
  // jaro_winkler_similarity NATIVELY, so the oracle independently
  // reimplements the entire kernel — window, transposition floor,
  // 0.7 boost threshold, empty-string convention are all pinned
  // bit-for-bit by the hash compare (constants probed from DuckDB,
  // documented at the expression). Blocks are catalog-bounded (≤62
  // names/block at sf0.1); at catalog scale add a length canopy to
  // the block key — JW ≥ 0.9 needs ~agreeing lengths.
  def jaroWinklerPairs(s: SparkSession, dir: String): DataFrame = {
    val nv = Tables.part(s, dir)
      .select(col("p_brand").as("brand"), col("p_type").as("ptype"),
        col("p_name").as("name"))
      .distinct()
    nv.as("a").join(nv.as("b"),
        col("a.brand") === col("b.brand") && col("a.ptype") === col("b.ptype") &&
          col("a.name") < col("b.name"))
      .withColumn("jw", graft.functions.VectorFunctions
        .jaroWinklerSim(col("a.name"), col("b.name")))
      .filter(col("jw") >= 0.9)
      .select(col("a.brand").as("brand"), col("a.ptype").as("ptype"),
        col("a.name").as("name1"), col("b.name").as("name2"),
        r(col("jw"), 6).as("jw_sim"))
  }

  // ---------------------------------------------------------------
  // 240. golden-record construction — the MDM/entity-resolution
  // capstone over #89's blocked fuzzy matches — computed ENTIRELY at
  // the value level (r9 sf1 audit): records sharing (brand, type, name)
  // are a clique in the record-level pair graph, so the record graph's
  // components are the expansion of the VALUE graph's components, and
  // every output column aggregates from per-value partials (Σ counts,
  // min/max envelopes, mode name). The fact table is touched by ONE
  // groupBy; the component machinery runs on the vocabulary-bounded
  // value graph; the quadratic pair expansion (#89's output) never
  // happens. Cluster labels stay oracle-exact: a value node's id is its
  // min record id, and every record of a participating node is a vertex
  // of the record graph (same-name cliques for nv ≥ 2, cross-name edges
  // otherwise), so min-vid-over-component = min-record-id-over-component.
  // Singleton entities are suppressed (this is the merge-review table).
  def goldenRecord(s: SparkSession, dir: String): DataFrame = {
    val v = nameValueNodes(s, dir)
    val ve = nameValueEdges(v).localCheckpoint()
    val cross = ve.filter(col("na") < col("nb"))
      .select(col("vida"), col("vidb"))
    val comp = graft.api.Similarity.connectedComponents(cross, col("vida"), col("vidb"))
    // participating nodes: internal clique (nv >= 2) or >= 1 cross-name
    // edge; isolated nv-1 nodes are the oracle's n_members=1 singletons,
    // filtered there by n_members >= 2 and never materialized here
    val hasEdge = cross.select(col("vida").as("vid"))
      .unionAll(cross.select(col("vidb").as("vid"))).distinct()
    val withC = v.join(comp.select(col("vertex").as("vid"), col("component")),
        Seq("vid"), "left")
      .join(hasEdge.withColumn("he", lit(true)), Seq("vid"), "left")
      .filter(col("nv") >= 2 || col("he"))
      .withColumn("cluster", coalesce(col("component"), col("vid")))
    // components never span blocks (edges are within (brand, type)), so
    // names are unique per cluster and the mode name's count is its
    // node's nv — the canonical pick is a bounded per-cluster argmin
    val canon = withC
      .select(col("cluster"),
        struct((-col("nv")).as("nc"), col("p_name").as("nm")).as("sc"))
      .groupBy(col("cluster")).agg(min(col("sc")).as("m"))
      .select(col("cluster"), col("m.nm").as("canonical_name"))
    withC.groupBy(col("cluster"))
      .agg(sum(col("nv")).as("n_members"),
        r(min(col("pmin")), 4).as("min_price"),
        r(max(col("pmax")), 4).as("max_price"))
      .filter(col("n_members") >= 2)
      .join(canon, "cluster")
      .select(col("cluster").as("cluster_id"), col("n_members"),
        col("canonical_name"), col("min_price"), col("max_price"))
  }

  private val goldenRecordSql =
    """WITH RECURSIVE fp AS (
         SELECT a.p_partkey AS id1, b.p_partkey AS id2
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_type = b.p_type
          AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 2),
       gedges AS (SELECT id1 AS a, id2 AS b FROM fp
                  UNION SELECT id2, id1 FROM fp),
       greach AS (
         SELECT a, b FROM gedges
         UNION
         SELECT r.a, e.b FROM greach r JOIN gedges e ON r.b = e.a),
       gverts AS (SELECT DISTINCT a AS vertex FROM gedges),
       gcomp AS (
         SELECT v.vertex, least(v.vertex, min(r.b)) AS component
         FROM gverts v LEFT JOIN greach r ON v.vertex = r.a
         GROUP BY 1),
       wc AS MATERIALIZED (
         SELECT p.p_partkey, p.p_name, p.p_retailprice,
                coalesce(c.component, p.p_partkey) AS cluster
         FROM part p LEFT JOIN gcomp c ON p.p_partkey = c.vertex),
       nc AS (SELECT cluster, p_name, count(*) AS c FROM wc GROUP BY 1, 2),
       canon AS (
         SELECT cluster, p_name AS canonical_name FROM (
           SELECT cluster, p_name,
                  row_number() OVER (PARTITION BY cluster
                    ORDER BY c DESC, p_name ASC) AS rk
           FROM nc) WHERE rk = 1),
       agg AS (
         SELECT cluster, count(*) AS n_members,
                round(min(p_retailprice), 4) AS min_price,
                round(max(p_retailprice), 4) AS max_price
         FROM wc GROUP BY 1)
       SELECT a.cluster AS cluster_id, a.n_members, c.canonical_name,
              a.min_price, a.max_price
       FROM agg a JOIN canon c USING (cluster)
       WHERE a.n_members >= 2"""

  // ---------------------------------------------------------------
  // 113. cross-source contamination matrix: for every source pair, how
  // many distinct 20-char shingles they share — the corpus-level audit
  // behind per-doc decontamination (#64). Distinct (source, shingle)
  // pairs self-join on the shingle; the join fan-out is Σ df² over
  // shingles with df = #sources sharing it, bounded by the SOURCE count
  // (a handful), never the doc count. Shingles travel as xxhash64
  // longs (CharShingleHashes, the decontaminate trick): the oracle
  // counts string shingles, and hash counts equal string counts unless
  // xxhash64 collides on this corpus (≈ |shingles|²/2⁶⁵ < 1e-7 at the
  // correctness SF — far below the LSH oracle's own banding-miss
  // bound). Longs on the wire cut the distinct+join shuffle ~4× vs
  // 20-char strings (4.5s → ~1.6s at sf0.1).
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // source-set-as-bitmask formulation: with ≤ 64 sources (corpus
    // source lists are small by definition — the guard falls back to
    // the self-join form otherwise), each shingle's source set is one
    // LONG built by a bit_or aggregate over the RAW explode (bit_or is
    // idempotent, so no distinct pass), and every pairwise intersection
    // + per-source size reads off the TINY distinct-mask histogram.
    // ONE wide shuffle total (partial bit_or collapses per-partition
    // duplicates) and no Σ df² join fan-out at any scale. Locally this
    // is shuffle-bound either way (3.6 → 3.4s at sf0.1 — the 8M
    // distinct-shingle exchange is the floor), but at corpus scale the
    // self-join's Σ df² term over popular shingles grows quadratically
    // in source count while the bitmask stays linear in shingles. (The
    // collect_set formulation remains 2× worse than even the join.)
    val srcs = Tables.documents(s, dir).select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted // |sources| rows — driver-bounded
    if (srcs.length > 60) return sourceOverlapJoin(s, dir)
    val idxDf = broadcast(srcs.toSeq.zipWithIndex.toDF("source", "sidx"))
    val maskCounts = Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.functions.VectorFunctions.charShingleHashes(norm(col("text")), 20)).as("g"))
      .join(idxDf, "source")
      .groupBy(col("g")).agg(expr("bit_or(shiftleft(1L, sidx))").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    val pairsDf = broadcast((for {
      i <- srcs.indices; j <- srcs.indices if i < j
    } yield (srcs(i), srcs(j), i, j)).toDF("s1", "s2", "i", "j"))
    val sizes = maskCounts.join(idxDf,
        expr("((mask >> sidx) & 1) = 1"))
      .groupBy(col("source")).agg(sum(col("cnt")).as("n"))
    maskCounts.join(pairsDf,
        expr("((mask >> i) & 1) = 1 AND ((mask >> j) & 1) = 1"))
      .groupBy(col("s1"), col("s2")).agg(sum(col("cnt")).as("shared"))
      .join(broadcast(sizes).as("z1"), col("s1") === col("z1.source"))
      .join(broadcast(sizes).as("z2"), col("s2") === col("z2.source"))
      .select(col("s1"), col("s2"), col("shared"),
        col("z1.n").as("n1"), col("z2.n").as("n2"),
        r(col("shared").cast("double") /
          (col("z1.n") + col("z2.n") - col("shared")), 6).as("jaccard"))
  }

  /** The >64-source fallback: the original shingle-bucket self-join
    * (bounded by Σ df² over sources sharing a shingle). */
  private def sourceOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.functions.VectorFunctions.charShingleHashes(norm(col("text")), 20)).as("g"))
      .distinct()
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.as("a").hint("shuffle_hash").join(sh.as("b").hint("shuffle_hash"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(sizes).as("z1"), col("s1") === col("z1.source"))
      .join(broadcast(sizes).as("z2"), col("s2") === col("z2.source"))
      .select(col("s1"), col("s2"), col("shared"),
        col("z1.n").as("n1"), col("z2.n").as("n2"),
        r(col("shared").cast("double") /
          (col("z1.n") + col("z2.n") - col("shared")), 6).as("jaccard"))
  }

  private val sourceOverlapSql =
    s"""WITH nrm AS (SELECT source, $normSql AS t FROM documents),
        sh AS (SELECT DISTINCT source, substr(t, CAST(i AS INT), 20) AS g
               FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)),
        sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.source AS s1, b.source AS s2, count(*) AS shared
                  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
                  GROUP BY 1, 2)
        SELECT s1, s2, shared, z1.n AS n1, z2.n AS n2,
               round(CAST(shared AS DOUBLE)/(z1.n + z2.n - shared), 6) AS jaccard
        FROM inter
        JOIN sizes z1 ON s1 = z1.source
        JOIN sizes z2 ON s2 = z2.source"""

  // ---------------------------------------------------------------
  // 355. Dedup-threshold sensitivity sweep (r14 verdict item 7): the
  // table a production dedup run reads BEFORE fixing its Jaccard
  // threshold — off ONE banding build (the #34 production path at its
  // widest gate, t = 0.5), re-read at J ∈ {0.5 … 0.9}: surviving pair
  // count, distinct docs flagged, mean verified Jaccard, and the
  // analytic 16×4 banding capture probability 1−(1−t⁴)¹⁶ at each t
  // (the #290 S-curve protocol — the capture column says how much of
  // the marginal J-band the ONE build can even see; precomputed in
  // Scala and emitted as the same literal to both engines, so no
  // cross-engine pow()). Scale shape: one signature build + one
  // banding shuffle total; the five thresholds are re-aggregations of
  // the checkpointed verified pair list (output-bounded by the #34
  // pair-list contract — sweep consumers read COUNTS, never the list).
  // Oracle = the exact inverted-index pair set (the dedup_minhash_lsh
  // precedent: on this corpus every J ≥ 0.5 pair sits above the
  // banding knee, so LSH capture is exact — the gate would fail
  // loudly, not silently, on a corpus where banding recall bites).
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.api.Similarity.nearDupPairsLsh(Tables.documents(s, dir),
        col("doc_id"), col("text"), threshold = 0.5)
    // r15 optimization (guide §2.4): the five thresholds re-aggregate
    // the ONE checkpointed pair list in two grouped passes (pair stats,
    // distinct-doc counts) instead of 5×(2 aggregations + crossJoin) —
    // 15 scalar-agg jobs collapse to 2 grouped exchanges + a 5-row
    // left join. Identical aggregates per threshold: the (pair, t)
    // explode filters exactly the rows the per-t filter kept, and the
    // 5-row scaffold restores empty thresholds (n_pairs = 0, mean 0.0).
    val thArr = array(SweepThresholds.map(t => struct(
      lit(t).as("threshold"), lit(capture16x4(t)).as("p_capture"))): _*)
    val pt = pairs.withColumn("th", explode(thArr))
      .filter(col("jaccard") >= col("th.threshold"))
      .localCheckpoint() // feeds both grouped passes
    val np = pt.groupBy(col("th")).agg(count(lit(1)).as("n_pairs"),
      r(avg(col("jaccard")), 6).as("mj"))
    val nd = pt.select(col("th"), explode(array(col("d1"), col("d2"))).as("d"))
      .groupBy(col("th")).agg(countDistinct(col("d")).as("n_dup_docs"))
    s.range(1).select(explode(thArr).as("th"))
      .join(np, Seq("th"), "left")
      .join(nd, Seq("th"), "left")
      .select(col("th.threshold").as("threshold"),
        col("th.p_capture").as("p_capture"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"),
        coalesce(col("mj"), lit(0.0)).as("mean_jaccard"))
  }

  private val SweepThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** P(≥1 of 16 bands collides | J = t) with 4 rows/band — the S-curve
    * the one banding build was sized by. */
  private[graft] def capture16x4(t: Double): Double =
    BigDecimal(1.0 - math.pow(1.0 - math.pow(t, 4), 16))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val dedupThresholdSweepSql: String = {
    val rows = SweepThresholds.map { t =>
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
                 CAST(${capture16x4(t)} AS DOUBLE) AS p_capture,
                 (SELECT count(*) FROM jp WHERE jac >= $t) AS n_pairs,
                 (SELECT count(DISTINCT d) FROM
                    (SELECT unnest([d1, d2]) AS d FROM jp WHERE jac >= $t)) AS n_dup_docs,
                 coalesce((SELECT round(avg(jac), 6) FROM jp WHERE jac >= $t), 0.0) AS mean_jaccard"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH nrm AS (SELECT doc_id, $normSql AS t FROM documents),
       sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
              FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                 FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       jp AS MATERIALIZED (
         SELECT d1, d2, CAST(i AS DOUBLE)/(s1.n + s2.n - i) AS jac
         FROM inter JOIN sizes s1 ON d1 = s1.doc_id
         JOIN sizes s2 ON d2 = s2.doc_id
         WHERE CAST(i AS DOUBLE)/(s1.n + s2.n - i) >= 0.5)
       $rows"""
  }

  private val componentsPrefixSql =
    s"""WITH RECURSIVE nrm AS (SELECT doc_id, $normSql AS t FROM documents),
        sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
               FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        pairs AS (
          SELECT d1, d2 FROM inter
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(i AS DOUBLE)/(s1.n + s2.n - i) >= 0.7),
        edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION SELECT d2, d1 FROM pairs),
        reach AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        verts AS (SELECT DISTINCT a AS vertex FROM edges)"""

  private val componentsSql =
    s"""$componentsPrefixSql
        SELECT v.vertex,
               least(v.vertex, min(r.b)) AS component,
               least(v.vertex, min(r.b)) = v.vertex AS keep
        FROM verts v LEFT JOIN reach r ON v.vertex = r.a
        GROUP BY v.vertex"""

  private val clusterSizesSql =
    s"""$componentsPrefixSql,
        comp AS (
          SELECT v.vertex, least(v.vertex, min(r.b)) AS component
          FROM verts v LEFT JOIN reach r ON v.vertex = r.a
          GROUP BY v.vertex),
        withall AS (
          SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.vertex),
        szs AS (SELECT component, count(*) AS cluster_size FROM withall GROUP BY 1)
        SELECT cluster_size, count(*) AS n_clusters,
               cluster_size * count(*) AS n_docs
        FROM szs GROUP BY 1"""

  // ---------------------------------------------------------------
  // 215-216. Winnowing fingerprints (Schleimer et al. 2003, the MOSS
  // detector): per position, the FNV-1a hash of the 5-gram starting
  // there; each w=4 window contributes its minimum hash; the DISTINCT
  // selected minima are the document's fingerprints. The winnowing
  // guarantee — every shared run ≥ w+n−1 chars yields a shared
  // fingerprint — makes this the position-robust middle ground between
  // exact-hash dedup and MinHash. All-integer local-min windows, so
  // both queries are hash-checked oracles. Scale: one per-doc window
  // pass (docs partition freely), fingerprint df is capped at 50
  // before the pair join (the MOSS stop-fingerprint rule) — the join
  // is Σ df²-bounded by construction.
  private val WinnowW = 4

  // r16 (guide §2.4 — remove the corpus-wide sort outright): the w=4
  // rolling minima and the winnowing selection are PER-DOC array math
  // over the positional hash array, so the 25M-row posexplode → per-doc
  // window sort → distinct exchange → per-doc n_pos regroup all
  // collapse into one narrow projection: fps(doc) =
  // array_distinct(min over each complete window), with the short-doc
  // rule (< w positions ⇒ the single whole-array min — identical to
  // the old pos = n_pos−1 window row, whose frame held every position).
  // winnow_fingerprints becomes a zero-exchange scan; winnow_dup_pairs
  // persists the small per-doc array frame and derives n_fp per row.
  private def winnowFpArrays(s: SparkSession, dir: String): DataFrame =
    docsNorm(s, dir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.charShingleFnvHashes(col("t"), 5).as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_pos"),
        expr(s"""array_distinct(CASE WHEN size(hs) < $WinnowW
          |  THEN array(array_min(hs))
          |  ELSE transform(sequence($WinnowW, size(hs)),
          |         p -> array_min(slice(hs, p - ${WinnowW - 1}, $WinnowW)))
          |END)""".stripMargin).as("fps"))

  def winnowFingerprints(s: SparkSession, dir: String): DataFrame =
    winnowFpArrays(s, dir)
      .select(col("doc_id"), col("n_pos"),
        size(col("fps")).cast("long").as("n_fp"))
      .select(col("doc_id"), col("n_pos"), col("n_fp"),
        r(col("n_fp") / col("n_pos"), 6).as("density"))

  def winnowDupPairs(s: SparkSession, dir: String): DataFrame = {
    val arrs = winnowFpArrays(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sel = arrs.select(col("doc_id"), explode(col("fps")).as("fp"))
    val dfc = sel.groupBy(col("fp")).agg(count(lit(1)).as("dfc"))
    val keep = sel.join(dfc.hint("shuffle_hash"), "fp")
      .filter(col("dfc").between(2, 50))
      .select(col("doc_id"), col("fp"))
    val nf = arrs.select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"))
    keep.as("a").hint("shuffle_hash")
      .join(keep.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)
      .join(nf.select(col("doc_id").as("d1"), col("n_fp").as("nf1")), "d1")
      .join(nf.select(col("doc_id").as("d2"), col("n_fp").as("nf2")), "d2")
      .select(col("d1"), col("d2"), col("n_shared"),
        r(col("n_shared") / least(col("nf1"), col("nf2")), 6).as("overlap"))
  }

  /** UTF-8 byte list of a shingle `g` as HUGEINTs — the DuckDB twin of
    * the engine's `fnv1a64` byte fold (MinHashSigText folds UTF-8
    * BYTES; DuckDB's ascii() yields code POINTS, so each point expands
    * to its UTF-8 encoding here — byte-exact for non-ASCII text, not
    * just the current ASCII corpus). */
  private val utf8BytesSql =
    """flatten(list_transform(string_split(g, ''), c ->
         CASE WHEN ascii(c) < 128 THEN [ascii(c)::HUGEINT]
              WHEN ascii(c) < 2048 THEN [
                (192 + ascii(c) // 64)::HUGEINT,
                (128 + ascii(c) % 64)::HUGEINT]
              WHEN ascii(c) < 65536 THEN [
                (224 + ascii(c) // 4096)::HUGEINT,
                (128 + (ascii(c) // 64) % 64)::HUGEINT,
                (128 + ascii(c) % 64)::HUGEINT]
              ELSE [
                (240 + ascii(c) // 262144)::HUGEINT,
                (128 + (ascii(c) // 4096) % 64)::HUGEINT,
                (128 + (ascii(c) // 64) % 64)::HUGEINT,
                (128 + ascii(c) % 64)::HUGEINT]
         END))"""

  /** Winnowing CTE prefix shared by both oracles: per-position FNV
    * hashes (distinct shingles hashed once), w=4 window minima,
    * complete-window + short-doc selection. */
  private val winnowPrefixSql =
    s"""nrm AS (SELECT doc_id, $normSql AS t FROM documents),
       posh AS MATERIALIZED (
         SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, substr(t, CAST(i AS INT), 5) AS g
         FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
       wgh AS MATERIALIZED (
         SELECT g, list_reduce(
           list_prepend(14695981039346656037::HUGEINT,
             $utf8BytesSql),
           (acc, b) -> (((acc // 256) * 256 + xor((acc % 256)::BIGINT, b::BIGINT)::HUGEINT)
                        * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS x
         FROM (SELECT DISTINCT g FROM posh)),
       wghs AS (
         SELECT g, CASE WHEN x < 9223372036854775808::HUGEINT THEN x::BIGINT
                        ELSE (x - 18446744073709551616::HUGEINT)::BIGINT END AS h
         FROM wgh),
       wph AS MATERIALIZED (
         SELECT p.doc_id, p.pos, s.h FROM posh p JOIN wghs s USING (g)),
       wnp AS (SELECT doc_id, count(*) AS n_pos FROM wph GROUP BY 1),
       wwm AS (
         SELECT doc_id, pos,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wmin
         FROM wph),
       wsel AS MATERIALIZED (
         SELECT DISTINCT w.doc_id, n.n_pos, w.wmin AS fp
         FROM wwm w JOIN wnp n USING (doc_id)
         WHERE w.pos >= ${WinnowW - 1}
            OR (n.n_pos < ${WinnowW} AND w.pos = n.n_pos - 1))"""

  private val winnowFingerprintsSql =
    s"""WITH $winnowPrefixSql
       SELECT doc_id, n_pos, count(*) AS n_fp,
              round(count(*) / n_pos, 6) AS density
       FROM wsel GROUP BY 1, 2"""

  private val winnowDupPairsSql =
    s"""WITH $winnowPrefixSql,
       wdf AS (SELECT fp, count(*) AS dfc FROM wsel GROUP BY 1),
       wkeep AS (SELECT s.doc_id, s.fp FROM wsel s JOIN wdf USING (fp)
                 WHERE dfc BETWEEN 2 AND 50),
       wnf AS (SELECT doc_id, count(*) AS n_fp FROM wsel GROUP BY 1),
       wpairs AS (
         SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
         FROM wkeep a JOIN wkeep b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT p.d1, p.d2, p.n_shared,
              round(p.n_shared / least(n1.n_fp, n2.n_fp), 6) AS overlap
       FROM wpairs p
       JOIN wnf n1 ON p.d1 = n1.doc_id
       JOIN wnf n2 ON p.d2 = n2.doc_id
       WHERE p.n_shared >= 5"""

  /** Exact SQL replay of minhash_calibration: FNV-1a 64 per DISTINCT
    * shingle (the dedup_simhash byte fold), then the per-slot
    * SplitMix64 STREAM — slot j's seed is (h1 + j·GAMMA) mod 2⁶⁴ fed
    * through the shared mix64 HUGEINT CTE chain (the r6 family: a
    * per-slot finalizer, because the r5 Kirsch–Mitzenmacher linear
    * walk left consecutive slots correlated and blew the banding
    * candidate volume ~300×) — signed-BIGINT mins per hash index,
    * literal band tuples as join keys, md5-uniform sample cap, and the
    * same est/true-Jaccard algebra. */
  // ---------------------------------------------------------------
  // 290. MinHash banding sweep — the S-curve tuning table for the
  // banding lever, completing the sweep trio (IVF nprobe #261, LSH
  // planes #289): with the 64-slot signature fixed, band counts
  // b ∈ {4, 8, 16, 32} (r = 64/b rows per band) trade candidate
  // volume against recall of the TRUE Jaccard-≥0.7 pair set (the
  // collision curve 1−(1−s^r)^b made empirical). Truth is the exact
  // inverted-index pair set (#33's oracle path — this is an offline
  // calibration audit, Bench-skipped like its feed); candidates per
  // config are the production banding join. All counts integer; the
  // two rates divide once at the end.
  def minhashBandsSweep(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.minhashSigText
    val sigs = docsNorm(s, dir)
      .withColumn("sig", minhashSigText(col("t"), 5, 64))
      .select(col("doc_id"), col("sig"))
      .localCheckpoint() // shared by all four band configs
    val truth = dedupNgramJaccard(s, dir).select(col("d1"), col("d2"))
      .localCheckpoint()
    Seq(4, 8, 16, 32).map { b =>
      val rpb = 64 / b
      val bandsDf = sigs.select(col("doc_id"),
        explode(expr(s"transform(sequence(0, ${b - 1}), bb -> " +
          s"struct(bb AS band, concat_ws(',', transform(slice(sig, bb*$rpb+1, $rpb), " +
          "x -> CAST(x AS STRING))) AS bh))")).as("e"))
        .select(col("doc_id"), col("e.band"), col("e.bh"))
      val cand = bandsDf.as("a").hint("shuffle_hash")
        .join(bandsDf.as("b").hint("shuffle_hash"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .dropDuplicates("d1", "d2")
        .localCheckpoint() // counted twice (volume + hits)
      val nc = cand.agg(count(lit(1)).as("n_cand"))
      val nh = cand.join(truth, Seq("d1", "d2")).agg(count(lit(1)).as("n_hit"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      nc.crossJoin(nh).crossJoin(nt)
        .select(lit(b.toLong).as("bands"), lit(rpb.toLong).as("rows_per_band"),
          col("n_cand"), col("n_truth"), col("n_hit"),
          when(col("n_truth") > 0,
            round(col("n_hit") / col("n_truth").cast("double"), 6))
            .otherwise(lit(0.0)).as("recall"),
          when(col("n_cand") > 0,
            round(col("n_hit") / col("n_cand").cast("double"), 6))
            .otherwise(lit(0.0)).as("precision"))
    }.reduce(_ unionByName _)
  }

  private lazy val minhashBandsSweepSql: String = {
    val perB = Seq(4, 8, 16, 32).map { b =>
      val rpb = 64 / b
      s"""bx$b AS (
         SELECT doc_id, t.b,
                array_to_string(list_transform(generate_series(t.b*$rpb+1, t.b*$rpb+$rpb),
                  i -> sig[i]::VARCHAR), ',') AS bh
         FROM msig, LATERAL (SELECT unnest(generate_series(0, ${b - 1})) AS b) t),
       cd$b AS MATERIALIZED (
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM bx$b a JOIN bx$b b
           ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)"""
    }.mkString(",\n       ")
    val rows = Seq(4, 8, 16, 32).map { b =>
      val rpb = 64 / b
      s"""SELECT CAST($b AS BIGINT) AS bands, CAST($rpb AS BIGINT) AS rows_per_band,
                 (SELECT count(*) FROM cd$b) AS n_cand,
                 (SELECT count(*) FROM mtruth) AS n_truth,
                 (SELECT count(*) FROM cd$b c JOIN mtruth t USING (d1, d2)) AS n_hit,
                 CASE WHEN (SELECT count(*) FROM mtruth) > 0
                      THEN round((SELECT count(*) FROM cd$b c JOIN mtruth t USING (d1, d2))
                                 / CAST((SELECT count(*) FROM mtruth) AS DOUBLE), 6)
                      ELSE 0.0 END AS recall,
                 CASE WHEN (SELECT count(*) FROM cd$b) > 0
                      THEN round((SELECT count(*) FROM cd$b c JOIN mtruth t USING (d1, d2))
                                 / CAST((SELECT count(*) FROM cd$b) AS DOUBLE), 6)
                      ELSE 0.0 END AS precision"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH $msigPrefixSql,
       msizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       minter AS MATERIALIZED (
         SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
         FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       mtruth AS MATERIALIZED (
         SELECT d1, d2 FROM minter v
         JOIN msizes s1 ON v.d1 = s1.doc_id
         JOIN msizes s2 ON v.d2 = s2.doc_id
         WHERE CAST(v.i AS DOUBLE) / (s1.n + s2.n - v.i) >= 0.7),
       $perB
       $rows"""
  }

  /** Shared oracle prefix: normalized docs -> DISTINCT 5-gram shingles
    * -> FNV-1a/SplitMix64 per-slot hashes -> 64-slot MinHash signature
    * `msig (doc_id, sig)` with `sh`/`nrm` in scope. Used by the
    * calibration audit (#190) and the banding sweep (#290). */
  private lazy val msigPrefixSql: String =
    s"""nrm AS (SELECT doc_id, $normSql AS t FROM documents),
       sh AS MATERIALIZED (
         SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
         FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
       gh AS MATERIALIZED (
         SELECT g, list_reduce(
           list_prepend(14695981039346656037::HUGEINT,
             $utf8BytesSql),
           (acc, b) -> (((acc // 256) * 256 + xor((acc % 256)::BIGINT, b::BIGINT)::HUGEINT)
                        * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS x
         FROM (SELECT DISTINCT g FROM sh)),
       gj AS MATERIALIZED (
         SELECT gh.g, t.j,
                (gh.x + t.j::HUGEINT * 11400714819323198485::HUGEINT)
                  % 18446744073709551616::HUGEINT AS x
         FROM gh, LATERAL (SELECT unnest(generate_series(0, 63)) AS j) t),
       ${graft.sim.Ann.splitmixCtes("mj", "gj", "g, j")},
       hjs AS MATERIALIZED (SELECT g, j, hs AS hj FROM mjh),
       msig AS MATERIALIZED (
         SELECT doc_id, list(v ORDER BY j) AS sig
         FROM (SELECT s.doc_id, h.j, min(h.hj) AS v
               FROM sh s JOIN hjs h USING (g) GROUP BY 1, 2)
         GROUP BY 1)"""

  private val minhashCalibrationSql: String = {
    val uPair = {
      val md5k = "md5(CAST(d1 AS VARCHAR) || '_' || CAST(d2 AS VARCHAR))"
      (1 to 6).map { i =>
        s"(strpos('0123456789abcdef', substr($md5k,$i,1))-1)*${math.pow(16, 6 - i)}"
      }.mkString("((", "\n                 + ", " + 1.0) / 16777217.0)")
    }
    s"""WITH $msigPrefixSql,
       bandsx AS (
         SELECT doc_id, t.b,
                array_to_string(list_transform(generate_series(t.b*4+1, t.b*4+4),
                  i -> sig[i]::VARCHAR), ',') AS bh
         FROM msig, LATERAL (SELECT unnest(generate_series(0, 15)) AS b) t),
       cand AS (
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM bandsx a JOIN bandsx b
           ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
       csamp AS MATERIALIZED (
         SELECT d1, d2 FROM (SELECT d1, d2, $uPair AS u FROM cand)
         ORDER BY u, d1, d2 LIMIT 20000),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       inter AS (
         SELECT c.d1, c.d2, count(*) AS i
         FROM csamp c JOIN sh a ON a.doc_id = c.d1
         JOIN sh b ON b.doc_id = c.d2 AND b.g = a.g
         GROUP BY 1, 2),
       scored AS (
         SELECT c.d1, c.d2,
                list_sum(list_transform(generate_series(1, 64),
                  i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 64.0 AS est,
                coalesce(i.i, 0) / (s1.n + s2.n - coalesce(i.i, 0)) AS tj
         FROM csamp c
         JOIN msig sa ON c.d1 = sa.doc_id
         JOIN msig sb ON c.d2 = sb.doc_id
         LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
         JOIN sizes s1 ON c.d1 = s1.doc_id
         JOIN sizes s2 ON c.d2 = s2.doc_id)
       SELECT d1, d2, round(est, 6) AS est_jaccard, round(tj, 6) AS true_jaccard,
              round(abs(est - tj), 6) AS abs_err
       FROM scored"""
  }

  /** Shared oracle prefix for the OPH signature (#337): same nrm/sh/gh
    * chain as [[msigPrefixSql]], then ONE SplitMix64 per distinct
    * shingle, unsigned-top-6-bit bucketing, signed per-bucket minima,
    * and the rotation densification as an arg_min over the cyclic
    * distance (wrap-safe +t in mod-2⁶⁴ HUGEINT space, matching Java's
    * wrapping long add). */
  private lazy val ophSigPrefixSql: String =
    s"""nrm AS (SELECT min(doc_id) AS doc_id, t
           FROM (SELECT doc_id, $normSql AS t FROM documents) GROUP BY t),
       sh AS MATERIALIZED (
         SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
         FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
       gh AS MATERIALIZED (
         SELECT g, list_reduce(
           list_prepend(14695981039346656037::HUGEINT,
             $utf8BytesSql),
           (acc, b) -> (((acc // 256) * 256 + xor((acc % 256)::BIGINT, b::BIGINT)::HUGEINT)
                        * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS x
         FROM (SELECT DISTINCT g FROM sh)),
       ${graft.sim.Ann.splitmixCtes("og", "gh", "g")},
       obh AS MATERIALIZED (
         SELECT g, hs,
                (CASE WHEN hs < 0 THEN hs::HUGEINT + 18446744073709551616::HUGEINT
                      ELSE hs::HUGEINT END) // 288230376151711744::HUGEINT AS b
         FROM ogh),
       omin AS MATERIALIZED (
         SELECT s.doc_id, o.b, min(o.hs) AS v
         FROM sh s JOIN obh o USING (g) GROUP BY 1, 2),
       ocell AS (
         SELECT d.doc_id, t.j
         FROM (SELECT DISTINCT doc_id FROM sh) d,
              LATERAL (SELECT unnest(generate_series(0, 63)) AS j) t),
       oden AS MATERIALIZED (
         SELECT c.doc_id, c.j,
                CAST((((arg_min(m.v, (m.b - c.j + 64) % 64)::HUGEINT
                        + min((m.b - c.j + 64) % 64)::HUGEINT
                        + 9223372036854775808::HUGEINT) % 18446744073709551616::HUGEINT)
                      - 9223372036854775808::HUGEINT) AS BIGINT) AS v
         FROM ocell c JOIN omin m USING (doc_id)
         GROUP BY 1, 2),
       osig AS MATERIALIZED (
         SELECT doc_id, list(v ORDER BY j) AS sig FROM oden GROUP BY 1)"""

  private lazy val minhashOphCalibrationSql: String = {
    val uPair = {
      val md5k = "md5(CAST(d1 AS VARCHAR) || '_' || CAST(d2 AS VARCHAR))"
      (1 to 6).map { i =>
        s"(strpos('0123456789abcdef', substr($md5k,$i,1))-1)*${math.pow(16, 6 - i)}"
      }.mkString("((", "\n                 + ", " + 1.0) / 16777217.0)")
    }
    s"""WITH $ophSigPrefixSql,
       bandsx AS (
         SELECT doc_id, t.b,
                array_to_string(list_transform(generate_series(t.b*4+1, t.b*4+4),
                  i -> sig[i]::VARCHAR), ',') AS bh
         FROM osig, LATERAL (SELECT unnest(generate_series(0, 15)) AS b) t),
       cand AS (
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM bandsx a JOIN bandsx b
           ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
       csamp AS MATERIALIZED (
         SELECT d1, d2 FROM (SELECT d1, d2, $uPair AS u FROM cand)
         ORDER BY u, d1, d2 LIMIT 20000),
       sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       inter AS (
         SELECT c.d1, c.d2, count(*) AS i
         FROM csamp c JOIN sh a ON a.doc_id = c.d1
         JOIN sh b ON b.doc_id = c.d2 AND b.g = a.g
         GROUP BY 1, 2),
       scored AS (
         SELECT c.d1, c.d2,
                list_sum(list_transform(generate_series(1, 64),
                  i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 64.0 AS est,
                coalesce(i.i, 0) / (s1.n + s2.n - coalesce(i.i, 0)) AS tj
         FROM csamp c
         JOIN osig sa ON c.d1 = sa.doc_id
         JOIN osig sb ON c.d2 = sb.doc_id
         LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
         JOIN sizes s1 ON c.d1 = s1.doc_id
         JOIN sizes s2 ON c.d2 = s2.doc_id)
       SELECT d1, d2, round(est, 6) AS est_jaccard, round(tj, 6) AS true_jaccard,
              round(abs(est - tj), 6) AS abs_err
       FROM scored"""
  }

  val ops: Seq[Op] = Seq(
    Op("dedup_threshold_sweep", dedupThresholdSweep _, Oracle(dedupThresholdSweepSql),
      quadratic = Some(Reasons.RoundScalarAttach)),
    Op("minhash_oph_calibration", minhashOphCalibration _, Oracle(minhashOphCalibrationSql)),
    Op("minhash_calibration", minhashCalibration _, Oracle(minhashCalibrationSql)),
    Op("minhash_bands_sweep", (a: SparkSession, b: String) => minhashBandsSweep(a, b),
      Oracle(minhashBandsSweepSql),
      untimed = Some("offline calibration audit whose TRUTH side is the exact " +
        "inverted-index pair set of dedup_ngram_jaccard — same quarantine; the " +
        "production banding path it tunes (dedup_minhash_lsh) IS benchmarked"),
      quadratic = Some("minhash_bands_sweep embeds the exact-Jaccard truth feed of " +
        "dedup_ngram_jaccard (offline calibration audit; Bench-skipped)")),
    Op("winnow_fingerprints", winnowFingerprints _, Oracle(winnowFingerprintsSql)),
    Op("winnow_dup_pairs", winnowDupPairs _, Oracle(winnowDupPairsSql)),
    Op("dedup_containment", dedupContainment _, Oracle(dedupContainmentSql),
      untimed = Some("Same exact inverted-index plan as #33 (the oracle path; at scale " +
        "feed candidates from LSH with the same verification predicate)."),
      quadratic = Some(Reasons.BruteForceBaseline)),
    Op("dup_pairs_by_source", dupPairsBySource _, Oracle(dupPairsBySourceSql),
      untimed = Some("Consumes the exact pair list (oracle path, Bench-excluded with " +
        "it); at scale feed the LSH pairs — identical downstream."),
      quadratic = Some(Reasons.BruteForceBaseline)),
    Op("source_overlap", sourceOverlap _, Oracle(sourceOverlapSql),
      quadratic = Some("source_overlap probes the tiny distinct-mask histogram against " +
        "the |sources|²-row pair table — both bounded by source count")),
    Op("golden_record", goldenRecord _, Oracle(goldenRecordSql)),
    Op("chao_estimate", chaoEstimate _, Oracle(chaoEstimateSql)),
    Op("dedup_savings", dedupSavings _, Oracle(dedupSavingsSql)),
    Op("leakage_by_source", leakageBySource _, Oracle(
      s"""WITH nrm AS (SELECT doc_id, source, $normSql AS t FROM documents),
          esh AS (SELECT DISTINCT substr(t, CAST(i AS INT), 20) AS g
                  FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)
                  WHERE source = 'src0'),
          tsh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 20) AS g
                  FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)
                  WHERE source <> 'src0'),
          shared AS (SELECT doc_id, count(*) AS n_shared
                     FROM tsh JOIN esh USING (g) GROUP BY 1),
          flags AS (
            SELECT n.doc_id, n.source,
                   coalesce(s.n_shared, 0) AS n_shared,
                   coalesce(s.n_shared, 0) >= 5 AS contaminated
            FROM nrm n LEFT JOIN shared s ON n.doc_id = s.doc_id
            WHERE n.source <> 'src0')
          SELECT source, count(*) AS n_docs,
                 CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
                 round(sum(CASE WHEN contaminated THEN 1 ELSE 0 END)
                       / CAST(count(*) AS DOUBLE), 6) AS leak_rate,
                 round(avg(CASE WHEN contaminated THEN n_shared END), 4) AS mean_shared
          FROM flags GROUP BY 1""")),
    Op("fuzzy_blocked_join", fuzzyBlockedJoin _, Oracle(
      """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_type = b.p_type
          AND a.p_partkey < b.p_partkey
         WHERE levenshtein(a.p_name, b.p_name) <= 2""")),
    Op("fuzzy_passjoin", fuzzyPassjoin _, Oracle(
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
         CAST(levenshtein(substr(a.text, 1, 32), substr(b.text, 1, 32)) AS BIGINT) AS dist
         FROM documents a JOIN documents b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
         WHERE levenshtein(substr(a.text, 1, 32), substr(b.text, 1, 32)) <= 2""")),
    Op("jaro_winkler_pairs", jaroWinklerPairs _, Oracle(
      """WITH nv AS (SELECT DISTINCT p_brand AS brand, p_type AS ptype, p_name AS name FROM part)
         SELECT a.brand, a.ptype, a.name AS name1, b.name AS name2,
                round(jaro_winkler_similarity(a.name, b.name), 6) AS jw_sim
         FROM nv a JOIN nv b
           ON a.brand = b.brand AND a.ptype = b.ptype AND a.name < b.name
         WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9""")),
    Op("dedup_components_lsh", dedupComponentsLsh _, Oracle(componentsSql)),
    Op("dedup_cluster_sizes", dedupClusterSizes _, Oracle(clusterSizesSql)),
    Op("dedup_incremental", dedupIncremental _, Oracle(dedupIncrementalSql)),
    Op("dedup_keeper_quality", dedupKeeperQuality _, Oracle(dedupKeeperQualitySql)),
    // The LSH twins share the exact paths' oracles: LSH candidates are
    // verified with TRUE shingle Jaccard before emission, so output ⊆
    // exact always, and the planted near-dups sit at J ≥ 0.9 where the
    // 16×4 banding's miss probability is ~2e-8 — and the hash seeds are
    // fixed, so the equality DedupSpec asserts is deterministic, not
    // probabilistic, on this corpus. r13: this now covers the OPH
    // signature (same S-curve class at 16×4 — identical-signature
    // verbatim dups always collide; the J≥0.9 knee is unchanged) and
    // the bucket-STAR component feed (star edges ⊆ pairs; components
    // equal when clusters are pairwise ≥ t, which DedupSpec pins —
    // a star miss on a borderline CHAIN would fail these oracles
    // loudly rather than silently).
    Op("dedup_minhash_lsh", dedupMinhashLsh _, Oracle(
      s"""WITH nrm AS (SELECT doc_id, $normSql AS t FROM documents),
          sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
                 FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT d1, d2,
                 round(CAST(i AS DOUBLE)/(s1.n + s2.n - i), 6) AS jaccard
          FROM inter
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(i AS DOUBLE)/(s1.n + s2.n - i) >= 0.7""")),
    Op("dedup_components", dedupComponents _, Oracle(componentsSql),
      untimed = Some("consumes the exact pair list of dedup_ngram_jaccard, skipped for " +
        "the same reason; its scale twin dedup_components_lsh (same component logic " +
        "over LSH pairs) IS benchmarked.")),
    Op("decontaminate", decontaminate _, Oracle(
      s"""WITH nrm AS (SELECT doc_id, source, $normSql AS t FROM documents),
          esh AS (SELECT DISTINCT substr(t, CAST(i AS INT), 20) AS g
                  FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)
                  WHERE source = 'src0'),
          tsh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 20) AS g
                  FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)
                  WHERE source <> 'src0'),
          shared AS (SELECT doc_id, count(*) AS n_shared
                     FROM tsh JOIN esh USING (g) GROUP BY 1)
          SELECT n.doc_id, coalesce(s.n_shared, 0) AS n_shared,
                 coalesce(s.n_shared, 0) >= 5 AS contaminated
          FROM nrm n LEFT JOIN shared s ON n.doc_id = s.doc_id
          WHERE n.source <> 'src0'""")),
    Op("dedup_exact", dedupExact _, Oracle(
      s"""SELECT md5($normSql) AS norm_hash, min(doc_id) AS keep_id,
          count(*) AS n_docs, count(*) > 1 AS has_dup
          FROM documents GROUP BY 1""")),
    // #307 is exact by the prefix-filter lemma — same contract, same
    // oracle as the quadratic #33 it replaces at scale
    // no global window: it ranks its dictionary on the driver from the
    // collected (shingle, df) counts
    Op("dedup_jaccard_prefix", dedupJaccardPrefix _, Oracle(
      s"""WITH nrm AS (SELECT doc_id, $normSql AS t FROM documents),
          sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
                 FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT d1, d2,
                 round(CAST(i AS DOUBLE)/(s1.n + s2.n - i), 6) AS jaccard
          FROM inter
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(i AS DOUBLE)/(s1.n + s2.n - i) >= 0.7""")),
    Op("dedup_ngram_jaccard", dedupNgramJaccard _, Oracle(
      s"""WITH nrm AS (SELECT doc_id, $normSql AS t FROM documents),
          sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
                 FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                    FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT d1, d2,
                 round(CAST(i AS DOUBLE)/(s1.n + s2.n - i), 6) AS jaccard
          FROM inter
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE CAST(i AS DOUBLE)/(s1.n + s2.n - i) >= 0.7"""),
      untimed = Some("the deliberately-exact inverted-index baseline — Σ df² ≈ 1.5e9 " +
        "intermediate rows at sf0.1 on this pathologically low-vocab corpus. Its " +
        "production/scale twin dedup_minhash_lsh IS benchmarked (same output, " +
        "LSH-bounded work)."),
      quadratic = Some(Reasons.BruteForceBaseline)),
    Op("dedup_embedding", dedupEmbedding _, Oracle(
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4"""),
      untimed = Some(Reasons.ExactAllPairsCosine),
      quadratic = Some(Reasons.BruteForceBaseline)),
    // Exact SQL replay of the LSH-bucketed cosine pair miner: the
    // shared SplitMix64 plane/signature prefix (graft.sim.Ann), the
    // engine's own-bucket + 1-bit-flip probe set, then the same
    // qid < vid orientation filter and exact-cosine threshold. Probe
    // buckets partition the corpus, so no DISTINCT is needed — the
    // same argument the Spark plan documents.
    Op("dedup_embedding_lsh", dedupEmbeddingLsh _, Oracle(
      s"""WITH ${graft.sim.Ann.lshSigPrefixSql},
         probes AS MATERIALIZED (
           SELECT s.vec_id AS qid,
                  CASE WHEN t.p < 0 THEN s.bucket
                       ELSE xor(s.bucket, (1::BIGINT << t.p)) END AS bucket
           FROM lsig s, LATERAL (SELECT unnest(generate_series(-1, 4)) AS p) t)
         SELECT p.qid AS id1, s2.vec_id AS id2,
                round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
         FROM probes p JOIN lsig s2 USING (bucket)
         JOIN embeddings a ON p.qid = a.vec_id
         JOIN embeddings b ON s2.vec_id = b.vec_id
         WHERE p.qid < s2.vec_id
           AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""")),
    // #277: the dedup_embedding_lsh candidate chain, restricted to
    // train-eval pairs, then a (sim desc, eval_id desc) argmax per
    // train vector and an explicit not-contaminated row for the rest.
    Op("decontaminate_semantic", decontaminateSemantic _, Oracle(
      s"""WITH ${graft.sim.Ann.lshSigPrefixSql},
         probes AS MATERIALIZED (
           SELECT s.vec_id AS qid,
                  CASE WHEN t.p < 0 THEN s.bucket
                       ELSE xor(s.bucket, (1::BIGINT << t.p)) END AS bucket
           FROM lsig s, LATERAL (SELECT unnest(generate_series(-1, 4)) AS p) t),
         prs AS MATERIALIZED (
           SELECT p.qid AS id1, s2.vec_id AS id2,
                  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cs
           FROM probes p JOIN lsig s2 USING (bucket)
           JOIN embeddings a ON p.qid = a.vec_id
           JOIN embeddings b ON s2.vec_id = b.vec_id
           WHERE p.qid < s2.vec_id
             AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
         hits AS (
           SELECT CASE WHEN id1 % 50 = 0 THEN id2 ELSE id1 END AS vec_id,
                  CASE WHEN id1 % 50 = 0 THEN id1 ELSE id2 END AS eval_id, cs
           FROM prs WHERE (id1 % 50 = 0) != (id2 % 50 = 0)),
         best AS (
           SELECT vec_id, cs, eval_id FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY cs DESC, eval_id DESC) AS rk
             FROM hits) WHERE rk = 1)
         SELECT e.vec_id,
                b.vec_id IS NOT NULL AS contaminated,
                coalesce(b.cs, 0.0) AS best_sim,
                CAST(coalesce(b.eval_id, -1) AS BIGINT) AS eval_match
         FROM embeddings e LEFT JOIN best b ON e.vec_id = b.vec_id
         WHERE e.vec_id % 50 != 0""")),
    // Exact SQL re-derivation of the engine's simhash: FNV-1a 64 per
    // DISTINCT word (HUGEINT fold, mod-2⁶⁴; xor emulated on the low
    // byte only, since the byte operand is < 256), signed-BIGINT
    // reinterpretation, ±1 votes per bit, then the same 4×16-bit chunk
    // banding as the engine. Tokens are runs of [a-z0-9] so lower(text)
    // needs no whitespace normalization first.
    Op("dedup_simhash", dedupSimhash _, Oracle(
      s"""WITH $simhashCandSql
         SELECT d1, d2, hamming FROM cand WHERE hamming <= 3""")),
    // #316: same candidate chain, per-radius precision vs the #33
    // char-5-gram Jaccard ground truth
    Op("simhash_radius_sweep", simhashRadiusSweep _, Oracle(
      s"""WITH $simhashCandSql,
         nrm2 AS (SELECT doc_id, $normSql AS t FROM documents),
         sh5 AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS g
                 FROM nrm2, LATERAL unnest(generate_series(1, greatest(length(t)-4, 1))) AS u(i)),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh5 GROUP BY 1),
         inter AS (
           SELECT c.d1, c.d2, c.hamming, count(*) AS i
           FROM cand c JOIN sh5 a ON c.d1 = a.doc_id
                       JOIN sh5 b ON c.d2 = b.doc_id AND a.g = b.g
           WHERE c.hamming <= 3
           GROUP BY 1, 2, 3),
         verified AS (
           SELECT c.d1, c.d2, c.hamming,
                  coalesce(CAST(i.i AS DOUBLE) / (s1.n + s2.n - i.i), 0.0) AS jac
           FROM cand c
           LEFT JOIN inter i ON c.d1 = i.d1 AND c.d2 = i.d2
           JOIN sizes s1 ON c.d1 = s1.doc_id
           JOIN sizes s2 ON c.d2 = s2.doc_id
           WHERE c.hamming <= 3),
         radii AS (SELECT unnest(generate_series(0, 3)) AS radius)
         SELECT r.radius, count(*) AS n_pairs,
                CAST(sum(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
                round(avg(CASE WHEN jac >= 0.7 THEN 1.0 ELSE 0.0 END), 6) AS precision
         FROM verified v JOIN radii r ON v.hamming <= r.radius
         GROUP BY 1""")),
    // Exact replay of the SemDeDup keeper: the shared SplitMix64 bucket
    // prefix (vx carries per-dim values), then the same exact-integer
    // centroid algebra — floor(x·1000) quantization, integer per-dim
    // sums, integer dots — so the centroid cosine is bit-identical
    // regardless of accumulation order; pair cosines replay through
    // list_cosine_similarity (the fixed-order fold both engines share).
    Op("semantic_dedup", semanticDedup _, Oracle(
      s"""WITH ${graft.sim.Ann.lshSigPrefixSql},
         qv AS MATERIALIZED (
           SELECT vec_id, i, CAST(floor(x * 1000) AS BIGINT) AS q FROM vx),
         sq AS MATERIALIZED (
           SELECT l.bucket, q.i, CAST(sum(q.q) AS BIGINT) AS sq
           FROM qv q JOIN lsig l USING (vec_id) GROUP BY 1, 2),
         bn AS (SELECT bucket, CAST(sum(sq*sq) AS BIGINT) AS nn_b
                FROM sq GROUP BY 1),
         dots AS (
           SELECT q.vec_id, CAST(sum(q.q * s.sq) AS BIGINT) AS dqs,
                  CAST(sum(q.q * q.q) AS BIGINT) AS nn_v
           FROM qv q JOIN lsig l USING (vec_id)
           JOIN sq s ON s.bucket = l.bucket AND s.i = q.i
           GROUP BY 1),
         scored AS MATERIALIZED (
           SELECT l.vec_id, l.bucket,
                  CASE WHEN d.nn_v = 0 OR b.nn_b = 0 THEN 0.0
                       ELSE d.dqs / (sqrt(d.nn_v) * sqrt(b.nn_b)) END AS cos_c
           FROM lsig l JOIN dots d USING (vec_id) JOIN bn b USING (bucket)),
         drops AS (
           SELECT DISTINCT a.vec_id
           FROM scored a JOIN scored b ON a.bucket = b.bucket
            AND (b.cos_c < a.cos_c
                 OR (b.cos_c = a.cos_c AND b.vec_id < a.vec_id))
           JOIN embeddings ea ON a.vec_id = ea.vec_id
           JOIN embeddings eb ON b.vec_id = eb.vec_id
           WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                                        eb.embedding::DOUBLE[]) >= 0.4)
         SELECT s.vec_id, s.bucket, round(s.cos_c, 6) AS cos_centroid,
                d.vec_id IS NULL AS keep
         FROM scored s LEFT JOIN drops d ON s.vec_id = d.vec_id""")))
}
