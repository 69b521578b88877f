package graft.text

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vocabulary / tokenizer-training analytics over the corpus (SURVEY.md
  * §2.5 extension): the corpus-statistics layer a tokenizer-training or
  * corpus-health pipeline runs before committing a token budget.
  *
  * All three operators are hash-checked against the DuckDB oracle:
  * integer counts, deterministic tie-breaks, and (for the one OLS fit)
  * the same regr_* aggregates the zipf_fit precedent established.
  */
object Vocab extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  // ---------------------------------------------------------------
  // 220. BPE merge-pair training primitive (Sennrich et al. 2016;
  // the first rounds of every GPT/Llama tokenizer build): 5 unrolled
  // merge rounds over the WORD-FREQUENCY DICT (BPE always trains on
  // the vocab with counts, never the raw token stream — the dict is
  // vocab-bounded, sublinear in corpus size, so the 5 shuffles here
  // stay small at 100 TB while the only corpus-wide pass is the one
  // word-count aggregation).
  //
  // Each round: (a) count adjacent symbol pairs weighted by word
  // frequency (overlapping positions counted, the HF-trainer
  // convention), (b) pick argmax with the exact (count desc, lhs asc,
  // rhs asc) integer/string tie-break — a bounded 1-row driver scalar
  // (the bisecting_clusters split-pick precedent), (c) greedy
  // left-to-right non-overlapping merge. The merge's loop-carried
  // dependency ("a candidate is real iff the previous candidate was
  // not merged") is expressed without a sequential fold via the
  // run-parity trick: within each maximal run of CONSECUTIVE candidate
  // positions, exactly the even offsets merge — plain window
  // functions, identical semantics in Spark and DuckDB, so the whole
  // 5-round training replays hash-exact.
  private val BpeRounds = 5

  private def wordDict(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))

  /** One greedy non-overlapping merge of (lSym, rSym) over the dict's
    * symbol sequences — factored out so the spec can pin the
    * overlapping-run semantics ("aaaa" + (a,a) → ["aa","aa"]) on a
    * crafted dict.
    *
    * r15 optimization rewrite (guide §2.4 "remove shuffles outright" +
    * §1.2 "per-task work"): the merge is a pure PER-ROW left-to-right
    * fold over each word's symbol array — one codegen'd aggregate()
    * projection with ZERO exchanges — replacing the posexplode → lead/
    * sum/min/lag window passes → collect_list groupBy pipeline (2
    * exchanges + per-word sorts PER MERGE ROUND; ×32 rounds in the
    * deep trainer this was the entire plan of). Semantics are
    * identical: a candidate position merges iff it is not consumed by
    * the previous merge, which within a run of consecutive candidates
    * is exactly the even-offset rule the window formulation computed
    * (VocabSpec pins "aaaa" + (a,a) → ["aa","aa"]). Symbols come from
    * the [a-z]+ word regex so the SQL string literals are quote-safe;
    * asserted anyway. */
  private[graft] def mergeOnce(dict: DataFrame, lSym: String, rSym: String): DataFrame = {
    require(!(lSym + rSym).contains("'"),
      s"mergeOnce symbols must be quote-free SQL literals: '$lSym','$rSym'")
    dict.select(col("w"), col("wc"), expr(s"""
      aggregate(
        sequence(1, size(syms)),
        named_struct('out', CAST(array() AS array<string>), 'skip', false),
        (acc, i) -> CASE
          WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
          WHEN i < size(syms) AND element_at(syms, i) = '$lSym'
               AND element_at(syms, i + 1) = '$rSym'
            THEN named_struct('out', array_append(acc.out, '${lSym + rSym}'),
                   'skip', true)
          ELSE named_struct('out', array_append(acc.out, element_at(syms, i)),
                 'skip', false)
        END,
        acc -> acc.out)""").as("syms"))
  }

  /** The per-round argmax pair (count desc, lhs asc, rhs asc): a bounded
    * 1-row driver scalar off the vocab-bounded dict (the
    * bisecting_clusters split-pick precedent), shared by every trainer.
    *
    * CONTRACT (r11 ADVICE): the pair supply must outlast the trainer's
    * round count — a corpus whose every word collapses to one symbol
    * before round N would otherwise throw an opaque
    * ArrayIndexOutOfBoundsException here, while the oracle's CROSS JOIN
    * against an EMPTY top$i would silently delete every word from d$i
    * on (the two engines fail DIFFERENTLY on exhaustion). Fail loudly
    * with the round so the divergence is impossible to hit silently;
    * the SQL chain can't desync from the Scala loop because both render
    * from the same BpeRounds/DeepBpeRounds constants. */
  private def topPair(dict: DataFrame, round: Int): (String, String, Long) = {
    val rows = dict.select(col("wc"), explode(expr(
      """zip_with(slice(syms, 1, greatest(size(syms) - 1, 0)),
        |         slice(syms, 2, greatest(size(syms) - 1, 0)),
        |         (a, b) -> named_struct('l', a, 'r', b))""".stripMargin)).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
      .limit(1).collect()
    require(rows.nonEmpty,
      s"BPE pair supply exhausted before merge round $round: every word " +
        "is a single symbol — lower the trainer's round count for this corpus")
    val top = rows(0)
    (top.getString(0), top.getString(1), top.getLong(2))
  }

  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    var dict = wordDict(s, dir).localCheckpoint() // the merge chain re-scans it; merges themselves are narrow projections (no per-round checkpoint)
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    (1 to BpeRounds).foreach { round =>
      val (lSym, rSym, cnt) = topPair(dict, round)
      out += ((round.toLong, lSym, rSym, lSym + rSym, cnt))
      if (round < BpeRounds) dict = mergeOnce(dict, lSym, rSym)
    }
    import s.implicits._
    out.result().toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
  }

  /** One BPE round as DuckDB CTEs: d${i-1} -> (top$i, d$i), mirroring
    * wordDict/mergeOnce op-for-op (1-based list indexing; pos = i-1
    * matches posexplode's 0-base; ROWS frame pinned explicitly — Spark's
    * RANGE default is equivalent because pos is unique per word).
    * top$i is injected as a 1-row CROSS JOIN, not three scalar
    * subqueries: identical semantics (top$i has exactly one row — the
    * engine's collect()(0) would already have thrown otherwise), but
    * DuckDB's planner handles the 32-round #327 chain in 8 s instead
    * of 99 s with correlated scalar subqueries at every round. */
  private def bpeRoundSql(i: Int): String = {
    val d = s"d${i - 1}"
    s"""pairs$i AS (
         SELECT syms[t.i] AS l, syms[t.i + 1] AS r, sum(wc) AS cnt
         FROM $d, LATERAL (SELECT unnest(range(1, len(syms))) AS i) t
         GROUP BY 1, 2),
       top$i AS MATERIALIZED (
         SELECT l, r, CAST(cnt AS BIGINT) AS cnt FROM pairs$i
         ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
       e$i AS (
         SELECT w, wc, t.i - 1 AS pos, syms[t.i] AS sym
         FROM $d, LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS i) t),
       c$i AS (
         SELECT w, wc, pos, sym, tl, tr, coalesce(
             sym = tl AND lead(sym) OVER (PARTITION BY w ORDER BY pos) = tr,
             FALSE) AS cand
         FROM e$i CROSS JOIN (SELECT l AS tl, r AS tr FROM top$i)),
       r$i AS (
         SELECT *, sum(CASE WHEN cand THEN 1 ELSE 0 END)
             OVER (PARTITION BY w ORDER BY pos ROWS UNBOUNDED PRECEDING) AS rn_c
         FROM c$i),
       g$i AS (SELECT *, CASE WHEN cand THEN pos - rn_c END AS grp FROM r$i),
       k$i AS (
         SELECT *, CASE WHEN cand THEN rn_c - min(CASE WHEN cand THEN rn_c END)
             OVER (PARTITION BY w, grp) END AS off
         FROM g$i),
       m$i AS (SELECT *, coalesce(cand AND off % 2 = 0, FALSE) AS kept FROM k$i),
       f$i AS (
         SELECT *, coalesce(lag(kept) OVER (PARTITION BY w ORDER BY pos), FALSE) AS prev_kept
         FROM m$i),
       d$i AS MATERIALIZED (
         SELECT w, wc, list(CASE WHEN kept THEN tl || tr ELSE sym END
             ORDER BY pos) AS syms
         FROM f$i WHERE NOT prev_kept GROUP BY w, wc)"""
  }

  private val bpeMergesSql = {
    val rounds = (1 to BpeRounds).map(bpeRoundSql).mkString(",\n       ")
    val union = (1 to BpeRounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_round, l AS lhs, r AS rhs,
                 l || r AS merged, cnt AS pair_count FROM top$i""")
      .mkString("\n       UNION ALL\n       ")
    s"""WITH words AS (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
       d0 AS MATERIALIZED (
         SELECT w, count(*) AS wc,
                list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
         FROM words GROUP BY 1),
       $rounds
       $union"""
  }

  // ---------------------------------------------------------------
  // 246. BPE ENCODE — the apply side of #220 (train + apply = the
  // whole tokenizer loop): run the same 5 greedy merge rounds, then
  // tokenize every document under the final symbol table and emit the
  // per-doc token accounting (the corpus-side fertility audit a new
  // vocab is judged by; #183 measured a fixed BPE-ish regex, this
  // measures the LEARNED vocab). Encoding is a dict join — each word
  // looks up its merged symbol sequence; the corpus-wide passes are
  // the one word count (training) and the one word→dict join (apply).
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    var dict = wordDict(s, dir).localCheckpoint()
    (1 to BpeRounds).foreach { round =>
      val (lSym, rSym, _) = topPair(dict, round)
      dict = mergeOnce(dict, lSym, rSym)
    }
    val docw = Tables.documents(s, dir).select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    docw.join(dict.select(col("w"), size(col("syms")).cast("long").as("nt")), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("nt")).as("n_tokens"),
        r(sum(col("nt")) / count(lit(1)).cast("double"), 6).as("tokens_per_word"))
  }

  private val bpeEncodeSql = {
    val rounds = (1 to BpeRounds).map(bpeRoundSql).mkString(",\n       ")
    s"""WITH words AS (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
       d0 AS MATERIALIZED (
         SELECT w, count(*) AS wc,
                list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
         FROM words GROUP BY 1),
       $rounds,
       docw AS (
         SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         FROM documents)
       SELECT dw.doc_id, count(*) AS n_words,
              CAST(sum(len(d.syms)) AS BIGINT) AS n_tokens,
              round(sum(len(d.syms)) / CAST(count(*) AS DOUBLE), 6) AS tokens_per_word
       FROM docw dw JOIN d$BpeRounds d USING (w)
       GROUP BY 1"""
  }

  // ---------------------------------------------------------------
  // 278. BPE merge curve — the marginal-compression audit of the
  // #220/#246 tokenizer loop (the table a vocab-size decision reads:
  // each merge buys a measured drop in tokens/word, and the curve's
  // flattening says when to stop training): corpus tokens-per-word
  // after each of merge rounds 0..5, over the same frequency-weighted
  // dict. Per-round stats are 1-row driver scalars off the shared
  // checkpointed dict (the bisecting split-pick precedent); the rounds
  // themselves are the #220 chain, so the whole curve replays exactly.
  def bpeMergeCurve(s: SparkSession, dir: String): DataFrame = {
    var dict = wordDict(s, dir).localCheckpoint()
    val out = Seq.newBuilder[(Long, Long, Long)]
    def snap(round: Int): Unit = {
      val r0 = dict.agg(sum(col("wc")).as("nw"),
        sum(col("wc") * size(col("syms")).cast("long")).as("nt")).collect()(0)
      out += ((round.toLong, r0.getLong(0), r0.getLong(1)))
    }
    snap(0)
    (1 to BpeRounds).foreach { round =>
      val (lSym, rSym, _) = topPair(dict, round)
      dict = mergeOnce(dict, lSym, rSym)
      snap(round)
    }
    import s.implicits._
    out.result().toDF("merge_round", "n_words", "n_tokens")
      .withColumn("tokens_per_word",
        r(col("n_tokens") / col("n_words").cast("double"), 6))
  }

  private val bpeMergeCurveSql = {
    val rounds = (1 to BpeRounds).map(bpeRoundSql).mkString(",\n       ")
    val snaps = (0 to BpeRounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_round,
                 CAST(sum(wc) AS BIGINT) AS n_words,
                 CAST(sum(wc * len(syms)) AS BIGINT) AS n_tokens,
                 round(sum(wc * len(syms)) / CAST(sum(wc) AS DOUBLE), 6) AS tokens_per_word
          FROM d$i""")
      .mkString("\n       UNION ALL\n       ")
    s"""WITH words AS (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
       d0 AS MATERIALIZED (
         SELECT w, count(*) AS wc,
                list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
         FROM words GROUP BY 1),
       $rounds
       $snaps"""
  }

  // ---------------------------------------------------------------
  // 327/328. DEEP BPE trainer — 32 merge rounds (r10 verdict depth
  // note: "a tokenizer beyond 5 unrolled BPE rounds"). Same Sennrich
  // 2016 loop as #220, run to the depth where the merge table starts
  // looking like a real (if small-alphabet) tokenizer: multi-char
  // units that win late rounds only exist because earlier merges
  // created them, so hash-matching all 32 rows replays the whole
  // training trajectory, not just its first page. The dict stays
  // VOCAB-bounded (31 distinct words on this corpus; ~10M on a real
  // 100 TB crawl) — the only corpus-wide pass is d0's word count; the
  // 32 rounds shuffle a dict-sized table and the argmax per round is
  // a bounded 1-row driver scalar, so depth costs rounds × dict, not
  // rounds × corpus (the kmeans_elbow driver-round-trip contract).
  // Trained state is memoized per (session, dir) like lloydState:
  // #327 (the merge table) and #328 (the final symbol inventory) pay
  // one training between them.
  private val DeepBpeRounds = 32

  private val deepBpeCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, Unit),
    (Seq[(Long, String, String, String, Long)], DataFrame)]()
  graft.api.Memo.register(() => deepBpeCache.clear())

  private[graft] def deepBpeState(s: SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], DataFrame) =
    graft.api.Memo.stamped(deepBpeCache, s, dir, ()) {
      var dict = wordDict(s, dir).localCheckpoint()
      val out = Seq.newBuilder[(Long, String, String, String, Long)]
      (1 to DeepBpeRounds).foreach { round =>
        val (lSym, rSym, cnt) = topPair(dict, round)
        out += ((round.toLong, lSym, rSym, lSym + rSym, cnt))
        // mergeOnce is now a narrow per-row projection: no checkpoint
        // needed per round for plan-size control. Checkpoint every 8th
        // round only, to bound the fused re-execution window (round k's
        // topPair job re-runs the ≤7 projections since the last
        // checkpoint inside the same codegen stage — cheaper than 32
        // materialize-to-blockstore jobs; measured in OPTIMIZATION_r15)
        dict = mergeOnce(dict, lSym, rSym)
        if (round % 8 == 0) dict = dict.localCheckpoint()
      }
      (out.result(), dict)
    }

  /** #327: the 32-round merge table (the tokenizer's merges.txt). */
  def bpeTrainDeep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    deepBpeState(s, dir)._1
      .toDF("merge_round", "lhs", "rhs", "merged", "pair_count")
  }

  /** #328: final symbol inventory after 32 merges (the tokenizer's
    * vocab.json face): per surviving dict symbol, its length, how many
    * distinct words carry it, its dict positions, its frequency-weighted
    * token count, and whether it covers a whole word — the table a
    * vocab-size / byte-fallback decision reads. */
  def bpeVocabInventory(s: SparkSession, dir: String): DataFrame =
    deepBpeState(s, dir)._2
      .select(col("w"), col("wc"), explode(col("syms")).as("sym"))
      .groupBy(col("sym"))
      .agg(
        countDistinct(col("w")).as("n_words"),
        count(lit(1)).as("dict_positions"),
        sum(col("wc")).as("token_count"),
        max((col("sym") === col("w")).cast("long")).as("whole_word"))
      .select(col("sym"), length(col("sym")).cast("long").as("sym_len"),
        col("n_words"), col("dict_positions"), col("token_count"),
        col("whole_word"))

  private val bpeTrainDeepSql = {
    val rounds = (1 to DeepBpeRounds).map(bpeRoundSql).mkString(",\n       ")
    val union = (1 to DeepBpeRounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS merge_round, l AS lhs, r AS rhs,
                 l || r AS merged, cnt AS pair_count FROM top$i""")
      .mkString("\n       UNION ALL\n       ")
    s"""WITH words AS (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
       d0 AS MATERIALIZED (
         SELECT w, count(*) AS wc,
                list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
         FROM words GROUP BY 1),
       $rounds
       $union"""
  }

  private val bpeVocabInventorySql = {
    val rounds = (1 to DeepBpeRounds).map(bpeRoundSql).mkString(",\n       ")
    s"""WITH words AS (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
       d0 AS MATERIALIZED (
         SELECT w, count(*) AS wc,
                list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
         FROM words GROUP BY 1),
       $rounds,
       occ AS (SELECT w, wc, unnest(syms) AS sym FROM d$DeepBpeRounds)
       SELECT sym, CAST(length(sym) AS BIGINT) AS sym_len,
              count(DISTINCT w) AS n_words,
              count(*) AS dict_positions,
              CAST(sum(wc) AS BIGINT) AS token_count,
              CAST(max(CASE WHEN sym = w THEN 1 ELSE 0 END) AS BIGINT) AS whole_word
       FROM occ GROUP BY 1"""
  }

  // ---------------------------------------------------------------
  // 279. word burstiness (Church & Gale 1995): per word, document
  // frequency df, collection frequency cf, and burstiness = cf/df —
  // the mean occurrences per CONTAINING document. Bursty words
  // (cf/df ≫ corpus mean) are topical/template; burstiness ≈ 1 marks
  // function-word-like dispersion — the screen that separates the two
  // before any model-based signal. One (word, doc) aggregation then a
  // vocab-bounded rollup: integer until the single division.
  def wordBurstiness(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"))
      .select(col("w"), col("df"), col("cf"),
        r(col("cf") / col("df").cast("double"), 6).as("burstiness"))

  private val wordBurstinessSql =
    """WITH wd AS (
         SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         FROM documents),
       per_doc AS (SELECT w, doc_id, count(*) AS c FROM wd GROUP BY 1, 2)
       SELECT w, count(*) AS df, CAST(sum(c) AS BIGINT) AS cf,
              round(sum(c) / CAST(count(*) AS DOUBLE), 6) AS burstiness
       FROM per_doc GROUP BY 1"""

  // ---------------------------------------------------------------
  // 287. hapax legomena rate per source — the vocabulary-richness
  // screen that pairs with #279's burstiness and #221's Heap's fit:
  // the share of a source's vocabulary seen exactly once. Natural
  // prose runs ~40-60 % hapax; template/boilerplate sources collapse
  // toward 0, OCR-noise sources inflate toward 1. One (source, word)
  // count + a source-bounded rollup, integer until two divisions.
  def hapaxRate(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cf"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab_size"),
        sum(col("cf")).as("n_tokens"),
        sum(when(col("cf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("vocab_size"), col("n_tokens"), col("n_hapax"),
        r(col("n_hapax") / col("vocab_size").cast("double"), 6).as("hapax_share"),
        r(col("n_hapax") / col("n_tokens").cast("double"), 6).as("hapax_token_share"))

  private val hapaxRateSql =
    """WITH wc AS (
         SELECT source, w, count(*) AS cf FROM (
           SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
           FROM documents)
         GROUP BY 1, 2)
       SELECT source, count(*) AS vocab_size,
              CAST(sum(cf) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
              round(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
                AS hapax_share,
              round(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) / CAST(sum(cf) AS DOUBLE), 6)
                AS hapax_token_share
       FROM wc GROUP BY 1"""

  // ---------------------------------------------------------------
  // 221. Heap's-law vocabulary-growth fit — the zipf_fit sibling on
  // the other axis: V(n) ≈ K·n^β (β ≈ 0.4-0.6 for natural language;
  // template spam flattens it, OCR noise inflates it). One corpus pass
  // finds each word's FIRST document; the cumulative curve is a
  // RANGE-PARTITIONED two-pass prefix sum (the r6-verdict fix — the
  // old single global window dragged every doc through ONE partition,
  // the suite's only unbounded `WindowExec: No Partition Defined`):
  // docs bucket by doc_id range into HeapsBuckets contiguous slices,
  // each slice prefix-sums independently (partitioned window), and the
  // bounded per-bucket totals (≤64 rows, a driver scalar in the
  // bisecting split-pick sense) become broadcast exclusive offsets.
  // cum values are bit-identical to the global window's, so the DuckDB
  // oracle keeps the straightforward single-window form. The ln-ln OLS
  // rides regr_slope / regr_intercept / regr_r2, the exact
  // cross-engine aggregates zipf_fit already hash-checks.
  private val HeapsBuckets = 64

  def heapsFit(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
    val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val firsts = toks.groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("nv"))
    val curve = perDoc.join(firsts, perDoc("doc_id") === firsts("fd"), "left")
      .select(col("doc_id"), col("nt"), coalesce(col("nv"), lit(0L)).as("nv"))
      .localCheckpoint() // scanned 3× below (bounds, bucket totals, prefix pass)
    // bucket = equal-width doc_id slice: any contiguous split yields the
    // same cum values (prefix sums are associative) — boundaries only
    // steer parallelism, so the 1-row min/max scalar is safe to embed
    val Array(bounds) = curve.agg(
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")).collect()
    // empty input: min/max come back null — getLong would NPE and the
    // offsets sliding(2) would choke on the 1-row scan. Short-circuit
    // to the same degenerate aggregate the single-window form produced
    // (count 0, null maxes / regression stats).
    if (bounds.isNullAt(0))
      return curve
        .withColumn("cum_n", lit(null).cast("long"))
        .withColumn("cum_v", lit(null).cast("long"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("cum_n")).as("total_tokens"),
          max(col("cum_v")).as("vocab_size"),
          r(regr_slope(log(col("cum_v")), log(col("cum_n"))), 6).as("heaps_beta"),
          r(regr_intercept(log(col("cum_v")), log(col("cum_n"))), 6).as("heaps_lnk"),
          r(regr_r2(log(col("cum_v")), log(col("cum_n"))), 6).as("r2"))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(hi - lo + 1, 1L)
    val bkt = ((col("doc_id") - lit(lo)) * lit(HeapsBuckets.toLong) / lit(span))
      .cast("long").as("bkt")
    // pass 1: bounded per-bucket totals -> driver-side exclusive offsets
    val offsets = curve.select(bkt, col("nt"), col("nv"))
      .groupBy(col("bkt")).agg(sum(col("nt")).as("tn"), sum(col("nv")).as("tv"))
      .collect().sortBy(_.getLong(0))
      .scanLeft((-1L, 0L, 0L)) { case ((_, accN, accV), r) =>
        (r.getLong(0), accN + r.getLong(1), accV + r.getLong(2))
      }
    val offDf = s.createDataFrame(s.sparkContext.parallelize(
      offsets.sliding(2).map { case Array((_, n, v), (b, _, _)) =>
        org.apache.spark.sql.Row(b, n, v) }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bkt", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("off_n", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("off_v", org.apache.spark.sql.types.LongType))))
    // pass 2: per-bucket prefix sums + broadcast offsets = global cum
    val inBkt = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve.select(bkt, col("doc_id"), col("nt"), col("nv"))
      .join(broadcast(offDf), Seq("bkt"))
      .withColumn("cum_n", col("off_n") + sum(col("nt")).over(inBkt))
      .withColumn("cum_v", col("off_v") + sum(col("nv")).over(inBkt))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("cum_n")).as("total_tokens"),
        max(col("cum_v")).as("vocab_size"),
        r(regr_slope(log(col("cum_v")), log(col("cum_n"))), 6).as("heaps_beta"),
        r(regr_intercept(log(col("cum_v")), log(col("cum_n"))), 6).as("heaps_lnk"),
        r(regr_r2(log(col("cum_v")), log(col("cum_n"))), 6).as("r2"))
  }

  private val heapsFitSql =
    """WITH toks AS (
         SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         FROM documents),
       per_doc AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY 1),
       firsts AS (
         SELECT fd, count(*) AS nv
         FROM (SELECT w, min(doc_id) AS fd FROM toks GROUP BY 1) GROUP BY 1),
       curve AS (
         SELECT p.doc_id, p.nt, coalesce(f.nv, 0) AS nv,
                sum(p.nt) OVER (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING) AS cum_n,
                sum(coalesce(f.nv, 0)) OVER (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING) AS cum_v
         FROM per_doc p LEFT JOIN firsts f ON p.doc_id = f.fd)
       SELECT count(*) AS n_docs,
              CAST(max(cum_n) AS BIGINT) AS total_tokens,
              CAST(max(cum_v) AS BIGINT) AS vocab_size,
              round(regr_slope(ln(cum_v), ln(cum_n)), 6) AS heaps_beta,
              round(regr_intercept(ln(cum_v), ln(cum_n)), 6) AS heaps_lnk,
              round(regr_r2(ln(cum_v), ln(cum_n)), 6) AS r2
       FROM curve"""

  // ---------------------------------------------------------------
  // 222. Character-class composition profile per (lang, source) — the
  // script/encoding health screen (mojibake, markup bleed, and
  // wrong-script contamination all move these fractions before any
  // model-based signal fires). Counts are length deltas under
  // class-stripping regexes shared verbatim by Java regex and RE2
  // (explicit ASCII ranges only — Java's \s and RE2's \s disagree on
  // \x0B, so the space class is spelled out); "other" (= non-ASCII,
  // e.g. CJK) falls out by subtraction. Pure narrow per-row work +
  // one bounded-key aggregation: embarrassingly parallel at 100 TB.
  private val ClassPats = Seq(
    "alpha" -> "[A-Za-z]",
    "digit" -> "[0-9]",
    "space" -> "[ \\t\\n\\r]",
    "punct" -> "[!-/:-@\\[-`{-~]")

  def charclassProfile(s: SparkSession, dir: String): DataFrame = {
    def cnt(pat: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"), lit(pat), lit("")))).cast("long")
    val perDoc = Tables.documents(s, dir).select(
      col("lang") +: col("source") +: length(col("text")).cast("long").as("n") +:
        ClassPats.map { case (name, pat) => cnt(pat).as(name) }: _*)
    val aggs: Seq[Column] =
      count(lit(1)).as("n_docs") +: sum(col("n")).as("n_chars") +:
        ClassPats.map { case (name, _) =>
          r(sum(col(name)) / sum(col("n")).cast("double"), 6).as(s"${name}_frac")
        } :+ r((sum(col("n")) - ClassPats.map(p => sum(col(p._1))).reduce(_ + _))
          / sum(col("n")).cast("double"), 6).as("other_frac")
    perDoc.groupBy(col("lang"), col("source")).agg(aggs.head, aggs.tail: _*)
  }

  private val charclassProfileSql = {
    val cnts = ClassPats.map { case (name, pat) =>
      val sqlPat = pat.replace("\\\\", "\\") // Scala escapes -> literal regex text
      s"length(text) - length(regexp_replace(text, '$sqlPat', '', 'g')) AS $name"
    }.mkString(",\n                ")
    val fracs = ClassPats.map { case (name, _) =>
      s"round(sum($name) / CAST(sum(n) AS DOUBLE), 6) AS ${name}_frac"
    }.mkString(",\n              ")
    val otherSum = ClassPats.map(p => s"sum(${p._1})").mkString(" - ")
    s"""WITH per_doc AS (
         SELECT lang, source, length(text) AS n,
                $cnts
         FROM documents)
       SELECT lang, source, count(*) AS n_docs,
              CAST(sum(n) AS BIGINT) AS n_chars,
              $fracs,
              round((sum(n) - $otherSum) / CAST(sum(n) AS DOUBLE), 6) AS other_frac
       FROM per_doc GROUP BY 1, 2"""
  }

  // ---------------------------------------------------------------
  // Corpus saturation / novelty curve per source — the planning table
  // behind "is more of this source still worth crawling": ingestion
  // order (doc_id) cut into 10 equal-width batches (the value_per_bin
  // integer-arithmetic contract), per (source, batch) the distinct
  // word-8-gram count seen and the fraction of them appearing for the
  // FIRST time within that source. A saturated/templated source's
  // novelty collapses toward 0 by mid-corpus (the Heap's-law signal
  // heaps_fit fits globally, read as a per-source marginal). Spark
  // shingles ride xxhash64, the oracle raw strings — the established
  // hash≡string count equivalence (#113). One shingle-bounded shuffle
  // for the distinct, two bounded re-aggregations; the distinct's
  // exchange is reused by both branches.
  def ngramNoveltyCurve(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val docs = Tables.documents(s, dir)
    val rng = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val tri = docs.crossJoin(broadcast(rng))
      .withColumn("batch", expr("((doc_id - mn) * 10) div (mx - mn + 1)"))
      .select(col("source"), col("batch"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("source"), col("batch"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), " +
          s"i -> xxhash64(array_join(slice(ws, i, $n), ' ')))")).as("h"))
      .distinct()
    val seen = tri.groupBy(col("source"), col("batch"))
      .agg(count(lit(1)).as("n_seen"))
    val novel = tri.groupBy(col("source"), col("h"))
      .agg(min(col("batch")).as("batch"))
      .groupBy(col("source"), col("batch")).agg(count(lit(1)).as("n_novel"))
    seen.join(novel, Seq("source", "batch"), "left")
      .select(col("source"), col("batch"), col("n_seen"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        r(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_seen"), 6)
          .as("novelty_rate"))
  }

  private val ngramNoveltyCurveSql =
    """WITH rng AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
       toks AS (
         SELECT source, (doc_id - mn) * 10 // (mx - mn + 1) AS batch,
                regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         FROM documents, rng),
       tri AS MATERIALIZED (
         SELECT DISTINCT source, batch,
                array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
         FROM toks, LATERAL unnest(generate_series(1, len(ws) - 7)) AS u(i)
         WHERE len(ws) >= 8),
       seen AS (SELECT source, batch, count(*) AS n_seen FROM tri GROUP BY 1, 2),
       firsts AS (SELECT source, g, min(batch) AS batch FROM tri GROUP BY 1, 2),
       novel AS (SELECT source, batch, count(*) AS n_novel FROM firsts GROUP BY 1, 2)
       SELECT s.source, s.batch, s.n_seen,
              CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
              round(CAST(coalesce(n.n_novel, 0) AS DOUBLE) / s.n_seen, 6) AS novelty_rate
       FROM seen s LEFT JOIN novel n USING (source, batch)"""

  // ---------------------------------------------------------------
  // Token-quota REALIZATION cut — the step between planning a mix
  // (#168/#175 temperature weights and water-filled quotas) and
  // emitting it: per source, which documents make the cut. Budget
  // T = ⌊corpus tokens / 2⌋ allocated ∝ n_s^0.3 (the mBERT/XLM-R
  // temperature contract); selection priority is the content-hash
  // uniform (reproducible on any cluster, no RNG). The scale device:
  // instead of a per-source running-sum window over DOCUMENTS (a
  // fact-sized partition per source — the heaps_fit trap), docs
  // pre-bin into 1024 priority bins; the prefix sum runs over the
  // ≤1024-row bin table per source and the cut keeps whole bins while
  // cumulative tokens ≤ quota (boundary bin resolves exactly within
  // one bounded bin at emit time — documented, not computed here).
  // Output is |sources| rows: quota, cut bin, kept docs/tokens,
  // realization fraction.
  def tokenQuotaCut(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .cast("long").as("nt"))
      .withColumn("u", graft.api.Analytics.hashUniform(col("doc_id")))
      .withColumn("bin", least(floor(col("u") * lit(1024.0)), lit(1023L)))
    val bins = docs.groupBy(col("source"), col("bin"))
      .agg(sum(col("nt")).as("bt"), count(lit(1)).as("bd"))
    val src = bins.groupBy(col("source")).agg(sum(col("bt")).as("n_tokens"))
    val tot = src.agg(sum(col("n_tokens")).as("t_all"),
      sum(pow(col("n_tokens").cast("double"), lit(0.3))).as("z"))
    val quota = src.crossJoin(broadcast(tot))
      .select(col("source"),
        floor(col("t_all").cast("double") / lit(2.0)
          * pow(col("n_tokens").cast("double"), lit(0.3)) / col("z"))
          .cast("long").as("quota_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = bins.join(broadcast(quota), "source")
      .withColumn("cum_t", sum(col("bt")).over(w))
      .withColumn("cum_d", sum(col("bd")).over(w))
      .filter(col("cum_t") <= col("quota_tokens"))
      .groupBy(col("source"), col("quota_tokens"))
      .agg(max(col("bin")).as("cut_bin"),
        max(col("cum_d")).as("kept_docs"),
        max(col("cum_t")).as("kept_tokens"))
    quota.join(kept, Seq("source", "quota_tokens"), "left")
      .select(col("source"), col("quota_tokens"),
        coalesce(col("cut_bin"), lit(-1L)).as("cut_bin"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        r(coalesce(col("kept_tokens"), lit(0L)).cast("double")
          / col("quota_tokens"), 6).as("realized_frac"))
  }

  private val tokenQuotaCutSql = {
    val md5k = "md5(CAST(doc_id AS VARCHAR))"
    val u = (1 to 6).map { i =>
      s"(strpos('0123456789abcdef', substr($md5k,$i,1))-1)*${math.pow(16, 6 - i)}"
    }.mkString("((", "\n                 + ", " + 1.0) / 16777217.0)")
    s"""WITH docs AS (
         SELECT source,
                CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nt,
                least(CAST(floor($u * 1024.0) AS BIGINT), 1023) AS bin
         FROM documents),
       bins AS MATERIALIZED (
         SELECT source, bin, CAST(sum(nt) AS BIGINT) AS bt, count(*) AS bd
         FROM docs GROUP BY 1, 2),
       src AS (SELECT source, CAST(sum(bt) AS BIGINT) AS n_tokens FROM bins GROUP BY 1),
       tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_all,
                      sum(pow(CAST(n_tokens AS DOUBLE), 0.3)) AS z FROM src),
       quota AS MATERIALIZED (
         SELECT source,
                CAST(floor(CAST(t_all AS DOUBLE) / 2.0
                  * pow(CAST(n_tokens AS DOUBLE), 0.3) / z) AS BIGINT) AS quota_tokens
         FROM src, tot),
       cums AS (
         SELECT b.source, q.quota_tokens, b.bin,
                CAST(sum(b.bt) OVER (PARTITION BY b.source ORDER BY b.bin ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_t,
                CAST(sum(b.bd) OVER (PARTITION BY b.source ORDER BY b.bin ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_d
         FROM bins b JOIN quota q USING (source)),
       kept AS (
         SELECT source, quota_tokens, max(bin) AS cut_bin,
                max(cum_d) AS kept_docs, max(cum_t) AS kept_tokens
         FROM cums WHERE cum_t <= quota_tokens GROUP BY 1, 2)
       SELECT q.source, q.quota_tokens,
              coalesce(k.cut_bin, -1) AS cut_bin,
              CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs,
              CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
              round(CAST(coalesce(k.kept_tokens, 0) AS DOUBLE) / q.quota_tokens, 6)
                AS realized_frac
       FROM quota q LEFT JOIN kept k USING (source, quota_tokens)"""
  }

  // ---------------------------------------------------------------
  // 310. Count-Min sketch frequency estimates (Cormode & Muthukrishnan
  // 2005) — the missing member of the sketch family (#145 Misra-Gries
  // keeps the TOP-k; #55 HLL counts DISTINCTS; #92 bloom answers
  // membership; CMS answers "how often does ANY key occur" in
  // d·w counters): d=4 rows × w=64 buckets (256 cells), bucket_j(key) = the
  // first-4-hex-digit integer of md5(key·'|'·j) mod w (the repo's
  // md5-replay convention, ALL-INTEGER — the whole query is
  // hash-exact). Keys are word BIGRAMS (the unigram vocabulary of this
  // synthetic corpus is 31 words — smaller than any useful sketch; the
  // ~31² bigram universe over w=64 buckets forces the collisions the
  // sketch trades away, so the error column is live, not zero).
  // counters = one groupBy over (row, bucket) — map-side
  // combined, d·w = 256 cells total on the exchange regardless of
  // corpus size (THE streaming/distributed frequency sketch; the
  // mergeability this table demonstrates is why CMS ships in every
  // stream processor). The eval table: top-100 words by true count,
  // true vs estimate vs overestimate (CMS never underestimates — the
  // spec-worthy invariant; with ~vocab≫w collisions the error column
  // is the ε·N bound made visible).
  private val CmsD = 4
  private val CmsW = 64

  /** All-integer md5 bucket: first 4 hex digits of md5(key|row) mod w. */
  private def cmsBucket(key: Column, j: Int): Column = {
    val hex = md5(concat(key, lit(s"|$j")))
    val v = (1 to 4).map { i =>
      (call_function("locate", substring(hex, i, 1), lit("0123456789abcdef"))
        .cast("long") - 1L) * lit(math.pow(16, 4 - i).toLong)
    }.reduce(_ + _)
    pmod(v, lit(CmsW.toLong))
  }

  private def cmsBucketSql(keyExpr: String, j: Int): String = {
    val md5k = s"md5($keyExpr || '|$j')"
    val v = (1 to 4).map { i =>
      s"(strpos('0123456789abcdef', substr($md5k,$i,1))-1)*${math.pow(16, 4 - i).toLong}"
    }.mkString("(", " + ", ")")
    s"($v % $CmsW)"
  }

  def cmsFrequency(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))")).as("w"))
    val truth = words.groupBy(col("w")).agg(count(lit(1)).as("true_count"))
    // d (row, bucket) keys per distinct word WITH its count — the
    // vocab-bounded frame both the counter agg and the probe read
    // (localCheckpoint: referenced twice, vocab-sized)
    val wb = truth
      .select(col("w"), col("true_count"),
        explode(array((0 until CmsD).map(lit): _*)).as("j"))
      .withColumn("bucket",
        (0 until CmsD).foldLeft(lit(-1L)) { (acc, j) =>
          when(col("j") === j, cmsBucket(col("w"), j)).otherwise(acc)
        })
      .localCheckpoint()
    val counters = wb.groupBy(col("j"), col("bucket"))
      .agg(sum(col("true_count")).as("cnt"))
    val est = wb
      .join(counters, Seq("j", "bucket"))
      .groupBy(col("w"), col("true_count"))
      .agg(min(col("cnt")).as("cms_est"))
    // global top-100 via orderBy+limit → TakeOrderedAndProject (the
    // pmi_bigrams precedent), never an unpartitioned rank window over
    // the vocabulary; the rk window after limit sees ≤ 100 rows
    val w = Window.orderBy(col("true_count").desc, col("w").asc)
    est
      .orderBy(col("true_count").desc, col("w").asc)
      .limit(100)
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("w").as("word"), col("true_count"), col("cms_est"),
        (col("cms_est") - col("true_count")).as("overestimate"), col("rk"))
  }

  private val cmsFrequencySql = {
    val bs = (0 until CmsD).map(j => s"SELECT $j AS j, ${cmsBucketSql("w", j)} AS bucket")
    s"""WITH truth AS MATERIALIZED (
       |  SELECT ws[CAST(t.i AS INT)] || ' ' || ws[CAST(t.i + 1 AS INT)] AS w,
       |         count(*)::BIGINT AS true_count
       |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
       |       LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)
       |  WHERE len(ws) >= 2
       |  GROUP BY 1),
       |wb AS MATERIALIZED (
       |  SELECT w, true_count, b.j, b.bucket
       |  FROM truth, LATERAL (
       |    ${bs.mkString(" UNION ALL\n    ")}) b),
       |counters AS (SELECT j, bucket, sum(true_count)::BIGINT AS cnt FROM wb GROUP BY 1, 2),
       |est AS (
       |  SELECT wb.w, wb.true_count, min(c.cnt) AS cms_est
       |  FROM wb JOIN counters c USING (j, bucket)
       |  GROUP BY 1, 2),
       |rk AS (
       |  SELECT w AS word, true_count, cms_est,
       |         cms_est - true_count AS overestimate,
       |         row_number() OVER (ORDER BY true_count DESC, w ASC) AS rk
       |  FROM est)
       |SELECT word, true_count, cms_est, overestimate, rk::BIGINT AS rk
       |FROM rk WHERE rk <= 100""".stripMargin
  }

  // ---------------------------------------------------------------
  // 348. Good-Turing frequency smoothing over word bigrams (Good 1953;
  // the Katz-backoff numerator and the classic unseen-mass estimate) —
  // the count-of-counts table N_r, the smoothed count r* =
  // (r+1)·N_{r+1}/N_r, the GT probability r*/N vs the MLE r/N, and the
  // leave-one-out unseen mass N_1/N that tells a curation pipeline how
  // much bigram probability its corpus has never seen. Bigrams (not
  // unigrams) because this corpus's unigram tail is degenerate — every
  // word repeats hundreds of times, N_1 = 0. Scale shape: one bigram
  // rollup (vocab²-bounded keys, map-side partials), then N_r is a
  // |distinct r|-row table — everything after the first agg is bounded.
  def goodTuringMass(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
    val bg = words.select(explode(expr(
        """zip_with(slice(ws, 1, greatest(size(ws)-1, 0)),
           slice(ws, 2, greatest(size(ws)-1, 0)),
           (a, b) -> concat(a, ' ', b))""")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("r"))
    val nr = bg.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val tot = nr.agg(sum(col("r") * col("n_r")).cast("double").as("n_tokens"))
    val n1 = nr.filter(col("r") === 1)
      .agg(sum(col("n_r")).as("n1"))
    val nx = nr.select((col("r") - lit(1L)).as("r"), col("n_r").as("n_next"))
    val gt = (col("r") + 1).cast("double") * col("n_next") / col("n_r")
    nr.join(nx, Seq("r"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(n1))
      .select(col("r"), col("n_r"),
        round(when(col("n_next").isNotNull, gt), 6).as("r_star"),
        round(when(col("n_next").isNotNull, gt / col("n_tokens")), 9).as("p_gt"),
        round(col("r") / col("n_tokens"), 9).as("p_mle"),
        round(coalesce(col("n1"), lit(0L)) / col("n_tokens"), 6).as("unseen_mass"))
  }

  private val goodTuringMassSql =
    """WITH dw AS (
         SELECT doc_id, w, idx FROM (
           SELECT doc_id,
                  unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w,
                  generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'), 1) AS idx
           FROM documents)),
       bg AS (
         SELECT a.w || ' ' || b.w AS g
         FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND b.idx = a.idx + 1),
       wc AS (SELECT g, count(*) AS r FROM bg GROUP BY 1),
       nr AS (SELECT r, count(*) AS n_r FROM wc GROUP BY 1),
       tot AS (SELECT CAST(sum(r * n_r) AS DOUBLE) AS n_tokens FROM nr),
       n1 AS (SELECT coalesce(sum(n_r), 0) AS n1 FROM nr WHERE r = 1)
       SELECT nr.r, nr.n_r,
         round(CASE WHEN nx.n_r IS NOT NULL
           THEN (nr.r + 1) * nx.n_r / CAST(nr.n_r AS DOUBLE) END, 6) AS r_star,
         round(CASE WHEN nx.n_r IS NOT NULL
           THEN ((nr.r + 1) * nx.n_r / CAST(nr.n_r AS DOUBLE)) / t.n_tokens END, 9) AS p_gt,
         round(nr.r / t.n_tokens, 9) AS p_mle,
         round(n1.n1 / t.n_tokens, 6) AS unseen_mass
       FROM nr LEFT JOIN nr nx ON nx.r = nr.r + 1
       CROSS JOIN tot t CROSS JOIN n1"""

  // ---------------------------------------------------------------
  // 353/354. Unigram-LM tokenizer trainer + encode (Kudo 2018 —
  // SentencePiece's default algorithm; the other side of the BPE-vs-
  // unigram decision every modern tokenizer build compares, r14
  // verdict item 6). Hard-EM (Viterbi) variant so the whole training
  // trajectory is oracle-replayable:
  //
  //   seed   = every substring (len ≤ 4) of the word-frequency dict,
  //            count-weighted (the SentencePiece seed lattice);
  //   E-step = per dict word, the max-likelihood segmentation under
  //            the current piece scores (Viterbi DP);
  //   M-step = piece usage (frequency-weighted) renormalized;
  //            zero-usage single chars survive with a byte-fallback
  //            penalty (coverage guarantee), zero-usage multi-char
  //            pieces are pruned. 3 unrolled EM rounds.
  //
  // Determinism contract: piece log-probs are quantized to BIGINT
  // micro-nats (round(ln(p)·1e6)) so every DP comparison is integer-
  // exact in both engines; score ties break by (fewer pieces, then
  // lexicographically smaller segmentation path) — a total order, so
  // the argmax is iteration-order-independent. The DP itself is a
  // codegen'd aggregate() fold over a per-word match list on the Spark
  // side and a 4-slot-frontier recursive CTE on the DuckDB side
  // (MaxLen = 4 bounds the lookback window).
  //
  // Scale shape (the #220 BPE contract): the only corpus-wide passes
  // are the word count (training) and the word→dict join (encode);
  // the 3 EM rounds shuffle dict-bounded tables (substring lattice ≤
  // |vocab|·len·4 rows) and the DP is a per-dict-row codegen'd fold.
  // Trained state is memoized per (session, dir) like deepBpeState:
  // #353 and #354 pay one training between them.
  private val UniRounds = 3
  private val UniMaxLen = 4
  private val UniPenaltyMicroNats = -1000000000L

  private def uniSubs(dict: DataFrame): DataFrame =
    dict.select(col("w"), col("wc"), explode(expr(
        s"""flatten(transform(sequence(1, length(w)), ss ->
              transform(sequence(1, least($UniMaxLen, length(w) - ss + 1)),
                ll -> named_struct('s', ss, 'l', ll,
                  'piece', substring(w, ss, ll)))))""")).as("m"))
      .select(col("w"), col("wc"), col("m.s").as("s"), col("m.l").as("l"),
        col("m.piece").as("piece"))

  /** usage (piece, cnt) → scored vocab (piece, cnt, lp) with lp in
    * integer micro-nats. The 1-row total rides a broadcast scaffold
    * (PlanSpec bounded-scaffold contract). */
  private def uniVocabFrom(usage: DataFrame): DataFrame = {
    val tot = usage.agg(sum(col("cnt")).cast("double").as("total"))
    usage.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        expr("CAST(round(ln(cnt / total) * 1e6) AS BIGINT)").as("lp"))
  }

  private def uniMatches(subs: DataFrame, vocab: DataFrame): DataFrame =
    subs.join(vocab.select(col("piece"), col("lp")), "piece")
      .groupBy(col("w"), col("wc"))
      .agg(sort_array(collect_list(
        struct(col("s"), col("l"), col("lp"), col("piece")))).as("ms"))

  /** Viterbi over one word: fold positions 1..len(w) carrying the best
    * state for the last 4 prefix lengths (b0 = prefix j-1 … b3 = j-4);
    * a piece of length l ending at j reads slot l-1. The inner argmax
    * is an explicit total-order comparator, so ties are deterministic. */
  private val uniDpExpr = expr(s"""
    aggregate(
      sequence(1, length(w)),
      named_struct(
        'b0', named_struct('sc', CAST(0 AS BIGINT), 'np', 0, 'path', ''),
        'b1', named_struct('sc', CAST(0 AS BIGINT), 'np', 0, 'path', ''),
        'b2', named_struct('sc', CAST(0 AS BIGINT), 'np', 0, 'path', ''),
        'b3', named_struct('sc', CAST(0 AS BIGINT), 'np', 0, 'path', '')),
      (st, j) -> named_struct(
        'b0', aggregate(
          transform(
            transform(
              filter(ms, m -> m.s + m.l = j + 1),
              m -> named_struct('m', m, 'pv',
                CASE m.l WHEN 1 THEN st.b0 WHEN 2 THEN st.b1
                         WHEN 3 THEN st.b2 ELSE st.b3 END)),
            t -> named_struct('sc', t.pv.sc + t.m.lp, 'np', t.pv.np + 1,
              'path', concat(t.pv.path, ' ', t.m.piece))),
          named_struct('sc', CAST(-1000000000000000 AS BIGINT), 'np', 0, 'path', ''),
          (a, c) -> CASE WHEN c.sc > a.sc OR (c.sc = a.sc AND (c.np < a.np OR
            (c.np = a.np AND c.path < a.path))) THEN c ELSE a END),
        'b1', st.b0, 'b2', st.b1, 'b3', st.b2),
      st -> st.b0)""")

  private val uniCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long, Unit), (DataFrame, DataFrame)]()
  graft.api.Memo.register(() => uniCache.clear())

  /** (final scored vocab (piece, cnt, lp), final per-word segmentation
    * (w, wc, np, path)) after [[UniRounds]] hard-EM rounds. */
  private[graft] def uniState(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.api.Memo.stamped(uniCache, s, dir, ()) {
      val dict = Tables.documents(s, dir)
        .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      val subs = uniSubs(dict).localCheckpoint()
      val chars = subs.filter(col("l") === 1).select(col("piece")).distinct()
      var vocab = uniVocabFrom(
        subs.groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))).localCheckpoint()
      var dp: DataFrame = null
      (1 to UniRounds).foreach { _ =>
        dp = uniMatches(subs, vocab).withColumn("b", uniDpExpr)
          .select(col("w"), col("wc"), col("b.np").as("np"), col("b.path").as("path"))
          .localCheckpoint()
        val usage = dp
          .select(col("wc"), explode(expr("filter(split(path, ' '), x -> x != '')")).as("piece"))
          .groupBy(col("piece")).agg(sum(col("wc")).as("cnt"))
        vocab = uniVocabFrom(usage).unionByName(
            chars.join(usage, Seq("piece"), "left_anti")
              .select(col("piece"), lit(0L).as("cnt"),
                lit(UniPenaltyMicroNats).as("lp")))
          .localCheckpoint()
      }
      (vocab, dp)
    }

  /** #353: the trained piece inventory (SentencePiece's vocab face):
    * piece, length, frequency-weighted usage, renormalized probability. */
  def unigramLmTrain(s: SparkSession, dir: String): DataFrame = {
    val v = uniState(s, dir)._1
    val tot = v.agg(sum(col("cnt")).cast("double").as("total"))
    v.crossJoin(broadcast(tot)).select(
      col("piece"), length(col("piece")).cast("long").as("piece_len"),
      col("cnt").as("usage"),
      r(col("cnt") / col("total"), 6).as("prob"))
  }

  /** #354: the apply side — per-doc token accounting under the trained
    * vocab (the corpus-side fertility audit; mirrors #246 bpe_encode so
    * the BPE-vs-unigram comparison reads off the same columns). */
  def unigramLmEncode(s: SparkSession, dir: String): DataFrame = {
    val dp = uniState(s, dir)._2
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .join(dp.select(col("w"), col("np").cast("long").as("nt")), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("nt")).as("n_tokens"),
        r(sum(col("nt")) / count(lit(1)).cast("double"), 6).as("tokens_per_word"))
  }

  private def uniRoundSql(r: Int): String = {
    val v = s"v${r - 1}"
    s"""um$r AS MATERIALIZED (
    SELECT s.w, any_value(s.wc) AS wc,
           list({'s': s.s, 'l': s.l, 'lp': v.lp, 'p': s.piece} ORDER BY s.s, s.l) AS ms
    FROM usubs s JOIN $v v ON v.piece = s.piece GROUP BY s.w),
  step$r AS (
    SELECT w, wc, ms, length(w) AS len, 0 AS j,
           {'sc': 0::BIGINT, 'np': 0, 'path': ''} AS b0,
           {'sc': 0::BIGINT, 'np': 0, 'path': ''} AS b1,
           {'sc': 0::BIGINT, 'np': 0, 'path': ''} AS b2,
           {'sc': 0::BIGINT, 'np': 0, 'path': ''} AS b3
    FROM um$r
    UNION ALL
    SELECT w, wc, ms, len, j + 1,
      list_reduce(
        list_transform(
          list_transform(list_filter(ms, m -> m.s + m.l = j + 2),
            m -> {'m': m, 'pv': CASE m.l WHEN 1 THEN b0 WHEN 2 THEN b1 WHEN 3 THEN b2 ELSE b3 END}),
          t -> {'sc': t.pv.sc + t.m.lp, 'np': t.pv.np + 1, 'path': t.pv.path || ' ' || t.m.p}),
        (a, c) -> CASE WHEN c.sc > a.sc OR (c.sc = a.sc AND (c.np < a.np OR (c.np = a.np AND c.path < a.path))) THEN c ELSE a END),
      b0, b1, b2
    FROM step$r WHERE j < len),
  dpf$r AS MATERIALIZED (SELECT w, wc, b0.path AS path, b0.np AS np FROM step$r WHERE j = len),
  u$r AS MATERIALIZED (
    SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt
    FROM (SELECT wc, unnest(string_split(substr(path, 2), ' ')) AS piece FROM dpf$r)
    GROUP BY 1),
  v$r AS MATERIALIZED (
    SELECT piece, cnt, CAST(round(ln(cnt / t.total) * 1e6) AS BIGINT) AS lp
    FROM u$r, (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM u$r) t
    UNION ALL
    SELECT c.piece, 0::BIGINT, $UniPenaltyMicroNats::BIGINT
    FROM uchars c WHERE c.piece NOT IN (SELECT piece FROM u$r))"""
  }

  private lazy val uniPrefixSql: String = {
    val rounds = (1 to UniRounds).map(uniRoundSql).mkString(",\n  ")
    s"""WITH RECURSIVE uwords AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
  ud0 AS MATERIALIZED (SELECT w, count(*) AS wc FROM uwords GROUP BY 1),
  usubs AS MATERIALIZED (
    SELECT w, wc, m.s AS s, m.l AS l, substr(w, m.s, m.l) AS piece
    FROM (SELECT w, wc,
            unnest(flatten(list_transform(range(1, length(w)+1),
              ss -> list_transform(range(1, least($UniMaxLen, length(w)-ss+1)+1),
                     ll -> {'s': ss, 'l': ll})))) AS m
          FROM ud0)),
  uchars AS MATERIALIZED (SELECT DISTINCT piece FROM usubs WHERE l = 1),
  useed AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS cnt FROM usubs GROUP BY 1),
  v0 AS MATERIALIZED (
    SELECT piece, cnt, CAST(round(ln(cnt / t.total) * 1e6) AS BIGINT) AS lp
    FROM useed, (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM useed) t),
  $rounds"""
  }

  private lazy val unigramLmTrainSql: String = uniPrefixSql + s"""
  SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len, cnt AS usage,
         round(cnt / (SELECT CAST(sum(cnt) AS DOUBLE) FROM v$UniRounds), 6) AS prob
  FROM v$UniRounds"""

  private lazy val unigramLmEncodeSql: String = uniPrefixSql + s""",
  udocw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
  SELECT dw.doc_id, count(*) AS n_words,
         CAST(sum(d.np) AS BIGINT) AS n_tokens,
         round(sum(d.np) / CAST(count(*) AS DOUBLE), 6) AS tokens_per_word
  FROM udocw dw JOIN dpf$UniRounds d USING (w)
  GROUP BY 1"""

  // ---------------------------------------------------------------
  // 359. BPE-vs-unigram fertility comparison — the decision table the
  // two trainers exist for (every tokenizer bake-off reads exactly
  // this): per doc, token counts under the 5-round BPE dict (#246) and
  // the 3-round unigram vocab (#354), tokens/word for each, and the
  // unigram/BPE ratio. Both trained states are memoized, so the
  // comparison pays one training per side; the corpus-wide passes are
  // the two word→dict joins.
  def tokenizerCompare(s: SparkSession, dir: String): DataFrame = {
    val b = bpeEncode(s, dir)
      .select(col("doc_id"), col("n_words"), col("n_tokens").as("bpe_tokens"))
    val u = unigramLmEncode(s, dir)
      .select(col("doc_id"), col("n_tokens").as("uni_tokens"))
    b.join(u, "doc_id").select(col("doc_id"), col("n_words"),
      col("bpe_tokens"), col("uni_tokens"),
      r(col("bpe_tokens") / col("n_words").cast("double"), 6).as("bpe_tpw"),
      r(col("uni_tokens") / col("n_words").cast("double"), 6).as("uni_tpw"),
      r(col("uni_tokens") / col("bpe_tokens").cast("double"), 6).as("uni_over_bpe"))
  }

  private lazy val tokenizerCompareSql: String = {
    val rounds = (1 to BpeRounds).map(bpeRoundSql).mkString(",\n       ")
    uniPrefixSql + s""",
  words AS (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
  d0 AS MATERIALIZED (
    SELECT w, count(*) AS wc,
           list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
    FROM words GROUP BY 1),
  $rounds,
  docw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents),
  be AS (SELECT dw.doc_id, count(*) AS n_words,
                CAST(sum(len(d.syms)) AS BIGINT) AS bpe_tokens
         FROM docw dw JOIN d$BpeRounds d USING (w) GROUP BY 1),
  ue AS (SELECT dw.doc_id, CAST(sum(d.np) AS BIGINT) AS uni_tokens
         FROM docw dw JOIN dpf$UniRounds d USING (w) GROUP BY 1)
  SELECT be.doc_id, be.n_words, be.bpe_tokens, ue.uni_tokens,
         round(bpe_tokens / CAST(n_words AS DOUBLE), 6) AS bpe_tpw,
         round(uni_tokens / CAST(n_words AS DOUBLE), 6) AS uni_tpw,
         round(uni_tokens / CAST(bpe_tokens AS DOUBLE), 6) AS uni_over_bpe
  FROM be JOIN ue USING (doc_id)"""
  }

  private val RangeOrTotalAttach =
    "ngram_novelty_curve attaches the 1-row doc_id range (the value_per_bin precedent); " +
      "token_quota_cut attaches the 1-row corpus-total/normalizer agg (the " +
      "token_budget_alloc precedent)"

  val ops: Seq[Op] = Seq(
    Op("unigram_lm_train", unigramLmTrain _, Oracle(unigramLmTrainSql),
      quadratic = Some(Reasons.RoundScalarAttach)),
    Op("unigram_lm_encode", unigramLmEncode _, Oracle(unigramLmEncodeSql),
      quadratic = Some(Reasons.RoundScalarAttach)),
    Op("tokenizer_compare", tokenizerCompare _, Oracle(tokenizerCompareSql),
      quadratic = Some("tokenizer_compare joins the two memoized encode outputs and " +
        "inherits the unigram scalar-attach scaffolds")),
    Op("good_turing_mass", goodTuringMass _, Oracle(goodTuringMassSql),
      quadratic = Some(Reasons.BoundedScaffolds)),
    Op("cms_frequency", cmsFrequency _, Oracle(cmsFrequencySql),
      globalWindow = Some("post-limit top-100 rank (TakeOrdered feeds it)")),
    Op("token_quota_cut", tokenQuotaCut _, Oracle(tokenQuotaCutSql),
      quadratic = Some(RangeOrTotalAttach)),
    Op("ngram_novelty_curve", ngramNoveltyCurve _, Oracle(ngramNoveltyCurveSql),
      quadratic = Some(RangeOrTotalAttach)),
    Op("bpe_merges", bpeMerges _, Oracle(bpeMergesSql)),
    Op("bpe_merge_curve", bpeMergeCurve _, Oracle(bpeMergeCurveSql)),
    Op("bpe_train_deep", bpeTrainDeep _, Oracle(bpeTrainDeepSql)),
    Op("bpe_vocab_inventory", bpeVocabInventory _, Oracle(bpeVocabInventorySql)),
    Op("word_burstiness", wordBurstiness _, Oracle(wordBurstinessSql)),
    Op("hapax_rate", hapaxRate _, Oracle(hapaxRateSql)),
    Op("bpe_encode", bpeEncode _, Oracle(bpeEncodeSql)),
    Op("heaps_fit", heapsFit _, Oracle(heapsFitSql)),
    Op("charclass_profile", charclassProfile _, Oracle(charclassProfileSql)))
}
