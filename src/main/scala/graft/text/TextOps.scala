package graft.text

import graft.{Op, Reasons, Tables}, Op.{Oracle, RowsOnly}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for LLM-data pipelines (SURVEY.md §2.5): token stats,
  * quality scoring, language ID, document fingerprinting.
  *
  * Everything is per-row narrow computation — zero shuffles, full
  * whole-stage codegen, embarrassingly parallel at 100 TB. Regexes are
  * chosen to evaluate identically under Java regex (Spark) and RE2
  * (DuckDB oracle): no backrefs, no lookaround, shared escapes only.
  */
object TextOps extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  /** #occurrences of pattern (both engines: size of extract-all). */
  private def reCount(c: Column, pat: String): Column =
    size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")

  /** #occurrences of a literal token in a space-padded haystack via the
    * replace-count trick — identical non-overlapping semantics in Spark
    * and DuckDB, no regex dialect risk. */
  private def tokenCount(padded: Column, tok: String): Column =
    ((length(padded) - length(regexp_replace(padded, lit(java.util.regex.Pattern.quote(tok)), lit(""))))
      / lit(tok.length)).cast("long")

  private def tokenCountSql(padded: String, tok: String): String =
    s"CAST((length($padded) - length(replace($padded, '$tok', ''))) / ${tok.length} AS BIGINT)"

  // ---------------------------------------------------------------
  // 40. token counting: whitespace tokens + BPE-ish regex tokens
  // (letter runs / single digits / single punctuation — a GPT-2-flavored
  // pre-tokenizer shape).
  private val bpePat = "[a-z]+|[0-9]|[^a-z0-9 ]"

  def textTokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      reCount(col("text"), "\\S+").as("n_ws_tokens"),
      reCount(lower(col("text")), bpePat).as("n_bpe_tokens"))

  // ---------------------------------------------------------------
  // 41. quality scoring: punctuation / digit / stopword / uppercase
  // ratios plus a blended score — the standard pre-training corpus
  // filter features (length-normalized, all deterministic).
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val len = length(col("text")).cast("double")
    val nWs = reCount(col("text"), "\\S+").cast("double")
    val stops = reCount(lower(col("text")), "\\b(the|and|of|to|in|is|a)\\b").cast("double")
    Tables.documents(s, dir).select(
      col("doc_id"),
      nWs.cast("long").as("n_ws_tokens"),
      r(reCount(col("text"), "[.,;:!?]") / len, 6).as("punct_ratio"),
      r(reCount(col("text"), "[0-9]") / len, 6).as("digit_ratio"),
      r(reCount(col("text"), "[A-Z]") / len, 6).as("upper_ratio"),
      r(stops / nWs, 6).as("stop_ratio"),
      r(lit(0.4) * (stops / nWs) + lit(0.3) * least(lit(1.0), nWs / 100.0)
        + lit(0.3) * (lit(1.0) - reCount(col("text"), "[0-9]") / len), 6).as("quality"))
  }

  // ---------------------------------------------------------------
  // 313. per-doc Shannon entropy, character- and word-level — the
  // gibberish/keyboard-mash/compression-twin quality signal (low char
  // entropy = repeated-char spam; low word entropy on a long doc =
  // template boilerplate; both are standard web-corpus filters beside
  // #41's ratios and #166's compression proxy). Entropy is computed in
  // COUNT space (the #105 entropy_by_group determinism contract):
  // −Σ p·ln p = ln n − (Σ c·ln c)/n — ln only ever sees integer-valued
  // doubles, so Spark and DuckDB agree bit-for-bit and 6 dp rounding
  // is cosmetic. Two narrow explode→count shuffles keyed (doc, token);
  // per-doc alphabet ≤ charset / vocab, no wide state anywhere.
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), lower(col("text")).as("t"))
    def ent(tokens: DataFrame, prefix: String): DataFrame = tokens
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("k"),
        (-sum(col("c") * log(col("c")))).as("p"))
      .select(col("doc_id"), col("n").as(s"n_${prefix}s"),
        col("k").as(s"${prefix}_alphabet"),
        r(log(col("n")) + col("p") / col("n"), 6).as(s"${prefix}_entropy"))
    val chars = ent(d.select(col("doc_id"), explode(split(col("t"), "")).as("tok")), "char")
    val words = ent(d.select(col("doc_id"),
      explode(expr("regexp_extract_all(t, '[a-z0-9]+', 0)")).as("tok")), "word")
    chars.join(words, Seq("doc_id"), "left")
  }

  // ---------------------------------------------------------------
  // 333. readability scores, ARI + Coleman-Liau (Senter & Smith 1967;
  // Coleman & Liau 1975) — the two classical grade-level formulas that
  // need NO syllable dictionary (pure character/word/sentence counts,
  // so they run deterministic and codegen'd where Flesch-Kincaid's
  // syllable heuristic would drift between engines). Training-data
  // pipelines bucket corpora by grade level for curriculum mixes and
  // filter the <1st-grade tail (boilerplate/listicles) — this is that
  // signal. Sentence count floors at 1 (headline-only docs). Narrow
  // per-row compute, zero shuffles, the #41 contract.
  // The grade formulas are computed as ONE division of two exact
  // BIGINT products — 4.71·c/w + 0.5·w/s − 21.43 =
  // (4710·c·s + 500·w² − 21430·w·s)/(1000·w·s) — so both engines
  // divide the same two exactly-representable integers and the double
  // is bit-identical with NO rounding step (the first 6-dp-rounded
  // form hit a round-half boundary: Spark HALF_UP vs DuckDB half-even
  // disagreed on an exact …5·10⁻⁷). Exactness envelope: products stay
  // under 2⁵³ for chars·sentences < 1.9e9 — any real document.
  // ARI counts alphanumerics (digits canonical there); Coleman-Liau's
  // L is defined over LETTERS only — counting digits inflated the
  // grade for digit-heavy docs (r12 ADVICE; both engines now use
  // [A-Za-z] for the CLI count, alphanumerics for ARI).
  def readability(s: SparkSession, dir: String): DataFrame = {
    val chars = reCount(col("text"), "[A-Za-z0-9]")
    val letters = reCount(col("text"), "[A-Za-z]")
    val words = greatest(reCount(col("text"), "\\S+"), lit(1L))
    val sents = greatest(reCount(col("text"), "[.!?]+"), lit(1L))
    val ari = (lit(4710L) * chars * sents + lit(500L) * words * words
      - lit(21430L) * words * sents).cast("double") /
      (lit(1000L) * words * sents).cast("double")
    val cli = (lit(5880L) * letters - lit(29600L) * sents
      - lit(15800L) * words).cast("double") / (lit(1000L) * words).cast("double")
    Tables.documents(s, dir).select(
      col("doc_id"),
      chars.as("n_an_chars"),
      letters.as("n_letters"),
      words.as("n_words"),
      sents.as("n_sentences"),
      ari.as("ari"),
      cli.as("coleman_liau"))
  }

  private val readabilitySql = {
    val chars = "CAST(len(regexp_extract_all(text, '[A-Za-z0-9]')) AS BIGINT)"
    val letters = "CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT)"
    val words = raw"CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS BIGINT)"
    val sents = "CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)"
    s"""SELECT doc_id,
        $chars AS n_an_chars,
        $letters AS n_letters,
        $words AS n_words,
        $sents AS n_sentences,
        CAST(4710 * $chars * $sents + 500 * $words * $words
             - 21430 * $words * $sents AS DOUBLE)
          / CAST(1000 * $words * $sents AS DOUBLE) AS ari,
        CAST(5880 * $letters - 29600 * $sents - 15800 * $words AS DOUBLE)
          / CAST(1000 * $words AS DOUBLE) AS coleman_liau
        FROM documents"""
  }

  // ---------------------------------------------------------------
  // 334. blocklist phrase filter — the UT1/URL-blocklist front door
  // every web-corpus pipeline runs before any model-based signal
  // (C4 dropped pages on the "List of Dirty, Naughty …" wordlist;
  // RefinedWeb/Dolma keep curated term blocklists): word-level exact
  // match of a broadcast-small term list against the token stream,
  // emitting total hits, distinct terms hit, and the block decision
  // (≥3 hits — an integer threshold, no fp edge). The list rides the
  // lambda literal (array_contains over a 4-term array) so the match
  // stays inside whole-stage codegen — no join, no shuffle, linear
  // scan; a 100k-term production list swaps in as a broadcast join or
  // an Aho-Corasick native expression without changing the contract.
  private val blockTerms = Seq("slow", "big", "merge", "spam")

  def blocklistFilter(s: SparkSession, dir: String): DataFrame = {
    val arr = blockTerms.map(t => s"'$t'").mkString("array(", ", ", ")")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        expr(s"CAST(size(filter(ws, t -> array_contains($arr, t))) AS BIGINT)")
          .as("n_hits"),
        expr(s"CAST(size(filter(array_distinct(ws), t -> array_contains($arr, t))) AS BIGINT)")
          .as("n_terms_hit"))
      .withColumn("blocked", col("n_hits") >= 3)
  }

  private val blocklistFilterSql = {
    val arr = blockTerms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
        CAST(len(ws) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(ws, t -> list_contains($arr, t))) AS BIGINT) AS n_hits,
        CAST(len(list_filter(list_distinct(ws), t -> list_contains($arr, t))) AS BIGINT) AS n_terms_hit,
        len(list_filter(ws, t -> list_contains($arr, t))) >= 3 AS blocked
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
              FROM documents)"""
  }

  // ---------------------------------------------------------------
  // 335. OOV rate against the corpus top-V vocabulary — the tokenizer-
  // coverage eval run before freezing a vocab (the apply-side sibling
  // of #183's fertility: fertility prices IN-vocab words, this counts
  // what falls OUT): vocab = top V tokens by (count desc, token asc),
  // per doc the token- and type-level OOV fractions. V=20 here so the
  // low-vocab test corpus exercises both branches (production V is
  // 100k-ish — still a broadcast). The vocab rank is a TakeOrdered
  // over the vocab-bounded count table (the cms_frequency device — no
  // global window); per-doc joins are (doc, word)-keyed with the
  // ≤V-row vocab broadcast on the build side.
  private val OovVocabSize = 20

  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val dw = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds the vocab rank AND the per-doc join
    val vocab = dw.groupBy(col("w")).agg(sum(col("c")).as("cc"))
      .orderBy(col("cc").desc, col("w").asc).limit(OovVocabSize)
      .select(col("w"), lit(1).as("iv"))
    dw.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("iv").isNull, col("c")).otherwise(lit(0L))).cast("long")
          .as("oov_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(lit(0L))).cast("long")
          .as("oov_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("oov_tokens"), col("oov_types"),
        r(col("oov_tokens") / col("n_tokens").cast("double"), 6).as("oov_rate"))
  }

  private val oovRateSql =
    s"""WITH dw AS MATERIALIZED (
       |  SELECT doc_id, t.w, count(*)::BIGINT AS c
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents), LATERAL unnest(ws) AS t(w)
       |  GROUP BY 1, 2),
       |vocab AS (
       |  SELECT w FROM (SELECT w, CAST(sum(c) AS BIGINT) AS cc FROM dw GROUP BY 1)
       |  ORDER BY cc DESC, w ASC LIMIT $OovVocabSize)
       |SELECT dw.doc_id,
       |       CAST(sum(dw.c) AS BIGINT) AS n_tokens,
       |       count(*)::BIGINT AS n_types,
       |       CAST(sum(CASE WHEN vocab.w IS NULL THEN dw.c ELSE 0 END) AS BIGINT) AS oov_tokens,
       |       CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_types,
       |       round(sum(CASE WHEN vocab.w IS NULL THEN dw.c ELSE 0 END)
       |             / CAST(sum(dw.c) AS DOUBLE), 6) AS oov_rate
       |FROM dw LEFT JOIN vocab USING (w)
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------
  // 42. language ID: stopword-marker scoring per candidate language +
  // CJK codepoint count, argmax with alphabetical tie-break. The marker
  // counts use the replace-trick so Spark and the oracle agree exactly.
  private val markers: Map[String, Seq[String]] = Map(
    "de" -> Seq(" der ", " und ", " die "),
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " y ", " los "),
    "fr" -> Seq(" le ", " et ", " les "))

  def langId(s: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val scores = markers.map { case (lang, toks) =>
      lang -> toks.map(tokenCount(padded, _)).reduce(_ + _)
    }
    val sZh = reCount(col("text"), "[一-鿿]")
    val all = scores + ("zh" -> sZh)
    def others(l: String): Column = greatest(all.filterNot(_._1 == l).values.toSeq: _*)
    val pred = all.keys.toSeq.sorted.dropRight(1)
      .foldRight(lit(all.keys.toSeq.sorted.last): Column) { (l, acc) =>
        when(all(l) >= others(l), lit(l)).otherwise(acc)
      }
    Tables.documents(s, dir).select(
      (Seq(col("doc_id")) ++
        all.toSeq.sortBy(_._1).map { case (l, c) => c.as(s"s_$l") } :+
        pred.as("pred_lang") :+ col("lang").as("tagged_lang")): _*)
  }

  // ---------------------------------------------------------------
  // 182. Gopher quality rule flags (Rae et al. 2021, appendix A —
  // the MassiveText document filter, also the RefinedWeb/Dolma
  // baseline): per-doc boolean rule outcomes + the composite pass.
  // Word count in [50, 1e5]; mean word length in [3, 10]; symbol
  // (#/ellipsis) to word ratio ≤ 0.1; no bullet start / ellipsis end
  // (single-line corpus form of the line-fraction rules — at web
  // scale explode on '\n' and threshold the fractions); ≥80% of words
  // containing a letter; ≥2 of the 8 required English stopwords.
  // On THIS corpus symbol/bullet/alpha never fire (no such chars by
  // construction) but word-count, mean-length, and stopword rules all
  // bind. Pure per-row codegen — zero shuffles.
  private val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val nWords = reCount(col("text"), "\\S+")
    val nonspace = length(regexp_replace(col("text"), lit(" "), lit(""))).cast("double")
    val meanWl = nonspace / nWords
    val nSymbols = reCount(col("text"), "#|\\.\\.\\.")
    val alphaWords = size(filter(split(col("text"), lit(" ")),
      w => w.rlike("[a-z]"))).cast("long")
    val nStops = gopherStops.map(t => (tokenCount(padded, s" $t ") > 0).cast("int"))
      .reduce(_ + _)
    val wcOk = nWords.between(50, 100000)
    val mwlOk = meanWl.between(3.0, 10.0)
    val symOk = nSymbols.cast("double") / nWords <= 0.1
    val bulletOk = !(col("text").startsWith("- ") || col("text").startsWith("* "))
    val ellipsisOk = !col("text").endsWith("...")
    val alphaOk = alphaWords.cast("double") / nWords >= 0.8
    val stopOk = nStops >= 2
    Tables.documents(s, dir).select(
      col("doc_id"), nWords.as("n_words"), r(meanWl, 6).as("mean_word_len"),
      nStops.cast("long").as("n_stops_present"),
      wcOk.as("wc_ok"), mwlOk.as("mwl_ok"), symOk.as("symbol_ok"),
      bulletOk.as("bullet_ok"), ellipsisOk.as("ellipsis_ok"),
      alphaOk.as("alpha_ok"), stopOk.as("stop_ok"),
      (wcOk && mwlOk && symOk && bulletOk && ellipsisOk && alphaOk && stopOk)
        .as("pass"),
      // the multilingual composite: the stopword rule is English-only
      // in practice (and rejects this synthetic vocab corpus-wide —
      // only 'the' of the canonical 8 occurs), so pipelines also keep
      // the stop-free conjunction
      (wcOk && mwlOk && symOk && bulletOk && ellipsisOk && alphaOk)
        .as("pass_no_stop"))
  }

  /** Shared oracle CTEs for the Gopher flags (gop_f raw counts →
    * gop_g rule booleans) — reused by the curation-funnel oracle. */
  private val gopherFlagCtes = {
    val padded = "(' ' || lower(text) || ' ')"
    val stopsPresent = gopherStops
      .map(t => s"CASE WHEN ${tokenCountSql(padded, s" $t ")} > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""gop_f AS (
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
                CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nonspace,
                CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_symbols,
                CAST(len(list_filter(string_split(text, ' '),
                  w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha_words,
                CAST($stopsPresent AS BIGINT) AS n_stops_present,
                (text LIKE '- %' OR text LIKE '* %') AS bullet_start,
                (text LIKE '%...') AS ellipsis_end
         FROM documents),
       gop_g AS (
         SELECT doc_id, n_words, nonspace / n_words AS mean_wl, n_symbols,
                alpha_words, n_stops_present, bullet_start, ellipsis_end,
                (n_words BETWEEN 50 AND 100000) AS wc_ok,
                (nonspace / n_words BETWEEN 3.0 AND 10.0) AS mwl_ok,
                (CAST(n_symbols AS DOUBLE) / n_words <= 0.1) AS symbol_ok,
                NOT bullet_start AS bullet_ok,
                NOT ellipsis_end AS ellipsis_ok,
                (CAST(alpha_words AS DOUBLE) / n_words >= 0.8) AS alpha_ok,
                (n_stops_present >= 2) AS stop_ok
         FROM gop_f)"""
  }

  private val gopherRulesSql =
    s"""WITH $gopherFlagCtes
       SELECT doc_id, n_words, round(mean_wl, 6) AS mean_word_len,
              n_stops_present, wc_ok, mwl_ok, symbol_ok, bullet_ok,
              ellipsis_ok, alpha_ok, stop_ok,
              (wc_ok AND mwl_ok AND symbol_ok AND bullet_ok AND ellipsis_ok
               AND alpha_ok AND stop_ok) AS pass,
              (wc_ok AND mwl_ok AND symbol_ok AND bullet_ok AND ellipsis_ok
               AND alpha_ok) AS pass_no_stop
       FROM gop_g"""

  // ---------------------------------------------------------------
  // 188. word↔language mutual information — the feature-selection
  // screen behind fastText-style lang-id and domain classifiers: MI
  // between a word's document-presence indicator and the lang label,
  // summed over both presence states and all langs (0·log0 terms
  // skipped). All counts are exact integers; the ln() terms are
  // deterministic functions of those ints, and the ≤10-term sum is 11
  // orders above double ULP at 6dp. Plan: one (doc, word) distinct
  // shuffle, then bounded |vocab|×|langs| grid algebra (the ma_stats
  // scaffold shape — dims only, never fact×fact).
  def wordLangMi(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("doc_id"), col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w0"))
      .distinct()
    val nDf = broadcast(docs.agg(count(lit(1)).as("nn")))
    val nw = words.select(col("doc_id"), col("w0")).distinct()
      .groupBy(col("w0")).agg(count(lit(1)).as("nw"))
    val nl = broadcast(docs.groupBy(col("lang")).agg(count(lit(1)).as("nl")))
    val nwl = words.groupBy(col("w0"), col("lang")).agg(count(lit(1)).as("n11"))
    val g = nw.crossJoin(nl).join(nwl, Seq("w0", "lang"), "left")
      .withColumn("n11", coalesce(col("n11"), lit(0L)))
      .crossJoin(nDf)
      .withColumn("n01", col("nl") - col("n11"))
    val t11 = when(col("n11") > 0,
      col("n11") / col("nn") *
        log(col("n11").cast("double") * col("nn") / (col("nw") * col("nl"))))
      .otherwise(0.0)
    val t01 = when(col("n01") > 0,
      col("n01") / col("nn") *
        log(col("n01").cast("double") * col("nn") / ((col("nn") - col("nw")) * col("nl"))))
      .otherwise(0.0)
    g.withColumn("term", t11 + t01)
      .groupBy(col("w0").as("term_word"))
      .agg(max(col("nw")).as("n_docs"), r(sum(col("term")), 6).as("mi"))
  }

  private val wordLangMiSql =
    """WITH words AS (
         SELECT DISTINCT doc_id, lang,
                unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w0
         FROM documents),
       nn AS (SELECT count(*) AS nn FROM documents),
       nw AS (SELECT w0, count(*) AS nw FROM (SELECT DISTINCT doc_id, w0 FROM words)
              GROUP BY 1),
       nl AS (SELECT lang, count(*) AS nl FROM documents GROUP BY 1),
       nwl AS (SELECT w0, lang, count(*) AS n11 FROM words GROUP BY 1, 2),
       g AS (
         SELECT nw.w0, nw.nw, nl.lang, nl.nl,
                coalesce(nwl.n11, 0) AS n11,
                nl.nl - coalesce(nwl.n11, 0) AS n01, nn.nn
         FROM nw CROSS JOIN nl
         LEFT JOIN nwl ON nw.w0 = nwl.w0 AND nl.lang = nwl.lang
         CROSS JOIN nn),
       terms AS (
         SELECT w0, nw,
                (CASE WHEN n11 > 0 THEN CAST(n11 AS DOUBLE) / nn *
                   ln(CAST(n11 AS DOUBLE) * nn / (CAST(nw AS DOUBLE) * nl))
                 ELSE 0.0 END) +
                (CASE WHEN n01 > 0 THEN CAST(n01 AS DOUBLE) / nn *
                   ln(CAST(n01 AS DOUBLE) * nn / (CAST(nn - nw AS DOUBLE) * nl))
                 ELSE 0.0 END) AS term
         FROM g)
       SELECT w0 AS term_word, CAST(max(nw) AS BIGINT) AS n_docs,
              round(sum(term), 6) AS mi
       FROM terms GROUP BY 1"""

  // ---------------------------------------------------------------
  // 189. proportional allocation (Hamilton / largest-remainder): split
  // a fixed sampling budget of T=100 docs across (lang, source) cells
  // ∝ cell size — the survey-sampling primitive behind stratified
  // corpus draws. ALL-INTEGER: base = (T·n) div N, remainder seats go
  // to the largest (T·n) mod N with (lang, source) lexicographic
  // tie-break — bit-exact in any engine, Σ alloc = T by construction.
  // Bounded |cells| work after one groupBy.
  def proportionalAllocation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = 100L
    val cells = Tables.documents(s, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val nDf = broadcast(cells.agg(sum(col("n")).as("nn"),
      count(lit(1)).as("ncells")))
    val w = Window.orderBy((col("n") * t % col("nn")).desc, col("lang").asc,
      col("source").asc)
    val based = cells.crossJoin(nDf)
      .withColumn("base", expr(s"n * $t div nn"))
      .withColumn("rk", row_number().over(w))
    val seatsDf = broadcast(based.agg((lit(t) - sum(col("base"))).as("seats")))
    based.crossJoin(seatsDf)
      .select(col("lang"), col("source"), col("n").as("n_docs"),
        (col("base") + when(col("rk") <= col("seats"), 1L).otherwise(0L))
          .as("alloc"))
  }

  private val proportionalAllocationSql =
    """WITH cells AS (
         SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
       based AS (
         SELECT lang, source, n, (n * 100) // nn AS base,
                row_number() OVER (ORDER BY (n * 100) % nn DESC, lang, source)
                  AS rk
         FROM cells, tot),
       seats AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS seats FROM based)
       SELECT lang, source, n AS n_docs,
              CAST(base + (CASE WHEN rk <= seats THEN 1 ELSE 0 END) AS BIGINT)
                AS alloc
       FROM based, seats"""

  // ---------------------------------------------------------------
  // 186. curation funnel — the staged accounting table every corpus
  // curation report leads with: docs + tokens surviving each pipeline
  // stage, applied SEQUENTIALLY the way the pipeline actually runs
  // (unlike filter_decision's flat per-doc verdict):
  //   0_ingest           all train docs (src0 is the eval corpus)
  //   1_quality          Gopher multilingual composite (pass_no_stop)
  //   2_exact_dedup      min-id keeper per normalized-hash group AMONG
  //                      stage-1 survivors (staged, so a dup whose
  //                      keeper failed quality is re-kept)
  //   3_decontaminated   drops docs sharing ≥5 20-char shingles with
  //                      the eval corpus
  // Plan: gopher flags are per-row codegen; dedup is one window over
  // the norm-hash shuffle; decontamination probes the eval shingle set
  // in a projection (the #64 plan); then ONE aggregation emits all
  // stages via conditional sums — no per-stage rescans.
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flags = gopherRules(s, dir).select(col("doc_id"), col("pass_no_stop"))
    val contam = graft.dedup.Dedup.decontaminate(s, dir)
      .select(col("doc_id"), col("contaminated"))
    val base = Tables.documents(s, dir).filter(col("source") =!= "src0")
      .select(col("doc_id"),
        md5(graft.api.Similarity.normalizeText(col("text"))).as("nh"),
        reCount(col("text"), "\\S+").as("nw"))
      .join(flags, "doc_id").join(contam, "doc_id")
    val wNh = Window.partitionBy(col("nh"))
    val staged = base
      .withColumn("k1", col("pass_no_stop"))
      .withColumn("k2", col("k1") &&
        col("doc_id") === min(when(col("k1"), col("doc_id"))).over(wNh))
      .withColumn("k3", col("k2") && !col("contaminated"))
    staged.agg(
        count(lit(1)).as("n0"), sum(col("nw")).as("t0"),
        sum(col("k1").cast("long")).as("n1"),
        sum(when(col("k1"), col("nw")).otherwise(0L)).as("t1"),
        sum(col("k2").cast("long")).as("n2"),
        sum(when(col("k2"), col("nw")).otherwise(0L)).as("t2"),
        sum(col("k3").cast("long")).as("n3"),
        sum(when(col("k3"), col("nw")).otherwise(0L)).as("t3"))
      .selectExpr(
        """stack(4,
             '0_ingest',         n0, t0, round(n0 / n0, 6),
             '1_quality',        n1, t1, round(n1 / n0, 6),
             '2_exact_dedup',    n2, t2, round(n2 / n0, 6),
             '3_decontaminated', n3, t3, round(n3 / n0, 6)
           ) AS (stage, n_docs, total_tokens, frac_of_ingest)""")
  }

  private val curationFunnelSql =
    s"""WITH $gopherFlagCtes,
       gp AS (SELECT doc_id,
              (wc_ok AND mwl_ok AND symbol_ok AND bullet_ok AND ellipsis_ok
               AND alpha_ok) AS k1 FROM gop_g),
       nrm AS (SELECT doc_id, source, text,
                      trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
               FROM documents),
       esh AS (SELECT DISTINCT substr(t, CAST(i AS INT), 20) AS sg
               FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)
               WHERE source = 'src0'),
       tsh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 20) AS sg
               FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)
               WHERE source <> 'src0'),
       shared AS (SELECT doc_id, count(*) AS n_shared
                  FROM tsh JOIN esh USING (sg) GROUP BY 1),
       base AS (
         SELECT n.doc_id, md5(n.t) AS nh,
                CAST(len(regexp_extract_all(n.text, '\\S+')) AS BIGINT) AS nw,
                gp.k1,
                coalesce(s.n_shared, 0) >= 5 AS contaminated
         FROM nrm n JOIN gp USING (doc_id)
         LEFT JOIN shared s ON n.doc_id = s.doc_id
         WHERE n.source <> 'src0'),
       staged AS (
         SELECT doc_id, nw, k1,
                (k1 AND doc_id = min(CASE WHEN k1 THEN doc_id END)
                   OVER (PARTITION BY nh)) AS k2,
                contaminated
         FROM base),
       st2 AS (SELECT *, (k2 AND NOT contaminated) AS k3 FROM staged),
       agg AS (SELECT
           count(*) AS n0, CAST(sum(nw) AS BIGINT) AS t0,
           CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN k1 THEN nw ELSE 0 END) AS BIGINT) AS t1,
           CAST(sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN k2 THEN nw ELSE 0 END) AS BIGINT) AS t2,
           CAST(sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
           CAST(sum(CASE WHEN k3 THEN nw ELSE 0 END) AS BIGINT) AS t3
         FROM st2)
       SELECT '0_ingest' AS stage, n0 AS n_docs, t0 AS total_tokens,
              round(n0 / n0, 6) AS frac_of_ingest FROM agg
       UNION ALL SELECT '1_quality', n1, t1, round(n1 / n0, 6) FROM agg
       UNION ALL SELECT '2_exact_dedup', n2, t2, round(n2 / n0, 6) FROM agg
       UNION ALL SELECT '3_decontaminated', n3, t3, round(n3 / n0, 6) FROM agg"""

  // ---------------------------------------------------------------
  // 183. tokenizer fertility per language: BPE-ish tokens per
  // whitespace word, the multilingual token-budget planning signal
  // (languages with high fertility consume disproportionate budget).
  // Corpus-level ratio (Σbpe/Σws) + mean per-doc ratio, per tagged
  // lang. Bounded-key aggregation over per-row token counts.
  def tokenFertility(s: SparkSession, dir: String): DataFrame = {
    val nWs = reCount(col("text"), "\\S+")
    val nBpe = reCount(lower(col("text")), bpePat)
    Tables.documents(s, dir)
      .select(col("lang"), nWs.as("ws"), nBpe.as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("total_words"),
        sum(col("bpe")).as("total_bpe_tokens"),
        r(sum(col("bpe")) / sum(col("ws")).cast("double"), 6).as("fertility"),
        r(avg(col("bpe").cast("double") / col("ws")), 6).as("mean_doc_fertility"))
  }

  private val tokenFertilitySql =
    s"""WITH t AS (
         SELECT lang,
                CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS ws,
                CAST(len(regexp_extract_all(lower(text), '$bpePat')) AS BIGINT) AS bpe
         FROM documents)
       SELECT lang, count(*) AS n_docs,
              CAST(sum(ws) AS BIGINT) AS total_words,
              CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
              round(sum(bpe) / CAST(sum(ws) AS DOUBLE), 6) AS fertility,
              round(avg(CAST(bpe AS DOUBLE) / ws), 6) AS mean_doc_fertility
       FROM t GROUP BY 1"""

  // ---------------------------------------------------------------
  // 43. document fingerprint: positional polynomial hash
  // Σᵢ ascii(chᵢ)·((i·2654435761) mod M) mod M with M = 1e9+7 — a
  // deterministic 63-bit-safe fingerprint computed by a higher-order
  // fold over the string, one pass per row, no shuffle, no UDF.
  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.spread(
      Tables.documents(s, dir).select(col("doc_id"), col("text"))).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      // guarded: sequence(1, 0) would iterate DESCENDING [1, 0]; an
      // empty doc fingerprints to 0 on both sides (oracle coalesces)
      when(length(col("text")) > 0,
        expr("""aggregate(sequence(1, length(text)), 0L,
                 (acc, i) -> (acc + ascii(substring(text, i, 1))
                   * ((i * 2654435761L) % 1000000007L) % 1000000007L) % 1000000007L)"""))
        .otherwise(0L).as("fp"))

  // ---------------------------------------------------------------
  // 48 (beyond the reference inventory): TF-IDF top terms per document.
  // Smoothed idf = ln((N+1)/(df+1)) + 1; top-3 terms by tf·idf per doc.
  // Two shuffles — (doc, term) then term — both on bounded keys; the
  // per-doc window partitions are |vocab ∩ doc| sized.
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf_raw").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_raw",
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        r(col("tfidf_raw"), 6).as("tfidf"), col("rk"))
  }

  // ---------------------------------------------------------------
  // 61 (beyond inventory). repetition signals (the Gopher-style
  // within-doc quality filters): duplicate-word fraction, duplicate
  // word-2-gram fraction, and the top-2-gram share. Per-row narrow
  // array math — no explode, no shuffle; the per-doc word arrays are
  // bounded by doc length.
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("st", graft.functions.VectorFunctions.repetitionStats(
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")))
      .select(
        col("doc_id"),
        col("st.n_words").as("n_words"),
        r(when(col("st.n_words") > 0,
            lit(1.0) - col("st.n_distinct_words").cast("double") / col("st.n_words"))
          .otherwise(0.0), 6).as("dup_word_frac"),
        r(when(col("st.n_2grams") > 0,
            lit(1.0) - col("st.n_distinct_2grams").cast("double") / col("st.n_2grams"))
          .otherwise(0.0), 6).as("dup_2gram_frac"),
        r(when(col("st.n_2grams") > 0,
            col("st.top_2gram_count").cast("double") / col("st.n_2grams"))
          .otherwise(0.0), 6).as("top_2gram_frac"))

  // ---------------------------------------------------------------
  // 62 (beyond inventory). deterministic sequence packing: concat-and-
  // chunk docs into 512-token training sequences per source shard
  // (graft.api.Analytics.packSequences). Window runs per shard —
  // parallelism = #shards at scale.
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("tok", reCount(col("text"), "\\S+"))
    graft.api.Analytics.packSequences(docs, col("source"), col("doc_id"),
        col("tok"), budget = 512)
      .select(col("doc_id"), col("source"), col("tok"),
        col("start_off"), col("end_off"), col("seq_first"), col("seq_last"), col("n_seqs"))
  }

  // ---------------------------------------------------------------
  // 72 (beyond inventory). deterministic dataset split: 80/10/10
  // train/val/test by content-hash uniform — stable across clusters,
  // runs, and repartitioning (graft.api.Analytics.datasetSplit).
  def datasetSplit(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.datasetSplit(
        Tables.documents(s, dir).select(col("doc_id")), col("doc_id"))
      .select(col("doc_id"), r(col("u"), 6).as("u"), col("split"))

  // ---------------------------------------------------------------
  // BM25 top terms per document (the retrieval-grade upgrade of
  // tfidf_top_terms; k1=1.2, b=0.75, Robertson idf). Same two bounded
  // shuffles as tfidf; doc length + avg length ride broadcast joins.
  def bm25TopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dlen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = dlen.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avg_dl"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("bm25_raw").desc, col("term").asc)
    tf.join(broadcast(dfT), "term").join(dlen, "doc_id").crossJoin(broadcast(n))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("bm25_raw", col("idf") * col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avg_dl"))))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        r(col("bm25_raw"), 6).as("bm25"), col("rk"))
  }

  // ---------------------------------------------------------------
  // PMI collocations: consecutive word pairs scored by pointwise mutual
  // information ln((c_ab/T)/((c_a/W)(c_b/W))), min bigram count 5, global
  // top-20. Bigram extraction is a per-row zip (no positional explode);
  // the unigram/bigram count joins hash on bounded vocab keys.
  def pmiBigrams(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
    val uni = words.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = words.select(explode(expr(
        "zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)), slice(ws, 2, greatest(size(ws) - 1, 0)), (a, b) -> struct(a, b))")).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b")).agg(count(lit(1)).as("c_ab"))
    val totals = uni.agg(sum(col("c")).cast("double").as("n_words"))
      .crossJoin(bi.agg(sum(col("c_ab")).cast("double").as("n_bigrams")))
    // global top-20 via orderBy+limit → TakeOrderedAndProject (per-
    // partition heads merged on the driver), NOT an unpartitioned rank
    // window that would drag every scored bigram through one sort task;
    // the rk window after limit sees ≤ 20 rows by construction
    val w = Window.orderBy(col("pmi_raw").desc, col("a").asc, col("b").asc)
    bi.filter(col("c_ab") >= 5)
      .join(broadcast(uni.select(col("w").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(uni.select(col("w").as("b"), col("c").as("c_b"))), "b")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_raw", log((col("c_ab") / col("n_bigrams")) /
        ((col("c_a") / col("n_words")) * (col("c_b") / col("n_words")))))
      .orderBy(col("pmi_raw").desc, col("a").asc, col("b").asc)
      .limit(20)
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        r(col("pmi_raw"), 6).as("pmi"), col("rk"))
  }

  // ---------------------------------------------------------------
  // 167. DSIR-style importance weights (Data Selection via Importance
  // Resampling, Xie et al. 2023, arXiv:2302.03169): score every doc by
  // the log-likelihood ratio of a smoothed target unigram LM (docs
  // from a designated target source — src0, the same convention the
  // decontamination op uses for its eval set) against the raw-corpus
  // LM: log w(x) = Σ_w n_w(x)·(ln p_t(w) − ln p_r(w)), Laplace-
  // smoothed over the corpus vocabulary. High score = target-like →
  // keep under importance resampling.
  // 100 TB shape: doc-term counts and both LMs are bounded-key (vocab)
  // aggregations with map-side combine; scoring is ONE shuffle-hash
  // join on the word key (NO LM broadcast — the join is linear and the
  // key domain Zipf-bounded); the per-doc reduction combines map-side.
  // At extreme vocab, hash words into 2^k buckets first (the hashed-
  // feature form the DSIR paper itself uses) — same plan, bounded keys.
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
    val dt = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
    val ct = words.filter(col("source") === "src0")
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val cr = words.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val lm = cr.join(ct, Seq("w"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
    val totals = lm.agg(sum(col("ct")).cast("double").as("nt"),
      sum(col("cr")).cast("double").as("nr"),
      count(lit(1)).cast("double").as("v"))
    dt.join(lm.hint("shuffle_hash"), "w")
      .crossJoin(broadcast(totals))
      .withColumn("lr", col("n") * (log((col("ct") + 1.0) / (col("nt") + col("v")))
        - log((col("cr") + 1.0) / (col("nr") + col("v")))))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"), r(sum(col("lr")), 6).as("log_weight"))
  }

  // ---------------------------------------------------------------
  // Scale twin of #167: the hashed-feature form the DSIR paper itself
  // uses — words hashed into 2¹⁶ buckets (positional polynomial hash,
  // the #43 fingerprint device, mod M then mod 2¹⁶) so the LM key
  // domain is FIXED at any corpus size: the LM side is ≤65,536 rows
  // and BROADCASTS outright (r10 verdict item 7) — the doc-term fact
  // side never shuffles for the scoring join, at any corpus size.
  // The hash is exact-int arithmetic, so the twin is hash-checked
  // too, not rows-only.
  /** Polynomial word-bucket into 2¹⁶ (the #43 fingerprint device, mod M
    * then mod 2¹⁶) over a column named `w0` — the fixed-domain hashed
    * feature key shared by dsir_weights_hashed and the topic planes. */
  private val wordBucket = expr(
    """aggregate(sequence(1, length(w0)), 0L,
         (acc, i) -> (acc + ascii(substring(w0, i, 1))
           * ((i * 2654435761L) % 1000000007L) % 1000000007L) % 1000000007L)
       % 65536""")

  def dsirWeightsHashed(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w0"))
      .withColumn("w", wordBucket)
    val dt = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
    val ct = words.filter(col("source") === "src0")
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val cr = words.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val lm = cr.join(ct, Seq("w"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
    val totals = lm.agg(sum(col("ct")).cast("double").as("nt"),
      sum(col("cr")).cast("double").as("nr"),
      count(lit(1)).cast("double").as("v"))
    dt.join(broadcast(lm), "w")
      .crossJoin(broadcast(totals))
      .withColumn("lr", col("n") * (log((col("ct") + 1.0) / (col("nt") + col("v")))
        - log((col("cr") + 1.0) / (col("nr") + col("v")))))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"), r(sum(col("lr")), 6).as("log_weight"))
  }

  // ---------------------------------------------------------------
  // 168. temperature-scaled source mixing weights — the multilingual
  // sampling rule of mBERT/XLM-R/mT5 (p_s ∝ n_s^α, α = 0.3) applied to
  // sources: from per-source token counts, the probability each source
  // gets in the training mix and its up/down-sampling factor vs the
  // natural distribution. One bounded-key aggregation + a broadcast
  // scalar normalize; the value is the CONTRACT — deterministic mix
  // weights any executor (or a later pipeline stage) can recompute.
  def sourceMixWeights(s: SparkSession, dir: String): DataFrame =
    mixFactors(s, dir)
      .select(col("source"), col("n_tokens"),
        r(col("p_natural"), 6).as("p_natural"), r(col("p_mix"), 6).as("p_mix"),
        r(col("factor"), 6).as("resample_factor"))

  /** Unrounded per-source mix factors — shared by #168 (rounded output)
    * and #172 (rate realization). */
  private def mixFactors(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"),
        expr("size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))").cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val tot = toks.agg(sum(col("n_tokens")).cast("double").as("n_all"),
      sum(pow(col("n_tokens").cast("double"), lit(0.3))).as("z"))
    toks.crossJoin(broadcast(tot))
      .withColumn("p_natural", col("n_tokens") / col("n_all"))
      .withColumn("p_mix", pow(col("n_tokens").cast("double"), lit(0.3)) / col("z"))
      .withColumn("factor", col("p_mix") / col("p_natural"))
  }

  // ---------------------------------------------------------------
  // 172. mix realization — turn the #168 weights into an actual
  // one-pass deterministic subsample: per-source keep rate =
  // resample_factor / max(factor) (downsample-only, the standard
  // no-duplication realization), decided by the same content-hash
  // uniform as the #72 dataset split (stable across clusters, runs and
  // partitioning; pure md5 arithmetic, so the oracle replays the
  // decision bit-for-bit — u is lattice-valued and the rate is a
  // pow-derived irrational, so the comparison has no boundary mass).
  // One broadcast of the |sources|-row rate table over a narrow scan.
  def mixResample(s: SparkSession, dir: String): DataFrame = {
    val f = mixFactors(s, dir).select(col("source"), col("factor"))
    val fm = f.agg(max(col("factor")).as("fmax"))
    val u = graft.api.Analytics.hashUniform(col("doc_id"))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(broadcast(f), "source")
      .crossJoin(broadcast(fm))
      .withColumn("rate", col("factor") / col("fmax"))
      .select(col("doc_id"), col("source"),
        r(col("rate"), 6).as("rate"), r(u, 6).as("u"),
        (u <= col("rate")).as("keep"))
  }

  // ---------------------------------------------------------------
  // 175. token-budget allocation — water-fill the #168 mixing weights
  // into per-source token quotas for a training budget T = ⌊0.95·total⌋
  // (a near-capacity run, so the caps actually bind on the
  // temperature-boosted small sources) under single-epoch capacity
  // caps (a source can contribute at most
  // the tokens it has; the Llama/GPT data-planning table). A source is
  // capped when its temperature-boosted share exceeds its capacity;
  // since p ∝ n^0.3, the capacity ratio n/p ∝ n^0.7 is monotone in n,
  // so the capped set is a PREFIX of sources ordered by n ascending
  // and ONE ordered-window pass finds it: after capping sources
  // 1..k-1, source k caps iff p_k·(T − Σ_{i<k} n_i) ≥ n_k·(1 − Σ_{i<k}
  // p_k). Ordered running sums are sequential in both engines (bit-
  // identical), so the capped flags replay exactly; quotas round at
  // 4dp (pow-derived irrationals — no midpoint mass). Σ quota = T by
  // construction (the water-filling invariant, spec-pinned).
  def tokenBudgetAlloc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("n_tokens").asc, col("source").asc)
    val pre = ord.rowsBetween(Window.unboundedPreceding, -1)
    val upto = ord.rowsBetween(Window.unboundedPreceding, 0)
    val g = mixFactors(s, dir)
      .withColumn("t_budget", floor(col("n_all") * 0.95))
      .withColumn("cum_n", coalesce(sum(col("n_tokens")).over(pre), lit(0L)))
      .withColumn("cum_p", coalesce(sum(col("p_mix")).over(pre), lit(0.0)))
      .withColumn("flag",
        (col("p_mix") * (col("t_budget") - col("cum_n")) >=
          col("n_tokens") * (lit(1.0) - col("cum_p"))).cast("int"))
      .withColumn("capped", min(col("flag")).over(upto) === 1)
    val capTot = g.agg(
      coalesce(sum(when(col("capped"), col("n_tokens"))), lit(0L)).as("cap_n"),
      coalesce(sum(when(col("capped"), col("p_mix"))), lit(0.0)).as("cap_p"))
    g.crossJoin(broadcast(capTot))
      .withColumn("quota", when(col("capped"), col("n_tokens").cast("double"))
        .otherwise(col("p_mix") * (col("t_budget") - col("cap_n"))
          / (lit(1.0) - col("cap_p"))))
      .select(col("source"), col("n_tokens"), r(col("p_mix"), 6).as("p_mix"),
        col("capped"), r(col("quota"), 4).as("quota_tokens"),
        r(col("quota") / col("n_tokens"), 6).as("fill_rate"))
  }

  // ---------------------------------------------------------------
  // 169. n-gram diversity per source — the corpus-level repetition
  // screen (distinct/total type-token ratios over unigrams and word
  // bigrams; templated or self-repeating sources sink toward 0, the
  // between-docs complement of the within-doc #61 repetition signals).
  // Bigrams are a per-row zip (the pmi_bigrams device, no positional
  // explode); both aggregations are bounded-key with map-side combine.
  // The exact countDistinct is the oracle path — at corpus scale swap
  // in approx_count_distinct exactly as the #55 HLL twin does.
  def ngramDiversity(s: SparkSession, dir: String): DataFrame = {
    val ws = Tables.documents(s, dir)
      .select(col("source"), expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
    val uni = ws.select(col("source"), explode(col("ws")).as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), countDistinct(col("w")).as("v_words"))
    val bi = ws.select(col("source"), explode(expr(
        "zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)), slice(ws, 2, greatest(size(ws) - 1, 0)), (a, b) -> concat(a, ' ', b))")).as("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"), countDistinct(col("g")).as("v_bigrams"))
    uni.join(bi, "source")
      .select(col("source"), col("n_words"), col("v_words"),
        r(col("v_words") / col("n_words").cast("double"), 6).as("ttr_words"),
        col("n_bigrams"), col("v_bigrams"),
        r(col("v_bigrams") / col("n_bigrams").cast("double"), 6).as("ttr_bigrams"))
  }

  // ---------------------------------------------------------------
  // 118. Zipf's-law fit over the corpus vocabulary: OLS of ln(freq) on
  // ln(rank) for the top-1000 tokens — slope ≈ −1 for natural language,
  // so deviation is a corpus-health screen (template spam flattens it,
  // truncation steepens it). The rank window runs over the ALREADY
  // top-k-limited vocabulary (1000 rows), never the corpus; the only
  // corpus-wide work is one token-count shuffle.
  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(split(trim(regexp_replace(lower(col("text")), lit("\\s+"), lit(" "))), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc)
      .limit(1000)
    import org.apache.spark.sql.expressions.Window
    val ranked = counts.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("tok").asc)).cast("double"))
    ranked.agg(
      count(lit(1)).as("n_tokens"),
      round(regr_slope(log(col("c")), log(col("rank"))), 6).as("zipf_slope"),
      round(regr_intercept(log(col("c")), log(col("rank"))), 6).as("zipf_intercept"),
      round(regr_r2(log(col("c")), log(col("rank"))), 6).as("r2"))
  }

  // ---------------------------------------------------------------
  // 281. per-source Zipf fit — #118 per corpus slice: a source whose
  // slope sits far off the corpus's is template spam (flat) or
  // boilerplate-dominated (steep) before any model-based signal fires;
  // the per-source rank table partitions by source (no global window)
  // and the regr_* aggregates are the exact cross-engine ones the
  // corpus-level fit already hash-checks.
  def zipfBySource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, dir)
      .select(col("source"),
        explode(split(trim(regexp_replace(lower(col("text")), lit("\\s+"), lit(" "))), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val ranked = counts.withColumn("rank",
      row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("tok").asc)).cast("double"))
    ranked.groupBy(col("source")).agg(
      count(lit(1)).as("n_tokens"),
      round(regr_slope(log(col("c")), log(col("rank"))), 6).as("zipf_slope"),
      round(regr_r2(log(col("c")), log(col("rank"))), 6).as("r2"))
  }

  private val zipfBySourceSql =
    raw"""WITH toks AS (
           SELECT source,
                  unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
           FROM documents),
         counts AS (
           SELECT source, tok, count(*) AS c FROM toks WHERE tok <> ''
           GROUP BY 1, 2),
         ranked AS (
           SELECT source, c,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY c DESC, tok ASC) AS DOUBLE) AS rank
           FROM counts)
         SELECT source, count(*) AS n_tokens,
                round(regr_slope(ln(c), ln(rank)), 6) AS zipf_slope,
                round(regr_r2(ln(c), ln(rank)), 6) AS r2
         FROM ranked GROUP BY 1"""

  private val zipfFitSql =
    raw"""WITH toks AS (
           SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
           FROM documents),
         counts AS (
           SELECT tok, count(*) AS c FROM toks WHERE tok <> ''
           GROUP BY 1 ORDER BY c DESC, tok ASC LIMIT 1000),
         ranked AS (
           SELECT c, CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS DOUBLE) AS rank
           FROM counts)
         SELECT count(*) AS n_tokens,
                round(regr_slope(ln(c), ln(rank)), 6) AS zipf_slope,
                round(regr_intercept(ln(c), ln(rank)), 6) AS zipf_intercept,
                round(regr_r2(ln(c), ln(rank)), 6) AS r2
         FROM ranked"""

  // ---------------------------------------------------------------
  // 124. character-bigram LM score — the perplexity proxy of data
  // cleaning: score every document by the mean log-probability of its
  // character bigrams under the CORPUS's own bigram distribution
  // (gibberish/markup/binary-ish text scores far below prose). Two
  // passes: a bounded-vocab bigram count (|charset|² keys), then one
  // scan re-joining each doc's bigram stream to the broadcast counts.
  // Every bigram is corpus-attested, so no smoothing term is needed.
  def charLmScore(s: SparkSession, dir: String): DataFrame = {
    val t = trim(regexp_replace(lower(col("text")), lit("\\s+"), lit(" ")))
    // per-doc bigram counts computed INSIDE the native CharNgramCounts
    // map expression (one codegen'd pass per doc): the explode emits
    // |distinct bigrams per doc| rows (~300) instead of |chars| rows
    // (~5000), so the raw 25M-bigram generator stream never
    // materializes (local wall-clock parity at sf0.1 — the scan +
    // \s+ normalization dominates there — but ~10× less generator +
    // partial-agg work, which is what scales). The mean log-prob is
    // computed in its weighted form Σ dc·ln(p) / Σ dc — identical
    // value, and the oracle mirrors the same grouping so summation
    // order agrees within 6dp rounding.
    // the trailing sum-agg re-establishes the (doc_id, g) exchange BOTH
    // consumers (global counts + scoring probe) hang off, so the
    // expensive counting pass runs once and is replayed from shuffle
    // files — without it each consumer re-evaluates the expression
    val perDoc = Tables.documents(s, dir)
      .select(col("doc_id"), t.as("t"))
      .filter(length(col("t")) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.VectorFunctions.charNgramCounts(col("t"), 2)))
      .groupBy(col("doc_id"), col("key").as("g")).agg(sum(col("value")).as("dc"))
    val counts = perDoc.groupBy(col("g")).agg(sum(col("dc")).as("c"))
    val tot = counts.agg(sum(col("c")).cast("double").as("tt"))
    perDoc.join(broadcast(counts), "g")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).cast("long").as("n_bigrams"),
        r(sum(col("dc") * log(col("c") / col("tt"))) / sum(col("dc")), 6).as("lm_score"))
  }

  // ---------------------------------------------------------------
  // 170. CCNet-style perplexity buckets (Wenzek et al. 2020): per-
  // language head/middle/tail terciles of the #124 char-bigram LM
  // score — the canonical quality stratification for pretraining
  // corpora (head = most fluent third under the LM). Ranks ride the
  // ROUNDED score with a doc_id tie-break, so engine and oracle order
  // identically (no fp boundary comparisons — ntile is positional).
  // Scale: one per-lang sort-shuffle; at corpus scale swap positional
  // terciles for broadcast boundary quantiles (the #83 equi-depth
  // device, sketch-backed) — same output contract.
  def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = charLmScore(s, dir).select(col("doc_id"), col("lm_score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lm_score").desc, col("doc_id").asc)
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(scores, "doc_id")
      .withColumn("tercile", ntile(3).over(w).cast("long"))
      .withColumn("bucket", when(col("tercile") === 1, "head")
        .when(col("tercile") === 2, "middle").otherwise("tail"))
  }

  // ---------------------------------------------------------------
  // 171. end-to-end filter decision — the Dolma/RefinedWeb-style
  // "documents in → training set out" capstone: one row per candidate
  // doc (non-src0; src0 is the eval set, the decontamination
  // convention) with a keep flag and the ordered comma-joined reasons
  // it failed. Gates: exact-dup loser (corpus-wide norm-hash group,
  // #32's semantics), eval contamination (#64), stopword floor, digit
  // ceiling, token-count bounds (Gopher-style structural screens).
  // Every ratio is ONE division of exact integer counts, so the
  // threshold comparisons are bit-identical cross-engine (no rounding
  // anywhere in the decision path).
  // 100 TB shape: one eval-side job collects the src0 shingle hashes
  // (the #64 probe); then `documents` is read and spread once, ONE
  // projection computes every per-row signal (norm hash, shared-shingle
  // count, regex counts) so the text never crosses a shuffle, and the
  // only keyed exchange is the norm-hash window that finds each group's
  // min-id keeper — no join of any kind. src0 rows take part in the
  // window (a train doc may copy an eval doc verbatim) and leave after.
  def filterDecision(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Tables.documents(s, dir)
    val shared = graft.api.Similarity.sharedShingles(
      all.filter(col("source") === "src0"), col("text"), shingle = 20)
    val len = length(col("text")).cast("double")
    val nWs = reCount(col("text"), "\\S+").cast("double")
    val stops = reCount(lower(col("text")), "\\b(the|and|of|to|in|is|a)\\b").cast("double")
    val digits = reCount(col("text"), "[0-9]").cast("double")
    graft.api.Analytics.spread(all.select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"),
        md5(graft.api.Similarity.normalizeText(col("text"))).as("norm_hash"),
        (shared(col("text")) >= 5).as("g_contam"),
        ((stops / nWs) < 0.03).as("g_stop"),
        ((digits / len) > 0.3).as("g_digit"),
        (nWs < 10).as("g_short"),
        (nWs > 100000).as("g_long"))
      .filter(col("norm_hash").isNotNull)
      .withColumn("g_dup",
        col("doc_id") =!= min(col("doc_id")).over(Window.partitionBy(col("norm_hash"))))
      .filter(col("source") =!= "src0")
      .select(col("doc_id"),
        (!col("g_dup") && !col("g_contam") && !col("g_stop") && !col("g_digit")
          && !col("g_short") && !col("g_long")).as("keep"),
        concat_ws(",",
          when(col("g_dup"), lit("exact_dup")),
          when(col("g_contam"), lit("contaminated")),
          when(col("g_stop"), lit("low_stopword")),
          when(col("g_digit"), lit("digit_heavy")),
          when(col("g_short"), lit("too_short")),
          when(col("g_long"), lit("too_long"))).as("reasons"))
  }

  private val filterDecisionSql =
    raw"""WITH nrm AS (
           SELECT doc_id, source, text,
                  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         keepers AS (SELECT md5(t) AS norm_hash, min(doc_id) AS keep_id
                     FROM nrm GROUP BY 1),
         esh AS (SELECT DISTINCT substr(t, CAST(i AS INT), 20) AS g
                 FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)
                 WHERE source = 'src0'),
         tsh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 20) AS g
                 FROM nrm, LATERAL unnest(generate_series(1, greatest(length(t)-19, 1))) AS u(i)
                 WHERE source <> 'src0'),
         shared AS (SELECT doc_id, count(*) AS n_shared
                    FROM tsh JOIN esh USING (g) GROUP BY 1),
         feats AS (
           SELECT n.doc_id,
                  n.doc_id != k.keep_id AS g_dup,
                  coalesce(s.n_shared, 0) >= 5 AS g_contam,
                  CAST(len(regexp_extract_all(lower(n.text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE)
                    / CAST(len(regexp_extract_all(n.text, '\S+')) AS DOUBLE) < 0.03 AS g_stop,
                  CAST(len(regexp_extract_all(n.text, '[0-9]')) AS DOUBLE)
                    / CAST(length(n.text) AS DOUBLE) > 0.3 AS g_digit,
                  len(regexp_extract_all(n.text, '\S+')) < 10 AS g_short,
                  len(regexp_extract_all(n.text, '\S+')) > 100000 AS g_long
           FROM nrm n JOIN keepers k ON md5(n.t) = k.norm_hash
           LEFT JOIN shared s ON n.doc_id = s.doc_id
           WHERE n.source <> 'src0')
         SELECT doc_id,
                NOT (g_dup OR g_contam OR g_stop OR g_digit OR g_short OR g_long) AS keep,
                concat_ws(',',
                  CASE WHEN g_dup THEN 'exact_dup' END,
                  CASE WHEN g_contam THEN 'contaminated' END,
                  CASE WHEN g_stop THEN 'low_stopword' END,
                  CASE WHEN g_digit THEN 'digit_heavy' END,
                  CASE WHEN g_short THEN 'too_short' END,
                  CASE WHEN g_long THEN 'too_long' END) AS reasons
         FROM feats"""

  private val charLmScoreSql =
    raw"""WITH nrm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         bi AS (
           SELECT doc_id, substr(t, CAST(i AS INT), 2) AS g
           FROM nrm, LATERAL unnest(generate_series(1, length(t) - 1)) AS u(i)
           WHERE length(t) >= 2),
         per_doc AS (SELECT doc_id, g, count(*) AS dc FROM bi GROUP BY 1, 2),
         cnt AS (SELECT g, sum(dc) AS c FROM per_doc GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tt FROM cnt)
         SELECT doc_id, CAST(sum(dc) AS BIGINT) AS n_bigrams,
                round(sum(dc * ln(c / tt)) / sum(dc), 6) AS lm_score
         FROM per_doc JOIN cnt USING (g), tot GROUP BY 1"""

  // ---------------------------------------------------------------
  // 176/177. deterministic topic binning — random-projection content
  // clusters over the hashed bag-of-words, the cluster-and-sample /
  // per-topic-mix primitive of corpus curation (the clustering stage
  // of SemDeDup/D4-style pipelines, applied to text instead of
  // embeddings). Honest framing: sign buckets of 5 SplitMix64
  // hyperplanes in the 2¹⁶ hashed-word space are CONTENT bins, not
  // learned semantic topics — but they are deterministic, cheap (no
  // training pass), and exactly replayable. All arithmetic is integer:
  // word counts × integer plane components (SplitMixComp), so the
  // signature sums are order-free and the bucket is bit-identical
  // under any partitioning and in the oracle. Words in >90% of docs
  // are dropped (the exact-integer stand-in for idf downweighting;
  // the synthetic corpus has a 31-word near-uniform vocab, so the cut
  // binds only on true every-doc words there — at web scale it is the
  // standard stopword guard).
  // Plan: one word-df pass, one (doc, wb) count shuffle, the 5·2¹⁶-row
  // plane table broadcast from spark.range (never collected), two
  // bounded aggregations.

  private val TopicPlanes = 5

  /** Exploded corpus words + the stopword-filtered keep set. */
  private def topicWords(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("doc_id"), explode(expr(
      "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w0"))
    val dfw = words.select(col("doc_id"), col("w0")).distinct()
      .groupBy(col("w0")).agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    val kept = dfw.crossJoin(broadcast(nd))
      .filter(col("df") * lit(10L) < col("nd") * lit(9L)).select(col("w0"))
    (words, kept)
  }

  def topicAssign(s: SparkSession, dir: String): DataFrame = {
    val (words, kept) = topicWords(s, dir)
    topicAssignFrom(s, dir, words.join(kept.hint("shuffle_hash"), "w0"))
  }

  /** #176's assignment over a precomputed (doc_id, w0) kept-word stream —
    * lets siblings that also need the stream (topicTopTerms) share ONE
    * explode/stopword pass instead of re-running it inside the call. */
  private def topicAssignFrom(s: SparkSession, dir: String,
      keptWords: DataFrame): DataFrame = {
    // r15 optimization (guide §2.3/§2.4): the plane component is a pure
    // codegen'd function of (j, wb) — compute it INLINE as 5 aggregate
    // columns of one (doc_id)-grouped pass instead of broadcasting the
    // 5·2¹⁶-row plane table, joining it, and re-aggregating per (doc, j).
    // Integer sums over the same summands in both shapes, so the sign
    // pattern — and the oracle hash — is unchanged.
    val cnt = keptWords
      .withColumn("wb", wordBucket)
      .groupBy(col("doc_id"), col("wb")).agg(count(lit(1)).as("n"))
    val sigCols = (0 until TopicPlanes).map { j =>
      sum(col("n") * graft.functions.VectorFunctions
        .splitMixComp(lit(j * 65536L) + col("wb"))).as(s"sg$j")
    }
    val topic = cnt.groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        (0 until TopicPlanes).map(j =>
          when(col(s"sg$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("topic"))
    Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .join(topic, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("topic"), lit(0L)).as("topic"))
  }

  // 177. per-topic top terms: doc-frequency of each kept word within
  // its topic, rank ≤ 5 by (n_docs desc, term asc) — all-integer with
  // lexicographic ties, so the ranking is total and hash-exact.
  def topicTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (words, kept) = topicWords(s, dir)
    // both the df ranking and the topic assignment consume the kept-word
    // stream — persist it so the explode + stopword screen runs once
    // (released by the caller's clearCache, same contract as LSH sigs)
    val kw = words.join(kept.hint("shuffle_hash"), "w0")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docw = kw.select(col("doc_id"), col("w0")).distinct()
    val assigned = topicAssignFrom(s, dir, kw).select(col("doc_id"), col("topic"))
    val tw = docw.join(assigned, "doc_id")
      .groupBy(col("topic"), col("w0")).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("topic"))
      .orderBy(col("n_docs").desc, col("w0").asc)
    tw.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("topic"), col("rk").cast("long").as("rk"),
        col("w0").as("term"), col("n_docs"))
  }

  // 342. per-topic NPMI coherence (Bouma 2009; Röder et al. 2015's
  // C_v family reduced to its deterministic document-cooccurrence
  // core) — the EVAL table for the #176/#177 topic ladder: a topic
  // whose top terms never co-occur is a hash artifact, one whose
  // terms always co-occur is a boilerplate cluster. Per within-topic
  // top-term pair: NPMI = ln(p(ab)/(p(a)p(b))) / −ln p(ab) with p =
  // document frequency / N, df_ab = 0 pinned to the −1 convention.
  // All probabilities enter as EXACT integer ratios (df_ab·N and
  // df_a·df_b stay under 2⁵³ to corpus scale), so both engines take
  // ln of identical doubles. Plan: pair list is ≤ topics·C(5,2) rows;
  // the incidence stream is restricted to the ≤ topics·5 top terms
  // (broadcast semi-join) before the df_ab pair join — never a full
  // vocabulary co-occurrence matrix.
  def topicCoherenceNpmi(s: SparkSession, dir: String): DataFrame = {
    val tt = topicTopTerms(s, dir).select(col("topic"), col("term"))
      .localCheckpoint() // feeds the pair list AND the term filter
    val tp = tt.as("a").join(tt.as("b"),
        col("a.topic") === col("b.topic") && col("a.term") < col("b.term"))
      .select(col("a.topic").as("topic"), col("a.term").as("term_a"),
        col("b.term").as("term_b"))
    // r16 (guide §2.3 "project before the exchange"): the term screen
    // moves INSIDE the word array — tt is checkpointed and topic-bounded
    // (≤ topics·5 rows, the declared top-terms contract), so the kept
    // terms collect to a literal and each doc intersects its distinct
    // word array against it per row. The old shape exploded EVERY
    // distinct word of every doc (~30M rows at sf0.1) only for the
    // broadcast join to discard all but the ~25 kept terms; now the
    // explode emits only matching terms. array_intersect preserves the
    // first array's (distinct) elements, so rows equal the join's.
    val termLits = tt.select(col("term")).distinct()
      .collect().map(_.getString(0)).sorted
    val docw = Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_intersect(expr(
        "array_distinct(regexp_extract_all(lower(text), '[a-z0-9]+', 0))"),
        typedLit(termLits.toSeq))).as("w0"))
      .localCheckpoint() // term dfs + both sides of the pair join
    val nd = Tables.documents(s, dir).agg(count(lit(1)).as("__nd"))
    val dfw = docw.groupBy(col("w0")).agg(count(lit(1)).as("df"))
    val dfab = tp
      .join(docw.select(col("doc_id"), col("w0").as("term_a")), Seq("term_a"))
      .join(docw.select(col("doc_id"), col("w0").as("term_b")), Seq("term_b", "doc_id"))
      .groupBy(col("topic"), col("term_a"), col("term_b"))
      .agg(count(lit(1)).as("df_ab"))
    tp.join(dfab, Seq("topic", "term_a", "term_b"), "left")
      .withColumn("df_ab", coalesce(col("df_ab"), lit(0L)))
      .join(broadcast(dfw.select(col("w0").as("term_a"), col("df").as("df_a"))), "term_a")
      .join(broadcast(dfw.select(col("w0").as("term_b"), col("df").as("df_b"))), "term_b")
      .crossJoin(broadcast(nd))
      .select(col("topic"), col("term_a"), col("term_b"),
        col("df_a"), col("df_b"), col("df_ab"),
        r(when(col("df_ab") === 0, lit(-1.0)).otherwise(
          log((col("df_ab") * col("__nd")).cast("double") /
            (col("df_a") * col("df_b")).cast("double")) /
            -log(col("df_ab").cast("double") / col("__nd").cast("double"))), 6)
          .as("npmi"))
  }

  private def topicCoherenceNpmiSql: String =
    s"""WITH $topicPrefixSql,
       docw AS (SELECT DISTINCT w.doc_id, w.w0
                FROM words0 w JOIN kept k USING (w0)),
       tw AS (SELECT a.topic, d.w0, count(*) AS n_docs
              FROM docw d JOIN assigned a USING (doc_id) GROUP BY 1, 2),
       rk AS (SELECT topic, w0 AS term, n_docs,
                     row_number() OVER (PARTITION BY topic
                       ORDER BY n_docs DESC, w0) AS rk
              FROM tw),
       tt AS MATERIALIZED (SELECT topic, term FROM rk WHERE rk <= 5),
       tp AS (SELECT a.topic, a.term AS term_a, b.term AS term_b
              FROM tt a JOIN tt b ON a.topic = b.topic AND a.term < b.term),
       terms AS (SELECT DISTINCT term FROM tt),
       dwt AS MATERIALIZED (
         SELECT d.doc_id, d.w0 FROM docw d JOIN terms t ON d.w0 = t.term),
       dfw2 AS (SELECT w0, count(*) AS df FROM dwt GROUP BY 1),
       dfab AS (
         SELECT p.topic, p.term_a, p.term_b, count(*) AS df_ab
         FROM tp p
         JOIN dwt a ON a.w0 = p.term_a
         JOIN dwt b ON b.w0 = p.term_b AND b.doc_id = a.doc_id
         GROUP BY 1, 2, 3),
       ndd AS (SELECT CAST(count(*) AS BIGINT) AS nd2 FROM documents)
       SELECT p.topic, p.term_a, p.term_b,
              fa.df AS df_a, fb.df AS df_b,
              coalesce(ab.df_ab, 0) AS df_ab,
              round(CASE WHEN coalesce(ab.df_ab, 0) = 0 THEN -1.0
                    ELSE ln(CAST(coalesce(ab.df_ab, 0) * nd2 AS DOUBLE)
                            / CAST(fa.df * fb.df AS DOUBLE))
                         / -ln(CAST(coalesce(ab.df_ab, 0) AS DOUBLE) / nd2)
                    END, 6) AS npmi
       FROM tp p
       LEFT JOIN dfab ab ON p.topic = ab.topic AND p.term_a = ab.term_a
                        AND p.term_b = ab.term_b
       JOIN dfw2 fa ON p.term_a = fa.w0
       JOIN dfw2 fb ON p.term_b = fb.w0
       CROSS JOIN ndd"""

  // 190b/191. per-source topic mix: the corpus-balance planning table —
  // topic composition within each source (counts + fractions) and the
  // source's topic diversity (Shannon entropy over its topic mix, nats).
  // Pure composition over #176's assignment; one bounded (source,
  // topic) aggregation. Entropy terms are deterministic ln of exact
  // integer ratios (6dp ~ 10 orders above ULP).
  def topicMixBySource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSrc = Window.partitionBy(col("source"))
    topicAssign(s, dir)
      .groupBy(col("source"), col("topic")).agg(count(lit(1)).as("n_docs"))
      .withColumn("src_total", sum(col("n_docs")).over(wSrc))
      .select(col("source"), col("topic"), col("n_docs"),
        r(col("n_docs") / col("src_total"), 6).as("frac"),
        r(-sum(col("n_docs") / col("src_total") *
            log(col("n_docs") / col("src_total"))).over(wSrc), 6)
          .as("src_topic_entropy"))
  }

  private def topicMixBySourceSql: String =
    s"""WITH $topicPrefixSql,
       mix AS (
         SELECT source, topic, count(*) AS n_docs
         FROM assigned GROUP BY 1, 2),
       tot AS (
         SELECT source, CAST(sum(n_docs) AS BIGINT) AS st FROM mix GROUP BY 1),
       ent AS (
         SELECT m.source,
                round(-sum(CAST(m.n_docs AS DOUBLE) / t.st
                      * ln(CAST(m.n_docs AS DOUBLE) / t.st)), 6) AS e
         FROM mix m JOIN tot t USING (source) GROUP BY 1)
       SELECT m.source, m.topic, m.n_docs,
              round(CAST(m.n_docs AS DOUBLE) / t.st, 6) AS frac,
              ent.e AS src_topic_entropy
       FROM mix m JOIN tot t USING (source) JOIN ent USING (source)"""

  /** Shared oracle prefix for #176/#177: word df + stopword filter,
    * polynomial word-buckets, the SplitMix64 integer plane components
    * (graft.sim.Ann.splitmixCtes — the same HUGEINT replay the
    * embedding planes use), integer signatures, per-doc topic. */
  private def topicPrefixSql: String =
    s"""words0 AS MATERIALIZED (
         SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w0
         FROM documents),
       dfw AS (SELECT w0, count(DISTINCT doc_id) AS df FROM words0 GROUP BY 1),
       nd AS (SELECT count(*) AS nd FROM documents),
       kept AS MATERIALIZED (SELECT w0 FROM dfw, nd WHERE df * 10 < nd * 9),
       dw AS (SELECT w0 FROM kept),
       wbm AS MATERIALIZED (
         SELECT w0,
                ((SELECT CAST(sum(ascii(substr(dw.w0, CAST(i AS INT), 1))
                      * ((i * 2654435761) % 1000000007) % 1000000007) AS BIGINT)
                  FROM unnest(generate_series(1, length(dw.w0))) AS t(i))
                 % 1000000007) % 65536 AS wb
         FROM dw),
       twb AS (SELECT DISTINCT wb FROM wbm),
       tidx AS MATERIALIZED (
         SELECT t.j, twb.wb, (t.j*65536 + twb.wb)::HUGEINT AS x
         FROM (SELECT unnest(generate_series(0, ${TopicPlanes - 1})) AS j) t, twb),
       ${graft.sim.Ann.splitmixCtes("t", "tidx", "j, wb")},
       tcomp AS MATERIALIZED (
         SELECT j, wb, ((hs % 2000003) + 2000003) % 2000003 - 1000001 AS comp
         FROM th),
       cnt AS MATERIALIZED (
         SELECT w.doc_id, b.wb, count(*) AS n
         FROM words0 w JOIN wbm b USING (w0) GROUP BY 1, 2),
       sig AS (SELECT c.doc_id, t.j, sum(c.n * t.comp) AS sg
               FROM cnt c JOIN tcomp t USING (wb) GROUP BY 1, 2),
       topics AS MATERIALIZED (
         SELECT doc_id,
                CAST(sum(CASE WHEN sg > 0 THEN (1::BIGINT << CAST(j AS INT))
                    ELSE 0 END) AS BIGINT) AS topic
         FROM sig GROUP BY 1),
       assigned AS MATERIALIZED (
         SELECT d.doc_id, d.source, coalesce(t.topic, 0) AS topic
         FROM documents d LEFT JOIN topics t USING (doc_id))"""

  private def topicAssignSql: String =
    s"""WITH $topicPrefixSql
       SELECT doc_id, source, topic FROM assigned"""

  private def topicTopTermsSql: String =
    s"""WITH $topicPrefixSql,
       docw AS (SELECT DISTINCT w.doc_id, w.w0
                FROM words0 w JOIN kept k USING (w0)),
       tw AS (SELECT a.topic, d.w0, count(*) AS n_docs
              FROM docw d JOIN assigned a USING (doc_id) GROUP BY 1, 2),
       rk AS (SELECT topic, w0 AS term, n_docs,
                     row_number() OVER (PARTITION BY topic
                       ORDER BY n_docs DESC, w0) AS rk
              FROM tw)
       SELECT topic, rk, term, n_docs FROM rk WHERE rk <= 5"""

  // ---------------------------------------------------------------
  // 130. duplicated-span audit (the C4/RealNews sentence-level dedup
  // signal): split every doc on '. ', keep spans ≥ 20 chars, count how
  // many docs carry each span, and score each doc by its fraction of
  // corpus-duplicated spans. Spans travel as xxhash64 longs (the
  // source_overlap trick — the oracle counts strings; collision odds
  // |spans|²/2⁶⁵ are far below any other bound here); the distinct
  // pair set and the frequency join hang off the SAME (hash) exchange
  // via shuffle_hash hints, so the explode runs once.
  def paraDedup(s: SparkSession, dir: String): DataFrame = {
    val sent = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("sent"))
      .filter(length(col("sent")) >= 20)
      .select(col("doc_id"), xxhash64(col("sent")).as("h"))
      .distinct()
    val freq = sent.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sent.hint("shuffle_hash").join(freq.hint("shuffle_hash"), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_span"),
        count(when(col("df") >= 2, lit(1))).as("n_dup"))
      .select(col("doc_id"), col("n_span"), col("n_dup"),
        r(col("n_dup").cast("double") / col("n_span"), 6).as("dup_frac"))
  }

  // ---------------------------------------------------------------
  // 174. cross-document duplicate n-gram fraction — the corpus-level
  // word-8-gram filter of MassiveText/RefinedWeb (Rae et al. 2021 §A1
  // scope the WITHIN-doc repetition signals #61 covers; this is the
  // ACROSS-doc one): fraction of a doc's word 8-grams that occur in ≥2
  // docs. Same hash-on-the-wire shape as #130 (xxhash64 longs through
  // one shared (hash) exchange; the oracle counts the strings —
  // collision odds |grams|²/2⁶⁵ are negligible), n-grams from one
  // narrow transform, docs under 8 words kept at dup_frac 0.
  def dupNgramFraction(s: SparkSession, dir: String): DataFrame = {
    val n = 8
    val toks = Tables.documents(s, dir).select(col("doc_id"),
      expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
    val grams = toks.filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), " +
        s"i -> xxhash64(array_join(slice(ws, i, $n), ' ')))")).as("h"))
      .distinct()
    val freq = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val per = grams.hint("shuffle_hash").join(freq.hint("shuffle_hash"), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        count(when(col("df") >= 2, lit(1))).as("n_dup"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        r(when(col("n_ngrams").isNull, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_ngrams")), 6)
          .as("dup_frac"))
  }

  private val dupNgramFractionSql =
    """WITH toks AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS g
              FROM toks, LATERAL unnest(generate_series(1, len(ws) - 7)) AS u(i)
              WHERE len(ws) >= 8),
       freq AS (SELECT g, count(*) AS df FROM sh GROUP BY 1),
       per AS (SELECT doc_id, count(*) AS n_ngrams,
                      count(CASE WHEN df >= 2 THEN 1 END) AS n_dup
               FROM sh JOIN freq USING (g) GROUP BY 1)
       SELECT d.doc_id, coalesce(per.n_ngrams, 0) AS n_ngrams,
              coalesce(per.n_dup, 0) AS n_dup,
              round(CASE WHEN per.n_ngrams IS NULL THEN 0.0
                    ELSE CAST(per.n_dup AS DOUBLE) / per.n_ngrams END, 6)
                AS dup_frac
       FROM documents d LEFT JOIN per USING (doc_id)"""

  private val paraDedupSql =
    """WITH sent AS (
         SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(string_split(text, '. ')) AS s FROM documents)
         WHERE length(s) >= 20),
       freq AS (SELECT s, count(*) AS df FROM sent GROUP BY 1)
       SELECT doc_id, count(*) AS n_span,
              count(CASE WHEN df >= 2 THEN 1 END) AS n_dup,
              round(CAST(count(CASE WHEN df >= 2 THEN 1 END) AS DOUBLE)
                    / count(*), 6) AS dup_frac
       FROM sent JOIN freq USING (s) GROUP BY 1"""

  // ---------------------------------------------------------------
  // 166. compression-ratio quality signal (the RefinedWeb/Dolma-style
  // gzip filter): deflate(text)/raw byte ratio per document via the
  // native codegen'd DeflateRatio expression, plus a per-source spread
  // summary. Templated/repeated text compresses far below natural
  // prose; high-entropy noise sits near 1.0 — a one-pass, shuffle-free
  // screen that catches boilerplate the word-level repetition stats
  // (#61) miss. Rows-only at the gate: see its Op.
  def textCompression(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      length(col("text")).cast("long").as("n_chars"),
      r(graft.functions.DeflateRatio.column(col("text")), 6).as("deflate_ratio"))

  // ---------------------------------------------------------------
  // 275. integer compression proxy — the hash-checked twin #166's
  // deflate ratio cannot be (no zlib in the oracle engine; r6 verdict
  // item 4): distinct character-8-grams / total character-8-grams per
  // document. This is the LZ dictionary-saturation measure — repeated
  // boilerplate re-uses 8-gram "dictionary entries" and drives the
  // ratio toward 0 exactly where deflate's window matches fire, while
  // high-entropy prose stays near 1.0. All-integer until the one final
  // division, per-row narrow work (no shuffle), so it replays
  // bit-exact in DuckDB. Docs shorter than 8 chars carry ratio 1.0
  // (nothing to match). deflate_ratio (#166) remains the benched
  // scale signal; this is the portable audit twin.
  // r16 (guide §1.2 per-task work): the gram array never needs to
  // materialize — n_grams is pure length arithmetic and n_distinct is
  // the native distinct-shingle set's size (CharShingles builds the
  // LinkedHashSet in one pass; the old shape allocated ~|chars| string
  // objects per doc and then array_distinct'ed them).
  def textCompressionProxy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        when(length(col("text")) >= 8, (length(col("text")) - 7).cast("long"))
          .otherwise(lit(0L)).as("n_grams"),
        when(length(col("text")) >= 8,
          size(graft.functions.VectorFunctions.charShingles(col("text"), 8)).cast("long"))
          .otherwise(lit(0L)).as("n_distinct"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("n_grams"),
        col("n_distinct"),
        when(col("n_grams") > 0,
          r(col("n_distinct") / col("n_grams").cast("double"), 6))
          .otherwise(lit(1.0)).as("distinct_ratio"))

  private val textCompressionProxySql =
    """WITH g AS (
         SELECT doc_id, source, length(text) AS n_chars,
                CASE WHEN length(text) >= 8
                     THEN list_transform(range(1, length(text) - 6), i -> substr(text, i, 8))
                     ELSE [] END AS grams
         FROM documents)
       SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
              CAST(len(grams) AS BIGINT) AS n_grams,
              CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
              CASE WHEN len(grams) > 0
                   THEN round(len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 6)
                   ELSE 1.0 END AS distinct_ratio
       FROM g"""

  // ---------------------------------------------------------------
  // 301. quality-signal correlation audit per source — the filter-
  // REDUNDANCY screen a curation pipeline runs before stacking
  // filters (#171 composes the decisions; this asks which signals are
  // measuring the same thing — a |r| ≈ 1 pair means the second filter
  // buys nothing): per-doc length, word count, and the #275
  // distinct-8-gram compression proxy, pairwise Pearson per source
  // via the shared corr aggregate (the feature_corr / zipf_fit
  // cross-engine precedent). Per-row narrow signals + one bounded-key
  // aggregation.
  def qualitySignalCorr(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        length(col("text")).cast("double").as("len"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .cast("double").as("words"),
        // r16: native distinct-shingle count (the textCompressionProxy
        // device) — no per-position string array materializes
        when(length(col("text")) >= 8,
          size(graft.functions.VectorFunctions.charShingles(col("text"), 8))
            / (length(col("text")) - 7).cast("double"))
          .otherwise(lit(1.0)).as("ratio"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(corr(col("len"), col("words")), 6).as("corr_len_words"),
        round(corr(col("len"), col("ratio")), 6).as("corr_len_ratio"),
        round(corr(col("words"), col("ratio")), 6).as("corr_words_ratio"))

  private val qualitySignalCorrSql =
    """WITH sig AS (
         SELECT source,
                CAST(length(text) AS DOUBLE) AS len,
                CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE) AS words,
                CASE WHEN length(text) >= 8
                     THEN len(list_distinct(list_transform(range(1, length(text) - 6),
                            i -> substr(text, i, 8))))
                          / CAST(length(text) - 7 AS DOUBLE)
                     ELSE 1.0 END AS ratio
         FROM documents)
       SELECT source, count(*) AS n_docs,
              round(corr(len, words), 6) + 0 AS corr_len_words,
              round(corr(len, ratio), 6) + 0 AS corr_len_ratio,
              round(corr(words, ratio), 6) + 0 AS corr_words_ratio
       FROM sig GROUP BY 1"""

  // ---------------------------------------------------------------
  // 302. token-count Gini per source — the doc-length INEQUALITY
  // behind #155's length quantiles (#107's Gini on the corpus axis:
  // a source where a few giant docs carry most tokens behaves very
  // differently under packing/sampling than a uniform one, at the
  // same mean length): exact integer token counts through the shared
  // giniByGroup rank form (2Σi·xᵢ/(nΣx) − (n+1)/n, ties broken by
  // doc_id — identical total order in both engines).
  def tokenGini(s: SparkSession, dir: String): DataFrame =
    graft.api.Analytics.giniByGroup(
        Tables.documents(s, dir).select(col("source"), col("doc_id"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
            .cast("double").as("toks")),
        col("source"), col("doc_id"), col("toks"))
      .select(col("group").as("source"), col("n"), r(col("gini"), 6).as("gini"))

  private val tokenGiniSql =
    """WITH t AS (
         SELECT source, doc_id,
                CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE) AS toks
         FROM documents),
       rk AS (
         SELECT source, toks,
                row_number() OVER (PARTITION BY source
                  ORDER BY toks ASC, doc_id ASC) AS i
         FROM t)
       SELECT source, count(*) AS n,
              round(2.0 * sum(i * toks) / (count(*) * nullif(sum(toks), 0.0))
                    - (count(*) + 1.0) / count(*), 6) AS gini
       FROM rk GROUP BY 1"""

  // ---------------------------------------------------------------
  // 145. approximate heavy hitters per group (native Misra-Gries
  // aggregate — ≤ k counters per group per partition on the exchange,
  // the scale path for "top frequent values" when the value cardinality
  // would make the exact (group, value) count-shuffle the bottleneck).
  // The oracle is EXACT counting: with |langs| ≤ k the summary
  // degenerates to exact counts, so the query verifies the whole
  // aggregate path end-to-end; the property spec covers the k <
  // cardinality approximation guarantee.
  // ORACLE PRECONDITION (do not relax silently): the oracle emits ALL
  // (source, lang) rows while MG truncates (and may evict) past k, so
  // the match holds only while every source has ≤ k = 8 distinct langs.
  // The corpus has ≤ 5 at every SF; VectorExprsPropSpec pins the bound
  // at the spec SF so corpus drift fails a test, not the silent oracle.
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(graft.functions.VectorFunctions.approxHeavyHitters(col("lang"), 8).as("hh"))
      .select(col("source"), posexplode(col("hh")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"),
        col("col.item").as("item"), col("col.est_count").as("est_count"))

  private val heavyHittersSql =
    """WITH c AS (
         SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2)
       SELECT source,
              row_number() OVER (PARTITION BY source ORDER BY n DESC, lang ASC)
                AS rk,
              lang AS item, n AS est_count
       FROM c"""

  // ---------------------------------------------------------------
  // 155. corpus length profile per source — the first corpus-health
  // table a data pipeline prints: doc counts and the length
  // distribution (exact quantiles at this SF; percentile_approx at
  // corpus scale, per the Stats contract). Bounded-key aggregation.
  def lengthProfile(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        r(avg(col("n_chars")), 6).as("mean_chars"),
        r(graft.core.Stats.quantileCol(col("n_chars"), 0.1), 6).as("p10"),
        r(graft.core.Stats.quantileCol(col("n_chars"), 0.5), 6).as("p50"),
        r(graft.core.Stats.quantileCol(col("n_chars"), 0.9), 6).as("p90"))

  private val lengthProfileSql =
    """SELECT source, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              round(avg(n_chars), 6) AS mean_chars,
              round(quantile_cont(n_chars, 0.1), 6) AS p10,
              round(quantile_cont(n_chars, 0.5), 6) AS p50,
              round(quantile_cont(n_chars, 0.9), 6) AS p90
       FROM documents GROUP BY 1"""

  // ---------------------------------------------------------------
  // 351. Corpus-level BLEU proxy (Papineni et al. 2002) between the
  // odd-id and even-id halves of the corpus — the distribution-match
  // score an LLM-data pipeline uses to compare a synthetic/rewritten
  // corpus against its source (corpus-level modified n-gram precision,
  // NOT per-sentence): clipped counts min(cnt_cand(g), cnt_ref(g)) per
  // n-gram order 1..4, brevity penalty from corpus token lengths,
  // geometric mean. Scale shape: four gram rollups (vocab^n-bounded
  // keys, map-side partials) — the gram tables never join each other;
  // everything after is a 4-row frame.
  def corpusBleuProxy(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select((pmod(col("doc_id"), lit(2)) === 1).as("cand"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
    // Guarded: for docs shorter than n words, sequence(1, 0) would yield the
    // DESCENDING array [1, 0] and slice(ws, 0, n) throws at runtime — emit an
    // empty gram array instead (explode drops the row, matching the oracle).
    def gramsN(n: Int) = words.select(col("cand"), explode(expr(
        s"CASE WHEN size(ws) >= $n THEN " +
          s"transform(sequence(1, size(ws) - ${n - 1}), " +
          s"i -> array_join(slice(ws, i, $n), ' ')) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END")).as("g"))
      .withColumn("n", lit(n.toLong))
    val grams = (1 to 4).map(gramsN).reduce(_ unionByName _)
    val gc = grams.groupBy(col("n"), col("g"))
      .agg(sum(when(col("cand"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("cand"), 1L).otherwise(0L)).as("cb"))
    val pn = gc.groupBy(col("n"))
      .agg(sum(least(col("ca"), col("cb"))).as("clipped"), sum(col("ca")).as("total"))
      .withColumn("p", col("clipped") / col("total").cast("double"))
    val lens = words.select(col("cand"), size(col("ws")).cast("long").as("l"))
      .groupBy().agg(sum(when(col("cand"), col("l")).otherwise(0L)).as("la"),
        sum(when(!col("cand"), col("l")).otherwise(0L)).as("lb"))
    val glob = pn.groupBy().agg(min(col("p")).as("minp"), sum(log(col("p"))).as("sumln"))
    val bp = when(col("la") >= col("lb"), 1.0)
      .otherwise(exp(lit(1.0) - col("lb") / col("la").cast("double")))
    pn.crossJoin(broadcast(lens)).crossJoin(broadcast(glob))
      .select(col("n"), col("clipped"), col("total"),
        round(col("p"), 6).as("p_n"),
        round(bp, 6).as("bp"),
        round(when(col("minp") === 0, 0.0)
          .otherwise(bp * exp(col("sumln") / 4.0)), 6).as("bleu"))
  }

  private val corpusBleuProxySql =
    """WITH dw AS (
         SELECT doc_id, doc_id % 2 = 1 AS cand,
                unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w,
                generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'), 1) AS idx
         FROM documents),
       grams AS (
         SELECT n.n, a.cand,
           CASE n.n WHEN 1 THEN a.w
             WHEN 2 THEN a.w || ' ' || b.w
             WHEN 3 THEN a.w || ' ' || b.w || ' ' || c.w
             ELSE a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w END AS g
         FROM (SELECT unnest(generate_series(1, 4)) AS n) n
         JOIN dw a ON true
         LEFT JOIN dw b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
         LEFT JOIN dw c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
         LEFT JOIN dw d ON d.doc_id = a.doc_id AND d.idx = a.idx + 3
         WHERE (n.n <= 1 OR b.w IS NOT NULL) AND (n.n <= 2 OR c.w IS NOT NULL)
           AND (n.n <= 3 OR d.w IS NOT NULL)),
       gc AS (
         SELECT n, g,
           sum(CASE WHEN cand THEN 1 ELSE 0 END) AS ca,
           sum(CASE WHEN NOT cand THEN 1 ELSE 0 END) AS cb
         FROM grams GROUP BY 1, 2),
       pn AS (
         SELECT n, sum(least(ca, cb)) AS clipped, sum(ca) AS total,
           sum(least(ca, cb)) / CAST(sum(ca) AS DOUBLE) AS p
         FROM gc GROUP BY 1),
       lens AS (
         SELECT sum(CASE WHEN cand THEN l ELSE 0 END) AS la,
                sum(CASE WHEN NOT cand THEN l ELSE 0 END) AS lb
         FROM (SELECT doc_id, any_value(cand) AS cand, count(*) AS l
               FROM dw GROUP BY doc_id)),
       gstats AS (SELECT min(p) AS minp,
                         sum(CASE WHEN p > 0 THEN ln(p) END) AS sumln FROM pn)
       SELECT pn.n, CAST(pn.clipped AS BIGINT) AS clipped,
         CAST(pn.total AS BIGINT) AS total, round(pn.p, 6) AS p_n,
         round(CASE WHEN la >= lb THEN 1.0
           ELSE exp(1.0 - lb / CAST(la AS DOUBLE)) END, 6) AS bp,
         round(CASE WHEN minp = 0 THEN 0.0
           ELSE (CASE WHEN la >= lb THEN 1.0
                 ELSE exp(1.0 - lb / CAST(la AS DOUBLE)) END)
             * exp(sumln / 4.0) END, 6) AS bleu
       FROM pn CROSS JOIN lens CROSS JOIN gstats"""

  // ---------------------------------------------------------------
  // 358. Corpus-level chrF proxy (Popović 2015 — the tokenization-free
  // companion of #351's BLEU: character n-grams are robust to
  // morphology/whitespace and chrF correlates better with human
  // judgment on noisy text, so a rewrite/synthesis pipeline reads
  // BOTH): char 1..6-grams over whitespace-stripped lowered text
  // between the odd-id (candidate) and even-id (reference) halves;
  // per order, clipped-count precision AND recall, F_{β=2}; the chrF
  // scalar is the macro-average over orders. Same scale shape as
  // #351: six gram rollups (char-vocab^n-bounded keys, map-side
  // partials), everything after is a 6-row frame.
  def chrfProxy(s: SparkSession, dir: String): DataFrame = {
    // r16 (guide §2.3 "aggregate before you shuffle", the char_lm_score
    // device): the old shape unioned SIX per-order corpus passes, each
    // exploding one string row PER GRAM OCCURRENCE (Σ_n |chars| rows)
    // into the (n, g) exchange. Now one scan normalizes each doc once,
    // a 6-way order explode duplicates the row, and the native
    // CharNgramCounts map emits |distinct grams per (doc, n)| (g, c)
    // rows — the occurrence stream never materializes and the exchange
    // carries per-doc counts (exact integers, same totals). The
    // when-chain picks the per-order expression lazily (CaseWhen
    // evaluates only the matched branch), and the length guard keeps
    // the old no-grams-when-shorter-than-n semantics (CharNgramCounts
    // would emit one truncated gram there).
    import graft.functions.VectorFunctions.charNgramCounts
    val t = Tables.documents(s, dir)
      .select((pmod(col("doc_id"), lit(2)) === 1).as("cand"),
        regexp_replace(lower(col("text")), "\\s+", "").as("t"))
    def gramsN(n: Int) = t.filter(length(col("t")) >= n)
      .select(col("cand"),
        explode(charNgramCounts(col("t"), n)).as(Seq("g", "c")))
      .withColumn("n", lit(n.toLong))
    val grams = (1 to 6).map(gramsN).reduce(_ unionByName _)
    val gc = grams.groupBy(col("n"), col("g"))
      .agg(sum(when(col("cand"), col("c")).otherwise(0L)).as("ca"),
        sum(when(!col("cand"), col("c")).otherwise(0L)).as("cb"))
    val pn = gc.groupBy(col("n"))
      .agg(sum(least(col("ca"), col("cb"))).as("clipped"),
        sum(col("ca")).as("total_cand"), sum(col("cb")).as("total_ref"))
      .withColumn("p", col("clipped") / col("total_cand").cast("double"))
      .withColumn("rr", col("clipped") / col("total_ref").cast("double"))
      .withColumn("f", when(lit(4.0) * col("p") + col("rr") > 0,
        lit(5.0) * col("p") * col("rr") / (lit(4.0) * col("p") + col("rr")))
        .otherwise(lit(0.0)))
    val glob = pn.agg(round(avg(col("f")), 6).as("chrf"))
    pn.crossJoin(broadcast(glob))
      .select(col("n"), col("clipped"), col("total_cand"), col("total_ref"),
        round(col("p"), 6).as("p_n"), round(col("rr"), 6).as("r_n"),
        round(col("f"), 6).as("f_n"), col("chrf"))
  }

  private val chrfProxySql = {
    val grams = (1 to 6).map { n =>
      s"""SELECT CAST($n AS BIGINT) AS n, cand, substr(t, CAST(i AS INT), $n) AS g
          FROM nt, LATERAL unnest(generate_series(1, greatest(length(t) - ${n - 1}, 0))) AS u(i)"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH nt AS (
         SELECT doc_id % 2 = 1 AS cand, regexp_replace(lower(text), '\\s+', '', 'g') AS t
         FROM documents),
       grams AS ($grams),
       gc AS (
         SELECT n, g,
           sum(CASE WHEN cand THEN 1 ELSE 0 END) AS ca,
           sum(CASE WHEN NOT cand THEN 1 ELSE 0 END) AS cb
         FROM grams GROUP BY 1, 2),
       pn AS (
         SELECT n, CAST(sum(least(ca, cb)) AS BIGINT) AS clipped,
           CAST(sum(ca) AS BIGINT) AS total_cand, CAST(sum(cb) AS BIGINT) AS total_ref,
           sum(least(ca, cb)) / CAST(sum(ca) AS DOUBLE) AS p,
           sum(least(ca, cb)) / CAST(sum(cb) AS DOUBLE) AS rr
         FROM gc GROUP BY 1),
       pf AS (
         SELECT *, CASE WHEN 4.0 * p + rr > 0
           THEN 5.0 * p * rr / (4.0 * p + rr) ELSE 0.0 END AS f
         FROM pn),
       gstat AS (SELECT round(avg(f), 6) AS chrf FROM pf)
       SELECT n, clipped, total_cand, total_ref,
              round(p, 6) AS p_n, round(rr, 6) AS r_n, round(f, 6) AS f_n, chrf
       FROM pf CROSS JOIN gstat"""
  }

  private val qualitySql = {
    val len = "CAST(length(text) AS DOUBLE)"
    val nWs = raw"CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)"
    val stops = raw"CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE)"
    val digits = s"len(regexp_extract_all(text, '[0-9]'))"
    s"""SELECT doc_id,
        CAST($nWs AS BIGINT) AS n_ws_tokens,
        round(len(regexp_extract_all(text, '[.,;:!?]')) / $len, 6) AS punct_ratio,
        round($digits / $len, 6) AS digit_ratio,
        round(len(regexp_extract_all(text, '[A-Z]')) / $len, 6) AS upper_ratio,
        round($stops / $nWs, 6) AS stop_ratio,
        round(0.4 * ($stops / $nWs) + 0.3 * least(1.0, $nWs / 100.0)
            + 0.3 * (1.0 - $digits / $len), 6) AS quality
        FROM documents"""
  }

  private[text] val langIdSql = {
    val padded = "(' ' || lower(text) || ' ')"
    val scores = markers.map { case (l, toks) =>
      l -> toks.map(tokenCountSql(padded, _)).mkString("(", " + ", ")")
    } + ("zh" -> raw"CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT)")
    def others(l: String): String =
      scores.filterNot(_._1 == l).map(x => s"s_${x._1}").mkString("greatest(", ", ", ")")
    val langs = scores.keys.toSeq.sorted
    val caseExpr = langs.dropRight(1)
      .map(l => s"WHEN s_$l >= ${others(l)} THEN '$l'")
      .mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    val scoreCols = langs.map(l => s"${scores(l)} AS s_$l").mkString(",\n        ")
    s"""SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        $caseExpr AS pred_lang, tagged_lang
        FROM (SELECT doc_id, lang AS tagged_lang,
        $scoreCols
        FROM documents)"""
  }

  private val datasetSplitSql = {
    val md5k = "md5(CAST(doc_id AS VARCHAR))"
    val u = (1 to 6).map { i =>
      s"(strpos('0123456789abcdef', substr($md5k,$i,1))-1)*${math.pow(16, 6 - i)}"
    }.mkString("((", "\n                 + ", " + 1.0) / 16777217.0)")
    s"""SELECT doc_id, round($u, 6) AS u,
        CASE WHEN $u <= 0.8 THEN 'train'
             WHEN $u <= 0.9 THEN 'val'
             ELSE 'test' END AS split
        FROM documents"""
  }

  private val mixResampleSql = {
    val md5k = "md5(CAST(doc_id AS VARCHAR))"
    val u = (1 to 6).map { i =>
      s"(strpos('0123456789abcdef', substr($md5k,$i,1))-1)*${math.pow(16, 6 - i)}"
    }.mkString("((", "\n                 + ", " + 1.0) / 16777217.0)")
    s"""WITH toks AS (
         SELECT source,
                CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY 1),
       tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS n_all,
                      sum(pow(n_tokens, 0.3)) AS z FROM toks),
       f AS (SELECT source, (pow(n_tokens, 0.3) / z) / (n_tokens / n_all) AS factor
             FROM toks, tot),
       fm AS (SELECT max(factor) AS fmax FROM f)
       SELECT d.doc_id, d.source, round(f.factor / fmax, 6) AS rate,
              round($u, 6) AS u, $u <= f.factor / fmax AS keep
       FROM documents d JOIN f ON d.source = f.source, fm"""
  }

  private val CorpusBigramTotal =
    "char_lm_score attaches the 1-row corpus bigram total; perplexity_buckets inherits " +
      "the same attach through it"
  private val MixScalarAttach =
    "dsir_weights (+ hashed twin) / source_mix_weights / mix_resample attach 1-row " +
      "LM-total / normalizer / max-factor scalars — scalar attaches, not pair joins"
  private val DocCountAttach =
    "topic_assign / topic_top_terms / topic_mix attach the 1-row doc-count scalar for " +
      "the stopword df cut — scalar attach, not a pair join; token_budget_alloc " +
      "attaches the 1-row capped-totals agg"
  private val VocabLangScaffold =
    "word_lang_mi builds the bounded |vocab|x|langs| scaffold (the ma_stats precedent) " +
      "+ 1-row N attach; proportional_allocation attaches the 1-row totals/seats " +
      "aggregates"

  val ops: Seq[Op] = Seq(
    Op("text_compression_proxy", textCompressionProxy _, Oracle(textCompressionProxySql)),
    Op("quality_signal_corr", qualitySignalCorr _, Oracle(qualitySignalCorrSql)),
    Op("token_gini", tokenGini _, Oracle(tokenGiniSql)),
    Op("mix_resample", mixResample _, Oracle(mixResampleSql),
      quadratic = Some(MixScalarAttach)),
    Op("length_profile", lengthProfile _, Oracle(lengthProfileSql)),
    Op("heavy_hitters", heavyHitters _, Oracle(heavyHittersSql)),
    Op("text_compression", textCompression _, RowsOnly("Rows-only at the gate (no zlib " +
      "in the oracle engine); semantics + determinism spec'd in VectorExprsPropSpec.")),
    Op("para_dedup", paraDedup _, Oracle(paraDedupSql)),
    Op("dup_ngram_fraction", dupNgramFraction _, Oracle(dupNgramFractionSql)),
    Op("topic_assign", topicAssign _, Oracle(topicAssignSql),
      quadratic = Some(DocCountAttach)),
    Op("topic_top_terms", topicTopTerms _, Oracle(topicTopTermsSql),
      quadratic = Some(DocCountAttach)),
    Op("topic_coherence_npmi", topicCoherenceNpmi _, Oracle(topicCoherenceNpmiSql),
      quadratic = Some("topic_coherence_npmi attaches the 1-row doc-count scalar (the " +
        "topic_assign precedent); its pair join is term-equi-keyed")),
    Op("topic_mix_by_source", topicMixBySource _, Oracle(topicMixBySourceSql),
      quadratic = Some(DocCountAttach)),
    Op("gopher_rules", gopherRules _, Oracle(gopherRulesSql)),
    Op("token_fertility", tokenFertility _, Oracle(tokenFertilitySql)),
    Op("curation_funnel", curationFunnel _, Oracle(curationFunnelSql)),
    Op("word_lang_mi", wordLangMi _, Oracle(wordLangMiSql),
      quadratic = Some(VocabLangScaffold)),
    Op("proportional_allocation", proportionalAllocation _, Oracle(proportionalAllocationSql),
      quadratic = Some(VocabLangScaffold),
      globalWindow = Some("|sources| rows")),
    Op("char_lm_score", charLmScore _, Oracle(charLmScoreSql),
      quadratic = Some(CorpusBigramTotal)),
    Op("filter_decision", filterDecision _, Oracle(filterDecisionSql)),
    Op("perplexity_buckets", perplexityBuckets _, Oracle(
      s"""SELECT d.doc_id, d.lang, s.lm_score,
            ntile(3) OVER (PARTITION BY d.lang
              ORDER BY s.lm_score DESC, d.doc_id ASC) AS tercile,
            CASE ntile(3) OVER (PARTITION BY d.lang
              ORDER BY s.lm_score DESC, d.doc_id ASC)
              WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
          FROM ($charLmScoreSql) s JOIN documents d USING (doc_id)"""),
      quadratic = Some(CorpusBigramTotal)),
    // vocabulary-bounded rank tables (corpus-sublinear; cap at top-N
    // vocab at larger scale — documented in SURVEY §5)
    Op("zipf_fit", zipfFit _, Oracle(zipfFitSql),
      globalWindow = Some("vocab rank (sublinear)")),
    Op("zipf_by_source", zipfBySource _, Oracle(zipfBySourceSql)),
    Op("bm25_top_terms", bm25TopTerms _, Oracle(
      """WITH terms AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         dlen AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM dlen),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, dft.df,
                  ln(1.0 + (n_docs - df + 0.5)/(df + 0.5))
                    * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl / avg_dl)) AS bm25_raw
           FROM tf JOIN dft ON tf.term = dft.term JOIN dlen ON tf.doc_id = dlen.doc_id, n)
         SELECT doc_id, term, tf, df, round(bm25_raw, 6) AS bm25,
                row_number() OVER (PARTITION BY doc_id ORDER BY bm25_raw DESC, term ASC) AS rk
         FROM scored QUALIFY rk <= 3"""),
      quadratic = Some(Reasons.OneRowTotals)),
    Op("corpus_bleu_proxy", corpusBleuProxy _, Oracle(corpusBleuProxySql),
      quadratic = Some(Reasons.BoundedScaffolds)),
    Op("chrf_proxy", chrfProxy _, Oracle(chrfProxySql),
      quadratic = Some(Reasons.RoundScalarAttach)),
    // vocabulary-bounded rank tables (corpus-sublinear; cap at top-N
    // vocab at larger scale — documented in SURVEY §5)
    Op("pmi_bigrams", pmiBigrams _, Oracle(
      """WITH ws AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
         uni AS (SELECT unnest(ws) AS w FROM ws),
         unic AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
         bi AS (
           SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
                    i -> struct_pack(a := ws[i], b := ws[i+1]))) AS e
           FROM ws),
         bic AS (SELECT e.a AS a, e.b AS b, count(*) AS c_ab FROM bi GROUP BY 1, 2),
         tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM unic) AS n_words,
                        (SELECT CAST(sum(c_ab) AS DOUBLE) FROM bic) AS n_bigrams),
         scored AS (
           SELECT bic.a, bic.b, bic.c_ab, ca.c AS c_a, cb.c AS c_b,
                  ln((c_ab / n_bigrams) / ((ca.c / n_words) * (cb.c / n_words))) AS pmi_raw
           FROM bic JOIN unic ca ON bic.a = ca.w JOIN unic cb ON bic.b = cb.w, tot
           WHERE c_ab >= 5)
         SELECT a, b, c_ab, c_a, c_b, round(pmi_raw, 6) AS pmi,
                row_number() OVER (ORDER BY pmi_raw DESC, a ASC, b ASC) AS rk
         FROM scored QUALIFY rk <= 20"""),
      quadratic = Some(Reasons.OneRowTotals),
      globalWindow = Some("bigram vocab rank (df-cut)")),
    Op("dsir_weights", dsirWeights _, Oracle(
      """WITH words AS (
           SELECT doc_id, source,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
           FROM documents),
         dt AS (SELECT doc_id, w, count(*) AS n FROM words GROUP BY 1, 2),
         cr AS (SELECT w, count(*) AS cr FROM words GROUP BY 1),
         ct AS (SELECT w, count(*) AS ct FROM words WHERE source = 'src0' GROUP BY 1),
         lm AS (SELECT cr.w, cr.cr, coalesce(ct.ct, 0) AS ct
                FROM cr LEFT JOIN ct USING (w)),
         tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt,
                        CAST(sum(cr) AS DOUBLE) AS nr,
                        CAST(count(*) AS DOUBLE) AS v FROM lm)
         SELECT dt.doc_id, CAST(sum(dt.n) AS BIGINT) AS n_tokens,
                round(sum(dt.n * (ln((lm.ct + 1.0) / (nt + v))
                                  - ln((lm.cr + 1.0) / (nr + v)))), 6) AS log_weight
         FROM dt JOIN lm USING (w), tot
         GROUP BY 1"""),
      quadratic = Some(MixScalarAttach)),
    Op("dsir_weights_hashed", dsirWeightsHashed _, Oracle(
      """WITH words0 AS (
           SELECT doc_id, source,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w0
           FROM documents),
         dw AS (SELECT DISTINCT w0 FROM words0),
         wb AS (SELECT w0,
                  ((SELECT CAST(sum(ascii(substr(dw.w0, CAST(i AS INT), 1))
                        * ((i * 2654435761) % 1000000007) % 1000000007) AS BIGINT)
                    FROM unnest(generate_series(1, length(dw.w0))) AS t(i))
                   % 1000000007) % 65536 AS w
                FROM dw),
         words AS (SELECT w0s.doc_id, w0s.source, wb.w
                   FROM words0 w0s JOIN wb USING (w0)),
         dt AS (SELECT doc_id, w, count(*) AS n FROM words GROUP BY 1, 2),
         cr AS (SELECT w, count(*) AS cr FROM words GROUP BY 1),
         ct AS (SELECT w, count(*) AS ct FROM words WHERE source = 'src0' GROUP BY 1),
         lm AS (SELECT cr.w, cr.cr, coalesce(ct.ct, 0) AS ct
                FROM cr LEFT JOIN ct USING (w)),
         tot AS (SELECT CAST(sum(ct) AS DOUBLE) AS nt,
                        CAST(sum(cr) AS DOUBLE) AS nr,
                        CAST(count(*) AS DOUBLE) AS v FROM lm)
         SELECT dt.doc_id, CAST(sum(dt.n) AS BIGINT) AS n_tokens,
                round(sum(dt.n * (ln((lm.ct + 1.0) / (nt + v))
                                  - ln((lm.cr + 1.0) / (nr + v)))), 6) AS log_weight
         FROM dt JOIN lm USING (w), tot
         GROUP BY 1"""),
      quadratic = Some(MixScalarAttach)),
    Op("source_mix_weights", sourceMixWeights _, Oracle(
      """WITH toks AS (
           SELECT source,
                  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS n_all,
                        sum(pow(n_tokens, 0.3)) AS z FROM toks)
         SELECT source, n_tokens,
                round(n_tokens / n_all, 6) AS p_natural,
                round(pow(n_tokens, 0.3) / z, 6) AS p_mix,
                round((pow(n_tokens, 0.3) / z) / (n_tokens / n_all), 6) AS resample_factor
         FROM toks, tot"""),
      quadratic = Some(MixScalarAttach)),
    Op("token_budget_alloc", tokenBudgetAlloc _, Oracle(
      """WITH toks AS (
           SELECT source,
                  CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS n_all,
                        sum(pow(n_tokens, 0.3)) AS z FROM toks),
         base AS (SELECT source, n_tokens, pow(n_tokens, 0.3) / z AS p_mix,
                         floor(n_all * 0.95) AS t_budget
                  FROM toks, tot),
         wfl AS (SELECT *,
                   coalesce(sum(n_tokens) OVER (ORDER BY n_tokens, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_n,
                   coalesce(sum(p_mix) OVER (ORDER BY n_tokens, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_p
                 FROM base),
         flg AS (SELECT *, CASE WHEN p_mix * (t_budget - cum_n)
                                     >= n_tokens * (1.0 - cum_p)
                           THEN 1 ELSE 0 END AS flag FROM wfl),
         cap AS (SELECT *, min(flag) OVER (ORDER BY n_tokens, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS capped
                 FROM flg),
         ct AS (SELECT coalesce(sum(CASE WHEN capped THEN n_tokens END), 0) AS cap_n,
                       coalesce(sum(CASE WHEN capped THEN p_mix END), 0.0) AS cap_p
                FROM cap)
         SELECT source, n_tokens, round(p_mix, 6) AS p_mix, capped,
                round(CASE WHEN capped THEN CAST(n_tokens AS DOUBLE)
                      ELSE p_mix * (t_budget - cap_n) / (1.0 - cap_p) END, 4)
                  AS quota_tokens,
                round(CASE WHEN capped THEN CAST(n_tokens AS DOUBLE)
                      ELSE p_mix * (t_budget - cap_n) / (1.0 - cap_p) END
                      / n_tokens, 6) AS fill_rate
         FROM cap, ct"""),
      quadratic = Some(DocCountAttach),
      globalWindow = Some("|sources| rows")),
    Op("ngram_diversity", ngramDiversity _, Oracle(
      """WITH ws AS (
           SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
           FROM documents),
         uni AS (SELECT source, count(*) AS n_words, count(DISTINCT w) AS v_words
                 FROM (SELECT source, unnest(ws) AS w FROM ws) GROUP BY 1),
         bi AS (SELECT source, count(*) AS n_bigrams, count(DISTINCT g) AS v_bigrams
                FROM (SELECT source, unnest(list_transform(range(1, greatest(len(ws), 1)),
                         i -> ws[i] || ' ' || ws[i+1])) AS g FROM ws) GROUP BY 1)
         SELECT source, n_words, v_words,
                round(v_words / CAST(n_words AS DOUBLE), 6) AS ttr_words,
                n_bigrams, v_bigrams,
                round(v_bigrams / CAST(n_bigrams AS DOUBLE), 6) AS ttr_bigrams
         FROM uni JOIN bi USING (source)""")),
    Op("dataset_split", datasetSplit _, Oracle(datasetSplitSql)),
    Op("text_token_stats", textTokenStats _, Oracle(
      raw"""SELECT doc_id, CAST(length(text) AS BIGINT) AS len_chars,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '$bpePat')) AS BIGINT) AS n_bpe_tokens
           FROM documents""")),
    Op("text_quality", textQuality _, Oracle(qualitySql)),
    Op("readability", readability _, Oracle(readabilitySql)),
    Op("blocklist_filter", blocklistFilter _, Oracle(blocklistFilterSql)),
    Op("oov_rate", oovRate _, Oracle(oovRateSql)),
    Op("text_entropy", textEntropy _, Oracle(
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         ch AS (
           SELECT doc_id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(string_split_regex(t, '')) AS tok FROM d)
           GROUP BY 1, 2),
         ce AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars, count(*) AS char_alphabet,
                  round(ln(sum(c)) - sum(c*ln(c))/sum(c), 6) AS char_entropy
           FROM ch GROUP BY 1),
         wd AS (
           SELECT doc_id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(regexp_extract_all(t, '[a-z0-9]+')) AS tok FROM d)
           GROUP BY 1, 2),
         we AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS word_alphabet,
                  round(ln(sum(c)) - sum(c*ln(c))/sum(c), 6) AS word_entropy
           FROM wd GROUP BY 1)
         SELECT ce.doc_id, ce.n_chars, ce.char_alphabet, ce.char_entropy,
                we.n_words, we.word_alphabet, we.word_entropy
         FROM ce LEFT JOIN we ON ce.doc_id = we.doc_id""")),
    Op("lang_id", langId _, Oracle(langIdSql)),
    Op("text_repetition", textRepetition _, Oracle(
      raw"""WITH base AS (
             SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
             FROM documents),
           g AS (
             SELECT doc_id, w,
                    CASE WHEN len(w) >= 2 THEN
                      list_transform(generate_series(1, len(w)-1),
                        i -> w[i] || ' ' || w[i+1])
                    ELSE CAST([] AS VARCHAR[]) END AS g2
             FROM base)
           SELECT doc_id,
                  CAST(len(w) AS BIGINT) AS n_words,
                  round(CASE WHEN len(w) > 0
                    THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/len(w)
                    ELSE 0.0 END, 6) AS dup_word_frac,
                  round(CASE WHEN len(g2) > 0
                    THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/len(g2)
                    ELSE 0.0 END, 6) AS dup_2gram_frac,
                  round(CASE WHEN len(g2) > 0
                    THEN CAST(list_max(list_transform(list_distinct(g2),
                      g -> len(list_filter(g2, x -> x = g)))) AS DOUBLE)/len(g2)
                    ELSE 0.0 END, 6) AS top_2gram_frac
           FROM g""")),
    Op("pack_sequences", packSequences _, Oracle(
      raw"""WITH d AS (
             SELECT doc_id, source,
                    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok
             FROM documents),
           o AS (
             SELECT doc_id, source, tok,
                    CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
             FROM d)
           SELECT doc_id, source, tok,
                  end_off - tok AS start_off, end_off,
                  CAST(floor((end_off - tok)/512.0) AS BIGINT) AS seq_first,
                  CAST(floor(greatest(end_off - 1, end_off - tok)/512.0) AS BIGINT) AS seq_last,
                  CAST(floor(greatest(end_off - 1, end_off - tok)/512.0) AS BIGINT)
                    - CAST(floor((end_off - tok)/512.0) AS BIGINT) + 1 AS n_seqs
           FROM o""")),
    Op("tfidf_top_terms", tfidfTopTerms _, Oracle(
      """WITH terms AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf, df.df,
                  tf.tf * (ln((n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf_raw
           FROM tf JOIN df ON tf.term = df.term, n)
         SELECT doc_id, term, tf, df, round(tfidf_raw, 6) AS tfidf,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf_raw DESC, term ASC) AS rk
         FROM scored QUALIFY rk <= 3"""),
      quadratic = Some(Reasons.BruteForceBaseline)),
    Op("doc_fingerprint", docFingerprint _, Oracle(
      """SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS len_chars,
         COALESCE((
           SELECT CAST(sum(ascii(substr(d.text, CAST(i AS INT), 1))
                  * ((i * 2654435761) % 1000000007) % 1000000007) % 1000000007 AS BIGINT)
           FROM unnest(generate_series(1, length(d.text))) AS t(i)), 0) AS fp
         FROM documents d""")))
}
