package graft.text

import graft.{Op, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-rewrite cleaning ops (SURVEY.md §2.5 extension): the step
  * after the audit tables — actually producing the cleaned text.
  *
  * #223 dedup_span_removal is the ExactSubstr-style rewrite (Lee et
  * al. 2022 "Deduplicating Training Data Makes Language Models
  * Better"): #174 dup_ngram_fraction AUDITS cross-doc duplicated word
  * 8-grams; this op REMOVES every word covered by one and emits the
  * cleaned token stream. #224 code_detect is the code-vs-prose screen
  * (Dolma/RefinedWeb keep-or-route signal) from pure per-row regex
  * counts.
  */
object Clean extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  // ---------------------------------------------------------------
  // 223. cross-doc duplicated-span removal. A word 8-gram is
  // "duplicated" when it occurs in ≥2 DISTINCT documents (within-doc
  // repetition is #61's business, not removal's); every occurrence of
  // a duplicated gram covers its 8 word positions, covered positions
  // union into spans, and the doc rebuilds from the surviving words.
  // Spans are removed from ALL docs holding them (the symmetric
  // variant; keep-first needs a global tie-break pass over the same
  // tables).
  // r16 (guide §2.3 "shuffle keys and metadata instead of payloads" +
  // the banding-family distinct-text rendezvous):
  //  1. every per-doc output here is a function of lower(text), so the
  //     whole span machinery runs once per DISTINCT lowered text and
  //     fans back out over the member list — gram df is EXACTLY
  //     preserved because df counts documents: df(g) = Σ over distinct
  //     texts containing g of that text's copy count (a gram unique to
  //     one text with 2 verbatim copies is still df = 2 → removed,
  //     doc-level semantics). Without this the gram join's Σ df² term
  //     grows with the dup rate squared (measured 2.9 s at sf0.1 →
  //     41.0 s at sf1's 10×-replicated corpus — 14× on 10× data);
  //  2. gram keys travel as xxhash64 longs (the #174 device — hash df
  //     equals string df unless xxhash64 collides, ≈|grams|²/2⁶⁵);
  //  3. the REBUILD no longer round-trips the token stream through
  //     posexplode → anti-join → collect_list regroup (two corpus-wide
  //     word-level exchanges): covered positions regroup per rep as one
  //     sorted int array and the cleaned text is a one-pass native
  //     two-pointer kernel over (ws, cov) in the rep's own row.
  private val SpanN = 8

  def dedupSpanRemoval(s: SparkSession, dir: String): DataFrame = {
    // distinct-text rendezvous on the 16-byte digest of lower(text);
    // cnt = copies (the df weight), ms = member doc_ids
    val gr = Tables.documents(s, dir)
      .select(col("doc_id"), lower(col("text")).as("lt"))
      .withColumn("h", md5(col("lt")))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("rep"), max(col("lt")).as("lt"),
        count(lit(1)).as("cnt"), collect_list(col("doc_id")).as("ms"))
      .select(col("rep"), expr("regexp_extract_all(lt, '[a-z0-9]+', 0)").as("ws"),
        col("cnt"), col("ms"))
      .localCheckpoint()
    // every gram START (1-based, within-text duplicates kept — each
    // occurrence covers its own positions)
    val starts = gr.filter(size(col("ws")) >= SpanN)
      .select(col("rep"), col("cnt"), explode(expr(
        s"transform(sequence(1, size(ws) - ${SpanN - 1}), " +
          s"i -> named_struct('i', i, 'gh', xxhash64(array_join(slice(ws, i, $SpanN), ' '))))")).as("e"))
      .select(col("rep"), col("cnt"), col("e.i").as("i"), col("e.gh").as("gh"))
    // document frequency: distinct (text, gram) weighted by copy count
    val df = starts.select(col("rep"), col("cnt"), col("gh"))
      .dropDuplicates("rep", "gh")
      .groupBy(col("gh")).agg(sum(col("cnt")).as("df"))
    val dupStarts = starts.hint("shuffle_hash")
      .join(df.filter(col("df") >= 2).hint("shuffle_hash"), "gh")
      .select(col("rep"), col("i"))
    // per-rep covered-position set (sorted ints) + span count: each
    // start covers exactly SpanN positions, so spans = rows / SpanN
    val covg = dupStarts
      .select(col("rep"), explode(expr(s"sequence(i, i + ${SpanN - 1})")).as("pos"))
      .groupBy(col("rep"))
      .agg(sort_array(collect_set(col("pos"))).as("cov"),
        expr(s"count(1) div $SpanN").as("n_dup_spans"))
    gr.hint("shuffle_hash")
      .join(covg.hint("shuffle_hash"), Seq("rep"), "left")
      .withColumn("covn", coalesce(col("cov"), expr("CAST(array() AS ARRAY<INT>)")))
      .select(explode(col("ms")).as("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        size(col("covn")).cast("long").as("n_removed"),
        r(when(size(col("ws")) === 0, lit(1.0))
          .otherwise((size(col("ws")) - size(col("covn"))) /
            size(col("ws")).cast("double")), 6).as("keep_frac"),
        graft.functions.VectorFunctions
          .dropSortedPositionsJoin(col("ws"), col("covn")).as("cleaned_text"))
  }

  private val dedupSpanRemovalSql =
    s"""WITH toks AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         FROM documents),
       starts AS (
         SELECT doc_id, CAST(u.i AS INT) AS i,
                array_to_string(ws[CAST(u.i AS INT):CAST(u.i + ${SpanN - 1} AS INT)], ' ') AS g
         FROM toks, LATERAL unnest(generate_series(1, len(ws) - ${SpanN - 1})) AS u(i)
         WHERE len(ws) >= $SpanN),
       freq AS (
         SELECT g, count(*) AS df
         FROM (SELECT DISTINCT doc_id, g FROM starts) GROUP BY 1),
       dup_starts AS (
         SELECT s.doc_id, s.i FROM starts s JOIN freq f USING (g) WHERE f.df >= 2),
       covered AS (
         SELECT DISTINCT doc_id, CAST(u.pos AS INT) AS pos
         FROM dup_starts, LATERAL unnest(generate_series(i, i + ${SpanN - 1})) AS u(pos)),
       words AS (
         SELECT doc_id, CAST(u.pos AS INT) AS pos, ws[CAST(u.pos AS INT)] AS w
         FROM toks, LATERAL unnest(generate_series(1, len(ws))) AS u(pos)),
       kept AS (
         SELECT w.doc_id,
                string_agg(w.w, ' ' ORDER BY w.pos) AS cleaned_text,
                count(*) AS n_kept
         FROM words w ANTI JOIN covered c ON w.doc_id = c.doc_id AND w.pos = c.pos
         GROUP BY 1),
       ndup AS (SELECT doc_id, count(*) AS n_dup_spans FROM dup_starts GROUP BY 1)
       SELECT d.doc_id,
              CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS BIGINT) AS n_words,
              coalesce(n.n_dup_spans, 0) AS n_dup_spans,
              len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) - coalesce(k.n_kept, 0) AS n_removed,
              round(CASE WHEN len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) = 0 THEN 1.0
                    ELSE coalesce(k.n_kept, 0)
                         / CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS DOUBLE) END, 6)
                AS keep_frac,
              coalesce(k.cleaned_text, '') AS cleaned_text
       FROM documents d
       LEFT JOIN kept k ON d.doc_id = k.doc_id
       LEFT JOIN ndup n ON d.doc_id = n.doc_id"""

  // ---------------------------------------------------------------
  // 224. code-vs-prose detection — the routing signal corpus curation
  // runs before language filters (code files masquerade as English and
  // poison prose perplexity stats; prose in code dumps wastes the code
  // budget). Pure per-row regex counts (shared Java-regex/RE2 syntax,
  // the text_quality contract), blended into a [0,1] score: brace /
  // semicolon density, indented-line starts, camelCase + snake_case
  // identifiers, and code keywords. Zero shuffles, linear at 100 TB.
  private val CodeKeywords =
    Seq("def", "class", "import", "return", "function", "var", "const", "if", "else", "for")

  def codeDetect(s: SparkSession, dir: String): DataFrame = {
    def cnt(pat: String): Column =
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
    val kwPat = s"\\b(${CodeKeywords.mkString("|")})\\b"
    val len = greatest(length(col("text")).cast("double"), lit(1.0))
    val nw = greatest(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("double"), lit(1.0))
    Tables.documents(s, dir).select(col("doc_id"), col("source"),
        cnt("[{}()\\[\\];]").as("n_syntax"),
        cnt("\\n[ \\t]").as("n_indent"),
        cnt("[a-z][A-Z]").as("n_camel"),
        cnt("[a-z0-9]_[a-z0-9]").as("n_snake"),
        cnt(kwPat).as("n_keyword"),
        len.as("len"), nw.as("nw"))
      .select(col("doc_id"), col("source"),
        col("n_syntax"), col("n_indent"), col("n_camel"), col("n_snake"), col("n_keyword"),
        r(least(lit(1.0),
          lit(8.0) * col("n_syntax") / col("len")
            + lit(4.0) * col("n_indent") / greatest(col("n_syntax") + col("n_indent"), lit(1.0))
              * col("n_indent") / col("nw")
            + lit(2.0) * (col("n_camel") + col("n_snake")) / col("nw")
            + lit(1.0) * col("n_keyword") / col("nw")), 6).as("code_score"))
      .withColumn("is_code", col("code_score") >= 0.5)
  }

  private val codeDetectSql = {
    val kwPat = s"\\b(${CodeKeywords.mkString("|")})\\b"
    s"""SELECT doc_id, source,
              CAST(len(regexp_extract_all(text, '[{}()\\[\\];]')) AS BIGINT) AS n_syntax,
              CAST(len(regexp_extract_all(text, '\\n[ \\t]')) AS BIGINT) AS n_indent,
              CAST(len(regexp_extract_all(text, '[a-z][A-Z]')) AS BIGINT) AS n_camel,
              CAST(len(regexp_extract_all(text, '[a-z0-9]_[a-z0-9]')) AS BIGINT) AS n_snake,
              CAST(len(regexp_extract_all(text, '$kwPat')) AS BIGINT) AS n_keyword,
              round(least(1.0,
                8.0 * len(regexp_extract_all(text, '[{}()\\[\\];]'))
                    / greatest(CAST(length(text) AS DOUBLE), 1.0)
                  + 4.0 * len(regexp_extract_all(text, '\\n[ \\t]'))
                        / greatest(len(regexp_extract_all(text, '[{}()\\[\\];]'))
                                   + len(regexp_extract_all(text, '\\n[ \\t]')), 1.0)
                        * len(regexp_extract_all(text, '\\n[ \\t]'))
                        / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0)
                  + 2.0 * (len(regexp_extract_all(text, '[a-z][A-Z]'))
                           + len(regexp_extract_all(text, '[a-z0-9]_[a-z0-9]')))
                        / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0)
                  + 1.0 * len(regexp_extract_all(text, '$kwPat'))
                        / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0)), 6)
                AS code_score,
              code_score >= 0.5 AS is_code
       FROM documents"""
  }

  val ops: Seq[Op] = Seq(
    Op("dedup_span_removal", dedupSpanRemoval _, Oracle(dedupSpanRemovalSql)),
    Op("code_detect", codeDetect _, Oracle(codeDetectSql)))
}
