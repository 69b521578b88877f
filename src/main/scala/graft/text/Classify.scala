package graft.text

import graft.{Op, Reasons, Tables}, Op.Oracle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trainable quality/routing classifier over hashed bag-of-words
  * features (SURVEY.md §2 #231) — the fastText-shaped linear filter
  * every major curation pipeline trains (GPT-3's curated-vs-random
  * quality filter, CCNet's wiki-vs-crawl classifier, RefinedWeb/Dolma
  * routing heads): feature-hash the words into a fixed bucket space,
  * train a linear model, score every document.
  *
  * The trainer is a BATCH PERCEPTRON with 3 fixed synchronous unrolled
  * rounds: w ← w + Σ_{misclassified} y·x. With integer counts and unit
  * learning rate every weight, margin, and update is a pure BIGINT —
  * no sigmoid, no learning-rate float, no convergence test — so the
  * whole training loop replays bit-exactly in DuckDB (the grid-Lloyd
  * determinism contract applied to a learner). The label here is
  * lang='en' (a stand-in separable signal on the test corpus; the
  * binding is a column expression — any curated-vs-random flag slots
  * in).
  *
  * Scale: features are one (doc, bucket) aggregation (vocab-bounded
  * hash join for the word hashes); each round is one margin pass
  * (feature rows × broadcast 65-row weight vector, re-aggregated per
  * doc) + one bounded-key update aggregation. Weights localCheckpoint
  * between rounds. At 100 TB: identical plan, bucket count is the
  * capacity lever (2^18 buckets is still a broadcast).
  */
object Classify extends Op.Registry {

  private val NumBuckets = 64
  private val Rounds = 3

  /** Polynomial word hash mod NumBuckets — the doc_fingerprint (#43)
    * device per DISTINCT word: Σ ascii(c_i)·((i·2654435761) mod p)
    * mod p, p = 1e9+7. */
  private val wordBucket =
    expr(s"""aggregate(sequence(1, length(w)), 0L,
        (acc, i) -> (acc + ascii(substring(w, i, 1))
          * ((i * 2654435761L) % 1000000007L) % 1000000007L) % 1000000007L)
        % $NumBuckets""")

  /** Shared trainer: 3 perceptron rounds with updates restricted to
    * `trainCond` docs, margins for ALL docs — (doc_id, y, margin).
    * #231 trains on everything; #243 holds out doc_id % 5 = 0. */
  private def trainMargins(s: SparkSession, dir: String,
      trainCond: org.apache.spark.sql.Column): DataFrame = {
    val docs = Tables.documents(s, dir)
    val words = docs.select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
    val buckets = words.select(col("w")).distinct()
      .withColumn("b", wordBucket)
    // r15 optimization (the gridLloyd rewrite, guide §2.3/§2.4): the
    // old shape re-shuffled the feature rows TWICE per round (margin
    // groupBy(doc_id) + the feats⋈margins join for the update). The
    // per-doc feature vector is now ONE array row built once; each
    // round's margin is a per-row integer fold over the broadcast
    // 65-slot weight array and the update aggregates misclassified
    // docs' exploded features straight to the 65-key weight partials —
    // the only per-round exchange. Integer x·w sums are order-free, so
    // margins, weights, and the oracle hashes are unchanged.
    val featRows = words.join(buckets, "w")
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("x"))
      .unionByName(docs.select(col("doc_id"),
        lit(NumBuckets.toLong).as("b"), lit(1L).as("x"))) // bias feature
    val lab = docs.select(col("doc_id"),
      when(col("lang") === "en", lit(1L)).otherwise(lit(-1L)).as("y"),
      trainCond.as("__tr"))
    val docFeats = featRows.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("b"), col("x"))).as("fs"))
      .join(lab, "doc_id")
      .localCheckpoint() // scanned by every round's margin + update pass
    // the weight vector is DRIVER-BOUNDED state (65 slots; the bucket
    // count is the declared capacity lever — the annotate_corr
    // centroid-panel contract): each round is ONE job — margins fold
    // per row against the literal weight array, misclassified docs'
    // features aggregate straight to the ≤65 (b, dw) partials, which
    // collect back into the panel. Integer sums, order-free.
    def mgCol(warr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(col("fs"), lit(0L),
        (acc, f) => acc + f.getField("x") *
          element_at(warr, f.getField("b").cast("int") + 1))
    val w = Array.fill(NumBuckets + 1)(0L)
    for (_ <- 1 to Rounds) {
      val upd = docFeats.withColumn("mg", mgCol(typedLit(w.toSeq)))
        .filter(col("y") * col("mg") <= 0 && col("__tr"))
        .select(col("y"), explode(col("fs")).as("f"))
        .groupBy(col("f.b").as("b")).agg(sum(col("y") * col("f.x")).as("dw"))
        .collect() // ≤ NumBuckets+1 rows — the bounded panel
      upd.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
    }
    docFeats.withColumn("margin", mgCol(typedLit(w.toSeq)))
      .select(col("doc_id"), col("y"), col("margin"))
  }

  def perceptronQuality(s: SparkSession, dir: String): DataFrame =
    trainMargins(s, dir, lit(true))
      .select(col("doc_id"), col("y").as("y_true"), col("margin"),
        when(col("margin") > 0, lit(1L)).otherwise(lit(-1L)).as("pred"))
      .withColumn("correct", col("pred") === col("y_true"))

  // ---------------------------------------------------------------
  // 243. held-out classifier evaluation — the go/no-go table before a
  // trained filter touches the corpus: train the #231 perceptron on
  // the content-hash 80% split (doc_id % 5 ≠ 0 — the dataset_split
  // convention), score the held-out 20%, emit the confusion matrix +
  // precision/recall/F1/accuracy. All counts integer; ratios rounded.
  def classifierEval(s: SparkSession, dir: String): DataFrame = {
    val m = trainMargins(s, dir, pmod(col("doc_id"), lit(5)) =!= 0)
    val test = m.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("pred", when(col("margin") > 0, lit(1L)).otherwise(lit(-1L)))
    val nTrain = Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(5)) =!= 0).count() // bounded driver scalar
    test.agg(
        count(lit(1)).as("n_test"),
        sum(when(col("pred") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") === 1 && col("y") === -1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("pred") === -1 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("pred") === -1 && col("y") === -1, 1L).otherwise(0L)).as("tn"))
      .select(lit(nTrain).as("n_train"), col("n_test"),
        col("tp"), col("fp"), col("fn"), col("tn"),
        round((col("tp") + col("tn")) / col("n_test").cast("double"), 6).as("accuracy"),
        when(col("tp") + col("fp") > 0,
          round(col("tp") / (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp") / (col("tp") + col("fn")).cast("double"), 6)).as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * col("tp")
            / (lit(2.0) * col("tp") + col("fp") + col("fn")).cast("double"), 6)).as("f1"))
  }

  /** Shared perceptron CTE chain (wrds ... w3 -> mf) with updates
    * restricted to `trainCond` — oracle twin of [[trainMargins]]. */
  private def perceptronCtes(trainCond: String): String = {
    val step = (t: Int) =>
      s"""m$t AS (
         |  SELECT f.doc_id, sum(f.x * w.wv) AS mg
         |  FROM feats f JOIN w${t - 1} w USING (b) GROUP BY 1),
         |u$t AS (
         |  SELECT f.b, sum(l.y * f.x) AS dw
         |  FROM feats f JOIN lab l USING (doc_id) JOIN m$t m USING (doc_id)
         |  WHERE l.y * m.mg <= 0 AND ($trainCond) GROUP BY 1),
         |w$t AS MATERIALIZED (
         |  SELECT w.b, w.wv + coalesce(u.dw, 0) AS wv
         |  FROM w${t - 1} w LEFT JOIN u$t u USING (b))""".stripMargin
    s"""wrds AS MATERIALIZED (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |  FROM documents),
       |wh AS MATERIALIZED (
       |  SELECT w, COALESCE((
       |      SELECT CAST(sum(ascii(substr(w, CAST(i AS INT), 1))
       |             * ((i * 2654435761) % 1000000007) % 1000000007) % 1000000007 AS BIGINT)
       |      FROM unnest(generate_series(1, length(w))) AS t(i)), 0) % $NumBuckets AS b
       |  FROM (SELECT DISTINCT w FROM wrds)),
       |feats AS MATERIALIZED (
       |  SELECT doc_id, b, count(*)::BIGINT AS x
       |  FROM wrds JOIN wh USING (w) GROUP BY 1, 2
       |  UNION ALL
       |  SELECT doc_id, $NumBuckets::BIGINT AS b, 1::BIGINT AS x FROM documents),
       |lab AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END::BIGINT AS y
       |  FROM documents),
       |w0 AS (SELECT unnest(generate_series(0, $NumBuckets))::BIGINT AS b, 0::BIGINT AS wv),
       |${(1 to Rounds).map(step).mkString(",\n")},
       |mf AS (
       |  SELECT f.doc_id, CAST(sum(f.x * w.wv) AS BIGINT) AS margin
       |  FROM feats f JOIN w$Rounds w USING (b) GROUP BY 1)""".stripMargin
  }

  private val perceptronQualitySql =
    s"""WITH ${perceptronCtes("TRUE")}
       |SELECT l.doc_id, l.y AS y_true, m.margin,
       |       (CASE WHEN m.margin > 0 THEN 1 ELSE -1 END)::BIGINT AS pred,
       |       (CASE WHEN m.margin > 0 THEN 1 ELSE -1 END) = l.y AS correct
       |FROM lab l JOIN mf m USING (doc_id)""".stripMargin

  private val classifierEvalSql =
    s"""WITH ${perceptronCtes("f.doc_id % 5 != 0")},
       |test AS (
       |  SELECT l.doc_id, l.y,
       |         (CASE WHEN m.margin > 0 THEN 1 ELSE -1 END)::BIGINT AS pred
       |  FROM lab l JOIN mf m USING (doc_id)
       |  WHERE l.doc_id % 5 = 0)
       |SELECT (SELECT count(*) FROM documents WHERE doc_id % 5 != 0)::BIGINT AS n_train,
       |       count(*) AS n_test,
       |       CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |       CAST(sum(CASE WHEN pred = 1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |       CAST(sum(CASE WHEN pred = -1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |       CAST(sum(CASE WHEN pred = -1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |       round((sum(CASE WHEN pred = y THEN 1 ELSE 0 END))
       |             / CAST(count(*) AS DOUBLE), 6) AS accuracy,
       |       CASE WHEN sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END) > 0 THEN
       |         round(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
       |               / CAST(sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS DOUBLE), 6) END AS precision,
       |       CASE WHEN sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) > 0 THEN
       |         round(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
       |               / CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE), 6) END AS recall,
       |       CASE WHEN 2 * sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
       |                 + sum(CASE WHEN pred = 1 AND y = -1 THEN 1 ELSE 0 END)
       |                 + sum(CASE WHEN pred = -1 AND y = 1 THEN 1 ELSE 0 END) > 0 THEN
       |         round(2.0 * sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
       |               / CAST(2 * sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END)
       |                      + sum(CASE WHEN pred = 1 AND y = -1 THEN 1 ELSE 0 END)
       |                      + sum(CASE WHEN pred = -1 AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE), 6) END AS f1
       |FROM test""".stripMargin


  // ---------------------------------------------------------------
  // 232. word-bigram LM score with Jelinek-Mercer interpolation — the
  // KenLM-shaped fluency scorer at WORD level (char_lm_score #124 is
  // the character-level cousin; CCNet/RefinedWeb filter on exactly this
  // family): P(w2|w1) = λ·c12/c1 + (1−λ)·c2/N over corpus-trained
  // counts, per-doc mean log-probability. The score rides the weighted
  // Σ dc·ln(p) / Σ dc form grouped identically on both engines (the
  // #124 determinism contract, 6dp round). Scale: the bigram count
  // table is vocab²-bounded (one corpus shuffle on the bigram key);
  // unigram tables broadcast.
  private val JmLambda = 0.7

  def wordLmScore(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val perDoc = pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("dc"))
    val c12 = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("dc")).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = c12.agg(sum(col("c12")).cast("double").as("nn"))
    // shuffle_hash: the fact side is every (doc, bigram) row; sort-merge
    // would sort it on low-cardinality string keys (measured 22x on the
    // 10x sf1 sweep) — hash-building the bigram-type side skips the sort
    // and stays safe at any vocab (no broadcast-size assumption)
    perDoc.join(c12.hint("shuffle_hash"), Seq("w1", "w2"))
      .join(broadcast(c1), "w1").join(broadcast(c2), "w2")
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).cast("long").as("n_bigrams"),
        round(sum(col("dc") * log(lit(JmLambda) * col("c12") / col("c1")
            + lit(1 - JmLambda) * col("c2") / col("nn"))) / sum(col("dc")), 6)
          .as("lm_score"))
  }

  private val wordLmScoreSql =
    s"""WITH pr AS MATERIALIZED (
       |  SELECT doc_id, ws[CAST(t.i AS INT)] AS w1, ws[CAST(t.i + 1 AS INT)] AS w2
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents),
       |       LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)
       |  WHERE len(ws) >= 2),
       |pd AS MATERIALIZED (
       |  SELECT doc_id, w1, w2, count(*)::BIGINT AS dc FROM pr GROUP BY 1, 2, 3),
       |c12 AS MATERIALIZED (
       |  SELECT w1, w2, CAST(sum(dc) AS BIGINT) AS c12 FROM pd GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
       |c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM c12 GROUP BY 1),
       |n AS (SELECT CAST(sum(c12) AS DOUBLE) AS nn FROM c12)
       |SELECT pd.doc_id, CAST(sum(pd.dc) AS BIGINT) AS n_bigrams,
       |       round(sum(pd.dc * ln($JmLambda * c12.c12 / c1.c1
       |                 + ${1 - JmLambda} * c2.c2 / n.nn)) / sum(pd.dc), 6) AS lm_score
       |FROM pd
       |JOIN c12 USING (w1, w2)
       |JOIN c1 USING (w1)
       |JOIN c2 USING (w2), n
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------
  // 262. language-ID confusion matrix — the eval table for #42 (the
  // classifier_eval convention applied to the heuristic): per
  // (tagged, predicted) language pair, counts + row recall. Pure
  // aggregation over the #42 output; the oracle composes the #42
  // oracle SQL as a CTE, so the two can never drift.
  def langidConfusion(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(s, dir)
      .groupBy(col("tagged_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_true",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("tagged_lang"))))
      .select(col("tagged_lang").as("true_lang"), col("pred_lang"), col("n"),
        round(col("n") / col("n_true").cast("double"), 6).as("row_share"))

  private def langidConfusionSql =
    s"""WITH li AS (${TextOps.langIdSql}),
       conf AS (
         SELECT tagged_lang, pred_lang, count(*) AS n
         FROM li GROUP BY 1, 2),
       tot AS (
         SELECT tagged_lang, CAST(sum(n) AS BIGINT) AS n_true
         FROM conf GROUP BY 1)
       SELECT c.tagged_lang AS true_lang, c.pred_lang, c.n,
              round(c.n / CAST(t.n_true AS DOUBLE), 6) AS row_share
       FROM conf c JOIN tot t USING (tagged_lang)"""

  // ---------------------------------------------------------------
  // 269. per-source style drift: KL(source word mix ‖ corpus word mix)
  // — the text twin of the #86 composition screen (template farms and
  // boilerplate-heavy sources light up before any model-based signal).
  // Vocabulary-bounded: one (source, word) count + one word count; the
  // KL sum runs over each source's own vocabulary (p > 0 terms only —
  // q > 0 whenever p > 0 since the corpus contains the source),
  // grouped identically on both engines (the #124 contract, 6dp).
  def sourceStyleKl(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
    val sw = words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds source totals, corpus totals, the KL pass
    val sTot = sw.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val cw = sw.groupBy(col("w")).agg(sum(col("c")).as("cc"))
    val n = sw.agg(sum(col("c")).as("nn"))
    sw.join(broadcast(sTot), "source")
      .join(cw, "w")
      .crossJoin(broadcast(n))
      .groupBy(col("source"))
      .agg(first(col("ns")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        round(sum((col("c") / col("ns").cast("double"))
          * log((col("c") / col("ns").cast("double"))
            / (col("cc") / col("nn").cast("double")))), 6).as("kl_vs_corpus"))
  }

  // ---------------------------------------------------------------
  // 344. DoReMi-style domain reweighting (Xie et al. 2023) — ONE
  // Group-DRO multiplicative-weights step, the inner update DoReMi
  // iterates: per source the excess loss under the SHARED model
  // (here the corpus unigram LM — the deterministic stand-in for the
  // proxy-model loss; the operator is the reweighting arithmetic, not
  // the model), clipped at 0, exponentiated against the token-share
  // baseline: w_s ∝ q_s·exp(η·excess_s), η = 1, normalized. Excess is
  // pre-rounded to 6 dp before exp so both engines exponentiate
  // identical doubles (the #124 contract); the normalizer is an
  // ordered source fold. Vocabulary-bounded everywhere (#269's plan).
  def doremiWeights(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("w"))
    val sw = words.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // source totals + corpus LM + the xent pass
    val cw = sw.groupBy(col("w")).agg(sum(col("c")).as("cc"))
    val n = sw.agg(sum(col("c")).as("nn"))
    val xents = sw.join(cw, "w").crossJoin(broadcast(n))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        (-sum(col("c") * log(col("cc") / col("nn").cast("double")))).as("__sx"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("n_tokens"),
        (col("n_tokens") / col("nn").cast("double")).as("__q"),
        (col("__sx") / col("n_tokens").cast("double")).as("__xent"),
        col("nn"))
    // corpus loss = token-share-weighted mean of the source losses,
    // computed directly from the corpus counts (identical both engines)
    val corpus = sw.join(cw, "w").crossJoin(broadcast(n))
      .select(col("w"), col("cc"), col("nn")).distinct()
      .agg((-sum(col("cc") * log(col("cc") / col("nn").cast("double")))).as("__sl"),
        first(col("nn")).as("__nn2"))
      .select((col("__sl") / col("__nn2").cast("double")).as("__lc"))
    val scored = xents.crossJoin(broadcast(corpus))
      .withColumn("xent", round(col("__xent"), 6))
      .withColumn("excess", round(greatest(col("__xent") - col("__lc"), lit(0.0)), 6))
      .withColumn("__raw", col("__q") * exp(col("excess")))
      .localCheckpoint() // consumed by the normalizer fold AND the output
    val tot = scored.agg(expr("aggregate(transform(sort_array(collect_list(" +
      "struct(source, __raw))), x -> x.__raw), 0.0D, (a, b) -> a + b)").as("__tot"))
    scored.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(col("__q"), 6).as("token_share"),
        col("xent"), col("excess"),
        round(col("__raw") / col("__tot"), 6).as("weight"))
  }

  private val doremiWeightsSql =
    """WITH sw AS MATERIALIZED (
         SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         FROM documents),
       swc AS MATERIALIZED (
         SELECT source, w, count(*)::BIGINT AS c FROM sw GROUP BY 1, 2),
       cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cc FROM swc GROUP BY 1),
       n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM swc),
       xents AS (
         SELECT s.source,
                CAST(sum(s.c) AS BIGINT) AS n_tokens,
                sum(s.c) / CAST(any_value(n.nn) AS DOUBLE) AS q,
                -sum(s.c * ln(c.cc / CAST(n.nn AS DOUBLE))) / sum(s.c) AS xent0
         FROM swc s JOIN cw c USING (w), n
         GROUP BY 1),
       corpus AS (
         SELECT -sum(cc * ln(cc / CAST(nn AS DOUBLE))) / CAST(any_value(nn) AS DOUBLE) AS lc
         FROM cw, n),
       scored AS (
         SELECT source, n_tokens, q,
                round(xent0, 6) AS xent,
                round(greatest(xent0 - lc, 0.0), 6) AS excess,
                q * exp(round(greatest(xent0 - lc, 0.0), 6)) AS raw
         FROM xents, corpus),
       tot AS (
         SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list(CAST(raw AS DOUBLE) ORDER BY source)), (a, b) -> a + b) AS t
         FROM scored)
       SELECT source, n_tokens, round(q, 6) AS token_share, xent, excess,
              round(raw / t, 6) AS weight
       FROM scored, tot"""

  private val sourceStyleKlSql =
    """WITH sw AS MATERIALIZED (
         SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         FROM documents),
       swc AS MATERIALIZED (
         SELECT source, w, count(*)::BIGINT AS c FROM sw GROUP BY 1, 2),
       stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM swc GROUP BY 1),
       cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS cc FROM swc GROUP BY 1),
       n AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM swc)
       SELECT s.source,
              any_value(t.ns) AS n_tokens,
              count(*) AS vocab_size,
              round(sum((s.c / CAST(t.ns AS DOUBLE))
                    * ln((s.c / CAST(t.ns AS DOUBLE))
                      / (c.cc / CAST(n.nn AS DOUBLE)))), 6) AS kl_vs_corpus
       FROM swc s
       JOIN stot t USING (source)
       JOIN cw c USING (w), n
       GROUP BY 1"""

  // ---------------------------------------------------------------
  // 309. trigram stupid-backoff LM score (Brants et al., EMNLP 2007 —
  // the web-scale scoring function behind Google's distributed LMs,
  // and the level where the LM ladder's BACKOFF actually fires:
  // #124/#232 train on the full corpus, so every scored n-gram has a
  // nonzero count; here counts come from the even-doc_id HALF — the
  // CCNet "reference LM scores the crawl" protocol — and odd docs hit
  // unseen trigrams). S(w3|w1w2) = c123/c12 if seen, else
  // 0.4·(c23/c2 if seen, else 0.4·max(c3,1)/N) — the unigram floor
  // max(c3,1) is the OOV convention (stupid backoff leaves OOV
  // undefined; the floor keeps ln() finite and is documented here).
  // Per-doc mean log-score over trigram positions, the #124 weighted
  // Σ dc·ln(s)/Σ dc determinism contract, 6 dp. Scale: trigram/bigram
  // count tables shuffle once on their n-gram keys (vocab³-bounded in
  // the worst case, corpus-bounded in practice); unigram tables and N
  // broadcast; per-doc distinct trigrams join on the same keys — no
  // row explosion beyond the token stream itself.
  private val SbAlpha = 0.4

  def trigramSbScore(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
    val tris = toks.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(ws) - 3),
           i -> struct(ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3))""")).as("t"))
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"), col("t.w3").as("w3"))
    val perDoc = tris.groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("dc"))
    val c123 = tris.filter(pmod(col("doc_id"), lit(2)) === 0)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c123"))
    val bigr = toks.filter(pmod(col("doc_id"), lit(2)) === 0 && size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(ws) - 2),
           i -> struct(ws[i] AS wa, ws[i+1] AS wb))""")).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    val c12 = bigr.groupBy(col("wa").as("w1"), col("wb").as("w2"))
      .agg(count(lit(1)).as("c12"))
    val c23 = bigr.groupBy(col("wa").as("w2"), col("wb").as("w3"))
      .agg(count(lit(1)).as("c23"))
    val uni = toks.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(explode(col("ws")).as("w"))
    val c2 = uni.groupBy(col("w").as("w2")).agg(count(lit(1)).as("c2"))
    val c3 = c2.select(col("w2").as("w3"), col("c2").as("c3"))
    val n = uni.agg(count(lit(1)).cast("double").as("nn"))
    perDoc
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(c23, Seq("w2", "w3"), "left")
      .join(broadcast(c2), Seq("w2"), "left")
      .join(broadcast(c3), Seq("w3"), "left")
      .crossJoin(broadcast(n))
      .withColumn("sc",
        when(col("c123").isNotNull, col("c123") / col("c12"))
          .otherwise(lit(SbAlpha) *
            when(col("c23").isNotNull, col("c23") / col("c2"))
              .otherwise(lit(SbAlpha) *
                greatest(coalesce(col("c3"), lit(0L)), lit(1L)) / col("nn"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).cast("long").as("n_trigrams"),
        round(sum(col("dc") * log(col("sc"))) / sum(col("dc")), 6).as("sb_score"))
  }

  private val trigramSbScoreSql =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
       |tri AS MATERIALIZED (
       |  SELECT doc_id, ws[CAST(t.i AS INT)] AS w1, ws[CAST(t.i + 1 AS INT)] AS w2,
       |         ws[CAST(t.i + 2 AS INT)] AS w3
       |  FROM toks, LATERAL unnest(generate_series(1, len(ws) - 2)) AS t(i)
       |  WHERE len(ws) >= 3),
       |pd AS MATERIALIZED (
       |  SELECT doc_id, w1, w2, w3, count(*)::BIGINT AS dc FROM tri GROUP BY 1, 2, 3, 4),
       |c123 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c123 FROM tri
       |         WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
       |bg AS MATERIALIZED (
       |  SELECT ws[CAST(t.i AS INT)] AS wa, ws[CAST(t.i + 1 AS INT)] AS wb
       |  FROM toks, LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)
       |  WHERE len(ws) >= 2 AND doc_id % 2 = 0),
       |c12 AS (SELECT wa AS w1, wb AS w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
       |c23 AS (SELECT wa AS w2, wb AS w3, count(*)::BIGINT AS c23 FROM bg GROUP BY 1, 2),
       |uni AS MATERIALIZED (
       |  SELECT t.w FROM toks, LATERAL unnest(ws) AS t(w) WHERE doc_id % 2 = 0),
       |c2 AS (SELECT w AS w2, count(*)::BIGINT AS c2 FROM uni GROUP BY 1),
       |c3 AS (SELECT w AS w3, count(*)::BIGINT AS c3 FROM uni GROUP BY 1),
       |n AS (SELECT count(*)::DOUBLE AS nn FROM uni)
       |SELECT pd.doc_id, CAST(sum(pd.dc) AS BIGINT) AS n_trigrams,
       |       round(sum(pd.dc * ln(
       |         CASE WHEN c123.c123 IS NOT NULL THEN c123.c123 / CAST(c12.c12 AS DOUBLE)
       |              ELSE $SbAlpha * (
       |                CASE WHEN c23.c23 IS NOT NULL THEN c23.c23 / CAST(c2.c2 AS DOUBLE)
       |                     ELSE $SbAlpha * greatest(coalesce(c3.c3, 0), 1) / n.nn END)
       |         END)) / sum(pd.dc), 6) AS sb_score
       |FROM pd
       |LEFT JOIN c123 USING (w1, w2, w3)
       |LEFT JOIN c12 USING (w1, w2)
       |LEFT JOIN c23 USING (w2, w3)
       |LEFT JOIN c2 USING (w2)
       |LEFT JOIN c3 USING (w3), n
       |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------
  // 331. interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995;
  // Chen & Goodman 1998's benchmark winner) — the smoothing the LM
  // ladder was missing: #232 Jelinek-Mercer interpolates with the
  // RAW unigram mix, KN replaces it with the CONTINUATION
  // distribution (how many distinct contexts a word follows — "san
  // francisco" makes "francisco" frequent but a terrible novel-context
  // guess), which is why every serious n-gram stack (KenLM's default,
  // SRILM's -kndiscount) scores with it:
  //   P_KN(w2|w1) = max(c12 − D, 0)/c1 + (D·N1+(w1·)/c1) · N1+(·w2)/NB
  // with D = 0.75, N1+(w1·)/N1+(·w2) the distinct-successor/
  // -predecessor counts and NB the distinct-bigram total. Corpus-
  // trained, every scored bigram is seen, and both interpolation terms
  // are strictly positive — ln() stays finite with no OOV convention
  // needed. Per-doc mean log-prob rides the #124 weighted
  // Σ dc·ln(p)/Σ dc determinism contract (identical grouping both
  // engines, 6 dp). Scale: the c12 table is the one vocab²-bounded
  // shuffle (shuffle_hash against the per-doc fact rows — the #232
  // measured 22× sort-skip); the per-w1 (c1, N1+) and per-w2 N1+
  // tables are vocab-bounded broadcasts; NB is a 1-row attach (the
  // char_lm_score scalar-attach precedent, PlanSpec-allowlisted).
  private val KnD = 0.75

  def kneserNeyScore(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val perDoc = pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("dc"))
    // r15 optimization: NO checkpoint here — c12's four consumers (left
    // stats, right stats, NB, the score join) hang off ONE canonical
    // (w1, w2) exchange that ReuseExchange replays from shuffle files,
    // and the same reuse serves perDoc's exchange to both the c12 build
    // and the probe side (the word_lm_score shape). The old eager
    // checkpoint ran in its own action, so the pairs explode + perDoc
    // aggregation executed TWICE per query (measured: 3.39 → 1.86 s
    // at sf0.1).
    val c12 = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("dc")).as("c12"))
    // per-w1: total count c1 AND distinct-successor count N1+(w1·) in
    // one pass over the bigram-type table
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nl"))
    val right = c12.groupBy(col("w2")).agg(count(lit(1)).as("nr"))
    val nb = c12.agg(count(lit(1)).cast("double").as("nb"))
    perDoc.join(c12.hint("shuffle_hash"), Seq("w1", "w2"))
      .join(broadcast(left), "w1").join(broadcast(right), "w2")
      .crossJoin(broadcast(nb))
      .groupBy(col("doc_id"))
      .agg(sum(col("dc")).cast("long").as("n_bigrams"),
        round(sum(col("dc") * log(
          greatest(col("c12") - lit(KnD), lit(0.0)) / col("c1")
            + lit(KnD) * col("nl") / col("c1") * (col("nr") / col("nb"))))
          / sum(col("dc")), 6).as("kn_score"))
  }

  private val kneserNeyScoreSql =
    s"""WITH pr AS MATERIALIZED (
       |  SELECT doc_id, ws[CAST(t.i AS INT)] AS w1, ws[CAST(t.i + 1 AS INT)] AS w2
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents),
       |       LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(i)
       |  WHERE len(ws) >= 2),
       |pd AS MATERIALIZED (
       |  SELECT doc_id, w1, w2, count(*)::BIGINT AS dc FROM pr GROUP BY 1, 2, 3),
       |c12 AS MATERIALIZED (
       |  SELECT w1, w2, CAST(sum(dc) AS BIGINT) AS c12 FROM pd GROUP BY 1, 2),
       |lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*)::BIGINT AS nl
       |        FROM c12 GROUP BY 1),
       |rgt AS (SELECT w2, count(*)::BIGINT AS nr FROM c12 GROUP BY 1),
       |nb AS (SELECT count(*)::DOUBLE AS nb FROM c12)
       |SELECT pd.doc_id, CAST(sum(pd.dc) AS BIGINT) AS n_bigrams,
       |       round(sum(pd.dc * ln(
       |         greatest(c12.c12 - $KnD, 0.0) / lft.c1
       |           + $KnD * lft.nl / lft.c1 * (rgt.nr / nb.nb)))
       |         / sum(pd.dc), 6) AS kn_score
       |FROM pd
       |JOIN c12 USING (w1, w2)
       |JOIN lft USING (w1)
       |JOIN rgt USING (w2), nb
       |GROUP BY 1""".stripMargin

  private val PerceptronWeights =
    "the perceptron's margin pass attaches the 1-row 65-slot weight ARRAY per round " +
      "(the cuped scalar-attach shape, bounded by the bucket-count capacity lever) — " +
      "the per-round doc-keyed feature shuffles it replaced were the scale cost"

  val ops: Seq[Op] = Seq(
    Op("kneser_ney_score", kneserNeyScore _, Oracle(kneserNeyScoreSql),
      quadratic = Some("kneser_ney_score attaches the 1-row distinct-bigram total NB " +
        "(the word_lm_score scalar-attach precedent)")),
    Op("trigram_sb_score", trigramSbScore _, Oracle(trigramSbScoreSql),
      quadratic = Some("trigram_sb_score attaches the 1-row unigram total N (the " +
        "char_lm_score scalar-attach precedent)")),
    Op("source_style_kl", sourceStyleKl _, Oracle(sourceStyleKlSql),
      quadratic = Some("source_style_kl attaches the 1-row corpus word-total (the " +
        "char_lm_score scalar-attach precedent)")),
    Op("doremi_weights", doremiWeights _, Oracle(doremiWeightsSql),
      quadratic = Some("doremi_weights attaches the 1-row corpus-total / corpus-loss / " +
        "normalizer scalars (the source_mix_weights precedent)")),
    Op("langid_confusion", langidConfusion _, Oracle(langidConfusionSql)),
    Op("perceptron_quality", perceptronQuality _, Oracle(perceptronQualitySql),
      quadratic = Some(PerceptronWeights)),
    Op("classifier_eval", classifierEval _, Oracle(classifierEvalSql),
      quadratic = Some(PerceptronWeights)),
    Op("word_lm_score", wordLmScore _, Oracle(wordLmScoreSql),
      quadratic = Some(Reasons.TotalsAttach)))
}
