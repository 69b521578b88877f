package graft.text

import graft.{Op, Tables}, Op.Oracle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-run batch construction over the curated corpus — the last
  * mile between a cleaned document table and a dataloader: a
  * deterministic epoch shuffle into shards, and length-bucketed
  * batching that bounds padding waste. Both are pure relational plans
  * with NO global sort (shards hash-partition, positions are per-shard
  * windows), so the shapes survive a 100 TB corpus unchanged. The
  * shuffle key is the md5-uniform content hash (Analytics.hashUniform —
  * the engine's cross-engine deterministic randomness primitive);
  * re-keying an epoch = salting the hash input.
  */
object Batching extends Op.Registry {

  private def r(c: Column, d: Int): Column = round(c, d)

  private val Shards = 16
  private val TokenBudget = 2048L

  /** Whitespace token count — the same cheap proxy text_token_stats
    * uses (a real run swaps in tokenizer counts; the plan is
    * identical). */
  private def withTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        when(length(trim(col("text"))) === 0, 0L)
          .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tok"))

  private def withKey(df: DataFrame): DataFrame =
    df.withColumn("u", graft.api.Analytics.hashUniform(
      concat(col("doc_id").cast("string"), lit(":epoch0"))))

  // ---------------------------------------------------------------
  // 211. deterministic epoch shuffle → shard assignment: shard =
  // content-hash bucket (balanced in expectation, NO global sort — the
  // way real dataloaders shard), position = rank within the shard by
  // (hash, doc_id). Reshuffling an epoch = changing the hash salt.
  // One per-shard window over hash-partitioned data; at corpus scale
  // each shard sorts independently.
  def shardAssign(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("u"), col("doc_id"))
    withKey(withTokens(s, dir))
      .withColumn("shard",
        least(floor(col("u") * lit(Shards.toDouble)), lit(Shards - 1.0)).cast("long"))
      .select(col("doc_id"), col("shard"),
        (row_number().over(w) - 1).cast("long").as("pos"), col("n_tok"))
  }

  // ---------------------------------------------------------------
  // 212. length-bucketed batching: bucket docs by ⌊log2(tokens)⌋ so
  // batchmates have similar lengths, order each bucket by the epoch
  // hash, cut greedily into ~2048-token batches via the running-sum
  // window (batch = ⌊(cumsum − n_tok)/budget⌋ — the relational form of
  // greedy packing), and report per batch what bucketing exists to
  // minimize: padding waste = 1 − tok_sum/(n_docs·max_tok). Empty docs
  // ride bucket -1. Windows are per-bucket — at scale, salt the bucket
  // key into (bucket, shard) exactly like #211 if a bucket outgrows an
  // executor; the waste table is invariant to that split.
  def lengthBucketBatches(s: SparkSession, dir: String): DataFrame = {
    // ⌊log2⌋ via binary-string length — exact integer arithmetic in
    // both engines (a log-ratio floor can straddle an ULP at exact
    // powers of two and disagree across libm implementations)
    val bucketed = withKey(withTokens(s, dir))
      .withColumn("bucket",
        when(col("n_tok") <= 0, lit(-1L))
          .otherwise((length(bin(col("n_tok"))) - 1).cast("long")))
    val w = Window.partitionBy(col("bucket")).orderBy(col("u"), col("doc_id"))
    bucketed
      .withColumn("csum", sum(col("n_tok")).over(w))
      .withColumn("batch_idx",
        floor((col("csum") - col("n_tok")) / lit(TokenBudget.toDouble)).cast("long"))
      .groupBy(col("bucket"), col("batch_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
        max(col("n_tok")).as("max_tok"))
      .select(col("bucket"), col("batch_idx"), col("n_docs"), col("tok_sum"),
        col("max_tok"),
        r(when(col("max_tok") > 0,
            lit(1.0) - col("tok_sum") / (col("n_docs") * col("max_tok")))
          .otherwise(lit(0.0)), 6).as("pad_waste"))
  }

  // ---------------------------------------------------------------
  // 217. RAG-style document chunking: 512-token chunks with 64-token
  // overlap (stride 448) — the ingestion step of every retrieval
  // pipeline. One narrow posexplode over the doc table; chunks stay in
  // their doc's partition. Empty docs emit one zero-length chunk so
  // corpus coverage is conserved.
  private val ChunkSize = 512L
  private val ChunkStride = 448L

  def chunkDocuments(s: SparkSession, dir: String): DataFrame =
    withTokens(s, dir)
      .select(col("doc_id"), col("n_tok"),
        posexplode(expr(s"sequence(0L, greatest(n_tok - 1, 0L), $ChunkStride)"))
          .as(Seq("chunk_idx", "tok_start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("tok_start"),
        least(lit(ChunkSize), col("n_tok") - col("tok_start")).as("n_tok_chunk"))

  private val chunkDocumentsSql =
    s"""WITH $tokensSql
       SELECT doc_id,
              CAST(t.i // ${ChunkStride} AS BIGINT) AS chunk_idx,
              CAST(t.i AS BIGINT) AS tok_start,
              least(${ChunkSize}, n_tok - t.i)::BIGINT AS n_tok_chunk
       FROM tok, LATERAL unnest(generate_series(0, greatest(n_tok - 1, 0), ${ChunkStride})) AS t(i)"""

  /** md5-uniform replay (the datasetSplit oracle form) over a salted
    * doc key. */
  private def uSql(expr: String): String = {
    val md5k = s"md5($expr)"
    (1 to 6).map { i =>
      s"(strpos('0123456789abcdef', substr($md5k,$i,1))-1)*${math.pow(16, 6 - i)}"
    }.mkString("((", "\n                 + ", " + 1.0) / 16777217.0)")
  }

  private def tokensSql =
    s"""tok AS (
         SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS n_tok,
                ${uSql("CAST(doc_id AS VARCHAR) || ':epoch0'")} AS u
         FROM documents)"""

  private val shardAssignSql =
    s"""WITH $tokensSql,
       sharded AS (
         SELECT doc_id, n_tok, u,
                CAST(least(floor(u * ${Shards}.0), ${Shards - 1}.0) AS BIGINT) AS shard
         FROM tok)
       SELECT doc_id, shard,
              (row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) - 1)::BIGINT AS pos,
              n_tok
       FROM sharded"""

  private val lengthBucketBatchesSql =
    s"""WITH $tokensSql,
       bucketed AS (
         SELECT doc_id, n_tok, u,
                CASE WHEN n_tok <= 0 THEN -1
                     ELSE (length(bin(n_tok)) - 1)::BIGINT END AS bucket
         FROM tok),
       cut AS (
         SELECT bucket, n_tok,
                CAST(floor((sum(n_tok) OVER (PARTITION BY bucket ORDER BY u, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                           / ${TokenBudget}.0) AS BIGINT) AS batch_idx
         FROM bucketed)
       SELECT bucket, batch_idx, count(*) AS n_docs,
              sum(n_tok)::BIGINT AS tok_sum, max(n_tok) AS max_tok,
              round(CASE WHEN max(n_tok) > 0
                    THEN 1.0 - sum(n_tok) / (count(*) * max(n_tok))
                    ELSE 0.0 END, 6) AS pad_waste
       FROM cut GROUP BY 1, 2"""

  val ops: Seq[Op] = Seq(
    Op("shard_assign", shardAssign _, Oracle(shardAssignSql)),
    Op("length_bucket_batches", lengthBucketBatches _, Oracle(lengthBucketBatchesSql)),
    Op("chunk_documents", chunkDocuments _, Oracle(chunkDocumentsSql)))
}
