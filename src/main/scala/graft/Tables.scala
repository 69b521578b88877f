package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-pruned readers for the driver-generated parquet tables
  * (see TESTDATA.md). Column pruning + predicate pushdown happen at the
  * parquet scan because every reader is a plain declarative
  * `spark.read.parquet` — Catalyst prunes through it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schemas by (session, path, `Memo.dirStamp` of the path:
    * the name, length and modification time of every file under it).
    * Spark infers a parquet schema in a one-task job on every read; with
    * the schema passed, a read launches no job. The key is checked file
    * metadata, not query state, so `Memo.reset` leaves this cache; a
    * rewritten table gets a new stamp and evicts its old entry. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Long), StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = graft.api.Memo.dirStamp(path)
    // a path dirStamp cannot see (missing, or not on the local file
    // system) reads as before, so a missing table fails with Spark's error
    if (stamp == 0L) spark.read.parquet(path)
    else {
      val key = (spark, path, stamp)
      if (!schemas.containsKey(key))
        schemas.keySet().removeIf(k => (k._1 eq spark) && k._2 == path)
      spark.read.schema(schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema))
        .parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The generator has shipped events.ts under two encodings, so this
    * reader adapts to whatever the parquet file actually holds and always
    * exposes the same two columns:
    *   - `ts_ns`  epoch nanoseconds, BIGINT — exact, matches DuckDB's
    *     `epoch_ns(ts)` under both encodings;
    *   - `ts`     TimestampType (micros) for event-time / window /
    *     Structured Streaming use.
    * Encodings seen: TIMESTAMP(NANOS) (read as BIGINT via
    * spark.sql.legacy.parquet.nanosAsLong, set in Verify/Bench/specs) and
    * plain timestamp[us] (read as TIMESTAMP_NTZ; cast to TimestampType is
    * exact with the session timezone pinned to UTC).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        val tsMicros = col("ts").cast(TimestampType)
        raw.select(raw.columns.map {
          case "ts" => (unix_micros(tsMicros) * lit(1000L)).as("ts_ns")
          case c    => col(c)
        }.toIndexedSeq :+ tsMicros.as("ts"): _*)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
