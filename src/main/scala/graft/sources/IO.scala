package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink layer: the formats a 100 TB corpus actually moves
  * through, with the scale-safety rails built in.
  *
  * Rules encoded here:
  *  - ALWAYS pass an explicit schema to csv/json readers. Schema
  *    inference is a full extra pass over the data (at 100 TB, a full
  *    extra scan) and can silently widen types between runs.
  *  - Parquet is the canonical storage format (columnar → pruning +
  *    predicate pushdown); csv/json are interchange formats.
  *  - Partitioned layout (`writePartitioned`) gives coarse partition
  *    pruning on low-cardinality keys; bucketed layout
  *    (`writeBucketed`) pre-shuffles once so every later equi-join /
  *    aggregation on the bucket key is exchange-free (verified by
  *    PlanSpec: joining two tables bucketed on the same key plans no
  *    ShuffleExchange).
  */
object IO {

  // ------------------------------------------------------------ read

  /** CSV with explicit schema — header on, no inference pass. */
  def readCsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("header", "true").csv(path)

  /** JSON-lines with explicit schema — no inference pass. */
  def readJsonLines(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  def readParquet(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** ORC — the other columnar interchange format. */
  def readOrc(s: SparkSession, path: String): DataFrame =
    s.read.orc(path)

  /** Raw text lines (one row per line, column `value`) — the ingestion
    * format of a plain-text corpus before any structure is imposed. */
  def readText(s: SparkSession, path: String): DataFrame =
    s.read.text(path)

  /** Binary files as (path, modificationTime, length, content) rows —
    * the ingestion source for multimodal payloads (images/audio/video
    * as opaque bytes + filesystem metadata; graft.multimodal consumes
    * the `content` column). `pathGlobFilter` bounds the listing to one
    * media type; `maxBytesPerFile` guards the 2 GB row limit. */
  def readBinaryFiles(s: SparkSession, path: String,
      glob: String = "*"): DataFrame =
    s.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)

  // ----------------------------------------------------------- write

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Hive-style partitioned parquet: one directory per key value —
    * partition pruning makes `WHERE key = v` skip whole directories.
    * Keys must be low-cardinality (≲ 10⁴) or the file count explodes. */
  def writePartitioned(df: DataFrame, path: String, keys: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(keys: _*).parquet(path)

  /** Bucketed managed table: pays the shuffle ONCE at write time;
    * every subsequent equi-join or aggregation on `bucketCol` between
    * tables with the same bucket count is planned without a shuffle.
    * The 100 TB pattern for fact-fact joins that recur (e.g. the
    * cell×gene matrix joined to per-cell QC over and over). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table) // managed: lives in spark.sql.warehouse.dir

  def readTable(s: SparkSession, table: String): DataFrame = s.table(table)

  /** SCD-1 upsert (the merge a table format does, expressed as a pure
    * plan over plain parquet): union current ∪ updates, keep the row
    * with the highest `version` per `key` — via the latest_per_key
    * struct-max (one aggregation, no per-key window sort). Version
    * ties break deterministically by the remaining columns' struct
    * order. Rewrite the result atomically (write temp → swap) in the
    * caller's maintenance job; at table-format scale the same plan is
    * the MERGE source. Columns must match by name. */
  def upsert(current: DataFrame, updates: DataFrame, key: String,
      version: String): DataFrame = {
    // named imports: functions._ would shadow the `version` parameter
    import org.apache.spark.sql.functions.{col, max, struct}
    val all = current.unionByName(updates)
    val rest = all.columns.filterNot(c => c == key || c == version).toSeq
    all.groupBy(col(key))
      .agg(max(struct((version +: rest).map(col): _*)).as("__s"))
      .select(col(key) +: (version +: rest).map(c => col(s"__s.$c").as(c)): _*)
  }

  /** Streaming upsert sink: apply `upsert` per micro-batch through
    * foreachBatch against a caller-maintained current-state accessor —
    * the standard pattern for maintaining an SCD-1 table from a CDC
    * stream when the sink is a plain file/table store. The callback
    * receives (currentState, microBatch) and must persist + return the
    * merged state; exactly-once comes from the streaming checkpoint +
    * an idempotent (overwrite-by-swap) persist. */
  def upsertSink(stream: DataFrame, key: String, version: String)(
      persist: DataFrame => Unit)(
      currentState: () => DataFrame): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      persist(upsert(currentState(), batch, key, version))
    }

  /** Range-sorted layout: repartitionByRange + sortWithinPartitions on
    * the sort keys, so every output file carries a DISJOINT, ordered
    * key range and every row group within it is sorted. Parquet
    * min/max statistics then prune both files and row groups for range
    * predicates on the key — the data-skipping layout for
    * time/id-range access at corpus scale (the plain-parquet analog of
    * a table format's Z-order/cluster-by maintenance, for the
    * single-key case). The range exchange samples the key distribution,
    * so skewed keys still split into balanced files. */
  def writeRangeSorted(df: DataFrame, path: String, files: Int,
      sortCols: String*): Unit = {
    import org.apache.spark.sql.functions.col
    val ks = sortCols.map(col)
    df.repartitionByRange(files, ks: _*)
      .sortWithinPartitions(ks: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet dataset into files of
    * roughly `targetFileMB` each. Small-file explosions (streaming
    * sinks, over-parallel writes) poison later scans with per-file
    * open/footer costs and tiny row groups; a periodic compaction pass
    * is standard table maintenance at corpus scale. Sizing uses the
    * dataset's own on-disk footprint (file metadata only, no data
    * scan); coalesce avoids a shuffle when shrinking the file count. */
  def compact(s: SparkSession, inPath: String, outPath: String,
      targetFileMB: Int = 512): Unit = {
    // Hadoop FS API, not java.io.File: input may live on any filesystem
    // (hdfs://, s3a://, file://) — resolve per path
    val conf = s.sessionState.newHadoopConf()
    val bytes = s.read.parquet(inPath).inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    s.read.parquet(inPath).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }
}
