package graft

import org.apache.spark.sql.SparkSession

/** The one local session graft's tools (Bench, Verify, Explain,
  * ScaleData) and the spec suite run on, with its warm-up and
  * its cold reset. perfbench's `Harness.session` is a hand copy of the
  * settings in [[apply]]; change both together.
  */
object GraftSession {

  /** A `local[cpus]` session; `cpus` defaults to SPARK_GRAFT_CPUS, else
    * the JVM's available processors. */
  def apply(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576") // native TopK agg state is O(k) per group; the 128-key default would sort-fallback and re-sort every scored row
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns on every plan with an unpartitioned window; the
    // declared ones are named once per run instead (Op.windowNote)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    // reset's unpersist sweep frees localCheckpoint blocks on purpose;
    // the unpersisted RDD warns once per checkpoint that its lineage is gone
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Untimed warm-up: parquet footers, codegen JIT, broadcast machinery.
    * Without it the first timed query absorbs ~4 s of one-time session
    * cost. */
  def warm(spark: SparkSession, dir: String): Unit = {
    Tables.names.foreach { t =>
      try Tables.table(spark, dir, t).count() catch { case _: Throwable => () }
    }
    try SparkEntry.queries("q5_region_revenue")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
  }

  /** Start the next run cold: empty the memo caches (each run pays its
    * own state build), drop cached frames, and free localCheckpoint
    * blocks with a blocking unpersist sweep (localCheckpoint registers
    * its RDD in sc.persistentRdds). Then a stop-the-world System.gc()
    * so every run starts from a compact old gen.
    *
    * Both halves were measured regressions when missing. Without the
    * sweep, blocks were freed only once a GC cleared the ContextCleaner's
    * weak refs, and under -XX:+ExplicitGCInvokesConcurrent that GC ran
    * inside the next timed run (dsir_weights_hashed isolated
    * 1.38 → 3.03 s with no code change); the GC here must stay
    * stop-the-world. Without the GC, G1's old gen filled with promoted
    * object-agg garbage and later allocation-heavy queries paid
    * mixed-collection stalls (annotate_corr at sf1: 154 s without,
    * ~10 s with). */
  def reset(spark: SparkSession): Unit = {
    graft.api.Memo.reset()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
