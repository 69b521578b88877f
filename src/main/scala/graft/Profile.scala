package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement aid (guide §1): decomposes a registered query's cold
  * wall time into DataFrame build, analysis+optimization+physical
  * planning, and execution, and counts jobs/stages/tasks plus shuffle
  * bytes. `runMain graft.Profile q1,q2,...` — same session config as
  * Bench so the numbers are comparable.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names: Seq[String] =
      if (args.isEmpty || args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0); val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L); val shufWrite = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    // same untimed warmup as Bench
    Tables.names.foreach { t =>
      try Tables.table(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    try SparkEntry.queries("q5_region_revenue")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    println(f"${"query"}%-32s ${"build"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"shufMB"}%7s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val samples = (1 to runs).map { _ =>
        graft.api.Memo.reset(); spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
        jobs.set(0); stages.set(0); tasks.set(0); shufRead.set(0); shufWrite.set(0)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        // force analysis/optimization/physical planning of the FINAL frame
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        (( t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t3 - t0) / 1e9,
          jobs.get, stages.get, tasks.get,
          (shufRead.get + shufWrite.get) / 1e6)
      }
      val s = samples.minBy(_._4)
      println(f"$name%-32s ${s._1}%7.2f ${s._2}%7.2f ${s._3}%7.2f ${s._4}%7.2f ${s._5}%5d ${s._6}%5d ${s._7}%6d ${s._8}%7.1f")
    }
    spark.stop()
  }
}
