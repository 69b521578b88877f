package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftGlue
import scala.collection.mutable

/** Measurement aid that needs no Spark UI. For each named query
  * it prints one row that splits the cold wall time into DataFrame
  * build, analysis+optimization+physical planning and execution, with
  * the query's jobs, stages, tasks and shuffle MB, and its codegen
  * footprint: the classes Spark compiled during its first sample (those
  * the codegen cache did not already hold) and their compile ms, from
  * `CodegenMetrics`. Under the row come
  * its costliest stages (wall and CPU ms, tasks, shuffle MB) and the
  * driver's gaps between jobs: the local-mode stand-in for the Stages
  * tab. All of it is from the fastest of SPARK_GRAFT_BENCH_RUNS
  * (default 2) cold samples, on the same session as Bench.
  *
  *   runMain graft.Profile q1,q2,...|all
  *
  * `all` profiles the queries Bench times; a name given explicitly runs
  * whether Bench times it or not.
  *
  * SPARK_GRAFT_PROFILE_SQL=true also prints the per-operator SQL
  * metrics of each query's last execution (the SQL tab's stand-in).
  */
object Profile {
  private final case class Stage(id: Int, name: String, wallMs: Long, cpuMs: Long,
      tasks: Int, shufR: Long, shufW: Long)

  /** Stages and jobs (id → start and end event time, ms) since the last
    * clear. A stage's metrics are the sums over its tasks. */
  private final class Recorder extends SparkListener {
    private val stages = mutable.ArrayBuffer[Stage]()
    private val jobs = mutable.LinkedHashMap[Int, (Long, Long)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs(e.jobId) = (e.time, 0L) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(t => jobs(e.jobId) = (t._1, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages += Stage(i.stageId, i.name.split("\n")(0),
        i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
        m.executorCpuTime / 1000000, i.numTasks,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
    }
    def clear(): Unit = synchronized { stages.clear(); jobs.clear() }
    def snapshot(): (Seq[Stage], Seq[(Long, Long)]) =
      synchronized { (stages.toSeq, jobs.toSeq.sortBy(_._1).map(_._2)) }
  }

  /** Codegen compiles so far: their count and the compile-ms samples
    * the histogram's reservoir holds (every sample up to its 1028). */
  private def compiles(): (Long, Seq[Long]) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.toSeq)
  }

  /** Classes compiled since `c0` and their total compile ms. */
  private def compiledSince(c0: (Long, Seq[Long])): (Long, Long) = {
    val c1 = compiles()
    (c1._1 - c0._1, c1._2.diff(c0._2).sum)
  }

  def main(args: Array[String]): Unit = {
    val names: Seq[String] =
      if (args.isEmpty || args(0) == "all") SparkEntry.timed.map(_.name)
      else args(0).split(",").map(_.trim).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    GraftSession.warm(spark, sfDir)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    println(f"${"query"}%-32s ${"build"}%7s ${"plan"}%7s ${"exec"}%7s ${"total"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"shufMB"}%7s ${"classes"}%7s ${"compMs"}%7s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val samples = (1 to runs).map { _ =>
        GraftSession.reset(spark)
        GraftGlue.drainListenerBus(spark)
        rec.clear()
        val c0 = compiles()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        // force analysis/optimization/physical planning of the FINAL frame
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        GraftGlue.drainListenerBus(spark)
        (Seq(t1 - t0, t2 - t1, t3 - t2, t3 - t0).map(_ / 1e9), rec.snapshot(), compiledSince(c0))
      }
      val (secs, (stages, jobs), _) = samples.minBy(_._1(3))
      val compiled = samples.head._3
      val shufMb = stages.map(s => s.shufR + s.shufW).sum / 1e6
      println(f"$name%-32s ${secs(0)}%7.2f ${secs(1)}%7.2f ${secs(2)}%7.2f ${secs(3)}%7.2f ${jobs.size}%5d ${stages.size}%5d ${stages.map(_.tasks).sum}%6d $shufMb%7.1f ${compiled._1}%7d ${compiled._2}%7d")
      println(f"  ${"stageId"}%7s ${"ms"}%7s ${"cpuMs"}%8s ${"tasks"}%5s ${"shufR_MB"}%9s ${"shufW_MB"}%9s  name")
      stages.sortBy(-_.wallMs).take(10).foreach { s =>
        println(f"  ${s.id}%7d ${s.wallMs}%7d ${s.cpuMs}%8d ${s.tasks}%5d ${s.shufR / 1e6}%9.1f ${s.shufW / 1e6}%9.1f  ${s.name.take(90)}")
      }
      val gaps = jobs.sliding(2).collect {
        case Seq((_, e1), (s2, _)) if e1 > 0 && s2 > e1 => s2 - e1
      }.toSeq
      println(s"  interJobGapMs total=${gaps.sum} max=${gaps.maxOption.getOrElse(0L)}")
      if (sys.env.get("SPARK_GRAFT_PROFILE_SQL").contains("true")) {
        val store = spark.sharedState.statusStore
        store.executionsList().lastOption.foreach { ex =>
          val vals = store.executionMetrics(ex.executionId)
          println(s"  -- SQL execution ${ex.executionId} operators:")
          store.planGraph(ex.executionId).allNodes.foreach { n =>
            val ms = n.metrics.flatMap(m => vals.get(m.accumulatorId)
              .map(v => s"${m.name}=${v.replace("\n", " ")}"))
            if (ms.nonEmpty)
              println(s"     [${n.id}] ${n.name}: ${ms.mkString(", ")}")
          }
        }
      }
    }
    spark.stop()
  }
}
