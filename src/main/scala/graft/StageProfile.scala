package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Stage-level measurement aid (guide §1/§7.1 without the UI): for each
  * named query, prints every stage's wall/cpu time, task count and
  * shuffle bytes plus the driver-side inter-job gaps — the local-mode
  * stand-in for the Stages tab. `runMain graft.StageProfile q1,q2` —
  * same session config as Bench so numbers are comparable.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled",
        sys.env.getOrElse("SPARK_GRAFT_PROFILE_UI", "false"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    case class St(name: String, var ms: Long = 0, var tasks: Int = 0,
      var shufR: Long = 0, var shufW: Long = 0, var cpu: Long = 0)
    val stages = mutable.LinkedHashMap[Int, St]()
    val jobT = mutable.LinkedHashMap[Int, (Long, Long)]()
    val lock = new Object
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
        val nm = e.stageInfo.name.split("\n")(0)
        stages.get(e.stageInfo.stageId) match {
          case Some(s) if s.name == "?" => stages(e.stageInfo.stageId) = s.copy(name = nm)
          case None => stages(e.stageInfo.stageId) = St(nm)
          case _ => ()
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        jobT(e.jobId) = (System.currentTimeMillis(), 0L)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        jobT.get(e.jobId).foreach(t => jobT(e.jobId) = (t._1, System.currentTimeMillis()))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
        val s = stages.getOrElseUpdate(e.stageInfo.stageId,
          St(e.stageInfo.name.split("\n")(0)))
        s.ms = e.stageInfo.completionTime.getOrElse(0L) -
          e.stageInfo.submissionTime.getOrElse(0L)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val s = stages.getOrElseUpdate(e.stageId, St("?"))
        s.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.shufR += m.shuffleReadMetrics.totalBytesRead
          s.shufW += m.shuffleWriteMetrics.bytesWritten
          s.cpu += m.executorCpuTime / 1000000
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
    names.foreach { name =>
      graft.api.Memo.reset(); spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      lock.synchronized { stages.clear(); jobT.clear() }
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      Thread.sleep(500) // drain the listener bus (Profile.scala caveat)
      // per-operator metrics of the LAST SQL execution (the noop save):
      // the in-process stand-in for the UI's SQL tab
      if (sys.env.get("SPARK_GRAFT_PROFILE_SQL").contains("true")) {
        val store = spark.sharedState.statusStore
        store.executionsList().lastOption.foreach { ex =>
          val vals = store.executionMetrics(ex.executionId)
          println(s"-- SQL execution ${ex.executionId} operators:")
          store.planGraph(ex.executionId).allNodes.foreach { n =>
            val ms = n.metrics.flatMap(m => vals.get(m.accumulatorId)
              .map(v => s"${m.name}=${v.replace("\n", " ")}"))
            if (ms.nonEmpty)
              println(s"   [${n.id}] ${n.name}: ${ms.mkString(", ")}")
          }
        }
      }
      println(f"== $name build=${(t1 - t0) / 1e9}%.2f exec=${(t2 - t1) / 1e9}%.2f")
      lock.synchronized {
        println(f"${"stageId"}%7s ${"ms"}%7s ${"cpuMs"}%8s ${"tasks"}%5s ${"shufR_MB"}%9s ${"shufW_MB"}%9s  name")
        stages.toSeq.sortBy(-_._2.ms).take(30).foreach { case (id, s) =>
          println(f"$id%7d ${s.ms}%7d ${s.cpu}%8d ${s.tasks}%5d ${s.shufR / 1e6}%9.1f ${s.shufW / 1e6}%9.1f  ${s.name.take(90)}")
        }
        val jobs = jobT.toSeq.sortBy(_._1)
        val jobMs = jobs.map(j => j._2._2 - j._2._1).filter(_ > 0)
        println(s"jobs=${jobs.size} totalJobMs=${jobMs.sum}")
        val gaps = jobs.sliding(2).collect {
          case Seq((_, (_, e1)), (_, (s2, _))) if e1 > 0 && s2 > e1 => s2 - e1
        }.toSeq
        println(s"interJobGapMs total=${gaps.sum} max=${if (gaps.nonEmpty) gaps.max else 0}")
      }
    }
    spark.stop()
  }
}
