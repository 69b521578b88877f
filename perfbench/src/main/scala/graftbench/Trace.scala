package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Listener that files every job, stage and task under the job group
  * the harness set when the job was launched. Attribution is by group,
  * never by arrival time, so an event that arrives late still lands
  * under the call that caused it. Records stay in memory. */
final class Recorder extends SparkListener {
  import Recorder._
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, g, e.time, e.time, e.stageIds))
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val start = i.submissionTime.getOrElse(0L)
    stages.put(i.stageId, StageRec(i.stageId, stageGroup.getOrDefault(i.stageId, ""),
      start, i.completionTime.getOrElse(start)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      group = stageGroup.getOrDefault(e.stageId, ""),
      stage = e.stageId,
      durMs = e.taskInfo.duration,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
      spillBytes = m.diskBytesSpilled,
      inputBytes = m.inputMetrics.bytesRead,
      inputRecords = m.inputMetrics.recordsRead,
      outputBytes = m.outputMetrics.bytesWritten))
  }

  /** Everything filed under job groups that start with `prefix`. */
  def under(prefix: String): Slice = Slice(
    jobs.values.asScala.filter(_.group.startsWith(prefix)).toSeq.sortBy(_.id),
    stages.values.asScala.filter(_.group.startsWith(prefix)).toSeq,
    tasks.asScala.filter(_.group.startsWith(prefix)).toSeq)
}

object Recorder {
  final case class JobRec(id: Int, group: String, start: Long, end: Long, stages: Seq[Int])
  final case class StageRec(id: Int, group: String, start: Long, end: Long)
  final case class TaskRec(group: String, stage: Int, durMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      spillBytes: Long, inputBytes: Long, inputRecords: Long, outputBytes: Long)

  final case class Slice(jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec]) {
    def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
    def gcS: Double = tasks.map(_.gcMs).sum / 1e3
    def shuffleBytes: Long = tasks.map(_.shuffleWriteBytes).sum
    def shuffleRecords: Long = tasks.map(_.shuffleWriteRecords).sum
    def spillBytes: Long = tasks.map(_.spillBytes).sum
    def inputBytes: Long = tasks.map(_.inputBytes).sum
    def inputRecords: Long = tasks.map(_.inputRecords).sum
    def outputBytes: Long = tasks.map(_.outputBytes).sum

    /** The longest stage, by wall time from submission to completion. */
    def longestStage: Option[StageRec] = stages.maxByOption(s => (s.end - s.start, -s.id))

    /** Slowest task over median task in `stage`. */
    def skew(stage: StageRec): Double = {
      val ds = tasks.filter(_.stage == stage.id).map(_.durMs.toDouble).sorted
      if (ds.isEmpty) 1.0
      else {
        val med = ds(ds.size / 2)
        if (med <= 0) 1.0 else ds.last / med
      }
    }

    /** Milliseconds of [from, to] during which none of these jobs ran. */
    def idleMs(from: Double, to: Double): Double = {
      val spans = jobs.map(j => (math.max(from, j.start.toDouble), math.min(to, j.end.toDouble)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var edge = from
      spans.foreach { case (a, b) =>
        if (b > edge) { covered += b - math.max(a, edge); edge = b }
      }
      (to - from) - covered
    }
  }
}

/** A span: one timed interval in the pass → call → phase → job tree.
  * Times are epoch milliseconds, so harness spans and Spark's job
  * events share one clock. */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
