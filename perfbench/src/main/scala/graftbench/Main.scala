package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in one JVM, driven by perfbench/run.py:
  *
  *   graftbench.Main --workload <name> --data <generated dir> --out <dir>
  *     --cpus <n> --seconds <s> --trace <0|1> --launched-ms <epoch ms>
  *
  * Sets the session up, runs one untimed pass that writes every result
  * to parquet for the oracle check, then timed passes until `seconds`
  * have gone by and at least `minTimedPasses` have run. With `--trace 1`
  * it runs one more untimed pass, then untraced, traced, traced and
  * untraced passes instead: passes get faster as the JIT compiler
  * catches up, steeply at first, and in this order a steady speed-up
  * cancels out of the tracing overhead, the mean traced wall time minus
  * the mean untraced. It reports the per-layer figures of the second
  * traced pass, then times the kernels. Writes `<out>/result.json`.
  */
object Main {
  /** Timed passes per run, at least. One pass swings by 10-30% with how
    * far the JIT compiler has got (at graft's session settings every pass
    * generates and compiles much of its code again), and the first timed
    * pass is the slowest; the median of three is not set by it. */
  val minTimedPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opt("workload"))
    val (data, out, cpus) = (opt("data"), opt("out"), opt("cpus").toInt)
    val traced = opt("trace") == "1"
    // set-up: JVM start (taken just before launch) to a warmed session
    val launchedMs = opt("launched-ms").toDouble
    val spark = Harness.session(cpus, out)
    val sessionReadyS = (Clock.nowMs - launchedMs) / 1e3
    Harness.warm(spark, data)
    val setupS = (Clock.nowMs - launchedMs) / 1e3
    val h = new Harness(spark, wl, data, out)
    val passes = ArrayBuffer(h.pass("warmup"))
    var perLayer: Map[String, Any] = Map.empty
    if (!traced) {
      val t0 = System.nanoTime()
      var timed = 0
      do { passes += h.pass("timed"); timed += 1 }
      while (timed < Main.minTimedPasses || (System.nanoTime() - t0) / 1e9 < opt("seconds").toDouble)
    } else {
      def tracedPass(): (PassRec, Recorder) = {
        val rec = new Recorder
        spark.sparkContext.addSparkListener(rec)
        try (h.pass("traced", Some(rec)), rec)
        finally spark.sparkContext.removeSparkListener(rec)
      }
      passes += h.pass("settle")
      val u1 = h.pass("untraced")
      val t1 = tracedPass()._1
      val (t2, rec) = tracedPass()
      val u2 = h.pass("untraced")
      passes ++= Seq(u1, t1, t2, u2)
      perLayer = h.layerMetrics(t2, rec) ++
        Map("trace.overhead_s" -> ((t1.wallS + t2.wallS) - (u1.wallS + u2.wallS)) / 2) ++
        Kernels.rowsPerSecond(spark, data)
      Files.writeString(Paths.get(s"$out/trace.json"), Json.render(Map(
        "pass_id" -> t2.id,
        "spans" -> h.spans(t2, rec).map(_.toJson))))
    }
    Files.writeString(Paths.get(s"$out/result.json"), Json.render(Map(
      "meta" -> h.meta,
      "setup_s" -> setupS,
      "session_ready_s" -> sessionReadyS,
      "passes" -> passes.map(_.toJson).toSeq,
      "per_layer" -> perLayer,
      "oracle_sql" -> wl.calls.flatMap(c => graft.SparkEntry.oracleSql.get(c.name).map(c.name -> _)).toMap)))
    spark.stop()
  }
}

/** `endMs` is read from the clock after the call has fully returned
  * (in a traced pass, after the listener bus is drained), apart from
  * the three phase timings, so the span and the sum of the phases are
  * two separate measurements. */
final case class CallRec(name: String, layer: String, startMs: Double,
    buildS: Double, planS: Double, execS: Double, endMs: Double,
    digest: Option[Digest], error: Option[String]) {
  def execEndMs: Double = startMs + (buildS + planS + execS) * 1e3
  def toJson: Map[String, Any] = Map("name" -> name, "layer" -> layer,
    "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
    "span_s" -> (endMs - startMs) / 1e3,
    "digest" -> digest.map(_.toString), "rows" -> digest.map(_.rows), "error" -> error)
}

/** `cpuS` is the program's CPU: task CPU plus the client thread's CPU.
  * The process's CPU also counts the JIT compiler threads, which here
  * burn 10 s or more per pass and vary from run to run; it is kept
  * next to the JIT and GC times for reference. */
final case class PassRec(id: String, kind: String, startMs: Double, wallS: Double,
    cpuS: Double, processCpuS: Double, jitS: Double, gcS: Double, stateMb: Double,
    calls: Seq[CallRec]) {
  def toJson: Map[String, Any] = Map("id" -> id, "kind" -> kind, "wall_s" -> wallS,
    "cpu_s" -> cpuS, "process_cpu_s" -> processCpuS, "jit_s" -> jitS, "gc_s" -> gcS,
    "state_mb" -> stateMb, "calls" -> calls.map(_.toJson))
}

object Harness {
  /** Bench's session settings, with Spark's scratch space kept under
    * the run's output directory. */
  def session(cpus: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bench's warm-up: touch every table, run one small query. */
  def warm(spark: SparkSession, data: String): Unit = {
    graft.Tables.names.foreach(t => graft.Tables.table(spark, data, t).count())
    graft.SparkEntry.queries("q5_region_revenue")(spark, data)
      .write.format("noop").mode("overwrite").save()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = os.getProcessCpuTime / 1e9
  def threadCpuS: Double = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9
  /** JIT compiler and collector time so far, for telling their share
    * of a pass apart from the program's. */
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

final class Harness(spark: SparkSession, wl: Workload, data: String, out: String) {
  private val taskCpu = new java.util.concurrent.atomic.AtomicLong()
  spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) taskCpu.addAndGet(e.taskMetrics.executorCpuTime)
  })
  private def taskCpuS: Double = taskCpu.get / 1e9

  /** Where a call's result goes: the untimed pass writes every result
    * to parquet for the oracle check; later passes write the calls marked
    * `toParquet` and consume the rest in place. */
  private def parquetDir(c: Call, kind: String): Option[String] =
    if (kind == "warmup") Some(s"$out/warmup")
    else if (c.toParquet) Some(s"$out/results")
    else None

  def meta: Map[String, Any] = Map(
    "workload" -> wl.name,
    "calls" -> wl.calls.map(_.name),
    "parquet_calls" -> wl.calls.filter(_.toParquet).map(_.name),
    "cpus" -> spark.sparkContext.defaultParallelism,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString)

  /** Each pass pays its own state builds: drop memo state, cached
    * frames and checkpoints, then collect garbage (as Bench does). */
  private def reset(): Unit = {
    graft.api.Memo.reset()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def heldStateMb: Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def pass(kind: String, rec: Option[Recorder] = None): PassRec = {
    reset()
    val id = s"${wl.name}-$kind-${java.util.UUID.randomUUID().toString.take(8)}"
    val (proc0, jit0, gc0) = (Harness.processCpuS, Harness.jitS, Harness.gcS)
    val cpu0 = taskCpuS + Harness.threadCpuS
    val start = Clock.nowMs
    val calls = wl.calls.zipWithIndex.map { case (c, i) => call(c, s"$id/$i", parquetDir(c, kind), rec) }
    val wallS = (Clock.nowMs - start) / 1e3
    val driverCpuS = Harness.threadCpuS
    val (procS, jitS, gcS) = (Harness.processCpuS - proc0, Harness.jitS - jit0, Harness.gcS - gc0)
    org.apache.spark.BenchGlue.drainListenerBus(spark.sparkContext)
    val cpuS = taskCpuS + driverCpuS - cpu0
    val state = heldStateMb
    // parquet results are digested from what was written, after the clock stops
    val digested = calls.zipWithIndex.map { case (c, i) =>
      parquetDir(wl.calls(i), kind).filter(_ => c.error.isEmpty).fold(c) { dir =>
        try c.copy(digest = Some(Digest.consume(spark.read.parquet(s"$dir/${c.name}"))))
        catch { case NonFatal(e) => c.copy(error = Some(s"read back: $e")) }
      }
    }
    PassRec(id, kind, start, wallS, cpuS, procS, jitS, gcS, state, digested)
  }

  private def call(c: Call, group: String, sinkDir: Option[String],
      rec: Option[Recorder]): CallRec = {
    val sc = spark.sparkContext
    def phase(name: String): Unit =
      if (rec.isDefined) sc.setJobGroup(s"$group/$name", c.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val startMs = Clock.nowMs
    var t1 = t0; var t2 = t0
    val rec0 = try {
      phase("build")
      val df = c.fn(spark, data)
      t1 = System.nanoTime()
      phase("plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      phase("exec")
      val digest = sinkDir match {
        case Some(dir) =>
          df.write.mode("overwrite").parquet(s"$dir/${c.name}")
          None
        case None => Some(Digest.consume(df))
      }
      val t3 = System.nanoTime()
      CallRec(c.name, c.layer, startMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        (t3 - t2) / 1e9, 0.0, digest, None)
    } catch {
      case NonFatal(e) =>
        val t3 = System.nanoTime()
        CallRec(c.name, c.layer, startMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
          (t3 - t2) / 1e9, 0.0, None, Some(e.toString))
    } finally {
      if (rec.isDefined) {
        sc.clearJobGroup()
        org.apache.spark.BenchGlue.drainListenerBus(sc)
      }
    }
    rec0.copy(endMs = Clock.nowMs)
  }

  /** Per-layer figures from the traced pass; every layer is reported,
    * with zeros where this workload makes no calls into it. */
  def layerMetrics(p: PassRec, rec: Recorder): Map[String, Any] = {
    val slices = p.calls.indices.map(i => rec.under(s"${p.id}/$i/"))
    val perLayer = Workloads.layers.flatMap { layer =>
      val mine = p.calls.zip(slices).filter(_._1.layer == layer)
      val ss = mine.map(_._2)
      val longest = ss.flatMap(s => s.longestStage.map(st => (st, s)))
        .maxByOption { case (st, _) => (st.end - st.start, -st.id) }
      Seq(
        "calls" -> mine.size,
        "build_s" -> mine.map(_._1.buildS).sum,
        "plan_s" -> mine.map(_._1.planS).sum,
        "exec_s" -> mine.map(_._1.execS).sum,
        "jobs" -> ss.map(_.jobs.size).sum,
        "tasks" -> ss.map(_.tasks.size).sum,
        "gap_s" -> mine.map { case (c, s) => s.idleMs(c.startMs, c.execEndMs) }.sum / 1e3,
        "cpu_s" -> ss.map(_.cpuS).sum,
        "gc_s" -> ss.map(_.gcS).sum,
        "shuffle_mb" -> ss.map(_.shuffleBytes).sum / 1e6,
        "spill_mb" -> ss.map(_.spillBytes).sum / 1e6,
        "skew" -> longest.map { case (st, s) => s.skew(st) }.getOrElse(0.0),
        "rows_out" -> mine.flatMap(_._1.digest.map(_.rows)).sum,
        "failed" -> mine.count(_._1.error.isDefined)
      ).map { case (k, v) => s"$layer.$k" -> v }
    }.toMap
    val dedupRecords = p.calls.zip(slices).filter(_._1.layer == "dedup").map(_._2.shuffleRecords).sum
    val dedupRows = p.calls.filter(_.layer == "dedup").flatMap(_.digest.map(_.rows)).sum
    val passJobs = rec.jobs.values.asScala
      .filter(j => j.start >= p.startMs - 1 && j.start <= p.startMs + p.wallS * 1e3)
    perLayer ++ Map(
      "dedup.yield" -> (if (dedupRecords > 0) dedupRows.toDouble / dedupRecords else 0.0),
      "sources.scan_rows" -> slices.map(_.inputRecords).sum,
      "sources.scan_mb" -> slices.map(_.inputBytes).sum / 1e6,
      "sources.write_s" -> p.calls.indices.map(i => writeS(p.calls(i), rec.under(s"${p.id}/$i/exec"))).sum,
      "sources.write_mb" -> slices.map(_.outputBytes).sum / 1e6,
      "trace.unattributed_jobs" -> passJobs.count(_.group.isEmpty),
      "trace.unphased_s" -> p.calls.map(c => c.endMs - c.execEndMs).sum / 1e3,
      "session.state_mb" -> p.stateMb,
      "session.cpu_s" -> p.cpuS)
  }

  /** A call's write path: from the start of the first job in its exec
    * phase whose tasks wrote output bytes to the end of the phase, so the
    * job commit is counted and the shuffle stages before the write are
    * not. The writing stage also runs the plan's last operators, which
    * Spark fuses with the file writer. */
  private def writeS(c: CallRec, exec: Recorder.Slice): Double = {
    val writing = exec.tasks.filter(_.outputBytes > 0).map(_.stage).toSet
    exec.jobs.filter(_.stages.exists(writing)).map(_.start).minOption
      .fold(0.0)(start => (c.execEndMs - start) / 1e3)
  }

  /** pass → call → build/plan/exec → job, all under the pass id. */
  def spans(p: PassRec, rec: Recorder): Seq[Span] = {
    val passSpan = Span(p.id, "", "pass", wl.name, p.startMs, p.startMs + p.wallS * 1e3,
      Map("cpu_s" -> p.cpuS, "state_mb" -> p.stateMb))
    val callSpans = p.calls.zipWithIndex.flatMap { case (c, i) =>
      val id = s"${p.id}/$i"
      val b = c.startMs + c.buildS * 1e3
      val pl = b + c.planS * 1e3
      val slice = rec.under(s"$id/")
      val jobs = slice.jobs.map { j =>
        val ts = slice.tasks.filter(t => j.stages.contains(t.stage))
        Span(s"job-${j.id}", j.group, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble,
          Map("stages" -> j.stages.size, "tasks" -> ts.size,
            "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
            "shuffle_mb" -> ts.map(_.shuffleWriteBytes).sum / 1e6))
      }
      Seq(
        Span(id, p.id, "call", c.name, c.startMs, c.endMs,
          Map("layer" -> c.layer, "rows" -> c.digest.map(_.rows), "error" -> c.error)),
        Span(s"$id/build", id, "build", c.name, c.startMs, b),
        Span(s"$id/plan", id, "plan", c.name, b, pl),
        Span(s"$id/exec", id, "exec", c.name, pl, c.execEndMs)) ++ jobs
    }
    passSpan +: callSpans
  }
}

object Json {
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
}
