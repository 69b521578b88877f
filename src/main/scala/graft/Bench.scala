package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftGlue, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.immutable.SeqMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark main: times queries at SPARK_GRAFT_SF_DIR and records where
  * each one's time goes.
  *
  *   runMain graft.Bench [--stages] [q1,q2,...]
  *   runMain graft.Bench --list-skip
  *
  * With no names it times every query whose `Op` has no `untimed`
  * reason; a name given explicitly runs whether Bench times it or not.
  * `--list-skip` prints the untimed names. Each query runs
  * SPARK_GRAFT_BENCH_RUNS (default 3) cold samples, each fully
  * materialized through a noop sink (not count(), which would let Spark
  * skip projection work), and one [[Recorder]] listens to every sample.
  *
  * The record at SPARK_GRAFT_BENCH_FULL_OUT (default
  * BENCH_full_latest.json) holds a run header and, per query: every
  * sample with its min (`suite`), median and max; the fastest sample's
  * build / plan / exec seconds, its jobs, stages, tasks, shuffle and
  * spill bytes, executor CPU, GC and inter-job gap ms, and its `counters`
  * (the `graft.*` named accumulators its stages updated, such as the
  * prefix join's pruning counts); the classes the first sample compiled
  * and their compile ms; and the two stage flags ([[serialStages]],
  * [[repeatedStages]]). Stdout gets one line, the suite total.
  * `--stages` also prints each query's ten costliest
  * stages, its job gaps and the SQL operator metrics of its last sample.
  */
object Bench {
  /** Serializes the record, and Verify's oracle and manifest files. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One job of a sample, under the phase that launched it. */
  final case class Job(phase: String, start: Long, end: Long)

  /** One stage of a sample; its metrics are the sums over its tasks. */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int, cpuMs: Long,
      gcMs: Long, shufR: Long, shufW: Long, shufWRecords: Long, spill: Long)

  /** One cold sample: wall and build seconds (wall -1 when it failed),
    * the write's planning seconds, the jobs and stages it ran, and its
    * `graft.*` accumulator totals by name. */
  final case class Sample(wall: Double, build: Double, plan: Double,
      jobs: Seq[Job], stages: Seq[Stage], counters: Map[String, Long] = Map.empty)

  /** A query's samples, and what its first sample compiled. */
  final case class Measured(name: String, samples: Seq[Sample], classes: Long,
      compileMs: Long, builtMemo: Boolean) {
    // a failed sample must not flatter the total with its fail-fast time
    def suite: Double = if (samples.exists(_.wall < 0)) -1.0 else samples.map(_.wall).min
  }

  /** Listens to one sample at a time: each job launched under the
    * [[Recorder.Phase]] local property (build or exec), the stages of
    * those jobs, the `graft.*` named accumulators those stages updated,
    * and the planning time of the last query execution (the sample's
    * noop write, from its own planning tracker). */
  final class Recorder extends SparkListener with QueryExecutionListener {
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val tagged = mutable.Set[Int]()
    private val stages = mutable.ArrayBuffer[Stage]()
    // accumulator id -> (name, value): a stage reports each accumulator's
    // running total, so the last report per id is its total
    private val counters = mutable.Map[Long, (String, Long)]()
    private var planMs = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Phase))).foreach { p =>
        jobs(e.jobId) = Job(p, e.time, 0L)
        tagged ++= e.stageIds
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (tagged(i.stageId)) {
        stages += Stage(i.stageId, i.name.split("\n")(0),
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L), i.numTasks,
          m.executorCpuTime / 1000000, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.diskBytesSpilled)
        for (a <- i.accumulables.values; n <- a.name if n.startsWith("graft."); v <- a.value)
          counters(a.id) = (n, v.toString.toLong)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { planMs = qe.tracker.phases.values.map(_.durationMs).sum }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    def clear(): Unit = synchronized {
      jobs.clear(); tagged.clear(); stages.clear(); counters.clear(); planMs = 0L
    }
    def jobCount: Int = synchronized(jobs.size)
    def sample(wall: Double, build: Double): Sample =
      synchronized(Sample(wall, build, planMs / 1e3, jobs.values.toSeq, stages.toSeq,
        counters.values.toSeq.groupMapReduce(_._1)(_._2)(_ + _)))
  }

  object Recorder {
    val Phase = "graft.bench.phase"

    /** Runs `body` with its jobs tagged as phase `p`. */
    def phase[T](sc: SparkContext, p: String)(body: => T): T = {
      sc.setLocalProperty(Phase, p)
      try body finally sc.setLocalProperty(Phase, null)
    }

    def attach(spark: SparkSession): Recorder = {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      r
    }

    def detach(spark: SparkSession, r: Recorder): Unit = {
      spark.sparkContext.removeSparkListener(r)
      spark.listenerManager.unregister(r)
    }

    /** The number of jobs `body` launches on this thread. */
    def jobs(spark: SparkSession)(body: => Any): Int = {
      GraftGlue.drainListenerBus(spark)
      val r = attach(spark)
      try {
        phase(spark.sparkContext, "build")(body)
        GraftGlue.drainListenerBus(spark)
        r.jobCount
      } finally detach(spark, r)
    }
  }

  /** Codegen compiles so far: their count and the compile-ms samples
    * the histogram's reservoir holds (every sample up to its 1028). */
  private def compiles(): (Long, Seq[Long]) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.toSeq)
  }

  /** One cold sample of `op`: build its frame, then write it to the noop
    * sink. The caller resets the session afterwards. */
  private def sample(spark: SparkSession, sfDir: String, op: Op, rec: Recorder): Sample = {
    val sc = spark.sparkContext
    rec.clear()
    val t0 = System.nanoTime()
    try {
      val df = Recorder.phase(sc, "build")(op.build(spark, sfDir))
      val t1 = System.nanoTime()
      Recorder.phase(sc, "exec")(df.write.format("noop").mode("overwrite").save())
      val t2 = System.nanoTime()
      GraftGlue.drainListenerBus(spark)
      rec.sample((t2 - t0) / 1e9, (t1 - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ${op.name} failed: $e")
      Sample(-1.0, 0.0, 0.0, Nil, Nil)
    }
  }

  /** `runs` cold samples of `op`. Every sample pays its own state builds
    * and does not depend on query order. */
  private[graft] def measure(spark: SparkSession, sfDir: String, op: Op, runs: Int,
      rec: Recorder): Measured = {
    def cold(): Sample = try sample(spark, sfDir, op, rec) finally GraftSession.reset(spark)
    val builds0 = graft.api.Memo.builds
    val c0 = compiles()
    val first = cold()
    val c1 = compiles()
    val samples = first +: (2 to runs).map(_ => cold())
    Measured(op.name, samples, c1._1 - c0._1, c1._2.diff(c0._2).sum,
      graft.api.Memo.builds > builds0)
  }

  /** Stages of one sample that ran as a single task for 1 s or more. */
  private[graft] def serialStages(stages: Seq[Stage]): Seq[Stage] =
    stages.filter(s => s.tasks == 1 && s.wallMs >= 1000)

  /** Shuffle-writing stages of one sample whose name, bytes and records
    * repeat: the same exchange computed more than once. */
  private[graft] def repeatedStages(stages: Seq[Stage]): Seq[Stage] =
    stages.filter(_.shufW > 0).groupBy(s => (s.name, s.shufW, s.shufWRecords))
      .values.filter(_.size > 1).map(_.head).toSeq.sortBy(_.id)

  /** Idle ms between consecutive jobs. */
  private def gaps(jobs: Seq[Job]): Seq[Long] = jobs.sliding(2).collect {
    case Seq(j1, j2) if j1.end > 0 && j2.start > j1.end => j2.start - j1.end
  }.toSeq

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  /** The record's per-query object. */
  private def entry(m: Measured, extra: Map[String, Double]): SeqMap[String, Any] = {
    val walls = m.samples.map(_.wall).sorted
    val n = walls.size
    val layers = m.samples.filter(_.wall >= 0).minByOption(_.wall).fold(SeqMap.empty[String, Any]) {
      s => SeqMap(
        "build_s" -> r3(s.build), "plan_s" -> r3(s.plan), "exec_s" -> r3(s.wall - s.build - s.plan),
        "build_jobs" -> s.jobs.count(_.phase == "build"), "jobs" -> s.jobs.size,
        "stages" -> s.stages.size, "tasks" -> s.stages.map(_.tasks).sum,
        "shuffle_read_bytes" -> s.stages.map(_.shufR).sum,
        "shuffle_write_bytes" -> s.stages.map(_.shufW).sum,
        "spill_bytes" -> s.stages.map(_.spill).sum, "cpu_ms" -> s.stages.map(_.cpuMs).sum,
        "gc_ms" -> s.stages.map(_.gcMs).sum, "gap_ms" -> gaps(s.jobs).sum,
        "serial_stages" -> serialStages(s.stages).map(_.name),
        "repeated_stages" -> repeatedStages(s.stages).map(_.name),
        "counters" -> SeqMap.from(s.counters.toSeq.sorted))
    }
    SeqMap("suite" -> r3(m.suite), "median" -> r3((walls((n - 1) / 2) + walls(n / 2)) / 2),
      "max" -> r3(walls.last), "samples" -> m.samples.map(s => r3(s.wall))) ++ layers ++
      SeqMap("classes" -> m.classes, "compile_ms" -> m.compileMs) ++ extra.map { case (k, v) => k -> r3(v) }
  }

  /** The record: the suite total, the run header and one object per
    * query, by name. */
  private[graft] def record(run: SeqMap[String, Any], qs: Seq[Measured],
      extras: Map[String, Map[String, Double]] = Map.empty): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(SeqMap(
      "metric" -> "total", "value" -> r3(qs.map(_.suite).filter(_ >= 0).sum), "unit" -> "sec",
      "run" -> run,
      "queries" -> SeqMap.from(qs.sortBy(_.name).map(m =>
        m.name -> entry(m, extras.getOrElse(m.name, Map.empty))))))

  /** Newest committed builder full map in cwd (highest round number;
    * `_final` variants of the same round sort after the base name), or
    * None when the repo has no full maps yet. Spec-pinned in
    * BenchPrevSpec. */
  private[graft] def discoverPrev(
      dir: java.nio.file.Path = java.nio.file.Paths.get(".")): Option[String] = {
    val re = """BENCH_builder_r(\d+)_full\w*\.json""".r
    val listed =
      try {
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.map(_.getFileName.toString).toVector
        finally s.close()
      } catch { case _: java.io.IOException => Vector.empty }
    listed.flatMap { f =>
      re.findFirstMatchIn(f).filter(_.matched == f)
        .map(m => (m.group(1).toInt, f))
    }.sorted.lastOption.map { case (_, f) => dir.resolve(f).toString }
  }

  /** A previous bench artifact as name → suite seconds. It reads a
    * record, an older map of plain numbers (compact or pretty-printed),
    * and the round wrappers (`history/BENCH_rNN.json`), whose stdout
    * tail holds the JSON line as an escaped string; a tail whose line is
    * cut parses to empty.
    * Spec-pinned in BenchPrevSpec. */
  private[graft] def parsePrev(raw: String): Map[String, Double] = {
    def parse(s: String) = scala.util.Try(mapper.readTree(s)).toOption.filter(_ != null)
    val doc = parse(raw)
    val line = doc.flatMap(d => Option(d.get("tail"))).flatMap(_.asText.linesIterator
      .map(l => l.substring(l.indexOf('{') max 0)).flatMap(parse).find(_.has("queries")))
    line.orElse(doc).flatMap(d => Option(d.get("queries"))).toSeq
      .flatMap(_.properties.asScala).flatMap { e =>
        val v = if (e.getValue.isObject) e.getValue.get("suite") else e.getValue
        Option(v).filter(_.isNumber).map(e.getKey -> _.asDouble)
      }.toMap
  }

  /** `--stages`: the sample's ten costliest stages, its job gaps and the
    * operator metrics of the last SQL execution. */
  private def printStages(spark: SparkSession, name: String, s: Sample): Unit = {
    println(s"$name")
    println(f"  ${"stageId"}%7s ${"ms"}%7s ${"cpuMs"}%8s ${"tasks"}%5s ${"shufR_MB"}%9s ${"shufW_MB"}%9s  name")
    s.stages.sortBy(-_.wallMs).take(10).foreach { t =>
      println(f"  ${t.id}%7d ${t.wallMs}%7d ${t.cpuMs}%8d ${t.tasks}%5d ${t.shufR / 1e6}%9.1f ${t.shufW / 1e6}%9.1f  ${t.name.take(90)}")
    }
    val g = gaps(s.jobs)
    println(s"  interJobGapMs total=${g.sum} max=${g.maxOption.getOrElse(0L)}")
    val store = spark.sharedState.statusStore
    store.executionsList().lastOption.foreach { ex =>
      val vals = store.executionMetrics(ex.executionId)
      println(s"  -- SQL execution ${ex.executionId} operators:")
      store.planGraph(ex.executionId).allNodes.foreach { n =>
        val ms = n.metrics.flatMap(m => vals.get(m.accumulatorId)
          .map(v => s"${m.name}=${v.replace("\n", " ")}"))
        if (ms.nonEmpty) println(s"     [${n.id}] ${n.name}: ${ms.mkString(", ")}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    // tools/close_round.sh derives the timed-query set from this
    if (args.headOption.contains("--list-skip")) {
      SparkEntry.ops.filter(_.untimed.isDefined).map(_.name).sorted.foreach(println)
      return
    }
    val stages = args.contains("--stages")
    val byName = SparkEntry.ops.map(o => o.name -> o).toMap
    // by name, as a full run orders them, so a subset times each query
    // after the same predecessors' JIT warm-up as the full suite does
    val ops = args.filterNot(_ == "--stages").headOption
      .fold(SparkEntry.timed)(_.split(",").map(n => byName(n.trim)).toSeq.sortBy(_.name))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // min of 3 cold samples: single samples on a shared box swing ±50%
    // with load, and whole-suite passes drifted ±20%; the third sample
    // reliably catches the steady state the first two sometimes miss
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession()
    val rec = Recorder.attach(spark)
    GraftSession.warm(spark, sfDir)
    val suite = ops.map { op =>
      val m = measure(spark, sfDir, op, runs, rec)
      // progress to stderr so a long (sf1-scale) run is monitorable
      System.err.println(f"[bench] ${m.name}%s ${m.suite}%.2f s")
      if (stages) m.samples.filter(_.wall >= 0).minByOption(_.wall)
        .foreach(printStages(spark, m.name, _))
      m
    }
    // SPARK_GRAFT_BENCH_PROTOCOL=full adds two fields to a query's object:
    //  - isolated: min of 5 more cold samples, for each query whose suite
    //    number moved more than 1.5x against the previous full map;
    //  - warm: for each query whose cold samples built memoized state,
    //    one sample that consumes an already-built state (the cluster
    //    pattern: the caller persists Lloyd/Louvain/PQ/Harmony state and
    //    fans out). Cold stays the suite number.
    val extras: Map[String, Map[String, Double]] =
      if (!sys.env.get("SPARK_GRAFT_BENCH_PROTOCOL").contains("full")) Map.empty
      else {
        // PREV is SPARK_GRAFT_BENCH_PREV, else the newest committed full
        // map in cwd, so drift isolation never depends on an env var
        // being wired
        val prevPath: Option[String] =
          sys.env.get("SPARK_GRAFT_BENCH_PREV").orElse(discoverPrev())
        val prevMap: Map[String, Double] =
          prevPath.map { p =>
            parsePrev(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
          }.getOrElse(Map.empty)
        prevPath.foreach(p => System.err.println(s"[bench] PREV $p: ${prevMap.size} queries"))
        // an explicit PREV that parses to zero queries would silently
        // empty the drift set: fail instead of committing such a map
        sys.env.get("SPARK_GRAFT_BENCH_PREV").foreach(p => require(prevMap.nonEmpty,
          s"SPARK_GRAFT_BENCH_PREV set ($p) but zero queries parsed — fix the PREV parser or unset PREV"))
        def once(op: Op): Double = sample(spark, sfDir, op, rec).wall
        def cold(op: Op): Double = { GraftSession.reset(spark); once(op) }
        val iso = ops.zip(suite).collect { case (op, m)
          if m.suite > 0 && prevMap.get(op.name).exists(p =>
            p > 0 && (m.suite / p > 1.5 || p / m.suite > 1.5)) =>
          op.name -> Map("isolated" -> (1 to 5).map(_ => cold(op)).min)
        }
        val warm = ops.zip(suite).collect { case (op, m) if m.builtMemo =>
          cold(op) // untimed state build; the next sample rides the memo
          op.name -> Map("warm" -> once(op))
        }
        GraftSession.reset(spark)
        (iso ++ warm).groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).reduce(_ ++ _) }
      }
    val run = SeqMap("git_sha" -> scala.util.Try(scala.sys.process.Process(
        Seq("git", "rev-parse", "HEAD")).!!.trim).getOrElse("unknown"),
      "cores" -> spark.sparkContext.defaultParallelism,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "sf" -> sfDir, "runs" -> runs,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}")
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL_OUT", "BENCH_full_latest.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(fullOut), record(run, suite, extras))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write the record to $fullOut: $e") }
    println(mapper.writeValueAsString(SeqMap("metric" -> "total",
      "value" -> r3(suite.map(_.suite).filter(_ >= 0).sum), "unit" -> "sec",
      "timed" -> suite.size, "failed" -> suite.count(_.suite < 0), "sf" -> sfDir,
      "record" -> fullOut)))
    System.err.println(Op.windowNote("bench", ops))
    spark.stop()
  }
}
