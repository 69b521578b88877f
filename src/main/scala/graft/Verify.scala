package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // "--list": print every registry query name (one per line) and exit —
    // tools/close_round.sh diffs this against SURVEY §2's backticked
    // names so an unregistered-in-SURVEY query can't close a round.
    if (args.headOption.contains("--list")) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val (sfDir, outDir) = (args(0), args(1))
    // local iteration aids (driver always passes exactly 2 args):
    //   "--only a,b,c"  dumps just those queries
    //   "--shard k/n"   dumps queries with sortedIndex % n == k, writing
    //                   oracle_sql.shard-k.json / manifest.shard-k.json
    //                   so n JVMs can sweep the registry in parallel into
    //                   ONE outDir (tools/run_gate.sh; compare.py merges
    //                   the shard files) — the r6 verdict's gate-budget fix
    val (only: Option[Set[String]], shardTag: String) = args.drop(2) match {
      case Array("--only", names) => (Some(names.split(",").map(_.trim).toSet), "")
      case Array("--shard", spec) =>
        val Array(k, n) = spec.split("/").map(_.trim.toInt)
        val mine = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
          .collect { case (q, i) if i % n == k => q }.toSet
        (Some(mine), s".shard-$k")
      case _ => (None, "")
    }
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // queries run on a small thread pool: Spark schedules concurrent
    // jobs from one session safely, each query writes its own dir, and
    // the wall-clock is dominated by per-query fixed overhead (~4 s/query
    // sequential at the gate SF → the driver's 18-minute sweep; 4-way
    // concurrency amortizes it ~4×). Cache clearing moves AFTER the
    // pool drains — a mid-flight global clear would only force another
    // thread's persisted intermediate to recompute (correctness-neutral
    // but wasteful).
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val todo = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }.toSeq
    todo.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: $e")
            Option(e.getCause).foreach(c => System.err.println(s"[verify]   cause: $c"))
          }
      })
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    spark.catalog.clearCache() // drop per-query persists (LSH sigs etc.)
    val json = SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql$shardTag.json"),
      Bench.mapper.writeValueAsString(json))
    // manifest of every registered query: a query that CRASHED (no
    // output dir) must fail the gate loudly, not vanish from it
    Files.writeString(Paths.get(s"$outDir/manifest$shardTag.json"),
      Bench.mapper.writeValueAsString(todo.map(_._1).sorted))
    System.err.println(Op.windowNote("verify",
      SparkEntry.ops.filter(o => only.forall(_.contains(o.name)))))
    spark.stop()
  }
}
