package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink layer: format round-trips keep data intact, and the
  * bucketed layout delivers its contract — an exchange-free join. */
class IOSpec extends SparkSpecBase {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-io-$name").toString

  test("a table rewritten with another schema reads with its new schema") {
    import spark.implicits._
    val dir = tmp("schema")
    Seq((1L, "a")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    Seq((2L, 0.5, "b")).toDF("doc_id", "score", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val again = Tables.documents(spark, dir)
    assert(again.columns.toSeq == Seq("doc_id", "score", "text"))
    assert(again.collect().toSeq == Seq(org.apache.spark.sql.Row(2L, 0.5, "b")))
  }

  test("csv round-trip preserves rows and schema (explicit schema, no inference)") {
    val orig = Tables.nation(spark, sf)
    val dir = tmp("csv")
    sources.IO.writeCsv(orig, dir)
    val back = sources.IO.readCsv(spark, dir, orig.schema)
    assert(back.schema == orig.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      orig.orderBy("n_nationkey").collect().toSeq)
  }

  test("upsert keeps the highest-version row per key and inserts new keys") {
    import spark.implicits._
    val current = Seq((1L, 1L, "a"), (2L, 5L, "b")).toDF("k", "v", "payload")
    val updates = Seq((1L, 3L, "a2"), (2L, 4L, "stale"), (3L, 1L, "new"))
      .toDF("k", "v", "payload")
    val merged = sources.IO.upsert(current, updates, "k", "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(merged === Map(
      1L -> ((3L, "a2")),   // updated: 3 > 1
      2L -> ((5L, "b")),    // stale update ignored: 4 < 5
      3L -> ((1L, "new")))) // insert
    // idempotent: re-applying the same updates changes nothing
    val again = sources.IO.upsert(sources.IO.upsert(current, updates, "k", "v"),
      updates, "k", "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(again === merged)
  }

  test("streaming upsertSink maintains SCD-1 state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    var state = Seq((1L, 1L, "orig")).toDF("k", "v", "payload")
    val q = sources.IO.upsertSink(ms.toDF().toDF("k", "v", "payload"), "k", "v") {
      merged => state = merged.collect().toSeq // persist = materialize
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toDF("k", "v", "payload")
    } { () => state }
      .outputMode("update").start()
    try {
      ms.addData((1L, 2L, "upd"), (2L, 1L, "ins"))
      q.processAllAvailable()
      ms.addData((1L, 1L, "stale"), (2L, 3L, "upd2"))
      q.processAllAvailable()
      val out = state.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(out === Map(1L -> ((2L, "upd")), 2L -> ((3L, "upd2"))))
    } finally q.stop()
  }

  test("json-lines round-trip preserves rows") {
    val orig = Tables.region(spark, sf)
    val dir = tmp("json")
    sources.IO.writeJsonLines(orig, dir)
    val back = sources.IO.readJsonLines(spark, dir, orig.schema)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      orig.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc round-trip preserves rows") {
    val orig = Tables.supplier(spark, sf)
    val dir = tmp("orc")
    sources.IO.writeOrc(orig, dir)
    val back = sources.IO.readOrc(spark, dir)
    assert(back.orderBy("s_suppkey").collect().toSeq ==
      orig.orderBy("s_suppkey").collect().toSeq)
  }

  test("partitioned write prunes partitions on the key predicate") {
    val dir = tmp("part")
    sources.IO.writePartitioned(Tables.customer(spark, sf), dir, "c_mktsegment")
    val seg = sources.IO.readParquet(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    // physical scan must carry the partition filter (directory pruning)
    val physical = seg.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") &&
      physical.contains("c_mktsegment"), physical.take(2000))
    val expected = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING").count()
    assert(seg.count() == expected)
  }

  test("text and binaryFile sources read raw corpus payloads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_io_raw").toFile
    try {
      java.nio.file.Files.writeString(new java.io.File(dir, "a.txt").toPath,
        "line one\nline two\n")
      java.nio.file.Files.write(new java.io.File(dir, "img.bin").toPath,
        Array[Byte](1, 2, 3, 4, 5))
      val lines = sources.IO.readText(spark, new java.io.File(dir, "a.txt").getPath)
      assert(lines.collect().map(_.getString(0)).toSet == Set("line one", "line two"))
      val bins = sources.IO.readBinaryFiles(spark, dir.getPath, glob = "*.bin")
      val row = bins.collect()(0)
      assert(row.getAs[Long]("length") == 5L)
      assert(row.getAs[Array[Byte]]("content").toSeq == Seq[Byte](1, 2, 3, 4, 5))
      assert(bins.count() == 1, "glob must exclude the .txt file")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("range-sorted write produces disjoint per-file key ranges (data skipping)") {
    val dir = tmp("rangesorted")
    sources.IO.writeRangeSorted(
      Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity")),
      dir, files = 4, "l_orderkey")
    val files = spark.read.parquet(dir).inputFiles
    assert(files.length == 4, s"expected 4 range files, got ${files.length}")
    // the layout contract: per-file (min, max) key ranges must not
    // overlap — that is exactly what lets parquet min/max stats skip
    // whole files for a range predicate
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("l_orderkey")), max(col("l_orderkey"))).collect().head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi <= lo, s"file ranges overlap: ${ranges.toSeq}")
      case _ =>
    }
    // and within a file, rows are sorted (row-group stats monotone)
    val firstFile = spark.read.parquet(files.min).select("l_orderkey")
      .collect().map(_.getLong(0))
    assert(firstFile.sameElements(firstFile.sorted), "rows not sorted within file")
  }

  test("compact rewrites a many-file dataset into the sized file count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_io_compact").toFile
    val in = new java.io.File(dir, "in").getPath
    val out = new java.io.File(dir, "out").getPath
    try {
      Tables.orders(spark, sf).repartition(16).write.parquet(in)
      assert(spark.read.parquet(in).inputFiles.length == 16)
      sources.IO.compact(spark, in, out, targetFileMB = 512)
      // well under 512 MB total -> exactly one output file, same rows
      assert(spark.read.parquet(out).inputFiles.length == 1)
      assert(spark.read.parquet(out).count() == spark.read.parquet(in).count())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("equi-join of two tables bucketed on the key plans no shuffle") {
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories survive — clear both or the write errors
    // with LOCATION_ALREADY_EXISTS on re-runs
    Seq("b_orders", "b_lineagg").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"))
    sources.IO.writeBucketed(o, "b_orders", "o_orderkey", 4)
    sources.IO.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineagg", "o_orderkey", 4)
    val joined = sources.IO.readTable(spark, "b_orders")
      .join(sources.IO.readTable(spark, "b_lineagg"), "o_orderkey")
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("ShuffleExchange") && !physical.contains("Exchange hashpartitioning"),
      s"bucketed join should be exchange-free:\n${physical.take(3000)}")
    assert(joined.count() == o.join(l, o("o_orderkey") === l("l_orderkey")).count())
  }
}
