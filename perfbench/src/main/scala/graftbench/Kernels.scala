package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}

/** Rows per second of each native kernel GraftExtensions registers.
  * Inputs are built from the generated documents and embeddings; each
  * kernel is bound to them and evaluated in a loop on one thread (a
  * generated projection for the scalar kernels, update() into one
  * buffer for the two aggregates), so no Spark job overhead is timed.
  * Median of three timings, each at least 0.1 s, after one untimed
  * loop. */
object Kernels {
  private val rows = 1000

  private val kernels: Seq[(String, String)] = Seq(
    "minhash_sig" -> "minhash_sig(sh)",
    "simhash64" -> "simhash64(toks)",
    "dot_product" -> "dot_product(v, v2)",
    "char_shingles" -> "char_shingles(text, 5)",
    "jaccard_sim" -> "jaccard_sim(sh, sh2)",
    "repetition_stats" -> "repetition_stats(toks)",
    "char_shingle_hashes" -> "char_shingle_hashes(text)",
    "minhash_sig_text" -> "minhash_sig_text(text)",
    "long_match_frac" -> "long_match_frac(sig, sig2)",
    "hyperplane_bucket" -> "hyperplane_bucket(v)",
    "bounded_levenshtein" -> "bounded_levenshtein(substr(text, 1, 96), substr(text2, 1, 96), 8)",
    "topk_by" -> "topk_by(v[0] + id * 1e-9, id, 10)",
    "approx_heavy_hitters" -> "approx_heavy_hitters(toks[id % 8], 16)",
    "deflate_ratio" -> "deflate_ratio(text)",
    "splitmix_comp" -> "splitmix_comp(id)",
    "char_ngram_counts" -> "char_ngram_counts(text)")

  def rowsPerSecond(spark: SparkSession, data: String): Map[String, Double] = {
    graft.GraftExtensions.installInto(spark)
    val docs = graft.Tables.documents(spark, data)
    val reps = math.max(1L, (rows + docs.count() - 1) / docs.count())
    docs.selectExpr(s"explode(sequence(1, $reps)) AS rep", "doc_id", "text")
      .join(graft.Tables.embeddings(spark, data)
        .selectExpr("vec_id AS doc_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"),
        Seq("doc_id"), "left")
      .selectExpr("CAST(doc_id * 1000 + rep AS BIGINT) AS id", "text",
        "concat_ws(' ', slice(split(text, ' '), 2, 100000)) AS text2",
        "coalesce(v, array_repeat(CAST(rep AS DOUBLE), 64)) AS v")
      .selectExpr("*", "reverse(v) AS v2", "split(text, ' ') AS toks",
        "char_shingles(text, 5) AS sh", "char_shingles(text2, 5) AS sh2",
        "minhash_sig_text(text) AS sig", "minhash_sig_text(text2) AS sig2")
      .orderBy("id").limit(rows)
      .createOrReplaceTempView("k")
    val input = spark.table("k").queryExecution.toRdd.map(_.copy()).collect()
    kernels.map { case (name, e) =>
      s"functions.$name.rows_per_s" -> input.length / secondsPerLoop(evaluator(spark, e), input)
    }.toMap
  }

  /** One pass of the kernel over a row array laid out as table `k`. */
  private def evaluator(spark: SparkSession, e: String): Array[InternalRow] => Unit = {
    val (named, input) = spark.table("k").selectExpr(e).queryExecution.analyzed match {
      case Project(Seq(n), child) => (n, child.output)
      case Aggregate(Nil, Seq(n), child, _) => (n, child.output)
      case p => throw new IllegalStateException(s"unexpected plan for $e: $p")
    }
    named.asInstanceOf[Alias].child match {
      case AggregateExpression(f: TypedImperativeAggregate[_], _, _, _, _) =>
        val agg = BindReferences.bindReference(f, input)
          .asInstanceOf[TypedImperativeAggregate[Any]]
        rs => {
          var buf = agg.createAggregationBuffer()
          rs.foreach(r => buf = agg.update(buf, r))
          agg.eval(buf)
        }
      case expr =>
        val proj = UnsafeProjection.create(Seq(BindReferences.bindReference(expr, input)))
        rs => rs.foreach(r => proj(r))
    }
  }

  private def secondsPerLoop(run: Array[InternalRow] => Unit, rs: Array[InternalRow]): Double = {
    run(rs)
    val samples = (1 to 3).map { _ =>
      var loops = 0
      val t0 = System.nanoTime()
      while (loops == 0 || System.nanoTime() - t0 < 100000000L) { run(rs); loops += 1 }
      (System.nanoTime() - t0) / 1e9 / loops
    }
    samples.sorted.apply(1)
  }
}
