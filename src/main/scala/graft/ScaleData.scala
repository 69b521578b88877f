package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the empirical scaling runs
  * (r7 verdict item 1): replicates a driver-generated SF directory
  * `factor`× with consistent key-space shifts, so referential
  * integrity holds per copy and every key space grows `factor`×.
  *
  *   runMain graft.ScaleData <srcDir> <dstDir> <factor>
  *
  * Shift contract (copy i of a row adds i × (base max key + 1)):
  *  - customer/supplier/part/orders keys shift independently; orders
  *    carry their copy's customers, lineitem its copy's
  *    orders/parts/suppliers — FK-consistent within each copy.
  *  - region/nation are fixed dimensions (TPC-H semantics) — copied
  *    through unshifted, so dim-bounded aggregations stay dim-bounded
  *    at any factor, exactly like production.
  *  - events shift (event_id, user_id); timestamps are NOT shifted:
  *    factor× the data means factor× the events per hour (denser
  *    traffic), not a longer history — time-bucketed aggregates keep
  *    their group counts and grow per-group mass, the scale shape a
  *    busier production system has.
  *  - documents/embeddings share ONE shift (vec_id ⊆ doc_id in the
  *    base data — embeddings embed a doc subset; the alignment must
  *    survive scaling). Texts repeat verbatim (a heavy-dup corpus —
  *    dedup paths get real work); embeddings get a deterministic
  *    per-copy hash perturbation so vector clones are near- rather
  *    than exact-duplicates.
  *
  * This is builder tooling for perf measurement only — correctness
  * gates always run against the driver's own testdata.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession()

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def shiftBase(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    val sCust = shiftBase(read("customer"), "c_custkey")
    val sSupp = shiftBase(read("supplier"), "s_suppkey")
    val sPart = shiftBase(read("part"), "p_partkey")
    val sOrd = shiftBase(read("orders"), "o_orderkey")
    val sEid = shiftBase(read("events"), "event_id")
    val sUser = shiftBase(read("events"), "user_id")
    val sDoc = shiftBase(read("documents"), "doc_id") // shared with vec_id

    /** factor copies with per-copy key shifts; column order preserved. */
    def scaled(df: DataFrame, shifts: Map[String, Long]): DataFrame = {
      val rep = df.withColumn("__c", explode(sequence(lit(0L), lit(factor - 1L))))
      rep.select(df.columns.map { cn =>
        shifts.get(cn) match {
          case Some(s) => (col(cn) + col("__c") * lit(s)).as(cn)
          case None => col(cn)
        }
      }.toIndexedSeq: _*)
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaledata] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(scaled(read("customer"), Map("c_custkey" -> sCust)), "customer")
    write(scaled(read("supplier"), Map("s_suppkey" -> sSupp)), "supplier")
    write(scaled(read("part"), Map("p_partkey" -> sPart)), "part")
    write(scaled(read("orders"), Map("o_orderkey" -> sOrd, "o_custkey" -> sCust)), "orders")
    write(scaled(read("lineitem"),
      Map("l_orderkey" -> sOrd, "l_partkey" -> sPart, "l_suppkey" -> sSupp)), "lineitem")
    write(scaled(read("events"), Map("event_id" -> sEid, "user_id" -> sUser)), "events")
    write(scaled(read("documents"), Map("doc_id" -> sDoc)), "documents")
    // embeddings: shift vec_id by the DOC shift, then nudge each copy's
    // vector by a deterministic per-(id, dim) hash offset (≤ 6e-4) so
    // scaled copies are near-duplicates, not exact clones — the
    // geometry a replicated-with-noise corpus actually has
    write(scaled(read("embeddings"), Map("vec_id" -> sDoc))
      .withColumn("embedding", expr(
        "transform(embedding, (x, j) -> CAST(x + " +
          "(CAST(pmod(vec_id * 31 + j * 17, 13) AS DOUBLE) - 6.0) * 0.0001 AS FLOAT))")),
      "embeddings")
    spark.stop()
  }
}
