package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt forks one test JVM; the
  * session is reused across suites and torn down with the JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(cpus = 4)
}

trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  /** Smallest SF — specs assert semantics, not throughput. */
  val sf = "/root/testdata/sf0.001"
}
