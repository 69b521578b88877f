package graft

/** Plan-inspection aid: `runMain graft.Explain <queryName> [sfDir]`
  * prints the formatted physical plan of a registered query. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession()
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
