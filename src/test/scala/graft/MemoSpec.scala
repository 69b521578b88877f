package graft

/** Memo.builds, the count Bench's warm pass uses to find the queries
  * that build memoized state. */
class MemoSpec extends SparkSpecBase {

  private def run(q: String): Long = {
    SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    api.Memo.builds
  }

  test("a cold kmeans_clusters builds memo state, a warm one and mahalanobis_outliers do not") {
    api.Memo.reset()
    val before = api.Memo.builds
    val cold = run("kmeans_clusters")
    assert(cold > before, "a cold kmeans_clusters must build its Lloyd state")
    assert(run("kmeans_clusters") == cold, "a second run must ride the memo")
    api.Memo.reset()
    assert(run("mahalanobis_outliers") == cold, "mahalanobis_outliers reads no memo state")
  }
}
