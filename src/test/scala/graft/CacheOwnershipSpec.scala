package graft

/** Every cached frame has one owner: a plan function that calls
  * `persist()` unpersists that frame before it returns. Building each
  * registered plan is enough to check it, since `persist()` registers
  * with the CacheManager at the call, and once only the lazy result can
  * reach the frame, no caller can release it. */
class CacheOwnershipSpec extends SparkSpecBase {

  private lazy val clean = {
    spark.catalog.clearCache() // suites share one session
    true
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted)
    test(s"$name leaves the CacheManager as it found it") {
      assert(clean)
      val (_, left) = Bench.leftCached(spark)(SparkEntry.queries(name)(spark, sf0001))
      if (left.nonEmpty) {
        spark.catalog.clearCache() // later queries start clean
        fail(s"$name left ${left.size} cached plan(s): " +
          left.map(_.treeString.linesIterator.next().take(160)).mkString("; "))
      }
    }
}
