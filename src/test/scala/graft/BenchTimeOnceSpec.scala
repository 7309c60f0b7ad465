package graft

import org.apache.spark.sql.functions.{col, lit, raise_error}

/** `Bench.timeOnce` is the one timed action of the bench and the probe:
  * it must compute every column, leave no cached frame behind, and clear
  * the memoized artifact of every query its rebuild map names.
  */
class BenchTimeOnceSpec extends SparkSpec {

  test("a frame whose unread column fails marks the run failed: every column is computed") {
    // count() would prune `x` and succeed; the noop write computes it
    val t = Bench.timeOnce(spark, sfDir, "boom",
      (s, _) => s.range(3).select(col("id"), raise_error(lit("boom")).as("x")))
    assert(t < 0, s"timeOnce returned $t for a frame whose column raises")
  }

  test("a frame that persists an intermediate leaves no cached data behind") {
    spark.catalog.clearCache()
    var cachedDuringRun = false
    val t = Bench.timeOnce(spark, sfDir, "persists", { (s, _) =>
      val base = s.range(100).toDF("id").persist()
      base.count()
      cachedDuringRun = !s.sharedState.cacheManager.isEmpty
      base.filter(col("id") % 7 === 0)
    })
    assert(t >= 0, s"timeOnce returned $t for a frame that succeeds")
    assert(cachedDuringRun, "the intermediate was never cached, so the test shows nothing")
    assert(spark.sharedState.cacheManager.isEmpty, "a persisted intermediate outlived timeOnce")
  }

  test("every query the rebuild map names is a benched query") {
    val unknown = Bench.rebuild.keySet -- SparkEntry.benchQueries.keySet
    assert(Bench.rebuild.nonEmpty)
    assert(unknown.isEmpty, s"rebuild names no benched query for $unknown, so its artifact is never cleared")
  }
}
