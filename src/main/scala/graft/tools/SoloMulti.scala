package graft.tools
object SoloMulti {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    val names = args.drop(2)
    val spark = graft.GraftSession.local()
    // same timed action as Bench (noop sink; SPARK_GRAFT_BENCH_ACTION=count
    // for the old methodology) so solo pairs stay bench-comparable
    val countAction = sys.env.get("SPARK_GRAFT_BENCH_ACTION").contains("count")
    names.foreach { name =>
      val fn = graft.SparkEntry.benchQueries(name)
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        if (countAction) df.count()
        else df.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        t
      }
      println(f"[solo] $name min=${ts.min}%.2f runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
