package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.{Bench, GraftSession, SparkEntry}
import graft.operators.Materialize

/** The one probe over the benched queries, on a `GraftSession.local()`
  * session (`SPARK_GRAFT_CPUS` sets the core count). Two modes:
  *
  *   - `time <sfDir> <runs> <query|all> [query ...]` times each query
  *     `runs` times in a row through [[graft.Bench.timeOnce]], the bench's
  *     own timed action, and prints each run's seconds (negative when the
  *     run failed), its count of fresh codegen compilations and the Spark
  *     jobs it started (frame build included). `all`
  *     stands for every benched query. A warm run that still compiles
  *     lost its generated classes from the codegen cache to the queries
  *     before it, so `all` followed by suspect queries shows whether a
  *     full pass evicts them.
  *   - `plan <outDir> <suffix> <query> [query ...]` writes each query's
  *     `explain("formatted")` to `<outDir>/<query>_<suffix>.txt` (the
  *     `plans/` before/after evidence) over the tables at
  *     `SPARK_GRAFT_SF_DIR`, which it requires; sf0.01 is enough, since
  *     this is plan shape, not timing. Each frame is built under
  *     [[graft.operators.Materialize.planOnly]], so the dump shows the
  *     whole plan and no checkpoint job runs; the loops that checkpoint
  *     once per round (`PlanAudit.iterative`) still run theirs.
  *
  * Usage: runMain graft.tools.Probe time <sfDir> <runs> <query|all> [query ...]
  *        SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.tools.Probe plan <outDir> <suffix> <query> [query ...]
  */
object Probe {
  private val usage =
    "usage: Probe time <sfDir> <runs> <query|all> [query ...]\n" +
      "       SPARK_GRAFT_SF_DIR=<sfDir> Probe plan <outDir> <suffix> <query> [query ...]"

  def main(args: Array[String]): Unit = {
    val queries = SparkEntry.benchQueries
    def resolve(given: Seq[String]): Seq[Query] = {
      val names = given.flatMap(n => if (n == "all") queries.keys.toSeq else Seq(n))
      val unknown = names.filterNot(queries.contains).distinct
      if (unknown.nonEmpty) {
        System.err.println(s"[probe] unknown queries: ${unknown.mkString(", ")}")
        sys.exit(2)
      }
      names.map(n => n -> queries(n))
    }
    val run: SparkSession => Unit = args.toList match {
      case "time" :: sfDir :: runs :: qs if qs.nonEmpty && runs.toIntOption.exists(_ > 0) =>
        val fns = resolve(qs)
        time(_, sfDir, runs.toInt, fns)
      case "plan" :: outDir :: suffix :: qs if qs.nonEmpty && sys.env.contains("SPARK_GRAFT_SF_DIR") =>
        val fns = resolve(qs)
        plan(_, sys.env("SPARK_GRAFT_SF_DIR"), Paths.get(outDir), suffix, fns)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = GraftSession.local()
    try run(spark) finally spark.stop()
  }

  private type Query = (String, (SparkSession, String) => DataFrame)

  private def time(spark: SparkSession, sfDir: String, runs: Int, queries: Seq[Query]): Unit = {
    val jobs = new JobCounter(spark.sparkContext)
    queries.foreach { case (name, fn) =>
      (1 to runs).foreach { i =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t = Bench.timeOnce(spark, sfDir, name, fn)
        val fresh = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        println(f"[probe] $name run $i $t%.2f s, fresh compilations=$fresh, jobs=${jobs.take()}")
      }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: Path, suffix: String,
      queries: Seq[Query]): Unit = {
    Files.createDirectories(outDir)
    queries.foreach { case (name, fn) =>
      val text = Materialize.planOnly(fn(spark, sfDir)).queryExecution.explainString(FormattedMode)
      spark.catalog.clearCache()
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), text)
      println(s"[probe] $name -> ${name}_$suffix.txt (Exchange~${"Exchange".r.findAllIn(text).size})")
    }
  }
}

/** Counts the Spark jobs a context starts. [[take]] returns the count
  * since the last call: it runs one marker job, outside any timed run,
  * and waits for the listener to see it, so every earlier job has been
  * counted (the listener bus delivers in order).
  */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val marker = "graft.jobcounter.marker"
  private val id = System.identityHashCode(this).toString
  private val started = new AtomicLong
  private val marks = new LinkedBlockingQueue[String]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(marker))) match {
      case Some(m) => if (m == id) marks.put(m)
      case None => started.incrementAndGet()
    }

  def take(): Long = {
    sc.setLocalProperty(marker, id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(marker, null)
    require(marks.poll(30, TimeUnit.SECONDS) != null, "listener bus did not catch up")
    started.getAndSet(0)
  }

  def close(): Unit = sc.removeSparkListener(this)
}
