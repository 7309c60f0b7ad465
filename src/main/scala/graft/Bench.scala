package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Runs are organized as INTERLEAVED FULL PASSES (pass 1 runs every query
  * once, then pass 2, then pass 3) rather than back-to-back repeats of the
  * same query. Min-of-N only suppresses machine-load spikes if the N runs
  * are spread in time: round 5's driver bench was contended for minutes at
  * a stretch, and with consecutive repeats a burst covered all three runs
  * of one query (t9 reported 8.12 s min-of-3 for a query whose clean time
  * is ~0.6 s). With passes, each query's runs land ~a full pass apart, so
  * a burst can poison at most one of them. Pass 1 additionally absorbs the
  * one-off plan/codegen-compile cost (measured in round 1: heavy queries
  * cost the same at sf0.001 and sf0.1 cold), so min-of-N is a warm number.
  *
  * The artifact is self-diagnosing (round-5 VERDICT item 1):
  *   - per-query value = min over SUCCESSFUL runs (a transient crash among
  *     N runs no longer discards the valid timings; the negative marker is
  *     reserved for queries that failed in EVERY run);
  *   - EVERY run's time for EVERY query is written to BENCH_DETAIL.json in
  *     the working directory and to BENCH_DETAIL_c<cores>.json, which a
  *     run at another core count leaves alone, so a contended run carries
  *     its own evidence — a high min with a tight run vector is a
  *     regression, a high min inside a wide vector is load. (Round 9
  *     lesson: variance evidence lives ONLY here — an "hv" section on the stdout line
  *     overflowed the driver's ~2000-char capture window at 162 queries
  *     and made the whole line unparseable.)
  *
  * The single JSON result line goes to stdout unprefixed (build.sbt forces
  * OutputStrategy.StdoutOutput) and, belt-and-braces, to the file named by
  * SPARK_GRAFT_BENCH_OUT if set.
  */
object Bench {

  private[graft] def fmt(v: Double, dec: Int): String = {
    val p = math.pow(10, dec)
    val r = math.round(v * p) / p
    if (dec == 0) math.round(r).toString else r.toString
  }

  /** The one result-line template both renderers fill. */
  private def resultLine(total: Double, nFailed: Int, qs: String, sfName: String): String =
    s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","failed":$nFailed,"queries":$qs,"sf":"$sfName"}"""

  private def total(results: Seq[(String, Double)]): Double = results.map(_._2).filter(_ >= 0).sum

  /** The FULL result line — every query at centisecond precision under
    * its full name, no size budget. Written to SPARK_GRAFT_BENCH_OUT
    * (a file has no capture-window limit), restoring the per-query
    * channel the stdout line loses at 220 queries (r16 verdict item 2:
    * the tiered stdout line degrades to a BENCH_DETAIL.json pointer
    * above ~170 queries, which left the driver with per_query = {}).
    */
  private[graft] def renderFullLine(results: Seq[(String, Double)], nFailed: Int,
      sfName: String): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
      .mkString("{", ",", "}")
    resultLine(total(results), nFailed, qs, sfName)
  }

  /** Render the one stdout JSON line under a HARD size budget (the
    * driver captures only the last ~2000 stdout chars and sbt appends a
    * ~70-char [success] trailer). Tiered degradation — centisecond
    * per-query times, then decisecond, then headline-only with a pointer
    * at BENCH_DETAIL.json — so growth in query count can never make the
    * line unparseable again (BENCH_r02 and BENCH_r09 both broke this
    * way). Pure so the spec pins the invariant at any surface size.
    */
  private[graft] def renderLine(results: Seq[(String, Double)], nFailed: Int,
      sfName: String, budget: Int = 1900): String = {
    def short(n: String): String = n.takeWhile(_ != '_')
    val collides = results.map(_._1).groupBy(short)
      .collect { case (_, v) if v.size > 1 => v }.flatten.toSet
    def key(n: String): String = if (collides(n)) n else short(n)
    def line(qs: String): String = resultLine(total(results), nFailed, qs, sfName)
    def qsAt(dec: Int): String = results
      .map { case (k, v) => "\"" + key(k) + "\":" + fmt(v, dec) }
      .mkString("{", ",", "}")
    Seq(line(qsAt(2)), line(qsAt(1)))
      .find(_.length <= budget)
      .getOrElse(line("\"BENCH_DETAIL.json\""))
  }

  // View-backed queries read a memoized materialized artifact, which
  // would reduce their warm run to a checkpoint scan and hide any
  // regression in the build they stand for. Before EACH timed run,
  // drop exactly the artifact that query is responsible for building:
  // d2's line then measures the minhash+LSH+verify build (warm), d6's
  // the connected-components build over a staged pair graph, and d7
  // stays the pure read-the-staged-clusters line — the production
  // pipeline's three cost classes, each visible.
  private[graft] val rebuild: Map[String, () => Unit] = Map(
    "d2_dedup_minhash_lsh" -> (() => graft.operators.Dedup.clearPairViews()),
    "d6_dedup_clusters" -> (() => graft.operators.Dedup.clearClusterViews()))

  /** Time one run of query `name` in seconds: the one timed action for
    * the bench and every probe. The query's [[rebuild]] artifact is
    * dropped before the clock starts; the frame is built and written to
    * the NOOP SINK, which eagerly computes EVERY column of EVERY row
    * (r16 verdict item 1 / guide §1.4: count() lets Catalyst prune
    * columns and sometimes whole subtrees — q65's old tail elided its
    * entire left-profile pass — so count-stamped floors certified work
    * that never executed; the count-era numbers are kept in
    * OPTIMIZATION_r17.md). A crashing query does NOT report its
    * time-to-fail as a timing: the run is marked negative and logged to
    * stderr. The elapsed time is read before `clearCache()`, which
    * drops the small frames operators persist so later queries aren't
    * taxed by leftover cached blocks.
    */
  def timeOnce(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Double = {
    rebuild.get(name).foreach(_.apply())
    val t0 = System.nanoTime()
    val ok = try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    if (ok) dt else -dt
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = GraftSession.local()
    // benchQueries, not queries: entries whose driver-checkable frame
    // carries an exact gate leg (bounds-oracle, ANN recall floors) bench
    // their production spelling instead — the r10 advice's
    // cross-round-comparability point
    val names = SparkEntry.benchQueries.toSeq
    val passes: Seq[Map[String, Double]] =
      (1 to nRuns).map { _ => names.map { case (n, fn) => n -> timeOnce(spark, sfDir, n, fn) }.toMap }
    val runsByName: Seq[(String, Seq[Double])] =
      names.map { case (n, _) => n -> passes.map(_(n)) }
    // min over successful runs when any exist; all-failed keeps a negative
    // marker so the key is visibly broken in the JSON
    val results: Seq[(String, Double)] = runsByName.map { case (n, ts) =>
      val ok = ts.filter(_ >= 0)
      n -> (if (ok.nonEmpty) ok.min else ts.max)
    }
    // Keep the whole line SHORT: the driver captures only the last ~2000
    // chars of stdout and sbt appends a ~70-char [success] line after the
    // JSON — round 2's full-precision line overflowed that window, and
    // round 9's regressed the same way when the surface grew to 162
    // queries WITH the hv section attached (BENCH_r09 parsed=null: the
    // round's headline number was invisible to the driver). So (a) the
    // stdout line carries NO hv — every run vector already lives in
    // BENCH_DETAIL.json, which has no size limit; (b) the line is built
    // under an explicit HARD BUDGET with tiered degradation, so growth in
    // query count can never silently overflow the window again: full
    // centisecond times first; then decisecond times; then, as the last
    // resort, per-query times move wholesale to BENCH_DETAIL.json and the
    // line keeps only the headline total + failure count (the two fields
    // the driver actually parses).
    // failed queries carry NEGATIVE per-key markers — exclude them from
    // the headline total so a crash can't read as a speedup (subtracting
    // its time-to-fail); the negative key is the visible failure signal.
    // All-runs-failed queries surface TWICE: their negative per-key marker
    // AND a headline "failed" count, so a reader of the one-line JSON (or a
    // cross-round diff of totals) cannot miss that the total excludes them.
    val nFailed = results.count(_._2 < 0)
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val json = renderLine(results, nFailed, sfName)
    // stdout is the primary channel — print BEFORE the file writes, which
    // may fail (bad path) and must not discard the whole run's result
    println(json)
    val detail = runsByName
      .map { case (n, ts) => "\"" + n + "\":[" + ts.map(fmt(_, 2)).mkString(",") + "]" }
      .mkString(s"""{"sf":"$sfName","passes":$nRuns,"runs":{""", ",", "}}")
    // the OUT file carries the FULL per-query map (no capture window to
    // overflow); stdout keeps the budgeted line. The run vectors go to
    // BENCH_DETAIL.json, whose name readers rely on, and to a per-core-count
    // copy, so a run at one core count does not overwrite another's vectors.
    val fullJson = renderFullLine(results, nFailed, sfName)
    val perCores = s"BENCH_DETAIL_c${spark.sparkContext.defaultParallelism}.json"
    (sys.env.get("SPARK_GRAFT_BENCH_OUT").map(_ -> fullJson).toSeq ++
        Seq("BENCH_DETAIL.json" -> detail, perCores -> detail))
      .foreach { case (p, s) =>
        try Files.writeString(Paths.get(p), s)
        catch { case e: Exception =>
          System.err.println(s"[bench] could not write $p: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
