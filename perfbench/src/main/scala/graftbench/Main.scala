package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operation counts for the correctness
  * gate, end-to-end metrics (untraced runs), per-layer metrics (traced
  * runs) and raw samples for the artifact.
  */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    detail: Map[String, Any])

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val taps: Taps,
    val seed: Long, val seconds: Double, val work: Path, val cores: Int,
    val plant: Boolean, val args: Map[String, String])

/** Benchmark JVM entry point. Arguments are `--key value` pairs:
  * workload, seed, seconds, trace (0|1), work (scratch directory), out
  * (result file), spans (span file, traced runs), plant (0|1), plus
  * workload-specific keys (queries, expected, sf, data_seed).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.local(cores)
    val sessionStartMs = (System.currentTimeMillis() - jvmStartMs).toDouble
    val tracer = new Tracer(traced)
    val taps = new Taps(spark, tracer)
    val ctx = new Ctx(spark, tracer, taps, seed, seconds, work, cores,
      args.getOrElse("plant", "0") == "1", args)

    val run: Workload = workload match {
      case "stream_embedded" => new Embedded(ctx)
      case "stream_sink" => new Sink(ctx)
      case "queries" => new Queries(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up is staged three times into fresh directories; the median is
    // the staging cost, the last staging is the one the run uses
    val stageMs = (1 to 3).map { k =>
      val dir = work.resolve(s"stage$k")
      val t0 = System.nanoTime()
      run.stage(dir)
      Util.ms(System.nanoTime() - t0)
    }
    val stageMedianMs = Util.median(stageMs)
    val setupS = (sessionStartMs + stageMedianMs) / 1000.0

    val gc0 = gcMs()
    val out = run.measure()
    taps.drain()
    val common = Map(
      "session.start_ms" -> sessionStartMs,
      "stage.inputs_ms" -> stageMedianMs,
      "jvm.gc_ms" -> (gcMs() - gc0),
      "jvm.rss_peak_mb" -> rssPeakMb())
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> traced,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> (out.e2e + ("setup_s" -> setupS)),
      "layers" -> (common ++ out.layers),
      "stage_ms" -> stageMs,
      "detail" -> out.detail)
    Files.writeString(Paths.get(args("out")), Util.json(result))
    if (traced) args.get("spans").foreach(p => writeSpans(Paths.get(p), tracer))
    spark.stop()
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def rssPeakMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def writeSpans(p: Path, tracer: Tracer): Unit = {
    val w = Files.newBufferedWriter(p)
    try tracer.spans.asScala.foreach { s =>
      w.write(Util.json(Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "attrs" -> s.attrs)))
      w.newLine()
    } finally w.close()
  }
}

/** A workload stages its inputs into a directory (called three times; the
  * last call's directory is the one `measure` uses) and then measures for
  * the run's seconds.
  */
trait Workload {
  def stage(dir: Path): Unit
  def measure(): Outcome
}
