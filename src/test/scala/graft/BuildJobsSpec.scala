package graft

import graft.operators.Materialize
import graft.tools.{JobCounter, PlanAudit}

/** Building a benched frame runs no Spark job. Every
  * `SparkEntry.benchQueries` frame is built once under
  * `Materialize.planOnly` (which opens each fixture table, inferring its
  * schema, and fills the per-sfDir artifact memos), then built again while
  * the Spark jobs each build starts are counted. A job at build is a fixed
  * cost on every micro-batch that runs the query, so every frame that runs
  * one is pinned below with its reason, and a pinned frame must still run
  * one.
  */
class BuildJobsSpec extends SparkSpec {
  private val pinned: Map[String, String] = Map(
    "p13_unimax_sample" ->
      "collects the per-language token stats that size the targets",
    "d3_dedup_ngram_jaccard" ->
      "gram-df stats (the median head and the document count) pick the spelling",
    "p27_doremi_weights" ->
      "collects the |lang x source| domain stats the multiplicative-weights rounds fold",
    "p29_doremi_surprisal" ->
      "collects the |lang x source| domain stats (p27's fold over t16's surprisal)",
    "s2_ann_lsh_topk" -> "the corpus count picks the probe radius",
    "s4_ann_ivf_topk" -> "trains the IVF centroids and collects them into literals",
    "s6_ann_pq_topk" -> "trains the PQ codebooks and collects them into literals",
    "s8_ann_ivfpq_topk" -> "trains the IVF centroids and PQ codebooks (s4 and s6)",
    "s9_ann_ivfpq_index_read" ->
      "reads the published index (Publish infers each version's schema) and collects its lists and books into literals",
    "s11_ann_opq_topk" -> "the s9 index read over the OPQ index",
    "s12_ann_recall_curve" -> "the s9 index read over the OPQ index",
    "s13_ann_filtered_topk" -> "the s9 index read, plus the filtered-universe count",
    "s14_ann_residual_topk" -> "the s9 index read over the residual index",
    "q68_ts_profile_read" -> "reads the published profile (Publish infers each version's schema)",
    "q69_ts_discord_read" -> "the q68 profile read",
    "q70_ts_cac_read" -> "the q68 profile read",
    "q71_ts_regime_read" -> "the q68 profile read",
    "q73_ts_profile_refresh" -> "the q68 read of the refreshed profile") ++
    PlanAudit.iterative.map { case (n, why) => n -> s"iterative: $why" }

  test("a warm build of every benched frame runs no Spark job outside the pinned set") {
    val frames = SparkEntry.benchQueries.toSeq.sortBy(_._1)
    def build(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      Materialize.planOnly(fn(spark, sfDir))
      spark.catalog.clearCache()
    }
    // the first build opens the tables and fills the per-sfDir artifact
    // memos (the published profiles and indexes); events goes first, since
    // it sets the nanosAsLong flag that every later open is stamped with
    Tables.events(spark, sfDir)
    frames.foreach { case (_, fn) => build(fn) }
    val jobs = new JobCounter(spark.sparkContext)
    val counts = try {
      jobs.take()
      frames.map { case (name, fn) => build(fn); name -> jobs.take() }
    } finally jobs.close()
    val offenders = counts.filter { case (n, c) => c > 0 && !pinned.contains(n) }
    assert(offenders.isEmpty,
      s"frames whose build runs Spark jobs: ${offenders.map { case (n, c) => s"$n=$c" }.mkString(", ")}")
    val stale = pinned.keySet -- counts.collect { case (n, c) if c > 0 => n }
    assert(stale.isEmpty, s"pinned frames whose build runs no Spark job: $stale")
  }
}
