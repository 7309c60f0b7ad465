package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALING-CURVE measurement (round 12): the §5 scale arguments as
  * NUMBERS. Each headline operator runs at 1x/2x/4x/8x of the sf0.1
  * fixture (id-shifted unions of the provided parquet — a measurement
  * harness, not a correctness fixture: correctness stays pinned to the
  * driver's own tables) and reports warm wall time, so "this plan is
  * scan/shuffle-bound and scales ~linearly" is a measured curve instead
  * of an argument. A super-linear curve here is the smoke alarm for an
  * accidentally quadratic stage — exactly what a 100 TB deployment
  * cannot discover in production.
  *
  * Usage: runMain graft.tools.ScaleCurve [sfDir] [maxFactor] [opFilter]
  * Prints one `[scale] <op> <factor> <rows> <sec>` line per point.
  * `opFilter` (optional) is a comma-separated list of substrings — only
  * ops whose name contains one of them run (focused re-measurement).
  */
object ScaleCurve {

  private def scaledDocs(spark: SparkSession, dir: String, f: Int): DataFrame = {
    val base = graft.Tables.documents(spark, dir)
    (0 until f).map(i => base.withColumn("doc_id",
        col("doc_id") + lit(i.toLong * 100000000L)))
      .reduce(_ unionByName _)
  }

  private def scaledLineitem(spark: SparkSession, dir: String, f: Int): DataFrame = {
    val base = graft.Tables.lineitem(spark, dir)
    (0 until f).map(_ => base).reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val maxF = if (args.length > 1) args(1).toInt else 8
    val opFilter: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(",":String).toSeq
        (n: String) => pats.exists(n.contains) }
      else (_: String) => true
    val spark = graft.GraftSession.local()
    import graft.operators.{Dedup, TextAnalysis}

    // (name, factor -> frame). Every op ends in an action that consumes
    // the full result (count/agg), so the measured time covers the whole
    // distributed plan, not a limit.
    val ops: Seq[(String, Int => DataFrame)] = Seq(
      // scan-bound: one codegen projection per row, no shuffle
      "t33_entropy_scan" -> (f =>
        TextAnalysis.charEntropyRowLocal(scaledDocs(spark, sfDir, f))),
      // one map-side-combinable hash aggregate (the d1 spelling)
      "d1_exact_dedup" -> (f =>
        scaledDocs(spark, sfDir, f)
          .groupBy(md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
            .as("content_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))),
      // banded candidate join + verify (the d2 lazy pipeline) — the
      // operator whose naive spelling IS quadratic; the curve proves the
      // banding holds. NOTE: id-shifted copies of the same corpus are
      // ADVERSARIAL input (every doc gains f-1 exact twins, so the true
      // pair count grows ~f^2/2) — the measured curve bounds real-corpus
      // behavior from above.
      "d2_minhash_pairs" -> (f =>
        Dedup.nearDupPairs(scaledDocs(spark, sfDir, f))),
      // narrow integer-gate scan (the Gopher rules)
      "t18_gopher_gate" -> (f =>
        TextAnalysis.gopherRules(scaledDocs(spark, sfDir, f))),
      // classic wide aggregate over the fact table (q1 shape)
      "q1_lineitem_agg" -> (f =>
        scaledLineitem(spark, sfDir, f)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sum_qty"),
            avg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("n")))
    )

    // ---- round-13 curves (r12 verdict item 3) ----
    import graft.operators.{Relational, Similarity}

    // q58/q59 under WINDOWS-PER-USER growth (the W²/2 surface): the
    // corpus copies CONCATENATE per user (event_id shifted past the
    // base range), so each user's series — and W — grows f×, true pair
    // work grows ~f². The curve verifies the triangle spread keeps time
    // tracking PAIR COUNT (≈f²·t₁), with no straggler blow-up on top.
    // 200 users keep the 8× point bounded (~3.5M pairs).
    def scaledEvents(f: Int): DataFrame = {
      val base = graft.Tables.events(spark, sfDir)
        .filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("value"))
      (0 until f).map(i => base.withColumn("event_id",
          col("event_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)
    }

    // d3's TWO regimes on a HIGH-ENTROPY generated corpus (hex-hash
    // text: ~65k possible 4-grams, median df ≪ 1% of n — the web-corpus
    // regime the prefix filter exists for; the saturated REAL fixture
    // is the bucket regime's witness in the main bench). Same schema
    // surface d3 consumes: (doc_id, lang, n_chars, text).
    def hexDocs(f: Int): DataFrame =
      spark.range(2000L * f).select(
          col("id").as("doc_id"),
          concat(lit("l"), pmod(col("id"), lit(4))).as("lang"),
          concat_ws(" ", (0 until 8).map(j =>
            md5(concat(col("id").cast("string"), lit(s"-$j")))): _*).as("text"))
        .withColumn("n_chars", length(col("text")).cast("long"))

    val ops13: Seq[(String, Int, Int => DataFrame)] = Seq(
      ("q58_motif_Wgrowth", maxF, f =>
        Relational.tsMotifPerUser(scaledEvents(f), L = 8, stride = 4)),
      ("q59_profile_Wgrowth", maxF, f =>
        Relational.tsMatrixProfile(scaledEvents(f), L = 8, stride = 4)),
      ("d3_prefix_highentropy", maxF, f =>
        Dedup.ngramJaccardPrefixFiltered(hexDocs(f))),
      // the bucket join on the SAME high-entropy corpus: inherently
      // per-bucket quadratic (n²/32 candidate probes here) — measured to
      // 4x as the regime-selection evidence, not a recommended plan
      ("d3_bucket_highentropy", math.min(maxF, 4), f =>
        Dedup.ngramJaccardBucketed(hexDocs(f))))

    // s9 published-index READ path at 1x..maxF corpus: build+publish per
    // factor (untimed), then time the pure read — the path 100x runs.
    def scaledEmbeddings(f: Int): DataFrame = {
      val base = graft.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      (0 until f).map(i => base.withColumn("vec_id",
          col("vec_id") + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _)
    }

    // p23 under two growth regimes (round 13). Fixed hosts: the corpus
    // grows f× while the planted host set stays 50 — extraction scales
    // with the scan, the edge aggregate and all 3 PageRank rounds stay
    // host-bounded, so the curve should be ~linear-in-scan with a flat
    // iteration tail. Growing hosts: corpus AND host set grow f×
    // (50f hosts), so the graph frames grow too — still linear, just
    // with the per-round joins now f×-sized.
    def linkPages(f: Int): DataFrame =
      spark.range(5000L * f).select(
        concat(lit("https://site"), pmod(col("id"), lit(50L * f)),
          lit(".example.com/")).as("url"),
        concat(
          lit("<a href=\"https://site"), pmod(col("id") * 7 + 1, lit(50L * f)),
          lit(".example.com/x\">a</a><a href=\"https://site"),
          pmod(col("id") + 1, lit(50L * f)),
          lit(".example.com/y\">b</a>")).as("html"))

    val ops13b: Seq[(String, Int, Int => DataFrame)] = Seq(
      ("p23_pr_fixedhosts", maxF, f =>
        graft.operators.Pipeline.domainPageRank(
          scaledDocs(spark, sfDir, f).select(col("doc_id"),
            TextAnalysis.fixtureDirtyUrl.as("url"),
            TextAnalysis.fixtureLinkedHtml.as("html")))),
      ("p23_pr_hostsgrow", maxF, f =>
        graft.operators.Pipeline.domainPageRank(linkPages(f))),
      // one parameter-bounded imperative aggregate — the pure scan-bound
      // reference curve (any super-linearity here is harness noise)
      ("s10_gram_scan", maxF, f =>
        Similarity.gramMatrix(scaledEmbeddings(f))))

    // ---- round-14 curves (r13 verdict items 1 + 7) ----

    // L-GROWTH legs for the matrix-profile family: the corpus is FIXED
    // and the window length grows 8 -> 8f. The r13 spelling paid an
    // O(L) fold per pair; the round-14 diagonal recurrence pays O(1) —
    // product rows per user are Σ_d(N−d), L-independent — so this curve
    // must stay flat-to-DECREASING (longer windows admit fewer pairs).
    val baseEvents = scaledEvents(1)
    val ops14: Seq[(String, Int, Int => DataFrame)] = Seq(
      ("q59_profile_Lgrowth", maxF, f =>
        Relational.tsMatrixProfile(baseEvents, L = 8 * f, stride = 4)),
      ("q60_znorm_Wgrowth", maxF, f =>
        Relational.tsZnormMatrixProfile(scaledEvents(f), L = 8, stride = 4)),
      ("q60_znorm_Lgrowth", maxF, f =>
        Relational.tsZnormMatrixProfile(baseEvents, L = 8 * f, stride = 4)),
      // discords ride q59's artifact + one TakeOrdered — same curve class
      ("q61_discord_Wgrowth", maxF, f =>
        Relational.tsDiscordTopK(scaledEvents(f), L = 8, stride = 4, k = 10)),
      // the horizon bounds candidates per window: ~LINEAR in W, the
      // streaming-safe contrast to the full profile's W² surface
      ("q62_leftprof_Wgrowth", maxF, f =>
        Relational.tsLeftProfile(scaledEvents(f), L = 8, stride = 4,
          horizon = 40)),
      // TrustRank = p23's loop with a seed-restricted teleport: same
      // host-bounded iteration tail, measured under growing hosts
      ("p24_trust_hostsgrow", maxF, f =>
        graft.operators.Pipeline.domainTrustRank(linkPages(f),
          Seq("site0.example.com", "site1.example.com"))),
      // p26 = PageRank scores -> integer weights -> PPS sample: the
      // sampler's prefix-sum machinery over a corpus-sized frame
      ("p26_sample_hostsgrow", maxF, f => {
        val ranks = graft.operators.Pipeline.domainPageRank(linkPages(f))
          .select(col("host"), col("score"))
        val docs = spark.range(5000L * f).select(
          col("id").as("doc_id"),
          concat(lit("l"), pmod(col("id"), lit(4))).as("lang"),
          concat(lit("site"), pmod(col("id"), lit(50L * f)),
            lit(".example.com")).as("host"))
        val withW = docs.join(ranks, Seq("host"))
          .select(col("doc_id"), col("lang"),
            round(col("score") * 10000).cast("long").as("w"))
        graft.operators.Pipeline.weightedSystematicSample(withW, col("w"), k = 100L)
      }))

    // ---- round-15 curves (r14 verdict item 6) ----

    val ops15: Seq[(String, Int, Int => DataFrame)] = Seq(
      // q64 rides q59's profile artifact (pair-count-bound, ~f² on this
      // adversarial concatenation); the CAC tail is user-keyed NARROW
      // index arithmetic — the curve must track q59's, with no
      // arcs×boundaries term on top
      ("q64_fluss_Wgrowth", maxF, f =>
        Relational.tsFlussCac(scaledEvents(f), L = 8, stride = 4)),
      // q65's arcs are horizon-bounded (the q62 class): ~LINEAR in W —
      // the streaming-safe contrast to q64's full-profile surface
      ("q65_floss_Wgrowth", maxF, f =>
        Relational.tsFlossCac1(scaledEvents(f), L = 8, stride = 4,
          horizon = 16)),
      // q66 = q64's curve + two user-keyed range windows sharing one
      // sort: same class as q64, the extraction adds no growth term
      ("q66_regime_Wgrowth", maxF, f =>
        Relational.tsRegimeBoundaries(scaledEvents(f), L = 8, stride = 4,
          threshold = 0.8, zone = 3)),
      // d18 multi-probe at probes 0/1/2 under corpus growth: candidate
      // pairs grow with (probes+1)× the bucket-collision mass, NEVER
      // all-pairs — each probe level must stay in d17's curve class
      ("d18_semdedup_p0", maxF, f =>
        Dedup.semDeDup(scaledEmbeddings(f), signBits = 6, tau = 0.4,
          probes = 0)),
      ("d18_semdedup_p1", maxF, f =>
        Dedup.semDeDup(scaledEmbeddings(f), signBits = 6, tau = 0.4,
          probes = 1)),
      ("d18_semdedup_p2", maxF, f =>
        Dedup.semDeDup(scaledEmbeddings(f), signBits = 6, tau = 0.4,
          probes = 2)))

    val factors = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxF).toSeq
    // Warm min-of-2 through the bench's one timed action (the noop sink
    // computes every column; count() would let Catalyst prune work): the
    // first run pays scan cache and codegen, the min absorbs it. Rows are
    // counted after the timed runs.
    def point(name: String, label: String, mk: => DataFrame): Unit = {
      val ts = (1 to 2).map(_ => graft.Bench.timeOnce(spark, sfDir, name, (_, _) => mk))
      if (ts.exists(_ < 0)) println(f"[scale] $name%-22s $label FAILED")
      else {
        val rows = mk.count()
        spark.catalog.clearCache()
        println(f"[scale] $name%-22s $label rows=$rows%9d ${ts.min}%7.2f s")
      }
    }
    def runPoints(name: String, fmax: Int, mk: Int => DataFrame): Unit =
      if (opFilter(name)) factors.filter(_ <= fmax).foreach(f => point(name, s"f=$f", mk(f)))

    ops.foreach { case (name, mk) => runPoints(name, maxF, mk) }
    ops13.foreach { case (name, fmax, mk) => runPoints(name, fmax, mk) }
    ops13b.foreach { case (name, fmax, mk) => runPoints(name, fmax, mk) }
    ops14.foreach { case (name, fmax, mk) => runPoints(name, fmax, mk) }
    ops15.foreach { case (name, fmax, mk) => runPoints(name, fmax, mk) }

    // ---- round-16b curves (q74/q75/q76/p30/A65's batch core) ----

    // q75 needs the event_type slices the shared scaledEvents drops
    def scaledEventsTyped(f: Int): DataFrame = {
      val base = graft.Tables.events(spark, sfDir)
        .filter(col("user_id") < 200)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
      (0 until f).map(i => base.withColumn("event_id",
          col("event_id") + lit(i.toLong * 10000000L)))
        .reduce(_ unionByName _)
    }
    val ops16b: Seq[(String, Int, Int => DataFrame)] = Seq(
      // the lag explode is PARAMETER-bounded: ~linear in rows
      ("q74_acf_Wgrowth", maxF, f =>
        Relational.tsAcf(scaledEvents(f), maxLag = 16)),
      // fixed corpus, growing maxLag: ~linear in the lag parameter
      ("q74_acf_lagGrowth", maxF, f =>
        Relational.tsAcf(baseEvents, maxLag = 16 * f)),
      // AB pair space grows ~f² on the concatenated series (both type
      // slices grow f×) — the diagonal spread must keep time tracking
      // PAIR COUNT, q59's curve class
      ("q75_abjoin_Wgrowth", maxF, f =>
        Relational.tsAbJoinProfile(scaledEventsTyped(f), "click", "view",
          L = 4, stride = 2)),
      // one per-user window pass + hash aggregates: the scan class
      ("q76_seasonal_Wgrowth", maxF, f =>
        Relational.tsSeasonalDecompose(scaledEvents(f), period = 4)),
      // HITS under growing hosts: host-proportional frames, fixed
      // iteration count — p24's curve class
      ("p30_hits_hostsgrow", maxF, f =>
        graft.operators.Pipeline.domainHits(linkPages(f))),
      // the gate composes the decomposition on both join sides: 2x
      // q76's linear pass + per-user exact percentiles
      ("q77_anomaly_Wgrowth", maxF, f =>
        Relational.tsSeasonalAnomalies(scaledEvents(f), period = 4)),
      // bounded endpoint aggregate + H-row explode: ~flat
      ("q78_forecast_Wgrowth", maxF, f =>
        Relational.tsSeasonalForecast(scaledEvents(f), period = 4, h = 8)),
      // parameter-bounded lag explode over the typed axis: ~linear
      ("q79_ccf_Wgrowth", maxF, f =>
        Relational.tsCcf(scaledEventsTyped(f), "click", "purchase",
          maxLag = 8)),
      // two order-free window passes + one lag: the scan class
      ("q80_cusum_Wgrowth", maxF, f =>
        Relational.tsCusumAlarms(scaledEvents(f))),
      // one map-side-combinable hash aggregate: the flattest shape here
      ("q81_trend_Wgrowth", maxF, f =>
        Relational.tsTrendLine(scaledEvents(f))))
    ops16b.foreach { case (name, fmax, mk) => runPoints(name, fmax, mk) }

    // d3 auto-selection evidence: the 1% cut picks the measured-cheaper
    // spelling in BOTH regimes at every factor
    if (opFilter("d3_auto_pick")) factors.foreach { f =>
      val (mdf, n) = Dedup.gramDfStats(hexDocs(f))
      println(f"[scale] d3_auto_pick highentropy f=$f medianDf=$mdf%.1f n=$n -> " +
        (if (Dedup.pickPrefixFilter(mdf, n)) "prefix" else "bucket"))
    }
    if (opFilter("d3_auto_pick")) {
      val (mdf, n) = Dedup.gramDfStats(graft.Tables.documents(spark, sfDir))
      println(f"[scale] d3_auto_pick fixture f=1 medianDf=$mdf%.1f n=$n -> " +
        (if (Dedup.pickPrefixFilter(mdf, n)) "prefix" else "bucket"))
    }

    if (opFilter("s9_index_read")) factors.foreach { f =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-scale-s9-$f").toString
      val e = scaledEmbeddings(f).persist()
      val tb = System.nanoTime()
      val rs = Similarity.publishIvfPqIndex(e, root, token = s"scale-$f")
      require(rs.size == 3 && rs.forall(_.published), s"s9 publish failed at f=$f")
      println(f"[scale] s8_index_build        f=$f rows=${2000L * f}%9d ${(System.nanoTime() - tb) / 1e9}%7.2f s")
      val q = e.filter(col("vec_id") < 10) // the base copy's first 10 ids
      point("s9_index_read", s"f=$f",
        Similarity.ivfPqTopKFromIndex(spark, root, e, q,
          k = 5, refine = 200, nProbe = 4))
      e.unpersist()
    }

    // s11: the OPQ read path at 1x..maxF corpus — s9's leg with the
    // 4-table rotated artifact: the query-side rotation is one plan
    // literal, so the read curve must track s9's (three narrow scans +
    // parameter-bounded broadcasts), not grow with the corpus.
    // s13: the FILTERED read path at 1x..maxF corpus — s9's leg with the
    // label predicate pushed to the attribute-carrying codes scan. The
    // filtered curve must track s9's (the filter only THINS the scan;
    // candidate volume is the probed fraction x selectivity).
    if (opFilter("s13_filtered_read")) factors.foreach { f =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-scale-s13-$f").toString
      val e = scaledEmbeddings(f)
        .withColumn("label", pmod(col("vec_id"), lit(4)).cast("int"))
        .persist()
      val tb = System.nanoTime()
      val rs = Similarity.publishIvfPqIndex(
        e.select(col("vec_id"), col("embedding")), root, token = s"scale-attr-$f",
        attrs = Some(e.select(col("vec_id"), col("label"))))
      require(rs.size == 3 && rs.forall(_.published), s"s13 publish failed at f=$f")
      println(f"[scale] s13_attr_build        f=$f rows=${2000L * f}%9d ${(System.nanoTime() - tb) / 1e9}%7.2f s")
      val q = e.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding"))
      point("s13_filtered_read", s"f=$f",
        Similarity.ivfPqTopKFromIndexWhere(spark, root, e, q,
          k = 5, refine = 200, nProbe = 6, col("label") === 1))
      e.unpersist()
    }

    // ---- round-16 curves (r15 verdict items 1/2/3/8) ----

    // The published-profile lifecycle under W-growth (r15 item 1): the
    // BUILD pays the f² pair space ONCE; every consumer reads the
    // f-proportional artifact (one row per window) — discords are one
    // TakeOrdered, CAC/regimes user-keyed narrow index arithmetic. The
    // read curves must track PROFILE ROWS (~f), never the pair space —
    // the whole point of materializing the artifact.
    if (opFilter("q68_profile_read")) factors.foreach { f =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-scale-q68-$f").toString
      val ev = scaledEvents(f).persist()
      ev.count()
      val tb = System.nanoTime()
      val r = graft.operators.Relational.publishTsProfile(ev, root,
        token = s"scale-$f", L = 8, stride = 4)
      require(r.published, s"profile publish failed at f=$f")
      println(f"[scale] q68_profile_build     f=$f rows=${0L}%9d ${(System.nanoTime() - tb) / 1e9}%7.2f s")
      def timeRead(name: String, mk: => DataFrame): Unit = point(name, s"f=$f", mk)
      import graft.operators.Relational._
      timeRead("q68_profile_read", readTsProfile(spark, root))
      timeRead("q69_discord_read", readTsProfile(spark, root)
        .orderBy(col("dist").desc, col("user_id"), col("start")).limit(10))
      timeRead("q70_cac_read", flussCacFromProfile(readTsProfile(spark, root)
        .select(col("user_id"), col("start"), col("nn_start"))))
      timeRead("q71_regime_read", regimeExtractFromCurve(
        flussCacFromProfile(readTsProfile(spark, root)
          .select(col("user_id"), col("start"), col("nn_start"))),
        threshold = 0.8, zone = 3))
      ev.unpersist()
    }

    // The q72 sample-fraction knob at a FIXED maxF W-growth corpus (r15
    // item 2): diagonal lattice E = 1/2/4/8 — measured time must fall
    // ~proportionally with pair work (1/E), the anytime-preview promise.
    // maxF (not a small factor): the knob's effect is visible only where
    // pair work dominates the fixed explode/join/window overhead.
    if (opFilter("q72_sample_knob")) {
      val ev = scaledEvents(maxF).persist()
      ev.count()
      Seq(1, 2, 4, 8).foreach { e =>
        point("q72_sample_knob", s"E=$e", graft.operators.Relational
          .tsMatrixProfileSampled(ev, L = 8, stride = 4, sampleEvery = e))
      }
      ev.unpersist()
    }

    // q73: INCREMENTAL refresh vs rebuild under HISTORY growth — fixed
    // arrival stripe (the base corpus appended once) onto an f×-growing
    // published history: the rebuild pays the full (f+1)² pair space,
    // the refresh only the stripe's O(W_new · W_total) — so refresh must
    // grow ~LINEARLY in f while rebuild grows ~quadratically.
    if (opFilter("q73_refresh")) factors.foreach { f =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-scale-q73-$f").toString
      val hist = scaledEvents(f).persist(); hist.count()
      val full = scaledEvents(f + 1).persist(); full.count()
      val r1 = graft.operators.Relational.publishTsProfile(hist, root,
        token = s"scale-q73-$f", L = 8, stride = 4)
      require(r1.published, s"q73 history publish failed at f=$f")
      val t0 = System.nanoTime()
      val r2 = graft.operators.Relational.refreshTsProfile(spark, root, full,
        token = s"scale-q73r-$f", L = 8, stride = 4)
      require(r2.published, s"q73 refresh failed at f=$f")
      println(f"[scale] q73_refresh_stripe     f=$f rows=${0L}%9d ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      // apples-to-apples: the rebuild leg PUBLISHES too (same WAP write
      // + audit overhead on both sides — at this SF the fixed publish
      // cost dominates both, so the curve's information is in the GROWTH)
      val t1 = System.nanoTime()
      val r3 = graft.operators.Relational.publishTsProfile(full,
        java.nio.file.Files.createTempDirectory(s"graft-scale-q73rb-$f").toString,
        token = s"scale-q73rb-$f", L = 8, stride = 4)
      require(r3.published, s"q73 rebuild publish failed at f=$f")
      println(f"[scale] q73_rebuild_full       f=$f rows=${0L}%9d ${(System.nanoTime() - t1) / 1e9}%7.2f s")
      hist.unpersist(); full.unpersist()
    }

    // s14: the RESIDUAL read path at 1x..maxF corpus (r15 item 3) — s9's
    // leg with residual=true: the add-back is one zip_with per candidate
    // row, so the curve must track s9's flat read shape.
    if (opFilter("s14_residual_read")) factors.foreach { f =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-scale-s14-$f").toString
      val e = scaledEmbeddings(f).persist()
      val tb = System.nanoTime()
      val rs = Similarity.publishIvfPqIndex(e, root, token = s"scale-res-$f",
        residual = true)
      require(rs.size == 3 && rs.forall(_.published), s"s14 publish failed at f=$f")
      println(f"[scale] s14_residual_build    f=$f rows=${2000L * f}%9d ${(System.nanoTime() - tb) / 1e9}%7.2f s")
      val q = e.filter(col("vec_id") < 10)
      point("s14_residual_read", s"f=$f",
        Similarity.ivfPqTopKFromIndex(spark, root, e, q,
          k = 5, refine = 200, nProbe = 4))
      e.unpersist()
    }

    // p29 under growing |domains| (r15 item 8): 20f domains over a
    // f×-growing synthetic corpus — the stats aggregate is one linear
    // scan + model join; the MW fold runs on the |domains|-row driver
    // frame, so the curve must be ~linear-in-scan with no domain term.
    if (opFilter("p29_domains_grow")) factors.foreach { f =>
      val docs = spark.range(4000L * f).select(
        col("id").as("doc_id"),
        concat(lit("l"), pmod(col("id"), lit(5L * f))).as("lang"),
        concat(lit("src"), pmod(col("id") / lit(5L * f), lit(4L))).as("source"),
        concat_ws(" ", (0 until 12).map(j =>
          concat(lit(s"w$j"), pmod(col("id") * (j + 3), lit(97L)))): _*).as("text"))
      point("p29_domains_grow", s"f=$f",
        graft.operators.Pipeline.doremiSurprisalWeights(docs))
    }

    if (opFilter("s11_index_read")) factors.foreach { f =>
      val root = java.nio.file.Files.createTempDirectory(s"graft-scale-s11-$f").toString
      val e = scaledEmbeddings(f).persist()
      val tb = System.nanoTime()
      val rs = Similarity.publishIvfPqIndex(e, root, token = s"scale-opq-$f",
        rotate = true)
      require(rs.size == 4 && rs.forall(_.published), s"s11 publish failed at f=$f")
      println(f"[scale] s11_opq_build         f=$f rows=${2000L * f}%9d ${(System.nanoTime() - tb) / 1e9}%7.2f s")
      val q = e.filter(col("vec_id") < 10)
      point("s11_index_read", s"f=$f",
        Similarity.ivfPqTopKFromIndex(spark, root, e, q,
          k = 5, refine = 200, nProbe = 4))
      e.unpersist()
    }
    spark.stop()
  }
}
