package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{HashFunctions => H, CosineSimilarity => CosF}
import Num._

/** Deduplication suite (SURVEY.md §2 C1–C5) over documents/embeddings.
  *
  * Scale design: every candidate-generation step is a shuffle on a bucket
  * key (content hash, LSH band key, simhash band) — never a cross join.
  * Exact verification runs only inside buckets; self-joins halve work with
  * `a.id < b.id`. At 100 TB, band keys are the shuffle partitioning and
  * skewed buckets get salted (band key + salt) before the pair join.
  */
object Dedup {

  /** Normalized-content hash per doc (shared by d1/d4 and the composite
    * cleaning pipeline).
    */
  def normHash(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  // C1 — exact dedup: hash-groupBy, keep min doc_id. One shuffle on the
  // content hash; at 100 TB this is the canonical map-side-combine pattern.
  private val d1 = Relational.Q(
    "d1_dedup_exact",
    (s, d) => {
      Tables.documents(s, d)
        .groupBy(normHash(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("content_hash"))
    },
    Some("""
      SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
        MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY content_hash"""))

  // C2 — MinHash + LSH near-dup detection: shingle -> 64-perm signature ->
  // 16 bands x 4 rows -> band-bucket join -> exact-Jaccard verify >= 0.8.
  // The oracle is the exact full-pairwise answer: with these LSH params the
  // miss probability at j >= 0.8 is ~2e-4 per pair and the data's near-dup
  // pairs sit at j >= 0.88 (miss ~3e-8), so LSH recall is exact here —
  // which is precisely the claim being verified.
  /** MinHash/LSH near-duplicate pairs over any (doc_id, text) frame —
    * d2's core, reusable by the composite corpus-cleaning pipeline.
    * Returns (doc_a, doc_b, jaccard) for exact Jaccard >= `minJaccard`,
    * ordered. See d2's Q below for the oracle contract.
    */
  /** LSH band key b over a minhash signature column (4 rows per band) —
    * `xxhash64(b, sig[4b+1..4b+4])`. One definition shared by the batch
    * join ([[nearDupPairs]]), the banded-frame view ([[minhashBanded]]),
    * and replicated bit-for-bit by the row-local streaming twin
    * ([[minhashBandedLocal]]).
    */
  private def bandKeyCol(sig: Column, b: Int): Column =
    xxhash64((lit(b) +: (0 until 4).map(r => element_at(sig, b * 4 + r + 1))): _*)

  /** The exploded 16-band-key generator over a signature column — ONE
    * definition consumed by the batch candidate join, the banded view,
    * and the incremental path (the row-local streaming twin replicates
    * it bit-for-bit under spec pin). */
  private def bandKeysExploded(sig: Column): Column =
    explode(array((0 until 16).map(b => bandKeyCol(sig, b)): _*))

  /** Per-doc minhash stats (shingle count, 64-perm signature, sorted
    * shingle hashes) — the shared core of d2/d6/d7 and the banded views.
    * Returned frame is persisted and keyed by doc_id.
    */
  private def docMinhashStats(docs: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // Shingles built relationally (posexplode + window lead) instead of
      // a higher-order transform: HOFs evaluate interpreted per element,
      // while this whole pipeline stays in codegen. Shingles are hashed to
      // 64-bit the moment they're formed — every downstream shuffle, agg,
      // and join carries longs, never shingle strings (collision odds
      // ~n²/2^64 per doc, the same contract d3 documents for its gram
      // hashes). The ONE data exchange is the repartition by doc_id below:
      // the window, the distinct, and the per-doc aggregate all reuse that
      // partitioning (ClusteredDistribution satisfied), so the plan has no
      // further exchange over shingle rows.
      val toks = docs.select(col("doc_id"), col("text"))
        .repartition(col("doc_id")) // spreads the tiny scan AND keys everything downstream
        .select(col("doc_id"), posexplode(H.tokens(col("text"))).as(Seq("pos", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val shd = toks
        .select(col("doc_id"), col("pos"), col("tok"),
          lead(col("tok"), 1).over(w).as("t1"), lead(col("tok"), 2).over(w).as("t2"))
        .filter(col("t2").isNotNull)
        .select(col("doc_id"), xxhash64(concat_ws(" ", col("tok"), col("t1"), col("t2"))).as("h"))
        .dropDuplicates("doc_id", "h")
      // (shd is NOT persisted: its single consumer is the aggregate below
      // — the round-2 cache was for the era when sizes/signature/verify
      // read it separately, and a dead cache entry just starves storage
      // memory for the rest of a Verify/Bench session.)
      // One fused per-doc aggregate produces size, the 64-perm minhash
      // signature (single-pass imperative sketch, SURVEY H3), and the
      // sorted gram-hash array for the merge-walk verify — three frames in
      // round 1, one pass now, exchange-free on the cached partitioning.
      // 64 perms / 16 bands x 4 rows: catch probability at j=0.8 is
      // 1-(1-0.8^4)^16 ~= 0.9998 per pair, ~1-3e-8 at the data's j>=0.88.
      shd.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("sz"),
          graft.functions.MinHashSignature(col("h"), 64).as("sig"),
          sort_array(collect_list(col("h"))).as("sg"))
        .persist()
  }

  /** The (doc_id, sg: sorted shingle-hash array) view of a (doc_id, text)
    * frame — the staged verification artifact the streaming exact-verify
    * stage (A25, [[graft.streaming.EventsPipeline.nearDupStreamVerified]])
    * joins candidate pairs against. Persisted (shares [[docMinhashStats]]),
    * so a stream-static join re-reads cached blocks per micro-batch
    * instead of re-running the shingle pipeline.
    */
  def shingleSets(docs: DataFrame): DataFrame =
    docMinhashStats(docs).select(col("doc_id"), col("sg"))

  /** The (band_key, doc_id, sig) LSH view of a (doc_id, text) frame —
    * what the batch candidate join shuffles on, and the exact frame the
    * streaming near-dup operator keys its state by.
    */
  def minhashBanded(docs: DataFrame): DataFrame = {
    val stats = docMinhashStats(docs)
    stats.select(col("doc_id"), col("sig"),
      bandKeysExploded(col("sig")).as("band_key"))
      .select(col("band_key"), col("doc_id"), col("sig"))
  }

  /** Row-local twin of [[minhashBanded]] for STREAMING inputs (window
    * functions and blocking aggregates can't run on a stream): the same
    * tokenization, word-3-shingling, xxhash64 shingle hashing, 64-perm
    * seeded-rehash minhash, and 16-band keys, computed per document in
    * Scala — bit-compatible by construction (spec-pinned against
    * [[minhashBanded]]): shingle hash == xxhash64(utf8, seed 42),
    * component i == min XXH64.hashInt(i, hashLong(h, 42)) (the
    * MinHashSignature contract), band key == xxhash64(b, 4 components).
    */
  def minhashBandedLocal(docId: Long, text: String): Seq[(Long, Long, Array[Long])] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    // Tokenization semantics live in HashFunctions.tokensLocal (the one
    // shared column-path twin); a doc like "foo bar baz\n" otherwise
    // tokenizes differently and every band key diverges.
    val tk = graft.functions.HashFunctions.tokensLocal(text)
    if (tk.length < 3) return Nil
    val hashes = tk.sliding(3).map(_.mkString(" ")).toArray.distinct
      .map(s => XXH64.hashUTF8String(UTF8String.fromString(s), 42L))
    val sig = Array.fill(64)(Long.MaxValue)
    hashes.foreach { h =>
      val base = XXH64.hashLong(h, 42L)
      var i = 0
      while (i < 64) {
        val v = XXH64.hashInt(i, base)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    (0 until 16).map { b =>
      var k = XXH64.hashInt(b, 42L)
      (0 until 4).foreach(r => k = XXH64.hashLong(sig(b * 4 + r), k))
      (k, docId, sig)
    }
  }

  def nearDupPairs(docs: DataFrame, minJaccard: Double = 0.8): DataFrame =
    nearDupPairsFrom(docMinhashStats(docs), minJaccard)

  private def nearDupPairsFrom(docStats: DataFrame, minJaccard: Double): DataFrame = {
      val banded = docStats.select(col("doc_id"),
        bandKeysExploded(col("sig")).as("band_key"))
      // Band self-join as a plain equi-join on band_key — no broadcast
      // hint: the banded frame is O(16 x corpus), so forcing it through
      // the driver would hit the 8 GB broadcast ceiling (and driver OOM)
      // long before 100 TB. At bench scale AQE broadcasts the small side
      // on its own; at scale this is a shuffle on band_key, never a
      // cross join.
      val cands = banded.select(col("doc_id").as("doc_a"), col("band_key"))
        .join(banded.select(col("doc_id").as("doc_b"), col("band_key")), Seq("band_key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates("doc_a", "doc_b")
      // Exact-Jaccard verify via the codegen merge-walk over the sorted
      // per-doc gram-hash arrays (SURVEY H4). The candidate pair set is
      // data-dependent (template-heavy corpora explode it), so it is NOT
      // broadcast-hinted either: the verify runs as equi-joins on the
      // pair ids — AQE broadcasts the slim pair side when it is actually
      // small, and degrades to a shuffle when it is not. The gram arrays
      // stream through the joins in both regimes.
      val withA = cands
        .join(docStats.select(col("doc_id").as("doc_a"), col("sg").as("sg_a"), col("sz").as("sz_a")),
          Seq("doc_a"))
      val pairs = withA
        .join(docStats.select(col("doc_id").as("doc_b"), col("sg").as("sg_b"), col("sz").as("sz_b")),
          Seq("doc_b"))
      pairs
        .withColumn("n_inter",
          graft.functions.SortedIntersectSize(col("sg_a"), col("sg_b")).cast("double"))
        .withColumn("jaccard_exact",
          col("n_inter") / (col("sz_a") + col("sz_b") - col("n_inter")))
        .filter(col("jaccard_exact") >= minJaccard)
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard_exact")).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- Materialized near-dup views (shared by d2 / d6 / d7) ----
  //
  // d2 (pairs), d6 (clusters), d7 (canonical retention) all consume the
  // SAME verified pair graph; recomputing the full minhash pipeline per
  // query tripled the heaviest non-t7 work in the bench. These memoized
  // views give the pair graph and the cluster assignment materialized-view
  // semantics: built once per (session, table dir, threshold) and reused
  // by every downstream query — exactly how a production cleaning
  // pipeline would stage them (dedup artifacts are written once and read
  // by many consumers). Materialization is an EAGER checkpoint, not
  // persist(): the slim result lands in RDD block storage, which the
  // blanket spark.catalog.clearCache() that Bench/Verify run between
  // queries does NOT clear (that clears only the SQL cache manager), so
  // the view actually survives to its later consumers while per-call
  // operator caches still get dropped. The checkpoint also cuts the
  // lineage, letting the wide per-doc shingle/signature frame be
  // unpersisted immediately — only the (doc_a, doc_b, jaccard) rows stay
  // in storage (KBs here, ~GBs at 100 TB: the pair graph is O(dup pairs),
  // not O(corpus); a cluster deployment would write it to parquet
  // instead, same contract).
  // Bounded insertion-order caches: a long-lived session cycling many
  // corpus dirs (or many sessions in one JVM) can't grow these without
  // limit — the eldest entry is dropped (its checkpointed blocks are
  // freed by the ContextCleaner once unreferenced) and rebuilt on next
  // use. STALENESS CONTRACT: like any materialized view, the artifact
  // reflects the table at build time; after rewriting a dir's parquet in
  // the SAME session, call [[clearViews]] (short-lived Verify/Bench/
  // driver processes never hit this).
  private val MaxViews = 16
  private def boundedCache[K, V]() =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](MaxViews, 0.75f, false) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > MaxViews
      })
  private val pairViewCache =
    boundedCache[(SparkSession, String, Double), DataFrame]()
  private val clusterViewCache =
    boundedCache[(SparkSession, String, Double), DataFrame]()

  /** The verified near-dup pair graph of `dir`'s documents table —
    * built once per (session, dir, threshold), checkpoint-materialized.
    */
  def nearDupPairsView(s: SparkSession, dir: String, minJaccard: Double = 0.8): DataFrame =
    view(pairViewCache, (s, dir, minJaccard)) {
      val stats = docMinhashStats(Tables.documents(s, dir))
      Materialize(nearDupPairsFrom(stats, minJaccard), stats)
    }

  /** Connected-component cluster assignment over [[nearDupPairsView]] —
    * the iterative CC run executes at most once per (session, dir,
    * threshold); d6 and d7 both read this one frame.
    */
  def nearDupClustersView(s: SparkSession, dir: String, minJaccard: Double = 0.8): DataFrame =
    view(clusterViewCache, (s, dir, minJaccard)) {
      Materialize(connectedComponents(
        nearDupPairsView(s, dir, minJaccard).select(col("doc_a"), col("doc_b"))))
    }

  // A frame built under Materialize.planOnly is lazy: it never enters a
  // view cache, where a later production call would get it
  private def view(cache: java.util.Map[(SparkSession, String, Double), DataFrame],
      key: (SparkSession, String, Double))(build: => DataFrame): DataFrame =
    if (Materialize.isPlanOnly) build else cache.computeIfAbsent(key, _ => build)

  /** Drop every memoized view reference (tests / long-lived sessions
    * switching corpora, or after rewriting a dir's tables in-session).
    * The checkpointed blocks themselves are freed by the ContextCleaner
    * once unreferenced.
    */
  def clearViews(): Unit = {
    pairViewCache.clear()
    clusterViewCache.clear()
  }

  /** Drop only the pair-graph views (keeps clusters; Bench uses these to
    * time each stage's build honestly — see Bench's rebuild map).
    */
  def clearPairViews(): Unit = pairViewCache.clear()

  /** Drop only the cluster views. */
  def clearClusterViews(): Unit = clusterViewCache.clear()

  /** The DuckDB spelling of [[nearDupPairs]]'s exact semantics (full
    * pairwise word-3-shingle Jaccard over `fromTable`), as CTEs
    * `toks`/`sh`/`pairs(doc_a, doc_b, j)` — ONE definition interpolated
    * into every oracle that consumes the near-dup pair graph (d2, d6), so
    * a threshold or tokenization change can't silently diverge them.
    */
  private[operators] def pairwiseSql(fromTable: String): String = s"""
      toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM $fromTable),
      sh AS (
        SELECT doc_id,
          list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                         FOR i IN range(1, len(tk) - 1)]) AS sg
        FROM toks WHERE len(tk) >= 3),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
            / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id)"""

  private val d2 = Relational.Q(
    "d2_dedup_minhash_lsh",
    (s, d) => nearDupPairsView(s, d),
    Some(s"""
      WITH ${pairwiseSql("documents")}
      SELECT doc_a, doc_b, ${r4Sql("j")} AS jaccard
      FROM pairs WHERE j >= 0.8 ORDER BY doc_a, doc_b"""))

  /** d3's WITHIN-BUCKET ALL-PAIRS spelling, kept as the measured winner
    * on SATURATED gram spaces (the round-10 experiment: this fixture has
    * 985 distinct 4-grams, median df 541 of ~5k docs at sf0.1, so prefix
    * grams hit hundreds of docs each and the prefix-index join produced
    * MORE pair work than the 588k bucketed merge-walks — 5.2-7.2 s vs
    * 3.8 s warm). Output-identical to [[ngramJaccardPrefixFiltered]];
    * [[ngramJaccardAuto]] picks between them from measured df stats.
    */
  /** The shared per-doc gram-set aggregate both d3 spellings (and the
    * auto-selector's stats) read: sorted + distinct is the contract for
    * the merge-walk intersect; the caller persists it so ONE
    * materialization feeds stats + candidate generation + both verify
    * fetches. Only the AGGREGATE is cached; the cheap doc-metadata join
    * stays outside the cache so AQE plans it fresh per consumer.
    */
  private def gramAgg(docs: DataFrame): DataFrame =
    // r17: ONE map-side codegen projection (SortedGramIdSet) replaces
    // the relational repartition + char posexplode + lead window +
    // groupBy(collect_set) pipeline — the set is a row-local function of
    // the text, so the two corpus-character-proportional exchanges were
    // pure overhead (guide §2.4; CharGramSetsSpec pins bit-equality,
    // incl. the sub-4-char docs-drop the filter reproduces).
    docs.select(col("doc_id"),
        graft.functions.SortedGramIdSet(lower(col("text")), 4).as("sg"))
      .filter(size(col("sg")) > 0)
      .withColumn("sz", size(col("sg")))

  def ngramJaccardBucketed(docs: DataFrame, t: Double = 0.62): DataFrame = {
    val gAgg = gramAgg(docs).persist()
    Materialize(ngramJaccardBucketedFrom(docs, gAgg, t), gAgg)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def ngramJaccardBucketedFrom(docs: DataFrame, gAgg: DataFrame,
      t: Double): DataFrame = {
    // the prefix twin's eps discipline: candidate filters loosened by
    // eps only admit extras (the exact verify discards them); a filter
    // tightened by double rounding silently drops boundary pairs
    val eps = 1e-6
    // meta is one slim row per corpus doc — corpus-linear, so no
    // broadcast hint (a forced driver broadcast caps out at 8 GB long
    // before 100 TB); AQE broadcasts it at bench scale on its own.
    val meta = docs
      .select(col("doc_id"), col("lang"), floor(col("n_chars") / 100).as("len_bkt"))
    val g = gAgg.join(meta, Seq("doc_id"))
    val a = g.select(col("lang"), col("len_bkt"), col("doc_id").as("doc_a"),
      col("sg").as("sg_a"), col("sz").as("sz_a"))
    val b = g.select(col("lang").as("lang_b"), col("len_bkt").as("len_bkt_b"),
      col("doc_id").as("doc_b"), col("sg").as("sg_b"), col("sz").as("sz_b"))
    // size-ratio bound inside the join condition: j >= t forces
    // min(|A|,|B|)/max(|A|,|B|) >= t, so non-viable pairs are dropped
    // during the probe, before their gram arrays are ever copied out
    val cands = a.join(b,
      col("lang") === col("lang_b") && col("len_bkt") === col("len_bkt_b")
        && col("doc_a") < col("doc_b")
        && col("sz_a").cast("double") >= col("sz_b").cast("double") * t - eps
        && col("sz_b").cast("double") >= col("sz_a").cast("double") * t - eps)
    // codegen'd merge-walk intersect (arrays pre-sorted); bound once as
    // a lambda variable so the walk runs once per pair
    val jac = element_at(
      transform(
        array(graft.functions.SortedIntersectSize(col("sg_a"), col("sg_b")).cast("double")),
        n => n / (col("sz_a") + col("sz_b") - n)),
      1)
    cands.withColumn("jaccard_exact", jac)
      .filter(col("jaccard_exact") >= t)
      .select(col("doc_a"), col("doc_b"), r4(col("jaccard_exact")).as("jaccard"))
  }

  /** The d3 spelling selector's evidence: median gram document-frequency
    * and corpus size. The df frame comes from the SHARED persisted gram
    * aggregate (per-doc sets are already distinct, so exploding them IS
    * the postings-df input — no second tokenize pass; the r12 bench
    * caught the naive recompute costing d3 ~1.4s), then an exact median
    * over the VOCAB-sized df frame (985 rows on the fixture; millions on
    * a real corpus, still never corpus-proportional).
    */
  def gramDfStats(docs: DataFrame): (Double, Long) = {
    val gAgg = gramAgg(docs).persist()
    val stats = gramDfStatsFrom(docs, gramDf(gAgg))
    gAgg.unpersist()
    stats
  }

  private def gramDf(gAgg: DataFrame): DataFrame =
    gAgg.select(explode(col("sg")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))

  private def gramDfStatsFrom(docs: DataFrame, dfG: DataFrame): (Double, Long) = {
    val row = dfG.agg(expr("percentile(df, 0.5)").as("median_df")).head()
    (row.getDouble(0), docs.select(col("doc_id")).count())
  }

  /** AUTO-SELECTED d3 (r11 verdict item 7): production shouldn't
    * hard-code either spelling — the bucket join wins on saturated gram
    * spaces, the prefix filter on high-entropy ones (both measured, both
    * output-identical, so the oracle never changes). The selector rule:
    * prefix buckets are near-singleton iff grams are rare, so pick the
    * PREFIX FILTER when median df < SaturationFrac·nDocs and the bucket
    * join otherwise. The threshold (1%) sits an order of magnitude below
    * the fixture's measured bucket-join regime (median df/n ≈ 0.11) and
    * orders above a real web corpus's (≪ 1e-3): the two regimes are
    * separated by decades, so the exact cut is not delicate. The stats
    * pass is one vocab-bounded aggregate; at 100 TB it runs on a corpus
    * sample or ships from the previous build's gram stats.
    */
  val SaturationFrac = 0.01

  def ngramJaccardAuto(docs: DataFrame, t: Double = 0.62): DataFrame = {
    // ONE persisted gram aggregate feeds the stats AND the chosen
    // spelling (and, on the prefix path, the df frame is reused as the
    // prefix index input) — the selector's marginal cost is one cached
    // explode-count + a vocab-sized median + a metadata count
    val gAgg = gramAgg(docs).persist()
    val dfG = gramDf(gAgg)
    val (medianDf, nDocs) = gramDfStatsFrom(docs, dfG)
    val pairs =
      if (pickPrefixFilter(medianDf, nDocs)) ngramJaccardPrefixFilteredFrom(docs, gAgg, dfG, t)
      else ngramJaccardBucketedFrom(docs, gAgg, t)
    // The pair output is BOUNDED (near-dup pairs above threshold, never
    // corpus-quadratic), so materialize it and release the corpus-sized
    // gram aggregate before returning (the r12 advice's no-leak
    // contract). Materialize the UNSORTED pairs and sort after: a global
    // orderBy under full-row materialization pays the range
    // partitioner's sampling pass, which re-executes the whole candidate
    // join (the r13 bench's 2 s on d3).
    Materialize(pairs, gAgg).orderBy(col("doc_a"), col("doc_b"))
  }

  /** The selector predicate, exposed so the spec pins each regime. */
  def pickPrefixFilter(medianDf: Double, nDocs: Long): Boolean =
    medianDf < SaturationFrac * nDocs

  // C3 — n-gram Jaccard similarity join: char-4-gram sets, blocked by
  // (lang, length bucket) so the exact join never goes quadratic; the
  // SPELLING is auto-selected from measured gram df stats (above).
  private val d3 = Relational.Q(
    "d3_dedup_ngram_jaccard",
    (s, d) => ngramJaccardAuto(Tables.documents(s, d)),
    Some(s"""
      WITH g AS (
        SELECT doc_id, lang, CAST(FLOOR(n_chars / 100) AS BIGINT) AS len_bkt,
          list_distinct([substr(lower(text), i, 4)
                         FOR i IN range(1, length(text) - 2)]) AS sg
        FROM documents WHERE length(text) >= 4),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
            / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j
        FROM g a JOIN g b
          ON a.lang = b.lang AND a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id
          AND len(a.sg) * 100 >= len(b.sg) * 62
          AND len(b.sg) * 100 >= len(a.sg) * 62)
      SELECT doc_a, doc_b, ${r4Sql("j")} AS jaccard
      FROM pairs WHERE j >= 0.62 ORDER BY doc_a, doc_b"""))

  /** d3's PREFIX-FILTERED twin (Bayardo, Ma & Srikant 2007 "Scaling Up
    * All Pairs Similarity Search"; the PPJoin prefix filter) — provably
    * OUTPUT-IDENTICAL to the bucketed all-pairs spelling for J >= t:
    * under any global gram order, J(A,B) >= t forces
    * |A∩B| >= ceil(t·|A|), and the smallest common gram sits within the
    * first (sz - ceil(t·sz) + 1) grams of BOTH docs (everything before
    * it in either doc is outside the intersection) — so a pair sharing
    * no prefix gram cannot reach t, and candidate generation becomes an
    * EQUI-join on the prefix gram with slim (id, id) pairs driving an
    * id-equi verify fetch. The order is df-ASCENDING (rarest first,
    * ties by gram id): correctness needs only a total order; rarity
    * makes prefix buckets near-singleton on high-entropy gram spaces
    * (real web corpora — millions of distinct grams), which is where
    * this spelling wins. On THIS fixture's saturated gram space (985
    * distinct grams, median df 541) it measured SLOWER than the
    * all-pairs bucket join (5.2-7.2 s vs 3.8 s warm at sf0.1), so the
    * benched d3 keeps the bucket join and the spec pins this twin
    * set-equal — the crossover is documented, not guessed.
    */
  def ngramJaccardPrefixFiltered(docs: DataFrame, t: Double = 0.62): DataFrame = {
    val gAgg = gramAgg(docs).persist()
    Materialize(ngramJaccardPrefixFilteredFrom(docs, gAgg, gramDf(gAgg), t), gAgg)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def ngramJaccardPrefixFilteredFrom(docs: DataFrame, gAgg: DataFrame,
      dfG: DataFrame, t: Double): DataFrame = {
    // Candidate filters must be NO STRICTER than the real-arithmetic
    // bounds they encode, or the output-identical contract breaks at
    // boundary sizes (J == t exactly). Double rounding can push t*sz a
    // hair ABOVE its mathematical value (0.62*1000 -> 620.0000000000001),
    // so both the size-ratio filter and the prefix length subtract a
    // small epsilon: a filter loosened by eps only admits extra
    // candidates (the exact verify below discards them); a filter
    // tightened by rounding silently DROPS true pairs.
    val eps = 1e-6
    val meta = docs
      .select(col("doc_id"), col("lang"), floor(col("n_chars") / 100).as("len_bkt"))
    val dg = gAgg.select(col("doc_id"), explode(col("sg")).as("g"))
    val pfx = dg.join(dfG, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("og"),
        count(lit(1)).as("sz"))
      .select(col("doc_id"), col("sz"),
        explode(slice(transform(col("og"), x => x.getField("g")), lit(1),
          (col("sz") - ceil(col("sz") * t - eps) + 1).cast("int"))).as("g"))
      .join(meta, Seq("doc_id"))
    val ia = pfx.select(col("g"), col("lang"), col("len_bkt"),
      col("doc_id").as("doc_a"), col("sz").as("sz_a"))
    val ib = pfx.select(col("g"), col("lang").as("lang_b"),
      col("len_bkt").as("len_bkt_b"), col("doc_id").as("doc_b"), col("sz").as("sz_b"))
    val candIds = ia.join(ib,
        ia("g") === ib("g") && col("lang") === col("lang_b")
          && col("len_bkt") === col("len_bkt_b")
          && col("doc_a") < col("doc_b")
          && col("sz_a").cast("double") >= col("sz_b").cast("double") * t - eps
          && col("sz_b").cast("double") >= col("sz_a").cast("double") * t - eps)
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val cands = candIds
      .join(gAgg.select(col("doc_id").as("doc_a"), col("sg").as("sg_a"),
        col("sz").as("sz_a")), Seq("doc_a"))
      .join(gAgg.select(col("doc_id").as("doc_b"), col("sg").as("sg_b"),
        col("sz").as("sz_b")), Seq("doc_b"))
    val jac = element_at(
      transform(
        array(graft.functions.SortedIntersectSize(col("sg_a"), col("sg_b")).cast("double")),
        n => n / (col("sz_a") + col("sz_b") - n)),
      1)
    cands.withColumn("jaccard_exact", jac)
      .filter(col("jaccard_exact") >= t)
      .select(col("doc_a"), col("doc_b"), r4(col("jaccard_exact")).as("jaccard"))
  }

  // C4 — SimHash near-dup pairs. The token hash is the md5-derived 56-bit
  // value (HashFunctions.md5Hash56) both engines compute identically, so
  // the FULL pipeline — sign-vote simhash, hamming <= 4 pairing — is
  // oracle-checked against DuckDB's exact all-pairs answer (the
  // combination-key blocking below is provably lossless at hamming <= 4,
  // so pruned Spark == unpruned oracle, the x3 pattern).
  private val d4 = Relational.Q(
    "d4_dedup_simhash",
    (s, d) => {
      // Same explode->aggregate shape as d2, via the single-pass SimHash64
      // imperative aggregate (SURVEY H3): all bit votes update in one
      // tight loop per token hash, sign-packed at eval. Bits 56-63 of the
      // 56-bit hash are constant 0 -> vote negative -> simhash bits 56-63
      // are 0; hamming and banding below therefore run on 56 live bits.
      val tokenHashes = Tables.spread(Tables.documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(H.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), H.md5Hash56(col("tok")).as("h"))
      val sh = tokenHashes.groupBy(col("doc_id"))
        .agg(graft.functions.SimHash64(col("h")).as("sh")).persist()
      // Combination-key blocking (C(8,4) = 70 composite keys/doc, 28 exact
      // bits each over the 8 x 7-bit parts): a hamming<=4 pair leaves >=4
      // of 8 bit-parts untouched, so some 4-part subset matches in full —
      // recall guaranteed, while measured raw candidate volume at sf0.1
      // drops 17.6x (1.10M -> 62k) and the largest bucket from 770 to 27
      // docs (no straggler task) vs round 1's single 13-bit bands on
      // vocabulary-biased simhash bits.
      val banded = sh.select(col("doc_id"), col("sh"),
        explode(H.simhashCombinationKeys(col("sh"), 8, 4, 56)).as("band"))
      val a = banded.select(col("band"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = banded.select(col("band"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      a.join(b, Seq("band"))
        .filter(col("doc_a") < col("doc_b"))
        // cheap codegen'd hamming filter BEFORE the dedup shuffle: raw
        // band-collision candidates never hit the exchange
        .withColumn("hamming", H.hamming64(col("sh_a"), col("sh_b")).cast("long"))
        .filter(col("hamming") <= 4)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .dropDuplicates("doc_a", "doc_b")
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // Oracle: exact all-pairs over the identical 56-bit simhash — per-bit
    // sign votes over the token-hash multiset, bit i set iff vote > 0.
    Some(s"""
      WITH tok AS (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents),
      h AS (
        SELECT doc_id, ${H.md5Hash56Sql("tok")} AS h
        FROM tok),
      votes AS (
        SELECT doc_id, i,
          SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, (SELECT unnest(range(0, 56)) AS i) bits
        GROUP BY doc_id, i),
      sh AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sh
        FROM votes GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sh, b.sh)) <= 4
      ORDER BY doc_a, doc_b"""))

  // C5 — embedding near-dup pairs by cosine, EXACT (oracle-checked), via
  // triangle partitioning: ids hash into B groups; each vector is
  // replicated to the B buckets {(min(g,j), max(g,j))} containing its
  // group, pairs are computed inside each of the B(B+1)/2 buckets by an
  // EQUI-join on the bucket key, and every unordered pair lands in exactly
  // one surviving bucket (the (min,max) of its two groups; same-group
  // pairs only count in the diagonal). The n²/2 comparisons are inherent
  // to exact all-pairs semantics, but this spreads them evenly over
  // B(B+1)/2 shuffle tasks with B-fold input replication — the standard
  // distributed exact all-pairs shape (no BroadcastNestedLoopJoin, no
  // driver-held corpus; at 1000 executors pick B ~ 45 for ~1000 buckets).
  // The sub-quadratic approximate path at scale remains Similarity.s3.
  /** The shared triangle-replication side-builder (d5's machinery,
    * factored out so d17's within-bucket pairwise reuses it verbatim):
    * adds (`grpAs`, k1, k2) to a frame keyed by `idCol` — the row's
    * group g = id mod B, replicated to the B buckets
    * {(min(g,j), max(g,j)) : j < B}. An equi-join of two such frames on
    * k1/k2 (plus any coarser keys) meets every unordered pair in at
    * least one bucket; [[trianglePairFilter]] keeps exactly one
    * occurrence. B-fold input replication buys B(B+1)/2-way spread of
    * the inherent n²/2 pair work — no task ever sees more than
    * (n/B)-sized sides.
    */
  def triangleSide(df: DataFrame, idCol: String, grpAs: String, B: Int): DataFrame =
    df.withColumn(grpAs, pmod(col(idCol), lit(B)))
      .select(df.columns.map(col) :+ col(grpAs) :+
        explode(array((0 until B).map(j =>
          struct(least(col(grpAs), lit(j)).as("k1"),
            greatest(col(grpAs), lit(j)).as("k2"))): _*)).as("bk"): _*)
      .select(df.columns.map(col) :+ col(grpAs) :+
        col("bk.k1").as("k1") :+ col("bk.k2").as("k2"): _*)

  /** Same-group pairs appear in every bucket containing g — keep only
    * the diagonal occurrence; cross-group pairs meet exactly once.
    */
  def trianglePairFilter(ga: String, gb: String): Column =
    col(ga) =!= col(gb) || (col("k1") === col(ga) && col("k2") === col(ga))

  private val d5 = Relational.Q(
    "d5_dedup_embedding",
    (s, d) => {
      val B = 8
      val e = Tables.embeddings(s, d)
      def sides(id: String, v: String, g: String) = triangleSide(
        Tables.spread(e.select(col("vec_id").as(id), col("embedding").as(v))), id, g, B)
      val a = sides("id_a", "va", "ga")
      val b = sides("id_b", "vb", "gb")
      a.join(b, Seq("k1", "k2"))
        .filter(col("id_a") < col("id_b"))
        .filter(trianglePairFilter("ga", "gb"))
        .withColumn("cos", CosF(col("va"), col("vb")))
        .filter(col("cos") >= 0.4)
        .select(col("id_a"), col("id_b"), r4(col("cos")).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""
      WITH pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_reduce(list_transform(list_zip(a.embedding, b.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
          / sqrt(
              list_reduce(list_transform(a.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)
              * list_reduce(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, ${r4Sql("cos")} AS cosine
      FROM pairs WHERE cos >= 0.4 ORDER BY id_a, id_b"""))

  // C6 — near-dup CLUSTER formation: connected components over d2's
  // verified pair graph, so a corpus-cleaning pass can keep one canonical
  // doc per duplicate cluster instead of reasoning pair-by-pair. Min-label
  // propagation: every node starts labeled with itself; each round every
  // node takes the min label in its neighborhood; fixpoint = components.
  //
  // This is the one legitimately ITERATIVE operator in the engine — each
  // round is one shuffle join + one map-side-combinable min aggregate
  // plus a pointer-jump (lbl <- lbl's lbl), and localCheckpoint truncates
  // lineage so round N's plan doesn't embed rounds 1..N-1. Convergence is
  // detected via sum(lbl), a single-row aggregate per round (labels only
  // decrease, so an unchanged sum means a fixpoint — no row-level
  // comparison needed). The pointer-jump halves the distance a min label
  // still has to travel, so rounds needed = O(log diameter) — 30 rounds
  // cover any graph that fits in storage — and non-convergence within the
  // cap THROWS rather than returning silently wrong clusters. At
  // 1000-executor scale the same loop runs as alternating
  // large-star/small-star (Kiveris et al., "Connected Components in
  // MapReduce"); the per-round join shape is identical.
  /** Connected components over an undirected (doc_a, doc_b) pair frame —
    * d6's core, factored out so the chain/empty/convergence edge cases
    * are directly testable. Returns (doc_id, cluster_id, cluster_size)
    * for every node that appears in a pair, cluster_id = min member id.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
      val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .persist()
      var labels = edges.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
        .localCheckpoint()
      var prevSum = Long.MinValue
      var converged = labels.isEmpty // a dup-free corpus: no propagation, no rows
      var round = 0
      while (!converged && round < maxRounds) {
        val neighborMin = edges
          .join(labels.select(col("node").as("v"), col("lbl").as("vlbl")), Seq("v"))
          .groupBy(col("u"))
          .agg(min(col("vlbl")).as("nlbl"))
        val propagated = labels
          .join(neighborMin.select(col("u").as("node"), col("nlbl")), Seq("node"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        // pointer-jump: follow one hop of the label chain (lbl is itself a
        // node id), turning linear-diameter propagation into logarithmic
        labels = propagated
          .join(propagated.select(col("node").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
          .select(col("node"), least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
          .localCheckpoint()
        val sum = labels.agg(org.apache.spark.sql.functions.sum(col("lbl"))).head().getLong(0)
        converged = sum == prevSum
        prevSum = sum
        round += 1
      }
      // beyond-design-diameter fallback: hand the graph to the
      // alternating-star algorithm instead of failing the job — same
      // output contract, round count bounded by O(log^2 n) regardless of
      // diameter (the pointer-jump cap assumes diameter <= 2^maxRounds).
      // Free this loop's cached edge frame first: the star path builds
      // its own edge state, and abandoned persist() blocks would pin
      // storage for the rest of the session on every fallback.
      if (!converged) { edges.unpersist(); return connectedComponentsStar(pairs) }
      edges.unpersist() // final select reads only the checkpointed labels
      val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
      labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
        .withColumn("cluster_size", count(lit(1)).over(wc).cast("long"))
        .orderBy(col("doc_id"))
  }

  /** Alternating large-star / small-star connected components (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * arbitrary-diameter path behind [[connectedComponents]], which falls
    * back here when its pointer-jump cap is exhausted. State is the EDGE
    * set only (no per-node label frame): each round rewrites edges with
    * two neighborhood-min aggregates + joins, all map-side-combinable,
    * and converges to one star per component centered at the component's
    * min node in O(log^2 n) rounds independent of diameter.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(N(u) ∪ {u});
    *  - small-star(u), edges oriented child u > parent v: every parent
    *    and u itself re-attach to m = min(N(u) ∪ {u}).
    *
    * Fixpoint = edge set stable across one full (large, small) round,
    * probed by a single-row (count, order-independent BIT_XOR-of-hash)
    * aggregate (xor, not sum: hash values span the full long range and
    * an ANSI-mode sum overflows) — the same bounded-driver-action
    * budget as the pointer-jump loop's sum(lbl) probe. Same output contract as
    * [[connectedComponents]]: (doc_id, cluster_id = min member,
    * cluster_size) for every node appearing in a pair.
    */
  def connectedComponentsStar(pairs: DataFrame, maxRounds: Int = 60): DataFrame = {
    // canonical orientation, SELF-LOOPS INCLUDED, materialized once: the
    // edge rounds and the final node-set union both read this checkpoint
    // — deriving the node set from `pairs` directly would re-run the
    // caller's entire pair pipeline (LSH + verify in the d2 fallback
    // case) a second time
    val canon = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .dropDuplicates("u", "v")
      .localCheckpoint()
    var edges = canon
      .filter(col("u") =!= col("v"))
      .localCheckpoint()
    var prev = (-1L, -1L)
    var converged = edges.isEmpty
    val emptyDone = converged // no edges at all: fall through to the final select
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star over the full (bidirectional) neighborhood
      val nbr = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = nbr.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val afterLarge = nbr.join(mLarge, Seq("u"))
        .filter(col("v") > col("u"))
        // child v > u >= m: output stays (child, parent)-oriented
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .dropDuplicates("u", "v")
      // small-star over the smaller-neighbor set (edges already child>parent)
      val mSmall = afterLarge.groupBy(col("u"))
        .agg(min(col("v")).as("m")) // all v < u, so min(N∪{u}) = min(v)
      val afterSmall = afterLarge.join(mSmall, Seq("u"))
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .dropDuplicates("u", "v")
      edges = afterSmall.localCheckpoint()
      val probe = edges.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      val cur = (probe.getLong(0), if (probe.isNullAt(1)) 0L else probe.getLong(1))
      converged = cur == prev
      prev = cur
      round += 1
    }
    if (!converged && !emptyDone)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxRounds rounds")
    // The (count, xor-of-hash) fixpoint probe has a ~2^-64 collision
    // window: two DISTINCT consecutive edge sets with equal count and
    // colliding xor would exit the loop early and emit silently wrong
    // clusters. Before trusting the terminal set, validate it actually
    // IS a star forest — every member u has exactly ONE root, and no
    // node appears as both a member (u) and a root (v). Two cheap
    // aggregates over the checkpointed final frame; throw on violation,
    // mirroring the non-convergence throw.
    if (!emptyDone) {
      val multiRoot = !edges.groupBy(col("u"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).isEmpty
      val chained = !edges.select(col("u"))
        .join(edges.select(col("v").as("u")), Seq("u"), "left_semi").isEmpty
      if (multiRoot || chained)
        throw new IllegalStateException(
          "connectedComponentsStar terminal edge set is not a star forest " +
            s"(multiRoot=$multiRoot chained=$chained) — xor-probe fixpoint collision")
    }
    // fixpoint edges are (member, root) stars; roots appear only as v.
    // Contract parity with the pointer-jump path: nodes appearing ONLY
    // in self-pairs (u == v, filtered out of the edge set) must still
    // come back as singleton components — union them in from the
    // original pair frame's node set.
    val fromEdges = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .dropDuplicates("doc_id", "cluster_id")
    val allNodes = canon.select(col("u").as("doc_id"))
      .unionByName(canon.select(col("v").as("doc_id"))).distinct()
    val singletons = allNodes.join(fromEdges.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    val assign = fromEdges.unionByName(singletons)
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    assign
      .withColumn("cluster_size", count(lit(1)).over(wc).cast("long"))
      .orderBy(col("doc_id"))
  }

  private val d6 = Relational.Q(
    "d6_dedup_clusters",
    (s, d) => nearDupClustersView(s, d),
    // Oracle: the SHARED d2 pairwise near-dup SQL (pairwiseSql — one
    // definition for both oracles) feeds a recursive CTE that enumerates
    // reachable labels; MIN per node = component id. UNION (not ALL)
    // dedups the frontier so cyclic graphs terminate.
    Some(s"""
      WITH RECURSIVE ${pairwiseSql("documents")},
      pr AS (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.8),
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pr
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pr),
      reach(node, lbl) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v),
      comp AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
      SELECT doc_id, cluster_id,
        CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
      FROM comp ORDER BY doc_id"""))

  // C7 — canonical-doc selection: per near-dup cluster keep the HIGHEST-
  // QUALITY member (not the min id) — the retention policy a production
  // cleaning pipeline actually wants. Composition of C6's clusters with
  // E2's quality score; the winner is a map-side-combinable max_by over
  // (quality, -doc_id), so ties break to the smaller id deterministically
  // in both engines (quality is r4-quantized, hence cross-engine-exact).
  private val d7 = Relational.Q(
    "d7_dedup_canonical",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val clusters = nearDupClustersView(s, d)
      val quality = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      clusters.join(quality, Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(
          max_by(col("doc_id"),
            struct(col("quality"), (-col("doc_id")).as("tie"))).as("keep_id"),
          max(col("quality")).as("keep_quality"),
          count(lit(1)).as("n_members"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""
      WITH RECURSIVE ${pairwiseSql("documents")},
      pr AS (SELECT doc_a, doc_b FROM pairs WHERE j >= 0.8),
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pr
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pr),
      reach(node, lbl) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v),
      comp AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
      q AS (
        SELECT doc_id, ${TextAnalysis.qualityScoreSql("text")} AS quality
        FROM documents),
      ranked AS (
        SELECT c.cluster_id, c.doc_id, q.quality,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                             ORDER BY q.quality DESC, c.doc_id) AS rk,
          COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
        FROM comp c JOIN q USING (doc_id))
      SELECT cluster_id, doc_id AS keep_id, quality AS keep_quality,
        CAST(n_members AS BIGINT) AS n_members
      FROM ranked WHERE rk = 1 ORDER BY cluster_id"""))

  // C8 — benchmark decontamination: flag every corpus document that shares
  // an 8-token word-gram with a held-out benchmark set (here the doc_id %
  // 20 == 0 slice stands in for an eval suite) — the standard "n-gram
  // overlap" test-set-leak scrub an LLM training pipeline runs before
  // training. Scale shape: benchmark suites are tiny (MBs) next to a
  // 100 TB corpus, so the distinct benchmark gram-hash set is BROADCAST
  // and the corpus side never shuffles on grams at all — each corpus
  // partition probes the broadcast set and only the per-doc hit counts
  // (one row per contaminated doc) reach the aggregate. Grams are hashed
  // to 64-bit the moment they're formed (d2's contract: equality on
  // xxhash64 == equality on the gram string, collision odds ~|grams|²/2⁶⁴)
  // so the broadcast carries longs, not 8-word strings.
  /** Per-doc distinct n-token word-gram hashes of a (doc_id, text) frame
    * — d8's building block, also the batch twin of the streaming
    * decontamination operator's row-local gram hashing.
    */
  def wordGramHashes(docs: DataFrame, n: Int): DataFrame =
    wordGramHashesBy(docs, n, md5 = false)

  /** x11's variant: the cross-engine md5-56 gram hash instead of
    * xxhash64 (the bloom artifact must be DuckDB-replayable).
    */
  def wordGramHashesMd5(docs: DataFrame, n: Int): DataFrame =
    wordGramHashesBy(docs, n, md5 = true)

  // r17: the per-doc distinct gram-hash set is a row-local function of
  // the text, so the old posexplode + n−1 lead windows + dropDuplicates
  // pipeline (two corpus-token-proportional exchanges) collapses into
  // one codegen projection (guide §2.4; WordGramHashSetSpec pins both
  // hash variants bit-equal to the relational spelling). spread() keeps
  // the heavy per-row hashing parallel on few-file scans.
  private def wordGramHashesBy(docs: DataFrame, n: Int, md5: Boolean): DataFrame =
    Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(graft.functions.WordGramHashSet(col("text"), n, md5)).as("g"))

  /** Row-local twin of [[wordGramHashes]] for STREAMING inputs — same
    * UTF8String tokenization (trim strips only ' ', locale-free lower,
    * split keeps trailing empties; see [[minhashBandedLocal]]'s
    * rationale), same gram join (" "), same xxhash64 seed 42 — so a
    * benchmark gram set built by the batch pipeline is directly probeable
    * from a stream. Spec-pinned bit-identical to the batch column.
    */
  def wordGramHashesLocal(text: String, n: Int): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    // null text: tokensLocal yields no tokens — a null doc is clean,
    // not a query-killing NPE (matches the batch twin's split(null))
    val tk = graft.functions.HashFunctions.tokensLocal(text)
    if (tk.length < n) Array.empty
    else tk.sliding(n)
      .map(g => XXH64.hashUTF8String(UTF8String.fromString(g.mkString(" ")), 42L))
      .toArray.distinct
  }

  /** d8's core, over any (doc_id, text) frame: for every non-benchmark
    * doc, the number of distinct `n`-token word-grams it shares with the
    * benchmark slice (`isBench` selects it), and a contaminated flag.
    */
  def decontaminate(docs: DataFrame, isBench: Column, n: Int = 8): DataFrame = {
      val base = docs.select(col("doc_id"), col("text"))
      // gram the two slices SEPARATELY: the benchmark slice is a filtered
      // scan (at 100 TB: a different, tiny table entirely), so the corpus
      // gram pipeline runs once over the corpus slice only — no shared
      // subtree recomputed per consumer, and the pushed-down filters reach
      // each scan
      val benchGrams = wordGramHashes(base.filter(isBench), n)
        .select(col("g")).distinct()
      val hits = wordGramHashes(base.filter(!isBench), n)
        .join(broadcast(benchGrams), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
      base.filter(!isBench).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
        .withColumn("contaminated", col("n_shared_grams") > 0)
        .orderBy(col("doc_id"))
  }

  private val d8 = Relational.Q(
    "d8_decontaminate",
    (s, d) => decontaminate(Tables.documents(s, d), col("doc_id") % 20 === 0),
    Some("""
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
        FROM documents),
      g AS (
        SELECT doc_id,
          list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] ||
            ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7]
            FOR i IN range(1, len(tk) - 6)]) AS gs
        FROM toks WHERE len(tk) >= 8),
      bench AS (
        SELECT DISTINCT unnest(gs) AS bg FROM g WHERE doc_id % 20 = 0),
      cand AS (
        SELECT doc_id, unnest(gs) AS cg FROM g WHERE doc_id % 20 != 0),
      hits AS (
        SELECT doc_id, COUNT(*) AS n FROM cand JOIN bench ON cg = bg
        GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(h.n, 0) AS n_shared_grams,
        COALESCE(h.n, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 20 != 0 ORDER BY d.doc_id"""))

  /** C23's core: GRADED contamination share — d8 answers "does this doc
    * share ANY benchmark gram" (the binary gate); threshold TUNING needs
    * the graded signal: what fraction of each doc's distinct grams is
    * benchmark text, and a severity class (a doc quoting one benchmark
    * sentence is a different decision than a doc that IS the benchmark).
    * Share and severity are exact-integer derived (one r4 division for
    * the display pct; the class cuts are integer cross-multiplications),
    * so the whole frame is oracle-checkable.
    *
    * Scale: improves on d8's two-consumer shape — the corpus gram
    * pipeline feeds ONE aggregate via a LEFT join against the broadcast
    * benchmark-gram frame (hit marker), so total grams and shared grams
    * come out of a single pass; the benchmark side stays the d8
    * eval-suite-bounded broadcast.
    */
  def contaminationShare(docs: DataFrame, isBench: Column, n: Int = 8): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val benchGrams = wordGramHashes(base.filter(isBench), n)
      .select(col("g")).distinct()
      .withColumn("hit", lit(1L))
    val per = wordGramHashes(base.filter(!isBench), n)
      .join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
    base.filter(!isBench).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("share_pct", r4(col("n_shared") * 100.0 /
        greatest(col("n_grams"), lit(1L))))
      // integer-exact class cuts: trace < 5% <= partial < 50% <= saturated
      .withColumn("severity",
        when(col("n_shared") === 0L, "clean")
          .when(col("n_shared") * 20 < col("n_grams"), "trace")
          .when(col("n_shared") * 2 < col("n_grams"), "partial")
          .otherwise("saturated"))
      .orderBy(col("doc_id"))
  }

  // C23 — graded contamination share, FULL oracle (d8's string-gram
  // respelling with a LEFT join + conditional count).
  private val d23 = Relational.Q(
    "d23_contamination_share",
    (s, d) => contaminationShare(Tables.documents(s, d), col("doc_id") % 20 === 0),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM documents),
      g AS (
        SELECT doc_id,
          list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] ||
            ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7]
            FOR i IN range(1, len(tk) - 6)]) AS gs
        FROM toks WHERE len(tk) >= 8),
      bench AS (
        SELECT DISTINCT unnest(gs) AS bg FROM g WHERE doc_id % 20 = 0),
      cand AS (
        SELECT doc_id, unnest(gs) AS cg FROM g WHERE doc_id % 20 != 0),
      per AS (
        SELECT doc_id, COUNT(*) AS n_grams,
          CAST(SUM(CASE WHEN b.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        FROM cand LEFT JOIN bench b ON cand.cg = b.bg
        GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(p.n_grams, 0) AS n_grams,
        COALESCE(p.n_shared, 0) AS n_shared,
        ${r4Sql("COALESCE(p.n_shared, 0) * 100.0 / greatest(COALESCE(p.n_grams, 0), 1)")} AS share_pct,
        CASE WHEN COALESCE(p.n_shared, 0) = 0 THEN 'clean'
             WHEN COALESCE(p.n_shared, 0) * 20 < COALESCE(p.n_grams, 0) THEN 'trace'
             WHEN COALESCE(p.n_shared, 0) * 2 < COALESCE(p.n_grams, 0) THEN 'partial'
             ELSE 'saturated' END AS severity
      FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
      WHERE d.doc_id % 20 != 0 ORDER BY d.doc_id"""))

  /** C24's core: the DEDUP-RATE summary every corpus release reports —
    * one row of corpus-level effectiveness numbers for the exact-dedup
    * layers: raw doc count, distinct whitespace-normalized content
    * hashes (d1's key), distinct NFC-canonical hashes (d19's key), and
    * the r4 duplicate-rate percentages each implies. Exact integers +
    * two r4 divisions — fully oracle-checkable; one scan, two
    * map-side-combinable distinct aggregates, a one-row result (the
    * p5 corpus-card class — publish it with each snapshot).
    */
  def dedupRates(docs: DataFrame): DataFrame = {
    import graft.functions.NfcNormalize
    docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(normHash(col("text"))).as("n_distinct_norm"),
        countDistinct(md5(NfcNormalize(col("text")))).as("n_distinct_nfc"))
      .select(col("n_docs"), col("n_distinct_norm"), col("n_distinct_nfc"),
        r4((col("n_docs") - col("n_distinct_norm")) * 100.0 /
          greatest(col("n_docs"), lit(1L))).as("dup_pct_norm"),
        r4((col("n_docs") - col("n_distinct_nfc")) * 100.0 /
          greatest(col("n_docs"), lit(1L))).as("dup_pct_nfc"))
  }

  // C24 — corpus dedup rates, FULL oracle (DuckDB replays both hash keys:
  // d1's whitespace normalization and t23's nfc_normalize).
  private val d24 = Relational.Q(
    "d24_dedup_rates",
    (s, d) => dedupRates(Tables.documents(s, d)),
    Some(s"""
      WITH a AS (
        SELECT COUNT(*) AS n_docs,
          CAST(COUNT(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS BIGINT) AS n_distinct_norm,
          CAST(COUNT(DISTINCT md5(nfc_normalize(text))) AS BIGINT) AS n_distinct_nfc
        FROM documents)
      SELECT n_docs, n_distinct_norm, n_distinct_nfc,
        ${r4Sql("(n_docs - n_distinct_norm) * 100.0 / greatest(n_docs, 1)")} AS dup_pct_norm,
        ${r4Sql("(n_docs - n_distinct_nfc) * 100.0 / greatest(n_docs, 1)")} AS dup_pct_nfc
      FROM a"""))

  /** C9's core over any (doc_id, text) frame: flag documents dominated by
    * corpus-repeated segments — the line-dedup / boilerplate-removal stage
    * of CCNet-style corpus cleaning, re-expressed for newline-free text as
    * non-overlapping `w`-word positional segments. A segment is boilerplate
    * when it occurs in >= `minDf` distinct documents.
    *
    * Plan shape (every shuffle keyed, never a cross join): map-side word
    * posexplode -> ONE (doc_id, seg) hash aggregate where each of the `w`
    * slot words lands in its own conditional-max column (pure codegen —
    * no collect_list ordering hazard, no interpreted HOFs) -> md5 the
    * joined segment -> segment df on the hash key -> slim (hash, df) join
    * back -> per-doc aggregate. The df frame never carries text.
    */
  def boilerplateSegments(docs: DataFrame, w: Int, minDf: Int): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val words = Tables.spread(base)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val slots = (0 until w).map(i =>
      max(when(col("pos") % w === i, col("w"))).as(s"w$i"))
    val segs = words
      .groupBy(col("doc_id"), floor(col("pos") / w).cast("long").as("seg"))
      .agg(slots.head, (slots.tail :+ count(lit(1)).as("nw")): _*)
      .filter(col("nw") === w) // trailing partial segment dropped
      .select(col("doc_id"),
        md5(concat_ws(" ", (0 until w).map(i => col(s"w$i")): _*)).as("h"))
    // NO persist (the d15 library-hygiene contract, applied for
    // consistency): both the df aggregate and the join back recompute
    // this slim (doc_id, h) pipeline — paying one extra explode+aggregate
    // beats pinning a corpus-sized frame in block storage the caller
    // never asked for; a multi-pass pipeline stages it to parquet (the
    // d2 written-artifact discipline) instead
    val df = segs.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("ndocs"))
    val perDoc = segs.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("ndocs") >= minDf, 1L).otherwise(0L)).as("n_boilerplate"))
    base.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_boilerplate"), lit(0L)).as("n_boilerplate"))
      .withColumn("bp_pct", r4(col("n_boilerplate") * 100.0 /
        greatest(col("n_segments"), lit(1L))))
      // keep when boilerplate <= 30% of segments — integer-exact gate
      // (n_b*10 <= n_s*3), so the cut never rides on a float compare
      .withColumn("keep", col("n_boilerplate") * 10 <= col("n_segments") * 3)
      .orderBy(col("doc_id"))
  }

  // C9 — repeated-segment boilerplate detection.
  private val d9 = Relational.Q(
    "d9_boilerplate_segments",
    (s, d) => boilerplateSegments(Tables.documents(s, d), 3, 3),
    Some("""
      WITH segs AS (
        SELECT doc_id,
          md5(array_to_string(words[(i-1)*3+1 : (i-1)*3+3], ' ')) AS h
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t,
             UNNEST(generate_series(1, len(words) // 3)) AS g(i)),
      sdf AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM segs GROUP BY h),
      per_doc AS (
        SELECT s.doc_id, COUNT(*) AS n_segments,
          CAST(SUM(CASE WHEN sdf.ndocs >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate
        FROM segs s JOIN sdf USING (h) GROUP BY s.doc_id)
      SELECT d.doc_id,
        COALESCE(p.n_segments, 0) AS n_segments,
        COALESCE(p.n_boilerplate, 0) AS n_boilerplate,
        (FLOOR((COALESCE(p.n_boilerplate, 0) * 100.0 / GREATEST(COALESCE(p.n_segments, 0), 1))*10000.0+0.5)/10000.0) AS bp_pct,
        (COALESCE(p.n_boilerplate, 0) * 10 <= COALESCE(p.n_segments, 0) * 3) AS keep
      FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
      ORDER BY d.doc_id"""))

  /** C10's core: asymmetric containment pairs — doc A whose shingle set
    * is >= `minContainment` contained in doc B (|A∩B|/|A|, the
    * quote/subset relation Jaccard near-dup CANNOT see: a paragraph
    * lifted into a long doc has tiny Jaccard but containment ~1).
    *
    * Candidate generation is a PREFIX FILTER (the set-similarity-join
    * technique), provably lossless by pigeonhole: if B misses at most
    * floor((1-τ)·|A|) of A's shingles, then among any floor((1-τ)·|A|)+1
    * of A's shingles at least one is in B — so A probes with its
    * floor((1-τ)·|A|)+1 SMALLEST shingle hashes (sg is already sorted)
    * against the full inverted index, and no qualifying pair can escape.
    * Candidates are slim id pairs deduped before any payload moves;
    * exact verify via the codegen merge-walk.
    *
    * `indexDfCap` is the 100 TB knob: ubiquitous shingles fan candidates
    * out (a boilerplate header appearing in 10M docs puts 10M entries
    * under one index key), so with a cap D the inverted index keeps only
    * shingles with df <= D — and the prefix guarantee is PRESERVED, not
    * approximated, by re-aiming the probes:
    *
    *  - A containing pair (A ⊆τ B) means B misses at most
    *    m = floor((1-τ)·|A|) of A's shingles. If A has at least m+1
    *    shingles with df <= D, A probes its m+1 SMALLEST low-df shingle
    *    hashes: by pigeonhole at least one probed shingle is in B, and
    *    its df <= D means (h, B) IS in the capped index — recall 1.
    *  - The residue — docs with FEWER than m+1 low-df shingles (near-
    *    pure-boilerplate docs; a vanishing fraction of a real corpus) —
    *    probes ALL its shingles against the full uncapped index, which
    *    is trivially complete. The fanout the cap exists to kill is
    *    bounded by the residue's size, not the corpus's.
    *
    * Both paths over-generate candidates only; the exact merge-walk
    * verify makes the OUTPUT identical to the uncapped path (the spec
    * pins capped == uncapped, and d10 runs the capped path against the
    * exact all-pairs oracle).
    */
  def containmentPairs(docs: DataFrame, minContainment: Double = 0.8,
      indexDfCap: Option[Long] = None): DataFrame = {
    require(minContainment > 0.5 && minContainment <= 1.0,
      s"minContainment out of range: $minContainment")
    // cap >= 1: a cap of 0 would empty the index, routing EVERY doc down
    // the residue path — i.e. silently rebuilding the uncapped join
    indexDfCap.foreach(d => require(d >= 1, s"indexDfCap must be >= 1, got $d"))
    // persisted: candidate generation (up to 4 consumers in the capped
    // branch) and both verify sides read this one frame — unpersisted,
    // each consumer re-runs the whole shingle pipeline
    val stats = shingleSets(docs).persist()
    val withSz = stats.select(col("doc_id"), col("sg"), size(col("sg")).as("sz"))
    // p = floor((1-τ)·n)+1 probes make the pigeonhole argument tick
    val probeLen = (floor(col("sz") * (1.0 - minContainment)) + 1).cast("int")
    val cand = indexDfCap match {
      case None =>
        val probes = withSz
          .select(col("doc_id").as("doc_a"), explode(slice(col("sg"), lit(1), probeLen)).as("h"))
        val index = withSz.select(col("doc_id").as("doc_b"), explode(col("sg")).as("h"))
        probes.join(index, Seq("h"))
          .filter(col("doc_a") =!= col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
      case Some(cap) =>
        val occ = stats.select(col("doc_id"), explode(col("sg")).as("h"))
        val dfreq = occ.groupBy(col("h")).agg(count(lit(1)).as("df"))
        // shared by perDoc, the capped index, and both residue probes
        val occDf = occ.join(dfreq, Seq("h")).persist()
        // low_sg: the doc's df<=cap shingles in hash order (collect_list
        // skips the nulls the when() leaves for high-df shingles); sz is
        // the FULL shingle count — the missable-shingle bound is on |A|,
        // not on the low-df subset
        val perDoc = occDf.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(when(col("df") <= cap, col("h")))).as("low_sg"),
            count(lit(1)).as("sz"))
          .withColumn("p", (floor(col("sz") * (1.0 - minContainment)) + 1).cast("int"))
        val index = occDf.filter(col("df") <= cap).select(col("doc_id").as("doc_b"), col("h"))
        val mainProbes = perDoc.filter(size(col("low_sg")) >= col("p"))
          .select(col("doc_id").as("doc_a"), explode(slice(col("low_sg"), lit(1), col("p"))).as("h"))
        val mainCand = mainProbes.join(index, Seq("h"))
        val residueProbes = perDoc.filter(size(col("low_sg")) < col("p"))
          .select(col("doc_id").as("doc_a"))
          .join(occDf.select(col("doc_id").as("doc_a"), col("h")), Seq("doc_a"))
        val residueCand = residueProbes
          .join(occDf.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
        mainCand.unionByName(residueCand)
          .filter(col("doc_a") =!= col("doc_b"))
          .select(col("doc_a"), col("doc_b"))
    }
    val deduped = cand.dropDuplicates("doc_a", "doc_b")
    val a = stats.select(col("doc_id").as("doc_a"), col("sg").as("sg_a"))
    val b = stats.select(col("doc_id").as("doc_b"), col("sg").as("sg_b"))
    deduped.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("sg_a"), col("sg_b")).cast("double"))
      .withColumn("c", col("inter") / size(col("sg_a")))
      .filter(col("c") >= minContainment)
      .select(col("doc_a"), col("doc_b"), r4(col("c")).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // C10 — containment (quote/subset) detection, run WITH the index df
  // cap (the 100 TB configuration) so the driver's oracle pins the
  // capped path itself. Oracle is the exact all-ordered-pairs answer
  // over the same string shingles (the shared pairwiseSql fragment's
  // toks/sh CTEs; its Jaccard `pairs` CTE goes unused here) — valid as
  // ground truth because the capped prefix filter is exact (pigeonhole
  // + residue), not probabilistic.
  private val d10 = Relational.Q(
    "d10_containment",
    // cap 10: at sf0.1 this drops ~half the index occurrences (the
    // corpus is template-heavy: 27k distinct shingles over 5000 docs)
    // while routing only ~21 docs through the residue path — the oracle
    // equality below is therefore exercising REAL pruning, not a
    // vacuous cap above the max df
    (s, d) => containmentPairs(Tables.documents(s, d), 0.8, indexDfCap = Some(10L)),
    Some(s"""
      WITH ${pairwiseSql("documents")}
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        ${r4Sql("CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) / len(a.sg)")} AS containment
      FROM sh a JOIN sh b ON a.doc_id != b.doc_id
      WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE) / len(a.sg) >= 0.8
      ORDER BY doc_a, doc_b"""))

  /** C11's core: INCREMENTAL near-dup detection — a new document slice
    * deduped against an existing corpus without re-running pairwise dedup
    * over the corpus (the corpus-refresh shape: at 100 TB the staged
    * side's minhash stats are a written-once artifact, here rebuilt
    * because test corpora are small). Same LSH geometry and exact-verify
    * contract as d2, restricted to cross-slice pairs: new bands equi-join
    * staged bands on band_key, slim id pairs dedupe, merge-walk verify.
    * One docMinhashStats pass per side feeds BOTH its band view and its
    * verify arrays (no duplicate shingle pipeline).
    */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame,
      minJaccard: Double = 0.8): DataFrame =
    incrementalNearDups0(docMinhashStats(newDocs), docMinhashStats(corpus), minJaccard)

  /** Writes the per-doc minhash artifact (doc_id, sz, sig, sg) the
    * incremental path reads — the written-once, probed-per-refresh
    * deployment shape: a 100 TB corpus is sketched ONCE, and every
    * arriving slice dedups against the parquet artifact instead of
    * re-running the shingle pipeline over the corpus.
    */
  def writeMinhashArtifact(docs: DataFrame, path: String): Unit =
    docMinhashStats(docs).write.mode("overwrite").parquet(path)

  /** [[incrementalNearDups]] against a staged [[writeMinhashArtifact]]
    * parquet instead of a recomputed corpus — only the NEW slice pays
    * the shingle/minhash cost; the corpus side is a column-pruned scan.
    */
  def incrementalNearDupsFromArtifact(newDocs: DataFrame, artifact: DataFrame,
      minJaccard: Double = 0.8): DataFrame = {
    val ns = docMinhashStats(newDocs)
    incrementalFrom(ns, bandsOf(ns, "new_id"), artifact,
      bandsOf(artifact, "corpus_id"), minJaccard)
  }

  /** Writes the PRE-EXPLODED (band_key, doc_id) index DERIVED FROM the
    * already-written stats artifact — the corpus is sketched once (by
    * [[writeMinhashArtifact]]); this is a column-pruned (doc_id, sig)
    * scan of that parquet, never a second shingle/minhash pass. At
    * 100 TB, sort/bucket by band_key on write so the candidate join is
    * a co-located scan.
    */
  def writeBandIndex(statsArtifact: DataFrame, path: String): Unit =
    bandsOf(statsArtifact, "doc_id").write.mode("overwrite").parquet(path)

  /** [[writeBandIndex]] as a BUCKETED table on band_key (the G8 pattern
    * applied to the refresh artifact): the staged side of every refresh
    * probe then reads pre-partitioned — only the (small) arriving slice
    * shuffles on band_key, the corpus-sized index never does. Pass
    * `spark.table(table)` as the bandArtifact of
    * [[incrementalNearDupsFromArtifacts]]; bucketing metadata rides the
    * catalog, so the candidate equi-join plans with no Exchange on the
    * staged side (spec-asserted).
    */
  def writeBandIndexBucketed(statsArtifact: DataFrame, table: String, buckets: Int): Unit =
    ScaleUtils.writeBucketed(bandsOf(statsArtifact, "doc_id"), table, Seq("band_key"), buckets)

  /** The fully-staged refresh probe: stats AND band index both read from
    * [[writeMinhashArtifact]] / [[writeBandIndex]] parquet.
    *
    * `checkArtifacts` (default on) asserts the two artifacts describe the
    * same doc POPULATION — count plus an order-independent BIT_XOR over
    * per-doc id hashes (one cheap aggregate per side; a count-only guard
    * passes when one doc was replaced by another, the exact worst case
    * it documents) — because a stale band index would otherwise produce
    * candidates whose stats rows are gone, and the inner verify join
    * would SILENTLY drop those pairs: missed near-dups with no error,
    * the worst failure mode a dedup pipeline has. Disable only when the
    * caller guarantees co-publication.
    */
  def incrementalNearDupsFromArtifacts(newDocs: DataFrame, statsArtifact: DataFrame,
      bandArtifact: DataFrame, minJaccard: Double = 0.8,
      checkArtifacts: Boolean = true): DataFrame = {
    if (checkArtifacts) {
      def popCheck(df: DataFrame): (Long, Long) = {
        val r = df.select(col("doc_id")).distinct()
          .agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id))")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val statsPop = popCheck(statsArtifact)
      val bandPop = popCheck(bandArtifact)
      require(statsPop == bandPop,
        s"stats/band artifacts out of sync: (count, checksum) $statsPop vs $bandPop — " +
          "re-publish both from the same corpus snapshot")
    }
    val ns = docMinhashStats(newDocs)
    incrementalFrom(ns, bandsOf(ns, "new_id"), statsArtifact,
      bandArtifact.select(col("doc_id").as("corpus_id"), col("band_key")), minJaccard)
  }

  private def incrementalNearDups0(ns: DataFrame, cs: DataFrame,
      minJaccard: Double): DataFrame =
    incrementalFrom(ns, bandsOf(ns, "new_id"), cs, bandsOf(cs, "corpus_id"), minJaccard)

  private def bandsOf(stats: DataFrame, as: String): DataFrame = stats
    .select(col("doc_id").as(as), bandKeysExploded(col("sig")).as("band_key"))

  private def incrementalFrom(ns: DataFrame, nsBands: DataFrame, cs: DataFrame,
      csBands: DataFrame, minJaccard: Double): DataFrame = {
    val cand = nsBands.join(csBands, Seq("band_key"))
      .select(col("new_id"), col("corpus_id")).dropDuplicates("new_id", "corpus_id")
    val a = ns.select(col("doc_id").as("new_id"), col("sg").as("sg_a"))
    val b = cs.select(col("doc_id").as("corpus_id"), col("sg").as("sg_b"))
    cand.join(a, Seq("new_id")).join(b, Seq("corpus_id"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("sg_a"), col("sg_b")).cast("double"))
      .withColumn("j",
        col("inter") / (size(col("sg_a")) + size(col("sg_b")) - col("inter")))
      .filter(col("j") >= minJaccard)
      .select(col("new_id"), col("corpus_id"), r4(col("j")).as("jaccard"))
      .orderBy(col("new_id"), col("corpus_id"))
  }

  // C11 — incremental dedup of an arriving slice (doc_id % 10 == 0
  // stands in for "today's crawl") against the staged remainder. The
  // oracle is the exact cross-slice pairwise answer — valid ground truth
  // for the LSH pipeline by the same miss-probability argument d2
  // documents (~3e-8 at this corpus's j >= 0.88).
  private val d11 = Relational.Q(
    "d11_incremental_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      incrementalNearDups(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0))
    },
    Some(s"""
      WITH ${pairwiseSql("documents")}
      SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
        ${r4Sql("CAST(len(list_intersect(n.sg, c.sg)) AS DOUBLE) / (len(n.sg) + len(c.sg) - len(list_intersect(n.sg, c.sg)))")} AS jaccard
      FROM sh n JOIN sh c ON n.doc_id % 10 = 0 AND c.doc_id % 10 != 0
      WHERE CAST(len(list_intersect(n.sg, c.sg)) AS DOUBLE)
            / (len(n.sg) + len(c.sg) - len(list_intersect(n.sg, c.sg))) >= 0.8
      ORDER BY new_id, corpus_id"""))

  /** C12's core: EXACT cross-document repeated-span detection — the
    * suffix-array-style pass (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better") that minhash cannot express and d9's
    * fixed-width positional segments miss whenever a span straddles a
    * segment boundary. Spark-native spelling: anchor + diagonal islands.
    *
    *  1. Every position i of every doc emits its `w`-token gram — the
    *     anchor frame is slim (doc_id, pos, gram) rows, built map-side
    *     from the token array (no window, no per-doc sort).
    *  2. Cross-doc candidate anchors are ONE equi-join on the gram
    *     (bucket-joined on the gram key — never all-pairs).
    *  3. A shared span of L >= w tokens appears as L-w+1 CONSECUTIVE
    *     anchors on one (doc_a, doc_b, pos_a - pos_b) diagonal, so
    *     maximal spans fall out of gaps-and-islands: island id =
    *     pos_a - row_number() over a window partitioned by
    *     (doc_a, doc_b, diag) — partitions are bounded by a single
    *     pair's anchor count (doc-length-bounded, never corpus-sized).
    *
    * Output: one row per MAXIMAL shared span of >= minSpan tokens
    * (doc_a, doc_b, start_a, start_b, span_tokens), 1-based token
    * positions. Exact by construction for the >= minSpan contract:
    * every such span is fully anchored, its island is its exact extent,
    * and anchors join on the raw gram STRING (no hash collisions).
    *
    * 100 TB notes: at scale the gram key would be xxhash64 with the
    * string equality re-checked on the collapsed spans, and the anchor
    * join's fanout is sum(df^2) over distinct grams — quadratic only in
    * ubiquitous grams, which is why this pass runs AFTER d1 (exact dups)
    * and d9 (boilerplate) have removed the df mass; the window never
    * sees more rows per partition than one document pair's overlap.
    */
  /** Every-position `w`-token anchor grams (doc_id, pos, gram), 1-based
    * positions, built map-side from the token array — the shared anchor
    * frame of [[substringSpans]] (cross-doc) and [[selfRepeatSpans]]
    * (within-doc).
    */
  private def wordPosGrams(docs: DataFrame, w: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("tk"))
      .filter(size(col("tk")) >= w)
    // sequence() is guarded by the size filter above (sequence(1, 0)
    // would generate a DESCENDING [1, 0] in Spark, not an empty array)
    toks.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(tk) - ${w - 1}), i -> array_join(slice(tk, i, $w), ' '))"))
        .as(Seq("i0", "g")))
      .select(col("doc_id"), (col("i0") + 1).cast("long").as("pos"), col("g"))
  }

  def substringSpans(docs: DataFrame, w: Int = 8, minSpan: Int = 15): DataFrame = {
    require(minSpan >= w, s"minSpan ($minSpan) must be >= anchor width ($w)")
    val grams = wordPosGrams(docs, w)
    val a = grams.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("g"))
    val b = grams.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("g"))
    val anchors = a.join(b, Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pos_a"))
    anchors.withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("isl", col("pos_a") - row_number().over(wd))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + w - 1).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"), col("span_tokens"))
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
  }

  // C12 — exact-substring dedup: maximal cross-doc repeated spans of
  // >= 15 tokens, anchored on 8-grams. The DuckDB oracle recomputes the
  // same anchors/diagonal-islands relationally — independent engine,
  // same exact math.
  private val d12 = Relational.Q(
    "d12_substring_dedup",
    (s, d) => substringSpans(Tables.documents(s, d), 8, 15),
    Some("""
      WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
      pos AS (
        SELECT doc_id, unnest(range(1, CAST(len(t) AS BIGINT) - 6)) AS pos, t
        FROM tk WHERE len(t) >= 8),
      grams AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          array_to_string(t[pos:pos+7], ' ') AS g
        FROM pos),
      an AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          a.pos AS pos_a, b.pos AS pos_b
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id),
      isl AS (
        SELECT doc_a, doc_b, pos_a - pos_b AS diag, pos_a, pos_b,
          pos_a - ROW_NUMBER() OVER (
            PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS isl
        FROM an)
      SELECT doc_a, doc_b,
        CAST(MIN(pos_a) AS BIGINT) AS start_a,
        CAST(MIN(pos_b) AS BIGINT) AS start_b,
        CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_a, doc_b, diag, isl
      HAVING COUNT(*) + 7 >= 15
      ORDER BY doc_a, doc_b, start_a, start_b"""))

  /** C13's core: WITHIN-document repeated spans — [[substringSpans]]'s
    * anchor/diagonal-island machinery applied to each doc against
    * ITSELF (pos_a < pos_b): exact boundaries for internal repetition
    * (looping/degenerate text — the artifact t10's distinct-ratio only
    * signals statistically, located here to the token). A period-p loop
    * yields exactly one MAXIMAL island per multiple-of-p shift that
    * clears minSpan (the classic self-similarity diagonals; spec-pinned),
    * never a pile of per-occurrence fragments.
    * The anchor join adds doc_id to the gram key, so the
    * blowup surface is per-DOC gram multiplicity only — corpus size
    * never enters a join side.
    */
  def selfRepeatSpans(docs: DataFrame, w: Int = 4, minSpan: Int = 8): DataFrame = {
    require(minSpan >= w, s"minSpan ($minSpan) must be >= anchor width ($w)")
    val grams = wordPosGrams(docs, w)
    val anchors = grams.select(col("doc_id"), col("pos").as("pos_a"), col("g"))
      .join(grams.select(col("doc_id"), col("pos").as("pos_b"), col("g")), Seq("doc_id", "g"))
      .filter(col("pos_a") < col("pos_b"))
      .select(col("doc_id"), col("pos_a"), col("pos_b"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("diag")).orderBy(col("pos_a"))
    anchors.withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("isl", col("pos_a") - row_number().over(wd))
      .groupBy(col("doc_id"), col("diag"), col("isl"))
      .agg(min(col("pos_a")).as("start_a"), min(col("pos_b")).as("start_b"),
        (count(lit(1)) + w - 1).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
      .select(col("doc_id"), col("start_a"), col("start_b"), col("span_tokens"))
      .orderBy(col("doc_id"), col("start_a"), col("start_b"))
  }

  // C13 — within-doc repeated spans. The query entry anchors on 2-grams
  // at minSpan 4: the synthetic corpus is internally non-repetitive (0
  // rows at the 4/8 production defaults — verified), so the finer anchor
  // is what actually exercises the cross-engine path on this data; the
  // planted-loop spec pins the semantics at the defaults. Same
  // independent DuckDB twin as d12.
  private val d13 = Relational.Q(
    "d13_selfrepeat_spans",
    (s, d) => selfRepeatSpans(Tables.documents(s, d), 2, 4),
    Some("""
      WITH tk AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
      pos AS (
        SELECT doc_id, unnest(range(1, CAST(len(t) AS BIGINT))) AS pos, t
        FROM tk WHERE len(t) >= 2),
      grams AS (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          array_to_string(t[pos:pos+1], ' ') AS g
        FROM pos),
      an AS (
        SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b
        FROM grams a JOIN grams b
          ON a.doc_id = b.doc_id AND a.g = b.g AND a.pos < b.pos),
      isl AS (
        SELECT doc_id, pos_a - pos_b AS diag, pos_a, pos_b,
          pos_a - ROW_NUMBER() OVER (
            PARTITION BY doc_id, pos_a - pos_b ORDER BY pos_a) AS isl
        FROM an)
      SELECT doc_id,
        CAST(MIN(pos_a) AS BIGINT) AS start_a,
        CAST(MIN(pos_b) AS BIGINT) AS start_b,
        CAST(COUNT(*) + 1 AS BIGINT) AS span_tokens
      FROM isl GROUP BY doc_id, diag, isl
      HAVING COUNT(*) + 1 >= 4
      ORDER BY doc_id, start_a, start_b"""))

  /** C14's core: URL/DOMAIN-level corpus governance — the RefinedWeb /
    * CCNet acquisition-stage gates that run BEFORE content dedup, over
    * provenance alone:
    *
    *  1. hash-based URL dedup: one survivor per md5-56 URL hash (the
    *     canonical min doc_id) — at 100 TB the dedup key is the 8-byte
    *     hash, never the URL string, and the survivor choice is one
    *     map-side-combinable min per hash;
    *  2. domain blocklist: the policy list is parameter-bounded (a
    *     curated file, not data), so it rides a broadcast ANTI join;
    *  3. per-domain share cap: no domain may exceed `maxSharePermille`
    *     of the SURVIVING corpus — rank within domain (deterministic:
    *     doc_id order) against an integer gate
    *     `rank * 1000 <= maxSharePermille * total` (BIGINT both sides,
    *     no float share can flip a keep). The total is a one-row
    *     post-dedup aggregate riding the t9/q48 crossJoin(broadcast)
    *     shape; the rank window is domain-partitioned, never global.
    *
    * Docs frame contract: (doc_id, url, domain) non-null. Output: the
    * governed survivors (doc_id, domain, url).
    */
  def domainGovernance(docs: DataFrame, blocklist: Seq[String],
      maxSharePermille: Int): DataFrame = {
    require(maxSharePermille >= 1 && maxSharePermille <= 1000,
      s"maxSharePermille must be in [1, 1000], got $maxSharePermille")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val deduped = docs
      .select(col("doc_id"), col("url"), col("domain"), H.md5Hash56(col("url")).as("uh"))
      .groupBy(col("uh"))
      .agg(min_by(struct(col("doc_id"), col("domain"), col("url")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.domain").as("domain"), col("r.url").as("url"))
    val allowed = deduped.join(broadcast(blocklist.toDF("domain")), Seq("domain"), "left_anti")
    val total = allowed.agg(count(lit(1)).as("n_total"))
    val wDom = Window.partitionBy(col("domain")).orderBy(col("doc_id"))
    allowed
      .withColumn("domain_rank", row_number().over(wDom).cast("long"))
      .crossJoin(broadcast(total))
      .filter(col("domain_rank") * 1000L <= lit(maxSharePermille.toLong) * col("n_total"))
      .select(col("doc_id"), col("domain"), col("url"))
      .orderBy(col("doc_id"))
  }

  // C14 — the governance gates over the real corpus: domain = source,
  // URL = a deterministic per-source page path (doc_id mod 200, so each
  // domain serves the same 10 pages over and over — the re-crawl shape
  // URL dedup exists for, and both engines derive it identically);
  // blocklist bans three sources; the 40 permille cap bites every
  // surviving domain (20 uniform domains sit at 50 permille before
  // governance). All three stages are integer-exact, hence the full
  // rows+schema+hash oracle.
  private val d14 = Relational.Q(
    "d14_domain_governance",
    (s, d) => domainGovernance(
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("source"), lit("/p"), (col("doc_id") % 200L).cast("string")).as("url"),
          col("source").as("domain")),
      blocklist = Seq("src3", "src7", "src13"),
      maxSharePermille = 40),
    Some(s"""
      WITH u AS (
        SELECT doc_id, source AS domain,
          source || '/p' || CAST(doc_id % 200 AS VARCHAR) AS url
        FROM documents),
      dd AS (
        SELECT doc_id, domain, url FROM (
          SELECT doc_id, domain, url, ROW_NUMBER() OVER (
            PARTITION BY ${H.md5Hash56Sql("url")} ORDER BY doc_id) AS rn
          FROM u) WHERE rn = 1),
      al AS (
        SELECT * FROM dd WHERE domain NOT IN ('src3', 'src7', 'src13')),
      t AS (SELECT COUNT(*) AS n_total FROM al)
      SELECT doc_id, domain, url FROM (
        SELECT doc_id, domain, url, ROW_NUMBER() OVER (
          PARTITION BY domain ORDER BY doc_id) AS domain_rank
        FROM al), t
      WHERE domain_rank * 1000 <= 40 * n_total
      ORDER BY doc_id"""))

  /** C15's core: boilerplate REMOVAL — d9 flags documents dominated by
    * corpus-repeated segments; this operator REWRITES them, the Dolma /
    * CCNet duplicated-paragraph-removal stage re-expressed for
    * newline-free text. Same positional-segment machinery as d9 (the
    * codegen slot aggregate, no collect_list ordering hazard), then:
    * full `w`-word segments occurring in >= `minDf` distinct documents
    * are dropped; surviving segments plus the trailing partial segment
    * (which never participates in df — it is position-truncated, not
    * content) reassemble in segment order via ONE
    * sort_array-of-structs per doc — deterministic because the segment
    * index is unique within a doc.
    *
    * 100 TB: the df frame is (hash, count) — never text; the rebuild
    * shuffles each doc's surviving segment texts once, keyed by doc_id
    * (the same volume the corpus scan already moved); nothing is
    * all-pairs and nothing collects. Output: (doc_id, clean_text,
    * n_removed) for every input doc.
    */
  def boilerplateScrub(docs: DataFrame, w: Int, minDf: Int): DataFrame = {
    require(w >= 2, s"segment width must be >= 2, got $w")
    val base = docs.select(col("doc_id"), col("text"))
    val words = Tables.spread(base)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val slots = (0 until w).map(i =>
      max(when(col("pos") % w === i, col("w"))).as(s"w$i"))
    // concat_ws skips the NULL slots of the trailing partial segment, so
    // one aggregate rebuilds full segments and the tail alike
    // NO persist (the r7 verdict's leaked-cache nit): a library call must
    // not pin a CORPUS-SIZED frame in block storage the caller never
    // asked for — at 100 TB a cached segment frame is a full corpus copy
    // under memory pressure, strictly worse than recomputing one
    // explode+aggregate stage. The segment frame therefore has exactly
    // TWO consumers (the df aggregate and the rewrite join — the old
    // partial-tail union branch is folded into the join below, so the
    // recompute is paid once, not twice), and the plan is asserted
    // cache-free in OperatorSpec. A production pipeline amortizing many
    // boilerplate passes would stage `segs` to a temp table instead —
    // the d2 written-artifact discipline, not an implicit cache.
    val segs = words
      .groupBy(col("doc_id"), floor(col("pos") / w).cast("long").as("seg"))
      .agg(slots.head, (slots.tail :+ count(lit(1)).as("nw")): _*)
      .select(col("doc_id"), col("seg"), col("nw"),
        concat_ws(" ", (0 until w).map(i => col(s"w$i")): _*).as("txt"))
    val dfm = segs.filter(col("nw") === w)
      .select(md5(col("txt")).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("ndocs"))
    // h is NULL for the trailing partial segment (nw < w), so the LEFT
    // join can't match it and coalesce marks it non-boilerplate — one
    // consumer handles full and partial segments alike
    val flagged = segs
      .withColumn("h", when(col("nw") === w, md5(col("txt"))))
      .join(dfm, Seq("h"), "left")
      .select(col("doc_id"), col("seg"), col("txt"),
        coalesce(col("ndocs") >= minDf, lit(false)).as("bp"))
    flagged.groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("bp"), struct(col("seg"), col("txt"))))),
          s => s.getField("txt")), " ").as("clean_text"),
        sum(when(col("bp"), 1L).otherwise(0L)).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  // C15 — boilerplate scrub: d9's detector turned into the rewrite the
  // cleaning pipeline actually applies. Full rows+schema+hash oracle:
  // segment text (not just counts) must survive two independent
  // reassembly spellings bit-identically.
  private val d15 = Relational.Q(
    "d15_boilerplate_scrub",
    (s, d) => boilerplateScrub(Tables.documents(s, d), 3, 3),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      segs AS (
        SELECT doc_id, CAST(i AS BIGINT) AS seg,
          array_to_string(words[(i-1)*3+1 : (i-1)*3+3], ' ') AS txt
        FROM t, UNNEST(generate_series(1, len(words) // 3)) AS g(i)),
      sdf AS (
        SELECT md5(txt) AS h, COUNT(DISTINCT doc_id) AS ndocs
        FROM segs GROUP BY 1),
      flagged AS (
        SELECT doc_id, seg, txt, (ndocs >= 3) AS bp
        FROM segs JOIN sdf ON md5(txt) = h
        UNION ALL
        SELECT doc_id, CAST(len(words) // 3 + 1 AS BIGINT) AS seg,
          array_to_string(words[len(words) // 3 * 3 + 1 : len(words)], ' ') AS txt,
          false AS bp
        FROM t WHERE len(words) % 3 != 0)
      SELECT doc_id,
        COALESCE(string_agg(CASE WHEN NOT bp THEN txt END, ' ' ORDER BY seg), '') AS clean_text,
        CAST(SUM(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
      FROM flagged GROUP BY doc_id ORDER BY doc_id"""))

  /** C16's core: FUZZY benchmark decontamination — the near-duplicate
    * half of eval-set hygiene (the GPT-3 appendix-style companion to
    * d8's EXACT shared-n-gram check): a corpus doc is flagged when some
    * benchmark doc is a whole-document near-duplicate (word-3-shingle
    * Jaccard >= `minJaccard`), which catches lightly-reworded eval
    * leakage that exact 8-gram matching misses once every gram has one
    * token changed. Machinery is d11's two-sided incremental LSH probe
    * verbatim (bench side = the "corpus", corpus side = the "arriving
    * slice"): band equi-join candidates, slim id pairs, merge-walk EXACT
    * Jaccard verify — so at the d2-verified 0.8 threshold the flag set
    * is exact, and the DuckDB oracle recomputes it from the shared
    * pairwise CTE. At 100 TB the bench side is a separate tiny table
    * sketched once (writeMinhashArtifact), and only cross-side band
    * collisions generate candidates.
    */
  def fuzzyDecontaminate(docs: DataFrame, isBench: Column,
      minJaccard: Double = 0.8): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val hits = incrementalNearDups(base.filter(!isBench), base.filter(isBench), minJaccard)
      .select(col("new_id").as("doc_id")).distinct()
      .withColumn("hit", lit(true))
    base.filter(!isBench).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("fuzzy_contaminated"))
      .orderBy(col("doc_id"))
  }

  // C16 — fuzzy decontamination against the same synthetic benchmark
  // slice d8 uses (doc_id % 20 == 0), at the d2-verified 0.8 threshold.
  private val d16 = Relational.Q(
    "d16_fuzzy_decontaminate",
    (s, d) => fuzzyDecontaminate(Tables.documents(s, d), col("doc_id") % 20 === 0),
    Some(s"""
      WITH ${pairwiseSql("documents")},
      hits AS (
        SELECT DISTINCT CASE WHEN doc_a % 20 = 0 THEN doc_b ELSE doc_a END AS doc_id
        FROM pairs
        WHERE j >= 0.8 AND ((doc_a % 20 = 0) <> (doc_b % 20 = 0)))
      SELECT d.doc_id, (h.doc_id IS NOT NULL) AS fuzzy_contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.doc_id % 20 <> 0
      ORDER BY d.doc_id"""))

  /** C17's core: SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540) — cluster the embedding space, then drop any
    * vector that has a near-identical (cosine >= tau) smaller-id
    * neighbor *within its cluster*. Cross-cluster near-dups are out of
    * scope BY DESIGN — that approximation is the whole point of the
    * method (it bounds the pairwise work per cluster), and the paper
    * accepts it for the same reason.
    *
    * Determinism: the paper clusters with k-means; this spelling uses
    * axis-aligned sign buckets (bit j = [embedding[dim_j] >= 0]) so the
    * cluster assignment is a pure per-row projection both engines
    * compute identically — no trained state, no RNG — and the whole
    * operator is oracle-checkable end to end. The canonical-survivor
    * policy is min-id dominance (the d1/d7 convention): a vector is
    * dropped iff SOME smaller-id same-bucket vector sits within tau,
    * whether or not that dominator itself survives — a local, exact
    * rule (greedy-sequential SemDeDup would make survival depend on the
    * full removal history; this one is order-free and parallel).
    *
    * Scale (100 TB): one shuffle keyed by (bucket, k1, k2) — the
    * within-bucket pairwise is triangle-partitioned (see the semDeDup
    * scaladoc), so no bucket funnels its b² pairs through one task;
    * total pair work is still O(sum b_i^2), so `signBits` must grow
    * with the corpus (buckets = 2^signBits) exactly as the paper's k
    * grows with n; in production the cluster id comes from the trained
    * IVF centroids (s4/D7 path — assignment is still a narrow
    * projection against a broadcast k-row codebook) and this operator
    * is unchanged from `bucket` on. The dominance aggregate is a slim
    * (id, bucket) frame — embeddings never leave the pair join.
    */
  /** The d17/d18/p18 shared cluster assignment — bit j of the bucket is
    * [embedding[dim_j] >= 0]. ONE definition, because the incremental
    * probe's "streamed pairs == batch" contract (A39) and p18's reuse of
    * d17's clusters all require bit-identical bucket ids; a change here
    * (e.g. the anticipated trained-IVF-centroid assignment) reaches
    * every consumer or none.
    */
  def signBucket(signBits: Int): Column = {
    require(signBits >= 1 && signBits <= 20, s"signBits in [1,20], got $signBits")
    (0 until signBits).map(j =>
      when(element_at(col("embedding"), j + 1) >= 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
  }

  /** Within-bucket pairwise runs TRIANGLE-PARTITIONED (d5's shared
    * [[triangleSide]] machinery, applied inside each sign bucket): the
    * join key is (bucket, k1, k2), so a bucket's inherent b² cosine
    * pairs spread over B(B+1)/2 tasks instead of funneling through the
    * one task that owns the bucket key — with fixed signBits a 100×
    * corpus puts ~n/2^signBits vectors in EVERY bucket, and the
    * unpartitioned spelling is O(n²/2^signBits) work on a handful of
    * tasks. B-fold replication is the price; per-task pair work is
    * bounded by (b/B)² per (bucket, k1, k2) cell. Semantics are
    * IDENTICAL (every unordered same-bucket pair meets exactly once),
    * so the full DuckDB oracle is unchanged.
    */
  def semDeDup(emb: DataFrame, signBits: Int = 4, tau: Double = 0.4,
      triangleB: Int = 8, probes: Int = 0): DataFrame =
    if (probes == 0)
      semDeDupWithClusters(
        Tables.spread(emb.select(col("vec_id"), col("embedding")))
          .withColumn("bucket", signBucket(signBits)),
        tau, triangleB)
    else semDeDupMultiProbe(emb, signBits, tau, triangleB, probes)

  /** The `probes` sign buckets a vector ALSO visits, by multi-probe LSH
    * (Lv et al., VLDB 2007, on d17's sign space with s2's XOR-mask
    * machinery): candidate masks are every flip of ≤ `maxFlip` sign bits,
    * ranked by FLIP COST — the summed |margin| of the flipped
    * coordinates, i.e. how far each coordinate sits from its sign
    * boundary — and the `probes` cheapest masks XOR the home bucket.
    * Masks are plan-time literals (≤ C(signBits, maxFlip)+signBits per
    * row, parameter-bounded), the whole thing one narrow projection.
    */
  def probeBucketsExpr(signBits: Int, probes: Int, maxFlip: Int = 2): Column = {
    require(probes >= 1, s"probes >= 1, got $probes")
    val masks = (1L until (1L << signBits))
      .filter(m => java.lang.Long.bitCount(m) <= maxFlip)
    require(probes <= masks.size,
      s"probes=$probes exceeds ${masks.size} masks at signBits=$signBits maxFlip=$maxFlip")
    val ranked = masks.map { m =>
      val cost = (0 until signBits).filter(j => (m & (1L << j)) != 0)
        .map(j => abs(element_at(col("embedding"), j + 1).cast("double")))
        .reduce[Column](_ + _)
      struct(cost.as("cost"), lit(m).as("mask"))
    }
    transform(slice(array_sort(array(ranked: _*)), 1, probes),
      s => signBucket(signBits).bitwiseXOR(s.getField("mask")))
  }

  /** d17's opt-in RECALL knob: dominance extends over PROBE-CONNECTED
    * pairs — (a, b) is considered when either side's home bucket is in
    * the other's {home} ∪ probes set — so a near-dup pair straddling a
    * sign boundary on a low-|margin| coordinate (the class probe 0
    * deliberately spares, spec-pinned) is found at probes ≥ 1. Candidate
    * growth is bounded by construction: each vector joins under at most
    * 1 + probes buckets, so pair work grows ≤ (1 + probes)× — never
    * all-pairs. probes = 0 is BIT-IDENTICAL to the classic operator
    * (the d17 oracle path is untouched); the larger id of a qualifying
    * pair drops, the min-id dominance rule unchanged.
    */
  def semDeDupMultiProbe(emb: DataFrame, signBits: Int = 4,
      tau: Double = 0.4, triangleB: Int = 8, probes: Int = 1,
      maxFlip: Int = 2): DataFrame = {
    val base = Tables.spread(emb.select(col("vec_id"), col("embedding")))
      .withColumn("bucket", signBucket(signBits))
    // visits = home + probe buckets; the join of HOME rows x VISIT rows
    // covers both orientations of every probe-connected pair (a probing
    // b's home meets as (b_home, a_visit)), distinct() collapses pairs
    // that meet in several buckets
    val visits = base.select(col("vec_id"), col("embedding"),
      explode(concat(array(col("bucket")),
        probeBucketsExpr(signBits, probes, maxFlip))).as("bucket"))
    def side(df: DataFrame, id: String, v: String, g: String) = triangleSide(
      df.select(col("bucket"), col("vec_id").as(id), col("embedding").as(v)),
      id, g, triangleB)
    val dominated = side(base, "id_a", "va", "ga")
      .join(side(visits, "id_b", "vb", "gb"), Seq("bucket", "k1", "k2"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(trianglePairFilter("ga", "gb"))
      .filter(CosF(col("va"), col("vb")) >= tau)
      .select(greatest(col("id_a"), col("id_b")).as("vec_id"))
      .distinct()
    base.join(dominated.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(col("dup"), lit(false)).as("dropped"))
      .orderBy(col("vec_id"))
  }

  /** The paper's ACTUAL clustering path (Abbas 2023 runs k-means):
    * cluster ids from s4's trained spherical-k-means assignment — a
    * narrow projection against the broadcast kClusters-row centroid
    * frame — feed the SAME dominance core, so cluster count grows with
    * the corpus instead of being fixed by signBits. Training is
    * float-mean nondeterministic (the s4 class), so this spelling is
    * spec-checked against an in-test brute-force dominance reference
    * over its OWN emitted clusters rather than oracle-checked; d17's
    * sign-bucket instance remains the deterministic cross-engine
    * witness that the shared core is exact.
    */
  def semDeDupIvf(emb: DataFrame, kClusters: Int = 16, iters: Int = 4,
      tau: Double = 0.4, triangleB: Int = 8): DataFrame = {
    val e = Tables.spread(emb.select(col("vec_id"), col("embedding")))
    val cent = Similarity.trainCentroids(e, kClusters, iters)
    val assigned = e.join(broadcast(cent), lit(true))
      .withColumn("ccos", coalesce(CosF(col("embedding"), col("centv")), lit(-2.0)))
      .groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"),
        struct(col("ccos"), (-col("centroid_id")).as("tie"))).as("bucket"),
        first(col("embedding")).as("embedding"))
    semDeDupWithClusters(assigned.select(col("vec_id"), col("embedding"), col("bucket")),
      tau, triangleB)
  }

  /** The shared SemDeDup dominance core over CALLER-SUPPLIED clusters:
    * input is (vec_id, embedding, bucket); a vector drops iff some
    * smaller-id same-bucket vector sits within tau. Both cluster
    * spellings (deterministic sign buckets, trained IVF centroids) feed
    * this one implementation, so the triangle partitioning and the
    * min-id dominance rule cannot drift between them.
    */
  def semDeDupWithClusters(b: DataFrame, tau: Double = 0.4,
      triangleB: Int = 8): DataFrame = {
    def side(id: String, v: String, g: String) = triangleSide(
      b.select(col("bucket"), col("vec_id").as(id), col("embedding").as(v)),
      id, g, triangleB)
    val dominated = side("id_a", "va", "ga")
      .join(side("id_b", "vb", "gb"), Seq("bucket", "k1", "k2"))
      .filter(col("id_a") < col("id_b"))
      .filter(trianglePairFilter("ga", "gb"))
      .filter(CosF(col("va"), col("vb")) >= tau)
      .select(col("id_b").as("vec_id"))
      .distinct()
    b.join(dominated.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(col("dup"), lit(false)).as("dropped"))
      .orderBy(col("vec_id"))
  }

  // C17 — semantic dedup over the embeddings table: 16 sign buckets,
  // tau = 0.4 (d5's verified threshold). The oracle replays the exact
  // same bucket arithmetic and cosine with DuckDB list folds (the d5
  // cross-engine float contract), so bucket assignment, the dominance
  // rule, and the survivor set are all hash-checked.
  private val d17 = Relational.Q(
    "d17_semdedup",
    (s, d) => semDeDup(Tables.embeddings(s, d), signBits = 4, tau = 0.4),
    Some("""
      WITH b AS (
        SELECT vec_id, embedding,
          CAST((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings),
      dom AS (
        SELECT DISTINCT x.vec_id
        FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
        WHERE list_reduce(list_transform(list_zip(a.embedding, x.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (m, n) -> m + n)
          / sqrt(
              list_reduce(list_transform(a.embedding,
                v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (m, n) -> m + n)
              * list_reduce(list_transform(x.embedding,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (m, n) -> m + n))
          >= 0.4)
      SELECT b.vec_id, b.bucket, (dom.vec_id IS NOT NULL) AS dropped
      FROM b LEFT JOIN dom ON b.vec_id = dom.vec_id
      ORDER BY b.vec_id"""))

  /** C18 / A39's core: INCREMENTAL semantic dedup — probe arriving
    * vectors against a published corpus (the d11 arriving-slice
    * convention, lifted to d17's semantic space): an arrival matches
    * when some corpus vector in the SAME sign bucket sits within
    * cosine >= tau. Emits the match PAIRS (vec_id, dup_of, cosine) —
    * callers anti-join arrivals on vec_id to keep the novel ones; the
    * pair frame (not a boolean flag) is what makes the operator
    * append-mode streamable AS IS: bucket assignment is a narrow
    * per-row projection on both sides, the bucket equi-join is a
    * stream-static join, and no per-key state or watermark is needed —
    * the A39 spec pins streamed pairs == batch across slicings.
    *
    * Scale: the corpus side stays a (bucket, salt, id, vec) frame
    * shuffled once by (bucket, salt) — salted saltB ways so a bucket's
    * probe work spreads over saltB tasks (or bucket+salt-partitioned at
    * publish time — then the probe is map-side); per-arrival work is
    * |bucket| cosines total, bounded by growing signBits with the
    * corpus (the d17 scale note).
    */
  def semDeDupProbe(arrivals: DataFrame, corpus: DataFrame,
      signBits: Int = 4, tau: Double = 0.4, saltB: Int = 8,
      probes: Int = 0): DataFrame = {
    // `probes` (round 14, the C25 knob on the INCREMENTAL path): each
    // arrival ALSO probes its `probes` cheapest flipped-sign buckets
    // (probeBucketsExpr — lowest-|margin| coordinates first), so a
    // near-dup sitting across a sign boundary is caught at ingest.
    // Still a narrow arrival-side explode ((1+probes)·saltB rows per
    // arrival, parameter-bounded) over the SAME stream-static equi-join,
    // so the A39 streaming attach is unchanged; a corpus vector has ONE
    // home bucket, so probing distinct buckets cannot duplicate a pair.
    // probes = 0 keeps the bit-identical classic path (d18's oracle).
    // the bipartite twin of semDeDup's triangle fix: the corpus side is
    // SALTED by id mod saltB and each arrival probes all saltB
    // sub-buckets, so a bucket's |arrivals| x |corpus_bucket| cosine
    // work spreads over saltB tasks instead of the one task owning the
    // bucket key (with fixed signBits, corpus buckets grow as n/2^bits).
    // The arrival-side explode is a narrow per-row projection — the
    // join stays a stream-static equi-join, so A39's append-mode
    // streaming spelling (and its streamed == batch pin) is unchanged.
    val c = corpus.select(col("vec_id").as("dup_of"), col("embedding").as("vb"),
        signBucket(signBits).as("bucket"),
        pmod(col("vec_id"), lit(saltB)).as("salt"))
    val bucketCol =
      if (probes == 0) signBucket(signBits).as("bucket")
      else explode(concat(array(signBucket(signBits)),
        probeBucketsExpr(signBits, probes))).as("bucket")
    val a = arrivals.select(col("vec_id"), col("embedding").as("va"), bucketCol)
      .select(col("vec_id"), col("va"), col("bucket"),
        explode(array((0 until saltB).map(j => lit(j).cast("long")): _*)).as("salt"))
    a.join(c, Seq("bucket", "salt"))
      .withColumn("cos", CosF(col("va"), col("vb")))
      .filter(col("cos") >= tau)
      .select(col("vec_id"), col("dup_of"), col("bucket"), r4(col("cos")).as("cosine"))
  }

  // C18 — the odd-id half of the embeddings table arrives against the
  // published even-id half: every cross-half same-bucket pair at
  // cos >= 0.4, oracle-checked with the d17/d5 DuckDB list-fold cosine.
  private val d18 = Relational.Q(
    "d18_semdedup_probe",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      semDeDupProbe(e.filter(col("vec_id") % 2 === 1),
          e.filter(col("vec_id") % 2 === 0))
        .orderBy(col("vec_id"), col("dup_of"))
    },
    Some(s"""
      WITH b AS (
        SELECT vec_id, embedding,
          CAST((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings),
      p AS (
        SELECT a.vec_id, c.vec_id AS dup_of, a.bucket,
          list_reduce(list_transform(list_zip(a.embedding, c.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (m, n) -> m + n)
          / sqrt(
              list_reduce(list_transform(a.embedding,
                v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (m, n) -> m + n)
              * list_reduce(list_transform(c.embedding,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (m, n) -> m + n)) AS cos
        FROM b a JOIN b c ON a.bucket = c.bucket
          AND a.vec_id % 2 = 1 AND c.vec_id % 2 = 0)
      SELECT vec_id, dup_of, bucket, ${r4Sql("cos")} AS cosine
      FROM p WHERE cos >= 0.4 ORDER BY vec_id, dup_of"""))

  // C19 — CANONICALIZED exact dedup: d1 composed with E23's NFC
  // normalization, closing the hole raw byte-hash dedup has on Unicode
  // text — "café" spelled precomposed and as 'e'+COMBINING ACUTE are
  // the same document with different bytes, so raw md5 keeps both. The
  // query derives the two spellings per doc (composed variant at
  // doc_id, decomposed at doc_id+10M — deterministic, both normalize
  // to identical bytes), then groups by md5(NFC(text)): every cluster
  // must contain exactly the 2 spellings, and the n_raw_hashes column
  // witnesses that RAW hashing would have missed every one of them.
  // One narrow codegen'd normalize + one hash aggregate — d1's scale
  // shape unchanged.
  private val d19 = Relational.Q(
    "d19_normalized_dedup",
    (s, d) => {
      import graft.functions.NfcNormalize
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val composed = base.select(col("doc_id"),
        regexp_replace(col("text"), "e", "\u00e9").as("text"))
      val decomposed = base.select((col("doc_id") + lit(10000000L)).as("doc_id"),
        regexp_replace(col("text"), "e", "e\u0301").as("text"))
      composed.unionByName(decomposed)
        .select(col("doc_id"), md5(col("text")).as("raw_hash"),
          md5(NfcNormalize(col("text"))).as("norm_hash"))
        .groupBy(col("norm_hash"))
        .agg(min(col("doc_id")).as("canon_doc_id"),
          count(lit(1)).as("n_members"),
          countDistinct(col("raw_hash")).as("n_raw_hashes"))
        .select(col("canon_doc_id"), col("n_members"), col("n_raw_hashes"))
        .orderBy(col("canon_doc_id"))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, replace(text, 'e', chr(233)) AS text FROM documents
        UNION ALL
        SELECT doc_id + 10000000, replace(text, 'e', 'e' || chr(769)) FROM documents),
      h AS (
        SELECT doc_id, md5(text) AS raw_hash, md5(nfc_normalize(text)) AS norm_hash
        FROM corpus)
      SELECT MIN(doc_id) AS canon_doc_id, COUNT(*) AS n_members,
        CAST(COUNT(DISTINCT raw_hash) AS BIGINT) AS n_raw_hashes
      FROM h GROUP BY norm_hash ORDER BY canon_doc_id"""))

  /** C20 core — RECORD LINKAGE / entity resolution (Fellegi & Sunter
    * 1969's blocking + agreement-scoring shape; Newcombe 1959 blocking):
    * match dirty catalog records against the DISTINCT entity catalog.
    * Blocking key = (last name token, brand, category) — the fields the
    * planted corruption never touches, so candidate recall is 1 BY
    * CONSTRUCTION; within a block the agreement score is character-bigram
    * set Jaccard scaled to an exact integer per-mille (one cross-engine
    * floor division — Spark `div` == DuckDB `//` on non-negative longs),
    * threshold >= 550 (the measured floor of the single-edit class;
    * the reversed-adjective no-match class sits <= 500), and the winner
    * is the max-jm entity with min-entity-id ties — ONE min_by over the
    * composite integer key `entity_id - jm*1e8`, unique per (entity, jm)
    * so both engines resolve identically.
    *
    * Scale (100 TB): the entity side is the DISTINCT attribute catalog —
    * bounded by combination count, not corpus rows — so the block join
    * broadcasts (or shuffles on the block key when the catalog outgrows
    * broadcast: still an equi-join, never a cross pair scan); per-record
    * pair work is bounded by block granularity (add blocking fields to
    * tighten, the standard ER dial); the dirty derivation and bigram
    * profiles are narrow per-row projections.
    */
  def recordLinkage(parts: DataFrame, tauMilli: Int = 550): DataFrame = {
    def bigrams(c: Column): Column =
      array_distinct(transform(sequence(lit(1), length(c) - 1),
        i => c.substr(i, lit(2))))
    val named = parts.select(col("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"),
      element_at(split(col("p_name"), " "), 1).as("adj"),
      element_at(split(col("p_name"), " "), 2).as("noun"))
    // the dirty feed: one deterministic character deletion inside the
    // adjective at position (key mod len)+1 — or, for key % 5 == 0, the
    // adjective reversed (the planted beyond-repair class that must NOT
    // link). Blocking fields (noun/brand/category) stay clean.
    val cut = pmod(col("p_partkey"), length(col("adj")).cast("long")).cast("int")
    val dirty = named.select(
      (col("p_partkey") + lit(10000000L)).as("rec_id"),
      concat_ws(" ",
        when(pmod(col("p_partkey"), lit(5)) === 0, reverse(col("adj")))
          .otherwise(concat(col("adj").substr(lit(1), cut),
            col("adj").substr(cut + lit(2), length(col("adj"))))),
        col("noun")).as("name"),
      col("noun"), col("p_brand").as("brand"), col("p_type").as("category"))
    val entities = named
      .groupBy(col("p_name"), col("p_brand"), col("p_type"))
      .agg(min(col("p_partkey")).as("entity_id"))
      .select(col("entity_id"), col("p_name"), col("p_brand"), col("p_type"),
        element_at(split(col("p_name"), " "), 2).as("enoun"))
    val scored = dirty
      .withColumn("bg", bigrams(col("name")))
      .join(entities.withColumn("ebg", bigrams(col("p_name"))),
        col("noun") === col("enoun") && col("brand") === col("p_brand") &&
          col("category") === col("p_type"))
      .withColumn("ni", size(array_intersect(col("bg"), col("ebg"))).cast("long"))
      .withColumn("nu", size(array_union(col("bg"), col("ebg"))).cast("long"))
      .withColumn("jm", expr("(1000 * ni) div nu"))
      .filter(col("jm") >= tauMilli)
    val best = scored.groupBy(col("rec_id"))
      .agg(min_by(col("entity_id"), col("entity_id") - col("jm") * lit(100000000L)).as("match_id"),
        min_by(col("p_name"), col("entity_id") - col("jm") * lit(100000000L)).as("match_name"),
        max(col("jm")).as("best_jm"))
    dirty.select(col("rec_id"))
      .join(best, Seq("rec_id"), "left")
      .orderBy(col("rec_id"))
  }

  // C20 — record linkage over the part catalog: the oracle replays the
  // dirty derivation, blocking, bigram Jaccard, threshold, and min_by
  // resolution, so the emitted match table (incl. the NULLs of the
  // planted no-match class) is hash-checked end to end.
  private val d20 = Relational.Q(
    "d20_record_linkage",
    (s, d) => recordLinkage(Tables.part(s, d)),
    Some("""
      WITH names AS (
        SELECT p_partkey, p_name, p_brand, p_type,
          string_split(p_name,' ')[1] AS adj, string_split(p_name,' ')[2] AS noun
        FROM part),
      dirty AS (
        SELECT p_partkey + 10000000 AS rec_id,
          concat(CASE WHEN p_partkey % 5 = 0 THEN reverse(adj)
               ELSE concat(substr(adj, 1, CAST(p_partkey % length(adj) AS INTEGER)),
                    substr(adj, CAST(p_partkey % length(adj) AS INTEGER) + 2)) END,
            ' ', noun) AS name,
          noun, p_brand AS brand, p_type AS category
        FROM names),
      ents AS (
        SELECT MIN(p_partkey) AS entity_id, p_name, p_brand, p_type, noun
        FROM names GROUP BY p_name, p_brand, p_type, noun),
      db AS (SELECT rec_id, name, noun, brand, category,
               list_distinct(list_transform(range(1, length(name)),
                 i -> substr(name, CAST(i AS INTEGER), 2))) AS bg
             FROM dirty),
      cb AS (SELECT entity_id, p_name, p_brand, p_type, noun,
               list_distinct(list_transform(range(1, length(p_name)),
                 i -> substr(p_name, CAST(i AS INTEGER), 2))) AS bg
             FROM ents),
      scored AS (
        SELECT d.rec_id, c.entity_id, c.p_name,
          CAST((1000*len(list_intersect(d.bg, c.bg)))
               // len(list_distinct(list_concat(d.bg, c.bg))) AS BIGINT) AS jm
        FROM db d JOIN cb c
          ON d.noun = c.noun AND d.brand = c.p_brand AND d.category = c.p_type),
      best AS (
        SELECT rec_id,
          min_by(entity_id, entity_id - jm*100000000) AS match_id,
          min_by(p_name, entity_id - jm*100000000) AS match_name,
          max(jm) AS best_jm
        FROM scored WHERE jm >= 550 GROUP BY 1)
      SELECT d.rec_id, b.match_id, b.match_name, b.best_jm
      FROM dirty d LEFT JOIN best b USING (rec_id) ORDER BY rec_id"""))

  /** C21 core — cross-document PARAGRAPH-level dedup (the Dolma/RefinedWeb
    * paragraph pass: exact dedup lifted from whole documents to the
    * paragraphs inside them, catching boilerplate shared across documents
    * that d1 can never see). Paragraph stand-in = consecutive
    * non-overlapping `chunkWords`-word windows (trailing partial window
    * dropped); a paragraph INSTANCE survives iff it is the corpus-first
    * occurrence of its content — min (doc_id, pos) per chunk, the d1
    * min-id dominance convention lifted to instances, order-free and
    * exact. Emits one row per doc: chunk/drop counts and the md5 of the
    * scrubbed text, so the whole scrub is pinned by one hash column.
    *
    * Scale: tokenize once, narrow in-row chunking (no pairwise anything);
    * the dominance pass is ONE map-side-combinable min-aggregate keyed by
    * chunk content plus one chunk-keyed equi-join back; per-doc reassembly
    * is doc_id-keyed. Hot boilerplate chunks skew the chunk key — the
    * aggregate side combines map-side (skew-immune); the join-back side is
    * the standard salt-on-skew candidate (ScaleUtils.saltedJoin) if a
    * corpus concentrates on few chunks.
    */
  /** The shared d21/d22/A44 chunking stage: one (doc_id, pos, chunk)
    * instance per non-overlapping `chunkWords`-word window (trailing
    * partial window dropped). Narrow in-row work — streamable as-is.
    */
  private def chunkInstances(docs: DataFrame, chunkWords: Int): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= chunkWords)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), (size(col("ws")) / chunkWords).cast("int") - 1),
          i => struct(i.cast("long").as("pos"),
            array_join(slice(col("ws"), i * chunkWords + 1, lit(chunkWords)), " ")
              .as("chunk")))).as("c"))
      .select(col("doc_id"), col("c.pos").as("pos"), col("c.chunk").as("chunk"))

  /** d21's dedup as a TEXT REWRITE — the composite-pipeline stage (p28):
    * every doc keeps its globally-FIRST chunk instances (min (doc_id,
    * pos) per chunk content, d21's dominance rule) reassembled in
    * position order; docs under `chunkWords` words form no chunks and
    * docs whose every chunk lost dominance emit no row (fully-duplicated
    * text contributes nothing to a training corpus). Same chunking,
    * dominance and ordering contract as [[paragraphDedup]] — the two
    * stay replayable by one oracle CTE. The per-doc reassembly
    * collect_list is doc-length-bounded (d21's adjudication argument).
    */
  def paragraphScrubText(docs: DataFrame, chunkWords: Int = 4): DataFrame = {
    val ch = chunkInstances(docs, chunkWords)
    val first = ch.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    ch.join(first, Seq("chunk"))
      .filter(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"))
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("pos"), col("chunk")))),
          c => c.getField("chunk")), " ").as("text"))
  }

  def paragraphDedup(docs: DataFrame, chunkWords: Int = 4): DataFrame = {
    val ch = chunkInstances(docs, chunkWords)
    val first = ch.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    ch.join(first, Seq("chunk"))
      .withColumn("dup",
        !(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("dup").cast("long")).as("n_dropped"),
        sort_array(collect_list(struct(col("pos"), col("dup"), col("chunk")))).as("cs"))
      .select(col("doc_id"), col("n_chunks"), col("n_dropped"),
        md5(array_join(
          transform(filter(col("cs"), c => !c.getField("dup")),
            c => c.getField("chunk")), " ")).as("scrub_hash"))
      .orderBy(col("doc_id"))
  }

  // C21 — paragraph dedup over the documents corpus (natural cross-doc
  // 4-word-window collisions exist at every SF — no planting needed);
  // the DuckDB oracle replays chunking, global-first dominance, and the
  // scrubbed-text md5, so survivorship of every instance is hash-checked.
  private val d21 = Relational.Q(
    "d21_paragraph_dedup",
    (s, d) => paragraphDedup(Tables.documents(s, d)),
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      c AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          array_to_string(ws[CAST(i*4+1 AS INTEGER):CAST(i*4+4 AS INTEGER)], ' ') AS chunk
        FROM w, UNNEST(range(0, len(ws)//4)) AS t(i)
        WHERE len(ws) >= 4),
      r AS (
        SELECT doc_id, pos, chunk,
          ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        FROM c)
      SELECT doc_id,
        COUNT(*) AS n_chunks,
        CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos), '')) AS scrub_hash
      FROM r GROUP BY doc_id ORDER BY doc_id"""))

  /** C22 / A44 core — INCREMENTAL paragraph dedup: arriving documents
    * probe a PUBLISHED corpus chunk set (the d11/d18/m10 arriving-slice
    * convention, lifted to d21's paragraph space). Emits one match row
    * per (doc_id, pos) instance whose chunk already exists in the corpus
    * — and exactly one, BY CONSTRUCTION, because the corpus side is the
    * DISTINCT chunk set, so the equi-join cannot fan out and no
    * post-join dedup/distinct is needed. That is what makes the operator
    * append-mode streamable AS IS (the m10 leftmost-band discipline,
    * trivially satisfied here): narrow in-row chunking + ONE
    * stream-static equi-join, no state, no watermark; callers scrub or
    * gate per doc downstream.
    *
    * Scale: the published chunk frame is corpus-proportional — publish
    * it bucketed by chunk (G3) so the probe join is co-located, and/or
    * compress it to x11's bloom bitmap for a no-false-negative prefilter
    * when even the distinct set is too big to shuffle per batch.
    */
  def paragraphProbe(arrivals: DataFrame, corpus: DataFrame,
      chunkWords: Int = 4): DataFrame =
    chunkInstances(arrivals, chunkWords)
      .join(chunkInstances(corpus, chunkWords)
        .select(col("chunk")).distinct(), Seq("chunk"))
      .select(col("doc_id"), col("pos"), col("chunk"))

  // C22 — the odd-id half of the corpus arrives against the published
  // even-id half; every chunk instance already present in the corpus is
  // emitted, hash-checked by a DuckDB replay of the same chunking + semi
  // join.
  private val d22 = Relational.Q(
    "d22_paragraph_probe",
    (s, d) => {
      val docs = Tables.documents(s, d)
      paragraphProbe(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"), col("pos"))
    },
    Some("""
      WITH w AS (
        SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      c AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          array_to_string(ws[CAST(i*4+1 AS INTEGER):CAST(i*4+4 AS INTEGER)], ' ') AS chunk
        FROM w, UNNEST(range(0, len(ws)//4)) AS t(i)
        WHERE len(ws) >= 4)
      SELECT a.doc_id, a.pos, a.chunk
      FROM c a
      WHERE a.doc_id % 2 = 1
        AND EXISTS (SELECT 1 FROM c b WHERE b.doc_id % 2 = 0 AND b.chunk = a.chunk)
      ORDER BY a.doc_id, a.pos"""))

  val all: Seq[Relational.Q] = Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10, d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24)
}
