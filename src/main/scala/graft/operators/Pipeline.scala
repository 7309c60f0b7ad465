package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{HashFunctions => H}
import Num._

/** Composite corpus-cleaning pipeline (the engine's headline use case):
  * the individual operators from the E/C packs COMPOSE into one lazily
  * planned query — quality gate (t2's score) → exact dedup (d1's
  * keep-min-id rule) → minhash near-dup removal (d2's verified pairs,
  * greater id dropped) → per-doc stats. Catalyst sees the whole tree, so
  * column pruning and the shared doc_id partitioning apply end to end;
  * every stage is the same code a user calls stand-alone.
  */
object Pipeline {

  private val QualityMin = 0.61

  // P1 — clean-corpus: the full chain, oracle-checked against the same
  // composition of the t2/d1/d2 oracle fragments in DuckDB.
  private val p1 = Relational.Q(
    "p1_clean_corpus",
    (s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      val qualified = scored.filter(col("quality") >= QualityMin)
      // exact dedup: keep the smallest doc_id per normalized content hash
      val keepers = qualified
        .groupBy(Dedup.normHash(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val kept = qualified.join(keepers, Seq("doc_id")).persist()
      // near-dup removal: the greater id of each verified pair is dropped
      val drops = Dedup.nearDupPairs(kept.select(col("doc_id"), col("text")))
        .select(col("doc_b").as("doc_id")).distinct()
      kept.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id, text,
          len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
          ${TextAnalysis.qualityScoreSql("text")} AS quality
        FROM documents),
      qualified AS (SELECT * FROM scored WHERE quality >= $QualityMin),
      keepers AS (
        SELECT MIN(doc_id) AS doc_id
        FROM qualified
        GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))),
      kept AS (SELECT q.* FROM qualified q JOIN keepers k USING (doc_id)),
      toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM kept),
      sh AS (
        SELECT doc_id,
          list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                         FOR i IN range(1, len(tk) - 1)]) AS sg
        FROM toks WHERE len(tk) >= 3),
      drops AS (
        SELECT DISTINCT b.doc_id AS doc_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
              / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) >= 0.8)
      SELECT doc_id, n_tokens, quality FROM kept
      WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      ORDER BY doc_id"""))

  // P2 — deterministic train/val split: the md5-derived 56-bit hash of
  // the doc id (HashFunctions.md5Hash56 — identical in DuckDB) modulo 100
  // buckets, 90/10. Pure map-side projection: no shuffle, no RNG state,
  // stable under re-runs/retries/repartitioning — the property a training
  // pipeline needs so the same doc NEVER migrates between train and val
  // across runs (sample()/rand() can't promise that).
  private val p2 = Relational.Q(
    "p2_train_val_split",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          pmod(graft.functions.HashFunctions.md5Hash56(col("doc_id").cast("string")), lit(100L))
            .as("bucket"))
        .withColumn("split", when(col("bucket") < 90, "train").otherwise("val"))
        .orderBy(col("doc_id"))
    },
    Some {
      val bucket = s"${graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")} % 100"
      s"""
      SELECT doc_id, $bucket AS bucket,
        CASE WHEN $bucket < 90 THEN 'train' ELSE 'val' END AS split
      FROM documents ORDER BY doc_id"""
    })

  // P3 — deterministic stratified sample: exactly S docs per language,
  // chosen by hash order (md5-derived key, doc_id tie-break) — a
  // reproducible evaluation subset per stratum. The rank is the shared
  // two-phase langHashRank (no enum-partitioned corpus-wide sort — the
  // r8 upgrade from the old documented "prefer rate-based at 100 TB"
  // caveat: exact per-stratum counts are now ALSO the scale path); the
  // oracle's flat per-language ROW_NUMBER reproduces it bit-for-bit by
  // the hash-prefix monotonicity argument.
  private val p3 = Relational.Q(
    "p3_stratified_sample",
    (s, d) => {
      val S = 25
      langHashRank(Tables.documents(s, d))
        .filter(col("lang_rank") <= S)
        .select(col("doc_id"), col("lang"), col("lang_rank").as("rk"))
        .orderBy(col("lang"), col("rk"))
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id, lang,
          ${graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")} AS hk
        FROM documents),
      r AS (
        SELECT doc_id, lang,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
        FROM h)
      SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
      FROM r WHERE rk <= 25 ORDER BY lang, rk"""))

  /** Per-shard token-budget sequence packing — the SCALE spelling of P4,
    * and the public packing API. Docs are sharded by the md5-derived hash
    * of doc_id (deterministic, retry/repartition-stable, cross-engine
    * computable), then packed within each shard by the same exclusive-
    * cumsum integer arithmetic as P4: local_cum_before div budget. The
    * window partitions by shard, so the sort never leaves a partition and
    * no single-task global ORDER BY appears in the plan (P4's global
    * window moves all data to one task — fine for the tiny-data oracle
    * twin, fatal at 100 TB). Packing quality is identical: every pack
    * still holds consecutive (by doc_id) docs of its shard on the budget
    * grid. Returns the per-doc assignment (doc_id, nt, shard, pack_id);
    * p8 aggregates it to pack stats and oracle-checks the whole path.
    */
  def packSequences(docs: DataFrame, tokenBudget: Long, shards: Int): DataFrame =
    packSequences(docs, tokenBudget, shards,
      size(split(trim(col("text")), "\\s+")).cast("long"))

  /** [[packSequences]] with an INJECTABLE per-doc token counter, so pack
    * budgets can be trainer-true: pass e.g. a real BPE count
    * (`aggregate(transform(words, w -> size(BpeEncode(w, merges))), ...)`)
    * instead of the whitespace estimate. Same sharding/binning arithmetic.
    */
  def packSequences(docs: DataFrame, tokenBudget: Long, shards: Int,
      tokenCount: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokenBudget > 0, s"tokenBudget must be positive, got $tokenBudget")
    require(shards > 0, s"shards must be positive, got $shards")
    import graft.functions.{HashFunctions => H}
    val wx = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"),
        tokenCount.cast("long").as("nt"),
        pmod(H.md5Hash56(col("doc_id").cast("string")), lit(shards.toLong)).as("shard"))
      .withColumn("cb", coalesce(sum(col("nt")).over(wx), lit(0L)))
      .withColumn("pack_id", expr(s"cb div $tokenBudget"))
      .select(col("doc_id"), col("nt"), col("shard"), col("pack_id"))
  }

  /** The sharded pack-stats frame — p8's verify spelling AND p4's bench
    * spelling: the production packer (partitioned window, no single-task
    * sort), aggregated to per-(shard, pack) stats.
    */
  private def shardedPackStats(s: SparkSession, d: String): DataFrame =
    packSequences(Tables.documents(s, d).select(col("doc_id"), col("text")),
        tokenBudget = 2048L, shards = 8)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("pack_id"))

  // P4 — token-budget sequence packing: assign docs, in deterministic
  // doc_id order, to fixed-budget training packs by EXCLUSIVE cumulative
  // token count — pack_id = cum_before div B. Contiguous packing: every
  // pack holds consecutive docs, integer math end to end so both engines
  // agree bit-for-bit. The global ORDER BY window is the tiny-data /
  // oracle-twin spelling that PINS the contiguous-packing semantics; the
  // SHIPPED scale path is `packSequences` above (pack_id = (shard, local
  // bin), oracle-checked by p8), whose partitioned window never forms a
  // single-task sort — so the BENCHED frame is the sharded spelling
  // (benchFn), leaving no benched entry with a corpus-proportional
  // global window (r14 verdict item 5).
  private val p4 = Relational.Q(
    "p4_pack_sequences",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val B = 2048L
      val wx = Window.orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("nt"))
        .withColumn("cb", coalesce(sum(col("nt")).over(wx), lit(0L)))
        .withColumn("pack_id", expr(s"cb div $B"))
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("pack_id"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS nt
        FROM documents),
      c AS (
        SELECT doc_id, nt,
          COALESCE(SUM(nt) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM t)
      SELECT CAST(cb // 2048 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS total_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM c GROUP BY 1 ORDER BY pack_id"""),
    benchFn = Some(shardedPackStats _))

  // P8 — per-shard sequence packing (the packSequences API end to end):
  // shard = md5-derived hash of doc_id mod 8, local exclusive cumsum,
  // pack_id = (shard, local bin). Integer arithmetic throughout and a
  // cross-engine hash, so the ENTIRE scale path — sharding, partitioned
  // cumsum, binning, pack stats — is hash-checked against DuckDB.
  private val p8 = Relational.Q(
    "p8_pack_sequences_sharded",
    (s, d) => shardedPackStats(s, d),
    Some {
      val docHash = graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")
      s"""
      WITH t AS (
        SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS nt,
          $docHash % 8 AS shard
        FROM documents),
      c AS (
        SELECT doc_id, nt, shard,
          COALESCE(SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM t)
      SELECT shard, CAST(cb // 2048 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS total_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM c GROUP BY 1, 2 ORDER BY shard, pack_id"""
    })

  // P9 — pack MATERIALIZATION: the training sequences p8 lays out,
  // actually assembled — per (shard, pack) every member doc concatenated
  // in doc_id order with an EOS separator, pinned by md5 so the oracle
  // checks the assembled BYTES (order included), not just membership.
  // The aggregation buffer holds one pack's docs — bounded by the token
  // budget PLUS the pack's largest single doc (exclusive-cumsum packs
  // overflow by at most their last member, and one outsized doc owns a
  // pack alone at its own size; cap doc length upstream with p1's gate
  // if that bound matters), never by the corpus — and the
  // sort_array(collect_list(struct)) spelling makes the concatenation
  // order deterministic regardless of partition arrival order
  // (collect_list alone is not).
  /** P9's core (shared with P11's manifest): the materialized
    * per-(shard, pack) frame — member count, token total, md5 of the
    * assembled bytes.
    */
  def materializePacks(docs: DataFrame, tokenBudget: Long = 2048L,
      shards: Int = 8): DataFrame = {
    packSequences(docs, tokenBudget, shards)
      .join(docs, Seq("doc_id"))
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_tokens"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
            e => e.getField("text")),
          "<|eos|>")).as("content_hash"))
  }

  private val p9 = Relational.Q(
    "p9_pack_materialize",
    // constants EXPLICIT at the call site: the oracle SQL below
    // hardcodes 2048/8, so a default-argument retune must not be able
    // to desync them silently
    (s, d) => materializePacks(Tables.documents(s, d).select(col("doc_id"), col("text")),
        tokenBudget = 2048L, shards = 8)
      .orderBy(col("shard"), col("pack_id")),
    Some {
      val docHash = graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")
      s"""
      WITH t AS (
        SELECT doc_id, text, len(string_split_regex(trim(text), '\\s+')) AS nt,
          $docHash % 8 AS shard
        FROM documents),
      c AS (
        SELECT doc_id, text, nt, shard,
          COALESCE(SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM t)
      SELECT shard, CAST(cb // 2048 AS BIGINT) AS pack_id, COUNT(*) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS total_tokens,
        md5(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS content_hash
      FROM c GROUP BY 1, 2 ORDER BY shard, pack_id"""
    })

  // P5 — corpus card: the per-(lang, source) dataset summary a training
  // pipeline publishes with every corpus snapshot — doc/token volumes,
  // quality profile, and the quality-gate pass rate, in ONE scan + one
  // map-side-combinable aggregate. Float discipline: the quality average
  // is computed from the SUM OF INTEGER-QUANTIZED scores (floor(q*1e4+.5)
  // as BIGINT) — summing doubles would make the average depend on float
  // accumulation order, which differs across engines; integer sums are
  // exact, and the final division is one deterministic IEEE op.
  private val p5 = Relational.Q(
    "p5_corpus_card",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), col("source"), col("n_chars"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("nt"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          sum(floor(col("quality") * 10000.0 + 0.5)).as("qsum"),
          sum(when(col("quality") >= QualityMin, 1L).otherwise(0L)).as("n_quality_pass"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .select(col("lang"), col("source"), col("n_docs"), col("total_tokens"),
          r2(col("total_tokens") / col("n_docs")).as("avg_tokens"),
          r4(col("qsum") / (col("n_docs") * 10000.0)).as("avg_quality"),
          col("n_quality_pass"), col("min_chars"), col("max_chars"))
        .orderBy(col("lang"), col("source"))
    },
    Some(s"""
      WITH scored AS (
        SELECT lang, source, n_chars,
          len(string_split_regex(trim(text), '\\s+')) AS nt,
          ${TextAnalysis.qualityScoreSql("text")} AS quality
        FROM documents)
      SELECT lang, source,
        COUNT(*) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS total_tokens,
        ${r2Sql("CAST(SUM(nt) AS BIGINT) / COUNT(*)")} AS avg_tokens,
        ${r4Sql("CAST(SUM(CAST(FLOOR(quality*10000.0+0.5) AS BIGINT)) AS BIGINT) / (COUNT(*) * 10000.0)")} AS avg_quality,
        CAST(SUM(CASE WHEN quality >= $QualityMin THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
        MIN(n_chars) AS min_chars,
        MAX(n_chars) AS max_chars
      FROM scored
      GROUP BY lang, source
      ORDER BY lang, source"""))

  // P6 — deterministic weighted corpus mixing: the epoch-sampling stage
  // of training-data assembly — each source gets a sampling weight and
  // every doc a repeat count (0 = downsampled out, 2+ = upsampled), with
  // NO RNG state: weight percent = 50 + hash(source) % 200 (50%..249%,
  // exercising both down- and up-sampling), and the fractional part is
  // resolved per doc by hash(doc_id) % 100 < weight % 100. All integer
  // arithmetic end to end, so the mix is cross-engine exact AND stable
  // under retries/repartitioning — the same doc always gets the same
  // copy count, which is what makes a 1000-executor mixing job
  // reproducible. Map-only (one scan, no shuffle before the ordered
  // output); the actual upsample is explode(sequence(1, n_copies)) on
  // the consumer side.
  private val p6 = Relational.Q(
    "p6_weighted_mix",
    (s, d) => {
      import graft.functions.{HashFunctions => H}
      val wpct = (pmod(H.md5Hash56(col("source")), lit(200L)) + 50L).as("wpct")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), wpct)
        .withColumn("n_copies",
          (col("wpct") / 100L).cast("long") +
            when(pmod(H.md5Hash56(col("doc_id").cast("string")), lit(100L)) <
              col("wpct") % 100L, 1L).otherwise(0L))
        .orderBy(col("doc_id"))
    },
    Some {
      val srcHash = graft.functions.HashFunctions.md5Hash56Sql("source")
      val docHash = graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")
      s"""
      SELECT doc_id, source,
        ($srcHash % 200 + 50) AS wpct,
        (($srcHash % 200 + 50) // 100
          + CASE WHEN $docHash % 100 < ($srcHash % 200 + 50) % 100
                 THEN 1 ELSE 0 END) AS n_copies
      FROM documents ORDER BY doc_id"""
    })

  // P7 — document chunking (RAG / embedding-prep): overlapping 64-token
  // windows at stride 48. Each token expands MAP-SIDE to its <= 2 owning
  // chunks (window/stride bound, not data-bound), then ONE (doc, chunk)
  // hash aggregate emits the chunk row — no per-chunk array is ever
  // materialized, so a chunk never outgrows an aggregation buffer. The
  // chunk content is proven by an order-sensitive-but-commutative hash:
  // BIT_XOR over position-salted md5-derived token hashes (xor is
  // order-independent to AGGREGATE, the position salt makes the VALUE
  // depend on token order) — cross-engine exact, no float involved.
  private val p7 = Relational.Q(
    "p7_chunk_documents",
    (s, d) => {
      import graft.functions.{HashFunctions => H}
      val stride = 48
      val win = 64
      val words = Tables.spread(
          Tables.documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      val c0 = floor(col("pos") / stride).cast("long")
      words
        .select(col("doc_id"), col("pos"), col("w"),
          explode(array(c0, c0 - 1)).as("c"))
        // chunk c owns pos iff c*stride <= pos < c*stride + win; the c0-1
        // candidate exists exactly when this token still falls in its
        // window (overlap region), and c >= 0 guards the first chunk
        .filter(col("c") >= 0 &&
          col("pos") >= col("c") * stride && col("pos") < col("c") * stride + win)
        .select(col("doc_id"), col("c"),
          H.md5Hash56(concat(col("w"), lit("#"),
            (col("pos") - col("c") * stride).cast("string"))).as("th"))
        .groupBy(col("doc_id"), col("c"))
        .agg(count(lit(1)).as("n_tokens"), expr("bit_xor(th)").as("chunk_hash"))
        .select(col("doc_id"), col("c").as("chunk_id"),
          (col("c") * stride).as("start_pos"), col("n_tokens"), col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },
    Some(s"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      chunks AS (
        SELECT doc_id, ws, unnest(generate_series(0, (len(ws) - 1) // 48)) AS c
        FROM t),
      h AS (
        SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
          CAST(c * 48 AS BIGINT) AS start_pos,
          ws[c*48+1 : c*48+64] AS cw
        FROM chunks)
      SELECT doc_id, chunk_id, start_pos,
        CAST(len(cw) AS BIGINT) AS n_tokens,
        list_reduce(list_transform(cw, (x, i) ->
          ${graft.functions.HashFunctions.md5Hash56Sql("x || '#' || (i-1)")}),
          (a, b) -> xor(a, b)) AS chunk_hash
      FROM h ORDER BY doc_id, chunk_id"""))

  /** P10's core: corpus SNAPSHOT DIFF — the release-diffing pass run
    * before publishing a new corpus version: full-outer join of two
    * (doc_id, content-hash) frames, per-doc status added / removed /
    * changed. ONE shuffle on doc_id over slim hash rows (payload text
    * never crosses the exchange — each side hashes at its own scan),
    * which is the canonical 100 TB snapshot-compare shape; at scale both
    * sides would be bucketed by doc_id for a zero-shuffle sort-merge.
    */
  def snapshotDiff(snapA: DataFrame, snapB: DataFrame): DataFrame = {
    // presence is decided by an explicit flag, NOT by hash nullness:
    // md5(NULL text) is NULL, and reading that as "row absent" would
    // misreport a present-but-null-text doc as added/removed. Content
    // compare is null-safe (<=>) so (NULL, NULL) is unchanged and
    // (NULL, "x") is changed.
    val a = snapA.select(col("doc_id"), md5(col("text")).as("h_a"), lit(true).as("in_a"))
    val b = snapB.select(col("doc_id"), md5(col("text")).as("h_b"), lit(true).as("in_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .when(!(col("h_a") <=> col("h_b")), "changed"))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
      .orderBy(col("doc_id"), col("status"))
  }

  // P10 — snapshot diff between the corpus and a deterministically
  // derived "next release": 10% of docs dropped (doc_id % 10 = 0), docs
  // at doc_id % 7 = 0 edited (re-crawled), docs at doc_id % 13 = 0
  // duplicated under new ids (fresh crawl additions). Exact md5 compare,
  // hash-checked cross-engine. The synthetic fresh-crawl ids live in the
  // strictly NEGATIVE space (-doc_id - 1): provably disjoint from the
  // real (non-negative) id space at EVERY corpus size — a fixed +1e6
  // offset would collide with real ids once the corpus reaches 1M docs,
  // and since both engines share the formula the oracle could never
  // catch it (round-5 ADVICE).
  private val p10 = Relational.Q(
    "p10_snapshot_diff",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val nextRelease = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((-col("doc_id") - 1L).as("doc_id"), col("text")))
      snapshotDiff(docs, nextRelease)
    },
    Some("""
      WITH a AS (SELECT doc_id, md5(text) AS h_a, TRUE AS in_a FROM documents),
      b AS (
        SELECT doc_id,
          md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h_b,
          TRUE AS in_b
        FROM documents WHERE doc_id % 10 != 0
        UNION ALL
        SELECT -doc_id - 1 AS doc_id, md5(text) AS h_b, TRUE AS in_b
        FROM documents WHERE doc_id % 13 = 0)
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        CASE WHEN a.in_a IS NULL THEN 'added'
             WHEN b.in_b IS NULL THEN 'removed'
             WHEN a.h_a IS DISTINCT FROM b.h_b THEN 'changed' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      WHERE a.in_a IS NULL OR b.in_b IS NULL OR a.h_a IS DISTINCT FROM b.h_b
      ORDER BY doc_id, status"""))

  // P11 — training-SHARD MANIFEST: the verifiable hand-off artifact a
  // trainer consumes — per shard, the pack count, doc/token volumes,
  // and a shard fingerprint (md5 over the pack content-hashes in
  // pack_id order), so the receiving side can verify every shard
  // end-to-end without re-reading the corpus: recompute any pack's
  // content_hash from its bytes, then the fingerprint from the hashes.
  // One more map-side-combinable aggregate over P9's frame; the
  // fingerprint's struct-sorted collect is bounded by packs-per-shard.
  private val p11 = Relational.Q(
    "p11_shard_manifest",
    (s, d) => {
      materializePacks(Tables.documents(s, d).select(col("doc_id"), col("text")),
          tokenBudget = 2048L, shards = 8) // explicit: oracle hardcodes these
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_packs"),
          sum(col("n_docs")).as("n_docs"),
          sum(col("total_tokens")).as("total_tokens"),
          md5(array_join(
            transform(array_sort(collect_list(struct(col("pack_id"), col("content_hash")))),
              e => e.getField("content_hash")),
            "|")).as("shard_fingerprint"))
        .orderBy(col("shard"))
    },
    Some {
      val docHash = graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")
      s"""
      WITH t AS (
        SELECT doc_id, text, len(string_split_regex(trim(text), '\\s+')) AS nt,
          $docHash % 8 AS shard
        FROM documents),
      c AS (
        SELECT doc_id, text, nt, shard,
          COALESCE(SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM t),
      p AS (
        SELECT shard, CAST(cb // 2048 AS BIGINT) AS pack_id, COUNT(*) AS nd,
          CAST(SUM(nt) AS BIGINT) AS tt,
          md5(string_agg(text, '<|eos|>' ORDER BY doc_id)) AS content_hash
        FROM c GROUP BY 1, 2)
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_packs,
        CAST(SUM(nd) AS BIGINT) AS n_docs,
        CAST(SUM(tt) AS BIGINT) AS total_tokens,
        md5(string_agg(content_hash, '|' ORDER BY pack_id)) AS shard_fingerprint
      FROM p GROUP BY shard ORDER BY shard"""
    })

  /** P12's core: language-TEMPERATURE sampling — the multilingual
    * rebalancing stage (mT5/XLM-R style, public): sample languages
    * proportional to `n_l^alpha` with alpha = 0.5, flattening the head
    * so high-resource languages stop drowning the tail. Exactness
    * discipline: the only float op is ONE correctly-rounded IEEE
    * `sqrt(bigint-as-double)` per language — `floor(sqrt(n))` equals the
    * integer square root for any count below 2^52, so the per-language
    * weight is a BIGINT both engines agree on bit-for-bit; the weight
    * total, the `budget·w_l div W` target, and the keep gate are then
    * pure integer arithmetic (no float sum whose accumulation order
    * could flip a floor).
    *
    * Scale shape: language stats are a GROUP-BY over the corpus (tiny
    * result, langs are bounded), targets ride a broadcast back onto the
    * scan, and the per-doc keep is the q48 TWO-PHASE enumeration —
    * never a per-language corpus sort. `lang` is enum-bounded (five
    * values, `en` ~41% of the corpus), so a plain
    * `row_number().over(partitionBy(lang))` would funnel ~41 TB of a
    * 100 TB corpus through ONE task; instead docs are routed to
    * `buckets` sub-partitions of their language by the HIGH BITS of the
    * 56-bit doc hash (`h div 2^56/buckets` — a monotone PREFIX of the
    * sort key, unlike q48's `% 32`, because here the rank decides which
    * docs survive: ordering by (bucket, h, doc_id) is provably the
    * ordering by (h, doc_id), so the two-phase rank EQUALS the global
    * per-language rank bit-for-bit and the oracle's flat ROW_NUMBER
    * reproduces it for ANY bucket count). Rank inside (lang, bucket),
    * add per-(lang, bucket) prefix-sum offsets (a |langs| x buckets-row
    * frame — constant-size window, the q39/q48 class), keep
    * `lang_rank <= target`. Deterministic (md5-56(doc_id), doc_id)
    * order — stable under retries because nothing samples from RNG
    * state.
    */
  /** Exact per-language rank in deterministic (md5-56(doc_id), doc_id)
    * order WITHOUT an enum-partitioned corpus-wide sort — the shared
    * two-phase core of p3 (stratified sample) and p12/p13 (language
    * sampling). `lang` is enum-bounded, so a plain
    * `row_number().over(partitionBy(lang))` funnels a whole language
    * through ONE task; instead docs route to `buckets` sub-partitions by
    * the HIGH BITS of the 56-bit doc hash (a monotone PREFIX of the sort
    * key — ordering by (bucket, h, doc_id) is provably the ordering by
    * (h, doc_id), so the two-phase rank EQUALS the global per-language
    * rank bit-for-bit at ANY bucket count and a flat ROW_NUMBER oracle
    * reproduces it), rank inside (lang, bucket), and add per-(lang,
    * bucket) prefix-sum offsets (a |langs| x buckets-row frame — its
    * prefix-sum window and the offsets broadcast are both constant-size,
    * adjudicated in PlanAudit). Carries `carry` columns through.
    */
  def langHashRank(docs: DataFrame, carry: Seq[String] = Nil,
      buckets: Int = 32): DataFrame =
    keyHashRank(docs, "lang", carry, buckets)

  /** THE two-phase hash-prefix enumeration core — the one
    * implementation behind keyHashRank (p3/p12/p13/p18's per-key
    * ranks), epochShuffle (p14), curriculumOrder (p15), and
    * weightedSystematicSample (p17), extracted by the r8 review after
    * four hand-kept copies of the same invariant accumulated in this
    * file. Adds `h` = md5-56(hashSeed + doc_id) and `cum` = the running
    * sum of `value` in ((orderPrefix, h, doc_id)) order — restarting
    * per `partitionKeys` (per-language ranks), accumulating globally
    * across `orderPrefix` (curriculum stages) — computed as per-bucket
    * totals (bucket = HIGH BITS of h, a monotone prefix of the sort
    * key, so two-phase == flat at ANY bucket count), one constant-size
    * prefix-sum window over the offsets frame, and a within-bucket
    * running sum. `value` = lit(1) makes `cum` a rank; a weight column
    * makes it a weighted prefix sum. No task ever sorts more than
    * ~1/buckets of a partition; the offsets frame/broadcast are
    * |keys| x buckets rows (PlanAudit-adjudicated per consumer).
    */
  private def hashPrefixCum(df: DataFrame, partitionKeys: Seq[String],
      orderPrefix: Seq[String], value: Column, hashSeed: String,
      buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 1 && (buckets & (buckets - 1)) == 0 && buckets <= (1 << 20),
      s"buckets must be a power of two (hash-prefix routing), got $buckets")
    val shift = 56 - Integer.numberOfTrailingZeros(buckets) // h div 2^56/buckets
    val hashed = df
      .withColumn("h", H.md5Hash56(concat(lit(hashSeed), col("doc_id").cast("string"))))
      .withColumn("b", shiftright(col("h"), shift))
    val grpCols = partitionKeys ++ orderPrefix :+ "b"
    val ordCols = (orderPrefix :+ "b").map(col)
    val offBase =
      if (partitionKeys.isEmpty) Window.orderBy(ordCols: _*)
      else Window.partitionBy(partitionKeys.map(col): _*).orderBy(ordCols: _*)
    val offsets = hashed.groupBy(grpCols.map(col): _*)
      .agg(sum(value).as("bn"))
      .withColumn("off", coalesce(
        sum(col("bn")).over(offBase.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select((grpCols :+ "off").map(col): _*)
    hashed
      .withColumn("cw", sum(value).over(
        Window.partitionBy(grpCols.map(col): _*)
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(offsets), grpCols)
      .withColumn("cum", col("off") + col("cw"))
      .drop("b", "cw", "off")
  }

  /** [[langHashRank]] generalized to ANY bounded-cardinality partition
    * key (p18 ranks within embedding-sign clusters) — the key's
    * cardinality bounds the offsets frame, the bucket count bounds the
    * per-task sort, and the rank column is named `<key>_rank`.
    */
  def keyHashRank(docs: DataFrame, key: String, carry: Seq[String] = Nil,
      buckets: Int = 32): DataFrame =
    hashPrefixCum(docs.select((Seq("doc_id", key) ++ carry).map(col): _*),
      Seq(key), Nil, lit(1L), "", buckets)
      .withColumnRenamed("cum", s"${key}_rank")
      .drop("h")

  /** The p12/p18 shared sqrt-temperature allocation: per-key integer
    * targets `(floor(sqrt(n)) * budget) div sum(floor(sqrt(n)))` — ONE
    * definition so the exact-integer arithmetic both oracles pin can't
    * diverge between the language (p12) and semantic-cluster (p18)
    * spellings. floor(sqrt) is exact below 2^52 (sqrt is correctly
    * rounded IEEE in both engines); everything after is pure integer.
    */
  private def sqrtTemperatureTargets(items: DataFrame, key: String,
      budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val stats = items.groupBy(col(key))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", floor(sqrt(col("n").cast("double"))).cast("long"))
    val wTotal = stats.agg(sum(col("w")).as("w_total"))
    stats.crossJoin(broadcast(wTotal))
      .select(col(key), expr(s"(w * $budget) div w_total").as("target"))
  }

  def temperatureSample(docs: DataFrame, budget: Long,
      buckets: Int = 32): DataFrame = {
    langHashRank(docs, carry = Seq("source"), buckets = buckets)
      .join(broadcast(sqrtTemperatureTargets(docs, "lang", budget)), Seq("lang"))
      .filter(col("lang_rank") <= col("target"))
      .select(col("doc_id"), col("lang"), col("source"), col("lang_rank"))
      .orderBy(col("doc_id"))
  }

  // P12 — temperature sampling at a 200-doc budget: en (39% of the
  // corpus) flattens to ~28% of the sample while the tail languages
  // rise — the rebalancing visible in the oracle-checked output itself.
  private val p12 = Relational.Q(
    "p12_temperature_sample",
    (s, d) => temperatureSample(Tables.documents(s, d), budget = 200L),
    Some {
      val docHash = graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")
      s"""
      WITH st AS (
        SELECT lang, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
        FROM documents GROUP BY lang),
      tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM st),
      tgt AS (SELECT lang, (w * 200) // w_total AS target FROM st, tot),
      r AS (
        SELECT doc_id, lang, source,
          CAST(ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY $docHash, doc_id) AS BIGINT) AS lang_rank
        FROM documents)
      SELECT doc_id, lang, source, lang_rank
      FROM r JOIN tgt USING (lang)
      WHERE lang_rank <= target
      ORDER BY doc_id"""
    })

  /** P13's core: UNIMAX language sampling (Chung et al. 2023, public —
    * the budget-driven successor to P12's temperature heuristic):
    * languages are allocated a uniform share of the budget, EXCEPT that
    * no language may repeat more than `maxEpochs` times — process
    * languages from smallest corpus to largest, give each
    * `min(n_l * maxEpochs, remaining div langs_left)`, and fold what the
    * capped tail languages could not use back into the head's shares.
    * Head languages never drown the tail (uniform shares), tail
    * languages never over-repeat (the epoch cap) — the two failure
    * modes temperature sampling trades off, solved exactly.
    *
    * Exactness: the greedy runs over the |langs|-row stats frame on the
    * driver (enum-bounded collect — the x3/audit-report convention) in
    * pure integer arithmetic; the oracle replays it as a DuckDB
    * RECURSIVE CTE, so the whole allocation is cross-engine
    * hash-checked. The per-doc keep is the shared two-phase
    * [[langHashRank]]; an allocation above one epoch emits the SAME
    * deterministic hash-order prefix again with `epoch` incremented
    * (docs repeat whole epochs first, then the rank-prefix partial
    * epoch — UniMax's "repeat the corpus, cap the repeats").
    *
    * Scale: stats aggregate (tiny), driver loop over <=|langs| rows,
    * broadcast targets (a LOCAL frame — no corpus lineage), two-phase
    * rank (no enum-partitioned sort), and the epoch explode expands each
    * kept doc at most `maxEpochs` x. Output: (doc_id, lang, source,
    * lang_rank, epoch), one row per (doc, epoch) occurrence.
    */
  def unimaxSample(docs: DataFrame, budget: Long, maxEpochs: Int = 1,
      buckets: Int = 32): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val spark = docs.sparkSession
    import spark.implicits._
    val stats = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (l, n) => (n, l) } // smallest corpus first, name tie-break
    var remaining = budget
    var left = stats.length
    val targets = stats.map { case (l, n) =>
      val alloc = math.min(n * maxEpochs, remaining / left)
      remaining -= alloc
      left -= 1
      (l, n, alloc)
    }.toSeq
    val tgt = targets.toDF("lang", "n", "alloc")
      // whole epochs + a hash-order partial epoch prefix
      .select(col("lang"), col("alloc"),
        expr("alloc div n").as("full_epochs"),
        expr("alloc % n").as("part_len"))
    langHashRank(docs, carry = Seq("source"), buckets = buckets)
      .join(broadcast(tgt), Seq("lang"))
      .withColumn("n_occ",
        col("full_epochs") + when(col("lang_rank") <= col("part_len"), 1L).otherwise(0L))
      .filter(col("n_occ") >= 1)
      .select(col("doc_id"), col("lang"), col("source"), col("lang_rank"),
        explode(sequence(lit(0L), col("n_occ") - 1L)).as("epoch"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  // P13 — UniMax at budget 700 docs over a ~500-doc corpus with a 2-epoch
  // cap: small languages hit the epoch cap (their docs appear twice),
  // the largest language absorbs the folded-back remainder as a partial
  // epoch — both allocation branches live in the oracle-checked output.
  private val p13 = Relational.Q(
    "p13_unimax_sample",
    (s, d) => unimaxSample(Tables.documents(s, d), budget = 700L, maxEpochs = 2),
    Some {
      val docHash = graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")
      s"""
      WITH RECURSIVE st AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
      ordered AS (
        SELECT lang, n, CAST(ROW_NUMBER() OVER (ORDER BY n, lang) AS BIGINT) AS i
        FROM st),
      nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM st),
      alloc AS (
        SELECT CAST(0 AS BIGINT) AS i, CAST(700 AS BIGINT) AS remaining,
               CAST(NULL AS VARCHAR) AS lang, CAST(0 AS BIGINT) AS n,
               CAST(0 AS BIGINT) AS a
        UNION ALL
        SELECT o.i,
               rem.remaining - LEAST(o.n * 2, rem.remaining // (nl.k - rem.i)),
               o.lang, o.n,
               LEAST(o.n * 2, rem.remaining // (nl.k - rem.i))
        FROM alloc rem, nl, ordered o WHERE o.i = rem.i + 1),
      tgt AS (
        SELECT lang, a // n AS full_epochs, a % n AS part_len
        FROM alloc WHERE i > 0),
      r AS (
        SELECT doc_id, lang, source,
          CAST(ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY $docHash, doc_id) AS BIGINT) AS lang_rank
        FROM documents),
      occ AS (
        SELECT doc_id, lang, source, lang_rank,
          full_epochs + CASE WHEN lang_rank <= part_len THEN 1 ELSE 0 END AS n_occ
        FROM r JOIN tgt USING (lang))
      SELECT doc_id, lang, source, lang_rank, CAST(e AS BIGINT) AS epoch
      FROM occ, UNNEST(generate_series(0, n_occ - 1)) AS u(e)
      WHERE n_occ >= 1
      ORDER BY doc_id, epoch"""
    })

  /** P14's core: DETERMINISTIC EPOCH SHUFFLE — the global training-order
    * permutation every epoch needs, WITHOUT a global sort and without RNG
    * state. The permutation key is md5-56("epoch:doc_id") (a fresh
    * pseudorandom order per epoch, identical in DuckDB, stable under
    * retries/repartitioning — `orderBy(rand())` can promise none of
    * that); the POSITION is the q48 two-phase enumeration over
    * hash-PREFIX buckets: route by the key's high bits (monotone prefix
    * — ordering by (bucket, key, doc_id) IS the ordering by (key,
    * doc_id)), rank within each bucket, add per-bucket prefix-sum
    * offsets (a `buckets`-row frame, the q48 constant-size class). The
    * result is provably the same positions a flat
    * `ROW_NUMBER() OVER (ORDER BY key, doc_id)` assigns — the oracle
    * pins exactly that — with the largest per-task sort being ~n/buckets
    * rows instead of n.
    *
    * 100 TB: a trainer materializes (doc_id, pos) per epoch and range-
    * reads by pos; each epoch is one scan + one bucket-keyed shuffle.
    */
  def epochShuffle(docs: DataFrame, epoch: Long,
      buckets: Int = 1024): DataFrame = {
    require(epoch >= 0, s"epoch must be >= 0, got $epoch")
    hashPrefixCum(docs.select(col("doc_id")), Nil, Nil, lit(1L),
        s"$epoch:", buckets)
      .select(col("doc_id"), col("cum").as("pos"))
  }

  // P14 — epoch-1 shuffle of the documents table: (doc_id, pos) is a
  // permutation (oracle = the flat global ROW_NUMBER over the same key,
  // so the hash match proves the two-phase positions exactly).
  private val p14 = Relational.Q(
    "p14_epoch_shuffle",
    (s, d) => epochShuffle(Tables.documents(s, d), epoch = 1L)
      .orderBy(col("doc_id")),
    Some {
      val h = graft.functions.HashFunctions.md5Hash56Sql("('1:' || CAST(doc_id AS VARCHAR))")
      s"""
      SELECT doc_id,
        CAST(ROW_NUMBER() OVER (ORDER BY $h, doc_id) AS BIGINT) AS pos
      FROM documents ORDER BY doc_id"""
    })

  /** P15's core: CURRICULUM ORDERING — the easy-to-hard training order
    * (Bengio et al. 2009; as sequence-length warmup the published LLM
    * stabilizer, Li et al. 2022): docs are staged by a DETERMINISTIC
    * LOCAL difficulty rule (word count under ascending `stageBounds`
    * thresholds — no corpus-wide quantile pass), and the global training
    * position orders stages first, with docs WITHIN a stage in
    * pseudorandom md5-56 hash order (strict score-sorted order is bad
    * for SGD; staged-then-shuffled is the published compromise).
    *
    * The position is the q48/p14 two-phase enumeration, never a global
    * sort: route by (stage, high-bits-of-hash) — a monotone PREFIX of
    * the sort key (stage, h, doc_id), so ordering by (stage, bucket, h,
    * doc_id) IS ordering by (stage, h, doc_id) and the two-phase
    * positions provably equal the flat global ROW_NUMBER the oracle
    * computes, at ANY bucket count (spec pins buckets=4 == buckets=1024
    * bit-for-bit). Rank within (stage, bucket), add per-(stage, bucket)
    * prefix-sum offsets — a stages x buckets-row constant-size frame
    * (its global window and broadcast are PlanAudit-adjudicated).
    *
    * 100 TB: one scan + one bucket-keyed shuffle; largest per-task sort
    * ~n/buckets rows. The trainer materializes (doc_id, pos) and
    * range-reads by pos, exactly the p14 contract, with `stage`
    * carried so a warmup schedule can cut over per stage.
    */
  def curriculumOrder(docs: DataFrame, stageBounds: Seq[Long] = Seq(40L, 70L),
      buckets: Int = 1024): DataFrame = {
    require(stageBounds.nonEmpty && stageBounds == stageBounds.sorted
      && stageBounds.distinct == stageBounds,
      s"stageBounds must be strictly ascending, got $stageBounds")
    val txt = coalesce(col("text"), lit(""))
    val nWords = when(trim(txt) === "", lit(0L))
      .otherwise(size(split(trim(txt), "\\s+")).cast("long"))
    // smallest bound OUTERMOST so each doc lands in its first matching
    // stage (a foldLeft would shadow stage 0 behind later bounds)
    val stage = stageBounds.zipWithIndex
      .foldRight(lit(stageBounds.length.toLong)) { case ((bound, i), els) =>
        when(col("n_words") < bound, i.toLong).otherwise(els)
      }
    val staged = docs.select(col("doc_id"), col("lang"), nWords.as("n_words"))
      .withColumn("stage", stage)
    // stages in the ORDER prefix (not the partition): positions
    // accumulate globally across stages — the curriculum invariant
    hashPrefixCum(staged, Nil, Seq("stage"), lit(1L), "", buckets)
      .select(col("doc_id"), col("lang"), col("n_words"), col("stage"),
        col("cum").as("pos"))
  }

  // P15 — length-warmup curriculum over the documents table (stages at
  // <40 / <70 / rest words — all three live on the corpus): the oracle's
  // flat ROW_NUMBER over (stage, hash, doc_id) pins the two-phase
  // positions exactly.
  private val p15 = Relational.Q(
    "p15_curriculum_order",
    (s, d) => curriculumOrder(Tables.documents(s, d))
      .orderBy(col("doc_id")),
    Some {
      val h = graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")
      s"""
      WITH w AS (
        SELECT doc_id, lang,
          CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
               ELSE len(string_split_regex(trim(COALESCE(text, '')), '\\s+')) END AS n_words
        FROM documents),
      st AS (
        SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words,
          CAST(CASE WHEN n_words < 40 THEN 0
                    WHEN n_words < 70 THEN 1
                    ELSE 2 END AS BIGINT) AS stage
        FROM w)
      SELECT doc_id, lang, n_words, stage,
        CAST(ROW_NUMBER() OVER (ORDER BY stage, $h, doc_id) AS BIGINT) AS pos
      FROM st ORDER BY doc_id"""
    })

  /** P16's core: DSIR-style data selection (Xie et al. 2023, NeurIPS —
    * "Data Selection for Language Models via Importance Resampling"),
    * deterministic spelling. Words hash into `nBuckets` feature buckets
    * (md5-56, the cross-engine x9/x11 hash); the target slice and the
    * raw corpus each get a per-bucket count; a raw doc is scored by how
    * its tokens' buckets weigh target vs raw.
    *
    * Float discipline (the t16 lesson): the KEEP decision never rides
    * on a float. Each bucket votes sign(ct*rn - cr*tn) — the UNSMOOTHED
    * likelihood-ratio sign, cross-multiplied in DECIMAL(38,0) so it is
    * exact at any corpus size (1e13-token counts square to ~1e26, well
    * inside 38 digits; DuckDB's HUGEINT sums match exactly). A doc is
    * kept iff its tokens' votes sum positive — pure integers, immune to
    * summation order. The add-1-smoothed mean log-ratio `score` (the
    * paper's actual importance weight, where smoothing IS needed to
    * avoid ln 0) is carried r4-rounded for ranking/diagnostics only
    * (the t11 ln contract). Why not vote on the smoothed ratio: +1 on
    * both counts tilts every high-frequency bucket against the smaller
    * corpus (the target), degenerating the gate to "drop everything" —
    * the unsmoothed sign is unbiased for a target drawn from the
    * corpus.
    *
    * Scale (100 TB): tokenize once; ONE nBuckets-row count aggregate
    * (map-side combinable); totals from that frame (not a rescan); the
    * vote/log-ratio frame joins back broadcast (parameter-bounded — see
    * PlanAudit.allowedHints); one doc_id-keyed aggregate. No window, no
    * corpus-side broadcast, no collect.
    */
  def dsirSample(docs: DataFrame, isTarget: Column,
      nBuckets: Int = 256): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val tb = Tables.spread(docs.select(col("doc_id"), col("lang"),
        isTarget.as("tgt"), col("text")))
      .select(col("doc_id"), col("lang"), col("tgt"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .select(col("doc_id"), col("lang"), col("tgt"),
        pmod(H.md5Hash56(col("token")), lit(nBuckets.toLong)).as("bucket"))
    val sgn = dsirBucketWeights(tb, nBuckets)
    tb.filter(!col("tgt"))
      .join(broadcast(sgn), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s")).as("votes"),
        r4(avg(col("lw"))).as("score"))
      .withColumn("kept", col("votes") > 0)
      .orderBy(col("doc_id"))
  }

  /** The nBuckets-row (bucket, s, lw) weight frame from a
    * (tgt, bucket) token frame — P16's trained state, shared by the
    * batch operator and [[dsirVoteModel]] (the A38 streaming gate).
    */
  private def dsirBucketWeights(tb: DataFrame, nBuckets: Int): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cnt = tb.groupBy(col("bucket")).agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("tgt"), 0L).otherwise(1L)).as("cr"))
    val tot = cnt.agg(sum(col("ct")).as("tn"), sum(col("cr")).as("rn"))
    cnt.crossJoin(broadcast(tot)).select(
      col("bucket"),
      when(col("ct").cast(d38) * col("rn").cast(d38) >
           col("cr").cast(d38) * col("tn").cast(d38), 1L)
        .when(col("ct").cast(d38) * col("rn").cast(d38) <
              col("cr").cast(d38) * col("tn").cast(d38), -1L)
        .otherwise(0L).as("s"),
      ((log((col("ct") + 1).cast("double")) - log((col("tn") + nBuckets).cast("double")))
        - (log((col("cr") + 1).cast("double")) - log((col("rn") + nBuckets).cast("double"))))
        .as("lw"))
  }

  // P16 — DSIR selection against the benchmark-slice target (the
  // d8/d16/x11 doc_id % 20 convention): a random-slice target makes the
  // vote an unbiased typicality test, so both keep branches are live at
  // every SF. Everything except the display score is integer-exact.
  private val p16 = Relational.Q(
    "p16_dsir_sample",
    (s, d) => dsirSample(Tables.documents(s, d), col("doc_id") % 20 === 0),
    Some {
      val h = graft.functions.HashFunctions.md5Hash56Sql("token")
      s"""
      WITH toks AS (
        SELECT doc_id, lang, doc_id % 20 = 0 AS tgt,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents),
      tb AS (
        SELECT doc_id, lang, tgt, $h % 256 AS bucket FROM toks),
      cnt AS (
        SELECT bucket,
          SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
          SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
        FROM tb GROUP BY bucket),
      tot AS (SELECT SUM(ct) AS tn, SUM(cr) AS rn FROM cnt),
      sgn AS (
        SELECT bucket,
          CAST(CASE WHEN ct * rn > cr * tn THEN 1
                    WHEN ct * rn < cr * tn THEN -1 ELSE 0 END AS BIGINT) AS s,
          (ln(CAST(ct + 1 AS DOUBLE)) - ln(CAST(tn + 256 AS DOUBLE)))
            - (ln(CAST(cr + 1 AS DOUBLE)) - ln(CAST(rn + 256 AS DOUBLE))) AS lw
        FROM cnt, tot),
      sc AS (
        SELECT t.doc_id, t.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(g.s) AS BIGINT) AS votes, ${r4Sql("AVG(g.lw)")} AS score
        FROM tb t JOIN sgn g USING (bucket)
        WHERE NOT t.tgt GROUP BY t.doc_id, t.lang)
      SELECT doc_id, lang, n_tokens, votes, score, votes > 0 AS kept
      FROM sc ORDER BY doc_id"""
    })

  /** A38's trained state: the per-bucket vote signs, collected to a
    * <= nBuckets-entry map (parameter-bounded — the A33 top-K-model /
    * x3 convention). Train in batch, gate the stream.
    */
  def dsirVoteModel(docs: DataFrame, isTarget: Column,
      nBuckets: Int = 256): Map[Long, Int] = {
    val tb = docs.select(isTarget.as("tgt"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      .select(col("tgt"),
        pmod(H.md5Hash56(col("token")), lit(nBuckets.toLong)).as("bucket"))
    dsirBucketWeights(tb, nBuckets)
      .select(col("bucket"), col("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
  }

  /** A38: the DSIR gate as a stateless narrow projection over any
    * (doc_id, text) frame, batch or stream (the A28 attach pattern) —
    * scoring is row-local against the driver-trained vote model
    * (tokensLocal + md5Hash56Local are the spec-pinned twins of the
    * batch tokenize/hash), and the gate is all-integer, so streamed
    * votes equal the batch operator's bit-for-bit. Buckets absent from
    * the model (never seen in training) contribute 0 — a doc of
    * entirely-new vocabulary scores 0 votes and is dropped, the
    * conservative default for a selection gate. Null text gates to
    * (0, 0, false); callers mirroring the batch operator's
    * explode-drops-null contract filter nulls first.
    */
  def dsirGate(df: DataFrame, model: Map[Long, Int],
      nBuckets: Int = 256): DataFrame = {
    val nb = nBuckets.toLong
    val scoreUdf = udf { text: String =>
      val tk = H.tokensLocal(text)
      var votes = 0L
      var i = 0
      while (i < tk.length) {
        votes += model.getOrElse(H.md5Hash56Local(tk(i)) % nb, 0)
        i += 1
      }
      (tk.length.toLong, votes, votes > 0)
    }
    df.withColumn("g", scoreUdf(col("text")))
      .select(col("doc_id"), col("g._1").as("n_tokens"),
        col("g._2").as("votes"), col("g._3").as("kept"))
  }

  /** P17's core: size-proportional SYSTEMATIC sampling (probability-
    * proportional-to-size without replacement — Madow 1949, the classic
    * survey-sampling design; as corpus subsampling it picks documents
    * with probability ∝ weight, e.g. chars or tokens, so the SAMPLE's
    * token budget tracks the corpus mix). Docs are laid on a line in
    * deterministic md5-56 hash order (the p14 shuffle — systematic
    * sampling requires a randomized order to dodge periodicity, and the
    * hash IS that order, replayably); each doc occupies its weight in
    * length; the k equally-spaced picks select whichever doc spans them:
    * doc i is picked iff floor(cum_i*k/W) > floor((cum_i-w_i)*k/W).
    *
    * All-integer: the boundary test cross-multiplies in DECIMAL(38,0)
    * (cum ~ 1e14 chars x k ~ 1e9 picks ~ 1e23, inside 38 digits; DuckDB
    * runs the same `//` on HUGEINT), so selection never rides on a
    * float. Picks exactly k docs unless some single doc outweighs W/k
    * (it then absorbs multiple picks but is emitted once, with its
    * `picks` count carrying the multiplicity — the standard PPS
    * certainty-unit caveat, visible in the output rather than hidden).
    *
    * Scale: the weighted running sum is the q48/p14 two-phase
    * enumeration — per-bucket weight totals (buckets-row frame, prefix-
    * summed in one constant-size window) + a within-bucket running sum
    * partitioned by the hash-prefix bucket. Routing by the HIGH bits of
    * h makes (b, h, doc_id) order equal (h, doc_id) order, so the
    * two-phase cum provably equals the flat prefix sum at ANY bucket
    * count — no task ever sorts more than ~W/buckets of the corpus.
    */
  def weightedSystematicSample(docs: DataFrame, weight: Column, k: Long,
      buckets: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = docs.select(col("doc_id"), col("lang"), weight.cast("long").as("w"))
      .filter(col("w") > 0)
    val wTotal = base.agg(sum(col("w")).as("w_total"))
    hashPrefixCum(base, Nil, Nil, col("w"), "ws:", buckets)
      .crossJoin(broadcast(wTotal))
      .withColumn("hi", expr(s"(CAST(cum AS DECIMAL(38,0)) * $k) div CAST(w_total AS DECIMAL(38,0))"))
      .withColumn("lo", expr(s"(CAST(cum - w AS DECIMAL(38,0)) * $k) div CAST(w_total AS DECIMAL(38,0))"))
      .filter(col("hi") > col("lo"))
      .select(col("doc_id"), col("lang"), col("w"), col("cum"),
        (col("hi") - col("lo")).as("picks"))
      .orderBy(col("doc_id"))
  }

  // P17 — PPS systematic sample of 100 docs weighted by n_chars: the
  // oracle's flat SUM OVER (ORDER BY hash, doc_id) prefix sum pins the
  // two-phase cum AND the integer pick boundaries exactly.
  private val p17 = Relational.Q(
    "p17_weighted_sample",
    (s, d) => weightedSystematicSample(Tables.documents(s, d),
      col("n_chars"), k = 100L),
    Some {
      val h = graft.functions.HashFunctions.md5Hash56Sql("('ws:' || CAST(doc_id AS VARCHAR))")
      s"""
      WITH hd AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w, $h AS h
        FROM documents WHERE n_chars > 0),
      c AS (
        SELECT doc_id, lang, w,
          SUM(w) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hd),
      t AS (SELECT SUM(w) AS wt FROM hd)
      SELECT doc_id, lang, w, CAST(cum AS BIGINT) AS cum,
        CAST((cum * 100) // wt - ((cum - w) * 100) // wt AS BIGINT) AS picks
      FROM c, t
      WHERE (cum * 100) // wt > ((cum - w) * 100) // wt
      ORDER BY doc_id"""
    })

  /** P18's core: D4-style diversified selection (Tirumala et al. 2023,
    * arXiv:2308.12284 — "D4: Improving LLM Pretraining via Document
    * De-Duplication and Diversification", the published recipe of
    * SemDeDup followed by cluster-balanced sampling). Stage 1 = d17's
    * deterministic SemDeDup (sign-bucket clusters, min-id cosine
    * dominance). Stage 2 re-balances the SURVIVORS across those same
    * semantic clusters with p12's sqrt-temperature integer arithmetic —
    * head clusters flatten, tail clusters keep share — selecting
    * `cluster_rank <= target` in deterministic hash order.
    *
    * Exactness: the cluster targets are p12's integer spelling
    * (floor(sqrt(n)) is exact below 2^52; `(w * budget) div w_total`
    * pure integer), and the per-cluster rank is [[keyHashRank]] —
    * two-phase hash-prefix enumeration, so the oracle's flat
    * ROW_NUMBER reproduces it at any bucket count. No RNG anywhere.
    *
    * Scale (100 TB): d17's one bucket-keyed shuffle + slim dominance
    * frame; survivors join embeddings-to-docs on doc_id (id-keyed
    * shuffle, co-partitioned with the corpus at scale); stats/targets/
    * offsets are all 2^signBits- or parameter-bounded broadcasts
    * (PlanAudit-adjudicated); ranks never funnel a cluster through one
    * task. Production: cluster ids from the trained IVF centroids (the
    * d17 note) — stages unchanged.
    */
  def d4Diversify(docs: DataFrame, emb: DataFrame, budget: Long,
      signBits: Int = 4, tau: Double = 0.4, buckets: Int = 32): DataFrame = {
    val sd = Dedup.semDeDup(emb, signBits, tau)
    val survivors = docs.select(col("doc_id"), col("lang"))
      .join(sd.filter(!col("dropped"))
        .select(col("vec_id").as("doc_id"), col("bucket").as("cluster")),
        Seq("doc_id"))
    keyHashRank(survivors, "cluster", carry = Seq("lang"), buckets = buckets)
      .join(broadcast(sqrtTemperatureTargets(survivors, "cluster", budget)), Seq("cluster"))
      .filter(col("cluster_rank") <= col("target"))
      .select(col("doc_id"), col("lang"), col("cluster"), col("cluster_rank"))
      .orderBy(col("doc_id"))
  }

  // P18 — D4 over the embedded corpus at a 200-doc budget: the oracle
  // replays semdedup (d17's SQL), the sqrt-temperature targets (p12's),
  // and the flat per-cluster ROW_NUMBER that the two-phase rank
  // provably equals.
  private val p18 = Relational.Q(
    "p18_d4_diversify",
    (s, d) => d4Diversify(Tables.documents(s, d), Tables.embeddings(s, d),
      budget = 200L),
    Some {
      val docHash = graft.functions.HashFunctions.md5Hash56Sql("CAST(doc_id AS VARCHAR)")
      s"""
      WITH b AS (
        SELECT vec_id, embedding,
          CAST((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS BIGINT) AS cluster
        FROM embeddings),
      dom AS (
        SELECT DISTINCT x.vec_id
        FROM b a JOIN b x ON a.cluster = x.cluster AND a.vec_id < x.vec_id
        WHERE list_reduce(list_transform(list_zip(a.embedding, x.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (m, n) -> m + n)
          / sqrt(
              list_reduce(list_transform(a.embedding,
                v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (m, n) -> m + n)
              * list_reduce(list_transform(x.embedding,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), (m, n) -> m + n))
          >= 0.4),
      surv AS (
        SELECT d.doc_id, d.lang, b.cluster
        FROM documents d JOIN b ON d.doc_id = b.vec_id
        WHERE b.vec_id NOT IN (SELECT vec_id FROM dom)),
      st AS (
        SELECT cluster, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
        FROM surv GROUP BY cluster),
      tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM st),
      tgt AS (SELECT cluster, (w * 200) // w_total AS target FROM st, tot),
      r AS (
        SELECT doc_id, lang, cluster,
          CAST(ROW_NUMBER() OVER (PARTITION BY cluster
            ORDER BY $docHash, doc_id) AS BIGINT) AS cluster_rank
        FROM surv)
      SELECT doc_id, lang, cluster, cluster_rank
      FROM r JOIN tgt USING (cluster)
      WHERE cluster_rank <= target
      ORDER BY doc_id"""
    })

  /** P19's core: LEAKAGE-SAFE train/val split — p2's deterministic hash
    * split with the split unit lifted from the document to its near-dup
    * CLUSTER, so two near-duplicates can never straddle the boundary
    * (the classic eval-leakage failure: a val doc's near-twin in train
    * inflates every metric; splitting by doc hash GUARANTEES some
    * straddles once near-dups exist). Docs carrying no cluster split as
    * their own singleton group; the side is
    * md5-56("split:" + group) mod 100 < valPct — deterministic,
    * retry-stable, and identical for every member of a cluster by
    * construction.
    *
    * Scale: one id-keyed left join against the cluster assignment (d6's
    * materialized view — built once, shared with d7) + a narrow hash
    * projection. No window, no new shuffle class.
    */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
      valPct: Int = 20): DataFrame = {
    require(valPct >= 1 && valPct <= 99, s"valPct in [1,99], got $valPct")
    docs.select(col("doc_id"), col("lang"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .withColumn("split_group", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(pmod(H.md5Hash56(concat(lit("split:"), col("split_group").cast("string"))),
          lit(100L)) < valPct, "val").otherwise("train"))
      .select(col("doc_id"), col("lang"), col("split_group"), col("split"))
      .orderBy(col("doc_id"))
  }

  // P19 — leakage-safe split over the real corpus and d6's cluster view:
  // the oracle rebuilds the clusters with the shared recursive-CTE CC
  // and replays the same group-hash side assignment.
  private val p19 = Relational.Q(
    "p19_leakage_safe_split",
    (s, d) => leakageSafeSplit(Tables.documents(s, d),
      Dedup.nearDupClustersView(s, d)),
    Some {
      val h = graft.functions.HashFunctions.md5Hash56Sql("('split:' || CAST(grp AS VARCHAR))")
      s"""
      WITH RECURSIVE ${Dedup.pairwiseSql("documents")},
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
      g AS (
        SELECT d.doc_id, d.lang,
          COALESCE(c.cluster_id, d.doc_id) AS grp
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
      SELECT doc_id, lang, grp AS split_group,
        CASE WHEN $h % 100 < 20 THEN 'val' ELSE 'train' END AS split
      FROM g ORDER BY doc_id"""
    })

  // P20 — QUALITY-weighted selection: the stage public pipelines run
  // after scoring — sample docs with probability proportional to the
  // learned quality score, not to size (the quality-classifier
  // selection recipe). Pure composition of two verified cores: t15's
  // model score (integer Σw per doc, parameter-bounded model broadcast)
  // becomes the PPS weight feeding p17's all-integer systematic
  // sampler; non-positive scores weight 0 and drop out — the sampler
  // IS the keep gate. Every stage keeps its own scale shape (t15: one
  // explode + broadcast join + map-side agg; p17: two-phase bucket
  // prefix sums, no corpus-wide sort).
  private val p20 = Relational.Q(
    "p20_quality_weighted_sample",
    (s, d) => {
      val dim = 4096
      val model = s.range(dim).select(col("id").as("bucket"),
        ((col("id") * 2654435761L) % 1009L - 504L).as("w"))
      val scored = TextAnalysis.qualityModelScore(Tables.documents(s, d), model, dim)
        .select(col("doc_id"), col("score_sum"))
      val withW = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"))
      weightedSystematicSample(withW, greatest(col("score_sum"), lit(0L)), k = 100L)
    },
    Some {
      val hb = graft.functions.HashFunctions.md5Hash56Sql("t")
      val h = graft.functions.HashFunctions.md5Hash56Sql("('ws:' || CAST(doc_id AS VARCHAR))")
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents),
      b AS (SELECT doc_id, $hb % 4096 AS bucket FROM toks),
      w AS (SELECT range AS bucket, (range * 2654435761) % 1009 - 504 AS w
            FROM range(4096)),
      sc AS (SELECT doc_id, CAST(SUM(w.w) AS BIGINT) AS score
             FROM b JOIN w USING (bucket) GROUP BY doc_id),
      hd AS (
        SELECT d.doc_id, d.lang, GREATEST(sc.score, 0) AS w, $h AS h
        FROM documents d JOIN sc USING (doc_id)
        WHERE GREATEST(sc.score, 0) > 0),
      c AS (
        SELECT doc_id, lang, w,
          SUM(w) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hd),
      t AS (SELECT SUM(w) AS wt FROM hd)
      SELECT doc_id, lang, w, CAST(cum AS BIGINT) AS cum,
        CAST((cum * 100) // wt - ((cum - w) * 100) // wt AS BIGINT) AS picks
      FROM c, t
      WHERE (cum * 100) // wt > ((cum - w) * 100) // wt
      ORDER BY doc_id"""
    })

  // P21 — the RAW-CRAWL front end as one composed plan (round 11): the
  // stages every web-scale corpus build runs BEFORE the content
  // pipeline p1 models — HTML → text extraction (t34), canonical-URL
  // dedup keep (t32, the cheapest dedup there is), char-entropy gating
  // (t33, drops blobs/spam), and a minimum extracted-word floor — all
  // four oracle-checked individually and HERE as a composition over the
  // shared planted fixtures (one URL + one HTML document per corpus
  // row, from the t32/t34 fixture columns so unit and composite can
  // never drift). Every stage is a narrow projection or one keyed
  // window; Catalyst plans the whole tree (extraction fuses into the
  // scan projection; the only shuffles are the canon_url window and the
  // per-(doc, char) entropy aggregate).
  private val p21 = Relational.Q(
    "p21_web_pipeline",
    (s, d) => {
      import graft.operators.{TextAnalysis => T}
      // r17 single-pass rewrite (guide §2.3/§2.4 + compute-after-filter):
      // the old three-branch join spelling ran the 10-regex htmlToText
      // extraction over the WHOLE corpus in two branches and shuffled the
      // extracted text by doc_id. The URL-dedup keep is doc_id ==
      // min(doc_id) per canon_url — decidable on the slim (doc_id,
      // canon_url) projection alone — so: one map-side-combinable min
      // aggregate picks the survivors, one id-equi join re-attaches them
      // (AQE broadcasts the url-proportional min frame at bench scale;
      // at 100 TB it degrades to an id-keyed join, never shuffling text
      // by the skewable canon_url), and extraction + entropy + word
      // count run AFTER the keep filter, on survivors only. Row-local
      // columns commute with the inner join/filter, so the output is
      // bit-identical (oracle-checked tri-SF).
      val docs = Tables.documents(s, d)
      val canon = T.canonicalizeUrl(T.fixtureDirtyUrl)
      // doc_id is unique, so joining on it alone is equivalent to the
      // (canon_url, doc_id) keep test and lets canon_url ride the
      // BROADCAST side — the probe never computes the regex-heavy
      // canonicalization. Opaque (guide §4.4) pins the extraction where
      // it is written: without it Catalyst pushed the h_bits/n_words
      // predicate below the join, re-running the extraction over every
      // corpus row instead of the ~survivor set.
      // GUARD: Opaque blocks EVERY predicate pushdown through this
      // projection, not just h_bits/n_words: a filter later placed above
      // it (even on doc_id) silently stops pushing. OpaqueGuardSpec pins
      // the h_bits/n_words filter above the keep-join.
      val minIds = docs.select(col("doc_id"), canon.as("canon_url"))
        .groupBy(col("canon_url")).agg(min(col("doc_id")).as("doc_id"))
      val xt = graft.functions.Opaque(T.htmlToText(T.fixtureHtml))
      docs.select(col("doc_id"), col("text"))
        .join(minIds, Seq("doc_id"))
        .select(col("doc_id"), col("canon_url"), xt.as("xt"))
        .select(col("doc_id"), col("canon_url"),
          r4(graft.functions.CharEntropy(col("xt")).getField("h_bits")).as("h_bits"),
          size(split(col("xt"), " ")).cast("long").as("n_words"))
        .filter(col("h_bits") >= 2.0 && col("h_bits") <= 6.0 && col("n_words") >= 5)
        .select(col("doc_id"), col("canon_url"), col("n_words"), r4(col("h_bits")).as("h_bits"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH c AS (
        SELECT doc_id,
          ${TextAnalysis.fixtureCanonUrlSql} AS canon_url,
          ${TextAnalysis.fixtureExtractedSql} AS xt
        FROM documents),
      kept AS (
        SELECT doc_id, canon_url, xt
        FROM (SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY canon_url) AS keep FROM c)
        WHERE keep),
      ch AS (SELECT doc_id, unnest(string_split(xt, '')) AS ch FROM kept),
      cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch WHERE ch <> '' GROUP BY 1, 2),
      per AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
          list_sort(list({'ch': ch, 'c': c})) AS cs
        FROM cc GROUP BY doc_id),
      h AS (
        SELECT doc_id,
          ${r4Sql("""list_reduce(list_prepend(0.0, list_transform(cs,
            x -> (CAST(x['c'] AS DOUBLE) / CAST(n AS DOUBLE))
              * ln(CAST(n AS DOUBLE) / CAST(x['c'] AS DOUBLE)))),
            (a, b) -> a + b) / 0.6931471805599453""")} AS h_bits
        FROM per)
      SELECT k.doc_id, k.canon_url,
        CAST(len(string_split(k.xt, ' ')) AS BIGINT) AS n_words,
        h.h_bits
      FROM kept k JOIN h USING (doc_id)
      WHERE h.h_bits >= 2.0 AND h.h_bits <= 6.0
        AND len(string_split(k.xt, ' ')) >= 5
      ORDER BY k.doc_id"""))

  // P22 — WARC ingest (G26's driver check, round 12): the acquisition
  // layer BELOW p21's front end — the container format a crawl actually
  // delivers. The fixture builds one syntactically real WARC file per
  // doc from doc_id arithmetic (a warcinfo lead record + 1..3 HTTP
  // response records with planted URIs/statuses/body lengths, correct
  // Content-Lengths at both the WARC and HTTP layers), parses it with
  // the real byte walk, and the DuckDB oracle replays EVERY column —
  // record count, per-record type/URI/status/content-type/body length,
  // zero dropped bytes — from arithmetic alone: the encode → parse
  // round trip hash-checks (the m14/m16 convention applied to the crawl
  // container).
  private val p22 = Relational.Q(
    "p22_warc_ingest",
    (s, d) => {
      import s.implicits._
      val files = Tables.documents(s, d)
        .select(col("doc_id"))
        .map { r =>
          val id = r.getLong(0)
          val k = (1 + id % 3).toInt
          val parts = WarcCodec.encodeWarcInfo("software: graft\r\n") +:
            (0 until k).map { i =>
              val status = (200 + 204 * ((id + i) % 2)).toInt
              val body = Array.fill((10 + (id + i) % 40).toInt)('b'.toByte)
              WarcCodec.encodeWarcResponse(s"https://ex.com/$id/$i", status,
                "text/html", body)
            }
          (id, parts.reduce(_ ++ _))
        }
        .toDF("file_id", "payload")
      WarcCodec.warcRecords(files)
        .orderBy(col("file_id"), col("rec_idx"))
    },
    Some("""
      WITH f AS (SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
      r AS (SELECT doc_id, unnest(range(0, k + 1)) AS rec_idx FROM f)
      SELECT doc_id AS file_id, CAST(rec_idx AS BIGINT) AS rec_idx,
        CASE WHEN rec_idx = 0 THEN 'warcinfo' ELSE 'response' END AS warc_type,
        CASE WHEN rec_idx = 0 THEN ''
             ELSE 'https://ex.com/' || doc_id || '/' || (rec_idx - 1) END AS target_uri,
        CAST(CASE WHEN rec_idx = 0 THEN 0
             ELSE 200 + 204 * ((doc_id + rec_idx - 1) % 2) END AS BIGINT) AS http_status,
        CASE WHEN rec_idx = 0 THEN '' ELSE 'text/html' END AS content_type,
        CAST(CASE WHEN rec_idx = 0 THEN 17
             ELSE 10 + (doc_id + rec_idx - 1) % 40 END AS BIGINT) AS n_body_bytes,
        CAST(0 AS BIGINT) AS dropped_bytes
      FROM r ORDER BY file_id, rec_idx"""))

  /** P23's graph stage: the HOST-LEVEL LINK GRAPH from a (url, html)
    * page frame — extract every absolute outlink (t35), canonicalize
    * both ends (t32's rules), group to weighted directed host→host
    * edges, drop self-edges (intra-site navigation says nothing about
    * cross-domain authority — the convention every web-graph release
    * uses, cf. Common Crawl's host-level webgraph). Scale: extraction
    * and canonicalization fuse into the scan projection; the only
    * shuffle is ONE (src,dst)-keyed count aggregate with map-side
    * combine, and the result is HOST-proportional (≪ corpus — the
    * x14 vocab-explosion argument applied to domains).
    */
  def hostGraph(pages: DataFrame): DataFrame = {
    import graft.operators.{TextAnalysis => T}
    pages
      .select(T.hostOf(T.canonicalizeUrl(col("url"))).as("src"),
        explode(T.extractLinks(col("html"))).as("link"))
      .select(col("src"), T.hostOf(T.canonicalizeUrl(col("link"))).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
  }

  /** P23's core: DOMAIN PAGERANK over the host link graph — the web-
    * scale quality prior (Page et al. 1999; Common Crawl publishes
    * exactly this artifact as its host-level ranking, and CCNet-class
    * pipelines consume such domain ranks as a corpus-selection signal).
    * Iteration is the original unnormalized form (the t27 TextRank
    * equation on a DIRECTED graph, d = 0.85, unit start, fixed `iters`
    * rounds): PR(v) = 0.15 + 0.85 · Σ_{u→v} (w(u,v)/outsum(u))·PR(u),
    * with hosts that have no in-edges pinned at 0.15 via a left join
    * (TextRank's groupBy would silently drop them — a directed graph
    * has genuine sources).
    *
    * Float discipline (the t27 contract, re-proven here on a directed
    * graph): edge weights and out-sums exact integers, per-edge
    * contribution one fixed multiplication chain, every per-host sum
    * folded in SORTED in-neighbor order — all `iters` rounds are
    * bit-identical in Spark and DuckDB, so the operator is FULLY
    * oracle-checked end to end from raw HTML to final rank.
    *
    * Scale: the graph is host-proportional; each iteration is one
    * src-keyed join + one dst-keyed degree-bounded aggregate + one
    * node-keyed left join over that small frame (broadcast-able at any
    * realistic host count); `iters` is a fixed small constant so the
    * lazy plan nests them — no checkpoints, no driver round-trips.
    */
  def domainPageRank(pages: DataFrame, iters: Int = 3): DataFrame =
    // Host-proportional and bounded, so materialize the edge list ONCE:
    // one corpus scan feeds all `iters` rounds + the degree/out-sum frames
    domainPageRankFromEdges(Materialize(hostGraph(pages)), iters)

  /** Shared seeded-damping power iteration over a host edge list (the
    * P23/P24 core): nodes carry their init score and their per-round
    * additive term; each round folds weighted in-neighbor contributions
    * in SORTED order (the t27 float contract) and pins contribution-less
    * hosts at `add` via the left join. PageRank is (init=1, add=0.15);
    * TrustRank is (init=d_v, add=0.15·d_v) with d_v the seed
    * distribution — same plan shape, same oracle discipline.
    */
  private def rankIterate(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 6, s"iters in [1,6] (lazy plan nests them), got $iters")
    val outs = edges.groupBy(col("src")).agg(sum(col("w")).as("outsum"))
    val withOut = edges.join(outs, Seq("src"))
    var scores = nodes.select(col("host"), col("init").as("score"))
    (0 until iters).foreach { _ =>
      val contribs = withOut
        .join(scores.select(col("host").as("src"), col("score").as("s")), Seq("src"))
        .withColumn("c",
          (col("w").cast("double") / col("outsum").cast("double")) * col("s"))
        .groupBy(col("dst"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("src").as("s"), col("c").as("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("contrib"))
        .select(col("dst").as("host"), col("contrib"))
      scores = nodes.join(contribs, Seq("host"), "left")
        .select(col("host"),
          (col("add") + lit(0.85) * coalesce(col("contrib"), lit(0.0))).as("score"))
    }
    val din = edges.groupBy(col("dst").as("host")).agg(count(lit(1)).as("n_in_hosts"))
    val dout = edges.groupBy(col("src").as("host")).agg(count(lit(1)).as("n_out_hosts"))
    nodes.select(col("host")).join(scores, Seq("host"))
      .join(din, Seq("host"), "left").join(dout, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("n_in_hosts"), lit(0L)).as("n_in_hosts"),
        coalesce(col("n_out_hosts"), lit(0L)).as("n_out_hosts"),
        r4(col("score")).as("score"))
      .orderBy(col("host"))
  }

  /** P24's core: DOMAIN TRUSTRANK (Gyöngyi, Garcia-Molina & Pedersen
    * 2004, "Combating Web Spam with TrustRank") — PageRank with the
    * teleport mass pinned to a CURATED SEED SET instead of spread
    * uniformly: TR(v) = 0.15·d_v + 0.85·Σ_{u→v} (w/outsum(u))·TR(u),
    * d_v = 1/|seeds| on seeds and 0 elsewhere, init = d_v. The
    * spam-resistance property P23 cannot give: a host UNREACHABLE from
    * the seed set scores EXACTLY 0 however densely its own cluster
    * interlinks — spam cannot vote itself trust (spec-pinned). The
    * production selection signal is the ratio/gap between TrustRank and
    * PageRank (both from the same [[hostGraph]] artifact, one scan).
    * Same plan shape, float contract and scale argument as P23.
    */
  def domainTrustRank(pages: DataFrame, seeds: Seq[String], iters: Int = 3): DataFrame = {
    require(seeds.nonEmpty, "domainTrustRank: empty seed set")
    domainTrustRankFromEdges(Materialize(hostGraph(pages)), seeds, iters)
  }

  // P23 — domain PageRank (round 13): the governance artifact ABOVE
  // p21's front end — d14 gates domains by policy, this RANKS them by
  // link authority, from nothing but raw (url, html) pages. The fixture
  // plants the t32 dirty URL as each page's own address and the t35
  // linked HTML as its body (hub host 0 drawing an extra in-link from
  // every 4th page), Spark builds the graph with the REAL extract →
  // canonicalize → host chain and runs 3 exact-replay iterations, and
  // DuckDB recomputes the entire thing — edges, out-sums, all three
  // iterations, degrees — from doc_id arithmetic alone. The planted hub
  // ends up with ~13x the median in-link mass, so the spec can pin the
  // ranking's semantics, not just its hash.
  private val p23 = Relational.Q(
    "p23_domain_pagerank",
    (s, d) => {
      import graft.operators.{TextAnalysis => T}
      domainPageRank(Tables.documents(s, d)
        .select(col("doc_id"), T.fixtureDirtyUrl.as("url"),
          T.fixtureLinkedHtml.as("html")))
    },
    Some {
      def iterSql(prev: String, out: String) = s"""
      $out AS (
        SELECT n.host, 0.15 + 0.85 * COALESCE(c.contrib, 0.0) AS score
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS host,
            list_reduce(list_prepend(0.0, list_transform(
              list_sort(list({'s': e.src,
                'c': (CAST(e.w AS DOUBLE) / CAST(o.outsum AS DOUBLE)) * p.score})),
              x -> x['c'])), (acc, v) -> acc + v) AS contrib
          FROM edges e JOIN outs o ON e.src = o.src
          JOIN $prev p ON p.host = e.src
          GROUP BY e.dst) c USING (host))"""
      s"""
      WITH r AS (SELECT doc_id, unnest(range(3)) AS i FROM documents),
      lk AS (
        SELECT doc_id % 50 AS s,
          CASE i WHEN 0 THEN (doc_id*7+1) % 50
                 WHEN 1 THEN (doc_id+1) % 50
                 ELSE 0 END AS t
        FROM r WHERE i < 2 OR doc_id % 4 = 0),
      edges AS (
        SELECT 'site' || s || '.example.com' AS src,
               'site' || t || '.example.com' AS dst, COUNT(*) AS w
        FROM lk WHERE s <> t GROUP BY 1, 2),
      outs AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outsum FROM edges GROUP BY 1),
      nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
      s0 AS (SELECT host, CAST(1.0 AS DOUBLE) AS score FROM nodes),
      ${iterSql("s0", "s1")},
      ${iterSql("s1", "s2")},
      ${iterSql("s2", "s3")},
      din AS (SELECT dst AS host, COUNT(*) AS n_in FROM edges GROUP BY 1),
      dout AS (SELECT src AS host, COUNT(*) AS n_out FROM edges GROUP BY 1)
      SELECT n.host,
        CAST(COALESCE(din.n_in, 0) AS BIGINT) AS n_in_hosts,
        CAST(COALESCE(dout.n_out, 0) AS BIGINT) AS n_out_hosts,
        ${r4Sql("s3.score")} AS score
      FROM nodes n JOIN s3 USING (host)
      LEFT JOIN din USING (host) LEFT JOIN dout USING (host)
      ORDER BY n.host"""
    })

  /** P25: the GOVERNANCE-ARTIFACT LIFECYCLE — the host edge list is the
    * expensive thing (ONE corpus scan over raw pages); every rank
    * (P23/P24, any seed set, any iteration count) is a cheap
    * host-proportional derivative. So the edge list is what gets
    * versioned: publish goes through the G16 WAP protocol with a
    * structural audit (no self-edges, positive integer weights,
    * non-empty canonical hosts — a corrupt graph quarantines before any
    * reader sees it), and an arriving crawl batch REFRESHES by merging
    * its own edge counts into the published version (integer counts sum
    * associatively, so merged == rebuilt-from-scratch EXACTLY — the
    * spec pins it) and publishing the next version. Rank recompute from
    * a published version is [[domainPageRankFromEdges]] /
    * [[domainTrustRankFromEdges]] — no corpus scan, bit-equal to the
    * direct operators because the folds see the identical edge rows.
    */
  val hostGraphAudit: Publish.Audit = Publish.columnAudit(
    "no self edges" -> (col("src") === col("dst")),
    "positive weights" -> (col("w") <= 0L),
    "src host nonempty" -> (col("src").isNull || col("src") === ""),
    "dst host nonempty" -> (col("dst").isNull || col("dst") === ""))

  def publishHostGraph(pages: DataFrame, root: String, token: String): Publish.WapResult =
    Publish.writeAuditPublish(hostGraph(pages), root, hostGraphAudit, token)

  /** Merge a new crawl batch's edges into the published graph and
    * publish as the next version (expectedBase guards lost-update races
    * like D11's refresh).
    */
  def refreshHostGraph(pages: DataFrame, root: String, token: String): Publish.WapResult = {
    val spark = pages.sparkSession
    val base = Publish.currentVersion(spark, root)
    require(base.nonEmpty, s"refreshHostGraph: no published graph at $root")
    val merged = Publish.readPublished(spark, root)
      .unionByName(hostGraph(pages))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    Publish.writeAuditPublish(merged, root, hostGraphAudit, token,
      expectedBase = base)
  }

  /** Rank directly from a published (or otherwise materialized) edge
    * list — the production read path: no corpus scan, no checkpoint.
    */
  def domainPageRankFromEdges(edges: DataFrame, iters: Int = 3): DataFrame = {
    val nodes = edges.select(col("src").as("host"))
      .unionByName(edges.select(col("dst").as("host"))).distinct()
      .select(col("host"), lit(1.0).as("init"), lit(0.15).as("add"))
    rankIterate(edges, nodes, iters)
  }

  def domainTrustRankFromEdges(edges: DataFrame, seeds: Seq[String],
      iters: Int = 3): DataFrame = {
    val dv = when(col("host").isin(seeds: _*),
      lit(1.0) / lit(seeds.size.toDouble)).otherwise(lit(0.0))
    val nodes = edges.select(col("src").as("host"))
      .unionByName(edges.select(col("dst").as("host"))).distinct()
      .select(col("host"), dv.as("init"), (lit(0.15) * dv).as("add"))
    rankIterate(edges, nodes, iters)
      .select(col("host"), col("host").isin(seeds: _*).as("is_seed"),
        col("n_in_hosts"), col("n_out_hosts"), col("score"))
      .orderBy(col("host"))
  }

  /** P30's core: DOMAIN HITS (Kleinberg 1999, "Authoritative Sources in
    * a Hyperlinked Environment") over the same [[hostGraph]] artifact —
    * the hub/authority decomposition P23/P24 cannot express: a DIRECTORY
    * host (links out to every good source, few in-links) is invisible to
    * PageRank but is exactly a HITS hub; the mutually-reinforcing pair
    *   a(v) = Σ_{u→v} w·h(u),   h(u) = Σ_{u→v} w·a(v)
    * separates "points at quality" from "is pointed at by quality" — at
    * corpus scale the hub score ranks CRAWL SEED LISTS while authority
    * ranks content domains.
    *
    * Float discipline: HITS is SCALE-INVARIANT, so the usual per-round
    * L2 normalization (a global order-SENSITIVE float sum — not
    * cross-engine replayable) is deferred to ONE final division by the
    * global max, which is order-FREE and exact. Each round's per-node
    * sums fold in SORTED neighbor order (the t27/P23 contract), so all
    * `iters` rounds are bit-identical in Spark and DuckDB and the
    * operator is FULLY oracle-checked from raw HTML to final score.
    *
    * Scale: host-proportional frames throughout (the P23 argument);
    * `iters` is a fixed small constant, the lazy plan nests the rounds;
    * the final max is a one-row crossJoin(broadcast) — the t9/d14
    * adjudicated class.
    */
  def domainHits(pages: DataFrame, iters: Int = 2): DataFrame =
    domainHitsFromEdges(Materialize(hostGraph(pages)), iters)

  /** HITS from a published edge list — the P25 read path. */
  def domainHitsFromEdges(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 4,
      s"iters in [1,4] (lazy plan nests them), got $iters")
    val nodes = edges.select(col("src").as("host"))
      .unionByName(edges.select(col("dst").as("host"))).distinct()
    def sortedFold(grouped: org.apache.spark.sql.RelationalGroupedDataset,
        neighbor: String, out: String) =
      grouped.agg(aggregate(
        array_sort(collect_list(struct(col(neighbor).as("s"), col("c").as("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as(out))
    var hub = nodes.select(col("host"), lit(1.0).as("h"))
    var auth = nodes.select(col("host"), lit(0.0).as("a"))
    (0 until iters).foreach { _ =>
      val aNew = sortedFold(edges
        .join(hub.select(col("host").as("src"), col("h")), Seq("src"))
        .withColumn("c", col("w").cast("double") * col("h"))
        .groupBy(col("dst")), "src", "a")
        .select(col("dst").as("host"), col("a"))
      auth = nodes.join(aNew, Seq("host"), "left")
        .select(col("host"), coalesce(col("a"), lit(0.0)).as("a"))
      val hNew = sortedFold(edges
        .join(auth.select(col("host").as("dst"), col("a")), Seq("dst"))
        .withColumn("c", col("w").cast("double") * col("a"))
        .groupBy(col("src")), "dst", "h")
        .select(col("src").as("host"), col("h"))
      hub = nodes.join(hNew, Seq("host"), "left")
        .select(col("host"), coalesce(col("h"), lit(0.0)).as("h"))
    }
    // r17: materialize the HOST-bounded final scores once (the p26/rank
    // idiom) — the max-normalizer and the output otherwise each replay
    // the whole nested iteration ladder (the before plan carried ~130
    // Exchanges for a 2-iteration HITS on a 50-node graph)
    val scores = Materialize(auth.join(hub, Seq("host")))
    val mx = scores.agg(max(col("a")).as("ma"), max(col("h")).as("mh"))
    scores
      .crossJoin(broadcast(mx))
      .select(col("host"),
        when(col("mh") === 0.0, lit(0.0))
          .otherwise(r4(col("h") / col("mh"))).as("hub"),
        when(col("ma") === 0.0, lit(0.0))
          .otherwise(r4(col("a") / col("ma"))).as("authority"))
      .orderBy(col("host"))
  }

  /** P24's fixture seed set (three mid-graph hosts, deliberately NOT the
    * planted hub — trust must reach the hub through links, not by fiat).
    */
  val TrustSeeds: Seq[String] =
    Seq("site1.example.com", "site8.example.com", "site30.example.com")

  // P24 — domain TrustRank (round 13): P23's seeded twin, the anti-spam
  // half of the governance pair. Same planted graph, same real
  // extract → canonicalize → host chain, but the teleport mass pins to
  // the 3-host seed set, so DuckDB replays d_v = 1/3-or-0 through the
  // identical three sorted-fold iterations. After 3 rounds trust has
  // propagated 3 hops from the seeds — hosts outside that radius (and
  // any cluster unreachable from seeds, the spam shape) hold EXACTLY 0.
  private val p24 = Relational.Q(
    "p24_domain_trustrank",
    (s, d) => {
      import graft.operators.{TextAnalysis => T}
      domainTrustRank(Tables.documents(s, d)
        .select(col("doc_id"), T.fixtureDirtyUrl.as("url"),
          T.fixtureLinkedHtml.as("html")), TrustSeeds)
    },
    Some {
      val seedSql = TrustSeeds.map(h => s"'$h'").mkString(", ")
      val dvSql = s"(CASE WHEN host IN ($seedSql) THEN 1.0/3.0 ELSE 0.0 END)"
      def iterSql(prev: String, out: String) = s"""
      $out AS (
        SELECT n.host, 0.15 * $dvSql + 0.85 * COALESCE(c.contrib, 0.0) AS score
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS host,
            list_reduce(list_prepend(0.0, list_transform(
              list_sort(list({'s': e.src,
                'c': (CAST(e.w AS DOUBLE) / CAST(o.outsum AS DOUBLE)) * p.score})),
              x -> x['c'])), (acc, v) -> acc + v) AS contrib
          FROM edges e JOIN outs o ON e.src = o.src
          JOIN $prev p ON p.host = e.src
          GROUP BY e.dst) c USING (host))"""
      s"""
      WITH r AS (SELECT doc_id, unnest(range(3)) AS i FROM documents),
      lk AS (
        SELECT doc_id % 50 AS s,
          CASE i WHEN 0 THEN (doc_id*7+1) % 50
                 WHEN 1 THEN (doc_id+1) % 50
                 ELSE 0 END AS t
        FROM r WHERE i < 2 OR doc_id % 4 = 0),
      edges AS (
        SELECT 'site' || s || '.example.com' AS src,
               'site' || t || '.example.com' AS dst, COUNT(*) AS w
        FROM lk WHERE s <> t GROUP BY 1, 2),
      outs AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outsum FROM edges GROUP BY 1),
      nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
      s0 AS (SELECT host, $dvSql AS score FROM nodes),
      ${iterSql("s0", "s1")},
      ${iterSql("s1", "s2")},
      ${iterSql("s2", "s3")},
      din AS (SELECT dst AS host, COUNT(*) AS n_in FROM edges GROUP BY 1),
      dout AS (SELECT src AS host, COUNT(*) AS n_out FROM edges GROUP BY 1)
      SELECT n.host, n.host IN ($seedSql) AS is_seed,
        CAST(COALESCE(din.n_in, 0) AS BIGINT) AS n_in_hosts,
        CAST(COALESCE(dout.n_out, 0) AS BIGINT) AS n_out_hosts,
        ${r4Sql("s3.score")} AS score
      FROM nodes n JOIN s3 USING (host)
      LEFT JOIN din USING (host) LEFT JOIN dout USING (host)
      ORDER BY n.host"""
    })

  // P26 — RANK-WEIGHTED corpus sampling: the governance loop's consumer
  // stage — P23's domain ranks become per-document selection weights
  // (w = round(score·10⁴), the r4 grid re-integerized identically in
  // both engines) feeding the p17 integer PPS systematic sampler, so
  // documents from authoritative hosts are drawn proportionally more.
  // This is the rank→selection composition CCNet-class pipelines run
  // (p20 is the same shape with the LEARNED quality model as the
  // weight; this is the LINK-graph prior). Everything is shared code
  // (domainPageRank + weightedSystematicSample) and the oracle replays
  // the whole chain — graph, three iterations, host join, weights,
  // prefix sums, pick boundaries — from doc_id arithmetic.
  private val p26 = Relational.Q(
    "p26_rank_weighted_sample",
    (s, d) => {
      import graft.operators.{TextAnalysis => T}
      val docs = Tables.documents(s, d)
      val pages = docs.select(col("doc_id"), T.fixtureDirtyUrl.as("url"),
        T.fixtureLinkedHtml.as("html"))
      // r17: materialize the HOST-bounded rank table once (the edge-list
      // materialization one level up). The systematic sampler
      // below reads its input three times (w_total + bucket offsets +
      // within-bucket cum), and each read replayed the full lazy
      // 3-iteration rank plan — ~146 Exchanges in the before plan,
      // ~46 after (plans/r17/p26_*). Host-proportional, never
      // corpus-sized, so the materialization is as bounded as the
      // edge list's.
      val ranks = Materialize(domainPageRank(pages).select(col("host"), col("score")))
      val withW = docs
        .select(col("doc_id"), col("lang"),
          T.hostOf(T.canonicalizeUrl(T.fixtureDirtyUrl)).as("host"))
        .join(ranks, Seq("host"))
        .select(col("doc_id"), col("lang"),
          round(col("score") * 10000).cast("long").as("w"))
      weightedSystematicSample(withW, col("w"), k = 100L)
    },
    Some {
      def iterSql(prev: String, out: String) = s"""
      $out AS (
        SELECT n.host, 0.15 + 0.85 * COALESCE(c.contrib, 0.0) AS score
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS host,
            list_reduce(list_prepend(0.0, list_transform(
              list_sort(list({'s': e.src,
                'c': (CAST(e.w AS DOUBLE) / CAST(o.outsum AS DOUBLE)) * p.score})),
              x -> x['c'])), (acc, v) -> acc + v) AS contrib
          FROM edges e JOIN outs o ON e.src = o.src
          JOIN $prev p ON p.host = e.src
          GROUP BY e.dst) c USING (host))"""
      val h = graft.functions.HashFunctions.md5Hash56Sql("('ws:' || CAST(doc_id AS VARCHAR))")
      s"""
      WITH r AS (SELECT doc_id, unnest(range(3)) AS i FROM documents),
      lk AS (
        SELECT doc_id % 50 AS s,
          CASE i WHEN 0 THEN (doc_id*7+1) % 50
                 WHEN 1 THEN (doc_id+1) % 50
                 ELSE 0 END AS t
        FROM r WHERE i < 2 OR doc_id % 4 = 0),
      edges AS (
        SELECT 'site' || s || '.example.com' AS src,
               'site' || t || '.example.com' AS dst, COUNT(*) AS w
        FROM lk WHERE s <> t GROUP BY 1, 2),
      outs AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outsum FROM edges GROUP BY 1),
      nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
      s0 AS (SELECT host, CAST(1.0 AS DOUBLE) AS score FROM nodes),
      ${iterSql("s0", "s1")},
      ${iterSql("s1", "s2")},
      ${iterSql("s2", "s3")},
      hd AS (
        SELECT d.doc_id, d.lang,
          CAST(ROUND(${r4Sql("s3.score")} * 10000) AS BIGINT) AS w,
          $h AS h
        FROM documents d
        JOIN s3 ON s3.host = 'site' || (d.doc_id % 50) || '.example.com'
        WHERE CAST(ROUND(${r4Sql("s3.score")} * 10000) AS BIGINT) > 0),
      c AS (
        SELECT doc_id, lang, w,
          SUM(w) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hd),
      t AS (SELECT SUM(w) AS wt FROM hd)
      SELECT doc_id, lang, w, CAST(cum AS BIGINT) AS cum,
        CAST((cum * 100) // wt - ((cum - w) * 100) // wt AS BIGINT) AS picks
      FROM c, t
      WHERE (cum * 100) // wt > ((cum - w) * 100) // wt
      ORDER BY doc_id"""
    })

  /** P27's core: DOMAIN REWEIGHTING for the training mix — the DoReMi
    * shape (Xie et al., 2023: iteratively upweight the domains a proxy
    * finds HARD, so the final mixture spends its tokens where learning
    * headroom is) with the LINEAR multiplicative-weights update (Arora,
    * Hazan & Kale 2012, "The Multiplicative Weights Update Method")
    * instead of the exponentiated gradient — w·(1 + η·excess) is pure
    * +/×/÷ IEEE arithmetic, so both engines replay every round
    * bit-exactly with no libm exp in the loop (the q63 ln precedent
    * capped at ONE call; an ITERATED exp would compound ulp drift
    * through rounds). Excess loss proxy = quality-score deficit vs the
    * best domain (meanQ integer-derived: Σ floor(q·10⁴+0.5) as BIGINT /
    * (10⁴·n), the p5 discipline — exact regardless of accumulation
    * order); each round renormalizes by the ascending-domain left-fold
    * sum (the t21 contract) and mixes δ/D uniform smoothing (DoReMi's
    * regularizer), then r4-quantizes so the engines re-sync every round.
    *
    * Scale shape: ONE corpus scan + one map-side-combinable aggregate;
    * the iteration runs on the |lang×source|-row DOMAIN frame collected
    * to the driver (parameter-bounded — the k-centroid/rotation
    * adjudication class), so rounds cost nothing at any corpus size.
    */
  def doremiWeights(docs: DataFrame, eta: Double = 0.5,
      smooth: Double = 0.1, rounds: Int = 5): DataFrame = {
    require(eta > 0 && smooth >= 0 && smooth < 1 && rounds >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val stats = domainQualityStats(docs)
      .collect() // |lang x source| rows — parameter-bounded driver frame
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    doremiFromStats(stats.toSeq, eta, smooth, rounds).toDF(
      "domain", "n_docs", "mean_quality", "weight")
      .orderBy(col("domain"))
  }

  /** P27's sufficient statistic: per-domain (n, Σ floor(q·10⁴+0.5)) —
    * ONE map-side-combinable aggregate over a batch OR STREAMING frame
    * (on a stream it is an update-mode running aggregate, the A59
    * global-statistic class: integer sums are order-free, so the
    * streamed totals equal the batch pass bit-for-bit under any
    * micro-batch slicing, and [[doremiFromStats]] seals weight
    * equality). State on a stream = one (long, long) per domain —
    * |lang×source|-bounded, never corpus-proportional.
    */
  def domainQualityStats(docs: DataFrame): DataFrame =
    docs
      .select(concat_ws("/", col("lang"), col("source")).as("domain"),
        floor(TextAnalysis.qualityScore(col("text")) * 10000.0 + 0.5)
          .cast("long").as("qi"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("qi")).as("qsum"))

  /** The MW fold on collected (domain, n, Σqi) stats — shared by the
    * batch operator and A64's streaming consumer so both derive the
    * SAME weights from the same sufficient statistic (running integer
    * sums are order-free, so the streamed stats equal the batch
    * aggregate bit-for-bit and this fold seals the equality).
    */
  def doremiFromStats(stats0: Seq[(String, Long, Long)], eta: Double,
      smooth: Double, rounds: Int): Seq[(String, Long, Double, Double)] = {
    val stats = stats0.sortBy(_._1)
    require(stats.nonEmpty, "doremiWeights needs at least one domain")
    val means = stats.map { case (dom, n, s) =>
      (dom, n, s.toDouble / (10000.0 * n)) }
    val maxMean = means.map(_._3).max
    // quality deficit vs the best domain — hard = LOW quality
    doremiMwFold(means, m => maxMean - m, eta, smooth, rounds)
  }

  /** The ONE multiplicative-weights fold (Arora/Hazan/Kale linear
    * update) both excess signals route through — the quality-deficit
    * legacy proxy ([[doremiFromStats]], A64's stream twin) and the
    * paper-faithful proxy-LOSS excess ([[doremiFromSurprisalStats]]):
    * w·(1 + η·excess), ascending-domain left-fold renormalization, δ/D
    * uniform smoothing, per-round r4 re-sync. One body means the two
    * entries (p27, p29) and the stream cannot drift on arithmetic.
    */
  private def doremiMwFold(means: Seq[(String, Long, Double)],
      excess: Double => Double, eta: Double, smooth: Double,
      rounds: Int): Seq[(String, Long, Double, Double)] = {
    val dCount = means.length
    var w = means.map(_ => Num.r4Double(1.0 / dCount))
    (1 to rounds).foreach { _ =>
      val up = means.zip(w).map { case ((_, _, m), wi) =>
        wi * (1.0 + eta * excess(m)) }
      var s = 0.0
      up.foreach(x => s = s + x) // ascending-domain left fold
      w = up.map(x => Num.r4Double((1.0 - smooth) * (x / s) + smooth / dCount))
    }
    means.zip(w).map { case ((dom, n, m), wi) =>
      (dom, n, Num.r4Double(m), wi) }
  }

  /** P29's fold: DoReMi with the PAPER'S excess signal — per-domain
    * mean PROXY-MODEL LOSS (Xie et al. 2023 §3: upweight domains where
    * the proxy's loss exceeds the reference) instead of p27's
    * quality-deficit stand-in. The proxy here is the corpus bigram LM
    * whose surprisal is integer-exact by construction (t16's bit-length
    * log2 — no libm), so the per-domain mean is ONE IEEE division of
    * two exact longs: mean bits/bigram = Σ total_bits / Σ n_bigrams.
    * Excess = mean − min(mean) (hard = HIGH loss; the min-domain is the
    * reference, the same role p27's best-quality domain plays).
    * stats rows: (domain, n_docs, n_bigrams, total_bits).
    */
  def doremiFromSurprisalStats(stats0: Seq[(String, Long, Long, Long)],
      eta: Double, smooth: Double,
      rounds: Int): Seq[(String, Long, Double, Double)] = {
    val stats = stats0.sortBy(_._1)
    require(stats.nonEmpty, "doremiFromSurprisalStats needs at least one domain")
    val means = stats.map { case (dom, n, nb, tb) =>
      (dom, n, tb.toDouble / nb.toDouble) }
    val minMean = means.map(_._3).min
    doremiMwFold(means, m => m - minMean, eta, smooth, rounds)
  }

  /** P29's sufficient statistic: per-domain (n_docs, Σ n_bigrams,
    * Σ total_bits) under the CORPUS bigram model (the DoReMi proxy
    * trained on the current mix — t16's model, integer-exact bits).
    * Map-side-combinable integer sums: order-free, so a streaming
    * running aggregate equals the batch pass bit-for-bit (the
    * domainQualityStats contract with one more long per domain).
    */
  def domainSurprisalStats(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      concat_ws("/", col("lang"), col("source")).as("domain"), col("text"))
    val pairs = TextAnalysis.docBigrams(base.select(col("doc_id"), col("text")))
    pairs
      .join(TextAnalysis.bigramSurprisalModel(pairs).drop("n"), Seq("w1", "w2"))
      .join(base.select(col("doc_id"), col("domain")), Seq("doc_id"))
      .groupBy(col("domain"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("total_bits"))
  }

  /** P29's operator: [[domainSurprisalStats]] collected to the
    * parameter-bounded domain frame, folded by [[doremiMwFold]].
    */
  def doremiSurprisalWeights(docs: DataFrame, eta: Double = 0.5,
      smooth: Double = 0.1, rounds: Int = 5): DataFrame = {
    require(eta > 0 && smooth >= 0 && smooth < 1 && rounds >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val stats = domainSurprisalStats(docs)
      .collect() // |lang x source| rows — parameter-bounded driver frame
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    doremiFromSurprisalStats(stats.toSeq, eta, smooth, rounds).toDF(
      "domain", "n_docs", "mean_bits", "weight")
      .orderBy(col("domain"))
  }

  // P27 — DoReMi-lite domain weights. FULL oracle: DuckDB replays the
  // integer-exact domain means, the max, and all five multiplicative-
  // weights rounds (same parenthesization, same ascending left folds,
  // same per-round r4) via a recursive CTE over list columns.
  private val p27 = Relational.Q(
    "p27_doremi_weights",
    // constants EXPLICIT at the call site (the p9 convention): the
    // oracle below hardcodes eta 0.5 / smooth 0.1 / rounds 5
    (s, d) => doremiWeights(
      Tables.documents(s, d).select(col("lang"), col("source"), col("text")),
      eta = 0.5, smooth = 0.1, rounds = 5),
    Some {
      val qSql = TextAnalysis.qualityScoreSql("text")
      s"""
      WITH RECURSIVE base AS (
        SELECT lang || '/' || source AS domain, COUNT(*) AS n_docs,
          SUM(CAST(FLOOR(($qSql) * 10000.0 + 0.5) AS BIGINT)) AS qsum
        FROM documents GROUP BY 1),
      doms AS (
        SELECT list(domain ORDER BY domain) AS ds,
          list(n_docs ORDER BY domain) AS ns,
          list(CAST(qsum AS DOUBLE) / (10000.0 * n_docs)
            ORDER BY domain) AS ms
        FROM base),
      cfg AS (
        SELECT ds, ns, ms,
          list_reduce(ms, (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS mx,
          len(ds) AS dc
        FROM doms),
      it AS (
        SELECT 0 AS r,
          [FLOOR((1.0 / dc) * 10000.0 + 0.5) / 10000.0 FOR x IN ds] AS w,
          ds, ns, ms, mx, dc
        FROM cfg
        UNION ALL
        SELECT r + 1,
          [FLOOR(((1.0 - 0.1) * (u.up[i] / u.s) + 0.1 / dc) * 10000.0 + 0.5)
             / 10000.0 FOR i IN range(1, dc + 1)],
          ds, ns, ms, mx, dc
        FROM it, LATERAL (
          SELECT up, list_reduce(up, (a, b) -> a + b) AS s
          FROM (SELECT [w[i] * (1.0 + 0.5 * (mx - ms[i]))
                  FOR i IN range(1, dc + 1)] AS up)) u
        WHERE r < 5)
      SELECT ds[i] AS domain, CAST(ns[i] AS BIGINT) AS n_docs,
        FLOOR(ms[i] * 10000.0 + 0.5) / 10000.0 AS mean_quality,
        w[i] AS weight
      FROM it, LATERAL (SELECT unnest(range(1, dc + 1)) AS i)
      WHERE r = 5
      ORDER BY domain"""
    })

  // P29 — DoReMi with the paper's proxy-LOSS excess. FULL oracle: DuckDB
  // replays t16's integer bit-length surprisal model, the per-domain
  // integer sums, the one mean division, and all five MW rounds (p27's
  // recursive CTE with excess = ms[i] − min) — every round r4-resynced.
  private val p29 = Relational.Q(
    "p29_doremi_surprisal",
    (s, d) => doremiSurprisalWeights(
      Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("source"), col("text")),
      eta = 0.5, smooth = 0.1, rounds = 5),
    Some(s"""
      WITH RECURSIVE t AS (
        SELECT doc_id, lang || '/' || source AS domain,
          string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM documents
        WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2),
      bg AS (
        SELECT doc_id, domain, u['w1'] AS w1, u['w2'] AS w2 FROM (
          SELECT doc_id, domain,
            unnest([{'w1': tk[i], 'w2': tk[i+1]} FOR i IN range(1, len(tk))]) AS u
          FROM t)),
      bc AS (SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2),
      uc AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS cn FROM bc GROUP BY 1),
      m AS (
        SELECT w1, w2,
          CASE WHEN (n << (length(bin(cn)) - length(bin(n)))) <= cn
               THEN length(bin(cn)) - length(bin(n))
               ELSE length(bin(cn)) - length(bin(n)) - 1 END AS bits
        FROM bc JOIN uc USING (w1)),
      base AS (
        SELECT domain, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS nb, CAST(SUM(m.bits) AS BIGINT) AS tb
        FROM bg JOIN m USING (w1, w2) GROUP BY domain),
      doms AS (
        SELECT list(domain ORDER BY domain) AS ds,
          list(n_docs ORDER BY domain) AS ns,
          list(CAST(tb AS DOUBLE) / CAST(nb AS DOUBLE)
            ORDER BY domain) AS ms
        FROM base),
      cfg AS (
        SELECT ds, ns, ms,
          list_reduce(ms, (a, b) -> CASE WHEN b < a THEN b ELSE a END) AS mn,
          len(ds) AS dc
        FROM doms),
      it AS (
        SELECT 0 AS r,
          [FLOOR((1.0 / dc) * 10000.0 + 0.5) / 10000.0 FOR x IN ds] AS w,
          ds, ns, ms, mn, dc
        FROM cfg
        UNION ALL
        SELECT r + 1,
          [FLOOR(((1.0 - 0.1) * (u.up[i] / u.s) + 0.1 / dc) * 10000.0 + 0.5)
             / 10000.0 FOR i IN range(1, dc + 1)],
          ds, ns, ms, mn, dc
        FROM it, LATERAL (
          SELECT up, list_reduce(up, (a, b) -> a + b) AS s
          FROM (SELECT [w[i] * (1.0 + 0.5 * (ms[i] - mn))
                  FOR i IN range(1, dc + 1)] AS up)) u
        WHERE r < 5)
      SELECT ds[i] AS domain, CAST(ns[i] AS BIGINT) AS n_docs,
        FLOOR(ms[i] * 10000.0 + 0.5) / 10000.0 AS mean_bits,
        w[i] AS weight
      FROM it, LATERAL (SELECT unnest(range(1, dc + 1)) AS i)
      WHERE r = 5
      ORDER BY domain"""))

  // ======== P28 — the Dolma/RefinedWeb-shape END-TO-END corpus build ========

  /** The published web-corpus recipe (Dolma — Soldaini et al. 2024;
    * RefinedWeb — Penedo et al. 2023) composed as ONE oracle-checked
    * plan — the query a real corpus build runs nightly, and the
    * strongest whole-plan-shape witness in the pack: every stage is the
    * stand-alone operator's code, chained over STAGED ARTIFACTS
    * (one Materialize per stage — each stage materializes once and
    * feeds BOTH its card row and the next stage, never re-tokenized per
    * consumer; a cluster deployment writes each to parquet, same
    * contract). Output is the stage-by-stage corpus card (p5's shape):
    * one row per (stage, lang) with doc and whitespace-token counts, so
    * the oracle pins every stage's SELECTIVITY and every text rewrite.
    *
    * Stages (the verdict's recipe order): held-out eval slice removed →
    * d14 governance (URL dedup, blocklist, domain share cap) → t18
    * Gopher gate → t19 C4 gate + line scrub (kept_text becomes the doc
    * text) → d1 exact dedup → d19 NFC-canonical dedup → d21 paragraph
    * scrub (globally-first chunks) → d2 verified pairs → d6 components
    * → d7 canonical retention (max quality, min-id ties — quality on
    * the CURRENT rewritten text) → d8 8-gram decontamination against
    * the held-out slice.
    *
    * 100 TB: each stage inherits its operator's documented shape
    * (map-side-combinable hash aggregates, banded candidate joins,
    * broadcast benchmark grams); the funnel cards are slim per-lang
    * aggregates over the staged frames.
    */
  private def corpusBuildFunnel(s: SparkSession, d: String): DataFrame = {
    import graft.functions.NfcNormalize
    val T = TextAnalysis
    val docsAll = Tables.documents(s, d)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        col("lang"), col("source"))
    val bench = docsAll.filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), col("text"))
    def stage(df: DataFrame): DataFrame = Materialize(df)
    val s0 = stage(docsAll.filter(col("doc_id") % 20 =!= 0))
    // 1 — d14 governance on the corpus slice (url/domain fixture shapes)
    val keep1 = Dedup.domainGovernance(
      s0.select(col("doc_id"),
        concat(col("source"), lit("/p"),
          (col("doc_id") % 200L).cast("string")).as("url"),
        col("source").as("domain")),
      blocklist = Seq("src3", "src7", "src13"), maxSharePermille = 40)
      .select("doc_id")
    val s1 = stage(s0.join(keep1, Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang")))
    // 2 — t18 Gopher gate (the corpus-adapted lexicon)
    val s2 = stage(s1.join(
      T.gopherRules(s1, requiredWords = Seq("the", "a"), minRequired = 2)
        .filter(col("keep")).select("doc_id"), Seq("doc_id")))
    // 3 — t19 C4 gate + line scrub: kept_text becomes the doc text
    val c4k = T.c4Filters(s2, minLineWords = 25, requireTerminalPunct = false,
      blocklist = Seq("dup")).filter(col("keep"))
      .select(col("doc_id"), col("kept_text"))
    val s3 = stage(s2.join(c4k, Seq("doc_id"))
      .select(col("doc_id"), col("kept_text").as("text"), col("lang")))
    // 4 — d1 exact dedup (keep min doc_id per normalized-content hash)
    val keep4 = s3.groupBy(Dedup.normHash(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s4 = stage(s3.join(keep4, Seq("doc_id")))
    // 5 — d19 NFC-canonical dedup (no-op on ASCII text; the stage is the
    // recipe's, and its selectivity is pinned like every other)
    val keep5 = s4.groupBy(md5(NfcNormalize(col("text"))).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s5 = stage(s4.join(keep5, Seq("doc_id")))
    // 6 — d21 paragraph scrub (text rewritten to globally-first chunks)
    val s6 = stage(Dedup.paragraphScrubText(s5.select(col("doc_id"), col("text")))
      .join(s5.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang")))
    // 7 — d2 verified pairs → d6 components → d7 canonical retention
    val pairs = Dedup.nearDupPairs(s6.select(col("doc_id"), col("text")))
    val clusters = Dedup.connectedComponents(pairs)
      .select(col("doc_id"), col("cluster_id"))
    val quality = s6.select(col("doc_id"),
      T.qualityScore(col("text")).as("quality"))
    val keep7 = clusters.join(quality, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max_by(col("doc_id"),
        struct(col("quality"), (-col("doc_id")).as("tie"))).as("doc_id"))
      .select("doc_id")
    val s7 = stage(s6.join(clusters.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(s6.join(keep7, Seq("doc_id"))))
    // 8 — d8 decontamination: drop docs sharing any 8-gram with the
    // held-out slice (broadcast benchmark gram set, the d8 shape)
    val benchGrams = Dedup.wordGramHashes(bench, 8).select(col("g")).distinct()
    val contaminated = Dedup.wordGramHashes(s7.select(col("doc_id"), col("text")), 8)
      .join(broadcast(benchGrams), Seq("g"))
      .select(col("doc_id")).distinct()
    val s8 = stage(s7.join(contaminated, Seq("doc_id"), "left_anti"))
    def card(ord: Int, name: String, df: DataFrame): DataFrame =
      df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(trim(col("text")) === "", lit(0L))
            .otherwise(size(split(trim(col("text")), "\\s+")).cast("long")))
            .as("n_tokens"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"), col("lang"),
          col("n_docs"), col("n_tokens"))
    Seq(
      card(0, "0_base", s0), card(1, "1_governance", s1),
      card(2, "2_gopher", s2), card(3, "3_c4_scrub", s3),
      card(4, "4_exact_dedup", s4), card(5, "5_nfc_dedup", s5),
      card(6, "6_paragraph_scrub", s6), card(7, "7_neardup_canonical", s7),
      card(8, "8_decontaminated", s8))
      .reduce(_ unionByName _)
      .orderBy(col("stage_ord"), col("lang"))
  }

  // token-count fragment shared by the nine funnel card blocks
  private def funnelCardSql(ord: Int, name: String, tbl: String): String = s"""
      SELECT $ord AS stage_ord, '$name' AS stage, lang, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN trim(text) = '' THEN 0
          ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens
      FROM $tbl GROUP BY lang"""

  private val p28 = Relational.Q(
    "p28_corpus_build",
    corpusBuildFunnel _,
    // the oracle COMPOSES the existing per-stage CTEs (d14/t18/t19/d1/
    // d19/d21/d2+d6+d7/d8 — each fragment is its stand-alone oracle's
    // spelling, parameterized on the previous stage's CTE), so a stage
    // semantics change cannot silently diverge the composite.
    // MATERIALIZED (r16b): DuckDB inlines CTEs per reference, and every
    // stage here feeds BOTH its card branch and the next stage — the
    // inlined plan re-evaluated the chain once per card row (measured
    // 188 s + an intermittent 32-thread allocator OOM; 0.6 s
    // materialized, identical rows). `comp` is the RECURSIVE member —
    // the annotation cannot apply to it.
    Some(Relational.materializeCtes(except = Set("comp"), sql = s"""
      WITH RECURSIVE
      b0 AS (
        SELECT doc_id, COALESCE(text, '') AS text FROM documents
        WHERE doc_id % 20 = 0),
      s0 AS (
        SELECT doc_id, COALESCE(text, '') AS text, lang, source FROM documents
        WHERE doc_id % 20 != 0),
      gu AS (
        SELECT doc_id, source AS domain,
          source || '/p' || CAST(doc_id % 200 AS VARCHAR) AS url
        FROM s0),
      gdd AS (
        SELECT doc_id, domain FROM (
          SELECT doc_id, domain, ROW_NUMBER() OVER (
            PARTITION BY ${H.md5Hash56Sql("url")} ORDER BY doc_id) AS rn
          FROM gu) WHERE rn = 1),
      gal AS (
        SELECT doc_id, domain FROM gdd
        WHERE domain NOT IN ('src3', 'src7', 'src13')),
      gt AS (SELECT COUNT(*) AS n_total FROM gal),
      g1 AS (
        SELECT doc_id FROM (
          SELECT doc_id, ROW_NUMBER() OVER (
            PARTITION BY domain ORDER BY doc_id) AS domain_rank
          FROM gal), gt
        WHERE domain_rank * 1000 <= 40 * n_total),
      s1 AS (
        SELECT s0.doc_id, s0.text, s0.lang FROM s0 JOIN g1 USING (doc_id)),
      gop AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
          CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace,
          CAST(len(regexp_extract_all(text, '#'))
             + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_symbols,
          CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                               w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
          CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
                   ['the','a'])) AS BIGINT) AS n_required
        FROM s1),
      s2 AS (
        SELECT s1.* FROM s1 JOIN gop USING (doc_id)
        WHERE n_words >= 50 AND n_words <= 100000
          AND n_nonspace >= 3 * n_words AND n_nonspace <= 10 * n_words
          AND 10 * n_symbols <= n_words
          AND 5 * n_alpha_words >= 4 * n_words
          AND n_required >= 2),
      c4b AS (
        SELECT doc_id,
          list_filter(string_split(text, chr(10)), l ->
            (CASE WHEN trim(l) = '' THEN 0
                  ELSE len(string_split_regex(trim(l), '\\s+')) END) >= 25
            AND NOT regexp_matches(lower(l), 'javascript')) AS kept,
          contains(lower(text), 'lorem ipsum') AS d_lorem,
          contains(text, '{') AS d_brace,
          len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')),
              ['dup'])) > 0 AS d_blocklist,
          regexp_matches(lower(text),
            'terms of use|privacy policy|cookie policy|uses cookies') AS d_policy
        FROM s2),
      s3 AS (
        SELECT c.doc_id, COALESCE(array_to_string(c.kept, chr(10)), '') AS text,
          s2.lang
        FROM c4b c JOIN s2 USING (doc_id)
        WHERE NOT d_lorem AND NOT d_brace AND NOT d_blocklist AND NOT d_policy
          AND len(kept) >= 1),
      k4 AS (
        SELECT MIN(doc_id) AS doc_id FROM s3
        GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))),
      s4 AS (SELECT s3.* FROM s3 JOIN k4 USING (doc_id)),
      k5 AS (
        SELECT MIN(doc_id) AS doc_id FROM s4
        GROUP BY md5(nfc_normalize(text))),
      s5 AS (SELECT s4.* FROM s4 JOIN k5 USING (doc_id)),
      w6 AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM s5),
      ch6 AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
          array_to_string(ws[CAST(i*4+1 AS INTEGER):CAST(i*4+4 AS INTEGER)], ' ') AS chunk
        FROM w6, UNNEST(range(0, len(ws)//4)) AS t(i)
        WHERE len(ws) >= 4),
      r6 AS (
        SELECT doc_id, pos, chunk,
          ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        FROM ch6),
      k6 AS (SELECT doc_id, pos, chunk FROM r6 WHERE rn = 1),
      s6 AS (
        SELECT k.doc_id, string_agg(k.chunk, ' ' ORDER BY k.pos) AS text,
          ANY_VALUE(s5.lang) AS lang
        FROM k6 k JOIN s5 ON s5.doc_id = k.doc_id GROUP BY k.doc_id),
      ${Dedup.pairwiseSql("s6")},
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
      q7 AS (
        SELECT doc_id, ${TextAnalysis.qualityScoreSql("text")} AS quality
        FROM s6),
      win7 AS (
        SELECT c.cluster_id, c.doc_id,
          ROW_NUMBER() OVER (PARTITION BY c.cluster_id
            ORDER BY q7.quality DESC, c.doc_id) AS rk
        FROM comp c JOIN q7 USING (doc_id)),
      s7 AS (
        SELECT * FROM s6 WHERE doc_id NOT IN (SELECT doc_id FROM comp)
        UNION ALL
        SELECT s6.* FROM s6
        JOIN (SELECT doc_id FROM win7 WHERE rk = 1) w USING (doc_id)),
      bt AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM b0),
      bgr AS (
        SELECT DISTINCT unnest(list_distinct(
          [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] ||
           ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7]
           FOR i IN range(1, len(tk) - 6)])) AS g
        FROM bt WHERE len(tk) >= 8),
      ct AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM s7),
      cgr AS (
        SELECT doc_id, unnest(list_distinct(
          [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] ||
           ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7]
           FOR i IN range(1, len(tk) - 6)])) AS g
        FROM ct WHERE len(tk) >= 8),
      contam AS (SELECT DISTINCT c.doc_id FROM cgr c JOIN bgr USING (g)),
      s8 AS (SELECT * FROM s7 WHERE doc_id NOT IN (SELECT doc_id FROM contam))
      SELECT * FROM (
        ${funnelCardSql(0, "0_base", "s0")}
        UNION ALL ${funnelCardSql(1, "1_governance", "s1")}
        UNION ALL ${funnelCardSql(2, "2_gopher", "s2")}
        UNION ALL ${funnelCardSql(3, "3_c4_scrub", "s3")}
        UNION ALL ${funnelCardSql(4, "4_exact_dedup", "s4")}
        UNION ALL ${funnelCardSql(5, "5_nfc_dedup", "s5")}
        UNION ALL ${funnelCardSql(6, "6_paragraph_scrub", "s6")}
        UNION ALL ${funnelCardSql(7, "7_neardup_canonical", "s7")}
        UNION ALL ${funnelCardSql(8, "8_decontaminated", "s8")}
      ) ORDER BY stage_ord, lang""")))

  // P30 — domain HITS (round 16): hub/authority over the p23 fixture
  // graph (the planted hub host draws the in-link mass; every host also
  // hubs out, so the two scores genuinely differ). FULL oracle: DuckDB
  // rebuilds the edges from doc_id arithmetic (p23's CTEs), replays both
  // sorted-fold iteration rounds bit-exactly, and applies the same
  // order-free max normalization.
  private val p30 = Relational.Q(
    "p30_domain_hits",
    (s, d) => {
      import graft.operators.{TextAnalysis => T}
      domainHits(Tables.documents(s, d)
        .select(col("doc_id"), T.fixtureDirtyUrl.as("url"),
          T.fixtureLinkedHtml.as("html")))
    },
    Some {
      def aSql(prevH: String, out: String) = s"""
      $out AS (
        SELECT n.host, COALESCE(c.a, 0.0) AS a
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS host,
            list_reduce(list_prepend(0.0, list_transform(
              list_sort(list({'s': e.src,
                'c': CAST(e.w AS DOUBLE) * p.h})),
              x -> x['c'])), (acc, v) -> acc + v) AS a
          FROM edges e JOIN $prevH p ON p.host = e.src
          GROUP BY e.dst) c USING (host))"""
      def hSql(prevA: String, out: String) = s"""
      $out AS (
        SELECT n.host, COALESCE(c.h, 0.0) AS h
        FROM nodes n LEFT JOIN (
          SELECT e.src AS host,
            list_reduce(list_prepend(0.0, list_transform(
              list_sort(list({'s': e.dst,
                'c': CAST(e.w AS DOUBLE) * p.a})),
              x -> x['c'])), (acc, v) -> acc + v) AS h
          FROM edges e JOIN $prevA p ON p.host = e.dst
          GROUP BY e.src) c USING (host))"""
      s"""
      WITH r AS (SELECT doc_id, unnest(range(3)) AS i FROM documents),
      lk AS (
        SELECT doc_id % 50 AS s,
          CASE i WHEN 0 THEN (doc_id*7+1) % 50
                 WHEN 1 THEN (doc_id+1) % 50
                 ELSE 0 END AS t
        FROM r WHERE i < 2 OR doc_id % 4 = 0),
      edges AS (
        SELECT 'site' || s || '.example.com' AS src,
               'site' || t || '.example.com' AS dst, COUNT(*) AS w
        FROM lk WHERE s <> t GROUP BY 1, 2),
      nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
      h0 AS (SELECT host, CAST(1.0 AS DOUBLE) AS h FROM nodes),
      ${aSql("h0", "a1")},
      ${hSql("a1", "h1")},
      ${aSql("h1", "a2")},
      ${hSql("a2", "h2")},
      mx AS (SELECT MAX(a) AS ma FROM a2),
      mh AS (SELECT MAX(h) AS mh FROM h2)
      SELECT n.host,
        CASE WHEN mh.mh = 0 THEN CAST(0 AS DOUBLE)
          ELSE ${r4Sql("h2.h / mh.mh")} END AS hub,
        CASE WHEN mx.ma = 0 THEN CAST(0 AS DOUBLE)
          ELSE ${r4Sql("a2.a / mx.ma")} END AS authority
      FROM nodes n JOIN a2 USING (host) JOIN h2 USING (host), mx, mh
      ORDER BY n.host"""
    })

  val all: Seq[Relational.Q] = Seq(p1, p2, p3, p4, p5, p6, p7, p8, p9, p10,
    p11, p12, p13, p14, p15, p16, p17, p18, p19, p20, p21, p22, p23, p24,
    p26, p27, p28, p29, p30)
}
