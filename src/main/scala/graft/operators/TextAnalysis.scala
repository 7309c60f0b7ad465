package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Num._

/** Text-analysis pack (SURVEY.md §2 E1–E6) over the documents table.
  *
  * Everything here is built from codegen'd built-ins (regexp_*, split,
  * higher-order array functions) — no UDFs — so a 100 TB corpus runs these
  * as a single whole-stage-codegen'd scan with full column pruning: each
  * operator reads only (doc_id, text).
  *
  * Oracle twins are spelled with identical arithmetic shapes so DuckDB
  * produces bit-identical numbers (see Num).
  */
object TextAnalysis {

  /** Common English-ish stopword alternation used by quality + langid. */
  private[operators] val StopEn = "the|and|of|to|in|is|that|it|for|was"
  private val StopDe = "der|die|das|und|ist|nicht|mit|ein|auf|wir"
  private val StopFr = "le|les|et|est|que|pour|dans|une|des|avec"
  private val StopEs = "el|los|las|y|es|en|un|para|por|como"

  // Shared langid pieces (t3 + t30): the stopword-hit counter and the
  // hit-majority classifier live ONCE, so the per-doc classifier and the
  // per-language fertility roll-up can never drift apart.
  private def hitsCol(alt: String): Column =
    size(expr(s"regexp_extract_all(lower(text), '\\\\b(?:$alt)\\\\b', 0)")).cast("long")

  private def predictedLangCol: Column =
    when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr")
      && col("hits_en") >= col("hits_es") && col("hits_en") > 0, "en")
      .when(col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es")
        && col("hits_de") > 0, "de")
      .when(col("hits_fr") >= col("hits_es") && col("hits_fr") > 0, "fr")
      .when(col("hits_es") > 0, "es")
      .otherwise("und")

  private val predictedLangSql: String =
    """CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en > 0 THEN 'en'
             WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de > 0 THEN 'de'
             WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
             WHEN hits_es > 0 THEN 'es'
             ELSE 'und' END"""

  // E1 — token/char stats.
  private val t1 = Relational.Q(
    "t1_token_stats",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_actual"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_nonspace"))
        .withColumn("avg_token_len",
          r2(col("n_nonspace").cast("double") / col("n_tokens")))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      SELECT doc_id, length(text) AS n_chars_actual,
        len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
        length(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace,
        ${r2Sql("CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(string_split_regex(trim(text), '\\s+'))")} AS avg_token_len
      FROM documents ORDER BY doc_id"""))

  /** Composite quality score of a text column — t2's exact formula
    * (0.4·stopword-ratio + 0.3·(1−punct-ratio) + 0.3·(1−digit-ratio),
    * r4-quantized) as a reusable expression for pipeline composition.
    */
  def qualityScore(text: Column): Column = {
    val nTokens = size(split(trim(text), "\\s+")).cast("long")
    val nChars = length(text).cast("long")
    val nPunct = (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")
    val nDigit = (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("long")
    val nStop = size(regexp_extract_all(lower(text), lit(s"\\b(?:$StopEn)\\b"), lit(0))).cast("long")
    r4(lit(0.4) * (nStop.cast("double") / nTokens)
      + lit(0.3) * (lit(1.0) - nPunct.cast("double") / nChars)
      + lit(0.3) * (lit(1.0) - nDigit.cast("double") / nChars))
  }

  /** DuckDB twin of [[qualityScore]] over a text expression — ONE
    * definition interpolated into every oracle that scores quality (p1,
    * d7), per the money/moneySql pairing convention.
    */
  def qualityScoreSql(textExpr: String): String = r4Sql(
    s"0.4 * (CAST(len(regexp_extract_all(lower($textExpr), '\\b(?:$StopEn)\\b')) AS DOUBLE)" +
    s" / len(string_split_regex(trim($textExpr), '\\s+')))" +
    s" + 0.3 * (1.0 - CAST(length($textExpr) - length(regexp_replace($textExpr, '[.,!?;:]', '', 'g')) AS DOUBLE) / length($textExpr))" +
    s" + 0.3 * (1.0 - CAST(length($textExpr) - length(regexp_replace($textExpr, '[0-9]', '', 'g')) AS DOUBLE) / length($textExpr))")

  // E2 — quality scoring from punct/digit/upper/stopword ratios.
  private val t2 = Relational.Q(
    "t2_quality_score",
    (s, d) => {
      val base = Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("long").as("n_punct"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("long").as("n_digit"),
        (length(col("text")) - length(regexp_replace(col("text"), "[A-Z]", ""))).cast("long").as("n_upper"),
        size(expr(s"regexp_extract_all(lower(text), '\\\\b(?:$StopEn)\\\\b', 0)")).cast("long").as("n_stop"))
      base.withColumn("quality",
          r4(lit(0.4) * (col("n_stop").cast("double") / col("n_tokens"))
            + lit(0.3) * (lit(1.0) - col("n_punct").cast("double") / col("n_chars_actual"))
            + lit(0.3) * (lit(1.0) - col("n_digit").cast("double") / col("n_chars_actual"))))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH base AS (
        SELECT doc_id, length(text) AS n_chars_actual,
          len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
          length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
          length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
          length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
          len(regexp_extract_all(lower(text), '\\b(?:$StopEn)\\b')) AS n_stop
        FROM documents)
      SELECT doc_id, n_chars_actual, n_tokens, n_punct, n_digit, n_upper, n_stop,
        ${r4Sql("0.4 * (CAST(n_stop AS DOUBLE) / n_tokens) + 0.3 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars_actual) + 0.3 * (1.0 - CAST(n_digit AS DOUBLE) / n_chars_actual)")} AS quality
      FROM base ORDER BY doc_id"""))

  // E3 — language-ID heuristic: stopword hits per candidate language,
  // deterministic argmax. (The table's `lang` column is synthetic noise —
  // the check is engine-vs-engine on an identical definition.)
  private val t3 = Relational.Q(
    "t3_langid",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang").as("claimed_lang"),
          hitsCol(StopEn).as("hits_en"), hitsCol(StopDe).as("hits_de"),
          hitsCol(StopFr).as("hits_fr"), hitsCol(StopEs).as("hits_es"))
        .withColumn("predicted_lang", predictedLangCol)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH h AS (
        SELECT doc_id, lang AS claimed_lang,
          len(regexp_extract_all(lower(text), '\\b(?:$StopEn)\\b')) AS hits_en,
          len(regexp_extract_all(lower(text), '\\b(?:$StopDe)\\b')) AS hits_de,
          len(regexp_extract_all(lower(text), '\\b(?:$StopFr)\\b')) AS hits_fr,
          len(regexp_extract_all(lower(text), '\\b(?:$StopEs)\\b')) AS hits_es
        FROM documents)
      SELECT doc_id, claimed_lang, hits_en, hits_de, hits_fr, hits_es,
        $predictedLangSql AS predicted_lang
      FROM h ORDER BY doc_id"""))

  // E4 — document fingerprint over whitespace-normalized text.
  private val t4 = Relational.Q(
    "t4_fingerprint",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fingerprint"),
          length(col("text")).cast("long").as("n_chars_actual"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
        md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
        length(text) AS n_chars_actual
      FROM documents ORDER BY doc_id"""))

  // E5 — explode tokens -> global term frequencies, top 50.
  private val t5 = Relational.Q(
    "t5_token_histogram",
    (s, d) => {
      Tables.documents(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(50)
    },
    Some("""
      SELECT token, COUNT(*) AS freq FROM (
        SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents)
      GROUP BY token ORDER BY freq DESC, token LIMIT 50"""))

  // E6 — BPE-ish token estimate: regex piece segmentation + per-word
  // ceil(len/4) subword estimate via a higher-order array fold.
  private val t6 = Relational.Q(
    "t6_token_count_bpe",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s]', 0)")).cast("long").as("n_pieces"),
          expr("aggregate(split(lower(trim(text)), '\\\\s+'), 0L, (acc, w) -> acc + CAST(ceil(length(w)/4.0) AS LONG))")
            .as("est_bpe_tokens"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
        len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_pieces,
        CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\s+'),
          w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) AS est_bpe_tokens
      FROM documents ORDER BY doc_id"""))

  // E7 — winnowing fingerprints (Schleimer et al.): the rolling local-min
  // selection over positional k-gram ids, built relationally (posexplode
  // + sliding window min, all codegen), then a fingerprint-sharing join.
  // Docs sharing >= 50% of the smaller fingerprint set are near-dup
  // candidates. At k=4 the gram id is the INJECTIVE 16-bit pack (no hash
  // at all), and packed-long order == per-codepoint lexicographic order,
  // so DuckDB reproduces the exact min-selection with string grams — the
  // whole winnowing pipeline is oracle-checked, not just spec'd.
  private val t7 = Relational.Q(
    "t7_winnowing_fingerprints",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 4  // gram length (<= 4 keeps the gram id injective + oracle-able)
      val w = 3  // winnow window (~1/3 of positions selected)
      // r17: the per-doc fingerprint SET is a row-local function of the
      // text, so the relational pipeline (repartition + char posexplode
      // + lead window + window-min + distinct — two corpus-character-
      // proportional exchanges) collapses into ONE map-side codegen
      // projection (WinnowFingerprintSet; CharGramSetsSpec pins
      // bit-equality incl. the shrinking tail window).
      val fps = graft.Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.WinnowFingerprintSet(
            lower(col("text")), k, w)).as("fp"))
        .persist()
      // Candidate generation and overlap scoring use different views of
      // the fingerprint index, all derived relationally (the doc count
      // arrives as a broadcast one-row frame — no driver action):
      //  - DISCRIMINATIVE fps (df <= 25% of docs) define the overlap
      //    sets, as in round 1;
      //  - each doc's RAREST-M fingerprints WITHIN the df <= 5% tier gate
      //    CANDIDATE GENERATION: near-identical docs have near-identical
      //    rarest lists, so true near-dups collide, while emission is
      //    bounded at M rows per document AND every gate fp has small df —
      //    the two bounds compose (rarest-M alone lets a mid-frequency fp
      //    be "rarest" for a whole template cohort, exploding pairs; a df
      //    tier alone keeps each doc's full 5% tail: measured 11.7s vs
      //    5.1s warm at sf0.1 for the same spec-checked recall). A 1%
      //    tier is too strict — on this corpus 16 of 25 true pairs share
      //    no <=1%-df fingerprint at all.
      val M = 12
      val nDocsDf = fps.agg(count_distinct(col("doc_id")).as("n_docs"))
      val dfreq = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocsDf))
      // ONE fps⋈dfreq join feeds both tiers (the 25% discriminative set
      // and the 5% rare set are filters over the same annotated frame —
      // round 2 joined fps to dfreq twice, shuffling the widest frame
      // once per tier)
      val withDf = fps
        .join(dfreq.filter(col("df") <= greatest(lit(2L), (col("n_docs") / lit(4)).cast("long"))),
          Seq("fp"))
        .persist()
      val discSet = withDf
      // per-doc sorted discriminative fp arrays for the merge-walk verify
      val docFps = discSet.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("fp"))).as("sfps"), count(lit(1)).as("n_fp"))
        .persist()
      val rarestRank = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("fp"))
      val rareSet = withDf
        .filter(col("df") <= greatest(lit(2L), (col("n_docs") / lit(20)).cast("long")))
        .withColumn("rk", row_number().over(rarestRank))
        .filter(col("rk") <= M)
        .select(col("fp"), col("doc_id"))
      val cands = rareSet.select(col("fp"), col("doc_id").as("doc_a"))
        .join(rareSet.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates("doc_a", "doc_b")
      // exact overlap on the discriminative sets via the codegen merge-walk
      // (SortedIntersectSize). The candidate pair set is data-dependent
      // (template-heavy corpora explode it), so it carries NO broadcast
      // hint: AQE broadcasts it when it is actually small and falls back
      // to a shuffle join when it is not — the per-doc fingerprint arrays
      // stream through the joins in both regimes, and nothing forces an
      // unbounded frame through the driver at 100 TB.
      val withA = cands
        .join(docFps.select(col("doc_id").as("doc_a"), col("sfps").as("sfps_a"),
          col("n_fp").as("n_fp_a")), Seq("doc_a"))
      withA
        .join(docFps.select(col("doc_id").as("doc_b"), col("sfps").as("sfps_b"),
          col("n_fp").as("n_fp_b")), Seq("doc_b"))
        .withColumn("n_shared",
          graft.functions.SortedIntersectSize(col("sfps_a"), col("sfps_b")).cast("long"))
        .withColumn("overlap",
          col("n_shared").cast("double") / least(col("n_fp_a"), col("n_fp_b")))
        .filter(col("overlap") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("n_shared"), r4(col("overlap")).as("overlap"))
        .orderBy(col("doc_a"), col("doc_b"))
    },
    // The oracle mirrors every stage with string 4-grams: for equal-length
    // grams, lexicographic codepoint order == packed-long order, so MIN
    // window selection, (df, fp) rarest ranking, and set intersection all
    // agree with the Spark side exactly.
    Some(s"""
      WITH g AS (
        SELECT doc_id, pos, substr(lt, pos, 4) AS gram
        FROM (SELECT doc_id, lower(text) AS lt,
                unnest(range(1, length(text) - 2)) AS pos
              FROM documents WHERE length(text) >= 4)),
      fps AS (
        SELECT DISTINCT doc_id, fp FROM (
          SELECT doc_id,
            MIN(gram) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS fp
          FROM g)),
      nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM fps),
      dfreq AS (SELECT fp, COUNT(*) AS df FROM fps GROUP BY fp),
      disc AS (
        SELECT f.doc_id, f.fp FROM fps f JOIN dfreq d ON f.fp = d.fp, nd
        WHERE d.df <= GREATEST(2, CAST(FLOOR(nd.n_docs / 4.0) AS BIGINT))),
      docfps AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp, list(fp) AS sfps
        FROM disc GROUP BY doc_id),
      rare AS (
        SELECT fp, doc_id FROM (
          SELECT f.fp, f.doc_id,
            ROW_NUMBER() OVER (PARTITION BY f.doc_id ORDER BY d.df, f.fp) AS rk
          FROM fps f JOIN dfreq d ON f.fp = d.fp, nd
          WHERE d.df <= GREATEST(2, CAST(FLOOR(nd.n_docs / 20.0) AS BIGINT)))
        WHERE rk <= 12),
      cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      scored AS (
        SELECT c.doc_a, c.doc_b,
          CAST(len(list_intersect(fa.sfps, fb.sfps)) AS BIGINT) AS n_shared,
          CAST(len(list_intersect(fa.sfps, fb.sfps)) AS DOUBLE)
            / LEAST(fa.n_fp, fb.n_fp) AS overlap
        FROM cands c
        JOIN docfps fa ON fa.doc_id = c.doc_a
        JOIN docfps fb ON fb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, n_shared, ${r4Sql("overlap")} AS overlap
      FROM scored WHERE overlap >= 0.5 ORDER BY doc_a, doc_b"""))

  /** Language trigram profiles, derived deterministically from the same
    * stopword lists t3 uses: all distinct char-trigrams of words with
    * >= 3 chars. Computed ONCE here and embedded in both the Spark lit
    * frame and the oracle SQL literal list, so the two engines cannot
    * diverge on profile contents.
    */
  private def profileTrigrams(alternation: String): Seq[String] =
    alternation.split('|').toSeq
      .flatMap(w => if (w.length < 3) Nil else (0 to w.length - 3).map(i => w.substring(i, i + 3)))
      .distinct.sorted

  /** 16-bit-per-codepoint injective pack of a trigram (the d3 gram-id
    * scheme) — lets the Spark side match packed long ids computed
    * relationally against profile ids computed here.
    */
  private def packTrigram(s: String): Long =
    s.foldLeft(0L)((acc, c) => (acc << 16) | c.toLong)

  // E8 — n-gram language-ID: distinct char-trigram hits against per-language
  // trigram profiles, deterministic argmax. The gram ids are built
  // relationally (char explode + window leads + injective 16-bit pack, the
  // d3 pattern — O(1)/position, codegen), then counted against the
  // broadcast profile table. Oracle computes the same hits with string
  // trigrams and embedded literal profiles.
  private val t8 = Relational.Q(
    "t8_langid_ngram",
    (s, d) => {
      import s.implicits._
      val langs = Seq("en" -> StopEn, "de" -> StopDe, "fr" -> StopFr, "es" -> StopEs)
      val profile = langs.flatMap { case (lang, alt) =>
        profileTrigrams(alt).map(t => (lang, packTrigram(t)))
      }.toDF("plang", "g")
      // r17: map-side distinct trigram set (same injective 16-bit pack
      // packTrigram uses) — replaces the relational charGramIds pipeline
      // + dropDuplicates, whose explode/window/dedup exchanges carried
      // one row per character (guide §2.4; CharGramSetsSpec).
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.SortedGramIdSet(lower(col("text")), 3)).as("g"))
      val hits = grams.join(broadcast(profile), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(
          sum(when(col("plang") === "en", 1L).otherwise(0L)).as("hits_en"),
          sum(when(col("plang") === "de", 1L).otherwise(0L)).as("hits_de"),
          sum(when(col("plang") === "fr", 1L).otherwise(0L)).as("hits_fr"),
          sum(when(col("plang") === "es", 1L).otherwise(0L)).as("hits_es"))
      // left join back so docs with zero profile hits still appear
      Tables.documents(s, d).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("hits_en"), lit(0L)).as("hits_en"),
          coalesce(col("hits_de"), lit(0L)).as("hits_de"),
          coalesce(col("hits_fr"), lit(0L)).as("hits_fr"),
          coalesce(col("hits_es"), lit(0L)).as("hits_es"))
        .withColumn("predicted_lang",
          when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr")
            && col("hits_en") >= col("hits_es") && col("hits_en") > 0, "en")
            .when(col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es")
              && col("hits_de") > 0, "de")
            .when(col("hits_fr") >= col("hits_es") && col("hits_fr") > 0, "fr")
            .when(col("hits_es") > 0, "es")
            .otherwise("und"))
        .orderBy(col("doc_id"))
    },
    Some {
      def litList(alt: String): String =
        profileTrigrams(alt).map(t => "'" + t + "'").mkString("[", ", ", "]")
      s"""
      WITH g AS (
        SELECT doc_id,
          list_distinct([substr(lower(text), i, 3)
                         FOR i IN range(1, length(text) - 1)]) AS tg
        FROM documents),
      h AS (
        SELECT doc_id,
          len(list_intersect(tg, ${litList(StopEn)})) AS hits_en,
          len(list_intersect(tg, ${litList(StopDe)})) AS hits_de,
          len(list_intersect(tg, ${litList(StopFr)})) AS hits_fr,
          len(list_intersect(tg, ${litList(StopEs)})) AS hits_es
        FROM g)
      SELECT doc_id, hits_en, hits_de, hits_fr, hits_es,
        CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es AND hits_en > 0 THEN 'en'
             WHEN hits_de >= hits_fr AND hits_de >= hits_es AND hits_de > 0 THEN 'de'
             WHEN hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
             WHEN hits_es > 0 THEN 'es'
             ELSE 'und' END AS predicted_lang
      FROM h ORDER BY doc_id"""
    })

  // E9 — TF-IDF term scoring: per-doc term frequency x corpus inverse
  // document frequency, emitting each doc's repeated non-ubiquitous terms
  // (tf >= 2, df <= 80% of docs, both spelled in exact integer arithmetic
  // so the cross-engine cut can't flake; the float tfidf is r4-quantized
  // payload, never a rank key). Two hash aggregates + one broadcast: the
  // df frame derives FROM the tf frame (docs-containing = rows per token
  // after the first group), so the corpus is tokenized once.
  private val t9 = Relational.Q(
    "t9_tfidf",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, Seq("token"))
        .crossJoin(broadcast(n))
        .filter(col("tf") >= 2 && col("df") * 5 <= col("n_docs") * 4)
        .withColumn("tfidf", r4(col("tf").cast("double") *
          log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1)).cast("double"))))
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("token"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      n AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT t.doc_id, t.token, t.tf, d.df,
        ${r4Sql("CAST(t.tf AS DOUBLE) * ln(CAST(n.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE))")} AS tfidf
      FROM tf t JOIN dfreq d USING (token), n
      WHERE t.tf >= 2 AND d.df * 5 <= n.n_docs * 4
      ORDER BY doc_id, token"""))

  // E10 — repetition ratio: the fraction of a doc's word-3-shingles that
  // are repeats (1 - distinct/total) — the standard "repetitive document"
  // quality gate in corpus filtering (template spam, keyword stuffing,
  // boilerplate loops score high). Pure per-row scalar math: one scan,
  // zero shuffles besides the output sort.
  private val t10 = Relational.Q(
    "t10_repetition",
    (s, d) => {
      // ONE-pass codegen shingle stats (r17): the old spelling's
      // interpreted transform lambda re-tokenized the text 3x per
      // shingle (O(T²)/row — see ShingleStats doc; 19.2 s -> sub-second
      // at sf0.1). ShingleStatsSpec pins bit-equality to the old
      // greatest(size-2)/wordShingles columns.
      val st = graft.functions.ShingleStats(col("text"), 3)
      Tables.documents(s, d)
        .select(col("doc_id"),
          st.getField("n_shingles").as("n_shingles"),
          st.getField("n_distinct").as("n_distinct"))
        .filter(col("n_shingles") > 0)
        .withColumn("rep_ratio",
          r4(lit(1.0) - col("n_distinct").cast("double") / col("n_shingles")))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id,
          GREATEST(len(tk) - 2, 0) AS n_shingles,
          len(list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                             FOR i IN range(1, len(tk) - 1)])) AS n_distinct
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
              FROM documents))
      SELECT doc_id, n_shingles, n_distinct,
        ${r4Sql("1.0 - CAST(n_distinct AS DOUBLE) / n_shingles")} AS rep_ratio
      FROM sh WHERE n_shingles > 0 ORDER BY doc_id"""))

  // E11 — corpus-unigram surprisal: per-doc mean -ln p(token) under the
  // corpus's own unigram model — the poor-man's perplexity filter (the
  // CCNet/Gopher-style "LM quality" gate without an external LM):
  // template/boilerplate docs score low, rare-token-heavy docs score
  // high. Two hash aggregates over one tokenization; the token-count
  // frame is vocabulary-sized — unbounded in the data, so it carries NO
  // broadcast hint: AQE broadcasts it at bench scale, and at 100 TB it is
  // the shuffle side of a hash join on token (the one-row total n is the
  // only legitimate broadcast). Float discipline: ln/avg are IEEE math both
  // evaluate identically modulo summation order, and the r4 quantization
  // absorbs last-ulp reorder noise (the q22/t9 precedent).
  private val t11 = Relational.Q(
    "t11_surprisal",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
      val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
      // total tokens from the vocabulary-sized aggregate, NOT a third
      // scan+tokenize of the corpus (Catalyst doesn't share the subtree)
      val n = counts.agg(sum(col("c")).as("nt"))
      toks.join(counts, Seq("token"))
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          r4(avg(log(col("nt").cast("double") / col("c").cast("double"))))
            .as("avg_surprisal"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
        FROM documents),
      c AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
      n AS (SELECT COUNT(*) AS nt FROM toks)
      SELECT doc_id, COUNT(*) AS n_tokens,
        ${r4Sql("AVG(ln(CAST(n.nt AS DOUBLE) / CAST(c.c AS DOUBLE)))")} AS avg_surprisal
      FROM toks t JOIN c USING (token), n
      GROUP BY doc_id ORDER BY doc_id"""))

  /** E12's core, parameterized for the spec's planted-PII corpus. The
    * three patterns stay in the conservative regex subset Java and RE2
    * match identically (no lookaround, no backrefs, left-to-right
    * non-overlapping extraction): emails, dotted-quad IPs, then long
    * digit runs — REDACTION ORDER MATTERS for the hash (IPs before digit
    * runs so octet digits can't be re-matched), so both engines apply
    * the same sequence.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val DigitRunPat = "\\b\\d{6,}\\b"

  def piiScrub(docs: DataFrame): DataFrame = {
    // emails out first, then IPs, then digit runs: each COUNT runs on
    // the previous stage's text — the stage its replace runs on — so
    // the counts agree exactly with what the redacted_hash pins (an
    // email-consumed IP is not counted, an IP's octets never resurface
    // as digit runs)
    docs.select(col("doc_id"), col("text"),
        regexp_replace(col("text"), EmailPat, "<EMAIL>").as("step1"))
      .withColumn("step2", regexp_replace(col("step1"), Ipv4Pat, "<IP>"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("step1"), lit(Ipv4Pat), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(col("step2"), lit(DigitRunPat), lit(0))).cast("long").as("n_digit_runs"),
        md5(regexp_replace(col("step2"), DigitRunPat, "<NUM>")).as("redacted_hash"))
    // no terminal sort: the whole pipeline is stateless narrow column
    // ops, so the SAME code runs on a streaming frame (A28's spec pins
    // streamed == batch); t12 adds the deterministic ORDER BY itself
  }

  // E12 — PII scrubbing (the redaction pass every public-web training
  // corpus runs): per-doc email/IP/long-digit-run counts plus the md5 of
  // the fully redacted text — the hash makes the oracle pin the ENTIRE
  // redacted output byte-for-byte, not just the counts. Map-only single
  // scan; patterns in the Java∩RE2 regex subset so both engines extract
  // and replace identically.
  private val t12 = Relational.Q(
    "t12_pii_scrub",
    (s, d) => piiScrub(Tables.documents(s, d)).orderBy(col("doc_id")),
    Some(s"""
      WITH s1 AS (
        SELECT doc_id, text,
          regexp_replace(text, '$EmailPat', '<EMAIL>', 'g') AS step1
        FROM documents),
      s2 AS (
        SELECT *, regexp_replace(step1, '$Ipv4Pat', '<IP>', 'g') AS step2 FROM s1)
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(step1, '$Ipv4Pat')) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(step2, '$DigitRunPat')) AS BIGINT) AS n_digit_runs,
        md5(regexp_replace(step2, '$DigitRunPat', '<NUM>', 'g')) AS redacted_hash
      FROM s2 ORDER BY doc_id"""))

  // E13 — bigram LM model build (the n-gram-LM side of corpus quality
  // filtering: t11 consumes a unigram model, this PRODUCES the bigram
  // table an LM filter trains on): conditional p(w2|w1) =
  // c(w1,w2)/c(w1·), top-50 bigrams under a total (n desc, w1, w2)
  // order. Bigrams are formed MAP-SIDE by zipping the token array with
  // its own shift — no window, no per-doc sort, no shuffle before the
  // count aggregate (which is map-side combinable); the conditioning
  // denominator reuses the bigram aggregate (sum per w1) instead of
  // re-tokenizing. Top-50 via orderBy.limit = TakeOrderedAndProject.
  // Float discipline: ONE long/long IEEE division, r4-quantized.
  def bigramLm(docs: DataFrame, topN: Int = 50): DataFrame = {
    val toks = docs
      .select(split(lower(trim(col("text"))), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 2)
    val pairs = toks.select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val uc = bc.groupBy(col("w1")).agg(sum(col("n")).as("cn"))
    bc.join(uc, Seq("w1"))
      .select(col("w1"), col("w2"), col("n"),
        r4(col("n").cast("double") / col("cn").cast("double")).as("p_cond"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  private val t13 = Relational.Q(
    "t13_bigram_lm",
    (s, d) => bigramLm(Tables.documents(s, d)),
    Some(s"""
      WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM documents WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2),
      bg AS (
        SELECT u['w1'] AS w1, u['w2'] AS w2 FROM (
          SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]} FOR i IN range(1, len(tk))]) AS u
          FROM t)),
      bc AS (SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2),
      uc AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS cn FROM bc GROUP BY 1)
      SELECT b.w1, b.w2, b.n, ${r4Sql("CAST(b.n AS DOUBLE) / CAST(u.cn AS DOUBLE)")} AS p_cond
      FROM bc b JOIN uc u USING (w1)
      ORDER BY n DESC, w1, w2 LIMIT 50"""))

  /** Tiny hand-authored merges fixture: common English digraphs/pieces
    * in priority order — a stand-in for a learned merges file (the
    * operator takes ANY merges list; a production run injects the real
    * tokenizer's ~50k-line table, still vocab-bounded).
    */
  val DefaultMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "in" -> "g", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "o" -> "r", "e" -> "n", "a" -> "t",
    "e" -> "s", "o" -> "u", "i" -> "t", "i" -> "s", "o" -> "f", "t" -> "o",
    "c" -> "o", "l" -> "l", "a" -> "r", "s" -> "t", "u" -> "r", "m" -> "e",
    "d" -> "e", "h" -> "i", "v" -> "e", "a" -> "l", "c" -> "e", "l" -> "e")

  // E14 — REAL byte-pair encoding (vs t6's length/4 estimate): every
  // word runs the actual greedy merge loop against the injectable merges
  // table, inside whole-stage codegen (BpeEncode expression, merges as a
  // reference object — a narrow map-side op; the only shuffle is the
  // final per-doc partial-aggregate). The merge loop itself is not
  // SQL-expressible, but its INVARIANTS are (the r11 bounds-oracle
  // promotion): encode must preserve bytes — array_join(encode(w)) == w
  // per word, the roundtrip property (BPE decode IS concatenation) —
  // and the symbol count per doc must sit in [n_words, n_chars]. The
  // verify frame emits per-doc (n_words, roundtrip_ok, within_bounds);
  // DuckDB replays n_words exactly and pins both flags TRUE, so a
  // dropped symbol, a corrupted merge, or an out-of-range token count
  // flips the hash red. The spec still pins encode == hand-computed
  // references; benchFn stays the production (n_words, n_bpe_tokens)
  // spelling.
  private def t14Tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      // a blank/whitespace-only doc splits to [""]: the empty "word"
      // would count as n_words=1 with 0 BPE symbols, violating the
      // tokens >= words invariant — drop it before counting
      .filter(col("w") =!= "")
      .select(col("doc_id"),
        size(graft.functions.BpeEncode(col("w"), DefaultMerges)).cast("long").as("nw"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nw")).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  private val t14 = Relational.Q(
    "t14_bpe_encode",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .select(col("doc_id"), col("w"),
          graft.functions.BpeEncode(col("w"), DefaultMerges).as("sym"))
        .select(col("doc_id"),
          (array_join(col("sym"), "") === col("w")).as("rt"),
          size(col("sym")).cast("long").as("nw"),
          length(col("w")).cast("long").as("nc"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          min(when(col("rt"), 1L).otherwise(0L)).as("rt_min"),
          sum(col("nw")).as("tk"), sum(col("nc")).as("ch"))
        .select(col("doc_id"), col("n_words"),
          (col("rt_min") === 1L).as("roundtrip_ok"),
          (col("tk") >= col("n_words") && col("tk") <= col("ch")).as("within_bounds"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH w AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents)
      SELECT doc_id, COUNT(*) AS n_words,
        TRUE AS roundtrip_ok, TRUE AS within_bounds
      FROM w WHERE w <> '' GROUP BY doc_id ORDER BY doc_id"""),
    benchFn = Some(t14Tokens _))

  /** E15's core: fastText/CCNet-style MODEL-BASED quality scoring — the
    * learned-classifier stage of public corpus pipelines (vs E2's
    * hand-crafted ratios). Features are hashed unigrams (md5-derived
    * cross-engine bucket, `dim` buckets); the model is an injectable
    * (bucket, integer weight) table — parameter-bounded by `dim`, so the
    * join side broadcasts legitimately at any corpus size, exactly like
    * a real exported linear model. Float discipline: the KEEP gate is
    * pure integer arithmetic (sum of integer weights >= 0 — no float can
    * flip it), and the logistic probability is r4-quantized payload
    * (the t11 ln/avg precedent). One explode + one broadcast join + one
    * map-side-combinable aggregate; no corpus-derived frame is hinted.
    */
  def qualityModelScore(docs: DataFrame, weights: DataFrame, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    import graft.functions.{HashFunctions => H}
    docs.select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .withColumn("bucket", pmod(H.md5Hash56(col("t")), lit(dim.toLong)))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score_sum"))
      .select(col("doc_id"), col("n_tokens"), col("score_sum"),
        (col("score_sum") >= 0).as("keep"),
        r4(lit(1.0) / (lit(1.0) +
          exp(-col("score_sum").cast("double") / (lit(1000.0) * col("n_tokens"))))).as("prob"))
      .orderBy(col("doc_id"))
  }

  // E15 — model-based quality filter. The fixture "model" derives its
  // integer weights ARITHMETICALLY from the bucket id (Knuth
  // multiplicative constant mod a prime, centered), so the DuckDB oracle
  // can rebuild the identical weights table from range() and check the
  // whole scoring path — hashing, join, gate, logistic — end to end. A
  // production run passes a real exported model instead; same plan.
  private val t15 = Relational.Q(
    "t15_quality_model",
    (s, d) => {
      val dim = 4096
      val weights = s.range(dim).select(col("id").as("bucket"),
        ((col("id") * 2654435761L) % 1009L - 504L).as("w"))
      qualityModelScore(Tables.documents(s, d), weights, dim)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents),
      b AS (
        SELECT doc_id, ${graft.functions.HashFunctions.md5Hash56Sql("t")} % 4096 AS bucket
        FROM toks),
      w AS (
        SELECT range AS bucket, (range * 2654435761) % 1009 - 504 AS w
        FROM range(4096)),
      sc AS (
        SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(w.w) AS BIGINT) AS score_sum
        FROM b JOIN w USING (bucket) GROUP BY doc_id)
      SELECT doc_id, n_tokens, score_sum, score_sum >= 0 AS keep,
        ${r4Sql("1.0 / (1.0 + exp(-CAST(score_sum AS DOUBLE) / (1000.0 * n_tokens)))")} AS prob
      FROM sc ORDER BY doc_id"""))

  /** Per-doc (doc_id, w1, w2) bigram occurrences — t13's map-side
    * shift-zip, shared by the model build and the scoring join.
    */
  private[operators] def docBigrams(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 2)
    toks.select(col("doc_id"), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** The (w1, w2, n, bits) surprisal model over `pairs` — bits is the
    * exact integer floor(log2(cn/n)) (see [[perplexityFilter]]).
    * `topK` truncates to the K most frequent bigrams under the total
    * (n desc, w1, w2) order — the BOUNDED model a streaming scorer can
    * broadcast (A33); None keeps the full vocabulary²-sized table.
    */
  def bigramSurprisalModel(pairs: DataFrame, topK: Option[Int] = None): DataFrame = {
    val bc = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val uc = bc.groupBy(col("w1")).agg(sum(col("n")).as("cn"))
    val full = bc.join(uc, Seq("w1"))
      .withColumn("k0", length(bin(col("cn"))) - length(bin(col("n"))))
      .withColumn("bits",
        when(expr("shiftleft(n, k0)") <= col("cn"), col("k0"))
          .otherwise(col("k0") - 1).cast("long"))
      .select(col("w1"), col("w2"), col("n"), col("bits"))
    topK.fold(full)(k =>
      full.orderBy(col("n").desc, col("w1"), col("w2")).limit(k))
  }

  /** E16's core: n-gram-LM perplexity filtering — the LM-scoring stage
    * of public corpus pipelines (a la CCNet's KenLM pass): score every
    * doc under the corpus bigram model and gate on mean surprisal.
    * Float discipline: per-bigram surprisal is the EXACT integer
    * `floor(log2(c(w1·)/c(w1,w2)))`, computed with bit lengths
    * (`length(bin(x))`) plus ONE shift comparison — `k0 =
    * bitlen(cn)-bitlen(n)` brackets the answer to {k0-1, k0} and
    * `(n << k0) <= cn` resolves it — no transcendental anywhere, so the
    * per-doc total is an integer sum (map-side combinable,
    * accumulation-order-independent) and the keep gate is pure integer
    * arithmetic (`total*den <= num*n_bigrams`). The only double is the
    * display column: one r4-quantized long/long IEEE division.
    *
    * Scale: the model is vocabulary²-bounded — data-dependent, so NOT
    * broadcast (the t11 unigram lesson); doc bigrams equi-join it on
    * (w1, w2), shuffling slim (doc_id, w1, w2) rows only. Bigram
    * formation is t13's map-side shift-zip (no window, no per-doc
    * sort). Scoring the training corpus has no OOV by construction; a
    * held-out scorer would left-join and add-one-smooth the misses.
    */
  def perplexityFilter(docs: DataFrame,
      maxBitsNum: Long = 433L, maxBitsDen: Long = 100L): DataFrame = {
    val pairs = docBigrams(docs)
    pairs.join(bigramSurprisalModel(pairs).drop("n"), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
        r4(col("total_bits").cast("double") / col("n_bigrams").cast("double"))
          .as("bits_per_bigram"),
        (col("total_bits") * lit(maxBitsDen) <= lit(maxBitsNum) * col("n_bigrams"))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Export the bounded model the streaming gate (A33) broadcasts:
    * top-K (w1, w2) → bits. K caps the driver/broadcast footprint the
    * way a real exported LM caps its vocabulary.
    */
  def exportBigramModel(docs: DataFrame, topK: Int): Map[(String, String), Long] =
    bigramSurprisalModel(docBigrams(docs), Some(topK))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap

  /** The TRUNCATED-model batch scorer — A33's batch twin: scoring joins
    * the top-K model (bounded!) with a LEFT join; an out-of-model (OOV)
    * bigram costs a flat `oovBits` penalty. Every doc with >= 1 bigram
    * scores (OOV bigrams still count), unlike [[perplexityFilter]]
    * where the full model makes misses impossible.
    */
  def perplexityFilterTopK(docs: DataFrame, topK: Int, oovBits: Long,
      maxBitsNum: Long = 433L, maxBitsDen: Long = 100L): DataFrame = {
    val pairs = docBigrams(docs)
    val model = bigramSurprisalModel(pairs, Some(topK)).drop("n")
    pairs.join(model, Seq("w1", "w2"), "left")
      .select(col("doc_id"), coalesce(col("bits"), lit(oovBits)).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
        (col("total_bits") * lit(maxBitsDen) <= lit(maxBitsNum) * col("n_bigrams"))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  // E16 — LM-perplexity quality filter over the documents corpus. The
  // 4.33 bits/bigram gate sits at the corpus median (measured: keeps
  // 281/500 at sf0.01, 270/500 at sf0.001) so the spec can prove the
  // gate is non-degenerate. Fully oracle-checked: surprisal is integer-
  // exact in both engines (see perplexityFilter).
  private val t16 = Relational.Q(
    "t16_perplexity_filter",
    (s, d) => perplexityFilter(Tables.documents(s, d)),
    Some(s"""
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM documents WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2),
      bg AS (
        SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2 FROM (
          SELECT doc_id, unnest([{'w1': tk[i], 'w2': tk[i+1]} FOR i IN range(1, len(tk))]) AS u
          FROM t)),
      bc AS (SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY 1, 2),
      uc AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS cn FROM bc GROUP BY 1),
      m AS (
        SELECT w1, w2,
          CASE WHEN (n << (length(bin(cn)) - length(bin(n)))) <= cn
               THEN length(bin(cn)) - length(bin(n))
               ELSE length(bin(cn)) - length(bin(n)) - 1 END AS bits
        FROM bc JOIN uc USING (w1)),
      sc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          CAST(SUM(m.bits) AS BIGINT) AS total_bits
        FROM bg JOIN m USING (w1, w2) GROUP BY doc_id)
      SELECT doc_id, n_bigrams, total_bits,
        ${r4Sql("CAST(total_bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE)")} AS bits_per_bigram,
        total_bits * 100 <= 433 * n_bigrams AS keep
      FROM sc ORDER BY doc_id"""))

  /** E17's core: BPE tokenizer TRAINING — learn the merges table from the
    * corpus (the public Sennrich et al. 2016 algorithm: repeatedly count
    * adjacent symbol pairs over the word-frequency vocabulary, fuse the
    * most frequent pair, K bounded rounds). This is the operator that
    * produces the model artifact [[graft.functions.BpeEncode]] (t14) and
    * the pack budgets (p4/p8/p9) consume — the natural completion of the
    * tokenize/pack pipeline: train on the cleaned corpus, then encode
    * with the learned table.
    *
    * Scale shape (the d6/k-means iterative-op discipline): the corpus is
    * touched ONCE — a map-side-combinable word-count aggregate; every
    * training round then runs on the VOCABULARY frame (distinct words +
    * counts — never re-reads the corpus, never leaves the cluster):
    *   - pair counts: one explode of adjacent symbol pairs weighted by
    *     word count + one map-side-combinable sum;
    *   - best pair: ONE TakeOrderedAndProject(1) driver probe per round
    *     (count desc, then (a,b) lexicographic — fully deterministic);
    *   - apply: a narrow higher-order-function fold over each word's
    *     symbols (left-to-right non-overlapping fusion), re-checkpointed
    *     so lineage doesn't stack across rounds (the trainCentroids
    *     precedent).
    * The returned merges list is bounded by the numMerges PARAMETER, so
    * it feeds BpeEncode's reference-object slot legitimately at any
    * corpus size. Training stops early when no pair reaches minPairCount
    * (Sennrich's frequency threshold).
    */
  def bpeTrainMerges(docs: DataFrame, numMerges: Int,
      minPairCount: Long = 2L): Seq[(String, String)] =
    bpeTrainMergesBatched(docs, numMerges, batchR = 1, minPairCount)._1

  /** [[bpeTrainMerges]]' driver-round cost, batched (the r8 verdict's
    * cost nit): the sequential spelling pays one distributed
    * count-and-probe round PER MERGE — right for bounded K, but a
    * public ~50k-merge vocab would be 50k Spark jobs of driver
    * latency. The classic fix (the multi-merge round every fast BPE
    * trainer ships): per round, take the top `batchR` candidate pairs
    * that are mutually NON-CONFLICTING and apply them all in ONE
    * vocabulary rewrite. Two pairs conflict when they share any symbol
    * or one's fusion string is a side of the other ({a,b,a+b}
    * intersects) — disjoint pairs have provably independent counts
    * (fusing (a,b) only perturbs adjacencies that touch a or b), so
    * each accepted pair's count is exactly what sequential Sennrich
    * would have seen had no higher-priority interacting pair existed.
    * Batched selection CAN deviate from sequential (after fusing
    * (a,b), a brand-new pair involving "ab" may out-count this round's
    * #2 — sequential would take it first), which is why the batch is a
    * separate, documented trainer: at batchR=1 it IS sequential
    * Sennrich (spec-pinned equal, same (count desc, a, b) tie-break,
    * same threshold stop), and at batchR=R it runs ~R× fewer rounds
    * (spec-measured at the fixture). The greedy accept always takes
    * the top candidate, so every round makes progress and rank order
    * within a round preserves the count order — sides still reference
    * only strictly-earlier-rank fusions (the publish audit's
    * reachability contract holds for any batchR).
    *
    * Returns (merges, distributed rounds run).
    */
  def bpeTrainMergesBatched(docs: DataFrame, numMerges: Int, batchR: Int,
      minPairCount: Long = 2L): (Seq[(String, String)], Int) = {
    val (mc, rounds) = bpeTrainMergesBatchedCounts(docs, numMerges, batchR, minPairCount)
    (mc.map { case (a, b, _) => (a, b) }, rounds)
  }

  /** [[bpeTrainMergesBatched]] with each merge's SELECTION-TIME pair
    * count attached — the t17 bounds-oracle's evidence: at batchR=1 the
    * selected counts are provably NON-INCREASING (fusing (a,b) only
    * creates pairs (x,ab)/(ab,y) whose count is bounded by the fused
    * occurrences, and every surviving pair already counted below the
    * selected max), so the count column is a trainer-integrity invariant
    * the driver gate can pin without replaying the whole loop.
    */
  def bpeTrainMergesBatchedCounts(docs: DataFrame, numMerges: Int, batchR: Int,
      minPairCount: Long = 2L): (Seq[(String, String, Long)], Int) = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(batchR >= 1, s"batchR must be >= 1, got $batchR")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    // corpus -> (count, symbol sequence) per DISTINCT word, one shuffle;
    // split("") is per code point (Java zero-width regex split never
    // lands inside a surrogate pair), matching BpeEncode.encodeWord's
    // symbol granularity; the empty trailing fragment split may emit is
    // dropped (words are non-empty, so "" is never a real symbol)
    var vocab = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(col("n"), array_remove(split(col("w"), ""), "").as("syms"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var rounds = 0
    var done = merges.size >= numMerges
    while (!done) {
      // one distributed aggregate per ROUND; the candidate collect is
      // bounded by 4*batchR rows (TakeOrderedAndProject — a heap merge,
      // never a global sort), enough headroom to find batchR disjoint
      // pairs in the common case without a second probe
      val cand = vocab.filter(size(col("syms")) >= 2)
        .select(col("n"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .filter(col("cnt") >= minPairCount)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(math.max(4 * batchR, 4)).collect()
      rounds += 1 // every distributed probe counts, including the final empty one
      if (cand.isEmpty) done = true
      else {
        val room = math.min(batchR, numMerges - merges.size)
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.HashSet.empty[String]
        cand.iterator.takeWhile(_ => accepted.size < room).foreach { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          val keys = Seq(a, b, a + b)
          if (accepted.size < room && keys.forall(k => !used.contains(k))) {
            accepted += ((a, b, r.getLong(2))); used ++= keys
          }
        }
        merges ++= accepted
        vocab = vocab
          .select(col("n"), accepted.foldLeft(col("syms")) {
            case (c, (a, b, _)) => fusePair(c, a, b)
          }.as("syms"))
          .localCheckpoint(false)
        done = merges.size >= numMerges
      }
    }
    (merges.toSeq, rounds)
  }

  /** The PRODUCTION-VOCAB scale path for BPE training. A real tokenizer
    * learns ~30k-50k merges; [[bpeTrainMerges]]' one-distributed-round-
    * per-merge shape is right for bounded K but wrong for 50k rounds
    * (50k tiny jobs of driver latency). The standard public answer
    * (Sennrich's reference, HF tokenizers): the corpus collapses to a
    * WORD-FREQUENCY DICT first, and training runs on the dict. So:
    * ONE distributed map-side-combinable word-count pass, a
    * frequency-TRUNCATED vocabulary via TakeOrderedAndProject
    * (`vocabCap` rows — count desc, word asc, fully deterministic;
    * the dropped tail is the long tail of junk/rare words that
    * contributes only low-count pairs), then the merge loop runs
    * DRIVER-LOCAL on the parameter-bounded dict — zero cluster
    * round-trips per merge. Same algorithm, same tie-breaks: on any
    * corpus where the cap doesn't bite, spec-pinned EQUAL to
    * [[bpeTrainMerges]].
    */
  def bpeTrainMergesLocal(docs: DataFrame, numMerges: Int, vocabCap: Int = 100000,
      minPairCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(vocabCap >= 1, s"vocabCap must be >= 1, got $vocabCap")
    val top = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(vocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    localMergeLoop(top, numMerges, minPairCount)
  }

  /** The word-frequency dict + trainer auto-selection (the d3
    * ngramJaccardAuto discipline applied to E17, r16): the merge loop's
    * only input is the dict, so when the dict PROVABLY fits under
    * `vocabCap` the driver-local loop — spec-pinned merge-for-merge
    * equal to [[bpeTrainMerges]] — replaces numMerges distributed
    * count-and-probe rounds with ONE distributed word-count pass. The
    * selection probe rides the dict pass itself: collect vocabCap+1
    * rows (a TakeOrderedAndProject heap, parameter-bounded), and an
    * overflow row means the cap would bite (truncation could drop
    * pair mass and change merges), so the distributed sequential
    * trainer runs unchanged. No scan is spent on selection that the
    * local path wouldn't spend anyway.
    */
  def bpeTrainMergesAuto(docs: DataFrame, numMerges: Int,
      vocabCap: Int = 100000,
      minPairCount: Long = 2L): Seq[(String, String)] = {
    require(vocabCap >= 1, s"vocabCap must be >= 1, got $vocabCap")
    val top = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(vocabCap + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    if (top.length <= vocabCap) localMergeLoop(top, numMerges, minPairCount)
    else bpeTrainMerges(docs, numMerges, minPairCount)
  }

  /** The sequential-Sennrich merge loop on a driver-local
    * word-frequency dict — [[bpeTrainMergesLocal]]'s body, shared with
    * [[bpeTrainMergesAuto]]. Tie-breaks (count desc, a, b) and the
    * left-to-right non-overlapping fusion are [[bpeTrainMerges]]'
    * verbatim.
    */
  private def localMergeLoop(top: Array[(String, Long)], numMerges: Int,
      minPairCount: Long): Seq[(String, String)] = {
    var vocab: Array[(Array[String], Long)] = top.map { case (w, n) =>
      val cps = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        cps += new String(Character.toChars(cp)); i += Character.charCount(cp)
      }
      (cps.toArray, n)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = merges.size >= numMerges
    while (!done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      // (count desc, a asc, b asc) — bpeTrainMerges' exact tie-break
      val best = counts.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, (k, c)) =>
          if (acc.forall { case (bk, bc) =>
            c > bc || (c == bc && (k._1 < bk._1 || (k._1 == bk._1 && k._2 < bk._2)))
          }) Some((k, c)) else acc
      }
      best.filter(_._2 >= minPairCount) match {
        case None => done = true
        case Some(((a, b), _)) =>
          merges += ((a, b))
          vocab = vocab.map { case (syms, n) =>
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                out += a + b; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, n)
          }
          done = merges.size >= numMerges
      }
    }
    merges.toSeq
  }

  /** Left-to-right non-overlapping fusion of adjacent (a,b) into a+b — the
    * training-side "apply one merge" as a fold: fuse when the running
    * tail is `a` and the next symbol is `b`. Exactly the greedy
    * left-to-right rule (a just-fused a+b can never immediately re-fuse
    * as `a`, since a+b != a for non-empty b — so "aaa" under (a,a)
    * becomes ["aa","a"], matching BpeEncode's overlap rule).
    * try_element_at keeps the empty-accumulator probe null-safe under
    * ANSI; CaseWhen only evaluates the fuse branch when the condition
    * holds, so slice's size-1 length is never negative.
    */
  private def fusePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(try_element_at(acc, lit(-1)) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** E17's artifact lifecycle — the tokenizer as a VERSIONED MODEL: the
    * learned merges publish through G16's write-audit-publish like any
    * corpus snapshot (s7's discipline for the ANN index), so the
    * trainer-facing pipeline is train -> publish -> every consumer
    * (t14 encode, p4/p8/p9 pack budgets) reads ONE immutable version by
    * pointer. The audit runs on the STAGED bytes and pins the
    * merges-file contract a loader depends on: dense ranks from 0,
    * non-empty sides, and STRUCTURAL REACHABILITY — every side longer
    * than one code point must be the fusion of some EARLIER merge (a
    * table violating that can't have come from a training run and
    * cannot drive an encoder; the exact check the spec runs against
    * t17's output, here enforced at the publish gate).
    */
  def publishBpeMerges(spark: SparkSession, merges: Seq[(String, String)],
      root: String, token: String): Publish.WapResult = {
    import spark.implicits._
    val df = merges.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("rank", "left", "right")
    val audit: Publish.Audit = staged => {
      val fusions = staged.select(col("rank").as("f_rank"),
        concat(col("left"), col("right")).as("s"))
      val sides = staged.select(col("rank"), explode(array(col("left"), col("right"))).as("s"))
      val unreachable = sides
        .filter(size(array_remove(split(col("s"), ""), "")) > 1)
        .join(fusions, fusions("s") === sides("s") && col("f_rank") < col("rank"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("sides_reachable_from_earlier_merges").as("expectation"),
          col("violations").cast("long").as("violations"),
          (col("violations") === 0L).as("pass"))
      Publish.columnAudit(
        "sides_nonempty" -> (length(col("left")) === 0 || length(col("right")) === 0),
        "rank_nonnegative" -> (col("rank") < 0))(staged)
        .unionByName(staged.agg(count(lit(1)).as("n"),
            coalesce(max(col("rank")), lit(-1L)).as("mx"),
            countDistinct(col("rank")).as("nd"))
          .select(lit("ranks_dense_from_zero").as("expectation"),
            (abs(col("mx") - (col("n") - 1L)) + abs(col("nd") - col("n")))
              .cast("long").as("violations"),
            (col("mx") === col("n") - 1L && col("nd") === col("n")).as("pass")))
        .unionByName(unreachable)
    }
    Publish.writeAuditPublish(df, root, audit, token)
  }

  /** Read the published tokenizer — rank-ordered, parameter-bounded
    * (numMerges rows), straight into [[graft.functions.BpeEncode]]'s
    * merges slot.
    */
  def readBpeMerges(spark: SparkSession, root: String): Seq[(String, String)] =
    Publish.readPublished(spark, root)
      .orderBy(col("rank"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq

  // E17 — BPE tokenizer training: the learned merges table as a query
  // result (rank = merge priority, the merges-file line order). The
  // iterative data-dependent selection is not SQL-expressible (recursive
  // CTEs cannot aggregate per level), but its FIRST step and its
  // invariants are (the r11 bounds-oracle promotion): merge 0 is exactly
  // the argmax adjacent-codepoint pair over the word-frequency dict
  // under the trainer's (count desc, a, b) tie-break — DuckDB replays
  // pair, count, and tie-break verbatim, so any tokenization/counting/
  // ordering bug in the trainer's distributed round flips the hash red.
  // The remaining merges pin the sequential-Sennrich invariants: the
  // selected counts are NON-INCREASING (fusing (a,b) only creates pairs
  // bounded by the fused occurrences), sides non-empty, every multi-
  // codepoint side the fusion of a strictly earlier merge (the publish
  // audit's reachability contract). The spec still pins the full table
  // against the hand-computed Sennrich worked example; benchFn stays
  // the production merges-table spelling.
  private def t17Table(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r16: auto-selected trainer — one distributed dict pass + the
    // driver-local merge loop when the vocab provably fits the cap
    // (merge-for-merge equal, spec-pinned), the distributed sequential
    // rounds otherwise. Same merges table either way.
    bpeTrainMergesAuto(Tables.documents(s, d), numMerges = 16)
      .zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("rank", "left", "right")
      .orderBy(col("rank"))
  }

  private val t17 = Relational.Q(
    "t17_bpe_train",
    (s, d) => {
      import s.implicits._
      val (mc, _) = bpeTrainMergesBatchedCounts(
        Tables.documents(s, d), numMerges = 16, batchR = 1)
      require(mc.nonEmpty, "trainer returned no merges on a non-empty corpus")
      val counts = mc.map(_._3)
      val nonIncreasing = counts.zip(counts.drop(1)).forall { case (x, y) => x >= y }
      val sidesNonempty = mc.forall { case (a, b, _) => a.nonEmpty && b.nonEmpty }
      val fusions = mc.map { case (a, b, _) => a + b }
      val reachable = mc.zipWithIndex.forall { case ((a, b, _), i) =>
        Seq(a, b).forall(side =>
          side.codePointCount(0, side.length) == 1 || fusions.take(i).contains(side))
      }
      Seq((mc.size.toLong, mc.head._1, mc.head._2, mc.head._3,
        nonIncreasing && sidesNonempty && reachable))
        .toDF("n_merges", "first_left", "first_right", "first_count", "invariants_ok")
    },
    Some("""
      WITH wd AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          FROM documents)
        WHERE w <> '' GROUP BY w),
      cs AS (SELECT string_split(w, '') AS c, n FROM wd),
      p AS (
        SELECT u['a'] AS a, u['b'] AS b, CAST(SUM(n) AS BIGINT) AS cnt FROM (
          SELECT n, unnest([{'a': c[i], 'b': c[i+1]} FOR i IN range(1, len(c))]) AS u
          FROM cs)
        GROUP BY 1, 2)
      SELECT CAST(16 AS BIGINT) AS n_merges, a AS first_left, b AS first_right,
        cnt AS first_count, TRUE AS invariants_ok
      FROM p ORDER BY cnt DESC, a, b LIMIT 1"""),
    benchFn = Some(t17Table _))

  /** E18's core: the Gopher document-quality rules (Rae et al. 2021,
    * Table A1 — the rule set public pipelines like Dolma/RefinedWeb run
    * verbatim), as one narrow codegen'd scan. Every gate is PURE INTEGER
    * arithmetic — ratios become cross-multiplications (`3·n ≤ chars ≤
    * 10·n` instead of `3 ≤ chars/n ≤ 10`) so no float can flip a keep
    * decision and the DuckDB twin is bit-exact. The two line-shape rules
    * (bullet-start / ellipsis-end fractions) are inapplicable to this
    * corpus (single-line documents — TESTDATA.md) and are deliberately
    * not spelled; the remaining five are the complete word-shape subset:
    *   - word count within [minWords, maxWords];
    *   - mean word length within [3, 10] chars;
    *   - symbol-to-word ratio ≤ 1/10 (hash marks + ellipses);
    *   - ≥ 80% of words contain an alphabetic character;
    *   - ≥ `minRequired` distinct words from the required lexicon —
    *     Gopher's English list (the/be/to/of/and/that/have/with) by
    *     default, parametrized because the rule is language-specific:
    *     a multilingual pipeline swaps the lexicon per language bucket
    *     (the CCNet per-language-model discipline), which is also what
    *     the corpus query entry does for this synthetic vocabulary.
    * 100 TB: one whole-stage-codegen'd projection over (doc_id, text) —
    * every expression here compiles (split / regexp_extract_all /
    * array_intersect); the alpha-word gate is deliberately spelled as
    * `n_words - |tokens with NO alphabetic char|` via one regex count
    * (boundary-asserted `[^A-Za-z\s]+` runs) instead of an interpreted
    * `filter(tk, _.rlike(...))` higher-order function, the round-1 perf
    * lesson — no shuffle, full column pruning — the cheapest gate in the
    * pipeline and the first one a real corpus build runs. Null text is
    * coalesced to '' up front so Spark's `size(split(null)) = -1` legacy
    * can't silently fail every gate while the SQL twin propagates NULL.
    */
  def gopherRules(docs: DataFrame, minWords: Long = 50L,
      maxWords: Long = 100000L,
      requiredWords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minRequired: Int = 2): DataFrame = {
    require(requiredWords.nonEmpty && minRequired >= 1
      && minRequired <= requiredWords.length,
      s"bad required-word rule: $minRequired of ${requiredWords.length}")
    val txt = coalesce(col("text"), lit(""))
    val t = trim(txt)
    val tk = split(t, "\\s+")
    val required = array(requiredWords.map(lit): _*)
    // tokens with no alphabetic char = maximal [^A-Za-z\s]+ runs bounded
    // by start/whitespace/end (lookarounds so delimiters aren't consumed);
    // empty text guards the split-of-empty [""] token, which the regex
    // (one-or-more) can't see but the subtraction must not miscount
    val noAlphaWords = size(regexp_extract_all(t,
      lit("(?:^|(?<=\\s))[^A-Za-z\\s]+(?=\\s|$)"), lit(0))).cast("long")
    docs
      .select(col("doc_id"),
        size(tk).cast("long").as("n_words"),
        length(regexp_replace(txt, "\\s", "")).cast("long").as("n_nonspace"),
        (size(regexp_extract_all(txt, lit("#"), lit(0)))
          + size(regexp_extract_all(txt, lit("\\.\\.\\."), lit(0))))
          .cast("long").as("n_symbols"),
        when(t === "", lit(0L))
          .otherwise(size(tk).cast("long") - noAlphaWords).as("n_alpha_words"),
        size(array_intersect(array_distinct(split(lower(t), "\\s+")),
          required)).cast("long").as("n_required"))
      .withColumn("g_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("g_mean_word_len",
        col("n_nonspace") >= lit(3L) * col("n_words")
          && col("n_nonspace") <= lit(10L) * col("n_words"))
      .withColumn("g_symbol_ratio", lit(10L) * col("n_symbols") <= col("n_words"))
      .withColumn("g_alpha_words",
        lit(5L) * col("n_alpha_words") >= lit(4L) * col("n_words"))
      .withColumn("g_required_words", col("n_required") >= minRequired.toLong)
      .withColumn("keep",
        col("g_word_count") && col("g_mean_word_len") && col("g_symbol_ratio")
          && col("g_alpha_words") && col("g_required_words"))
    // no orderBy here (the piiScrub convention): the operator stays a
    // stateless narrow projection, so it attaches UNCHANGED to a
    // streaming frame (A36) — the t18 query entry adds the
    // deterministic sort the oracle compare wants
  }

  // E18 — Gopher quality rules (integer-exact; full DuckDB oracle). The
  // required lexicon is adapted to this corpus's synthetic vocabulary
  // ("the"/"a" are its only function words) — the per-language-bucket
  // swap the operator's doc describes; every other gate runs Gopher's
  // published thresholds verbatim.
  private val t18 = Relational.Q(
    "t18_gopher_rules",
    (s, d) => gopherRules(Tables.documents(s, d),
      requiredWords = Seq("the", "a"), minRequired = 2).orderBy(col("doc_id")),
    Some("""
      WITH src AS (
        -- null-guard mirrors the operator's coalesce (Spark legacy
        -- size(split(null)) = -1 vs SQL NULL propagation)
        SELECT doc_id, COALESCE(text, '') AS text FROM documents),
      base AS (
        SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
          CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace,
          CAST(len(regexp_extract_all(text, '#'))
             + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) AS n_symbols,
          CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                               w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
          CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')),
                   ['the','a'])) AS BIGINT) AS n_required
        FROM src)
      SELECT doc_id, n_words, n_nonspace, n_symbols, n_alpha_words, n_required,
        (n_words >= 50 AND n_words <= 100000) AS g_word_count,
        (n_nonspace >= 3 * n_words AND n_nonspace <= 10 * n_words) AS g_mean_word_len,
        (10 * n_symbols <= n_words) AS g_symbol_ratio,
        (5 * n_alpha_words >= 4 * n_words) AS g_alpha_words,
        (n_required >= 2) AS g_required_words,
        ((n_words >= 50 AND n_words <= 100000)
          AND (n_nonspace >= 3 * n_words AND n_nonspace <= 10 * n_words)
          AND (10 * n_symbols <= n_words)
          AND (5 * n_alpha_words >= 4 * n_words)
          AND (n_required >= 2)) AS keep
      FROM base ORDER BY doc_id"""))

  /** E19's core: the C4 cleaning rules (Raffel et al. 2020, §2.2 — the
    * other canonical public filter set next to t18's Gopher rules, run
    * by C4/mC4 and their descendants). Two levels, both local to the
    * document — no corpus-wide state anywhere:
    *   - LINE gates (C4 drops offending lines, keeps the page): at
    *     least `minLineWords` words; ends in terminal punctuation
    *     (`.!?"'` — optional, because a punctuation-free corpus would
    *     scrub everything; same per-corpus adaptation as t18's
    *     required lexicon); no "javascript" mention.
    *   - DOCUMENT gates (C4 drops the whole page): "lorem ipsum"
    *     placeholder text; curly brace `{` (code leak); any word from
    *     the bad-word `blocklist` (word-level exact match, the
    *     "List of Dirty, Naughty …" stand-in — parametrized, the list
    *     itself is policy, not engineering); boilerplate policy
    *     phrases ("terms of use" / "privacy policy" / "cookie
    *     policy" / "uses cookies"); and fewer than `minKeptLines`
    *     surviving lines.
    * Kept lines reassemble in original order with `\n`.
    *
    * Spelling: a single narrow projection per doc. The per-line gates
    * run inside one `filter(lines, …)` higher-order function —
    * interpreted, not codegen'd (the round-1 lesson), and chosen
    * DELIBERATELY here: unlike d15 (whose segment df needs a corpus
    * join) every gate is a pure per-line predicate, so the HOF keeps
    * the operator shuffle-free, stateless and streaming-attachable
    * (A37), where the codegen alternative (posexplode → per-line
    * projection → groupBy reassembly) buys back interpreter overhead
    * at the price of a full shuffle of the corpus text. At 100 TB the
    * shuffle loses by orders of magnitude; the HOF cost is linear CPU
    * on data that is read once and never exchanged. Full column
    * pruning applies (only doc_id, text read).
    */
  def c4Filters(docs: DataFrame, minLineWords: Int = 3,
      requireTerminalPunct: Boolean = true,
      blocklist: Seq[String] = Seq.empty,
      minKeptLines: Int = 1): DataFrame = {
    require(minLineWords >= 1 && minKeptLines >= 0,
      s"bad C4 thresholds: minLineWords=$minLineWords minKeptLines=$minKeptLines")
    val txt = coalesce(col("text"), lit(""))
    val lower_ = lower(txt)
    val lines = split(txt, "\n")
    def wordCount(l: Column): Column =
      when(trim(l) === "", lit(0))
        .otherwise(size(split(trim(l), "\\s+")))
    def lineOk(l: Column): Column = {
      val base = wordCount(l) >= minLineWords &&
        !lower(l).rlike("javascript")
      if (requireTerminalPunct) base && l.rlike("[.!?\"']\\s*$") else base
    }
    val kept = filter(lines, lineOk _)
    val blockHit =
      if (blocklist.isEmpty) lit(false)
      else size(array_intersect(
        array_distinct(split(lower(trim(txt)), "\\s+")),
        array(blocklist.map(w => lit(w.toLowerCase)): _*))) > 0
    docs
      .select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        concat_ws("\n", kept).as("kept_text"),
        lower_.contains("lorem ipsum").as("d_lorem"),
        txt.contains("{").as("d_brace"),
        blockHit.as("d_blocklist"),
        lower_.rlike("terms of use|privacy policy|cookie policy|uses cookies")
          .as("d_policy"))
      .withColumn("keep",
        !col("d_lorem") && !col("d_brace") && !col("d_blocklist")
          && !col("d_policy") && col("n_kept") >= minKeptLines.toLong)
    // no orderBy (the t18/piiScrub convention): stateless narrow, so the
    // literal operator attaches to a streaming frame (A37); the query
    // entry adds the deterministic sort for the oracle compare
  }

  // E19 — C4 cleaning rules (full DuckDB oracle, hash-checks the
  // REASSEMBLED text). Corpus adaptation (the documented per-corpus
  // knobs): terminal punctuation off (the synthetic corpus has none),
  // line threshold 25 words (C4's 3 would fire nowhere on 10–99-word
  // single-line docs; 25 keeps both branches live — 75/500 docs
  // scrubbed at sf0.01), blocklist = the corpus's one rare token
  // ("dup", df 25/500) as the bad-word stand-in.
  private val t19 = Relational.Q(
    "t19_c4_filters",
    (s, d) => c4Filters(Tables.documents(s, d), minLineWords = 25,
      requireTerminalPunct = false, blocklist = Seq("dup"))
      .orderBy(col("doc_id")),
    Some("""
      WITH src AS (
        SELECT doc_id, COALESCE(text, '') AS text FROM documents),
      base AS (
        SELECT doc_id, text,
          string_split(text, chr(10)) AS lines,
          list_filter(string_split(text, chr(10)), l ->
            (CASE WHEN trim(l) = '' THEN 0
                  ELSE len(string_split_regex(trim(l), '\s+')) END) >= 25
            AND NOT regexp_matches(lower(l), 'javascript')) AS kept
        FROM src)
      SELECT doc_id,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(kept) AS BIGINT) AS n_kept,
        -- concat_ws never yields NULL; DuckDB's array_to_string of an
        -- empty list does — align the engines
        COALESCE(array_to_string(kept, chr(10)), '') AS kept_text,
        contains(lower(text), 'lorem ipsum') AS d_lorem,
        contains(text, '{') AS d_brace,
        len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')),
            ['dup'])) > 0 AS d_blocklist,
        regexp_matches(lower(text), 'terms of use|privacy policy|cookie policy|uses cookies') AS d_policy,
        (NOT contains(lower(text), 'lorem ipsum')
          AND NOT contains(text, '{')
          AND NOT (len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\s+')), ['dup'])) > 0)
          AND NOT regexp_matches(lower(text), 'terms of use|privacy policy|cookie policy|uses cookies')
          AND len(kept) >= 1) AS keep
      FROM base ORDER BY doc_id"""))

  /** Per-doc (doc_id, w1, w2, w3) trigram occurrences — t13's map-side
    * shift-zip extended one slot (two nested zip_withs over three
    * slices; no window, no per-doc sort, no shuffle before the count
    * aggregate).
    */
  private def docTrigrams(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
    toks.select(col("doc_id"), explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 2),
        zip_with(
          slice(col("tk"), lit(2), size(col("tk")) - 2),
          slice(col("tk"), lit(3), size(col("tk")) - 2),
          (b, c) => struct(b.as("w2"), c.as("w3"))),
        (a, bc) => struct(a.as("w1"),
          bc.getField("w2").as("w2"), bc.getField("w3").as("w3")))).as("tg"))
      .select(col("doc_id"), col("tg.w1").as("w1"),
        col("tg.w2").as("w2"), col("tg.w3").as("w3"))
  }

  /** E20's core: Stupid Backoff trigram LM scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — THE published
    * web-scale LM: score-only, no normalization, designed exactly for
    * the distributed count-frame setting this engine lives in). Per
    * trigram position the score is
    *   S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)           if the trigram is seen
    *                 = a * c(w2w3)/c(w2)            else if the bigram is
    *                 = a^2 * (c(w3)+1)/(N+V)        else (add-one unigram,
    *                                                 so OOV w3 is defined)
    * with Brants' a = 0.4. Counts come from a HELD-OUT model corpus
    * (`train`), never the scored docs themselves — scoring the training
    * corpus would make every trigram a hit and the backoff dead code.
    *
    * Float discipline (the t16 integer-surprisal spelling, extended to
    * backoff): a = 0.4 = 2/5 exactly, so the per-position surprisal
    * ratio 1/S = (den * 5^k) / (num * 2^k) is a ratio of LONGS for
    * backoff depth k in {0,1,2}, and `bits = floor(log2(1/S))` comes
    * from bit lengths plus ONE shift comparison — no transcendental
    * anywhere. Per-doc totals are integer sums (map-side combinable,
    * accumulation-order-independent); the keep gate is pure integer
    * cross-multiplication; the only double is the r4-quantized display
    * ratio. 1/S >= 1 at every level (num <= den per branch, and
    * 4*(c+1) <= 25*(N+V) at the unigram floor), so bits >= 0 and the
    * shift never sees a negative distance.
    *
    * Scale: the corpus is touched once per side; all three count frames
    * are map-side-combinable aggregates, VOCABULARY^n-bounded but
    * data-dependent — so they are NEVER broadcast (the t11/t16 lesson):
    * scoring equi-joins them on their n-gram keys, shuffling slim
    * (doc_id, w1, w2, w3) rows. The only broadcast is the one-row
    * (N, V) totals frame (adjudicated, the t9/t11 class).
    */
  def stupidBackoffScore(train: DataFrame, score: DataFrame,
      maxBitsNum: Long = 500L, maxBitsDen: Long = 100L): DataFrame = {
    val c3 = docTrigrams(train)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("n3"))
    val c2 = docBigrams(train)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
    val c1 = train
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n1"))
    val tot = c1.agg(sum(col("n1")).as("n_total"), count(lit(1)).as("v_size"))
    val j = docTrigrams(score)
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.withColumnRenamed("n2", "n12"), Seq("w1", "w2"), "left")
      .join(c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("n2").as("n23")), Seq("w2", "w3"), "left")
      .join(c1.select(col("w").as("w2"), col("n1").as("n2u")), Seq("w2"), "left")
      .join(c1.select(col("w").as("w3"), col("n1").as("n3u")), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
    val sb = j.select(col("doc_id"),
        when(col("n3").isNotNull, lit(0))
          .when(col("n23").isNotNull, lit(1)).otherwise(lit(2)).as("lvl"),
        when(col("n3").isNotNull, col("n12"))
          .when(col("n23").isNotNull, col("n2u") * lit(5L))
          .otherwise((col("n_total") + col("v_size")) * lit(25L)).as("a"),
        when(col("n3").isNotNull, col("n3"))
          .when(col("n23").isNotNull, col("n23") * lit(2L))
          .otherwise((coalesce(col("n3u"), lit(0L)) + lit(1L)) * lit(4L)).as("b"))
      .withColumn("k0", length(bin(col("a"))) - length(bin(col("b"))))
      .withColumn("bits",
        when(expr("shiftleft(b, k0)") <= col("a"), col("k0"))
          .otherwise(col("k0") - 1).cast("long"))
    sb.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_positions"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_bi_backoffs"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_uni_backoffs"),
        sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_positions"), col("n_tri_hits"),
        col("n_bi_backoffs"), col("n_uni_backoffs"), col("total_bits"),
        r4(col("total_bits").cast("double") / col("n_positions").cast("double"))
          .as("bits_per_pos"),
        (col("total_bits") * lit(maxBitsDen) <= lit(maxBitsNum) * col("n_positions"))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  // E20 — Stupid Backoff scoring over the parity held-out split: even
  // doc_ids train the count frames, odd doc_ids are scored (the
  // deterministic stand-in for CCNet's score-with-a-reference-corpus
  // setup; production passes any reference corpus as `train`).
  private val t20 = Relational.Q(
    "t20_stupid_backoff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      stupidBackoffScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    },
    Some(s"""
      WITH docs AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM documents),
      tr AS (SELECT tk FROM docs WHERE doc_id % 2 = 0),
      tri AS (SELECT u['w1'] AS w1, u['w2'] AS w2, u['w3'] AS w3 FROM (
        SELECT unnest([{'w1': tk[i], 'w2': tk[i+1], 'w3': tk[i+2]}
                       FOR i IN range(1, len(tk)-1)]) AS u
        FROM tr WHERE len(tk) >= 3)),
      bi AS (SELECT u['w1'] AS w1, u['w2'] AS w2 FROM (
        SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]} FOR i IN range(1, len(tk))]) AS u
        FROM tr WHERE len(tk) >= 2)),
      uni AS (SELECT unnest(tk) AS w FROM tr),
      c3 AS (SELECT w1, w2, w3, COUNT(*) AS n3 FROM tri GROUP BY 1, 2, 3),
      c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bi GROUP BY 1, 2),
      c1 AS (SELECT w, COUNT(*) AS n1 FROM uni GROUP BY 1),
      tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS n_total, COUNT(*) AS v_size FROM c1),
      pos AS (SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2, u['w3'] AS w3 FROM (
        SELECT doc_id, unnest([{'w1': tk[i], 'w2': tk[i+1], 'w3': tk[i+2]}
                               FOR i IN range(1, len(tk)-1)]) AS u
        FROM docs WHERE doc_id % 2 = 1 AND len(tk) >= 3)),
      j AS (SELECT p.doc_id,
          CASE WHEN c3.n3 IS NOT NULL THEN 0
               WHEN c23.n2 IS NOT NULL THEN 1 ELSE 2 END AS lvl,
          CASE WHEN c3.n3 IS NOT NULL THEN c12.n2
               WHEN c23.n2 IS NOT NULL THEN cu2.n1 * 5
               ELSE (t.n_total + t.v_size) * 25 END AS a,
          CASE WHEN c3.n3 IS NOT NULL THEN c3.n3
               WHEN c23.n2 IS NOT NULL THEN c23.n2 * 2
               ELSE (COALESCE(cu3.n1, 0) + 1) * 4 END AS b
        FROM pos p
        LEFT JOIN c3 ON p.w1 = c3.w1 AND p.w2 = c3.w2 AND p.w3 = c3.w3
        LEFT JOIN c2 c12 ON p.w1 = c12.w1 AND p.w2 = c12.w2
        LEFT JOIN c2 c23 ON p.w2 = c23.w1 AND p.w3 = c23.w2
        LEFT JOIN c1 cu2 ON p.w2 = cu2.w
        LEFT JOIN c1 cu3 ON p.w3 = cu3.w
        CROSS JOIN tot t),
      sb AS (SELECT doc_id, lvl,
          CASE WHEN (b << (length(bin(a)) - length(bin(b)))) <= a
               THEN length(bin(a)) - length(bin(b))
               ELSE length(bin(a)) - length(bin(b)) - 1 END AS bits
        FROM j),
      sc AS (SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_positions,
          CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hits,
          CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi_backoffs,
          CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_backoffs,
          CAST(SUM(bits) AS BIGINT) AS total_bits
        FROM sb GROUP BY doc_id)
      SELECT doc_id, n_positions, n_tri_hits, n_bi_backoffs, n_uni_backoffs,
        total_bits,
        ${r4Sql("CAST(total_bits AS DOUBLE) / CAST(n_positions AS DOUBLE)")} AS bits_per_pos,
        total_bits * 100 <= 500 * n_positions AS keep
      FROM sc ORDER BY doc_id"""))

  /** E21's core: Okapi BM25 top-k retrieval (Robertson et al., TREC-3;
    * the idf spelling is the non-negative ln(1 + (N-df+0.5)/(df+0.5))
    * variant) — the ranked-retrieval operator a training-data pipeline
    * uses for targeted data selection and contamination triage (find
    * the corpus docs closest to an eval query). `queries` is an
    * INJECTABLE parameter-bounded (query_id, terms) set — like the ANN
    * query sets, it broadcasts legitimately at any corpus size.
    *
    * Plan shape: ONE tokenize pass builds the postings (doc, term, tf);
    * doc lengths, term dfs, and the one-row (N, total-token) frame all
    * derive from it (map-side-combinable aggregates). Scoring joins the
    * tiny query-term frame to the postings FIRST (broadcast equi-join —
    * the selective step: only matching terms survive), then equi-joins
    * df (term-keyed shuffle; vocab-bounded but data-dependent, so never
    * broadcast) and doc length (doc-keyed shuffle). Top-k per query is
    * rank <= K under Window.partitionBy(query_id), which Spark rewrites
    * to WindowGroupLimit with a PER-PARTITION partial limit — no
    * query's full candidate list ever funnels through one task before
    * the limit.
    *
    * Float discipline: per-(term, doc) weights are r4-quantized BEFORE
    * summing (killing cross-engine ln/division last-ulp drift at each
    * term), and the per-doc sum folds the quantized weights in a
    * DETERMINISTIC order — sort_array over (term, w) structs, then a
    * left fold — so both engines add the same doubles in the same
    * order and the ranking key is bit-identical (the d15 reassembly
    * discipline applied to floats). Ties break by doc_id.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, Seq[String])],
      topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = docs.sparkSession
    import s.implicits._
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "queries must be non-empty (query_id, terms) pairs")
    val toks = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    // tf feeds FOUR consumers (dl, dfT, tot via dl, and the scoring
    // join). Relying on AQE exchange reuse here was measured (r10) to
    // fire only once — per-consumer column pruning canonicalizes the
    // aggregate differently, so the corpus scan+tokenize re-ran per
    // consumer (a real cost multiplier at 100 TB, not a fixed floor).
    // persist() shares ONE materialization across all consumers while
    // keeping the float discipline untouched (the values are cached, not
    // respelled); the session's canChangeCachedPlanOutputPartitioning
    // lets each consumer reuse the cached partitioning.
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persist()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_tokens"))
    val qt = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val idf = log(lit(1.0) +
      ((col("n_docs").cast("double") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)))
    val avgdl = col("n_tokens").cast("double") / col("n_docs").cast("double")
    val w = r4(idf * ((col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))))
    val perDoc = tf.join(broadcast(qt), Seq("term"))
      .join(dfT, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .select(col("query_id"), col("doc_id"), col("term"), w.as("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        sort_array(collect_list(struct(col("term"), col("w")))).as("tw"))
      .select(col("query_id"), col("doc_id"), col("n_terms_hit"),
        aggregate(col("tw"), lit(0.0), (acc, x) => acc + x.getField("w")).as("score"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val ranked = perDoc.withColumn("rnk", row_number().over(win).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("n_terms_hit"), r4(col("score")).as("score"))
      .orderBy(col("query_id"), col("rnk"))
    // the result is BOUNDED (|queries|·topK rows), so materialize it and
    // release the corpus-sized tf cache before returning: a library
    // caller invoking this repeatedly would otherwise accumulate one
    // cached tf per call (the r11 advice's leak)
    Materialize(ranked, tf)
  }

  /** t21's fixture query set: corpus-adapted mixes of the one rare term
    * ("dup", df≈25/500 — high idf) and common terms (df≈380+ — idf near
    * ln(1+~0.3)), so the ranking exercises the idf contrast, multi-term
    * accumulation, and the length normalization.
    */
  val Bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup", "key"),
    1L -> Seq("window", "join", "merge"),
    2L -> Seq("slow", "fast"),
    3L -> Seq("the", "dup", "scan"))

  // E21 — BM25 ranked retrieval over the fixture query set.
  private val t21 = Relational.Q(
    "t21_bm25_topk",
    (s, d) => bm25TopK(Tables.documents(s, d), Bm25Queries),
    Some {
      val qvals = Bm25Queries
        .flatMap { case (q, ts) =>
          ts.map(t => s"($q, '${t.replace("'", "''")}')") }.mkString(", ")
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_tokens FROM dl),
      qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
             FROM (VALUES $qvals) AS q(query_id, term)),
      m AS (SELECT qt.query_id, tf.doc_id, tf.term,
          ${r4Sql("""ln(1.0 + ((CAST(t.n_docs AS DOUBLE) - df.df) + 0.5) / (df.df + 0.5))
            * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                / (CAST(t.n_tokens AS DOUBLE) / CAST(t.n_docs AS DOUBLE))))))""")} AS w
        FROM tf
        JOIN qt ON tf.term = qt.term
        JOIN dft df ON tf.term = df.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN tot t),
      pd AS (SELECT query_id, doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
          list_reduce(list_prepend(0.0, list_transform(
            list_sort(list({'term': term, 'w': w})), x -> x['w'])),
            (a, b) -> a + b) AS score
        FROM m GROUP BY 1, 2),
      r AS (SELECT query_id, doc_id, n_terms_hit, score,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM pd)
      SELECT query_id, rnk, doc_id, n_terms_hit, ${r4Sql("score")} AS score
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""
    })

  /** t22's fixture blocklist: mixes a rare token, multi-word phrases
    * (substring patterns cross token boundaries — the thing a
    * tokenize-and-join blocklist like t19's cannot see), and a
    * single-character pattern (matches inside words, exercising the
    * every-position semantics).
    */
  val ScanPatterns: Seq[String] = Seq("dup", "agg row", "slow fast", "a")

  // E22 — one-pass multi-pattern scan (H8's query surface): per doc,
  // count EVERY occurrence of every blocklist pattern — overlapping
  // occurrences and nested patterns included — in one Aho-Corasick walk
  // inside whole-stage codegen ([[graft.functions.MultiPatternCounts]]).
  // The per-doc reductions over the |patterns|-length counts array are
  // interpreted HOFs on a 4-element array — post-scan, parameter-
  // bounded, never the hot path. The DuckDB oracle recomputes each
  // pattern's count as the number of STARTING POSITIONS whose substring
  // equals the pattern (the exact overlapping-count semantics), so the
  // hash match proves automaton construction, fail links, and
  // flattened-output counting against a definitionally-correct spelling.
  /** E22's core: one-pass multi-pattern scan — a STATELESS narrow
    * codegen projection (one [[graft.functions.MultiPatternCounts]]
    * walk + parameter-bounded array reductions), so the LITERAL batch
    * operator attaches to a stream unchanged (A41, the A36/A37 class:
    * no state store, no watermark, slicing can't matter).
    */
  def multiPatternScan(docs: DataFrame, patterns: Seq[String]): DataFrame = {
    import graft.functions.MultiPatternCounts
    docs
      .select(col("doc_id"),
        MultiPatternCounts(lower(trim(col("text"))), patterns).as("pc"))
      .select(col("doc_id"),
        aggregate(col("pc"), lit(0L), (a, x) => a + x).as("n_matches"),
        size(filter(col("pc"), x => x > 0)).cast("long").as("n_patterns_hit"),
        element_at(col("pc"), 1).as("n_dup"),
        element_at(col("pc"), 2).as("n_agg_row"))
  }

  private val t22 = Relational.Q(
    "t22_multipattern_scan",
    (s, d) => multiPatternScan(Tables.documents(s, d), ScanPatterns)
      .orderBy(col("doc_id")),
    Some("""
      WITH pat AS (
        SELECT * FROM (VALUES (1, 'dup'), (2, 'agg row'), (3, 'slow fast'), (4, 'a'))
          AS p(pi, p)),
      d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
      m AS (
        SELECT d.doc_id, pat.pi, COUNT(*) AS c
        FROM d, pat,
          LATERAL (SELECT unnest(range(1, len(d.t) - len(pat.p) + 2)) AS pos) u
        WHERE substr(d.t, CAST(u.pos AS INTEGER), len(pat.p)) = pat.p
        GROUP BY 1, 2),
      agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_matches,
          CAST(COUNT(*) AS BIGINT) AS n_patterns_hit,
          CAST(COALESCE(SUM(CASE WHEN pi = 1 THEN c END), 0) AS BIGINT) AS n_dup,
          CAST(COALESCE(SUM(CASE WHEN pi = 2 THEN c END), 0) AS BIGINT) AS n_agg_row
        FROM m GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(a.n_matches, 0) AS n_matches,
        COALESCE(a.n_patterns_hit, 0) AS n_patterns_hit,
        COALESCE(a.n_dup, 0) AS n_dup,
        COALESCE(a.n_agg_row, 0) AS n_agg_row
      FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"""))

  /** E23's core: Unicode canonicalization — NFC-normalize the text and
    * report what changed, so byte-level dedup/hash stages downstream
    * see one spelling per document ([[graft.functions.NfcNormalize]],
    * a narrow codegen projection). Stateless and doc-local: attaches
    * to a stream unchanged (the A36/A37 class).
    */
  def unicodeNormalize(docs: DataFrame): DataFrame = {
    import graft.functions.NfcNormalize
    docs.select(col("doc_id"), NfcNormalize(col("text")).as("norm"), col("text"))
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len_in"),
        length(col("norm")).cast("long").as("len_norm"),
        (col("text") =!= col("norm")).as("changed"),
        md5(col("norm")).as("norm_hash"))
  }

  // E23 — NFC normalization over a deterministically-derived DIRTY
  // corpus: the checked-in text is clean ASCII (normalization would be
  // a no-op and the oracle would prove nothing), so the query plants
  // decomposed sequences first — docs % 3 == 0 get every 'e' replaced
  // by 'e' + COMBINING ACUTE (U+0301), % 3 == 1 every 'o' by 'o' +
  // COMBINING DIAERESIS (U+0308), % 3 == 2 stay clean (the identity
  // class) — then normalizes. The DuckDB oracle rebuilds the same dirty
  // text and runs utf8proc's nfc_normalize, so the hash match pins
  // JDK-vs-utf8proc NFC byte equality, the composed lengths, and the
  // changed flags across all three classes.
  private val t23 = Relational.Q(
    "t23_unicode_normalize",
    (s, d) => {
      val dirty = when(col("doc_id") % 3 === 0,
          regexp_replace(col("text"), "e", "e\u0301"))
        .when(col("doc_id") % 3 === 1,
          regexp_replace(col("text"), "o", "o\u0308"))
        .otherwise(col("text"))
      unicodeNormalize(Tables.documents(s, d).select(col("doc_id"), dirty.as("text")))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
          CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN replace(text, 'e', 'e' || chr(769))
            WHEN 1 THEN replace(text, 'o', 'o' || chr(776))
            ELSE text END AS dirty
        FROM documents),
      n AS (SELECT doc_id, dirty, nfc_normalize(dirty) AS norm FROM d)
      SELECT doc_id,
        CAST(length(dirty) AS BIGINT) AS len_in,
        CAST(length(norm) AS BIGINT) AS len_norm,
        dirty <> norm AS changed,
        md5(norm) AS norm_hash
      FROM n ORDER BY doc_id"""))

  /** E24's core: zlib compression-ratio quality signal — text that
    * deflates far below natural-language entropy is repetitive
    * boilerplate/spam (the one-scalar sibling of t10's exact
    * repetition ratios and d13's span detector: cheaper, catches
    * long-range repetition n-gram windows miss). Per doc: deflate the
    * UTF-8 bytes (JDK Deflater level 6, ONE deflater per partition,
    * reset per row — allocation-bounded hot loop, narrow map-side) and
    * gate on deflated/raw >= minRatio as a pure integer
    * cross-multiplication. Deterministic for a fixed zlib build, but
    * not SQL-engine-reproducible — rows-only entry; the spec pins
    * planted repetitive vs natural docs, both gate branches, and
    * run-to-run determinism.
    */
  def compressionRatio(docs: DataFrame,
      minRatioNum: Long = 25L, minRatioDen: Long = 100L): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), coalesce(col("text"), lit(""))).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        // release native zlib state when the TASK ends, not when the
        // iterator drains: a limit/take/early abort never reaches the
        // end of the iterator, and finalization is the only other out
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished()) out += deflater.deflate(buf)
          (id, in.length.toLong, out)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflated")
      .select(col("doc_id"), col("n_bytes"), col("n_deflated"),
        r4(col("n_deflated").cast("double") /
          greatest(col("n_bytes"), lit(1L)).cast("double")).as("ratio"),
        (col("n_deflated") * lit(minRatioDen) >= lit(minRatioNum) * col("n_bytes"))
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  // E24 — compression-ratio junk gate, PROMOTED to a full oracle (r11
  // verdict item 2): no SQL engine can replay deflate VALUES, but
  // deflate's BOUNDS are exact integers — (a) the zlib universal
  // envelope 8 <= n_deflated <= n_bytes + n_bytes/250 + 64 on every
  // REAL corpus doc (the stored-block worst case is n + 5·ceil(n/65535)
  // + 6; the gate's envelope is strictly looser), and (b) CLASS
  // SEPARATION on a PLANTED repetitive doc derived from doc_id
  // arithmetic ("ab" × (doc_id%100+100), 200-398 bytes): deflate must
  // crush a two-byte loop to <= 1/3 of raw (measured ~0.06; the junk
  // class the operator exists to catch). DuckDB replays n_bytes
  // (octet_length) and rep_bytes (arithmetic) exactly and pins both
  // flags TRUE, so a broken deflater, a lost row, or a swapped payload
  // flips the per-doc hash red. benchFn keeps the production
  // corpus-ratio spelling; the spec still pins exact planted ratios and
  // both gate branches.
  private val t24 = Relational.Q(
    "t24_compression_ratio",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val real = compressionRatio(docs)
        .select(col("doc_id"), col("n_bytes"), col("n_deflated"))
      val planted = compressionRatio(docs.select(col("doc_id"),
        repeat(lit("ab"), (pmod(col("doc_id"), lit(100)) + lit(100)).cast("int"))
          .as("text")))
        .select(col("doc_id"), col("n_bytes").as("rep_bytes"),
          col("n_deflated").as("rep_deflated"))
      real.join(planted, Seq("doc_id"))
        .select(col("doc_id"), col("n_bytes"),
          (col("n_deflated") >= 8L &&
            col("n_deflated") <= col("n_bytes") + col("n_bytes") / 250L + 64L)
            .as("within_universal"),
          col("rep_bytes"),
          (col("rep_deflated") * 3L <= col("rep_bytes")).as("rep_compresses"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
        CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        TRUE AS within_universal,
        CAST(2 * (doc_id % 100 + 100) AS BIGINT) AS rep_bytes,
        TRUE AS rep_compresses
      FROM documents ORDER BY doc_id"""),
    benchFn = Some((s: SparkSession, d: String) =>
      compressionRatio(Tables.documents(s, d))))

  /** E25's core: Reciprocal Rank Fusion (Cormack, Clarke & Buettcher
    * 2009 — the standard score-free hybrid-retrieval combiner): fuse
    * two rankings of the same corpus by summing 1/(k + rank), k = 60.
    * Rank-based, so a lexical scorer and a vector scorer fuse without
    * any score calibration. Float discipline: each source's reciprocal
    * is r4-quantized BEFORE the two-term fixed-order sum (lexical +
    * semantic), so the fused key is bit-identical cross-engine; ties
    * break by doc_id. Inputs are (query_id, rnk, doc_id) frames —
    * rank-K-bounded per query, so the fusion join is never
    * data-proportional.
    */
  def rrfFuse(lexical: DataFrame, semantic: DataFrame,
      k: Int = 60, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def recip(df: DataFrame, as: String) =
      df.select(col("query_id"), col("doc_id"),
        r4(lit(1.0) / (lit(k.toDouble) + col("rnk"))).as(as))
    val fused = recip(lexical, "s_lex")
      .join(recip(semantic, "s_sem"), Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(col("s_lex"), lit(0.0)) + coalesce(col("s_sem"), lit(0.0)))
          .as("fused"),
        col("s_lex").isNotNull.as("in_lexical"),
        col("s_sem").isNotNull.as("in_semantic"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("fused").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        r4(col("fused")).as("fused"), col("in_lexical"), col("in_semantic"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // E25 — HYBRID retrieval: "docs like this example AND matching these
  // terms" — each fixture query carries the t21 term set AND an example
  // document's embedding (documents and embeddings share the id space,
  // the d17 convention). Lexical leg = BM25 top-20; semantic leg =
  // exact cosine top-20 for the example vector (the s1 shape, self
  // excluded); RRF fuses the two rank lists. Scale: both legs are
  // already-audited plans; the fusion joins two K-bounded-per-query
  // frames. The oracle recomposes all three stages in SQL, so the hash
  // match pins both legs AND the fusion arithmetic.
  private val t25 = Relational.Q(
    "t25_hybrid_rrf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.{CosineSimilarity => CosF}
      val legK = 20
      val lex = bm25TopK(Tables.documents(s, d), Bm25Queries, topK = legK)
        .select(col("query_id"), col("rnk"), col("doc_id"))
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < Bm25Queries.length)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val scored = Tables.spread(
          e.select(col("vec_id").as("doc_id"), col("embedding").as("cv")))
        .join(broadcast(q), col("doc_id") =!= col("query_id"))
        .withColumn("cos", CosF(col("qv"), col("cv")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("doc_id"))
      val sem = scored.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= legK)
        .select(col("query_id"), col("rnk"), col("doc_id"))
      rrfFuse(lex, sem)
    },
    Some {
      val qvals = Bm25Queries
        .flatMap { case (q, ts) =>
          ts.map(t => s"($q, '${t.replace("'", "''")}')") }.mkString(", ")
      s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_tokens FROM dl),
      qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
             FROM (VALUES $qvals) AS q(query_id, term)),
      m AS (SELECT qt.query_id, tf.doc_id, tf.term,
          ${r4Sql("""ln(1.0 + ((CAST(t.n_docs AS DOUBLE) - df.df) + 0.5) / (df.df + 0.5))
            * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                / (CAST(t.n_tokens AS DOUBLE) / CAST(t.n_docs AS DOUBLE))))))""")} AS w
        FROM tf
        JOIN qt ON tf.term = qt.term
        JOIN dft df ON tf.term = df.term
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN tot t),
      pd AS (SELECT query_id, doc_id,
          list_reduce(list_prepend(0.0, list_transform(
            list_sort(list({'term': term, 'w': w})), x -> x['w'])),
            (a, b) -> a + b) AS score
        FROM m GROUP BY 1, 2),
      lex AS (SELECT query_id, doc_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        FROM pd QUALIFY rnk <= 20),
      qv AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings
             WHERE vec_id < ${Bm25Queries.length}),
      cs AS (SELECT qv.query_id, c.vec_id AS doc_id,
          list_reduce(list_transform(list_zip(qv.v, c.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
          / sqrt(
              list_reduce(list_transform(qv.v,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)
              * list_reduce(list_transform(c.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)) AS cos
        FROM qv JOIN embeddings c ON c.vec_id <> qv.query_id),
      sem AS (SELECT query_id, doc_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rnk
        FROM cs QUALIFY rnk <= 20),
      fused AS (
        SELECT COALESCE(l.query_id, s.query_id) AS query_id,
          COALESCE(l.doc_id, s.doc_id) AS doc_id,
          COALESCE(${r4Sql("1.0 / (60.0 + l.rnk)")}, 0.0)
            + COALESCE(${r4Sql("1.0 / (60.0 + s.rnk)")}, 0.0) AS fused,
          l.rnk IS NOT NULL AS in_lexical,
          s.rnk IS NOT NULL AS in_semantic
        FROM lex l FULL OUTER JOIN sem s
          ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
      r AS (SELECT query_id, doc_id, fused, in_lexical, in_semantic,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY fused DESC, doc_id) AS rnk
        FROM fused)
      SELECT query_id, rnk, doc_id, ${r4Sql("fused")} AS fused,
        in_lexical, in_semantic
      FROM r WHERE rnk <= 10 ORDER BY query_id, rnk"""
    })

  /** E26's core: PMI-ranked bigram COLLOCATIONS (Church & Hanks 1990,
    * "Word Association Norms, Mutual Information, and Lexicography" —
    * the classic corpus-analysis operator: which word pairs co-occur
    * far above chance). Probabilities are over the bigram event space
    * (p(w1,·), p(·,w2), p(w1,w2) from one bigram aggregate — no second
    * tokenize), and the ranking is ln-FREE: for a fixed corpus,
    * PMI = ln(N·c12 / (c1·c2)) is strictly increasing in the LIFT
    * ratio N·c12/(c1·c2), whose numerator and denominator are exact
    * integers below 2^53 — so the sort key is ONE deterministic IEEE
    * division both engines compute bit-identically, with no
    * transcendental inside the oracle-checked frame (the t16
    * integer-surprisal discipline; callers wanting nats apply ln
    * outside). `minCount` guards PMI's classic low-frequency
    * pathology (hapax pairs maxing the ratio).
    *
    * Scale: bigrams form MAP-SIDE (t13's zip-with-shift — no window,
    * no per-doc sort); ONE (w1,w2) hash aggregate feeds the marginals
    * (two more map-side-combinable sums) and the one-row total
    * (broadcast, the t9/t11 class); top-k via orderBy.limit =
    * TakeOrderedAndProject (a per-partition heap merge, never a global
    * sort or window).
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, topK: Int = 30): DataFrame = {
    require(minCount >= 1 && topK >= 1, s"bad PMI params: $minCount/$topK")
    val toks = docs
      .select(split(lower(trim(col("text"))), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 2)
    val pairs = toks.select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bc = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val left = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val right = bc.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val tot = bc.agg(sum(col("c12")).as("nb"))
    bc.join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(tot))
      .filter(col("c12") >= minCount)
      // each factor is cast to double BEFORE the multiply: c1*c2 as Int64
      // overflows at corpus scale (Spark wraps silently, DuckDB raises);
      // every factor stays < 2^53 so the double products — and therefore
      // the one ranking division — remain exact and bit-identical
      // cross-engine
      .withColumn("lift_raw",
        (col("c12").cast("double") * col("nb").cast("double")) /
          (col("c1").cast("double") * col("c2").cast("double")))
      .orderBy(col("lift_raw").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        r4(col("lift_raw")).as("lift"))
  }

  // E26 — PMI collocations over the corpus, FULL oracle (exact integer
  // counts; the lift sort key is bit-identical cross-engine).
  private val t26 = Relational.Q(
    "t26_pmi_collocations",
    (s, d) => pmiCollocations(Tables.documents(s, d)),
    Some(s"""
      WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM documents WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2),
      bg AS (
        SELECT u['w1'] AS w1, u['w2'] AS w2 FROM (
          SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]} FOR i IN range(1, len(tk))]) AS u
          FROM t)),
      bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      l AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bc GROUP BY 1),
      r AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM bc GROUP BY 1),
      tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS nb FROM bc),
      cand AS (
        SELECT b.w1, b.w2, b.c12, l.c1, r.c2,
          (CAST(b.c12 AS DOUBLE) * CAST(t.nb AS DOUBLE)) /
            (CAST(l.c1 AS DOUBLE) * CAST(r.c2 AS DOUBLE)) AS lift_raw
        FROM bc b JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot t
        WHERE b.c12 >= 5)
      SELECT w1, w2, c12, c1, c2, ${r4Sql("lift_raw")} AS lift
      FROM cand ORDER BY lift_raw DESC, w1, w2 LIMIT 30"""))

  /** E27's core: TEXTRANK keyword scoring (Mihalcea & Tarau 2004,
    * "TextRank: Bringing Order into Texts" — the classic unsupervised
    * keyword extractor): PageRank over the word co-occurrence graph.
    * Graph: adjacent-token pairs (t13's map-side zip-with-shift),
    * symmetrized (w(a,b) = c(a,b) + c(b,a), self-loops dropped), each
    * undirected edge expanded to both directions. Iteration (the
    * paper's eq. 1, damping d = 0.85, unit start, fixed `iters`
    * rounds): WS(v) = (1-d) + d * sum over in-neighbors u of
    * (w(u,v) / outsum(u)) * WS(u).
    *
    * Float discipline — the novel part: PageRank is float-ITERATIVE,
    * which normally kills cross-engine replay because aggregation
    * order is nondeterministic. Here every per-node contribution sum
    * folds in SORTED in-neighbor order (array_sort over (src, contrib)
    * structs, then a left fold seeded at 0.0 — the t21 BM25 contract),
    * edge weights and out-sums are exact integers, and the per-edge
    * expression ((w/outsum) * score) is one fixed multiplication
    * chain — so every iteration's scores are bit-identical in Spark
    * and DuckDB and the whole operator is FULLY oracle-checkable, the
    * first float-iterative one in the pack.
    *
    * Scale: the graph is VOCABULARY-proportional, never corpus-
    * proportional (the x14 vocab-explosion argument); per iteration
    * one src-keyed join + one dst-keyed aggregate with degree-bounded
    * collect_lists; `iters` is a fixed small constant so the lazy plan
    * nests iters joins — no checkpointing, no driver round-trips.
    * Top-k via orderBy.limit = TakeOrderedAndProject.
    */
  def textRank(docs: DataFrame, iters: Int = 3, topK: Int = 30): DataFrame = {
    require(iters >= 1 && iters <= 6, s"iters in [1,6] (lazy plan nests them), got $iters")
    val toks = docs
      .select(split(lower(trim(col("text"))), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 2)
    val bg = toks.select(explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val und = bg
      .select(least(col("w1"), col("w2")).as("a"), greatest(col("w1"), col("w2")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .persist()
    val outs = edges.groupBy(col("src")).agg(sum(col("w")).as("outsum"))
    val withOut = edges.join(outs, Seq("src"))
    var scores = edges.select(col("src").as("token")).distinct()
      .withColumn("score", lit(1.0))
    (0 until iters).foreach { _ =>
      scores = withOut
        .join(scores.select(col("token").as("src"), col("score").as("s")), Seq("src"))
        .withColumn("c",
          (col("w").cast("double") / col("outsum").cast("double")) * col("s"))
        .groupBy(col("dst"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("src").as("s"), col("c").as("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("contrib"))
        .select(col("dst").as("token"),
          (lit(0.15) + lit(0.85) * col("contrib")).as("score"))
    }
    val deg = edges.groupBy(col("src").as("token")).agg(count(lit(1)).as("n_neighbors"))
    scores.join(deg, Seq("token"))
      .orderBy(col("score").desc, col("token"))
      .limit(topK)
      .select(col("token"), col("n_neighbors"), r4(col("score")).as("score"))
  }

  // E27 — TextRank keywords, FULL oracle: DuckDB replays all three
  // iterations with the same sorted-fold float contract.
  private val t27 = Relational.Q(
    "t27_textrank",
    (s, d) => textRank(Tables.documents(s, d)),
    Some {
      def iterSql(prev: String, out: String) = s"""
      $out AS (
        SELECT e.dst AS token,
          0.15 + 0.85 * list_reduce(list_prepend(0.0, list_transform(
            list_sort(list({'s': e.src,
              'c': (CAST(e.w AS DOUBLE) / CAST(o.outsum AS DOUBLE)) * p.score})),
            x -> x['c'])), (acc, v) -> acc + v) AS score
        FROM edges e JOIN outs o ON e.src = o.src
        JOIN $prev p ON p.token = e.src
        GROUP BY e.dst)"""
      s"""
      WITH t AS (
        SELECT string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM documents WHERE len(string_split_regex(lower(trim(text)), '\\s+')) >= 2),
      bg AS (
        SELECT u['w1'] AS w1, u['w2'] AS w2 FROM (
          SELECT unnest([{'w1': tk[i], 'w2': tk[i+1]} FOR i IN range(1, len(tk))]) AS u
          FROM t)
        WHERE u['w1'] <> u['w2']),
      und AS (
        SELECT least(w1, w2) AS a, greatest(w1, w2) AS b, COUNT(*) AS w
        FROM bg GROUP BY 1, 2),
      edges AS (
        SELECT a AS src, b AS dst, w FROM und
        UNION ALL
        SELECT b AS src, a AS dst, w FROM und),
      outs AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outsum FROM edges GROUP BY 1),
      s0 AS (SELECT DISTINCT src AS token, CAST(1.0 AS DOUBLE) AS score FROM edges),
      ${iterSql("s0", "s1")},
      ${iterSql("s1", "s2")},
      ${iterSql("s2", "s3")},
      deg AS (SELECT src AS token, COUNT(*) AS n_neighbors FROM edges GROUP BY 1)
      SELECT s3.token, deg.n_neighbors, ${r4Sql("s3.score")} AS score
      FROM s3 JOIN deg USING (token)
      ORDER BY s3.score DESC, s3.token LIMIT 30"""
    })

  /** E28's core: NAIVE-BAYES QUALITY-MODEL TRAINING — the trainer that
    * produces E15's integer-weight artifact, completing the
    * train → score → stream story the way t17 completed t14's encoder.
    * The public recipe (CCNet/fastText quality classifiers: positives =
    * a curated reference slice, negatives = the raw crawl) reduced to
    * its count-only Naive-Bayes core, with the per-bucket log-odds
    * quantized to an EXACT INTEGER via t16's bit-length floor-log2 —
    * training is two map-side-combinable aggregates and the learned
    * table hash-checks in DuckDB end to end (no transcendental, no
    * float gradient, no accumulation-order hazard anywhere).
    *
    * Per hashed-unigram bucket b (t15's md5 convention; Laplace +1,
    * V = dim): odds = ((pos_b+1)·(negTok+V)) / ((neg_b+1)·(posTok+V));
    * w_b = sign · floor(log2(max(num,den)/min(num,den))) — positive
    * when the bucket leans positive-class, 0 when the evidence is
    * under one doubling. Magnitudes stay far below 2^53 and the
    * floor-log2 is k0 = bitlen(hi) − bitlen(lo) resolved by ONE shift
    * comparison (the t16 pattern). The emitted (bucket, w) projection
    * IS a valid [[qualityModelScore]] / qualityGateStream model
    * (spec-wired), so the whole loop — train here, score in batch,
    * gate the stream — runs on one artifact.
    *
    * Scale: one token explode + ONE (bucket, class) count aggregate
    * (map-side combinable); the grid/totals are dim- and one-row-
    * bounded broadcasts (the t9/t11 class); output is exactly `dim`
    * rows — the exported-linear-model artifact shape.
    */
  def nbTrainQualityWeights(labeled: DataFrame, dim: Int = 1024): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    import graft.functions.{HashFunctions => H}
    val spark = labeled.sparkSession
    val toks = labeled
      .select(col("pos"), explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .withColumn("bucket", pmod(H.md5Hash56(col("t")), lit(dim.toLong)))
    val counts = toks.groupBy(col("bucket"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"))
    val tot = counts.agg(
      coalesce(sum(col("n_pos")), lit(0L)).as("post"),
      coalesce(sum(col("n_neg")), lit(0L)).as("negt"))
    spark.range(dim).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"))
      .crossJoin(broadcast(tot))
      .withColumn("num", (col("n_pos") + 1L) * (col("negt") + dim.toLong))
      .withColumn("den", (col("n_neg") + 1L) * (col("post") + dim.toLong))
      .withColumn("hi", greatest(col("num"), col("den")))
      .withColumn("lo", least(col("num"), col("den")))
      .withColumn("k0", length(bin(col("hi"))) - length(bin(col("lo"))))
      .withColumn("mag",
        when(expr("shiftleft(lo, k0)") <= col("hi"), col("k0"))
          .otherwise(col("k0") - 1).cast("long"))
      .withColumn("w",
        when(col("num") === col("den"), lit(0L))
          .otherwise(when(col("num") > col("den"), col("mag")).otherwise(-col("mag"))))
      .select(col("bucket"), col("n_pos"), col("n_neg"), col("w"))
      .orderBy(col("bucket"))
  }

  /** t28's fixture labeling — the CCNet shape verbatim: positives are a
    * curated reference slice (two sources stand in for "Wikipedia"),
    * negatives are the rest of the crawl.
    */
  val NbPositiveSources: Seq[String] = Seq("src0", "src1")

  /** E28's artifact lifecycle — the learned quality model as a
    * VERSIONED MODEL (the publishBpeMerges discipline): the (bucket,
    * n_pos, n_neg, w) table publishes through G16's write-audit-publish
    * so train → publish → every consumer (t15 batch scoring, the A30
    * stream gate) reads ONE immutable version by pointer. The audit
    * pins the loader contract on the STAGED bytes: buckets dense
    * 0..dim-1 exactly once (a sparse or duplicated table would silently
    * zero/double features), and |w| within the log-odds envelope (a
    * count column swapped into the weight slot — thousands, not
    * bit-lengths — quarantines instead of publishing).
    */
  def publishQualityModel(spark: SparkSession, model: DataFrame, dim: Int,
      root: String, token: String): Publish.WapResult = {
    val audit: Publish.Audit = staged =>
      Publish.columnAudit(
        "bucket_in_range" -> (col("bucket") < 0 || col("bucket") >= dim.toLong),
        "weight_in_envelope" -> (abs(col("w")) > 62L),
        "counts_nonnegative" -> (col("n_pos") < 0 || col("n_neg") < 0))(staged)
        .unionByName(staged
          .agg(count(lit(1)).as("n"), countDistinct(col("bucket")).as("nd"))
          .select(lit("buckets_dense_exactly_once").as("expectation"),
            (abs(col("n") - dim.toLong) + abs(col("nd") - dim.toLong))
              .cast("long").as("violations"),
            (col("n") === dim.toLong && col("nd") === dim.toLong).as("pass")))
    Publish.writeAuditPublish(model, root, audit, token)
  }

  /** Read the published model — rank-free, dim-bounded, straight into
    * [[qualityModelScore]]'s weights slot (or collect the dense array
    * for the A30 stream gate).
    */
  def readQualityModel(spark: SparkSession, root: String): DataFrame =
    Publish.readPublished(spark, root).select(col("bucket"), col("w"))

  // E28 — NB quality-model training, FULL oracle (pure integer
  // counts + bit-length log-odds replayed in DuckDB).
  private val t28 = Relational.Q(
    "t28_nb_train",
    (s, d) => nbTrainQualityWeights(
      Tables.documents(s, d).select(col("doc_id"), col("text"),
        col("source").isin(NbPositiveSources: _*).as("pos")),
      dim = 1024),
    Some {
      val h = graft.functions.HashFunctions.md5Hash56Sql("t")
      val srcs = NbPositiveSources.map(x => s"'$x'").mkString(", ")
      s"""
      WITH toks AS (
        SELECT source IN ($srcs) AS pos,
          unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
        FROM documents),
      counts AS (
        SELECT $h % 1024 AS bucket,
          CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
        FROM toks GROUP BY 1),
      tot AS (
        SELECT COALESCE(CAST(SUM(n_pos) AS BIGINT), 0) AS post,
          COALESCE(CAST(SUM(n_neg) AS BIGINT), 0) AS negt
        FROM counts),
      grid AS (SELECT unnest(range(0, 1024)) AS bucket),
      j AS (
        SELECT g.bucket,
          COALESCE(c.n_pos, 0) AS n_pos, COALESCE(c.n_neg, 0) AS n_neg,
          (COALESCE(c.n_pos, 0) + 1) * (t.negt + 1024) AS num,
          (COALESCE(c.n_neg, 0) + 1) * (t.post + 1024) AS den
        FROM grid g LEFT JOIN counts c ON g.bucket = c.bucket CROSS JOIN tot t),
      m AS (
        SELECT bucket, n_pos, n_neg, num, den,
          greatest(num, den) AS hi, least(num, den) AS lo,
          CASE WHEN (least(num, den) << (length(bin(greatest(num, den))) - length(bin(least(num, den)))))
                    <= greatest(num, den)
               THEN length(bin(greatest(num, den))) - length(bin(least(num, den)))
               ELSE length(bin(greatest(num, den))) - length(bin(least(num, den))) - 1 END AS mag
        FROM j)
      SELECT CAST(bucket AS BIGINT) AS bucket, n_pos, n_neg,
        CAST(CASE WHEN num = den THEN 0
             WHEN num > den THEN mag ELSE -mag END AS BIGINT) AS w
      FROM m ORDER BY bucket"""
    })

  /** E29 delimiter — a candidate phrase ends at any run containing
    * punctuation/digits or a stopword; plain whitespace between content
    * words stays inside the phrase (the `[^a-z\s]`-vs-`\s` split). One
    * regex, identical in Java and RE2, so both engines carve the same
    * phrases.
    */
  private val RakeDelim = s"(?:\\s*(?:[^a-z\\s]|\\b(?:$StopEn)\\b)\\s*)+"

  // E29 — RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley 2010,
  // "Automatic Keyword Extraction from Individual Documents"): candidate
  // phrases = maximal stopword/punctuation-free word runs; per-DOC word
  // score = degree/frequency (degree sums the lengths of every phrase
  // instance containing the word); phrase score = Σ member word scores,
  // top 3 phrases per doc. The published recipe's one division becomes
  // ONE exact integer floor division per (doc, word) — deg·1e6 div freq,
  // floored identically by Spark's `div` and DuckDB's `//` on positive
  // BIGINTs — so every score is an exact integer and the top-3 cut with
  // (score DESC, phrase) tie order is deterministic cross-engine.
  // Scale: tokenize once; phrase stats, word stats, the distinct-phrase
  // re-split, and the rank window are ALL doc_id-keyed (no corpus-wide
  // aggregate or sort anywhere), so the operator shards perfectly at
  // 100 TB. Duplicate phrase instances are scored once via the distinct
  // re-split (NOT a join through instances, which would double-count —
  // pinned by the planted duplicate-phrase spec).
  /** E29 core — RAKE over a (doc_id, text) frame; see the t29 comment
    * for the contract. Every stage is doc_id-keyed.
    */
  def rakeKeyphrases(docs: DataFrame, topK: Int = 3): DataFrame = {
    // repartition(doc_id) BEFORE the branch point, for two reasons that
    // compound (the round-10 t29 shave, 2.8 s -> ~1 s at sf0.1):
    // (1) the stopword-alternation regex split is the operator's
    //     dominant cost and feeds BOTH branches (word stats + distinct
    //     phrases) — identical exchanges dedupe via ReusedExchange, so
    //     the split runs ONCE instead of once per branch;
    // (2) HashPartitioning(doc_id) satisfies every downstream clustering
    //     requirement (groupBy(doc_id,w), the (doc_id,w) join, distinct
    //     on (doc_id,phrase), the per-doc rank window), so this is the
    //     operator's ONLY exchange — everything after it is co-partitioned
    //     map-side work, the shape that shards at 100 TB.
    // r17: the regex split (stopword alternation + \b backtracking per
    // char) was the operator's dominant cost; RakeSplitPhrases is the
    // same split → trim → drop-empties as ONE codegen char walk
    // (RakeSplitPhrasesSpec pins equality to the regex spelling).
    val ph = docs
      .select(col("doc_id"),
        explode(graft.functions.RakeSplitPhrases(
          lower(trim(col("text"))), StopEn.split('|').toSeq)).as("phrase"))
      .repartition(col("doc_id"))
    val pw = ph.select(col("doc_id"),
      size(split(col("phrase"), "\\s+")).cast("long").as("plen"),
      explode(split(col("phrase"), "\\s+")).as("w"))
    val ws = pw.groupBy(col("doc_id"), col("w"))
      .agg(expr("(sum(plen) * 1000000) div count(1)").as("wscore"))
    val dpw = ph.select(col("doc_id"), col("phrase")).distinct()
      .select(col("doc_id"), col("phrase"),
        explode(split(col("phrase"), "\\s+")).as("w"))
    val ps = dpw.join(ws, Seq("doc_id", "w"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(sum(col("wscore")).as("score"))
    val rk = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("phrase"))
    ps.withColumn("rk", row_number().over(rk)).filter(col("rk") <= topK)
      .select(col("doc_id"), col("phrase"), col("score"))
      .orderBy(col("doc_id"), col("score").desc, col("phrase"))
  }

  private val t29 = Relational.Q(
    "t29_rake_keyphrases",
    (s, d) => rakeKeyphrases(Tables.documents(s, d)),
    Some(s"""
      WITH ph AS (
        SELECT doc_id, trim(p) AS phrase
        FROM (SELECT doc_id,
                unnest(string_split_regex(lower(trim(text)), '$RakeDelim')) AS p
              FROM documents)
        WHERE trim(p) <> ''),
      pw AS (
        SELECT doc_id, w, len(string_split_regex(phrase, '\\s+')) AS plen
        FROM (SELECT doc_id, phrase,
                unnest(string_split_regex(phrase, '\\s+')) AS w FROM ph)),
      ws AS (
        SELECT doc_id, w, (SUM(plen) * 1000000) // COUNT(*) AS wscore
        FROM pw GROUP BY doc_id, w),
      dpw AS (
        SELECT doc_id, phrase, unnest(string_split_regex(phrase, '\\s+')) AS w
        FROM (SELECT DISTINCT doc_id, phrase FROM ph)),
      ps AS (
        SELECT dpw.doc_id, dpw.phrase, CAST(SUM(ws.wscore) AS BIGINT) AS score
        FROM dpw JOIN ws ON ws.doc_id = dpw.doc_id AND ws.w = dpw.w
        GROUP BY dpw.doc_id, dpw.phrase)
      SELECT doc_id, phrase, score FROM (
        SELECT doc_id, phrase, score,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, phrase) AS rk
        FROM ps) WHERE rk <= 3
      ORDER BY doc_id, score DESC, phrase"""))

  /** E30's core: per-language TOKENIZER FERTILITY — tokens emitted per
    * whitespace word, the metric multilingual-corpus work actually uses
    * to pick and size a tokenizer (high fertility = a language is being
    * shredded into many subwords, inflating its effective cost per word
    * and shrinking its effective context window). Rolled up per t3's
    * predicted language over BOTH tokenizer views this pack ships: the
    * t6 regex piece segmentation and the t6 BPE-subword estimate. All
    * legs are exact integers off ONE corpus scan (map-side classify +
    * count, one |langs|-row aggregate), so the two fertility ratios are
    * single deterministic IEEE divisions — fully oracle-checkable, and
    * the plan is embarrassingly scalable at 100 TB (no join, no window,
    * one enum-sized shuffle).
    */
  def tokenFertility(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"),
        hitsCol(StopEn).as("hits_en"), hitsCol(StopDe).as("hits_de"),
        hitsCol(StopFr).as("hits_fr"), hitsCol(StopEs).as("hits_es"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("n_words"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\\\s]', 0)"))
          .cast("long").as("n_pieces"),
        expr("aggregate(split(lower(trim(text)), '\\\\s+'), 0L, (acc, w) -> acc + CAST(ceil(length(w)/4.0) AS LONG))")
          .as("n_bpe"))
      .withColumn("predicted_lang", predictedLangCol)
    perDoc.groupBy(col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("n_bpe")).as("n_bpe"))
      .select(col("predicted_lang"), col("n_docs"), col("n_words"),
        col("n_pieces"), col("n_bpe"),
        r4(col("n_pieces").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double")).as("fertility_pieces"),
        r4(col("n_bpe").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double")).as("fertility_bpe"))
      .orderBy(col("predicted_lang"))
  }

  // E30 — per-language tokenizer fertility, FULL integer/r4 oracle.
  private val t30 = Relational.Q(
    "t30_token_fertility",
    (s, d) => tokenFertility(Tables.documents(s, d)),
    Some(s"""
      WITH h AS (
        SELECT doc_id,
          len(regexp_extract_all(lower(text), '\\b(?:$StopEn)\\b')) AS hits_en,
          len(regexp_extract_all(lower(text), '\\b(?:$StopDe)\\b')) AS hits_de,
          len(regexp_extract_all(lower(text), '\\b(?:$StopFr)\\b')) AS hits_fr,
          len(regexp_extract_all(lower(text), '\\b(?:$StopEs)\\b')) AS hits_es,
          len(string_split_regex(lower(trim(text)), '\\s+')) AS n_words,
          len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_pieces,
          CAST(list_sum(list_transform(string_split_regex(lower(trim(text)), '\\s+'),
            w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) AS n_bpe
        FROM documents),
      cls AS (SELECT $predictedLangSql AS predicted_lang, * FROM h)
      SELECT predicted_lang,
        COUNT(*) AS n_docs,
        CAST(SUM(n_words) AS BIGINT) AS n_words,
        CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
        CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
        ${r4Sql("CAST(SUM(n_pieces) AS DOUBLE) / CAST(greatest(SUM(n_words), 1) AS DOUBLE)")} AS fertility_pieces,
        ${r4Sql("CAST(SUM(n_bpe) AS DOUBLE) / CAST(greatest(SUM(n_words), 1) AS DOUBLE)")} AS fertility_bpe
      FROM cls GROUP BY predicted_lang ORDER BY predicted_lang"""))

  /** E31's core: per-doc N-GRAM NOVELTY — the share of a document's
    * distinct word n-grams that appear in NO other document (corpus
    * df == 1). The memorization/duplication-risk counterpart to d10's
    * pairwise containment: a low-novelty doc is mostly assembled from
    * text that exists elsewhere in the corpus (quotes, templates,
    * mirrors) even when no single pair crosses a containment threshold,
    * so training on it multiplies effective epochs on that text.
    *
    * Scale: the d9 df pattern — the gram pipeline (d8's wordGramHashes:
    * one per-doc window sort, distinct hashes) feeds a slim (g, df)
    * aggregate and the join back is on the gram hash key with NO text
    * payload; per-doc roll-up + the novelty division are exact integers
    * and one r4 division. No broadcast of anything corpus-derived.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val grams = Dedup.wordGramHashes(docs.select(col("doc_id"), col("text")), n)
    val dfG = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val perDoc = grams.join(dfG, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_pct", r4(col("n_novel") * 100.0 /
        greatest(col("n_grams"), lit(1L))))
      // mostly-unoriginal gate, integer-exact: novel grams < 20% of grams
      // (n_novel*5 < n_grams) on docs long enough to carry grams at all
      .withColumn("mostly_duplicated",
        col("n_grams") > 0 && col("n_novel") * 5 < col("n_grams"))
      .orderBy(col("doc_id"))
  }

  // E31 — n-gram novelty (df==1 share per doc), FULL oracle via the d8
  // string-gram respelling.
  private val t31 = Relational.Q(
    "t31_ngram_novelty",
    (s, d) => ngramNovelty(Tables.documents(s, d)),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
        FROM documents),
      g AS (
        SELECT doc_id, unnest(list_distinct(
          [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] ||
           ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7]
           FOR i IN range(1, len(tk) - 6)])) AS gram
        FROM toks WHERE len(tk) >= 8),
      dfg AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
      per AS (
        SELECT g.doc_id, COUNT(*) AS n_grams,
          CAST(SUM(CASE WHEN dfg.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM g JOIN dfg USING (gram) GROUP BY g.doc_id)
      SELECT d.doc_id,
        COALESCE(p.n_grams, 0) AS n_grams,
        COALESCE(p.n_novel, 0) AS n_novel,
        ${r4Sql("COALESCE(p.n_novel, 0) * 100.0 / greatest(COALESCE(p.n_grams, 0), 1)")} AS novelty_pct,
        COALESCE(p.n_grams, 0) > 0 AND COALESCE(p.n_novel, 0) * 5 < COALESCE(p.n_grams, 0) AS mostly_duplicated
      FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
      ORDER BY d.doc_id"""))

  /** E32's core: URL CANONICALIZATION — the dedup key every web-scale
    * corpus pipeline computes before anything content-based runs
    * (CCNet, Wenzek et al. 2020; RefinedWeb, Penedo et al. 2023 — both
    * dedup by normalized URL first; it is the cheapest dedup signal
    * there is). The rules are RFC 3986 §6's syntax-based normalization
    * (case, default port) plus the web-pipeline conventions (fragment,
    * tracking params, param order, trailing slash). Applied to absolute
    * http(s) URLs:
    * lowercase scheme and host, strip the default port (80/443 for its
    * scheme; non-default ports are IDENTITY and kept), drop the
    * fragment, drop tracking params (utm_*, fbclid, gclid, ref), sort
    * the surviving query params byte-wise, strip trailing slashes on
    * non-root paths. A pure narrow codegen projection (regexp + array
    * ops — no UDF, no shuffle), so canonicalizing a 100 TB url column is
    * scan-bound and the same column attaches to a stream unchanged (the
    * A28 stateless class).
    */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = regexp_extract(rest, "^([^/?#]*)", 1)
    val host = lower(regexp_extract(hostPort, "^([^:]*)", 1))
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val portSuffix = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathQ = regexp_replace(rest, "^[^/?#]*", "")
    val trimmedPath = regexp_replace(regexp_extract(pathQ, "^([^?]*)", 1), "/+$", "")
    val path = when(trimmedPath === "", lit("/")).otherwise(trimmedPath)
    val params = filter(split(regexp_extract(pathQ, "\\?(.*)$", 1), "&"), p =>
      p =!= "" && !(p.startsWith("utm_") || p.startsWith("fbclid=") ||
        p.startsWith("gclid=") || p.startsWith("ref=")))
    val q = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, portSuffix, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** URL dedup over the canonical key: one canon_url-keyed window pass
    * emits the group size and the min-doc_id keep flag (the d1 exact-
    * dedup contract applied to the URL axis). The key is data-dependent
    * and corpus-growing, so the window spreads — never the guarded
    * enum-window class.
    */
  def urlCanonicalDedup(urls: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("canon_url"))
    urls.select(col("doc_id"), canonicalizeUrl(col("url")).as("canon_url"))
      .select(col("doc_id"), col("canon_url"),
        count(lit(1)).over(w).as("group_size"),
        (col("doc_id") === min(col("doc_id")).over(w)).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The t32 planted DIRTY-URL column (from doc_id arithmetic, the m14
    * convention) — shared with p21's composite so the fixtures cannot
    * drift: mixed-case scheme/host, default port to strip vs
    * non-default to keep, trailing slash, out-of-order query params
    * behind a tracking param, fragment; doc_id%50 is the canonical
    * identity (~10 colliding docs per canonical URL).
    */
  def fixtureDirtyUrl: Column = {
    val k = (col("doc_id") % 50).cast("string")
    concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
      lit("://"),
      when(col("doc_id") % 3 === 0, concat(lit("Site"), k, lit(".Example.COM")))
        .otherwise(concat(lit("site"), k, lit(".example.com"))),
      when(col("doc_id") % 5 === 0, lit(":443"))
        .when(col("doc_id") % 5 === 1, lit(":8443"))
        .otherwise(lit("")),
      lit("/docs/"), ((col("doc_id") % 50) % 7).cast("string"),
      when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("?utm_source=feed&")).otherwise(lit("?")),
      lit("b="), ((col("doc_id") % 50) % 3).cast("string"),
      lit("&a="), ((col("doc_id") % 50) % 5).cast("string"),
      when(col("doc_id") % 6 === 0, lit("#top")).otherwise(lit("")))
  }

  /** The t32 oracle's expected-canonical SQL (doc_id arithmetic). */
  val fixtureCanonUrlSql: String =
    """'https://site' || (doc_id % 50) || '.example.com' ||
          (CASE WHEN doc_id % 5 = 1 THEN ':8443' ELSE '' END) ||
          '/docs/' || ((doc_id % 50) % 7) ||
          '?a=' || ((doc_id % 50) % 5) || '&b=' || ((doc_id % 50) % 3)"""

  /** The t34 planted HTML column — the doc's real text html-escaped and
    * wrapped in deterministic structure (+ an entity paragraph on
    * doc_id%3==0); shared with p21.
    */
  def fixtureHtml: Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    val extra = when(col("doc_id") % 3 === 0,
      lit("<p>&amp; &lt;tag&gt; &quot;q&quot;&nbsp;</p>")).otherwise(lit(""))
    concat(
      lit("<html><head><title>t"), col("doc_id").cast("string"),
      lit("</title><style>p{color:red}</style></head><body><script>var x="),
      col("doc_id").cast("string"),
      lit(";</script><div class=\"main\"><p>"), esc,
      lit("</p></div>"), extra, lit("</body></html>"))
  }

  /** The t34 oracle's expected-extraction SQL (raw-text formula). */
  val fixtureExtractedSql: String =
    """trim(regexp_replace(
            text || (CASE WHEN doc_id % 3 = 0 THEN ' & <tag> "q" ' ELSE '' END),
            '\s+', ' ', 'g'))"""

  // E32 — URL canonicalize + dedup. The fixture derives a DIRTY absolute
  // URL per doc from doc_id arithmetic (the m14 planted-header
  // convention); Spark CANONICALIZES THE DIRTY STRING with the real
  // parser; the oracle recomputes the expected canonical form from
  // doc_id arithmetic alone — the hash match proves the plant →
  // canonicalize round trip.
  private val t32 = Relational.Q(
    "t32_url_canonicalize",
    (s, d) => urlCanonicalDedup(
      Tables.documents(s, d).select(col("doc_id"), fixtureDirtyUrl.as("url"))),
    Some(s"""
      WITH c AS (
        SELECT doc_id,
          $fixtureCanonUrlSql AS canon_url
        FROM documents)
      SELECT doc_id, canon_url,
        COUNT(*) OVER (PARTITION BY canon_url) AS group_size,
        doc_id = MIN(doc_id) OVER (PARTITION BY canon_url) AS keep
      FROM c ORDER BY doc_id"""))

  /** E33's core: per-doc CHARACTER SHANNON ENTROPY (bits/char;
    * Shannon 1948, "A Mathematical Theory of Communication") — the
    * compressibility quality signal that catches what token-level
    * filters can't: base64/hex blobs and minified payloads score HIGH
    * (near log2 of the alphabet), repeated-character spam scores LOW;
    * natural language sits in a stable 3.5-4.5 band. The oracle-checked
    * complement to t24's deflate ratio (whose compressor bytes are not
    * SQL-replayable). H = Σ (c/n)·ln(n/c) / ln 2 over the per-doc char
    * histogram; the fold runs in char-sorted order (the q53/t21 pinned
    * fold) and ln 2 is the shared LITERAL 0.6931471805599453 so both
    * engines divide by the identical double. Scale: one explode + two
    * map-side-combinable aggregates; the per-doc term list is bounded
    * by the ALPHABET, not the doc.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    val Ln2 = 0.6931471805599453
    val cc = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    val per = cc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        sort_array(collect_list(struct(col("ch"), col("c")))).as("cs"))
    val nD = col("n").cast("double")
    val hBits = aggregate(col("cs"), lit(0.0), (acc, x) =>
      acc + (x.getField("c").cast("double") / nD) *
        log(nD / x.getField("c").cast("double"))) / lit(Ln2)
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_chars_counted"),
        coalesce(col("n_distinct"), lit(0L)).cast("long").as("n_distinct_chars"),
        r4(coalesce(hBits, lit(0.0))).as("h_bits"))
      .withColumn("low_entropy", col("n_chars_counted") > 0 && col("h_bits") < 2.0)
      .orderBy(col("doc_id"))
  }

  /** E33's PRODUCTION spelling: the same entropy computed row-locally by
    * the codegen [[graft.functions.CharEntropy]] expression — per-doc
    * entropy is row-local by nature, so the explode+aggregate twin above
    * pays two corpus shuffles this narrow scan projection removes
    * (plan-asserted shuffle-free in the spec). Bit-equal to
    * [[charEntropy]] by construction (same char units, same TreeMap ==
    * sort_array fold order, same IEEE term sequence, shared ln2
    * literal) — spec-pinned on the corpus and on seeded randoms. The
    * aggregate twin remains the grouped-use form (and the cross-check).
    */
  def charEntropyRowLocal(docs: DataFrame): DataFrame = {
    import graft.functions.{CharEntropy => CE}
    // no terminal sort: stateless narrow column ops only, so the SAME
    // code attaches to a streaming frame (the t12/piiScrub discipline —
    // A52's spec pins streamed == batch); the t33 entry adds its own
    // deterministic ORDER BY
    docs.select(col("doc_id"), CE(col("text")).as("e"))
      .select(col("doc_id"),
        col("e.n_chars").as("n_chars_counted"),
        col("e.n_distinct").as("n_distinct_chars"),
        r4(col("e.h_bits")).as("h_bits"))
      .withColumn("low_entropy", col("n_chars_counted") > 0 && col("h_bits") < 2.0)
  }

  // E33 — char entropy, FULL oracle (pinned fold order + shared ln2
  // literal; r4 absorbs cross-engine ln ulp drift, the t11 precedent).
  // The entry runs the row-local codegen spelling — the scan-bound
  // production plan; the aggregate twin is spec-pinned bit-equal.
  private val t33 = Relational.Q(
    "t33_char_entropy",
    (s, d) => charEntropyRowLocal(Tables.documents(s, d)).orderBy(col("doc_id")),
    Some(s"""
      WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      cc AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch WHERE ch <> '' GROUP BY 1, 2),
      per AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_distinct,
          list_sort(list({'ch': ch, 'c': c})) AS cs
        FROM cc GROUP BY doc_id),
      h AS (
        SELECT doc_id, n, n_distinct,
          ${r4Sql("""COALESCE(list_reduce(list_prepend(0.0, list_transform(cs,
            x -> (CAST(x['c'] AS DOUBLE) / CAST(n AS DOUBLE))
              * ln(CAST(n AS DOUBLE) / CAST(x['c'] AS DOUBLE)))),
            (a, b) -> a + b) / 0.6931471805599453, 0.0)""")} AS h_bits
        FROM per)
      SELECT d.doc_id,
        COALESCE(h.n, 0) AS n_chars_counted,
        COALESCE(h.n_distinct, 0) AS n_distinct_chars,
        COALESCE(h.h_bits, 0.0) AS h_bits,
        COALESCE(h.n, 0) > 0 AND COALESCE(h.h_bits, 0.0) < 2.0 AS low_entropy
      FROM documents d LEFT JOIN h USING (doc_id) ORDER BY d.doc_id"""))

  /** E34's core: HTML → TEXT extraction — the stage between a raw web
    * crawl and every text operator in this pack (the simplified
    * trafilatura (Barbaresi 2021) / jusText (Pomikálek 2011) class; a pipeline that can't strip markup has
    * no text to dedup or score). Contract, in order: drop the whole
    * <head> (titles/meta never leak into training text), drop
    * <script>/<style> blocks (code and CSS are not prose), replace
    * block-level tags with a space (so adjacent blocks don't weld into
    * one word), strip remaining tags, decode the five core entities
    * (&lt; &gt; &quot; &nbsp; then &amp; LAST — decoding amp first
    * would double-decode "&amp;lt;"), collapse whitespace runs, trim.
    * Simplifications are documented contract: attribute values
    * containing '>' and CDATA are out of scope (the fixture never
    * emits them; real crawls route through a proper parser at the
    * decode seam). A stateless narrow codegen projection (regex chain,
    * no UDF) — extracting a 100 TB html column is scan-bound and
    * attaches to a stream unchanged (the A28/A50 class).
    */
  def htmlToText(html: Column): Column = {
    val noHead = regexp_replace(html, "(?is)<head\\b.*?</head>", " ")
    val noScript = regexp_replace(noHead, "(?is)<script\\b.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b.*?</style>", " ")
    val blocks = regexp_replace(noStyle,
      "(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|table|section|article)\\b[^>]*>", " ")
    val stripped = regexp_replace(blocks, "<[^>]*>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(stripped, "&nbsp;", " "), "&lt;", "<"), "&gt;", ">"),
      "&quot;", "\""), "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  // E34 — HTML extraction. The fixture WRAPS each doc's real text in
  // deterministic HTML (head with title+style, a body script, block
  // structure, the text html-ESCAPED on the way in, and for doc_id%3==0
  // an entity-bearing extra paragraph), so extraction must drop the
  // head/script, strip structure, and decode entities to recover
  // exactly the original text — and the oracle recomputes the expected
  // string from the RAW text by formula (the m14 plant convention): the
  // hash proves the escape → wrap → extract round trip byte-for-byte.
  private val t34 = Relational.Q(
    "t34_html_extract",
    (s, d) => {
      val extracted = htmlToText(fixtureHtml)
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(extracted).cast("long").as("n_chars_extracted"),
          md5(extracted).as("extracted_hash"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH e AS (
        SELECT doc_id,
          $fixtureExtractedSql AS expected
        FROM documents)
      SELECT doc_id,
        CAST(length(expected) AS BIGINT) AS n_chars_extracted,
        md5(expected) AS extracted_hash
      FROM e ORDER BY doc_id"""))

  /** E35's core: OUTLINK EXTRACTION — the stage between HTML extraction
    * (t34) and the link-graph analytics a crawl pipeline runs on top
    * (frontier scheduling, domain ranking — p23): pull every absolute
    * http(s) anchor href out of an html column, in document order.
    * Matches `<a ... href="...">` / `<a ... href='...'>` case-
    * insensitively (the reference crawls' dominant spelling; srcset /
    * unquoted hrefs are out of documented scope like t34's CDATA), then
    * keeps only absolute http(s) targets — relative paths, mailto:,
    * javascript: and fragment-only anchors are frontier-useless without
    * a base-URL resolver and are dropped here (resolution against the
    * page URL is the caller's composition, not this column's job).
    * A stateless narrow codegen projection (one regexp_extract_all +
    * one array filter, no UDF) — extracting links from a 100 TB html
    * column is scan-bound and attaches to a stream unchanged (the
    * A28/A50 stateless class).
    */
  def extractLinks(html: Column): Column =
    filter(
      regexp_extract_all(html,
        // href must follow a whitespace/quote delimiter, not \b: '-' is
        // a non-word char, so \bhref would also match inside data-href
        // (common in real HTML) and feed false edges into hostGraph /
        // PageRank / frontier counts. data-* attributes are excluded.
        lit("(?i)<a\\b[^>]*?[\\s\"']href\\s*=\\s*[\"']([^\"']+)[\"']"), lit(1)),
      u => u.rlike("(?i)^https?://"))

  /** Lowercased registered host of an absolute URL (port/path/query
    * excluded) — the key every host-level crawl analytic groups on.
    */
  def hostOf(url: Column): Column =
    lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)", 1))

  /** The t35/p23 planted LINKED-HTML column (doc_id arithmetic, the m14
    * convention): a page whose anchors exercise every extraction rule —
    * a DIRTY absolute link (mixed-case scheme/host, default :80 port,
    * tracking param, fragment) to host (7·doc_id+1)%50, a single-quoted
    * RELATIVE link (must be dropped), an UPPERCASE-tag absolute link to
    * host (doc_id+1)%50, a hub link to host 0 on doc_id%4==0 (gives the
    * planted graph a high-PageRank hub), and a mailto: on doc_id%5==0
    * (must be dropped). 7 and 50 are coprime so the cross links cover
    * every host; 6·d ≡ 49 (mod 50) has no solution so link 1 is never a
    * self-link. Link 1 carries a VARYING anchor text w(doc_id%11) (t36's
    * surface); links 2/3 carry the constants "two"/"hub".
    */
  def fixtureLinkedHtml: Column = {
    val k1 = ((col("doc_id") * 7 + 1) % 50).cast("string")
    val k1p = (((col("doc_id") * 7 + 1) % 50) % 7).cast("string")
    val k1z = (((col("doc_id") * 7 + 1) % 50) % 3).cast("string")
    val k2 = ((col("doc_id") + 1) % 50).cast("string")
    concat(
      lit("<html><head><title>L"), col("doc_id").cast("string"),
      lit("</title></head><body><p>doc "), col("doc_id").cast("string"),
      lit("</p><a href=\"HTTP://Site"), k1, lit(".Example.COM:80/p/"), k1p,
      lit("?utm_campaign=x&z="), k1z, lit("#s\">w"),
      (col("doc_id") % 11).cast("string"), lit("</a>"),
      lit("<a href='/about'>rel</a>"),
      // data-href DECOY: \b-anchored extraction would read this as an
      // outlink (t35/t36/p23 oracles recompute expected links from
      // doc_id arithmetic WITHOUT it, so the hash match proves the
      // delimiter-anchored grammar drops it).
      lit("<a data-href=\"https://decoy99.example.com/x\">skip</a>"),
      lit("<A HREF=\"https://Site"), k2, lit(".Example.com/\">two</A>"),
      when(col("doc_id") % 4 === 0,
        lit("<a class=\"nav\" href=\"https://site0.example.com/hub?b=2&a=1\">hub</a>"))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("<a href=\"mailto:x@example.com\">mail</a>")).otherwise(lit("")),
      lit("</body></html>"))
  }

  // E35 — outlink extraction. Spark parses the planted HTML with the
  // REAL extractor, canonicalizes each surviving link (t32's rules) and
  // takes its host; the oracle recomputes the expected (index, canonical
  // URL, host) triples from doc_id arithmetic alone — the hash match
  // proves the plant → extract → filter → canonicalize round trip,
  // including that the relative and mailto anchors vanished WITHOUT
  // disturbing the surviving links' document order.
  private val t35 = Relational.Q(
    "t35_link_extract",
    (s, d) => {
      val pages = Tables.documents(s, d)
        .select(col("doc_id"), extractLinks(fixtureLinkedHtml).as("links"))
      pages.select(col("doc_id"), posexplode(col("links")).as(Seq("pos", "url")))
        .select(col("doc_id"), col("pos").cast("long").as("link_idx"),
          canonicalizeUrl(col("url")).as("canon_url"))
        .withColumn("host", hostOf(col("canon_url")))
        .orderBy(col("doc_id"), col("link_idx"))
    },
    Some("""
      WITH r AS (SELECT doc_id, unnest(range(3)) AS i FROM documents),
      l AS (
        SELECT doc_id, i,
          CASE i
            WHEN 0 THEN 'http://site' || ((doc_id*7+1)%50) || '.example.com/p/' ||
              (((doc_id*7+1)%50)%7) || '?z=' || (((doc_id*7+1)%50)%3)
            WHEN 1 THEN 'https://site' || ((doc_id+1)%50) || '.example.com/'
            ELSE 'https://site0.example.com/hub?a=1&b=2' END AS canon_url,
          CASE i
            WHEN 0 THEN 'site' || ((doc_id*7+1)%50) || '.example.com'
            WHEN 1 THEN 'site' || ((doc_id+1)%50) || '.example.com'
            ELSE 'site0.example.com' END AS host
        FROM r WHERE i < 2 OR doc_id % 4 = 0)
      SELECT doc_id, CAST(i AS BIGINT) AS link_idx, canon_url, host
      FROM l ORDER BY doc_id, link_idx"""))

  /** E36's core: ANCHOR-TEXT EXTRACTION — (target URL, anchor text)
    * pairs from an html column, in document order. Anchor text is the
    * web's free labeled data: the linking page DESCRIBES the target
    * (search engines have indexed on it since Google's first crawl, and
    * retrieval training sets mine it as query→document supervision —
    * the DPR-class recipe). Same tag grammar as [[extractLinks]] plus
    * the inner text up to the closing tag (tag-free inner text — nested
    * markup inside <a> is out of documented scope like t34's CDATA;
    * real crawls route through a parser at the decode seam), same
    * absolute-http(s) filter, same stateless narrow-projection scale
    * shape (two regexp_extract_all passes zipped — no UDF, no shuffle).
    */
  def extractAnchors(html: Column): Column = {
    // Same delimiter-anchored href as extractLinks (data-href excluded).
    val pat = "(?i)<a\\b[^>]*?[\\s\"']href\\s*=\\s*[\"']([^\"']+)[\"'][^>]*>([^<]*)</a>"
    filter(
      zip_with(
        regexp_extract_all(html, lit(pat), lit(1)),
        regexp_extract_all(html, lit(pat), lit(2)),
        (u, t) => struct(u.as("url"), t.as("text"))),
      p => p.getField("url").rlike("(?i)^https?://"))
  }

  /** E36's roll-up: the per-host ANCHOR-TEXT PROFILE — how the web
    * describes each domain, the (host, anchor, n) frame a retrieval
    * pipeline mines for supervision and a governance pipeline reads as
    * an off-page quality signal. One extract projection + one
    * (host, anchor)-keyed count aggregate (map-side combinable, output
    * vocabulary-×-host-proportional — never corpus-proportional).
    */
  def anchorTextsByHost(pages: DataFrame): DataFrame =
    pages
      .select(explode(extractAnchors(col("html"))).as("a"))
      .select(hostOf(canonicalizeUrl(col("a.url"))).as("host"),
        trim(col("a.text")).as("anchor"))
      .groupBy(col("host"), col("anchor")).agg(count(lit(1)).as("n"))
      .orderBy(col("host"), col("anchor"))

  // E36 — anchor-text profile. Spark parses the planted HTML with the
  // real two-group extractor; the oracle recomputes every (host, anchor,
  // count) triple from doc_id arithmetic — link 1's anchor VARIES with
  // doc_id (w0..w10 spread across target hosts by the coprime-7 walk),
  // links 2/3 carry constants, and the dropped relative/mailto anchors
  // must leave no trace.
  private val t36 = Relational.Q(
    "t36_anchor_text",
    (s, d) => anchorTextsByHost(
      Tables.documents(s, d).select(fixtureLinkedHtml.as("html"))),
    Some("""
      WITH r AS (SELECT doc_id, unnest(range(3)) AS i FROM documents),
      l AS (
        SELECT
          CASE i
            WHEN 0 THEN 'site' || ((doc_id*7+1)%50) || '.example.com'
            WHEN 1 THEN 'site' || ((doc_id+1)%50) || '.example.com'
            ELSE 'site0.example.com' END AS host,
          CASE i
            WHEN 0 THEN 'w' || (doc_id % 11)
            WHEN 1 THEN 'two'
            ELSE 'hub' END AS anchor
        FROM r WHERE i < 2 OR doc_id % 4 = 0)
      SELECT host, anchor, CAST(COUNT(*) AS BIGINT) AS n
      FROM l GROUP BY host, anchor ORDER BY host, anchor"""))

  val all: Seq[Relational.Q] = Seq(t1, t2, t3, t4, t5, t6, t7, t8, t9, t10,
    t11, t12, t13, t14, t15, t16, t17, t18, t19, t20, t21, t22, t23, t24,
    t25, t26, t27, t28, t29, t30, t31, t32, t33, t34, t35, t36)
}
