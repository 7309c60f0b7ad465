package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shingling, MinHash, and SimHash building blocks (SURVEY.md C2/C4).
  *
  * All pure Column expressions over built-ins (split, transform, xxhash64,
  * bit ops) — fully distributed, codegen-friendly, no driver state. The
  * MinHash family is `xxhash64(shingleHash, i)` for permutation i: seeded
  * rehashing instead of affine permutations, which keeps ANSI mode happy
  * (no deliberate 64-bit overflow) and stays one codegen'd call per perm.
  */
object HashFunctions {

  /** Whitespace tokens of lowercased trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** One row per character k-gram of each document: (doc_id, pos, g).
    *
    * The O(1)-per-position relational gram pipeline shared by d3/t7/t8:
    * explode to one row per character CODE, then build each gram id from
    * k window leads — never substr(text, pos, k), which walks codepoints
    * from the string start (O(len²) per doc), and never a higher-order
    * transform (interpreted). The repartition moves only doc-level rows;
    * gram rows are born clustered by doc_id, so the lead window (and any
    * same-keyed window/aggregate downstream) sorts without re-shuffling
    * them.
    *
    * Gram-id contract: for k <= 4 the id is the INJECTIVE 16-bit-per-
    * codepoint pack (exact, zero collisions for BMP text; non-BMP
    * codepoints arrive as surrogate halves and should use the hashed
    * k >= 5 path); for larger k it is xxhash64 over the k code tuple
    * (~2^-64 collision odds, null-guarded so sub-k tails never hash).
    *
    * Order contract (what winnowing's MIN selection relies on): packed-id
    * LONG order equals per-codepoint lexicographic order. At k=4 the
    * first codepoint lands in bits 48-63, so a first char >= U+8000
    * would flip the SIGN and invert the comparison — the XOR with
    * Long.MinValue below rotates the domain so signed-long order is
    * unsigned pack order for every BMP gram. (Equality consumers — d3's
    * intersection, t8's profile join — are indifferent to the constant
    * XOR; t8's k=3 pack tops out at bit 47 and needs no rotation.)
    */
  def charGramIds(docs: DataFrame, textCol: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 32)
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val codes = (0 until k).map(j =>
      if (j == 0) col("c") else lead(col("c"), j).over(ord))
    val gid =
      if (k <= 4) {
        val packed = codes.zipWithIndex.map { case (c, j) => shiftleft(c, 16 * (k - 1 - j)) }
          .reduce(_.bitwiseOR(_)) // OR with a null lead nulls the id: tails drop
        if (k == 4) packed.bitwiseXOR(lit(Long.MinValue)) else packed
      } else
        when(codes.last.isNull, lit(null)) // xxhash64 would SKIP nulls, not null out
          .otherwise(xxhash64(codes: _*))
    docs.select(col("doc_id"), textCol.as("__graft_text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(split(col("__graft_text"), "")).as(Seq("pos", "ch")))
      .select(col("doc_id"), col("pos"), ascii(col("ch")).cast("long").as("c"))
      .select(col("doc_id"), col("pos"), gid.as("g"))
      .filter(col("g").isNotNull)
  }

  /** Distinct word k-shingles ("a b c") of a token array column. Empty for
    * docs shorter than k tokens (guards the ANSI-strict element_at).
    */
  def wordShingles(tk: Column, k: Int = 3): Column =
    when(size(tk) >= k,
      array_distinct(transform(
        sequence(lit(1), size(tk) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(tk, i + lit(j))): _*))))
      .otherwise(array().cast("array<string>"))

  /** 64-bit hashes of each shingle (HOF cross-check spelling — production
    * paths hash shingles relationally; see Dedup.d2).
    */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => xxhash64(s))

  /** 64-bit SimHash of a token-hash array: per-bit majority vote. */
  def simhash(hashes: Column): Column = {
    val bitVotes = (0 until 64).map { i =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bitVotes.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit hash columns — deliberately NOT a
    * custom expression: bit_count(a XOR b) is already whole-stage codegen'd
    * (SURVEY.md H2).
    */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 56-bit cross-engine token hash: the first 14 hex chars of md5,
    * parsed as an integer — the one >= 56-bit hash both Spark
    * (conv(hex, 16, 10)) and DuckDB (('0x' || hex)::BIGINT) compute
    * identically. 14 hex chars keep the value < 2^56, comfortably inside
    * a signed long, so no unsigned-overflow edge exists in either engine.
    */
  def md5Hash56(s: Column): Column =
    conv(substring(md5(s), 1, 14), 16, 10).cast("long")

  /** DuckDB twin of [[md5Hash56]] (the Num.money/moneySql pairing
    * convention): interpolate into oracle SQL so the hash width lives in
    * exactly one place per engine.
    */
  def md5Hash56Sql(e: String): String =
    s"('0x' || substr(md5($e), 1, 14))::BIGINT"

  /** Row-local twin of [[md5Hash56]] for STREAMING paths (the
    * wordGramHashesLocal convention): first 7 md5 bytes of the UTF-8
    * string = first 14 hex chars, parsed as an unsigned value < 2^56.
    * Spec-pinned bit-identical to the column expression.
    */
  // getInstance does a provider lookup + allocation — per-CALL cost that
  // dominates a per-token scoring loop; digest(bytes) resets the
  // instance, so a thread-local is safe to reuse indefinitely
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Hash56Local(s: String): Long = {
    val d = md5Digest.get()
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  /** Row-local twin of the column tokenization `split(lower(trim(text)),
    * "\\s+")` for streaming paths — shared by every streamed==batch
    * operator so the subtle semantics live in ONE place: UTF8String trim
    * strips only ' ' (Java trim eats all chars <= U+0020), UTF8String
    * lower is locale-independent (Java toLowerCase is
    * default-locale-sensitive), and split uses limit -1 because Spark's
    * split keeps trailing empty strings (Java's 1-arg split drops them).
    * Null text returns no tokens — callers that must distinguish "null
    * doc" from "doc with zero tokens" (e.g. to mirror a batch explode
    * drop) check null BEFORE calling.
    */
  def tokensLocal(text: String): Array[String] = {
    if (text == null) return Array.empty
    org.apache.spark.unsafe.types.UTF8String.fromString(text)
      .trim().toLowerCase().toString.split("\\s+", -1)
  }

  /** Combination band keys (multi-index-hashing style) for hamming <= k
    * blocking: split the `bits` hash bits into `parts` disjoint parts; a pair at
    * hamming <= parts - clean differs in at most parts - clean parts, so
    * at least `clean` parts are EXACTLY equal — meaning some clean-sized
    * subset of parts matches in full. Emitting one key per clean-subset
    * (C(parts, clean) keys/doc, each carrying clean*64/parts exact bits)
    * guarantees recall for hamming <= parts - clean while demanding far
    * more exact agreeing bits per candidate than single-band blocking —
    * the lever against vocabulary-biased simhash bits, where any single
    * 13-bit band collides massively.
    */
  def simhashCombinationKeys(sh: Column, parts: Int, clean: Int, bits: Int = 64): Column = {
    val widths = Array.fill(parts)(bits / parts)
    for (i <- 0 until bits % parts) widths(i) += 1
    val offsets = widths.scanLeft(0)(_ + _)
    val partVals = (0 until parts).map(p =>
      shiftrightunsigned(sh, offsets(p)).bitwiseAND(lit((1L << widths(p)) - 1)))
    val keys = (0 until parts).combinations(clean).zipWithIndex.map { case (subset, id) =>
      xxhash64((lit(id) +: subset.map(partVals)): _*)
    }
    array(keys.toSeq: _*)
  }

}
