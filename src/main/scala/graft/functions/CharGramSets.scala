package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Map-side char-k-gram set builders — the r17 replacement for the
  * relational gram pipeline's per-position explode in the SET-consuming
  * operators (d3's per-doc gram aggregate, t7's winnowing fingerprints,
  * t8's distinct trigrams).
  *
  * The relational [[HashFunctions.charGramIds]] spelling is the right
  * shape when downstream needs POSITIONS, but d3/t7/t8 reduce straight
  * back to a per-doc distinct set: the pipeline there was
  * repartition(doc_id) + posexplode (one row per CHARACTER) + lead
  * window + groupBy(doc_id)/distinct — two full exchanges of
  * corpus-character-proportional rows to compute a value that is a pure
  * row-local function of the text. These functions compute the same
  * sets in one whole-stage-codegen projection (a [[StaticCall]] each),
  * removing both exchanges outright (guide §2.4) and the per-character
  * row materialization.
  *
  * Gram-id contract (bit-identical to charGramIds, k <= 4 only): code
  * points of the text (split("")/ascii semantics: Spark's Ascii is
  * codePointAt(0)), packed 16 bits per code point, first code point in
  * the high bits; for k == 4 the pack is XOR'd with Long.MinValue so
  * signed order equals unsigned pack order (winnowing's MIN contract).
  * Sub-k texts produce an empty array (the relational tails-drop).
  * CharGramSetsSpec pins bit-equality against the relational spelling
  * on the real corpus and edge/unicode shapes.
  */
private[functions] object CharGramPack {

  /** Code points of s, as the 16-bit-pack inputs charGramIds sees. */
  def codePoints(s: String): Array[Int] = {
    val n = s.codePointCount(0, s.length)
    val out = new Array[Int](n)
    var i = 0
    var o = 0
    while (o < n) {
      val cp = s.codePointAt(i)
      out(o) = cp
      i += Character.charCount(cp)
      o += 1
    }
    out
  }

  /** Packed gram ids at every position (0..n-k), charGramIds order. */
  def gramIds(s: String, k: Int): Array[Long] = {
    val cp = codePoints(s)
    val n = cp.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) {
      var id = 0L
      var j = 0
      while (j < k) {
        id |= cp(i + j).toLong << (16 * (k - 1 - j))
        j += 1
      }
      ids(i) = if (k == 4) id ^ Long.MinValue else id
      i += 1
    }
    ids
  }

  /** Ascending distinct copy of ids. */
  def sortedDistinct(ids: Array[Long]): GenericArrayData = {
    if (ids.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    java.util.Arrays.sort(ids)
    var w = 1
    var i = 1
    while (i < ids.length) {
      if (ids(i) != ids(w - 1)) { ids(w) = ids(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(ids, w))
  }

  def gramIdSet(text: UTF8String, k: Int): GenericArrayData =
    sortedDistinct(gramIds(text.toString, k))

  /** Distinct sliding-window minima: fp_i = min(id[i .. min(i+w-1,
    * last)]) — the rowsBetween(0, w-1) winnowing frame with its
    * shrinking tail, then sorted distinct.
    */
  def winnowFpSet(text: UTF8String, k: Int, w: Int): GenericArrayData = {
    val ids = gramIds(text.toString, k)
    val n = ids.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val fps = new Array[Long](n)
    var i = 0
    while (i < n) {
      var m = ids(i)
      var j = i + 1
      val end = math.min(i + w, n)
      while (j < end) {
        if (ids(j) < m) m = ids(j)
        j += 1
      }
      fps(i) = m
      i += 1
    }
    sortedDistinct(fps)
  }
}

/** Sorted distinct packed char-k-gram ids of a text column. */
object SortedGramIdSet {
  def apply(t: Column, k: Int): Column = {
    require(k >= 1 && k <= 4, s"k in [1,4] (the injective-pack range), got $k")
    StaticCall(CharGramPack, "gramIdSet", "sorted_gram_id_set",
      ArrayType(LongType, containsNull = false), t, StringType, k)
  }
}

/** Sorted distinct winnowing fingerprints (window-min gram ids) of a
  * text column — Schleimer et al.'s selection, k-gram ids as above,
  * window w with the shrinking rowsBetween(0, w-1) tail.
  */
object WinnowFingerprintSet {
  def apply(t: Column, k: Int, w: Int): Column = {
    require(k >= 1 && k <= 4, s"k in [1,4] (the injective-pack range), got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    StaticCall(CharGramPack, "winnowFpSet", "winnow_fingerprint_set",
      ArrayType(LongType, containsNull = false), t, StringType, k, w)
  }
}
