package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass word-k-shingle stats of a text column:
  * struct(n_shingles = max(#tokens - (k-1), 0),
  *        n_distinct = |distinct k-token shingles|).
  *
  * Replaces the t10 spelling
  * `greatest(size(tk) - 2, 0)` + `size(wordShingles(tk, 3))` whose
  * `transform` lambda is interpreted (higher-order functions are
  * CodegenFallback) and re-evaluates the full `split(lower(trim(text)))`
  * tokenization for EVERY element_at inside the lambda — 3·(T-2) full
  * regex tokenizations per document, O(T²) per row (measured 19.2 s at
  * sf0.1 under the noop action vs 0.17 s when count() pruned it away).
  * Here: tokenize once via [[HashFunctions.tokensLocal]] (the
  * spec-pinned row-local twin of `split(lower(trim(text)), "\\s+")`),
  * build each shingle with the same single-space join concat_ws
  * produces, count distinct in a hash set — O(total shingle chars) per
  * row, one [[StaticCall]] inside whole-stage codegen. ShingleStatsSpec
  * pins bit-equality to the replaced spelling on the real corpus and edge
  * shapes.
  */
object ShingleStats {
  private val Stats = StructType(Seq(
    StructField("n_shingles", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))

  def apply(t: Column, k: Int): Column = {
    require(k >= 1 && k <= 16, s"k in [1,16], got $k")
    StaticCall(this, "statsRow", "shingle_stats", Stats, t, StringType, k)
  }

  /** The walk — static so generated code calls it directly. */
  def statsRow(text: UTF8String, k: Int): InternalRow = {
    val tk = HashFunctions.tokensLocal(text.toString)
    val n = math.max(tk.length - (k - 1), 0)
    val seen = new java.util.HashSet[String](math.max(16, n * 2))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(tk(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    InternalRow(n.toLong, seen.size.toLong)
  }
}
