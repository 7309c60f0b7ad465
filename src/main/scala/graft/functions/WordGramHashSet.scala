package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct n-token word-gram hashes of a text column as ONE codegen
  * projection — the r17 map-side replacement for the relational
  * wordGramHashes pipeline (posexplode tokens + n−1 lead windows +
  * hash + dropDuplicates: two corpus-token-proportional exchanges for a
  * value that is a pure row-local function of the text).
  *
  * Hash contract: md5 = false → xxhash64(gram, seed 42) via the
  * spec-pinned [[graft.operators.Dedup.wordGramHashesLocal]] twin
  * (d8/p28/t31/streaming); md5 = true → the cross-engine
  * [[HashFunctions.md5Hash56Local]] (x11's oracle-replayable hash).
  * Both locals are already pinned bit-identical to their column
  * spellings; WordGramHashSetSpec additionally pins this expression
  * against the relational pipeline end to end.
  */
object WordGramHashSet {
  def apply(t: Column, n: Int, md5: Boolean): Column = {
    require(n >= 1 && n <= 64, s"n in [1,64], got $n")
    StaticCall(this, "hashes", "word_gram_hash_set",
      ArrayType(LongType, containsNull = false), t, StringType, n, md5)
  }

  /** The walk — static so generated code calls it directly. */
  def hashes(t: UTF8String, n: Int, md5: Boolean): GenericArrayData = {
    val text = t.toString
    if (!md5) return new GenericArrayData(
      graft.operators.Dedup.wordGramHashesLocal(text, n))
    val tk = HashFunctions.tokensLocal(text)
    if (tk.length < n) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= tk.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tk(i + j))
        j += 1
      }
      seen.add(HashFunctions.md5Hash56Local(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }
}
