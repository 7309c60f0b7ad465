package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local char-entropy (SURVEY.md H12 / E33): per-string Shannon
  * entropy computed in ONE static call inside whole-stage codegen —
  * (n_chars, n_distinct, h_bits) as a struct. Per-document entropy is
  * row-local by nature, so the relational explode + two-aggregate
  * spelling (graft.operators.TextAnalysis.charEntropy — kept as the
  * cross-check twin and the grouped-use form) pays two corpus shuffles
  * that this expression removes entirely: the benched t33 plan is a
  * narrow scan projection (one [[StaticCall]] — no HOF chain, no UDF
  * serialization, embarrassingly parallel at 100 TB).
  *
  * BIT-EQUAL to the aggregate spelling by construction, not by luck:
  * same char units (Java regex split("") — code-point boundaries, the
  * StringSplit path), counts folded in the SAME order (TreeMap keyed by
  * UTF8String = binary order, exactly sort_array's struct-first-field
  * order), same IEEE op sequence per term ((c/n)·ln(n/c), Math.log),
  * same shared ln2 literal. The spec pins equality on the corpus and on
  * seeded random strings.
  */
object CharEntropy {
  private val Ln2 = 0.6931471805599453

  private val Entropy = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("h_bits", DoubleType, nullable = false)))

  def apply(t: Column): Column =
    StaticCall(this, "compute", "char_entropy", Entropy, t, StringType)

  def compute(s: UTF8String): InternalRow = {
    val parts = s.toString.split("")
    val counts = new java.util.TreeMap[UTF8String, java.lang.Long]()
    var n = 0L
    var i = 0
    while (i < parts.length) {
      val ch = parts(i)
      if (ch.nonEmpty) {
        val k = UTF8String.fromString(ch)
        val cur = counts.get(k)
        counts.put(k, if (cur == null) 1L else cur.longValue() + 1L)
        n += 1
      }
      i += 1
    }
    var h = 0.0
    if (n > 0L) {
      val nD = n.toDouble
      val it = counts.values().iterator()
      while (it.hasNext) {
        val cd = it.next().doubleValue()
        h += (cd / nD) * Math.log(nD / cd)
      }
    }
    val hBits = if (n == 0L) 0.0 else h / Ln2
    new GenericInternalRow(Array[Any](n, counts.size.toLong, hBits))
  }
}
