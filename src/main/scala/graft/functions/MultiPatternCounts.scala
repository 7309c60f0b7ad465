package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd one-pass multi-pattern substring counting via the
  * Aho & Corasick (1975) automaton (SURVEY.md §2 H8 / E22): for an
  * injectable pattern list, returns the per-pattern count of EVERY
  * occurrence in the input — including overlapping occurrences and
  * patterns that are substrings of each other (dictionary suffix
  * links), the semantics a naive `rlike` alternation cannot express
  * and |patterns| regex passes cannot afford.
  *
  * Scale shape: the automaton is bounded by the total pattern length —
  * a MODEL/blocklist artifact, never data-bounded — so it is built once
  * per column and travels as a constant argument of a [[StaticCall]]
  * (a codegen reference object): one static call per row inside
  * whole-stage codegen, O(|text| + matches) per row regardless of how
  * many thousand blocklist terms the automaton holds. This is what makes
  * a 10k-term blocklist a narrow map-side projection instead of 10k
  * regex scans.
  */
object MultiPatternCounts {
  /** Column-level entry point: `MultiPatternCounts($"text", patterns)`. */
  def apply(t: Column, patterns: Seq[String]): Column = {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "patterns must be a non-empty list of non-empty strings")
    StaticCall(this, "counts", "multi_pattern_counts", ArrayType(LongType, containsNull = false),
      t, StringType, AcAutomaton.build(patterns), patterns.size)
  }

  /** The per-row call — static so generated code calls it directly. */
  def counts(text: UTF8String, ac: AcAutomaton, nPatterns: Int): GenericArrayData =
    AcAutomaton.countsToArrayData(text.toString, ac, nPatterns)
}

/** The compiled Aho-Corasick automaton: goto trie + BFS fail links,
  * with per-node OUTPUT lists pre-flattened through the suffix chain at
  * build time (out(s) = patterns ending at s ++ out(fail(s))), so the
  * match walk never chases dictionary links at runtime.
  */
final class AcAutomaton(
    val next: Array[java.util.HashMap[Character, Integer]],
    val fail: Array[Int],
    val out: Array[Array[Int]]) extends Serializable {
  override def toString: String = s"AcAutomaton(${fail.length} states)"
}

object AcAutomaton {

  def build(patterns: Seq[String]): AcAutomaton = {
    val next = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val ends = scala.collection.mutable.ArrayBuffer[List[Int]](Nil)
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { c =>
        val m = next(s)
        val t = m.get(Character.valueOf(c))
        s = if (t != null) t.intValue()
        else {
          next += new java.util.HashMap[Character, Integer]()
          ends += Nil
          val id = next.size - 1
          m.put(Character.valueOf(c), Integer.valueOf(id))
          id
        }
      }
      ends(s) = pi :: ends(s)
    }
    val n = next.size
    val fail = new Array[Int](n)
    val out = new Array[List[Int]](n)
    out(0) = ends(0)
    val queue = scala.collection.mutable.Queue[Int]()
    next(0).forEach { (_, v) =>
      fail(v) = 0
      out(v.intValue()) = ends(v.intValue())
      queue += v.intValue()
    }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      next(u).forEach { (c, v) =>
        // fail(v): longest proper suffix of path(v) that is a trie path
        var f = fail(u)
        var hop = next(f).get(c)
        while (hop == null && f != 0) { f = fail(f); hop = next(f).get(c) }
        fail(v) = if (hop != null && hop.intValue() != v.intValue()) hop.intValue() else 0
        out(v.intValue()) = ends(v.intValue()) ::: out(fail(v))
        queue += v.intValue()
      }
    }
    new AcAutomaton(next.toArray, fail, out.map(_.toArray))
  }

  /** The match walk. */
  def countsToArrayData(text: String, ac: AcAutomaton, nPatterns: Int): GenericArrayData = {
    val counts = new Array[Long](nPatterns)
    var s = 0
    var i = 0
    while (i < text.length) {
      val c = Character.valueOf(text.charAt(i))
      var hop = ac.next(s).get(c)
      while (hop == null && s != 0) { s = ac.fail(s); hop = ac.next(s).get(c) }
      s = if (hop != null) hop.intValue() else 0
      val o = ac.out(s)
      var j = 0
      while (j < o.length) { counts(o(j)) += 1L; j += 1 }
      i += 1
    }
    new GenericArrayData(counts)
  }
}
