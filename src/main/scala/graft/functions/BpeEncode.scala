package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd greedy byte-pair encoding of ONE pre-tokenized word into its
  * BPE symbol sequence, against an injectable merges table (SURVEY.md §2
  * E14 / t14).
  *
  * Algorithm (the standard public BPE encode, Sennrich et al. 2016 /
  * the GPT-2 reference implementation's loop): start from single
  * characters; repeatedly find the adjacent pair with the BEST (lowest)
  * merge rank anywhere in the word and fuse ALL its non-overlapping
  * occurrences left to right; stop when no adjacent pair is in the
  * table. Deterministic for a fixed merges list.
  *
  * Scale shape: the merges table is a MODEL artifact — bounded by the
  * vocabulary parameter (~50k rows for public GPT-2-class vocabs), never
  * by the data — so it is built once per column and travels as a
  * [[Model]] argument of a [[StaticCall]] (a codegen reference object),
  * exactly how a broadcast variable would reach an executor but with zero
  * join: the whole encode is a NARROW map-side op inside whole-stage
  * codegen. This is the preference-order (b) spelling — a codegen
  * expression beats both an iterative join loop (rounds of corpus-wide
  * shuffles) and a UDF.
  */
object BpeEncode {
  /** Column-level entry point: `BpeEncode($"word", merges)`. */
  def apply(w: Column, merges: Seq[(String, String)]): Column = {
    val ranks = buildRanks(merges)
    StaticCall(this, "encode", "bpe_encode", ArrayType(StringType, containsNull = false),
      w, StringType, new Model(ranks, s"merges(${ranks.size})"))
  }

  /** Rank table keyed "left right" (the public merges-file line format). */
  def buildRanks(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      // first occurrence wins, like a merges file read top-down
      m.putIfAbsent(a + " " + b, Integer.valueOf(i))
    }
    m
  }

  /** The greedy encode loop. */
  def encodeWord(word: String, ranks: java.util.HashMap[String, Integer]): Array[String] = {
    if (word.isEmpty) return Array.empty
    // split into Unicode code points, not Java chars, so surrogate pairs
    // stay whole symbols
    var syms = {
      val out = new scala.collection.mutable.ArrayBuffer[String](word.length)
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    var done = syms.length < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r.intValue < bestRank) bestRank = r.intValue
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          val isBest = j < syms.length - 1 && {
            val r = ranks.get(syms(j) + " " + syms(j + 1))
            r != null && r.intValue == bestRank
          }
          // left-to-right non-overlapping: fusing at j consumes j+1, so a
          // run "aaaa" under (a,a) becomes ["aa","aa"], "aaa" -> ["aa","a"]
          if (isBest) { out += syms(j) + syms(j + 1); j += 2 }
          else { out += syms(j); j += 1 }
        }
        syms = out.toArray
        done = syms.length < 2
      }
    }
    syms
  }

  /** The per-row call — static so generated code calls it directly. */
  def encode(word: UTF8String, ranks: Model[java.util.HashMap[String, Integer]]): GenericArrayData =
    new GenericArrayData(encodeWord(word.toString, ranks.value).map(w => UTF8String.fromString(w): Any))
}
