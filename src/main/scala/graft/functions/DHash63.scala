package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd perceptual dHash (SURVEY.md §2 F6/F10) — 72 sampled
  * codepoints (the p-th of 72 evenly spaced character positions; a real
  * image pipeline feeds 9x8 mean-pooled gray cells through
  * [[graft.operators.ImageCodec]] instead), bit i = r*8+c set iff
  * sample(r*9+c+1) > sample(r*9+c), packed little-endian into bits 0..62
  * (bit 63 dropped — sign-safe in both engines).
  *
  * Third spelling of this hash, each driven out by a measurement
  * (PHash63's history replayed): the round-1..15 form unrolled 126
  * ascii(substr(...)) trees — whole-stage-codegen fast but ~1.7 MB of
  * serialized closure PER TASK (the r15 verdict's bench-tail finding);
  * the first r16 fix folded it into transform/aggregate HOFs — flat task
  * binary but INTERPRETED per element with no common-subexpression
  * elimination (m6 18.1 s vs its 1.93 s floor, measured). This
  * [[StaticCall]] is both: one ~150-int-op pass per row inside
  * whole-stage codegen AND a task binary that carries only the method
  * reference.
  *
  * Character positions are Java-string (UTF-16) indices with INTEGER
  * division (p·(n−1))/71 — identical to the DuckDB oracle's
  * `(p * (length(text)-1)) // 71` and to the old floor(double/71.0)
  * spelling on non-negative ints (exact in double far past any document
  * length). BMP text contract (the m6 ascii() convention). Empty text
  * hashes to 0; callers coalesce null to '' for the legacy null→0
  * convention.
  */
object DHash63 {
  /** Column-level entry point: `DHash63($"text")`. */
  def apply(t: Column): Column =
    StaticCall(this, "compute", "dhash63", LongType, t, StringType)

  def compute(s: UTF8String): Long = {
    val str = s.toString
    val n = str.length
    val g = new Array[Int](72)
    if (n > 0) {
      var p = 0
      while (p < 72) {
        g(p) = str.codePointAt(((p.toLong * (n - 1)) / 71L).toInt)
        p += 1
      }
    }
    var h = 0L
    var i = 0
    while (i < 63) {
      val q = i + i / 8 // = r*9+c for r = i/8, c = i%8
      if (g(q + 1) > g(q)) h |= 1L << i
      i += 1
    }
    h
  }
}
