package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd DCT perceptual hash (SURVEY.md §2 H10 / F13) — pHash proper:
  * 256 sampled codepoints (the m6 stub-luma convention — the p-th of 256
  * evenly spaced character positions; a real image pipeline feeds 16x16
  * mean-pooled gray samples through [[PHash63.fromSamples]] instead),
  * fixed-point Q12 integer DCT-II, bit j-1 = [63*F(u,v) > sum_AC F].
  *
  * Spelled as ONE narrow codegen'd [[StaticCall]] rather than
  * higher-order array functions: HOFs evaluate INTERPRETED with no
  * common-subexpression elimination, so a chained transform/aggregate
  * spelling re-computes every earlier stage inside every element of the
  * next — measured ~10^9 string ops per row on this 4-stage pipeline.
  * The static call runs the same integer math
  * once per row (~3.5k int ops) inside whole-stage codegen: embarrassingly
  * parallel at 100 TB, no shuffle, no UDF serialization.
  *
  * Fixed-point discipline (the t16/t27 no-transcendental contract): the
  * cosine table is BAKED LITERALS (round(cos(pi(2x+1)u/32)*4096) generated
  * once offline), identical integers in the Spark expression, the local
  * test reference, and the DuckDB oracle's VALUES table — no platform
  * libm anywhere. Bounds: |g| < 2^21 (max codepoint) -> |stage1| <=
  * 16*2^12*2^21 = 2^37 -> |F| <= 2^53 and 63*|F| < 2^59 — every
  * intermediate is an exact Long, so all 63 bits hash-check cross-engine.
  *
  * Character positions are Java-string (UTF-16) indices; identical to
  * DuckDB's codepoint positions for BMP text (the m6 ascii() convention —
  * the corpus contract is ASCII/BMP).
  */
object PHash63 {
  /** Column-level entry point: `PHash63($"text")`. */
  def apply(t: Column): Column =
    StaticCall(this, "compute", "phash63", LongType, t, StringType)

  /** Fixed-point Q12 cosine table for the 16->8 DCT-II: CosQ12(u*16+x) =
    * round(cos(pi(2x+1)u/32)*4096), u in 0..7, x in 0..15. Baked as
    * LITERALS (generated once, not computed at init) so every consumer —
    * this expression, [[graft.operators.ImageCodec.pHashFromImage]], the
    * local test reference, and the DuckDB oracle's VALUES twin — shares
    * the identical integers regardless of platform libm.
    */
  val CosQ12: Array[Long] = Array(
    4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L, 4096L,
    4076L, 3920L, 3612L, 3166L, 2598L, 1931L, 1189L, 401L, -401L, -1189L, -1931L, -2598L, -3166L, -3612L, -3920L, -4076L,
    4017L, 3406L, 2276L, 799L, -799L, -2276L, -3406L, -4017L, -4017L, -3406L, -2276L, -799L, 799L, 2276L, 3406L, 4017L,
    3920L, 2598L, 401L, -1931L, -3612L, -4076L, -3166L, -1189L, 1189L, 3166L, 4076L, 3612L, 1931L, -401L, -2598L, -3920L,
    3784L, 1567L, -1567L, -3784L, -3784L, -1567L, 1567L, 3784L, 3784L, 1567L, -1567L, -3784L, -3784L, -1567L, 1567L, 3784L,
    3612L, 401L, -3166L, -3920L, -1189L, 2598L, 4076L, 1931L, -1931L, -4076L, -2598L, 1189L, 3920L, 3166L, -401L, -3612L,
    3406L, -799L, -4017L, -2276L, 2276L, 4017L, 799L, -3406L, -3406L, 799L, 4017L, 2276L, -2276L, -4017L, -799L, 3406L,
    3166L, -1931L, -3920L, 401L, 4076L, 1189L, -3612L, -2598L, 2598L, 3612L, -1189L, -4076L, -401L, 3920L, 1931L, -3166L)

  /** pHash from 256 integer "gray" samples (row-major 16x16, g(x,y) =
    * samples(y*16+x)): separable fixed-point DCT-II (two passes over
    * [[CosQ12]]), 63 AC coefficients F(u,v) ordered j = u*8+v (DC
    * dropped), bit j-1 set iff 63*F(u,v) > sum_AC F — the classic
    * above-mean-coefficient rule spelled with one cross-multiply so no
    * division ever happens. Bit 63 never set (sign-safe), so hashes feed
    * the m6/m10 4x16-bit band join unchanged.
    */
  def fromSamples(samples: Array[Long]): Long = {
    require(samples.length == 256, s"need 256 samples, got ${samples.length}")
    val s1 = Array.ofDim[Long](8, 16)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 16) {
        var acc = 0L; var x = 0
        while (x < 16) { acc += CosQ12(u * 16 + x) * samples(y * 16 + x); x += 1 }
        s1(u)(y) = acc; y += 1
      }
      u += 1
    }
    val f = Array.ofDim[Long](8, 8)
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L; var y = 0
        while (y < 16) { acc += CosQ12(v * 16 + y) * s1(u)(y); y += 1 }
        f(u)(v) = acc; v += 1
      }
      u += 1
    }
    var s = 0L
    u = 0
    while (u < 8) { var v = 0; while (v < 8) { if (u != 0 || v != 0) s += f(u)(v); v += 1 }; u += 1 }
    var h = 0L
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if (u != 0 || v != 0) {
          val j = u * 8 + v
          if (63L * f(u)(v) > s) h |= 1L << (j - 1)
        }
        v += 1
      }
      u += 1
    }
    h
  }

  /** Static per-row call (generated code calls this directly): sample the
    * text's codepoint at the p-th of 256 evenly spaced positions —
    * pos(p) = (p*(n-1)) div 255, exact integer arithmetic — then hash the
    * samples. Empty text hashes to the all-zero-sample hash (0 bits set).
    */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    val n = str.length
    val g = new Array[Long](256)
    if (n > 0) {
      var p = 0
      while (p < 256) {
        g(p) = str.codePointAt(((p.toLong * (n - 1)) / 255L).toInt).toLong
        p += 1
      }
    }
    fromSamples(g)
  }
}
