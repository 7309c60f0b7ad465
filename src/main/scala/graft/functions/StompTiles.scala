package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.types._

/** The STOMP diagonal kernel of the matrix-profile family (Zhu et al.,
  * ICDM 2016) over bounded tiles of one user's integer series.
  *
  * A series is x[1..n] (exact longs, `Relational.integerSeries`). Window
  * starts sit on the stride grid s ≡ 1 (mod stride) with s + L − 1 ≤ n; a
  * pair (s1 < s2) lives on the diagonal d = s2 − s1, and the admissible
  * diagonals are d0, d0 + step, d0 + 2·step, … with d0 the smallest
  * stride multiple ≥ L (so the two windows never overlap) and step =
  * stride · E (E = 1 is the exact profile, E > 1 the SCRIMP-class
  * lattice). For each pair the kernel emits the exact integer sums
  *   qt = Σ x[s1+i]·x[s2+i],  sx1 = Σ x[s1+i],  sq1 = Σ x[s1+i]²,
  *   sx2, sq2 likewise,        i ∈ [0, L),
  * the columns every consumer's IEEE tail reads and the DuckDB oracle
  * replays as a direct per-pair fold. The sums are exact (long arithmetic
  * wraps, so prefix differences stay exact whenever the result fits), so
  * the kernel agrees with that fold bit for bit by construction.
  *
  * Tiling bounds each row's payload. Window starts are cut into chunks
  * of [[Chunk]] (chunk k holds starts kC+1 … kC+C and reads positions
  * kC+1 … kC+C+L−1); tile (k1 ≤ k2) owns the pairs with s1 in chunk k1 and
  * s2 in chunk k2 and carries only those two chunks' positions: at most
  * 2·(C+L−1) per row and C²/(stride·step) pairs. Within a tile each
  * diagonal is one prefix-sum pass, so a pair costs O(1), not an O(L)
  * fold. A `floor` (q73's per-user old_max) keeps only pairs with
  * s2 > floor, and each diagonal's pass starts at its first such pair.
  */
object StompTiles {
  /** Window starts per chunk. A user with at most C + L − 1 events is one tile. */
  val Chunk = 256

  private val Point = StructType(Seq(
    StructField("p", LongType, nullable = false),
    StructField("x", LongType, nullable = false)))
  private val Length = StructType(Seq(
    StructField("p", LongType, nullable = false),
    StructField("n", LongType, nullable = false)))
  private val Tile = StructType(Seq(
    StructField("tile", LongType, nullable = false),
    StructField("floor", LongType, nullable = false),
    StructField("pts", ArrayType(Point, containsNull = false), nullable = false)))
  private val Pair = StructType(Seq("s1", "s2", "qt", "sx1", "sq1", "sx2", "sq2")
    .map(StructField(_, LongType, nullable = false)))

  /** The keys of the tiles that read position `p` of a series of `n`
    * positions: `(k1 << 32) | k2`, each tile once.
    */
  def keys(p: Column, n: Column, chunk: Int, L: Int): Column =
    StaticCall(this, "tileKeys", "stomp_tile_keys", ArrayType(LongType, containsNull = false),
      struct(p.as("p"), n.as("n")), Length, chunk, L)

  /** The pair rows of one tile: `pts` is the tile's collected (p, x) list. */
  def pairs(tile: Column, floor: Column, pts: Column, chunk: Int, L: Int, stride: Int,
      step: Int): Column =
    StaticCall(this, "tilePairs", "stomp_tile_pairs", ArrayType(Pair, containsNull = false),
      struct(tile.as("tile"), floor.as("floor"), pts.as("pts")), Tile, chunk, L, stride, step)

  def tileKeys(pn: InternalRow, chunk: Int, L: Int): ArrayData = {
    val p = pn.getLong(0)
    val n = pn.getLong(1)
    val nChunks = if (n < L) 0L else (n - L) / chunk + 1
    // chunk k reads positions [kC+1, kC+C+L-1]
    val kLo = math.max(0L, Math.floorDiv(p - L, chunk.toLong))
    val kHi = math.min((p - 1) / chunk, nChunks - 1)
    val out = Array.newBuilder[Long]
    var k = kLo
    while (k <= kHi) {
      var k2 = k
      while (k2 < nChunks) { out += (k << 32) | k2; k2 += 1 }
      var k1 = 0L
      while (k1 < kLo) { out += (k1 << 32) | k; k1 += 1 }
      k += 1
    }
    new GenericArrayData(out.result())
  }

  def tilePairs(t: InternalRow, chunk: Int, L: Int, stride: Int, step: Int): ArrayData = {
    val key = t.getLong(0)
    val k1 = key >>> 32
    val k2 = key & 0xffffffffL
    val floor = t.getLong(1)
    val pts = t.getArray(2)
    val span = chunk + L - 1
    val aBase = k1 * chunk + 1
    val bBase = k2 * chunk + 1
    val a = new Array[Long](span)
    val b = if (k1 == k2) a else new Array[Long](span)
    var aLen = 0
    var bLen = 0
    var i = 0
    while (i < pts.numElements()) {
      val pt = pts.getStruct(i, 2)
      val ia = pt.getLong(0) - aBase
      if (ia >= 0 && ia < span) { a(ia.toInt) = pt.getLong(1); aLen = math.max(aLen, ia.toInt + 1) }
      val ib = pt.getLong(0) - bBase
      if (ib >= 0 && ib < span) { b(ib.toInt) = pt.getLong(1); bLen = math.max(bLen, ib.toInt + 1) }
      i += 1
    }
    // per-window ΣX and ΣX² by prefix differences
    def prefix(v: Array[Long], len: Int, sq: Boolean): Array[Long] = {
      val c = new Array[Long](len + 1)
      var j = 0
      while (j < len) { c(j + 1) = c(j) + (if (sq) v(j) * v(j) else v(j)); j += 1 }
      c
    }
    val (ax, aq) = (prefix(a, aLen, sq = false), prefix(a, aLen, sq = true))
    val (bx, bq) = if (k1 == k2) (ax, aq) else (prefix(b, bLen, sq = false), prefix(b, bLen, sq = true))
    val d0 = ((L + stride - 1) / stride).toLong * stride
    val gap = bBase - aBase
    // offset o1 ≡ (1 − aBase) (mod stride) puts s1 on the grid
    val grid = Math.floorMod(1 - aBase, stride.toLong)
    val cum = new Array[Long](span + 1)
    val out = Array.newBuilder[InternalRow]
    // diagonals that can join a start of chunk k1 to a start of chunk k2
    val dMin = math.max(d0, gap - (chunk - 1))
    var d = if (dMin <= d0) d0 else d0 + (dMin - d0 + step - 1) / step * step
    while (d <= gap + chunk - 1) {
      val delta = (d - gap).toInt // o2 = o1 + delta
      val lo = math.max(math.max(0L, -delta.toLong), floor - bBase + 1 - delta).toInt
      val hi = math.min(math.min(chunk - 1, aLen - L), math.min(chunk - 1 - delta, bLen - L - delta))
      val first = lo + Math.floorMod(grid - lo, stride.toLong).toInt
      if (first <= hi) {
        // one prefix pass along the diagonal: qt = cum[o1−first+L] − cum[o1−first]
        var j = 0
        while (j < hi - first + L) {
          cum(j + 1) = cum(j) + a(first + j) * b(first + j + delta)
          j += 1
        }
        var o1 = first
        while (o1 <= hi) {
          val o2 = o1 + delta
          out += InternalRow(aBase + o1, bBase + o2,
            cum(o1 - first + L) - cum(o1 - first),
            ax(o1 + L) - ax(o1), aq(o1 + L) - aq(o1),
            bx(o2 + L) - bx(o2), bq(o2 + L) - bq(o2))
          o1 += stride
        }
      }
      d += step
    }
    new GenericArrayData(out.result())
  }
}
