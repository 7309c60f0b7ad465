package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-subspace codebook collected to the driver (parameter-bounded:
  * m·k rows — the repo's bounded-collect convention) for MAP-SIDE
  * nearest-centroid assignment (r16, guide §2.4): the old spelling
  * broadcast-joined the centroid frame against the corpus (an n×k row
  * expansion carrying the embedding payload) and arg-maxed it back down
  * with a groupBy(vec_id) max_by — one exchange of n payload rows per
  * Lloyd round / encode pass. With the codebook as a plain reference
  * object, assignment is ONE codegen projection: zero exchanges, zero
  * expansion, the same float arithmetic.
  *
  * `ids(s)`/`vecs(s)` are subspace s's candidates sorted ASCENDING by
  * centroid id, so a returned dense index doubles as the
  * [[PqReconstruct]] codebook slot (vecs is exactly its layout).
  */
final class CentroidBook(
    val ids: Array[Array[Long]],
    val vecs: Array[Array[Array[Float]]],
    val useL2: Boolean) extends Serializable {
  require(ids.length == vecs.length && ids.nonEmpty,
    s"ragged codebook: ${ids.length} id rows vs ${vecs.length} vec rows")
  require(ids.indices.forall(s => ids(s).length == vecs(s).length && ids(s).nonEmpty),
    "every subspace needs a non-empty, aligned candidate set")
  def nSubs: Int = ids.length
}

object CentroidBook {
  /** One unkeyed codebook (sub = 0). */
  def single(cands: Seq[(Long, Array[Float])], useL2: Boolean = false): CentroidBook = {
    val sorted = cands.sortBy(_._1).toArray
    new CentroidBook(Array(sorted.map(_._1)), Array(sorted.map(_._2)), useL2)
  }

  /** m keyed codebooks from (sub, id, vec) rows; subs must be 0..m-1. */
  def keyed(cands: Seq[(Int, Long, Array[Float])], useL2: Boolean): CentroidBook = {
    val bySub = cands.groupBy(_._1)
    val m = bySub.keys.max + 1
    require(bySub.keySet == (0 until m).toSet,
      s"subspaces must be dense 0..${m - 1}, got ${bySub.keySet.toSeq.sorted}")
    val ids = Array.tabulate(m)(s => bySub(s).map(_._2).sorted.toArray)
    val vecs = Array.tabulate(m)(s => bySub(s).sortBy(_._2).map(_._3).toArray)
    new CentroidBook(ids, vecs, useL2)
  }
}

object NearestCentroid {
  /** Spark's struct-max total order on (score, −id), inlined: a VALID
    * score beats an invalid one (a null cosine/distance — ragged input —
    * makes the old struct's first field null, which Spark's struct
    * ordering ranks below every non-null), NaN ranks largest, ±0.0
    * compare equal, and ties break to the SMALLER id (max of −id).
    * Exactly max_by(id, struct(score, −id)); for the cos call sites
    * that pinned null to −2.0 the winner is identical too (−2.0 is
    * below every real cosine, and all-invalid ties also resolve to the
    * smallest id).
    */
  private def beats(valid: Boolean, score: Double, id: Long,
      bValid: Boolean, bScore: Double, bId: Long): Boolean = {
    if (valid != bValid) return valid
    if (valid) {
      // Spark double order: normal <,> first; else NaN largest, ±0 equal
      if (score < bScore) return false
      if (score > bScore) return true
      val n1 = java.lang.Double.isNaN(score)
      val n2 = java.lang.Double.isNaN(bScore)
      if (n1 != n2) return n1
    }
    id < bId
  }

  /** Dense index (into book.ids(sub)) of the winning candidate for the
    * length-`len` slice of `emb` starting at `off`; −1 only when emb is
    * null-and-bookless… never: books are non-empty, so some candidate
    * always wins (all-invalid resolves to the smallest id — the old
    * max_by's behavior on all-null scores). The cosine fold is
    * CosineSimilarity's verbatim (interleaved dot/na/nb, dot/√(na·nb));
    * the l2 score is −SquaredDistance's verbatim. `len` counts the
    * elements actually available (callers clamp at the array end — the
    * slice() semantics of the spelling this replaces); validity is
    * per-candidate: available length must equal that candidate's length.
    */
  def nearestIdx(emb: ArrayData, off: Int, len: Int, sub: Int,
      book: CentroidBook): Int = {
    val ids = book.ids(sub)
    val vs = book.vecs(sub)
    var bi = -1
    var bScore = 0.0
    var bValid = false
    var j = 0
    while (j < ids.length) {
      val cv = vs(j)
      var valid = false
      var score = 0.0
      if (emb != null && len == cv.length) {
        valid = true
        if (book.useL2) {
          var acc = 0.0
          var t = 0
          while (t < cv.length) {
            val d = emb.getFloat(off + t).toDouble - cv(t).toDouble
            acc += d * d
            t += 1
          }
          score = -acc
        } else {
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var t = 0
          while (t < cv.length) {
            val x = emb.getFloat(off + t).toDouble
            val y = cv(t).toDouble
            dot += x * y; na += x * x; nb += y * y
            t += 1
          }
          score = dot / math.sqrt(na * nb)
        }
      }
      if (bi < 0 || beats(valid, score, ids(j), bValid, bScore, ids(bi))) {
        bi = j; bScore = score; bValid = valid
      }
      j += 1
    }
    bi
  }

  /** Whole-vector winner for subspace `sub` (off 0, full length). */
  def nearestIdxFull(emb: ArrayData, sub: Int, book: CentroidBook): Int =
    nearestIdx(emb, 0, if (emb == null) -1 else emb.numElements(), sub, book)

  /** All m dense codes of one vector: subspace s scores the clamped
    * slice [s·ds, min((s+1)·ds, n)) — slice()'s end-clamping semantics,
    * so a ragged vector scores invalid on the truncated subspaces and
    * still codes (to the smallest id), exactly like the exploded
    * slice+max_by spelling this replaces.
    */
  def encode(emb: ArrayData, ds: Int, book: CentroidBook): GenericArrayData = {
    val m = book.nSubs
    val n = emb.numElements()
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = math.min(s * ds, n)
      val len = math.min(ds, n - off)
      out(s) = nearestIdx(emb, off, len, s, book)
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Nearest-centroid id for (embedding, sub) against a driver-collected
  * codebook — max_by(centroid_id, struct(score, −centroid_id)) as one
  * codegen'd static call (a flat task binary). Null only for a
  * null/out-of-range sub.
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): a null embedding
  * still gets an id, while a null or out-of-range `sub` gives null.
  */
case class NearestCentroidId(child: Expression, sub: Expression,
    book: CentroidBook)
    extends Expression with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child, sub)

  override def inputTypes = Seq(ArrayType(FloatType), IntegerType)

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "nearest_centroid_id"

  override def eval(input: InternalRow): Any = {
    val s = sub.eval(input)
    if (s == null) return null
    val si = s.asInstanceOf[Int]
    if (si < 0 || si >= book.nSubs) return null
    val e = child.eval(input).asInstanceOf[ArrayData]
    val j = NearestCentroid.nearestIdxFull(e, si, book)
    if (j < 0) null else book.ids(si)(j)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bookRef = ctx.addReferenceObj("centBook", book,
      classOf[CentroidBook].getName)
    val embEv = child.genCode(ctx)
    val subEv = sub.genCode(ctx)
    val idx = ctx.freshName("idx")
    ev.copy(code = code"""
      ${embEv.code}
      ${subEv.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = -1L;
      if (!${subEv.isNull} && ${subEv.value} >= 0
          && ${subEv.value} < $bookRef.nSubs()) {
        int $idx = graft.functions.NearestCentroid.nearestIdxFull(
          ${embEv.isNull} ? null : ${embEv.value}, ${subEv.value}, $bookRef);
        if ($idx >= 0) {
          ${ev.isNull} = false;
          ${ev.value} = $bookRef.ids()[${subEv.value}][$idx];
        }
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroidId =
    copy(child = newChildren(0), sub = newChildren(1))
}

object NearestCentroidId {
  def apply(emb: Column, sub: Column, book: CentroidBook): Column =
    GraftColumnBridge.column(NearestCentroidId(
      GraftColumnBridge.expression(emb), GraftColumnBridge.expression(sub), book))
}

/** All m PQ codes of one vector as DENSE indexes into the book's
  * id-sorted candidate arrays — the exploded slice + broadcast-join +
  * max_by + groupBy encode pipeline as one map-side [[StaticCall]]. The
  * output feeds [[PqReconstruct]] directly (book.vecs IS its layout).
  */
object PqEncodeCodes {
  def apply(emb: Column, ds: Int, book: CentroidBook): Column = {
    require(ds >= 1, s"ds must be >= 1, got $ds")
    StaticCall(NearestCentroid, "encode", "pq_encode_codes",
      ArrayType(IntegerType, containsNull = false), emb, ArrayType(FloatType), ds, book)
  }
}
