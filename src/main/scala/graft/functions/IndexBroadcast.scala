package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** PQ reconstruction with the codebook shipped as a BROADCAST VARIABLE
  * instead of a plan literal (SURVEY.md §5; r14 verdict item 4): the
  * task binary carries only the Broadcast HANDLE (~bytes), executors
  * fetch the m×kc×ds float payload once per JVM through the block
  * manager — so task-binary size stays FLAT as k·m·d grows, where the
  * `typedlit` spelling re-serializes the whole codebook into every task.
  *
  * Semantics are bit-identical to the literal spelling
  * `flatten(transform(codes, (c, s) => element_at(element_at(booksLit,
  * s+1), c+1)))` on audited codes (fixed width m, cids in range):
  * reconstruction is pure array concatenation — no arithmetic to drift.
  * Codes whose width differs from m, or with an out-of-range cid, yield
  * NULL (the literal spelling's element_at(null) poisoning, surfaced at
  * the row level — the audits make this unreachable on published
  * artifacts).
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): the broadcast value
  * is resolved once per task into generated state, not once per row.
  */
case class PqReconstruct(child: Expression,
    books: Broadcast[Array[Array[Array[Float]]]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(IntegerType))

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "pq_reconstruct"

  override protected def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[ArrayData]
    val bk = books.value
    if (codes.numElements() != bk.length) return null
    var d = 0
    var s = 0
    while (s < bk.length) { d += bk(s)(0).length; s += 1 }
    val out = new Array[Float](d)
    var o = 0
    s = 0
    while (s < bk.length) {
      val cid = codes.getInt(s)
      if (cid < 0 || cid >= bk(s).length) return null
      val cv = bk(s)(cid)
      System.arraycopy(cv, 0, out, o, cv.length)
      o += cv.length
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("pqBooksBc", books,
      classOf[Broadcast[_]].getName)
    // resolve the broadcast ONCE per generated-class instance (per task),
    // not per row — value() goes through the block-manager cache. Fresh
    // name + forceInline: two PqReconstructs in one codegen stage (e.g.
    // a future union of two index reads) must not collide on the field.
    val bk = ctx.addMutableState("float[][][]", "pqBooks",
      v => s"$v = (float[][][]) $bcRef.value();", forceInline = true)
    nullSafeCodeGen(ctx, ev, c => {
      val d = ctx.freshName("d")
      val o = ctx.freshName("o")
      val s = ctx.freshName("s")
      val cid = ctx.freshName("cid")
      val cv = ctx.freshName("cv")
      val out = ctx.freshName("out")
      val bad = ctx.freshName("bad")
      s"""
        if ($c.numElements() != $bk.length) {
          ${ev.isNull} = true;
        } else {
          int $d = 0;
          for (int $s = 0; $s < $bk.length; $s++) $d += $bk[$s][0].length;
          float[] $out = new float[$d];
          int $o = 0;
          boolean $bad = false;
          for (int $s = 0; $s < $bk.length && !$bad; $s++) {
            int $cid = $c.getInt($s);
            if ($cid < 0 || $cid >= $bk[$s].length) { $bad = true; break; }
            float[] $cv = $bk[$s][$cid];
            System.arraycopy($cv, 0, $out, $o, $cv.length);
            $o += $cv.length;
          }
          if ($bad) {
            ${ev.isNull} = true;
          } else {
            ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
          }
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqReconstruct =
    copy(child = newChild)
}

object PqReconstruct {
  def apply(codes: Column, books: Broadcast[Array[Array[Array[Float]]]]): Column =
    GraftColumnBridge.column(
      PqReconstruct(GraftColumnBridge.expression(codes), books))
}

/** IVF probe selection with the list centroids shipped as a BROADCAST
  * VARIABLE ([[PqReconstruct]]'s query-side sibling): per query vector,
  * the nProbe nearest list ids under the literal spelling's exact order
  * — ascending (neg, list_id) where neg = −(cosine pinned to −2.0 on
  * NaN/null, i.e. ragged or zero-norm inputs). The cosine fold is
  * CosineSimilarity's verbatim (interleaved dot/na/nb, dot/sqrt(na·nb));
  * ties and the −0.0 edge order by java.lang.Double.compare — the same
  * total order Spark's struct sort applies to the literal spelling.
  *
  * Runs on the QUERY side (a handful of rows per batch / one row per
  * arriving stream query), so interpreted eval (CodegenFallback) costs
  * nothing measurable — the corpus-side hot path is [[PqReconstruct]].
  * It stays an interpreted expression rather than a [[StaticCall]] for
  * that reason.
  */
case class ProbeTopLists(child: Expression,
    lists: Broadcast[Array[Array[Float]]], nProbe: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")

  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "probe_top_lists"

  override protected def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    val n = q.numElements()
    val cents = lists.value
    val k = math.min(nProbe, cents.length)
    val bestNeg = new Array[Double](k)
    val bestId = new Array[Int](k)
    var filled = 0
    var i = 0
    while (i < cents.length) {
      val cv = cents(i)
      var neg = 2.0 // -(-2.0): the ragged/NaN pin, negated
      if (cv.length == n) {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var t = 0
        while (t < n) {
          val x = q.getFloat(t).toDouble
          val y = cv(t).toDouble
          dot += x * y; na += x * x; nb += y * y
          t += 1
        }
        val cos = dot / math.sqrt(na * nb)
        neg = if (java.lang.Double.isNaN(cos)) 2.0 else -cos
      }
      // insertion into the sorted (neg, id) top-k — Double.compare total
      // order, then ascending id (the literal array_sort struct order)
      var pos = filled
      while (pos > 0 && {
        val c = java.lang.Double.compare(neg, bestNeg(pos - 1))
        c < 0 || (c == 0 && i < bestId(pos - 1))
      }) pos -= 1
      if (pos < k) {
        val last = math.min(filled, k - 1)
        var j = last
        while (j > pos) {
          bestNeg(j) = bestNeg(j - 1); bestId(j) = bestId(j - 1); j -= 1
        }
        bestNeg(pos) = neg; bestId(pos) = i
        if (filled < k) filled += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bestId, filled))
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeTopLists =
    copy(child = newChild)
}

object ProbeTopLists {
  def apply(qv: Column, lists: Broadcast[Array[Array[Float]]],
      nProbe: Int): Column =
    GraftColumnBridge.column(
      ProbeTopLists(GraftColumnBridge.expression(qv), lists, nProbe))
}

/** List-centroid lookup with the centroids shipped as a BROADCAST
  * VARIABLE — the residual-decode sibling of [[PqReconstruct]]: a
  * residual IVF-PQ read reconstructs x̂ = centroid(list_id) + decode(codes),
  * and this supplies the centroid on the corpus-side hot path without a
  * plan literal (same task-binary discipline). Out-of-range or null
  * list ids yield NULL (unreachable on audited artifacts — codes carry
  * the list-referential audit).
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): the broadcast value
  * is resolved once per task into generated state, not once per row.
  */
case class ListCentroid(child: Expression,
    lists: Broadcast[Array[Array[Float]]])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(IntegerType)

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "list_centroid"

  override protected def nullSafeEval(input: Any): Any = {
    val id = input.asInstanceOf[Int]
    val ls = lists.value
    if (id < 0 || id >= ls.length) null
    else new GenericArrayData(ls(id))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("listCentBc", lists,
      classOf[Broadcast[_]].getName)
    // one block-manager resolve per generated-class instance (per task);
    // fresh name + forceInline — the PqReconstruct convention, and both
    // expressions routinely share one codegen stage on the read path
    val ls = ctx.addMutableState("float[][]", "listCents",
      v => s"$v = (float[][]) $bcRef.value();", forceInline = true)
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c < 0 || $c >= $ls.length) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($ls[$c]);
      }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): ListCentroid =
    copy(child = newChild)
}

object ListCentroid {
  def apply(listId: Column, lists: Broadcast[Array[Array[Float]]]): Column =
    GraftColumnBridge.column(
      ListCentroid(GraftColumnBridge.expression(listId), lists))
}
