package graft.expressions

import org.apache.spark.sql.StringArrayBinaryInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** 1-based start positions where `needle` occurs as a CONTIGUOUS
  * subsequence of `haystack` (token-level phrase match) — the phrase
  * screening kernel behind `Retrieval.phraseOccurrencesMapSide` (on
  * batches and streams alike): one compiled window walk per
  * (doc, phrase) pair instead of the interpreted
  * sequence→filter→nested-filter lambda chain (which re-evaluated a
  * λ per (start, offset) — 15·L interpreted ops per doc at phrase
  * length 3 × 5 phrases; q95 measured it as the heaviest extension
  * query).
  *
  * Exact semantics of the declarative arm (spec-pinned): empty result
  * when the needle is longer than the haystack; empty needle matches
  * nowhere (callers filter those upstream, the declarative arm never
  * sees them); null ELEMENTS match nothing (token arrays never carry
  * them); a NULL array input yields NULL.
  */
case class SubseqStarts(left: Expression, right: Expression)
    extends BinaryExpression with StringArrayBinaryInputTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "subseq_starts"

  override def nullSafeEval(hay: Any, ndl: Any): Any =
    SubseqStartsImpl.compute(hay.asInstanceOf[ArrayData], ndl.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expressions.SubseqStartsImpl.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubseqStarts =
    copy(left = newLeft, right = newRight)
}

object SubseqStartsImpl {
  def compute(hay: ArrayData, ndl: ArrayData): ArrayData = {
    val n = hay.numElements()
    val m = ndl.numElements()
    if (m == 0 || m > n) return new GenericArrayData(Array.empty[Int])
    // needle strings fetched once (m is phrase-sized, single digits)
    val need = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      need(i) = if (ndl.isNullAt(i)) null else ndl.getUTF8String(i)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Int](4)
    var s = 0
    while (s <= n - m) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        val nj = need(j)
        ok = nj != null && !hay.isNullAt(s + j) &&
          nj.equals(hay.getUTF8String(s + j))
        j += 1
      }
      if (ok) out += (s + 1)
      s += 1
    }
    new GenericArrayData(out.toArray)
  }
}
