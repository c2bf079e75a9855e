package graft.expressions

import org.apache.spark.sql.StringArrayInputType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-document term frequencies: one hash-counting pass over
  * the token array, emitting (term, tf) structs in FIRST-OCCURRENCE
  * order — exactly the declarative
  * `transform(array_distinct(w), t -> struct(t, size(filter(w, x ->
  * x = t))))` (kept as the spec oracle), which pays |distinct| · |w|
  * interpreted string comparisons per document: the r17-profiled hot
  * loop of the BM25/TF-IDF postings build (O(L²)-ish per doc vs this
  * kernel's O(L)).
  *
  * Declarative-arm edge parity: a NULL token never equals anything
  * under SQL `=` (the filter drops it), so a null element contributes
  * one distinct (null, 0) entry at its first position — reproduced
  * here verbatim. Empty array → empty array; null input → null
  * (UnaryExpression's default null propagation, same as transform's).
  */
case class TermFreqs(child: Expression)
    extends UnaryExpression with StringArrayInputType {
  override def dataType: DataType = TermFreqs.OutputType
  override def prettyName: String = "term_freqs"

  override def nullSafeEval(input: Any): Any =
    TermFreqsImpl.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TermFreqsImpl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TermFreqs =
    copy(child = newChild)
}

object TermFreqs {
  /** Matches the declarative arm's struct(t AS term, ... AS tf). */
  val OutputType: DataType = ArrayType(
    StructType(Seq(
      StructField("term", StringType, nullable = true),
      StructField("tf", IntegerType, nullable = false))),
    containsNull = false)
}

object TermFreqsImpl {
  private val Empty = new GenericArrayData(Array.empty[Any])

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return Empty
    // insertion-ordered counting: LinkedHashMap preserves the
    // first-occurrence order array_distinct yields
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Int]](
      math.min(n * 2, 64))
    var sawNull = false
    var nullPos = -1
    var order = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        if (!sawNull) { sawNull = true; nullPos = order; order += 1 }
      } else {
        val t = arr.getUTF8String(i)
        val c = counts.get(t)
        if (c == null) {
          // t may point into the input row's buffer, which the scan
          // reuses: the key kept (and emitted) is a copy
          counts.put(t.clone(), Array(1))
          order += 1
        } else c(0) += 1
      }
      i += 1
    }
    val out = new Array[Any](order)
    var w = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      if (w == nullPos) w += 1 // reserve the null entry's slot
      val e = it.next()
      out(w) = InternalRow(e.getKey, e.getValue()(0))
      w += 1
    }
    // SQL `=` never matches a NULL token, so its tf is 0 (the
    // declarative filter keeps nothing)
    if (sawNull) out(nullPos) = InternalRow(null, 0)
    new GenericArrayData(out)
  }
}
