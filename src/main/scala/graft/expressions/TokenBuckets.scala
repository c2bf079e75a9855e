package graft.expressions

import org.apache.spark.sql.StringInputType
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native hashed classifier feature buckets: one compiled pass over
  * the document text producing the unigram(+bigram) polynomial-fold
  * bucket ids `fold(acc·31 + codepoint) mod nBuckets` — the fastText-
  * shape scorer's per-document feature vector
  * ([[graft.ops.Selection.scoreWithClassifier]]).
  *
  * Replaces an interpreted nest that evaluated ~2 lambdas PER
  * CHARACTER (a `transform(feats, f => aggregate(split(f, ""), …))`
  * chain — the r7 cellScores/q101 pattern yet again) with a single
  * byte-level walk: whitespace tokenization identical to
  * [[graft.ops.TextOps.tokens]] (`\s+` = the ASCII space set, the
  * [[WordShingles]] walk), then one modular fold per token; each
  * bigram "a b" continues token a's fold through a space (codepoint
  * 32) and token b — exactly the fold of the concatenated string,
  * with no bigram string ever materialized.
  *
  * Codepoint semantics: the fold walks UNICODE CODEPOINTS decoded
  * from the UTF-8 bytes (the [[FoldHash]] discipline) — exactly what
  * the SQL oracles replay via `unicode(c)`. The retired declarative
  * arm walked UTF-16 code units (`split("")+ascii`), which diverged
  * on supplementary-plane characters; this kernel removes that
  * envelope. ASCII/BMP text hashes identically in both.
  *
  * Output order: unigrams in token order, then bigrams in token
  * order (the declarative `concat(w, bi)` layout). NULL text → NULL;
  * empty/whitespace text → empty array.
  */
case class TokenBuckets(child: Expression, nBuckets: Int, useBigrams: Boolean)
    extends UnaryExpression with StringInputType {
  // checked when the column is built, not per row; 2^20 is the bound
  // Selection applies to its bucket counts
  require(nBuckets > 0 && nBuckets <= (1 << 20),
    s"token_buckets: nBuckets must be in [1, 2^20], got $nBuckets")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_buckets"

  override def nullSafeEval(input: Any): Any =
    TokenBucketsImpl.compute(input.asInstanceOf[UTF8String], nBuckets, useBigrams)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TokenBucketsImpl.compute($c, $nBuckets, $useBigrams)")

  override protected def withNewChildInternal(newChild: Expression): TokenBuckets =
    copy(child = newChild)
}

object TokenBucketsImpl {
  private def isSpace(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0D)

  def compute(s: UTF8String, nBuckets: Int, useBigrams: Boolean): ArrayData = {
    val nb = s.numBytes()
    var tokStarts = new Array[Int](16)
    var tokEnds = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < nb) {
      while (i < nb && isSpace(s.getByte(i))) i += 1
      val start = i
      while (i < nb && !isSpace(s.getByte(i))) i += 1
      if (i > start) {
        if (nTok == tokStarts.length) {
          tokStarts = java.util.Arrays.copyOf(tokStarts, nTok * 2)
          tokEnds = java.util.Arrays.copyOf(tokEnds, nTok * 2)
        }
        tokStarts(nTok) = start
        tokEnds(nTok) = i
        nTok += 1
      }
    }
    val b = nBuckets.toLong
    val nBi = if (useBigrams && nTok >= 2) nTok - 1 else 0
    val out = new Array[Long](nTok + nBi)
    var t = 0
    while (t < nTok) {
      out(t) = foldRange(s, tokStarts(t), tokEnds(t), 0L, b)
      t += 1
    }
    t = 0
    while (t < nBi) {
      // bigram "a b": continue token a's fold through ' ' then token b
      val mid = (out(t) * 31L + 32L) % b
      out(nTok + t) = foldRange(s, tokStarts(t + 1), tokEnds(t + 1), mid, b)
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Modular polynomial fold over the codepoints of s[start, end) from
    * accumulator `acc0`. Malformed UTF-8 inside the range defers to
    * the String walk (replacement-char policy), restarting this range
    * from `acc0` — the [[FoldHashImpl]] fallback contract.
    */
  private def foldRange(s: UTF8String, start: Int, end: Int,
      acc0: Long, b: Long): Long = {
    var acc = acc0
    var i = start
    while (i < end) {
      val b0 = s.getByte(i) & 0xFF
      var cp = 0
      var len = 0
      if (b0 < 0x80) { cp = b0; len = 1 }
      else if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; len = 2 }
      else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; len = 3 }
      else if ((b0 & 0xF8) == 0xF0) { cp = b0 & 0x07; len = 4 }
      else return foldRangeSlow(s, start, end, acc0, b)
      if (i + len > end) return foldRangeSlow(s, start, end, acc0, b)
      var j = 1
      while (j < len) {
        val bj = s.getByte(i + j) & 0xFF
        if ((bj & 0xC0) != 0x80) return foldRangeSlow(s, start, end, acc0, b)
        cp = (cp << 6) | (bj & 0x3F)
        j += 1
      }
      if (len == 2 && cp < 0x80) return foldRangeSlow(s, start, end, acc0, b)
      if (len == 3 && (cp < 0x800 || (cp >= 0xD800 && cp <= 0xDFFF)))
        return foldRangeSlow(s, start, end, acc0, b)
      if (len == 4 && (cp < 0x10000 || cp > 0x10FFFF))
        return foldRangeSlow(s, start, end, acc0, b)
      acc = (acc * 31L + cp) % b
      i += len
    }
    acc
  }

  private def foldRangeSlow(s: UTF8String, start: Int, end: Int,
      acc0: Long, b: Long): Long = {
    val bytes = new Array[Byte](end - start)
    var i = start
    while (i < end) { bytes(i - start) = s.getByte(i); i += 1 }
    val str = UTF8String.fromBytes(bytes).toString
    var acc = acc0
    var k = 0
    val n = str.length
    while (k < n) {
      val cp = str.codePointAt(k)
      acc = (acc * 31L + cp) % b
      k += Character.charCount(cp)
    }
    acc
  }
}
