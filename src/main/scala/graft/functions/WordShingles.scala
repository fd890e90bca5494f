package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-k-gram shingling over a (pre-lowercased) text column.
  *
  * Replaces the composable form
  * {{{
  *   array_distinct(transform(sequence(1, size(w) - k + 1),
  *     i -> concat_ws(' ', element_at(w, i), ..., element_at(w, i + k - 1))))
  *   // w = split(text, " ")
  * }}}
  * which allocates the token array, a position array, and one
  * CONCATENATED string per gram before deduplicating — the dominant
  * per-row cost of the minhash/dedup family (guide §4: the md5 per
  * distinct shingle is the contract floor; the string building around
  * it was not).
  *
  * Exactness argument: `split(text, " ")` splits on every SINGLE space
  * (Java regex split, limit −1 — consecutive spaces yield empty
  * tokens, trailing empties kept, "" yields one empty token), and
  * `concat_ws(' ', ...)` re-joins with single spaces — so every
  * word-k-gram is a CONTIGUOUS BYTE SPAN of the input text (each token
  * boundary consumed exactly one 0x20 byte, which never occurs inside
  * a UTF-8 multi-byte sequence). The k-gram starting at token i is the
  * byte slice [start(i), end(i+k−1)), taken zero-copy over one shared
  * byte array; token count is #spaces + 1. Dedup keeps first-occurrence
  * order exactly like array_distinct. Fewer than k tokens yields an
  * empty array — `explode` then emits nothing, subsuming the
  * `size(w) >= k` guard. Spec-pinned equal to the composable form on
  * adversarial whitespace (WordShinglesSpec).
  *
  * The caller passes `lower(col)` as the child, so lowercasing stays
  * Spark's own. doGenCode is a single static call — the surrounding
  * stage stays whole-stage-codegen'd.
  *
  * Aliasing contract: every gram of a row is a view into ONE byte array
  * holding the whole document (the input's own array when it owns one
  * exactly, else a copy), and a gram keeps that array alive. This is
  * free while the consumer copies each gram out right away — `explode`
  * and any UnsafeProjection do, which is how every caller here uses it.
  * A consumer that keeps the array column itself (collect_list over it,
  * caching it, sorting on it) would retain one whole document per
  * retained gram, O(document size × grams) memory: explode first, or
  * copy the grams (`UTF8String.clone`).
  */
case class WordShingles(child: Expression, k: Int, distinct: Boolean,
                        stride: Int = 1, partialTail: Boolean = false)
  extends UnaryExpression {

  require(k >= 1, s"word_shingles: k >= 1, got $k")
  require(stride >= 1, s"word_shingles: stride >= 1, got $stride")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles needs a string input, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], k, distinct, stride, partialTail)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $k, $distinct, $stride, $partialTail);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {

  /** Column-level entry point; pass `lower(col)` for the usual
    * lowercased shingles. */
  def of(text: Column, k: Int, distinct: Boolean = true): Column =
    Shim.column(WordShingles(Shim.expression(text), k, distinct))

  /** Non-overlapping k-word LINES with a partial tail — the
    * [[graft.text.LineDedup.linesByWords]] grouping
    * `transform(sequence(0, ceil(n/k)-1), i -> concat_ws(' ', slice(w, i*k+1, k)))`
    * as byte spans of the SAME (un-lowered) text: stride = k, the last
    * line keeps however many tokens remain. Always ≥ 1 line (split of
    * "" is [""]), matching the sequence's ceil(n/k) ≥ 1. */
  def lines(text: Column, wordsPerLine: Int): Column =
    Shim.column(WordShingles(Shim.expression(text), wordsPerLine,
      distinct = false, stride = wordsPerLine, partialTail = true))

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Called from both interpreted eval and generated code. */
  def compute(text: UTF8String, k: Int, distinct: Boolean,
              stride: Int, partialTail: Boolean): ArrayData = {
    val bytes = text.getBytes // one materialization; slices share it
    val n = bytes.length
    // token boundaries: token i spans [starts(i), ends(i)) where
    // boundaries are the single 0x20 bytes; #tokens = #spaces + 1
    // (matches regex-split-with-limit−1 semantics, incl. "" -> [""]).
    var spaces = 0
    var j = 0
    while (j < n) { if (bytes(j) == 0x20) spaces += 1; j += 1 }
    val nTokens = spaces + 1
    if (!partialTail && nTokens < k) return Empty
    // start of token i for i in [0, nTokens); end(i) = start(i+1) - 1,
    // end(last) = n
    val starts = new Array[Int](nTokens)
    starts(0) = 0
    var t = 1
    j = 0
    while (j < n) { if (bytes(j) == 0x20) { starts(t) = j + 1; t += 1 }; j += 1 }
    def end(i: Int): Int = if (i == nTokens - 1) n else starts(i + 1) - 1
    // grams start at token 0, stride, 2·stride, …; a full gram spans k
    // tokens, the partial tail (partialTail only) whatever remains
    val nGrams =
      if (partialTail) (nTokens + stride - 1) / stride
      else (nTokens - k) / stride + 1
    def gram(g: Int): UTF8String = {
      val first = g * stride
      val last = math.min(first + k - 1, nTokens - 1)
      val s = starts(first); val e = end(last)
      UTF8String.fromBytes(bytes, s, e - s)
    }
    if (!distinct) {
      val out = new Array[Any](nGrams)
      var i = 0
      while (i < nGrams) { out(i) = gram(i); i += 1 }
      return new GenericArrayData(out)
    }
    val seen = new java.util.HashSet[UTF8String](math.min(nGrams * 2, 1 << 16))
    val out = new java.util.ArrayList[Any](math.min(nGrams, 1 << 12))
    var i = 0
    while (i < nGrams) {
      val g = gram(i)
      if (seen.add(g)) out.add(g)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
