package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass token statistics over a (pre-lowercased) text column:
  * `struct(n, en, de, fr, es, sumlen)` where
  *
  *  - `n`      = `size(split(text, " "))` (single-space split, limit −1
  *               semantics: #spaces + 1, "" counts one empty token)
  *  - `en`…`es` = `size(filter(w, x -> x IN (<lang stopwords>)))` for
  *               the four [[graft.text.TextOps]] stopword lists
  *  - `sumlen` = `aggregate(w, 0L, (acc, x) -> acc + length(x))`
  *               (CHARACTER count per token, like Spark's `length`)
  *
  * Replaces four interpreted `filter` traversals plus an `aggregate`
  * HOF — six passes over the token array with per-element InSet
  * lookups — with one compiled pass over the text bytes and one hash
  * probe per token (guide §4). Each output is bit-identical to its
  * composable form (TokenLangStatsSpec pins all six on adversarial
  * whitespace). The caller passes `lower(col)`, so lowercasing stays
  * Spark's own.
  */
case class TokenLangStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TokenLangStats.Schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_lang_stats needs a string input, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    TokenLangStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenLangStats.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenLangStats {

  val Schema: StructType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("en", IntegerType, nullable = false),
    StructField("de", IntegerType, nullable = false),
    StructField("fr", IntegerType, nullable = false),
    StructField("es", IntegerType, nullable = false),
    StructField("sumlen", LongType, nullable = false)))

  /** Pass `lower(col)`. */
  def of(text: Column): Column =
    Shim.column(TokenLangStats(Shim.expression(text)))

  // token -> bitmask of language lists containing it (a word may sit in
  // several lists — "la" is FR and ES — so counts must not collapse)
  private val langMask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    val lists = Seq(graft.text.TextOps.EnStop, graft.text.TextOps.DeStop,
      graft.text.TextOps.FrStop, graft.text.TextOps.EsStop)
    lists.zipWithIndex.foreach { case (words, i) =>
      words.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, if (prev == null) (1 << i) else (prev | (1 << i)))
      }
    }
    m
  }

  /** The longest stopword in UTF-8 bytes: a longer token cannot be in
    * [[langMask]], so [[compute]] skips its map probe. */
  private[graft] val maxStopwordBytes: Int = {
    import scala.jdk.CollectionConverters._
    langMask.keySet.asScala.map(_.numBytes).max
  }

  /** Called from both interpreted eval and generated code. */
  def compute(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length
    var en = 0; var de = 0; var fr = 0; var es = 0
    var sumlen = 0L
    var nTokens = 0
    var start = 0
    var j = 0
    while (j <= n) {
      if (j == n || bytes(j) == 0x20) {
        nTokens += 1
        val len = j - start
        if (len > 0) {
          // chars = bytes minus UTF-8 continuation bytes (10xxxxxx)
          var chars = 0
          var p = start
          while (p < j) { if ((bytes(p) & 0xC0) != 0x80) chars += 1; p += 1 }
          sumlen += chars
          // no stopword is longer: skip the map probe
          if (len <= maxStopwordBytes) {
            val mask = langMask.get(UTF8String.fromBytes(bytes, start, len))
            if (mask != null) {
              val m = mask.intValue()
              if ((m & 1) != 0) en += 1
              if ((m & 2) != 0) de += 1
              if ((m & 4) != 0) fr += 1
              if ((m & 8) != 0) es += 1
            }
          }
        }
        start = j + 1
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](nTokens, en, de, fr, es, sumlen))
  }
}
