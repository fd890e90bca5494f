package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Native k-means assignment: argmin over squared L2 between an
  * `array<int>` code vector and every centroid in an
  * `array<struct<c:int, v:array<bigint>>>` table, ties to the FIRST
  * (lowest-index) centroid.
  *
  * The composable form — `aggregate(transform(cents, ct ->
  * struct(aggregate(zip_with(qvec, ct.v, ...)), ct.c)), ...)` —
  * allocates a zipped array AND a struct per (row, centroid): a
  * one-off graph probe measured the 100k x 400-centroid
  * assignment at ~2,600 process-CPU seconds, dominated by those
  * allocations (same phenomenon as [[CharInterleave]]'s per-char
  * split). This expression is one fused integer loop inside
  * whole-stage codegen — zero allocation per comparison.
  *
  * Distance accumulation order is per-dimension ascending and exact in
  * longs, identical to the HOF form and to the oracle's long-format
  * SUM — hash parity is unaffected (integers don't reorder-drift).
  */
case class KMeansAssign(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  private val centType =
    ArrayType(StructType(Seq(
      StructField("c", IntegerType, nullable = false),
      StructField("v", ArrayType(LongType, containsNull = false), nullable = false))))

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(StructType(fs), _))
      if fs.length == 2 && fs(0).dataType == IntegerType &&
        fs(1).dataType.isInstanceOf[ArrayType] &&
        fs(1).dataType.asInstanceOf[ArrayType].elementType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"kmeans_assign needs (array<int>, $centType), got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    var best = -1
    var bestD = Long.MaxValue
    var j = 0
    while (j < cents.numElements()) {
      val st = cents.getStruct(j, 2)
      val cv = st.getArray(1)
      val n = math.min(q.numElements(), cv.numElements())
      var d = 0L
      var i = 0
      while (i < n) {
        val diff = q.getInt(i).toLong - cv.getLong(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = st.getInt(0) }
      j += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val j = ctx.freshName("j")
      val st = ctx.freshName("st")
      val cv = ctx.freshName("cv")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val diff = ctx.freshName("diff")
      s"""
         |int $best = -1;
         |long $bestD = Long.MAX_VALUE;
         |for (int $j = 0; $j < $b.numElements(); $j++) {
         |  org.apache.spark.sql.catalyst.InternalRow $st = $b.getStruct($j, 2);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $st.getArray(1);
         |  int $n = $a.numElements() < $cv.numElements() ? $a.numElements() : $cv.numElements();
         |  long $d = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $diff = (long) $a.getInt($i) - $cv.getLong($i);
         |    $d += $diff * $diff;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $st.getInt(0); }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object KMeansAssign {
  def apply(q: Column, cents: Column): Column =
    Shim.column(KMeansAssign(Shim.expression(q), Shim.expression(cents)))
}

/** Native integer dot product over two `array<int>` columns (exact
  * long accumulator) — the pairwise-cosine hot loop of
  * [[graft.knn.SemDeDup]] without the zip_with allocation per pair.
  * Same loop shape as [[ArrayDot]]. */
case class ArrayDotInt(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"array_dot_int needs two array<int> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getInt(i).toLong * y.getInt(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements() < $b.numElements() ? $a.numElements() : $b.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) $a.getInt($i) * $b.getInt($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArrayDotInt {
  def apply(a: Column, b: Column): Column =
    Shim.column(ArrayDotInt(Shim.expression(a), Shim.expression(b)))
}
