package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedOrdering}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression <-> Column bridge, and the driver-side read of local
  * tables. Spark 4 made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); custom Catalyst
  * expressions still need them to surface as Columns, so these helpers
  * live under the org.apache.spark.sql package — the same access
  * pattern third-party Spark extensions use.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The rows of a local table, read on the driver without a job, also
    * when the frame is persisted (collecting a persisted frame would
    * build its cache). A local table is a `LocalRelation`, as
    * `createDataFrame` over driver rows builds it, under any chain of
    * deterministic Project, Filter and global Sort nodes: `toDF`'s renames,
    * `filter(...).drop(...)`, `withColumn` or `orderBy`. The chain is
    * evaluated as Spark's optimizer folds it (`ConvertToLocalRelation`),
    * and a Sort orders by Spark's own row ordering. None for any other
    * plan. */
  def localRows(df: DataFrame): Option[IndexedSeq[Row]] =
    if (!isLocal(df)) None
    else fold(df.queryExecution.analyzed).map { r =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      r.data.iterator.map(toRow(_).asInstanceOf[Row]).toIndexedSeq
    }

  /** `df` as one `LocalRelation` with its schema, the chain evaluated
    * once here, when `df` is local; else `df` itself. */
  def localTable(df: DataFrame): DataFrame = localRows(df).fold(df)(rows =>
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))

  /** Whether [[localRows]] reads `df`: a plan-shape check, nothing is
    * evaluated. */
  def isLocal(df: DataFrame): Boolean = {
    def chain(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation => true
      case s: Sort if !s.global => false
      case _: Project | _: Filter | _: Sort => p.expressions.forall(_.deterministic) && chain(p.children.head)
      case _ => false
    }
    chain(df.queryExecution.analyzed)
  }

  private def fold(plan: LogicalPlan): Option[LocalRelation] = plan match {
    case r: LocalRelation => Some(r)
    case Sort(order, _, child, _) => fold(child).map { r =>
      r.copy(data = r.data.sorted(new InterpretedOrdering(order, r.output)))
    }
    case _ => fold(plan.children.head).flatMap { r =>
      ConvertToLocalRelation(plan.withNewChildren(Seq(r))) match {
        case folded: LocalRelation => Some(folded)
        case _ => None // an expression the rule cannot evaluate
      }
    }
  }
}
