package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
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

  /** The rows of a local table — a frame whose plan is one
    * `LocalRelation`, as `createDataFrame` over driver rows builds it —
    * read on the driver without a job, also when the frame is persisted
    * (collecting a persisted frame would build its cache). None for any
    * other plan. */
  def localRows(df: DataFrame): Option[Seq[Row]] = df.queryExecution.logical match {
    case r: LocalRelation =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Some(r.data.map(toRow(_).asInstanceOf[Row]))
    case _ => None
  }
}
