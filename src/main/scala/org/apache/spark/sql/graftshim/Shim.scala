package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedOrdering}
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ColumnPruning, ConvertToLocalRelation, RemoveNoopOperators}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Sort, Union}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

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
    * `filter(...).drop(...)`, `withColumn` or `orderBy`; or a Union
    * (`union`, `unionByName`) of such chains. The chain is first pruned
    * as Spark's optimizer prunes a scan's plan (`ColumnPruning`,
    * `CollapseProject`), so a column the frame does not read is never
    * evaluated, as a file scan never reads it; then each Project and
    * Filter is folded by `ConvertToLocalRelation`, a Sort orders by
    * Spark's own row ordering, and a Union concatenates its children's
    * rows in child order, the order `UnionExec` collects them in. None for
    * any other plan. */
  def localRows(df: DataFrame): Option[IndexedSeq[Row]] =
    localRelation(df).map { r =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      r.data.iterator.map(toRow(_).asInstanceOf[Row]).toIndexedSeq
    }

  /** [[localRows]] as one `LocalRelation` of Spark's internal rows, with
    * the frame's own output attributes. */
  private[graftshim] def localRelation(df: DataFrame): Option[LocalRelation] =
    if (!isLocal(df)) None
    else fold(Pruning.execute(df.queryExecution.analyzed)).map(_.copy(output = df.queryExecution.analyzed.output))

  /** The optimizer's column pruning alone, to its fixed point. Spark's
    * own optimizer folds a Project over a `LocalRelation` before it prunes
    * (its "LocalRelation early" batch), which would evaluate every cast
    * of a typed CSV read. */
  private object Pruning extends RuleExecutor[LogicalPlan] {
    override protected def batches: Seq[Batch] =
      Seq(Batch("column pruning", FixedPoint(100), ColumnPruning, CollapseProject, RemoveNoopOperators))
  }

  /** `df` as one `LocalRelation` with its schema, the chain evaluated
    * once here, when `df` is local; else `df` itself. */
  def localTable(df: DataFrame): DataFrame =
    localRelation(df).fold(df)(r => Dataset.ofRows(castToImpl(df.sparkSession), r))

  /** `left.join(right, Seq(key), joinType)` for `left_semi` and `left`.
    * Over two local tables whose `key` columns have one type it is
    * evaluated here and comes back as a local table with the join's
    * schema: left rows in order, a left row's matches in right order.
    * Otherwise it is Spark's join itself. Keys match as in Spark's
    * equi-join: a null key matches nothing, other keys compare by
    * [[groupKey]]. A semi join over a left table that is Projects over a
    * `LocalRelation` (a typed CSV read) keeps those Projects over the kept
    * rows, so that, as in Spark's plan, only the columns a later step
    * reads are ever evaluated. */
  def keyJoin(left: DataFrame, right: DataFrame, key: String, joinType: String): DataFrame = {
    val viaSpark = left.join(right, Seq(key), joinType)
    val local = for {
      keys <- localRows(left.select(key)) if Set("left_semi", "left")(joinType)
      r <- localRows(right) if left.schema(key).dataType == right.schema(key).dataType
    } yield {
      val ri = right.schema.fieldIndex(key)
      val byKey = r.filterNot(_.isNullAt(ri)).groupBy(row => groupKey(row.get(ri)))
      val found = keys.map(k => if (k.isNullAt(0)) Nil else byKey.getOrElse(groupKey(k.get(0)), Nil))
      // a USING join's columns: the key, left's others, then for a left
      // join right's others
      val li = left.schema.fieldIndex(key)
      val leftOrder = li +: left.schema.indices.filter(_ != li)
      val rightRest = right.schema.indices.filter(_ != ri)
      def evaluated = localRows(left).map { l =>
        val rows = l.zip(found).flatMap { case (row, f) =>
          val own = leftOrder.map(row.get)
          if (joinType == "left_semi") f.take(1).map(_ => Row.fromSeq(own))
          else if (f.isEmpty) Seq(Row.fromSeq(own ++ rightRest.map(_ => null)))
          else f.map(m => Row.fromSeq(own ++ rightRest.map(m.get)))
        }
        left.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), viaSpark.schema)
      }
      if (joinType == "left_semi") keptRows(left, found.map(_.nonEmpty), leftOrder).orElse(evaluated)
      else evaluated
    }
    local.flatten.getOrElse(viaSpark)
  }

  /** The rows of `df` where `keep` holds, its columns in `order`, without
    * evaluating them, when `df` is deterministic Projects over a
    * `LocalRelation` (one output row per relation row): the same
    * Projects over a relation of the kept rows. None for any other plan. */
  private def keptRows(df: DataFrame, keep: IndexedSeq[Boolean], order: Seq[Int]): Option[DataFrame] = {
    def base(p: LogicalPlan): Option[LocalRelation] = p match {
      case r: LocalRelation => Some(r)
      case Project(list, child) if list.forall(_.deterministic) => base(child)
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    base(plan).filter(_.data.size == keep.size).map { r =>
      val kept = r.copy(data = r.data.iterator.zip(keep.iterator).collect { case (row, true) => row }.toSeq)
      val projected = plan.transformUp { case leaf if leaf eq r => kept }
      Dataset.ofRows(castToImpl(df.sparkSession), Project(order.map(projected.output), projected))
    }
  }

  /** A value as Spark's grouping and equi-joins compare it: a double by
    * the bits of its normalized form (-0.0 is 0.0, every NaN one NaN), so
    * that NaN equals NaN; others as they are. */
  def groupKey(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case other => other
  }

  /** Whether [[localRows]] reads `df`: a plan-shape check, nothing is
    * evaluated. */
  def isLocal(df: DataFrame): Boolean = {
    def chain(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation => true
      case s: Sort if !s.global => false
      case _: Project | _: Filter | _: Sort => p.expressions.forall(_.deterministic) && chain(p.children.head)
      case u: Union => u.children.forall(chain)
      case _ => false
    }
    chain(df.queryExecution.analyzed)
  }

  private def fold(plan: LogicalPlan): Option[LocalRelation] = plan match {
    case r: LocalRelation => Some(r)
    case Sort(order, _, child, _) => fold(child).map { r =>
      r.copy(data = r.data.sorted(new InterpretedOrdering(order, r.output)))
    }
    case u: Union =>
      val parts = u.children.map(fold)
      if (parts.exists(_.isEmpty)) None else Some(LocalRelation(u.output, parts.flatMap(_.get.data)))
    case _ => fold(plan.children.head).flatMap { r =>
      ConvertToLocalRelation(plan.withNewChildren(Seq(r))) match {
        case folded: LocalRelation => Some(folded)
        case _ => None // an expression the rule cannot evaluate
      }
    }
  }
}
