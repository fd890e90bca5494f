package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, BindReferences,
  CurrentRow, Explode, Expression, GenericInternalRow, InterpretedOrdering, JoinedRow, Literal, NTile, RowFrame,
  RowNumber, SizeBasedWindowFunction, SortOrder, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding,
  Unevaluable, WindowExpression, WindowFrame, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, DeclarativeAggregate, Max, Min,
  NoOp, Sum}
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ColumnPruning, NormalizeFloatingNumbers,
  RemoveNoopOperators, ReplaceExpressions}
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalAggregation}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Join, LocalRelation, LogicalPlan,
  Project, ResolvedHint, Sort, Union, Window}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.{AtomicType, BinaryType, DataType, DoubleType, IntegerType, IntegralType, LongType,
  NullType, StringType}
import scala.collection.immutable.AbstractSeq
import scala.collection.mutable.ArrayBuffer

/** Expression <-> Column bridge, and the driver-side executor of local
  * tables. Spark 4 made the converters `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); custom Catalyst
  * expressions still need them to surface as Columns, so these helpers
  * live under the org.apache.spark.sql package — the same access
  * pattern third-party Spark extensions use.
  *
  * A local table is a plan whose every leaf is a `LocalRelation`, as
  * `createDataFrame` over driver rows builds it, and whose nodes the
  * executor below runs. Such a plan is evaluated here, on the driver and
  * without a job, by Spark's own expressions (interpreted) over Spark's
  * internal rows:
  *  - Project, Filter, global Sort (stable) and Union (children in order);
  *  - Aggregate: grouping plus count, sum, max and min without DISTINCT
  *    or FILTER, run by their initial, update and evaluate expressions;
  *    groups come out in ascending order of their keys, as a
  *    one-partition sort aggregate gives them, and a global aggregate
  *    gives one row also over no rows;
  *  - Join: inner, left outer, left semi and left anti, on the equi-keys
  *    `ExtractEquiJoinKeys` finds plus the residual condition: each left
  *    row in order, followed by its matches in right order; a null key
  *    matches nothing;
  *  - Window: row_number, ntile, count and sum over the whole partition,
  *    over ROWS from UNBOUNDED PRECEDING to CURRENT ROW, or to -1; rows
  *    come out sorted by the partition keys, then the order, stably, as
  *    `WindowExec` gives them in one partition;
  *  - Generate of explode (not outer), and a resolved hint, which
  *    changes nothing.
  * Grouping, partition and join keys compare as Spark's
  * `NormalizeFloatingNumbers` makes them compare (-0.0 is 0.0, every NaN
  * one NaN), and a grouping key comes out normalized. Deterministic
  * expressions only, and keys of atomic types with binary equality. Any
  * other plan is no local table: Spark runs it. These are the nodes the
  * plans of the load, binarize, k-core and the splits hold; popularity
  * and MAP/nDCG rank and average a local table by their own driver forms,
  * which group ids as [[keyValue]].
  *
  * The plan is first pruned as Spark's optimizer prunes a scan's plan
  * (`ColumnPruning`, `CollapseProject`), so a column the frame does not
  * read is never evaluated, as a file scan never reads it; and
  * runtime-replaceable expressions take their replacements. Reading a
  * local table's rows (`localRows`, `count`, `first`) runs no query
  * execution at all.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The rows of a local table, read on the driver without a job, also
    * when the frame is persisted (collecting a persisted frame would
    * build its cache). None for any other plan. */
  def localRows(df: DataFrame): Option[IndexedSeq[Row]] =
    localRelation(df).map { r =>
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      r.data.iterator.map(toRow(_).asInstanceOf[Row]).toIndexedSeq
    }

  /** [[localRows]] as one `LocalRelation` of Spark's internal rows, with
    * the frame's own output attributes. */
  private[graftshim] def localRelation(df: DataFrame): Option[LocalRelation] =
    compile(prepared(df)).map(rows => relation(df.queryExecution.analyzed.output, rows()))

  /** A `LocalRelation` of `rows` that Spark's analysis reads in O(1):
    * see [[DeferredSeq]]. */
  private[graftshim] def relation(output: Seq[Attribute], rows: IndexedSeq[InternalRow]): LocalRelation =
    LocalRelation(output, new DeferredSeq(rows.length, () => rows))

  /** The rows of a local table, with `map` deferred to the first read and
    * kept. Spark's plan traversals map every Seq a node holds, looking for
    * expressions, once per rule and node: over a plain Seq, each step
    * built on a local table would cost a pass over its rows. */
  private final class DeferredSeq[+A](size: Int, read: () => IndexedSeq[A]) extends AbstractSeq[A] with IndexedSeq[A] {
    private lazy val elems = read()
    override def length: Int = size
    override def apply(i: Int): A = elems(i)
    override def iterator: Iterator[A] = elems.iterator
    override def map[B](f: A => B): IndexedSeq[B] = new DeferredSeq(size, () => elems.map(f))
  }

  /** `df` as one `LocalRelation` with its schema, its plan evaluated once
    * here, when `df` is local; else `df` itself. */
  def localTable(df: DataFrame): DataFrame =
    localRelation(df).fold(df)(r => Dataset.ofRows(castToImpl(df.sparkSession), r))

  /** `df.count()`, read on the driver when `df` is local. */
  def count(df: DataFrame): Long = localRelation(df).fold(df.count())(_.data.size.toLong)

  /** `df.first()`, read on the driver when `df` is local: no job, and no
    * query execution either. */
  def first(df: DataFrame): Row = localRows(df).fold(df.first())(_.head)

  /** The id types of the driver forms of popularity and MAP/nDCG: types
    * whose values, as [[keyValue]] gives them, Scala's `==` compares as
    * Spark's groupings and equi-joins compare them. */
  val KeyTypes: Set[DataType] = Set(StringType, IntegerType, LongType, DoubleType)

  /** A key value as Spark's groupings and equi-joins normalize it
    * (`NormalizeFloatingNumbers`): -0.0 is 0.0, and every NaN is one NaN,
    * one boxed instance, which Scala's `==` (true on one reference before
    * it compares numbers) takes as equal to itself. */
  def keyValue(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) NaN else d
    case other => other
  }

  private val NaN: Any = Double.NaN

  /** Whether `df` is a local table: the plan is checked, nothing is
    * evaluated. True exactly when [[localRows]] reads it. */
  def isLocal(df: DataFrame): Boolean = compile(prepared(df)).isDefined

  private def prepared(df: DataFrame): LogicalPlan = Prepare.execute(df.queryExecution.analyzed)

  /** The optimizer's column pruning alone, to its fixed point, then the
    * replacement of runtime-replaceable expressions. Spark's own optimizer
    * folds a Project over a `LocalRelation` before it prunes (its
    * "LocalRelation early" batch), which would evaluate every cast of a
    * typed CSV read. */
  private object Prepare extends RuleExecutor[LogicalPlan] {
    override protected def batches: Seq[Batch] = Seq(
      Batch("column pruning", FixedPoint(100), ColumnPruning, CollapseProject, RemoveNoopOperators),
      Batch("replace expressions", Once, ReplaceExpressions))
  }

  private type Rows = IndexedSeq[InternalRow]

  /** How `p` runs on the driver, or None when it holds a node, function,
    * frame or key type the executor does not run: the one support
    * decision, which [[isLocal]] asks and [[localRelation]] runs. */
  private def compile(p: LogicalPlan): Option[() => Rows] = p match {
    case r: LocalRelation => Some(() => r.data.toIndexedSeq)
    case _ if !p.expressions.forall(_.deterministic) => None
    case ResolvedHint(child, _) => compile(child)
    case Project(list, child) if list.forall(scalar) =>
      compile(child).map { rows =>
        val project = projection(list, child.output)
        () => rows().map(project)
      }
    case Filter(condition, child) if scalar(condition) =>
      compile(child).map { rows =>
        val keep = bind(condition, child.output)
        () => rows().filter(keep.eval(_).asInstanceOf[Boolean])
      }
    case Sort(order, true, child, _) if order.forall(o => scalar(o.child)) =>
      compile(child).map { rows =>
        val sorting = ordering(order, child.output)
        () => rows().sorted(sorting)
      }
    case u: Union =>
      val parts = u.children.map(compile)
      if (parts.exists(_.isEmpty)) None else Some(() => parts.flatMap(_.get()).toIndexedSeq)
    case a: Aggregate => aggregate(a)
    case j: Join => join(j)
    case w: Window => window(w)
    case g: Generate => generate(g)
    case _ => None
  }

  /** An expression the executor evaluates row by row. */
  private def scalar(e: Expression): Boolean =
    !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[Attribute])

  /** A key type whose values Java equality compares as Spark's grouping
    * and equi-joins do, once normalized; and which Spark orders. */
  private def hashable(t: DataType): Boolean = t match {
    case s: StringType => s.supportsBinaryEquality
    case BinaryType => false
    case _: AtomicType | NullType => true
    case _ => false
  }

  private def bind(e: Expression, input: Seq[Attribute]): Expression = BindReferences.bindReference(e, input)

  /** `exprs` over a row of `input`, evaluated into an array. */
  private def evaluator(exprs: Seq[Expression], input: Seq[Attribute]): InternalRow => Array[Any] = {
    val bound = exprs.map(bind(_, input)).toArray
    row => {
      val out = new Array[Any](bound.length)
      var i = 0
      while (i < bound.length) { out(i) = bound(i).eval(row); i += 1 }
      out
    }
  }

  private def projection(exprs: Seq[Expression], input: Seq[Attribute]): InternalRow => InternalRow =
    evaluator(exprs, input).andThen(new GenericInternalRow(_))

  /** `exprs` normalized as Spark normalizes grouping, partition and join
    * keys. */
  private def normalized(exprs: Seq[Expression]): Seq[Expression] = exprs.map(NormalizeFloatingNumbers.normalize)

  /** Normalized key values as a hash key, compared by Java equality (a
    * boxed double equals another by its bits): one value itself, several
    * in a [[Key]]. */
  private def hashKey(values: Array[Any]): AnyRef =
    if (values.length == 1) values(0).asInstanceOf[AnyRef] else new Key(values)

  private final class Key(val values: Array[Any]) {
    private def objects = values.asInstanceOf[Array[AnyRef]]
    override def hashCode: Int = java.util.Arrays.hashCode(objects)
    override def equals(o: Any): Boolean = o match {
      case k: Key => java.util.Arrays.equals(objects, k.objects)
      case _ => false
    }
  }

  /** Spark's interpreted ordering by `order` of rows of `input`, over
    * an indexed Seq: it reads the Seq's size at every comparison. */
  private def ordering(order: Seq[SortOrder], input: Seq[Attribute]): InterpretedOrdering =
    new InterpretedOrdering(order.toIndexedSeq, input)

  /** The values of a row of `types`. */
  private def valuesOf(types: Seq[DataType]): InternalRow => Array[Any] = {
    val t = types.toArray
    row => {
      val out = new Array[Any](t.length)
      var i = 0
      while (i < t.length) { out(i) = if (row.isNullAt(i)) null else row.get(i, t(i)); i += 1 }
      out
    }
  }

  /** The values of `a` then `b`, as one row of `types`. */
  private def concatenation(types: Seq[DataType]): (InternalRow, InternalRow) => InternalRow = {
    val values = valuesOf(types)
    val joined = new JoinedRow
    (a, b) => new GenericInternalRow(values(joined(a, b)))
  }

  /** The buffers of declarative aggregates over `input` rows, run by
    * their own initial, update and evaluate expressions. An initial value
    * may read the partition size (`SizeBasedWindowFunction.n`); an update
    * that is `NoOp` keeps its buffer value. */
  private final class Buffers(funcs: Seq[DeclarativeAggregate], input: Seq[Attribute]) {
    private val attrs = funcs.flatMap(_.aggBufferAttributes)
    private val initial = evaluator(funcs.flatMap(_.initialValues), Seq(SizeBasedWindowFunction.n))
    private val updated = evaluator(funcs.flatMap(f => f.updateExpressions.zip(f.aggBufferAttributes).map {
      case (NoOp, kept) => kept
      case (e, _) => e
    }), attrs ++ input)
    private val evaluated = evaluator(funcs.map(_.evaluateExpression), attrs)
    private val joined = new JoinedRow
    def init(size: Int): InternalRow = new GenericInternalRow(initial(InternalRow(size)))
    def update(buffer: InternalRow, row: InternalRow): InternalRow = new GenericInternalRow(updated(joined(buffer, row)))
    def result(buffer: InternalRow): Array[Any] = evaluated(buffer)
  }

  private def declarative(ae: AggregateExpression): Option[DeclarativeAggregate] =
    Some(ae.aggregateFunction).filter(_ => !ae.isDistinct && ae.filter.isEmpty).collect {
      case f @ (_: Count | _: Sum | _: Max | _: Min) if f.children.forall(scalar) =>
        f.asInstanceOf[DeclarativeAggregate]
    }

  private def aggregate(a: Aggregate): Option[() => Rows] = a match {
    case PhysicalAggregation(grouping, aggs, results, child)
        if grouping.forall(g => scalar(g) && hashable(g.dataType)) && results.forall(scalar) &&
          aggs.forall(declarative(_).isDefined) =>
      compile(child).map { rows =>
        val buffers = new Buffers(aggs.flatMap(declarative), child.output)
        val keyOf = evaluator(normalized(grouping), child.output)
        val keys = grouping.map(_.toAttribute)
        val result = projection(results, keys ++ aggs.map(_.resultAttribute))
        val byKey = ordering(keys.map(SortOrder(_, Ascending)), keys)
        val joined = new JoinedRow
        () => {
          val groups = new java.util.HashMap[AnyRef, (InternalRow, Array[InternalRow])]()
          if (grouping.isEmpty) groups.put(hashKey(Array.empty), (InternalRow.empty, Array(buffers.init(0))))
          rows().foreach { r =>
            val k = keyOf(r)
            val g = groups.computeIfAbsent(hashKey(k), _ => (new GenericInternalRow(k), Array(buffers.init(0))))
            g._2(0) = buffers.update(g._2(0), r)
          }
          groups.values.toArray(new Array[(InternalRow, Array[InternalRow])](0)).toIndexedSeq
            .sortBy(_._1)(byKey)
            .map { case (k, b) => result(joined(k, new GenericInternalRow(buffers.result(b(0))))) }
        }
      }
    case _ => None
  }

  private def join(j: Join): Option[() => Rows] = j match {
    case ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, residual, _, _, _, _)
        if Set[JoinType](Inner, LeftOuter, LeftSemi, LeftAnti)(joinType) &&
          (leftKeys ++ rightKeys ++ residual).forall(scalar) && leftKeys.forall(k => hashable(k.dataType)) =>
      for (left <- compile(j.left); right <- compile(j.right)) yield {
        val leftKey = evaluator(normalized(leftKeys), j.left.output)
        val rightKey = evaluator(normalized(rightKeys), j.right.output)
        val condition = residual.map(bind(_, j.left.output ++ j.right.output))
        val concat = concatenation((j.left.output ++ j.right.output).map(_.dataType))
        val nulls = new GenericInternalRow(j.right.output.size)
        val joined = new JoinedRow
        () => {
          val byKey = new java.util.HashMap[AnyRef, ArrayBuffer[InternalRow]]()
          right().foreach { r =>
            val k = rightKey(r)
            if (!k.contains(null)) byKey.computeIfAbsent(hashKey(k), _ => ArrayBuffer.empty) += r
          }
          val out = ArrayBuffer.empty[InternalRow]
          left().foreach { l =>
            val k = leftKey(l)
            val candidates = if (k.contains(null)) ArrayBuffer.empty[InternalRow]
              else byKey.getOrDefault(hashKey(k), ArrayBuffer.empty)
            val matches = condition.fold(candidates)(c => candidates.filter(r => c.eval(joined(l, r)).asInstanceOf[Boolean]))
            joinType match {
              case LeftSemi => if (matches.nonEmpty) out += l
              case LeftAnti => if (matches.isEmpty) out += l
              case LeftOuter if matches.isEmpty => out += concat(l, nulls)
              case _ => matches.foreach(m => out += concat(l, m))
            }
          }
          out.toIndexedSeq
        }
      }
    case _ => None
  }

  /** Where the frame of row `i` of a partition of `size` rows ends,
    * exclusive, given `(size, i)`; None for a frame the executor does not
    * run. Every frame starts at the partition's first row. */
  private type FrameEnd = (Int, Int) => Int

  private def frameEnd(f: WindowFrame): Option[FrameEnd] = f match {
    case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => Some((size, _) => size)
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => Some((_, i) => i + 1)
    case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, Literal(v: Number, _: IntegralType))
        if v.longValue == -1L => Some((_, i) => i)
    case _ => None
  }

  private def windowFunction(e: Expression): Option[(DeclarativeAggregate, FrameEnd)] = e match {
    case Alias(WindowExpression(f, WindowSpecDefinition(_, _, spec)), _) =>
      val function = f match {
        case ae: AggregateExpression => declarative(ae).filter(d => d.isInstanceOf[Count] || d.isInstanceOf[Sum])
        case rn: RowNumber => Some(rn)
        case nt: NTile => Some(nt)
        case _ => None
      }
      for (d <- function; end <- frameEnd(spec)) yield (d, end)
    case _ => None
  }

  private def window(w: Window): Option[() => Rows] = {
    val functions = w.windowExpressions.map(windowFunction)
    if (functions.exists(_.isEmpty) || !w.partitionSpec.forall(p => scalar(p) && hashable(p.dataType)) ||
      !w.orderSpec.forall(o => scalar(o.child))) None
    else compile(w.child).map { rows =>
      val input = w.child.output
      val byOrder = ordering(w.orderSpec, input)
      val keyOf = evaluator(normalized(w.partitionSpec), input)
      val keys = w.partitionSpec.zipWithIndex.map { case (p, i) => AttributeReference(s"key$i", p.dataType)() }
      val keyOrder = ordering(keys.map(SortOrder(_, Ascending)), keys)
      val valuesOfRow = valuesOf(input.map(_.dataType))
      val runs = functions.flatten.map { case (f, end) => (new Buffers(Seq(f), input), end) }
      () => {
        // the rows of each partition in input order, then the partitions
        // in key order and each partition in `orderSpec` order, stably
        val all = rows()
        val partitions = new java.util.LinkedHashMap[AnyRef, (InternalRow, ArrayBuffer[InternalRow])]()
        all.foreach { r =>
          val k = keyOf(r)
          partitions.computeIfAbsent(hashKey(k), _ => (new GenericInternalRow(k), ArrayBuffer.empty))._2 += r
        }
        val byKey = partitions.values.toArray(new Array[(InternalRow, ArrayBuffer[InternalRow])](0)).sortBy(_._1)(keyOrder)
        val out = new ArrayBuffer[InternalRow](all.size)
        byKey.foreach { case (_, rowsOfKey) =>
          val partition = if (w.orderSpec.isEmpty) rowsOfKey.toIndexedSeq else rowsOfKey.toIndexedSeq.sorted(byOrder)
          val values = runs.map { case (b, end) => frameValues(b, end, partition) }
          partition.indices.foreach(i => out += new GenericInternalRow(valuesOfRow(partition(i)) ++ values.map(_(i))))
        }
        out.toIndexedSeq
      }
    }
  }

  /** One window function's value for each row of a sorted partition:
    * the buffer takes the rows up to each row's frame end, in order. */
  private def frameValues(b: Buffers, frameEnd: FrameEnd, partition: Rows): Array[Any] = {
    var buffer = b.init(partition.size)
    var done = 0
    Array.tabulate[Any](partition.size) { i =>
      val end = frameEnd(partition.size, i)
      while (done < end) { buffer = b.update(buffer, partition(done)); done += 1 }
      b.result(buffer)(0)
    }
  }

  private def generate(g: Generate): Option[() => Rows] = g.generator match {
    case explode: Explode if scalar(explode.child) && !g.outer =>
      compile(g.child).map { rows =>
        val kept = evaluator(g.requiredChildOutput, g.child.output)
        val produce = bind(explode, g.child.output)
        val produced = valuesOf(g.generatorOutput.map(_.dataType))
        () => {
          val out = ArrayBuffer.empty[InternalRow]
          rows().foreach { r =>
            val base = kept(r)
            produce.asInstanceOf[Explode].eval(r).iterator.foreach(v => out += new GenericInternalRow(base ++ produced(v)))
          }
          out.toIndexedSeq
        }
      }
    case _ => None
  }
}
