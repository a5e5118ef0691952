package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.RowNumber
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** SURVEY §7.5(a): the optional Catalyst rewrite that turns a GLOBAL
  * `row_number() OVER (ORDER BY ...)` — the single-task funnel pandas
  * users reach for first (O4) — into the distributed two-pass plan,
  * automatically.
  *
  * The DataFrame-level fix for Long ids past 2^31 rows is
  * [[graft.ops.Ids.withScalableGlobalIdManaged]]; this is the same plan
  * shape delivered UNDER the API: a `Rule[LogicalPlan]` recognizes the
  * funnel (one window expression, RowNumber, empty PARTITION BY),
  * replaces it with the [[GlobalSeqId]] logical node, and a
  * [[SparkStrategy]] plans [[GlobalSeqIdExec]], which
  *
  *  1. demands `OrderedDistribution(order)` from its child, so
  *     EnsureRequirements inserts a RANGE exchange + per-partition
  *     sort — partitions end up globally ordered with no single-task
  *     stage;
  *  2. runs the same lightweight per-partition count job
  *     `rdd.zipWithIndex` would (the shuffle files pin the range
  *     bounds, so both passes see one materialization);
  *  3. numbers rows as cumulative-offset + local position in a
  *     codegen-free but allocation-free projection.
  *
  * The id column stays IntegerType — bit-for-bit the schema
  * `row_number()` produces — so the rewrite is invisible to the query.
  * (Row counts past 2^31 need the Long-typed [[graft.ops.Ids]] API;
  * a window that someone ALREADY partitioned, or any other window
  * function, is out of scope on purpose.)
  *
  * Installed by [[GraftExtensions]], which every [[graft.Session]]
  * carries.
  */
object GlobalSeqId {
  /** Global windows seen-but-not-rewritten (rank/dense_rank, multi-
    * expression projections, …): counted so the near-miss warning is
    * testable, visible via [[unrewrittenGlobalWindows]].
    */
  private[plans] val unrewrittenCount = new java.util.concurrent.atomic.AtomicLong
  def unrewrittenGlobalWindows: Long = unrewrittenCount.get()
}

/** Logical twin of the rewritten Window: child plus one IntegerType id
  * attribute, ordered by `order`. Keeps the ORIGINAL alias exprId so
  * downstream references resolve unchanged.
  */
final case class GlobalSeqId(child: LogicalPlan, order: Seq[SortOrder],
    idAttr: Attribute) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ idAttr
  override def producedAttributes: AttributeSet = AttributeSet(idAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GlobalSeqId =
    copy(child = newChild)
}

object GlobalRowNumberRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Window(
        Seq(a @ Alias(WindowExpression(_: RowNumber, WindowSpecDefinition(Seq(), order, _)), _)),
        Seq(), _, child, _) if order.nonEmpty =>
      GlobalSeqId(child, order, a.toAttribute)
    // Near-miss: a global (no PARTITION BY) window this rule can't
    // rewrite — rank()/dense_rank() over a global order, or a Window
    // carrying other window expressions beside the row_number. Those
    // still funnel every row through ONE task; splitting the RowNumber
    // out would not help because the residual Window keeps the funnel.
    // Surface the hazard instead of silently planning it.
    case w @ Window(exprs, Seq(), _, _, _)
        if exprs.nonEmpty && w.orderSpec.nonEmpty =>
      GlobalSeqId.unrewrittenCount.incrementAndGet()
      logWarning(s"global window (no PARTITION BY) not rewritten by " +
        s"GlobalRowNumberRule — single-task funnel ahead: " +
        exprs.map(_.sql).mkString(", ") +
        ". For a lone row_number() use graft.ops.Ids.withScalableGlobalIdManaged" +
        " or match this rule's shape.")
      w
  }
}

object GlobalSeqIdStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GlobalSeqId(child, order, idAttr) =>
      GlobalSeqIdExec(planLater(child), order, idAttr) :: Nil
    case _ => Nil
  }
}

final case class GlobalSeqIdExec(child: SparkPlan, order: Seq[SortOrder],
    idAttr: Attribute) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ idAttr
  override def producedAttributes: AttributeSet = AttributeSet(idAttr)

  // range-partitioned + sorted child: global order across partitions
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(OrderedDistribution(order))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(order)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val rdd = child.execute()
    // pass 1: per-partition row counts — the zipWithIndex count job.
    // The range exchange's shuffle files are reused by pass 2, so both
    // passes read ONE materialization and ONE set of range bounds.
    val counts = rdd.mapPartitions(
      it => Iterator.single(it.size.toLong),
      preservesPartitioning = true).collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val localOutput = output
    rdd.mapPartitionsWithIndex { (pid, it) =>
      val proj = UnsafeProjection.create(localOutput, localOutput)
      val joined = new JoinedRow
      val idRow = new GenericInternalRow(1)
      var id = offsets(pid)
      it.map { row =>
        id += 1
        // row_number is IntegerType; unlike the vanilla plan (whose
        // single task OOMs long before 2^31 rows) this one actually
        // reaches the wrap — fail loudly instead of emitting negatives
        if (id > Int.MaxValue) throw new ArithmeticException(
          "row_number overflow past 2^31 rows — use " +
            "graft.ops.Ids.withScalableGlobalIdManaged (Long ids)")
        idRow.setInt(0, id.toInt)
        proj(joined(row, idRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GlobalSeqIdExec =
    copy(child = newChild)
}
