package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.ops.SnapshotTable
import graft.sources.SnapshotDsv2Table

/** The fast path of the `format("snapshot")` read
  * ([[graft.sources.SnapshotDataSource]]): replace the DataSource V2
  * relation with [[SnapshotTable.readAt]]'s OWN logical plan, aliased
  * back onto the relation's exprIds — after the substitution the query
  * is indistinguishable from the Scala-API read (native parquet
  * `FileScan`s, filter/column pushdown, broadcast MOR anti-joins), with
  * zero row-conversion overhead at the connector boundary. The pattern
  * is the one a view expansion uses; it is exact because a snapshot
  * version is immutable and pinned at table-creation time, so the
  * substituted plan can never drift from the relation it replaces.
  *
  * [[GraftExtensions]] injects the rule into the operator-optimization
  * batches, which run before V2 scan pushdown, so it matches the
  * analysis-time `DataSourceV2Relation`.
  *
  * Without the rule the read still answers correctly through the
  * connector's V1 fallback scan — substitution is an optimization,
  * never a semantic dependency, the [[SnapshotBloomJoinRule]]
  * discipline.
  */
object SnapshotRelationRule extends Rule[LogicalPlan] {

  /** Substitutions performed (testable evidence the rule fired). */
  private[plans] val substCount = new java.util.concurrent.atomic.AtomicLong
  def substitutions: Long = substCount.get()

  /** readAt's analyzed plan, re-aliased onto the relation's output
    * exprIds so every parent reference stays resolved. A schema
    * mismatch (a caller forcing a different read schema onto the
    * table) is a LOUD error — aliasing across a type change would
    * corrupt, not adapt.
    */
  private def substitute(output: Seq[AttributeReference],
      table: SnapshotDsv2Table): LogicalPlan = {
    val resolved = SnapshotTable
      .readAt(SparkSession.active, table.dir, table.pinnedVersion)
      .queryExecution.analyzed
    require(resolved.output.length == output.length &&
      resolved.output.zip(output).forall { case (n, o) =>
        n.name == o.name && n.dataType == o.dataType },
      s"snapshot substitution: relation schema " +
        s"(${output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ")}) " +
        s"!= readAt schema of ${table.name()} " +
        s"(${resolved.output.map(a => s"${a.name}:${a.dataType.simpleString}").mkString(", ")})")
    SnapshotRelationRule.substCount.incrementAndGet()
    Project(output.zip(resolved.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId, qualifier = o.qualifier,
        explicitMetadata = Some(o.metadata)): NamedExpression
    }, resolved)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case r: DataSourceV2Relation if r.table.isInstanceOf[SnapshotDsv2Table] =>
      substitute(r.output, r.table.asInstanceOf[SnapshotDsv2Table])
  }
}
