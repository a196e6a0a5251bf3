package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Optimizer rule: every batch read of a graft V2 table — `format("graft")`,
  * a [[GraftCatalog]] table, time travel, the change feed — becomes the plan
  * [[GraftV2Marker.readFrame]] builds: `MergeTable.readVersion` at the pinned
  * version (the current one when no version is pinned), or `changes(...)`.
  * One `Project` of aliases keeps the relation's output attributes, so the
  * plan above stays bound. This is Delta's `DeltaAnalysis` turning a
  * `DeltaTableV2` into a `LogicalRelation`.
  *
  * It runs in the optimizer, not the analyzer, so that each execution of a
  * Dataset reads the snapshot current at that execution: an unpinned
  * `spark.read.format("graft").load(p)` or `spark.table(t)` sees later
  * commits, as Delta's reads do. A column the analyzed read named that the
  * snapshot no longer has, or has under another type, fails the query.
  *
  * Write targets stay V2: a `V2WriteCommand`'s `table` is not one of its
  * children, and a [[DeleteFromTable]] is left whole for `SupportsDelete`.
  */
case class GraftReadResolution(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable => d
    case r: DataSourceV2Relation => r.table match {
      case g: GraftV2Marker =>
        // the read's optimized plan: its analyzer-only nodes (hints,
        // replaceable expressions) are gone, as the batches after this expect
        val read = g.readFrame(session).queryExecution.optimizedPlan
        Project(r.output.map { a =>
          val c = read.output.find(_.name == a.name)
            .filter(c => DataTypeUtils.sameType(c.dataType, a.dataType))
            .getOrElse(throw new IllegalStateException(s"column ${a.name} " +
              s"${a.dataType.simpleString} of ${g.graftRoot} is not in the snapshot being " +
              "read: the table's schema changed since the read was defined; read it again"))
          Alias(c, a.name)(exprId = a.exprId, qualifier = a.qualifier,
            explicitMetadata = Some(a.metadata))
        }, read)
      case _ => r
    }
    case p => p.mapChildren(apply)
  }
}
