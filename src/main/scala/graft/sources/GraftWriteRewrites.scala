package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, OverwritePartitionsDynamic}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col

import graft.lake.MergeTable

/** Dynamic partition overwrite for graft tables (Delta's
  * `partitionOverwriteMode = dynamic` behavior): Spark plans
  * `INSERT OVERWRITE` in dynamic mode — and
  * `df.writeTo(t).overwritePartitions()` — as
  * [[OverwritePartitionsDynamic]], a node with NO V1 write bridge. This
  * post-hoc resolution rule (injected via `GraftExtensions`, the same
  * mechanism Delta uses for its command rewrites) claims the node when
  * the target is a graft V2 table and replaces it with a command running
  * [[MergeTable.overwriteWhere]] over the incoming data's own distinct
  * partition tuples — replace exactly the partitions the data touches,
  * carry every other file by manifest reference, one atomic commit.
  */
case class GraftWriteRewrites(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case o: OverwritePartitionsDynamic if o.query.resolved =>
      o.table match {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Marker] =>
          GraftDynamicOverwriteCommand(
            r.table.asInstanceOf[GraftV2Marker].graftRoot, o.query)
        case _ => o
      }
  }
}

/** The captured write: `query` is the fully-analyzed source subtree
  * (Spark's output resolution already aligned it to the table schema).
  * Partitioned target → the distinct incoming partition tuples
  * (metadata-sized by the nature of dynamic overwrite — each tuple is a
  * partition being replaced) become an `overwriteWhere` predicate;
  * unpartitioned target → dynamic overwrite degenerates to a full
  * overwrite, Spark's own semantics for it.
  */
case class GraftDynamicOverwriteCommand(root: String, query: LogicalPlan)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = query :: Nil

  override def output: Seq[Attribute] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    val data = org.apache.spark.sql.GraftSqlShims.dataFrame(session, query)
    val table = MergeTable.open(root)
    if (table.partitionCols.isEmpty) table.overwrite(data)
    else {
      val pcols = table.partitionCols
      val touched = data.select(pcols.map(col): _*).distinct().collect()
      if (touched.isEmpty) table.append(data.limit(0)) // no-op commit, Delta too
      else {
        val schema = table.schemaOf(table.currentVersion)
        table.overwriteWhere(session, MergeTable.partitionSetPredicate(
          pcols.map(c => c -> schema(c).dataType), touched.toSeq.map(_.toSeq)), data)
      }
    }
    Nil
  }
}
