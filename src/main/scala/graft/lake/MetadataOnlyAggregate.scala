package graft.lake

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, ExprId,
  Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete,
  Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Optimizer rule: an aggregate over one snapshot read, answered from the
  * table log ([[MergeTable.aggregateFromStats]]) as a `LocalRelation`, so no
  * data file is opened — Delta's `OptimizeMetadataOnlyDeltaQuery`. Every
  * read of a snapshot (API, `format("graft")`, catalog, `LakeSql`) plans the
  * same relation over a [[ManifestFileIndex]], so all of them get it.
  *
  * It matches `count(*)`, `count(c)`, `min`, `max` and integral `sum`/`avg`,
  * grouped by partition columns, over the relation through column-mapping
  * projections, deterministic partition-only filters and the deletion-vector
  * anti-join. The file set is the index's own partition pruning of those
  * filters, the set the scan would read; an evaluation failure there, a
  * column without stat lines, or a log that cannot answer exactly leaves the
  * aggregate to the scan. Shape and the log's statted set are checked before
  * any stat line is parsed.
  */
object MetadataOnlyAggregate extends Rule[LogicalPlan] {

  /** The snapshot relation under an aggregate: the relation attribute each
    * pass-through column reads, the partition filters over relation
    * attributes, and whether the deletion-vector anti-join masks the scan.
    */
  private final case class Scan(index: ManifestFileIndex, log: ManifestFileIndex.Log,
                                partitionCols: Set[String], origin: Map[ExprId, AttributeReference],
                                filters: Seq[Expression], masked: Boolean)

  /** Marks the local relations this rule builds. */
  private val Answer = TreeNodeTag[Unit]("graft.metadataAnswer")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate => answer(a).getOrElse(a)
    }

  /** Whether `df`'s optimized plan holds an aggregate this rule answered. */
  def answered(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.getTagValue(Answer).isDefined)

  /** `(op, input)` for an aggregate function the log answers; input None
    * is `count(*)`.
    */
  private def spec(e: Expression): Option[(String, Option[Attribute])] = e match {
    case AggregateExpression(fn, Complete, false, None, _) => fn match {
      case Count(Seq(l: Literal)) if l.value != null => Some(("count", None))
      case Count(Seq(a: Attribute)) => Some(("count", Some(a)))
      case Min(a: Attribute) => Some(("min", Some(a)))
      case Max(a: Attribute) => Some(("max", Some(a)))
      case Sum(a: Attribute, _) if integral(a) => Some(("sum", Some(a)))
      case Average(a: Attribute, _) if integral(a) => Some(("avg", Some(a)))
      case _ => None
    }
    case _ => None
  }

  private def integral(a: Attribute): Boolean = a.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def trace(p: LogicalPlan): Option[Scan] = p match {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case i: ManifestFileIndex => i.snapshot.map(l => Scan(i, l, fs.partitionSchema.fieldNames.toSet,
          r.output.map(a => a.exprId -> a).toMap, Nil, masked = false))
        case _ => None
      }
      case _ => None
    }
    case Project(list, child) if list.forall(_.deterministic) => trace(child).map { s =>
      s.copy(origin = list.flatMap {
        case a: Attribute => s.origin.get(a.exprId).map(a.exprId -> _)
        case al @ Alias(a: Attribute, _) => s.origin.get(a.exprId).map(al.exprId -> _)
        case _ => None
      }.toMap)
    }
    case Filter(cond, child) if cond.deterministic && !SubqueryExpression.hasSubquery(cond) =>
      trace(child).filter(s => cond.references.nonEmpty && cond.references.forall(r =>
        s.origin.get(r.exprId).exists(a => s.partitionCols(a.name)))).map(s =>
        s.copy(filters = s.filters :+ cond.transform { case a: Attribute => s.origin(a.exprId) }))
    case Join(left, _, LeftAnti, Some(cond), _) if cond.references.filter(left.outputSet.contains)
        .map(_.name).toSet == Set(MergeTable.DvFileCol, MergeTable.DvIdxCol) =>
      trace(left).map(_.copy(masked = true))
    case _ => None
  }

  private def answer(a: Aggregate): Option[LocalRelation] = {
    val grouping = a.groupingExpressions.collect { case g: Attribute => g }
    if (grouping.size != a.groupingExpressions.size) return None
    val outputs: Seq[Either[Attribute, (String, Option[Attribute])]] =
      a.aggregateExpressions.map {
        case g: Attribute if grouping.exists(_.semanticEquals(g)) => Left(g)
        case Alias(g: Attribute, _) if grouping.exists(_.semanticEquals(g)) => Left(g)
        case Alias(e, _) => spec(e).map(Right(_)).getOrElse(return None)
        case _ => return None
      }
    val aggs = outputs.collect { case Right(op) => op }
    if (aggs.isEmpty) return None
    val s = trace(a.child).getOrElse(return None)
    def column(at: Attribute): Option[(String, Boolean)] = s.origin.get(at.exprId).map { r =>
      (s.log.logicalOf.getOrElse(r.name, r.name), s.partitionCols(r.name))
    }
    val groupBy = grouping.map(g => column(g).filter(_._2).getOrElse(return None)._1).distinct
    val ops = aggs.map { case (op, in) => op -> in.map(at => column(at).getOrElse(return None)) }
    // a column without stat lines, or a snapshot without any (no row
    // counts), cannot be answered: decline before parsing the log
    val files = s.index.rootPaths.nonEmpty
    if (files && (s.log.statted.isEmpty ||
        !ops.forall(_._2.forall { case (c, part) => part || s.log.statted(c) }))) return None
    val kept = try s.index.keptFiles(s.filters, Nil).toSet
      catch { case NonFatal(_) => return None }
    val table = MergeTable.open(s.index.root)
    if (!s.masked && table.deletionVectors(s.log.version).exists(d => kept(d._1))) return None
    table.aggregateFromStats(s.log.version, groupBy, ops.map { case (op, in) =>
      op -> in.map(_._1).orNull }, Some(kept)).map { rows =>
      val at = outputs.scanLeft(0) { case (i, o) => if (o.isRight) i + 1 else i }
      val slots = outputs.zip(at).map {
        case (Left(g), _) => groupBy.indexOf(column(g).get._1)
        case (Right(_), j) => groupBy.size + j
      }
      val converters = a.output.map(o => CatalystTypeConverters.createToCatalystConverter(o.dataType))
      val local = LocalRelation(a.output, rows.map(r =>
        InternalRow.fromSeq(slots.zip(converters).map { case (i, c) => c(r(i)) })))
      local.setTagValue(Answer, ())
      local
    }
  }
}
