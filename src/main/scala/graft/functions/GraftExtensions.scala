package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{BINARY_COMPARISON, FILTER, LITERAL}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, TimestampNTZType,
  TimestampType}

/** Session extension entry point (`spark.sql.extensions=graft.functions.
  * GraftExtensions`, set in Sessions.builder): registers `float_dot` in
  * every session, injects [[DotProductRewrite]] into the optimizer and
  * the graft read, metadata-aggregate and write rules —
  * the SparkSessionExtensions surface for engine-level additions, as
  * opposed to per-session FunctionRegistry calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (children: Seq[Expression]) => GraftFunctions.build(children)))
    e.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(n: Int, _)) => WordShingles(c, n)
        case _ => throw new IllegalArgumentException(
          "word_shingles(text, n) requires a literal integer width")
      }))
    e.injectFunction((
      FunctionIdentifier("cdc_bounds"),
      new ExpressionInfo(classOf[CdcBounds].getName, "cdc_bounds"),
      (children: Seq[Expression]) => children match {
        case Seq(c, Literal(w: Int, _), Literal(m: Int, _)) => CdcBounds(c, w, m)
        case _ => throw new IllegalArgumentException(
          "cdc_bounds(text, window, modulus) requires literal integer window and modulus")
      }))
    e.injectFunction((
      FunctionIdentifier("vec_avg"),
      new ExpressionInfo(classOf[VecAvg].getName, "vec_avg"),
      (children: Seq[Expression]) => {
        if (children.length != 1)
          throw new IllegalArgumentException(
            s"vec_avg requires exactly 1 argument, got ${children.length}")
        VecAvg(children.head)
      }))
    e.injectFunction((
      FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopK].getName, "top_k"),
      (children: Seq[Expression]) => GraftFunctions.buildTopK(children)))
    // Spark's own runtime-filter Bloom machinery, exposed as SQL functions
    // (Spark builds these two expressions inside InjectRuntimeFilter but
    // registers neither): `bloom_agg(xxhash64(k) [, est_items [, num_bits]])`
    // is a mergeable TypedImperativeAggregate whose result is the filter's
    // bytes, `bloom_contains(filter, xxhash64(k))` is a codegen'd membership
    // probe. Exactness contract: no false negatives — a "not contained"
    // verdict is definitive, so the d10 pattern (route definite-new rows
    // around the anti-join) never changes query results, only shrinks the
    // shuffled probe side.
    e.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[aggregate.BloomFilterAggregate].getName, "bloom_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c)            => new aggregate.BloomFilterAggregate(c)
        case Seq(c, est)       => new aggregate.BloomFilterAggregate(c, est)
        case Seq(c, est, bits) => new aggregate.BloomFilterAggregate(c, est, bits)
        case _ => throw new IllegalArgumentException(
          "bloom_agg(hash_long [, est_items [, num_bits]]) takes 1-3 arguments")
      }))
    e.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[BloomFilterMightContain].getName, "bloom_contains"),
      (children: Seq[Expression]) => children match {
        case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
        case _ => throw new IllegalArgumentException(
          "bloom_contains(filter, hash_long) takes exactly 2 arguments")
      }))
    e.injectOptimizerRule(_ => DotProductRewrite)
    e.injectOptimizerRule(_ => SubMillisTimestampBound)
    // materialized-view query rewrite: aggregates over a registered base
    // re-point at the MV table (exact or rollup) while the base is fresh —
    // constant-time no-op when the MvCatalog is empty
    e.injectOptimizerRule(session => graft.plans.MvRewrite(session))
    // lake DML/metadata statements and versioned reads over LakeCatalog-
    // registered MergeTables, straight through spark.sql — the Delta-style
    // parser extension (unregistered names delegate untouched)
    e.injectParser((session, delegate) =>
      new graft.sqlapi.GraftSqlParser(session, delegate))
    // batch reads of graft V2 tables (format("graft"), GraftCatalog)
    // become the MergeTable plan, as Delta's DeltaAnalysis does; in the
    // optimizer, so every execution reads the snapshot current at it
    e.injectOptimizerRule(session => graft.sources.GraftReadResolution(session))
    // aggregates the table log answers exactly become a local relation,
    // once the operator optimizations have settled the plan
    e.injectPreCBORule(_ => graft.lake.MetadataOnlyAggregate)
    // dynamic partition overwrite on graft V2 tables: the node has no V1
    // write bridge, so a post-hoc resolution rule (Delta's mechanism)
    // rewrites it to an overwriteWhere command over the touched partitions
    e.injectPostHocResolutionRule(session =>
      graft.sources.GraftWriteRewrites(session))
  }
}

/** Optimizer rule: `ts < v` with a sub-millisecond timestamp literal
  * becomes the equal `ts <= v - 1µs` (and `v > ts` its mirror). Parquet
  * pushdown rounds `v` down to milliseconds for a `TIMESTAMP_MILLIS`
  * column but keeps the strict `<`, which skipped row groups whose rows
  * all hold the rounded value although each satisfies `ts < v`.
  */
object SubMillisTimestampBound extends Rule[LogicalPlan] {

  private def subMillis(v: Long): Boolean = v % 1000L != 0L && v != Long.MinValue

  private def timestamp(dt: DataType): Boolean = dt == TimestampType || dt == TimestampNTZType

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(FILTER, BINARY_COMPARISON, LITERAL)) {
      case f: Filter =>
        val c = f.condition.transform {
          case LessThan(a, Literal(v: Long, dt)) if timestamp(dt) && subMillis(v) =>
            LessThanOrEqual(a, Literal(v - 1L, dt))
          case GreaterThan(Literal(v: Long, dt), a) if timestamp(dt) && subMillis(v) =>
            GreaterThanOrEqual(Literal(v - 1L, dt), a)
        }
        if (c eq f.condition) f else f.copy(condition = c)
    }
}

/** Optimizer rule: rewrite the interpreted higher-order dot-product idiom
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
  *               0D, (acc, v) -> acc + v) }}}
  *
  * over ARRAY&lt;FLOAT&gt; columns into the codegen [[FloatDot]] loop. Sound
  * because FloatDot reproduces the idiom's exact semantics — same
  * ascending left-fold (bit-identical result), NULL on null array, null
  * element, or length mismatch. Users keep writing the declarative
  * higher-order form; the engine runs the primitive loop — the same
  * contract Catalyst's own simplification rules follow.
  */
object DotProductRewrite extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** x * y where the multiplied variables are EXACTLY the zip_with lambda's
    * own two arguments (one use each, either order). Matching on "any two
    * lambda variables" would also rewrite `(x, y) -> x * x` (sum of squares)
    * or a product capturing an outer HOF's variable — silently wrong results.
    */
  private def isCastProduct(f: Expression, args: Seq[NamedLambdaVariable]): Boolean = f match {
    case Multiply(Cast(x: NamedLambdaVariable, DoubleType, _, _),
                  Cast(y: NamedLambdaVariable, DoubleType, _, _), _) =>
      x.exprId != y.exprId &&
        Set(x.exprId, y.exprId) == args.map(_.exprId).toSet
    case _ => false
  }

  /** acc + v over the two lambda variables. */
  private def isVarSum(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(Add(a: NamedLambdaVariable, v: NamedLambdaVariable, _), args, _) =>
      args.map(_.exprId).toSet == Set(a.exprId, v.exprId)
    case _ => false
  }

  /** the implicit identity finish lambda `acc -> acc`. */
  private def isIdentity(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      v.exprId == arg.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(product, zipArgs, _)),
          Literal(0.0, DoubleType),
          merge: LambdaFunction,
          finish: LambdaFunction)
        if isFloatArray(a) && isFloatArray(b) &&
          zipArgs.forall(_.isInstanceOf[NamedLambdaVariable]) && zipArgs.length == 2 &&
          isCastProduct(product, zipArgs.map(_.asInstanceOf[NamedLambdaVariable])) &&
          isVarSum(merge) && isIdentity(finish) =>
      FloatDot(a, b)
  }
}
