package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  Add, ArrayAggregate, EqualTo, Expression, ExpressionInfo, If, LambdaFunction,
  Literal, Multiply, NamedLambdaVariable, Size, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import org.apache.spark.sql.types.IntegerType

import graft.functions.{DotProduct, GkMergeAgg, GkQuantiles, GkSketchAgg,
  MinHashAgg, MinHashMergeAgg, MisraGriesAgg, SimHashAgg}

/** Engine extension point, registered via
  * `spark.sql.extensions=graft.plans.GraftExtensions` (set by
  * GraftSession/tests — and on a production cluster, by
  * spark-defaults). Injections:
  *
  *  1. `dot_product(array<double>, array<double>)` as a SQL-callable
  *     function, so the pure-SQL surface gets the same codegen'd
  *     primitive loop the DataFrame surface gets via
  *     [[graft.functions.VectorFunctions.dotNative]].
  *  2. [[NativeDotRewrite]], an optimizer rule that rewrites the
  *     portable-but-interpreted higher-order formulation
  *     `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (s, v) -> s + v)`
  *     into the native [[DotProduct]] expression. Measured this round:
  *     the HOF form is ~18x slower (no doGenCode — per-element lambda
  *     binding + boxing), so users who write the idiomatic portable
  *     SQL silently get the fast path.
  *  3. The sketch aggregates (`minhash_sketch`, `minhash_merge`,
  *     `simhash_agg` — SketchAgg.scala) for pure-SQL sketch build +
  *     rollup pipelines.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException(
          s"dot_product takes exactly 2 arguments, got ${children.size}")
      }))
    // the sketch aggregates, SQL-callable (k must be a literal —
    // it sizes the aggregation buffer at plan time):
    //   minhash_sketch(hash, k), minhash_merge(sketch, k), simhash_agg(hash)
    ext.injectFunction((
      FunctionIdentifier("minhash_sketch"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(h, Literal(k: Int, IntegerType)) => MinHashAgg(h, k)
        case _ => throw new IllegalArgumentException(
          "minhash_sketch(hash_col, k) requires a literal int k")
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_merge"),
      new ExpressionInfo(classOf[MinHashMergeAgg].getName, "minhash_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(sig, Literal(k: Int, IntegerType)) => MinHashMergeAgg(sig, k)
        case _ => throw new IllegalArgumentException(
          "minhash_merge(sketch_col, k) requires a literal int k")
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(h) => SimHashAgg(h)
        case _ => throw new IllegalArgumentException(
          "simhash_agg takes exactly 1 argument")
      }))
    // quantile sketch plane: gk_sketch(value, eps), gk_merge(sketch,
    // eps), gk_quantiles(sketch, array(phi...))
    ext.injectFunction((
      FunctionIdentifier("gk_sketch"),
      new ExpressionInfo(classOf[GkSketchAgg].getName, "gk_sketch"),
      (children: Seq[Expression]) => children match {
        case Seq(v, Literal(eps: Double, DoubleType)) => GkSketchAgg(v, eps)
        case _ => throw new IllegalArgumentException(
          "gk_sketch(value_col, eps) requires a literal double eps")
      }))
    ext.injectFunction((
      FunctionIdentifier("gk_merge"),
      new ExpressionInfo(classOf[GkMergeAgg].getName, "gk_merge"),
      (children: Seq[Expression]) => children match {
        case Seq(s, Literal(eps: Double, DoubleType)) => GkMergeAgg(s, eps)
        case _ => throw new IllegalArgumentException(
          "gk_merge(sketch_col, eps) requires a literal double eps")
      }))
    ext.injectFunction((
      FunctionIdentifier("gk_quantiles"),
      new ExpressionInfo(classOf[GkQuantiles].getName, "gk_quantiles"),
      (children: Seq[Expression]) => children match {
        case Seq(s, p) => GkQuantiles(s, p)
        case _ => throw new IllegalArgumentException(
          "gk_quantiles takes exactly 2 arguments")
      }))
    ext.injectFunction((
      FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName, "misra_gries"),
      (children: Seq[Expression]) => children match {
        case Seq(item, Literal(k: Int, IntegerType)) => MisraGriesAgg(item, k)
        case _ => throw new IllegalArgumentException(
          "misra_gries(item_col, k) requires a literal int k")
      }))
    ext.injectOptimizerRule(_ => NativeDotRewrite)
    // derived-timestamp range pushdown for raw-nanos event tables
    // (naive `ts >= lit` filters regain PushedFilters — NanosPushdown.scala)
    ext.injectOptimizerRule(_ => NanosRangePushdown)
  }
}

/** Rewrites `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (s,v) -> s+v)`
  * (with the implicit identity finish lambda) to [[DotProduct]](a, b).
  *
  * Preconditions checked statically: both inputs are `array<double>`;
  * the multiply operands are exactly the two zip_with lambda
  * variables; the merge is a plain sum starting at literal 0.0; the
  * finish lambda is the identity.
  *
  * RAGGED input is handled exactly: the rewrite emits
  * `IF(size(a) = size(b), dot_product(a, b), NULL)`, matching the HOF
  * form's NULL on unequal lengths (zip_with pads the shorter array
  * with nulls, poisoning the sum) at the cost of two numElements
  * reads. The ONE remaining divergence is a null ELEMENT inside
  * equal-length arrays: HOF yields NULL, DotProduct reads the slot as
  * 0.0. Parquet-sourced arrays are always element-nullable in the
  * schema even when dense in fact, so requiring `containsNull=false`
  * would stop the rule from ever firing on real data; users with
  * genuinely null-holed vectors opt out via
  * `spark.graft.nativeDotRewrite.enabled`. On well-formed input the
  * two forms are bit-identical (same left-to-right FP summation order
  * — NativeDotSpec).
  */
object NativeDotRewrite extends Rule[LogicalPlan] {

  val ConfKey = "spark.graft.nativeDotRewrite.enabled"

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** operands of a commutative binary op are exactly {v1, v2} */
  private def sameVars(e1: Expression, e2: Expression,
      v1: NamedLambdaVariable, v2: NamedLambdaVariable): Boolean = {
    val ids = Seq(e1, e2).collect { case n: NamedLambdaVariable => n.exprId }
    ids.size == 2 && ids.toSet == Set(v1.exprId, v2.exprId)
  }

  private def isZero(e: Expression): Boolean = e match {
    case Literal(d: Double, DoubleType) => d == 0.0
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(ConfKey, "true").toBoolean) plan
    else plan.transformAllExpressions {
      case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(mul: Multiply,
              Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          zero,
          LambdaFunction(add: Add,
            Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable,
            Seq(fv: NamedLambdaVariable), _))
        if isZero(zero) &&
          sameVars(mul.left, mul.right, x, y) &&
          sameVars(add.left, add.right, acc, el) &&
          fin.exprId == fv.exprId &&
          isDoubleArray(a) && isDoubleArray(b) =>
        If(EqualTo(Size(a), Size(b)), DotProduct(a, b), Literal(null, DoubleType))
    }
}
