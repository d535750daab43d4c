package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/**
 * SQL surface: registers the engine's scalar expressions and the top-k
 * aggregate so they are callable from `spark.sql` / `selectExpr`
 * (`SELECT l2_distance(a.vec, b.vec) ...`). Usable either per-session via
 * [[GraftFunctions.register]] or cluster-wide via
 * `spark.sql.extensions=graft.GraftExtensions`.
 */
object GraftFunctions {

  private val scalars: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "l2_distance" -> (es => L2Distance(es(0), es(1))),
    "ip_distance" -> (es => IpDistance(es(0), es(1))),
    "cosine_distance" -> (es => CosineDistance(es(0), es(1))),
    "dot_product" -> (es => DotProduct(es(0), es(1))))

  def register(spark: SparkSession): Unit = {
    scalars.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    spark.udf.register("topk_merge", org.apache.spark.sql.functions.udaf(
      new TopKAggregator(10),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble)))
  }
}

/** `SparkSession.builder.withExtensions(new GraftExtensions)` or
 * `--conf spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Seq(
      ("l2_distance", (es: Seq[Expression]) => L2Distance(es(0), es(1))),
      ("ip_distance", (es: Seq[Expression]) => IpDistance(es(0), es(1))),
      ("cosine_distance", (es: Seq[Expression]) => CosineDistance(es(0), es(1))),
      ("dot_product", (es: Seq[Expression]) => DotProduct(es(0), es(1)))
    ).foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    // SURVEY §4.3 stretch: ORDER BY <distance> LIMIT k over a registered
    // corpus is served from its sealed index (opt-in via
    // KnnIndex.register): matched right after analysis, and again after
    // optimizer normalization, into one KnnScan leaf that plans as
    // KnnServeExec
    ext.injectPostHocResolutionRule(session => graft.plans.KnnScanRule(session))
    ext.injectOptimizerRule(session => graft.plans.KnnScanRule(session))
    ext.injectPlannerStrategy(_ => graft.plans.KnnStrategy)
  }
}
