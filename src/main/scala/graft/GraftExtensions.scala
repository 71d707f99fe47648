package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, DotProduct, JaroWinklerSimilarity, ShingleArray, ShingleExplode}

/** Session extensions: install with
  * `--conf spark.sql.extensions=graft.GraftExtensions`
  * to get the custom SQL functions on every session of a cluster — the
  * deployment path for the engine's Catalyst additions (SURVEY §7.3).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // runs before the session's SharedState exists, so this static default
    // reaches the session; an explicit value wins (DEPLOY.md "Generated-code
    // cache")
    GraftSqlBridge.setContextConfIfMissing(
      GraftExtensions.CodegenCacheKey, GraftExtensions.CodegenCacheEntries.toString)
    // Spark's per-session artifact classloaders (a Spark Connect feature the
    // engine does not use) key the codegen cache per session; with one
    // classloader a session clone (graft.obs.Sessions.withConf) runs on the
    // classes its parent compiled (DEPLOY.md "Scoped confs")
    GraftSqlBridge.setContextConfIfMissing("spark.sql.artifact.isolation.enabled", "false")
    // the whole-stage id otherwise names each generated class, so a plan
    // whose stages AQE numbers in another order compiles again (DEPLOY.md
    // "Generated-code cache")
    GraftSqlBridge.setContextConfIfMissing(GraftExtensions.UseIdInClassNameKey, "false")
    // file: without a chmod, readlink or ls child process per create,
    // mkdir, checkpoint rename and listed entry (DEPLOY.md "Local
    // filesystem")
    GraftSqlBridge.activeHadoopConf.foreach(graft.fs.NioLocalFs.register)
    ext.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      GraftExtensions.binary("cosine_similarity", CosineSimilarity)))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      GraftExtensions.binary("dot_product", DotProduct)))
    // optimizer: HOF dot-product idiom -> codegen'd DotProduct
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofDotProduct)
    // governance: opt-in fail-fast on partition-less windows (scale guard)
    ext.injectOptimizerRule(_ => graft.plans.PartitionlessWindowGuard)
    // planner: native as-of join (AsOfJoinPlan -> AsOfJoinExec)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerSimilarity].getName, "jaro_winkler"),
      {
        case Seq(a, b) => JaroWinklerSimilarity(a, b)
        case other => throw new IllegalArgumentException(
          s"jaro_winkler requires exactly 2 arguments, got ${other.size}")
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_array"),
      new ExpressionInfo(classOf[ShingleArray].getName, "shingle_array"),
      {
        case Seq(t) => ShingleArray(t, distinct = false)
        case Seq(t, d: org.apache.spark.sql.catalyst.expressions.Literal) =>
          ShingleArray(t, distinct = d.value == true)
        case other => throw new IllegalArgumentException(
          s"shingle_array requires (text[, distinct]), got ${other.size} args")
      }))
    ext.injectFunction((
      FunctionIdentifier("explode_shingles"),
      new ExpressionInfo(classOf[ShingleExplode].getName, "explode_shingles"),
      {
        case Seq(t, n) => ShingleExplode(t, n)
        case other => throw new IllegalArgumentException(
          s"explode_shingles requires exactly 2 arguments, got ${other.size}")
      }))
  }
}

object GraftExtensions {
  /** Spark's generated-class cache size: static, read once per JVM. */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** The engine default for [[CodegenCacheKey]]: one `operator_batch`
    * benchmark pass alone needs 275 distinct classes, and Spark's 100
    * evicts each before its next use.
    */
  val CodegenCacheEntries = 1000

  /** Whether a generated class's name carries its whole-stage id; the
    * engine defaults it to false. The id enters the generated body only
    * as a comment, so without it one stage's code is one cache entry
    * whatever its number.
    */
  val UseIdInClassNameKey = "spark.sql.codegen.useIdInClassName"

  /** Arity-checked builder with array<double> coercion: the expressions
    * assume double-backed arrays, but SQL callers naturally pass e.g. the
    * fixtures' native array<float> embedding column — reading a float-backed
    * ArrayData as doubles would corrupt values, so coerce here.
    */
  def binary(name: String, f: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => f(toDoubleArray(a), toDoubleArray(b))
    case other => throw new IllegalArgumentException(
      s"$name requires exactly 2 arguments, got ${other.size}")
  }

  private def toDoubleArray(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
}
