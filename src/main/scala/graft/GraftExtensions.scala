package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Single SparkSessionExtensions entry point for the whole engine:
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * injects every native codegen'd SQL function of
  * [[GraftExtensions.Functions]] and the whole-operator TopKPerKey
  * rewrite ([[graft.plans.TopKPerKeyPlans]]: optimizer rule + planner
  * strategy). Sessions built without the conf (the driver-owned ones)
  * register the same functions with [[GraftExtensions.registerFunctions]]
  * and the rewrite with `TopKPerKeyExtension.install`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.TopKPerKeyPlans.TopKRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyPlans.TopKStrategy)
  }
}

object GraftExtensions {

  /** The one registry of native SQL functions: (name, expression class,
    * builder). Each name is its expression's `prettyName`.
    */
  private[graft] val Functions
      : Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_normalize_text", classOf[NormalizeText], c => NormalizeText(c.head)),
    ("graft_simhash", classOf[SimHashExpr], c => SimHashExpr(c.head)),
    ("graft_minhash_sig", classOf[MinHashSigExpr], c => MinHashSigExpr(c.head)),
    ("graft_shingles", classOf[ShinglesExpr], c => ShinglesExpr(c.head)),
    ("graft_shingle_keys", classOf[ShingleKeysExpr], c => ShingleKeysExpr(c(0), c(1))),
    ("graft_lsh_sketch", classOf[LshSketchExpr], c => LshSketchExpr(c.head)),
    ("graft_md5i", classOf[Md5iExpr], c => Md5iExpr(c.head)))

  private def descriptions =
    Functions.map { case (name, cls, build) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
    }

  /** Idempotent per-session registration of [[Functions]], for sessions
    * built without the extensions conf.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
