package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Cluster-wide deployment entry point for the engine's SQL surface:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * registers the KSQL scalar functions (PARSE_DATE, SEAB_FIELD,
  * MV_JOIN, …) at session build on every driver/executor, so
  * reference-shaped SQL runs with no per-session
  * `Engine.registerFunctions` call — the standard
  * `SparkSessionExtensions` injection path. (SchemaConverter's Column
  * pipeline needs neither: it expands the same builders itself.) Also
  * injects the [[graft.plans.IntersectCountRewrite]] optimizer rule, which swaps
  * `size(array_intersect(a, b))` over long arrays for the
  * materialization-free native count on the dedup verify paths.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Engine.functionBuilders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.IntersectCountRewrite)
  }
}
