package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.VecDot

/** Session extension registering this engine's custom Catalyst
  * expressions with the SQL function registry, so `spark.sql` users get
  * them too, plus its optimizer rules (see [[graft.plans.ChainHeadsRule]]):
  *
  *  - `float_vec_dot(a, b)` / `double_vec_dot(a, b)` — the codegen'd
  *    [[graft.functions.VecDot]] over array<float> or array<double>
  *    (dequantized / derived vectors).
  *
  * Wire up either at build time
  * (`SparkSession.builder.withExtensions(new GraftExtensions)` /
  * `spark.sql.extensions=graft.GraftExtensions`) or onto a live session
  * via [[GraftExtensions.register]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.ChainHeadsRule())
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy())
  }
}

object GraftExtensions {

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    Seq("float_vec_dot", "double_vec_dot").map { name =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[VecDot].getName, name),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            s"$name requires exactly 2 arguments")
          VecDot(children.head, children(1))
        })
    }

  /** Register on an already-built session: SQL functions AND the
    * optimizer rule. The rule goes through
    * `spark.experimental.extraOptimizations` (the public post-hoc
    * injection point — `injectOptimizerRule` only works at build time),
    * deduplicated so repeated `register` calls add it once. When the
    * session WAS built with [[GraftExtensions]] the rule ends up in both
    * the main batch and the experimental batch; that is harmless because
    * the rewrite is idempotent (after it fires no `Window` node remains
    * to match). This keeps the "verified plans are benched plans"
    * invariant even when `getOrCreate` returns a pre-built session. */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.ChainHeadsRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.ChainHeadsRule()
    if (!spark.experimental.extraStrategies
        .exists(_.isInstanceOf[graft.plans.TopKStrategy]))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy()
  }
}
