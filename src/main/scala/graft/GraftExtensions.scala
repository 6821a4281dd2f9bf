package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.VectorExprs

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql("... dot_product(a, b) ...")`
  * reaches the codegen'd kernels. [[Session.build]] sets
  * `spark.sql.extensions=graft.GraftExtensions`, so every session the
  * engine builds has them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.injections.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // runs inside the operator-optimization batch, so Catalyst's own
    // pruning/collapsing still applies to the rewritten plan
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewriteRule)
  }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def expect(n: Int, name: String)(f: Seq[Expression] => Expression): Builder =
    args =>
      if (args.length == n) f(args)
      else throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${args.length}")

  private val injections: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("dot_product",
      new ExpressionInfo(classOf[VectorExprs.DotProduct].getName, "dot_product"),
      expect(2, "dot_product")(a => VectorExprs.DotProduct(a(0), a(1)))),
    ("l2_norm",
      new ExpressionInfo(classOf[VectorExprs.L2Norm].getName, "l2_norm"),
      expect(1, "l2_norm")(a => VectorExprs.L2Norm(a.head)))
  )
}
