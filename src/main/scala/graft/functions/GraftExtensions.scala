package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers the graft expression
  * library and plan rules at session build time, so
  * `spark.sql("SELECT array_dot(a,b)")` works in any session built with
  * `.withExtensions(new GraftExtensions)` or started with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (every [[graft.GraftSession]] is). Query functions also self-register
  * via GraftFunctions.register, so a session built without the config
  * still resolves them; this is the deployment-grade path.
  *
  * What it injects, and why:
  *  - the `GraftFunctions.defs` expressions, from the same name → builder
  *    table `GraftFunctions.register` uses, so the two paths cannot drift;
  *  - [[graft.plans.FuseArrayDot]]: the declarative higher-order-function
  *    dot product becomes the fused codegen kernel;
  *  - [[graft.plans.PushAggThroughUniqueJoin]]: partial aggregation below
  *    an equi-join whose build side is provably unique on the key, so the
  *    join input is one row per key;
  *  - [[graft.plans.LocalWrites]]: a file write of driver-held rows gets
  *    one task per split, so a small append lands as one file, not one
  *    per core;
  *  - [[graft.plans.IntervalJoinStrategy]]: the broadcast interval join
  *    (logical node + strategy + physical operator). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.defs.foreach { case (name, cls, builder) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectOptimizerRule(_ => graft.plans.FuseArrayDot)
    e.injectOptimizerRule(_ => graft.plans.PushAggThroughUniqueJoin)
    e.injectOptimizerRule(graft.plans.LocalWrites)
    e.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
  }
}
