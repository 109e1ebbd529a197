package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.ZInterleave

/** SparkSessionExtensions entry point for the graft engine, so SQL
  * users (not just the Column API) reach the native expressions:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // programmatic, or
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * ...
  * spark.sql("SELECT z_interleave(x, y) FROM ...")
  * }}}
  *
  * It injects one function: `z_interleave(int-ish, int-ish) -> bigint`
  * — [[graft.functions.ZInterleave]], the Z-order curve key behind
  * ZOrder.cluster, usable from SQL for custom layouts. No optimizer
  * rule and no planner strategy: the engine's operators are declarative
  * DataFrame plans that Catalyst already optimizes, and query bodies
  * never register this extension on their session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectFunction(GraftExtensions.zInterleaveDescriptor)
}

object GraftExtensions {

  /** (name, info, builder) descriptor for `z_interleave` — the Morton
    * z-order sort key ([[graft.functions.ZInterleave]]) — shared by the
    * extension and by [[register]].
    */
  val zInterleaveDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("z_interleave"),
      new ExpressionInfo(classOf[ZInterleave].getName, "z_interleave"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"z_interleave expects exactly 2 arguments, got ${args.length}")
        ZInterleave(args.head, args(1))
      })

  /** Register the function on an ALREADY-RUNNING session (tests, REPLs —
    * extensions normally apply only at session build time).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val (id, info, builder) = zInterleaveDescriptor
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}
