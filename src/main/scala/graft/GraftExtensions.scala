package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}

/** SparkSessionExtensions entry point — the deployment face of the
  * extension surface (SURVEY §2.k). A cluster user adds
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * to spark-submit and every session gets the engine's custom codegen
  * expressions in its function registry — the same wiring
  * `bridge.registerFunctions` performs programmatically, but applied by
  * Spark itself at session build time (so SQL-only clients, thrift
  * servers, and notebooks see the functions without touching Scala).
  *
  * It also injects an analysis CHECK rule that enforces the engine's
  * no-unpartitioned-window discipline (the classic 100×-scale killer —
  * every global ranking here runs on the two-pass GlobalOrder primitive
  * instead) as a session-level policy: with
  * `spark.graft.strictWindows=true`, a `Window.orderBy` without a
  * `partitionBy` is rejected at analysis time, before a single task
  * funnels the dataset into one partition. Off by default — a lint a
  * pipeline team turns on cluster-wide.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectCheckRule { session => (plan: LogicalPlan) =>
      if (session.conf.get("spark.graft.strictWindows", "false") == "true") {
        def check(p: LogicalPlan): Unit = p.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            throw new org.apache.spark.sql.AnalysisException(
              errorClass = "USER_RAISED_EXCEPTION",
              messageParameters = Map("errorMessage" ->
                ("graft strict mode: unpartitioned window (empty PARTITION BY) " +
                 "moves every row to one task and cannot scale; partition the " +
                 "window or use the distributed GlobalOrder two-pass primitive " +
                 "(set spark.graft.strictWindows=false to allow)")))
          case node =>
            // subquery expressions carry their own plans (a global window
            // inside `WHERE x > (SELECT ...)` must not slip past the lint)
            node.expressions.foreach(_.foreach {
              case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
                check(s.plan)
              case _ => ()
            })
        }
        check(plan)
      }
    }
    GraftExtensions.functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz, name), builder))
    }
  }
}

object GraftExtensions {

  /** The SQL-registered functions as (name, expression class, builder) —
    * the one list both the extension and `bridge.registerFunctions`
    * register. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("poly_hash", classOf[graft.functions.PolyHash].getName,
      exprs => graft.functions.PolyHash(exprs(0), exprs(1))),
    ("simhash64", classOf[graft.functions.SimHash64].getName,
      exprs => graft.functions.SimHash64(exprs.head)),
    ("minhash_sig", classOf[graft.functions.MinHashSig].getName,
      exprs => graft.functions.MinHashSig(exprs.head).toAggregateExpression()),
    ("winnow_fps", classOf[graft.functions.WinnowFps].getName,
      exprs => graft.functions.WinnowFps(exprs.head)))
}
