package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The engine as a Spark extension: start any session with
  * `--conf spark.sql.extensions=graft.GraftExtensions` and the native
  * functions ([[functions.GraftFunctions]]), the opt-in optimizer rule
  * ([[plans.ApproxDistinctRewrite]]) and the one-shuffle count planner
  * strategy ([[plans.OneShuffleCount]]) are available with no code — the
  * standard deployment shape for a Catalyst-extending library.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.inject(e)
    e.injectOptimizerRule(_ => plans.ApproxDistinctRewrite)
    e.injectPlannerStrategy(_ => plans.OneShuffleCount)
  }
}
