package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** The as-of planner as a session extension: [[AsOfJoinStrategy]] places
  * [[AsOfJoinNode]], and [[AsOfJoinElimination]] runs in Catalyst's
  * operator-optimization batch. Installed when a session is built
  * (`graft.Session`, the test session, or
  * `spark.sql.extensions=graft.plans.GraftExtensions`), so every query a
  * session plans sees the same optimizer. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => AsOfJoinElimination)
  }
}
