package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Session extension registration — `spark.sql.extensions =
  * graft.plans.GraftExtensions` (set in Tables.sessionConf, so every
  * graft session builder picks it up). It registers:
  *  - the as-of join: [[AsofJoinRightPruning]] and [[AsofJoinStrategy]];
  *  - [[DecimalSums]], exact decimal sums on long limbs.
  * A session without it gets the same results, only slower. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => AsofJoinRightPruning)
    e.injectPlannerStrategy(_ => AsofJoinStrategy)
    e.injectOptimizerRule(_ => DecimalSums)
  }
}
