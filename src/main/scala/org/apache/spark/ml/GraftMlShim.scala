package org.apache.spark.ml

import org.apache.spark.ml.util.HasTrainingSummary

/** Bridge into `private[ml]` model internals (the `GraftShim` pattern
  * for `private[sql]`). */
object GraftMlShim {
  /** Drop a fitted model's training summary, which holds the training
    * DataFrame and its session, so the model's closures ship without
    * them. */
  def dropSummary(m: HasTrainingSummary[_]): Unit = m.setSummary(None)
}
