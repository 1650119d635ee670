// In the Spark SQL namespace for `Dataset.ofRows`, which is private[sql]
// (the same reason as LeafFrame in the main sources).
package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Run a rewritten logical plan as a frame of `df`'s session. */
object TestPlans {
  def frame(df: DataFrame, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession], plan)
}
