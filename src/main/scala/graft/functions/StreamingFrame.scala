// In the Spark SQL namespace ON PURPOSE (like LeafFrame beside it):
// Dataset.ofRows is private[sql], and a DSv1 Source must hand back a frame
// whose plan is flagged streaming — the construction Spark's own
// FileStreamSource.getBatch uses.
package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** A batch file read re-rooted as a micro-batch of a streaming query. */
object StreamingFrame {

  /** `df`'s analyzed plan with every file relation marked streaming. The
    * leaves stay file scans, so streaming progress counts the rows they
    * read (`numInputRows`).
    */
  def apply(df: DataFrame): DataFrame =
    Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession],
      df.queryExecution.analyzed.transform {
        case l: LogicalRelation => l.copy(isStreaming = true)
      })
}
