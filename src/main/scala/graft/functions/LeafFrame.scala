// In the Spark SQL namespace ON PURPOSE (like the expression kernels in
// this directory): LogicalRDD and Dataset.ofRows are private[sql], and the
// leaf re-rooting below is exactly the construction Dataset.checkpoint and
// the repo's own label-propagation loop already rely on — re-expressed so
// the pinned-frame lifecycle ([[graft.GraftCache]]) can use it without the
// Row-roundtrip `createDataFrame(df.rdd, schema)` pays.
package org.apache.spark.sql.graftexpr

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Compact-leaf re-rooting for a pinned frame.
  *
  * A frame's consumers embed its entire lineage subtree in their LOGICAL
  * plans — so every consumer action (and every AQE re-optimization round
  * inside it) re-walks, re-analyzes and re-optimizes the full tree. For
  * the deep operator chains (curation: clean→gate→dedup→LSH→components→
  * passages→decontaminate) that driver-side re-planning dominates warm
  * wall time: StageProbe measured pipeline_curate_keep_best at 6.0 s wall
  * with only 2.6 s summed executor time — the other ~3.4 s was plan
  * bookkeeping across 45 jobs.
  *
  * [[LeafFrame.apply]] rebuilds the frame as a single [[LogicalRDD]] leaf
  * over an InternalRow RDD of its rows (NO Row conversion) — in
  * [[graft.GraftCache]], the persisted copy of the frame's own physical
  * output — carrying Statistics measured when that RDD was materialized,
  * so join-strategy decisions (broadcast thresholds) see real sizes.
  * Downstream plans become O(1)-deep at the pin boundary.
  *
  * Eviction safety is the RDD's own: on missing/unpersisted blocks the
  * RDD recomputes per-partition from the captured physical plan — lineage
  * is kept, nothing re-persists (unpersist clears the RDD's storage
  * level), so a post-eviction consumer silently recomputes, never fails
  * and never leaks blocks.
  *
  * The leaf deliberately carries NO outputPartitioning/outputOrdering
  * (ADVICE r21 asked why): none of the current pin consumers keys on a
  * pin's own shuffle layout — the curation/dedup pins are keyed by
  * content-hash or semi-join outputs while every consumer joins on
  * doc_id/vec_id, and the union-find labels pin is a single coalesced
  * partition. Revisit if a consumer ever joins/aggregates on the exact
  * key a pin was exchanged by.
  */
object LeafFrame {

  /** `df`'s columns served from `rows` (which must hold exactly `df`'s
    * physical output rows) as one LogicalRDD leaf carrying `stats`.
    */
  def apply(df: DataFrame, rows: RDD[InternalRow], stats: Statistics): DataFrame = {
    val session = df.sparkSession.asInstanceOf[SparkSession]
    Dataset.ofRows(session,
      LogicalRDD(df.queryExecution.analyzed.output, rows)(session, Some(stats), None))
  }

  /** The RDDs behind every [[LogicalRDD]] leaf of `df`'s analyzed plan —
    * a pin's own RDD for a [[graft.GraftCache]] leaf. Compared by
    * reference: two leaves are the same only over the same RDD object.
    */
  def leafRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
}
