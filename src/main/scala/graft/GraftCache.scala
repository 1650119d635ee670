package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.graftexpr.LeafFrame
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Session-scoped lifecycle manager for operator-internal pinned frames.
  *
  * Several operators train an iterative model (Lloyd k-means, PQ codebooks,
  * exact-dedup survivors) and reuse the trained frame across their own jobs
  * AND inside the plan they return. Pinning that frame is mandatory — the
  * iters-deep training lineage would otherwise re-execute per consumer —
  * but the operator itself can never know when the LAST consumer has run,
  * so r8-and-earlier `localCheckpoint` pins leaked storage blocks into the
  * session until a harness-level sweep ([[GraftSession.sweepPersisted]])
  * collected them. A *library* user without the harness accumulates blocks
  * indefinitely — the exact session-pressure class behind the r7/r8 bench
  * distortions.
  *
  * Two pieces close the gap:
  *
  *  1. [[pinLeaf]] persists the frame's rows as an RDD (MEMORY_AND_DISK),
  *     materializes it with one job, and returns a frame whose only plan
  *     leaf is that RDD — the shape [[streaming.SubscriptionRunner]]'s
  *     outcome pin already uses. A persisted RDD keeps its lineage, so
  *     evicting it is safe at ANY time: a consumer that arrives after
  *     eviction silently recomputes (slower, never wrong) — the
  *     recompute-on-loss contract of the RDD design. That safety is what
  *     makes automatic eviction possible at all. No pin is registered in
  *     Spark's CacheManager, so no two invocations ever share one.
  *  2. [[releaseAfter]] registers the operator's RETURNED plan as the
  *     pins' terminal consumer. A [[QueryExecutionListener]] watches every
  *     completed action in the session; when one completes whose analyzed
  *     plan contains the terminal (the frame itself or any derivative the
  *     caller built on top — `orderBy`, `select`, a write), the pins are
  *     unpersisted and deregistered. The operator's own training jobs run
  *     during construction, BEFORE registration, so they can never trigger
  *     eviction mid-train. Every terminal contains at least one of its own
  *     pins' leaves, and leaves compare by RDD reference, so a late
  *     completion event from one invocation never matches the next
  *     invocation's terminal.
  *
  * Net effect: after the first action on an operator's result completes,
  * the session holds zero blocks for it ("evict on completion"). Re-running
  * the same frame afterwards recomputes the training — correct, and the
  * right trade: long-lived sessions stay clean without any caller
  * bookkeeping, and callers that genuinely iterate on one result re-invoke
  * the operator (as Bench's best-of-two does) or persist the result
  * themselves.
  *
  * The listener bus delivers completions asynchronously, so eviction lands
  * shortly after the action returns, not within it — harmless for the
  * pressure this solves (blocks leaking across whole queries), and the
  * safety property above means even a mid-flight concurrent consumer just
  * falls back to recompute.
  */
object GraftCache {

  private final case class Entry(terminal: LogicalPlan, pins: Seq[DataFrame])

  private val nextId = new AtomicLong(0L)
  private val entries = new ConcurrentHashMap[java.lang.Long, Entry]()
  // one listener per session (keyed weakly via the session's hashCode-free
  // identity in a CHM: sessions are few and long-lived, so the strong key
  // is not a leak in practice — it dies with the JVM like the session does)
  private val installed = new ConcurrentHashMap[SparkSession, java.lang.Boolean]()

  /** Pin `df` as a compact leaf (optimization r21, guide §1.2/§7.3
    * "driver-side work"): consumers' logical plans stop embedding (and
    * re-analyzing, re-optimizing per AQE round) the pin's whole lineage
    * subtree, which StageProbe measured as the DOMINANT warm-run cost of
    * the deep curation chains (~3.4 s of a 6.0 s wall at 2.6 s executor
    * time). Pass the RETURNED leaf to [[releaseAfter]].
    */
  def pinLeaf(df: DataFrame): DataFrame = pinLeafCounted(df)._1

  /** [[pinLeaf]] that also reports the materialized row count: the ONE
    * job that materializes the pin doubles as the counter, so operators
    * whose branch decisions need the count never pay a second action.
    *
    * The job runs under an execution id of `df`'s own QueryExecution, so
    * its completion event carries the full analyzed subtree: an upstream
    * operator's [[releaseAfter]] terminal nested inside it still matches
    * in [[sweep]] (a leaf-rooted materialization would hide that lineage
    * and strand the upstream entry's pins — caught by GraftCacheSpec).
    * The same job sums the rows' UnsafeRow bytes, so the leaf carries
    * measured Statistics for join-strategy (broadcast) decisions.
    */
  def pinLeafCounted(df: DataFrame): (DataFrame, Long) = {
    val qe = df.queryExecution
    val rowWidth = df.schema.defaultSize.toLong
    val (rows, n, bytes) = SQLExecution.withNewExecutionId(qe, Some("pin")) {
      val rows = qe.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      // a failing job must not strand the partial blocks it persisted
      val (n, bytes) =
        try rows.aggregate((0L, 0L))(
          (acc, r) => (acc._1 + 1L, acc._2 + (r match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case _ => rowWidth
          })),
          (a, b) => (a._1 + b._1, a._2 + b._2))
        catch { case t: Throwable => rows.unpersist(blocking = false); throw t }
      (rows, n, bytes)
    }
    (LeafFrame(df, rows, Statistics(BigInt(bytes), Some(BigInt(n)))), n)
  }

  /** Unpersist every RDD leaf of `df`'s analyzed plan now: a pin's own
    * leaf, or the blocks behind a `localCheckpoint`'d frame. For training
    * loops that supersede an iteration frame mid-operator, where waiting
    * for the terminal would hold every iteration's blocks at once. A
    * released pin only costs a recompute if read again; a released
    * localCheckpoint's blocks ARE its data, so release one only once its
    * successor is materialized with truncated lineage (bpeTrain's loop).
    */
  def releaseNow(df: DataFrame): Unit =
    LeafFrame.leafRdds(df).foreach(_.unpersist(blocking = false))

  /** Register `pins` for automatic eviction once an action over `result`
    * (or any plan containing it) completes. Returns `result` unchanged.
    * `result` must read at least one of the pins' leaves: that leaf is
    * what makes its terminal unique to this invocation.
    */
  def releaseAfter(result: DataFrame, pins: DataFrame*): DataFrame = {
    if (pins.nonEmpty) {
      val pinned = pins.flatMap(LeafFrame.leafRdds).toSet
      require(LeafFrame.leafRdds(result).exists(pinned),
        "releaseAfter: the result reads none of its pins' leaves, so its " +
          "terminal could match another invocation's completion event")
      ensureListener(result.sparkSession)
      entries.put(nextId.incrementAndGet(),
        Entry(result.queryExecution.analyzed, pins.toSeq))
    }
    result
  }

  /** Number of registered not-yet-evicted pin groups. */
  def pendingCount: Int = entries.size()

  /** Evict every registered pin immediately (lineage-safe by construction).
    * The harness-level belt-and-braces sweep; operators don't call this.
    */
  def evictAll(): Unit = {
    val it = entries.keys()
    while (it.hasMoreElements) {
      val e = entries.remove(it.nextElement())
      if (e != null) e.pins.foreach(releaseNow)
    }
  }

  private def ensureListener(spark: SparkSession): Unit =
    if (installed.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = sweep(qe)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = sweep(qe)
      })
    }

  private def sweep(qe: QueryExecution): Unit =
    if (!entries.isEmpty) {
      // analyzed (not optimized): the terminal was captured pre-optimization
      // and optimizer rewrites could break subtree identity
      val plan =
        try qe.analyzed
        catch { case _: Throwable => return }
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val hit =
          try plan.exists(_.sameResult(e.getValue.terminal))
          catch { case _: Throwable => false }
        if (hit) {
          it.remove()
          e.getValue.pins.foreach(releaseNow)
        }
      }
    }
}
