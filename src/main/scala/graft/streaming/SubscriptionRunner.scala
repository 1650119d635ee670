package graft.streaming

import graft.filters.FilterCompiler
import graft.model.FilterSpec
import graft.transform.{TransformRunner, Transformer}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

/** A subscription = filter tree + transformer + delivery config, executed as
  * source → filter(Column) → transform → foreachBatch(sink + retry/DLQ
  * routing) — the Spark shape of the reference's trigger worker pipeline
  * (server/trigger/trigger/trigger.go:304-643, SURVEY §3.2).
  *
  * Delivery semantics preserved (§2.7):
  *  - per-event filter drop commits the offset implicitly (micro-batch);
  *  - transform errors are non-retryable → straight to DLQ (util.go:59-63);
  *  - sink failures: 429/5xx retry with the backoff curve via the retry bus
  *    (stamped `xvanusdeliverytime`/`xvanusretryattempts`), other 4xx → DLQ;
  *  - retry events re-filter and re-transform with a subscription-id guard
  *    (trigger.go:256-302);
  *  - maxRetryAttempts exceeded → DLQ with dead-letter metadata
  *    (trigger.go:528-562);
  *  - ordered mode delivers sequentially and sends failures straight to DLQ
  *    (trigger.go:386-392, 428-431);
  *  - rate limiting is a per-partition token budget (leaky bucket ≈
  *    ratelimit.Take(), trigger.go:247).
  */
object SubscriptionRunner {

  /** What a sink delivers: the rendered event (HTTP sinks POST the body
    * with the content type; server/trigger/client/http.go).
    */
  final case class Deliverable(
      sequenceNumber: Long, id: String, source: String, etype: String,
      contentType: String, body: String)

  /** Delivery outcome for one event: Right = delivered; Left = status code
    * (HTTP-like; see [[Backoff.isRetryable]]).
    */
  type Sink = Deliverable => Either[Int, Unit]

  /** One sink call for a whole batch of events (the reference's gRPC batch
    * client, client/grpc.go:63-85): the result applies to every event in
    * the call.
    */
  type BatchSink = Seq[Deliverable] => Either[Int, Unit]

  /** How events reach the sink (trigger.go:342-375): per-event, or
    * accumulated to SendBatchSize then flushed in one call. The reference's
    * 500 ms time-flush maps to the micro-batch trigger interval — each
    * micro-batch always flushes its final partial chunk.
    */
  sealed trait Delivery extends Serializable
  object Delivery {
    final case class PerEvent(sink: Sink) extends Delivery
    final case class Batched(sink: BatchSink, maxBatchSize: Int) extends Delivery
  }

  /** Per-subscription knobs — the Spark analogue of the reference's
    * `SubscriptionConfig` (/root/reference/pkg/subscription.go:74-84:
    * rate limit, retry cap, dead-letter toggle, ordered delivery).
    * `dedupHorizon` adds the ingest-dedup horizon on top: when set, the
    * streaming plan drops re-published copies of the same (source, id)
    * CloudEvent arriving within the horizon ([[IngestDedup]]) before
    * filter/transform/deliver runs; state ages out past the horizon, so
    * the state store stays bounded at 100 TB-scale ingest.
    * `neardupHorizon` is the fuzzy sibling: drop events whose `data`
    * content SimHash is within hamming ≤ 2 of any earlier same-`type`
    * event inside the horizon ([[StreamNearDedup.verdictsStream]]) —
    * re-worded/templated copies that (source, id) identity misses. Same
    * bounded-state contract: per-(type, block, value) fingerprint sets
    * with a sliding TTL. Setting BOTH knobs composes them in ONE state
    * operator ([[StreamNearDedup.verdictsStreamBoth]] — Spark cannot chain
    * two flatMapGroupsWithState stages in a streaming plan, so the exact
    * identity check rides the fingerprint operator as a 4th state row per
    * event); each knob is judged against all arrivals and an event is
    * kept iff neither flags, in streaming and in pure-batch
    * `processBatch` alike.
    */
  final case class Config(
      subscriptionId: String,
      maxRetryAttempts: Int = 32,
      disableDeadLetter: Boolean = false,
      orderedEvent: Boolean = false,
      rateLimitPerSec: Int = 0,
      dedupHorizon: Option[java.time.Duration] = None,
      neardupHorizon: Option[java.time.Duration] = None)

  final case class Spec(
      filters: Seq[FilterSpec],
      transformerJson: Option[String],
      config: Config) {
    // compiled once per Spec instance, not per micro-batch: under a
    // streaming query processBatch re-reads this every trigger, and a
    // def would re-parse CEL/CESQL filters (and re-emit parse warnings)
    // per batch (ADVICE r15). @transient: the Column tree is driver-side
    // plan metadata; a deserialized Spec recompiles on first use.
    @transient lazy val predicate: Column = FilterCompiler.compileList(filters)
  }

  /** Closed books: delivered + filteredOut + toRetry + toDlq +
    * dedupDropped + neardupDropped + undeliverable = input rows — the
    * at-least-once audit a caller reconciles against batch.count().
    * `undeliverable` (r18) counts failures with NO route: no retry bus
    * (or ordered mode) AND no DLQ (or dead-letter disabled) — before r18
    * these fell out of the books entirely, so a bus-less caller's sums
    * silently under-read the input.
    */
  final case class BatchResult(
      delivered: Long, filteredOut: Long, toRetry: Long, toDlq: Long,
      dedupDropped: Long = 0L, neardupDropped: Long = 0L,
      undeliverable: Long = 0L)

  private def stampAttrs(attrs: Column, kvs: (String, Column)*): Column =
    Attrs.stamp(attrs, kvs: _*)

  /** Process one micro-batch (also usable in pure batch mode): filter,
    * transform, deliver, route failures. Returns routing counts; appends
    * retry/DLQ frames to their buses.
    *
    * Scan discipline: the happy path (every passing event delivered)
    * reads the batch once, inside its one delivery action, and runs no
    * other job. A batch with failures is persisted for the failure join,
    * which reads it once more and serves every routing frame from the
    * cache. The batch must therefore be re-readable (a scan of immutable
    * files is); a caller holding a plan that must not run twice (a
    * stateful stage's output) persists it first, as [[start]] does for
    * its dedup stages.
    */
  def processBatch(
      batch: DataFrame,
      spec: Spec,
      sink: Sink,
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      nowEpochSec: => Long = System.currentTimeMillis() / 1000): BatchResult =
    processBatchWith(batch, spec, Delivery.PerEvent(sink), retryBus, dlqBus, nowEpochSec)

  /** processBatch generalized over the delivery mode. A configured
    * `dedupHorizon` applies here too — its deterministic batch form
    * (first arrival per (source, id) within the batch), so pure-batch and
    * streaming invocations of the same Spec agree on what gets delivered.
    * `start()` clears the knob before delegating: its stateful stage
    * already deduped the stream (WITH cross-batch state), and re-folding
    * every micro-batch would pay a shuffle for rows that are already
    * unique.
    */
  def processBatchWith(
      batch: DataFrame,
      spec: Spec,
      delivery: Delivery,
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      nowEpochSec: => Long = System.currentTimeMillis() / 1000): BatchResult = {
    val exactH = spec.config.dedupHorizon
    val nearH = spec.config.neardupHorizon
    if (exactH.isEmpty && nearH.isEmpty)
      processBatchCached(batch, spec, delivery, retryBus, dlqBus, nowEpochSec)
    else if (exactH.isDefined && nearH.isDefined) {
      // BOTH knobs: the combined single-operator fold
      // ([[StreamNearDedup.verdictsStreamBoth]] — the same operator the
      // streaming plan runs), so batch and streaming agree exactly: each
      // knob judged against all arrivals, kept iff neither flags. The
      // per-event verdict frame is pinned once; the two drop counters and
      // the kept frame read it, the kept frame is pinned for the routing
      // fan-out.
      val raw = batch.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val verdicts = StreamNearDedup.rollupBoth(
          StreamNearDedup.verdictsStreamBoth(raw,
            exactTtl = exactH, nearTtl = nearH).toDF())
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val dc = verdicts.agg(
            count(when(col("exact_dup"), 1)),
            count(when(col("near_dup"), 1))).head
          val kept = StreamNearDedup.keptOfBoth(verdicts)
            .persist(StorageLevel.MEMORY_AND_DISK)
          try {
            val r = processBatchCached(kept, spec, delivery, retryBus,
              dlqBus, nowEpochSec)
            r.copy(dedupDropped = dc.getLong(0),
              neardupDropped = dc.getLong(1))
          } finally { kept.unpersist(); () }
        } finally { verdicts.unpersist(); () }
      } finally { raw.unpersist(); () }
    } else {
      // ONE knob: pin the RAW batch (the input count for drop accounting
      // and the dedup fold must not re-scan the source); the survivor
      // count falls out of the routing sums, no extra action
      val raw = batch.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val totalIn = raw.count()
        val staged = exactH match {
          case Some(h) => IngestDedup.firstArrivals(raw, h).toDF()
          case None => StreamNearDedup.keepFirstContent(raw, ttl = nearH)
        }
        val cached = staged.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val r = processBatchCached(cached, spec, delivery, retryBus,
            dlqBus, nowEpochSec)
          val routed = r.delivered + r.filteredOut + r.toRetry + r.toDlq +
            r.undeliverable
          if (exactH.isDefined) r.copy(dedupDropped = totalIn - routed)
          else r.copy(neardupDropped = totalIn - routed)
        } finally { cached.unpersist(); () }
      } finally { raw.unpersist(); () }
    }
  }

  /** Filter, transform, deliver and route one batch, persisted by the
    * caller or re-readable (see [[processBatch]]). The happy path (every
    * passing event delivered) is ONE delivery action and no other job:
    * the input count, the passed count and the delivered count all come
    * out of the action [[pinOutcomes]] runs. The batch is not persisted
    * up front: under AQE a new cache materializes as a job of its own.
    * Failures persist the batch unless it already is, then add the
    * routing join, one aggregation and the bus appends, all reading the
    * cached batch and the pinned outcomes.
    */
  private def processBatchCached(
      batch: DataFrame,
      spec: Spec,
      delivery: Delivery,
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      nowEpochSec: => Long): BatchResult = {
    // the input count rides the delivery job (see pinOutcomes): observed
    // below the filter, read back once that job has run
    val passed = batch.observe(InputRowsMetric, count(lit(1)).as("rows"))
      .filter(spec.predicate)

    // transform (interpreter path keeps per-event error routing)
    val transformed = spec.transformerJson match {
      case Some(tj) => TransformRunner(passed, tj)
      case None => passed.select(
        col("sequence_number"), col("id"), col("source"), col("type"),
        col("datacontenttype"), col("data").as("body"),
        lit(null).cast("string").as("transform_error"))
    }

    // deliver per partition; collect outcomes (sequence_number, code)
    val ordered = spec.config.orderedEvent
    // the budget divisor is the DELIVERY concurrency, which the repartition
    // below makes EXACT: ordered mode funnels all sends through one task
    // (it gets the whole budget — dividing by the input partitions
    // throttled it to rate/32), and the parallel path is repartitioned to
    // precisely defaultParallelism tasks — a divisor above the real task
    // count would over-admit (N tasks × budget/cores with N > cores), one
    // below would over-throttle. Plan metadata only; the old
    // `batch.rdd.getNumPartitions` probe forced a Dataset→RDD conversion
    // per micro-batch (the fanOut lesson).
    val cores = batch.sparkSession.sparkContext.defaultParallelism
    val ratePerPartition = RateLimit.ratePerPartition(
      spec.config.rateLimitPerSec, if (ordered) 1 else cores)
    // ordered mode serializes *delivery* through one task (the reference's
    // per-subscription ordering) — repartition, not coalesce, so the
    // upstream filter/transform keep their scan parallelism, and sort so
    // the single task walks events in offset order. The parallel path
    // repartitions to exactly the core count only when it has to
    // (ADVICE r6 — this path was unconditional and shuffled every
    // transformed body even with no rate limit configured):
    //  - a rate limit NEEDS the exact partition count, because the
    //    per-task budget above is rate/cores and only sums to the
    //    configured rate when exactly `cores` tasks deliver;
    //  - an un-rate-limited batch only needs *enough* fan-out for the
    //    network-bound sends — the same metadata probe Tables.fanOut
    //    uses (inputFiles, pure plan metadata) spreads a few-split scan
    //    and leaves an already-parallel batch alone, zero shuffle.
    val toDeliver =
      if (ordered) transformed.repartition(1).sortWithinPartitions(col("sequence_number"))
      else if (spec.config.rateLimitPerSec > 0) transformed.repartition(cores)
      else if (transformed.inputFiles.nonEmpty) graft.Tables.fanOut(transformed)
      // fanOut's metadata probe no-ops on zero input files (in-memory or
      // shuffle-derived micro-batch sources, which is what foreachBatch
      // hands this path) — fall back to the ACTUAL partition count so a
      // single-partition batch still fans its network-bound sends across
      // cores (ADVICE r7). The .rdd probe is safe here: the delivery
      // subtree is narrow per-row work, so no stage executes to answer it.
      else if (transformed.rdd.getNumPartitions < cores) transformed.repartition(cores)
      else transformed
    val deliveryMode = delivery
    // rows inside mapPartitions carry no schema; resolve indices driver-side
    val schema = toDeliver.schema
    val seqIdx = schema.fieldIndex("sequence_number")
    val terrIdx = schema.fieldIndex("transform_error")
    val idIdx = schema.fieldIndex("id")
    val srcIdx = schema.fieldIndex("source")
    val typeIdx = schema.fieldIndex("type")
    val ctIdx = schema.fieldIndex("datacontenttype")
    val bodyIdx = schema.fieldIndex("body")
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt)
    // The delivery mapPartitions below is SIDE-EFFECTING (it calls the
    // sink) — [[pinOutcomes]] pins its results as RDD blocks in exactly
    // one job so no downstream plan can ever re-execute it (the r17
    // once-only fix; see pinOutcomes' scaladoc and OnceOnlyPinSpec).
    val outcomesDs = toDeliver.mapPartitions { rows =>
      var windowStart = System.nanoTime()
      var inWindow = 0
      def rateTake(n: Int): Unit = if (ratePerPartition > 0) { // leaky bucket
        inWindow += n
        if (inWindow > ratePerPartition) {
          val elapsed = System.nanoTime() - windowStart
          if (elapsed < 1e9) Thread.sleep(((1e9 - elapsed) / 1e6).toLong)
          windowStart = System.nanoTime()
          inWindow = n
        }
      }
      def mk(row: Row): Deliverable = {
        def s(i: Int): String = if (row.isNullAt(i)) null else row.getString(i)
        Deliverable(row.getLong(seqIdx), s(idIdx), s(srcIdx), s(typeIdx), s(ctIdx), s(bodyIdx))
      }
      def asCode(r: Either[Int, Unit]): Int = r match {
        case Right(_) => 0
        case Left(c) => if (ordered) Backoff.OrderErrorCode else c
      }
      deliveryMode match {
        case Delivery.PerEvent(sinkFn) =>
          rows.map { row =>
            rateTake(1)
            val code =
              if (!row.isNullAt(terrIdx)) Backoff.TransformErrorCode
              else asCode(sinkFn(mk(row)))
            (row.getLong(seqIdx), code)
          }
        case Delivery.Batched(sinkFn, maxSize) =>
          // size-flush (trigger.go:366-372): full chunks of maxSize, the
          // iterator tail is the micro-batch's final time-flush. Transform
          // errors never reach the sink (trigger.go:326-336) and the batch
          // result applies to every event in the call.
          rows.grouped(math.max(1, maxSize)).flatMap { chunk =>
            rateTake(chunk.size)
            val (bad, ok) = chunk.partition(r => !r.isNullAt(terrIdx))
            val badOut = bad.map(r => (r.getLong(seqIdx), Backoff.TransformErrorCode))
            val okOut =
              if (ok.isEmpty) Seq.empty
              else {
                val code = asCode(sinkFn(ok.map(mk)))
                ok.map(r => (r.getLong(seqIdx), code))
              }
            badOut ++ okOut
          }
      }
    }
    val (outcomes, passedCount, deliveredCount) = pinOutcomes(outcomesDs)
    // the optimizer may drop the observation with its subtree (a filter
    // that folds to false); only then is the input counted on its own
    val total = outcomesDs.queryExecution.observedMetrics.get(InputRowsMetric)
      .map(_.getLong(0)).getOrElse(batch.count())
    if (deliveredCount == passedCount) { // happy path: no routing work at all
      outcomes.unpersist()
      return BatchResult(deliveredCount, total - passedCount, 0L, 0L)
    }
    // the failure join and its routing frames read the batch through one
    // cache; a batch the caller already persisted is read as it is
    val pinInput = batch.storageLevel == StorageLevel.NONE
    if (pinInput) batch.persist(StorageLevel.MEMORY_AND_DISK)
    // ADVICE r17 low: a throw from the failure join or a retry/DLQ append
    // must not leak the pinned outcome blocks — across the failed
    // micro-batches of a long-running query that accumulates
    // block-manager storage without bound
    try {
      val failed = outcomesFrame(batch.sparkSession, outcomes)
        .filter(col("code") =!= 0)

      // failure routing. The join reads the persisted batch, not the source;
      // no broadcast — on a sink outage `failed` is the whole batch, and
      // broadcasting it is a driver OOM at scale. The key is a long, so the
      // shuffle hash join is cheap (and AQE will broadcast small sides itself).
      val failedEvents = batch.join(failed, Seq("sequence_number"))

      // attempt escalation (trigger.go:455-526): this delivery's attempt
      // number is the event's stamped count + 1; retryable failures below the
      // cap re-enter the retry bus with the next backoff, at the cap they fall
      // through to the DLQ.
      val attempt = coalesce(
        col("attributes").getItem("xvanusretryattempts").cast("int"), lit(0)) + 1
      val retryableCode = Backoff.isRetryableCol(col("code"))
      val canRetry = retryableCode && attempt <= spec.config.maxRetryAttempts

      // both routing counts in one aggregation job; appends only run when
      // their side is non-empty (failedEvents reads the persisted batch +
      // cached outcomes, so none of this re-touches the source)
      val wantRetry = retryBus.isDefined && !ordered
      val rc = failedEvents.agg(
        count(when(canRetry, 1)), count(when(!canRetry, 1))).head
      val (nCanRetry, nNoRetry) = (rc.getLong(0), rc.getLong(1))

      val now = nowEpochSec
      // REBALANCE the routed frames before their bus appends (guide §6,
      // optimization r21): the failure join broadcasts the tiny outcome
      // side, so the written frame otherwise inherits the persisted
      // batch's partitioning — one near-empty parquet file per partition,
      // PER micro-batch, which is exactly the small-file growth the bus
      // manifest/compaction machinery exists to fight (measured: an 8-row
      // retry append wrote 8 files). The AQE-managed exchange coalesces a
      // small failure set to one file and still splits an outage-scale
      // set to advisory-sized files; it moves only the failed subset.
      val retryCount = retryBus match {
        case Some(bus) if wantRetry && nCanRetry > 0 =>
          bus.append(failedEvents.hint("rebalance").filter(canRetry)
            .withColumn("attributes", stampAttrs(col("attributes"),
              "xvanusretryattempts" -> attempt.cast("string"),
              "xvanussubscriptionid" -> lit(spec.config.subscriptionId),
              "xvanusdeliverytime" ->
                timestamp_seconds(lit(now) + Backoff.delaySecondsCol(attempt)).cast("string")))
            .drop("code"))
          nCanRetry
        case _ => 0L
      }

      val (dlqSource, dlqN) =
        if (!wantRetry) (failedEvents, nCanRetry + nNoRetry)
        else (failedEvents.filter(!canRetry), nNoRetry)
      val dlqCount = dlqBus match {
        case Some(bus) if !spec.config.disableDeadLetter && dlqN > 0 =>
          bus.append(dlqSource.hint("rebalance").withColumn("attributes",
            stampAttrs(col("attributes"),
              "deadletterreason" ->
                when(retryableCode && attempt > spec.config.maxRetryAttempts,
                  lit(s"maxRetryAttempts=${spec.config.maxRetryAttempts} exceeded"))
                  .otherwise(concat(lit("delivery error code="), col("code"))),
              "lastdeliverytime" -> timestamp_seconds(lit(now)).cast("string"),
              "lastdeliveryerror" -> col("code").cast("string"),
              "xvanussubscriptionid" -> lit(spec.config.subscriptionId)))
            .drop("code"))
          dlqN
        case _ => 0L
      }
      BatchResult(deliveredCount, total - passedCount, retryCount, dlqCount,
        undeliverable =
          (passedCount - deliveredCount) - retryCount - dlqCount)
    } finally {
      outcomes.unpersist()
      if (pinInput) batch.unpersist()
      ()
    }
  }

  /** Name of the input-row count [[processBatchCached]] observes on its
    * batch; [[pinOutcomes]]' job fills it.
    */
  private val InputRowsMetric = "graft_runner_input_rows"

  /** Pin a SIDE-EFFECTING delivery-outcome dataset as RDD blocks,
    * materialized in exactly ONE action that also yields the
    * (passed, delivered) counts — micro-batch latency is driver job
    * count, so the counts ride the materializing action. The action runs
    * `outcomes`' OWN QueryExecution, so every metric observed in its plan
    * is filled by the same jobs and reads back from
    * `outcomes.queryExecution.observedMetrics` afterwards: that is how
    * [[processBatchCached]] gets its input count with no job of its own.
    * Under AQE a plan with a shuffle (the delivery fan-out) runs as two
    * jobs, its map stage and the aggregate.
    *
    * This is the r17 once-only-delivery fix as a named seam: the delivery
    * `mapPartitions` calls the sink, so it must never sit under a plan
    * fragment Spark may evaluate more than once. A cached DataFrame gives
    * no such guarantee — AQE can re-execute the subtree when a replanned
    * stage misses the cache (observed as a whole micro-batch delivered
    * TWICE with zero task failures). Pinning the outcomes as RDD blocks
    * closes the class: every downstream frame ([[outcomesFrame]]) scans
    * the pinned RDD as its only plan leaf, so the delivery subtree is
    * unreachable from any later plan. Block loss on executor failure recomputes a
    * partition (= re-delivery), which is the at-least-once contract
    * retries already carry. OnceOnlyPinSpec pins both properties — do NOT
    * swap this back to a DataFrame `.cache()`.
    */
  private[streaming] def pinOutcomes(
      outcomes: Dataset[(Long, Int)]): (RDD[(Long, Int)], Long, Long) = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val qe = outcomes.queryExecution
    // the rows are read positionally: the tuple encoder's (_1 bigint, _2 int)
    require(qe.analyzed.output.map(_.dataType) == Seq(LongType, IntegerType),
      s"outcomes must be (bigint, int) rows: ${qe.analyzed.output}")
    val rdd = qe.toRdd.map(r => (r.getLong(0), r.getInt(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a throwing sink (raw exception instead of Left) fails this job
    // BEFORE the caller receives the handle — unpersist here or every
    // failed micro-batch of a long-running query leaks the partial
    // blocks (the same class as the failure-routing finally)
    val (passed, delivered) =
      try rdd.aggregate((0L, 0L))(
        (acc, r) => (acc._1 + 1L, if (r._2 == 0) acc._2 + 1L else acc._2),
        (a, b) => (a._1 + b._1, a._2 + b._2))
      catch { case t: Throwable => rdd.unpersist(blocking = false); throw t }
    (rdd, passed, delivered)
  }

  /** The downstream view over [[pinOutcomes]]'d blocks: the pinned RDD is
    * the plan's only leaf, with NO delivery operator beneath it
    * (OnceOnlyPinSpec asserts the plan shape by RDD identity).
    */
  private[streaming] def outcomesFrame(session: SparkSession,
      outcomes: RDD[(Long, Int)]): DataFrame = {
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt)
    session.createDataset(outcomes)(enc).toDF("sequence_number", "code")
  }

  /** Wire the streaming form: source bus → (ingest dedup when a horizon is
    * configured) → filter → transform → foreachBatch delivery with
    * retry/DLQ routing. Checkpointing gives the offset-commit semantics
    * natively — and carries the dedup state, so duplicates republished
    * across a query restart are still dropped inside the horizon.
    *
    * Termination caveat: with a `dedupHorizon` set the plan carries a
    * ProcessingTimeTimeout state operator, and Spark keeps scheduling
    * (empty) micro-batches to evaluate its timeouts — the query does NOT
    * self-terminate even under `Trigger.AvailableNow`. Drain-style
    * callers should use [[drain]], which encapsulates the
    * poll-until-quiet-then-stop recipe; a continuous subscription (the
    * production shape) runs until stopped anyway, with the idle batches
    * doing the state aging.
    */
  def start(
      spark: SparkSession,
      sourceBus: EventBus,
      spec: Spec,
      sink: Sink,
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val source = sourceBus.readStream(spark)
    // the stateful stage (either or both knobs) dedupes with cross-batch
    // state; clear the knobs so processBatch doesn't re-fold every
    // micro-batch
    val batchSpec = spec.copy(config =
      spec.config.copy(dedupHorizon = None, neardupHorizon = None))
    val stateful = spec.config.dedupHorizon.isDefined ||
      spec.config.neardupHorizon.isDefined
    val deliver = (batch: DataFrame) => {
      // a dedup stage's output must not run twice (the failure join would
      // re-execute the state operator): pin it. A plain batch is a scan of
      // immutable bus files, and its happy path reads it once.
      if (!stateful) processBatch(batch, spec = batchSpec, sink, retryBus, dlqBus)
      else {
        val cached = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try processBatch(cached, spec = batchSpec, sink, retryBus, dlqBus)
        finally { cached.unpersist(); () }
      }
      ()
    }
    // horizoned plans carry versioned dedup state: refuse a checkpoint
    // written under an incompatible state-key format instead of silently
    // missing duplicates until the stale state TTLs out (ADVICE r17)
    if (stateful) StreamNearDedup.ensureStateFormat(spark, checkpoint)
    (spec.config.dedupHorizon, spec.config.neardupHorizon) match {
      case (Some(eh), Some(nh)) =>
        // BOTH knobs in ONE state operator (the exact identity check
        // rides the fingerprint stage as a 4th state row per event —
        // Spark cannot chain two flatMapGroupsWithState stages); the
        // per-event rollup runs inside foreachBatch
        StreamNearDedup.verdictsStreamBoth(source,
          exactTtl = Some(eh), nearTtl = Some(nh)).toDF()
          .writeStream
          .option("checkpointLocation", checkpoint)
          .trigger(trigger)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            deliver(StreamNearDedup.keptOfBoth(
              StreamNearDedup.rollupBoth(batch)))
          }
          .start()
      case (None, Some(h)) =>
        // near-dup stage emits 3 block rows per event (no post-state agg
        // allowed in-plan); the per-event rollup runs inside foreachBatch
        StreamNearDedup.verdictsStream(source, ttl = Some(h)).toDF()
          .writeStream
          .option("checkpointLocation", checkpoint)
          .trigger(trigger)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            deliver(StreamNearDedup.rollupKept(batch))
          }
          .start()
      case (exactH, None) =>
        val deduped = exactH match {
          case Some(h) => IngestDedup.firstArrivals(source, h).toDF()
          case None => source
        }
        deduped
          .writeStream
          .option("checkpointLocation", checkpoint)
          .trigger(trigger)
          .foreachBatch { (batch: DataFrame, _: Long) => deliver(batch) }
          .start()
    }
  }

  /** Where a late-attaching subscription starts reading
    * (the reference's per-subscription offset-reset policy,
    * server/trigger/worker.go + offset/offset.go:27-139): from the bus's
    * beginning, from now, or from the first offset whose event time is at
    * or after a timestamp (QueryOffsetByTime, [[EventBus.offsetByTime]]).
    */
  sealed trait OffsetReset extends Serializable
  object OffsetReset {
    case object Earliest extends OffsetReset
    case object Latest extends OffsetReset
    final case class ByTime(ts: java.sql.Timestamp) extends OffsetReset
  }

  private def addResults(a: BatchResult, b: BatchResult): BatchResult =
    BatchResult(
      a.delivered + b.delivered, a.filteredOut + b.filteredOut,
      a.toRetry + b.toRetry, a.toDlq + b.toDlq,
      a.dedupDropped + b.dedupDropped,
      a.neardupDropped + b.neardupDropped,
      a.undeliverable + b.undeliverable)

  /** Threads in each shared group's member pool ([[SharedGroup]]). */
  private[streaming] val MemberPoolWidth =
    math.min(16, math.max(2, Runtime.getRuntime.availableProcessors))

  /** One persisted roster entry ([[resumeSharedGroup]]): everything a
    * group restart needs except the sink function itself (functions
    * don't serialize — the caller re-supplies them by subscription id).
    * `attached` is None for a founder.
    */
  final case class RosterEntry(
      spec: Spec, deliveryKind: String, maxBatchSize: Option[Int],
      attached: Option[Attached])

  /** An attacher's own stream: rows above `after` (None = the bus's
    * beginning), checkpointed in `dir` under the group checkpoint's
    * `attached/`. A roster written before attachers read the bus
    * themselves records a `guard` instead (every row at or below it was
    * delivered); it loads as `Attached(Some(guard), None)`, and
    * [[resumeSharedGroup]] starts that member on a fresh directory above
    * max(guard, the shared checkpoint's committed offset).
    */
  final case class Attached(after: Option[Long], dir: Option[String])

  /** A subscription attached to a running group: its own stream from
    * `after`, checkpointed in `dir`.
    */
  private final class Attacher(val spec: Spec, val delivery: Delivery,
      val after: Option[Long], val dir: String) {
    @volatile var query: StreamingQuery = _
    @volatile var catchingUp = true
    // false once detached: a batch that starts later delivers nothing
    @volatile var live = true
  }

  /** A fresh checkpoint directory name for an attacher: unique per
    * attach, so a re-attach never meets a detached stream still
    * finishing its last batch.
    */
  private def attachDir(spec: Spec): String =
    spec.config.subscriptionId.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '_') c else '_') +
      "-" + java.util.UUID.randomUUID()

  /** Render the membership as the roster file's JSON — the
    * Spark-side analogue of the reference controller's persisted
    * subscription assignment (server/controller/trigger/). Specs persist
    * whole (filters via [[graft.model.FilterSpec.toJson]], transformer
    * JSON verbatim, config knobs); deliveries persist by KIND only.
    */
  private def rosterJson(ms: Seq[(Spec, Delivery, Option[Attacher])]): String = {
    import graft.json._
    JObj.of("members" -> JArr(ms.map { case (spec, d, att) =>
      val dj = d match {
        case Delivery.PerEvent(_) => JObj.of("kind" -> JStr("perEvent"))
        case Delivery.Batched(_, n) =>
          JObj.of("kind" -> JStr("batched"), "maxBatchSize" -> JInt(n))
      }
      val attached = att.map(a => "attached" -> JObj.of(
        "after" -> a.after.map(JInt(_): JValue).getOrElse(JNull),
        "dir" -> JStr(a.dir)))
      JObj.of((attached.toSeq ++ Seq(
        "delivery" -> dj,
        "spec" -> JObj.of(
          "subscriptionId" -> JStr(spec.config.subscriptionId),
          "filters" -> graft.model.FilterSpec.listToJson(spec.filters),
          // the raw transformer text as a STRING member — parsing it here
          // would make saveRoster throw on a not-quite-JSON transformer
          // that the runtime otherwise degrades to per-event transform
          // errors (and byte-exact round-trip beats a re-render anyway)
          "transformer" -> spec.transformerJson
            .map(t => JStr(t): JValue).getOrElse(JNull),
          "config" -> JObj.of(
            "maxRetryAttempts" -> JInt(spec.config.maxRetryAttempts),
            "disableDeadLetter" -> JBool(spec.config.disableDeadLetter),
            "orderedEvent" -> JBool(spec.config.orderedEvent),
            "rateLimitPerSec" -> JInt(spec.config.rateLimitPerSec))))): _*): JValue
    }.toVector)).render
  }

  /** Parse a roster file back to its entries ([[rosterJson]]'s inverse;
    * a pre-attacher-stream roster's guards load as [[Attached]] says).
    */
  def loadRoster(rosterPath: String): Seq[RosterEntry] = {
    import graft.json._
    val raw = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(rosterPath)),
      "UTF-8")
    def fail(msg: String) =
      throw new IllegalArgumentException(s"roster $rosterPath: $msg")
    JValue.parse(raw) match {
      case o: JObj => o.get("members") match {
        case Some(JArr(items)) => items.map {
          case m: JObj =>
            val spec = m.get("spec") match {
              case Some(sj: JObj) =>
                val cfg = sj.get("config") match {
                  case Some(c: JObj) => Config(
                    subscriptionId = sj.get("subscriptionId")
                      .collect { case JStr(s) => s }
                      .getOrElse(fail("spec.subscriptionId missing")),
                    maxRetryAttempts = c.get("maxRetryAttempts")
                      .collect { case JInt(v) => v.toInt }.getOrElse(32),
                    disableDeadLetter = c.get("disableDeadLetter")
                      .collect { case JBool(b) => b }.getOrElse(false),
                    orderedEvent = c.get("orderedEvent")
                      .collect { case JBool(b) => b }.getOrElse(false),
                    rateLimitPerSec = c.get("rateLimitPerSec")
                      .collect { case JInt(v) => v.toInt }.getOrElse(0))
                  case _ => fail("spec.config missing")
                }
                Spec(
                  filters = sj.get("filters")
                    .map(f => graft.model.FilterSpec.listFromJson(f.render))
                    .getOrElse(Seq.empty),
                  transformerJson = sj.get("transformer").collect {
                    case JStr(t) => t
                  },
                  config = cfg)
              case _ => fail("member.spec missing")
            }
            val (kind, mbs) = m.get("delivery") match {
              case Some(dj: JObj) =>
                (dj.get("kind").collect { case JStr(s) => s }
                  .getOrElse(fail("delivery.kind missing")),
                  dj.get("maxBatchSize").collect { case JInt(v) => v.toInt })
              case _ => fail("member.delivery missing")
            }
            val attached = (m.get("attached"), m.get("guard")) match {
              case (Some(aj: JObj), _) => Some(Attached(
                aj.get("after").collect { case JInt(v) => v },
                Some(aj.get("dir").collect { case JStr(s) => s }
                  .getOrElse(fail("attached.dir missing")))))
              case (None, Some(JInt(g))) =>
                if (g == Long.MinValue) None else Some(Attached(Some(g), None))
              case (None, None) => None
              case _ => fail("member.attached must be an object, guard a number")
            }
            RosterEntry(spec, kind, mbs, attached)
          case _ => fail("members[] entry must be an object")
        }
        case _ => fail("members array missing")
      }
      case _ => fail("roster must be a JSON object")
    }
  }

  /** A running shared-scan fan-out group ([[startSharedGroup]]).
    *
    * Founders, the subscriptions the group starts (or resumes) with,
    * share ONE stream of the bus: each micro-batch is pinned once and
    * routed to every founder concurrently on the group's own member
    * pool. [[attach]] adds a subscription to the running group as a bus
    * stream of its OWN ([[EventBus.readStream]] from its reset offset,
    * on its own checkpoint under the group checkpoint's `attached/`):
    * exactly-once from that offset is a property of the stream and its
    * checkpoint (Structured Streaming, SIGMOD 2018), and the reference
    * likewise gives every subscription its own reader
    * (server/trigger/worker.go). The trade: each attacher is one more
    * reader of the bus, while founders share one scan.
    *
    * No membership change waits on a member's in-flight batch: a shared
    * batch holds the group lock only to snapshot the founders at its
    * start (a change takes effect at the next batch), an attacher's
    * history runs on its own stream, and [[detach]] lets an attacher's
    * in-flight batch finish in the background.
    *
    * The roster is driver memory unless a roster path is configured
    * ([[startSharedGroup]]'s `rosterPath` — then membership persists
    * across restarts and [[SubscriptionRunner.resumeSharedGroup]]
    * rebuilds the group self-contained: founders resume on the shared
    * checkpoint, attachers on their own). Without one, a restarted group
    * is rebuilt by the caller: founders see nothing twice (the shared
    * checkpoint skips processed batches), and a former attacher attached
    * again starts a fresh stream from its reset policy.
    */
  final class SharedGroup private[SubscriptionRunner] (
      spark: SparkSession,
      sourceBus: EventBus,
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      checkpoint: String,
      trigger: Trigger,
      onBatch: Map[String, BatchResult] => Unit,
      rosterPath: Option[String]) {
    private var founders = Vector.empty[(Spec, Delivery)]
    private var attachers = Vector.empty[Attacher]
    // detached attachers whose in-flight batch is still finishing
    private var retiring = Set.empty[Attacher]
    private var stopped = false
    // the founders' shared stream
    @volatile private[SubscriptionRunner] var query: StreamingQuery = _

    /** Member routing runs on the group's OWN bounded pool: a group
      * whose members sit in slow sinks never queues another group's
      * routing. Routing is driver-side job orchestration (each task is a
      * handful of Spark actions over the pinned batch); tasks never
      * submit back into the pool (no starvation cycle) and never take
      * the group lock (no deadlock). Threads start on demand and time
      * out when idle, so a group that is never stopped holds none.
      */
    private val pool = {
      val p = new java.util.concurrent.ThreadPoolExecutor(
        MemberPoolWidth, MemberPoolWidth,
        30L, java.util.concurrent.TimeUnit.SECONDS,
        new java.util.concurrent.LinkedBlockingQueue[Runnable],
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-shared-member-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        })
      p.allowCoreThreadTimeOut(true)
      p
    }

    private[SubscriptionRunner] def addMembers(
        subs: Seq[(Spec, Delivery)], restored: Seq[Attacher]): Unit =
      synchronized {
        subs.foreach { case (spec, d) =>
          requireJoinable(spec)
          founders :+= ((spec, d))
        }
        restored.foreach { a =>
          requireJoinable(a.spec)
          a.catchingUp = false
          attachers :+= a
        }
        saveRoster()
      }

    /** Start the founders' shared stream and each restored attacher's. */
    private[SubscriptionRunner] def start(): Unit = {
      query = sourceBus.readStream(spark)
        .writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          processShared(batch)
          ()
        }
        .start()
      attachers.foreach(a => a.query = runAttacher(a, trigger, reportLive(a)))
    }

    private def attacherCheckpoint(a: Attacher): String =
      s"$checkpoint/attached/${a.dir}"

    /** The checkpoint of every stream the group runs, the shared one
      * first — what [[EventBus.compactBelow]] needs under a live group.
      */
    def checkpoints: Seq[String] = synchronized {
      checkpoint +: attachers.map(attacherCheckpoint)
    }

    private def queries: Seq[StreamingQuery] =
      (query +: (attachers ++ retiring).map(_.query)).filter(_ != null)

    /** Stop every stream of the group, then its member pool. */
    def stop(): Unit = {
      val qs = synchronized { stopped = true; queries }
      qs.foreach(_.stop())
      pool.shutdown()
    }

    /** Wait up to `timeoutMs` for every stream of the group to terminate
      * (under `Trigger.AvailableNow` each ends once it has drained); true
      * iff all did. A stream's failure is rethrown.
      */
    def awaitTermination(timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime + timeoutMs * 1000000L
      synchronized(queries).forall(q => q.awaitTermination(
        math.max(1L, (deadline - System.nanoTime) / 1000000L)))
    }

    /** Persist the roster to the configured path, atomically
      * (write-temp + rename). Always called under the group lock, so the
      * file is a consistent snapshot of the membership.
      */
    private def saveRoster(): Unit = rosterPath.foreach { rp =>
      // IO failures are logged, not thrown: by the time this runs the
      // membership change is already live (a registered attach, a
      // completed detach), and failing the caller would report a member
      // as dead while it keeps delivering. Durability degrades; liveness
      // doesn't.
      try {
        val json = rosterJson(founders.map { case (s, d) => (s, d, None) } ++
          attachers.map(a => (a.spec, a.delivery, Some(a))))
        val p = java.nio.file.Paths.get(rp)
        Option(p.getParent).foreach { d =>
          java.nio.file.Files.createDirectories(d); ()
        }
        val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
        java.nio.file.Files.write(tmp, json.getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, p,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      } catch {
        case e: Throwable =>
          System.err.println(s"[shared-group] roster write to $rp failed: $e")
      }
    }

    private def requireJoinable(spec: Spec): Unit = {
      require(
        spec.config.dedupHorizon.isEmpty && spec.config.neardupHorizon.isEmpty,
        s"subscription ${spec.config.subscriptionId}: horizon knobs are " +
          "per-subscription streaming state — run it as a dedicated query")
      // a DURABLE group only admits specs its roster can round-trip:
      // duplicate Exact/Prefix/Suffix keys collapse through the JSON
      // object form (silently WIDENING the AND-of-pairs filter on
      // resume), and empty pair values fail fromJson's validation at
      // load — both must surface here, before the member is live, not
      // on the restart that tries to rebuild it
      if (rosterPath.isDefined) {
        val rt =
          try graft.model.FilterSpec.listFromJson(
            graft.model.FilterSpec.listToJson(spec.filters).render) == spec.filters
          catch { case _: IllegalArgumentException => false }
        require(rt,
          s"subscription ${spec.config.subscriptionId}: filters do not " +
            "round-trip through the roster JSON (duplicate pair keys or " +
            "empty values) — a resumed group would compile a different filter")
      }
      // ids key the per-batch results map AND the retry/DLQ stamps — a
      // duplicate would silently drop one subscription's accounting and
      // make the two indistinguishable on spool release
      val id = spec.config.subscriptionId
      require(!founders.exists(_._1.config.subscriptionId == id) &&
        !attachers.exists(_.spec.config.subscriptionId == id),
        s"duplicate subscriptionId in shared group: $id")
    }

    /** One shared micro-batch: snapshot the founders under a short lock,
      * pin the batch ONCE, and route every snapshot member over the
      * cached copy with NO group lock held, so registration never queues
      * behind an in-flight batch. A detached founder still finishes the
      * batch its snapshot belongs to — whole-batch or nothing, never
      * half.
      *
      * Members route CONCURRENTLY over the pinned batch: routed one
      * after another, shared-batch wall time would be the SUM of the
      * members' delivery times and one slow sink would stall every other
      * member. The reference delivers per-subscription concurrently —
      * each subscription is its own trigger worker with its own goroutine
      * pool (server/trigger/trigger/trigger.go:97,134,314). Retry/DLQ
      * appends from concurrent members are serialized by the per-path bus
      * append lock ([[EventBus.append]]). A member failure is rethrown —
      * after EVERY member's pass completes, so no straggler's sink keeps
      * delivering into a torn-down query.
      */
    private[SubscriptionRunner] def processShared(batch: DataFrame): Unit = {
        val live = synchronized { founders }
        val cached = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          def route(spec: Spec, delivery: Delivery): BatchResult =
            processBatchCached(cached, spec, delivery, retryBus, dlqBus,
              System.currentTimeMillis() / 1000)
          val results: Map[String, BatchResult] =
            if (live.sizeIs <= 1)
              live.map { case (spec, d) =>
                spec.config.subscriptionId -> route(spec, d)
              }.toMap
            else {
              val fs = live.map { case (spec, d) =>
                spec.config.subscriptionId -> pool.submit(
                  new java.util.concurrent.Callable[BatchResult] {
                    def call(): BatchResult = route(spec, d)
                  })
              }
              // await ALL before rethrowing the first failure
              val done = fs.map { case (id, f) =>
                id -> (try Right(f.get())
                catch {
                  case e: java.util.concurrent.ExecutionException =>
                    Left(Option(e.getCause).getOrElse(e))
                  case e: InterruptedException =>
                    // the stream thread is being torn down (query.stop
                    // interrupts the micro-batch thread). cancel(true):
                    // an un-started member never begins delivering, and
                    // an in-flight member's routing thread is
                    // interrupted — it dies at its next blocking point
                    // (a job await), submitting no further routing jobs
                    // into the torn-down query. What this CANNOT undo:
                    // executor tasks already mid-partition finish that
                    // partition (their sink calls included) — the same
                    // at-least-once surface as a crash here, and why a
                    // post-restart replay asserts set-, not
                    // count-equality (EndToEndSpec stop-drain case). The
                    // get() sweep merely observes cancellation; a
                    // cancelled FutureTask's get() returns immediately,
                    // it does not wait out the Callable.
                    fs.foreach(_._2.cancel(true))
                    fs.foreach { p =>
                      try { p._2.get(); () } catch { case _: Throwable => () }
                    }
                    Thread.currentThread().interrupt()
                    throw e
                })
              }
              done.foreach { case (_, Left(t)) => throw t; case _ => () }
              done.collect { case (id, Right(r)) => id -> r }.toMap
            }
          onBatch(results)
        } finally { cached.unpersist(); () }
    }

    /** An attacher's own stream: the bus above its offset, routed for it
      * alone (a batch that starts after [[detach]] delivers nothing).
      */
    private def runAttacher(a: Attacher, t: Trigger,
        report: BatchResult => Unit): StreamingQuery =
      sourceBus.readStream(spark, a.after)
        .writeStream
        .option("checkpointLocation", attacherCheckpoint(a))
        .trigger(t)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          a.synchronized {
            if (a.live) {
              report(processBatchCached(batch, a.spec, a.delivery, retryBus,
                dlqBus, System.currentTimeMillis() / 1000))
            }
          }
          ()
        }
        .start()

    private def reportLive(a: Attacher): BatchResult => Unit =
      r => onBatch(Map(a.spec.config.subscriptionId -> r))

    /** The bus's committed high-water mark, None when nothing is
      * committed (reading a nonexistent or empty bus throws).
      */
    private def committedMax(): Option[Long] =
      try Option(sourceBus.maxSequenceFrame(spark).head.getAs[java.lang.Long](0))
        .map(_.longValue)
      catch { case _: org.apache.spark.sql.AnalysisException => None }

    /** The ByTime offset SEEK (block_seek.go:45-86), not a time filter:
      * the reset point is the FIRST offset with time >= ts; everything
      * at-or-after it (out-of-order times included) is delivered,
      * everything before it is skipped. None = no qualifying offset on
      * disk yet.
      */
    private def probeByTime(ts: java.sql.Timestamp): Option[Long] =
      try {
        val first = sourceBus.offsetByTime(spark, ts).head
        if (first.isNullAt(0)) None else Some(first.getLong(0))
      } catch { case _: org.apache.spark.sql.AnalysisException => None }

    /** The offset an attacher's stream starts after (None = the bus's
      * beginning). `Latest` starts at the committed max. `ByTime` starts
      * just below the seek point, or at the committed max when nothing
      * qualifies yet. That max is read BEFORE the probe: a qualifying
      * row committed before the probe is found by it, and one committed
      * after the max was read sorts above that max (appends are
      * monotone), so no qualifying row falls between the two reads.
      */
    private def startAfter(reset: OffsetReset): Option[Long] = reset match {
      case OffsetReset.Earliest => None
      case OffsetReset.Latest => committedMax()
      case OffsetReset.ByTime(ts) =>
        val b0 = committedMax()
        probeByTime(ts).map(_ - 1).orElse(b0)
    }

    /** Add a subscription to the running group as a bus stream of its
      * own, starting at its reset offset. The history committed when the
      * attach starts runs as a catch-up (`Trigger.AvailableNow` on the
      * attacher's checkpoint), and its summed [[BatchResult]] is
      * returned (zeros for `Latest`); the stream then restarts on the
      * same checkpoint with the group's trigger, so rows appended since
      * arrive live. History therefore arrives in offset order before any
      * live row, exactly once, with no lock held over any data work;
      * founders keep delivering throughout. Blocks the CALLING thread
      * until the catch-up completes; a failed catch-up removes the
      * member and rethrows.
      */
    def attach(spec: Spec, delivery: Delivery, reset: OffsetReset): BatchResult = {
      val a = new Attacher(spec, delivery, startAfter(reset), attachDir(spec))
      synchronized {
        requireJoinable(spec)
        attachers :+= a
        saveRoster()
      }
      val total = new java.util.concurrent.atomic.AtomicReference(
        BatchResult(0L, 0L, 0L, 0L))
      try {
        a.query = runAttacher(a, Trigger.AvailableNow(),
          r => { total.getAndUpdate(addResults(_, r)); () })
        a.query.awaitTermination()
      } catch {
        case t: Throwable =>
          synchronized {
            attachers = attachers.filterNot(_ eq a)
            saveRoster()
          }
          if (a.query != null) a.query.stop()
          deleteCheckpoint(a)
          throw t
      }
      a.query = runAttacher(a, trigger, reportLive(a))
      a.catchingUp = false
      if (synchronized(stopped)) a.query.stop()
      total.get
    }

    private def deleteCheckpoint(a: Attacher): Unit =
      try {
        val p = new org.apache.hadoop.fs.Path(attacherCheckpoint(a))
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      } catch {
        case e: java.io.IOException => System.err.println(
          s"[shared-group] deleting ${attacherCheckpoint(a)} failed: $e")
      }

    /** Remove a subscription from the running group (the reference
      * deletes a subscription from its live trigger worker,
      * server/trigger/worker.go RemoveSubscription) and return without
      * waiting on its in-flight batch. A founder leaves at the next
      * shared batch. An attacher's stream delivers no batch that starts
      * after this call; its in-flight batch, if any, finishes WHOLE, and
      * then the stream stops and its checkpoint is deleted. The id is
      * free at once: a re-attach starts a fresh stream from its own
      * reset policy. Refuses an attacher whose [[attach]] is still
      * catching up. Returns false if no member has the id.
      */
    def detach(subscriptionId: String): Boolean = {
      val (removed, gone) = synchronized {
        val gone = attachers.find(_.spec.config.subscriptionId == subscriptionId)
        if (gone.exists(_.catchingUp))
          throw new IllegalStateException(
            s"subscription $subscriptionId: attach in flight — detach after it completes")
        val before = founders.size + attachers.size
        founders = founders.filterNot(_._1.config.subscriptionId == subscriptionId)
        attachers = attachers.filterNot(gone.contains)
        retiring ++= gone
        val removed = founders.size + attachers.size < before
        if (removed) saveRoster()
        (removed, gone)
      }
      gone.foreach { a =>
        a.live = false
        val t = new Thread(() => {
          a.synchronized(()) // the in-flight batch finishes first
          a.query.stop()
          deleteCheckpoint(a)
          synchronized { retiring -= a }
        }, s"graft-detach-$subscriptionId")
        t.setDaemon(true)
        t.start()
      }
      removed
    }
  }

  /** One stream, N subscriptions — the fan-out shape a 100 TB bus needs:
    * a single source scan feeds every subscription's
    * filter/transform/deliver routing per micro-batch, instead of N
    * queries each re-reading the bus. The reference's trigger attaches
    * one worker (its own reader + offset) per subscription
    * (server/trigger/worker.go) — N readers of the same segments; on
    * Spark the natural plan is one scan, a pinned micro-batch, and N
    * routing passes over the cache, so bus-read I/O is constant in the
    * founder count.
    *
    * Each subscription brings its own [[Delivery]] (per-event or batched
    * — trigger.go:342-375 applies send batching per subscription
    * regardless of how the read is shared). Horizon knobs are
    * per-subscription streaming STATE and cannot ride a shared plan —
    * such specs are rejected; run them as dedicated [[start]] queries.
    * Founders advance together on the shared checkpoint; a subscription
    * added later via [[SharedGroup.attach]] reads the bus on a stream of
    * its own from its offset-reset policy.
    *
    * `onBatch` receives the founders' [[BatchResult]]s after each shared
    * micro-batch, keyed by subscriptionId, and each attacher's after each
    * of its live micro-batches (one key); it is called from the streams'
    * threads, concurrently across streams. `rosterPath` (optional) makes
    * the membership durable: every attach/detach atomically rewrites the
    * roster file, and [[resumeSharedGroup]] rebuilds the group from it
    * after a restart.
    */
  def startSharedGroup(
      spark: SparkSession,
      sourceBus: EventBus,
      subs: Seq[(Spec, Delivery)],
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: Map[String, BatchResult] => Unit = _ => (),
      rosterPath: Option[String] = None): SharedGroup = {
    require(subs.nonEmpty, "startSharedGroup needs at least one subscription")
    val group = new SharedGroup(spark, sourceBus, retryBus, dlqBus,
      checkpoint, trigger, onBatch, rosterPath)
    group.addMembers(subs, Seq.empty)
    group.start()
    group
  }

  /** Rebuild a shared group from its persisted roster — the self-contained
    * restart [[startSharedGroup]]'s `rosterPath` buys (the reference
    * persists subscription→worker assignment in the controller,
    * server/controller/trigger/). Founders resume on the shared
    * checkpoint, which skips processed batches; each attacher resumes on
    * its own checkpoint, so nothing replays. A roster written before
    * attachers had streams of their own is migrated, not refused (see
    * [[Attached]]). Sinks don't serialize — `deliveries` re-supplies each
    * member's [[Delivery]] by subscription id, and the persisted delivery
    * KIND is validated against it (a per-event sink wired where a batched
    * one was registered is a configuration bug worth failing fast on).
    */
  def resumeSharedGroup(
      spark: SparkSession,
      sourceBus: EventBus,
      rosterPath: String,
      deliveries: String => Delivery,
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: Map[String, BatchResult] => Unit = _ => ()): SharedGroup = {
    val entries = loadRoster(rosterPath)
    require(entries.nonEmpty, s"roster $rosterPath has no members")
    lazy val sharedCommitted = BusSource.committedOffset(
      new org.apache.hadoop.fs.Path(checkpoint)
        .getFileSystem(spark.sparkContext.hadoopConfiguration), checkpoint)
    val (founders, attachers) = entries.partitionMap { e =>
      val id = e.spec.config.subscriptionId
      val d = deliveries(id)
      val kind = d match {
        case Delivery.PerEvent(_) => "perEvent"
        case Delivery.Batched(_, _) => "batched"
      }
      require(kind == e.deliveryKind,
        s"subscription $id: roster records ${e.deliveryKind} delivery, " +
          s"caller wired $kind")
      e.attached match {
        case None => Left((e.spec, d))
        case Some(Attached(after, Some(dir))) =>
          Right(new Attacher(e.spec, d, after, dir))
        case Some(Attached(guard, None)) =>
          Right(new Attacher(e.spec, d,
            guard.map(g => sharedCommitted.fold(g)(math.max(g, _))),
            attachDir(e.spec)))
      }
    }
    val group = new SharedGroup(spark, sourceBus, retryBus, dlqBus,
      checkpoint, trigger, onBatch, Some(rosterPath))
    group.addMembers(founders, attachers)
    group.start()
    group
  }

  /** [[startSharedGroup]] with per-event sinks and no attach handle — the
    * original r15 surface, kept for fixed-roster callers.
    */
  def startShared(
      spark: SparkSession,
      sourceBus: EventBus,
      subs: Seq[(Spec, Sink)],
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      onBatch: Map[String, BatchResult] => Unit = _ => ()): StreamingQuery =
    startSharedGroup(spark, sourceBus,
      subs.map { case (spec, sink) => (spec, Delivery.PerEvent(sink)) },
      retryBus, dlqBus, checkpoint, trigger, onBatch).query

  /** One release pass over a due-time-bucketed retry spool: process every
    * fully-matured bucket (partition-pruned read — pending buckets are
    * never opened, and with nothing matured there is no Spark job at all),
    * re-deliver through the full routing (escalating attempts; next
    * generation appends back into the spool, bucketed by its new delivery
    * time — ONE write), then evict the released buckets. This is the
    * declarative form of the reference wheel's bucket flush
    * (timingwheel/bucket.go:112-136); the round-2 design instead re-wrote
    * every pending event on every trigger.
    */
  def releaseSpool(
      spark: SparkSession,
      spool: BucketedSpool,
      spec: Spec,
      sink: Sink,
      dlqBus: Option[EventBus],
      nowEpochSec: Long): BatchResult = {
    val buckets = spool.maturedBuckets(spark, nowEpochSec)
    if (buckets.isEmpty) BatchResult(0L, 0L, 0L, 0L)
    else {
      val matured = spool.readBuckets(spark, buckets)
      val res = processRetries(matured, spec, sink, Some(spool), dlqBus, nowEpochSec)
      spool.evict(spark, buckets)
      res
    }
  }

  /** One-shot drain: start, process everything currently on the bus, stop.
    * The SAFE counterpart to `start(..., AvailableNow)` — without a
    * dedup/near-dup horizon it is exactly that (await termination); with
    * one, the
    * ProcessingTimeTimeout state operator keeps scheduling empty batches
    * to evaluate timeouts and the query never self-terminates, so this
    * polls progress until a post-data batch reads zero input rows, then
    * stops. Callers that were open-coding the poll-and-stop recipe from
    * the `start` scaladoc should call this instead.
    */
  def drain(
      spark: SparkSession,
      sourceBus: EventBus,
      spec: Spec,
      sink: Sink,
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      checkpoint: String,
      timeoutMs: Long = 120000L): Unit = {
    val q = start(spark, sourceBus, spec, sink, retryBus, dlqBus, checkpoint)
    try {
      if (spec.config.dedupHorizon.isEmpty &&
          spec.config.neardupHorizon.isEmpty) {
        // propagate a partial drain the same way the horizon path does —
        // returning normally would claim the bus was fully processed
        if (!q.awaitTermination(timeoutMs))
          throw new java.util.concurrent.TimeoutException(
            s"drain did not complete within ${timeoutMs} ms")
      } else {
        val deadline = System.nanoTime + timeoutMs * 1000000L
        var done = false
        while (!done && q.isActive && System.nanoTime < deadline) {
          val p = q.lastProgress
          // batchId > 0 ⇒ at least one real batch ran before this empty one
          done = p != null && p.numInputRows == 0 && p.batchId > 0
          if (!done) Thread.sleep(50)
        }
        // a query that died mid-drain must surface ITS exception (sink
        // throw, checkpoint IO), not read as a quiesce timeout
        if (!q.isActive) { q.awaitTermination(); () }
        if (!done)
          throw new java.util.concurrent.TimeoutException(
            s"drain did not quiesce within ${timeoutMs} ms")
      }
    } finally if (q.isActive) q.stop()
  }

  /** Streaming retry consumer — the Spark form of the reference's timer
    * server loop (server/timer + trigger.go:256-302): a durable ticker
    * query (rate source; the rows are ignored, the trigger cadence is the
    * wheel's tick) that runs [[releaseSpool]] once per trigger. All retry
    * state lives in the spool's due-time buckets and the events' stamped
    * attempt counts, so the query survives checkpoint restarts with no
    * state of its own, and a restart resumes escalation exactly where the
    * spool left off.
    */
  def startRetries(
      spark: SparkSession,
      spool: BucketedSpool,
      spec: Spec,
      sink: Sink,
      dlqBus: Option[EventBus],
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      nowEpochSec: () => Long = () => System.currentTimeMillis() / 1000): StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        releaseSpool(spark, spool, spec, sink, dlqBus, nowEpochSec())
        ()
      }
      .start()

  /** Retry-consumer pass (trigger.go:256-302): take matured retry events for
    * this subscription (delivery time due, attempts below cap), re-deliver
    * through the same routing; exceeded attempts go to DLQ.
    */
  def processRetries(
      retryBatch: DataFrame,
      spec: Spec,
      sink: Sink,
      retryBus: Option[EventBus],
      dlqBus: Option[EventBus],
      nowEpochSec: Long): BatchResult = {
    val due = retryBatch.filter(
      col("attributes").getItem("xvanussubscriptionid") === spec.config.subscriptionId &&
        col("attributes").getItem("xvanusdeliverytime").cast("timestamp") <=
          timestamp_seconds(lit(nowEpochSec)) &&
        col("attributes").getItem("xvanusretryattempts").cast("int") <= spec.config.maxRetryAttempts)
    // clear BOTH horizons for the RETRY pass: every event here was already
    // admitted through ingest dedup once; two legitimately-distinct
    // deliveries of the same (source, id) — or of near-identical content —
    // (admitted more than a horizon apart) whose retries mature in the
    // same release would otherwise collapse to one — a silently LOST
    // event, since the spool evicts the bucket after the pass
    val retrySpec = spec.copy(config =
      spec.config.copy(dedupHorizon = None, neardupHorizon = None))
    processBatch(due, retrySpec, sink, retryBus, dlqBus, nowEpochSec)
  }
}
