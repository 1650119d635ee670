package graft.streaming

import graft.SparkSpec
import graft.Tables
import graft.model.{EventView, FilterSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SubscriptionRunnerSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def view: DataFrame =
    EventView.fromEventsTable(Tables.events(spark, sf))

  private val spec = SubscriptionRunner.Spec(
    filters = Seq(FilterSpec.Exact(Seq("type" -> "purchase"))),
    transformerJson = Some("""{"pipeline": [{"command": ["create", "$.data.mark", "t"]}]}"""),
    config = SubscriptionRunner.Config(subscriptionId = "sub-1", maxRetryAttempts = 3))

  test("batch pipeline: filter → transform → deliver; failures route to retry and DLQ") {
    val retryBus = EventBus(tmp("retry"))
    val dlqBus = EventBus(tmp("dlq"))
    // sink: 5xx (retryable) for k % 10 == 0, 400 (not) for k % 10 == 1
    val sink: SubscriptionRunner.Sink = { d =>
      val k = graft.json.JPath.get(graft.json.JValue.parse(d.body), "k")
        .collect { case graft.json.JInt(v) => v }.getOrElse(0L)
      if (k % 10 == 0) Left(503) else if (k % 10 == 1) Left(400) else Right(())
    }
    val res = SubscriptionRunner.processBatch(view, spec, sink, Some(retryBus), Some(dlqBus),
      nowEpochSec = 1704240000L)
    val purchases = view.filter(col("type") === "purchase").count()
    assert(res.delivered + res.toRetry + res.toDlq == purchases)
    assert(res.filteredOut == view.count() - purchases)
    assert(res.toRetry > 0 && res.toDlq > 0)

    // retry events are stamped with attempts, sub id, and the 1s first backoff
    val retry = retryBus.read(spark)
    assert(retry.count() == res.toRetry)
    val attrs = retry.select(col("attributes")).head.getMap[String, String](0)
    assert(attrs("xvanusretryattempts") == "1")
    assert(attrs("xvanussubscriptionid") == "sub-1")
    assert(attrs("xvanusdeliverytime") == "2024-01-03 00:00:01") // now + 1s

    // DLQ events carry dead-letter metadata (trigger.go:528-562)
    val dlq = dlqBus.read(spark)
    assert(dlq.count() == res.toDlq)
    val dattrs = dlq.select(col("attributes")).head.getMap[String, String](0)
    assert(dattrs("deadletterreason") == "delivery error code=400")
    assert(dattrs("lastdeliveryerror") == "400")
  }

  test("closed books: routeless failures land in undeliverable, sums equal the input") {
    // no retry bus, no DLQ (the bus-less caller shape): failures were
    // counted NOWHERE pre-r18, so the audit under-read the input
    val sink: SubscriptionRunner.Sink = { d =>
      if (d.sequenceNumber % 3 == 0) Left(503) else Right(())
    }
    val res = SubscriptionRunner.processBatch(view, spec, sink, None, None,
      nowEpochSec = 1704240000L)
    val purchases = view.filter(col("type") === "purchase")
    assert(res.undeliverable ==
      purchases.filter(col("sequence_number") % 3 === 0).count())
    assert(res.toRetry == 0L && res.toDlq == 0L)
    assert(res.delivered + res.filteredOut + res.toRetry + res.toDlq +
      res.dedupDropped + res.neardupDropped + res.undeliverable ==
      view.count(), "the BatchResult books must close for bus-less callers")
    // with a DLQ wired, the same failures route there and undeliverable
    // stays zero — the field only absorbs what has NO route
    val dlqBus = EventBus(tmp("udlq"))
    val res2 = SubscriptionRunner.processBatch(view, spec, sink, None,
      Some(dlqBus), nowEpochSec = 1704240000L)
    assert(res2.undeliverable == 0L && res2.toDlq == res.undeliverable)
  }

  test("ordered-mode rate limit: one delivery task gets the whole budget and paces the batch") {
    // 20 events at 8/sec through the single ordered task: windows of 8,8,4
    // ⇒ two 1 s sleeps. Assert the pacing happened (≥ ~2 s wall) without
    // pinning exact timing, and that everything still delivered.
    val rateSpec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-rate", orderedEvent = true, rateLimitPerSec = 8))
    val base = view.filter(col("sequence_number") < 20)
    val t0 = System.nanoTime()
    val res = SubscriptionRunner.processBatch(base, rateSpec, _ => Right(()),
      None, None, 1704240000L)
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(res.delivered == 20)
    assert(elapsedSec >= 1.8, f"expected ~2s of pacing, got $elapsedSec%.2f s")
    // unlimited rate: same batch finishes far faster than the paced run
    val freeSpec = rateSpec.copy(config = rateSpec.config.copy(rateLimitPerSec = 0))
    val t1 = System.nanoTime()
    assert(SubscriptionRunner.processBatch(base, freeSpec, _ => Right(()),
      None, None, 1704240000L).delivered == 20)
    assert((System.nanoTime() - t1) / 1e9 < elapsedSec)
  }

  test("transform errors are non-retryable → DLQ (util.go:59-63)") {
    val dlqBus = EventBus(tmp("dlq2"))
    val retryBus = EventBus(tmp("retry2"))
    val badSpec = spec.copy(transformerJson =
      Some("""{"define": {"v": "$.data.definitely_missing"}, "pipeline": []}"""))
    val res = SubscriptionRunner.processBatch(view, badSpec, _ => Right(()),
      Some(retryBus), Some(dlqBus), nowEpochSec = 1704240000L)
    assert(res.delivered == 0)
    assert(res.toRetry == 0) // never retried
    assert(res.toDlq > 0)
  }

  test("ordered mode sends failures straight to DLQ, no retry (trigger.go:428-431)") {
    val dlqBus = EventBus(tmp("dlq3"))
    val retryBus = EventBus(tmp("retry3"))
    val orderedSpec = spec.copy(config = spec.config.copy(orderedEvent = true))
    val res = SubscriptionRunner.processBatch(view, orderedSpec, _ => Left(503),
      Some(retryBus), Some(dlqBus), nowEpochSec = 1704240000L)
    assert(res.toRetry == 0)
    assert(res.toDlq > 0)
  }

  test("streaming form delivers through foreachBatch with checkpointing") {
    val busDir = tmp("bus")
    val ckpt = tmp("ckpt")
    EventBus(busDir).append(view.limit(200))
    // task closures are serialized even in local mode — count via accumulator
    val delivered = spark.sparkContext.longAccumulator("delivered")
    val q = SubscriptionRunner.start(spark, EventBus(busDir),
      spec.copy(transformerJson = None),
      _ => { delivered.add(1); Right(()) },
      None, None, ckpt)
    q.awaitTermination(60000)
    assert(delivered.value > 0)
    // restart with no new data: checkpoint prevents redelivery
    val redelivered = spark.sparkContext.longAccumulator("redelivered")
    val q2 = SubscriptionRunner.start(spark, EventBus(busDir),
      spec.copy(transformerJson = None),
      _ => { redelivered.add(1); Right(()) },
      None, None, ckpt)
    q2.awaitTermination(60000)
    assert(redelivered.value == 0)
  }

  test("delay spool release (SURVEY §7.6)") {
    val target = EventBus(tmp("target"))
    val spool = view.limit(100).withColumn("attributes",
      map_concat(col("attributes"), map(
        lit("xvanusdeliverytime"),
        when(col("sequence_number") % 2 === 0, lit("2024-01-01 00:00:00"))
          .otherwise(lit("2030-01-01 00:00:00")))))
    val released = DelayedEvents.release(spark, spool, target, 1704240000L)
    assert(released == 50)
    assert(target.read(spark).count() == 50)
    val (matured, pending) = DelayedEvents.split(spool, 1704240000L)
    assert(matured.count() == 50 && pending.count() == 50)
  }

  test("retry consumer: due + under-cap events re-deliver; guard on sub id") {
    val retryBus = EventBus(tmp("retry4"))
    val dlqBus = EventBus(tmp("dlq4"))
    // seed a retry bus: stamped events for sub-1 due in the past, and one for another sub
    val stamped = view.filter(col("type") === "purchase").limit(10)
      .withColumn("attributes", map_concat(col("attributes"), map(
        lit("xvanusretryattempts"), lit("2"),
        lit("xvanussubscriptionid"),
        when(col("sequence_number") % 2 === 0, "sub-1").otherwise("sub-other"),
        lit("xvanusdeliverytime"), lit("2024-01-01 00:00:00"))))
    val expected = stamped
      .filter(col("attributes").getItem("xvanussubscriptionid") === "sub-1").count()
    val res = SubscriptionRunner.processRetries(stamped, spec, _ => Right(()),
      Some(retryBus), Some(dlqBus), nowEpochSec = 1704240000L)
    assert(res.delivered > 0)
    assert(res.delivered == expected) // sub-other events excluded by the guard
  }

  test("retry attempts escalate; cap exceeded routes to DLQ (trigger.go:455-526)") {
    val retryBus = EventBus(tmp("retry5"))
    val dlqBus = EventBus(tmp("dlq5"))
    // events already on attempt 2: next failure stamps attempt 3 (cap),
    // the one after exceeds the cap and must land in the DLQ
    val stamped = view.filter(col("type") === "purchase").limit(6)
      .withColumn("attributes", map_concat(col("attributes"), map(
        lit("xvanusretryattempts"), lit("2"),
        lit("xvanussubscriptionid"), lit("sub-1"),
        lit("xvanusdeliverytime"), lit("2024-01-01 00:00:00"))))
    val res = SubscriptionRunner.processRetries(stamped, spec, _ => Left(503),
      Some(retryBus), Some(dlqBus), nowEpochSec = 1704240000L)
    assert(res.toRetry == 6 && res.toDlq == 0)
    val retry = retryBus.read(spark)
    val attrs = retry.select(col("attributes")).head.getMap[String, String](0)
    assert(attrs("xvanusretryattempts") == "3") // escalated, not reset to 1
    assert(attrs("xvanusdeliverytime") == "2024-01-03 00:00:10") // now + 5*(3-1)s

    // attempt 3 is the cap (maxRetryAttempts=3): next failure → DLQ
    val res2 = SubscriptionRunner.processRetries(retry, spec, _ => Left(503),
      Some(EventBus(tmp("retry6"))), Some(dlqBus), nowEpochSec = 1704240010L)
    assert(res2.toRetry == 0 && res2.toDlq == 6)
    val dattrs = dlqBus.read(spark).select(col("attributes")).head.getMap[String, String](0)
    assert(dattrs("deadletterreason") == "maxRetryAttempts=3 exceeded")
  }

  test("spool release delivers matured buckets; pending buckets untouched") {
    val spool = BucketedSpool(tmp("sretry"), tickSeconds = 60L)
    // seed: 10 matured (past deliverytime) + 10 pending (far future),
    // appended ONCE into their due-time buckets
    val stamped = view.filter(col("type") === "purchase").limit(20)
      .withColumn("attributes", map_concat(col("attributes"), map(
        lit("xvanusretryattempts"), lit("1"),
        lit("xvanussubscriptionid"), lit("sub-1"),
        lit("xvanusdeliverytime"),
        when(col("sequence_number") % 2 === 0, lit("2024-01-01 00:00:00"))
          .otherwise(lit("2030-01-01 00:00:00")))))
    spool.append(stamped)
    val nMatured = stamped.filter(col("sequence_number") % 2 === 0).count()
    val delivered = spark.sparkContext.longAccumulator("sdelivered")
    val res = SubscriptionRunner.releaseSpool(spark, spool,
      spec.copy(transformerJson = None),
      _ => { delivered.add(1); Right(()) }, None, nowEpochSec = 1704240000L)
    assert(delivered.value == nMatured && res.delivered == nMatured)
    // released buckets evicted; only the pending bucket remains, unread
    // and unrewritten
    assert(spool.maturedBuckets(spark, 1704240000L).isEmpty)
    val remaining = spool.read(spark)
    assert(remaining.count() == 20 - nMatured)
    assert(remaining.filter(
      col("attributes").getItem("xvanusdeliverytime") === "2030-01-01 00:00:00")
      .count() == 20 - nMatured)
  }

  test("spool is write-once: idle release passes rewrite nothing (wheel bucket semantics)") {
    val spool = BucketedSpool(tmp("wonce"), tickSeconds = 60L)
    val stamped = view.filter(col("type") === "purchase").limit(10)
      .withColumn("attributes", map_concat(col("attributes"), map(
        lit("xvanusretryattempts"), lit("1"),
        lit("xvanussubscriptionid"), lit("sub-1"),
        lit("xvanusdeliverytime"), lit("2030-01-01 00:00:00"))))
    spool.append(stamped)
    val filesAfterAppend = spool.dataFileCount(spark)
    assert(filesAfterAppend > 0)
    // N idle triggers: nothing matured → no job, no writes, no rewrites
    // (the round-2 design re-appended all pending rows on every trigger)
    (1 to 5).foreach { _ =>
      val res = SubscriptionRunner.releaseSpool(spark, spool, spec,
        _ => Right(()), None, nowEpochSec = 1704240000L)
      assert(res == SubscriptionRunner.BatchResult(0L, 0L, 0L, 0L))
    }
    assert(spool.dataFileCount(spark) == filesAfterAppend,
      "idle release passes must not rewrite pending events")
    assert(spool.read(spark).count() == 10)
  }

  test("publish-side timer spool: bucketed release flushes matured buckets to target") {
    val spool = BucketedSpool(tmp("ptimer"), tickSeconds = 60L)
    val target = EventBus(tmp("ptarget"))
    val stamped = view.limit(100).withColumn("attributes",
      map_concat(col("attributes"), map(
        lit("xvanusdeliverytime"),
        when(col("sequence_number") % 2 === 0, lit("2024-01-01 00:00:00"))
          .otherwise(lit("2030-01-01 00:00:00")))))
    spool.append(stamped)
    val released = DelayedEvents.releaseSpooled(spark, spool, target, 1704240000L)
    assert(released == 50)
    assert(target.read(spark).count() == 50)
    // second pass: nothing matured, nothing re-released
    assert(DelayedEvents.releaseSpooled(spark, spool, target, 1704240000L) == 0)
    assert(spool.read(spark).count() == 50)
  }

  test("processBatch honors the dedup horizon: batch and streaming specs agree") {
    // the same Spec must not deliver duplicate (source, id) copies in pure
    // batch mode when start()'s stateful stage would have dropped them
    val base = view.limit(5)
    val republished = base.unionByName(
      base.withColumn("sequence_number", col("sequence_number") + 1000000L))
    val horizonSpec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-h",
        dedupHorizon = Some(java.time.Duration.ofHours(1))))
    val res = SubscriptionRunner.processBatch(
      republished, horizonSpec, _ => Right(()), None, None)
    assert(res.delivered == 5,
      s"10 rows (5 + 5 republished) must deliver 5, got ${res.delivered}")
    // the books close: every input row is accounted for
    assert(res.dedupDropped == 5)
    assert(res.delivered + res.filteredOut + res.toRetry + res.toDlq +
      res.dedupDropped == 10)
    // and the kept copy is the FIRST arrival (min sequence number): the
    // without-horizon run sees all 10
    val resNo = SubscriptionRunner.processBatch(
      republished, horizonSpec.copy(config =
        horizonSpec.config.copy(dedupHorizon = None)),
      _ => Right(()), None, None)
    assert(resNo.delivered == 10)
  }

  test("a happy-path batch is one delivery action: at most 2 jobs, books closed") {
    // a one-commit micro-batch as the stream sees it: one bus file, read back
    val bus = EventBus(tmp("hbus"))
    val rows = view.filter(col("sequence_number") < 200).collect()
    bus.append(spark.createDataFrame(java.util.Arrays.asList(rows: _*), view.schema))
    val batch = bus.read(spark)
    assert(batch.inputFiles.length == 1)
    val input = batch.count()
    val purchases = batch.filter(col("type") === "purchase").count()
    assert(purchases > 0 && purchases < input)
    val (res, jobs) = countJobs(SubscriptionRunner.processBatch(batch, spec,
      _ => Right(()), None, None))
    // AQE runs the delivery fan-out's shuffle map stage as its own job; the
    // input count rides that job, the passed/delivered counts the aggregate
    assert(jobs <= 2, s"happy-path batch ran $jobs jobs")
    assert(res == SubscriptionRunner.BatchResult(purchases, input - purchases, 0L, 0L))

    // a filter that folds to false drops the observed subtree: the input
    // is then counted on its own and the books still close
    val none = spec.copy(filters = Seq(FilterSpec.CeSql("1 = 2")))
    assert(SubscriptionRunner.processBatch(batch, none, _ => Right(()), None, None) ==
      SubscriptionRunner.BatchResult(0L, input, 0L, 0L))
  }

  test("backoff curve matches util.go:75-88") {
    assert(Backoff.delaySeconds(1) == 1)
    assert(Backoff.delaySeconds(2) == 5)
    assert(Backoff.delaySeconds(3) == 10)
    assert(Backoff.delaySeconds(4) == 30)
    assert(Backoff.delaySeconds(9) == 960)
    assert(Backoff.delaySeconds(10) == 3600)
    assert(Backoff.delaySeconds(99) == 3600)
    assert(!Backoff.isRetryable(400) && Backoff.isRetryable(429) && Backoff.isRetryable(503))
  }
}
