package graft.streaming

import graft.{SparkSpec, Tables}
import graft.model.EventView
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Full delivery lifecycle against real buses and real Structured
  * Streaming queries: publish → subscription stream (filter+deliver) →
  * retry stream generations with attempt escalation → DLQ at the cap.
  */
class EndToEndSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("publish → deliver → retry generations → DLQ cap, end to end") {
    val sourceBus = EventBus(tmp("e2esrc"))
    val timerBus = EventBus(tmp("e2etimer"))
    val retrySpool = BucketedSpool(tmp("e2eretry"), tickSeconds = 60L)
    val dlqBus = EventBus(tmp("e2edlq"))

    // publish: 100 clean events land on the source bus
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 100)
    val pub = Publisher.publish(events, sourceBus, timerBus, "bus-e2e")
    assert(pub.accepted == 100 && pub.rejected == 0)

    // subscription: k % 5 == 0 events hit a 503ing endpoint; failures go
    // straight into the due-time-bucketed retry spool (written once)
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-e2e", maxRetryAttempts = 2))
    val sink: SubscriptionRunner.Sink = { d =>
      val k = graft.json.JPath.get(graft.json.JValue.parse(d.body), "k")
        .collect { case graft.json.JInt(v) => v }.getOrElse(0L)
      if (k % 5 == 0) Left(503) else Right(())
    }
    val q = SubscriptionRunner.start(spark, sourceBus, spec, sink,
      Some(retrySpool), Some(dlqBus), tmp("e2eck"))
    q.awaitTermination(60000)

    val failing = retrySpool.read(spark).count()
    assert(failing > 0)

    // retry generations through the REAL ticker query: advance the
    // injected clock past each generation's due bucket and wait for the
    // release pass to drain it; attempts escalate → DLQ at the cap
    val clock = new java.util.concurrent.atomic.AtomicLong(
      System.currentTimeMillis() / 1000)
    val rq = SubscriptionRunner.startRetries(spark, retrySpool, spec, sink,
      Some(dlqBus), tmp("e2erck"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"),
      nowEpochSec = () => clock.get())
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (retrySpool.maturedBuckets(spark, clock.get()).nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(retrySpool.maturedBuckets(spark, clock.get()).isEmpty,
        "ticker failed to drain matured buckets in time")
    }
    (1 to 3).foreach { _ => clock.addAndGet(7200); drain() }
    rq.stop()

    // every failing event exhausted its attempts and reached the DLQ once
    val dlq = dlqBus.read(spark)
    assert(dlq.count() == failing)
    val reasons = dlq.select(col("attributes").getItem("deadletterreason"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(reasons == Set("maxRetryAttempts=2 exceeded"))
    // and the stamped attempt count on DLQ rows is the cap
    val attempts = dlq.select(col("attributes").getItem("xvanusretryattempts"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(attempts == Set("2"))
  }

  test("dedup horizon drops republished events, including across a restart") {
    val sourceBus = EventBus(tmp("ddsrc"))
    val ckpt = tmp("ddck")
    IngestDedupE2E.delivered.clear()

    // a subscription with a 1 h dedup horizon (pkg/subscription.go-style
    // config knob); sink records every delivery it sees
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-dedup",
        dedupHorizon = Some(java.time.Duration.ofHours(1))))
    val sink: SubscriptionRunner.Sink = { d =>
      IngestDedupE2E.delivered.add(d.id)
      Right(())
    }
    // a dedup-horizon query never self-terminates: ProcessingTimeTimeout
    // keeps scheduling empty batches to evaluate timeouts even under
    // AvailableNow, and a forced batch also never raises noNewData — so
    // awaitTermination AND processAllAvailable both hang for their full
    // timeout and leak a spinning query whose empty batches corrupt later
    // job-counting tests. Poll for the delivery observable, then stop.
    def runOnce(expect: Set[String]): Unit = {
      import scala.jdk.CollectionConverters._
      val q = SubscriptionRunner.start(
        spark, sourceBus, spec, sink, None, None, ckpt)
      try {
        val deadline = System.currentTimeMillis() + 60000
        def seen: Set[String] = IngestDedupE2E.delivered.asScala.toSet
        while (!expect.subsetOf(seen) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
        // settle one more batch interval so a WRONGLY-delivered duplicate
        // had time to surface before the exact-equality asserts below
        Thread.sleep(500)
        assert(expect.subsetOf(seen),
          s"expected deliveries $expect not observed in 60 s (got $seen)")
      } finally { q.stop(); q.awaitTermination(30000); () }
    }
    def publish(ids: Seq[Long]): Unit = {
      val evs = EventView.fromEventsTable(Tables.events(spark, sf))
      ids.foreach { i =>
        sourceBus.append(evs.filter(col("sequence_number") === i))
      }
    }

    // run 1: events 1, 2 plus a republished copy of 1 in the same run —
    // the duplicate is dropped before filter/transform/deliver
    publish(Seq(1L, 2L, 1L))
    runOnce(Set("1", "2"))
    import scala.jdk.CollectionConverters._
    assert(IngestDedupE2E.delivered.asScala.toSeq.sorted == Seq("1", "2"),
      "in-run duplicate must be dropped by the dedup horizon")

    // run 2 (a RESTART: new query, same checkpoint): 1 republished again
    // plus a fresh event 3 — the checkpointed dedup state still knows 1,
    // so only 3 is delivered
    publish(Seq(1L, 3L))
    runOnce(Set("3"))
    assert(IngestDedupE2E.delivered.asScala.toSeq.sorted == Seq("1", "2", "3"),
      "a duplicate republished across a restart must be dropped while " +
        "inside the horizon; the fresh event must deliver")
  }

  test("neardup horizon drops re-worded content, including across a restart") {
    val sourceBus = EventBus(tmp("ndsrc"))
    val ckpt = tmp("ndck")
    NearDedupE2E.delivered.clear()

    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-neardup",
        neardupHorizon = Some(java.time.Duration.ofHours(1))))
    val sink: SubscriptionRunner.Sink = { d =>
      NearDedupE2E.delivered.add(d.id)
      Right(())
    }
    // controlled content: A / B are far apart in SimHash space; A' is a
    // genuinely RE-WORDED A (one word swapped, fingerprint within
    // 1..MaxDist — the fuzzy band exact equality can't catch). All
    // asserted, not assumed — the hash is deterministic, so this can
    // never flake. Copies/rewordings of A under NEW (source, id)
    // identities are what exact dedup misses and the near-dup knob must
    // drop.
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textA2 = "alpha mu gamma delta epsilon zeta eta theta"
    val textB = "solar panel output dropped after the hail storm yesterday"
    val textC = "quarterly revenue grew nine percent on subscription sales"
    def simhashOf(s: String): Long = {
      val df = spark.range(1).select(graft.functions.SimHash(
        split(lit(s), " ", -1), StreamNearDedup.Bits).as("fp"))
      df.collect()(0).getLong(0)
    }
    def dist(a: String, b: String): Int =
      java.lang.Long.bitCount(simhashOf(a) ^ simhashOf(b))
    assert(dist(textA, textB) > StreamNearDedup.MaxDist)
    assert(dist(textA, textC) > StreamNearDedup.MaxDist)
    assert(dist(textB, textC) > StreamNearDedup.MaxDist)
    // the re-worded copy is NEAR, not identical: the distance-1..2 probe
    // path (sub-index bit-flip buckets) is what run 2 exercises
    assert(dist(textA, textA2) >= 1 && dist(textA, textA2) <= StreamNearDedup.MaxDist,
      s"textA2 must be a true near-dup of textA, got distance ${dist(textA, textA2)}")

    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    def publish(seq: Long, text: String): Unit =
      sourceBus.append(base.filter(col("sequence_number") === 1)
        .withColumn("sequence_number", lit(seq))
        .withColumn("id", lit(seq.toString))
        .withColumn("data", lit(text)))

    def runOnce(expect: Set[String]): Unit = {
      import scala.jdk.CollectionConverters._
      val q = SubscriptionRunner.start(
        spark, sourceBus, spec, sink, None, None, ckpt)
      try {
        val deadline = System.currentTimeMillis() + 60000
        def seen: Set[String] = NearDedupE2E.delivered.asScala.toSet
        while (!expect.subsetOf(seen) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
        // settle one more batch interval so a WRONGLY-delivered near-dup
        // had time to surface before the exact-equality asserts below
        Thread.sleep(500)
        assert(expect.subsetOf(seen),
          s"expected deliveries $expect not observed in 60 s (got $seen)")
      } finally { q.stop(); q.awaitTermination(30000); () }
    }

    // run 1: A, an exact-content copy of A under a NEW identity (id 11 —
    // exact ingest dedup would admit it), and unrelated B — the copy is
    // dropped, A and B deliver
    publish(10L, textA)
    publish(11L, textA)
    publish(12L, textB)
    runOnce(Set("10", "12"))
    import scala.jdk.CollectionConverters._
    assert(NearDedupE2E.delivered.asScala.toSeq.sorted == Seq("10", "12"),
      "in-run content copy must be dropped by the near-dup horizon")

    // run 2 (a RESTART: new query, same checkpoint): A genuinely
    // RE-WORDED (distance 1..2, asserted above) under yet another
    // identity plus fresh content C — the checkpointed fingerprint state
    // still knows A's content and the banded probe must catch the fuzzy
    // match, so only C delivers
    publish(13L, textA2)
    publish(14L, textC)
    runOnce(Set("14"))
    assert(NearDedupE2E.delivered.asScala.toSeq.sorted == Seq("10", "12", "14"),
      "a content copy republished across a restart must be dropped while " +
        "inside the horizon; fresh content must deliver")
  }

  test("both horizons in ONE streaming plan: exact + near drops, across a restart") {
    val sourceBus = EventBus(tmp("bhsrc"))
    val ckpt = tmp("bhck")
    BothHorizonsE2E.delivered.clear()

    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-both",
        dedupHorizon = Some(java.time.Duration.ofHours(1)),
        neardupHorizon = Some(java.time.Duration.ofHours(1))))
    val sink: SubscriptionRunner.Sink = { d =>
      BothHorizonsE2E.delivered.add(d.id)
      Right(())
    }
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textA2 = "alpha mu gamma delta epsilon zeta eta theta" // near A
    val textB = "solar panel output dropped after the hail storm yesterday"
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    def publish(seq: Long, id: String, text: String): Unit =
      sourceBus.append(base.filter(col("sequence_number") === 1)
        .withColumn("sequence_number", lit(seq))
        .withColumn("id", lit(id))
        .withColumn("data", lit(text)))
    def runOnce(expect: Set[String]): Unit = {
      import scala.jdk.CollectionConverters._
      val q = SubscriptionRunner.start(
        spark, sourceBus, spec, sink, None, None, ckpt)
      try {
        val deadline = System.currentTimeMillis() + 60000
        def seen: Set[String] = BothHorizonsE2E.delivered.asScala.toSet
        while (!expect.subsetOf(seen) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
        // settle one more batch interval so a WRONGLY-delivered duplicate
        // had time to surface before the exact-equality asserts below
        Thread.sleep(500)
        assert(expect.subsetOf(seen),
          s"expected deliveries $expect not observed in 60 s (got $seen)")
      } finally { q.stop(); q.awaitTermination(30000); () }
    }

    // run 1: A; an exact republish of A's (source, id) — the EXACT knob's
    // drop; unrelated B
    publish(20L, "20", textA)
    publish(21L, "20", textA)
    publish(22L, "22", textB)
    runOnce(Set("20", "22"))
    import scala.jdk.CollectionConverters._
    assert(BothHorizonsE2E.delivered.asScala.toSeq.sorted == Seq("20", "22"),
      "the exact knob must drop the same-(source,id) republish in-plan")

    // run 2 (a RESTART: new query, same checkpoint): a RE-WORDED A under
    // a fresh identity — the NEAR knob's drop, against checkpointed
    // fingerprint state — plus a fresh event
    val textC = "quarterly revenue grew nine percent on subscription sales"
    publish(23L, "23", textA2)
    publish(24L, "24", textC)
    runOnce(Set("24"))
    assert(BothHorizonsE2E.delivered.asScala.toSeq.sorted == Seq("20", "22", "24"),
      "the near knob must drop re-worded content across the restart; " +
        "fresh content must deliver")
  }

  test("both horizons: content arriving on an exact-dup carrier still seeds near state") {
    // the combined operator's composition contract: each knob is judged
    // against ALL arrivals. A (source, id) republish carrying MATERIALLY
    // different content is exact-dropped, but its content entered the
    // horizon — a later re-wording of THAT content is a near-dup. (The
    // old two-subscriptions-chained workaround silently lost this.)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") === 1)
    def ev(seq: Long, id: String, text: String) =
      base.withColumn("sequence_number", lit(seq))
        .withColumn("id", lit(id))
        .withColumn("data", lit(text))
    val textB = "solar panel output dropped after the hail storm yesterday"
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textA2 = "alpha mu gamma delta epsilon zeta eta theta"
    def simhashOf(s: String): Long =
      spark.range(1).select(graft.functions.SimHash(
        split(lit(s), " ", -1), StreamNearDedup.Bits).as("fp"))
        .collect()(0).getLong(0)
    def dist(a: String, b: String): Int =
      java.lang.Long.bitCount(simhashOf(a) ^ simhashOf(b))
    // the scenario's premises, asserted (deterministic hash, can't flake)
    assert(dist(textA, textA2) >= 1 && dist(textA, textA2) <= StreamNearDedup.MaxDist,
      s"textA2 must be a true near-dup of textA, got ${dist(textA, textA2)}")
    assert(dist(textB, textA) > StreamNearDedup.MaxDist)
    assert(dist(textB, textA2) > StreamNearDedup.MaxDist)
    val batch = ev(1, "1", textB)
      .unionByName(ev(2, "1", textA))  // exact dup carrier, NEW content
      .unionByName(ev(3, "3", textA2)) // near-dup of the carried content
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-carrier",
        dedupHorizon = Some(java.time.Duration.ofHours(1)),
        neardupHorizon = Some(java.time.Duration.ofHours(1))))
    val r = SubscriptionRunner.processBatch(
      batch, spec, _ => Right(()), None, None)
    assert(r.delivered == 1, s"only event 1 delivers: $r")
    assert(r.dedupDropped == 1, s"the republish is the exact knob's drop: $r")
    assert(r.neardupDropped == 1,
      s"re-worded carrier content is the near knob's drop: $r")
  }

  test("both horizons: an earlier-event-time republish cannot drop ALL copies") {
    // ADVICE r16: with the exact knob picking by sequence but the near
    // knob ordering by (event time, sequence), a same-(source, id)
    // republish carrying a strictly EARLIER event time seeded near state
    // first and near-flagged the exact winner while itself being
    // exact-flagged — content arrived but NO copy was ever delivered.
    // r17 judges both knobs by ONE shared order (arrival = sequence), so
    // the first arrival must always survive.
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") === 1)
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    def ev(seq: Long, id: String, text: String, t: String) =
      base.withColumn("sequence_number", lit(seq))
        .withColumn("id", lit(id))
        .withColumn("data", lit(text))
        .withColumn("time", lit(java.sql.Timestamp.valueOf(t)))
    // the republish (seq 2) carries the SAME content but an EARLIER
    // event time than the original (seq 1)
    val batch = ev(1, "1", textA, "2024-05-01 10:00:00")
      .unionByName(ev(2, "1", textA, "2024-05-01 05:00:00"))
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-early-republish",
        dedupHorizon = Some(java.time.Duration.ofHours(1)),
        neardupHorizon = Some(java.time.Duration.ofHours(1))))
    val r = SubscriptionRunner.processBatch(
      batch, spec, _ => Right(()), None, None)
    assert(r.delivered == 1,
      s"the first arrival must be delivered — drop-all is the r16 bug: $r")
    assert(r.dedupDropped == 1 && r.neardupDropped == 0,
      s"the republish is the exact knob's drop, not the near knob's: $r")
    // and the kept row is the ORIGINAL (min-sequence) copy
    val kept = graft.streaming.StreamNearDedup.keepFirstBoth(batch,
      exactTtl = Some(java.time.Duration.ofHours(1)),
      nearTtl = Some(java.time.Duration.ofHours(1)))
      .select("sequence_number").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L), s"min-sequence pick must win: $kept")
  }

  test("both horizons: U+001F in attribute values cannot collide state keys") {
    // ADVICE r16: the pre-r17 exact key source+US+"X"+US+id could equal
    // another identity's key (or a fingerprint key) when attribute values
    // embed U+001F — e.g. (source="aX", id="b") and (source="a",
    // id="Xb") rendered identically, so the second DISTINCT
    // identity was wrongly exact-flagged. r17 escapes segments and
    // prefixes the two key kinds, so both events must be kept.
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") === 1)
    def ev(seq: Long, src: String, id: String, text: String) =
      base.withColumn("sequence_number", lit(seq))
        .withColumn("source", lit(src))
        .withColumn("id", lit(id))
        .withColumn("data", lit(text))
    val batch = ev(1, "aX", "b",
      "alpha beta gamma delta epsilon zeta eta theta")
      .unionByName(ev(2, "a", "Xb",
        "solar panel output dropped after the hail storm yesterday"))
    val kept = graft.streaming.StreamNearDedup.keepFirstBoth(batch,
      exactTtl = Some(java.time.Duration.ofHours(1)),
      nearTtl = Some(java.time.Duration.ofHours(1)))
      .select("sequence_number").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L),
      s"distinct identities with embedded U+001F must not merge: $kept")
  }

  test("batch processBatch applies both horizons with split accounting") {
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") === 1)
    def ev(seq: Long, id: String, text: String) =
      base.withColumn("sequence_number", lit(seq))
        .withColumn("id", lit(id))
        .withColumn("data", lit(text))
    // 1 and its exact republish (same id → exact dedup), 3 = same content
    // under a new id (near-dup), 4 = distinct content
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    val textD = "solar panel output dropped after the hail storm yesterday"
    val batch = ev(1, "1", textA)
      .unionByName(ev(2, "1", textA))
      .unionByName(ev(3, "3", textA))
      .unionByName(ev(4, "4", textD))
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-batch-both",
        dedupHorizon = Some(java.time.Duration.ofHours(1)),
        neardupHorizon = Some(java.time.Duration.ofHours(1))))
    val r = SubscriptionRunner.processBatch(
      batch, spec, _ => Right(()), None, None)
    assert(r.delivered == 2, s"expected 1 and 4 delivered, got $r")
    assert(r.dedupDropped == 1, s"exact stage must drop the republish: $r")
    assert(r.neardupDropped == 1, s"near stage must drop the content copy: $r")
  }

  test("startShared: one bus scan feeds N subscriptions' routing") {
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("shsrc"))
    SharedE2E.a.clear(); SharedE2E.b.clear()
    // two subscriptions with DIFFERENT filters over the same bus
    val specA = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "purchase"))), None,
      SubscriptionRunner.Config("sub-a"))
    val specB = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
      SubscriptionRunner.Config("sub-b"))
    val sinkA: SubscriptionRunner.Sink = { d => SharedE2E.a.add(d.id); Right(()) }
    val sinkB: SubscriptionRunner.Sink = { d => SharedE2E.b.add(d.id); Right(()) }
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 60)
      .filter(col("type").isin("purchase", "signup"))
    sourceBus.append(events)
    val expectA = events.filter(col("type") === "purchase")
      .select("id").collect().map(_.getString(0)).toSet
    val expectB = events.filter(col("type") === "signup")
      .select("id").collect().map(_.getString(0)).toSet
    assert(expectA.nonEmpty && expectB.nonEmpty)

    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      Map[String, SubscriptionRunner.BatchResult]]()
    val q = SubscriptionRunner.startShared(
      spark, sourceBus, Seq((specA, sinkA), (specB, sinkB)),
      None, None, tmp("shck"), onBatch = r => { results.add(r); () })
    try { assert(q.awaitTermination(60000)) } finally if (q.isActive) q.stop()

    assert(SharedE2E.a.asScala.toSet == expectA,
      "sub-a must receive exactly the purchase events")
    assert(SharedE2E.b.asScala.toSet == expectB,
      "sub-b must receive exactly the signup events")
    // per-subscription accounting surfaced per batch: totals reconcile
    val agg = results.asScala.toSeq
    assert(agg.nonEmpty)
    val aDelivered = agg.map(_.get("sub-a").map(_.delivered).getOrElse(0L)).sum
    val bDelivered = agg.map(_.get("sub-b").map(_.delivered).getOrElse(0L)).sum
    assert(aDelivered == expectA.size.toLong)
    assert(bDelivered == expectB.size.toLong)
    // horizon knobs are rejected on the shared plan
    val withHorizon = specA.copy(config = specA.config.copy(
      dedupHorizon = Some(java.time.Duration.ofHours(1))))
    intercept[IllegalArgumentException] {
      SubscriptionRunner.startShared(spark, sourceBus,
        Seq((withHorizon, sinkA)), None, None, tmp("shck2"))
    }
  }

  test("SharedGroup.attach: late subscription replays from its own offset policy") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.Trigger
    val sourceBus = EventBus(tmp("lasrc"))
    LateAttachE2E.a.clear(); LateAttachE2E.b.clear()
    LateAttachE2E.c.clear(); LateAttachE2E.d.clear()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("type").isin("purchase", "signup"))
      .filter(col("sequence_number") < 120)
    val batch1 = events.filter(col("sequence_number") < 60)
    val batch2 = events.filter(col("sequence_number") >= 60)
    def idsOf(df: org.apache.spark.sql.DataFrame, t: String): Set[String] =
      df.filter(col("type") === t).select("id").collect()
        .map(_.getString(0)).toSet
    assert(idsOf(batch1, "purchase").nonEmpty && idsOf(batch1, "signup").nonEmpty)
    assert(idsOf(batch2, "purchase").nonEmpty && idsOf(batch2, "signup").nonEmpty)

    sourceBus.append(batch1)
    val specA = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "purchase"))), None,
      SubscriptionRunner.Config("sub-a"))
    val sinkA: SubscriptionRunner.Sink = { d => LateAttachE2E.a.add(d.id); Right(()) }
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, tmp("lack"),
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      // wait until the founding member has seen all of batch1
      val d1 = System.currentTimeMillis() + 60000
      while (LateAttachE2E.a.asScala.toSet != idsOf(batch1, "purchase") &&
        System.currentTimeMillis() < d1) Thread.sleep(50)
      assert(LateAttachE2E.a.asScala.toSet == idsOf(batch1, "purchase"))

      // EARLIEST attach mid-stream: the attacher's own stream must catch
      // up on every pre-attach signup exactly once before attach returns
      val specB = SubscriptionRunner.Spec(
        Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-b"))
      val sinkB: SubscriptionRunner.Sink = { d => LateAttachE2E.b.add(d.id); Right(()) }
      val res = group.attach(specB,
        SubscriptionRunner.Delivery.PerEvent(sinkB),
        SubscriptionRunner.OffsetReset.Earliest)
      assert(res.delivered == idsOf(batch1, "signup").size.toLong)
      assert(LateAttachE2E.b.asScala.toSet == idsOf(batch1, "signup"),
        "earliest attach must replay pre-attach events via catch-up")

      // LATEST attach: sees nothing from the past
      val specC = SubscriptionRunner.Spec(
        Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-c"))
      val sinkC: SubscriptionRunner.Sink = { d => LateAttachE2E.c.add(d.id); Right(()) }
      assert(group.attach(specC,
        SubscriptionRunner.Delivery.PerEvent(sinkC),
        SubscriptionRunner.OffsetReset.Latest).delivered == 0L)

      // BY-TIME attach: an offset SEEK — the stream starts at the FIRST
      // offset whose event time is >= ts and catches up to the committed
      // max; later out-of-order times are included (block_seek.go
      // semantics)
      val rows1 = batch1.select("sequence_number", "time", "type", "id")
        .collect().sortBy(_.getLong(0))
      val ts = rows1(rows1.length / 2).getTimestamp(1)
      val firstSeq = rows1.filter(r => !r.getTimestamp(1).before(ts))
        .map(_.getLong(0)).min
      val expectD1 = rows1.filter(r => r.getLong(0) >= firstSeq &&
        r.getString(2) == "signup").map(_.getString(3)).toSet
      val specD = SubscriptionRunner.Spec(
        Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-d"))
      val sinkD: SubscriptionRunner.Sink = { d => LateAttachE2E.d.add(d.id); Right(()) }
      val resD = group.attach(specD,
        SubscriptionRunner.Delivery.PerEvent(sinkD),
        SubscriptionRunner.OffsetReset.ByTime(ts))
      assert(resD.delivered == expectD1.size.toLong,
        "by-time catch-up must start at the seek offset")
      assert(LateAttachE2E.d.asScala.toSet == expectD1)

      // batch2 lands AFTER all attaches: every member sees it once —
      // including the by-time member, whose seek offset precedes ALL of
      // batch2 regardless of batch2's event times
      sourceBus.append(batch2)
      val expectA = idsOf(batch1, "purchase") ++ idsOf(batch2, "purchase")
      val expectB = idsOf(batch1, "signup") ++ idsOf(batch2, "signup")
      val expectC = idsOf(batch2, "signup")
      val expectD = expectD1 ++ idsOf(batch2, "signup")
      val d2 = System.currentTimeMillis() + 60000
      def settled: Boolean =
        LateAttachE2E.a.asScala.toSet == expectA &&
          LateAttachE2E.b.asScala.toSet == expectB &&
          LateAttachE2E.c.asScala.toSet == expectC &&
          LateAttachE2E.d.asScala.toSet == expectD
      while (!settled && System.currentTimeMillis() < d2) Thread.sleep(50)
      Thread.sleep(500) // a wrongly re-delivered duplicate needs time to surface
      assert(LateAttachE2E.a.asScala.toSeq.sorted ==
        expectA.toSeq.sorted, "founding member unaffected by attaches")
      assert(LateAttachE2E.b.asScala.toSeq.sorted == expectB.toSeq.sorted,
        "earliest attacher: catch-up + live stream, each event exactly once")
      assert(LateAttachE2E.c.asScala.toSeq.sorted == expectC.toSeq.sorted,
        "latest attacher: post-attach events only")
      assert(LateAttachE2E.d.asScala.toSeq.sorted == expectD.toSeq.sorted,
        "by-time attacher: seek-offset catch-up + live stream, exactly once")

      // duplicate id and horizon specs stay rejected on attach
      intercept[IllegalArgumentException] {
        group.attach(specB,
          SubscriptionRunner.Delivery.PerEvent(sinkB),
          SubscriptionRunner.OffsetReset.Latest)
      }
      intercept[IllegalArgumentException] {
        group.attach(specB.copy(config = SubscriptionRunner.Config("sub-h",
          dedupHorizon = Some(java.time.Duration.ofHours(1)))),
          SubscriptionRunner.Delivery.PerEvent(sinkB),
          SubscriptionRunner.OffsetReset.Latest)
      }

      // DETACH: sub-c leaves the live group; the next batch reaches the
      // remaining members but never sub-c, and its id frees for re-attach
      assert(group.detach("sub-c"))
      assert(!group.detach("sub-c"), "double detach must report false")
      val cBefore = LateAttachE2E.c.asScala.toSet
      val extra = EventView.fromEventsTable(Tables.events(spark, sf))
        .filter(col("type").isin("purchase", "signup"))
        .filter(col("sequence_number") >= 120 && col("sequence_number") < 160)
      sourceBus.append(extra)
      val expectA2 = expectA ++ idsOf(extra, "purchase")
      val expectB2 = expectB ++ idsOf(extra, "signup")
      val d3 = System.currentTimeMillis() + 60000
      def settled2: Boolean =
        LateAttachE2E.a.asScala.toSet == expectA2 &&
          LateAttachE2E.b.asScala.toSet == expectB2
      while (!settled2 && System.currentTimeMillis() < d3) Thread.sleep(50)
      Thread.sleep(500)
      assert(LateAttachE2E.a.asScala.toSet == expectA2)
      assert(LateAttachE2E.b.asScala.toSet == expectB2)
      assert(LateAttachE2E.c.asScala.toSet == cBefore,
        "a detached member must see nothing after detach")
      // the freed id re-attaches cleanly
      assert(group.attach(specC,
        SubscriptionRunner.Delivery.PerEvent(sinkC),
        SubscriptionRunner.OffsetReset.Latest).delivered == 0L)
    } finally group.stop()
  }

  test("SharedGroup restart: an Earliest attacher still sees checkpoint-covered history") {
    // after a group RESTART (fresh driver memory, existing checkpoint)
    // the shared stream never re-emits processed data — the attacher's
    // own stream must still deliver that history exactly once
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.Trigger
    val sourceBus = EventBus(tmp("rasrc"))
    val ckpt = tmp("rack")
    RestartAttachE2E.a.clear(); RestartAttachE2E.b.clear()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("type").isin("purchase", "signup"))
      .filter(col("sequence_number") < 120)
    val batch1 = events.filter(col("sequence_number") < 60)
    val batch2 = events.filter(col("sequence_number") >= 60)
    def idsOf(df: org.apache.spark.sql.DataFrame, t: String): Set[String] =
      df.filter(col("type") === t).select("id").collect()
        .map(_.getString(0)).toSet
    sourceBus.append(batch1)
    val specA = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "purchase"))), None,
      SubscriptionRunner.Config("sub-a"))
    val sinkA: SubscriptionRunner.Sink = { d => RestartAttachE2E.a.add(d.id); Right(()) }

    // run 1: the founding member drains batch1, then the group stops
    val g1 = SubscriptionRunner.startSharedGroup(
      spark, sourceBus, Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, ckpt)
    try { assert(g1.awaitTermination(60000)) }
    finally g1.stop()
    assert(RestartAttachE2E.a.asScala.toSet == idsOf(batch1, "purchase"))

    // run 2 (RESTART: same checkpoint, fresh group object): attach an
    // Earliest subscriber BEFORE any batch runs in this process
    val g2 = SubscriptionRunner.startSharedGroup(
      spark, sourceBus, Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, ckpt, trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      val specB = SubscriptionRunner.Spec(
        Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-b"))
      val sinkB: SubscriptionRunner.Sink = { d => RestartAttachE2E.b.add(d.id); Right(()) }
      val res = g2.attach(specB,
        SubscriptionRunner.Delivery.PerEvent(sinkB),
        SubscriptionRunner.OffsetReset.Earliest)
      assert(res.delivered == idsOf(batch1, "signup").size.toLong,
        "catch-up must serve checkpoint-covered history on a restarted group")
      assert(RestartAttachE2E.b.asScala.toSet == idsOf(batch1, "signup"))
      // batch2 lands after the attach: both members see it exactly once,
      // and NOTHING from batch1 is re-delivered (each stream's checkpoint)
      sourceBus.append(batch2)
      val expectA = idsOf(batch1, "purchase") ++ idsOf(batch2, "purchase")
      val expectB = idsOf(batch1, "signup") ++ idsOf(batch2, "signup")
      val d2 = System.currentTimeMillis() + 60000
      def settled: Boolean =
        RestartAttachE2E.a.asScala.toSet == expectA &&
          RestartAttachE2E.b.asScala.toSet == expectB
      while (!settled && System.currentTimeMillis() < d2) Thread.sleep(50)
      Thread.sleep(500)
      assert(RestartAttachE2E.a.asScala.toSeq.sorted == expectA.toSeq.sorted)
      assert(RestartAttachE2E.b.asScala.toSeq.sorted == expectB.toSeq.sorted)
    } finally g2.stop()
  }

  test("compactBelow under a LIVE shared group: zero re-deliveries, tail untouched, read-back equal") {
    // the stream reads by sequence offset, and compactBelow rewrites only
    // files at or below the checkpoint's COMMITTED offset — the
    // reference's serve-while-compacting contract (wal.go:195-210): no
    // compacted row is ever in a later batch's range
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.Trigger
    val sourceBus = EventBus(tmp("cbsrc"))
    val ckpt = tmp("cbck")
    CompactBelowE2E.a.clear(); CompactBelowE2E.b.clear()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 100)
    def slice(lo: Long, hi: Long) = events
      .filter(col("sequence_number") >= lo && col("sequence_number") < hi)
    def ids(lo: Long, hi: Long): Set[String] =
      slice(lo, hi).select("id").collect().map(_.getString(0)).toSet
    // micro-batch-shaped history: 6 commits of 2 files
    (0 until 6).foreach(i =>
      sourceBus.append(slice(i * 10L, (i + 1) * 10L).repartition(2)))
    val specA = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-cb-a"))
    val sinkA: SubscriptionRunner.Sink =
      { d => CompactBelowE2E.a.add(d.id); Right(()) }

    // run 1: founder drains the 6 commits, group stops (checkpoint now
    // has the committed offset compactBelow keys off)
    val g1 = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, ckpt)
    try { assert(g1.awaitTermination(60000)) }
    finally g1.stop()
    assert(CompactBelowE2E.a.asScala.toSet == ids(0, 60))

    // compact BETWEEN runs: all 12 files are committed → all compact
    val filesBefore = sourceBus.read(spark).inputFiles.length
    assert(sourceBus.compactBelow(spark, 2, Seq(ckpt)) == filesBefore)
    assert(sourceBus.read(spark).inputFiles.length == 2)
    assert(sourceBus.read(spark).count() == 60L)
    assert(sourceBus.read(spark).select("sequence_number").distinct()
      .count() == 60L)

    // tail lands, run 2 restarts on the SAME checkpoint: the compacted
    // outputs must NOT re-deliver to the founder
    sourceBus.append(slice(60, 70).repartition(2))
    val g2 = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, ckpt, trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      val d1 = System.currentTimeMillis() + 60000
      def settledA(n: Int): Boolean = CompactBelowE2E.a.size == n &&
        CompactBelowE2E.a.asScala.toSet.size == n
      while (CompactBelowE2E.a.asScala.toSet != ids(0, 70) &&
        System.currentTimeMillis() < d1) Thread.sleep(100)
      Thread.sleep(600)
      assert(CompactBelowE2E.a.size == 70 &&
        CompactBelowE2E.a.asScala.toSet == ids(0, 70),
        s"run-2 founder must see the tail once and NOTHING re-delivered " +
          s"(got ${CompactBelowE2E.a.size} deliveries)")

      // an Earliest attach's own stream serves full history from the
      // COMPACTED files
      val specB = SubscriptionRunner.Spec(Seq.empty, None,
        SubscriptionRunner.Config("sub-cb-b"))
      val sinkB: SubscriptionRunner.Sink =
        { d => CompactBelowE2E.b.add(d.id); Right(()) }
      val res = g2.attach(specB, SubscriptionRunner.Delivery.PerEvent(sinkB),
        SubscriptionRunner.OffsetReset.Earliest)
      assert(res.delivered == 70L)
      assert(CompactBelowE2E.b.asScala.toSet == ids(0, 70))

      // compact MID-STREAM (both streams live): wait until the tail commit
      // is in every checkpoint's committed offset, then swap
      sourceBus.append(slice(70, 80).repartition(2))
      val d2 = System.currentTimeMillis() + 60000
      while (CompactBelowE2E.a.asScala.toSet != ids(0, 80) &&
        System.currentTimeMillis() < d2) Thread.sleep(100)
      var compacted = 0
      val d3 = System.currentTimeMillis() + 60000
      while (compacted == 0 && System.currentTimeMillis() < d3) {
        compacted = sourceBus.compactBelow(spark, 2, g2.checkpoints)
        if (compacted == 0) Thread.sleep(200)
      }
      assert(compacted > 0, "live-stream compactBelow never found a " +
        "committed set to compact")
      // zero re-deliveries from the mid-stream swap, and new appends
      // still flow to both members exactly once
      sourceBus.append(slice(80, 100))
      val d4 = System.currentTimeMillis() + 60000
      while ((CompactBelowE2E.a.asScala.toSet != ids(0, 100) ||
        CompactBelowE2E.b.asScala.toSet != ids(0, 100)) &&
        System.currentTimeMillis() < d4) Thread.sleep(100)
      Thread.sleep(600)
      assert(settledA(100),
        s"founder: ${CompactBelowE2E.a.size} deliveries of " +
          s"${CompactBelowE2E.a.asScala.toSet.size} distinct ids")
      assert(CompactBelowE2E.b.size == 100 &&
        CompactBelowE2E.b.asScala.toSet == ids(0, 100),
        s"attacher: ${CompactBelowE2E.b.size} deliveries")
      // read-back equal: the swap neither lost nor duplicated rows
      assert(sourceBus.read(spark).count() == 100L)
      assert(sourceBus.read(spark).select("sequence_number").distinct()
        .count() == 100L)
    } finally g2.stop()
  }

  test("a raw readStream query across compactBelow: zero re-deliveries without the runner") {
    // the offset lives in the source itself, so a stream that never
    // goes through the runner must not see compacted rows again either
    import org.apache.spark.sql.streaming.Trigger
    val bus = EventBus(tmp("rawsrc"))
    val ckpt = tmp("rawck")
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 70)
    def slice(lo: Long, hi: Long) = events
      .filter(col("sequence_number") >= lo && col("sequence_number") < hi)
    (0 until 6).foreach(i =>
      bus.append(slice(i * 10L, (i + 1) * 10L).repartition(2)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Unit = {
      val q = bus.readStream(spark).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = b.select("id").collect().map(_.getString(0))
          seen.synchronized { seen ++= got }
          ()
        }.start()
      try assert(q.awaitTermination(60000)) finally q.stop()
    }
    drain()
    assert(seen.size == 60)
    // every file is committed by the drained checkpoint, so all compact
    val filesBefore = bus.read(spark).inputFiles.length
    assert(bus.compactBelow(spark, 2, Seq(ckpt)) == filesBefore)
    bus.append(slice(60, 70).repartition(2))
    drain()
    val all = events.select("id").collect().map(_.getString(0)).toSet
    assert(seen.size == 70 && seen.toSet == all,
      s"the restarted stream must see the tail once and NOTHING re-delivered " +
        s"(got ${seen.size} deliveries)")
  }

  test("a FRESH checkpoint's founders take initial load from pre-birth compaction outputs") {
    // a group born on an already-compacted bus must receive the
    // compacted files as its legitimate initial load, or compaction
    // would silently orphan history for every future subscriber
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("cfsrc"))
    CompactFreshE2E.a.clear()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 60)
    (0 until 3).foreach(i => sourceBus.append(events
      .filter(col("sequence_number") >= i * 20 &&
        col("sequence_number") < (i + 1) * 20).repartition(2)))
    // drain with a throwaway group so a committed offset exists, then
    // compact everything it committed
    val specTmp = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-cf-tmp"))
    val ckTmp = tmp("cfcktmp")
    val g0 = SubscriptionRunner.startSharedGroup(spark, sourceBus,
      Seq((specTmp, SubscriptionRunner.Delivery.PerEvent(_ => Right(())))),
      None, None, ckTmp)
    try { assert(g0.awaitTermination(60000)) }
    finally g0.stop()
    assert(sourceBus.compactBelow(spark, 1, Seq(ckTmp)) == 6)
    assert(sourceBus.read(spark).inputFiles.length == 1,
      "the whole bus is now compaction output")
    // a brand-new group on a brand-new checkpoint: its founder must see
    // every row exactly once via the stream's first batches
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-cf-a"))
    val sink: SubscriptionRunner.Sink =
      { d => CompactFreshE2E.a.add(d.id); Right(()) }
    val g1 = SubscriptionRunner.startSharedGroup(spark, sourceBus,
      Seq((spec, SubscriptionRunner.Delivery.PerEvent(sink))),
      None, None, tmp("cfck1"))
    try { assert(g1.awaitTermination(60000)) }
    finally g1.stop()
    val expect = events.select("id").collect().map(_.getString(0)).toSet
    assert(CompactFreshE2E.a.size == 60 &&
      CompactFreshE2E.a.asScala.toSet == expect,
      s"fresh founder got ${CompactFreshE2E.a.size} deliveries — " +
        "compaction outputs are initial load, not re-delivery")
  }

  test("SharedGroup.attach is non-blocking: members proceed during a slow catch-up") {
    // VERDICT r16 #1: the r16 attach held the group lock through the
    // whole catch-up read, so an Earliest attach on a deep bus stalled
    // every member's micro-batches. The attacher's catch-up is its own
    // stream — this case BLOCKS the catch-up mid-delivery on a latch and
    // proves the founding member still drains fresh appends meanwhile,
    // then checks the attacher's final delivery set is still
    // exactly-once.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.Trigger
    val sourceBus = EventBus(tmp("nbsrc"))
    NonBlockAttachE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("type").isin("purchase", "signup"))
      .filter(col("sequence_number") < 120)
    val batch1 = events.filter(col("sequence_number") < 60)
    val batch2 = events.filter(col("sequence_number") >= 60)
    def idsOf(df: org.apache.spark.sql.DataFrame, t: String): Set[String] =
      df.filter(col("type") === t).select("id").collect()
        .map(_.getString(0)).toSet
    assert(idsOf(batch1, "signup").size > 1)
    sourceBus.append(batch1)
    val specA = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "purchase"))), None,
      SubscriptionRunner.Config("sub-a"))
    val sinkA: SubscriptionRunner.Sink = { d =>
      NonBlockAttachE2E.a.add(d.id); Right(())
    }
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, tmp("nbck"),
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      val d1 = System.currentTimeMillis() + 60000
      while (NonBlockAttachE2E.a.asScala.toSet != idsOf(batch1, "purchase") &&
        System.currentTimeMillis() < d1) Thread.sleep(50)
      assert(NonBlockAttachE2E.a.asScala.toSet == idsOf(batch1, "purchase"))

      // attach sub-b (Earliest) on a background thread; its sink blocks
      // the FIRST pre-attach signup on a latch, freezing the catch-up
      // mid-delivery (one task only — the founder keeps its slots)
      val specB = SubscriptionRunner.Spec(
        Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-b"))
      val sinkB: SubscriptionRunner.Sink = { d =>
        if (d.sequenceNumber < 60 &&
          NonBlockAttachE2E.claimed.compareAndSet(false, true)) {
          NonBlockAttachE2E.entered.countDown()
          NonBlockAttachE2E.gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
          ()
        }
        NonBlockAttachE2E.b.add(d.id); Right(())
      }
      val res = new java.util.concurrent.atomic.AtomicReference[
        SubscriptionRunner.BatchResult]()
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() =>
        try res.set(group.attach(specB,
          SubscriptionRunner.Delivery.PerEvent(sinkB),
          SubscriptionRunner.OffsetReset.Earliest))
        catch { case e: Throwable => err.set(e) })
      t.start()
      // wait until the catch-up is genuinely in flight and frozen
      assert(NonBlockAttachE2E.entered.await(
        60, java.util.concurrent.TimeUnit.SECONDS),
        "catch-up never reached the blocking sink")

      // a detach of the mid-attach member must refuse (attach would
      // otherwise report a member that no longer exists)
      intercept[IllegalStateException](group.detach("sub-b"))

      // fresh events land while the catch-up is frozen: the LIVENESS
      // claim — the founding member must drain them through the shared
      // cadence before the attach completes
      sourceBus.append(batch2)
      val expectA = idsOf(batch1, "purchase") ++ idsOf(batch2, "purchase")
      val d2 = System.currentTimeMillis() + 60000
      while (NonBlockAttachE2E.a.asScala.toSet != expectA &&
        System.currentTimeMillis() < d2) Thread.sleep(50)
      assert(NonBlockAttachE2E.a.asScala.toSet == expectA,
        "founding member must keep draining while the attach catch-up is blocked")
      assert(t.isAlive,
        "the catch-up must still be in flight when the founder finishes batch2")

      // release the catch-up; attach completes having caught up on the
      // history committed when it started (batch1), and batch2 arrives
      // live: every signup exactly once
      NonBlockAttachE2E.gate.countDown()
      t.join(120000)
      assert(!t.isAlive, "attach must complete after the gate opens")
      assert(err.get() == null, s"attach failed: ${err.get()}")
      assert(res.get().delivered == idsOf(batch1, "signup").size.toLong,
        s"catch-up must cover the history committed at attach: ${res.get()}")
      val expectB = idsOf(batch1, "signup") ++ idsOf(batch2, "signup")
      val d3 = System.currentTimeMillis() + 60000
      while (NonBlockAttachE2E.b.asScala.toSet != expectB &&
        System.currentTimeMillis() < d3) Thread.sleep(50)
      Thread.sleep(500) // a double delivery needs time to surface
      assert(NonBlockAttachE2E.b.asScala.toSeq.sorted == expectB.toSeq.sorted,
        "attacher must see every signup exactly once across the boundary")
    } finally {
      NonBlockAttachE2E.gate.countDown() // never leave a task latched
      group.stop()
    }
  }

  test("epoch membership: attach/detach register while a latched batch is STILL in flight") {
    // VERDICT r18 #3: the r18 processShared held the group lock for the
    // whole micro-batch, so an attach queued behind the longest
    // in-flight batch — with a latched slow sink, a new member waited
    // minutes just to register. The epoch snapshot bounds registration
    // at O(1): this case freezes the FOUNDER's sink mid-batch and proves
    // a full Earliest attach (register + catch-up), a Latest attach,
    // and a detach ALL complete while that batch is still latched —
    // then releases the latch and checks exactly-once delivery on both
    // sides.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.Trigger
    val sourceBus = EventBus(tmp("epsrc"))
    EpochAttachE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("type").isin("purchase", "signup"))
      .filter(col("sequence_number") < 60)
    def idsOf(t: String): Set[String] =
      events.filter(col("type") === t).select("id").collect()
        .map(_.getString(0)).toSet
    sourceBus.append(events)
    val specA = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "purchase"))), None,
      SubscriptionRunner.Config("sub-a"))
    val sinkA: SubscriptionRunner.Sink = { d =>
      if (EpochAttachE2E.claimed.compareAndSet(false, true)) {
        EpochAttachE2E.entered.countDown()
        EpochAttachE2E.gate.await(120, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
      EpochAttachE2E.a.add(d.id); Right(())
    }
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, tmp("epck"),
      trigger = Trigger.ProcessingTime("200 milliseconds"),
      onBatch = _ => EpochAttachE2E.batchesDone.incrementAndGet())
    try {
      assert(EpochAttachE2E.entered.await(
        60, java.util.concurrent.TimeUnit.SECONDS),
        "founder's sink never entered the latched batch")
      assert(EpochAttachE2E.batchesDone.get() == 0,
        "the latched batch must still be in flight")

      // full Earliest attach — register and catch-up — completes with
      // the batch STILL latched (the r18 shape deadlocked here until the
      // founder's sink returned)
      val sinkB: SubscriptionRunner.Sink = { d =>
        EpochAttachE2E.b.add(d.id); Right(())
      }
      val specB = SubscriptionRunner.Spec(
        Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-b"))
      val res = group.attach(specB,
        SubscriptionRunner.Delivery.PerEvent(sinkB),
        SubscriptionRunner.OffsetReset.Earliest)
      assert(EpochAttachE2E.batchesDone.get() == 0,
        "attach must have completed while the batch was still in flight")
      assert(res.delivered == idsOf("signup").size.toLong,
        s"Earliest catch-up must serve the full history: $res")

      // Latest attach and a detach are O(1) too
      val specC = SubscriptionRunner.Spec(Seq.empty, None,
        SubscriptionRunner.Config("sub-c"))
      group.attach(specC,
        SubscriptionRunner.Delivery.PerEvent(_ => Right(())),
        SubscriptionRunner.OffsetReset.Latest)
      assert(group.detach("sub-c"))
      assert(EpochAttachE2E.batchesDone.get() == 0)

      // release: the founder finishes ITS whole batch (epoch snapshot —
      // the mid-batch membership changes never touched it)
      EpochAttachE2E.gate.countDown()
      val d1 = System.currentTimeMillis() + 60000
      while (EpochAttachE2E.a.asScala.toSet != idsOf("purchase") &&
        System.currentTimeMillis() < d1) Thread.sleep(50)
      assert(EpochAttachE2E.a.asScala.toSet == idsOf("purchase"))
      Thread.sleep(500) // let a double delivery surface
      assert(EpochAttachE2E.b.asScala.toSeq.sorted ==
        idsOf("signup").toSeq.sorted,
        "attacher must see its history exactly once — no stream replay")
    } finally {
      EpochAttachE2E.gate.countDown()
      group.stop()
    }
  }

  test("shared-group roster: resumeSharedGroup rebuilds members without replaying catch-ups") {
    // VERDICT r16 #2: the roster was driver memory — a restarted group
    // had to be rebuilt by the caller, and a re-attached Earliest member
    // replayed its entire catch-up. With rosterPath set, attach/detach
    // persist (subscriptionId, spec, delivery kind, and an attacher's
    // start offset and checkpoint) atomically and resumeSharedGroup
    // rebuilds the group self-contained.
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("rosrc"))
    val ckpt = tmp("rock")
    val roster = tmp("roster") + "/group.json"
    RosterResumeE2E.a.clear(); RosterResumeE2E.b.clear()
    val events0 = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("type").isin("purchase", "signup"))
    val events = events0.filter(col("sequence_number") < 120)
    val batch1 = events.filter(col("sequence_number") < 60)
    val batch2 = events.filter(col("sequence_number") >= 60)
    def idsOf(df: org.apache.spark.sql.DataFrame, t: String): Set[String] =
      df.filter(col("type") === t).select("id").collect()
        .map(_.getString(0)).toSet
    sourceBus.append(batch1)
    val specA = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "purchase"))), None,
      SubscriptionRunner.Config("sub-a"))
    val specB = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
      SubscriptionRunner.Config("sub-b", maxRetryAttempts = 5))
    val sinkA: SubscriptionRunner.Sink = { d => RosterResumeE2E.a.add(d.id); Right(()) }
    val sinkB: SubscriptionRunner.Sink = { d => RosterResumeE2E.b.add(d.id); Right(()) }

    // run 1: founder drains batch1, then sub-b attaches from Earliest
    val g1 = SubscriptionRunner.startSharedGroup(
      spark, sourceBus, Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, ckpt, rosterPath = Some(roster))
    try {
      assert(g1.awaitTermination(60000))
      val res = g1.attach(specB, SubscriptionRunner.Delivery.PerEvent(sinkB),
        SubscriptionRunner.OffsetReset.Earliest)
      assert(res.delivered == idsOf(batch1, "signup").size.toLong)
    } finally g1.stop()
    assert(RosterResumeE2E.b.asScala.toSet == idsOf(batch1, "signup"))

    // the roster file now records both members, sub-b as an attacher
    val entries = SubscriptionRunner.loadRoster(roster)
    assert(entries.map(_.spec.config.subscriptionId).toSet == Set("sub-a", "sub-b"))
    assert(entries.forall(_.deliveryKind == "perEvent"))
    assert(entries.find(_.spec.config.subscriptionId == "sub-b")
      .exists(_.spec.config.maxRetryAttempts == 5),
      "config knobs must round-trip through the roster")
    assert(entries.map(e => e.spec.config.subscriptionId ->
      e.attached.map(a => (a.after, a.dir.isDefined))).toMap ==
      Map("sub-a" -> None, "sub-b" -> Some((None, true))),
      "sub-b is recorded as an Earliest attacher with its own checkpoint")

    // run 2 (RESTART, self-contained): resume from the roster — NO
    // replays (sub-b's checkpoint and the shared one cover all history);
    // batch2 lands and every member sees exactly the new events
    sourceBus.append(batch2)
    val g2 = SubscriptionRunner.resumeSharedGroup(
      spark, sourceBus, roster,
      {
        case "sub-a" => SubscriptionRunner.Delivery.PerEvent(sinkA)
        case "sub-b" => SubscriptionRunner.Delivery.PerEvent(sinkB)
        case other => fail(s"unexpected subscription $other")
      },
      None, None, ckpt)
    try { assert(g2.awaitTermination(60000)) }
    finally g2.stop()
    Thread.sleep(200)
    assert(RosterResumeE2E.a.asScala.toSeq.sorted ==
      (idsOf(batch1, "purchase") ++ idsOf(batch2, "purchase")).toSeq.sorted,
      "founding member: batch1 once (run 1) + batch2 once (run 2)")
    assert(RosterResumeE2E.b.asScala.toSeq.sorted ==
      (idsOf(batch1, "signup") ++ idsOf(batch2, "signup")).toSeq.sorted,
      "restored attacher: NO catch-up replay, exactly the new events")

    // a mis-wired delivery kind fails fast on resume
    intercept[IllegalArgumentException] {
      SubscriptionRunner.resumeSharedGroup(
        spark, sourceBus, roster,
        _ => SubscriptionRunner.Delivery.Batched(_ => Right(()), 7),
        None, None, tmp("rock2"))
    }

    // DETACH persists: drop sub-b, resume again — the roster must no
    // longer carry it, and the resumed group must run with sub-a alone
    val g4 = SubscriptionRunner.resumeSharedGroup(
      spark, sourceBus, roster,
      {
        case "sub-a" => SubscriptionRunner.Delivery.PerEvent(sinkA)
        case "sub-b" => SubscriptionRunner.Delivery.PerEvent(sinkB)
        case other => fail(s"unexpected subscription $other")
      },
      None, None, ckpt)
    try {
      assert(g4.awaitTermination(60000))
      assert(g4.detach("sub-b"))
    } finally g4.stop()
    val afterDetach = SubscriptionRunner.loadRoster(roster)
    assert(afterDetach.map(_.spec.config.subscriptionId) == Seq("sub-a"),
      "detach must rewrite the roster without the member")
    val bBefore = RosterResumeE2E.b.asScala.toSet
    val batch3 = events0.filter(col("sequence_number") >= 120 &&
      col("sequence_number") < 160)
    sourceBus.append(batch3)
    val g5 = SubscriptionRunner.resumeSharedGroup(
      spark, sourceBus, roster,
      {
        case "sub-a" => SubscriptionRunner.Delivery.PerEvent(sinkA)
        case other => fail(s"detached member resurrected: $other")
      },
      None, None, ckpt)
    try { assert(g5.awaitTermination(60000)) }
    finally g5.stop()
    Thread.sleep(200)
    assert(RosterResumeE2E.b.asScala.toSet == bBefore,
      "a detached member must see nothing after a roster resume")
    assert(idsOf(batch3, "purchase").subsetOf(RosterResumeE2E.a.asScala.toSet),
      "the remaining member keeps draining after the detach-resume")

    // a DURABLE group refuses filters that cannot round-trip its roster:
    // duplicate Exact keys collapse through the JSON object form (the
    // resumed member would compile a WIDER filter)
    val g3 = SubscriptionRunner.startSharedGroup(
      spark, sourceBus, Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, tmp("rock3"), rosterPath = Some(tmp("roster3") + "/g.json"))
    try {
      intercept[IllegalArgumentException] {
        g3.attach(SubscriptionRunner.Spec(
          Seq(graft.model.FilterSpec.Exact(
            Seq("type" -> "purchase", "type" -> "signup"))), None,
          SubscriptionRunner.Config("sub-dup")),
          SubscriptionRunner.Delivery.PerEvent(sinkB),
          SubscriptionRunner.OffsetReset.Latest)
      }
    } finally g3.stop()
  }

  test("shared-group members keep rate-limit and ordered-mode semantics") {
    // VERDICT r16 #5: a member Spec carrying Config.rateLimit or ordered
    // mode must behave identically under processShared as under a
    // dedicated runner (the reference applies the limiter and ordering
    // per subscription, trigger.go:247/386-392). One shared batch, three
    // members: a rate-limited one (admission throttled to ~rate/sec), an
    // ordered one whose failures go straight to DLQ (never the retry
    // bus), and a plain control.
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("rlsrc"))
    val dlqBus = EventBus(tmp("rldlq"))
    val retrySpool = BucketedSpool(tmp("rlretry"), tickSeconds = 60L)
    SharedRateOrderedE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    sourceBus.append(events)
    val n = events.count()
    assert(n >= 30)

    // rate-limited member: 10 events/sec over >=30 events => >= ~2 s
    val specRate = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-rate", rateLimitPerSec = 10))
    val sinkRate: SubscriptionRunner.Sink = { d =>
      SharedRateOrderedE2E.rate.add(d.id); Right(())
    }
    // ordered member: every 5th event fails with a RETRYABLE 503 — in
    // ordered mode that must still go straight to the DLQ (stamped with
    // the order error code), never into the retry spool
    val specOrd = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-ord", orderedEvent = true))
    val sinkOrd: SubscriptionRunner.Sink = { d =>
      SharedRateOrderedE2E.ord.add(d.sequenceNumber)
      if (d.sequenceNumber % 5 == 0) Left(503) else Right(())
    }
    val specPlain = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-plain"))
    val sinkPlain: SubscriptionRunner.Sink = { d =>
      SharedRateOrderedE2E.plain.add(d.id); Right(())
    }
    val results = new java.util.concurrent.ConcurrentLinkedQueue[
      Map[String, SubscriptionRunner.BatchResult]]()
    val t0 = System.nanoTime()
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specRate, SubscriptionRunner.Delivery.PerEvent(sinkRate)),
        (specOrd, SubscriptionRunner.Delivery.PerEvent(sinkOrd)),
        (specPlain, SubscriptionRunner.Delivery.PerEvent(sinkPlain))),
      Some(retrySpool), Some(dlqBus), tmp("rlck"),
      onBatch = r => { results.add(r); () })
    try { assert(group.awaitTermination(120000)) }
    finally group.stop()
    val elapsedSec = (System.nanoTime() - t0) / 1e9

    // every member saw every event
    val allIds = events.select("id").collect().map(_.getString(0)).toSet
    assert(SharedRateOrderedE2E.rate.asScala.toSet == allIds)
    assert(SharedRateOrderedE2E.plain.asScala.toSet == allIds)
    // rate member: n events at 10/s cannot finish faster than
    // floor((n-1)/10) full windows (leaky bucket admits 10 per window)
    val minSec = ((n - 1) / 10).toDouble
    assert(elapsedSec >= minSec,
      s"rate-limited member must throttle the batch: $elapsedSec s < $minSec s")
    // ordered member: delivery attempts arrive in offset order
    val ordSeqs = SharedRateOrderedE2E.ord.asScala.toVector
    assert(ordSeqs == ordSeqs.sorted,
      s"ordered member must deliver in offset order: $ordSeqs")
    // ordered failures: straight to DLQ, never the retry spool
    val agg = results.asScala.toSeq
    val ordRes = agg.map(_.get("sub-ord")).flatten
    assert(ordRes.map(_.toDlq).sum ==
      events.filter(col("sequence_number") % 5 === 0).count())
    assert(ordRes.map(_.toRetry).sum == 0L,
      "ordered mode must not route failures to retry (trigger.go:386-392)")
    // the spool must hold NO buckets at all (the only failing member is
    // ordered; an empty spool dir can't even be read as parquet)
    assert(retrySpool.maturedBuckets(spark, Long.MaxValue).isEmpty,
      "ordered failures must never reach the retry spool")
    val dlqOrd = dlqBus.read(spark).filter(
      col("attributes").getItem("xvanussubscriptionid") === "sub-ord")
    assert(dlqOrd.count() ==
      events.filter(col("sequence_number") % 5 === 0).count())
  }

  test("startSharedGroup: a member's batched delivery chunks like stream_send_batches") {
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("sbsrc"))
    SharedBatchedE2E.calls.clear(); SharedBatchedE2E.per.clear()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    sourceBus.append(events)
    val n = events.count()
    assert(n > 10)
    // ordered mode funnels delivery through one task in offset order, so
    // the chunk layout is fully deterministic (the stream_send_batches
    // shape: full chunks of maxSize, then the remainder)
    val specBat = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-batched", orderedEvent = true))
    val batchSink: SubscriptionRunner.BatchSink = { ds =>
      SharedBatchedE2E.calls.add(ds.map(_.id).toVector); Right(())
    }
    val specPer = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-per"))
    val perSink: SubscriptionRunner.Sink = { d =>
      SharedBatchedE2E.per.add(d.id); Right(())
    }
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specBat, SubscriptionRunner.Delivery.Batched(batchSink, 7)),
        (specPer, SubscriptionRunner.Delivery.PerEvent(perSink))),
      None, None, tmp("sbck"))
    try { assert(group.awaitTermination(60000)) }
    finally group.stop()

    val chunks = SharedBatchedE2E.calls.asScala.toSeq
    val inOrder = events.orderBy(col("sequence_number"))
      .select("id").collect().map(_.getString(0)).toVector
    // the stream_send_batches layout, exactly: offset order, full chunks
    // of 7, the remainder as the final (time-)flush
    assert(chunks == inOrder.grouped(7).toSeq,
      s"chunk layout must match grouped(7) in offset order: $chunks")
    assert(SharedBatchedE2E.per.asScala.toSet == inOrder.toSet,
      "the per-event member is unaffected by its sibling's delivery mode")
  }

  test("shared-batch members route CONCURRENTLY: one slow sink cannot stall its sibling") {
    // VERDICT r17 #1: the r17 shape routed members SEQUENTIALLY under the
    // group lock — shared-batch wall time was the SUM of member delivery
    // times and one slow sink stalled every other member. The proof here
    // is latch-based, not wall-clock: each member's sink signals its own
    // start and then waits (bounded) for the sibling's start. Under
    // sequential routing the first member's wait can never be satisfied
    // (the sibling won't start until it finishes); under concurrent
    // routing both proceed. The reference delivers per-subscription
    // concurrently (server/trigger/trigger/trigger.go:97,134,314).
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("pmsrc"))
    ParallelMembersE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    sourceBus.append(events)
    val allIds = events.select("id").collect().map(_.getString(0)).toSet
    val specA = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-a"))
    val specB = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-b"))
    val sinkA: SubscriptionRunner.Sink = { d =>
      if (ParallelMembersE2E.aClaimed.compareAndSet(false, true)) {
        ParallelMembersE2E.aStarted.countDown()
        ParallelMembersE2E.aSawB.set(ParallelMembersE2E.bStarted.await(
          30, java.util.concurrent.TimeUnit.SECONDS))
      }
      ParallelMembersE2E.a.add(d.id); Right(())
    }
    val sinkB: SubscriptionRunner.Sink = { d =>
      if (ParallelMembersE2E.bClaimed.compareAndSet(false, true)) {
        ParallelMembersE2E.bStarted.countDown()
        ParallelMembersE2E.bSawA.set(ParallelMembersE2E.aStarted.await(
          30, java.util.concurrent.TimeUnit.SECONDS))
      }
      ParallelMembersE2E.b.add(d.id); Right(())
    }
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA)),
        (specB, SubscriptionRunner.Delivery.PerEvent(sinkB))),
      None, None, tmp("pmck"))
    try { assert(group.awaitTermination(120000)) }
    finally group.stop()
    assert(ParallelMembersE2E.a.asScala.toSet == allIds)
    assert(ParallelMembersE2E.b.asScala.toSet == allIds)
    assert(ParallelMembersE2E.aSawB.get && ParallelMembersE2E.bSawA.get,
      "both members must observe each other mid-delivery — sequential " +
        "routing would leave one waiting until timeout")
  }

  test("query.stop mid-shared-batch: teardown does not hang on latched sinks; restart redelivers at-least-once") {
    // r18's processShared awaits ALL member futures; when query.stop
    // interrupts the stream thread mid-await, the handler cancels
    // un-started members, interrupts in-flight routing threads, and
    // rethrows — so stop() must return promptly even while a member's
    // sink task sits latched on an executor thread (the latched task
    // itself finishes its partition later; the contract is
    // at-least-once, same as a crash at that point). The replay half:
    // the interrupted batch never committed, so a restart on the same
    // checkpoint redelivers it and every member converges to the full
    // event set.
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("sdsrc"))
    val ckpt = tmp("sdck")
    StopDrainE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 30)
    sourceBus.append(events)
    val allIds = events.select("id").collect().map(_.getString(0)).toSet
    val specA = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-a"))
    val specB = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-b"))
    // each member's FIRST delivery signals its start and then blocks on
    // the shared gate (far longer than the stop bound below, so a
    // teardown that waits for latched sinks fails the elapsed assert)
    val sinkA: SubscriptionRunner.Sink = { d =>
      if (StopDrainE2E.aClaimed.compareAndSet(false, true)) {
        StopDrainE2E.aStarted.countDown()
        StopDrainE2E.gate.await(180, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
      StopDrainE2E.a.add(d.id); Right(())
    }
    val sinkB: SubscriptionRunner.Sink = { d =>
      if (StopDrainE2E.bClaimed.compareAndSet(false, true)) {
        StopDrainE2E.bStarted.countDown()
        StopDrainE2E.gate.await(180, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
      StopDrainE2E.b.add(d.id); Right(())
    }
    def members = Seq(
      (specA, SubscriptionRunner.Delivery.PerEvent(sinkA)),
      (specB, SubscriptionRunner.Delivery.PerEvent(sinkB)))
    val g1 = SubscriptionRunner.startSharedGroup(
      spark, sourceBus, members, None, None, ckpt)
    try {
      // both members mid-delivery => the stream thread is in the
      // await-all over member futures
      assert(StopDrainE2E.aStarted.await(60,
        java.util.concurrent.TimeUnit.SECONDS), "member A never started")
      assert(StopDrainE2E.bStarted.await(60,
        java.util.concurrent.TimeUnit.SECONDS), "member B never started")
      val t0 = System.nanoTime()
      g1.stop()
      val stopSec = (System.nanoTime() - t0) / 1e9
      assert(stopSec < 60.0,
        f"stop() must not wait out latched sinks (took $stopSec%.1f s)")
    } finally {
      StopDrainE2E.gate.countDown() // never leave executor tasks latched
      g1.stop()
    }
    // restart on the same checkpoint: the interrupted batch replays
    // (its offsets never committed) and both members converge on the
    // full set — duplicates from the orphaned first attempt are the
    // documented at-least-once surface, so the assert is set equality
    val g2 = SubscriptionRunner.startSharedGroup(
      spark, sourceBus, members, None, None, ckpt)
    try { assert(g2.awaitTermination(120000)) }
    finally g2.stop()
    assert(StopDrainE2E.a.asScala.toSet == allIds,
      "member A must converge to the full event set across the restart")
    assert(StopDrainE2E.b.asScala.toSet == allIds,
      "member B must converge to the full event set across the restart")
  }

  test("attach under a racing appender: every appended row reaches the attacher exactly once") {
    // the attacher's catch-up covers the history committed when attach
    // starts, and its stream then continues on the same checkpoint, so
    // rows appended during and after the catch-up arrive live — no
    // convergence loop, no row threshold, nothing served twice
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.Trigger
    val sourceBus = EventBus(tmp("cvsrc"))
    ConvergenceE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
    sourceBus.append(events.filter(col("sequence_number") < 64))
    val specA = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-a"))
    val sinkA: SubscriptionRunner.Sink = { d =>
      ConvergenceE2E.a.add(d.id); Right(())
    }
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, tmp("cvck"),
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      val d1 = System.currentTimeMillis() + 60000
      while (ConvergenceE2E.a.size < 64 && System.currentTimeMillis() < d1)
        Thread.sleep(50)
      assert(ConvergenceE2E.a.size == 64)

      // continuous single-row appends race the whole attach
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val appended = new java.util.concurrent.atomic.AtomicLong(64)
      val appender = new Thread(() => {
        while (!stop.get()) {
          val s = appended.getAndIncrement()
          sourceBus.append(events.filter(col("sequence_number") === s))
        }
      })
      appender.start()
      val res =
        try {
          Thread.sleep(500) // the race is on before the attach starts
          val specB = SubscriptionRunner.Spec(Seq.empty, None,
            SubscriptionRunner.Config("sub-b"))
          val slowSink: SubscriptionRunner.Sink = { d =>
            Thread.sleep(20); ConvergenceE2E.b1.add(d.id); Right(())
          }
          group.attach(specB, SubscriptionRunner.Delivery.PerEvent(slowSink),
            SubscriptionRunner.OffsetReset.Earliest)
        } finally { stop.set(true); appender.join(60000) }
      val total = appended.get()
      assert(res.delivered >= 64L && res.delivered <= total,
        s"catch-up serves the history committed at attach: $res of $total")
      val expect = events.filter(col("sequence_number") < total).select("id")
        .collect().map(_.getString(0)).toSet
      val d2 = System.currentTimeMillis() + 90000
      while (ConvergenceE2E.b1.asScala.toSet != expect &&
        System.currentTimeMillis() < d2) Thread.sleep(100)
      Thread.sleep(500) // a double delivery needs time to surface
      assert(ConvergenceE2E.b1.asScala.toSeq.sorted == expect.toSeq.sorted,
        s"every appended row exactly once: ${ConvergenceE2E.b1.size} " +
          s"deliveries of $total rows")
    } finally group.stop()
  }

  test("detach of a live attacher returns while its sink is latched; its in-flight batch finishes whole") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.Trigger
    val sourceBus = EventBus(tmp("dlsrc"))
    val ckpt = tmp("dlck")
    DetachLatchE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("type").isin("purchase", "signup"))
    def slice(lo: Long, hi: Long) = events
      .filter(col("sequence_number") >= lo && col("sequence_number") < hi)
    def idsOf(df: org.apache.spark.sql.DataFrame, t: String): Set[String] =
      df.filter(col("type") === t).select("id").collect()
        .map(_.getString(0)).toSet
    val (batch1, batch2, batch3) = (slice(0, 60), slice(60, 120), slice(120, 160))
    assert(idsOf(batch2, "signup").nonEmpty && idsOf(batch3, "signup").nonEmpty)
    sourceBus.append(batch1)
    val specA = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "purchase"))), None,
      SubscriptionRunner.Config("sub-a"))
    val sinkA: SubscriptionRunner.Sink = { d =>
      DetachLatchE2E.a.add(d.id); Right(())
    }
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, ckpt, trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      val specB = SubscriptionRunner.Spec(
        Seq(graft.model.FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-b"))
      // the first LIVE delivery (batch2) latches
      val sinkB: SubscriptionRunner.Sink = { d =>
        if (d.sequenceNumber >= 60 &&
          DetachLatchE2E.claimed.compareAndSet(false, true)) {
          DetachLatchE2E.entered.countDown()
          DetachLatchE2E.gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
          ()
        }
        DetachLatchE2E.b.add(d.id); Right(())
      }
      val res = group.attach(specB, SubscriptionRunner.Delivery.PerEvent(sinkB),
        SubscriptionRunner.OffsetReset.Earliest)
      assert(res.delivered == idsOf(batch1, "signup").size.toLong)
      sourceBus.append(batch2)
      assert(DetachLatchE2E.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the attacher's live batch never reached its sink")

      // detach returns with the sink still latched
      val t0 = System.nanoTime()
      assert(group.detach("sub-b"))
      assert((System.nanoTime() - t0) / 1e9 < 10.0, "detach waited on the sink")
      assert(DetachLatchE2E.gate.getCount == 1L)
      assert(group.checkpoints == Seq(ckpt), "the detached stream left the group")

      // released, the in-flight batch finishes WHOLE; then the stream
      // stops and its checkpoint is deleted
      DetachLatchE2E.gate.countDown()
      val expectB = idsOf(batch1, "signup") ++ idsOf(batch2, "signup")
      val attachedDir = new java.io.File(s"$ckpt/attached")
      val d1 = System.currentTimeMillis() + 60000
      while ((DetachLatchE2E.b.asScala.toSet != expectB ||
          Option(attachedDir.list()).exists(_.nonEmpty)) &&
        System.currentTimeMillis() < d1) Thread.sleep(50)
      assert(DetachLatchE2E.b.asScala.toSeq.sorted == expectB.toSeq.sorted,
        "the in-flight batch must finish whole, and exactly once")
      assert(Option(attachedDir.list()).forall(_.isEmpty),
        "the detached stream's checkpoint must be deleted")

      // no later append reaches the detached attacher
      sourceBus.append(batch3)
      val expectA = idsOf(batch1, "purchase") ++ idsOf(batch2, "purchase") ++
        idsOf(batch3, "purchase")
      val d2 = System.currentTimeMillis() + 60000
      while (DetachLatchE2E.a.asScala.toSet != expectA &&
        System.currentTimeMillis() < d2) Thread.sleep(50)
      Thread.sleep(500)
      assert(DetachLatchE2E.a.asScala.toSet == expectA)
      assert(DetachLatchE2E.b.asScala.toSet == expectB,
        "a detached attacher must see nothing after detach")

      // a re-attach of the id starts from its own policy on a fresh stream
      val sinkB2: SubscriptionRunner.Sink = { d =>
        DetachLatchE2E.b2.add(d.id); Right(())
      }
      val expectAll = expectB ++ idsOf(batch3, "signup")
      val res2 = group.attach(specB, SubscriptionRunner.Delivery.PerEvent(sinkB2),
        SubscriptionRunner.OffsetReset.Earliest)
      assert(res2.delivered == expectAll.size.toLong)
      assert(DetachLatchE2E.b2.asScala.toSeq.sorted == expectAll.toSeq.sorted)
    } finally {
      DetachLatchE2E.gate.countDown()
      group.stop()
    }
  }

  test("an old-format roster (member guards) resumes its attachers with no replay and no loss") {
    // a roster written before attachers had streams of their own records
    // each member's guard: every row at or below it was delivered to the
    // member, and so was every row the shared checkpoint committed after
    // the member joined. Migration starts each attacher above the larger
    // of the two — the guard alone replays (guard, committed], the
    // committed offset alone replays (committed, guard].
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("mgsrc"))
    val ckpt = tmp("mgck")
    val roster = tmp("mgroster") + "/group.json"
    MigrateE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("type").isin("purchase", "signup"))
    def slice(lo: Long, hi: Long) = events
      .filter(col("sequence_number") >= lo && col("sequence_number") < hi)
    def seqs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("sequence_number").collect().map(_.getLong(0)).toSeq.sorted
    sourceBus.append(slice(0, 60))
    val specA = SubscriptionRunner.Spec(
      Seq(graft.model.FilterSpec.Exact(Seq("type" -> "purchase"))), None,
      SubscriptionRunner.Config("sub-a"))
    val sinkA: SubscriptionRunner.Sink = { d =>
      MigrateE2E.a.add(d.sequenceNumber); Right(())
    }
    val g1 = SubscriptionRunner.startSharedGroup(spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))), None, None, ckpt)
    try assert(g1.awaitTermination(60000)) finally g1.stop()
    val committed = BusSource.committedOffset(
      new org.apache.hadoop.fs.Path(ckpt).getFileSystem(
        spark.sparkContext.hadoopConfiguration), ckpt).get
    sourceBus.append(slice(60, 120))
    // sub-b joined below the committed offset, sub-c above it
    val (guardB, guardC) = (30L, 89L)
    assert(guardB < committed && guardC > committed)
    def member(id: String, guard: Long, filters: Seq[graft.model.FilterSpec]) =
      s"""{"guard":$guard,"delivery":{"kind":"perEvent"},"spec":{""" +
        s""""subscriptionId":"$id","filters":""" +
        graft.model.FilterSpec.listToJson(filters).render +
        s""","transformer":null,"config":{"maxRetryAttempts":32,""" +
        s""""disableDeadLetter":false,"orderedEvent":false,"rateLimitPerSec":0}}}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(roster).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(roster),
      Seq(member("sub-a", Long.MinValue, specA.filters),
        member("sub-b", guardB, Seq.empty),
        member("sub-c", guardC, Seq.empty))
        .mkString("""{"members":[""", ",", "]}").getBytes("UTF-8"))
    assert(SubscriptionRunner.loadRoster(roster).map(_.attached) == Seq(
      None, Some(SubscriptionRunner.Attached(Some(guardB), None)),
      Some(SubscriptionRunner.Attached(Some(guardC), None))))

    val sinkB: SubscriptionRunner.Sink = { d =>
      MigrateE2E.b.add(d.sequenceNumber); Right(())
    }
    val sinkC: SubscriptionRunner.Sink = { d =>
      MigrateE2E.c.add(d.sequenceNumber); Right(())
    }
    val g2 = SubscriptionRunner.resumeSharedGroup(spark, sourceBus, roster,
      {
        case "sub-a" => SubscriptionRunner.Delivery.PerEvent(sinkA)
        case "sub-b" => SubscriptionRunner.Delivery.PerEvent(sinkB)
        case "sub-c" => SubscriptionRunner.Delivery.PerEvent(sinkC)
        case other => fail(s"unexpected subscription $other")
      },
      None, None, ckpt)
    try assert(g2.awaitTermination(60000)) finally g2.stop()
    assert(MigrateE2E.a.asScala.toSeq.sorted ==
      seqs(slice(0, 120).filter(col("type") === "purchase")))
    assert(MigrateE2E.b.asScala.toSeq.sorted == seqs(slice(committed + 1, 120)),
      "sub-b resumes above the shared committed offset")
    assert(MigrateE2E.c.asScala.toSeq.sorted == seqs(slice(guardC + 1, 120)),
      "sub-c resumes above its guard")
    // the resume rewrote the roster in the attacher form
    val migrated = SubscriptionRunner.loadRoster(roster)
    assert(migrated.map(_.attached.map(_.after)) ==
      Seq(None, Some(Some(committed)), Some(Some(guardC))))
    assert(migrated.flatMap(_.attached).forall(_.dir.isDefined))
  }

  test("each shared group routes on its own member pool: a saturated group cannot queue another's") {
    // group 1's pool-width members all fail to a DLQ whose append lock
    // this thread holds, so every routing thread of group 1 blocks in
    // its DLQ append (a latch on the routing thread, not on an executor
    // task, so no core is held). Group 2's members must still route.
    import scala.jdk.CollectionConverters._
    PoolE2E.reset()
    val dlq = EventBus(tmp("pooldlq"))
    val bus1 = EventBus(tmp("poolsrc1"))
    val bus2 = EventBus(tmp("poolsrc2"))
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 8)
    bus1.append(events)
    bus2.append(events)
    val ids = events.select("id").collect().map(_.getString(0)).toSet
    val width = SubscriptionRunner.MemberPoolWidth
    val g1Members = (0 until width).map { i =>
      (SubscriptionRunner.Spec(Seq.empty, None,
        SubscriptionRunner.Config(s"g1-$i")),
        SubscriptionRunner.Delivery.PerEvent { _ =>
          PoolE2E.entered.add(i); Left(400)
        }: SubscriptionRunner.Delivery)
    }
    def g2Member(id: String) =
      (SubscriptionRunner.Spec(Seq.empty, None, SubscriptionRunner.Config(id)),
        SubscriptionRunner.Delivery.PerEvent { d =>
          (if (id == "g2-a") PoolE2E.a else PoolE2E.b).add(d.id); Right(())
        }: SubscriptionRunner.Delivery)
    var g1: SubscriptionRunner.SharedGroup = null
    var g2: SubscriptionRunner.SharedGroup = null
    try {
      EventBus.appendLock(dlq.path).synchronized {
        g1 = SubscriptionRunner.startSharedGroup(spark, bus1, g1Members,
          None, Some(dlq), tmp("poolck1"))
        val d1 = System.currentTimeMillis() + 60000
        while (PoolE2E.entered.asScala.toSet.size < width &&
          System.currentTimeMillis() < d1) Thread.sleep(50)
        assert(PoolE2E.entered.asScala.toSet.size == width,
          "every group-1 member must be routing")
        g2 = SubscriptionRunner.startSharedGroup(spark, bus2,
          Seq(g2Member("g2-a"), g2Member("g2-b")),
          None, None, tmp("poolck2"))
        val d2 = System.currentTimeMillis() + 30000
        while ((PoolE2E.a.asScala.toSet != ids || PoolE2E.b.asScala.toSet != ids) &&
          System.currentTimeMillis() < d2) Thread.sleep(50)
        assert(PoolE2E.a.asScala.toSet == ids && PoolE2E.b.asScala.toSet == ids,
          "group 2 must route while group 1's pool is saturated")
        assert(g2.awaitTermination(30000))
      }
      // released, group 1 finishes its DLQ appends
      assert(g1.awaitTermination(60000))
      assert(dlq.read(spark).count() == width.toLong * ids.size)
    } finally {
      if (g1 != null) g1.stop()
      if (g2 != null) g2.stop()
    }
  }

  test("ByTime attach never loses a qualifying event appended around the probe") {
    // ADVICE r17 medium: an attach that positions the member AFTER an
    // event with time >= ts was appended, while its probe ran before, loses
    // that event. Attach reads the committed max before the probe: a
    // qualifying row committed before the probe is found by it, one
    // committed later sorts above that max. This case races a qualifying
    // append against the attach: under EVERY interleaving the event must
    // reach the member exactly once — in its catch-up or live.
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.Trigger
    val sourceBus = EventBus(tmp("btsrc"))
    ByTimeRaceE2E.reset()
    val events = EventView.fromEventsTable(Tables.events(spark, sf))
    // history all strictly BEFORE the reset point
    val history = events.filter(col("sequence_number") < 40)
      .withColumn("time", lit("2030-01-01 00:00:00").cast("timestamp"))
    sourceBus.append(history)
    val ts = java.sql.Timestamp.valueOf("2031-06-01 00:00:00")
    // the qualifying event: one row, time past the reset point
    val qualifying = events.filter(col("sequence_number") === 40)
      .withColumn("time", lit("2031-06-02 00:00:00").cast("timestamp"))
    val specA = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-a"))
    val sinkA: SubscriptionRunner.Sink = { _ => Right(()) }
    val group = SubscriptionRunner.startSharedGroup(
      spark, sourceBus,
      Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
      None, None, tmp("btck"),
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      val specB = SubscriptionRunner.Spec(Seq.empty, None,
        SubscriptionRunner.Config("sub-b"))
      val sinkB: SubscriptionRunner.Sink = { d =>
        ByTimeRaceE2E.b.add(d.id); Right(())
      }
      val appender = new Thread(() => sourceBus.append(qualifying))
      appender.start() // race the append against the max read and probe
      group.attach(specB, SubscriptionRunner.Delivery.PerEvent(sinkB),
        SubscriptionRunner.OffsetReset.ByTime(ts))
      appender.join(60000)
      val d1 = System.currentTimeMillis() + 60000
      while (ByTimeRaceE2E.b.isEmpty && System.currentTimeMillis() < d1)
        Thread.sleep(50)
      Thread.sleep(500) // give a double delivery time to surface
      assert(ByTimeRaceE2E.b.asScala.toSeq == Seq("40"),
        "the qualifying event must reach the ByTime member exactly once, " +
          s"whatever the interleaving: ${ByTimeRaceE2E.b.asScala.toSeq}")
      // nothing from the pre-ts history leaked through the reset point
      assert(!ByTimeRaceE2E.b.asScala.exists(_ != "40"))
    } finally group.stop()
  }

  test("drain() quiesces a dedup-horizon subscription without hand-rolled polling") {
    import scala.jdk.CollectionConverters._
    val sourceBus = EventBus(tmp("drsrc"))
    IngestDedupE2E.delivered.clear()
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-drain",
        dedupHorizon = Some(java.time.Duration.ofHours(1))))
    val sink: SubscriptionRunner.Sink = { d =>
      IngestDedupE2E.delivered.add(d.id)
      Right(())
    }
    val evs = EventView.fromEventsTable(Tables.events(spark, sf))
    Seq(5L, 6L, 5L).foreach { i =>
      sourceBus.append(evs.filter(col("sequence_number") === i))
    }
    // the API the start() scaladoc sends drain-style callers to: returns
    // only after the bus is fully processed, query stopped, no leak
    SubscriptionRunner.drain(
      spark, sourceBus, spec, sink, None, None, tmp("drck"))
    assert(IngestDedupE2E.delivered.asScala.toSeq.sorted == Seq("5", "6"),
      "drain must deliver each (source, id) once and then return")
  }
}

/** Executor-side sink capture: an object field is a JVM singleton, so the
  * serialized closure's module reference resolves back to this instance in
  * local mode.
  */
object CompactBelowE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object CompactFreshE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object IngestDedupE2E {
  val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object NearDedupE2E {
  val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object SharedE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object BothHorizonsE2E {
  val delivered = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object LateAttachE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val c = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val d = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object RestartAttachE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object SharedBatchedE2E {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Vector[String]]()
  val per = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object NonBlockAttachE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    a.clear(); b.clear()
    claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    entered = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
  }
}

object EpochAttachE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val batchesDone = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    a.clear(); b.clear(); batchesDone.set(0)
    claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    entered = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
  }
}

object RosterResumeE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

object ParallelMembersE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var aClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var bClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var aStarted = new java.util.concurrent.CountDownLatch(1)
  @volatile var bStarted = new java.util.concurrent.CountDownLatch(1)
  val aSawB = new java.util.concurrent.atomic.AtomicBoolean(false)
  val bSawA = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = {
    a.clear(); b.clear()
    aClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    bClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    aStarted = new java.util.concurrent.CountDownLatch(1)
    bStarted = new java.util.concurrent.CountDownLatch(1)
    aSawB.set(false); bSawA.set(false)
  }
}

object ConvergenceE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b1 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { a.clear(); b1.clear() }
}

object DetachLatchE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b2 = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    a.clear(); b.clear(); b2.clear()
    claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    entered = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
  }
}

object MigrateE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val c = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  def reset(): Unit = { a.clear(); b.clear(); c.clear() }
}

object PoolE2E {
  val entered = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { entered.clear(); a.clear(); b.clear() }
}

object StopDrainE2E {
  val a = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var aClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var bClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var aStarted = new java.util.concurrent.CountDownLatch(1)
  @volatile var bStarted = new java.util.concurrent.CountDownLatch(1)
  @volatile var gate = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    a.clear(); b.clear()
    aClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    bClaimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    aStarted = new java.util.concurrent.CountDownLatch(1)
    bStarted = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
  }
}

object ByTimeRaceE2E {
  val b = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = b.clear()
}

object SharedRateOrderedE2E {
  val rate = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val ord = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val plain = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { rate.clear(); ord.clear(); plain.clear() }
}
