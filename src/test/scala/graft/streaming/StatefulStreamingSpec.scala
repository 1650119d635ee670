package graft.streaming

import graft.{SparkSpec, Tables}
import graft.model.EventView
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StatefulStreamingSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("watermarked windowed aggregation over a bus stream matches the batch form") {
    val bus = EventBus(tmp("wbus"))
    val view = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 500)
    bus.append(view)

    val outTable = "windowed_rates_out"
    val ckpt = tmp("wck")
    val q = WindowedStats.eventRatesStream(bus.readStream(spark))
      .writeStream.format("memory").queryName(outTable)
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val streamed = spark.table(outTable)
      .groupBy("window_start", "type").agg(max("n_events").as("n_events"))
    val batch = WindowedStats.eventRates(view)
      .select(col("window_start"), col("type"), col("n_events"))
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("watermarked dropDuplicates dedups redelivered event ids across batches") {
    val bus = EventBus(tmp("dbus"))
    val ckpt = tmp("dck")
    val view = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 100)
    bus.append(view)
    bus.append(view.limit(40)) // at-least-once redelivery of 40 events

    val seen = spark.sparkContext.longAccumulator("deduped")
    val q = bus.readStream(spark)
      .withWatermark("time", "10 days") // state bound; ids inside it dedup
      .dropDuplicates("id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.add(b.count())
      }
      .start()
    q.awaitTermination(60000)
    assert(seen.value == 100) // duplicates suppressed by id state
  }

  test("retry escalation survives a ticker-query checkpoint restart") {
    val t0 = 1704240000L
    val spool = BucketedSpool(tmp("rspool"), tickSeconds = 60L)
    val dlqBus = EventBus(tmp("rdlq"))
    val ckpt = tmp("rck")
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-restart", maxRetryAttempts = 3))
    val failSink: SubscriptionRunner.Sink = _ => Left(503)

    // seed: 6 events on attempt 1, already due
    val seeded = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 6)
      .withColumn("attributes", map_concat(col("attributes"), map(
        lit("xvanusretryattempts"), lit("1"),
        lit("xvanussubscriptionid"), lit("sub-restart"),
        lit("xvanusdeliverytime"), lit("2024-01-02 23:00:00"))))
    spool.append(seeded)

    val clock = new java.util.concurrent.atomic.AtomicLong(t0)
    def drain(): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (spool.maturedBuckets(spark, clock.get()).nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(spool.maturedBuckets(spark, clock.get()).isEmpty,
        "ticker failed to drain matured buckets in time")
    }
    def spoolAttempts: Set[String] = spool.read(spark)
      .select(col("attributes").getItem("xvanusretryattempts"))
      .distinct().collect().map(_.getString(0)).toSet
    def startTicker() = SubscriptionRunner.startRetries(spark, spool, spec,
      failSink, Some(dlqBus), ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"),
      nowEpochSec = () => clock.get())

    // generations 1 and 2 through the live query
    val q1 = startTicker()
    drain() // attempt 1 → fails → stamped attempt 2
    assert(spoolAttempts == Set("2"))
    clock.addAndGet(7200); drain() // attempt 2 → fails → stamped attempt 3
    assert(spoolAttempts == Set("3"))
    q1.stop()

    // restart from the same checkpoint: escalation continues — attempt 3
    // is the cap, so the next failure must land every event in the DLQ
    val q2 = startTicker()
    clock.addAndGet(7200); drain()
    q2.stop()
    assert(spool.dataFileCount(spark) == 0) // every bucket released + evicted
    val dlq = dlqBus.read(spark)
    assert(dlq.count() == 6)
    val reasons = dlq.select(col("attributes").getItem("deadletterreason"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(reasons == Set("maxRetryAttempts=3 exceeded"))
    assert(dlq.select(col("attributes").getItem("xvanusretryattempts"))
      .distinct().collect().map(_.getString(0)).toSet == Set("3"))
  }

  test("mapGroupsWithState accumulates across micro-batches via checkpoint") {
    val bus = EventBus(tmp("ubus"))
    val ckpt = tmp("uck")
    val view = EventView.fromEventsTable(Tables.events(spark, sf))
    val first = view.filter(col("sequence_number") < 200)
    val second = view.filter(
      col("sequence_number") >= 200 && col("sequence_number") < 400)

    val latestAcc = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def runOnce(): Unit = {
      val q = UserSessions.profilesStream(bus.readStream(spark))
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[UserSessions.UserProfile], _: Long) =>
            batch.collect().foreach(p => latestAcc.put(p.userId, p.nEvents))
        }
        .start()
      q.awaitTermination(60000)
    }

    bus.append(first)
    runOnce()
    bus.append(second)
    runOnce() // second run folds new events into checkpointed state

    import scala.jdk.CollectionConverters._
    val latest = latestAcc.asScala.toMap
    // state survived the restart: totals equal the batch fold of BOTH appends
    val expected = UserSessions.profiles(first.union(second))
      .collect().map(p => p.userId -> p.nEvents).toMap
    assert(latest == expected)
    assert(expected.values.sum == 400)
  }

  test("ingest dedup state persists: later micro-batches flag duplicates") {
    val bus = EventBus(tmp("dbus"))
    val ckpt = tmp("dck")
    val raw = Tables.events(spark, sf)
    val first = raw.filter(col("event_id") < 200)
    val second = raw.filter(col("event_id") >= 200 && col("event_id") < 400)

    val acc = new java.util.concurrent.ConcurrentHashMap[Long, (Boolean, Long)]()
    def runOnce(): Unit = {
      // the bus streams the EventView shape; map back to the raw-column
      // contract (type/data carry event_type/props verbatim)
      val streamed = bus.readStream(spark).select(
        col("type").as("event_type"), col("data").as("props"),
        col("time").as("ts"), col("sequence_number").as("event_id"))
      val q = StreamDedup.verdictsStream(streamed)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamDedup.Verdict], _: Long) =>
            batch.collect().foreach(v =>
              acc.put(v.eventId, (v.isFirst, v.nSeen)))
        }
        .start()
      q.awaitTermination(60000)
    }

    bus.append(EventView.fromEventsTable(first))
    runOnce()
    bus.append(EventView.fromEventsTable(second))
    runOnce() // duplicates of first-run digests must NOT flag is_first

    import scala.jdk.CollectionConverters._
    val got = acc.asScala.toMap
    // every event got exactly one verdict, equal to the one-shot batch fold
    // (event time is monotone in event_id, so split order = global order)
    val expected = StreamDedup.verdicts(first.union(second))
      .collect().map(v => v.eventId -> ((v.isFirst, v.nSeen))).toMap
    assert(got == expected)
    // the dedup is non-vacuous ACROSS the batch boundary: some second-run
    // event duplicates a first-run digest
    val crossDups = expected.count { case (id, (f, n)) =>
      id >= 200 && !f && n <= 200
    }
    assert(crossDups > 0, "second batch must contain first-batch duplicates")
  }

  test("near-dup ingest state persists: later micro-batches flag near-dups") {
    val bus = EventBus(tmp("nbus"))
    val ckpt = tmp("nck")
    val raw = Tables.events(spark, sf)
    val first = raw.filter(col("event_id") < 200)
    val second = raw.filter(col("event_id") >= 200 && col("event_id") < 400)

    // per-event rollup across the 3 per-block match rows happens in
    // foreachBatch; state lives per (type, block, value) in the checkpoint
    val acc = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    def runOnce(): Unit = {
      val streamed = bus.readStream(spark).select(
        col("type").as("event_type"), col("data").as("props"),
        col("time").as("ts"), col("sequence_number").as("event_id"))
      val q = StreamNearDedup.blockMatches(streamed)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamNearDedup.BlockMatch], _: Long) =>
            batch.collect().foreach { m =>
              acc.merge(m.eventId, m.matched, (a, b) => a || b)
            }
        }
        .start()
      q.awaitTermination(60000)
    }

    bus.append(EventView.fromEventsTable(first))
    runOnce()
    bus.append(EventView.fromEventsTable(second))
    runOnce() // near-dups of first-run fingerprints must flag

    import scala.jdk.CollectionConverters._
    val got = acc.asScala.toMap
    val expected = StreamNearDedup.verdicts(first.union(second))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == expected)
    // non-vacuous across the boundary: a second-run event near-dups a
    // first-run fingerprint (props has 100 distinct values, so every
    // second-run event repeats some first-run content)
    val crossNear = expected.count { case (id, nd) => id >= 200 && nd }
    assert(crossNear > 0, "second batch must contain first-batch near-dups")
  }
}
