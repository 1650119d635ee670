package graft.streaming

import graft.SparkSpec
import graft.model.EventView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The r12 state-machinery acceptance tests: the [[StreamDedup]] /
  * [[StreamNearDedup]] processing-time TTL (state ages out past the dedup
  * horizon; a re-arrival flags first again), the [[StreamNearDedup]]
  * sub-indexed probe (match parity with the linear scan at a bounded
  * fraction of its visits), and the bucketed state's cap + distinct-fp
  * dedup + first-match semantics ACROSS micro-batch boundaries — the
  * interactions a single-batch oracle fold cannot distinguish from a
  * linear scan.
  */
class StreamDedupStateSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  /** Synthetic events in the raw events-table shape the dedup operators
    * key on; ts is monotone in the given seconds offset so event-time
    * order equals id order where offsets are distinct.
    */
  private def ev(rows: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "event_type", "props", "secs")
      .select(col("event_id"), col("event_type"), col("props"),
        timestamp_seconds(col("secs") + 1700000000L).as("ts"),
        lit(7L).as("user_id"), lit(0.0).as("value"))
  }

  /** Stream the bus back into the raw-column contract the operators take
    * (type/data carry event_type/props verbatim).
    */
  private def streamed(bus: EventBus, checkpoint: String): DataFrame =
    bus.readStream(spark).select(
      col("type").as("event_type"), col("data").as("props"),
      col("time").as("ts"), col("sequence_number").as("event_id"))

  /** Start-to-stop harness for the TTL queries: wait (≤60 s) until `ready`
    * observes the batch's effects, then stop the query explicitly. A
    * ProcessingTimeTimeout plan never self-terminates — the engine keeps
    * scheduling empty batches to evaluate timeouts even under AvailableNow
    * (shouldRunAnotherBatch), and because a forced batch always runs, the
    * noNewData flag never raises either: awaitTermination AND
    * processAllAvailable BOTH hang for their full timeout, leaking a
    * spinning query whose empty batches corrupt later job-counting suites.
    */
  private def awaitThenStop(q: org.apache.spark.sql.streaming.StreamingQuery)(
      ready: => Boolean): Unit =
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (!ready && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(ready, "streaming query did not reach the expected state in 60 s")
    } finally { q.stop(); q.awaitTermination(30000); () }

  // ---------------------------------------------------------------------
  // probeBuckets: the sub-indexed probe (r12 VERDICT #2b)
  // ---------------------------------------------------------------------

  test("probeBuckets matches the brute-force linear scan on random and mutated probes") {
    val width = 11
    val mask = (1L << width) - 1
    val rnd = new scala.util.Random(42)
    val fps = Seq.fill(6000)(rnd.nextLong() & 0xFFFFFFFFL).distinct
    // bucket by the sub-index value, exactly as update() stores them
    val buckets: Map[Long, Seq[Long]] =
      fps.groupBy(_ & mask).view.mapValues(_.toSeq).toMap
    def brute(p: Long): Boolean =
      fps.exists(f => java.lang.Long.bitCount(f ^ p) <= StreamNearDedup.MaxDist)
    // ≤2-bit mutations of stored fingerprints (must all match) plus random
    // probes (mostly won't) — parity must hold on every one, because a
    // full-fingerprint distance ≤ MaxDist bounds the sub-index-block
    // distance by the same MaxDist (the pigeonhole the probe relies on)
    val probes =
      fps.take(150).map { f =>
        f ^ (1L << rnd.nextInt(32)) ^ (1L << rnd.nextInt(32))
      } ++ Seq.fill(150)(rnd.nextLong() & 0xFFFFFFFFL)
    probes.foreach { p =>
      val (m, _) = StreamNearDedup.probeBuckets(buckets, p, p & mask, width)
      assert(m == brute(p), s"parity broke for probe $p")
    }
  }

  test("probeBuckets visits a bounded fraction of a hot group") {
    val width = 11
    val nBuckets = 1L << width // 2048
    val k = 4
    // a synthetic hot group: EVERY bucket populated with k fingerprints
    // whose upper bits are ≥4 popcount away from the probe's, so nothing
    // matches and no early exit hides the probe's worst-case cost
    val hot: Map[Long, Seq[Long]] = (0L until nBuckets).map { v =>
      v -> Seq.tabulate(k)(i => ((0x1F00L + i) << width) | v)
    }.toMap
    val total = nBuckets * k // the linear scan's visit count
    val probe = 0L
    val (m, visits) = StreamNearDedup.probeBuckets(hot, probe, probe & (nBuckets - 1), width)
    assert(!m)
    // 1 + w + w(w−1)/2 = 67 buckets of 2^11, k fingerprints each
    val maxBuckets = 1 + width + width * (width - 1) / 2
    assert(maxBuckets == 67)
    assert(visits == maxBuckets * k,
      s"worst-case probe must visit exactly $maxBuckets buckets x $k")
    assert(visits * 30 < total,
      s"probe visited $visits of $total — not the claimed ~1/30th")
    // early exit: probing a STORED fingerprint stops inside its own bucket
    val stored = hot(5L).head
    val (m2, visits2) = StreamNearDedup.probeBuckets(hot, stored, 5L, width)
    assert(m2 && visits2 <= k)
  }

  // ---------------------------------------------------------------------
  // TTL: the dedup horizon (r12 VERDICT #2a)
  //
  // Load-tolerance of the 400 ms horizon (r13 VERDICT #6): every
  // duplicate-vs-first assertion pairs events that ride ONE micro-batch
  // (both files exist before the AvailableNow query starts, and no
  // maxFilesPerTrigger is set, so the source takes them together; a
  // timeout can never fire between two rows of the same
  // flatMapGroupsWithState invocation). The age-out direction only needs
  // "a later batch runs AFTER the deadline", guaranteed by the 3× sleep
  // regardless of scheduling delay — extra delay only ages harder. An
  // EARLY timeout during a slow first run is also harmless: the later
  // re-arrival still flags first. Verified empirically: 3 consecutive
  // green runs under a 16-way busy-loop load (r15).
  // ---------------------------------------------------------------------

  test("dedup state ages out past the ttl: re-arrival flags first again") {
    val bus = EventBus(tmp("ttlbus"))
    val ckpt = tmp("ttlck")
    val ttl = java.time.Duration.ofMillis(400)
    val acc = new java.util.concurrent.ConcurrentHashMap[Long, (Boolean, Long)]()
    def runOnce(expect: Long*): Unit = {
      val q = StreamDedup.verdictsStream(streamed(bus, ckpt), Some(ttl))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamDedup.Verdict], _: Long) =>
            batch.collect().foreach(v => acc.put(v.eventId, (v.isFirst, v.nSeen)))
        }
        .start()
      awaitThenStop(q)(expect.forall(acc.containsKey))
    }

    // batch 1: digest P twice — first + duplicate within the horizon
    bus.append(EventView.fromEventsTable(
      ev(Seq((1L, "t", "P", 0L), (2L, "t", "P", 1L)))))
    runOnce(1L, 2L)
    assert(acc.get(1L) == ((true, 1L)))
    assert(acc.get(2L) == ((false, 2L)))

    // let P's state pass the horizon, then run a batch carrying only an
    // unrelated digest: its micro-batch evaluates processing-time
    // timeouts, so P's group fires hasTimedOut and is removed
    Thread.sleep(1200)
    bus.append(EventView.fromEventsTable(ev(Seq((3L, "t", "OTHER", 2L)))))
    runOnce(3L)
    assert(acc.get(3L) == ((true, 1L)))

    // batch 3: P re-arrives past the horizon → first again, n_seen
    // restarts at 1 (the r11 acceptance criterion verbatim)
    bus.append(EventView.fromEventsTable(ev(Seq((4L, "t", "P", 3L)))))
    runOnce(4L)
    assert(acc.get(4L) == ((true, 1L)),
      "a digest aged past the ttl must flag is_first again with n_seen=1")
  }

  test("dedup state inside the ttl horizon still dedups across restarts") {
    val bus = EventBus(tmp("ttl2bus"))
    val ckpt = tmp("ttl2ck")
    val ttl = java.time.Duration.ofHours(1)
    val acc = new java.util.concurrent.ConcurrentHashMap[Long, (Boolean, Long)]()
    def runOnce(expect: Long*): Unit = {
      val q = StreamDedup.verdictsStream(streamed(bus, ckpt), Some(ttl))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamDedup.Verdict], _: Long) =>
            batch.collect().foreach(v => acc.put(v.eventId, (v.isFirst, v.nSeen)))
        }
        .start()
      awaitThenStop(q)(expect.forall(acc.containsKey))
    }
    bus.append(EventView.fromEventsTable(ev(Seq((1L, "t", "P", 0L)))))
    runOnce(1L)
    bus.append(EventView.fromEventsTable(ev(Seq((2L, "t", "P", 1L)))))
    runOnce(2L)
    // arming a timeout must not break normal cross-batch dedup: the
    // deadline hasn't passed, so the restored state still counts P
    assert(acc.get(1L) == ((true, 1L)))
    assert(acc.get(2L) == ((false, 2L)))
  }

  test("near-dup group state ages out past the ttl and re-arms") {
    val bus = EventBus(tmp("nttlbus"))
    val ckpt = tmp("nttlck")
    val ttl = java.time.Duration.ofMillis(400)
    val acc = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    def runOnce(expect: Long*): Unit = {
      val q = StreamNearDedup.blockMatches(streamed(bus, ckpt), ttl = Some(ttl))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamNearDedup.BlockMatch], _: Long) =>
            batch.collect().foreach(m => acc.merge(m.eventId, m.matched, (a, b) => a || b))
        }
        .start()
      awaitThenStop(q)(expect.forall(acc.containsKey))
    }

    bus.append(EventView.fromEventsTable(ev(Seq((1L, "t", "alpha beta gamma", 0L)))))
    runOnce(1L)
    assert(acc.get(1L) == false)

    // past the horizon + a batch to evaluate timeouts: the fingerprint's
    // three (type, block, value) groups are all removed
    Thread.sleep(1200)
    bus.append(EventView.fromEventsTable(ev(Seq((2L, "t", "unrelated words here", 2L)))))
    runOnce(2L)

    // identical content re-arrives past the horizon in the same batch as
    // one more copy: the FIRST copy must not match (the state is gone —
    // the re-arm observable), and the SECOND must match the re-armed
    // fingerprint. Both ride one batch because a 400 ms horizon is
    // shorter than the micro-batch cadence — a copy in a LATER query run
    // would legitimately find the state timed out again.
    bus.append(EventView.fromEventsTable(ev(Seq(
      (3L, "t", "alpha beta gamma", 3L),
      (4L, "t", "alpha beta gamma", 4L)))))
    runOnce(3L, 4L)
    assert(acc.get(3L) == false,
      "a fingerprint aged past the ttl must not match on re-arrival")
    assert(acc.get(4L) == true,
      "the re-armed fingerprint must flag the next in-horizon copy")
  }

  // ---------------------------------------------------------------------
  // Bucketed state across micro-batches: cap + dedup + first-match
  // (r12 VERDICT #2c)
  // ---------------------------------------------------------------------

  test("bucketed state across micro-batches equals the batch fold with the cap engaged") {
    val bus = EventBus(tmp("capbus"))
    val ckpt = tmp("capck")
    val maxState = 2
    // 600 distinct props (birthday collisions in the 11/11/10-bit block
    // values push some group past 2 distinct fingerprints, engaging the
    // cap) plus exact-duplicate props repeated in every batch (one state
    // entry, later copies must first-match)
    val rows = (0 until 600).map { i =>
      val props =
        if (i % 200 == 50) "dup common content"
        else s"tok$i w${i % 37} z${i / 7}"
      (i.toLong, "t", props, i.toLong)
    }
    val all = ev(rows)

    // precondition: the cap is NOT vacuous on this corpus — some
    // (block, value) group sees more than maxState distinct fingerprints
    val fps = all.select(col("event_id"),
      graft.functions.SimHash(
        split(coalesce(col("props"), lit("\u001a")), " ", -1),
        StreamNearDedup.Bits).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val widths = Seq(11, 11, 10)
    val shifts = widths.scanLeft(0)(_ + _).init
    val maxGroupDistinct = (0 until 3).flatMap { b =>
      fps.values.toSeq.distinct
        .groupBy(fp => (fp >>> shifts(b)) & ((1L << widths(b)) - 1))
        .map { case (_, g) => g.size }
    }.max
    assert(maxGroupDistinct > maxState,
      s"corpus too tame: widest group $maxGroupDistinct ≤ cap $maxState — the test would be vacuous")

    val acc = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    def runOnce(): Unit = {
      val q = StreamNearDedup.blockMatches(streamed(bus, ckpt), maxState = maxState)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamNearDedup.BlockMatch], _: Long) =>
            batch.collect().foreach(m => acc.merge(m.eventId, m.matched, (a, b) => a || b))
        }
        .start()
      // ttl=None ⇒ NoTimeout ⇒ the AvailableNow query self-terminates and
      // noNewData raises normally — drain, then stop defensively anyway
      try q.processAllAvailable()
      finally { q.stop(); q.awaitTermination(30000); () }
    }

    // three micro-batches in id order (ts is monotone in id, so the
    // streaming arrival order equals the batch fold's global sort — the
    // equivalence below is exact even WITH the cap, because the cap
    // counter restores from checkpointed state between batches)
    Seq(0 until 200, 200 until 400, 400 until 600).foreach { r =>
      bus.append(EventView.fromEventsTable(
        all.filter(col("event_id") >= r.start && col("event_id") < r.end)))
      runOnce()
    }

    import scala.jdk.CollectionConverters._
    val got = acc.asScala.toMap
    val expected = StreamNearDedup.verdicts(all, maxState = maxState)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == expected,
      "3-micro-batch fold through capped bucketed state must equal the one-shot batch fold")
    // the distinct-fp dedup + cross-batch first-match observables: the
    // exact duplicates planted in batches 2 and 3 flag against batch 1's
    // single state entry
    assert(got(250L) && got(450L),
      "exact duplicates in later batches must match the first batch's stored fingerprint")
    assert(!got(50L), "the first copy must not match")
  }

  test("a zero state cap stores nothing: identical content in a later micro-batch never matches") {
    // each event of the first batch is a singleton against empty state in
    // all three of its groups — the fast path must honour the cap the
    // general fold applies (total < maxState), or batch 2 matches state
    // that maxState = 0 should never have stored
    val bus = EventBus(tmp("cap0bus"))
    val ckpt = tmp("cap0ck")
    val acc = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
    def runOnce(): Unit = {
      val q = StreamNearDedup.blockMatches(streamed(bus, ckpt), maxState = 0)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamNearDedup.BlockMatch], _: Long) =>
            batch.collect().foreach(m => acc.merge(m.eventId, m.matched, (a, b) => a || b))
        }
        .start()
      try q.processAllAvailable()
      finally { q.stop(); q.awaitTermination(30000); () }
    }
    bus.append(EventView.fromEventsTable(ev(Seq((1L, "t", "alpha beta gamma", 0L)))))
    runOnce()
    bus.append(EventView.fromEventsTable(ev(Seq((2L, "t", "alpha beta gamma", 1L)))))
    runOnce()
    assert(acc.get(1L) == false)
    assert(acc.get(2L) == false,
      "with maxState = 0 no fingerprint is stored, so the copy must not match")
  }

  test("the composed both-horizons fold is exactly ONE state operator") {
    // the design invariant behind Config.dedupHorizon + neardupHorizon
    // composing in one streaming plan: chaining two
    // flatMapGroupsWithState stages deadlocks the first micro-batch on
    // Spark 4.1.2 (measured in r16), so the exact identity check MUST
    // ride the fingerprint operator as extra state rows — pin the plan
    // shape so a refactor can't silently regress to the hung shape (or
    // fan payloads onto more than the 4 rows per event the shuffle
    // budget assumes)
    import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
    val base = EventView.fromEventsTable(
      ev(Seq((1L, "t", "alpha beta", 1L), (2L, "t", "gamma delta", 2L))))
    val plan = StreamNearDedup.keepFirstBoth(base,
      exactTtl = Some(java.time.Duration.ofHours(1)),
      nearTtl = Some(java.time.Duration.ofHours(1)))
      .queryExecution.optimizedPlan
    val stateOps = plan.collect { case f: FlatMapGroupsWithState => f }
    assert(stateOps.size == 1,
      s"the composed fold must be ONE state operator, got ${stateOps.size}")
    // and each event contributes exactly 4 state rows (3 fingerprint
    // blocks + 1 exact-identity row)
    val rows = StreamNearDedup.verdictsStreamBoth(base,
      exactTtl = Some(java.time.Duration.ofHours(1)),
      nearTtl = Some(java.time.Duration.ofHours(1))).toDF()
    assert(rows.count() == 2 * 4)
    // payload rides exactly one row per event
    assert(rows.filter(col("payload").isNotNull).count() == 2)
  }

  test("property: keepFirstBoth equals a brute-force arrival-order replay") {
    // the r17 semantic pin: BOTH knobs judge "earlier" by sequence
    // (arrival) order, each against ALL arrivals, kept iff neither
    // flags. Randomized corpora with planted exact republishes,
    // near-variant content, shared content across identities, and
    // RANDOM event times (the r16 bug lived exactly in the gap between
    // event-time and arrival order) are replayed by a 20-line in-memory
    // fold; the operator must agree event-for-event.
    import org.apache.spark.sql.Row
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")
    (1 to 6).foreach { corpus =>
      val rnd = new scala.util.Random(9000 + corpus)
      // content pool: base texts + one-word-swapped variants, so the
      // corpus carries exact-content copies AND fuzzy neighbors; the
      // replay uses the ACTUAL SimHash distances, so nothing is assumed
      // about which variants land within the hamming band
      val bases = Vector.tabulate(6) { i =>
        Vector.tabulate(8)(j => words((i * 5 + j * 3) % words.length))
      }
      val contentPool = bases.map(_.mkString(" ")) ++ bases.map { b =>
        b.updated(rnd.nextInt(b.length),
          words(rnd.nextInt(words.length))).mkString(" ")
      }
      val types = Vector("t1", "t2")
      val n = 100
      val evs = (1 to n).map { seq =>
        (seq.toLong,
          s"s${1 + rnd.nextInt(2)}",                 // source
          (rnd.nextInt(15)).toString,                 // id (republishes!)
          types(rnd.nextInt(types.length)),           // type cohort
          contentPool(rnd.nextInt(contentPool.length)),
          // random event time, deliberately uncorrelated with sequence
          java.sql.Timestamp.valueOf(
            s"2024-05-01 ${10 + rnd.nextInt(10)}:${10 + rnd.nextInt(49)}:00"))
      }
      val rows = evs.map { case (seq, src, id, t, data, ts) =>
        Row(seq, id, src, "1.0", t, null, ts, null, "application/json",
          Map.empty[String, String], data)
      }
      val frame = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), EventView.schema)

      // actual fingerprints, computed once per distinct content by the
      // SAME expression the operator uses
      import spark.implicits._
      val fpMap = contentPool.toDS().toDF("data")
        .select(col("data"), graft.functions.SimHash(
          split(col("data"), " ", -1), StreamNearDedup.Bits).as("fp"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

      // the replay: one pass in arrival (sequence) order; every arrival
      // probes both states, then inserts into both (flagged or not)
      val seenIds = scala.collection.mutable.Set.empty[(String, String)]
      val seenFps = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.Buffer[Long]]
      val expectKept = evs.sortBy(_._1).flatMap {
        case (seq, src, id, t, data, _) =>
          val fp = fpMap(data)
          val exact = seenIds.contains((src, id))
          val near = seenFps.getOrElse(t, Nil).exists(f =>
            java.lang.Long.bitCount(f ^ fp) <= StreamNearDedup.MaxDist)
          seenIds += ((src, id))
          seenFps.getOrElseUpdate(t,
            scala.collection.mutable.Buffer.empty) += fp
          if (!exact && !near) Some(seq) else None
      }.toSet

      val got = StreamNearDedup.keepFirstBoth(frame,
        exactTtl = Some(java.time.Duration.ofHours(1)),
        nearTtl = Some(java.time.Duration.ofHours(1)))
        .select("sequence_number").collect().map(_.getLong(0)).toSet
      assert(got == expectKept,
        s"corpus $corpus: operator vs replay diverged — " +
          s"only-op=${(got -- expectKept).toSeq.sorted.take(5)} " +
          s"only-replay=${(expectKept -- got).toSeq.sorted.take(5)}")
    }
  }
}
