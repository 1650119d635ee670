package graft

import graft.model.EventView
import graft.streaming.Backoff
import org.apache.spark.sql.functions._

/** Catalog entries for delivery semantics (SURVEY §2.7), expressed as batch
  * queries so the DuckDB oracle can check the *policies* (backoff curve,
  * delay maturity, DLQ stamping, offset reset) — the streaming wiring itself
  * is exercised in SubscriptionRunnerSpec with a real Structured Streaming
  * query.
  */
object StreamQueries {
  import Queries.Q

  /** Retry backoff curve (util.go:75-88): attempt synthesized from the
    * event body; next delivery = event second + backoff.
    */
  private val backoffQ = Q(
    "stream_retry_backoff",
    (s, d) => Tables.events(s, d).select(
      col("event_id"),
      (get_json_object(col("props"), "$.k").try_cast("bigint") % 12 + 1).as("attempt"))
      .withColumn("backoff_sec", Backoff.delaySecondsCol(col("attempt")))
      .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) % 12 + 1 AS attempt,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 12 + 1 <= 1 THEN 1
                  WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 12 + 1 <= 3
                    THEN 5 * (CAST(json_extract_string(props, '$.k') AS BIGINT) % 12 + 1 - 1)
                  WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 12 + 1 <= 9
                    THEN 30 * CAST(power(2, CAST(json_extract_string(props, '$.k') AS BIGINT) % 12 + 1 - 4) AS BIGINT)
                  ELSE 3600 END AS backoff_sec
      FROM events ORDER BY event_id
    """))

  /** Delay-table release (SURVEY §7.6): deliver_at = event second + k
    * seconds; matured = deliver_at <= cutoff. Second-floor epochs agree
    * between Spark (µs) and DuckDB (ns) timestamps.
    */
  private val delayQ = Q(
    "stream_delay_release",
    (s, d) => Tables.events(s, d).select(
      col("event_id"),
      (unix_timestamp(col("ts")) +
        get_json_object(col("props"), "$.k").try_cast("bigint")).as("deliver_at_sec"))
      .filter(col("deliver_at_sec") <= lit(1704240000L)) // 2024-01-03 00:00:00 UTC
      .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               + CAST(json_extract_string(props, '$.k') AS BIGINT) AS deliver_at_sec
      FROM events
      WHERE CAST(floor(epoch(ts)) AS BIGINT)
               + CAST(json_extract_string(props, '$.k') AS BIGINT) <= 1704240000
      ORDER BY event_id
    """))

  /** Due-time bucket assignment for the write-once delay spool
    * (BucketedSpool: deliver_bucket = floor(deliverAt / tick), the
    * declarative form of the reference wheel's bucket index,
    * timingwheel/timingwheel.go:303-613). The histogram pins both the
    * bucket function and the partition layout a release pass prunes on.
    */
  private val spoolBucketsQ = Q(
    "stream_spool_buckets",
    (s, d) => Tables.events(s, d).select(
      col("event_id"),
      (unix_timestamp(col("ts")) +
        get_json_object(col("props"), "$.k").try_cast("bigint")).as("deliver_at_sec"))
      .withColumn("deliver_bucket", floor(col("deliver_at_sec") / 300L).cast("bigint"))
      .groupBy(col("deliver_bucket"))
      .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("min_event"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("deliver_bucket")),
    Some("""
      WITH da AS (
        SELECT event_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS deliver_at_sec
        FROM events
      )
      SELECT CAST(floor(deliver_at_sec / 300.0) AS BIGINT) AS deliver_bucket,
             COUNT(*) AS n_events, MIN(event_id) AS min_event, MAX(event_id) AS max_event
      FROM da GROUP BY 1 ORDER BY 1
    """))

  /** Dead-letter stamping (trigger.go:528-562): events failing delivery
    * (synthetic predicate) carry reason/last-error/subscription metadata.
    */
  private val dlqQ = Q(
    "stream_dlq_metadata",
    (s, d) => Tables.events(s, d)
      .filter(col("value") < 10)
      .select(
        col("event_id"),
        lit("delivery error code=503").as("deadletterreason"),
        lit("503").as("lastdeliveryerror"),
        lit("sub-1").as("xvanussubscriptionid"))
      .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             'delivery error code=503' AS deadletterreason,
             '503' AS lastdeliveryerror,
             'sub-1' AS xvanussubscriptionid
      FROM events WHERE value < 10 ORDER BY event_id
    """))

  /** Offset reset surface (pkg/subscription.go:66-78): earliest / latest /
    * count per eventlog (event_type as the log key stand-in).
    */
  private val offsetResetQ = Q(
    "stream_offset_reset",
    (s, d) => Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(min(col("event_id")).as("earliest_offset"),
        (max(col("event_id")) + 1).as("latest_offset"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             MIN(event_id) AS earliest_offset,
             MAX(event_id) + 1 AS latest_offset,
             COUNT(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type
    """))

  /** End-to-end retry-attempt escalation through the REAL runner
    * (trigger.go:455-526 + util.go:75-88): 8 events, an always-503 sink,
    * maxRetryAttempts=4. Each cycle re-delivers the matured retry bus at
    * exactly its delivery time, so attempt n is stamped at
    * t0 + Σ delay(1..n−1) with deliverytime t0 + Σ delay(1..n):
    * due_sec 1, 6, 16, 46 for attempts 1–4, then attempt 5 exceeds the cap
    * and lands in the DLQ with lastdeliverytime = t0+46.
    */
  private val retryEscalationQ = Q(
    "stream_retry_escalation",
    (s, d) => {
      import graft.streaming.{EventBus, SubscriptionRunner}
      import java.nio.file.Files
      val tmp = Files.createTempDirectory("esc").toString
      val t0 = 1704067200L // 2024-01-01 00:00:00 UTC
      val spec = SubscriptionRunner.Spec(Seq.empty, None,
        SubscriptionRunner.Config("sub-esc", maxRetryAttempts = 4))
      val failSink: SubscriptionRunner.Sink = _ => Left(503)
      val base = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 8)
      val dlqBus = EventBus(s"$tmp/dlq")
      val firstBus = EventBus(s"$tmp/retry1")
      SubscriptionRunner.processBatch(base, spec, failSink,
        Some(firstBus), Some(dlqBus), t0)
      val attemptCol = col("attributes").getItem("xvanusretryattempts").cast("int")
      val dueCol = (unix_timestamp(
        col("attributes").getItem("xvanusdeliverytime").cast("timestamp")) - t0)
        .cast("bigint")
      var cur = firstBus.read(s)
      var gen = 1
      var retryLog = cur.select(col("sequence_number").as("event_id"),
        lit("retry").as("phase"), attemptCol.as("attempt"), dueCol.as("due_sec"))
      // each generation's release time is t0 + the cumulative backoff of
      // the attempts so far — computed through the REAL policy function
      // (Backoff.delaySeconds) instead of an agg-job over the stamped
      // frame: if the runner's stamps ever diverged from the policy, the
      // events wouldn't be mature at this `now` and processRetries would
      // route nothing, failing the oracle — same check, one driver job
      // fewer per generation
      var cumDelay = Backoff.delaySeconds(1)
      var more = true
      while (more) {
        val now = t0 + cumDelay
        gen += 1
        cumDelay += Backoff.delaySeconds(gen)
        val nextBus = EventBus(s"$tmp/retry$gen")
        val res = SubscriptionRunner.processRetries(cur, spec, failSink,
          Some(nextBus), Some(dlqBus), now)
        if (res.toRetry > 0) {
          cur = nextBus.read(s)
          retryLog = retryLog.union(cur.select(col("sequence_number").as("event_id"),
            lit("retry").as("phase"), attemptCol.as("attempt"), dueCol.as("due_sec")))
        } else more = false
      }
      val dlqRows = dlqBus.read(s).select(
        col("sequence_number").as("event_id"), lit("dlq").as("phase"),
        (attemptCol + 1).as("attempt"),
        (unix_timestamp(
          col("attributes").getItem("lastdeliverytime").cast("timestamp")) - t0)
          .cast("bigint").as("due_sec"))
      retryLog.union(dlqRows).orderBy(col("event_id"), col("attempt"))
    },
    Some("""
      WITH e AS (SELECT event_id FROM events WHERE event_id < 8),
      sched(attempt, due_sec) AS (VALUES (1, 1), (2, 6), (3, 16), (4, 46)),
      retry AS (
        SELECT e.event_id, 'retry' AS phase, s.attempt, CAST(s.due_sec AS BIGINT) AS due_sec
        FROM e CROSS JOIN sched s
      ), dlq AS (
        SELECT event_id, 'dlq' AS phase, 5 AS attempt, CAST(46 AS BIGINT) AS due_sec FROM e
      )
      SELECT * FROM retry UNION ALL SELECT * FROM dlq ORDER BY event_id, attempt
    """))

  /** Ordered-mode delivery through the REAL runner (trigger.go:386-392,
    * 428-431): one delivery task walks events in offset order, failures
    * skip retry entirely and land in the DLQ stamped with OrderErrorCode.
    * The sink asserts in-order arrival — any out-of-order event fails with
    * 400, which ordered mode would also DLQ, producing extra rows the
    * oracle doesn't predict — so a passing hash proves both the DLQ
    * routing AND the delivery order.
    */
  private val orderedDlqQ = Q(
    "stream_ordered_dlq",
    (s, d) => {
      import graft.streaming.{EventBus, SubscriptionRunner}
      import java.nio.file.Files
      val tmp = Files.createTempDirectory("ord").toString
      val spec = SubscriptionRunner.Spec(Seq.empty, None,
        SubscriptionRunner.Config("sub-ord", orderedEvent = true))
      val sink = new (SubscriptionRunner.Deliverable => Either[Int, Unit])
        with Serializable {
        private var last = Long.MinValue
        def apply(dv: SubscriptionRunner.Deliverable): Either[Int, Unit] =
          if (dv.sequenceNumber <= last) Left(400)
          else {
            last = dv.sequenceNumber
            if (dv.sequenceNumber % 5 == 0) Left(503) else Right(())
          }
      }
      val base = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 50)
      SubscriptionRunner.processBatch(base, spec, sink,
        Some(EventBus(s"$tmp/retry")), Some(EventBus(s"$tmp/dlq")), 1704067200L)
      EventBus(s"$tmp/dlq").read(s).select(
        col("sequence_number").as("event_id"),
        col("attributes").getItem("deadletterreason").as("deadletterreason"),
        col("attributes").getItem("lastdeliveryerror").as("lastdeliveryerror"),
        col("attributes").getItem("xvanussubscriptionid").as("subscription_id"))
        .orderBy(col("event_id"))
    },
    Some(s"""
      SELECT event_id,
             'delivery error code=${graft.streaming.Backoff.OrderErrorCode}' AS deadletterreason,
             '${graft.streaming.Backoff.OrderErrorCode}' AS lastdeliveryerror,
             'sub-ord' AS subscription_id
      FROM events WHERE event_id < 50 AND event_id % 5 = 0
      ORDER BY event_id
    """))

  /** Retry/DLQ routing truth table through the REAL decision expression —
    * [[Backoff.isRetryableCol]], the exact Column SubscriptionRunner routes
    * failed micro-batches with (and BackoffSpec pins Column ≡ Scala form).
    * Synthesized codes cover 2xx delivery, non-retryable 4xx including
    * transform (460) and ordered (461) failures, retryable 429/5xx, and the
    * gateway's 600/601 timeout codes (util.go:59-73).
    */
  private val retryableQ = {
    val codes = Seq(200, 204, 400, 404, 408, 429, Backoff.TransformErrorCode,
      Backoff.OrderErrorCode, 500, 502, 503, 504, 600, 601)
    val sqlCode = codes.zipWithIndex
      .map { case (c, i) => s"WHEN event_id % ${codes.size} = $i THEN $c" }
      .mkString("CASE ", " ", " END")
    Q(
      "stream_retryable",
      (s, d) => {
        val codeCol = element_at(array(codes.map(lit(_)): _*),
          (col("event_id") % codes.size).cast("int") + 1)
        Tables.events(s, d).select(col("event_id"), codeCol.as("code"))
          .withColumn("retryable", Backoff.isRetryableCol(col("code")))
          .withColumn("outcome",
            when(col("code") < 300, "delivered")
              .when(col("retryable"), "retry").otherwise("dlq"))
          .orderBy(col("event_id"))
      },
      Some(s"""
        WITH c AS (SELECT event_id, $sqlCode AS code FROM events)
        SELECT event_id, code,
               (code = 429 OR code >= 500) AS retryable,
               CASE WHEN code < 300 THEN 'delivered'
                    WHEN code = 429 OR code >= 500 THEN 'retry'
                    ELSE 'dlq' END AS outcome
        FROM c ORDER BY event_id
      """))
  }

  /** Send-batch layout (trigger.go:366-372 size flush; Delivery.Batched's
    * grouped(maxSize) chunking in SubscriptionRunner): within each delivery
    * partition (event_type as the log stand-in, offset order), full chunks
    * of SendBatchSize=16 followed by the remainder — the micro-batch's
    * final time-flush. The per-batch histogram (count, first/last offset)
    * pins the chunk boundaries, which is the granularity the gRPC batch
    * sink applies its whole-batch result at. The production path chunks an
    * iterator (O(1) memory, no window); this declarative spelling exists to
    * make the layout oracle-checkable.
    */
  private val sendBatchesQ = Q(
    "stream_send_batches",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      Tables.events(s, d)
        .withColumn("batch_seq",
          floor((row_number().over(w) - 1) / 16).cast("bigint"))
        .groupBy(col("event_type"), col("batch_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_offset"),
          max(col("event_id")).as("last_offset"))
        .orderBy(col("event_type"), col("batch_seq"))
    },
    Some("""
      WITH r AS (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS rn
        FROM events
      )
      SELECT event_type, CAST(floor(rn / 16) AS BIGINT) AS batch_seq,
             COUNT(*) AS n_events, MIN(event_id) AS first_offset,
             MAX(event_id) AS last_offset
      FROM r GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Rate-limit admission plan (trigger.go:247 ratelimit.Take before every
    * send; [[graft.streaming.RateLimit]]): a 320 events/sec subscription
    * fanned over 32 delivery partitions gets a 10-event/sec per-partition
    * budget (the same `max(1, rate/partitions)` arithmetic the runner's
    * wall-clock bucket uses), so partition i's events are admitted 10 per
    * window in offset order. One row per (log, window_sec) with the
    * admitted count and offsets — pins window boundaries and smoothing
    * layout, the deterministic face of the leaky bucket.
    */
  private val rateLimitQ = Q(
    "stream_rate_limit",
    (s, d) => graft.streaming.RateLimit.admissionPlan(
      Tables.events(s, d), col("event_type"), col("event_id"),
      ratePerSec = 320, numPartitions = 32)
      .orderBy(col("log"), col("window_sec")),
    Some("""
      WITH r AS (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS rn
        FROM events
      )
      SELECT event_type AS log, CAST(floor(rn / 10) AS BIGINT) AS window_sec,
             COUNT(*) AS n_admitted, MIN(event_id) AS first_offset,
             MAX(event_id) AS last_offset
      FROM r GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Shared wire-delivery harness: a local server answers each sink POST
    * with a status derived from the event body's `k`
    * (floorMod(k,5): 0→500, 1→429, 2→400, else 200); the given client
    * delivers each event over the wire through the REAL runner, which
    * routes outcomes — 2xx delivered, retryable (429/5xx) → retry bus,
    * non-retryable (400) → DLQ. Returns one (event_id, phase) row per
    * event. The oracle recomputes the routing class from the source
    * table, so the client's wire handling, its status mapping, AND the
    * runner's routing table are all under the hash. (trigger.go:247-302
    * delivery/routing; the clients under server/trigger/client/.)
    */
  private def wireDeliveryPhases(
      s: org.apache.spark.sql.SparkSession, d: String,
      mkSink: String => graft.streaming.SubscriptionRunner.Sink,
      withTokenEndpoint: Boolean = false): org.apache.spark.sql.DataFrame = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.streaming.{EventBus, SubscriptionRunner}
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("wiredel").toString
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // parallel handler pool (optimization r21): with no executor the JDK
    // server dispatches every exchange on ONE thread, so 32 delivery
    // tasks serialized behind it — StageProbe measured the gcloud
    // delivery stage at 7.15 s task-run time with 0.41 s CPU (tasks
    // blocked on the fixture, not computing). Fixture-only; the sink
    // code under test is unchanged.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    server.setExecutor(pool)
    val kRe = java.util.regex.Pattern.compile("\"k\":\\s*(-?\\d+)")
    if (withTokenEndpoint)
      server.createContext("/token", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          ex.getRequestBody.readAllBytes()
          val resp = """{"id_token":"wire-tok"}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, resp.length)
          ex.getResponseBody.write(resp)
          ex.close()
        }
      })
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val m = kRe.matcher(body)
        val k = if (m.find()) m.group(1).toLong else -1L
        val status = Math.floorMod(k, 5L) match {
          case 0L => 500
          case 1L => 429
          case 2L => 400
          case _ => 200
        }
        ex.sendResponseHeaders(status, -1)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val events = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 1000)
      val spec = SubscriptionRunner.Spec(Seq.empty, None,
        SubscriptionRunner.Config("sub-wire"))
      val retryBus = EventBus(s"$tmp/retry")
      val dlqBus = EventBus(s"$tmp/dlq")
      SubscriptionRunner.processBatch(events, spec, mkSink(base),
        Some(retryBus), Some(dlqBus), 1704067200L)
      def busRows(bus: EventBus, phase: String) = {
        val p = new org.apache.hadoop.fs.Path(bus.path)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(p))
          events.select(col("sequence_number").as("event_id")).limit(0)
            .withColumn("phase", lit(phase))
        else bus.read(s).select(col("sequence_number").as("event_id"),
          lit(phase).as("phase"))
      }
      val routed = busRows(retryBus, "retry").union(busRows(dlqBus, "dlq"))
      val delivered = events.select(col("sequence_number").as("event_id"))
        .join(routed, Seq("event_id"), "left_anti")
        .withColumn("phase", lit("delivered"))
      // deliveries complete inside processBatch (eager); the returned
      // frame reads only the bus parquet + a pure projection of the source
      delivered.union(routed).orderBy(col("event_id"))
    } finally { server.stop(0); pool.shutdown() }
  }

  private val wireDeliveryOracle = Some("""
      WITH e AS (
        SELECT event_id,
               ((CAST(json_extract_string(props, '$.k') AS BIGINT) % 5) + 5) % 5 AS km
        FROM events WHERE event_id < 1000
      )
      SELECT event_id,
             CASE WHEN km IN (0, 1) THEN 'retry'
                  WHEN km = 2 THEN 'dlq'
                  ELSE 'delivered' END AS phase
      FROM e ORDER BY event_id
    """)

  private val httpDeliveryQ = Q(
    "stream_http_delivery",
    (s, d) => wireDeliveryPhases(s, d,
      base => new graft.streaming.HttpSink(s"$base/sink")),
    wireDeliveryOracle)

  /** Same routing contract over the Lambda Invoke REST client — every
    * request is SigV4-signed on the wire (the server only routes by body,
    * but a client-side signing failure surfaces as errUnknown=600 → retry
    * for ALL events, which hash-mismatches). Test credentials are the
    * AWS-published documentation example pair.
    */
  private val lambdaDeliveryQ = Q(
    "stream_lambda_delivery",
    (s, d) => wireDeliveryPhases(s, d, base =>
      new graft.streaming.LambdaSink(
        "arn:aws:lambda:us-east-1:000000000000:function:proc-events",
        "AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG/bPxRfiCYEXAMPLEKEY",
        endpointOverride = Some(base))),
    wireDeliveryOracle)

  /** Same routing contract over the GCloud Functions client with the REAL
    * service-account mint: the sink first exchanges an RS256 jwt-bearer
    * assertion at the harness /token endpoint, then Bearer-POSTs each
    * event — a mint failure would 600 every event and hash-mismatch.
    */
  private val gcloudDeliveryQ = Q(
    "stream_gcloud_delivery",
    (s, d) => wireDeliveryPhases(s, d, { base =>
      val (cred, _) = graft.streaming.GcpAuth.syntheticServiceAccount(s"$base/token")
      new graft.streaming.GCloudFunctionSink(s"$base/fn",
        new graft.streaming.GcpIdTokenProvider(cred, s"$base/fn"))
    }, withTokenEndpoint = true),
    wireDeliveryOracle)

  /** Eventbus append→read roundtrip (SURVEY §1.2/§2.1): append the CE frame
    * date-partitioned through the REAL [[graft.streaming.EventBus]] write
    * path (the 100 TB layout — partition directories prune before file IO),
    * read it back through the real read path, and emit scalar projections.
    * The oracle recomputes every column straight from the source table, so
    * a value corrupted anywhere in write→partition→read fails the hash:
    * this is the batch bus storage roundtrip, oracle-checked. The spool dir
    * is wiped per run (append semantics would otherwise accumulate across
    * the bench's best-of-two).
    */
  private val busRoundtripQ = Q(
    "bus_roundtrip",
    (s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bus_roundtrip"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val bus = graft.streaming.EventBus(dir)
      val ev = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 2000)
        .withColumn("bus_date", to_date(col("time"))) // session TZ is UTC
      bus.appendPartitioned(ev, "bus_date")
      bus.read(s)
        .select(col("sequence_number"), col("id"), col("type"),
          unix_timestamp(col("time")).as("t_sec"),
          col("bus_date").cast("string").as("bus_date"),
          col("data"))
        .orderBy(col("sequence_number"))
    },
    Some("""
      SELECT event_id AS sequence_number,
             CAST(event_id AS VARCHAR) AS id,
             event_type AS type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t_sec,
             strftime(ts, '%Y-%m-%d') AS bus_date,
             props AS data
      FROM events WHERE event_id < 2000 ORDER BY event_id
    """))

  /** Manifest-backed boundary + delta read (r19, VERDICT r18 #1): three
    * monotone appends land with OUT-OF-ORDER partition dates (partition
    * values derive from event time — the newest commit carries the
    * OLDEST date, exactly the shape that made directory pruning unsound),
    * then the query serves `(lo, boundary]` the way a stream batch
    * reads a range above its offset — the boundary from the manifest's LATEST pointer
    * ([[graft.streaming.EventBus.maxSequenceFrame]], O(1), no listing),
    * the file selection from manifest records past `lo`
    * ([[graft.streaming.EventBus.readAboveSequence]], O(new commits)).
    * The oracle recomputes the range straight from the source table, so
    * a manifest that under-records a commit, mis-selects files, or a
    * boundary that undershoots all hash-mismatch.
    */
  private val busDeltaReadQ = Q(
    "bus_delta_read",
    (s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bus_delta"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val bus = graft.streaming.EventBus(dir)
      val ev = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 3000)
      // scale-aware slice bounds (sf0.001's events table tops out under
      // 1000) — the oracle computes the same thirds/half in SQL
      val mx = ev.agg(max(col("sequence_number"))).head.getLong(0)
      val (a, b, lo) = (mx / 3, 2 * mx / 3, mx / 2)
      // ascending sequence slices (the append-monotonicity precondition)
      // carrying DESCENDING dates
      bus.appendPartitioned(ev.filter(col("sequence_number") < a)
        .withColumn("bus_date", lit("2024-05-03")), "bus_date")
      bus.appendPartitioned(ev.filter(col("sequence_number") >= a &&
        col("sequence_number") < b)
        .withColumn("bus_date", lit("2024-05-02")), "bus_date")
      bus.appendPartitioned(ev.filter(col("sequence_number") >= b)
        .withColumn("bus_date", lit("2024-05-01")), "bus_date")
      val hi = bus.maxSequenceFrame(s).head.getLong(0)
      bus.readAboveSequence(s, lo)
        .filter(col("sequence_number") > lo &&
          col("sequence_number") <= hi)
        .select(col("sequence_number"), col("id"), col("type"),
          col("bus_date").cast("string").as("bus_date"), col("data"))
        .orderBy(col("sequence_number"))
    },
    Some("""
      WITH m AS (
        SELECT max(event_id) AS mx FROM events WHERE event_id < 3000
      )
      SELECT event_id AS sequence_number,
             CAST(event_id AS VARCHAR) AS id,
             event_type AS type,
             CASE WHEN event_id < CAST(floor(mx / 3) AS BIGINT)
                    THEN '2024-05-03'
                  WHEN event_id < CAST(floor(2 * mx / 3) AS BIGINT)
                    THEN '2024-05-02'
                  ELSE '2024-05-01' END AS bus_date,
             props AS data
      FROM events, m
      WHERE event_id > CAST(floor(mx / 2) AS BIGINT) AND event_id < 3000
      ORDER BY event_id
    """))

  /** Offline bus compaction (r19): eight micro-batch-sized manifested
    * appends (the file-explosion shape a per-trigger append rate
    * produces), then [[graft.streaming.EventBus.compact]] rewrites them
    * into 3 files behind the crash-safe intent-marker swap and rebuilds
    * the manifest, then one MORE append proves the rebuilt manifest
    * accepts commits — and the full read-back hash-compares against the
    * source table, so a swap that drops, duplicates, or corrupts any row
    * (or a rebuilt manifest that mis-records the compacted files)
    * mismatches. The before/after file counts and probe exactness are
    * BusManifestSpec's to pin; the oracle pins the DATA.
    */
  private val busCompactReadQ = Q(
    "bus_compact_read",
    (s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bus_compact"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val bus = graft.streaming.EventBus(dir)
      val all = EventView.fromEventsTable(Tables.events(s, d))
      // FRACTIONAL slice bounds (r20): a fifth of the table rides the 8
      // appends + compaction, another 5% the post-compact append — at
      // sf0.01 that is exactly the old absolute [0,2000)+[2000,2500)
      // shape (hash unchanged), and at the bench's 10× corpus the
      // compacted volume grows with the data, so the scale row measures
      // compaction tracking data growth instead of a fixed 2000 rows
      val mxAll = all.agg(max(col("sequence_number"))).head.getLong(0)
      val L = math.max(8L, (mxAll + 1) / 5)
      val ev = all.filter(col("sequence_number") < L)
      val k = math.max(1L, L / 8)
      (0 until 8).foreach { i =>
        val sliceLo = i * k
        val hi = if (i == 7) Long.MaxValue else (i + 1) * k
        bus.append(ev.filter(col("sequence_number") >= sliceLo &&
          col("sequence_number") < hi))
      }
      bus.compact(s, 3)
      bus.append(all.filter(col("sequence_number") >= L &&
        col("sequence_number") < L + L / 4))
      bus.read(s)
        .select(col("sequence_number"), col("id"), col("type"), col("data"))
        .orderBy(col("sequence_number"))
    },
    Some("""
      WITH m AS (
        SELECT greatest(8, CAST(floor((max(event_id) + 1) / 5) AS BIGINT)) AS L
        FROM events
      )
      SELECT event_id AS sequence_number,
             CAST(event_id AS VARCHAR) AS id,
             event_type AS type,
             props AS data
      FROM events, m
      WHERE event_id < L + CAST(floor(L / 4) AS BIGINT)
      ORDER BY event_id
    """))

  /** Partition-scoped incremental compaction (r20, VERDICT r19 missing
    * #3): a date-partitioned bus where ONE date directory takes six
    * micro-batch appends (two files each — the hot-partition file
    * explosion) and another takes one, then
    * [[graft.streaming.EventBus.compactPartitionDirs]] rewrites ONLY the
    * over-threshold directory behind the staged intent-marker swap —
    * cold partitions byte-identical (BusManifestSpec pins that), no
    * cross-partition shuffle — then one more append proves the rebuilt
    * manifest accepts commits. The full read-back hash-compares against
    * the source table, so a per-directory swap that drops, duplicates,
    * or cross-wires any row (or loses a partition value) mismatches.
    */
  private val busCompactPartitionedQ = Q(
    "bus_compact_partitioned",
    (s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bus_compdir"
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val bus = graft.streaming.EventBus(dir)
      val all = EventView.fromEventsTable(Tables.events(s, d))
      // fractional bounds for the bench scale row — see bus_compact_read
      val mxAll = all.agg(max(col("sequence_number"))).head.getLong(0)
      val L = math.max(8L, (mxAll + 1) / 5)
      val ev = all.filter(col("sequence_number") < L)
      val k = math.max(1L, L / 8)
      (0 until 6).foreach { i =>
        bus.appendPartitioned(ev.filter(col("sequence_number") >= i * k &&
          col("sequence_number") < (i + 1) * k)
          .withColumn("bus_date", lit("2024-05-01")).repartition(2),
          "bus_date")
      }
      bus.appendPartitioned(ev.filter(col("sequence_number") >= 6 * k &&
        col("sequence_number") < 7 * k)
        .withColumn("bus_date", lit("2024-05-02")).repartition(2),
        "bus_date")
      bus.compactPartitionDirs(s, maxFilesPerDir = 4, targetFilesPerDir = 2)
      bus.appendPartitioned(ev.filter(col("sequence_number") >= 7 * k)
        .withColumn("bus_date", lit("2024-05-03")), "bus_date")
      bus.read(s)
        .select(col("sequence_number"), col("id"), col("type"),
          col("bus_date").cast("string").as("bus_date"), col("data"))
        .orderBy(col("sequence_number"))
    },
    Some("""
      WITH m AS (
        SELECT greatest(8, CAST(floor((max(event_id) + 1) / 5) AS BIGINT)) AS L,
               greatest(1, CAST(floor(greatest(8,
                 CAST(floor((max(event_id) + 1) / 5) AS BIGINT)) / 8) AS BIGINT)) AS k
        FROM events
      )
      SELECT event_id AS sequence_number,
             CAST(event_id AS VARCHAR) AS id,
             event_type AS type,
             CASE WHEN event_id < 6 * k THEN '2024-05-01'
                  WHEN event_id < 7 * k THEN '2024-05-02'
                  ELSE '2024-05-03' END AS bus_date,
             props AS data
      FROM events, m
      WHERE event_id < L
      ORDER BY event_id
    """))

  private object BusCompactStreamCapture {
    val a = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  }

  /** STREAM-SAFE compaction: a shared group drains three micro-batch
    * commits and stops; [[graft.streaming.EventBus.compactBelow]] swaps
    * exactly the files at or below the checkpoint's committed offset;
    * the tail lands and the group RESTARTS on the same checkpoint. The
    * stream reads by sequence offset, so the compacted rows (all at or
    * below that offset) must not come back. The oracle expects every
    * event EXACTLY once, so a single re-delivered row (or a lost one)
    * fails the row-count/hash compare. The live-query arm (compact while
    * members are armed and delivering) is EndToEndSpec's to pin; this
    * entry pins the delivered DATA across the restart boundary.
    */
  private val busCompactStreamQ = Q(
    "bus_compact_stream",
    (s, d) => {
      import graft.streaming.{EventBus, SubscriptionRunner}
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("buscbs").toString
      val bus = EventBus(s"$tmp/src")
      val ck = s"$tmp/ck"
      BusCompactStreamCapture.a.clear()
      val ev = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 400)
      val mx = ev.agg(max(col("sequence_number"))).head.getLong(0)
      val q = math.max(1L, (mx + 1) / 4)
      (0 until 3).foreach { i =>
        bus.append(ev.filter(col("sequence_number") >= i * q &&
          col("sequence_number") < (i + 1) * q).repartition(2))
      }
      val sub = (SubscriptionRunner.Spec(Seq.empty, None,
        SubscriptionRunner.Config("sub-a")),
        SubscriptionRunner.Delivery.PerEvent { del =>
          BusCompactStreamCapture.a.add(del.id.toLong); Right(())
        }: SubscriptionRunner.Delivery)
      val g1 = SubscriptionRunner.startSharedGroup(
        s, bus, Seq(sub), None, None, ck)
      try { g1.awaitTermination(120000); () }
      finally g1.stop()
      if (bus.compactBelow(s, 2, Seq(ck)) == 0)
        throw new RuntimeException(
          "compactBelow found nothing to swap — committed offset unread?")
      bus.append(ev.filter(col("sequence_number") >= 3 * q))
      val g2 = SubscriptionRunner.startSharedGroup(
        s, bus, Seq(sub), None, None, ck)
      try { g2.awaitTermination(120000); () }
      finally g2.stop()
      import s.implicits._
      BusCompactStreamCapture.a.asScala.toSeq
        .toDF("sequence_number")
        .orderBy(col("sequence_number"))
    },
    Some("""
      SELECT event_id AS sequence_number
      FROM events WHERE event_id < 400 ORDER BY event_id
    """))

  /** Subscription dry-run (gateway ValidateSubscription RPC,
    * proxy.go:799-855; [[graft.streaming.ValidateSubscription]]): per
    * event, the filter verdict plus — for passing events — the transformed
    * payload, with non-passing events left null by the dry-run's left
    * join. Filter and transformer are both real (compiled filter Column +
    * interpreter), and the oracle recomputes verdict and rendered payload
    * independently.
    */
  private val validateSubQ = Q(
    "validate_subscription",
    (s, d) => {
      import graft.model.FilterSpec
      val transformer = """{
        "template_type": "text",
        "template": "id=<$.id> k=<$.data.k> none=<$.data.nope>"
      }"""
      graft.streaming.ValidateSubscription(
        EventView.fromEventsTable(Tables.events(s, d)),
        Seq(FilterSpec.Exact(Seq("type" -> "purchase"))),
        Some(transformer))
        .select(col("sequence_number").as("event_id"), col("filter_result"),
          col("transformer_result"), col("transform_error"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id,
             (event_type = 'purchase') AS filter_result,
             CASE WHEN event_type = 'purchase'
                  THEN 'id=' || CAST(event_id AS VARCHAR)
                       || ' k=' || COALESCE(json_extract_string(props, '$.k'), '')
                       || ' none='
             END AS transformer_result,
             CAST(NULL AS VARCHAR) AS transform_error
      FROM events ORDER BY event_id
    """))

  /** Publish-path parity (proxy.go:166-237): per-event checkExtension
    * validation, xvanuseventbus stamping, and timer-bus rerouting through
    * the REAL Publisher.route. Attributes are synthesized per event_id%4:
    * clean → accepted; a reserved xvanus-prefixed attr → rejected; a valid
    * RFC3339 xvanusdeliverytime → delayed (stamped, rerouted); an
    * unparseable delivery time → rejected.
    */
  private val publishValidateQ = Q(
    "publish_validate",
    (s, d) => {
      import graft.streaming.Publisher
      val base = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 1000)
      val synth = base.withColumn("attributes",
        when(col("sequence_number") % 4 === 0, col("attributes"))
          .when(col("sequence_number") % 4 === 1,
            map(lit("xvanusowner"), lit("someone")))
          .when(col("sequence_number") % 4 === 2,
            map(lit("xvanusdeliverytime"), lit("2024-01-01T00:00:05Z")))
          .otherwise(map(lit("xvanusdeliverytime"), lit("not-a-time"))))
      val r = Publisher.route(synth, "bus-main")
      val busAttr = col("attributes").getItem(Publisher.EventbusAttr)
      r.accepted.select(col("sequence_number").as("event_id"),
          lit("accepted").as("route"), busAttr.as("stamped_bus"))
        .union(r.delayed.select(col("sequence_number").as("event_id"),
          lit("delayed").as("route"), busAttr.as("stamped_bus")))
        .union(r.rejected.select(col("sequence_number").as("event_id"),
          lit("rejected").as("route"), busAttr.as("stamped_bus")))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id,
             CASE event_id % 4 WHEN 0 THEN 'accepted' WHEN 1 THEN 'rejected'
                  WHEN 2 THEN 'delayed' ELSE 'rejected' END AS route,
             CASE WHEN event_id % 4 IN (0, 2) THEN 'bus-main' END AS stamped_bus
      FROM events WHERE event_id < 1000 ORDER BY event_id
    """))

  /** Event-time tumbling-window rates (WindowedStats batch form — identical
    * expression tree to the watermarked streaming form).
    */
  private val windowedRatesQ = Q(
    "stream_windowed_rates",
    // window start as epoch seconds: raw TIMESTAMP outputs are an
    // untested dtype path in the driver comparator (ns vs us units)
    (s, d) => graft.streaming.WindowedStats.eventRates(
      EventView.fromEventsTable(Tables.events(s, d)))
      .withColumn("window_start", unix_timestamp(col("window_start")))
      .orderBy(col("window_start"), col("type")),
    Some("""
      SELECT CAST(floor(epoch(time_bucket(INTERVAL 1 minute, ts))) AS BIGINT) AS window_start,
             event_type AS type,
             COUNT(*) AS n_events,
             COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Per-user running profiles through the REAL mapGroupsWithState update
    * function (batch form: state starts empty, one fold).
    */
  private val userProfilesQ = Q(
    "stream_user_profiles",
    (s, d) => graft.streaming.UserSessions.profiles(
      EventView.fromEventsTable(Tables.events(s, d)))
      .toDF().orderBy(col("userId")),
    Some("""
      WITH l AS (SELECT user_id, event_type, ts FROM events),
      agg AS (
        SELECT user_id, COUNT(*) AS n,
               MIN(epoch_us(ts)) AS f, MAX(epoch_us(ts)) AS t
        FROM l GROUP BY user_id
      ), last AS (
        SELECT user_id, event_type FROM (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_type DESC) AS rn
          FROM l
        ) WHERE rn = 1
      )
      SELECT CAST(a.user_id AS VARCHAR) AS "userId",
             a.n AS "nEvents", a.f AS "firstSeenMicros",
             a.t AS "lastSeenMicros", last.event_type AS "lastType"
      FROM agg a JOIN last USING (user_id) ORDER BY "userId"
    """))

  /** Ingest-time exact dedup through the REAL flatMapGroupsWithState
    * update function ([[graft.streaming.StreamDedup]], batch form: state
    * starts empty, one fold). The oracle replays the verdicts as a
    * ROW_NUMBER over (digest, event time, id) — rank arithmetic AND the
    * first-copy choice both under the hash.
    */
  private val streamDedupQ = Q(
    "stream_dedup_ingest",
    (s, d) => graft.streaming.StreamDedup.verdicts(Tables.events(s, d))
      .toDF().orderBy(col("eventId")),
    Some("""
      WITH dg AS (
        SELECT event_id, ts,
               md5(coalesce(event_type, chr(26)) || chr(31)
                   || coalesce(props, chr(26))) AS digest
        FROM events
      )
      SELECT digest,
             event_id AS "eventId",
             ROW_NUMBER() OVER (PARTITION BY digest
               ORDER BY ts, event_id) = 1 AS "isFirst",
             ROW_NUMBER() OVER (PARTITION BY digest
               ORDER BY ts, event_id) AS "nSeen"
      FROM dg ORDER BY "eventId"
    """))

  /** Ingest-time NEAR-dup flagging through the REAL banded stateful probe
    * ([[graft.streaming.StreamNearDedup]]: per-(type, block, value)
    * fingerprint-set state under flatMapGroupsWithState, batch form = one
    * fold). The oracle brute-forces "any earlier same-type event within
    * hamming ≤ 2" from an independent SimHash replay — the banding and
    * the distinct-fp state must lose nothing below the cap.
    */
  private val streamNearDedupQ = Q(
    "stream_neardup_ingest",
    (s, d) => graft.streaming.StreamNearDedup.verdicts(Tables.events(s, d))
      .orderBy(col("eventId")),
    Some("""
      WITH f AS (
        SELECT event_id, ts, coalesce(event_type, chr(26)) AS event_type,
          CAST(list_sum(list_transform(range(0, 32), b ->
            CASE WHEN list_sum(list_transform(
                string_split(coalesce(props, chr(26)), ' '), x ->
              CASE WHEN CAST(floor(CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)
                              / power(2, b)) AS BIGINT) % 2 = 1
                THEN 1 ELSE -1 END)) >= 0
              THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS fp
        FROM events
      ), m AS (
        SELECT a.event_id, COUNT(b.event_id) AS nm
        FROM f a JOIN f b
          ON b.event_type = a.event_type
         AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id < a.event_id))
         AND bit_count(xor(a.fp, b.fp)) <= 2
        GROUP BY a.event_id
      )
      SELECT f.event_id AS "eventId", f.fp AS simhash,
             COALESCE(m.nm, 0) > 0 AS is_near_dup
      FROM f LEFT JOIN m ON m.event_id = f.event_id
      ORDER BY "eventId"
    """))

  /** Subscription-level ingest dedup horizon through the REAL
    * flatMapGroupsWithState stage ([[graft.streaming.IngestDedup]], batch
    * form: one fold from empty state — the deterministic face of the
    * sliding-TTL streaming semantics EndToEndSpec exercises). Every 7th
    * event is re-published with a shifted sequence number; the stage must
    * keep exactly the first arrival per (source, id). Every 11th event is
    * ALSO republished under the same `id` but a DIFFERENT `source` — a
    * distinct CloudEvents identity that must NOT dedup (VERDICT r17 #5:
    * with a constant source the compound key degenerated to id alone and
    * an id-only dedup bug was invisible to this oracle). The oracle
    * replays the republications and the min-sequence pick per
    * (source, id); `source` rides the result so the compound identity is
    * under the hash.
    */
  private val ingestHorizonQ = Q(
    "stream_ingest_horizon",
    (s, d) => {
      val base = EventView.fromEventsTable(Tables.events(s, d))
      val republished = base.unionByName(
        base.filter(col("sequence_number") % 7 === 0)
          .withColumn("sequence_number",
            col("sequence_number") + lit(10000000L)))
        .unionByName(
          base.filter(col("sequence_number") % 11 === 0)
            .withColumn("sequence_number",
              col("sequence_number") + lit(20000000L))
            .withColumn("source", concat(col("source"), lit("-alt"))))
      graft.streaming.IngestDedup
        .firstArrivals(republished, java.time.Duration.ofHours(1))
        .toDF()
        .select(col("sequence_number"), col("id"), col("source"),
          col("type"), col("data"))
        .orderBy(col("sequence_number"))
    },
    Some("""
      WITH u AS (
        SELECT event_id AS seq, CAST(event_id AS VARCHAR) AS id,
               '/testdata/events/' || CAST(user_id % 4 AS VARCHAR) AS source,
               event_type, props
        FROM events
        UNION ALL
        SELECT event_id + 10000000, CAST(event_id AS VARCHAR),
               '/testdata/events/' || CAST(user_id % 4 AS VARCHAR),
               event_type, props
        FROM events WHERE event_id % 7 = 0
        UNION ALL
        -- same id, DIFFERENT source: a distinct identity, must survive
        SELECT event_id + 20000000, CAST(event_id AS VARCHAR),
               '/testdata/events/' || CAST(user_id % 4 AS VARCHAR) || '-alt',
               event_type, props
        FROM events WHERE event_id % 11 = 0
      )
      SELECT seq AS sequence_number, id, source,
             event_type AS "type", props AS data
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, id
              ORDER BY seq) AS rn
            FROM u)
      WHERE rn = 1 ORDER BY 1
    """))

  /** Subscription-level NEAR-dup horizon through the REAL payload-riding
    * state stage ([[graft.streaming.StreamNearDedup.verdictsStream]] +
    * rollup, batch form: one fold from empty state) — the
    * `Config.neardupHorizon` knob's keep-frame: events whose `data`
    * SimHash is within hamming ≤ 2 of an earlier same-`type` event are
    * dropped before filter/transform/deliver. The oracle brute-forces the
    * same "any earlier same-type within distance" replay and keeps the
    * complement.
    */
  private val neardupHorizonQ = Q(
    "stream_neardup_horizon",
    (s, d) => {
      val ce = EventView.fromEventsTable(Tables.events(s, d))
      graft.streaming.StreamNearDedup
        .keepFirstContent(ce, ttl = Some(java.time.Duration.ofHours(1)))
        .select(col("sequence_number"), col("type"), col("data"))
        .orderBy(col("sequence_number"))
    },
    Some("""
      WITH f AS (
        SELECT event_id, event_type,
          -- the engine orders by coalesce(unix_micros(time), 0): a NULL
          -- time sorts EARLIEST, it is not incomparable — mirror that here
          -- so a future NULL-ts row cannot silently diverge the two sides
          coalesce(epoch_us(ts), 0) AS tus,
          coalesce(event_type, chr(26)) AS cohort,
          props,
          CAST(list_sum(list_transform(range(0, 32), b ->
            CASE WHEN list_sum(list_transform(
                string_split(coalesce(props, chr(26)), ' '), x ->
              CASE WHEN CAST(floor(CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)
                              / power(2, b)) AS BIGINT) % 2 = 1
                THEN 1 ELSE -1 END)) >= 0
              THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS fp
        FROM events
      ), m AS (
        SELECT a.event_id, COUNT(b.event_id) AS nm
        FROM f a JOIN f b
          ON b.cohort = a.cohort
         AND (b.tus < a.tus OR (b.tus = a.tus AND b.event_id < a.event_id))
         AND bit_count(xor(a.fp, b.fp)) <= 2
        GROUP BY a.event_id
      )
      SELECT f.event_id AS sequence_number, f.event_type AS "type",
             f.props AS data
      FROM f LEFT JOIN m ON m.event_id = f.event_id
      WHERE COALESCE(m.nm, 0) = 0
      ORDER BY 1
    """))

  /** BOTH horizon knobs composed in ONE state operator
    * ([[graft.streaming.StreamNearDedup.keepFirstBoth]], batch form: one
    * fold from empty state — the same operator the streaming plan runs
    * when a subscription sets `dedupHorizon` AND `neardupHorizon`). Every
    * 7th event is republished under its original (source, id) with a
    * shifted sequence — the exact knob's drop; natural near-dup content
    * among the originals is the near knob's; every 11th event is
    * republished under the same `id` but a DIFFERENT `source` AND fresh
    * content — a distinct identity with distant content that must survive
    * BOTH knobs (VERDICT r17 #5: the compound key was degenerate under a
    * constant source). The contract: each knob is
    * judged against ALL arrivals, an event is kept iff neither flags. The
    * oracle replays the republications, the min-sequence exact pick per
    * (source, id), and the brute-force any-earlier-within-hamming-2 scan
    * over the SAME unioned arrivals.
    */
  private val bothHorizonsQ = Q(
    "stream_both_horizons",
    (s, d) => {
      val base = EventView.fromEventsTable(Tables.events(s, d))
      val arrivals = base.unionByName(
        base.filter(col("sequence_number") % 7 === 0)
          .withColumn("sequence_number",
            col("sequence_number") + lit(10000000L)))
        .unionByName(
          base.filter(col("sequence_number") % 11 === 0)
            .withColumn("sequence_number",
              col("sequence_number") + lit(20000000L))
            .withColumn("source", concat(col("source"), lit("-alt")))
            .withColumn("data", concat_ws(" ", lit("altsrc"), col("id"),
              lit("repub"), concat(lit("zz"), col("id")))))
      graft.streaming.StreamNearDedup
        .keepFirstBoth(arrivals,
          exactTtl = Some(java.time.Duration.ofHours(1)),
          nearTtl = Some(java.time.Duration.ofHours(1)))
        .select(col("sequence_number"), col("id"), col("source"),
          col("type"), col("data"))
        .orderBy(col("sequence_number"))
    },
    Some("""
      WITH u AS (
        SELECT event_id AS seq, CAST(event_id AS VARCHAR) AS id,
               '/testdata/events/' || CAST(user_id % 4 AS VARCHAR) AS source,
               event_type, coalesce(epoch_us(ts), 0) AS tus, props
        FROM events
        UNION ALL
        SELECT event_id + 10000000, CAST(event_id AS VARCHAR),
               '/testdata/events/' || CAST(user_id % 4 AS VARCHAR),
               event_type, coalesce(epoch_us(ts), 0), props
        FROM events WHERE event_id % 7 = 0
        UNION ALL
        -- same id, DIFFERENT source + fresh distant content: must survive
        -- the exact knob (distinct compound identity) AND the near knob
        SELECT event_id + 20000000, CAST(event_id AS VARCHAR),
               '/testdata/events/' || CAST(user_id % 4 AS VARCHAR) || '-alt',
               event_type, coalesce(epoch_us(ts), 0),
               'altsrc ' || CAST(event_id AS VARCHAR) || ' repub zz' ||
                 CAST(event_id AS VARCHAR)
        FROM events WHERE event_id % 11 = 0
      ), f AS (
        SELECT seq, id, source, event_type, tus,
          coalesce(event_type, chr(26)) AS cohort, props,
          CAST(list_sum(list_transform(range(0, 32), b ->
            CASE WHEN list_sum(list_transform(
                string_split(coalesce(props, chr(26)), ' '), x ->
              CASE WHEN CAST(floor(CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)
                              / power(2, b)) AS BIGINT) % 2 = 1
                THEN 1 ELSE -1 END)) >= 0
              THEN CAST(power(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS fp
        FROM u
      ), x AS (
        -- the exact knob: an earlier arrival (min-sequence pick) with the
        -- same (source, id) identity
        SELECT seq, ROW_NUMBER() OVER (PARTITION BY source, id
          ORDER BY seq) AS rn
        FROM f
      ), m AS (
        -- the near knob: any earlier arrival (admitted or not) of the same
        -- cohort within hamming <= 2; "earlier" = arrival (sequence) order,
        -- the SAME total order the exact knob uses (r17: one shared order —
        -- a mixed exact-by-seq/near-by-time pick could drop ALL copies of
        -- an earlier-event-time republish)
        SELECT a.seq, COUNT(b.seq) AS nm
        FROM f a JOIN f b
          ON b.cohort = a.cohort
         AND b.seq < a.seq
         AND bit_count(xor(a.fp, b.fp)) <= 2
        GROUP BY a.seq
      )
      SELECT f.seq AS sequence_number, f.id, f.source,
             f.event_type AS "type", f.props AS data
      FROM f
      JOIN x ON x.seq = f.seq
      LEFT JOIN m ON m.seq = f.seq
      WHERE x.rn = 1 AND COALESCE(m.nm, 0) = 0
      ORDER BY 1
    """))

  /** Executor-side delivery capture for [[sharedFanoutQ]]: an object field
    * is a JVM singleton, so serialized sink closures resolve back to this
    * instance in local mode (the EndToEndSpec pattern).
    */
  private object SharedFanoutCapture {
    val a = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val b = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  }

  /** Shared-scan fan-out through the REAL
    * [[graft.streaming.SubscriptionRunner.startShared]]: one streaming
    * read of the bus feeds TWO subscriptions' filter/deliver routing (the
    * N-subscriptions-per-bus shape where read I/O must stay constant in
    * the subscription count). The oracle replays both filters from the
    * source table — every event must reach exactly the subscriptions
    * whose filter admits it, once each.
    */
  private val sharedFanoutQ = Q(
    "stream_shared_fanout",
    (s, d) => {
      import graft.streaming.{EventBus, SubscriptionRunner}
      import graft.model.FilterSpec
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("shfan").toString
      val bus = EventBus(s"$tmp/src")
      bus.append(EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 500))
      SharedFanoutCapture.a.clear(); SharedFanoutCapture.b.clear()
      val subA = (SubscriptionRunner.Spec(
        Seq(FilterSpec.Exact(Seq("type" -> "purchase"))), None,
        SubscriptionRunner.Config("sub-a")),
        { (del: SubscriptionRunner.Deliverable) =>
          SharedFanoutCapture.a.add(del.id.toLong); Right(())
        }: SubscriptionRunner.Sink)
      val subB = (SubscriptionRunner.Spec(
        Seq(FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-b")),
        { (del: SubscriptionRunner.Deliverable) =>
          SharedFanoutCapture.b.add(del.id.toLong); Right(())
        }: SubscriptionRunner.Sink)
      val q = SubscriptionRunner.startShared(
        s, bus, Seq(subA, subB), None, None, s"$tmp/ck")
      try {
        if (!q.awaitTermination(120000))
          throw new RuntimeException("shared fan-out did not drain in 120 s")
      } finally if (q.isActive) q.stop()
      import s.implicits._
      (SharedFanoutCapture.a.asScala.toSeq.map(("sub-a", _)) ++
        SharedFanoutCapture.b.asScala.toSeq.map(("sub-b", _)))
        .toDF("subscription_id", "sequence_number")
        .orderBy(col("subscription_id"), col("sequence_number"))
    },
    Some("""
      SELECT 'sub-a' AS subscription_id, event_id AS sequence_number
      FROM events WHERE event_type = 'purchase' AND event_id < 500
      UNION ALL
      SELECT 'sub-b', event_id
      FROM events WHERE event_type = 'signup' AND event_id < 500
      ORDER BY 1, 2
    """))

  private object LateAttachCapture {
    val a = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val b = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  }

  /** Mid-stream attach on the REAL running shared group
    * ([[graft.streaming.SubscriptionRunner.SharedGroup.attach]]): sub-a
    * founds the group and processes the first half of the bus; sub-b
    * attaches AFTERWARDS with `OffsetReset.Earliest` — its own stream's
    * catch-up must replay every pre-attach signup exactly once — then
    * the second half lands and both members see it live.
    * The oracle replays both filters over the full range: exactly-once
    * across the attach boundary means neither a missing pre-attach event
    * nor a double delivery survives the hash compare.
    */
  private val sharedLateAttachQ = Q(
    "stream_shared_late_attach",
    (s, d) => {
      import graft.streaming.{EventBus, SubscriptionRunner}
      import graft.model.FilterSpec
      import org.apache.spark.sql.streaming.Trigger
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("shlate").toString
      val bus = EventBus(s"$tmp/src")
      val events = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 500)
      bus.append(events.filter(col("sequence_number") < 250))
      LateAttachCapture.a.clear(); LateAttachCapture.b.clear()
      // ONE aggregation job for all three expectation counts (optimization
      // r21): the three separate .count() actions each paid a driver job
      // round that competed with the live micro-batches for cores
      val exp = events.agg(
        count(when(col("sequence_number") < 250 &&
          col("type") === "purchase", 1)).as("a1"),
        count(when(col("type") === "purchase", 1)).as("a"),
        count(when(col("type") === "signup", 1)).as("b")).head
      val (expectA1, expectA, expectB) =
        (exp.getLong(0), exp.getLong(1), exp.getLong(2))
      val subA = (SubscriptionRunner.Spec(
        Seq(FilterSpec.Exact(Seq("type" -> "purchase"))), None,
        SubscriptionRunner.Config("sub-a")),
        SubscriptionRunner.Delivery.PerEvent { del =>
          LateAttachCapture.a.add(del.id.toLong); Right(())
        }: SubscriptionRunner.Delivery)
      val group = SubscriptionRunner.startSharedGroup(
        s, bus, Seq(subA), None, None, s"$tmp/ck",
        trigger = Trigger.ProcessingTime("200 milliseconds"))
      try {
        val d1 = System.currentTimeMillis() + 120000
        while (LateAttachCapture.a.size < expectA1 &&
          System.currentTimeMillis() < d1) Thread.sleep(50)
        if (LateAttachCapture.a.size < expectA1)
          throw new RuntimeException("founding member did not drain half 1")
        // LATE ATTACH from earliest: catch-up replays the first half
        val specB = SubscriptionRunner.Spec(
          Seq(FilterSpec.Exact(Seq("type" -> "signup"))), None,
          SubscriptionRunner.Config("sub-b"))
        group.attach(specB,
          SubscriptionRunner.Delivery.PerEvent { del =>
            LateAttachCapture.b.add(del.id.toLong); Right(())
          }, SubscriptionRunner.OffsetReset.Earliest)
        // the second half lands AFTER the attach; both members drain it
        bus.append(events.filter(col("sequence_number") >= 250))
        val d2 = System.currentTimeMillis() + 120000
        while ((LateAttachCapture.a.size < expectA ||
          LateAttachCapture.b.size < expectB) &&
          System.currentTimeMillis() < d2) Thread.sleep(50)
        Thread.sleep(500) // a wrong double delivery needs time to surface
      } finally group.stop()
      import s.implicits._
      (LateAttachCapture.a.asScala.toSeq.map(("sub-a", _)) ++
        LateAttachCapture.b.asScala.toSeq.map(("sub-b", _)))
        .toDF("subscription_id", "sequence_number")
        .orderBy(col("subscription_id"), col("sequence_number"))
    },
    Some("""
      SELECT 'sub-a' AS subscription_id, event_id AS sequence_number
      FROM events WHERE event_type = 'purchase' AND event_id < 500
      UNION ALL
      SELECT 'sub-b', event_id
      FROM events WHERE event_type = 'signup' AND event_id < 500
      ORDER BY 1, 2
    """))

  /** Gap sessionization via the REAL session_window operator; the oracle
    * rebuilds sessions with the islands technique (gap-break flags +
    * running sum).
    */
  private val sessionsQ = Q(
    "stream_session_windows",
    (s, d) => graft.streaming.WindowedStats.userSessionWindows(
      EventView.fromEventsTable(Tables.events(s, d)), "8 hours")
      .withColumn("session_start", unix_timestamp(col("session_start")))
      .withColumn("session_end", unix_timestamp(col("session_end")))
      .orderBy(col("user_id"), col("session_start")),
    Some("""
      WITH e AS (SELECT user_id, ts FROM events),
      m AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) > 28800
                    THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), sess AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
      )
      SELECT CAST(user_id AS VARCHAR) AS user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
             CAST(floor(epoch(MAX(ts) + INTERVAL 8 HOUR)) AS BIGINT) AS session_end,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start
    """))

  /** CE structured-mode JSON roundtrip: serialize each event to wire JSON
    * (raw data embed, extension attr inline), parse back through the REAL
    * EventJson.parse, and emit the recovered fields — the oracle predicts
    * them straight from the source table, so the parse must exactly
    * invert the serialize.
    */
  private val jsonIngestQ = Q(
    "publish_json_ingest",
    (s, d) => {
      import graft.streaming.EventJson
      val wire = Tables.events(s, d).select(
        col("event_id").as("sequence_number"),
        concat(
          lit("""{"specversion":"1.0","id":""""), col("event_id"),
          lit("""","source":"/testdata/events","type":""""), col("event_type"),
          lit("""","time":""""),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX"),
          lit("""","datacontenttype":"application/json","xuserid":""""),
          col("user_id"),
          lit("""","data":"""), col("props"), lit("}")).as("json"))
      // from_json is codegen-fallback; redistribute the single-split scan
      EventJson.parse(Tables.fanOut(wire))
        .select(col("sequence_number").as("event_id"), col("id"),
          col("source"), col("type"),
          unix_timestamp(col("time")).as("time"),
          col("datacontenttype"),
          col("attributes").getItem("xuserid").as("xuserid"), col("data"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id,
             CAST(event_id AS VARCHAR) AS id,
             '/testdata/events' AS source,
             event_type AS type,
             CAST(floor(epoch(date_trunc('second', ts))) AS BIGINT) AS time,
             'application/json' AS datacontenttype,
             CAST(user_id AS VARCHAR) AS xuserid,
             CAST(json(props) AS VARCHAR) AS data
      FROM events ORDER BY event_id
    """))

  /** gRPC wire-format roundtrip (the protobuf counterpart of
    * `publish_json_ingest`): encode each event as the framed single-event
    * `BatchEvent` blob the gRPC batch sink posts ([[graft.functions
    * .CeBatchBytes]] → [[graft.streaming.CeProto]] wire bytes), truncate
    * every 41st blob (REAL corruption: the gRPC length prefix no longer
    * matches, and the bare-message fallback hits the severed tail), and
    * decode the bytes back in-plan with [[graft.functions.CeBatchEvents]].
    * The oracle never sees a protobuf byte — it predicts every recovered
    * field straight from the construction; corrupt rows must surface as
    * NULL-decode flags, never as plausible partial events.
    */
  private val protoIngestQ = Q(
    "publish_proto_ingest",
    (s, d) => {
      import graft.functions.{CeBatchBytes, CeBatchEvents}
      val enc = Tables.fanOut(Tables.events(s, d)).select(
        col("event_id"),
        CeBatchBytes(lit(7L), col("event_id").cast("string"),
          lit("/testdata/events"), col("event_type"),
          lit("application/json"), coalesce(col("props"), lit(""))).as("blob0"))
      val blobbed = enc.withColumn("blob",
        when(col("event_id") % 41 === 0,
          expr("substring(blob0, 1, length(blob0) - 3)"))
          .otherwise(col("blob0")))
      val ev0 = element_at(col("batch.events"), 1)
      blobbed.withColumn("batch", CeBatchEvents(col("blob")))
        .select(col("event_id"),
          col("batch").isNull.as("is_corrupt"),
          col("batch.bus_id").as("bus_id"),
          ev0.getField("id").as("ce_id"),
          ev0.getField("type").as("ce_type"),
          ev0.getField("datacontenttype").as("ce_ct"),
          ev0.getField("data_text").as("ce_text"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id,
             (event_id % 41 = 0) AS is_corrupt,
             CASE WHEN event_id % 41 = 0 THEN NULL
                  ELSE CAST(7 AS BIGINT) END AS bus_id,
             CASE WHEN event_id % 41 = 0 THEN NULL
                  ELSE CAST(event_id AS VARCHAR) END AS ce_id,
             CASE WHEN event_id % 41 = 0 THEN NULL ELSE event_type END AS ce_type,
             CASE WHEN event_id % 41 = 0 THEN NULL
                  ELSE 'application/json' END AS ce_ct,
             CASE WHEN event_id % 41 = 0 THEN NULL
                  ELSE COALESCE(props, '') END AS ce_text
      FROM events ORDER BY event_id
    """))

  private object ByTimeAttachCapture {
    val a = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val b = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val c = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  }

  /** ByTime attach on the REAL running shared group — the offset SEEK
    * semantics (block_seek.go:45-86) through
    * [[graft.streaming.SubscriptionRunner.SharedGroup.attach]]. Two
    * attachers:
    *  - sub-b resets to a MID-BUS timestamp: its stream starts at the
    *    first offset with time >= T_mid (out-of-order times after that
    *    offset included — a seek, not a time filter), and live appends
    *    follow on the same stream;
    *  - sub-c resets to a FUTURE timestamp nothing on the bus satisfies:
    *    the probe finds no offset, the stream starts at the log END,
    *    and it receives exactly the post-attach appends.
    * The oracle replays the seek (min event_id with ts >= ts(250) among
    * the pre-attach rows) and both filters over the full range.
    */
  private val sharedAttachByTimeQ = Q(
    "stream_shared_attach_bytime",
    (s, d) => {
      import graft.streaming.{EventBus, SubscriptionRunner}
      import graft.model.FilterSpec
      import org.apache.spark.sql.streaming.Trigger
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("shbt").toString
      val bus = EventBus(s"$tmp/src")
      val base = EventView.fromEventsTable(Tables.events(s, d))
      val pre = base.filter(col("sequence_number") < 500)
      // post-attach appends carry a FUTURE event time (they also satisfy
      // sub-c's reset point — but sub-c receives them because they are
      // post-position appends, which is the seek contract either way)
      val late = base.filter(col("sequence_number") >= 500 &&
          col("sequence_number") < 550)
        .withColumn("time", lit("2035-01-01 00:00:00").cast("timestamp"))
      bus.append(pre)
      ByTimeAttachCapture.a.clear(); ByTimeAttachCapture.b.clear()
      ByTimeAttachCapture.c.clear()
      // ONE aggregation job for the seek point and every count that
      // doesn't depend on it (optimization r21): the 6 separate
      // .count()/.head actions each paid a driver job round, several of
      // them racing the live micro-batches for cores
      val exp = base.filter(col("sequence_number") < 550).agg(
        max(when(col("sequence_number") === 250, col("time"))).as("t_mid"),
        count(when(col("sequence_number") < 500 &&
          col("type") === "purchase", 1)).as("a1"),
        count(when(col("sequence_number") >= 500 &&
          col("type") === "purchase", 1)).as("late_a"),
        count(when(col("sequence_number") >= 500 &&
          col("type") === "signup", 1)).as("late_b"),
        count(when(col("sequence_number") >= 500, 1)).as("late_n")).head
      val tMid = exp.getTimestamp(0)
      val expectA1 = exp.getLong(1)
      val subA = (SubscriptionRunner.Spec(
        Seq(FilterSpec.Exact(Seq("type" -> "purchase"))), None,
        SubscriptionRunner.Config("sub-a")),
        SubscriptionRunner.Delivery.PerEvent { del =>
          ByTimeAttachCapture.a.add(del.id.toLong); Right(())
        }: SubscriptionRunner.Delivery)
      val group = SubscriptionRunner.startSharedGroup(
        s, bus, Seq(subA), None, None, s"$tmp/ck",
        trigger = Trigger.ProcessingTime("200 milliseconds"))
      try {
        val d1 = System.currentTimeMillis() + 120000
        while (ByTimeAttachCapture.a.size < expectA1 &&
          System.currentTimeMillis() < d1) Thread.sleep(50)
        if (ByTimeAttachCapture.a.size < expectA1)
          throw new RuntimeException("founding member did not drain half 1")
        val specB = SubscriptionRunner.Spec(
          Seq(FilterSpec.Exact(Seq("type" -> "signup"))), None,
          SubscriptionRunner.Config("sub-b"))
        group.attach(specB,
          SubscriptionRunner.Delivery.PerEvent { del =>
            ByTimeAttachCapture.b.add(del.id.toLong); Right(())
          }, SubscriptionRunner.OffsetReset.ByTime(tMid))
        val specC = SubscriptionRunner.Spec(Seq.empty, None,
          SubscriptionRunner.Config("sub-c"))
        group.attach(specC,
          SubscriptionRunner.Delivery.PerEvent { del =>
            ByTimeAttachCapture.c.add(del.id.toLong); Right(())
          }, SubscriptionRunner.OffsetReset.ByTime(
            java.sql.Timestamp.valueOf("2034-01-01 00:00:00")))
        bus.append(late)
        // the replayed-seek check still takes two small jobs (the signup
        // count is keyed on the s0b the first job computes); everything
        // else rode the single aggregation above
        val s0b = pre.filter(col("time") >= lit(tMid))
          .agg(min(col("sequence_number"))).head.getLong(0)
        val expectA = expectA1 + exp.getLong(2)
        val expectB = pre.filter(col("sequence_number") >= s0b &&
          col("type") === "signup").count() + exp.getLong(3)
        val expectC = exp.getLong(4)
        val d2 = System.currentTimeMillis() + 120000
        while ((ByTimeAttachCapture.a.size < expectA ||
          ByTimeAttachCapture.b.size < expectB ||
          ByTimeAttachCapture.c.size < expectC) &&
          System.currentTimeMillis() < d2) Thread.sleep(50)
        Thread.sleep(500) // a wrong double delivery needs time to surface
      } finally group.stop()
      import s.implicits._
      (ByTimeAttachCapture.a.asScala.toSeq.map(("sub-a", _)) ++
        ByTimeAttachCapture.b.asScala.toSeq.map(("sub-b", _)) ++
        ByTimeAttachCapture.c.asScala.toSeq.map(("sub-c", _)))
        .toDF("subscription_id", "sequence_number")
        .orderBy(col("subscription_id"), col("sequence_number"))
    },
    Some("""
      WITH s0 AS (
        SELECT MIN(event_id) AS v FROM events
        WHERE event_id < 500
          AND ts >= (SELECT ts FROM events WHERE event_id = 250)
      )
      SELECT 'sub-a' AS subscription_id, event_id AS sequence_number
      FROM events WHERE event_type = 'purchase' AND event_id < 550
      UNION ALL
      SELECT 'sub-b', event_id
      FROM events, s0
      WHERE event_type = 'signup' AND event_id < 550 AND event_id >= s0.v
      UNION ALL
      SELECT 'sub-c', event_id
      FROM events WHERE event_id >= 500 AND event_id < 550
      ORDER BY 1, 2
    """))

  private object RosterResumeCapture {
    val a = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val b = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  }

  /** Durable shared-group roster through the REAL
    * [[graft.streaming.SubscriptionRunner.resumeSharedGroup]] (the
    * reference persists subscription assignment in its controller,
    * server/controller/trigger/): run 1 founds the group with a roster
    * file, drains the first half, attaches sub-b from Earliest (its
    * catch-up replays the half), and dies; run 2 rebuilds BOTH members
    * from the roster alone — no specs re-supplied, nothing replayed —
    * and drains the second half, sub-a on the shared checkpoint and
    * sub-b on its own. The oracle replays
    * both filters over the full range: a lost member, a replayed
    * catch-up, or a double delivery all break the hash.
    */
  private val sharedRosterResumeQ = Q(
    "stream_shared_resume",
    (s, d) => {
      import graft.streaming.{EventBus, SubscriptionRunner}
      import graft.model.FilterSpec
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempDirectory("shros").toString
      val bus = EventBus(s"$tmp/src")
      val roster = s"$tmp/roster.json"
      val ckpt = s"$tmp/ck"
      val events = EventView.fromEventsTable(Tables.events(s, d))
        .filter(col("sequence_number") < 500)
      bus.append(events.filter(col("sequence_number") < 250))
      RosterResumeCapture.a.clear(); RosterResumeCapture.b.clear()
      val sinkA: SubscriptionRunner.Sink = { del =>
        RosterResumeCapture.a.add(del.id.toLong); Right(())
      }
      val sinkB: SubscriptionRunner.Sink = { del =>
        RosterResumeCapture.b.add(del.id.toLong); Right(())
      }
      val specA = SubscriptionRunner.Spec(
        Seq(FilterSpec.Exact(Seq("type" -> "purchase"))), None,
        SubscriptionRunner.Config("sub-a"))
      val specB = SubscriptionRunner.Spec(
        Seq(FilterSpec.Exact(Seq("type" -> "signup"))), None,
        SubscriptionRunner.Config("sub-b"))
      val g1 = SubscriptionRunner.startSharedGroup(
        s, bus, Seq((specA, SubscriptionRunner.Delivery.PerEvent(sinkA))),
        None, None, ckpt, rosterPath = Some(roster))
      try {
        if (!g1.awaitTermination(120000))
          throw new RuntimeException("roster run 1 did not drain in 120 s")
        g1.attach(specB, SubscriptionRunner.Delivery.PerEvent(sinkB),
          SubscriptionRunner.OffsetReset.Earliest)
      } finally g1.stop()
      // the RESTART: second half lands first, then the group self-rebuilds
      // from the roster file — both members must see exactly the new rows
      bus.append(events.filter(col("sequence_number") >= 250))
      val g2 = SubscriptionRunner.resumeSharedGroup(
        s, bus, roster,
        id => SubscriptionRunner.Delivery.PerEvent(
          if (id == "sub-a") sinkA else sinkB),
        None, None, ckpt)
      try {
        if (!g2.awaitTermination(120000))
          throw new RuntimeException("roster run 2 did not drain in 120 s")
      } finally g2.stop()
      import s.implicits._
      (RosterResumeCapture.a.asScala.toSeq.map(("sub-a", _)) ++
        RosterResumeCapture.b.asScala.toSeq.map(("sub-b", _)))
        .toDF("subscription_id", "sequence_number")
        .orderBy(col("subscription_id"), col("sequence_number"))
    },
    Some("""
      SELECT 'sub-a' AS subscription_id, event_id AS sequence_number
      FROM events WHERE event_type = 'purchase' AND event_id < 500
      UNION ALL
      SELECT 'sub-b', event_id
      FROM events WHERE event_type = 'signup' AND event_id < 500
      ORDER BY 1, 2
    """))

  val all: Seq[Q] = Seq(backoffQ, delayQ, spoolBucketsQ, dlqQ, offsetResetQ, retryEscalationQ,
    retryableQ, sendBatchesQ, rateLimitQ, busRoundtripQ, busDeltaReadQ, busCompactReadQ,
    busCompactPartitionedQ, busCompactStreamQ, validateSubQ,
    httpDeliveryQ, lambdaDeliveryQ, gcloudDeliveryQ,
    orderedDlqQ, publishValidateQ, windowedRatesQ, userProfilesQ, sessionsQ, jsonIngestQ,
    protoIngestQ, streamDedupQ, streamNearDedupQ, ingestHorizonQ,
    neardupHorizonQ, bothHorizonsQ, sharedFanoutQ, sharedLateAttachQ,
    sharedAttachByTimeQ, sharedRosterResumeQ)
}
