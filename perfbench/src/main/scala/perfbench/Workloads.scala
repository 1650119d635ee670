package perfbench

import graft.{GraftSession, SparkEntry}
import graft.model.FilterSpec
import graft.streaming.{BucketedSpool, EventBus, HttpSink, Publisher, SubscriptionRunner}
import graft.streaming.SubscriptionRunner.{BatchResult, Config, Delivery, Spec}
import graft.transform.TransformRunner
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The two workloads. Each measures its end-to-end figures with tracing
  * off; a traced run (`--trace 1`) then repeats the measured phase with
  * spans and Spark listeners on, and reports the per-layer figures plus
  * the tracing overhead of each end-to-end figure.
  */
object Workloads {
  import Main.Result

  /** Sizes of the runs. Rates and sizes are fixed here, not by the
    * caller, so every run of a workload does the same kind of work.
    */
  object Size {
    /** steady_delivery: events per publish, the publish period, and the
      * producer threads that take due publishes in turn. Publishes are due
      * one period apart from a seeded offset; the period is not a multiple
      * of the trigger interval, so they land at every phase of the trigger
      * clock, and a publish shorter than the period never overlaps the next.
      * At 40 events every 640 ms, a run in which the host took 15% of the
      * machine's cores (steal) fell behind and its backlog grew; 80 events
      * every 1280 ms offer the same events per second with half the
      * publishes and micro-batches.
      */
    val SteadyBatch = 80
    val SteadyPeriodMs = 1280
    val SteadyProducers = 2
    /** Publishes before the stream starts, and the unmeasured window after. */
    val SteadyWarmBatches = 2
    val SteadyWarmSeconds = 25.0
    /** Trigger interval of the continuously running subscription. */
    val SteadyTriggerMs = 250L
    /** A run whose generator falls more than this behind is invalid. */
    val SteadyLateBoundMs = 800.0
    /** A run whose backlog grows by more than this over the second half of
      * the window (about three seconds of offered load) is invalid.
      */
    val SteadyLagSlackEvents = 200
    /** The failure-path probe of a traced run: events in its backlog, the
      * generator position they start at (past any steady-state event), and
      * events per commit.
      */
    val RetryEvents = 1000
    val RetryFrom = 30000000L
    val RetryCommit = 500
    /** Spool tick and the virtual-clock step between release passes. */
    val SpoolTickSec = 10L
    val ReleaseStepSec = 60L
    val VirtualEpochSec = 1800000000L
    /** curation_batch: the queries, in run order, and the measured passes,
      * reported as nearest-rank medians (the second best of four), so a
      * pass slowed by the tail of warm-up or by a burst of machine load
      * does not move them. `pipeline_curate_keep_best` and `pipeline_audio_curation` are left
      * out: DuckDB needs minutes and 12 s for their oracle SQL at this size,
      * more than a run can spend on checking its output.
      */
    val Queries: Seq[String] = Seq("dedup_cross_corpus", "dedup_ngram_jaccard",
      "sim_ivfpq_topk", "text_tfidf")
    val CurationPasses = 4
  }

  /** Every per-layer name a traced run reports, in report order. */
  val LayerNames: Seq[String] = Seq(
    "publisher.jobs_per_call", "publisher.call_ms_p50", "publisher.call_ms_tail",
    "eventbus.append_ms_p50", "eventbus.probe_ms_p50", "eventbus.files_end",
    "eventbus.commits_end", "eventbus.lag_events_mid", "eventbus.lag_events_end",
    "trigger.batches", "trigger.rows_per_batch_p50", "trigger.latest_offset_ms_p50",
    "trigger.get_batch_ms_p50", "trigger.query_planning_ms_p50", "trigger.add_batch_ms_p50",
    "trigger.add_batch_ms_p99", "trigger.wal_commit_ms_p50",
    "runner.jobs_per_batch", "runner.tasks_per_batch", "runner.executor_cpu_s",
    "runner.shuffle_bytes",
    "filters.eval_s", "filters.selectivity",
    "transform.apply_s", "transform.errors",
    "sinks.requests", "sinks.events_per_request", "sinks.receiver_busy_s", "sinks.non2xx",
    "sinks.deliver_p50_ms", "sinks.deliver_p99_ms",
    "routing.to_retry", "routing.to_dlq", "routing.undeliverable", "routing.release_passes",
    "routing.release_ms_p50", "routing.spool_files_end") ++
    Size.Queries.flatMap(q => Seq("wall_s", "executor_cpu_s", "jobs", "shuffle_bytes",
      "spill_bytes", "task_skew", "planning_ms").map(m => s"ext.$q.$m")) ++
    Seq("graftcache.pins", "jvm.gc_s", "jvm.jit_s", "jvm.peak_heap_mb",
      "gen.late_p99_ms", "gen.publishes") ++
    Seq("gen", "publisher", "eventbus", "trigger", "runner", "filters", "transform",
      "sinks", "routing", "ext").map(m => s"self.${m}_s")

  /** The gated end-to-end figures. Each phase also measures
    * `deliver_p50_ms` and `deliver_p99_ms`, reported ungated and as
    * `sinks.deliver_p50_ms`/`sinks.deliver_p99_ms`: the open-loop latency
    * is a chain of small Spark jobs on several threads, and time the host
    * takes from the machine's cores (steal) stretches it several times
    * over, so between runs of the same code it swings more than any bound
    * allows.
    */
  val E2eNames: Seq[String] = Seq("setup_s", "run_s", "cpu_s", "delivered_per_s")
  /** End-to-end figures where higher is better. */
  private val HigherIsBetter = Set("delivered_per_s")

  /** What tracing cost a figure: traced minus untraced, turned round for
    * higher-is-better figures, so a positive value always means worse.
    */
  private def overhead(n: String, plain: Double, traced: Double): Double =
    if (HigherIsBetter(n)) plain - traced else traced - plain

  /** One measured phase: end-to-end figures, layer figures, counts. */
  final case class Phase(e2e: Map[String, Double], layers: Map[String, Double],
      attempted: Long, failed: Long, problems: Seq[String], notes: Map[String, String])

  /** Run the measured phase untraced; on a traced run, run it again with
    * tracing on and derive the per-layer report.
    */
  private def measure(ctx: Ctx)(phase: Boolean => Phase): Result = {
    val plain = phase(false)
    if (!ctx.o.trace)
      Result(plain.attempted, plain.failed, plain.problems, plain.e2e, Map.empty, plain.notes)
    else {
      ctx.tracer.enabled = true
      val traced = phase(true)
      ctx.tracer.enabled = false
      val self = ctx.tracer.selfSeconds
      val measured = traced.layers ++ Seq("deliver_p50_ms", "deliver_p99_ms").map(n => s"sinks.$n" -> traced.e2e(n))
      val layers = LayerNames.map { n =>
        n -> (if (n.startsWith("self.")) self.getOrElse(n.stripPrefix("self.").stripSuffix("_s"), 0.0)
              else measured.getOrElse(n, 0.0))
      }.toMap ++ E2eNames.map(n => s"overhead.$n" -> overhead(n, plain.e2e(n), traced.e2e(n)))
      val unknown = traced.layers.keySet -- LayerNames
      Result(plain.attempted + traced.attempted, plain.failed + traced.failed,
        plain.problems ++ traced.problems ++ unknown.map(n => s"unlisted layer metric $n"),
        plain.e2e, layers, plain.notes ++ traced.notes)
    }
  }

  private def ms(nanos: Long): Double = nanos / 1e6
  private def median(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  /** Keep bodies of about one event in sixteen for spot checks. */
  private def sampled(id: String): Boolean = java.lang.Math.floorMod(id.hashCode, 16) == 0

  private def publishBatch(spark: SparkSession, evs: Seq[Gen.Ev], bus: EventBus,
      timer: EventBus, tracer: Tracer): Long = {
    val df = Gen.frame(spark, evs)
    spark.sparkContext.setJobGroup("publisher", "publish", interruptOnCancel = false)
    val t = System.nanoTime()
    val r = tracer.span("publisher.publish")(Publisher.publish(df, bus, timer, "bench"))
    val took = System.nanoTime() - t
    spark.sparkContext.clearJobGroup()
    require(r.accepted == evs.size && r.delayed == 0 && r.rejected == 0,
      s"publish accepted ${r.accepted} of ${evs.size}")
    took
  }

  /** Delivery checks shared by the workloads: every expected id arrived
    * exactly once, nothing else arrived, sampled bodies are right.
    */
  private def checkDeliveries(rx: Receiver, expected: Map[String, Gen.Ev],
      body: Gen.Ev => String): Seq[String] = {
    val got = rx.accepted.keySet.asScala.toSet
    val missing = expected.keySet -- got
    val extra = got -- expected.keySet
    val dups = rx.duplicates
    val badBodies = rx.bodies.asScala.collect {
      case (id, b) if expected.contains(id) && b != body(expected(id)) =>
        s"body of $id: got $b want ${body(expected(id))}"
    }
    Seq(
      if (missing.nonEmpty) Some(s"${missing.size} expected events never delivered, e.g. ${missing.take(3)}") else None,
      if (extra.nonEmpty) Some(s"${extra.size} unexpected events delivered, e.g. ${extra.take(3)}") else None,
      if (dups.nonEmpty) Some(s"${dups.size} events delivered more than once, e.g. ${dups.take(3)}") else None,
    ).flatten ++ badBodies.take(3) ++
      (if (rx.bodies.isEmpty && expected.nonEmpty) Seq("no bodies sampled") else Nil)
  }

  /** Parquet data files and manifest commits of a bus directory. */
  private def busFiles(path: String): (Int, Int) = {
    val root = Paths.get(path)
    if (!Files.exists(root)) (0, 0)
    else {
      val all = Files.walk(root).iterator().asScala.toSeq
      val data = all.count(p => p.toString.endsWith(".parquet") &&
        !root.relativize(p).iterator().asScala.exists(s => s.toString.startsWith("_") || s.toString.startsWith(".")))
      val commits = all.count(_.getFileName.toString.startsWith("commit-"))
      (data, commits)
    }
  }

  /** Isolated EventBus probes at the workload's batch size: appends to a
    * scratch bus, and the high-water-mark probe on the workload's bus.
    */
  private def busProbes(ctx: Ctx, seed: Long, batch: Int, bus: EventBus): Map[String, Double] =
    ctx.tracer.span("eventbus.probes") {
      val spark = ctx.spark
      val scratch = EventBus(ctx.dir("scratch-bus"))
      val appends = (0 until 10).map { k =>
        val df = Gen.frame(spark, Gen.events(seed, 10000000L + k * batch, batch))
        val t = System.nanoTime()
        ctx.tracer.span("eventbus.append")(scratch.append(df))
        ms(System.nanoTime() - t)
      }
      val probes = (0 until 5).map { _ =>
        val t = System.nanoTime()
        ctx.tracer.span("eventbus.probe")(bus.maxSequenceFrame(spark).collect())
        ms(System.nanoTime() - t)
      }
      val (files, commits) = busFiles(bus.path)
      Map("eventbus.append_ms_p50" -> median(appends), "eventbus.probe_ms_p50" -> median(probes),
        "eventbus.files_end" -> files.toDouble, "eventbus.commits_end" -> commits.toDouble)
    }

  private def jobLayers(js: Option[JobStats], key: String, per: Double): Map[String, Double] =
    js.map(_.get(key)).map { s =>
      Map("runner.jobs_per_batch" -> s.jobs / per, "runner.tasks_per_batch" -> s.tasks / per,
        "runner.executor_cpu_s" -> s.cpuNanos / 1e9, "runner.shuffle_bytes" -> s.shuffleBytes.toDouble)
    }.getOrElse(Map.empty)

  /** Receiver counters since `base` (a [[Receiver.counters]] snapshot). */
  private def sinkLayers(rx: Receiver, base: Seq[Long] = Seq(0L, 0L, 0L, 0L)): Map[String, Double] = {
    val Seq(requests, events, busy, non2xx) = rx.counters.zip(base).map { case (a, b) => (a - b).toDouble }
    Map("sinks.requests" -> requests, "sinks.events_per_request" -> events / math.max(1.0, requests),
      "sinks.receiver_busy_s" -> busy / 1e9, "sinks.non2xx" -> non2xx)
  }

  /** JVM counters over a phase. */
  private final class JvmWindow {
    private val cpu0 = Jvm.cpuNanos
    private val gc0 = Jvm.gcMillis
    private val jit0 = Jvm.jitMillis
    Jvm.resetPeaks()
    def cpuSeconds: Double = (Jvm.cpuNanos - cpu0) / 1e9
    def layers: Map[String, Double] = Map(
      "jvm.gc_s" -> (Jvm.gcMillis - gc0) / 1e3, "jvm.jit_s" -> (Jvm.jitMillis - jit0) / 1e3,
      "jvm.peak_heap_mb" -> Jvm.peakHeapMb)
  }

  private def publishLayers(lat: Seq[Double], jobs: Option[JobStats]): Map[String, Double] = {
    val t = Stats.tail(lat)
    Map("publisher.call_ms_p50" -> Stats.median(lat), "publisher.call_ms_tail" -> t.value,
      "gen.publishes" -> lat.size.toDouble) ++
      jobs.map(j => "publisher.jobs_per_call" -> j.get("publisher").jobs.toDouble / math.max(1, lat.size))
  }

  // ---------------------------------------------------------------------
  /** One open-loop window of `steady_delivery`. */
  private final case class Window(start: Long, due: Map[String, Long], pubLat: Seq[Double],
      late: Seq[Double], lagMid: Long, lagEnd: Long)

  /** Open loop: publishes are due on a fixed schedule, taken in turn by
    * the producer threads, into a bus that a continuously running
    * subscription reads; the receiver times every event from when its
    * publish was due.
    */
  def steady(ctx: Ctx): Result = {
    import Size._
    val spark = ctx.spark
    val seed = ctx.o.seed
    val t0 = System.nanoTime()
    val bus = EventBus(ctx.dir("steady-bus"))
    val timer = EventBus(ctx.dir("steady-timer"))
    val rx = new Receiver(2, (_, _) => 200, sampled, ctx.tracer)
    val progress = new Progress(ctx.tracer)
    spark.streams.addListener(progress)
    val spec = Spec(Seq(FilterSpec.CeSql(Gen.SteadyFilterSql)), Some(Gen.SteadyTransform),
      Config("steady"))
    var next = 0L
    val published = new java.util.concurrent.atomic.AtomicLong()
    val expected = mutable.Map.empty[String, Gen.Ev]
    def batches(n: Int): Vector[Vector[Gen.Ev]] = {
      val bs = Vector.tabulate(n)(k => Gen.events(seed, next + k * SteadyBatch, SteadyBatch))
      next += n.toLong * SteadyBatch
      bs.flatten.filter(Gen.steadyPasses).foreach(e => expected(e.id) = e)
      bs
    }
    def publish(evs: Seq[Gen.Ev]): Double = {
      val took = publishBatch(spark, evs, bus, timer, ctx.tracer)
      published.addAndGet(evs.size.toLong)
      ms(took)
    }
    def awaitAll(timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (expected.keys.exists(id => !rx.accepted.containsKey(id)) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      expected.keys.forall(rx.accepted.containsKey)
    }
    def openLoop(seconds: Double): Window = {
      val periods = math.max(4, (seconds * 1000 / SteadyPeriodMs).toInt)
      val next0 = next
      val bs = batches(periods)
      val due = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val pubLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val lagMid = new java.util.concurrent.atomic.AtomicLong()
      val error = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val offset = (Gen.unit(Gen.mixAll(seed, next0, 0xD0EL)) * SteadyPeriodMs * 1000000L).toLong
      val start = System.nanoTime() + 50000000L + offset
      val genSpan = ctx.tracer.begin("gen.open_loop")
      ctx.tracer.ambient = genSpan
      val producers = (0 until SteadyProducers).map { j =>
        new Thread(() => try {
          for (k <- j until periods by SteadyProducers) {
            val dueAt = start + k * SteadyPeriodMs * 1000000L
            val wait = dueAt - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            late.add(ms(math.max(0L, System.nanoTime() - dueAt)))
            bs(k).foreach(e => due.put(e.id, dueAt))
            pubLat.add(publish(bs(k)))
            if (k == periods / 2) lagMid.set(published.get - progress.rows.get)
          }
        } catch { case t: Throwable => error.set(t) }, s"producer-$j")
      }
      producers.foreach(_.start())
      producers.foreach(_.join())
      ctx.tracer.ambient = -1L
      ctx.tracer.end(genSpan)
      Option(error.get).foreach(t => throw t)
      Window(start, due.asScala.toMap, pubLat.asScala.toSeq, late.asScala.toSeq, lagMid.get,
        published.get - progress.rows.get)
    }
    // set-up: the stream starts over a few published batches; then an
    // unmeasured open-loop window at the measured rate, fully delivered
    batches(SteadyWarmBatches).foreach(publish)
    val query = SubscriptionRunner.start(spark, bus, spec, HttpSink(rx.url), None, None,
      ctx.dir("steady-ck"), Trigger.ProcessingTime(SteadyTriggerMs))
    val problems = mutable.ArrayBuffer.empty[String]
    if (!awaitAll(120000)) problems += "warm-up events not delivered within 120 s"
    openLoop(SteadyWarmSeconds)
    if (!awaitAll(60000)) problems += "warm-up window not delivered within 60 s"
    val setupS = ctx.sessionSeconds + (System.nanoTime() - t0) / 1e9

    def phase(traced: Boolean): Phase = {
      val js = if (traced) Some(Jvm.listen(spark.sparkContext)) else None
      val jvm = new JvmWindow
      val progressFrom = progress.durations.size
      val rxBase = rx.counters
      val w = openLoop(ctx.o.seconds)
      val ok = awaitAll(60000)
      val end = System.nanoTime()
      val cpu = jvm.cpuSeconds
      val jvmLayers = jvm.layers
      val arrivals = rx.firstArrivals
      val measuredIds = w.due.keySet.filter(expected.contains)
      val lat = measuredIds.toSeq.flatMap(id => arrivals.get(id).map(a => ms(a - w.due(id))))
      val lastArrival = measuredIds.flatMap(arrivals.get).maxOption.getOrElse(end)
      val runS = (lastArrival - w.start) / 1e9
      val lateP99 = Stats.percentile(w.late, 99)
      val ps = mutable.ArrayBuffer.empty[String]
      if (!ok) ps += "measured events not delivered within 60 s of the last publish"
      // steady state: the backlog must not grow over the second half,
      // and the generator must keep to its schedule
      if (w.lagEnd > math.max(w.lagMid, 0L) + SteadyLagSlackEvents)
        ps += s"backlog grew from ${w.lagMid} to ${w.lagEnd} events"
      if (lateP99 > SteadyLateBoundMs)
        ps += f"generator ran late: p99 $lateP99%.1f ms > $SteadyLateBoundMs%.0f ms"
      val trig = progress.durations.asScala.toSeq.drop(progressFrom)
      def dur(k: String): Seq[Double] = trig.map(t => Option(t._2.get(k)).map(_.doubleValue).getOrElse(0.0))
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val batches = trig.size.toDouble
          Map("trigger.batches" -> batches,
            "trigger.rows_per_batch_p50" -> Stats.median(trig.map(_._3.toDouble)),
            "trigger.latest_offset_ms_p50" -> Stats.median(dur("latestOffset")),
            "trigger.get_batch_ms_p50" -> Stats.median(dur("getBatch")),
            "trigger.query_planning_ms_p50" -> Stats.median(dur("queryPlanning")),
            "trigger.add_batch_ms_p50" -> Stats.median(dur("addBatch")),
            "trigger.add_batch_ms_p99" -> Stats.percentile(dur("addBatch"), 99),
            "trigger.wal_commit_ms_p50" -> Stats.median(dur("walCommit")),
            "eventbus.lag_events_mid" -> w.lagMid.toDouble, "eventbus.lag_events_end" -> w.lagEnd.toDouble,
            "gen.late_p99_ms" -> lateP99) ++
            jobLayers(js, "stream", math.max(1.0, batches)) ++ sinkLayers(rx, rxBase) ++
            publishLayers(w.pubLat, js) ++ jvmLayers ++
            busProbes(ctx, seed, SteadyBatch, bus)
        }
      js.foreach(spark.sparkContext.removeSparkListener)
      // the failure path: its layers and checks join the traced run's
      val retry = if (traced) Some(retryProbe(ctx)) else None
      val t = Stats.tail(lat)
      val pt = Stats.tail(w.pubLat)
      Phase(
        Map("setup_s" -> setupS, "run_s" -> runS, "cpu_s" -> cpu,
          "delivered_per_s" -> lat.size / runS,
          "deliver_p50_ms" -> Stats.median(lat), "deliver_p99_ms" -> Stats.percentile(lat, 99)),
        layers ++ retry.fold(Map.empty[String, Double])(_.layers),
        attempted = w.due.size.toLong + retry.fold(0L)(_.attempted),
        failed = ps.size.toLong + retry.fold(0L)(_.failed), ps.toSeq ++ retry.toSeq.flatMap(_.problems),
        Map("deliver_samples" -> lat.size.toString, "deliver_tail" -> f"p${t.pct}%s=${t.value}%.1f ms",
          "publish_p50_ms" -> f"${Stats.median(w.pubLat)}%.2f",
          "publish_tail" -> f"p${pt.pct}%s=${pt.value}%.2f ms (n=${pt.n})",
          "gen_late_p99_ms" -> f"$lateP99%.2f", "lag_mid_end" -> s"${w.lagMid}/${w.lagEnd}",
          "offered_events_per_s" -> f"${SteadyBatch * 1000.0 / SteadyPeriodMs}%.1f",
          "jvm_gc_jit_s" -> f"${jvmLayers("jvm.gc_s")}%.2f/${jvmLayers("jvm.jit_s")}%.2f"))
    }

    try {
      val res = measure(ctx)(phase)
      query.stop()
      // the books over the whole run: every passing event once, nothing else
      val ps = checkDeliveries(rx, expected.toMap, Gen.steadyBody)
      res.copy(failed = res.failed + ps.size, problems = problems.toSeq ++ res.problems ++ ps)
    } finally {
      if (query.isActive) query.stop()
      spark.streams.removeListener(progress)
      rx.stop()
    }
  }

  /** Publish a backlog of `n` events in commits of `commit` events. */
  private def backlog(ctx: Ctx, seed: Long, from: Long, n: Int, commit: Int,
      bus: EventBus, timer: EventBus): Unit =
    (0 until n by commit).foreach { off =>
      publishBatch(ctx.spark, Gen.events(seed, from + off, math.min(commit, n - off)), bus, timer, ctx.tracer)
    }

  /** Isolated filter and transformer probes over a drain input. */
  private def filterTransformProbes(ctx: Ctx, input: DataFrame, spec: Spec, tj: String): Map[String, Double] = {
    def time(df: DataFrame): Double = {
      val t = System.nanoTime()
      df.queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t) / 1e9
    }
    val passed = input.filter(spec.predicate)
    val scan = median((0 until 3).map(_ => ctx.tracer.span("filters.scan_probe")(time(input))))
    val filt = median((0 until 3).map(_ => ctx.tracer.span("filters.probe")(time(passed))))
    val transformed = TransformRunner(passed, tj)
    val tr = median((0 until 3).map(_ => ctx.tracer.span("transform.probe")(time(transformed))))
    val errors = transformed.filter(col("transform_error").isNotNull).count()
    Map("filters.eval_s" -> math.max(0.0, filt - scan), "transform.apply_s" -> math.max(0.0, tr - filt),
      "transform.errors" -> errors.toDouble)
  }

  private def drainBooksProblems(b: BatchResult, input: Int, want: Stats.Books): Seq[String] = {
    val got = Stats.Books(input, b.delivered, b.filteredOut, b.toRetry, b.toDlq, b.undeliverable)
    (if (!got.closed) Seq(s"books do not close: $got") else Nil) ++
      (if (got != want) Seq(s"books $got, expected $want") else Nil)
  }

  // ---------------------------------------------------------------------
  /** The failure path, probed once at the end of a traced
    * `steady_delivery` run: a backlog drained (CEL filter, 10-action
    * transformer with template, per-event sink) against a receiver that
    * refuses a seeded share of attempts, then release passes of the retry
    * spool on a virtual clock until it is empty, then the isolated filter
    * and transformer probes over the same backlog. Its checks count like
    * those of the measured phase.
    */
  private def retryProbe(ctx: Ctx): Phase = ctx.tracer.span("routing.probe") {
    import Size._
    val spark = ctx.spark
    val seed = ctx.o.seed
    val rx = new Receiver(2, (id, attempt) => Gen.status(seed, Gen.seqOf(id), attempt), sampled, ctx.tracer)
    try {
      val sink = HttpSink(rx.url)
      val spec = Spec(Seq(FilterSpec.Cel(Gen.DrainFilterCel)), Some(Gen.DrainTransform),
        Config("retry", maxRetryAttempts = Gen.MaxRetryAttempts))
      val all = Gen.events(seed, RetryFrom, RetryEvents)
      val passing = all.filter(Gen.drainPasses)
      val outcome = passing.map(e => e.id -> Gen.outcome(seed, e.seq)).toMap
      val wantDelivered = passing.filter(e => outcome(e.id).isDefined).map(e => e.id -> e).toMap
      val wantDlq = passing.filter(e => outcome(e.id).isEmpty).map(_.id).toSet
      // the drain's books, from the schedule's answers to first attempts
      val firstAnswers = passing.map(e => Gen.status(seed, e.seq, 1))
      val wantFirst = Stats.Books(RetryEvents, firstAnswers.count(_ == Gen.Ok), RetryEvents - passing.size,
        firstAnswers.count(_ == Gen.Unavailable), firstAnswers.count(_ == Gen.BadRequest), 0)
      val bus = EventBus(ctx.dir("retry-bus"))
      backlog(ctx, seed, RetryFrom, RetryEvents, RetryCommit, bus, EventBus(ctx.dir("retry-timer")))

      val spool = BucketedSpool(ctx.dir("retry-spool"), SpoolTickSec)
      val dlq = EventBus(ctx.dir("retry-dlq"))
      var now = VirtualEpochSec
      val drainSpan = ctx.tracer.begin("runner.drain")
      ctx.tracer.ambient = drainSpan
      spark.sparkContext.setJobGroup("retry", "drain", interruptOnCancel = false)
      val first = SubscriptionRunner.processBatchWith(bus.read(spark), spec, Delivery.PerEvent(sink),
        Some(spool), Some(dlq), now)
      ctx.tracer.end(drainSpan)
      val passes = mutable.ArrayBuffer.empty[BatchResult]
      val passMs = mutable.ArrayBuffer.empty[Double]
      spark.sparkContext.setJobGroup("routing", "release", interruptOnCancel = false)
      while (spool.maturedBuckets(spark, now + ReleaseStepSec).nonEmpty && passes.size < 10) {
        now += ReleaseStepSec
        val t = System.nanoTime()
        val span = ctx.tracer.begin("routing.release")
        ctx.tracer.ambient = span
        passes += SubscriptionRunner.releaseSpool(spark, spool, spec, sink, Some(dlq), now)
        ctx.tracer.end(span)
        passMs += ms(System.nanoTime() - t)
      }
      spark.sparkContext.clearJobGroup()
      ctx.tracer.ambient = -1L
      // closed books: delivered ids plus dead letters match the schedule,
      // and nothing is left in the spool
      val dlqIds = dlq.read(spark).select("id").collect().map(_.getString(0)).toSeq
      val spoolLeft = spool.dataFileCount(spark)
      val toDlq = first.toDlq + passes.map(_.toDlq).sum
      val problems = checkDeliveries(rx, wantDelivered, Gen.drainBody) ++
        (if (dlqIds.toSet != wantDlq || dlqIds.size != wantDlq.size)
          Seq(s"DLQ holds ${dlqIds.size} events (${dlqIds.toSet.size} distinct), schedule says ${wantDlq.size}")
        else Nil) ++
        (if (spoolLeft != 0) Seq(s"$spoolLeft spool files left after the release passes") else Nil) ++
        drainBooksProblems(first, RetryEvents, wantFirst) ++
        (if (toDlq != wantDlq.size) Seq(s"runner reports $toDlq dead letters, schedule says ${wantDlq.size}") else Nil) ++
        (if (passes.exists(_.undeliverable != 0)) Seq("undeliverable events") else Nil)
      val layers = Map(
        "routing.to_retry" -> (first.toRetry + passes.map(_.toRetry).sum).toDouble,
        "routing.to_dlq" -> toDlq.toDouble,
        "routing.undeliverable" -> (first +: passes.toSeq).map(_.undeliverable).sum.toDouble,
        "routing.release_passes" -> passes.size.toDouble,
        "routing.release_ms_p50" -> Stats.median(passMs.toSeq),
        "routing.spool_files_end" -> spoolLeft.toDouble,
        "filters.selectivity" -> passing.size.toDouble / RetryEvents) ++
        filterTransformProbes(ctx, bus.read(spark), spec, Gen.DrainTransform)
      Phase(Map.empty, layers, RetryEvents, if (problems.isEmpty) 0 else 1, problems, Map.empty)
    } finally rx.stop()
  }

  // ---------------------------------------------------------------------
  /** One measured pass of `curation_batch`. */
  private final case class Pass(wallS: Double, cpuS: Double, rows: Long, queryMs: Seq[Double],
      layers: Map[String, Double], problems: Seq[String])

  /** The curation queries over the seeded subsample the runner
    * script wrote to `<work>/curation-data`. An unmeasured pass writes each
    * result to `<work>/curation-out/<query>` for the DuckDB check; then a
    * fixed number of measured passes, reported as medians.
    */
  def curation(ctx: Ctx): Result = {
    import Size._
    val spark = ctx.spark
    val data = ctx.o.work.resolve("curation-data").toString
    val out = ctx.o.work.resolve("curation-out")
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.value(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    // the runner script computes the DuckDB hashes now; set-up and the
    // measured passes wait until it is done, so they never share the
    // machine with it
    val ready = ctx.o.work.resolve("oracle.ready")
    val deadline = System.currentTimeMillis() + 150000L
    while (!Files.exists(ready) && System.currentTimeMillis() < deadline) Thread.sleep(50)
    if (!Files.exists(ready)) throw new IllegalStateException("oracle hashes not ready after 150 s")
    // set-up: one pass of the same queries, which writes the results for
    // the DuckDB check and finishes code generation and JIT before timing
    val t0 = System.nanoTime()
    val rowsSeen = mutable.Map.empty[String, Long]
    Queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, data)
      val rows = df.collect()
      rowsSeen(q) = rows.length.toLong
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      GraftSession.sweepPersisted(spark)
    }
    val setupS = ctx.sessionSeconds + (System.nanoTime() - t0) / 1e9

    def pass(traced: Boolean): Pass = {
      val js = if (traced) Some(Jvm.listen(spark.sparkContext)) else None
      val window = new JvmWindow
      val problems = mutable.ArrayBuffer.empty[String]
      val layers = mutable.Map.empty[String, Double]
      val perQuery = Queries.map { q =>
        spark.sparkContext.setJobGroup(s"ext.$q", q, interruptOnCancel = false)
        val t = System.nanoTime()
        val (df, rows) = ctx.tracer.span(s"ext.$q") {
          val df = SparkEntry.queries(q)(spark, data)
          (df, df.collect())
        }
        val wall = (System.nanoTime() - t) / 1e9
        spark.sparkContext.clearJobGroup()
        val planning = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
        if (rowsSeen(q) != rows.length)
          problems += s"$q returned ${rows.length} rows, the checked pass ${rowsSeen(q)}"
        GraftSession.sweepPersisted(spark)
        js.foreach { j =>
          val s = j.get(s"ext.$q")
          val tm = s.taskMillis.toSeq
          layers ++= Map(s"ext.$q.wall_s" -> wall, s"ext.$q.executor_cpu_s" -> s.cpuNanos / 1e9,
            s"ext.$q.jobs" -> s.jobs.toDouble, s"ext.$q.shuffle_bytes" -> s.shuffleBytes.toDouble,
            s"ext.$q.spill_bytes" -> s.spillBytes.toDouble,
            s"ext.$q.task_skew" -> (if (tm.isEmpty) 0.0 else tm.max / math.max(1.0, Stats.median(tm))),
            s"ext.$q.planning_ms" -> planning)
        }
        (wall, rows.length.toLong)
      }
      val cpu = window.cpuSeconds
      js.foreach { j =>
        layers += "graftcache.pins" -> Queries.map(q => j.get(s"ext.$q").persisted.size).sum.toDouble
        spark.sparkContext.removeSparkListener(j)
      }
      layers ++= window.layers
      Pass(perQuery.map(_._1).sum, cpu, perQuery.map(_._2).sum, perQuery.map(_._1 * 1000),
        layers.toMap, problems.toSeq)
    }

    def phase(traced: Boolean): Phase = {
      val passes = (0 until CurationPasses).map(_ => pass(traced))
      Phase(
        Map("setup_s" -> setupS, "run_s" -> median(passes.map(_.wallS)), "cpu_s" -> median(passes.map(_.cpuS)),
          "delivered_per_s" -> median(passes.map(_.rows.toDouble)) / median(passes.map(_.wallS)),
          "deliver_p50_ms" -> median(passes.map(p => Stats.median(p.queryMs))),
          "deliver_p99_ms" -> median(passes.map(p => Stats.percentile(p.queryMs, 99)))),
        if (traced) passes.last.layers else Map.empty,
        passes.size.toLong * Queries.size, passes.count(_.problems.nonEmpty).toLong,
        passes.flatMap(_.problems),
        Map("passes" -> passes.size.toString, "rows" -> rowsSeen.toSeq.sorted.mkString(","),
          "pass_run_s" -> passes.map(p => f"${p.wallS}%.3f").mkString(" ")))
    }

    measure(ctx)(phase)
  }
}
