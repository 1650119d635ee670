package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are System.nanoTime. `parent` is -1 for a
  * root span.
  */
final case class Span(id: Long, name: String, parent: Long, start: Long, end: Long) {
  def module: String = name.takeWhile(_ != '.')
  def nanos: Long = end - start
}

/** Spans recorded by the benchmark around its calls into the program.
  *
  * Spans are held in memory and written when the run ends. A disabled
  * tracer records nothing and costs one branch per call. The parent of a
  * span opened on a thread with no open span is the `ambient` span: the
  * receiver's request spans hang under whatever call the benchmark is
  * waiting on.
  */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long, Long)]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile var ambient: Long = -1L

  def begin(name: String): Long =
    if (!enabled) -1L
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(ambient)
      open.put(id, (name, parent, System.nanoTime()))
      stack.set(id :: stack.get)
      id
    }

  def end(id: Long): Unit = if (enabled && id > 0) {
    val (name, parent, start) = open.remove(id)
    done.add(Span(id, name, parent, start, System.nanoTime()))
    stack.set(stack.get.filterNot(_ == id))
  }

  def span[T](name: String)(body: => T): T = {
    val id = begin(name)
    try body finally end(id)
  }

  /** A span whose times were measured elsewhere (streaming progress). */
  def record(name: String, parent: Long, start: Long, end: Long): Long =
    if (!enabled) -1L
    else {
      val id = ids.incrementAndGet()
      done.add(Span(id, name, parent, start, end))
      id
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  /** Self time of every module, in seconds: each span's duration minus
    * the part of it its children cover. Receiver spans that hang under a
    * streaming phase are first moved under the trigger span whose
    * `addBatch` interval contains them.
    */
  def selfSeconds: Map[String, Double] = {
    val all = reparent(spans)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.module).map { case (m, ss) =>
      m -> ss.map(s => s.nanos - covered(s, kids.getOrElse(s.id, Nil))).sum / 1e9
    }
  }

  private def reparent(ss: Seq[Span]): Seq[Span] = {
    val batches = ss.filter(_.name == "runner.add_batch")
    if (batches.isEmpty) ss
    else ss.map { s =>
      if (s.name != "sinks.receive") s
      else batches.find(b => b.start <= s.start && s.start < b.end)
        .map(b => s.copy(parent = b.id)).getOrElse(s)
    }
  }

  /** Length of the union of `kids` clipped to `s`. */
  private def covered(s: Span, kids: Seq[Span]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val sb = new StringBuilder("[\n")
    sb.append(spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000}}"""
    }.mkString(",\n"))
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
    ()
  }
}

/** Per job-group totals from Spark's task metrics. */
final class Scope {
  var jobs = 0L
  var tasks = 0L
  var cpuNanos = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskMillis = mutable.ArrayBuffer.empty[Double]
  val persisted = mutable.Set.empty[Int]
}

/** SparkListener that totals jobs, tasks, executor CPU, shuffle and spill
  * per job group, and per streaming query for jobs the query runs. Only
  * registered in traced runs.
  */
final class JobStats extends SparkListener {
  val scopes = new java.util.concurrent.ConcurrentHashMap[String, Scope]()
  private val stageScope = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def scope(key: String): Scope = scopes.computeIfAbsent(key, _ => new Scope)

  private def keyOf(props: java.util.Properties): String =
    if (props == null) "none"
    else Option(props.getProperty("sql.streaming.queryId")).map(_ => "stream")
      .orElse(Option(props.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    val sc = scope(k)
    sc.synchronized {
      sc.jobs += 1
      e.stageInfos.foreach { st =>
        stageScope.put(st.stageId, k)
        st.rddInfos.filter(_.storageLevel.isValid).foreach(r => sc.persisted += r.id)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = stageScope.getOrDefault(e.stageId, "none")
    val sc = scope(k)
    val m = e.taskMetrics
    sc.synchronized {
      sc.tasks += 1
      sc.taskMillis += e.taskInfo.duration.toDouble
      if (m != null) {
        sc.cpuNanos += m.executorCpuTime
        sc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        sc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def get(key: String): Scope = Option(scopes.get(key)).getOrElse(new Scope)
}

/** Trigger progress of the streaming query: input rows always (the
  * backlog check needs them), per-phase durations when traced.
  */
final class Progress(tracer: Tracer) extends StreamingQueryListener {
  val rows = new AtomicLong()
  val batches = new AtomicLong()
  val durations = new ConcurrentLinkedQueue[(Long, java.util.Map[String, java.lang.Long], Long)]()
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      rows.addAndGet(p.numInputRows)
      batches.incrementAndGet()
      durations.add((java.time.Instant.parse(p.timestamp).toEpochMilli, p.durationMs, p.numInputRows))
      if (tracer.enabled) {
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + epochToNano
        val root = tracer.record("trigger.execution", -1L, start, start + ms("triggerExecution") * 1000000L)
        var t = start
        Seq("latestOffset" -> "trigger.latest_offset", "getBatch" -> "trigger.get_batch",
          "queryPlanning" -> "trigger.query_planning", "addBatch" -> "runner.add_batch",
          "walCommit" -> "trigger.wal_commit").foreach { case (k, name) =>
          val len = ms(k) * 1000000L
          tracer.record(name, root, t, t + len)
          t += len
        }
      }
    }
  }
}

/** JVM-wide counters read at phase boundaries. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos: Long = os.getProcessCpuTime

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def resetPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Register the listeners a traced run needs; returns them. */
  def listen(sc: SparkContext): JobStats = {
    val js = new JobStats
    sc.addSparkListener(js)
    js
  }
}
