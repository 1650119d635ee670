package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** The loopback sink receiver: the HTTP endpoint the program's `HttpSink`
  * delivers to, living in the benchmark process.
  *
  * It answers each event from `answer(id, attempt)` (attempt counts this
  * receiver's earlier calls for the id, from 1), records the arrival time
  * of every accepted event, keeps the bodies of a sampled subset for
  * spot checks, and counts requests and busy time.
  */
final class Receiver(threads: Int, answer: (String, Int) => Int,
    keepBody: String => Boolean, tracer: Tracer) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newFixedThreadPool(threads)
  /** id → arrival times (System.nanoTime) of accepted deliveries. */
  val accepted = new ConcurrentHashMap[String, java.util.List[java.lang.Long]]()
  /** id → number of calls seen, accepted or not. */
  private val calls = new ConcurrentHashMap[String, AtomicInteger]()
  val bodies = new ConcurrentHashMap[String, String]()
  val requests = new AtomicLong()
  val events = new AtomicLong()
  val non2xx = new AtomicLong()
  val busyNanos = new AtomicLong()

  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val span = tracer.begin("sinks.receive")
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val id = ex.getRequestHeaders.getFirst("ce-id")
      val code = answer(id, calls.computeIfAbsent(id, _ => new AtomicInteger()).incrementAndGet())
      val now = System.nanoTime()
      if (code >= 200 && code < 300) {
        accepted.computeIfAbsent(id, _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[java.lang.Long](1))).add(now)
        if (keepBody(id)) bodies.put(id, body)
      } else non2xx.incrementAndGet()
      requests.incrementAndGet()
      events.incrementAndGet()
      ex.sendResponseHeaders(code, -1)
    } finally {
      ex.close()
      busyNanos.addAndGet(System.nanoTime() - t0)
      tracer.end(span)
    }
  })
  server.setExecutor(pool)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  /** Requests, events, busy nanoseconds and non-2xx answers so far. */
  def counters: Seq[Long] = Seq(requests.get, events.get, busyNanos.get, non2xx.get)

  /** Arrival time of each accepted id's first delivery. */
  def firstArrivals: Map[String, Long] =
    accepted.asScala.iterator.map { case (id, ts) => id -> ts.asScala.map(_.longValue).min }.toMap

  /** Ids accepted more than once. */
  def duplicates: Seq[String] =
    accepted.asScala.iterator.collect { case (id, ts) if ts.size > 1 => id }.toSeq

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    ()
  }
}
