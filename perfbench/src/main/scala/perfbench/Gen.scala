package perfbench

import graft.model.EventView
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Seeded input generation and the benchmark's own, independent model of
  * what the program should do with those inputs.
  *
  * Every field of an event is a pure function of (seed, sequence number),
  * so any subset of events can be regenerated in any order, and the same
  * seed always gives the same events. The expected filter verdicts, the
  * expected transformer output and the receiver's status schedule are
  * written here in plain Scala; none of them calls the program.
  */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of one long. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Hash of a tuple of longs, order-sensitive. */
  def mixAll(xs: Long*): Long = xs.foldLeft(0x5DEECE66DL)((h, x) => mix(h ^ x))

  /** Uniform double in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  /** Stream of draws for one event: draw k is independent of the others. */
  final class Draws(seed: Long, seq: Long) {
    private var k = 0L
    def next(): Long = { k += 1; mixAll(seed, seq, k) }
    def below(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
    def uniform(): Double = unit(next())
  }

  val Types: Vector[(String, Double)] = Vector(
    "order.created" -> 0.25, "order.paid" -> 0.25,
    "page.view" -> 0.35, "user.signup" -> 0.15)
  val Regions: Vector[String] = Vector("eu", "us", "apac", "latam")
  val Tiers: Vector[String] = Vector("free", "basic", "gold", "platinum")
  val Words: Vector[String] = Vector(
    "alpha", "bravo", "cargo", "delta", "ember", "flask", "gamma", "harbor",
    "ivory", "jasper", "kayak", "lunar", "maple", "nadir", "orbit", "plaza",
    "quartz", "raven", "sable", "tango", "umbra", "vapor", "walnut", "xenon",
    "yarrow", "zephyr")
  val Users = 5000
  /** Event time of sequence 0; later events are 1 ms apart. */
  val BaseTimeMs = 1767225600000L // 2026-01-01T00:00:00Z

  /** One generated CloudEvent. `data` is its JSON body. */
  final case class Ev(seq: Long, id: String, source: String, etype: String,
      userId: Int, amount: Int, region: String, tier: String, note: String) {
    def data: String =
      s"""{"amount":$amount,"region":"$region","tier":"$tier","note":"$note"}"""
  }

  def event(seed: Long, seq: Long): Ev = {
    val d = new Draws(seed, seq)
    val u = d.uniform()
    val etype = Types.iterator.scanLeft(("", 0.0)) { case ((_, acc), (t, w)) => (t, acc + w) }
      .drop(1).find(_._2 > u).map(_._1).getOrElse(Types.last._1)
    val userId = 1 + d.below(Users)
    val amount = d.below(100)
    val region = Regions(d.below(Regions.size))
    val tier = Tiers(d.below(Tiers.size))
    // body size spread: the word count is log-uniform over [2, 160], so
    // bodies run from ~60 bytes to ~1 KB with most of them small
    val nWords = math.exp(math.log(2) + d.uniform() * (math.log(160) - math.log(2))).toInt
    val note = Iterator.fill(nWords)(Words(d.below(Words.size))).mkString(" ")
    Ev(seq, s"e$seed-$seq", s"/bench/shop/${userId % 8}", etype, userId,
      amount, region, tier, note)
  }

  def events(seed: Long, from: Long, n: Int): Vector[Ev] =
    Vector.tabulate(n)(i => event(seed, from + i))

  /** The events as a frame of the program's event schema. */
  def frame(spark: SparkSession, evs: Seq[Ev]): DataFrame = {
    val rows = evs.map { e =>
      Row(e.seq, e.id, e.source, "1.0", e.etype, null,
        new java.sql.Timestamp(BaseTimeMs + e.seq), null, "application/json",
        Map("xuserid" -> e.userId.toString), e.data)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), EventView.schema)
  }

  // ---- the delivery subscriptions and their independent models ----------

  /** `steady_delivery` filter (CESQL) and its plain-Scala verdict. */
  val SteadyFilterSql = "type IN ('order.created', 'order.paid')"
  def steadyPasses(e: Ev): Boolean = e.etype == "order.created" || e.etype == "order.paid"

  /** `steady_delivery` transformer: two actions, no template. */
  val SteadyTransform: String =
    """{"pipeline":[["upper_case","$.data.region"],["create","$.data.via","bench"]]}"""
  def steadyBody(e: Ev): String =
    s"""{"amount":${e.amount},"region":"${e.region.toUpperCase}","tier":"${e.tier}",""" +
      s""""note":"${e.note}","via":"bench"}"""

  /** The failure-path probe's filter (CEL) and its plain-Scala verdict. */
  val DrainFilterCel = "$amount.(int64) >= 50"
  def drainPasses(e: Ev): Boolean = e.amount >= 50

  /** Ten actions and a JSON template. */
  val DrainTransform: String =
    """{"define":{"uid":"$.xuserid","src":"$.source"},
      |"pipeline":[
      |["create","$.data.user","<uid>"],
      |["create","$.data.origin","<src>"],
      |["upper_case","$.data.region"],
      |["add_prefix","$.data.region","R-"],
      |["rename","$.data.amount","$.data.cents"],
      |["duplicate","$.data.tier","$.data.level"],
      |["capitalize_word","$.data.level"],
      |["replace_string","$.data.note","a","4"],
      |["add_suffix","$.data.user","@bench"],
      |["delete","$.data.tier"]],
      |"template":"{\"user\":\"<$.data.user>\",\"region\":\"<$.data.region>\",\"cents\":<$.data.cents>,\"level\":\"<$.data.level>\",\"origin\":\"<$.data.origin>\",\"note\":\"<$.data.note>\"}"}"""
      .stripMargin.replace("\n", "")
  def drainBody(e: Ev): String =
    s"""{"user":"${e.userId}@bench","region":"R-${e.region.toUpperCase}",""" +
      s""""cents":${e.amount},"level":"${e.tier.capitalize}",""" +
      s""""origin":"${e.source}","note":"${e.note.replace("a", "4")}"}"""

  // ---- the failure-path receiver schedule ------------------------------

  val Ok = 200
  val Unavailable = 503
  val BadRequest = 400
  /** Retry cap configured on the failure-path subscription. */
  val MaxRetryAttempts = 2

  /** The receiver's answer to delivery attempt `attempt` (1-based) of the
    * event numbered `seq`: a pure function of (seed, seq, attempt). About
    * a third of first attempts are refused as retryable, a shrinking
    * share of later ones, and a few are refused permanently.
    */
  def status(seed: Long, seq: Long, attempt: Int): Int = {
    val u = unit(mixAll(seed, seq, attempt.toLong, 0x7E7A7L))
    val p503 = attempt match { case 1 => 0.35; case 2 => 0.3; case _ => 0.25 }
    if (u < 0.05) BadRequest
    else if (u < 0.05 + p503) Unavailable
    else Ok
  }

  /** Where the schedule sends an event in the end: `Some(n)` = delivered
    * on attempt n, `None` = dead-lettered (a permanent refusal, or a
    * retryable one past the retry cap).
    */
  def outcome(seed: Long, seq: Long, maxAttempts: Int = MaxRetryAttempts): Option[Int] = {
    var a = 1
    while (a <= maxAttempts + 1) {
      status(seed, seq, a) match {
        case Ok => return Some(a)
        case BadRequest => return None
        case _ => a += 1
      }
    }
    None
  }

  /** Number of the event an id names (ids are `e<seed>-<seq>`). */
  def seqOf(id: String): Long = id.substring(id.lastIndexOf('-') + 1).toLong
}
