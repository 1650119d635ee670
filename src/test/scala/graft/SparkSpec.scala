package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs — one lazy SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it started from this thread (its
    * job group). A sentinel job in a second group closes the count: the
    * listener bus is FIFO, so once the sentinel's start event arrives,
    * every job `body` started has been counted.
    */
  def countJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(g) if g == group + "-end" => closed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "sentinel", interruptOnCancel = false)
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(closed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job never reached the listener")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` with the given SQL confs set, restoring prior values after. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
