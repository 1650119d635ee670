package graft.streaming

import graft.{SparkSpec, Tables}
import graft.model.EventView
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PublisherSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def synth = {
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 100)
    base.withColumn("attributes",
      when(col("sequence_number") % 4 === 0, col("attributes"))
        .when(col("sequence_number") % 4 === 1,
          map(lit("xvanusowner"), lit("someone")))
        .when(col("sequence_number") % 4 === 2,
          map(lit("xvanusdeliverytime"), lit("2024-01-01T00:00:05+02:00")))
        .otherwise(map(lit("xvanusdeliverytime"), lit("not-a-time"))))
  }

  test("publish validates, stamps xvanuseventbus, reroutes delayed (proxy.go:166-237)") {
    val bus = EventBus(tmp("pbus"))
    val timer = EventBus(tmp("ptimer"))
    val res = Publisher.publish(synth, bus, timer, "bus-main")
    assert(res.accepted == 25 && res.delayed == 25 && res.rejected == 50)

    // direct events stamped with the target bus
    val stamped = bus.read(spark)
      .select(col("attributes").getItem(Publisher.EventbusAttr)).distinct()
    assert(stamped.head.getString(0) == "bus-main")

    // delayed events keep their delivery time AND carry the bus stamp, so
    // the timer release can route them home (proxy.go:199-229)
    val t = timer.read(spark).select(col("attributes")).head.getMap[String, String](0)
    assert(t(Publisher.EventbusAttr) == "bus-main")
    assert(t(Publisher.DeliveryTimeAttr) == "2024-01-01T00:00:05+02:00")
  }

  test("publish scans its input once (persist-on-entry, merged counts)") {
    // instrument the source with a per-partition accumulator BELOW the
    // persist point: every re-evaluation of the source adds one per
    // partition, cached reads add zero
    val acc = spark.sparkContext.longAccumulator("publisher-src-scans")
    val instrumented = synth.coalesce(1).mapPartitions { it =>
      acc.add(1); it
    }(org.apache.spark.sql.Encoders.row(synth.schema))
    val res = Publisher.publish(instrumented,
      EventBus(tmp("pbus1")), EventBus(tmp("ptimer1")), "bus-main")
    assert(res.accepted == 25 && res.delayed == 25 && res.rejected == 50)
    assert(acc.value == 1L,
      s"publish evaluated its source ${acc.value}× — must be exactly once")
  }

  /** Committed parquet data files under a bus root (hidden dirs skipped). */
  private def dataFiles(path: String): Int = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    Files.walk(root).iterator().asScala.count { p =>
      p.toString.endsWith(".parquet") && !root.relativize(p).iterator().asScala
        .exists(s => s.toString.startsWith("_") || s.toString.startsWith("."))
    }
  }

  test("a local publish counts on the driver: one job per append, one file per commit") {
    val rows = synth.collect()
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), synth.schema)
    assert(EventBus.localRows(local).contains(100))
    val (bus, timer) = (EventBus(tmp("lbus")), EventBus(tmp("ltimer")))
    val (res, jobs) = countJobs(Publisher.publish(local, bus, timer, "bus-main"))
    assert(res == Publisher.PublishResult(25, 25, 50))
    // no persist and no counting job: the bus write and the timer write
    assert(jobs == 2, s"local mixed publish ran $jobs jobs, want one per append")
    assert(dataFiles(bus.path) == 1 && dataFiles(timer.path) == 1)

    // same rows, stamps and timer routing as the non-local (persisted) path
    val (bus2, timer2) = (EventBus(tmp("nbus")), EventBus(tmp("ntimer")))
    assert(EventBus.localRows(synth).isEmpty)
    assert(Publisher.publish(synth, bus2, timer2, "bus-main") == res)
    def rowsOf(b: EventBus) =
      b.read(spark).orderBy("sequence_number").collect().toSeq
    assert(rowsOf(bus) == rowsOf(bus2))
    assert(rowsOf(timer) == rowsOf(timer2))
    assert(rowsOf(bus).forall(_.getAs[scala.collection.Map[String, String]](
      "attributes")(Publisher.EventbusAttr) == "bus-main"))

    // a request-sized publish with nothing delayed or rejected: one job
    val accepted = spark.createDataFrame(java.util.Arrays.asList(
      rows.filter(_.getAs[Long]("sequence_number") % 4 == 0): _*), synth.schema)
    val bus3 = EventBus(tmp("abus"))
    val (res3, jobs3) = countJobs(
      Publisher.publish(accepted, bus3, EventBus(tmp("atimer")), "bus-main"))
    assert(res3 == Publisher.PublishResult(25, 0, 0))
    assert(jobs3 == 1, s"local accepted-only publish ran $jobs3 jobs")
    assert(dataFiles(bus3.path) == 1)
  }

  test("null attributes map routes as accepted, not dropped") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Map[String, String]]),
      (2L, Some(Map("custom" -> "v"))))
      .toDF("sequence_number", "attributes")
    val r = Publisher.route(df, "b")
    assert(r.accepted.count() == 2 && r.rejected.count() == 0)
  }

  test("reserved-prefix attributes reject; xvanusdeliverytime itself is allowed") {
    import spark.implicits._
    val df = Seq(
      (1L, Map("xvanusanything" -> "v")),
      (2L, Map("xvanusdeliverytime" -> "2024-01-01T00:00:05Z")),
      (3L, Map("custom" -> "v"))).toDF("sequence_number", "attributes")
    val bad = df.filter(Publisher.hasInvalidAttr || Publisher.hasInvalidDeliveryTime)
      .select("sequence_number").as[Long].collect().toSet
    assert(bad == Set(1L))
  }
}
