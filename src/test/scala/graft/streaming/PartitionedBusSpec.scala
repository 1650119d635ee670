package graft.streaming

import graft.{SparkSpec, Tables}
import graft.model.EventView
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The 100 TB bus layout ([[EventBus.appendPartitioned]]) must stay
  * transparent to every reader: the streaming source reads through the
  * fixed CE schema (the date partition column is extra metadata, not
  * payload), batch readers see the partition column as an ordinary
  * column, and the high-water-mark probe is exact whatever the day
  * (PlanSpec pins that plan). This spec pins the delivery path.
  */
class PartitionedBusSpec extends SparkSpec {
  test("a date-partitioned bus streams through the full delivery path") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("pbus").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    bus.appendPartitioned(base.filter(col("sequence_number") < 20)
      .withColumn("date", lit("2024-05-01")), "date")
    bus.appendPartitioned(base.filter(col("sequence_number") >= 20)
      .withColumn("date", lit("2024-05-02")), "date")
    PartProbe.got.clear()
    val spec = SubscriptionRunner.Spec(Seq.empty, None,
      SubscriptionRunner.Config("sub-part"))
    val q = SubscriptionRunner.start(spark, bus, spec,
      { d => PartProbe.got.add(d.id); Right(()) }, None, None,
      Files.createTempDirectory("pbusck").toString)
    try q.awaitTermination(60000)
    finally if (q.isActive) q.stop()
    assert(PartProbe.got.asScala.toSet ==
      base.select("id").collect().map(_.getString(0)).toSet)
  }

  test("compact refuses a bus that mixes flat-root and partitioned files, touching nothing") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("pbusmixed").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    // legacy flat appends, then a partitioned conversion
    bus.append(base.filter(col("sequence_number") < 20).repartition(2))
    bus.appendPartitioned(base.filter(col("sequence_number") >= 20)
      .withColumn("date", lit("2024-05-01")).repartition(2), "date")
    // every file and directory under the bus, the manifest's included
    def tree(): Set[(String, Long, Long)] = {
      val w = Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala.map(p => (p.toString,
        if (Files.isDirectory(p)) -1L else Files.size(p),
        Files.getLastModifiedTime(p).toMillis)).toSet
      finally w.close()
    }
    val manifestBefore = EventBus.manifestLatest(spark, dir)
    assert(manifestBefore.nonEmpty)
    val before = tree()
    val e = intercept[java.io.IOException](bus.compact(spark, 1))
    assert(e.getMessage.contains("mixed partition layouts"), e.getMessage)
    assert(tree() == before)
    assert(EventBus.manifestLatest(spark, dir) == manifestBefore)
  }
}
object PartProbe {
  val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
