package graft.streaming

import graft.{SparkSpec, Tables}
import graft.model.EventView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** [[BusSource]]: the bus streamed by sequence offset. Progress counts
  * the rows each batch read, compaction never puts a row back into a
  * range, a checkpoint of another source is refused, an out-of-order
  * commit fails the query by name, and AvailableNow stops at the offset
  * it saw at start.
  */
class BusSourceSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def slice(lo: Long, hi: Long): DataFrame =
    EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") >= lo && col("sequence_number") < hi)

  /** Start a stream over `bus` that records every sequence number it is
    * handed; `onBatch` runs after each batch is recorded.
    */
  private def start(bus: EventBus, ckpt: String, trigger: Trigger,
      seen: java.util.Queue[Long], onBatch: Long => Unit = _ => ()) =
    bus.readStream(spark).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.select("sequence_number").collect()
          .foreach(r => seen.add(r.getLong(0)))
        onBatch(id)
      }.start()

  /** One AvailableNow run on `ckpt`: the sequence numbers it delivered. */
  private def drain(bus: EventBus, ckpt: String): Seq[Long] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = start(bus, ckpt, Trigger.AvailableNow(), seen)
    try assert(q.awaitTermination(60000)) finally q.stop()
    seen.asScala.toSeq.sorted
  }

  test("numInputRows in each progress equals the rows the batch read") {
    val bus = EventBus(tmp("bsrows"))
    val read = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    bus.append(slice(0, 15).repartition(2))
    val q = bus.readStream(spark).writeStream
      .option("checkpointLocation", tmp("bsrowsck"))
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .foreachBatch { (b: DataFrame, id: Long) =>
        read.put(id, b.count()); ()
      }.start()
    try {
      q.processAllAvailable()
      bus.append(slice(15, 22))
      q.processAllAvailable()
      bus.append(slice(22, 40).repartition(3))
      bus.append(slice(40, 41))
      q.processAllAvailable()
      val progress = q.recentProgress.filter(_.numInputRows > 0)
        .map(p => p.batchId -> p.numInputRows).toMap
      assert(progress.size >= 3, s"one progress per batch: $progress")
      assert(progress == read.asScala.toMap,
        s"progress $progress vs batches read ${read.asScala}")
      assert(progress.values.sum == 41L)
    } finally q.stop()
  }

  test("a stopped stream resumed after a plain compact sees zero re-deliveries") {
    val bus = EventBus(tmp("bsplain"))
    val ckpt = tmp("bsplainck")
    (0 until 6).foreach(i =>
      bus.append(slice(i * 10L, (i + 1) * 10L).repartition(2)))
    assert(drain(bus, ckpt) == (0L until 60L))
    // no checkpoint list: compaction keeps sequence numbers, and the
    // resumed stream's range starts above its committed offset
    bus.compact(spark, 2)
    assert(bus.read(spark).inputFiles.length == 2)
    bus.append(slice(60, 70).repartition(2))
    assert(drain(bus, ckpt) == (60L until 70L))
  }

  test("a checkpoint written by Spark's file source is refused, never re-read from zero") {
    val bus = EventBus(tmp("bsfile"))
    val ckpt = tmp("bsfileck")
    bus.append(slice(0, 20))
    val old = spark.readStream.schema(EventView.schema).parquet(bus.path)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    try assert(old.awaitTermination(60000)) finally old.stop()
    bus.append(slice(20, 30))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = start(bus, ckpt, Trigger.AvailableNow(), seen)
    val e = intercept[StreamingQueryException] {
      try q.awaitTermination(60000) finally q.stop()
    }
    assert(e.getCause.getMessage.contains("not a bus sequence offset"),
      e.getCause.getMessage)
    assert(seen.isEmpty, s"nothing may be delivered: ${seen.asScala}")
  }

  test("a commit at or below an offset already handed out fails the query by name") {
    // the out-of-order commit lands plainly, and as the append that folds
    // the manifest record chain (interval 2): the fold keeps the newest
    // commit record, so the source still reads its min
    Seq(Seq.empty, Seq("graft.bus.manifest.checkpointInterval" -> "2"))
      .foreach { conf => withSQLConf(conf: _*) {
        val bus = EventBus(tmp("bsorder"))
        val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        bus.append(slice(0, 10))
        val q = start(bus, tmp("bsorderck"),
          Trigger.ProcessingTime("100 milliseconds"), seen)
        try {
          q.processAllAvailable()
          bus.append(slice(20, 30))
          q.processAllAvailable()
          bus.append(slice(30, 40))
          q.processAllAvailable()
          // two publishers' ranges committed out of order across a
          // trigger: rows 10-19 are below the offset (39) already handed
          // out
          bus.append(slice(10, 20))
          val e = intercept[StreamingQueryException](q.processAllAvailable())
          assert(e.getCause.isInstanceOf[BusSource.NonMonotoneCommit],
            s"$conf: ${e.getCause}")
          assert(seen.asScala.toSeq.sorted ==
            (0L until 10L) ++ (20L until 40L))
        } finally q.stop()
      } }
  }

  test("Trigger.AvailableNow stops at the offset seen at start") {
    val bus = EventBus(tmp("bsnow"))
    val ckpt = tmp("bsnowck")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    bus.append(slice(0, 10))
    // the first batch appends more rows: they are past the offset the
    // run fixed at start, so this run must not pick them up
    val q = start(bus, ckpt, Trigger.AvailableNow(), seen,
      id => if (id == 0) bus.append(slice(10, 20)))
    try assert(q.awaitTermination(60000)) finally q.stop()
    assert(seen.asScala.toSeq.sorted == (0L until 10L))
    assert(drain(bus, ckpt) == (10L until 20L))
  }
}
