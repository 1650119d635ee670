package graft.streaming

import graft.{SparkSpec, Tables}
import graft.model.EventView
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The r17 append-safety seams: the per-path append lock (one lock per
  * DIRECTORY, however the path is spelled — the FileOutputCommitter's
  * shared `_temporary` staging loses files under concurrent same-dir
  * commits) and the boundary probe's partition-scheme independence (r18:
  * footer-stats-exact for ANY scheme — a lexicographic-max directory
  * need not hold the max sequence, so no directory pruning is trusted).
  * The footer cases run on LEGACY buses: history written raw (no
  * manifest), then the first `bus.append` backfills the manifest from
  * one footer walk over the committed files.
  */
class EventBusLockSpec extends SparkSpec {

  test("appendLock: one lock per directory across path spellings") {
    val dir = Files.createTempDirectory("lockid").toString
    assert(EventBus.appendLock(dir) eq EventBus.appendLock(dir + "/"),
      "trailing-slash spelling must share the lock")
    assert(EventBus.appendLock(dir) eq
      EventBus.appendLock(dir + "/sub/.."),
      "normalized spelling must share the lock")
  }

  test("concurrent appends to one bus lose nothing") {
    val bus = EventBus(Files.createTempDirectory("lockcc").toString)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 64)
    // 8 threads x 4 disjoint slices each, all racing the same directory;
    // with the per-path lock every commit lands whole
    val slices = (0 until 32).map(i =>
      base.filter(col("sequence_number") % 32 === i))
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 4).foreach { j =>
        bus.append(slices(t * 4 + j))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(bus.read(spark).count() == base.count(),
      "every concurrently-appended row must survive commit")
    assert(bus.read(spark).select("sequence_number").distinct().count()
      == base.count())
  }

  test("footer probe ignores files staged under a hidden directory") {
    // a mid-commit (or crashed) append leaves parts under the
    // committer's `_temporary`: complete-but-uncommitted files must not
    // OVERSHOOT the backfilled high-water mark (a stream offset would
    // then sit above sequences that commit later, skipping them), and a
    // garbled staged footer must not poison the manifest
    val dir = Files.createTempDirectory("busstg").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    // raw-written legacy history
    base.filter(col("sequence_number") < 40)
      .write.mode("append").parquet(dir)
    // stage a COMPLETE part carrying much higher sequences where a
    // crashed commit would leave it
    val stage = Files.createTempDirectory("busstg2").toString
    base.filter(col("sequence_number") >= 100 && col("sequence_number") < 120)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val tmpDir = Files.createDirectories(
      java.nio.file.Paths.get(dir, "_temporary", "0"))
    Files.copy(part.toPath, tmpDir.resolve(part.getName))
    // the first append backfills the manifest from the committed files
    bus.append(base.filter(col("sequence_number") >= 40 &&
      col("sequence_number") < 50))
    assert(EventBus.manifestLatest(spark, dir).exists(l =>
      l.trusted && l.hasMax && l.max == 49L),
      "the backfill must not count the staged part")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 49L,
      "staged parts must not overshoot the boundary")
    assert(bus.readAboveSequence(spark, 49L)
      .filter(col("sequence_number") > 49L).count() == 0L,
      "delta reads must not surface staged parts")
  }

  test("maxSequenceFrame: exact under partition schemes where directory " +
      "order contradicts sequence order") {
    val dir = Files.createTempDirectory("busnp").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    // partitioned by bus NAME: the lexicographically greatest directory
    // ("z-bus") holds the LOWEST sequences — any directory pruning here
    // would answer the wrong max; the footer-stats probe doesn't care
    bus.appendPartitioned(base.filter(col("sequence_number") < 20)
      .withColumn("bus", lit("z-bus")), "bus")
    bus.appendPartitioned(base.filter(col("sequence_number") >= 20)
      .withColumn("bus", lit("a-bus")), "bus")
    val expected = bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0)
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == expected,
      "directory order must not influence the probe")
    // numeric date-SHAPED but non-ISO values too
    val dir2 = Files.createTempDirectory("busnp2").toString
    val bus2 = EventBus(dir2)
    bus2.appendPartitioned(base.filter(col("sequence_number") < 20)
      .withColumn("d", lit("9")), "d")
    bus2.appendPartitioned(base.filter(col("sequence_number") >= 20)
      .withColumn("d", lit("10")), "d")
    assert(bus2.maxSequenceFrame(spark).head.getLong(0) ==
      bus2.read(spark).agg(max(col("sequence_number"))).head.getLong(0))
  }

  test("footer probe: concurrent cold reads (driver pool) stay exact on a many-file bus") {
    // the backfill of a legacy bus reads every committed footer through
    // the bounded driver pool — the path a manifestless bus takes on its
    // first append. An 80-file raw history makes the fan-out real.
    val dir = Files.createTempDirectory("buspool").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    base.filter(col("sequence_number") < 80).repartition(80, col("id"))
      .write.mode("append").parquet(dir)
    assert(bus.read(spark).inputFiles.length >= 40,
      "need a many-file history to exercise the pool")
    bus.append(base.filter(col("sequence_number") >= 80 &&
      col("sequence_number") < 90))
    val expected = bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0)
    assert(EventBus.manifestLatest(spark, dir).exists(l =>
      l.trusted && l.hasMax && l.max == expected),
      "the backfilled manifest must certify the exact max")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == expected)
    assert(bus.readAboveSequence(spark, expected)
      .filter(col("sequence_number") > expected).count() == 0L)
    // a mid-history boundary surfaces exactly the tail, legacy rows too
    assert(bus.readAboveSequence(spark, 39L)
      .filter(col("sequence_number") > 39L).count() ==
      bus.read(spark).filter(col("sequence_number") > 39L).count())
  }

  test("bus walk survives a symlinked directory cycle") {
    // ADVICE r18: the recursive walk blew the thread stack on a symlink
    // cycle — StackOverflowError is an Error, so the probe CRASHED
    // instead of degrading. The iterative walk skips already-visited
    // canonical directories: it terminates, and the probe stays exact.
    val dir = Files.createTempDirectory("buscycle").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    bus.append(base)
    // expected BEFORE the cycle exists: Spark's own recursive file index
    // (bus.read) has no cycle guard — only OUR walk is under test here
    val expected = bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0)
    val sub = Files.createDirectories(java.nio.file.Paths.get(dir, "loopdir"))
    Files.createSymbolicLink(sub.resolve("back"),
      java.nio.file.Paths.get(dir))
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == expected,
      "a directory cycle must neither crash nor distort the probe")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = EventBus.listCommittedFiles(
      fs, new org.apache.hadoop.fs.Path(dir))
    assert(listed.map(_.getPath.getName).distinct.size == listed.size,
      "the cycle must not double-list any file")
  }

  test("untrusted footer stats degrade the probe to the data aggregate — slower, never wrong") {
    // the load-bearing degrade: a committed file whose sequence_number
    // stats are MISSING (here: written with statistics disabled) must
    // make the backfilled manifest untrusted — the probe computes from
    // DATA and still finds that file's sequences. A refactor that
    // skipped untrusted files instead would answer the trusted-footer
    // max (39 here) and silently lose the catch-up rows above it.
    val dir = Files.createTempDirectory("busnostat").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    // raw-written legacy history
    base.filter(col("sequence_number") < 40)
      .write.mode("append").parquet(dir)
    // a stats-less int64 part, committed (not hidden), holding the true max
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { required int64 sequence_number; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-nostats-0.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema)
      .withStatisticsEnabled(false)
      .build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    (100L to 110L).foreach { s =>
      w.write(gf.newGroup().append("sequence_number", s))
    }
    w.close()
    // the first (empty) append backfills the manifest
    bus.append(base.filter(lit(false)))
    assert(EventBus.manifestLatest(spark, dir).exists(!_.trusted),
      "a stats-less file must make the manifest untrusted, not be skipped")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 110L,
      "the probe must fall back to the data aggregate and find the true max")
    // delta reads fall back to the whole bus
    assert(bus.readAboveSequence(spark, 39L)
      .filter(col("sequence_number") > 39L).count() == 11L,
      "rows above the trusted-footer max must still be served")
  }
}
