package graft.streaming

import graft.{SparkSpec, Tables}
import graft.model.EventView
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The r19 bus commit manifest (VERDICT r18 #1): boundary probes answer
  * from the atomically-advanced LATEST pointer (O(1), no directory
  * listing), delta reads select files from records past the boundary
  * (O(new commits)), a manifestless or untrusted bus answers from data,
  * and a crashed append's dangling record replays
  * deterministically. The reference's per-entry vsb index
  * (server/store/vsb/index/index.go:56-61, block_seek.go:45-86) is the
  * semantic ancestor, re-expressed at parquet-file granularity.
  */
class BusManifestSpec extends SparkSpec {

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("manifested appends: O(1) boundary, delta reads select only new commits") {
    val dir = Files.createTempDirectory("mfroundtrip").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 60)
    bus.append(base.filter(col("sequence_number") < 20).repartition(2))
    bus.append(base.filter(col("sequence_number") >= 20 &&
      col("sequence_number") < 40).repartition(2))
    val oldFiles = bus.read(spark).inputFiles.toSet
    bus.append(base.filter(col("sequence_number") >= 40).repartition(2))
    val expected = bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0)
    // manifest pointer current and trusted
    val latest = EventBus.manifestLatest(spark, dir)
    assert(latest.exists(l => l.trusted && l.id == 3 && l.hasMax &&
      l.max == expected), s"LATEST must certify 3 commits: $latest")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == expected)
    // delta read: only commit 3's files
    val delta = bus.readAboveSequence(spark, 39L)
      .filter(col("sequence_number") > 39L)
    assert(delta.inputFiles.nonEmpty &&
      delta.inputFiles.forall(f => !oldFiles.contains(f)),
      "delta read must select only files from records past the boundary")
    assert(delta.count() ==
      base.filter(col("sequence_number") >= 40).count())
    // nothing above the global max: an EMPTY relation, zero scanned files
    val above = bus.readAboveSequence(spark, expected)
      .filter(col("sequence_number") > expected)
    assert(above.count() == 0L)
    assert(above.inputFiles.isEmpty,
      "nothing-above-the-boundary must not scan any bus file")
    // rows survive byte-identical to a raw read
    assert(bus.read(spark).count() == base.count())
  }

  test("partitioned manifested appends keep partition columns and prune exactly") {
    val dir = Files.createTempDirectory("mfpart").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    bus.appendPartitioned(base.filter(col("sequence_number") < 20)
      .withColumn("date", lit("2024-05-02")), "date")
    // out-of-order event date on the LATER append — the unsound-date-
    // pruning regression shape, now answered from the manifest
    bus.appendPartitioned(base.filter(col("sequence_number") >= 20)
      .withColumn("date", lit("2024-04-30")), "date")
    val expected = bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0)
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == expected)
    val delta = bus.readAboveSequence(spark, 19L)
      .filter(col("sequence_number") > 19L)
    assert(delta.count() == base.filter(col("sequence_number") >= 20).count())
    // partition column present and correct through the basePath read
    assert(delta.select(col("date").cast("string")).distinct().collect()
      .map(_.getString(0)).toSet == Set("2024-04-30"))
  }

  test("a crashed append's dangling record replays: files land, LATEST advances") {
    val dir = Files.createTempDirectory("mfcrash").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    bus.append(base.filter(col("sequence_number") < 40))
    // hand-build commit 2 exactly as a crash between record-write and
    // file-move leaves it: files staged under the hidden dir, record
    // written, LATEST still at 1
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val stagingName = BusManifest.stagingName(2L)
    val scratch = Files.createTempDirectory("mfcrash2").toString
    base.filter(col("sequence_number") >= 100 && col("sequence_number") < 111)
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val stagedRel = part.getName
    val stagingDir = new org.apache.hadoop.fs.Path(root, stagingName)
    fs.mkdirs(stagingDir)
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(part.toString),
      new org.apache.hadoop.fs.Path(stagingDir, stagedRel))
    BusManifest.writeRecord(fs, root, BusManifest.Record(
      2L, Some(stagingName), trusted = true, hasMax = true, max = 110L,
      Seq(BusManifest.FileEntry(stagedRel, hasMax = true, max = 110L))))
    // pre-replay: data readers can't see the staged rows (hidden dir)
    assert(bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0) == 39L)
    // the next probe replays: LATEST advances, the file is committed,
    // staging is gone, the boundary includes the replayed rows
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 110L,
      "replay must surface the crashed commit's rows")
    assert(!fs.exists(stagingDir), "replay must clear the staging dir")
    assert(EventBus.manifestLatest(spark, dir)
      .exists(l => l.id == 2 && l.trusted))
    assert(bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0) == 110L, "the replayed file must be committed data")
    assert(bus.readAboveSequence(spark, 39L)
      .filter(col("sequence_number") > 39L).count() == 11L)
  }

  test("legacy bus: first manifested append backfills the existing files") {
    val dir = Files.createTempDirectory("mflegacy").toString
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    // pre-manifest history written raw (an r18-or-earlier bus)
    base.filter(col("sequence_number") < 30).repartition(3)
      .write.mode("append").parquet(dir)
    val bus = EventBus(dir)
    bus.append(base.filter(col("sequence_number") >= 30 &&
      col("sequence_number") < 45))
    val expected = bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0)
    val latest = EventBus.manifestLatest(spark, dir)
    assert(latest.exists(l => l.trusted && l.id == 2),
      s"backfill record + append record expected: $latest")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == expected)
    // legacy rows are first-class: a delta read over the backfill
    // boundary serves them
    assert(bus.readAboveSequence(spark, 9L)
      .filter(col("sequence_number") > 9L).count() ==
      base.filter(col("sequence_number") > 9 &&
        col("sequence_number") < 45).count())
  }

  test("torn manifest degrades to the data aggregate; the next append rebuilds") {
    val dir = Files.createTempDirectory("mftorn").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    bus.append(base.filter(col("sequence_number") < 40))
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    // tear LATEST (crash mid-write of a non-atomic writer / disk garbage)
    val out = fs.create(BusManifest.latestPath(root), true)
    try out.write("graft-bus-manifest-latest v1\nid".getBytes("UTF-8"))
    finally out.close()
    // probes degrade to the data aggregate — exact, never wrong
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 39L,
      "a torn manifest must fall back, not crash or mis-answer")
    assert(bus.readAboveSequence(spark, 20L)
      .filter(col("sequence_number") > 20L).count() ==
      base.filter(col("sequence_number") > 20 &&
        col("sequence_number") < 40).count())
    // the next append rebuilds a trusted manifest from the disk truth
    bus.append(base.filter(col("sequence_number") >= 40 &&
      col("sequence_number") < 50))
    val latest = EventBus.manifestLatest(spark, dir)
    assert(latest.exists(l => l.trusted && l.hasMax && l.max == 49L),
      s"rebuild after torn manifest must re-certify: $latest")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 49L)
  }

  test("record round-trip survives URL-hostile partition values") {
    val dir = Files.createTempDirectory("mfenc").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 20)
    bus.appendPartitioned(base.withColumn("k", lit("a b%2F+&#")), "k")
    val expected = bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0)
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == expected)
    val delta = bus.readAboveSequence(spark, 5L)
      .filter(col("sequence_number") > 5L)
    assert(delta.count() == base.filter(col("sequence_number") > 5).count(),
      "encoded rel paths must decode to readable files")
  }

  test("compact: fewer files, identical rows, exact probes, appendable rebuilt manifest") {
    val dir = Files.createTempDirectory("mfcompact").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 80)
    // micro-batch-shaped history: 8 commits, several files each
    (0 until 8).foreach { i =>
      bus.append(base.filter(col("sequence_number") >= i * 10 &&
        col("sequence_number") < (i + 1) * 10).repartition(3))
    }
    val before = bus.read(spark).inputFiles.length
    assert(before > 10, s"need a fragmented bus (got $before files)")
    bus.compact(spark, 2)
    val after = bus.read(spark).inputFiles.length
    assert(after < before && after <= 4,
      s"compaction must shrink the file set ($before -> $after)")
    // rows byte-identical, probes exact, manifest rebuilt trusted
    assert(bus.read(spark).count() == base.count())
    assert(bus.read(spark).select("sequence_number").distinct().count()
      == base.count(), "no duplicate rows may survive the swap")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 79L)
    assert(EventBus.manifestLatest(spark, dir).exists(l =>
      l.trusted && l.hasMax && l.max == 79L))
    // the rebuilt manifest accepts appends and delta-reads exactly
    val compacted = bus.read(spark).inputFiles.toSet
    bus.append(EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") >= 80 && col("sequence_number") < 90))
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 89L)
    val delta = bus.readAboveSequence(spark, 79L)
      .filter(col("sequence_number") > 79L)
    assert(delta.count() == 10L)
    assert(delta.inputFiles.nonEmpty &&
      delta.inputFiles.forall(f => !compacted.contains(f)),
      "post-compact delta must not re-read the compacted history")
  }

  test("a crashed compaction swap heals at the next probe — duplicates at worst, never loss") {
    val dir = Files.createTempDirectory("mfcompcrash").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 60)
    (0 until 3).foreach { i =>
      bus.append(base.filter(col("sequence_number") >= i * 20 &&
        col("sequence_number") < (i + 1) * 20).repartition(2))
    }
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    // stage a complete compacted set + intent, then "crash" before any
    // move/delete (the worst window: everything still to do)
    val stagingName = ".graft-compact-crashtest"
    base.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(root, stagingName).toString)
    val qRoot = fs.makeQualified(root).toUri.getPath
    val olds = EventBus.listCommittedFiles(fs, root).map { st =>
      st.getPath.toUri.getPath.substring(qRoot.length + 1)
    }
    BusManifest.writeIntent(fs, root,
      BusManifest.CompactIntent(stagingName, olds))
    // next probe heals the whole swap: old files gone, compacted rows
    // only, manifest rebuilt, marker dropped
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 59L)
    assert(!fs.exists(BusManifest.intentPath(root)), "marker must drop")
    assert(bus.read(spark).count() == base.count(),
      "healed bus must hold exactly the compacted rows")
    assert(bus.read(spark).select("sequence_number").distinct().count()
      == base.count())
    assert(bus.read(spark).inputFiles.length == 1)
    assert(EventBus.manifestLatest(spark, dir).exists(l =>
      l.trusted && l.hasMax && l.max == 59L))
  }

  test("checkpoint fold bounds the record chain: Earliest walk reads <= K+1 records, dir stays <= K+2 files") {
    val dir = Files.createTempDirectory("mfckpt").toString
    val bus = EventBus(dir)
    val k = 8
    val prior = spark.conf.getOption("graft.bus.manifest.checkpointInterval")
    spark.conf.set("graft.bus.manifest.checkpointInterval", k.toString)
    try {
      val appends = 20
      (0 until appends).foreach { i =>
        bus.append(spark.range(i.toLong * 10, (i + 1).toLong * 10)
          .select(col("id").as("sequence_number")))
      }
      val fs = fsOf(dir)
      val root = new org.apache.hadoop.fs.Path(dir)
      // the chain is folded: LATEST points at a checkpoint, the folded
      // commit records are gone, the dir is bounded by the interval
      val latest = EventBus.manifestLatest(spark, dir)
      assert(latest.exists(l => l.trusted && l.id == appends && l.ckpt == 16),
        s"20 appends at K=8 must fold at 8 then 16: $latest")
      val manifestFiles = fs.listStatus(BusManifest.dir(root))
        .map(_.getPath.getName).toSeq
      assert(manifestFiles.size <= k + 2,
        s"manifest dir must stay bounded, got $manifestFiles")
      assert(!manifestFiles.exists(_ == f"commit-${8L}%016d"),
        "folded commit records must be swept")
      assert(manifestFiles.contains(f"ckpt-${16L}%016d"))
      // Earliest read: <= K+1 record-file reads, full coverage
      BusManifest.recordReads.set(0L)
      val all = bus.readAboveSequence(spark, Long.MinValue)
      assert(all.count() == appends * 10L)
      assert(BusManifest.recordReads.get() <= k + 1,
        s"Earliest walk read ${BusManifest.recordReads.get()} records; " +
          s"the checkpoint bounds it at ${k + 1}")
      // probes and delta reads stay exact across the fold boundary
      assert(bus.maxSequenceFrame(spark).head.getLong(0) == appends * 10L - 1)
      assert(bus.readAboveSequence(spark, 54L)
        .filter(col("sequence_number") > 54L).count() == appends * 10L - 55L)
      // a read entirely below the checkpoint still serves (the fold keeps
      // per-file maxima, it does not lose history)
      assert(bus.readAboveSequence(spark, 3L)
        .filter(col("sequence_number") > 3L && col("sequence_number") < 20L)
        .count() == 16L)
    } finally prior match {
      case Some(v) =>
        spark.conf.set("graft.bus.manifest.checkpointInterval", v)
      case None =>
        spark.conf.unset("graft.bus.manifest.checkpointInterval")
    }
  }

  test("compactPartitionDirs: only the hot directory rewrites; cold partitions stay byte-identical") {
    val dir = Files.createTempDirectory("mfcompdir").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 70)
    // hot date: 6 commits of 2 files; cold date: one 2-file commit
    (0 until 6).foreach { i =>
      bus.appendPartitioned(base.filter(col("sequence_number") >= i * 10 &&
        col("sequence_number") < (i + 1) * 10)
        .withColumn("d", lit("2024-05-01")).repartition(2), "d")
    }
    bus.appendPartitioned(base.filter(col("sequence_number") >= 60)
      .withColumn("d", lit("2024-05-02")).repartition(2), "d")
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    def snapshot(date: String): Set[(String, Long, Long)] =
      EventBus.listCommittedFiles(fs, root)
        .filter(_.getPath.toString.contains(s"d=$date"))
        .map(st => (st.getPath.toString, st.getLen,
          st.getModificationTime)).toSet
    val coldBefore = snapshot("2024-05-02")
    val hotBefore = snapshot("2024-05-01")
    assert(hotBefore.size == 12 && coldBefore.size == 2)
    val rewritten = bus.compactPartitionDirs(spark, maxFilesPerDir = 4,
      targetFilesPerDir = 2)
    assert(rewritten == 1, s"only the hot directory is over threshold")
    assert(snapshot("2024-05-02") == coldBefore,
      "cold partition files must be byte-identical (path, len, mtime)")
    assert(snapshot("2024-05-01").size == 2)
    // rows identical, probes exact, manifest trusted and appendable
    assert(bus.read(spark).count() == base.count())
    assert(bus.read(spark).select("sequence_number").distinct().count()
      == base.count())
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 69L)
    assert(EventBus.manifestLatest(spark, dir).exists(_.trusted))
    assert(bus.read(spark).filter(col("d") === "2024-05-01").count() == 60L)
    bus.appendPartitioned(
      EventView.fromEventsTable(Tables.events(spark, sf))
        .filter(col("sequence_number") >= 70 &&
          col("sequence_number") < 80)
        .withColumn("d", lit("2024-05-03")), "d")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 79L)
    assert(bus.readAboveSequence(spark, 69L)
      .filter(col("sequence_number") > 69L).count() == 10L)
  }

  test("irrecoverable manifest: staged partial-commit files are QUARANTINED, not swept") {
    val dir = Files.createTempDirectory("mfquar").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    bus.append(base.filter(col("sequence_number") < 30))
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    // a crashed append's staging dir with a real staged file, plus a
    // GARBLED record for it — current() throws, the manifest is
    // irrecoverable, and the staged data is the partial commit ADVICE
    // r19 says must not vanish with the ordinary orphan sweep
    val stagingName = BusManifest.stagingName(2L)
    val stagingDir = new org.apache.hadoop.fs.Path(root, stagingName)
    fs.mkdirs(stagingDir)
    val out1 = fs.create(new org.apache.hadoop.fs.Path(stagingDir,
      "part-quar.parquet"), true)
    try out1.write("staged-bytes".getBytes("UTF-8")) finally out1.close()
    val out2 = fs.create(BusManifest.recordPath(root, 2L), true)
    try out2.write("garbage not a record".getBytes("UTF-8"))
    finally out2.close()
    // next append rebuilds from disk truth and quarantines the staging
    bus.append(base.filter(col("sequence_number") >= 30 &&
      col("sequence_number") < 40))
    assert(!fs.exists(stagingDir), "staging dir must be moved away")
    val quarantined = fs.listStatus(root)
      .filter(_.getPath.getName.startsWith(".graft-quarantine-"))
    assert(quarantined.length == 1, "the partial commit must survive")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      quarantined.head.getPath, "part-quar.parquet")))
    // the bus itself healed: trusted manifest over the disk truth
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 39L)
    assert(EventBus.manifestLatest(spark, dir).exists(_.trusted))
    assert(bus.read(spark).count() == 40L)
    // an ORDINARY orphan (no irrecoverable manifest) — a crash before
    // the record leaves the NEXT id's staging name — is overwritten by
    // the next append's staged write, never committed
    val nextStaging = new org.apache.hadoop.fs.Path(root,
      BusManifest.stagingName(EventBus.manifestLatest(spark, dir).get.id + 1))
    fs.mkdirs(nextStaging)
    val out3 = fs.create(new org.apache.hadoop.fs.Path(nextStaging,
      "part-orphan.parquet"), true)
    try out3.write("staged-bytes".getBytes("UTF-8")) finally out3.close()
    bus.append(base.filter(col("sequence_number") >= 40 &&
      col("sequence_number") < 45))
    assert(!fs.exists(nextStaging), "plain orphans still go")
    assert(bus.read(spark).count() == 45L)
    assert(fs.listStatus(root)
      .count(_.getPath.getName.startsWith(".graft-quarantine-")) == 1)
  }

  /** A synthetic stream checkpoint in Spark's on-disk layout whose
    * batches 0..n-1 committed the bus offsets `offsets` (one source).
    */
  private def writeOffsetCk(name: String, offsets: Seq[Long]): String = {
    val ck = Files.createTempDirectory(name).toString
    Files.createDirectories(java.nio.file.Paths.get(ck, "commits"))
    Files.createDirectories(java.nio.file.Paths.get(ck, "offsets"))
    offsets.zipWithIndex.foreach { case (o, b) =>
      Files.writeString(java.nio.file.Paths.get(ck, "offsets", b.toString),
        s"""v1\n{"batchWatermarkMs":0,"batchTimestampMs":1}\n$o""")
      Files.writeString(
        java.nio.file.Paths.get(ck, "commits", b.toString), "v1\n{}")
    }
    ck
  }

  test("compactBelow: the intersection over checkpoints bounds the swap — the slowest stream wins") {
    val dir = Files.createTempDirectory("mfbelow").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 80)
    val fs = fsOf(dir)
    // 4 commits of 2 files
    (0 until 4).foreach { i =>
      bus.append(base.filter(col("sequence_number") >= i * 20 &&
        col("sequence_number") < (i + 1) * 20).repartition(2))
    }
    val root = new org.apache.hadoop.fs.Path(dir)
    def stats(pred: Long => Boolean) = EventBus.listCommittedFiles(fs, root)
      .filter { st =>
        val mx = spark.read.parquet(st.getPath.toString)
          .agg(max(col("sequence_number"))).head.getLong(0)
        pred(mx)
      }
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .toSet
    // stream A committed all 4 commits, stream B (the slow one) only the
    // first 2 (offset 39); an uncommitted planned batch stays out
    val ckA = writeOffsetCk("mfbelowA", Seq(19L, 79L))
    val ckB = writeOffsetCk("mfbelowB", Seq(19L, 39L))
    Files.writeString(java.nio.file.Paths.get(ckB, "offsets", "2"),
      "v1\n{}\n79")
    val tailStats = stats(_ > 39L)
    val headBefore = stats(_ <= 39L)
    assert(tailStats.size == 4 && headBefore.size == 4)
    // only the 4 files at or below BOTH streams' committed offsets
    // compact; the tail is byte-identical (serve-while-compacting)
    assert(bus.compactBelow(spark, 1, Seq(ckA, ckB)) == 4)
    assert(stats(_ > 39L) == tailStats,
      "files above B's committed offset must be untouched")
    assert(stats(_ <= 39L).size == 1, "4 committed files -> 1 output")
    assert(bus.read(spark).count() == base.count())
    assert(bus.read(spark).select("sequence_number").distinct().count()
      == base.count())
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 79L)
    // a checkpoint with NO commits forbids everything
    val ckEmpty = Files.createTempDirectory("mfbelowE").toString
    assert(bus.compactBelow(spark, 1, Seq(ckA, ckEmpty)) == 0)
    // a checkpoint whose committed offset is not a bus offset (Spark's
    // file source wrote it) is refused, never read as "nothing"
    val ckFile = writeOffsetCk("mfbelowF", Seq.empty)
    Files.writeString(java.nio.file.Paths.get(ckFile, "offsets", "0"),
      "v1\n{}\n{\"logOffset\":0}")
    Files.writeString(java.nio.file.Paths.get(ckFile, "commits", "0"),
      "v1\n{}")
    val e = intercept[IllegalStateException](
      bus.compactBelow(spark, 1, Seq(ckA, ckFile)))
    assert(e.getMessage.contains("not a bus sequence offset"), e.getMessage)
  }

  test("compact derives partition columns from the layout — no silent flattening") {
    val dir = Files.createTempDirectory("mfderive").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 60)
    (0 until 3).foreach { i =>
      bus.appendPartitioned(base.filter(col("sequence_number") >= i * 20 &&
        col("sequence_number") < (i + 1) * 20)
        .withColumn("d", lit(if (i == 2) "2024-05-02" else "2024-05-01"))
        .repartition(3), "d")
    }
    // NO partitionCols passed: pre-r20 this flattened d= directories
    // into root files and the next appendPartitioned produced a mixed
    // tree (ADVICE r19)
    bus.compact(spark, 2)
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val rels = EventBus.listCommittedFiles(fs, root).map { st =>
      st.getPath.toUri.getPath }
    assert(rels.forall(_.contains("/d=")),
      s"compaction must keep the partition layout: $rels")
    assert(bus.read(spark).count() == base.count())
    assert(bus.read(spark).filter(col("d") === "2024-05-02").count() == 20L)
    // the layout stays appendPartitioned-compatible
    bus.appendPartitioned(EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") >= 60 && col("sequence_number") < 70)
      .withColumn("d", lit("2024-05-03")), "d")
    assert(bus.read(spark).count() == 70L)
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 69L)
  }

  test("compactPartitionDirs on an UNPARTITIONED bus compacts the root directory") {
    val dir = Files.createTempDirectory("mfrootdir").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    (0 until 4).foreach { i =>
      bus.append(base.filter(col("sequence_number") >= i * 10 &&
        col("sequence_number") < (i + 1) * 10).repartition(2))
    }
    assert(bus.read(spark).inputFiles.length == 8)
    assert(bus.compactPartitionDirs(spark, maxFilesPerDir = 4,
      targetFilesPerDir = 2) == 1)
    assert(bus.read(spark).inputFiles.length == 2)
    assert(bus.read(spark).count() == base.count())
    assert(bus.read(spark).select("sequence_number").distinct().count()
      == base.count())
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 39L)
  }

  test("record/LATEST wire format round-trips arbitrary rel paths, maxima, and the ckpt pointer") {
    // (records also carry an optional commit min; a record written
    // without the line reads back as unknown — the legacy case below)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def forAll[A](g: Gen[A], n: Int)(f: A => Unit): Unit =
      (1 to n).foreach(i =>
        f(g.pureApply(Gen.Parameters.default, Seed(i.toLong))))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val root = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("mfprop").toString)
    fs.mkdirs(BusManifest.dir(root))
    // rel paths with every URL-hostile shape a partitioned layout can
    // produce: spaces, %, +, &, #, =, unicode, nested dirs, newlines
    val seg: Gen[String] = Gen.oneOf(
      Gen.identifier,
      Gen.oneOf("a b", "x%2F", "p+q", "k=v&w", "#frag", "émoji≈",
        "nl\nline", "tab\tsep", "d=2024-05-01"))
    val rel: Gen[String] =
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, seg).map(_.mkString("/")))
    val entry: Gen[BusManifest.FileEntry] = for {
      r <- rel
      hm <- Gen.oneOf(true, false)
      mx <- Gen.choose(Long.MinValue + 1, Long.MaxValue)
    } yield BusManifest.FileEntry(r, hm, if (hm) mx else Long.MinValue)
    val record: Gen[BusManifest.Record] = for {
      id <- Gen.choose(1L, 1000000L)
      st <- Gen.option(Gen.identifier.map("." + _))
      tr <- Gen.oneOf(true, false)
      hm <- Gen.oneOf(true, false)
      mx <- Gen.choose(-1000000L, Long.MaxValue)
      es <- Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, entry))
      mn <- Gen.option(Gen.choose(Long.MinValue, Long.MaxValue))
    } yield BusManifest.Record(id, st, tr, hm,
      if (hm) mx else Long.MinValue, es, mn)
    forAll(record, 150) { r =>
      BusManifest.writeRecord(fs, root, r)
      val back = BusManifest.readRecord(fs, root, r.id)
      assert(back.contains(r), s"record must round-trip: $r vs $back")
    }
    val latest: Gen[BusManifest.Latest] = for {
      id <- Gen.choose(0L, 1000000L)
      tr <- Gen.oneOf(true, false)
      hm <- Gen.oneOf(true, false)
      mx <- Gen.choose(-1000000L, Long.MaxValue)
      ck <- Gen.choose(0L, 1000000L)
    } yield BusManifest.Latest(id, tr, hm,
      if (hm) mx else Long.MinValue, ck)
    forAll(latest, 150) { l =>
      BusManifest.writeLatest(fs, root, l)
      assert(BusManifest.readLatest(fs, root).contains(l))
    }
  }

  test("compactPartitionDirs batches multiple hot dirs under ONE swap; cold stays byte-identical") {
    val dir = Files.createTempDirectory("mfbatchdir").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 70)
    // three hot dates (3 commits of 2 files each) + one cold date
    (0 until 3).foreach { d =>
      (0 until 3).foreach { i =>
        val lo = d * 20 + i * 6
        bus.appendPartitioned(base.filter(col("sequence_number") >= lo &&
          col("sequence_number") < lo + 6)
          .withColumn("d", lit(s"2024-06-0${d + 1}")).repartition(2), "d")
      }
    }
    bus.appendPartitioned(base.filter(col("sequence_number") >= 60)
      .withColumn("d", lit("2024-06-09")).repartition(2), "d")
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    def snapshot(date: String): Set[(String, Long, Long)] =
      EventBus.listCommittedFiles(fs, root)
        .filter(_.getPath.toString.contains(s"d=$date"))
        .map(st => (st.getPath.toString, st.getLen,
          st.getModificationTime)).toSet
    val coldBefore = snapshot("2024-06-09")
    assert((1 to 3).forall(d => snapshot(s"2024-06-0$d").size == 6))
    val rows = bus.read(spark).count()
    val swapsBefore = EventBus.compactSwaps.get()
    val rewritten = bus.compactPartitionDirs(spark, maxFilesPerDir = 4,
      targetFilesPerDir = 1)
    assert(rewritten == 3, s"all three hot dirs rewrite: $rewritten")
    assert(EventBus.compactSwaps.get() - swapsBefore == 1L,
      "the whole batch must swap under ONE intent marker, not one per dir")
    assert(snapshot("2024-06-09") == coldBefore,
      "cold partition files must be byte-identical (path, len, mtime)")
    assert((1 to 3).forall(d => snapshot(s"2024-06-0$d").size == 1))
    assert(bus.read(spark).count() == rows)
    assert(bus.read(spark).select("sequence_number").distinct().count()
      == rows)
    assert(EventBus.manifestLatest(spark, dir).exists(_.trusted))
    // still appendable after the batched swap
    bus.appendPartitioned(
      EventView.fromEventsTable(Tables.events(spark, sf))
        .filter(col("sequence_number") >= 70 &&
          col("sequence_number") < 75).withColumn("d", lit("2024-06-10")),
      "d")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 74L)
  }

  test("compactBelow refuses a committed set that mixes flat-root and partitioned layouts") {
    val dir = Files.createTempDirectory("mfmixed").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40)
    // legacy flat append, then a partitioned conversion
    bus.append(base.filter(col("sequence_number") < 20).repartition(2))
    bus.appendPartitioned(base.filter(col("sequence_number") >= 20)
      .withColumn("d", lit("2024-07-01")).repartition(2), "d")
    // a checkpoint that committed EVERYTHING (both layouts)
    val ck = writeOffsetCk("mfmixedck", Seq(39L))
    val before = EventBus.listCommittedFiles(fsOf(dir),
      new org.apache.hadoop.fs.Path(dir))
      .map(st => (st.getPath.toString, st.getLen,
        st.getModificationTime)).toSet
    val e = intercept[java.io.IOException] {
      bus.compactBelow(spark, 1, Seq(ck))
    }
    assert(e.getMessage.contains("mixed partition layouts"))
    // nothing was swapped: every file of both layouts is byte-identical
    assert(EventBus.listCommittedFiles(fsOf(dir),
      new org.apache.hadoop.fs.Path(dir))
      .map(st => (st.getPath.toString, st.getLen,
        st.getModificationTime)).toSet == before)
  }

  test("orphaned .graft-compact-* staging (crash before intent) sweeps at the next append/compaction") {
    val dir = Files.createTempDirectory("mforphan").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 20)
    bus.append(base.repartition(2))
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    // a compaction that crashed after staging, before its intent marker,
    // and an append staging dir no record references
    val orphans = Seq(".graft-compact-deadbeef-crashed",
      BusManifest.stagingName(7L)).map(new org.apache.hadoop.fs.Path(root, _))
    orphans.foreach { o =>
      fs.mkdirs(o)
      val out = fs.create(new org.apache.hadoop.fs.Path(o,
        "part-stale.parquet"), true)
      try out.write("staged-bytes".getBytes("UTF-8")) finally out.close()
    }
    bus.append(base.withColumn("sequence_number",
      col("sequence_number") + 20).repartition(2))
    // appends never list the root; the next compaction sweeps both
    bus.compact(spark, 1)
    orphans.foreach(o => assert(!fs.exists(o),
      s"compaction must sweep orphaned staging $o (ADVICE r20)"))
    assert(bus.read(spark).count() == 40L)
  }

  test("compact replays a crashed append's dangling record first: its committed rows survive the swap") {
    val dir = Files.createTempDirectory("mfcompdangle").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
    (0 until 3).foreach { i =>
      bus.append(base.filter(col("sequence_number") >= i * 10 &&
        col("sequence_number") < (i + 1) * 10))
    }
    // commit 4 as a crash between record-write and file-move leaves it:
    // record written, file still staged, LATEST at 3
    val fs = fsOf(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val stagingName = BusManifest.stagingName(4L)
    val scratch = Files.createTempDirectory("mfcompdangle2").toString
    base.filter(col("sequence_number") >= 100 && col("sequence_number") < 111)
      .coalesce(1).write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val stagingDir = new org.apache.hadoop.fs.Path(root, stagingName)
    fs.mkdirs(stagingDir)
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(part.toString),
      new org.apache.hadoop.fs.Path(stagingDir, part.getName))
    BusManifest.writeRecord(fs, root, BusManifest.Record(
      4L, Some(stagingName), trusted = true, hasMax = true, max = 110L,
      Seq(BusManifest.FileEntry(part.getName, hasMax = true, max = 110L))))
    bus.compact(spark, 1)
    assert(bus.read(spark).count() == 41L,
      "the dangling commit's rows must be replayed, not dropped with the manifest")
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 110L)
    assert(!fs.exists(stagingDir))
  }

  test("appends never list the bus root: only the first backfill does") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    val local = Files.createTempDirectory("mfcount").toString
    val dir = "countfs://" + local
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 40).collect()
    val schema = EventView.fromEventsTable(Tables.events(spark, sf)).schema
    def slice(i: Int) = spark.createDataFrame(
      java.util.Arrays.asList(base.filter { r =>
        val q = r.getLong(0); q >= i * 10 && q < (i + 1) * 10 }: _*), schema)
    def rootListings: Int =
      Option(CountingLocalFs.listed.get(local)).map(_.intValue).getOrElse(0)
    bus.append(slice(0))
    val afterFirst = rootListings
    (1 until 4).foreach(i => bus.append(slice(i)))
    assert(rootListings == afterFirst,
      s"appends 2-4 listed the bus root ${rootListings - afterFirst} times")
    assert(bus.read(spark).count() == 40L)
    assert(bus.maxSequenceFrame(spark).head.getLong(0) == 39L)
  }
}

/** The local file system under a test-only `countfs` scheme, counting
  * `listStatus` calls per path — how a spec sees which directories an
  * operation lists.
  */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def listStatus(
      f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFs.listed.merge(f.toUri.getPath, 1, (a, b) => a + b)
    super.listStatus(f)
  }
}
object CountingLocalFs {
  val listed = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
