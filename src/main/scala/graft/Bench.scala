package graft
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashSet}

/** Benchmark main. Two modes:
  *
  *  - COORDINATOR (default): forks one child JVM per chunk of
  *    `SPARK_GRAFT_CHUNK` queries (default 12, 0 disables chunking) and
  *    merges the chunks' results into the single stdout JSON line the
  *    driver parses. One long-lived 125-query session degrades 3–7×
  *    per-query (r8/r9: JIT code-cache churn, metaspace growth from
  *    generated-class loaders, listener backlog — each fix moved the
  *    inflation, none killed it), so the published numbers were artifacts
  *    of session AGE, not plan cost. Process chunking measures every query
  *    within its first few minutes of JVM life — the same state the
  *    clean-session A/B reruns used — trading ~15 s of untimed startup per
  *    chunk for honest numerators. A real deployment runs one query per
  *    driver anyway; the single-session bench was the unrealistic shape.
  *  - CHILD (`SPARK_GRAFT_CHILD=1`): the original in-process loop over
  *    `SPARK_GRAFT_ONLY`, reporting per-query rows as TSV to
  *    `SPARK_GRAFT_OUT` instead of printing the merged JSON line.
  *
  * Every query records process-CPU seconds, GC time and system load
  * alongside wall time, so a reader of the detail artifact can tell a
  * plan cost (cpu ≈ busy threads × wall) from a wait (wall ≫ cpu). The
  * published numbers are exactly what the chunks measured, and the bench
  * reads no earlier artifact. Comparing two runs is
  * `tools/compare_bench_runs.py`'s job (two detail artifacts) or
  * `perfbench/compare.py`'s (the gated benchmark).
  *
  * A standalone run with `SPARK_GRAFT_ONLY` set (the documented one-query
  * iteration loop) or `SPARK_GRAFT_CHUNK=0` behaves exactly as before:
  * single process, budgeted JSON line on stdout.
  */
object Bench {

  /** One timed run: wall seconds, process-CPU seconds across all threads
    * (-1 if the platform bean is unavailable), GC-time delta, 1-min system
    * load average immediately before/after. cpu ≫ wall on a busy 32-thread
    * stage; wall ≫ cpu means the process was waiting, not computing.
    */
  private case class Meas(wall: Double, cpu: Double, gcMs: Long,
      load0: Double, load1: Double)

  private case class ScaleRow(tag: String, factor: Int, name: String,
      ratio: Double, sec: Double, base: Double, cpu: Double,
      baseCpu: Double)

  /** One probe histogram bucket: (tag, query, log2_width, n_groups,
    * max_width, uncapped_pairs, capped_pairs).
    */
  private type HistRow = (String, String, Int, Long, Long, Long, Long)

  /** Every scale-section tag, in artifact order: 10× fresh-documents, 26×
    * capped ops, 100× headline capped ops, and the 10× FRESH-EVENTS stream
    * tier (r15 VERDICT #2: the duplicate-heavy events corpus only measured
    * one regime).
    */
  private[graft] val ScaleTags = Seq("scale", "scale26", "scale100", "scaleF")

  private val osBean: Option[com.sun.management.OperatingSystemMXBean] =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
  private def cpuNanos: Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)
  private def gcTotalMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Untimed diagnostics for the hamming-probe queries: the
    * (blockBy, block, value) group-width histograms
    * ([[graft.ext.Dedup.probeGroupHistogram]]) that land in the round's
    * `bench_detail_r<N>.json`, so a superlinear-looking scale ratio can be
    * attributed — demanded pair growth (corpus degeneracy) vs engine
    * growth vs the cap engaging. Keys match `SparkEntry.queries` names and
    * mirror those queries' probe parameters exactly.
    */
  private[graft] val probeHistograms: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import graft.ext.{Dedup, Multimodal}
    import org.apache.spark.sql.functions.{coalesce, col, concat, concat_ws, expr, lit, split, when}
    Map(
      "dedup_phash_neardup" -> ((s: SparkSession, d: String) =>
        Dedup.probeGroupHistogram(
          Multimodal.imagePhash(
            Multimodal.bmpMediaFromDocuments(Tables.documents(s, d))),
          "phash", maxDist = 2, bits = 56, maxBlock = 256,
          blockBy = Seq("width", "height"))),
      "dedup_audio_neardup" -> ((s: SparkSession, d: String) =>
        Dedup.probeGroupHistogram(
          Multimodal.audioFingerprint(
            Multimodal.wavMediaFromDocuments(Tables.documents(s, d))),
          "afp", maxDist = 2, bits = 56, maxBlock = 256,
          blockBy = Seq("n_bits", "sample_rate", "channels"))),
      // the audio CURATION pass's internal probe (r12 VERDICT #6): same
      // cohorts as dedup_audio_neardup but over the curation query's exact
      // pair input — every-53rd container truncated to 8 bytes (the
      // corrupt arm) and undecodable/zero-evidence rows filtered out —
      // so pipeline_audio_curation's scale ratio can be attributed to
      // demanded-pair growth the same way the plain audio probe's is
      "pipeline_audio_curation" -> ((s: SparkSession, d: String) =>
        Dedup.probeGroupHistogram(
          Multimodal.audioFingerprint(
            Multimodal.wavMediaFromDocuments(Tables.documents(s, d))
              .withColumn("content",
                when(col("media_id") % 53 === 0,
                  expr("substring(content, 1, 8)"))
                  .otherwise(col("content"))))
            .filter(col("n_bits") > 0),
          "afp", maxDist = 2, bits = 56, maxBlock = 256,
          blockBy = Seq("n_bits", "sample_rate", "channels"))),
      "dedup_video_neardup" -> ((s: SparkSession, d: String) =>
        Dedup.probeGroupHistogram(
          Multimodal.videoFingerprint(
            Multimodal.mp4MediaFromDocuments(Tables.documents(s, d))),
          "vfp", maxDist = 2, bits = 56, maxBlock = 256,
          blockBy = Seq("n_bits"))),
      "dedup_keyframe_clips" -> ((s: SparkSession, d: String) =>
        Dedup.probeGroupHistogram(
          Multimodal.keyframeHashes(
            Multimodal.mp4FrameMediaFromDocuments(Tables.documents(s, d))),
          "phash", maxDist = 2, bits = 56, maxBlock = 256,
          blockBy = Seq("width", "height"))),
      "dedup_simhash_neardup" -> ((s: SparkSession, d: String) =>
        Dedup.probeGroupHistogram(
          Dedup.simhash(Tables.documents(s, d), 32, Seq("lang")),
          "simhash", maxDist = 2, bits = 32, maxBlock = 2000,
          blockBy = Seq("lang"))),
      // dedup_ngram_jaccard's blocked pair space (r13 VERDICT #4): widths
      // of the (lang, source, len_bucket) blocks and the MinK maxBlock cap's
      // engagement — the non-hamming member of the 100x headline set.
      // maxBlock = 200 mirrors the QUERY's cap (ExtQueries jaccardQ), not
      // ngramJaccardPairs' 1000 default — the instrument must see the cap
      // engage exactly where the query's does
      "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) =>
        Dedup.blockGroupHistogram(
          Tables.documents(s, d).select(col("lang"), col("source"),
            org.apache.spark.sql.functions.floor(col("n_chars") / 100.0)
              .cast("int").as("len_bucket")),
          Seq("lang", "source", "len_bucket"), maxBlock = 200)),
      // the STREAMING near-dup ingest's state attribution (r13 VERDICT
      // #3): its (type, block, value) groups hold the DISTINCT SimHash
      // fingerprints seen — state size and probe cost are both linear in
      // group width, so the same group-width histogram the batch probes
      // publish explains its scale ratio. distinct() first because the
      // state stores one entry per distinct fp, not per event; maxBlock
      // mirrors the stage's 2^20 maxState cap (capped == uncapped in the
      // artifact means the cap is inert at this scale — by design)
      "stream_neardup_ingest" -> ((s: SparkSession, d: String) => {
        import graft.streaming.StreamNearDedup
        val fps = Tables.events(s, d).select(
          coalesce(col("event_type"), lit("\u001a")).as("event_type"),
          graft.functions.SimHash(
            split(coalesce(col("props"), lit("\u001a")), " ", -1),
            StreamNearDedup.Bits).as("fp"))
          .distinct()
        Dedup.probeGroupHistogram(fps, "fp",
          maxDist = StreamNearDedup.MaxDist, bits = StreamNearDedup.Bits,
          maxBlock = 1 << 20, blockBy = Seq("event_type"))
      }),
      // the CE-frame near-dup horizon's fingerprint state (r16 VERDICT
      // #4): `Config.neardupHorizon`'s stage keys (type, block, value)
      // over the `data` SimHash — same distinct-fp state law as the
      // events-table form, attributed on ITS OWN input frame
      "stream_neardup_horizon" -> ((s: SparkSession, d: String) => {
        import graft.streaming.StreamNearDedup
        val ce = graft.model.EventView.fromEventsTable(Tables.events(s, d))
        val fps = ce.select(
          coalesce(col("type"), lit("\u001a")).as("ctype"),
          graft.functions.SimHash(
            split(coalesce(col("data"), lit("\u001a")), " ", -1),
            StreamNearDedup.Bits).as("fp"))
          .distinct()
        Dedup.probeGroupHistogram(fps, "fp",
          maxDist = StreamNearDedup.MaxDist, bits = StreamNearDedup.Bits,
          maxBlock = 1 << 20, blockBy = Seq("ctype"))
      }),
      // the composed both-horizons operator's FINGERPRINT state over its
      // exact query input (base arrivals + the %7 republication) — the
      // republished copies carry identical content, so distinct() shows
      // whether fp state stays flat under verbatim copies and grows
      // linearly under the scaleF freshener (r16 VERDICT #4)
      "stream_both_horizons" -> ((s: SparkSession, d: String) => {
        import graft.streaming.StreamNearDedup
        val base = graft.model.EventView.fromEventsTable(Tables.events(s, d))
        // the r18 %11 ALT-SOURCE republication rides along (VERDICT r18
        // #6: the scaleF ratio moved 4.9-5.3 -> 5.8-6.0 when this arm
        // enriched the oracle — the histogram must carry the same
        // arrivals so the growth is provably data, not a plan change):
        // fresh content -> ~9% more distinct fingerprints
        val arrivals = base.unionByName(
          base.filter(col("sequence_number") % 7 === 0)
            .withColumn("sequence_number",
              col("sequence_number") + lit(10000000L)))
          .unionByName(
            base.filter(col("sequence_number") % 11 === 0)
              .withColumn("sequence_number",
                col("sequence_number") + lit(20000000L))
              .withColumn("source", concat(col("source"), lit("-alt")))
              .withColumn("data", concat_ws(" ", lit("altsrc"), col("id"),
                lit("repub"), concat(lit("zz"), col("id")))))
        val fps = arrivals.select(
          coalesce(col("type"), lit("\u001a")).as("ctype"),
          graft.functions.SimHash(
            split(coalesce(col("data"), lit("\u001a")), " ", -1),
            StreamNearDedup.Bits).as("fp"))
          .distinct()
        Dedup.probeGroupHistogram(fps, "fp",
          maxDist = StreamNearDedup.MaxDist, bits = StreamNearDedup.Bits,
          maxBlock = 1 << 20, blockBy = Seq("ctype"))
      }),
      // ... and its EXACT-IDENTITY state: one singleton group per
      // distinct (source, id) in the horizon (the 4th state row per
      // event). Group COUNT grows with the corpus in every regime (ids
      // are always fresh — freshened or not); width stays 1-2 (the %7
      // republication; the %11 alt-source rows are singleton (source,
      // id) groups — the extra-singletons cohort VERDICT r18 #6 asks to
      // see) — n_groups is the state-size law, maxBlock mirrors
      // the stage's maxState cap
      "stream_both_horizons_exact" -> ((s: SparkSession, d: String) => {
        val base = graft.model.EventView.fromEventsTable(Tables.events(s, d))
        val arrivals = base.unionByName(
          base.filter(col("sequence_number") % 7 === 0)
            .withColumn("sequence_number",
              col("sequence_number") + lit(10000000L)))
          .unionByName(
            base.filter(col("sequence_number") % 11 === 0)
              .withColumn("sequence_number",
                col("sequence_number") + lit(20000000L))
              .withColumn("source", concat(col("source"), lit("-alt"))))
        Dedup.blockGroupHistogram(
          arrivals.select(col("source"), col("id")),
          Seq("source", "id"), maxBlock = 1 << 20)
      }),
      // the alt-source identity cohort ISOLATED (VERDICT r18 #6): just
      // the %11 republication's (source, id) groups — all singletons by
      // construction, so n_groups here IS the extra identity-state count
      // the enriched oracle added; read next to
      // stream_both_horizons_exact to attribute the scaleF growth to
      // data, not plan
      "stream_both_horizons_altsrc" -> ((s: SparkSession, d: String) => {
        val base = graft.model.EventView.fromEventsTable(Tables.events(s, d))
        Dedup.blockGroupHistogram(
          base.filter(col("sequence_number") % 11 === 0)
            .withColumn("source", concat(col("source"), lit("-alt")))
            .select(col("source"), col("id")),
          Seq("source", "id"), maxBlock = 1 << 20)
      }))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_CHUNK", "12").toInt
    val child = sys.env.contains("SPARK_GRAFT_CHILD")
    if (!child && only.isEmpty && chunkSize > 0) coordinate(sfDir, chunkSize)
    else runQueries(sfDir, only)
  }

  /** The round number this run is producing artifacts for: env override,
    * else max existing BENCH_r<k>.json + 1 (the round whose BENCH file the
    * driver is about to write).
    */
  private def roundNumber: String =
    sys.env.get("SPARK_GRAFT_ROUND").getOrElse {
      val pat = "BENCH_r(\\d+)\\.json".r
      val existing = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .flatMap(f => pat.findFirstMatchIn(f.getName).map(_.group(1).toInt))
      if (existing.isEmpty) "0" else (existing.max + 1).toString
    }

  /** Fork one child JVM running `graft.Bench` with `env` merged in; child
    * stdout (Spark console noise) goes to a temp log so it cannot pollute
    * the coordinator's stdout JSON line, stderr streams through for
    * progress. Returns (rc, parsed TSV rows from the child's OUT file).
    */
  private def spawnChild(env: Map[String, String], label: String): (Int, Seq[Array[String]]) = {
    import scala.jdk.CollectionConverters._
    val outF = java.nio.file.Files.createTempFile(s"graft_${label}_", ".tsv")
    val logF = java.nio.file.Files.createTempFile(s"graft_${label}_", ".log")
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    // children inherit this JVM's flags (add-opens, heap, code cache);
    // debugger agents would fight over their port
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(o => o.startsWith("-agentlib") || o.startsWith("-javaagent"))
    val pb = new ProcessBuilder(
      (Seq(javaBin) ++ jvmOpts ++ Seq("-cp", cp, "graft.Bench")).asJava)
    pb.environment.put("SPARK_GRAFT_CHILD", "1")
    pb.environment.put("SPARK_GRAFT_OUT", outF.toString)
    env.foreach { case (k, v) => pb.environment.put(k, v) }
    pb.redirectOutput(ProcessBuilder.Redirect.to(logF.toFile))
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val rc = pb.start().waitFor()
    if (rc != 0)
      System.err.println(s"[bench] $label exited rc=$rc (log: $logF)")
    val rows = java.nio.file.Files.readAllLines(outF).asScala.toSeq
      .map(_.split("\t"))
    (rc, rows)
  }

  /** Fork one child JVM per chunk; stream progress; merge the chunks' TSV
    * rows into the detail artifact and the stdout line.
    */
  private def coordinate(sfDir: String, chunkSize: Int): Unit = {
    val loadStart = loadAvg
    val chunks = SparkEntry.queries.keys.toSeq.sorted.grouped(chunkSize).toSeq
    // invalidate factor-corpus markers: each bench run synthesizes fresh
    // (testdata may have changed under the same path between rounds); the
    // FIRST child touching a factor rebuilds it, later children reuse
    val tmp = System.getProperty("java.io.tmpdir")
    Option(new java.io.File(tmp).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft_scale_"))
      .foreach(d => new java.io.File(d, "_synth.ok").delete())
    val qMeas = ArrayBuffer.empty[(String, Meas)]
    val failed = LinkedHashSet.empty[String]
    val scaleRows = ArrayBuffer.empty[ScaleRow]
    val histRows = ArrayBuffer.empty[HistRow]
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      System.err.println(
        s"[bench] chunk ${i + 1}/${chunks.size}: ${chunk.head} .. ${chunk.last}")
      val (rc, rows) = spawnChild(
        Map("SPARK_GRAFT_ONLY" -> chunk.mkString(",")), s"chunk$i")
      if (rc != 0)
        System.err.println(
          s"[bench] chunk ${i + 1}: unreported queries count as failed")
      val reported = scala.collection.mutable.Set.empty[String]
      rows.foreach {
        case Array("Q", n, w, c, g, l0, l1) =>
          qMeas += (n -> Meas(w.toDouble, c.toDouble, g.toLong,
            l0.toDouble, l1.toDouble))
          reported += n
        case Array("F", n) => failed += n
        case Array("S", tag, fac, n, r, sec, base, cpu, baseCpu) =>
          scaleRows += ScaleRow(tag, fac.toInt, n, r.toDouble, sec.toDouble,
            base.toDouble, cpu.toDouble, baseCpu.toDouble)
        case Array("H", tag, n, lw, ng, mw, up, cp) =>
          histRows += ((tag, n, lw.toInt, ng.toLong, mw.toLong, up.toLong,
            cp.toLong))
        case _ => ()
      }
      // a child that died mid-chunk (OOM, hard JVM crash) reports nothing
      // for its remaining queries — those are failures, not free queries
      chunk.filterNot(reported).foreach(failed += _)
    }
    writeDetail(qMeas.toSeq, failed, scaleRows.toSeq, histRows.toSeq, sfDir,
      loadStart)
    emitFinal(qMeas.toSeq, failed, scaleRows.toSeq, sfDir)
  }

  /** The committed per-round artifact the 2000-char stdout tail can't
    * carry: EVERY query's wall + cpu seconds, GC delta and load context,
    * the full scale rows (ratio + raw seconds + base + cpu) and the probe
    * group-width histograms. Written to the working directory as
    * `bench_detail_r<N>.json`; `tools/compare_bench_runs.py` diffs two of
    * them.
    */
  private def writeDetail(resultSeq: Seq[(String, Meas)],
      failed: LinkedHashSet[String],
      scaleRows: Seq[ScaleRow],
      histRows: Seq[HistRow], sfDir: String, loadStart: Double): Unit = try {
    val round = roundNumber
    val sb = new StringBuilder
    // a non-numeric SPARK_GRAFT_ROUND must still yield VALID JSON — bare
    // interpolation would emit `"round":r13` and break every consumer
    val roundJson = round.toIntOption.map(_.toString)
      .getOrElse("\"" + round.replace("\"", "") + "\"")
    sb ++= s"""{"round":$roundJson,"sf":"$sfDir","""
    sb ++= f""""total":${resultSeq.map(_._2.wall).sum}%.3f,"""
    sb ++= s""""n_queries":${resultSeq.size},"""
    sb ++= s""""machine":{"cpus":${Runtime.getRuntime.availableProcessors},"""
    sb ++= f""""load_start":$loadStart%.2f,"load_end":$loadAvg%.2f},"""
    sb ++= s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"""
    sb ++= resultSeq.sortBy(-_._2.wall)
      .map { case (n, m) =>
        f""""$n":{"sec":${m.wall}%.3f,"cpu_sec":${m.cpu}%.3f,""" +
          f""""gc_ms":${m.gcMs},"load0":${m.load0}%.2f,"load1":${m.load1}%.2f}"""
      }
      .mkString("\"queries\":{", ",", "},")
    val scaleJson = ScaleTags.map { tag =>
      val rows = scaleRows.filter(_.tag == tag)
      // cpu_x = per-row CPU at factor× vs 1× (cpu / (factor · baseCpu)):
      // ~1.0 means per-row cost is flat and the wall ratio is
      // parallelism/overhead, not work growth (r15 VERDICT #7's
      // attribution ask for action_structs_pipeline)
      val entries = rows.map { r =>
        val cpuX =
          if (r.baseCpu > 0 && r.cpu > 0) r.cpu / (r.factor * r.baseCpu)
          else -1.0
        f""""${r.name}":{"ratio":${r.ratio}%.2f,"sec":${r.sec}%.3f,""" +
          f""""base":${r.base}%.3f,"cpu_sec":${r.cpu}%.3f,"cpu_x":$cpuX%.2f}"""
      }
      s""""$tag":{${rows.headOption.map(r => s""""factor":${r.factor},""").getOrElse("")}"rows":${entries.mkString("{", ",", "}")}}"""
    }.mkString(",")
    sb ++= scaleJson
    val histJson = histRows.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (q, rows) =>
        val byTag = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (tag, hs) =>
          val buckets = hs.sortBy(_._3).map(h =>
            s"""{"log2_width":${h._3},"n_groups":${h._4},"max_width":${h._5},"uncapped_pairs":${h._6},"capped_pairs":${h._7}}""")
          s""""$tag":${buckets.mkString("[", ",", "]")}"""
        }
        s""""$q":{${byTag.mkString(",")}}"""
    }
    sb ++= s""","probe_group_histograms":{${histJson.mkString(",")}}}"""
    val path = java.nio.file.Paths.get(s"bench_detail_r$round.json")
    java.nio.file.Files.writeString(path, sb.toString)
    System.err.println(s"[bench] wrote ${path.toAbsolutePath}")
  } catch { case e: Throwable =>
    // the detail artifact must never kill the bench line the driver parses
    System.err.println(s"[bench] detail write failed: ${e.getMessage}")
  }

  /** The measured loop: one Spark session, `only`-selected queries, scale
    * sections, results to `SPARK_GRAFT_OUT` (child) or stdout (standalone).
    */
  private def runQueries(sfDir: String, only: Set[String]): Unit = {
    val loadStart = loadAvg
    val childOut = sys.env.get("SPARK_GRAFT_OUT")
    val spark = GraftSession.local()
    // Untimed warmup. Two distinct costs would otherwise land on whichever
    // query runs first (r4: filter_exact 4.30 s; r5: action_math 8.23 s —
    // a five-column projection that cannot cost 8 s):
    //  1. session/codegen/noop-committer init (the spark.range write);
    //  2. first-touch of the REAL tables — parquet footer reads, file-index
    //     build, page-cache population, scan-codegen compilation.
    // Noop-writing every source table before timing moves both off the
    // first timed query, making round-over-round per-query diffs meaningful.
    // Chunk children always warm up (their numbers ARE the round's numbers);
    // a hand-run SPARK_GRAFT_ONLY iteration loop skips it — a one-query
    // loop shouldn't pay ten table scans, and its absolute numbers are for
    // relative comparison anyway.
    spark.range(1000).selectExpr("id", "md5(cast(id as string)) h")
      .write.format("noop").mode("overwrite").save()
    if (only.isEmpty || childOut.isDefined) {
      Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings").foreach { t =>
        Tables.table(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      }
      Tables.events(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    // noop-format write forces full evaluation of every projected column
    // and the final sort (a bare count() lets ColumnPruning/EliminateSorts
    // delete the per-row expression work being measured). Best of two runs
    // per query: per-query fixed overhead (job scheduling, JIT, GC) is a
    // large share of small-SF wall time and varies ±15% run to run — the
    // min is the stable signal for round-over-round regression diffs.
    // Failed queries must scream, not "bench" at ~0.05 s and improve the
    // total (r9: 10 broken queries silently made the run look faster).
    // Collected across runs; lands in stderr AND a "failed" key on the
    // stdout JSON line / an F row in the child TSV.
    val failed = LinkedHashSet.empty[String]
    var current = ""
    def onceIn(dir: String)(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Meas = {
      val l0 = loadAvg
      val c0 = cpuNanos
      val g0 = gcTotalMs
      val t0 = System.nanoTime()
      try { fn(spark, dir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        failed += current
        System.err.println(s"[bench] FAILED $current: " +
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val c1 = cpuNanos
      val cpu = if (c0 < 0 || c1 < 0) -1.0 else (c1 - c0) / 1e9
      val m = Meas(sec, cpu, gcTotalMs - g0, l0, loadAvg)
      // release the query's localCheckpoint blocks before the clock of the
      // NEXT run starts: leaked storage blocks from earlier queries were
      // r7's ~15 s "regression" on unchanged code (the sweep itself is
      // non-blocking bookkeeping, not measured work)
      GraftSession.sweepPersisted(spark)
      m
    }
    def bestOfTwoIn(dir: String)(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Meas = {
      val a = onceIn(dir)(fn)
      val b = onceIn(dir)(fn)
      val best = if (a.wall <= b.wall) a else b
      // sub-2 s measurements are scheduler/GC-jitter dominated (±0.3 s
      // swings a ratio severalfold — the r16 cross-run comparison's whole
      // disagreeing tail was this class), so they get a THIRD sample;
      // ≥ 2 s walls are already stable at two and a third run of the
      // expensive queries would cost real bench wall-time for nothing
      if (best.wall >= 2.0) best
      else {
        val c = onceIn(dir)(fn)
        if (c.wall < best.wall) c else best
      }
    }
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    // sorted-name order: SparkEntry.queries is a Map with unspecified
    // iteration order — an order change between rounds would silently move
    // queries relative to JIT/GC warm state and corrupt per-query diffs
    val resultSeq = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      current = name
      val m = bestOfTwoIn(sfDir)(fn)
      // progress to stderr (the driver reads only the stdout JSON line)
      System.err.println(
        f"[bench] $name%-28s ${m.wall}%7.2f s (cpu ${m.cpu}%6.2f s)")
      name -> m
    }
    val results = resultSeq.toMap

    // Larger-SF scaling sections (VERDICT r2 directive 10): synthesize a
    // `factor`× corpus (fresh text per copy — see ScaleData) and time the
    // headline capped/salted/bucketed queries. `ratio` is
    // sec(factor×) / sec(1×, best-of-two above); linear scaling would be
    // ≈ factor, so anything > 2·factor is a super-linear red flag.
    // Best-of-two here as well — r4's phantom 31.4× text_gopher_quality
    // ratio (vs 2.17 on unchanged code in r5) was single-run noise.
    // Caveat when diffing round-over-round: a ratio whose BASE is under
    // ~0.5 s is overhead-dominated (±0.3 s of scheduler/GC jitter swings
    // it severalfold); judge those by the absolute stderr timings instead.
    val scaleRows = ArrayBuffer.empty[ScaleRow]
    def scaleSection(tag: String, factor: Int, names: Seq[String],
        tables: Set[String] = ScaleData.AllTables,
        freshEvents: Boolean = false): Unit = {
      // filter BEFORE synthesizing: a SPARK_GRAFT_ONLY run whose queries
      // aren't in this section must not pay minutes of corpus synthesis
      // for an empty ratios map
      val sel = names.filter(n => only.isEmpty || only(n))
      if (factor > 1 && sel.nonEmpty) {
        val suffix = if (freshEvents) "f" else ""
        val outDir =
          s"${System.getProperty("java.io.tmpdir")}/graft_scale_${factor}x$suffix"
        // synthesize once per bench run, not once per chunk: a child that
        // finds a marker matching (source, factor, tables, regime, source
        // mtime) reuses the corpus the first child wrote; the coordinator
        // deletes markers up front so every RUN starts fresh
        val marker = new java.io.File(outDir, "_synth.ok")
        val stamp = s"$sfDir|$factor|${tables.toSeq.sorted.mkString(",")}|" +
          s"$freshEvents|" +
          new java.io.File(s"$sfDir/documents.parquet").lastModified
        val fresh = marker.exists &&
          (try java.nio.file.Files.readString(marker.toPath) == stamp
          catch { case _: Throwable => false })
        if (!fresh) {
          ScaleData.synthesize(spark, sfDir, outDir, factor, tables,
            freshenEvents = freshEvents)
          java.nio.file.Files.writeString(marker.toPath, stamp)
        }
        sel.foreach { n =>
          SparkEntry.queries.get(n).foreach { fn =>
            current = s"$tag:$n"
            val m = bestOfTwoIn(outDir)(fn)
            val base = results(n).wall
            val ratio = m.wall / math.max(base, 1e-9)
            System.err.println(
              f"[bench] $tag:$n%-22s ${m.wall}%7.2f s (base $base%.2f s, ratio $ratio%.1f)")
            // EVERY measured row lands in the detail artifact (r15: the
            // phash 100x headline row was stderr-only because its 0.41 s
            // base tripped the old gate); the 0.5 s overhead-dominated-
            // base floor now applies only to the budgeted stdout line
            // (see emitFinal)
            scaleRows += ScaleRow(tag, factor, n, ratio, m.wall, base, m.cpu,
              results(n).cpu)
          }
        }
      }
    }
    // disable with SPARK_GRAFT_SCALE=1 (or 0)
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val scaleSet = Seq(
      "q1_agg", "filter_cesql", "action_structs_pipeline", "template_json",
      "dedup_exact", "dedup_minhash_lsh", "dedup_lsh_pairs",
      "dedup_simhash_neardup", "dedup_ngram_jaccard", "dedup_pipeline",
      "dedup_passages", "dedup_remove_spans", "sample_split_leakage_safe",
      "layout_bucketed_dedup", "dedup_keep_best",
      "dedup_embedding_neardup", "pipeline_curation",
      "pipeline_media_curation", "pipeline_audio_curation",
      "pipeline_video_curation",
      "text_gopher_quality", "text_langid", "text_repetition",
      "text_pack_sequences", "sample_mixture",
      "text_decontaminate", "text_decontaminate_bloom", "text_tokens_bpe",
      "text_c4_lines", "text_chunk_windows",
      "text_bpe_train", "text_html_extract", "filter_cel", "filter_cel_macros",
      "pipeline_curation_fuzzy",
      "text_tfidf", "text_lm_score", "dedup_url", "sample_domain_cap",
      "multimodal_pixel_stats", "multimodal_audio_stats", "multimodal_audio_frames",
      "multimodal_jpeg_stats", "multimodal_gzip_text", "multimodal_warc_records",
      "dedup_phash_neardup", "dedup_audio_neardup", "dedup_video_neardup",
      "multimodal_mp4_samples", "multimodal_mp4_keyframes",
      "multimodal_keyframe_extract", "dedup_keyframe_clips",
      "dedup_cross_corpus", "stream_dedup_ingest", "stream_neardup_ingest",
      // r20 (VERDICT r19 #5): the compaction entries' slice bounds are
      // FRACTIONS of the events table, so at 10× the compacted volume
      // grows with the data and these rows measure compaction wall
      // tracking corpus growth (bus_compact_stream stays base-only —
      // its wall is streaming-lifecycle restarts, not data)
      "bus_compact_read", "bus_compact_partitioned",
      "join_asof", "join_range",
      "sim_brute_topk", "sim_int8_topk", "sim_ivf_topk", "sim_pq_topk",
      "sim_ivfpq_topk", "sim_ivfpq_res_topk", "sim_ivfpq_rerank_topk")
    // One data point well past 10× for the CAPPED operators only (MinK
    // block caps, salted two-stage cuts, hash-keyed passage blocks):
    // 26× (the ScaleData rotation cap) separates "sublinear because the
    // caps bound the work" from "sublinear because fixed overhead dominates
    // at sf0.1". Disable with SPARK_GRAFT_SCALE26=1 (or 0) — and the
    // documented SPARK_GRAFT_SCALE=1 kill-switch disables ALL scale
    // benching, this section included (ADVICE r6: a run setting only the
    // documented knob must not pay 26× synthesis)
    val factor26 =
      if (factor <= 1) 1
      else sys.env.getOrElse("SPARK_GRAFT_SCALE26", "26").toInt
    val cappedSet = Seq(
      "dedup_ngram_jaccard", "dedup_embedding_neardup", "dedup_passages",
      // r13: span removal shares dedup_passages' hash-keyed window blocks;
      // 26x evidences the duplicate-hash aggregation bounding the rebuild
      "dedup_remove_spans",
      "sim_int8_topk", "sim_pq_topk", "sim_ivfpq_topk", "sim_ivfpq_res_topk",
      "sim_ivfpq_rerank_topk", "dedup_semantic", "pipeline_curation",
      // r9: the probe's MinK maxBlock cap (2000) is inert at sf0.1 (hot
      // (block,value) group ≈ 540 wide) but engages at 26× (~14,000 wide) —
      // this row is the evidence the bound holds where collect_list OOM'd
      "dedup_simhash_neardup",
      // r10: the image-dHash probe shares that cap; the synthetic corpus's
      // identical-hash clusters grow linearly with the factor, so 26× is
      // where the member cap must bound the pair expansion
      "dedup_phash_neardup",
      // r10: the audio probe's maxBlock=256 engages exactly at 26× (a
      // same-length cohort is 26×10 = 260 docs) — this row evidences the
      // short-fingerprint degenerate-block bound holding
      "dedup_audio_neardup",
      // r11: the video size-delta probe shares the audio shape (n_bits
      // cohorts, linear identical-fingerprint clusters on the synthetic
      // corpus) — 26× evidences its cap too
      "dedup_video_neardup",
      // r11: keyframe-pixel clip dedup — frame-level probe groups grow
      // linearly like the image probe's; 26× evidences the cap on the
      // frame cohorts
      "dedup_keyframe_clips")
    scaleSection("scale", factor, scaleSet)
    // FRESH-EVENTS 10× tier (r15 VERDICT #2): the plain 10× events corpus
    // repeats props verbatim (only event_id is offset), so the stream-dedup
    // rows above measure the 90%-duplicate regime — state flat, wall
    // dominated by duplicate flagging. This tier freshens props per copy
    // (the documents freshener), i.e. 10× DISTINCT content: the regime
    // where state actually grows toward the TTL/cap design's bound. Both
    // regimes publish; the state histograms below separate flat vs linear
    // growth. events-only corpus (these queries read nothing else);
    // disable with SPARK_GRAFT_SCALEF=1 (or 0); the SPARK_GRAFT_SCALE=1
    // kill-switch disables this tier too.
    val factorF =
      if (factor <= 1) 1
      else sys.env.getOrElse("SPARK_GRAFT_SCALEF", "10").toInt
    // r17 (r16 VERDICT #4): the composed both-horizons fold and the
    // CE-frame near-dup horizon join the fresh-content tier — their
    // fingerprint buckets and the exact-identity singleton groups are the
    // state the TTL/cap design bounds, measured here in the regime where
    // it actually grows
    val freshSet = Seq("stream_dedup_ingest", "stream_neardup_ingest",
      "stream_neardup_horizon", "stream_both_horizons")
    scaleSection("scaleF", factorF, freshSet,
      tables = Set("events"), freshEvents = true)
    // the capped set reads only documents+embeddings — don't spend
    // bench wall-time writing a 26× lineitem/events nobody opens
    scaleSection("scale26", factor26, cappedSet,
      tables = Set("documents", "embeddings"))
    // 100× tier (r13 VERDICT #4): two orders of magnitude over base SF for
    // the HEADLINE capped operators only — the tier that turns the
    // "caps/cohorts/contraction/bucketed-layout bound the work" design
    // claims from an argument into a measurement. documents-only corpus
    // (all five queries read nothing else); disable with
    // SPARK_GRAFT_SCALE100=1 (or 0); the SPARK_GRAFT_SCALE=1 kill-switch
    // disables this tier too.
    val factor100 =
      if (factor <= 1) 1
      else sys.env.getOrElse("SPARK_GRAFT_SCALE100", "100").toInt
    val capped100Set = Seq(
      "dedup_phash_neardup", "dedup_ngram_jaccard",
      "pipeline_audio_curation", "layout_bucketed_dedup", "dedup_keep_best")
    scaleSection("scale100", factor100, capped100Set,
      tables = Set("documents"))
    // Untimed probe diagnostics for the detail artifact: group-width
    // histograms at base SF and at every scale corpus this run actually
    // synthesized (marker check — a SPARK_GRAFT_ONLY run without the probe
    // queries must not pay corpus synthesis here).
    val histRows = ArrayBuffer.empty[HistRow]
    // a "<query>_exact"/"<query>_altsrc" probe is histogram-only (no
    // timed query of its own), so under a chunk child's SPARK_GRAFT_ONLY
    // it must ride its companion timed query's membership — without the
    // suffix rule no chunk ever admits it and the probe silently never
    // runs (r17)
    def histAt(tag: String, dir: String, names: Seq[String]): Unit =
      probeHistograms.keys.toSeq.sorted
        .filter(n => names.contains(n) &&
          (only.isEmpty || only(n) ||
            only(n.stripSuffix("_exact").stripSuffix("_altsrc"))))
        .foreach { n =>
          try probeHistograms(n)(spark, dir).collect().foreach { r =>
            histRows += ((tag, n, r.getInt(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4)))
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] histogram $tag:$n failed: ${e.getMessage}")
          }
          GraftSession.sweepPersisted(spark)
        }
    val tmpDir = System.getProperty("java.io.tmpdir")
    // the scaleF histogram names: the timed fresh set plus the composed
    // operator's exact-identity state probe (histogram-only — not a
    // SparkEntry query, so scaleSection ignores it)
    val freshHistSet = freshSet ++
      Seq("stream_both_horizons_exact", "stream_both_horizons_altsrc")
    histAt("base", sfDir, scaleSet ++ freshHistSet)
    if (factor > 1 && new java.io.File(s"$tmpDir/graft_scale_${factor}x/_synth.ok").exists)
      histAt("scale", s"$tmpDir/graft_scale_${factor}x", scaleSet)
    // the fresh-events regime's state histogram: LINEAR growth in distinct
    // content here vs the flat duplicate-heavy rows above is the tier's
    // whole point
    if (factorF > 1 && new java.io.File(s"$tmpDir/graft_scale_${factorF}xf/_synth.ok").exists)
      histAt("scaleF", s"$tmpDir/graft_scale_${factorF}xf", freshHistSet)
    if (factor26 > 1 && new java.io.File(s"$tmpDir/graft_scale_${factor26}x/_synth.ok").exists)
      histAt("scale26", s"$tmpDir/graft_scale_${factor26}x", cappedSet)
    if (factor100 > 1 && new java.io.File(s"$tmpDir/graft_scale_${factor100}x/_synth.ok").exists)
      histAt("scale100", s"$tmpDir/graft_scale_${factor100}x", capped100Set)
    resultSeq.foreach { case (n, m) =>
      System.err.println(f"""[bench-detail] "$n":${m.wall}""")
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} FAILED: ${failed.mkString(", ")}")
    childOut match {
      case Some(path) =>
        // child mode: machine-readable rows for the coordinator; no stdout
        // JSON (the coordinator emits the merged budgeted line)
        val sb = new StringBuilder
        resultSeq.foreach { case (n, m) =>
          sb ++= f"Q\t$n\t${m.wall}%.4f\t${m.cpu}%.4f\t${m.gcMs}\t${m.load0}%.2f\t${m.load1}%.2f\n"
        }
        failed.foreach(n => sb ++= s"F\t$n\n")
        scaleRows.foreach { r =>
          sb ++= f"S\t${r.tag}\t${r.factor}\t${r.name}\t${r.ratio}%.4f\t${r.sec}%.4f\t${r.base}%.4f\t${r.cpu}%.4f\t${r.baseCpu}%.4f\n"
        }
        histRows.foreach { case (tag, n, lw, ng, mw, up, cp) =>
          sb ++= s"H\t$tag\t$n\t$lw\t$ng\t$mw\t$up\t$cp\n"
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
      case None =>
        // standalone full run (SPARK_GRAFT_CHUNK=0, no filter): write the
        // same detail artifact the chunked coordinator writes; a filtered
        // hand-run iteration loop must not clobber the round's artifact
        if (only.isEmpty)
          writeDetail(resultSeq, failed, scaleRows.toSeq, histRows.toSeq,
            sfDir, loadStart)
        // the stdout line carries wall seconds only; the per-query CPU
        // goes to stderr, ahead of it
        System.err.println(f"${"name"}%-28s ${"sec"}%8s ${"cpu_sec"}%8s")
        resultSeq.foreach { case (n, m) =>
          System.err.println(f"$n%-28s ${m.wall}%8.3f ${m.cpu}%8.3f")
        }
        emitFinal(resultSeq, failed, scaleRows.toSeq, sfDir)
    }
    spark.stop()
  }

  /** The single stdout JSON line the driver parses. It records only the
    * last 2000 chars of stdout (BENCH_r{N} "tail") — any overflow cuts
    * the line's HEAD off and the driver records "parsed": null (which is
    * exactly what happened in rounds 12-14: the full scale-ratio maps
    * alone exceeded the window). Budget EVERY variable-size section:
    *  - "queries": per-query entries in descending-cost order until the
    *    budget is spent; the cut tail is summed into "other" so "value"
    *    stays the exact total;
    *  - "scale"/"scale26": the worst (highest-ratio) entries only, plus
    *    `n` (total rows measured) and `max` so the line is honest about
    *    what it omits — full rows are in the detail artifact;
    *  - "failed": `failed_n` always carries the true count, and the name
    *    list gets its own budget — a correctness regression outranks
    *    timing detail.
    */
  private def emitFinal(resultSeq: Seq[(String, Meas)],
      failed: LinkedHashSet[String], scaleRows: Seq[ScaleRow],
      sfDir: String): Unit = {
    // the stdout line keeps the 0.5 s base floor: a ratio whose base is
    // overhead-dominated spends line budget saying nothing (VERDICT r8
    // #9) — the full rows, floor included, are in the detail artifact
    val line = buildFinalLine(
      resultSeq.map { case (n, m) => (n, m.wall) }, failed.toSeq,
      scaleRows.filter(_.base >= 0.5)
        .map(r => (r.tag, r.factor, r.name, r.ratio)), sfDir)
    if (line.length > LineBudget)
      System.err.println(s"[bench] WARNING: stdout line ${line.length} chars " +
        s"exceeds the $LineBudget budget — driver tail may truncate it")
    println(line)
  }

  /** < 2000 (the driver's tail window) minus sbt's trailing
    * "[success] ..." epilogue line.
    */
  private[graft] val LineBudget = 1750

  /** Pure line construction, split from [[emitFinal]] so the budget is a
    * TESTED invariant — overflowing it cost rounds 12-14 their parsed
    * BENCH artifact.
    */
  private[graft] def buildFinalLine(walls: Seq[(String, Double)],
      failedNames: Seq[String],
      scaleRatios: Seq[(String, Int, String, Double)],
      sfDir: String): String = {
    val total = walls.map(_._2).sum
    // the failed list is budgeted too: a mass-failure round (the moment
    // the artifact matters most) must not overflow the tail window.
    // failed_n always carries the TRUE count; the name list is truncated
    // to what ~450 chars hold (shrunk from 600 when the 4th scale tag
    // landed — the budget spec pins the worst case)
    val failedJson =
      if (failedNames.isEmpty) ""
      else {
        val kept = ArrayBuffer.empty[String]
        var used = 0
        failedNames.foreach { n =>
          if (used + n.length + 3 <= 450) { kept += "\"" + n + "\""; used += n.length + 3 }
        }
        val listJson = kept.mkString("[", ",", "]")
        s""","failed_n":${failedNames.size},"failed":$listJson"""
      }
    // worst-first scale summary, hard-capped per tag; n + max make the
    // truncation explicit
    val scaleJson = ScaleTags.flatMap { tag =>
      val rows = scaleRatios.filter(_._1 == tag)
      if (rows.isEmpty) None else {
        val worst = rows.sortBy(-_._4).take(6)
          .map(r => f""""${r._3}":${r._4}%.2f""").mkString("{", ",", "}")
        Some(s""","$tag":{"factor":${rows.head._2},"n":${rows.size},""" +
          f""""max":${rows.map(_._4).max}%.2f,"worst":$worst}""")
      }
    }.mkString
    val fixed = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","sf":"$sfDir"$failedJson,"queries":{}$scaleJson}"""
    var room = LineBudget - fixed.length - 30 // reserve for "other" entry
    val kept = ArrayBuffer.empty[String]
    var otherSum = 0.0
    walls.sortBy(-_._2).foreach { case (n, w) =>
      val e = f""""$n":$w%.3f"""
      if (room - (e.length + 1) >= 0) { kept += e; room -= (e.length + 1) }
      else otherSum += w
    }
    if (otherSum > 0 || kept.size < walls.size)
      kept += f""""other":$otherSum%.3f"""
    val qsCompact = kept.mkString("{", ",", "}")
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","sf":"$sfDir"$failedJson,"queries":$qsCompact$scaleJson}"""
  }
}
