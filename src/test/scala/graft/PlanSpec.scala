package graft

import graft.filters.FilterCompiler
import graft.model.FilterSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits: the properties the 100 TB story depends on, asserted
  * against the actual executed plans, so a refactor that silently breaks
  * pushdown or pruning fails CI rather than a production scan.
  */
class PlanSpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter specs push equality predicates into the parquet scan") {
    val pred = FilterCompiler.compileList(
      Seq(FilterSpec.Exact(Seq("type" -> "purchase"))))
    val plan = executedPlan(
      model.EventView.fromEventsTable(Tables.events(spark, sf)).filter(pred))
    // `isNotNull && equals` spelling keeps the conjunct in PushedFilters
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)"),
      s"pushdown lost:\n$plan")
  }

  test("metadata-only media query prunes the binary column at the scan") {
    val media = ext.Multimodal.metaOnly(
      Tables.documents(spark, sf).select(
        col("doc_id").as("media_id"), lit("image").as("kind"),
        col("text").cast("binary").as("content")))
    // the media frame is built from projected columns, so the scan must
    // read only what the projection needs — doc_id and text here; the
    // point is ReadSchema stays narrow (no lang/source/n_chars)
    val plan = executedPlan(media)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"column pruning lost:\n$plan")
  }

  test("point get range probe reaches PushedFilters") {
    val plan = executedPlan(Tables.events(spark, sf)
      .filter(col("event_id").between(100, 115)).select("event_id", "value"))
    assert(plan.contains("GreaterThanOrEqual(event_id,100)") &&
      plan.contains("LessThanOrEqual(event_id,115)"), s"range pushdown lost:\n$plan")
  }

  test("q1 aggregation keeps map-side partial aggregation") {
    val plan = executedPlan(Queries.queries("q1_agg")(spark, sf))
    // partial HashAggregate before the exchange, final after
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"partial agg lost:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(l_returnflag"), s"agg shuffle key wrong:\n$plan")
  }

  test("broadcast hint survives for the brute-force top-k query side") {
    val emb = Tables.embeddings(spark, sf)
    val plan = executedPlan(
      ext.Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 3), 3))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"broadcast lost:\n$plan")
  }

  test("ivfPqTopK scores codes against a BROADCAST probe side, never a sort-merge join") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val df = ext.Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 3),
      kNeighbors = 5, kCells = 4, cellIters = 1, nprobe = 2,
      m = 4, kCodes = 4, pqIters = 1, dim = 64)
    val plan = executedPlan(df)
    // the (query, probed cell, LUT) side is tiny by construction and
    // explicitly hinted — the CELL-keyed scoring join must be broadcast
    // so the codes scan stays fanned out. Corpus-side equi-joins
    // (codes⋈cells on vec_id, PQ training on (vec_id, sub)) and
    // query-side joins (probes⋈luts on query_id) may legitimately
    // sort-merge; a cell-keyed SMJ would mean the broadcast hint was
    // lost and the whole codes frame shuffles per probe.
    assert(plan.contains("BroadcastExchange"), s"probe broadcast lost:\n$plan")
    val smjKeys = "SortMergeJoin \\[([a-z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(!smjKeys.contains("cell"),
      s"cell-keyed sort-merge join crept in ($smjKeys):\n$plan")
  }

  test("cesql/cel filter DSLs are callable from SQL and still push down") {
    model.EventView.fromEventsTable(Tables.events(spark, sf))
      .createOrReplaceTempView("ce_events")
    val viaSql = spark.sql(
      "SELECT sequence_number FROM ce_events WHERE cesql('type = \\'purchase\\'')")
    val expected = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(viaSql.count() == expected)
    val plan = executedPlan(viaSql)
    // compiled eagerly into plain catalyst (no opaque wrapper); the
    // missing→false guard is spelled isNotNull && pred, so the equality
    // conjunct reaches PushedFilters even through the SQL function
    assert(!plan.contains("columnnodeexpression"), s"unresolved DSL:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)"),
      s"cesql pushdown lost:\n$plan")
    assert(plan.contains("ReadSchema: struct<event_id:bigint,event_type:string>"),
      s"pruning lost:\n$plan")

    // CEL addresses the JSON data body via $path.(type) declarations
    val viaCel = spark.sql(
      "SELECT count(*) FROM ce_events WHERE cel('$k.(int64) >= 50')").head.getLong(0)
    val celExpected = model.EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(graft.cel.CEL.compile("$k.(int64) >= 50")).count()
    assert(viaCel == celExpected && viaCel > 0)
  }

  test("date-partitioned bus reads prune partitions, not just row groups") {
    val dir = java.nio.file.Files.createTempDirectory("pbus").toString
    val bus = streaming.EventBus(dir)
    val view = model.EventView.fromEventsTable(Tables.events(spark, sf))
      .withColumn("event_date", to_date(col("time")))
    bus.appendPartitioned(view, "event_date")
    val probe = bus.read(spark).filter(col("event_date") === "2024-01-02")
    val plan = executedPlan(probe)
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"),
      s"partition pruning lost:\n$plan")
    assert(probe.count() ==
      view.filter(col("event_date") === "2024-01-02").count())
  }

  test("mixture sampling is a scan-stage decision: no shuffle in the plan") {
    val plan = executedPlan(ext.Sampling.mixture(
      Tables.documents(spark, sf), col("lang"), col("doc_id"),
      Map("en" -> 500000), defaultPpm = 100000).filter(col("keep")))
    assert(!plan.contains("Exchange"), s"mixture introduced a shuffle:\n$plan")
    assert(plan.contains("ReadSchema"), plan)
  }

  test("htmlExtract and compressed-text decode stay scan-shaped") {
    // both are per-row kernels: the only legal exchange is fanOut's
    // round-robin parallelism spread — never a hash shuffle, never a join
    val htmlPlan = executedPlan(ext.TextAnalysis.htmlExtract(
      Tables.documents(spark, sf).select(col("doc_id"), col("text").as("html"))))
    assert(!htmlPlan.contains("Exchange hashpartitioning"),
      s"htmlExtract hash-shuffled:\n$htmlPlan")
    assert(!htmlPlan.contains("Join"), htmlPlan)
    assert(htmlPlan.contains("html_text"), htmlPlan)
    val gzPlan = executedPlan(ext.Multimodal.gzipText(
      ext.Multimodal.gzipMediaFromDocuments(Tables.documents(spark, sf))))
    assert(!gzPlan.contains("Exchange hashpartitioning"),
      s"gzipText hash-shuffled:\n$gzPlan")
    assert(!gzPlan.contains("Join"), gzPlan)
    assert(gzPlan.contains("decompress_text"), gzPlan)
  }

  test("packSequences shuffles once, keyed by the pack stream") {
    val plan = executedPlan(
      ext.TextAnalysis.packSequences(Tables.documents(spark, sf), 512, 4))
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(plan).size === 1,
      s"expected exactly one stream-keyed exchange:\n$plan")
    assert(plan.contains("pack_shard"), plan)
  }

  test("min_k block cap aggregates map-side (ObjectHashAggregate partials)") {
    // the cap subtree runs inside the pin materialization since
    // optimization r21, so assert its map-side partials directly...
    val capPlan = executedPlan(
      ext.Dedup.ngramJaccardCappedSets(Tables.documents(spark, sf), maxBlock = 50))
    assert(capPlan.contains("partial_min_k"), s"map-side cap lost:\n$capPlan")
    // ...and that the pair self-join consumes the pinned leaf on BOTH
    // sides (one set-build pass, one corpus scan) with no sort anywhere
    val plan = executedPlan(
      ext.Dedup.ngramJaccardPairs(Tables.documents(spark, sf), 0.6, maxBlock = 50))
    assert("Scan ExistingRDD".r.findAllIn(plan).size === 2,
      s"self-join must read the pinned set frame twice:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ crept back:\n$plan")
  }

  test("embeddingNearDup cell cap is a MinK aggregate, not a full-cell rank") {
    val plan = executedPlan(ext.Similarity.embeddingNearDup(
      Tables.embeddings(spark, sf), 0.9, maxCell = 50))
    assert(plan.contains("partial_min_k"), s"map-side cap lost:\n$plan")
    // the one remaining Window is the per-vector nearest-neighbor rank;
    // the candidate cap must NOT be a label-partitioned window
    assert(!plan.contains("windowspecdefinition(label"),
      s"full-cell rank window resurfaced:\n$plan")
  }

  test("dedupKeepBest keeper is a partial-aggregated argmax, never a Window sort") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, (i % 7).toInt)).toDF("doc_id", "q")
    val pairs = (0L until 40L).sliding(2).map(w => (w(0), w(1)))
      .toSeq.toDF("doc_a", "doc_b")
    val plan = executedPlan(ext.Dedup.dedupKeepBest(
      docs, ext.Dedup.duplicateGroups(pairs),
      org.apache.spark.sql.functions.col("q")))
    // a degenerate corpus forms ONE corpus-scale component; a window
    // would sort it in a single straggler task — the keeper must stay a
    // tree-reducing aggregate with map-side partials
    assert(!plan.contains("Window"), s"keeper regressed to a window:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial max") ||
      plan.contains("Partial"), s"argmax lost its map-side partial:\n$plan")
    graft.GraftSession.sweepPersisted(spark)
  }

  test("every action_ and template_ catalog query runs the transform interpreter") {
    val transformQs = Queries.all.filter(q =>
      q.name.startsWith("action_") || q.name.startsWith("template_"))
    assert(transformQs.size == 22, transformQs.map(_.name))
    transformQs.foreach { q =>
      val plan = q.run(spark, sf).queryExecution.optimizedPlan
      // TransformRunner's mapPartitions: a second action implementation
      // (Column forms) would plan without it
      assert(plan.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.MapPartitions]),
        s"${q.name} bypasses the interpreter:\n$plan")
    }
  }

  test("every interpreter catalog query runs each row through the interpreter once") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
    import scala.jdk.CollectionConverters._
    val transformQs = Queries.all.filter(q =>
      q.name.startsWith("action_") || q.name.startsWith("template_"))
    transformQs.foreach { q =>
      val df = q.run(spark, sf)
      // wrap every interpreter (TransformRunner's mapPartitions) so each
      // row it takes in adds its sequence number to that pass's accumulator
      val passes = scala.collection.mutable.ArrayBuffer.empty[
        org.apache.spark.util.CollectionAccumulator[Long]]
      val counted = df.queryExecution.analyzed.transform {
        case mp: MapPartitions =>
          val acc = spark.sparkContext.collectionAccumulator[Long](s"${q.name}-rows")
          passes += acc
          val run = mp.func
          mp.copy(func = (it: Iterator[Any]) => run(it.map { r =>
            acc.add(r.asInstanceOf[Row].getAs[Long]("sequence_number")); r
          }))
      }
      org.apache.spark.sql.graftexpr.TestPlans.frame(df, counted)
        .write.format("noop").mode("overwrite").save()
      assert(passes.nonEmpty, s"${q.name} has no interpreter")
      passes.foreach { acc =>
        val seqs = acc.value.asScala.toSeq
        val (rows, inputs) = (seqs.size, seqs.distinct.size)
        assert(inputs > 0 && rows == inputs,
          s"${q.name}: $rows interpreter rows for $inputs inputs")
      }
      // the view is sorted before the interpreter, so results come out in
      // key order (template_sniff: per sub-template block)
      val rows = df.collect().toSeq
      val blocks =
        if (q.name == "template_sniff") rows.groupBy(_.getString(1)).values.toSeq
        else Seq(rows)
      blocks.foreach { b =>
        val keys = b.map(_.getLong(0))
        assert(keys == keys.sorted, s"${q.name} rows out of key order")
      }
    }
  }

  test("fanOut probes metadata only — no RDD conversion in the plan") {
    val plan = executedPlan(Tables.fanOut(Tables.documents(spark, sf))
      .select(col("doc_id"), length(col("text")).as("len")))
    assert(!plan.contains("DeserializeToObject"),
      s"fanOut forced a Dataset->RDD conversion:\n$plan")
    assert(plan.contains("REPARTITION"), // the few-split local table fans out
      s"expected round-robin repartition of the single-split source:\n$plan")
  }

  test("asOf shuffles once on the join key (union-window, no join node)") {
    val ev = Tables.events(spark, sf)
    val plan = executedPlan(ext.Joins.asOf(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      "user_id", "ts", "ts", "event_id", Seq("event_id", "value")))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size === 1,
      s"expected exactly one key-partitioned exchange:\n$plan")
    assert(!plan.contains("Join"), s"asOf should not plan a join node:\n$plan")
  }

  test("rangeJoin broadcasts a small interval side") {
    import spark.implicits._
    val iv = Seq((1L,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("interval_id", "start", "end")
    val plan = executedPlan(
      ext.Joins.rangeJoin(Tables.events(spark, sf), "ts", iv, 3600L * 1000000))
    assert(plan.contains("BroadcastHashJoin"),
      s"small interval side should broadcast:\n$plan")
  }

  test("decontaminate broadcasts the eval-set gram side") {
    val docs = Tables.documents(spark, sf)
    val plan = executedPlan(ext.TextAnalysis.decontaminate(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0), n = 5))
    assert(plan.contains("BroadcastHashJoin"),
      s"eval gram set should broadcast:\n$plan")
  }

  test("dedup_url reads only doc_id+source — text never leaves the scan") {
    val url = concat(lit("https://"), col("source"), lit("/"),
      (col("doc_id") % 50).cast("string"))
    val plan = executedPlan(
      ext.Urls.dedupByUrl(Tables.documents(spark, sf), url))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"column pruning lost (a 100 TB text column would ride the scan):\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial agg lost:\n$plan")
  }

  test("bigram LM keeps partial aggregation and broadcasts the vocab scalar") {
    val plan = executedPlan(
      ext.TextAnalysis.bigramLmScore(Tables.documents(spark, sf)))
    // gram/history counts must combine map-side before their exchanges
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"partial agg lost:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"vocab-scalar broadcast lost:\n$plan")
  }

  test("PQ scoring broadcasts LUTs and scans codes, not embeddings") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val books = ext.Similarity.pqTrain(emb, m = 4, k = 4, iters = 1, dim = 64)
    val codes = ext.Similarity.pqEncode(emb, books, m = 4, dim = 64)
      .localCheckpoint() // pin: downstream must see only (vec_id, codes)
    val luts = ext.Similarity.pqLut(emb.filter(col("vec_id") < 3), books,
      m = 4, k = 4, dim = 64)
    val scored = codes.as("c")
      .join(broadcast(luts.as("q")), col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id"), col("c.vec_id"),
        graft.functions.PqAdc(col("c.codes"), col("q.lut"), 4).as("adc"))
    val plan = executedPlan(scored)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"LUT broadcast lost:\n$plan")
    // the streamed (corpus) side is the pinned codes table: its scan must
    // carry codes only — full-precision vectors appear solely inside the
    // broadcast LUT subtree (3 query rows), never on the corpus scan
    val scanLine = plan.linesIterator.find(_.contains("Scan ExistingRDD"))
    assert(scanLine.exists(l => l.contains("codes") && !l.contains("embedding")),
      s"full-precision vectors leaked into the scoring scan:\n$plan")
  }

  test("lang_scores is callable from SQL via GraftExtensions") {
    import ext.TextAnalysis
    val nLangs = TextAnalysis.langWords.length + TextAnalysis.charLangs.length
    val row = spark.sql(
      "SELECT lang_scores('the cat and the dog 的') AS s").head.getSeq[Int](0)
    assert(row.length === nLangs)
    assert(row.head === 3) // en is langWords.head: the ×2 + and ×1
    assert(row.last === 1) // zh is charLangs.last: 的 ×1
  }

  test("vec_dot is callable from SQL via GraftExtensions") {
    val row = spark.sql(
      "SELECT vec_dot(array(cast(1.5 as float), cast(2.0 as float)), " +
        "array(cast(2.0 as float), cast(3.0 as float))) AS d").head
    assert(row.getDouble(0) == 9.0)
  }

  test("hamming probe shuffles once on the block key — no join, no cartesian") {
    val hashed = ext.Multimodal.imagePhash(
      ext.Multimodal.bmpMediaFromDocuments(Tables.documents(spark, sf)))
    val plan = executedPlan(ext.Dedup.hammingNearDupPairs(
      hashed, "media_id", "phash", maxDist = 2, bits = 56))
    // the banding probe is group-then-expand: exactly one exchange (the
    // (blk, v) groupBy); pair generation happens inside the aggregated
    // array, so no join node and no cartesian may appear
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"probe must shuffle exactly once:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"probe must not join:\n$plan")
  }

  test("cross-corpus dedup is membership joins — no pair expansion, no cartesian") {
    val docs = Tables.documents(spark, sf)
    val plan = executedPlan(ext.Dedup.dedupAgainst(
      docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0)))
    assert(!plan.contains("CartesianProduct"), s"cartesian leaked:\n$plan")
    // both dedup arms are semi joins (digest membership, bucket
    // membership) — an inner join would materialize pair rows
    assert(plan.contains("LeftSemi"), s"membership joins lost:\n$plan")
    assert(!plan.contains("explode(") || !plan.contains("doc_a"),
      s"pair expansion crept in:\n$plan")
  }

  test("attach boundary probe is footer-exact with no data scan — " +
      "out-of-order event-time partitions included") {
    // SharedGroup.attach starts a Latest (or nothing-found ByTime)
    // attacher at EventBus.maxSequenceFrame. The r17
    // newest-date-partition pruning was UNSOUND (ADVICE r17 high): date
    // partitions derive from EVENT time, which is not append-monotone —
    // a later append carrying an OLDER date puts the top sequence in an
    // old directory and the pruned probe undershoots. The r18 probe
    // answers from parquet footer stats: exact for ANY partition scheme,
    // and metadata-only (no file scan of the bus in the returned plan).
    import graft.streaming.EventBus
    import graft.model.EventView
    val dir = java.nio.file.Files.createTempDirectory("busmax").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 60)
    bus.appendPartitioned(base.filter(col("sequence_number") < 20)
      .withColumn("date", lit("2024-05-01")), "date")
    bus.appendPartitioned(base.filter(col("sequence_number") >= 20 &&
        col("sequence_number") < 40)
      .withColumn("date", lit("2024-05-02")), "date")
    // the regression case: the LATEST append (highest sequences) carries
    // the OLDEST event date — exactly the out-of-order republish the
    // streaming dedup fix treats as first-class
    bus.appendPartitioned(base.filter(col("sequence_number") >= 40)
      .withColumn("date", lit("2024-04-30")), "date")
    val frame = bus.maxSequenceFrame(spark)
    val expected = bus.read(spark).agg(max(col("sequence_number")))
      .head.getLong(0)
    assert(frame.head.getLong(0) == expected,
      "probe must answer the true global max despite the newest " +
        "sequences living in the OLDEST date partition")
    // footer path: the answer is a driver-side literal, not a bus scan
    val plan = executedPlan(frame)
    assert(!plan.contains("Scan parquet"),
      s"boundary probe must not scan bus data:\n$plan")
    // a flat (unpartitioned) bus answers identically
    val flatDir = java.nio.file.Files.createTempDirectory("busflat").toString
    val flat = EventBus(flatDir)
    flat.append(base)
    assert(flat.maxSequenceFrame(spark).head.getLong(0) ==
      flat.read(spark).agg(max(col("sequence_number"))).head.getLong(0))
  }

  test("attach delta-round reads prune files below the served boundary") {
    // a read above offset B (the range a stream batch serves); a file
    // whose footer max sequence is ≤ B cannot hold those rows and must be
    // pruned before any data IO (VERDICT r17 #6 — footer-based, because
    // date-partition pruning is unsound for event-time partitions)
    import graft.streaming.EventBus
    import graft.model.EventView
    val dir = java.nio.file.Files.createTempDirectory("busdelta").toString
    val bus = EventBus(dir)
    val base = EventView.fromEventsTable(Tables.events(spark, sf))
      .filter(col("sequence_number") < 60)
    bus.append(base.filter(col("sequence_number") < 20).repartition(2))
    bus.append(base.filter(col("sequence_number") >= 20 &&
      col("sequence_number") < 40).repartition(2))
    val oldFiles = bus.read(spark).inputFiles.toSet
    bus.append(base.filter(col("sequence_number") >= 40).repartition(2))
    val delta = bus.readAboveSequence(spark, 39L)
      .filter(col("sequence_number") > 39L)
    assert(delta.inputFiles.forall(f => !oldFiles.contains(f)),
      s"delta read must touch only files appended past the boundary; " +
        s"read: ${delta.inputFiles.mkString(", ")}")
    assert(delta.count() == base.filter(col("sequence_number") >= 40).count())
    // correctness across the boundary: a mid-range read still sees every
    // qualifying row even when it spans multiple appends
    assert(bus.readAboveSequence(spark, 19L)
      .filter(col("sequence_number") > 19L).count() ==
      base.filter(col("sequence_number") >= 20).count())
  }
}
