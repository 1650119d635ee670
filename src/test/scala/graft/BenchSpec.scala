package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's two pure outputs besides the timings themselves: the probe
  * group-width histogram it writes into the detail artifact (checked here
  * on the streaming near-dup ingest, whose state law it attributes), and
  * the single stdout JSON line, whose length budget keeps it inside the
  * driver's 2000-char tail window at any registry size.
  */
class BenchSpec extends AnyFunSuite {

  test("stream_neardup_ingest histogram reports distinct-fp state widths") {
    // needs a real session + testdata
    val sf = "/root/testdata/sf0.001"
    if (new java.io.File(sf).isDirectory) {
      import org.apache.spark.sql.functions._
      val spark = graft.GraftSession.local()
      val rows = Bench.probeHistograms("stream_neardup_ingest")(spark, sf)
        .collect()
      assert(rows.nonEmpty)
      // shape: (log2_width, n_groups, max_width, uncapped_pairs, capped_pairs)
      val totalGroups = rows.map(_.getLong(1)).sum
      val maxWidth = rows.map(_.getLong(2)).max
      assert(totalGroups > 0 && maxWidth >= 1)
      // the stage's 2^20 maxState cap must be inert at this scale:
      // capped == uncapped on every bucket
      rows.foreach(r => assert(r.getLong(4) == r.getLong(3),
        s"stream state cap engaged at sf0.001 - unexpected: $r"))
      // the histogram measures DISTINCT-fingerprint state, not events:
      // each distinct (type, fp) contributes exactly 3 block rows, so no
      // single (type, block, value) group can exceed the distinct count
      val distinctFps = Tables.events(spark, sf).select(
        coalesce(col("event_type"), lit("\u001a")).as("t"),
        graft.functions.SimHash(
          split(coalesce(col("props"), lit("\u001a")), " ", -1),
          graft.streaming.StreamNearDedup.Bits).as("fp"))
        .distinct().count()
      assert(maxWidth <= distinctFps,
        s"a group wider ($maxWidth) than the distinct-fp count ($distinctFps)")
      graft.GraftSession.sweepPersisted(spark)
    }
  }

  test("the stdout line stays inside the driver's tail window at any registry size") {
    // rounds 12-14 overflowed the 2000-char tail and shipped parsed:null;
    // the budget must hold for a registry far larger than today's, with
    // failures and all four scale tiers present
    val walls = (1 to 400).map(i => (f"query_with_a_long_name_$i%03d", i * 0.173))
    val failed = (1 to 20).map(i => s"failed_query_$i")
    val ratios =
      (1 to 120).map(i => ("scale", 10, s"scaled_query_name_$i", i * 0.31)) ++
        (1 to 40).map(i => ("scale26", 26, s"capped_query_name_$i", i * 0.17)) ++
        (1 to 10).map(i => ("scale100", 100, s"headline_query_$i", i * 1.1)) ++
        (1 to 6).map(i => ("scaleF", 10, s"fresh_stream_query_$i", i * 0.9))
    val line = Bench.buildFinalLine(walls, failed, ratios, "/root/testdata/sf0.1")
    assert(line.length <= Bench.LineBudget,
      s"line is ${line.length} chars, budget ${Bench.LineBudget}")
    // and it is one VALID JSON object with the exact total preserved
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val expectTotal = walls.map(_._2).sum
    assert(math.abs(root.path("value").asDouble - expectTotal) < 0.01)
    // every kept per-query value plus "other" must re-sum to the total
    import scala.jdk.CollectionConverters._
    val qs = root.path("queries")
    assert(qs.has("other"))
    val entries = qs.elements.asScala.map(_.asDouble).toSeq
    assert(math.abs(entries.sum - expectTotal) < 0.05)

    // mass-failure round: the failed LIST is budgeted (a ~70-name list
    // alone would overflow the tail), but failed_n carries the true count
    val massFailed = (1 to 150).map(i => f"failed_query_with_long_name_$i%03d")
    val line2 = Bench.buildFinalLine(walls, massFailed, ratios,
      "/root/testdata/sf0.1")
    assert(line2.length <= Bench.LineBudget,
      s"mass-failure line is ${line2.length} chars")
    val root2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line2)
    assert(root2.path("failed_n").asInt == 150)
    assert(root2.path("failed").isArray && root2.path("failed").size > 0)
  }
}
