package graft

import graft.ext.{Curation, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftexpr.LeafFrame
import org.apache.spark.storage.StorageLevel

/** The operator-internal pin lifecycle (VERDICT r8 #4): pins are evicted
  * automatically once an action over the operator's returned frame
  * completes, leaving a library-user session with zero persisted blocks and
  * no harness sweep required — and eviction is lineage-safe, so re-running
  * the frame afterwards recomputes instead of failing.
  */
class GraftCacheSpec extends SparkSpec {

  /** The eviction listener fires asynchronously on the listener bus;
    * completion lands shortly after the action returns. Poll.
    */
  private def awaitNoBlocks(maxMs: Long = 30000): Boolean = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline) {
      if (spark.sparkContext.getPersistentRDDs.isEmpty &&
        GraftCache.pendingCount == 0) return true
      Thread.sleep(100)
    }
    false
  }

  private def freshStart(): Unit = {
    GraftSession.sweepPersisted(spark)
    assert(awaitNoBlocks(), "suite must start with a clean block store")
  }

  test("ivfPqTopK: zero persisted blocks after the action; frame still " +
      "re-runnable (recompute, not missing-checkpoint failure)") {
    freshStart()
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    // residual = true: the corpus-wide residual training-input frame is
    // the operator's one remaining pin (optimization r21 collected the
    // trained models to the driver — the non-residual path pins nothing)
    val out = Similarity.ivfPqTopK(emb, queries, kNeighbors = 3,
      kCells = 4, cellIters = 2, nprobe = 2, m = 4, kCodes = 8, pqIters = 2,
      dim = 64, residual = true)
    // construction pinned the residual frame (it fed the training jobs)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(GraftCache.pendingCount >= 1)
    val first = out.count()
    assert(first > 0)
    assert(awaitNoBlocks(),
      "trained-model pins must be evicted once the action completes")
    // lineage-safe eviction: a second action recomputes the same answer
    assert(out.count() === first)
    GraftSession.sweepPersisted(spark)
  }

  test("semanticDedup and curateFuzzy evict their pins on completion") {
    freshStart()
    val emb = Tables.embeddings(spark, sf)
    val sd = Similarity.semanticDedup(emb, k = 4, iters = 2, dim = 64,
      threshold = 0.2)
    assert(sd.count() === emb.count())
    assert(awaitNoBlocks(), "semanticDedup pin must be evicted")

    val docs = Tables.documents(spark, sf)
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val cf = Curation.curateFuzzy(docs, evalSet)
    assert(cf.count() >= 0)
    assert(awaitNoBlocks(),
      "curateFuzzy/duplicateGroups pins must be evicted")
  }

  test("a derivative of the result (orderBy/select on top) also triggers " +
      "eviction — terminal matching is containment, not identity") {
    freshStart()
    val emb = Tables.embeddings(spark, sf)
    val sd = Similarity.semanticDedup(emb, k = 4, iters = 2, dim = 64,
      threshold = 0.2)
    sd.orderBy(col("vec_id")).select("vec_id", "is_semantic_dup")
      .write.format("noop").mode("overwrite").save()
    assert(awaitNoBlocks(), "a derived plan containing the terminal must evict")
  }

  test("a LATE completion event from run N cannot evict run N+1's pins " +
      "(each terminal reads its own invocation's leaves)") {
    freshStart()
    // two back-to-back invocations of the "same operator": plan-identical
    // pins, independently materialized — Bench's best-of-two shape
    def invoke() = {
      val pin = GraftCache.pinLeaf(
        spark.range(100).toDF("v").withColumn("h", md5(col("v").cast("string"))))
      val result = spark.range(50).toDF("k").join(pin, col("k") === col("v"))
      (GraftCache.releaseAfter(result, pin), pin)
    }
    // the pin's blocks, asked of the block registry (not the CacheManager)
    def persisted(pin: DataFrame): Boolean = LeafFrame.leafRdds(pin).forall(r =>
      spark.sparkContext.getPersistentRDDs.contains(r.id) &&
        r.getStorageLevel != StorageLevel.NONE)
    val (r1, p1) = invoke()
    val (_, p2) = invoke()
    assert(GraftCache.pendingCount === 2)
    assert(persisted(p1) && persisted(p2))
    // an action on run 1's result, arriving after run 2 registered: run 1's
    // terminal reads run 1's leaf RDD and run 2's reads run 2's, so the
    // sweep must evict entry 1 only — and releasing run 1's pin must not
    // drop the plan-identical data run 2 still reads
    r1.collect()
    val deadline = System.currentTimeMillis() + 30000
    while ((GraftCache.pendingCount > 1 || persisted(p1)) &&
      System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(GraftCache.pendingCount === 1,
      "run 1's completion must evict exactly its own entry")
    assert(!persisted(p1), "run 1's pin must be released by its own terminal")
    assert(persisted(p2),
      "run 2's pin must still be persisted after run 1's late-matching event")
    GraftSession.sweepPersisted(spark)
    assert(awaitNoBlocks())
  }

  test("releaseAfter rejects a result that reads none of its pins") {
    freshStart()
    val pin = GraftCache.pinLeaf(spark.range(10).toDF("v"))
    // without one of its own leaves, a terminal is plan-identical across
    // invocations and a late event from one could evict the other's pins
    intercept[IllegalArgumentException] {
      GraftCache.releaseAfter(spark.range(5).toDF("v"), pin)
    }
    assert(GraftCache.pendingCount === 0)
    GraftCache.releaseNow(pin)
    assert(awaitNoBlocks())
  }

  test("pinLeaf: leaf-rooted pin evicts through the terminal and a " +
      "post-eviction consumer recomputes WITHOUT re-persisting") {
    freshStart()
    val (leaf, n) = GraftCache.pinLeafCounted(
      spark.range(1000).toDF("v").withColumn("h", md5(col("v").cast("string"))))
    assert(n === 1000)
    // the returned frame is a compact leaf (LogicalRDD), not the lineage
    assert(leaf.queryExecution.analyzed.getClass.getSimpleName === "LogicalRDD",
      leaf.queryExecution.analyzed.toString)
    // ...that carries the materialized statistics (broadcast decisions)
    assert(leaf.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(1000)))
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    val result = leaf.filter(col("v") < 100)
    GraftCache.releaseAfter(result, leaf)
    assert(result.count() === 100)
    assert(awaitNoBlocks(), "leaf pin must evict through the terminal")
    // lineage-safe: the leaf's RDD recomputes from the captured physical
    // plan — and must NOT silently re-persist (the storage level was cleared)
    assert(result.count() === 100)
    Thread.sleep(1000)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "a post-eviction read must not re-persist blocks")
  }

  test("unrelated actions do not evict a pending operator's pins") {
    freshStart()
    val emb = Tables.embeddings(spark, sf)
    val sd = Similarity.semanticDedup(emb, k = 4, iters = 2, dim = 64,
      threshold = 0.2)
    assert(GraftCache.pendingCount >= 1)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    assert(pinnedBefore >= 1)
    // an action that does not contain the terminal plan
    Tables.documents(spark, sf).limit(10).count()
    // give the async listener time to (not) act
    Thread.sleep(1500)
    assert(GraftCache.pendingCount >= 1,
      "entry must survive unrelated executions")
    assert(spark.sparkContext.getPersistentRDDs.size === pinnedBefore,
      "pins must survive unrelated executions")
    // drain for the next suite
    assert(sd.count() === emb.count())
    assert(awaitNoBlocks())
  }
}
