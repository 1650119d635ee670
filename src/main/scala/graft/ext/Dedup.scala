package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY §7.7 / BASELINE north star). All operators are pure
  * DataFrame→DataFrame, shuffle only on their blocking/bucket keys, and keep
  * per-row work inside whole-stage codegen (higher-order functions, no UDFs).
  *
  * 100 TB design notes per operator are on each method.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content. At scale this is one shuffle on
    * the (fixed-width) digest rather than the full text — group on
    * md5(text), keep the min id as the canonical representative.
    * Map-side partial aggregation keeps the shuffle at ~1 row per distinct
    * digest per mapper.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** n-word shingles (n=3): the MinHash input set. */
  def shingles(words: Column, n: Int = 3): Column =
    transform(sequence(lit(1), greatest(size(words) - (n - 1), lit(0))),
      i => concat_ws(" ", (0 until n).map(k => element_at(words, i + k)): _*))

  /** MinHash modulus (large prime) and per-signature universal-hash
    * parameters: sig_i = min over shingles of ((h mod p)·a_i + b_i) mod p.
    * Intermediates stay < 2^63 in both Spark and DuckDB 64-bit arithmetic.
    */
  val MinhashP = 1000000007L
  val MinhashA: Seq[Long] = Seq(1L, 31L, 131L, 1313L)
  val MinhashB: Seq[Long] = Seq(0L, 7L, 17L, 37L)

  /** 60-bit shingle hashes: decimal value of the first 15 hex chars of md5
    * (fits signed 64-bit, always positive). This is the ONE digest pass per
    * document — every signature derives from this array by cheap mixing.
    */
  def shingleHashes(words: Column, n: Int = 3): Column =
    transform(shingles(words, n),
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("bigint"))

  /** One MinHash signature from the pre-hashed shingle array: arithmetic
    * only (universal-hash mix + array_min), no digests.
    */
  def sigFromHashes(hs: Column, i: Int): Column =
    array_min(transform(hs,
      h => ((h % MinhashP) * MinhashA(i) + MinhashB(i)) % MinhashP))

  /** MinHash signatures (4 mixes) per document over 3-word shingles.
    * Scale: embarrassingly parallel scan; signature is 32 bytes/doc
    * regardless of document size — the shuffle for the LSH join moves
    * signatures, never documents.
    *
    * Per-row kernel (optimization r21): the column spelling above
    * ([[shingleHashes]] + 4× [[sigFromHashes]]) runs FIVE interpreted
    * higher-order functions per document — no codegen, no subexpression
    * elimination, a shingle string + 32-char hex string + substring +
    * decimal re-parse allocated per window. [[graft.functions.MinhashSigs]]
    * computes the identical four signatures in one whole-stage-codegen
    * call per row straight off the raw digest bytes (HashKernelsSpec pins
    * kernel ≡ column spelling on randomized corpora; the DuckDB oracles
    * replay the same math independently). The helpers above remain the
    * executable spec of the per-window arithmetic.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ", -1)
    graft.Tables.fanOut(docs.filter(size(words) >= 3))
      .withColumn("__ws", words)
      .select(col("doc_id"),
        graft.functions.MinhashSigs(col("__ws"), 3, 15, MinhashP,
          MinhashA, MinhashB).as("__mh"))
      .select(col("doc_id"),
        col("__mh.sig0").as("sig0"), col("__mh.sig1").as("sig1"),
        col("__mh.sig2").as("sig2"), col("__mh.sig3").as("sig3"))
  }

  /** Band key: signatures joined with a separator so variable-width decimal
    * renderings can't collide ("1"+"23" vs "12"+"3").
    */
  private def bandKey(a: Column, b: Column): Column =
    concat_ws(":", a.cast("string"), b.cast("string"))

  /** (doc_id, band, bucket) rows: one per document per band. */
  def lshBandAssignments(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(map(
        lit(0), bandKey(col("sig0"), col("sig1")),
        lit(1), bandKey(col("sig2"), col("sig3")))).as(Seq("band", "bucket")))

  /** LSH banding over the signatures: 2 bands × 2 rows. Documents agreeing
    * on a whole band land in the same bucket; bucket join yields candidate
    * pairs (near-dup threshold ≈ (1/b)^(1/r)). Returned here as the band
    * histogram (band, bucket, size, id range); [[lshCandidatePairs]] is the
    * pair-producing join.
    */
  def lshBands(sigs: DataFrame): DataFrame =
    lshBandAssignments(sigs)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))

  /** Candidate near-dup pairs: documents sharing any band bucket, distinct
    * across bands. One signature computation, one shuffle: group by
    * (band, bucket) — moving only (band, bucket, doc_id), never signatures
    * or documents — then expand each bucket's sorted id list into ordered
    * pairs. (A self-join spelling computes the signature subtree twice and
    * shuffles both copies.)
    *
    * Per-bucket expansion is O(width²), so a single hot bucket is a scale
    * cliff: a corpus seeded with n mutually-near-duplicate documents puts
    * all n in one bucket in EVERY band — n²/2 pair rows per band before
    * the distinct (measured: the 10× bench corpus's 770-doc bucket turned
    * a ~4 s stage into the dominant cost of the fused curation pipeline).
    * Buckets wider than `maxBucket` therefore emit the sorted CHAIN
    * (ids(i), ids(i+1)) instead of the clique — O(width) rows with the
    * SAME connected components, so group-level dedup ([[duplicateGroups]],
    * the only consumer that matters at that width) is unchanged; only the
    * exhaustive pair listing degrades, documented here. The cap is inert
    * at oracle scale (driver buckets are ≤ tens wide) — same pattern as
    * the simhash probe's MinK block cap.
    */
  def lshCandidatePairs(sigs: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    lshCandidatePairs(sigs, maxBucket, distinctPairs = true)

  /** The one spelling of the default bucket cap — the public default and
    * the distinct-elision overload below must stay the same value. */
  private val DefaultMaxBucket = 256

  /** `distinctPairs = false` skips the cross-band `.distinct()` — one full
    * pair-set exchange — for consumers that only feed [[duplicateGroups]]:
    * a pair emitted by both bands is a duplicate EDGE, and the union-find
    * contraction drops already-connected edges by construction, so the
    * groups (and everything derived from them) are identical. The
    * pair-LISTING operators (`dedup_lsh_pairs`) keep the distinct
    * (optimization r21, guide §2.4 "remove shuffles outright").
    */
  /** Two-arg convenience: the union-find-feeding call sites want only the
    * distinct elision, not a maxBucket override — without this overload
    * each restated the public default's 256 to reach the 3-arg form, and a
    * future default change would silently diverge them from
    * `dedup_lsh_pairs` (ADVICE r21).
    */
  private[graft] def lshCandidatePairs(sigs: DataFrame,
      distinctPairs: Boolean): DataFrame =
    lshCandidatePairs(sigs, DefaultMaxBucket, distinctPairs)

  private[graft] def lshCandidatePairs(sigs: DataFrame, maxBucket: Int,
      distinctPairs: Boolean): DataFrame = {
    val ids = sort_array(collect_list(col("doc_id")))
    val cliquePairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))),
        b => struct(a.as("doc_a"), b.as("doc_b")))))
    val chainPairs = transform(slice(col("ids"), lit(1), size(col("ids")) - 1),
      (a, i) => struct(a.as("doc_a"), element_at(col("ids"), i + 2).as("doc_b")))
    val pairs = lshBandAssignments(sigs)
      .groupBy(col("band"), col("bucket")).agg(ids.as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(
        when(size(col("ids")) <= maxBucket, cliquePairs)
          .otherwise(chainPairs)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
    if (distinctPairs) pairs.distinct() else pairs
  }

  /** SimHash (16-bit here; width is a constant): per bit, the sign of the
    * ±1 vote sum over token hashes. One pass, no shuffle; near-dup search is
    * then a hamming-ball probe on the fingerprint (e.g. by pigeonhole split
    * into 4-bit blocks → equality join per block at scale).
    *
    * The token-hash array is staged in its own projection and referenced
    * once per bit, so the md5 pass over the words runs ONCE per document —
    * inlining it into the per-bit loop would multiply the digest work by
    * the fingerprint width (this was 16 md5 passes per word in round 1).
    */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame =
    simhash(docs, bits, Nil)

  /** `carry` columns ride along unchanged — the blocking keys
    * (lang, source, length bucket) a cohorted probe needs. */
  def simhash(docs: DataFrame, bits: Int, carry: Seq[String]): DataFrame =
    // one codegen'd pass per doc ([[graft.functions.SimHash]]): md5 per
    // word (hash width = bits/4 hex chars, so every fingerprint bit has a
    // live vote source), ±1 votes across all bits. The column spelling it
    // replaced ran `bits` separate interpreted aggregate folds per doc —
    // O(words·bits) interpreted lambda calls; bit-identical output
    // (parity pinned in DedupSpec, and the DuckDB oracle still replays
    // the fold arithmetic)
    graft.Tables.fanOut(docs)
      .select(col("doc_id") +:
        graft.functions.SimHash(split(col("text"), " ", -1), bits).as("simhash") +:
        carry.map(col): _*)

  /** Transitive duplicate groups from candidate pairs (the decision step
    * after LSH/Jaccard/SimHash candidates): connected components by
    * iterative min-label propagation — each node adopts the smallest label
    * among itself and its neighbors until fixpoint (≤ diameter iterations,
    * O(log n) for typical dup clusters). Every iteration is one shuffle on
    * the edge key; each iteration's frame is re-rooted at an RDD leaf so
    * the Catalyst plan stays O(1) deep across iterations. The
    * group id is the smallest doc_id in the component — the conventional
    * keeper — so dedup = `filter(!is_keeper)` to drop, or join back for
    * keep-best-by-quality policies. A per-partition union-find contraction
    * runs first (see below), so both branches operate on a spanning forest
    * of the candidate graph, never the raw clique-heavy pair set.
    */
  def duplicateGroups(pairs: DataFrame): DataFrame =
    duplicateGroups(pairs, 2000000)

  /** The contraction pass fronting both [[duplicateGroups]] branches: each
    * partition union-finds ITS OWN edges and emits only the spanning edges
    * that actually united two components. Connectivity-preserving by
    * construction (an edge is dropped only when its endpoints were already
    * connected by emitted edges of the same partition) and every node
    * survives (a node's first edge always unites, so it is always emitted;
    * a self-pair — defensive, no producer here emits one — is kept once so
    * its singleton component still reaches the label pass). Per-task memory
    * is O(local distinct nodes) ≤ 2·(partition edge count) — bounded by the
    * upstream partition size, never the whole graph. `private[ext]` so
    * DedupContractionSpec can pin the forest-size bound directly.
    */
  private[ext] def localForest(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.mapPartitions { it =>
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (parent.getOrElse(cur, cur) != root) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      it.foreach { r =>
        val a = r.getLong(0)
        val b = r.getLong(1)
        if (a == b) {
          if (!parent.contains(a)) { parent(a) = a; kept += ((a, b)) }
        } else {
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
            kept += ((a, b))
          }
        }
      }
      kept.iterator
    }.toDF("a", "b")
  }

  /** `unionFindMaxEdges` is the single-task union-find cutover (see the
    * threshold comment below); parameterized so specs can force the
    * distributed propagation branch on small graphs.
    */
  def duplicateGroups(pairs: DataFrame, unionFindMaxEdges: Long): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Local-contraction round (the "filtering" step of the MapReduce-CC
    // literature) — see [[localForest]]. Degenerate near-dup graphs are
    // clique-heavy — a k-clique's k²/2 capped pairs contract to k−1 tree
    // edges per partition — so the branch decision and everything
    // downstream runs on the forest, not the raw pair set (measured: the
    // 10× audio-curation graph contracts 2.1 M pairs → well under the
    // single-task cutover, turning a 13.7 s propagation loop into a ~3 s
    // union-find).
    // pinLeafCounted: the pin's materialization doubles as the branch
    // decision's count — the separate forest.count() job it replaces was
    // one whole driver job round per invocation (optimization r21), and the
    // LEAF re-rooting keeps every downstream consumer's plan O(1)-deep at
    // this boundary instead of embedding the pair subtree
    val (forest, forestEdges) = graft.GraftCache.pinLeafCounted(localForest(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))))
    // a forest that fits one partition gets a single union-find pass
    // (path compression, union-by-min-root) producing the converged
    // min-label components in ONE job — the per-round
    // join+agg+checkpoint+count loop pays ~5 driver jobs PER ITERATION for
    // the same answer (measured: a 1.2M-edge graph cost 56 s through the
    // loop, ~3 s through union-find). The threshold is executor-memory
    // bound, not speed bound: a LongMap holds ~16 bytes/node, so 2M edges
    // ≈ a few hundred MB transient per ONE task — far under executor
    // memory, and only forests past that (billions of edges at 100 TB,
    // where no single machine holds even the contracted node set) take the
    // distributed propagation loop with full parallelism.
    var loopPin: DataFrame = null
    var edgesWide: DataFrame = null
    var labelsPin: DataFrame = null
    val labels = if (forestEdges <= unionFindMaxEdges) {
      // the label frame is PINNED (r18, VERDICT r17 #3): consumers like
      // [[dedupKeepBest]] reference the groups frame twice in one plan
      // (keyed → argmax → join back), and without the pin each reference
      // re-runs the whole single-task union-find — the low-parallelism
      // phase that made the keep_best 100× row's cpu profile swing across
      // machines. One eager materialization here; the consumers scan
      // ~16 bytes/node of pinned blocks.
      // coalesce(1), not repartition(1): the forest is a pinned leaf, so
      // the single union-find task pulls the cached blocks directly — the
      // repartition spelling paid a full shuffle write/read plus one more
      // AQE job round for the identical row set (union-find labels are
      // order-independent: min-root wins whatever the edge order)
      labelsPin = graft.GraftCache.pinLeaf(
        forest.coalesce(1).mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var root = x
          while (parent.getOrElse(root, root) != root) root = parent(root)
          var cur = x // path compression
          while (parent.getOrElse(cur, cur) != root) {
            val nxt = parent(cur); parent(cur) = root; cur = nxt
          }
          root
        }
        it.foreach { r =>
          val a = r.getLong(0)
          val b = r.getLong(1)
          // seed identity entries so every node (including final roots)
          // appears in the key set emitted below
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            // min root wins: the component label is its smallest doc_id
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        // materialize the key set BEFORE the find() sweep: path
        // compression writes into the same map, and mutating a mutable
        // map mid-iteration is undefined
        val ids = parent.keys.toArray
        ids.iterator.map(id => (id, find(id)))
      }.toDF("id", "comp"))
      labelsPin
    } else {
      edgesWide = graft.GraftCache.pinLeaf(
        forest.union(forest.select(col("b").as("a"), col("a").as("b")))
          .distinct())
      // each iteration pins the new label frame and immediately releases
      // the superseded one (safe: GraftCache pins keep lineage, so a
      // post-eviction read recomputes instead of failing) — a converged
      // loop holds exactly one labels frame, not one per iteration
      var pinnedLbl = graft.GraftCache.pinLeaf(
        edgesWide.select(col("a").as("id")).distinct()
          .select(col("id"), col("id").as("comp")))
      var lbl = pinnedLbl
      var changed = 1L
      while (changed > 0) {
        val nbrMin = edgesWide.join(lbl, edgesWide("b") === lbl("id"))
          .groupBy(col("a").as("id2")).agg(min(col("comp")).as("nmin"))
        val updPlan = lbl.join(nbrMin, lbl("id") === nbrMin("id2"), "left")
          .select(col("id"), col("comp"),
            least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp2"))
        // Re-root each iteration's frame at an RDD leaf: without this the
        // Catalyst plan nests every prior iteration's join chain, so
        // analysis/optimization cost grows per iteration — and this branch
        // is the one that runs at 100 TB, where components can take tens
        // of iterations. pinLeaf does the re-rooting natively over a
        // persisted InternalRow RDD (the former createDataFrame(updPlan.rdd,
        // schema) spelling paid a Row deserialize/re-serialize round per
        // row per iteration); unlike a localCheckpoint (whose released
        // blocks are unrecoverable, voiding [[graft.GraftCache]]'s
        // evict-anytime safety contract), the leaf's RDD keeps its full
        // recompute lineage: evicting any pin at any time still only costs
        // a recompute, never a failure.
        val upd = graft.GraftCache.pinLeaf(updPlan)
        changed = upd.filter(col("comp2") =!= col("comp")).count()
        graft.GraftCache.releaseNow(pinnedLbl)
        pinnedLbl = upd
        lbl = upd.select(col("id"), col("comp2").as("comp"))
      }
      loopPin = pinnedLbl
      lbl
    }
    val result =
      labels.select(col("id").as("doc_id"), col("comp").as("group_id"),
        (col("id") === col("comp")).as("is_keeper"))
    graft.GraftCache.releaseAfter(result,
      (Seq(forest) ++ Option(labelsPin) ++ Option(edgesWide) ++
        Option(loopPin)): _*)
  }

  /** The whole dedup pipeline composed: exact dedup (keep the smallest id
    * per content hash), then MinHash→LSH→connected-components near-dup
    * grouping over the survivors, keeping each group's keeper. Returns the
    * deduplicated corpus. This is the operator a training pipeline
    * actually runs; the stages above are its observable pieces.
    */
  def dedupCorpus(docs: DataFrame): DataFrame = {
    val exactKeepers = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val survivors = docs.join(exactKeepers, "doc_id")
    val nearDupLosers = duplicateGroups(lshCandidatePairs(
      minhashSignatures(survivors), distinctPairs = false))
      .filter(!col("is_keeper")).select("doc_id")
    survivors.join(nearDupLosers, Seq("doc_id"), "left_anti")
  }

  /** Cross-corpus dedup: flag documents of a NEW corpus that duplicate a
    * REFERENCE corpus — the incremental-snapshot operator (each new
    * Common-Crawl dump is deduplicated against the dumps already in the
    * training set). Verdict per new document: `exact_dup` (content digest
    * present in the reference), `near_dup` (shares any LSH band bucket
    * with a reference document), `keep` (neither).
    *
    * Scale shape — deliberately NO pair expansion anywhere: exact is a
    * left-semi join on fixed-width digests (one shuffle each side); near
    * is a left-semi join of the new corpus's band assignments against the
    * DISTINCT reference bucket keys — membership, not pairs, so a hot
    * bucket costs one row, not width². Reference digests/buckets are ~2
    * short rows per ref doc; for snapshot-vs-snapshot both sides shuffle,
    * for a small reference set AQE broadcasts the build side.
    */
  def dedupAgainst(newDocs: DataFrame, refDocs: DataFrame): DataFrame = {
    val nd = graft.Tables.fanOut(newDocs)
    val exactDup = nd.select(col("doc_id"), md5(col("text")).as("__h"))
      .join(refDocs.select(md5(col("text")).as("__h")).distinct(),
        Seq("__h"), "left_semi")
      .select(col("doc_id")).withColumn("__e", lit(true))
    val refBuckets = lshBandAssignments(minhashSignatures(refDocs))
      .select("band", "bucket").distinct()
    val nearDup = lshBandAssignments(minhashSignatures(nd))
      .join(refBuckets, Seq("band", "bucket"), "left_semi")
      .select("doc_id").distinct().withColumn("__n", lit(true))
    nd.select("doc_id")
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__e"), lit(false)).as("exact_dup"),
        coalesce(col("__n"), lit(false)).as("near_dup"),
        (!coalesce(col("__e"), lit(false)) && !coalesce(col("__n"), lit(false)))
          .as("keep"))
  }

  /** SimHash near-dup pairs within hamming distance `maxDist` — the lookup
    * half of the fingerprint (the hamming-ball probe that round 1 left as
    * a comment). Pigeonhole: split the `bits`-wide fingerprint into
    * maxDist+1 blocks; two fingerprints within distance maxDist must agree
    * EXACTLY on at least one block, so candidates come from equality
    * grouping per block — a shuffle on (block, value), never all-pairs —
    * followed by the exact popcount filter. Same group-then-expand shape as
    * [[lshCandidatePairs]].
    *
    * `maxBlock` bounds the per-group width: each (block, value) group keeps
    * its first `maxBlock` (doc_id, simhash) members via the bounded
    * [[graft.functions.MinK.longPairs]] aggregate — a max-heap with
    * map-side partials, so a hot block value ships ≤ maxBlock pairs per
    * mapper and no task ever materializes a full group. Without the cap a
    * `bits`-wide fingerprint at `maxDist`=2 has only 2^(bits/3) distinct
    * block values, so at corpus scale every group holds ~n/2^(bits/3)
    * members — the per-group array OOMs the executor and pair expansion is
    * O(n²/2^(bits/3)). With the cap, per-task pair work is ≤ maxBlock² and
    * group state ≤ maxBlock pairs, deterministically (doc_id order). Wider
    * fingerprints (bits up to 56) widen the blocks to ~bits/3 bits each,
    * keeping groups narrow in the first place; the cap is the hard
    * backstop for skew (near-identical template docs collapsing onto one
    * fingerprint). Candidates past the cap should come from the
    * MinHash/LSH path ([[lshCandidatePairs]]), as in [[ngramJaccardPairs]].
    */
  def simhashNearDupPairs(docs: DataFrame, maxDist: Int = 2,
      bits: Int = 16, maxBlock: Int = 2000,
      blockBy: Seq[String] = Nil): DataFrame =
    hammingNearDupPairs(simhash(docs, bits, blockBy), "doc_id", "simhash",
      maxDist, bits, maxBlock, blockBy)
      .withColumnsRenamed(Map("id_a" -> "doc_a", "id_b" -> "doc_b"))

  /** Generic hamming-ball near-dup probe over any (id, fingerprint) frame —
    * the shared lookup kernel behind [[simhashNearDupPairs]] (text SimHash),
    * [[Multimodal.imagePhash]] (image dHash), and
    * [[Multimodal.audioFingerprint]] (audio energy-delta fingerprints).
    * Same pigeonhole/cap design as documented above; `hashCol` rows that
    * are NULL (undecodable media) are excluded up front — a corrupt blob
    * must never pair with anything. Emits (id_a, id_b, hamming) with
    * id_a < id_b.
    *
    * `blockBy` adds hard blocking keys on top of the pigeonhole blocks —
    * candidates must match them EXACTLY (fingerprint bit-length, language,
    * source domain, length bucket). At 100 TB this is how a probe keeps hot
    * fingerprint values from cross-pairing unrelated cohorts, and it
    * narrows every (block, value) group before the cap even engages.
    *
    * Recall caveat when the `maxBlock` cap ENGAGES: first-match-block
    * emission compounds the cap's documented member drop. If a pair's
    * first-agreeing block group was capped and dropped one member, every
    * LATER agreeing group suppresses the pair too (the first-match test
    * recomputes block agreement from the fingerprints, not group
    * membership), so the pair is lost even where a later group retains
    * both members — recall past the cap degrades more than the drop alone.
    * Inert below the cap (exact vs the brute-force oracle). Lifting it
    * would need cross-group capped-flags (an extra shuffle on every probe)
    * for a regime the design already treats as degraded: candidates past
    * the cap should come from the LSH path, and `blockBy` cohorts are the
    * first-line fix for cap-engaging degeneracy.
    */
  def hammingNearDupPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxDist: Int, bits: Int, maxBlock: Int = 2000,
      blockBy: Seq[String] = Nil): DataFrame = {
    val nBlocks = maxDist + 1
    val base = bits / nBlocks
    val extra = bits % nBlocks
    val widths = Seq.tabulate(nBlocks)(b => if (b < extra) base + 1 else base)
    val shifts = widths.scanLeft(0)(_ + _).init
    val blockCols = (0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col(hashCol), shifts(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("v"))
    }
    val members =
      graft.functions.MinK.longPairs(col(idCol), col(hashCol), maxBlock)
    // First-match-block emission: a pair within distance maxDist agrees on
    // t ≥ 1 blocks and would be generated from each — t copies shuffled
    // into a distinct(). Instead each group emits a pair ONLY if no
    // EARLIER block's slices also agree (recomputable from the full
    // fingerprints carried in the member structs), so every pair
    // materializes exactly once and the distinct() shuffle disappears —
    // at 26× corpus scale that shuffle was the probe's dominant cost.
    // The expansion itself is the native [[graft.functions.HammingPairs]]
    // expression: one eval per group row with a primitive long loop,
    // replacing the interpreted transform/filter array lambdas that
    // walked an expression tree per candidate (~4× the probe's CPU on
    // degenerate corpora). Failing candidates never materialize as rows.
    val pairs = graft.functions.HammingPairs(col("ms"), col("blk"),
      maxDist, bits)
    val keyCols = blockBy.map(col) ++ Seq(col("blk"), col("v"))
    // The pair expansion below is COMPUTE-quadratic per group row (up to
    // maxBlock²/2 interpreted lambda evaluations) while the grouped state
    // is tiny in BYTES (≤ maxBlock packed longs per row) — exactly the
    // shape AQE's byte-based coalescing misjudges: it folds the post-agg
    // stage down to a task or two and one core grinds every degenerate
    // group (measured 2× on the keyframe probe at 10×). An explicit
    // numPartitions opts this exchange out of AQE coalescing and spreads
    // group rows across the cluster; the extra shuffle moves only the
    // already-capped member arrays, never pairs.
    val np = hashed.sparkSession.sparkContext.defaultParallelism
    hashed.filter(col(hashCol).isNotNull)
      .select(col(idCol) +: col(hashCol) +: blockBy.map(col) :+
        explode(array(blockCols: _*)).as("bv"): _*)
      .select(col(idCol) +: col(hashCol) +: blockBy.map(col) :+
        col("bv.blk") :+ col("bv.v"): _*)
      .groupBy(keyCols: _*).agg(members.as("ms"))
      .filter(size(col("ms")) > 1)
      // round-robin, NOT hash-on-keyCols: the agg already provides
      // hashpartitioning(keyCols), so a same-key repartition is elided as
      // redundant and AQE coalesces again; round-robin survives and also
      // balances regardless of which partitions the degenerate groups
      // hashed into
      .repartition(np)
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
  }

  /** Diagnostic for [[hammingNearDupPairs]]: the (blockBy, block, value)
    * group-width distribution, bucketed by ⌊log₂(width)⌋. This is the
    * instrument that separates output growth from engine growth when a
    * probe's scale ratio looks superlinear: `uncapped_pairs` is the pair
    * work the corpus DEMANDS (sum of width·(width−1)/2), `capped_pairs`
    * what the `maxBlock` cap admits — a gap between them is the cap
    * engaging, identical columns mean the probe ran exact. One scan + one
    * aggregation; never materializes pairs.
    */
  def probeGroupHistogram(hashed: DataFrame, hashCol: String,
      maxDist: Int, bits: Int, maxBlock: Int = 2000,
      blockBy: Seq[String] = Nil): DataFrame = {
    val nBlocks = maxDist + 1
    val base = bits / nBlocks
    val extra = bits % nBlocks
    val widths = Seq.tabulate(nBlocks)(b => if (b < extra) base + 1 else base)
    val shifts = widths.scanLeft(0)(_ + _).init
    val blockCols = (0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col(hashCol), shifts(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("v"))
    }
    hashed.filter(col(hashCol).isNotNull)
      .select(blockBy.map(col) :+ explode(array(blockCols: _*)).as("bv"): _*)
      .select(blockBy.map(col) :+ col("bv.blk") :+ col("bv.v"): _*)
      .transform(blockGroupHistogram(_, blockBy ++ Seq("blk", "v"), maxBlock))
  }

  /** The non-hamming sibling of [[probeGroupHistogram]]: group-width
    * distribution over arbitrary blocking keys (one row per input row),
    * same columns — `uncapped_pairs` is the pair work the corpus demands
    * per block, `capped_pairs` what a `maxBlock` member cap admits. Used
    * to attribute [[ngramJaccardPairs]]-style blocked operators' scale
    * ratios the way the hamming probes' are.
    */
  def blockGroupHistogram(rows: DataFrame, keyCols: Seq[String],
      maxBlock: Int): DataFrame = {
    val capped = least(col("n"), lit(maxBlock.toLong))
    rows
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
      .groupBy(floor(log(2.0, col("n"))).cast("int").as("log2_width"))
      .agg(count(lit(1)).as("n_groups"), max(col("n")).as("max_width"),
        sum(col("n") * (col("n") - 1) / 2).cast("long").as("uncapped_pairs"),
        sum(capped * (capped - 1) / 2).cast("long").as("capped_pairs"))
      .orderBy(col("log2_width"))
  }

  /** N-gram Jaccard near-dup pairs within blocking keys (lang, source,
    * length bucket). Blocking turns the O(n²) pair space into
    * sum-of-block² — at 100 TB the blocks are the shuffle partitions and
    * each block's pair loop stays in one task. Word-set Jaccard via
    * array_distinct/intersect (codegen'd).
    *
    * `maxBlock` bounds the per-task work: each block keeps its first
    * `maxBlock` documents by doc_id, so one hot key (every web doc is
    * lang=en) can't make a single task O(block²) on the whole corpus. The
    * bound is deterministic (doc_id order); at 100 TB pair work per task is
    * ≤ maxBlock². Candidates beyond the cap should come from the MinHash/
    * LSH path ([[lshCandidatePairs]]), which has no quadratic term.
    *
    * The cap itself is a [[graft.functions.MinK]] aggregation — a bounded
    * max-heap with map-side partials — so selecting each block's first
    * `maxBlock` ids moves ≤ maxBlock longs per block per mapper and never
    * routes a hot block through one task to rank it (the round-2 version
    * was a full-block `row_number` window: O(n log n) in a single task on
    * the dominant key). The kept id set is identical.
    */
  /** Passage-level exact-substring dedup (the Spark-native shape of Lee et
    * al. 2021's "Deduplicating Training Data Makes Language Models Better",
    * public paper, which uses a suffix array on a single machine): hash
    * every `window`-word span at `stride`-word steps, find spans whose hash
    * occurs in MORE THAN ONE document, and report each document's shared-
    * passage coverage. A suffix array doesn't distribute; rolling window
    * hashes do — the explode emits one (doc_id, pos, 16-byte hash) row per
    * `stride` words (~1 row per 10 tokens), the duplicate-hash aggregation
    * is map-side partial on the hash key, and documents never leave their
    * partitions. At 100 TB this is the standard passage-dedup recipe.
    */
  /** The shared passage-window stage: one (doc_id, pos, phash) row per
    * `stride` words (see [[duplicatePassages]] for the scale rationale).
    */
  private def passageWindows(docs: DataFrame, window: Int,
      stride: Int): DataFrame = {
    // Per-row kernel (optimization r21): the interpreted spelling —
    // `transform(sequence(0, nWins-1), j -> struct(j·stride,
    // md5(concat_ws(" ", slice(__ws, j·stride+1, window)))))` — paid an
    // interpreted lambda, a sliced sub-array, a joined window string AND a
    // 32-char hex rendering per window per document.
    // [[graft.functions.PassageHashes]] emits the identical
    // (pos, md5-hex) rows in one codegen'd call per row (kernel ≡ column
    // spelling pinned by HashKernelsSpec; the fewer-words-than-one-window
    // case returns the same empty array the `when` produced).
    graft.Tables.fanOut(docs)
      .withColumn("__ws", split(col("text"), " ", -1))
      .select(col("doc_id"),
        explode(graft.functions.PassageHashes(col("__ws"), window, stride)).as("w"))
      .select(col("doc_id"), col("w.pos"), col("w.phash"))
  }

  def duplicatePassages(docs: DataFrame, window: Int = 20,
      stride: Int = 10): DataFrame = {
    val wins = passageWindows(docs, window, stride)
    // "appears in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id): two
    // plain partials in ONE aggregate, vs count(DISTINCT)'s extra
    // (phash, doc_id)-keyed dedup pass before it can count
    val dupHashes = wins.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx")).select("phash")
    val perDoc = wins.join(dupHashes, Seq("phash"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    docs.select(col("doc_id"),
      when(size(split(col("text"), " ", -1)) >= window,
        (floor((size(split(col("text"), " ", -1)) - window) / stride) + 1))
        .otherwise(0L).cast("bigint").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("shared_frac",
        when(col("n_windows") > 0,
          col("n_shared").cast("double") / col("n_windows")).otherwise(lit(0.0)))
      .withColumn("has_dup_passage", col("n_shared") > 0)
  }

  /** Group-level dedup with a QUALITY keeper policy: within each
    * near-dup component, keep the best row by `quality` (numeric;
    * ties broken by smallest doc_id) instead of [[duplicateGroups]]'
    * conventional min-id keeper — the curation policy real pipelines
    * want ("of the re-crawls, keep the longest / highest-scoring copy").
    * `groups` is [[duplicateGroups]] output; docs in no group are their
    * own keeper.
    *
    * Scale shape: the keeper is an ARGMAX AGGREGATE
    * (`max(struct(quality, -doc_id))` — map-side partials, one shuffle
    * of one row per group), deliberately NOT a `row_number` window: a
    * degenerate corpus's identical-text cluster forms one corpus-scale
    * component (the chain fallback in [[lshCandidatePairs]] preserves
    * full connectivity on purpose), and a window would sort that whole
    * component in a single straggler task where the aggregate reduces
    * it tree-wise.
    */
  def dedupKeepBest(docs: DataFrame, groups: DataFrame,
      quality: Column): DataFrame = {
    val keyed = docs.join(groups.select(col("doc_id"), col("group_id")),
        Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("group_id"), col("doc_id")))
    // lexicographic struct max: best quality first, then max(-id) = min id
    val best = keyed.groupBy(col("group_id"))
      .agg(max(struct(quality.as("q"), (-col("doc_id")).as("negid"))).as("b"))
      .select(col("group_id"), (-col("b.negid")).as("__best_id"))
    keyed.join(best, Seq("group_id"))
      .withColumn("keep", col("doc_id") === col("__best_id"))
      .drop("__best_id")
  }

  /** Remove the duplicated passages themselves — the operation Lee et
    * al. 2021's exact-substring tool performs (cite:
    * google-research/deduplicate-text-datasets), where
    * [[duplicatePassages]] only measures coverage. A word is removed iff
    * it falls inside ANY window (length `window`, starts every `stride`
    * words) whose hash appears in ≥ 2 distinct documents; survivors are
    * reassembled in order. Returns (doc_id, n_words, n_kept, text_dedup);
    * a document with no duplicated window keeps its text byte-identical.
    *
    * Scale shape: the window/duplicate-hash stages are
    * [[duplicatePassages]]'s (explode + one map-side-partial aggregate);
    * the removal adds one (doc_id, sorted dup-start list) aggregate, a
    * join back to the corpus, and a per-row HOF whose cost is
    * O(n_words × n_dup_starts) — bounded by the document's own length
    * (≤ n_words²/stride on a fully-duplicated doc), never by the corpus.
    * No collect, no pair expansion.
    */
  def removeDupSpans(docs: DataFrame, window: Int = 20,
      stride: Int = 10): DataFrame = {
    val wins = passageWindows(docs, window, stride)
    val dupHashes = wins.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx")).select("phash")
    val starts = wins.join(dupHashes, Seq("phash"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("dup_starts"))
    // Per-row kernel (optimization r21): the rebuild was an interpreted
    // `filter(zip_with(__ws, sequence(...)), s -> !exists(dup_starts, ...))`
    // — O(words × dup_starts) lambda-tree evaluations per affected
    // document, with an index-struct array and a kept-words array
    // allocated per row. [[graft.functions.RemoveSpans]] computes the
    // identical (n_kept, text_dedup) pair in ONE codegen'd merge scan —
    // dup_starts is sorted, so coverage is a single pointer sweep,
    // O(words + dup_starts) — allocating only the joined output string
    // (kernel ≡ column spelling pinned by HashKernelsSpec; the
    // driver-side-reference and random-corpus cases in DedupPassagesSpec
    // re-prove the operator end-to-end). Documents with no duplicated
    // window keep text byte-identical through the `when`, exactly as
    // before.
    docs.join(starts, Seq("doc_id"), "left")
      .withColumn("__ws", split(col("text"), " ", -1))
      .withColumn("__rs",
        graft.functions.RemoveSpans(col("__ws"), col("dup_starts"), window))
      .withColumn("n_words", size(col("__ws")).cast("bigint"))
      .withColumn("n_kept",
        when(col("dup_starts").isNull, size(col("__ws")))
          .otherwise(col("__rs.n_kept")).cast("bigint"))
      .withColumn("text_dedup",
        when(col("dup_starts").isNull, col("text"))
          .otherwise(col("__rs.text_dedup")))
      .select(col("doc_id"), col("n_words"), col("n_kept"), col("text_dedup"))
  }

  /** The capped per-block set frame fronting [[ngramJaccardPairs]]' self
    * join: per-row distinct-word sets, MinK block cap (map-side partials),
    * cap applied as a doc_id semi join. `private[graft]` so PlanSpec can
    * pin the map-side-partial shape of THIS subtree — in the composed
    * operator it executes inside the pin materialization.
    */
  private[graft] def ngramJaccardCappedSets(docs: DataFrame,
      maxBlock: Int): DataFrame = {
    // sorted once per DOC here so the self join's per-pair intersection is
    // a zero-allocation merge scan ([[graft.functions.IntersectSizeSorted]])
    // instead of two hash-set builds per PAIR — the O(block²) kernel the
    // 100× tier is bounded by (optimization r22, guide §4). Set size and
    // membership are order-independent, so jaccard is bit-identical.
    val sets = docs.select(
      col("doc_id"), col("lang"), col("source"),
      floor(col("n_chars") / 100.0).cast("int").as("len_bucket"),
      sort_array(array_distinct(split(col("text"), " ", -1))).as("wset"))
      .withColumn("sz", size(col("wset")))
    val keepIds = sets
      .groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(graft.functions.MinK.longs(col("doc_id"), maxBlock).as("ids"))
      .select(explode(col("ids")).as("doc_id"))
    // doc_id is unique, so a semi join on it applies the per-block cap;
    // AQE broadcasts the (≤ #blocks·maxBlock ids) side when small.
    sets.join(keepIds, Seq("doc_id"), "left_semi")
  }

  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.6,
      maxBlock: Int = 1000): DataFrame = {
    // PINNED (optimization r21): the self-join below otherwise computes
    // the whole capped subtree TWICE — the corpus scan, the per-row
    // array_distinct(split(text)) set build, the MinK cap and the semi
    // join each run once for the streamed side and once more inside the
    // broadcast build. The pinned rows are the cap-bounded frame
    // (≤ #blocks·maxBlock rows) the broadcast must hold in memory anyway;
    // the pin is released once an action over the returned pairs completes.
    val withSets = graft.GraftCache.pinLeaf(
      ngramJaccardCappedSets(docs, maxBlock))
    val a = withSets.as("a")
    val b = withSets.as("b")
    // Size-band prune inside the join condition: jaccard = i/u with
    // i ≤ min(|a|,|b|) and u ≥ max(|a|,|b|), so jaccard ≥ t requires
    // min ≥ t·max — a necessary condition on the (already computed) set
    // sizes that discards most of a block's O(n²) pairs before any
    // per-pair set work runs. Then ONE intersection per surviving pair
    // (native count-only kernel, no intersection array) and the union
    // from the inclusion–exclusion identity |a|+|b|−|i| instead of a
    // second set pass. Output pairs are identical — the prune only drops
    // pairs the threshold filter would drop.
    // expressed as the same division the retained filter uses (a pair at
    // i=min, u=max evaluates min/max there too) so both sides share one
    // double rounding path — `min >= t·max` rounds t·max separately and
    // could disagree with the filter within half an ulp of the threshold
    val sizeBand =
      least(col("a.sz"), col("b.sz")).cast("double") /
        greatest(col("a.sz"), col("b.sz")) >= lit(threshold)
    // wset is sort_array'd in [[ngramJaccardCappedSets]] — the sorted
    // merge-scan kernel counts the identical intersection without the
    // per-pair hash-set builds
    val inter = graft.functions.IntersectSizeSorted(col("a.wset"), col("b.wset"))
      .cast("double")
    graft.GraftCache.releaseAfter(
      a.join(b,
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.len_bucket") === col("b.len_bucket") &&
          col("a.doc_id") < col("b.doc_id") && sizeBand)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (inter / (col("a.sz") + col("b.sz") - inter)).as("jaccard"))
        .filter(col("jaccard") >= threshold),
      withSets)
  }
}
