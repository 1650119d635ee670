package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY §7.7).
  *
  * Cosine is computed as an explicit sequential fold (`aggregate`) over
  * double-cast elements so the result is bit-identical to a DuckDB
  * list_reduce with the same per-index products — no reliance on either
  * engine's built-in summation order.
  */
object Similarity {

  /** dot(a, b): left-to-right sum of per-index double products, as the
    * native codegen'd [[graft.functions.VecDot]] expression (identical
    * accumulation order to the zip_with+aggregate fold it replaces, so
    * results are bit-equal — but a primitive loop instead of interpreted
    * per-element lambdas).
    */
  def foldDot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  def norm2(a: Column): Column = foldDot(a, a)

  def cosine(a: Column, b: Column): Column =
    foldDot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** `sqrt(norm2(embedding))` staged once per ROW (optimization r22,
    * guide §1.2 "don't compute things twice"): [[cosine]]'s two sqrt
    * factors each depend on one side alone, so evaluating them inside a
    * pair join re-ran two of the three VecDot folds once per PAIR —
    * O(candidates) per row instead of O(1). Pair sites stage `__norm`
    * per row and multiply the staged factors in the same (left, right)
    * order as [[cosine]], so every division rounds bit-identically.
    */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("__norm", sqrt(norm2(col("embedding"))))

  /** cosine from a precomputed dot and the two staged norm factors —
    * multiply order must match [[cosine]]'s (left · right). */
  private def cosStaged(a: Column, b: Column, na: Column, nb: Column): Column =
    foldDot(a, b) / (na * nb)

  /** Salted per-query m-cut: keep each (query, salt)'s top m rows by
    * (`score` desc, neighbor_id asc). The union of per-salt top-ms contains
    * the global top-m (every global winner is a winner within its salt
    * group), so a follow-up window over the ≤ 32·m survivors is identical
    * to a single whole-corpus window — without funneling the corpus into
    * #queries tasks when #queries is small.
    */
  private def saltedCut(scored: DataFrame, m: Int, score: String): DataFrame = {
    val salted = scored.withColumn("salt",
      pmod(crc32(col("neighbor_id").cast("string")), lit(32)))
    val w1 = Window.partitionBy(col("query_id"), col("salt"))
      .orderBy(col(score).desc, col("neighbor_id").asc)
    salted.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= m).drop("r1", "salt")
  }

  /** Two-stage top-k: the salted partial cut first, then the final
    * per-query window over ≤ 32·k survivors — identical results to a single
    * window, but the final window sees 32·k rows per query instead of the
    * whole corpus, removing the skew wall when #queries is small.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val survivors = saltedCut(scored, k, "cos")
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    survivors.withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
  }

  /** Brute-force top-k cosine neighbors for a set of query vectors — the
    * exactness baseline. Plan shape: broadcast the (small) query set against
    * the corpus scan, per-row fold, then the two-stage top-k.
    * At 100 TB the corpus side stays partition-parallel; the only shuffle is
    * the salted top-k reduction (32·k rows per query reach the final window).
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = withNorm(corpus).as("c")
      .join(broadcast(withNorm(queries).as("q")),
        col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cosStaged(col("q.embedding"), col("c.embedding"),
          col("q.__norm"), col("c.__norm")).as("cos"))
    topKPerQuery(joined, k)
  }

  /** IVF-style partition-pruned search: the corpus is partitioned by a
    * coarse quantizer cell (here the `label` column stands in for the
    * assigned centroid); a query probes only its own cell. This is the
    * scale path: the candidate set shrinks by the number of cells, and the
    * cell id is a partition key so the probe is partition-pruned, not
    * scanned. nprobe>1 = union over the nearest cells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = withNorm(corpus).as("c")
      .join(broadcast(withNorm(queries).as("q")),
        col("c.label") === col("q.label") && col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        col("c.label").as("cell"),
        cosStaged(col("q.embedding"), col("c.embedding"),
          col("q.__norm"), col("c.__norm")).as("cos"))
    topKPerQuery(joined, k)
  }

  /** Per-query recall of the cell-pruned IVF search against the
    * brute-force ground truth — the measurement a pipeline runs to TUNE
    * nprobe/cell-count before committing to an index layout (recall@k is
    * the production quality contract of an ANN deployment). Both arms run
    * the REAL operators with identical tie-breaks; hits are a left-semi
    * join on (query, neighbor), so nothing materializes beyond 2·k rows
    * per query. Queries whose probed cell shares no true neighbor report
    * recall 0 (the left join keeps them).
    *
    * The denominator is the PER-QUERY truth count min(k, |truth|), not k:
    * when the corpus (or a query's eligible set) holds fewer than k true
    * neighbors, dividing by k would understate recall and a perfect index
    * could never reach 1.0. A query with an empty truth set divides by 1
    * (reporting 0 hits / recall 0 — there was nothing to find).
    */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val truth = bruteTopK(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val truthCounts = truth.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"))
    val approx = ivfTopK(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    queries.select(col("vec_id").as("query_id"))
      .join(hits, Seq("query_id"), "left")
      .join(truthCounts, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_truth"), lit(0L)), lit(1L))).as("recall"))
  }

  /** Squared L2 distance as a deterministic left-to-right fold (double
    * widening per element), for oracle bit-parity. Native codegen'd
    * kernel ([[graft.functions.L2Sq]]): the interpreted
    * aggregate(zip_with(...)) spelling it replaces evaluated a lambda
    * chain per element for every vector×centroid pair in the k-means
    * assign cross join — the training inner loop. Bit-identical sums
    * (parity pinned in SimilaritySpec).
    */
  private def l2sq(e: Column, c: Column): Column =
    graft.functions.L2Sq(e, c)

  /** A trained model held as plain driver values: (cell, centroid) sorted
    * by cell. Centroid frames are k rows of dim doubles — the textbook
    * Lloyd shape collects them per iteration (Spark's own MLlib k-means
    * does exactly this), and a collected model turns assignment into a
    * per-row expression instead of a crossJoin + corpus-wide
    * groupBy(vec_id) shuffle (optimization r21, guide §2.4: the N×k
    * assign rows never need to leave their scan partitions to take an
    * argmin that only depends on the row itself).
    */
  private def collectCentroids(centroids: DataFrame): Array[(Int, Array[Double])] =
    centroids.select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** struct(dist, cell) of the nearest centroid as ONE per-row expression:
    * a left-to-right fold over the cell-ascending model with a strict `<`,
    * so equal distances keep the earlier (smaller) cell — exactly the
    * `min(struct(dist, cell))` ordering of the aggregate spelling it
    * replaces. Every distance is the same codegen'd [[l2sq]] fold against
    * a literal centroid array, so the arithmetic is bit-identical.
    */
  private def nearestExpr(emb: Column,
      cent: Array[(Int, Array[Double])]): Column = {
    require(cent.nonEmpty, "kmeans assign requires at least one centroid")
    val first = struct(l2sq(emb, lit(cent(0)._2)).as("dist"),
      lit(cent(0)._1).as("cell"))
    cent.drop(1).foldLeft(first: Column) { case (best, (c, arr)) =>
      val d = l2sq(emb, lit(arr))
      when(d < best.getField("dist"),
        struct(d.as("dist"), lit(c).as("cell"))).otherwise(best)
    }
  }

  /** Assign each vector to its nearest centroid (squared L2; ties break to
    * the smaller cell — the min(struct) ordering). The model is collected
    * ([[collectCentroids]]) and applied as a per-row argmin expression:
    * the corpus side never shuffles — not even the (vec_id)-keyed argmin
    * exchange the crossJoin+groupBy spelling paid (optimization r21).
    */
  def kmeansAssign(emb: DataFrame, centroids: DataFrame): DataFrame =
    kmeansAssignLocal(emb, collectCentroids(centroids))

  private def kmeansAssignLocal(emb: DataFrame,
      cent: Array[(Int, Array[Double])]): DataFrame = {
    val best = nearestExpr(col("embedding"), cent)
    emb.select(col("vec_id"), col("embedding"), best.as("__best"))
      .select(col("vec_id"), col("__best.cell").as("cell"),
        col("__best.dist").as("dist"))
  }

  /** Deterministic Lloyd k-means — the coarse-quantizer training the IVF
    * path needs (round 1 reused a pre-existing label column; this trains
    * real centroids). Init: the k smallest vec_ids' embeddings. Each
    * iteration: assign, then recompute each cell's centroid as per-dim
    * means folded in vec_id order.
    *
    * The mean is a sorted-partition streaming fold: hash-partition members
    * by cell, sort each partition by (cell, vec_id), and stream a running
    * per-dim double sum — O(dim) memory per cell regardless of cell size
    * (a popular cell streams through one task instead of materializing
    * into a collect_list buffer), and the summation order is the sorted
    * vec_id order, so the fold stays bit-reproducible by an independent
    * engine (the DuckDB oracle replays the identical ordered fold).
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int, dim: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Each iteration runs as ONE job with ONE (cell)-keyed exchange: the
    // assignment is a per-row expression against the collected model
    // ([[nearestExpr]] — bit-identical to the crossJoin+min(struct)
    // spelling), so the old shape's (vec_id)-keyed argmin shuffle and the
    // members join-back disappear, and the k-row result collects straight
    // off the mean fold (optimization r21). The fold itself is unchanged:
    // hash-partition members by cell, sort each partition by
    // (cell, vec_id), stream a running per-dim double sum — O(dim) memory
    // per cell regardless of cell size, summation in sorted vec_id order,
    // so the trained model stays bit-reproducible by an independent
    // engine (the DuckDB oracle replays the identical ordered fold).
    var cent: Array[(Int, Array[Double])] = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"), col("embedding"))
      .collect()
      .map(r => (r.getInt(0),
        r.getSeq[Float](1).toArray.map(_.toDouble)))
      .sortBy(_._1)
    for (_ <- 1 to iters) {
      val members = emb.select(
        nearestExpr(col("embedding"), cent).getField("cell").as("cell"),
        col("vec_id"), col("embedding"))
      cent = members.repartition(col("cell"))
        .sortWithinPartitions(col("cell"), col("vec_id"))
        .mapPartitions { rows =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double])]
          var cur = 0
          var n = 0L
          var sum: Array[Double] = null
          def flush(): Unit = if (n > 0) {
            val c = new Array[Double](dim)
            var d = 0
            while (d < dim) { c(d) = sum(d) / n; d += 1 }
            out += ((cur, c))
          }
          rows.foreach { r =>
            val cell = r.getInt(0)
            if (sum == null || cell != cur) {
              flush(); cur = cell; n = 0L; sum = new Array[Double](dim)
            }
            val e = r.getSeq[Float](2)
            var d = 0
            while (d < dim) { sum(d) += e(d).toDouble; d += 1 }
            n += 1
          }
          flush()
          out.iterator
        }.collect().sortBy(_._1)
    }
    cent.toSeq.map { case (c, arr) => (c, arr.toSeq) }.toDF("cell", "centroid")
  }

  /** Train k cells, then assign the corpus — the IVF build step. */
  def ivfTrainAssign(emb: DataFrame, k: Int, iters: Int, dim: Int): DataFrame =
    kmeansAssign(emb, kmeansCentroids(emb, k, iters, dim))

  /** IVF search against TRAINED cells: corpus and queries are assigned to
    * trained centroids; each query probes only its own cell's inverted
    * list. Same partition-pruned probe shape as [[ivfTopK]], with the
    * quantizer an actual model instead of a given label.
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      kCells: Int, iters: Int, dim: Int): DataFrame = {
    // per-row cell expression against the collected model — the join-back
    // of an assignment frame on vec_id was a corpus shuffle for a column
    // the row can compute itself (optimization r21)
    val cent = collectCentroids(kmeansCentroids(corpus, kCells, iters, dim))
    def cellOf(df: DataFrame): DataFrame = df.withColumn("cell",
      nearestExpr(col("embedding"), cent).getField("cell"))
    val corpusCells = withNorm(cellOf(corpus))
    val queryCells = withNorm(cellOf(queries))
    val joined = corpusCells.as("c").join(broadcast(queryCells.as("q")),
      col("c.cell") === col("q.cell") && col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        col("c.cell").as("cell"),
        cosStaged(col("q.embedding"), col("c.embedding"),
          col("q.__norm"), col("c.__norm")).as("cos"))
    topKPerQuery(joined, k)
  }

  /** Unit-normalize an embedding (each element / L2 norm, double
    * precision) — after this, cosine is a plain dot product, which halves
    * the per-pair work in every downstream operator.
    */
  def l2Normalize(emb: Column): Column = {
    val norm = sqrt(foldDot(emb, emb))
    transform(emb, x => x.cast("double") / norm)
  }

  /** Symmetric int8 quantization: scale by 127/max|x| and round half-up
    * (floor(x·s + 0.5) — same arithmetic in any engine, no rounding-mode
    * ambiguity). 4× smaller vectors for the candidate-generation stages;
    * exact rerank reads the float column. Returns (codes, scale) so
    * dequantization is codes·scale.
    */
  def int8Quantize(emb: Column): (Column, Column) = {
    // ONE codegen'd pass per row ([[graft.functions.Int8Codes]]). The
    // column spelling — transform(emb, x -> floor(x/scale + 0.5)) with
    // scale = array_max(transform(emb, abs))/127 — embeds the whole
    // array_max subtree inside the per-element lambda of an interpreted
    // HOF: O(dim²) lambda calls and a fresh abs-array allocation per
    // element, per row. Same arithmetic, bit-identical codes/scale.
    val cs = graft.functions.Int8Codes(emb)
    (cs.getField("codes"), cs.getField("scale"))
  }

  /** Two-stage quantized search — the production ANN shape: stage 1
    * scores int8 codes (integer dot × scales: 4× less data, SIMD-friendly)
    * to pick rerankFactor·k candidates per query, stage 2 reranks only
    * those with exact float cosine. At 100 TB the full-precision vectors
    * are read for candidates only.
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rerankFactor: Int = 2): DataFrame = {
    def withCodes(df: DataFrame): DataFrame = {
      val (codes, scale) = int8Quantize(col("embedding"))
      df.select(col("vec_id"), col("embedding"),
        codes.as("codes"), scale.as("scale"))
    }
    val c = withCodes(corpus).as("c")
    val q = withCodes(queries).as("q")
    // native codegen'd Σ (long)(x·y) — the stage-1 loop runs per
    // (corpus row × query); the zip_with+aggregate fold it replaces
    // allocated an intermediate array and interpreted a lambda per
    // element (same accumulation, bit-identical result)
    val intDot = graft.functions.IntDot(col("c.codes"), col("q.codes"))
    // stage 1 moves only (ids, approx) through the shuffle — never vectors.
    // Candidate selection goes through the same salted two-stage cut as
    // bruteTopK: the per-(query, salt) windows keep the corpus fanned out
    // across tasks, and the final window ranks only ≤ 32·k·rerankFactor
    // survivors per query — no whole-corpus single-task sort when
    // #queries is small.
    val scored = c.join(broadcast(q), col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        (intDot.cast("double") * col("c.scale") * col("q.scale")).as("approx"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val candidates = saltedCut(scored, k * rerankFactor, "approx")
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= k * rerankFactor).drop("r1", "approx")
    // stage 2 reads full-precision vectors for candidates only
    val rerank = candidates
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), "query_id")
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .drop("q_emb", "c_emb")
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    rerank.withColumn("rank", row_number().over(w2)).filter(col("rank") <= k)
  }

  /** Product quantization — the 100 TB ANN memory shape: train an
    * independent k-codeword quantizer per `m` subspaces (Lloyd on each
    * dim/m-dim slice, reusing [[kmeansCentroids]]), encode every vector
    * as m small codeword ids (m·4 B instead of dim·4 B floats), and score
    * queries by asymmetric distance: a per-query lookup table of squared
    * sub-distances to every codeword, then Σ_s lut[s·k + code_s] per
    * pair ([[graft.functions.PqAdc]], O(m) codegen'd). Jégou et al. 2011
    * re-expressed declaratively: training shuffles only (cell, dim)
    * partials, codebooks and LUTs broadcast, the corpus-side scan reads
    * codes only — full-precision vectors are never touched at query time.
    */
  /** All m subspace quantizers train in ONE Lloyd loop over the exploded
    * (vec_id, sub, slice) frame — assign is a single broadcast join against
    * the (m·k)-row codebook, the mean a single (sub, cell)-keyed streaming
    * fold — instead of m sequential [[kmeansCentroids]] loops (m× the
    * driver job rounds for identical math). Per (sub, cell) the member set
    * and the vec_id-ascending fold order equal the per-sub loop's, so the
    * centroids are bit-identical (the DuckDB oracle replays the same
    * training unchanged).
    */
  /** Per-sub codebooks as driver values: books(sub) = (cell, centroid)
    * pairs sorted by cell. m·k rows of subdim doubles — the collected-model
    * rationale of [[collectCentroids]], per subspace.
    */
  private def collectBooks(codebooks: DataFrame,
      m: Int): Array[Array[(Int, Array[Double])]] = {
    val rows = codebooks
      .select(col("sub").cast("int"), col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    Array.tabulate(m)(s =>
      rows.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1))
  }

  /** CASE-on-sub dispatch of [[nearestExpr]] over the exploded
    * (sub, sub_emb) frame: each row evaluates only its own subspace's
    * argmin (same broadcast-codebook semantics as the join it replaces —
    * min(struct(dist, cell)), ties to the smaller cell).
    */
  private def subCellExpr(subCol: Column, subEmb: Column,
      books: Array[Array[(Int, Array[Double])]]): Column =
    books.zipWithIndex.filter(_._1.nonEmpty).foldLeft(lit(null).cast("int")) {
      case (acc, (book, s)) =>
        when(subCol === s, nearestExpr(subEmb, book).getField("cell"))
          .otherwise(acc)
    }

  def pqTrain(emb: DataFrame, m: Int, k: Int, iters: Int, dim: Int): DataFrame = {
    val subdim = dim / m
    val spark = emb.sparkSession
    import spark.implicits._
    // Same one-Lloyd-loop-for-all-m-subspaces shape as before, but each
    // iteration is ONE job with ONE (sub, cell)-keyed exchange: the
    // per-(vec, sub) assignment is a per-row expression against the
    // collected codebooks ([[subCellExpr]]) instead of a broadcast join +
    // (vec_id, sub)-keyed argmin shuffle + members join-back
    // (optimization r21). Per (sub, cell) the member set and the
    // vec_id-ascending fold order equal the join spelling's, so the
    // trained codebooks are bit-identical (the DuckDB oracle replays the
    // same training unchanged).
    var books: Array[Array[(Int, Array[Double])]] = {
      val init = emb.filter(col("vec_id") < k)
        .select(col("vec_id").cast("int").as("cell"), col("embedding"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      Array.tabulate(m)(s => init.map { case (c, e) =>
        (c, e.slice(s * subdim, (s + 1) * subdim).map(_.toDouble))
      })
    }
    for (_ <- 1 to iters) {
      val sliced = emb
        .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
          col("embedding"))
        .select(col("vec_id"), col("sub").cast("int").as("sub"),
          slice(col("embedding"), col("sub") * subdim + 1, lit(subdim)).as("sub_emb"))
      val members = sliced.select(col("sub"),
        subCellExpr(col("sub"), col("sub_emb"), books).as("cell"),
        col("vec_id"), col("sub_emb"))
      val trained = members.repartition(col("sub"), col("cell"))
        .sortWithinPartitions(col("sub"), col("cell"), col("vec_id"))
        .mapPartitions { rows =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Array[Double])]
          var curSub = 0
          var curCell = 0
          var n = 0L
          var sum: Array[Double] = null
          def flush(): Unit = if (n > 0) {
            val c = new Array[Double](subdim)
            var d = 0
            while (d < subdim) { c(d) = sum(d) / n; d += 1 }
            out += ((curSub, curCell, c))
          }
          rows.foreach { r =>
            val s = r.getInt(0)
            val cell = r.getInt(1)
            if (sum == null || s != curSub || cell != curCell) {
              flush(); curSub = s; curCell = cell; n = 0L
              sum = new Array[Double](subdim)
            }
            val e = r.getSeq[Float](3)
            var d = 0
            while (d < subdim) { sum(d) += e(d).toDouble; d += 1 }
            n += 1
          }
          flush()
          out.iterator
        }.collect()
      books = Array.tabulate(m)(s =>
        trained.filter(_._1 == s).map(t => (t._2, t._3)).sortBy(_._1))
    }
    books.zipWithIndex.flatMap { case (book, s) =>
      book.map { case (c, arr) => (s, c, arr.toSeq) }
    }.toSeq.toDF("sub", "cell", "centroid")
  }

  /** Per-vector PQ codes (array<int>, subspace order): nearest codeword
    * per subspace, ties to the smaller cell. One broadcast join against
    * the (m·k)-row codebook; the corpus never shuffles vectors — only
    * (vec_id, sub, code) triples reach the grouping.
    */
  def pqEncode(emb: DataFrame, codebooks: DataFrame, m: Int, dim: Int): DataFrame =
    emb.select(col("vec_id"),
      pqCodesExpr(col("embedding"), collectBooks(codebooks, m), m, dim)
        .as("codes"))

  /** codes = array(argmin_0, …, argmin_{m-1}) as ONE per-row expression
    * against the collected codebooks — the explode + broadcast join +
    * two (vec_id)-keyed aggregation shuffles of the frame spelling
    * compute a value that depends only on the row (optimization r21).
    * Same values in the same subspace order (sort_array over (sub, code)
    * structs ≡ the literal sub-ascending array), same min(struct)
    * tie-break to the smaller cell.
    */
  private def pqCodesExpr(emb: Column,
      books: Array[Array[(Int, Array[Double])]], m: Int, dim: Int): Column = {
    val subdim = dim / m
    array((0 until m).map { s =>
      nearestExpr(slice(emb, s * subdim + 1, subdim),
        books(s)).getField("cell")
    }: _*)
  }

  /** The dense sub-major lut[s·k + cell] array as ONE fused kernel call
    * per row ([[graft.functions.PqLut]] — optimization r22, guide §4).
    * The r21 per-slot spelling built the array from m·k separate
    * `l2sq(slice(emb, …), lit(codeword))` expressions: each slot
    * re-sliced the embedding (allocating a sub-array), and on the
    * residual path the emb argument — the whole kCells-branch
    * residual-dispatch CASE tree — was textually duplicated into every
    * slot. The kernel evaluates `emb` once and fills the table in a
    * single m·k·subdim loop with the identical per-slot arithmetic and
    * fold order (null where the trainer dropped the codeword — such
    * cells are never assigned, so the slot is never read); slot order
    * (sub-major, cell-minor) matches the sort_array((sub, cell, d))
    * ordering exactly. Parity pinned in SimilaritySpec.
    */
  private def pqLutExpr(emb: Column,
      books: Array[Array[(Int, Array[Double])]], m: Int, k: Int,
      dim: Int): Column =
    graft.functions.PqLut(emb, m, k, dim / m,
      books.toSeq.map(_.toSeq.map { case (c, arr) => (c, arr.toSeq) }))

  /** One LUT per query from its raw vector (the non-residual path). */
  def pqLut(queries: DataFrame, codebooks: DataFrame, m: Int, k: Int,
      dim: Int): DataFrame =
    queries.select(col("vec_id").as("query_id"),
      pqLutExpr(col("embedding"), collectBooks(codebooks, m), m, k,
        dim).as("lut"))

  /** End-to-end PQ search: train, encode, build LUTs, ADC-score every
    * (query, vector) pair over codes only, salted two-stage top-k by
    * ascending approximate distance (ties to the smaller neighbor).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, kNeighbors: Int,
      m: Int, kCodes: Int, iters: Int, dim: Int): DataFrame = {
    // one collected model serves encode and LUT (each a per-row
    // expression — the corpus side is a single scan+project)
    val books = collectBooks(pqTrain(corpus, m, kCodes, iters, dim), m)
    val codes = corpus.select(col("vec_id"),
      pqCodesExpr(col("embedding"), books, m, dim).as("codes"))
    val luts = queries.select(col("vec_id").as("query_id"),
      pqLutExpr(col("embedding"), books, m, kCodes, dim).as("lut"))
    val scored = codes.as("c")
      .join(broadcast(luts.as("q")), col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id"), col("c.vec_id").as("neighbor_id"),
        graft.functions.PqAdc(col("c.codes"), col("q.lut"), kCodes).as("adc_dist"))
      // saltedCut ranks descending; negate so the cut keeps the smallest
      // distances (equal distances tie to the smaller neighbor either way)
      .withColumn("ordv", -col("adc_dist"))
    val survivors = saltedCut(scored, kNeighbors, "ordv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    survivors.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNeighbors)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_dist"))
  }

  /** IVF-PQ (IVFADC, Jégou et al. 2011 §IV) — the composition a 100 TB
    * vector corpus actually serves from: a trained coarse quantizer
    * ([[kmeansCentroids]]) prunes the search to each query's `nprobe`
    * nearest cells, and within those cells scoring runs over PQ codes only
    * (asymmetric distance via the per-query LUT, [[graft.functions.PqAdc]]).
    * Per-query work drops by ≈ kCells/nprobe versus [[pqTopK]]'s full-codes
    * scan while keeping PQ's m·4 B-per-vector memory shape; the
    * full-precision vectors are never read at query time.
    *
    * PQ trains on raw subspace slices (not residuals): the codebooks stay
    * query-independent so one encode pass serves every probe — the
    * residual refinement is a quality knob, not a scale one.
    *
    * Plan shape (optimization r21): both trained models are COLLECTED
    * driver values ([[collectCentroids]]/[[collectBooks]] — k and m·k
    * rows), so cell assignment, encoding, probing and LUT building are
    * all per-row expressions: the corpus side is ONE projection
    * (vec_id, cell, codes) off the scan with no join and no shuffle, and
    * the query side builds its (query, probe_cell, lut) rows without the
    * crossJoin + window + three joins of the frame spelling. The only
    * corpus exchanges left in the whole operator are the Lloyd/PQ mean
    * folds (one (cell)-keyed shuffle per training iteration) and the
    * salted top-k cut. The scoring join keys on the coarse cell with the
    * tiny LUT side broadcast — at 1000 executors the corpus stays fanned
    * out and each task scores only the probed fraction. The residual
    * path's training-input frame (a corpus-wide residual projection read
    * once per PQ iteration plus the encode pass) is still pinned via
    * [[graft.GraftCache.pinLeaf]] — a persisted RDD that the returned
    * plan reads as its codes-side leaf — and unpersisted once an action
    * over the returned frame completes.
    */
  /** Element-wise residual x − centroid, double subtraction rounded back
    * to float — IEEE round-to-nearest is deterministic, so an independent
    * engine reproduces every residual bit (CAST(double AS FLOAT) in
    * DuckDB rounds identically).
    */
  private def residualCol(emb: Column, centroid: Column): Column =
    zip_with(emb, centroid, (x, c) => (x.cast("double") - c))
      .cast("array<float>")

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, kNeighbors: Int,
      kCells: Int, cellIters: Int, nprobe: Int,
      m: Int, kCodes: Int, pqIters: Int, dim: Int,
      residual: Boolean = false): DataFrame = {
    val cent = collectCentroids(kmeansCentroids(corpus, kCells, cellIters, dim))
    val cellExpr = nearestExpr(col("embedding"), cent).getField("cell")
    // each query probes its nprobe nearest trained cells (ties to the
    // smaller cell): array_sort over (cdist, cell) structs ≡ the
    // (cdist asc, cell asc) row_number window of the frame spelling —
    // per-row, no crossJoin, no window shuffle
    val probeArr = slice(array_sort(array(cent.map { case (c, arr) =>
      struct(l2sq(col("embedding"), lit(arr)).as("cdist"),
        lit(c).as("cell"))
    }: _*)), 1, nprobe)
    // The paper's refinement (Jégou et al. 2011 §IV.B): PQ encodes the
    // RESIDUAL x − centroid(cell) rather than the raw vector — residual
    // energy is much lower, so the same m·kCodes budget quantizes finer.
    // The cost is one LUT per (query, probed cell) instead of per query
    // (each probed cell subtracts a different centroid from the query);
    // the LUT side stays nprobe·m·kCodes doubles per query — broadcast.
    // The residual of a row against ITS OWN computed cell dispatches on
    // the cell value over the collected model — still one projection.
    def residualByCell(cellCol: Column): Column =
      cent.foldLeft(lit(null).cast("array<float>")) { case (acc, (c, arr)) =>
        when(cellCol === c,
          residualCol(col("embedding"), lit(arr))).otherwise(acc)
      }
    val pqInput =
      if (!residual) corpus
      // pqTrain's Lloyd loop re-reads this frame per iteration and the
      // encode pass reads it again — pin the residual frame (the
      // materialize-the-training-set step a real pipeline runs anyway);
      // the coarse cell rides along so the codes projection needs no join
      else graft.GraftCache.pinLeaf(corpus.select(col("vec_id"),
        cellExpr.as("cell"), residualByCell(cellExpr).as("embedding")))
    val books = collectBooks(pqTrain(pqInput, m, kCodes, pqIters, dim), m)
    // the whole corpus side is ONE projection: (vec_id, cell, codes)
    val codes =
      if (!residual)
        corpus.select(col("vec_id"), cellExpr.as("cell"),
          pqCodesExpr(col("embedding"), books, m, dim).as("codes"))
      else pqInput.select(col("vec_id"), col("cell"),
        pqCodesExpr(col("embedding"), books, m, dim).as("codes"))
    // (query, probed cell, lut): nprobe rows per query, broadcast-sized —
    // built per query row (probe explode + literal-model LUT, no joins)
    val probeLuts =
      if (!residual)
        queries.select(col("vec_id").as("query_id"),
          explode(probeArr).as("p"),
          pqLutExpr(col("embedding"), books, m, kCodes, dim).as("lut"))
          .select(col("query_id"), col("p.cell").as("probe_cell"), col("lut"))
      else
        queries.select(col("vec_id").as("query_id"),
          explode(probeArr).as("p"), col("embedding"))
          .select(col("query_id"), col("p.cell").as("probe_cell"),
            pqLutExpr(residualByCell(col("p.cell")), books, m, kCodes,
              dim).as("lut"))
    // a corpus vector lives in exactly one cell and probes are distinct
    // (query, cell) rows, so each (query, neighbor) pair scores at most once
    val scored = codes.as("c").join(broadcast(probeLuts.as("q")),
      col("q.probe_cell") === col("c.cell") && col("q.query_id") =!= col("c.vec_id"))
      .select(col("q.query_id"), col("c.vec_id").as("neighbor_id"),
        col("c.cell").as("cell"),
        graft.functions.PqAdc(col("c.codes"), col("q.lut"), kCodes).as("adc_dist"))
      .withColumn("ordv", -col("adc_dist"))
    val survivors = saltedCut(scored, kNeighbors, "ordv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    val result = survivors.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNeighbors)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cell"),
        col("adc_dist"))
    if (residual) graft.GraftCache.releaseAfter(result, pqInput) else result
  }

  /** IVFADC+R — exact rerank behind [[ivfPqTopK]] (Jégou et al. 2011 §V's
    * quality knob, the one every production deployment turns first): the
    * ADC scan picks `kNeighbors·rerankFactor` candidates within the probed
    * cells, then exact float cosine reranks THOSE CANDIDATES ONLY — the
    * same two-stage shape as [[int8TopK]] (approximate codes pick, full
    * precision decides). At 100 TB the full-precision vectors are read for
    * ≤ kNeighbors·rerankFactor rows per query instead of never (pure ADC)
    * or always (brute force); the candidate frame is tiny, so the rerank
    * joins are a per-query broadcast on the query side and an id-keyed
    * join against the corpus that AQE plans as broadcast once the
    * candidate set is materialized.
    */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame, kNeighbors: Int,
      kCells: Int, cellIters: Int, nprobe: Int,
      m: Int, kCodes: Int, pqIters: Int, dim: Int,
      rerankFactor: Int = 2, residual: Boolean = false): DataFrame = {
    val candidates = ivfPqTopK(corpus, queries, kNeighbors * rerankFactor,
      kCells, cellIters, nprobe, m, kCodes, pqIters, dim, residual)
      .select(col("query_id"), col("neighbor_id"), col("cell"), col("adc_dist"))
    val rerank = candidates
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), "query_id")
      .withColumn("cos", cosine(col("q_emb"), col("c_emb")))
      .drop("q_emb", "c_emb")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    rerank.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNeighbors)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cell"),
        col("cos"), col("adc_dist"))
  }

  /** Sign-bit LSH bucket key from fixed deterministic hyperplanes:
    * h_j[i] = ((i·31 + j·17) mod 7) − 3. Vectors whose dot products agree
    * in sign across the planes share a bucket; near-dup candidates come
    * from an equality join on the bucket key (shuffle on a small int key).
    *
    * The plane vectors are compile-time constants, so each plane's dot is
    * one codegen'd [[graft.functions.VecDot]] against a literal coefficient
    * array — the interpreted `zip_with`+`aggregate` lambda chain this
    * replaces evaluated 2·dim lambdas per plane per row. The coefficients
    * are small integers (exact in float), and VecDot accumulates
    * (double)a[i]·(double)b[i] left to right from 0.0 — the identical
    * arithmetic and order, so bucket bits are bit-equal (pinned in
    * SimilaritySpec).
    */
  def lshBucket(emb: Column, dim: Int, planes: Int = 4): Column = {
    val bits = (0 until planes).map { j =>
      val coeffs = Array.tabulate(dim)(i => (((i * 31 + j * 17) % 7) - 3).toFloat)
      val dot = foldDot(emb, lit(coeffs))
      when(dot >= 0, 1 << j).otherwise(0)
    }
    bits.reduce(_ + _)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540,
    * re-expressed declaratively): cluster the corpus with the trained
    * deterministic k-means ([[ivfTrainAssign]]), then inside each cluster
    * mark every vector whose cosine to a LOWER-id cluster-mate reaches
    * `threshold` as a semantic duplicate of the smallest such mate — the
    * keep-one-per-semantic-group policy with the conventional
    * smallest-id keeper, made deterministic. Output: one row per vector
    * with (cell, dup_of, max_cos, is_semantic_dup); dedup =
    * `filter(!is_semantic_dup)`.
    *
    * Scale shape: pairs form only within a cluster (k-means is the
    * blocking key, the paper's trick for avoiding all-pairs), the
    * candidate side is MinK-capped like [[embeddingNearDup]], and the
    * per-pair work is one codegen'd [[graft.functions.VecDot]].
    */
  def semanticDedup(corpus: DataFrame, k: Int, iters: Int, dim: Int,
      threshold: Double, maxCell: Int = 10000): DataFrame = {
    // pin the trained assignment: it feeds the cap, both pair-join sides,
    // and the final projection — without the pin the iters-deep Lloyd
    // lineage is re-planned (and partially re-executed) four times.
    // GraftCache evicts it once an action on the returned frame completes.
    val assigned = graft.GraftCache.pinLeaf(
      ivfTrainAssign(corpus, k, iters, dim).select("vec_id", "cell"))
    val withCell = corpus.join(assigned, "vec_id")
    val keepIds = withCell.groupBy(col("cell"))
      .agg(graft.functions.MinK.longs(col("vec_id"), maxCell).as("ids"))
      .select(explode(col("ids")).as("vec_id"))
    val cand = withCell.join(keepIds, Seq("vec_id"), "left_semi")
    val dups = withNorm(withCell).as("a").join(withNorm(cand).as("b"),
      col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("lower_id"),
        cosStaged(col("a.embedding"), col("b.embedding"),
          col("a.__norm"), col("b.__norm")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(col("lower_id")).as("dup_of"), max(col("cos")).as("max_cos"))
    graft.GraftCache.releaseAfter(
      withCell.select(col("vec_id"), col("cell"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("dup_of"), col("max_cos"),
          col("dup_of").isNotNull.as("is_semantic_dup")),
      assigned)
  }

  /** Nearest neighbor within each vector's own cell + a near-dup flag —
    * embedding-cosine near-duplicate detection (one row per vector).
    *
    * `maxCell` bounds the per-task pair work: each cell keeps its `maxCell`
    * smallest vec_ids on the *candidate* (b) side, so a hot label can't
    * make one task O(cell²). The cap is a bounded [[graft.functions.MinK]]
    * aggregate with map-side partials + a semi join — no task ever holds
    * or sorts more than maxCell ids per cell (the `row_number` window this
    * replaces routed a hot label's whole cell through one task to rank
    * it — the exact funnel `ngramJaccardPairs` fixed the same way,
    * Dedup.scala ngramJaccardPairs). Deterministic (vec_id order) and
    * identical kept-id set, since vec_ids are unique; the query side stays
    * complete — every vector still gets a nearest neighbor, searched among
    * the capped candidates.
    */
  def embeddingNearDup(corpus: DataFrame, threshold: Double,
      maxCell: Int = 10000): DataFrame = {
    val keepIds = corpus
      .groupBy(col("label"))
      .agg(graft.functions.MinK.longs(col("vec_id"), maxCell).as("ids"))
      .select(explode(col("ids")).as("vec_id"))
    val candidates = corpus.join(keepIds, Seq("vec_id"), "left_semi")
    val joined = withNorm(corpus).as("a").join(withNorm(candidates).as("b"),
      col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        cosStaged(col("a.embedding"), col("b.embedding"),
          col("a.__norm"), col("b.__norm")).as("cos"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") === 1)
      .select(col("vec_id"), col("neighbor_id"), col("cos"),
        (col("cos") >= threshold).as("is_near_dup"))
  }
}
