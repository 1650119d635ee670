package graft.functions

import graft.SparkSpec
import graft.ext.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The r21 fused hashing kernels must be BIT-IDENTICAL to the interpreted
  * column spellings they replaced — the DuckDB oracles replay the column
  * math, so any divergence is a correctness regression, not a perf bug.
  * Pinned here on randomized corpora that exercise the edge shapes:
  * multi-space runs (empty words from split), exactly-one-window docs,
  * fewer-words-than-a-window docs, and unicode words.
  */
class HashKernelsSpec extends SparkSpec {

  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val words = Vector("alpha", "beta", "gamma", "δδ", "é", "x", "", "longerwordhere")
    (0L until n.toLong).map { i =>
      val len = rnd.nextInt(40)
      val text = (0 until len).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
  }

  test("minhash_sigs kernel == shingleHashes/sigFromHashes column spelling") {
    val docs = corpus(300)
    val words = split(col("text"), " ", -1)
    val base = docs.filter(size(words) >= 3).withColumn("__ws", words)
    val columnForm = base
      .select(col("doc_id"), Dedup.shingleHashes(col("__ws")).as("hs"))
      .select(col("doc_id"),
        Dedup.sigFromHashes(col("hs"), 0).as("sig0"),
        Dedup.sigFromHashes(col("hs"), 1).as("sig1"),
        Dedup.sigFromHashes(col("hs"), 2).as("sig2"),
        Dedup.sigFromHashes(col("hs"), 3).as("sig3"))
    val kernelForm = Dedup.minhashSignatures(docs)
    assert(kernelForm.schema.fieldNames.toSeq ===
      Seq("doc_id", "sig0", "sig1", "sig2", "sig3"))
    val a = columnForm.orderBy("doc_id").collect().toSeq
    val b = kernelForm.orderBy("doc_id").collect().toSeq
    assert(a.nonEmpty && a === b)
  }

  test("passage_hashes kernel == transform/slice/md5 column spelling") {
    val docs = corpus(300)
    val window = 5
    val stride = 2
    val nWins = (floor((size(col("__ws")) - window) / stride) + 1).cast("int")
    val winHashes = when(size(col("__ws")) >= window,
      transform(sequence(lit(0), nWins - 1),
        j => struct((j * stride).as("pos"),
          md5(concat_ws(" ", slice(col("__ws"), j * stride + 1, lit(window)))).as("phash"))))
      .otherwise(array().cast("array<struct<pos:int,phash:string>>"))
    val withWs = docs.withColumn("__ws", split(col("text"), " ", -1))
    val columnForm = withWs
      .select(col("doc_id"), explode(winHashes).as("w"))
      .select(col("doc_id"), col("w.pos"), col("w.phash"))
    val kernelForm = withWs
      .select(col("doc_id"),
        explode(PassageHashes(col("__ws"), window, stride)).as("w"))
      .select(col("doc_id"), col("w.pos"), col("w.phash"))
    val a = columnForm.orderBy("doc_id", "pos").collect().toSeq
    val b = kernelForm.orderBy("doc_id", "pos").collect().toSeq
    assert(a.nonEmpty && a === b)
    // a document shorter than one window contributes zero rows from BOTH
    val shortDoc = withWs.filter(size(col("__ws")) < window).limit(1)
    assert(shortDoc.count() >= 0) // corpus may or may not have one; edge
    // covered by the full comparison above (row sets equal implies equal
    // handling of the empty-window case)
  }

  test("remove_spans kernel == filter/zip_with/exists column spelling") {
    import spark.implicits._
    val window = 5
    val rnd = new scala.util.Random(7)
    // random word arrays + random SORTED start lists, including overlapping
    // windows, starts at 0, starts past the end, empty starts, and the
    // fully-covered doc
    val rows = (0L until 300L).map { i =>
      val len = rnd.nextInt(40)
      val ws = (0 until len).map(k => s"w${rnd.nextInt(9)}_$k")
      val nStarts = rnd.nextInt(6)
      val starts = (0 until nStarts).map(_ => rnd.nextInt(math.max(len, 1)))
        .sorted
      (i, ws.mkString(" "), starts)
    }
    val df = rows.toDF("doc_id", "text", "dup_starts")
      .withColumn("__ws", split(col("text"), " ", -1))
    val idxd = zip_with(col("__ws"),
      sequence(lit(0), size(col("__ws")) - 1),
      (w, i) => struct(w.as("w"), i.as("i")))
    val keptStructs = filter(idxd, s =>
      !exists(col("dup_starts"),
        p => p <= s.getField("i") && s.getField("i") < p + window))
    val columnForm = df
      .withColumn("__kept", transform(keptStructs, s => s.getField("w")))
      .select(col("doc_id"), size(col("__kept")).as("n_kept"),
        concat_ws(" ", col("__kept")).as("text_dedup"))
    val kernelForm = df
      .withColumn("__rs", RemoveSpans(col("__ws"), col("dup_starts"), window))
      .select(col("doc_id"), col("__rs.n_kept").as("n_kept"),
        col("__rs.text_dedup").as("text_dedup"))
    val a = columnForm.orderBy("doc_id").collect().toSeq
    val b = kernelForm.orderBy("doc_id").collect().toSeq
    assert(a.nonEmpty && a === b)
  }

  test("intersect_size_sorted on sorted inputs == intersect_size (r22)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("a", "b", "gamma", "δδ", "é", "", "x", "yy", "zzz")
    // random bags WITH duplicates: the sorted kernel must count an equal
    // run once, exactly like the hash-set kernel
    val rows = (0 until 400).map { i =>
      def bag() = Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.length)))
      (i, bag(), bag())
    }.toDF("id", "a", "b")
      .withColumn("sa", sort_array(col("a")))
      .withColumn("sb", sort_array(col("b")))
    val got = rows.select(col("id"),
      IntersectSize(col("sa"), col("sb")).as("h"),
      IntersectSizeSorted(col("sa"), col("sb")).as("m"),
      size(array_intersect(col("sa"), col("sb"))).as("ref"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getInt(1) === r.getInt(3), s"hash kernel vs array_intersect @${r.getInt(0)}")
      assert(r.getInt(2) === r.getInt(3), s"sorted kernel vs array_intersect @${r.getInt(0)}")
    }
  }

  test("pq_lut kernel == per-slot l2sq(slice) column spelling (r22)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val m = 4
    val k = 4
    val dim = 16
    val subdim = dim / m
    // books with a DROPPED codeword per subspace (cell ids non-contiguous)
    val books: Array[Array[(Int, Array[Double])]] = Array.tabulate(m) { s =>
      (0 until k).filterNot(_ == (s + 1) % k).map { c =>
        (c, Array.fill(subdim)(rnd.nextDouble() * 4 - 2))
      }.toArray
    }
    // embeddings including a SHORT row (slice length-mismatch → null slots),
    // an empty row, and a NULL embedding (id 200)
    val embs = ((0 until 200).map { i =>
      val len = if (i % 17 == 0) rnd.nextInt(dim) else dim
      (i, Option(Array.fill(len)(rnd.nextFloat() * 2 - 1).toSeq))
    } :+ ((200, Option.empty[Seq[Float]]))).toDF("id", "emb")
    val columnForm = embs.select(col("id"),
      array((for (s <- 0 until m; c <- 0 until k) yield {
        books(s).find(_._1 == c) match {
          case Some((_, arr)) =>
            L2Sq(slice(col("emb"), s * subdim + 1, subdim), lit(arr))
          case None => lit(null).cast("double")
        }
      }): _*).as("lut"))
    val kernelForm = embs.select(col("id"),
      PqLut(col("emb"), m, k, subdim,
        books.toSeq.map(_.toSeq.map { case (c, a) => (c, a.toSeq) })).as("lut"))
    val a = columnForm.orderBy("id").collect().toSeq
    val b = kernelForm.orderBy("id").collect().toSeq
    // whole-null input: the kernel is null-safe (NULL lut) while the
    // column spelling yields m·k null slots
    val (aNull, aRest) = a.partition(_.getInt(0) == 200)
    val (bNull, bRest) = b.partition(_.getInt(0) == 200)
    assert(bNull.size == 1 && bNull.head.isNullAt(1),
      "kernel must return a NULL lut for a NULL embedding")
    assert(aNull.size == 1 &&
      aNull.head.getSeq[java.lang.Double](1) === Seq.fill(m * k)(null),
      "column spelling must return m·k null slots for a NULL embedding")
    assert(aRest.size == 200 && aRest === bRest)
  }

  test("wrap_every_k kernel == array_join(transform(sequence)) spelling (r22)") {
    val docs = corpus(300)
    val words = split(col("text"), " ", -1)
    val columnForm = docs.select(col("doc_id"),
      when(size(words) > 0, array_join(
        transform(sequence(lit(1), size(words)),
          i => when(i % 7 === 0,
            concat(lit("<a href=\"/l\">"), element_at(words, i), lit("</a>")))
            .otherwise(element_at(words, i))), " ")).otherwise(lit(""))
        .as("wrapped"))
    val kernelForm = docs.select(col("doc_id"),
      when(size(words) > 0,
        WrapEveryK(words, 7, "<a href=\"/l\">", "</a>")).otherwise(lit(""))
        .as("wrapped"))
    val a = columnForm.orderBy("doc_id").collect().toSeq
    val b = kernelForm.orderBy("doc_id").collect().toSeq
    assert(a.nonEmpty && a === b)
  }

  test("bloom_gram_hits kernel == transform/filter column spelling (r22)") {
    val mBits = 1 << 12
    val k = 5
    val n = 3
    val rnd = new scala.util.Random(23)
    // a half-set random bitmap so both hit and miss paths execute
    val bm: Seq[Long] = Seq.fill(mBits / 64)(rnd.nextLong() & rnd.nextLong())
    import org.apache.spark.sql.Column
    val docs = corpus(300)
    val words = split(col("text"), " ", -1)
    def h1(hex: Column): Column =
      conv(substring(hex, 1, 15), 16, 10).cast("bigint") % mBits
    def h2(hex: Column): Column =
      conv(substring(hex, 16, 15), 16, 10).cast("bigint") % mBits * 2 + 1
    def bitSet(bmc: Column, pos: Column): Column =
      element_at(bmc, shiftright(pos, 6).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= lit(0L)
    val gramsCol = array_distinct(WordGrams(words, n))
    val bmc = typedLit(bm)
    val columnForm = docs.select(col("doc_id"),
      size(filter(transform(gramsCol, g => {
        val hex = md5(g)
        struct(h1(hex).as("h1"), h2(hex).as("h2"))
      }), hs => (0 until k).map { i =>
        bitSet(bmc, (hs.getField("h1") + lit(i.toLong) * hs.getField("h2")) % mBits)
      }.reduce(_ && _))).cast("bigint").as("n_hits"))
    val kernelForm = docs.select(col("doc_id"),
      BloomGramHits(words, bmc, n, mBits, k).as("n_hits"))
    val a = columnForm.orderBy("doc_id").collect().toSeq
    val b = kernelForm.orderBy("doc_id").collect().toSeq
    assert(a.nonEmpty && a === b)
    assert(a.exists(_.getLong(1) > 0), "fixture should produce some hits")
  }

  test("digest prefix matches conv(substring(md5, 1, k), 16, 10) for odd k") {
    import spark.implicits._
    val df = Seq("a", "xyz", "", "δ mixed unicode").toDF("s")
    val expect = df.select(
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("bigint")).collect()
    val got = df.select(col("s")).collect().map { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
      org.apache.spark.sql.graftexpr.HashKernelUtil.digestPrefix(
        md.digest(r.getString(0).getBytes("UTF-8")), 15)
    }
    assert(expect.map(_.getLong(0)).toSeq === got.toSeq)
  }
}
