package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY §7.7):
  * language id, quality scoring, token counting, document fingerprinting.
  * All single-pass column expressions — no shuffle, no UDFs, fully
  * codegen'd; at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Per-language function-word lexicons for the whitespace-token path:
    * ~40 high-frequency function words for each of 15 whitespace-tokenized
    * languages (Latin, Cyrillic, Arabic, and Devanagari scripts), drawn
    * from the standard public stopword lists (articles, prepositions,
    * pronouns, auxiliaries). A word shared by two languages (romance
    * articles, en/de "in", nl/es "en") inflates both scores equally — the
    * argmax is decided by each language's distinctive remainder, which is
    * why the lists are sized ~40 and not 7. `head` must stay "en":
    * [[quality]] uses the English list for its stopword ratio.
    */
  val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with", "was",
      "for", "are", "this", "but", "they", "you", "his", "her", "not",
      "have", "has", "had", "were", "which", "their", "there", "been",
      "would", "will", "what", "when", "who", "how", "all", "can", "said",
      "from", "she", "him", "its", "your", "our"),
    "es" -> Seq("el", "los", "las", "que", "una", "es", "y", "de", "en",
      "un", "por", "con", "para", "su", "al", "lo", "como", "pero", "sus",
      "le", "ya", "este", "esta", "entre", "cuando", "muy", "sin", "sobre",
      "hasta", "hay", "donde", "desde", "todo", "nos", "durante", "todos",
      "ni", "contra", "otros", "ese"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "den",
      "von", "zu", "mit", "sich", "des", "auf", "im", "dem", "eine",
      "als", "auch", "es", "werden", "aus", "er", "hat", "dass", "sie",
      "nach", "wird", "bei", "einer", "um", "am", "sind", "noch", "wie",
      "einem", "einen", "zum", "war", "haben"),
    "fr" -> Seq("le", "les", "des", "est", "et", "dans", "une", "du",
      "qui", "pour", "sur", "avec", "au", "aux", "ce", "cette", "ces",
      "ne", "pas", "plus", "par", "mais", "ou", "si", "leur", "bien",
      "sans", "peut", "tout", "nous", "vous", "ils", "elles", "sont",
      "fait", "comme", "aussi", "son", "ses", "été"),
    "pt" -> Seq("os", "as", "do", "da", "dos", "das", "em", "um", "uma",
      "para", "com", "não", "por", "mais", "se", "como", "mas", "foi",
      "ao", "ele", "ela", "entre", "era", "depois", "sem", "mesmo", "aos",
      "seus", "quem", "nas", "esse", "eles", "você", "essa", "num", "nem",
      "suas", "meu", "minha", "pelo"),
    "it" -> Seq("il", "gli", "di", "che", "un", "una", "per", "con", "su",
      "da", "del", "della", "dei", "delle", "al", "alla", "ma", "non",
      "si", "come", "anche", "più", "nel", "nella", "sono", "sia",
      "questo", "questa", "quello", "hanno", "ha", "essere", "molto",
      "dove", "cui", "tra", "fra", "loro", "io", "perché"),
    "ru" -> Seq("и", "в", "не", "на", "я", "он", "с", "что", "а", "по",
      "это", "она", "к", "но", "они", "мы", "как", "из", "у", "то", "за",
      "от", "так", "о", "для", "же", "все", "вы", "его", "только", "или",
      "бы", "был", "была", "были", "есть", "когда", "уже", "ты", "ещё"),
    "nl" -> Seq("het", "een", "van", "dat", "die", "niet", "zijn", "op",
      "te", "aan", "voor", "er", "maar", "om", "ook", "als", "dan", "bij",
      "naar", "uit", "over", "geen", "wordt", "onder", "deze", "heeft",
      "hebben", "werd", "wij", "hij", "zij", "dit", "nog", "wel", "al",
      "veel", "worden", "kunnen", "moet", "tegen"),
    "pl" -> Seq("nie", "się", "że", "jest", "jak", "po", "co", "tak",
      "ale", "czy", "przez", "być", "tego", "tym", "już", "tylko", "przy",
      "może", "bardzo", "kiedy", "gdzie", "który", "która", "które",
      "ich", "dla", "przed", "oraz", "także", "jego", "jej", "nad", "pod",
      "bez", "ten", "są", "było", "można", "jeszcze", "będzie"),
    "sv" -> Seq("och", "att", "det", "som", "på", "är", "av", "för",
      "med", "den", "till", "inte", "om", "har", "jag", "ett", "men",
      "var", "sig", "från", "vi", "så", "kan", "när", "han", "hon",
      "skulle", "vid", "också", "efter", "eller", "nu", "sin", "där",
      "bara", "mycket", "utan", "vara", "blir", "vilket"),
    "tr" -> Seq("bir", "ve", "bu", "için", "ile", "olarak", "daha",
      "çok", "gibi", "kadar", "sonra", "ama", "ne", "var", "yok", "olan",
      "olduğu", "ise", "her", "diye", "ancak", "göre", "kendi", "bütün",
      "şey", "değil", "iki", "onun", "onu", "ben", "sen", "biz", "siz",
      "çünkü", "nasıl", "şimdi", "böyle", "bana", "beni", "sadece"),
    "vi" -> Seq("và", "của", "là", "có", "không", "được", "trong", "đã",
      "cho", "với", "người", "những", "một", "này", "khi", "đến", "về",
      "như", "cũng", "từ", "nhưng", "ra", "nếu", "vào", "đó", "tôi",
      "anh", "chúng", "họ", "thì", "sẽ", "rất", "nhiều", "làm", "gì",
      "tại", "theo", "trên", "còn", "bị"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak",
      "ini", "dari", "dalam", "akan", "pada", "juga", "saya", "ke",
      "karena", "tersebut", "bisa", "ada", "mereka", "lebih", "harus",
      "sudah", "saat", "oleh", "kita", "anda", "telah", "atau",
      "seperti", "sebagai", "bahwa", "dapat", "kami", "setelah", "belum",
      "kepada", "hingga", "secara", "banyak"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "عن", "مع", "هذا",
      "هذه", "التي", "الذي", "كان", "كانت", "لم", "لا", "ما", "هو",
      "هي", "قد", "كل", "بعد", "عند", "غير", "بين", "حتى", "إذا", "ثم",
      "أو", "لكن", "منذ", "حيث", "وقد", "لها", "له", "فيه", "عليه",
      "أيضا", "هناك", "نحن", "أنا"),
    "hi" -> Seq("है", "की", "के", "में", "को", "से", "का", "पर", "यह",
      "और", "भी", "नहीं", "ने", "हैं", "तो", "ही", "था", "कि", "एक",
      "हो", "थी", "कर", "इस", "वह", "जो", "रहा", "रही", "लिए", "साथ",
      "गया", "कुछ", "अपने", "वे", "हम", "तुम", "उनके", "किया", "होता",
      "करने", "बाद"))

  /** Character-scored languages. CJK text has no whitespace tokenization,
    * so these are scored by function-character occurrences over the raw
    * string — the standard cheap CJK signal. ja counts hiragana (unique
    * to Japanese; ~an order of magnitude more frequent than any kanji in
    * running text), ko counts the Hangul syllables of the particle/copula
    * morphemes, zh the top function hanzi. Tie order ja → ko → zh: kanji
    * inside Japanese text also hit the zh list, but hiragana never hits
    * it, so a real Japanese document wins ja; pure-hanzi text scores 0 on
    * ja/ko and falls through to zh.
    */
  val charLangs: Seq[(String, String)] = Seq(
    "ja" -> "のはがをにとでもないしてたからだます",
    "ko" -> "이가은는을를에의도로하고다서지있습니",
    "zh" -> "的是了在和不有我他这个们中就对说上也")

  /** Tie order for the argmax CASE chain: character-scored languages first
    * (any CJK character in mixed text is a far stronger signal than one
    * shared Latin token), then word-language list order.
    */
  val langOrder: Seq[String] = charLangs.map(_._1) ++ langWords.map(_._1)

  private def stopCount(words: Column, stops: Seq[String]): Column =
    size(filter(words, w => w.isin(stops.map(lit(_)): _*)))

  /** Language-ID: word languages score by lowercase function-word hits,
    * character languages by function-character count; argmax with the
    * [[langOrder]] tie chain. ONE codegen'd lexicon pass per row
    * ([[graft.functions.LangScores]]) — the Column spelling (an
    * interpreted `filter`+isin lambda chain per word language plus a
    * regexp scan per char language) re-walked the text ~10×/row with
    * per-token virtual calls once the lexicons grew to ~40 words; scores
    * are element-wise identical (parity pinned in TextAnalysisSpec). No
    * shuffle.
    */
  def langId(docs: DataFrame): DataFrame = {
    val scoresArr = graft.functions.LangScores(
      col("text"), langWords.map(_._2), charLangs.map(_._2))
    val allLangs = langWords.map(_._1) ++ charLangs.map(_._1)
    // two-step select: _scores is referenced once per language, and
    // CollapseProject keeps the non-cheap kernel from being inlined 10×
    val scoreCols = allLangs.zipWithIndex.map { case (l, i) =>
      element_at(col("_scores"), i + 1).as(s"score_$l")
    }
    val scored = docs.withColumn("_scores", scoresArr)
      .select(col("doc_id") +: scoreCols: _*)
    val maxScore = greatest(langOrder.map(l => col(s"score_$l")): _*)
    val predicted = langOrder.foldRight(lit("unknown")) { case (l, els) =>
      when(col(s"score_$l") === maxScore && maxScore > 0, lit(l)).otherwise(els)
    }
    scored.withColumn("predicted_lang", predicted)
  }

  /** Quality signals: token counts, type-token ratio, stopword ratio, mean
    * word length — integer-exact numerators/denominators so the double
    * divisions agree bit-for-bit with any engine.
    */
  def quality(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ", -1)
    val nWords = size(words).cast("double")
    val nUniq = size(array_distinct(words)).cast("double")
    val stops = stopCount(words, langWords.head._2).cast("double")
    val totalLen = aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double")
    docs.select(
      col("doc_id"),
      nWords.cast("bigint").as("n_words"),
      nUniq.cast("bigint").as("n_uniq_words"),
      (nUniq / nWords).as("type_token_ratio"),
      (stops / nWords).as("stopword_ratio"),
      (totalLen / nWords).as("mean_word_len"),
      when(nUniq / nWords < 0.2, "repetitive")
        .when(nWords < 5, "too_short")
        .otherwise("ok").as("quality_flag"))
  }

  /** A TRAINED quality classifier, the CCNet/fastText-filter pattern
    * (Wenzek et al. 2020 — public paper): distill a rule into a linear
    * model over cheap shape features, then score every document with the
    * model. Weak-supervision labels come from a deterministic rule
    * (n_words ≥ 40 AND stopword_ratio ≥ 0.02); features are the [[quality]]
    * ratios (normalized length, stopword ratio, type-token ratio, capped
    * mean word length) plus a bias. Training is `iters` rounds of
    * full-batch gradient descent.
    *
    * Built to be BOTH distributed and bit-reproducible — the two usually
    * conflict (a parallel double sum has nondeterministic order):
    *  - each document's per-dimension gradient contribution is quantized
    *    to fixed point at scale 2^20 (floor(g·2^20 + ½) as a long — a
    *    44.20 format in a 64-bit integer), so the global
    *    gradient is an INTEGER sum — exact under any partitioning, any
    *    order, with map-side partials; the driver folds 5 longs per
    *    iteration, never rows;
    *  - the link is the algebraic quasi-sigmoid ½·(1 + z/(1+|z|)) — no
    *    exp(), whose last-ulp behavior differs between libm
    *    implementations; every op here (+,·,/,abs,floor) is an IEEE-exact
    *    primitive an independent engine reproduces bit-for-bit.
    *
    * At scale: features are extracted once into a narrow 5-double frame
    * pinned via [[graft.GraftCache]] (evicted automatically once the
    * returned frame's action completes); each iteration is one scan with
    * a 5-long partial-aggregate shuffle. NOTE construction is eager — it
    * runs the count + `iters` aggregation jobs to fit the model before
    * returning the scored plan (same contract as a broadcast build).
    *
    * Output: doc_id, label (the rule), score_fp (the final model's
    * quasi-sigmoid score at the same 2^20 fixed-point scale), keep
    * (score ≥ ½, i.e.
    * z ≥ 0). The oracle replays feature extraction, every GD iteration,
    * and scoring in SQL.
    */
  def qualityClassifier(docs: DataFrame, iters: Int = 6, lr: Double = 4.0): DataFrame = {
    val words = split(col("text"), " ", -1)
    val nW = size(words).cast("double")
    val nUniq = size(array_distinct(words)).cast("double")
    val stops = stopCount(words, langWords.head._2).cast("double")
    val totalLen = aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double")
    // pinLeafCounted: the GD loop below re-plans the feature frame once
    // per iteration per aggregate — the leaf keeps each of those plans
    // O(1)-deep, and the materialization's row count replaces the separate
    // feats.count() job (optimization r21)
    val (feats, nRows) = graft.GraftCache.pinLeafCounted(docs.select(
      col("doc_id"),
      least(nW / 100.0, lit(1.0)).as("x1"),
      (stops / nW).as("x2"),
      (nUniq / nW).as("x3"),
      least(totalLen / nW / 10.0, lit(1.0)).as("x4"),
      when(nW >= 40.0 && stops / nW >= 0.02, 1.0).otherwise(0.0).as("y")))
    val n = nRows.toDouble
    val S = 1048576.0 // 2^20: the fixed-point gradient scale
    var w = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    def zOf(wt: Array[Double]): Column =
      lit(wt(0)) + lit(wt(1)) * col("x1") + lit(wt(2)) * col("x2") +
        lit(wt(3)) * col("x3") + lit(wt(4)) * col("x4")
    def pOf(z: Column): Column = lit(0.5) * (lit(1.0) + z / (lit(1.0) + abs(z)))
    var it = 0
    while (it < iters) {
      val err = pOf(zOf(w)) - col("y")
      def q(x: Column): Column = floor(err * x * S + 0.5)
      val r = feats.agg(
        sum(floor(err * S + 0.5)).as("q0"), sum(q(col("x1"))).as("q1"),
        sum(q(col("x2"))).as("q2"), sum(q(col("x3"))).as("q3"),
        sum(q(col("x4"))).as("q4")).head()
      w = Array.tabulate(5)(d => w(d) - lr * (r.getLong(d).toDouble / S / n))
      it += 1
    }
    val z = zOf(w)
    graft.GraftCache.releaseAfter(
      feats.select(
        col("doc_id"),
        col("y").cast("bigint").as("label"),
        floor(pOf(z) * S + 0.5).as("score_fp"),
        (z >= 0.0).as("keep")),
      feats)
  }

  /** Distributed BPE merge TRAINING (Sennrich et al. 2016 §3, public
    * paper) — the learning side of the [[bpeTokenCounts]] apply kernel:
    * count adjacent symbol pairs over the corpus vocabulary, fuse the
    * most frequent pair everywhere, repeat. Returns the learned merge
    * table (rank, lhs, rhs, pair_count) — the exact artifact a
    * `merges.txt` ships, so the output feeds straight into
    * [[graft.functions.BpeTokens]]'s loaded-table form.
    *
    * Scale shape: the corpus is read ONCE (word-frequency aggregation,
    * map-side partials); every training iteration then runs over the
    * DISTINCT-WORD table only — one pair-count shuffle (sum of longs,
    * order-independent) plus a single-row argmax collect, and the merge
    * application is a narrow map. At 100 TB the vocabulary is millions of
    * rows, not terabytes, so k iterations cost k small jobs. The evolving
    * vocabulary frame is localCheckpoint'd per iteration (else iteration
    * t re-executes t-1 replace lineages per consumer — and with thousands
    * of merges, lineage truncation is what keeps the analyzer O(1) per
    * iteration); each superseded iteration's blocks are released as soon
    * as the next iteration materializes, and the final frame before
    * returning — the learned table never references them.
    *
    * Determinism: pair counts are integer sums; the argmax tie-breaks on
    * (count DESC, lhs ASC, rhs ASC) — a total order, so training is
    * reproducible across partitionings. Symbols ride a U+001F-delimited
    * string (each symbol wrapped as U·sym·U) so "fuse all occurrences,
    * left-to-right, non-overlapping" is exactly one non-regex replace —
    * the same trick the [[graft.ExtQueries]] BPE oracle uses, making the
    * DuckDB replay symmetric by construction.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val U = "\u001f"
    val vocab0 = graft.Tables.fanOut(docs)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), concat(lit(U),
        array_join(transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))), U + U), lit(U)).as("s"))
    var vocab = vocab0.localCheckpoint(true)
    // Checkpoint CADENCE (optimization r21): materializing every merge
    // cost one extra job per iteration (2·nMerges driver job rounds for
    // an 8-merge train). The replace that advances the vocabulary is a
    // narrow per-row map, so letting up to `ckptEvery` of them ride the
    // lineage keeps the analyzer O(1)-ish while the best-pair job simply
    // re-evaluates ≤ ckptEvery−1 cheap replaces over the last
    // checkpoint's blocks — jobs drop from 2·nMerges to
    // nMerges + nMerges/ckptEvery with identical learned merges (the
    // thousands-of-merges lineage rationale in the scaladoc still holds:
    // the cadence bounds lineage depth at ckptEvery, not at nMerges).
    val ckptEvery = 4
    var sinceCkpt = 0
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var rank = 1L
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      // adjacent pairs of the current symbol arrays, freq-weighted
      // (overlapping positions both count — the reference counting rule)
      val arr = split(col("s").substr(lit(2), length(col("s")) - 2), U + U)
      val best = vocab
        .filter(size(arr) >= 2)
        .select(col("freq"), explode(transform(sequence(lit(1), size(arr) - 1),
          i => struct(element_at(arr, i).as("l"), element_at(arr, i + 1).as("r"))))
          .as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((rank, l, r, cnt))
        val applied = vocab.withColumn("s",
          replace(col("s"), lit(U + l + U + U + r + U), lit(U + l + r + U)))
        sinceCkpt += 1
        if (sinceCkpt >= ckptEvery && rank < nMerges) {
          val next = applied.localCheckpoint(true)
          // `next` is materialized with truncated lineage, so the
          // superseded frame's blocks are provably dead — release them now
          // instead of holding one frame per merge for the whole run
          graft.GraftCache.releaseNow(vocab)
          vocab = next
          sinceCkpt = 0
        } else vocab = applied
        rank += 1
      }
    }
    graft.GraftCache.releaseNow(vocab)
    import spark.implicits._
    learned.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** HTML visible-text extraction ([[graft.functions.HtmlText]] — the
    * WET-extraction step of a web-corpus pipeline, upstream of every
    * curation gate): per document, the stripped text, the `<a`-tag count,
    * the extracted word count, and the link density (links per word, the
    * signal boilerplate classifiers gate on). One codegen'd pass per row
    * — no shuffle; at 100 TB this runs at scan speed, where the
    * regex-chain spelling re-reads each document once per pattern.
    */
  def htmlExtract(docs: DataFrame, htmlCol: String = "html"): DataFrame = {
    val h = graft.functions.HtmlText(col(htmlCol))
    graft.Tables.fanOut(docs).select(
      col("doc_id"),
      h.getField("text").as("clean_text"),
      h.getField("n_links").as("n_links"))
      .withColumn("n_words",
        when(length(col("clean_text")) === 0, 0L)
          .otherwise(size(split(col("clean_text"), " ")).cast("bigint")))
      .withColumn("link_density",
        when(col("n_words") === 0, 0.0)
          .otherwise(col("n_links").cast("double") / col("n_words")))
  }

  /** Gopher-style heuristic quality gates (Rae et al. 2021 §A1.1 — public
    * paper): word-length shape, symbol load, and repetition, the standard
    * pre-training corpus filters. One codegen'd pass per document; the
    * repetition signal (top word frequency) folds over the distinct-word
    * array — O(words·distinct) per doc, still partition-local.
    */
  /** Top word frequency (the Gopher repetition signal) as ONE hashed
    * native pass: [[graft.functions.GramStats]] over 1-grams — bestCnt of
    * the 1-gram histogram IS the most frequent word's count. The
    * interpreted spelling it replaces (array_max over per-distinct-word
    * size(filter(ws, _ === w)) lambdas) was O(words·distinct) per doc
    * with NO subexpression elimination inside the lambdas — when a
    * downstream filter substituted the split into the predicate
    * (predicate pushdown has no cost model), the split+clean re-ran per
    * distinct word per row, the r7 pipeline_curation scale cliff.
    */
  def topWordFreq(words: Column): Column =
    graft.functions.GramStats(words, 1).getField("bestCnt")

  /** Column form of [[gopherQuality]]'s gate verdict over a pre-split
    * word array — the ONE definition of the gate, shared with
    * [[Curation.passesGopher]] so the composed pipeline's filter can
    * never desynchronize from the standalone operator's reported column.
    * Every subtree is native/codegen ([[topWordFreq]] is one GramStats
    * pass), so even when predicate pushdown substitutes the clean+split
    * into this predicate, codegen CSE evaluates the split once per row.
    */
  def gopherPass(ws: Column): Column = {
    val nWords = size(ws)
    nWords >= 50 && nWords <= 100000 &&
      topWordFreq(ws).cast("double") / nWords <= 0.2
  }

  def gopherQuality(docs: DataFrame): DataFrame = {
    // bound as a column: the interpreted HOF lambdas below would otherwise
    // re-split the document per element visit (see [[repetition]])
    val words = col("__ws")
    val nWords = size(words)
    val shortW = size(filter(words, w => length(w) <= 3))
    val longW = size(filter(words, w => length(w) >= 8))
    val symbols = length(regexp_replace(col("text"), "[a-z0-9 ]", ""))
    val topFreq = topWordFreq(words)
    graft.Tables.fanOut(docs)
      .withColumn("__ws", split(col("text"), " ", -1))
      .select(
      col("doc_id"),
      nWords.cast("bigint").as("n_words"),
      (shortW.cast("double") / nWords).as("frac_short_words"),
      (longW.cast("double") / nWords).as("frac_long_words"),
      (symbols.cast("double") / length(col("text"))).as("symbol_ratio"),
      (topFreq.cast("double") / nWords).as("top_word_freq"),
      gopherPass(words).as("passes_gopher"))
  }

  /** Gopher repetition signals (Rae et al. 2021 §A1.1, public paper): the
    * fraction of characters inside the most frequent word n-gram (n=2,3,4)
    * and inside duplicated 5-grams — the repetition half of the Gopher
    * gates ([[gopherQuality]] covers the shape/symbol half). Character
    * coverage is count × n-gram length over document length, without
    * overlap correction (the standard cheap spelling; the oracle shares
    * it). "Most frequent" ties break to the lexicographically greatest
    * gram via struct max — deterministic across engines. O(grams·distinct)
    * per document, partition-local, no shuffle: scan speed at 100 TB.
    */
  /** Word n-gram builder — full windows only, so it is safe for ANY
    * document length (Dedup.shingles relies on its callers filtering out
    * docs shorter than n words; short docs here just get no grams).
    * Backed by the native [[graft.functions.WordGrams]] expression
    * (codegen'd, one static call per row) — the interpreted
    * transform+concat_ws+filter spelling re-evaluated its lambdas per
    * element and stayed outside whole-stage codegen. Shared by
    * [[decontaminate]]; [[repetition]] skips the array entirely via
    * [[graft.functions.GramStats]].
    */
  def wordGrams(words: Column, n: Int): Column =
    graft.functions.WordGrams(words, n)

  def repetition(docs: DataFrame): DataFrame = {
    val tc = length(col("text"))
    // Per-(doc, n) gram statistics come from the native GramStats
    // expression: one hashed O(g) pass per document producing
    // struct(bestCnt, bestGram, dup), with the most-frequent tie broken
    // to the binary-greatest gram and `dup` = total characters inside
    // grams occurring more than once — the same result as sorting the
    // gram array and folding runs (the previous spelling, still mirrored
    // by the DuckDB oracle), but no gram array, no sort, and no
    // interpreted lambdas: scan speed at 100 TB.
    def topFrac(stats: Column): Column =
      coalesce((stats.getField("bestCnt") * length(stats.getField("bestGram")))
        .cast("double") / tc, lit(0.0))
    def dupFrac(stats: Column): Column =
      coalesce(stats.getField("dup").cast("double") / tc, lit(0.0))
    val staged = graft.Tables.fanOut(docs)
      .withColumn("__ws", split(col("text"), " ", -1))
      .withColumn("__s2", graft.functions.GramStats(col("__ws"), 2))
      .withColumn("__s3", graft.functions.GramStats(col("__ws"), 3))
      .withColumn("__s4", graft.functions.GramStats(col("__ws"), 4))
      .withColumn("__s5", graft.functions.GramStats(col("__ws"), 5))
    val top2 = topFrac(col("__s2"))
    val top3 = topFrac(col("__s3"))
    val top4 = topFrac(col("__s4"))
    val dup5 = dupFrac(col("__s5"))
    staged.select(
      col("doc_id"),
      top2.as("top2_frac"), top3.as("top3_frac"), top4.as("top4_frac"),
      dup5.as("dup5_frac"),
      // Gopher's published thresholds for these four signals
      (top2 <= 0.20 && top3 <= 0.18 && top4 <= 0.16 && dup5 <= 0.15)
        .as("passes_repetition"))
  }

  /** Text cleaning: drop control characters, collapse whitespace runs,
    * trim — the normalization pass before tokenize/dedup. Pure regexp
    * chain, scan speed. [[cleanCol]] is the ONE definition of the chain,
    * shared with [[Curation.cleanText]].
    */
  def cleanCol(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "[\\x00-\\x1f]", " "), " +", " "))

  def clean(docs: DataFrame): DataFrame = {
    val cleaned = cleanCol(col("text"))
    docs.select(col("doc_id"), cleaned.as("text_clean"),
      (cleaned =!= col("text")).as("was_dirty"))
  }

  /** PII redaction: emails and URLs replaced with placeholder tokens —
    * the standard scrub pass before publishing a training corpus. The
    * patterns are RE2/Java-compatible (no lookaround), so any engine
    * reproduces them; counts returned for audit.
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlPattern = "https?://[^ ]+"

  def redactPii(docs: DataFrame): DataFrame = {
    val emails = regexp_count(col("text"), lit(EmailPattern))
    val urls = regexp_count(col("text"), lit(UrlPattern))
    val redacted = regexp_replace(
      regexp_replace(col("text"), UrlPattern, "<URL>"),
      EmailPattern, "<EMAIL>")
    docs.select(col("doc_id"), redacted.as("text_redacted"),
      emails.cast("int").as("n_emails"), urls.cast("int").as("n_urls"))
  }

  /** Token counting: whitespace tokens, a regex token count ([a-z]+ runs —
    * RE2/Java-compatible pattern), and a BPE-ish subword estimate
    * (ceil(len/4) per word).
    */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ", -1)
    docs.select(
      col("doc_id"),
      size(words).cast("bigint").as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+")).cast("bigint").as("regex_tokens"),
      aggregate(words, lit(0L), (acc, w) => acc + ceil(length(w) / 4.0).cast("bigint"))
        .as("subword_est"))
  }

  /** Real subword counts: character-level greedy-merge BPE
    * ([[graft.functions.BpeTokens]] — the Sennrich/GPT-2 merge loop over
    * a deterministic fixture merge table) per document, next to the
    * whitespace count. One codegen'd pass, scan speed; feed
    * [[packSequences]]' `tokensOf` with the bpe_tokens expression to
    * budget packing by real tokenizer counts instead of the
    * ceil(len/4) estimate in [[tokenCounts]].
    */
  def bpeTokenCounts(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ", -1)
    graft.Tables.fanOut(docs).select(
      col("doc_id"),
      size(words).cast("bigint").as("ws_tokens"),
      graft.functions.BpeTokens(words).as("bpe_tokens"))
  }

  /** Context packing: assign documents to fixed-token-budget training
    * sequences, the concat-then-chunk layout every LLM pre-training
    * pipeline runs. Documents are concatenated in doc_id order within a
    * pack stream and a document's sequence is the chunk its first token
    * lands in (`floor(start_offset / budget)` — docs may span a boundary,
    * as in standard GPT-style packing).
    *
    * The pack stream is (lang, shard) where shard = hashBucket(doc_id) %
    * nShards: packing is inherently sequential *within* a stream (a running
    * token sum), so scale comes from sharding the streams, not from
    * parallelizing one cumsum — at 100 TB you raise nShards so each
    * window partition holds one shard's docs, instead of funneling a whole
    * language through one task. Assignment is a pure function of
    * (doc_id, text), stable across re-runs and partitionings.
    */
  def packSequences(docs: DataFrame, budget: Int = 4096,
      nShards: Int = 16,
      // token budget per document; default = whitespace count. Pass
      // graft.functions.BpeTokens(split(col("text"), " ", -1)) to pack by
      // real subword counts ([[bpeTokenCounts]]).
      tokensOf: Column = null): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens =
      Option(tokensOf).getOrElse(size(split(col("text"), " ", -1)).cast("bigint"))
    val shard = Sampling.hashBucket(col("doc_id")) % nShards
    val w = Window.partitionBy(col("lang"), col("pack_shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("pack_shard", shard)
      .withColumn("n_tokens", tokens)
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", floor(col("start_offset") / budget).cast("bigint"))
      .withColumn("offset_in_seq", col("start_offset") % budget)
      .select(col("doc_id"), col("lang"), col("pack_shard"), col("n_tokens"),
        col("start_offset"), col("seq_id"), col("offset_in_seq"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with an evaluation set — the GPT-3/PaLM-style 13-gram overlap
    * check (public papers), parameterized on n. The eval side is the small
    * side by construction (benchmarks are KBs, corpora are TBs): its
    * distinct grams BROADCAST, the corpus side explodes per-doc distinct
    * grams map-side and counts hits per doc — one broadcast join, one
    * doc-keyed aggregation, and the corpus text is scanned once. Returns
    * every corpus doc with its hit count (`n_hits`) and the verdict.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 5): DataFrame = {
    val grams = array_distinct(wordGrams(split(col("text"), " ", -1), n))
    val evalGrams = evalDocs
      .select(explode(grams).as("gram")).distinct()
    val corpusGrams = graft.Tables.fanOut(docs)
      .select(col("doc_id"), explode(grams).as("gram"))
    val hits = corpusGrams
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    docs.select(col("doc_id"), col("lang"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Bloom-filter decontamination — the large-eval-set variant of
    * [[decontaminate]]. The exact path broadcasts the eval n-gram set,
    * which outgrows a broadcast once the held-out corpus does; here the
    * eval side folds into a FIXED-SIZE Bloom bitmap (`mBits` bits, `k`
    * probes per gram) and the corpus side tests its grams against the
    * bitmap INSIDE the scan — a `filter`+`size` higher-order function
    * over the per-doc gram array: no explode, no join, no corpus shuffle
    * at all (the physical plan is scan→project).
    *
    * Hashing is seeded double hashing both engines replay exactly:
    * h1 = md5 hex chars [1,15] as int mod m, h2 = 2·(hex chars [16,15]
    * mod m)+1 (odd step), probe_i = (h1 + i·h2) mod m. The eval pass is
    * one bounded aggregation — ≤ mBits/64 bitmap words regardless of eval
    * size — and the assembled bitmap (128 KiB at the 2^20-bit default)
    * ships to executors as a plan literal, the Bloom analogue of a
    * broadcast. False positives are possible and DETERMINISTIC given
    * (seeds, mBits, k) — FPR ≈ (1−e^(−k·n/m))^k, ~1e-4 at n=35k eval
    * grams with the defaults; false negatives are impossible, so nothing
    * contaminated ever slips through.
    */
  /** Bitmap size for a target false-positive rate at `nGrams` distinct
    * eval grams — the standard m = −n·ln(f)/ln²2 sizing, rounded up to a
    * multiple of 64 (the bitmap word size). The FPR is a deployment knob:
    * the [[decontaminateBloom]] default (2^20 bits) is sized for ~1e-4 at
    * tens of thousands of grams; a 10× eval set at the same bitmap pays
    * ~30% FPR, so size from the measured gram count instead of guessing.
    */
  def bloomBitsFor(nGrams: Long, targetFpr: Double = 1e-4): Int = {
    require(nGrams > 0 && targetFpr > 0 && targetFpr < 1)
    val ln2 = math.log(2)
    val m = math.ceil(-nGrams * math.log(targetFpr) / (ln2 * ln2)).toLong
    (((m + 63) / 64) * 64).min(1L << 30).toInt
  }

  def decontaminateBloom(docs: DataFrame, evalDocs: DataFrame, n: Int = 5,
      mBits: Int = 1 << 20, k: Int = 5): DataFrame = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val gramsCol = array_distinct(wordGrams(split(col("text"), " ", -1), n))
    def h1(hex: Column): Column =
      conv(substring(hex, 1, 15), 16, 10).cast("bigint") % mBits
    def h2(hex: Column): Column =
      conv(substring(hex, 16, 15), 16, 10).cast("bigint") % mBits * 2 + 1
    def probe(hex: Column, i: Column): Column = (h1(hex) + i * h2(hex)) % mBits
    // Eval build: distinct grams → k probe positions → ≤ mBits/64 sparse
    // (word, bits) rows → ONE dense array<bigint> row, all inside the plan.
    // The single row reaches the corpus side through a BROADCAST nested-
    // loop cross join: nothing runs at construction (plan-only — safe
    // inside lazily-planned or streaming compositions; a scalar subquery
    // would be cleaner still, but subquery expressions are rejected inside
    // higher-order functions, and the probe is a `filter` HOF), the build
    // side executes once at action time, and the corpus side stays
    // scan→project — a one-row broadcast, never a corpus shuffle. The
    // probe reads the array by reference out of the build row, the same
    // constant-access cost the old eager-collect literal paid. One path
    // for every bitmap size up to the 2^30-bit ceiling (128 MiB — a large
    // but routine broadcast) — the former >4 MiB broadcast-variable UDF
    // fork is gone.
    val nWords = mBits / 64
    val bitmapRow = evalDocs
      .select(explode(gramsCol).as("gram")).distinct()
      .select(md5(col("gram")).as("hx"))
      .select(explode(transform(sequence(lit(0), lit(k - 1)),
        i => probe(col("hx"), i.cast("bigint")))).as("pos"))
      .distinct()
      .groupBy(shiftright(col("pos"), 6).cast("int").as("w"))
      .agg(bit_or(
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")))
        .as("bits"))
      .agg(collect_list(struct(col("w").as("pos"), col("bits").as("v")))
        .as("entries"))
      // dense long[nWords] in one O(entries + nWords) scatter pass — a
      // map_from_arrays + per-index element_at spelling is O(n·entries)
      // (map lookups are linear probes) and hangs at multi-MiB bitmaps
      .select(graft.functions.ScatterLongs(col("entries"), nWords).as("__bm"))
    def bitSet(pos: Column): Column =
      element_at(col("__bm"), shiftright(pos, 6).cast("int") + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (pos % 64).cast("int"))) =!= lit(0L)
    // Corpus-side probe as ONE codegen'd kernel per doc (optimization
    // r22, guide §4): the interpreted spelling built the gram array,
    // re-rendered each gram's md5 as hex and decimal-re-parsed it twice
    // (interpreted HOF lambdas have no subexpression elimination), then
    // ran a filter lambda with k probe sub-trees per gram.
    // [[graft.functions.BloomGramHits]] digests each DISTINCT gram once
    // off the raw md5 bytes and probes the broadcast bitmap words with
    // plain long arithmetic — identical count (parity pinned in
    // HashKernelsSpec; the DuckDB oracle replays the hex/conv spelling
    // independently). h1/h2/bitSet above remain the executable spec the
    // eval-side bitmap build still uses.
    graft.Tables.fanOut(docs)
      .crossJoin(broadcast(bitmapRow))
      .withColumn("n_hits", graft.functions.BloomGramHits(
        split(col("text"), " ", -1), col("__bm"), n, mBits, k))
      .select(col("doc_id"), col("lang"), col("n_hits"),
        (col("n_hits") > 0).as("contaminated"))
  }

  /** Corpus-level TF-IDF top terms: for each document, the k terms with
    * the highest tf·(N/df) weight. The idf is spelled WITHOUT a logarithm
    * (score = tf·N/df as one double division) so independent engines agree
    * bit-for-bit — libm log implementations differ in ULPs, ratios don't.
    * Shape: one explode + (doc, term) aggregation, df as a count window
    * over `term` on that tf frame (one term exchange, tf executed once), a
    * broadcast of the single-row N, and a per-doc window whose partitions
    * are bounded by per-doc vocabulary — no global sort. Hot-key
    * trade-off: a window has no map-side partial, so every (doc, term)
    * row of one term lands in ONE window partition on one task — a
    * stopword's partition is as long as the corpus has documents. At
    * bench scale that is cheaper than the groupBy + join-back spelling
    * (which ran tf twice); at billions of documents the stopword
    * partition is a single-task funnel and spill risk that a map-side
    * partial df aggregation would not have.
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = graft.Tables.fanOut(docs)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // df as a count window over tf instead of a groupBy + join back
    // (optimization r22, guide §2.4): the join spelling consumed tf TWICE
    // — the explode + (doc_id, term) aggregation re-executed for the df
    // build and again for the scored join — and paid the df exchange plus
    // a join exchange. One window keyed on term is the same integer count
    // (df = tf rows per term) over ONE tf execution and ONE term exchange.
    val wTerm = Window.partitionBy(col("term"))
    val scored = tf.withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Corpus-trained bigram language-model fluency score per document —
    * the distributed form of "perplexity filtering" (CCNet-style: score
    * each doc under an n-gram LM trained on the corpus itself, gate on the
    * score). Model: Laplace-smoothed bigram probability
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V), with c(w1·) the count of
    * bigrams starting w1 and V the distinct history vocabulary.
    *
    * Per doc this emits n_bigrams, min_p (the least probable transition)
    * and avg_p (arithmetic mean transition probability). Deliberately NOT
    * log-perplexity: every value here is built from IEEE-exact ops
    * (integer-count division, position-ordered double sum), so an
    * independent engine reproduces it bit-for-bit — ln() is not required
    * to be correctly rounded and differs across libm implementations,
    * which would put the oracle at the mercy of half-ulp drift. exp/log of
    * the same ranking is monotone in avg log p; min_p/avg_p gate the same
    * documents.
    *
    * Scale shape: two hash-shuffled count aggregations (gram, history),
    * two shuffle joins back onto the bigram stream, a broadcast scalar V,
    * then one per-doc fold whose state is bounded by document length —
    * no driver-side state, no all-pairs anything.
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = split(col("text"), " ", -1)
    val grams = graft.Tables.fanOut(docs)
      .select(col("doc_id"),
        posexplode(graft.functions.WordGrams(words, 2)).as(Seq("pos", "gram")))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    // c2/c1 as count windows over the gram stream instead of two groupBy
    // aggregations joined back (optimization r22, guide §2.4): the join
    // spelling executed the fan-out + WordGrams explode subtree FOUR times
    // (c2 build, c1 build, V, scored) and paid two aggregation exchanges
    // plus two join exchanges; the windows compute the identical integer
    // counts over ONE gram-stream execution with one exchange per key.
    // Projections between the windows drop each key once counted so the
    // second exchange moves (doc_id, pos, w1, c2), never the gram string.
    // V (distinct histories) still needs its own aggregation pass — it is
    // a scalar over a different grouping.
    val v = grams.agg(countDistinct(col("w1")).as("v"))
    val wGram = Window.partitionBy(col("gram"))
    val wW1 = Window.partitionBy(col("w1"))
    val scored = grams
      .withColumn("c2", count(lit(1)).over(wGram))
      .select(col("doc_id"), col("pos"), col("w1"), col("c2"))
      .withColumn("c1", count(lit(1)).over(wW1))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("pos"),
        ((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")).as("p"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), min(col("p")).as("min_p"),
        // position-ordered left fold: double summation order is pinned,
        // so the mean is reproducible by any engine replaying the fold
        sort_array(collect_list(struct(col("pos"), col("p")))).as("ps"))
      .select(col("doc_id"), col("n_bigrams"), col("min_p"),
        (aggregate(col("ps"), lit(0.0), (acc, s) => acc + s.getField("p"))
          / col("n_bigrams")).as("avg_p"))
  }

  /** Rolling-hash document fingerprint: fold h ← (h·31 + wordhash) mod p
    * over the token stream (order-sensitive, unlike the set-based dedup
    * hashes). Single pass, no shuffle.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    // one codegen'd pass ([[graft.functions.RollingFingerprint]]); the
    // interpreted spelling — aggregate(words, 0L, (acc, w) =>
    // (acc·31 + conv(substr(md5(w),1,4),16,10)) % p) — evaluated a lambda
    // plus a md5→hex→conv tree per word per row. Bit-identical output
    // (parity pinned in TextAnalysisSpec; DuckDB oracle unchanged).
    docs.select(col("doc_id"),
      graft.functions.RollingFingerprint(split(col("text"), " ", -1))
        .as("fingerprint"))

  /** Sliding-window chunking with overlap — the context-window splitter
    * every RAG / pretraining pipeline runs: word windows of `chunkWords`
    * advancing by `chunkWords - overlapWords`, so consecutive chunks share
    * `overlapWords` words and no boundary sentence is lost to a hard cut.
    * The last chunk may be short; a doc never emits a chunk that adds no
    * new words. One row per (doc, chunk).
    *
    * Scale shape: pure per-row expressions (sequence + slice under an
    * explode) — scan-speed, no shuffle, output rows ≈ input words / step.
    * Token-budgeted variants can swap the word count for
    * [[graft.functions.BpeTokens]] on the chunk.
    */
  def chunkWindows(docs: DataFrame, chunkWords: Int = 20,
      overlapWords: Int = 5): DataFrame = {
    require(overlapWords >= 0 && overlapWords < chunkWords,
      "need 0 <= overlapWords < chunkWords")
    val step = chunkWords - overlapWords
    val words = split(col("text"), " ", -1)
    // ceil((len - chunkWords) / step) extra chunks past the first; `/` is
    // double division, cast-to-int truncation = floor for non-negatives
    val extra = greatest(lit(0), size(words) - lit(chunkWords))
    val nStarts = lit(1) + ((extra + lit(step - 1)) / lit(step)).cast("int")
    docs
      .select(col("doc_id"), words.as("w"),
        explode(sequence(lit(0), nStarts - lit(1))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("w"), col("chunk_idx") * step + 1, lit(chunkWords)).as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("cw")).cast("long").as("n_words"),
        array_join(col("cw"), " ").as("chunk_text"))
  }

  /** NFC Unicode normalization of the text column — the canonicalization
    * every ingest pipeline runs BEFORE content hashing (decomposed
    * `e`+U+0301 and precomposed U+00E9 must dedup together). One codegen'd
    * pass ([[graft.functions.NfcNormalize]]); already-normalized rows (the
    * overwhelming majority at scale) take an allocation-free fast path.
    * Scan-shaped: no shuffle, scales linearly.
    */
  def nfcNormalize(docs: DataFrame): DataFrame = {
    val nfc = graft.functions.NfcNormalize(col("text"))
    docs.select(col("doc_id"), nfc.as("text_nfc"),
      (nfc =!= col("text")).as("changed"))
  }

  /** C4-style line-level curation (Raffel et al. 2020 §2.2, RefinedWeb):
    * split each document into lines, keep a line only if it looks like
    * prose (≥ `minWords` words AND ends in terminal punctuation AND no
    * boilerplate keyword), then drop lines that repeat more than
    * `maxLineOcc` times ACROSS the corpus (site-template boilerplate —
    * "subscribe to our newsletter" — survives per-line quality checks but
    * not a corpus-frequency one), and reassemble survivors in original
    * order.
    *
    * Scale shape: explode is linear; the frequency count is one shuffle on
    * md5(line) with map-side partials (count(*), not countDistinct — the
    * same template line rarely repeats within one document, and the
    * threshold replays identically either way); the anti-join repartitions
    * on the same 32-hex key (no wide rows on the build side — frequent-line
    * hashes only); the rebuild is one shuffle on doc_id. No all-pairs work,
    * no driver-side state, hot lines bounded by the HAVING cut.
    */
  def lineCurate(docs: DataFrame, minWords: Int = 3,
      maxLineOcc: Int = 30): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), "\n", -1)).as(Seq("idx", "ln")))
    val prose =
      (size(split(trim(col("ln")), " +", -1)) >= minWords) &&
        col("ln").rlike("[.!?\"]$") &&
        !lower(col("ln")).contains("javascript") &&
        !lower(col("ln")).contains("cookie")
    val kept = lines.where(prose).withColumn("lh", md5(col("ln")))
    val frequent = kept.groupBy(col("lh"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxLineOcc)
      .select(col("lh"))
    val pruned = kept.join(frequent, Seq("lh"), "left_anti")
    val rebuilt = pruned.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("ln")))),
          s => s.getField("ln")), "\n").as("text_kept"))
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\n", -1)).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }
}
