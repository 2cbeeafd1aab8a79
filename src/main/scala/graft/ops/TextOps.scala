package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.SplitProbe

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, language-ID heuristic, quality scoring,
  * fingerprinting. All pure column expressions (codegen'd, no UDFs) — at
  * 100 TB these run map-side with zero shuffle.
  */
object TextOps {

  /** Whitespace tokenizer (documents corpus is pre-normalized lowercase). */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Spread a COMPUTE-HEAVY projection's input across cores when the scan
    * collapses to fewer splits than `width` (optimization guide §2.5 "input
    * skew: one huge unsplittable file … repartition immediately after the
    * read"). The tokenize/shingle/probe chains below are fused into the
    * scan stage, so their cost rides the SPLIT count, not the shuffle
    * width — one small parquet file (or one unsplittable gzip at scale)
    * serializes the whole corpus's token work onto one core (d02 measured a
    * 1.25 s single task at sf0.1 while 31 cores idled). The round-robin
    * repartition is an explicit numPartitions form, so AQE never coalesces
    * it away; `width` is capped at 8 — enough to unserialize the scan
    * stage while keeping per-task fixed costs amortized (r12 measured
    * width-32 kilobyte partitions as +40-50 % wall on this corpus via pure
    * scheduling overhead). On a many-file table (every real corpus) the
    * split count already exceeds `width` and this is a no-op — the shuffle
    * only ever moves data that fit in ≤ width-1 splits. Splits count only
    * when they hold rows ([[SplitProbe]]): a one-row-group file cut into
    * byte ranges is one split's work however many ranges it has.
    */
  def spreadCompute(df: DataFrame): DataFrame = {
    val width = math.min(8, df.sparkSession.sessionState.conf.numShufflePartitions)
    if (SplitProbe.narrowerThan(df, width)) df.repartition(width) else df
  }

  /** Word n-gram shingles. Guarded for short docs (sequence would descend). */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array())

  /** Tiny per-language stopword lists for the n-gram/stopword langid
    * heuristic. Deliberately small + fixed: the operator's contract is a
    * deterministic score, not linguistic accuracy.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est"),
    "es" -> Seq("el", "los", "las", "y", "una", "es", "en", "que"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "von"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "人"))

  /** Count of tokens found in `words` (duplicates counted — unlike
    * array_intersect, which dedups).
    */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*))).cast("long")

  /** Argmax language with fixed preference order on ties (en>fr>es>de>zh) —
    * expressed as a when-chain so the DuckDB oracle can mirror it exactly.
    */
  def langPrediction(scores: Map[String, Column]): Column = {
    val order = stopwords.map(_._1)
    def winner(i: Int): Column = {
      val me = scores(order(i))
      val rest = order.drop(i + 1).map(scores)
      rest.foldLeft(lit(true))((acc, o) => acc && me >= o)
    }
    order.init.zipWithIndex.foldRight(lit(order.last)) { case ((lang, i), els) =>
      when(winner(i), lit(lang)).otherwise(els)
    }
  }

  /** Quality score in [0,1]: 0.3·stopword density + 0.4·length saturation
    * (min(1, n/100)) + 0.3·lexical diversity — algebraically restated as ONE
    * division of exact integers,
    * `(300·(stop+distinct) + 4·min(n,100)·n) / (1000·n)`, because a
    * multi-op float chain diverges from the oracle by an ulp at rounding
    * boundaries (observed at sf0.1); a single exact-int division is
    * bit-identical across engines with no rounding step at all.
    */
  def qualityScore(nTokens: Column, nDistinct: Column, stopHits: Column): Column = {
    val lenCap = least(nTokens, lit(100L))
    val num = (stopHits + nDistinct) * lit(300L) + lenCap * nTokens * lit(4L)
    num.cast("double") / (nTokens * lit(1000L)).cast("double")
  }

  /** Canonical text normalization shared by every fingerprint flavor
    * (md5 in [[fingerprint]], RollingHash64 in t06): whitespace-collapsed,
    * trimmed, lowercased.
    */
  def canonicalText(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Canonical-text fingerprint: md5 of [[canonicalText]].
    * Collisions ≈ exact near-normal duplicates.
    */
  def fingerprint(text: Column): Column = md5(canonicalText(text))

  /** Top-k distinctive terms per doc — the integer core of TF-IDF keyword
    * extraction, ranked by (tf desc, df asc, term asc) instead of the float
    * tf·log(N/df) score: the rank order is identical wherever the float
    * score's log is monotone in df (always), and exact-integer ranking is
    * reproducible across engines while transcendental log is not.
    *
    * Shape at scale: one shuffle to count (doc, term) tf; the document
    * frequency is a second aggregate OVER the tf table (vocabulary-sized,
    * not corpus-sized — partial-agg combines per term); the join back rides
    * the term key; the final top-k window partitions by doc (per-doc
    * vocabulary partitions — thousands of rows at worst, never hot).
    */
  def distinctiveTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = spreadCompute(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .withColumn("rnk", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rnk"))
  }

  /** Overlapping token-window chunking — the step between a curated corpus
    * and a context-length-bounded consumer (embedding models, RAG indexing,
    * long-doc training): each doc becomes ⌈n/stride⌉ chunks of ≤ `window`
    * tokens whose starts are 0, stride, 2·stride, … < n, so consecutive
    * chunks overlap by window − stride tokens.
    *
    * Returns (idCol, chunk_idx, n_toks, n_chunk_tokens, chunk_text). Pure
    * per-row expressions — sequence + slice + explode, zero shuffle, fans
    * out map-side; at 100 TB this pushes through the scan like any
    * projection (the explode multiplies rows ~n/stride, which is the
    * output's inherent size, not a plan artifact).
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window]: $stride")
    df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .withColumn("n_toks", size(col("_toks")).cast("long"))
      .withColumn("_starts",
        sequence(lit(0), greatest(size(col("_toks")) - 1, lit(0)), lit(stride)))
      .select(col(idCol), col("n_toks"), col("_toks"),
        posexplode(col("_starts")).as(Seq("chunk_idx", "_st")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("n_toks"),
        least(lit(window.toLong), col("n_toks") - col("_st")).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("_toks"), col("_st") + 1, lit(window)))
          .as("chunk_text"))
  }

  /** Rare-n-gram novelty — the corpus-frequency face of quality filtering
    * (a doc whose n-grams are mostly unseen elsewhere is either novel
    * content or noise; both ends of the distribution get human review in
    * real pipelines). Per doc: total distinct n-grams, how many are RARE
    * (corpus document-frequency ≤ `maxDf`), kept as exact counts so the
    * novelty ratio is reproducible.
    *
    * Scale shape: one explode+groupBy builds the (gram, df) table
    * (vocabulary-sized, partial-agg combined); the join back rides the gram
    * key; the per-doc rollup shuffles narrow (id, flag) rows. The gram
    * table is the same map-side-distinct shingle stream as the dedup ops —
    * no quadratic anything.
    */
  def rareNgramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, maxDf: Long = 1): DataFrame = {
    val grams = spreadCompute(df.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(array_distinct(shingles(col("_toks"), n))).as("g"))
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(dfreq, "g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") <= maxDf, 1L).otherwise(0L)).as("n_rare"))
  }

  /** Linear quality classifier in exact-integer logit space — the shape of
    * a fastText/logistic quality model (w·f + b over cheap text features)
    * with every number an exact integer: no sigmoid (monotone — thresholding
    * the logit IS thresholding the probability), no float weights (the
    * trained model is scaled to integers, standard quantized inference), so
    * the SQL oracle reproduces every score bit-for-bit. Features: token
    * count (capped 200), distinct tokens, en-stopword hits, digit-token
    * count. Pure per-row expressions — zero shuffle, pushes through scans.
    */
  def qualityLogit(text: Column): Column = {
    val toks = tokens(text)
    val nTok = least(size(toks), lit(200)).cast("long")
    val nDis = size(array_distinct(toks)).cast("long")
    val stop = stopwordHits(toks, stopwords.toMap.apply("en"))
    val digit = size(filter(toks, t => t.rlike("^[0-9]+$"))).cast("long")
    // weights ×100 (two-decimal fixed point): 0.25·cap + 1.5·distinct +
    // 2·stop − 3·digit − 40 bias
    nTok * lit(25L) + nDis * lit(150L) + stop * lit(200L) -
      digit * lit(300L) - lit(4000L)
  }

  /** Repetition counters over word n-grams — the integer core of the
    * Gopher-family repetition quality filters (Rae et al. 2021 §A1.1:
    * "fraction of characters in the most common n-gram" etc.), kept as
    * exact counts so thresholds stay reproducible across engines:
    * per doc, total n-grams, the top n-gram's occurrence count, and the
    * distinct n-gram count. One hash aggregation on (id, gram), partial
    * map-side; a second tiny one per doc — no window, no sort.
    */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame =
    spreadCompute(df.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(shingles(col("_toks"), n)).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as("c"))
      .groupBy(idCol)
      .agg(sum(col("c")).as("n_grams"),
        max(col("c")).as("top_count"),
        count(lit(1)).as("n_distinct"))

  /** Corpus bigram-LM predictability score — the integer core of the
    * perplexity filter every public LLM pipeline runs (CCNet/RefinedWeb
    * train a small LM on the corpus and drop its least-predictable tail;
    * the standard lowercase-KenLM caveats apply to the real thing too).
    * Pass 1 trains the LM: conditional probability of each bigram in ppm,
    * p(w₂|w₁) = ⌊c(w₁w₂)·10⁶ / c(w₁·)⌋ — prefix counts summed over the
    * bigram table itself, so the model is self-consistent. Pass 2 scores
    * each doc with the mean bigram probability (occurrence-weighted,
    * integer-floored). Every step is exact-integer, so the SQL oracle
    * replays both passes bit-for-bit. Docs with < 2 tokens have no bigrams
    * and drop out (the caller's length filter runs first in practice).
    *
    * Scale shape: the LM build is one explode + groupBy (vocabulary²-bounded,
    * partial-agg combined map-side); the prefix rollup aggregates the LM
    * table, not the corpus; scoring joins the bigram STREAM to the LM — at
    * 100 TB that join is the cost. Since r17 the scoring join rides a
    * HASHED key pair (xxhash64 + murmur3 of the bigram, 12 B) instead of
    * the raw bigram string (the d21 groupOnHash discipline, guide §2.3
    * "shuffle keys and metadata instead of payloads"): the corpus-sized
    * side sheds its string bytes (~2–5× fewer shuffle bytes at real bigram
    * lengths) while the LM AGGREGATION itself stays string-exact (groups
    * and prefix sums never see a hash). Collision bound: the result can
    * differ from the textual join only if two DISTINCT corpus bigrams
    * collide on BOTH hashes — P ≈ V²/2⁹⁷ for V distinct bigrams (96
    * independent bits, birthday bound), i.e. < 10⁻⁹ even at V = 10¹⁰ —
    * the same 128-bit-class "collisions don't happen" budget the md5
    * fingerprint dedup family (d01/d05) already runs on; the DuckDB oracle
    * replays the textual definition and stays hash-identical on every SF
    * (verified 137/137).
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // cached: BOTH passes (LM build and scoring) consume the exploded
    // bigram stream — uncached, the corpus tokenize+explode runs twice
    // (r6 ADVICE; same discipline as the shingle streams in Dedup)
    val bg = scope.cached(
      spreadCompute(df.select(col(idCol), col(textCol)))
        .select(col(idCol), tokens(col(textCol)).as("_toks"))
        .select(col(idCol), explode(shingles(col("_toks"), 2)).as("bg")))
    val lm = bg.groupBy("bg").agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val prefix = lm.groupBy("w1").agg(sum(col("c_bg")).as("c_w1"))
    // probs keyed by the 96-bit hash pair; the string stays exact upstream
    val probs = lm.join(prefix, "w1")
      .select(xxhash64(col("bg")).as("_bgh"), hash(col("bg")).as("_bgm"),
        expr(s"(c_bg * ${scale}L) div c_w1").as("p_ppm"))
    bg.select(col(idCol), xxhash64(col("bg")).as("_bgh"),
        hash(col("bg")).as("_bgm"))
      .join(probs, Seq("_bgh", "_bgm"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("avg_p_ppm"))
  }

  /** The perplexity GATE on top of [[bigramLmScore]] — the step CCNet/
    * RefinedWeb actually ship: drop the least-predictable `dropPct`% of the
    * corpus by LM score. The cutoff is the exact discrete quantile,
    * value-resolved: with k = ⌊n·dropPct/100⌋ scored docs to drop, t is the
    * smallest score whose cumulative count reaches k, and every doc scoring
    * ≤ t drops (ties drop together — slightly more than k, never
    * rank-order-dependent). All-integer, so the SQL oracle replays the
    * score, the histogram, and the cutoff bit-for-bit.
    *
    * Scale shape: scores are ppm integers in [0, 10⁶], so the quantile
    * comes from a bounded HISTOGRAM (one map-side-combinable groupBy of the
    * scored table, ≤ 10⁶+1 rows regardless of corpus size) + a running sum
    * over that histogram — never a global sort or rank of the corpus. The
    * single-partition window is over the histogram, not the data; the
    * threshold crosses the driver as one long.
    */
  def bigramLmFilter(df: DataFrame, idCol: String, textCol: String,
      dropPct: Int = 25, scale: Long = 1000000L,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(dropPct >= 0 && dropPct < 100,
      s"dropPct must be in [0, 100), got $dropPct")
    // scored feeds the doc count, the histogram, and the final filter
    val scored = scope.cached(bigramLmScore(df, idCol, textCol, scale, scope))
    val k = scored.count() * dropPct / 100
    if (k == 0) return scored
    val hist = scored.groupBy("avg_p_ppm").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(org.apache.spark.sql.expressions.Window
        .orderBy("avg_p_ppm")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val t = cum.filter(col("cum") >= k)
      .agg(min(col("avg_p_ppm"))).head.getLong(0)
    scored.filter(col("avg_p_ppm") > t)
  }
}
