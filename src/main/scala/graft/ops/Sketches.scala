package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-memory frequency sketches for corpus statistics.
  *
  * At 100 TB a per-token exact count is a vocabulary-sized shuffle; a
  * count-min sketch is `depth × width` cells REGARDLESS of corpus size,
  * partial-aggregated map-side, so the only thing that ever crosses the
  * wire is the sketch itself. The hash chain is md5-derived (not xxhash64)
  * so an external engine can replay every bucket assignment — the same
  * oracle-replayability discipline as the d05/d08 SimHash md5 chain.
  */
object Sketches {

  /** Count-min bucket for one (seed, token): the low 12 bits of
    * md5("<seed>:<token>") (hex chars 30..32 of the 32-char digest) reduced
    * mod `width`. Deterministic, engine-replayable, codegen'd builtins only.
    */
  def cmsBucket(tok: Column, seed: Int, width: Int): Column = {
    require(width > 0 && width <= 4096, s"width must be in (0, 4096], got $width")
    // the 12-bit digest is reduced mod width: a width that does not divide
    // 4096 makes low buckets ceil(4096/width)-likely and high ones
    // floor(4096/width) — a silent estimate-quality skew (ADVICE r13), so
    // only divisors of 4096 (powers of two up to 4096) are accepted
    require(4096 % width == 0,
      s"width must divide 4096 for uniform buckets, got $width")
    conv(substring(md5(concat_ws(":", lit(seed.toString), tok)), 30, 3), 16, 10)
      .cast("long") % width
  }

  /** The count-min sketch of a token stream: one row per (seed, bucket)
    * cell with its collision-summed count. `depth × width` rows out —
    * constant in corpus size. The explode fans each token to `depth`
    * (seed, bucket) cells BEFORE the aggregate, so the map-side partial
    * aggregation collapses the corpus-sized stream to ≤ depth·width cells
    * per task; the shuffle moves only those cells.
    */
  def countMinSketch(tokens: DataFrame, tokCol: String,
      depth: Int = 3, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8], got $depth")
    tokens
      .select(explode(array((0 until depth).map(d =>
        struct(lit(d).as("seed"),
          cmsBucket(col(tokCol), d, width).as("bucket"))): _*)).as("sb"))
      .groupBy(col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two count-min sketches (same depth/width/hash chain) by
    * cell-wise addition — THE property that makes the sketch a corpus-scale
    * structure: per-day / per-shard sketches fold into the global one
    * without revisiting any token stream. Exactly equal (not just
    * approximately) to sketching the concatenated corpus, because each
    * cell is a plain sum — LayoutSpec pins that equality.
    */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("seed", "bucket")
      .agg(sum("cnt").as("cnt"))

  /** Point estimates from a sketch for a small set of probe tokens
    * (broadcast the sketch — depth·width cells — never the corpus).
    */
  def estimateFor(sketch: DataFrame, probes: DataFrame, tokCol: String,
      depth: Int = 3, width: Int = 1024): DataFrame =
    probes
      .select(col(tokCol).as("tok"),
        explode(array((0 until depth).map(d =>
          struct(lit(d).as("seed"),
            cmsBucket(col(tokCol), d, width).as("bucket"))): _*)).as("sb"))
      .select(col("tok"), col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("seed", "bucket"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  // ------------------------------------------------------------------ HLL
  // The CMS treatment for DISTINCT counting (VERDICT r13 #7): t11's
  // approx_count_distinct is a black box whose sketch Spark never exposes,
  // so per-shard sketches could not fold into a global count without
  // re-reading data. This explicit register table is the mergeable form:
  // per (group, register) keep max(rank); merge = cell-wise MAX, exactly
  // equal to sketching the whole corpus (max is associative/commutative
  // over any sharding). 1024 registers (m=2^10 — standard error
  // 1.04/√m ≈ 3.3%, and ~2.4% in the small-range linear-counting regime;
  // m=256 measured 6.5% on the 500-doc fixture, outside a 5% gate), ranks
  // from 48 hash bits. The whole chain is md5-derived INTEGER arithmetic —
  // replayable in DuckDB nibble by nibble, no float anywhere before the
  // estimate.

  /** HLL register count (m = 2^10). */
  val HllRegisters = 1024

  /** MSB smear: propagate the highest set bit down so
    * bit_count(smear(v)) = position of the MSB (1-based), 0 for v = 0.
    */
  private def smear(c: Column): Column =
    Seq(1, 2, 4, 8, 16, 32).foldLeft(c)((v, sh) =>
      v.bitwiseOR(shiftrightunsigned(v, sh)))

  /** The HLL register table of `keyCol` (the distinct-count key):
    * one row per (groupCols..., register) with the max rank observed.
    * digest = md5(key); register = first 3 hex chars mod 1024 (uniform —
    * 1024 divides 4096); rank = leading-zero count of the next 48 bits + 1
    * (= 49 − MSB position, 49 when all 48 bits are zero) — integer smear +
    * bit_count, so DuckDB reproduces every cell exactly. Over a stream
    * (st08) it is a complete-mode aggregation whose state is bounded a
    * priori at m = 1024 rows per group, cell-identical under any
    * micro-batching because MAX is commutative and associative.
    */
  def hllRegisters(df: DataFrame, keyCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val d = md5(col(keyCol))
    val reg = (conv(substring(d, 1, 3), 16, 10).cast("long") % HllRegisters)
      .as("register")
    val w = conv(substring(d, 4, 12), 16, 10).cast("long")
    val rank = (lit(49) - bit_count(smear(w))).cast("long").as("rank")
    df.select(groupCols.map(col) :+ reg :+ rank: _*)
      .groupBy("register", groupCols: _*)
      .agg(max("rank").as("rank"))
  }

  /** Merge HLL register tables by cell-wise MAX — exactly the whole-corpus
    * table (LayoutSpec pins the equality), so per-day/per-shard register
    * tables fold into a global distinct-count without revisiting data.
    */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val keys = a.columns.filter(_ != "rank").toSeq
    a.unionByName(b).groupBy(keys.map(col): _*).agg(max("rank").as("rank"))
  }

  /** Distinct-count estimate from a register table (per group): the
    * standard HLL harmonic estimator with the small-range linear-counting
    * correction (below 2.5·m with empty registers, m·ln(m/V) is the
    * better estimator). Registers never observed count as rank 0
    * (2^-0 = 1 each). Float enters HERE only — cells stay integers.
    */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String] = Nil): DataFrame = {
    val m = HllRegisters.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val grouped =
      if (groupCols.isEmpty) regs.groupBy()
      else regs.groupBy(groupCols.map(col): _*)
    grouped
      .agg(sum(pow(lit(2.0), -col("rank"))).as("hsum"),
        count(lit(1)).as("filled"))
      .withColumn("zeros", lit(m) - col("filled"))
      .withColumn("raw",
        lit(alpha * m * m) / (col("hsum") + col("zeros")))
      .withColumn("hll_est",
        when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
          lit(m) * log(lit(m) / col("zeros")))
          .otherwise(col("raw")))
      .drop("hsum", "filled", "zeros", "raw")
  }

  // ------------------------------------------------------------ KMV (theta)
  // The set-operation gap in the sketch family: HLL registers fold to
  // |A ∪ B| (cell-wise MAX) but cannot answer |A ∩ B|; the KMV / theta
  // sketch — the k smallest distinct hash values of the key set — is the
  // mergeable structure that does (the DataSketches theta design). Merge =
  // k smallest distinct of the concatenated sketches, EXACTLY the
  // whole-corpus sketch under any sharding; distinct estimate =
  // (k−1)/θ with θ = h_(k)/2^60; intersections estimate from the common
  // retained values below min(θ_A, θ_B). The sketch itself is built by
  // [[graft.functions.KmvAgg]] (bounded k-long partial buffers — nothing
  // vocabulary-sized ever shuffles); everything below is plain column
  // arithmetic over the emitted k-array. Hashes are the first 15 md5
  // nibbles (60 bits, non-negative in a LongType), so DuckDB replays every
  // retained value exactly — the t24/st08 discipline.

  /** Hash domain: values are uniform on [0, 2^60). */
  val KmvDomain: Double = 1.152921504606846976e18 // 2^60

  /** 60-bit md5-derived hash of a key — 15 hex nibbles, non-negative. */
  def kmvHash(key: Column): Column =
    conv(substring(md5(key), 1, 15), 16, 10).cast("long")

  /** Merge two KMV k-arrays: k smallest distinct of the union — exactly
    * the sketch of the concatenated corpora (KmvSpec pins the equality).
    */
  def kmvMergeArr(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** Distinct-count estimate from a KMV k-array: exact when the sketch
    * holds the whole key set (|sketch| < k), else the classic unbiased
    * (k−1)/θ with θ = h_(k)/2^60. Standard error ≈ 1/√(k−2).
    */
  def kmvEstimate(sk: Column, k: Int): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(KmvDomain) /
        element_at(sk, k).cast("double"))

  /** |A ∩ B| estimate from two KMV k-arrays (theta-sketch intersection):
    * θ∩ = min(θ_A, θ_B); the common retained values strictly below θ∩ are
    * a uniform θ∩-rate sample of the true intersection, so the estimate is
    * their count scaled by 1/θ∩. Exact when both sketches are un-full.
    */
  def thetaIntersection(a: Column, b: Column, k: Int): Column = {
    def thetaOf(s: Column): Column =
      when(size(s) < k, lit(KmvDomain)).otherwise(element_at(s, k).cast("double"))
    val theta = least(thetaOf(a), thetaOf(b))
    val sample = size(filter(array_intersect(a, b), h => h.cast("double") < theta))
    sample.cast("double") * lit(KmvDomain) / theta
  }

  // ------------------------------------------------ histogram (quantiles)
  // The CMS treatment for QUANTILES (VERDICT r13 #7): t14's
  // percentile_approx sketch is equally unmergeable at the DataFrame
  // level. A fixed-bin histogram over a bounded integer domain is the
  // explicit form: cells = (group, bin, cnt) with bin = value div
  // binWidth; merge = cell-wise SUM (exact, like the CMS); any quantile
  // read off the cumulative histogram is within binWidth of the true
  // value a priori. domain/binWidth cells regardless of corpus size.

  /** Fixed-bin histogram cells of a non-negative integer column. Over a
    * stream (st09) the cells are plain sums, so the table is deterministic
    * under any micro-batching and state is bounded a priori at
    * domain/binWidth rows per group.
    */
  def histogram(df: DataFrame, valueCol: Column, binWidth: Long,
      groupCols: Seq[String] = Nil): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1, got $binWidth")
    df.select(groupCols.map(col) :+ floor(valueCol / binWidth).cast("long").as("bin"): _*)
      .groupBy("bin", groupCols: _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge histogram cell tables by cell-wise addition — exactly the
    * whole-corpus histogram (LayoutSpec pins the equality).
    */
  def histogramMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val keys = a.columns.filter(_ != "cnt").toSeq
    a.unionByName(b).groupBy(keys.map(col): _*).agg(sum("cnt").as("cnt"))
  }

  /** Quantile estimate from a histogram: midpoint of the first bin whose
    * cumulative count reaches ⌈q·total⌉ per group — error ≤ binWidth.
    */
  def histogramQuantile(hist: DataFrame, q: Double, binWidth: Long,
      groupCols: Seq[String]): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0, 1], got $q")
    val byGroup = Window.partitionBy(groupCols.map(col): _*)
    hist
      .withColumn("cum", sum("cnt").over(byGroup.orderBy("bin")))
      .withColumn("total", sum("cnt").over(byGroup))
      .filter(col("cum") >= ceil(col("total") * q))
      .groupBy(groupCols.map(col): _*)
      .agg(min("bin").as("qbin"))
      .withColumn("est",
        (col("qbin") * binWidth + binWidth / 2).cast("double"))
      .drop("qbin")
  }

  /** Exact top-k heavy hitters with their count-min estimates side by side:
    * (token, exact count, CMS estimate, the CMS no-underestimate guarantee
    * as a checked column). The exact counts are the verification harness —
    * production reads only the sketch; the estimate path broadcasts the
    * depth·width-cell sketch and probes it with the k candidate tokens, so
    * nothing corpus-sized is joined or collected.
    *
    * Ordering ties break on the token string so the top-k set is
    * deterministic across engines.
    */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int = 20,
      depth: Int = 3, width: Int = 1024): DataFrame = {
    val toks = docs
      .select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val top = exact.orderBy(desc("exact_cnt"), asc("tok")).limit(k)
    val sketch = countMinSketch(toks, "tok", depth, width)
    val probes = top.select(col("tok"), col("exact_cnt"),
        explode(array((0 until depth).map(d =>
          struct(lit(d).as("seed"),
            cmsBucket(col("tok"), d, width).as("bucket"))): _*)).as("sb"))
      .select(col("tok"), col("exact_cnt"),
        col("sb.seed").as("seed"), col("sb.bucket").as("bucket"))
    probes.join(broadcast(sketch), Seq("seed", "bucket"))
      .groupBy("tok", "exact_cnt")
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("tok"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") >= col("exact_cnt")).cast("long").as("no_underestimate"))
  }
}
