package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

import graft.functions.VectorFunctions

/** Similarity search over embedding columns (Array[Float]).
  *
  * Every search is one skeleton (PAPERS.md *REPOSE*): an index prunes the
  * candidates, then each query ranks its candidates and keeps the top k
  * ([[topK]]), the measure being a plug-in. Scores live in an exact
  * integer space (×10⁴ fixed point, [[quantize]]): dot products and norms
  * are BIGINTs, so results are bit-identical across engines (oracle-able).
  *  - [[knnExactQuantized]]: no index, brute-force cosine (s01).
  *  - [[annHyperplane]]: sign-LSH buckets of the chosen [[SignPlanes]]
  *    kernel (s02 exact, s05 float reference); candidate generation is one
  *    bucket join instead of the full cross product.
  *  - [[annIvfExact]] / [[annIvfPq]]: coarse lists trained by the one
  *    floor-mean Lloyd's loop ([[lloyd]]), queries probe `nprobe` lists
  *    and scan them in exact L2 (s04, s11); [[annPq]] scans product codes
  *    (s10). [[annIvf]] is the float spherical-k-means reference (s05).
  *  - [[kmeansAssign]] / [[semDedup]] / [[semDedupTrained]] /
  *    [[nearestCentroid]]: the same loop and centroid assignment
  *    ([[assignTo]]) for clustering, semantic dedup and classification
  *    (s08, s09, d14, d19).
  *  - [[cosineNearDupPairs]] / [[cosineNearDupBucketed]]: near-dup pairs
  *    above a cosine threshold, all-pairs (s03) or over the hyperplane
  *    bucket table (s07).
  */
object Similarity {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** Quantize float embedding → exact fixed-point BIGINT vector (native
    * kernel; semantics identical to `round(x*scale)::long` per element).
    */
  def quantize(emb: Column, scale: Int = 10000): Column =
    VectorFunctions.quantize_vec(emb, scale)

  /** Run `n` INDEPENDENT per-subspace training loops as overlapping Spark
    * jobs (optimization guide §2.6: actions are only sequential because the
    * driver calls them sequentially). The PQ codebooks per subvector slice
    * share no state — each loop's jobs are tiny (collect of ≤nlist centroid
    * rows over the cached base), so run serially their wall is dominated by
    * per-job scheduling latency, not compute: s10 measured 8 sequential
    * Lloyd's loops = 16 driver-barrier jobs. Results are deterministic and
    * identical to the sequential form: each subspace's trajectory depends
    * only on its own slice, and the returned Seq keeps subspace order.
    * Callers MUST materialize any shared cached input first (one cheap
    * count()) so concurrent first-touch jobs don't recompute the cache
    * source once per thread — at corpus scale the duplicate scan, not the
    * thread count, is the hazard.
    */
  private def inParallel[T](n: Int)(f: Int => T): Seq[T] =
    if (n <= 1) Seq.tabulate(n)(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(n, 8))
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val futs = Vector.tabulate(n)(i => scala.concurrent.Future(f(i)))
        futs.map(scala.concurrent.Await.result(_,
          scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    }

  /** Exact integer dot product — native codegen'd kernel (tight long loop,
    * no per-element lambda frames; see [[graft.functions.DotProductQ]]).
    */
  def dotQ(a: Column, b: Column): Column =
    VectorFunctions.dot_q(a, b)

  /** Per-vector max |x| as double — the scale basis for symmetric int8
    * quantization. Materialize this in its own projection before passing it
    * to [[quantizeInt8]] (lambdas re-evaluate captured non-attribute
    * expressions per element — no CSE inside higher-order functions).
    */
  def maxAbs(emb: Column): Column =
    array_max(transform(emb, x => abs(x))).cast("double")

  /** Symmetric int8 quantization: q_i = floor(x_i·127 / maxAbs), zero vector
    * → zeros. `floor`, not `round`: tie-breaking on .5 differs between
    * engines/modes, floor of an identical double never does — every step
    * (float→double widen, one multiply, one divide, floor) is a single IEEE
    * op written identically in the SQL oracle. Dequantize with
    * `q·maxAbs/127`; cosine error at 64 dims is ~1e-2, which the ANN paths
    * tolerate while shrinking the corpus footprint 4× vs float32.
    */
  def quantizeInt8(emb: Column, maxAbs: Column): Column =
    transform(emb, x =>
      when(maxAbs === lit(0.0), lit(0L))
        .otherwise(floor(x.cast("double") * lit(127.0) / maxAbs).cast("long")))

  /** Exact cosine from quantized vectors — every FP op is on exact ints. */
  def cosineQ(dot: Column, n1: Column, n2: Column): Column =
    dot.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double")))

  /** Brute-force top-k cosine neighbors for each query row.
    * `queryPred` selects the query subset (broadcast to every partition).
    *
    * @param maxQueryRows hard bound on the query side: it is BROADCAST and
    *   every corpus row scores against every query, so feeding a large
    *   query set (e.g. "2% of a 100 TB corpus") silently turns this into
    *   the O(n²) plan the ANN paths exist to avoid. The require makes that
    *   misuse loud instead of slow.
    */
  def knnExactQuantized(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, k: Int = 10, maxQueryRows: Long = 100000): DataFrame = {
    // NOTE (r16): spreading the scan (TextOps.spreadCompute) was measured
    // WORSE here (+50 % isolated wall) — the n×queries verify is too light
    // at the gated scale to pay for the exchange, and at corpus scale the
    // input has many splits anyway.
    val q = emb.select(col(idCol), quantize(col(embCol)).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    val queries = q.filter(queryPred)
      .select(col(idCol).as("qid"), col("qv").as("qq"), col("nrm").as("qn"))
    val nQueries = queries.count()
    require(nQueries <= maxQueryRows,
      s"knnExactQuantized query side has $nQueries rows (> $maxQueryRows): " +
        "the query set is broadcast and scored against every corpus row — " +
        "use annHyperplane(…, SignPlanes.Exact) or annIvfExact for large " +
        "query sets")
    val pairs = q.join(broadcast(queries), col(idCol) =!= col("qid"))
      .withColumn("dot", dotQ(col("qq"), col("qv")))
      .withColumn("cos_r", cosineQ(col("dot"), col("qn"), col("nrm")))
      .select(col(idCol).as("nbr"), col("qid"), col("cos_r"))
    topK(pairs, k, Seq(col("cos_r").desc, col("nbr")), "qid", "nbr", "rnk", "cos_r")
  }

  /** Each query's (`qid`'s) first `k` rows in `order`, numbered 1..k as
    * `rnk`, projected to `out`: the per-query rank every search ends in.
    */
  private def topK(rows: DataFrame, k: Int, order: Seq[Column],
      out: String*): DataFrame =
    rows.withColumn("rnk",
        row_number().over(Window.partitionBy("qid").orderBy(order: _*)))
      .filter(col("rnk") <= k)
      .select(out.map(col): _*)

  /** Sign-bit signature for `planes` hyperplanes → integer bucket id.
    * Native kernel (`HyperplaneSig`): mix64-derived ±1 weights computed in a
    * tight loop, bit-identical to the literal-array `aggregate(zip_with)`
    * form it replaces (same weights, same FP summation order) — the 48-table
    * s07 bucketing shipped ~12k weight literals and a 1.8 MiB task binary as
    * column expressions. The kernel uses the vector's actual length.
    */
  def hyperplaneBucket(emb: Column, planes: Int, offset: Int = 0): Column =
    VectorFunctions.hyperplane_sig(emb, offset, planes)

  /** All XOR masks of hamming weight ≤ h over the low `m` bits (multiprobe
    * neighborhood — driver-side constant, ≤ 1+m+m(m-1)/2 entries).
    */
  private[graft] def hammingMasks(m: Int, h: Int): Seq[Long] = {
    require(h <= 2, "multiprobe supports hamming <= 2")
    val h0 = Seq(0L)
    val h1 = if (h >= 1) (0 until m).map(b => 1L << b) else Nil
    val h2 = if (h >= 2) for {
      b1 <- 0 until m; b2 <- (b1 + 1) until m
    } yield (1L << b1) | (1L << b2)
    else Nil
    h0 ++ h1 ++ h2
  }

  /** Corpus exploded ONCE into one row per (table, bucket) cell — the shared
    * candidate-generation table behind [[annHyperplane]],
    * [[cosineNearDupBucketed]] and [[lshCandidateMass]]: a shuffle-free
    * projection whose only cost is tables×planes sign projections per row,
    * made by the `signs` kernel.
    */
  private def lshBucketTable(emb: DataFrame, idCol: String, embCol: String,
      tables: Int, planes: Int, signs: SignPlanes): DataFrame = {
    val bucketStructs = (0 until tables).map { t =>
      struct(lit(t).as("t"),
        signs.bucket(col("e"), col("qv"), t * planes, planes).as("b"))
    }
    emb.select(col(idCol), col(embCol).as("e"))
      .withColumn("qv", quantize(col("e")))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
      .withColumn("tb", explode(array(bucketStructs: _*)))
      .select(col(idCol), col("qv"), col("nrm"),
        col("tb.t").as("t"), col("tb.b").as("b"))
  }

  /** ANN via `tables` independent sign-LSH tables of `planes` bits each, with
    * hamming-≤`probeHamming` multiprobe on the query side; exact cosine
    * re-ranking of the candidate union. `signs` picks the plane kernel and
    * has no default: [[SignPlanes.Exact]] is the production path (s02, its
    * buckets, probes and re-rank replay bit-for-bit in DuckDB);
    * [[SignPlanes.Float]] is s05's recall-gated reference.
    *
    * Defaults (8×6, probe ≤1) are tuned on the sf0.01 corpus, whose top-5
    * neighbors sit at cosine 0.27–0.45 (per-bit collision p ≈ 0.6):
    * measured recall@5 = 0.92 (gated in OpsSpec). The per-bit probability is
    * 1−θ/π, so HIGH-similarity retrieval (near-dups at cos ≥ 0.9, p ≈ 0.86)
    * keeps that recall with far more planes — at corpus scale raise `planes`
    * toward log2(n) to keep buckets bounded and recall follows the target
    * similarity, not the weakest neighbor.
    *
    * Scale shape: corpus side is exploded once into (table, bucket) rows —
    * one shuffle-free projection; the query side (queries × tables × probes)
    * is broadcast; candidate generation is ONE equality join on
    * (table, bucket), not 2×tables separate joins; candidate pairs dedup as
    * narrow id pairs and the vectors join back only for the exact re-rank
    * (SCALING.md, r6: the wide form was the one hot task in the 10× run).
    */
  def annHyperplane(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, signs: SignPlanes, k: Int = 5, tables: Int = 8,
      planes: Int = 6, probeHamming: Int = 1): DataFrame = {
    val base = lshBucketTable(emb, idCol, embCol, tables, planes, signs)
    val probes = base.filter(queryPred)
      .withColumn("pm", explode(typedlit(hammingMasks(planes, probeHamming))))
      .select(col(idCol).as("qid"), col("t"),
        col("b").bitwiseXOR(col("pm")).as("b"))
    // Candidate dedup runs over NARROW (qid, nbr) pairs; vectors join back
    // afterwards. The wide form (arrays riding through distinct + window)
    // concentrated a 46 MiB / 11 s hot task in the 10× rehearsal — at 16
    // bytes/row the same shuffle is ~60× smaller and the per-qid window
    // ranks narrow rows.
    val cands = base.join(broadcast(probes), Seq("t", "b"))
      .filter(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("nbr"))
      .distinct()
    val vecs = emb.select(col(idCol), quantize(col(embCol)).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    val queries = vecs.filter(queryPred)
      .select(col(idCol).as("qid"), col("qv").as("qq"), col("nrm").as("qn"))
    val scored = cands
      .join(vecs.select(col(idCol).as("nbr"), col("qv"), col("nrm")), "nbr")
      .join(broadcast(queries), "qid")
      .withColumn("dot", dotQ(col("qq"), col("qv")))
      .withColumn("cos_r", cosineQ(col("dot"), col("qn"), col("nrm")))
    topK(scored, k, Seq(col("cos_r").desc, col("nbr")), "qid", "nbr", "rnk", "cos_r")
  }

  /** Deterministic spherical k-means over a bounded training sample —
    * driver-side, faiss-style (faiss trains its coarse quantizer on a
    * ≤256·nlist sample too; the cluster never pays more than ONE assignment
    * pass over the corpus). Init = evenly-strided sample rows; fixed
    * iteration count; empty clusters keep their previous centroid — fully
    * reproducible, no RNG.
    */
  private[ops] def sphericalKMeans(
      sample: Array[Array[Double]], nlist: Int, iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "k-means training sample is empty")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val xs = sample.map(normalize)
    val centroids = Array.tabulate(nlist)(c => xs((c.toLong * xs.length / nlist).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Double](xs.head.length))
      val counts = new Array[Long](nlist)
      xs.foreach { x =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < nlist) {
          var dot = 0.0; var i = 0
          while (i < x.length) { dot += x(i) * centroids(c)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < x.length) { sums(best)(i) += x(i); i += 1 }
        counts(best) += 1
      }
      for (c <- 0 until nlist if counts(c) > 0)
        centroids(c) = normalize(sums(c))
    }
    centroids
  }

  /** IVF (inverted-file) ANN: coarse centroids from deterministic spherical
    * k-means on a bounded sample, each vector assigned to its nearest
    * centroid, queries probe the `nprobe` nearest centroid lists and re-rank
    * exactly.
    *
    * Scale shape: training collects ≤ 64·nlist sample vectors to the driver
    * (bounded, faiss-standard); the assignment pass is a broadcast join
    * against `nlist` centroids (map-side only); search touches
    * ~`nprobe/nlist` of the data — the standard IVF cost model, expressed as
    * two broadcast joins + a window instead of a handwritten index.
    *
    * Default nprobe=7/nlist=16 is tuned for recall@5 ≥ 0.8 on the sf0.01
    * corpus (gated in OpsSpec), whose neighbor structure is weak (top-5 at
    * cosine 0.27–0.45 — barely above the random-pair σ ≈ 0.125): when near
    * neighbors are scarcely closer than random, ANY partition-based index
    * must scan a large fraction to find them. A corpus with real near-dup
    * structure (cos ≥ 0.9) co-locates those pairs and lower nprobe holds the
    * same recall.
    */
  @deprecated("production path is annIvfExact (exact-integer coarse chain, " +
    "oracle-replayable, same IVF cost model); this float spherical-k-means " +
    "form is retained only as s05's recall-gated reference", "0.1.0")
  def annIvf(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, nlist: Int = 16, nprobe: Int = 7, k: Int = 5,
      kmeansIters: Int = 3,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = scope.cached( // consumed by training sample, assignment, queries
      emb.select(col(idCol), quantize(col(embCol)).as("qv"))
        .withColumn("nrm", dotQ(col("qv"), col("qv"))))
    val n = base.count() // also materializes the cache before the collect
    val sampleStride = math.max(1L, n / (nlist * 64L))
    // deterministic, bounded training sample: fixed id positions, ≤64·nlist rows
    val sample = base.filter(col(idCol) % sampleStride === 0)
      .select(col(idCol), col("qv")).orderBy(col(idCol))
      .collect().map(_.getSeq[Long](1).map(_.toDouble).toArray)
    val cvs = sphericalKMeans(sample, nlist, kmeansIters)
      // re-quantize unit centroids into the exact integer space (cosine is
      // scale-invariant, so the 1e4 fixed-point grid keeps ranking exact)
      .map(_.map(x => math.round(x * 10000)))
    val centroids = cvs.zipWithIndex
      .map { case (cv, cid) => (cid, cv.toSeq) }.toSeq
      .toDF("cid", "cv")
      .withColumn("cn", dotQ(col("cv"), col("cv")))
    // assign every vector to its nearest centroid — native argmax kernel:
    // one output row per vector, NO n×nlist join rows and no groupBy
    // shuffle (the r6 join+partial-agg form is pinned equal in OpsSpec;
    // ties break toward the higher cid exactly like max(struct(ccos, cid)))
    val assigned = base.withColumn("cid",
        VectorFunctions.argmax_cos_centroid(col("qv"), cvs.map(_.toSeq).toSeq))
      .select(col(idCol), col("qv"), col("nrm"), col("cid"))
    // queries probe their nprobe nearest centroid lists (query set is tiny)
    val queries = base.filter(queryPred)
      .select(col(idCol).as("qid"), col("qv").as("qq"), col("nrm").as("qn"))
    val probes = topK(queries.join(broadcast(centroids), lit(true))
        .withColumn("qcos", cosineQ(dotQ(col("qq"), col("cv")), col("qn"), col("cn"))),
      nprobe, Seq(col("qcos").desc, col("cid")), "qid", "qq", "qn", "cid")
    // each vector lives in exactly one list, so (qid, nbr) pairs are unique
    val scored = probes.join(assigned, Seq("cid"))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("cos_r", cosineQ(dotQ(col("qq"), col("qv")),
        col("qn"), col("nrm")))
      .select(col("qid"), col(idCol).as("nbr"), col("cos_r"))
    topK(scored, k, Seq(col("cos_r").desc, col("nbr")), "qid", "nbr", "rnk", "cos_r")
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold —
    * dedup by semantic similarity, exact integer space, all-pairs.
    *
    * Scale note: all-pairs is O(n²) on purpose here — it is the *oracle*
    * formulation (bit-exact, verifiable). The corpus's planted duplicates
    * sit at cosine ≥ 0.9 where the [[annHyperplane]] LSH path has real
    * recall; at 100 TB you run that first and this kernel only on candidate
    * buckets. Broadcast of the smaller side keeps this shuffle-free.
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
      threshold: Double): DataFrame = {
    // the n·(n−1)/2 dot products fuse into the probe-side scan stage —
    // spread a near-singleton split count first (TextOps.spreadCompute)
    val base = TextOps.spreadCompute(emb.select(col(idCol), col(embCol)))
      .select(col(idCol), quantize(col(embCol)).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    val x = base.select(col(idCol).as("d1"), col("qv").as("v1"), col("nrm").as("n1"))
    val y = base.select(col(idCol).as("d2"), col("qv").as("v2"), col("nrm").as("n2"))
    x.join(broadcast(y), col("d1") < col("d2"))
      .withColumn("cos_r",
        cosineQ(dotQ(col("v1"), col("v2")), col("n1"), col("n2")))
      .filter(col("cos_r") >= threshold)
      .select("d1", "d2", "cos_r")
  }

  /** The registry's fixed hyperplane point (s07): the oracle contract. */
  final val RegistryCosinePoint: OperatingPoint[Hyperplanes] =
    Fixed(Hyperplanes(planes = 4, tables = 48))

  /** Bucketed cosine near-dup pairs — the 100 TB form of
    * [[cosineNearDupPairs]]: candidates are pairs sharing ≥1 (table, bucket)
    * LSH cell (same sign-hyperplane tables as [[annHyperplane]]), deduped,
    * then verified with the exact integer cosine. No O(n²) join anywhere:
    * candidate generation is ONE self-equality-join on (table, bucket), and
    * the verify joins the narrow pair list back to the vectors.
    *
    * Completeness is probabilistic per pair: a qualifying pair at cosine t
    * collides per bit with p = 1 − acos(t)/π, misses ALL tables with
    * (1 − p^planes)^tables. The defaults target the *demo corpus's*
    * weak structure — its hardest qualifying pairs sit barely above the
    * 0.45 threshold (p ≈ 0.65, miss ≈ 1e-4 at 48×4); a real near-dup
    * workload at t ≥ 0.9 (p ≈ 0.86) reaches the same completeness with 8–16
    * tables. The registry gates this empirically: s07 must hash-match the
    * exact all-pairs s03 formulation.
    *
    * `point` defaults to the registry's fixed 48 tables × 4 planes — the
    * oracle contract of s07, whose weak 0.45 threshold caps planes at 4 at
    * ANY corpus size (a fifth plane would miss 2.9e-3 of threshold-grade
    * pairs, against 8.7e-5 at 4). The cell self-join's candidate mass is
    * Σ_cells m² ≈ tables·n·(n/2^planes), so a weak threshold at scale is
    * intrinsically expensive. [[FromCorpus]] counts the corpus once,
    * sizes (planes, tables) jointly from (n, threshold) with
    * [[lshOperatingPoint]] (the s07 100× operating point), and spreads the
    * signature compute with the work.
    */
  def cosineNearDupBucketed(emb: DataFrame, idCol: String, embCol: String,
      threshold: Double,
      point: OperatingPoint[Hyperplanes] = RegistryCosinePoint,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val (Hyperplanes(planes, tables), spread) = point match {
      // still unserialize a near-singleton split count (the signature
      // compute is scan-fused)
      case Fixed(p) => (p, TextOps.spreadCompute(emb))
      case FromCorpus =>
        val n = emb.count()
        val (planes, tables) = lshOperatingPoint(n, threshold)
        // Signature compute (tables×planes×dims mul-adds per vector — the
        // dominant cost) is spread over partitions sized by the WORK
        // (n·tables·planes plane projections), not the input bytes:
        // embeddings are byte-dense (a 0.2 M-vector corpus is ~50 MB ≈ ONE
        // default input split), so without an explicit repartition the
        // per-task compute grows with n while the task COUNT doesn't — the
        // s07_100x 9.7 s straggler was exactly this, a compute-dense scan
        // task, not skew (VERDICT r10 #1). ~3.2 M projections per task keeps
        // the heaviest task under ~2 s on one core while staying at the
        // session default for small corpora. Capped at 4096: beyond that,
        // scheduling overhead beats task-size wins on any realistic
        // executor count.
        val parallelism = math.max(
          emb.sparkSession.sparkContext.defaultParallelism,
          math.min(4096L, n * tables * planes / 3200000L).toInt)
        log.info(s"cosineNearDupBucketed: n=$n -> signature parallelism=$parallelism")
        (Hyperplanes(planes, tables), emb.repartition(parallelism))
    }
    val vecs = scope.cached(
      spread.select(col(idCol), col(embCol).as("e"))
        .withColumn("qv", quantize(col("e")))
        .withColumn("nrm", dotQ(col("qv"), col("qv"))))
    // Cached: the self-join below reads the bucket table TWICE, and its
    // map side is the signature computation (tables×planes×dims mul-adds
    // per vector — the dominant cost; a 100× stage probe measured ~350
    // task-seconds PER PASS, running twice). Caching the narrow
    // (id, t, b) rows (~20 B/row) halves signature compute for the price
    // of one in-memory copy of n·tables narrow rows.
    val buckets = scope.cached(
      lshBucketTable(vecs, idCol, "e", tables, planes, SignPlanes.Float)
        .select(col(idCol), col("t"), col("b")))
    // NOTE (r11): widening the join stages by pre-repartitioning both
    // sides on the join keys was tried and MEASURED WORSE at 100× (task
    // seconds doubled): the explicit REPARTITION_BY_NUM exchanges are not
    // elided when the planner picks broadcast/AQE shapes — they just add
    // shuffles. Join-stage width belongs to the session (a real cluster
    // runs spark.sql.shuffle.partitions in the thousands); the scale
    // harness sets it per corpus instead of the operator fighting the
    // planner.
    // pairs sharing any LSH cell, deduped while still narrow (two ids)
    val cands = buckets.select(col(idCol).as("d1"), col("t"), col("b"))
      .join(buckets.select(col(idCol).as("d2"), col("t"), col("b")), Seq("t", "b"))
      .filter(col("d1") < col("d2"))
      .select("d1", "d2")
      .distinct()
    cands
      .join(vecs.select(col(idCol).as("d1"), col("qv").as("v1"), col("nrm").as("n1")), "d1")
      .join(vecs.select(col(idCol).as("d2"), col("qv").as("v2"), col("nrm").as("n2")), "d2")
      .withColumn("cos_r",
        cosineQ(dotQ(col("v1"), col("v2")), col("n1"), col("n2")))
      .filter(col("cos_r") >= threshold)
      .select("d1", "d2", "cos_r")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    * by clustering embeddings and pruning within-cluster near-identical
    * pairs — the quadratic is bounded per cluster, which is the entire point
    * of the paper (k-means first, pairwise cosine only inside a cluster).
    *
    * This implementation keeps every step deterministic and oracle-able:
    * centroids are the embeddings selected by `centroidPred` (a real
    * pipeline trains k-means — [[annIvf]] has that machinery — but trained
    * centroids are float-iteration-order-dependent, so the *verifiable*
    * operator takes fixed ones); assignment is argmax cosine in the exact
    * fixed-point space (ties toward the higher centroid id, matching
    * [[annIvf]]); a vector is pruned iff some smaller-id vector in the SAME
    * cluster has cosine ≥ `threshold` with it. Returns the survivors
    * (idCol, cid).
    *
    * Scale shape: assignment is the native [[graft.functions.ArgmaxCosCentroid]]
    * kernel — a pure projection emitting n rows (the r6 broadcast-join form
    * materialized n×k rows before its partial-agg argmax; at the paper's
    * k = 50k that shape dominates). The k centroid vectors cross the driver
    * once (bounded, loud — same contract as [[annIvf]]'s training sample);
    * the within-cluster self-join shuffles on cid — cluster sizes are
    * corpus/k, so the quadratic verify is n²/k per cluster, the SemDeDup
    * cost model. At 100 TB, k grows with the corpus (the paper runs 50k
    * clusters on LAION) keeping each cluster's pair block executor-sized.
    */
  def semDedup(emb: DataFrame, idCol: String, embCol: String,
      centroidPred: Column, threshold: Double,
      scope: CacheScope = CacheScope.unmanaged,
      maxCentroids: Int = 20000,
      maxCentroidBytes: Long = 32L << 20): DataFrame = {
    requireIntegralId(emb, idCol, "semDedup")
    // the argmax-centroid kernel projection fuses into the scan stage —
    // spread a near-singleton split count first (TextOps.spreadCompute)
    val base = TextOps.spreadCompute(emb.select(col(idCol), col(embCol)))
      .select(col(idCol), quantize(col(embCol)).as("qv"))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
    // centroids to the driver, sorted ascending by cid so the kernel's
    // tie-toward-higher-index matches max(struct(ccos, cid))'s higher-cid
    val centRows = base.filter(centroidPred)
      .select(col(idCol).cast("long").as("cid"), col("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    require(centRows.nonEmpty, "semDedup: centroidPred selected no centroids")
    require(centRows.length <= maxCentroids,
      s"semDedup: ${centRows.length} centroids (> $maxCentroids): the " +
        "centroid matrix rides the task binary — the paper's 50k-centroid " +
        "LAION scale is an explicit opt-in via maxCentroids, with the " +
        "task-broadcast cost in mind")
    val centBytes = centRows.iterator.map(_._2.length.toLong * 8L).sum
    require(centBytes <= maxCentroidBytes,
      f"semDedup: centroid matrix is $centBytes%,d B " +
        f"(${centRows.length} centroids × dims × 8 > $maxCentroidBytes%,d): " +
        "it is serialized into every task binary and scanned O(k) per row " +
        "— raise maxCentroidBytes explicitly if that cost is intended")
    semDedupCore(base, idCol, centRows, threshold, scope)
  }

  /** Joint (planes, tables) operating point for near-dup LSH at corpus
    * size `n` — the OR-construction scaling law automated (r10; the fixed
    * `tables=16, planes=10` production point ENOSPC'd the 100× row: at
    * 200k vectors its mean bucket was ~200, making the candidate mass
    * ~tables·n·bucket/2 ≈ 320 M pairs whose verify join spilled >80 GB):
    *  - `planes ≈ log₂(n)` keeps the mean bucket at ~1 row, so RANDOM
    *    collisions contribute ~tables·n/2 pairs — linear in n — and the
    *    candidate set is dominated by true near-dups;
    *  - `tables = ⌈ln(1/missTarget)/pBit^planes⌉` holds the all-tables
    *    miss probability for a pair at exactly `threshold` at ≤ missTarget
    *    (pBit = 1 − θ/π per sign bit).
    * Tables grow as n^(log₂(1/pBit)) (n^0.22 at threshold 0.9) — if that
    * exceeds `maxTables`, planes back off until tables fit (buckets grow,
    * recall holds; the point is logged either way, never silent).
    */
  def lshOperatingPoint(n: Long, threshold: Double, missTarget: Double = 1e-3,
      maxTables: Int = 256): (Int, Int) = {
    require(n > 0 && missTarget > 0 && missTarget < 1 && maxTables >= 1)
    val pBit = 1.0 -
      math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    def tablesFor(p: Int): Long =
      math.ceil(math.log(1.0 / missTarget) / math.pow(pBit, p.toDouble)).toLong
    val sizeDriven = math.max(4, math.min(24,
      math.ceil(math.log(math.max(2.0, n.toDouble)) / math.log(2.0)).toInt))
    val planes = (sizeDriven to 4 by -1)
      .find(p => tablesFor(p) <= maxTables).getOrElse(4)
    val tables = math.min(tablesFor(planes), maxTables.toLong).toInt
    val miss = math.pow(1.0 - math.pow(pBit, planes.toDouble), tables.toDouble)
    log.info(f"lshOperatingPoint: n=$n threshold=$threshold%.2f -> " +
      f"planes=$planes tables=$tables missAtThreshold=$miss%.2e " +
      f"expectedBucket=${n / math.pow(2.0, planes.toDouble)}%.1f")
    if (miss > missTarget)
      log.warn(f"lshOperatingPoint: maxTables=$maxTables caps the miss " +
        f"bound at $miss%.2e (> target $missTarget%.2e) — raise maxTables " +
        "or the threshold")
    (planes, tables)
  }

  /** Candidate-pair mass of the [[FromCorpus]] [[cosineNearDupBucketed]]
    * bucketing at the corpus's own operating point: Σ over (table, bucket) cells of
    * m·(m−1)/2 — the number of same-cell unordered pairs the candidate
    * self-join emits BEFORE the cross-table distinct, plus the max bucket
    * size. This is the quantity whose growth decides whether the LSH stays
    * sub-quadratic as n scales (VERDICT r15 #5: s07_100x's 15.3× decade
    * factor needed candidate-pair attribution — the op point alone can't
    * show it, because tables ∝ n^0.22 at threshold 0.9 makes the EXPECTED
    * mass ∝ n^1.22, ~16.6× per decade, well below quadratic's 100×). The
    * scale rows stamp it untimed next to the wall. One groupBy over the
    * (table, bucket) projection — n·tables rows, never pair-sized.
    *
    * @return (pairMass, maxBucket, corpusN)
    */
  def lshCandidateMass(emb: DataFrame, idCol: String, embCol: String,
      threshold: Double): (Long, Long, Long) = {
    val n = emb.count()
    val (planes, tables) = lshOperatingPoint(n, threshold)
    val cells = lshBucketTable(emb, idCol, embCol, tables, planes, SignPlanes.Float)
      .groupBy("t", "b").agg(count(lit(1)).as("m"))
    val r = cells.agg(
      sum(expr("m * (m - 1) DIV 2")).as("mass"),
      max(col("m")).as("max_bucket")).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1), n)
  }

  /** The kernel-assignment operators read the id with `getLong` after a
    * `cast("long")`; a non-numeric id column casts to NULL and would NPE
    * (or silently mislabel) mid-collect. Fail at PLAN time with a clear
    * contract instead (ADVICE r7).
    */
  private def requireIntegralId(df: DataFrame, idCol: String,
      op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$op: id column '$idCol' must be an integral type (cluster ids are " +
        s"derived from it via cast to long), got ${dt.catalogString}")
  }

  /** Shared SemDeDup prune: kernel-assign every vector to its nearest
    * centroid (ties → higher cid), prune within-cluster cosine near-dups
    * (smaller id survives), return (idCol, cid) survivors. `centRows` must
    * be sorted ascending by cid.
    */
  private def semDedupCore(base: DataFrame, idCol: String,
      centRows: Seq[(Long, Seq[Long])], threshold: Double,
      scope: CacheScope): DataFrame = {
    val assigned = scope.cached(base
      .withColumn("cid", assignTo(col("qv"), centRows, MaxCos))
      .select(col(idCol), col("cid"), col("qv"), col("nrm")))
    val a = assigned.select(col("cid"), col(idCol).as("d1"),
      col("qv").as("v1"), col("nrm").as("n1"))
    val b = assigned.select(col("cid"), col(idCol).as("d2"),
      col("qv").as("v2"), col("nrm").as("n2"))
    val pruned = a.join(b, Seq("cid")).filter(col("d1") < col("d2"))
      .filter(cosineQ(dotQ(col("v1"), col("v2")), col("n1"), col("n2"))
        >= lit(threshold))
      .select(col("d2").as(idCol)).distinct()
    assigned.join(pruned, Seq(idCol), "left_anti")
      .select(col(idCol), col("cid"))
  }

  /** SemDeDup fed by TRAINED centroids — the full pipeline the paper
    * describes (k-means first, then within-cluster prune), wiring
    * [[kmeansAssign]]'s distributed Lloyd's loop in as the centroid source.
    * [[semDedup]] with a fixed centroid set stays the oracle twin (d14,
    * the d05-gating pattern): every step HERE is also deterministic
    * (exact-integer floor-mean updates, deterministic init), but the
    * iterative centroid trajectory is not one SQL expression. Returns
    * (idCol, cid) survivors with cid = the initial centroid's row id.
    */
  def semDedupTrained(emb: DataFrame, idCol: String, embCol: String,
      initPred: Column, threshold: Double, kmIters: Int = 2,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    requireIntegralId(emb, idCol, "semDedupTrained")
    val base = scope.cached(
      emb.select(col(idCol).cast("long").as(idCol), quantize(col(embCol)).as("qv"))
        .withColumn("nrm", dotQ(col("qv"), col("qv"))))
    val cents = lloyd(base, idCol, "qv", initPred, kmIters, MaxCos,
      "semDedupTrained: initPred")
    semDedupCore(base, idCol, cents, threshold, scope)
  }

  /** Fully-distributed Lloyd's k-means in the exact fixed-point space —
    * the trained-clustering complement to [[semDedup]]'s fixed centroids and
    * [[annIvf]]'s driver-sample training: HERE every iteration touches the
    * whole corpus distributively (the 100 TB form — no driver sample, no
    * bounded collect of vectors; only the k centroids themselves cross the
    * driver between rounds, like any iterative Spark algorithm).
    *
    * Determinism end to end, so the whole trajectory is SQL-recomputable:
    * initial centroids are the quantized vectors selected by `initPred`;
    * assignment is argmax cosine with ties toward the HIGHER cid (matching
    * [[annIvf]]/[[semDedup]]); the centroid update is the exact-integer
    * floor-mean per coordinate ((s − pmod(s, c)) DIV c — the
    * [[nearestCentroid]] trick), which stays on the fixed-point grid (cosine
    * is scale-invariant, so the grid costs no ranking fidelity). Empty
    * clusters keep their previous centroid.
    *
    * Per iteration: the argmax kernel assignment (a projection, no
    * shuffle), then one posexplode+groupBy for the update (k·dims rows
    * out — partial-agg combined map-side). Returns (idCol, cid) after
    * `iters` rounds.
    */
  def kmeansAssign(emb: DataFrame, idCol: String, embCol: String,
      initPred: Column, iters: Int = 2,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val base = scope.cached(
      emb.select(col(idCol).cast("long").as(idCol), quantize(col(embCol)).as("qv"))
        .withColumn("nrm", dotQ(col("qv"), col("qv"))))
    val cents = lloyd(base, idCol, "qv", initPred, iters, MaxCos,
      "kmeansAssign: initPred")
    base.withColumn("cid", assignTo(col("qv"), cents, MaxCos))
      .select(col(idCol), col("cid"))
  }

  /** An assignment kernel: the 0-based index of `v`'s nearest row of
    * `cents`. [[MaxCos]] breaks ties toward the higher index, [[MinL2]]
    * toward the lower one, so with centroids sorted ascending by cid they
    * replicate `max(struct(ccos, cid))` and `min(struct(d2, cid))`.
    */
  private type Nearest = (Column, Seq[Seq[Long]]) => Column
  private val MaxCos: Nearest = VectorFunctions.argmax_cos_centroid
  private val MinL2: Nearest = VectorFunctions.argmin_l2_centroid

  /** The label of `v`'s nearest centroid: `cents` are (label, centroid)
    * rows, sorted ascending by the centroid id. One projection per vector:
    * no n×k join rows, no groupBy shuffle.
    */
  private def assignTo[T: TypeTag](v: Column, cents: Seq[(T, Seq[Long])],
      nearest: Nearest): Column =
    element_at(typedlit(cents.map(_._1)), nearest(v, cents.map(_._2)) + 1)

  /** Distributed floor-mean Lloyd's rounds over the vector column `vec` of
    * `rows` (see [[kmeansAssign]]): seeds are the `seeds` rows, each round
    * assigns with `nearest` and moves every centroid to the exact-integer
    * floor-mean of its rows; empty clusters keep their previous centroid.
    * Returns the centroids after `iters` rounds, sorted ascending by cid.
    * Centroids live on the driver between rounds (k·dims longs — the
    * MLlib-KMeans pattern; the CORPUS never leaves the cluster). `seedArg`
    * names the caller and its predicate in the empty-seed error.
    */
  private def lloyd(rows: DataFrame, idCol: String, vec: String, seeds: Column,
      iters: Int, nearest: Nearest, seedArg: String): Seq[(Long, Seq[Long])] = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    var cents: Seq[(Long, Seq[Long])] = rows.filter(seeds)
      .select(col(idCol), col(vec)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1).toSeq
    require(cents.nonEmpty, s"$seedArg selected no centroid seeds")
    for (_ <- 1 until iters) {
      val updated = rows.withColumn("cid", assignTo(col(vec), cents, nearest))
        .select(col("cid"), posexplode(col(vec)).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .withColumn("m", expr("(s - pmod(s, c)) DIV c"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      // empty clusters keep their previous centroid
      cents = cents.map { case (cid, old) => cid -> updated.getOrElse(cid, old) }
    }
    cents
  }

  /** Nearest-centroid classification over labeled embeddings — the cheap
    * supervised baseline every corpus-labeling pipeline runs (assign each
    * vector to the closest class mean; report it next to the true label).
    * Returns (idCol, labelCol, pred) with pred = argmin-L2 centroid label,
    * ties toward the smaller label.
    *
    * Everything stays in the exact fixed-point integer space so the result
    * is bit-reproducible: vectors quantize ×10⁴ ([[quantize]]); each
    * centroid coordinate is the FLOOR-divided per-label mean
    * `(sum − pmod(sum, cnt)) DIV cnt` (exact integer floor, identical
    * across engines regardless of DIV-vs-// truncation semantics because
    * the adjusted numerator is an exact multiple); squared L2 distance
    * expands to dot products on the native [[dotQ]] kernel — no interpreted
    * higher-order functions in the per-pair path (the d10 lesson).
    *
    * Scale shape: one explode+groupBy builds the (labels × dims) sum table
    * (partial-agg, map-side combined); the `labels` centroid rows cross the
    * driver once (bounded by the label cardinality); assignment is the
    * native [[graft.functions.ArgminL2Centroid]] kernel — a pure projection
    * emitting n rows (the r6 broadcast-join form materialized n×labels rows
    * before its partial-agg argmin), so the corpus never shuffles at all.
    */
  def nearestCentroid(emb: DataFrame, idCol: String, labelCol: String,
      embCol: String): DataFrame = {
    val q = emb.select(col(idCol), col(labelCol).cast("long").as(labelCol),
      quantize(col(embCol)).as("qv"))
    val cents = q
      .select(col(labelCol), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(labelCol, "pos")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("cent", expr("(s - pmod(s, cnt)) DIV cnt"))
      .groupBy(labelCol)
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cent")))),
        x => x.getField("cent")).as("cv"))
      .select(col(labelCol).as("clabel"), col("cv"))
    // label centroids to the driver, ascending by label: the kernel's
    // tie-toward-lowest-index replicates min(struct(dist, clabel))'s
    // smaller-label preference
    val centRows = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    require(centRows.nonEmpty, "nearestCentroid: no labeled rows")
    // |q − c|² = q·q − 2·q·c + c·c, all exact longs inside the kernel
    q.withColumn("pred", assignTo(col("qv"), centRows.toSeq, MinL2))
      .select(col(idCol), col(labelCol), col("pred"))
  }

  // --------------------------------------------------- product quantization --

  /** Product-quantization ANN — the FAISS `IndexPQ` shape, the memory-side
    * scale lever the IVF family (s04) composes with at 100 TB (IVF bounds
    * WHICH vectors a query scans; PQ bounds the BYTES each scanned vector
    * costs: `subspaces` one-byte-ish codes instead of dims floats).
    *
    * Training: an independent k-means per subvector slice (floor-mean
    * Lloyd's in the exact ×10⁴ integer space, same update rule as
    * [[kmeansAssign]], L2 metric as the paper specifies, init = `initPred`
    * rows' slices, empty clusters keep their previous centroid). Encoding:
    * per-subspace argmin-L2 code via the native kernel — a pure projection.
    * Query scoring is ADC on the DECOMPOSITION IDENTITY
    * Σₘ‖qₘ − Cₘ[codeₘ]‖² = ‖q − concatₘ Cₘ[codeₘ]‖², so the scan ranks
    * against the concatenated reconstruction with the same exact-integer
    * dot kernels as s01 — which is what makes the whole pipeline (training
    * rounds included) SQL-replayable bit-for-bit. (The register-resident
    * per-query lookup-table refinement FAISS applies is an executor-side
    * optimization of the same arithmetic, not different semantics.)
    *
    * Scale shape: codebooks are tiny (subspaces × k × sub dims) and ride
    * the plan as literals; encode emits n rows with no shuffle; the scan
    * broadcasts the (small by contract) query set and the per-query top-k
    * is one window. Corpus rows never shuffle except the k-rank exchange.
    */
  def annPq(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, initPred: Column, subspaces: Int = 8,
      dims: Int = 64, iters: Int = 2, k: Int = 5,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    requireIntegralId(emb, idCol, "annPq")
    require(subspaces >= 1 && dims % subspaces == 0,
      s"dims ($dims) must divide into subspaces ($subspaces)")
    val base = scope.cached(
      emb.select(col(idCol).cast("long").as(idCol),
        quantize(col(embCol)).as("qv")))
    base.count() // materialize once; the concurrent loops below share it
    val recon = productCodes(base, idCol, "qv", initPred, subspaces,
      dims / subspaces, iters, "annPq: initPred")
    val encoded = base.withColumn("rv", recon)
      .withColumn("rn", dotQ(col("rv"), col("rv")))
    val queries = base.filter(queryPred)
      .select(col(idCol).as("qid"), col("qv").as("qq"))
      .withColumn("qn", dotQ(col("qq"), col("qq")))
    val scored = encoded.join(broadcast(queries), col(idCol) =!= col("qid"))
      .withColumn("d2",
        col("qn") + col("rn") - lit(2L) * dotQ(col("qq"), col("rv")))
      .select(col("qid"), col(idCol).as("nbr"), col("d2"))
    topK(scored, k, Seq(col("d2"), col("nbr")), "qid", "nbr", "rnk", "d2")
  }

  /** Product codes of the vector column `vec` of `rows`: one L2 codebook
    * per `sub`-wide slice, trained by [[lloyd]] from the `seeds` rows (the
    * loops are independent and overlap, see [[inParallel]], so `rows` must
    * be materialized first). Returns the reconstruction of `vec`: every
    * slice replaced by its nearest codeword.
    */
  private def productCodes(rows: DataFrame, idCol: String, vec: String,
      seeds: Column, subspaces: Int, sub: Int, iters: Int,
      seedArg: String): Column = {
    def slab(ms: Int): Column = slice(col(vec), ms * sub + 1, sub)
    val books: Seq[Seq[(Long, Seq[Long])]] = inParallel(subspaces) { ms =>
      lloyd(rows.select(col(idCol), slab(ms).as("sv")), idCol, "sv", seeds,
        iters, MinL2, seedArg)
    }
    concat((0 until subspaces).map { ms =>
      assignTo(slab(ms), books(ms).map { case (_, cv) => cv -> cv }, MinL2)
    }: _*)
  }

  /** IVF-PQ — the FAISS `IndexIVFPQ` composition and the canonical
    * billion-vector layout: a coarse quantizer bounds WHICH lists a query
    * scans (IVF, ~nprobe/nlist of the corpus), and per-subspace product
    * codes on the RESIDUAL v − C[cid] bound the bytes each scanned vector
    * costs. Residual PQ beats raw PQ ([[annPq]]) because residuals
    * concentrate near zero, so the same codebook budget spends its
    * resolution where the mass is.
    *
    * Unlike [[annIvf]] (driver-sample float spherical k-means — the
    * rows-only form), EVERYTHING here stays on the exact ×10⁴ integer
    * grid: the coarse codebook is [[lloyd]] at full dimension (L2
    * floor-mean Lloyd's, `coarsePred` seeds), residual codebooks are
    * [[lloyd]] per subvector slice (`initPred` seeds), assignment and
    * encoding are the native argmin-L2 kernel, and ADC distance is
    * ‖q − (C[cid] + recon(residual))‖² expanded on the [[dotQ]] kernel —
    * so coarse training, residual training, probe, and scan all replay
    * bit-for-bit in SQL (the s10 oracle chain, plus a probe CTE).
    *
    * Scale shape: both codebooks are tiny driver-resident literals
    * (nlist×dims + subspaces×k×sub longs); assignment/encoding is a pure
    * projection emitting n rows; queries broadcast to probe nprobe lists
    * (row_number over nlist rows per query); the scan touches only probed
    * lists and the per-query top-k is one window. The corpus never
    * shuffles except the k-rank exchange on qid.
    */
  def annIvfPq(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, coarsePred: Column, initPred: Column,
      nprobe: Int = 5, subspaces: Int = 8, dims: Int = 64, iters: Int = 2,
      k: Int = 5, scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    requireIntegralId(emb, idCol, "annIvfPq")
    require(subspaces >= 1 && dims % subspaces == 0,
      s"dims ($dims) must divide into subspaces ($subspaces)")
    require(nprobe >= 1, s"nprobe must be >= 1: $nprobe")
    val base = scope.cached(
      emb.select(col(idCol).cast("long").as(idCol),
        quantize(col(embCol)).as("qv")))
    // coarse codebook: full-dimension residual-free L2 Lloyd's
    val coarse = lloyd(base, idCol, "qv", coarsePred, iters, MinL2,
      "annIvfPq: coarsePred")
    val coarseCvs = coarse.map(_._2)
    // one-row-per-vector coarse assignment + exact residual (pure projection)
    val resid = scope.cached(base
      .withColumn("ci", MinL2(col("qv"), coarseCvs))
      .withColumn("cid", element_at(typedlit(coarse.map(_._1)), col("ci") + 1))
      .withColumn("cv", element_at(typedlit(coarseCvs), col("ci") + 1))
      .withColumn("rv", zip_with(col("qv"), col("cv"), (a, b) => a - b))
      .select(col(idCol), col("cid"), col("cv"), col("rv")))
    resid.count() // materialize once; the concurrent loops below share it
    // per-subspace residual codebooks, then encode + reconstruct
    val reconResid = productCodes(resid, idCol, "rv", initPred, subspaces,
      dims / subspaces, iters, "annIvfPq: initPred")
    val lists = resid
      .withColumn("fv", zip_with(col("cv"), reconResid, (a, b) => a + b))
      .withColumn("rn", dotQ(col("fv"), col("fv")))
      .select(col(idCol), col("cid"), col("fv").as("v"), col("rn").as("vn"))
    ivfL2Search(base, lists, idCol, queryPred, coarse, nprobe, k)
  }

  /** IVF ANN on the exact ×10⁴ integer grid — [[annIvf]] with the
    * float spherical-k-means trainer swapped for [[lloyd]] at full
    * dimension (VERDICT r8 #5: s11 proved the coarse-quantized k-means +
    * exact-integer chain is fully SQL-replayable; this is that chain
    * WITHOUT the residual product codes, i.e. FAISS `IndexIVFFlat`).
    * Coarse training (floor-mean Lloyd's, `coarsePred` seeds, empty
    * clusters keep their previous centroid), assignment (native argmin-L2
    * kernel, one row per vector), probe ranking (each query ranks the
    * nlist centroids by exact L2, keeps `nprobe`), and the scan (exact L2
    * against the TRUE vectors of the probed lists — no reconstruction
    * error) are all integer-exact, so the whole pipeline replays
    * bit-for-bit in SQL: the s04 oracle is s11's chain minus the
    * per-subspace residual CTEs.
    *
    * Scale shape: [[annIvfPq]]'s skeleton ([[ivfL2Search]]) — the codebook
    * is a driver-resident literal (nlist×dims longs), assignment is a pure
    * projection, queries broadcast to probe, the scan is an equality
    * broadcast-hash join on cid touching only ~nprobe/nlist of the corpus,
    * and the per-query top-k is one window. IVFFlat pays full vector bytes
    * per scanned row (use [[annIvfPq]] when memory, not recall, binds).
    */
  def annIvfExact(emb: DataFrame, idCol: String, embCol: String,
      queryPred: Column, coarsePred: Column, nprobe: Int = 5,
      iters: Int = 2, k: Int = 5,
      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    requireIntegralId(emb, idCol, "annIvfExact")
    require(nprobe >= 1, s"nprobe must be >= 1: $nprobe")
    val base = scope.cached(
      emb.select(col(idCol).cast("long").as(idCol),
        quantize(col(embCol)).as("qv")))
    val coarse = lloyd(base, idCol, "qv", coarsePred, iters, MinL2,
      "annIvfExact: coarsePred")
    val lists = base
      .withColumn("cid", assignTo(col("qv"), coarse, MinL2))
      .withColumn("nrm", dotQ(col("qv"), col("qv")))
      .select(col(idCol), col("cid"), col("qv").as("v"), col("nrm").as("vn"))
    ivfL2Search(base, lists, idCol, queryPred, coarse, nprobe, k)
  }

  /** The L2 IVF search of [[annIvfExact]] and [[annIvfPq]]. Probe: each
    * query (the `queryPred` rows of `base`, columns idCol and qv) ranks the
    * `coarse` centroids by exact L2 and keeps `nprobe`. Scan: the probed
    * `lists` rows (idCol, cid, v, vn = v·v) ranked by exact L2
    * ‖q − v‖² = q·q + v·v − 2·q·v, top `k` per query.
    */
  private def ivfL2Search(base: DataFrame, lists: DataFrame, idCol: String,
      queryPred: Column, coarse: Seq[(Long, Seq[Long])], nprobe: Int,
      k: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val centDf = coarse.toDF("cid", "ccv")
      .withColumn("cn", dotQ(col("ccv"), col("ccv")))
    val queries = base.filter(queryPred)
      .select(col(idCol).as("qid"), col("qv").as("qq"))
      .withColumn("qn", dotQ(col("qq"), col("qq")))
    val probes = topK(queries.join(broadcast(centDf), lit(true))
        .withColumn("d2c", col("qn") + col("cn")
          - lit(2L) * dotQ(col("qq"), col("ccv"))),
      nprobe, Seq(col("d2c"), col("cid")), "qid", "qq", "qn", "cid")
    // scan only the probed lists; each vector lives in exactly one list
    val scored = lists.join(broadcast(probes), Seq("cid"))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("d2",
        col("qn") + col("vn") - lit(2L) * dotQ(col("qq"), col("v")))
      .select(col("qid"), col(idCol).as("nbr"), col("d2"))
    topK(scored, k, Seq(col("d2"), col("nbr")), "qid", "nbr", "rnk", "d2")
  }
}

/** The sign kernel of a hyperplane-LSH bucket table
  * ([[Similarity.annHyperplane]]): which ±1 planes, over which form of the
  * vector.
  */
sealed trait SignPlanes {
  /** `planes` sign bits from plane `offset` on, over the float vector `e`
    * or its ×10⁴ quantized form `qv`.
    */
  private[ops] def bucket(e: Column, qv: Column, offset: Int, planes: Int): Column
}

object SignPlanes {
  /** mix64 ±1 planes over the float vector ([[Similarity.hyperplaneBucket]]):
    * s07's near-dup tables and s05's recall reference. Float sums, so no
    * SQL replay.
    */
  case object Float extends SignPlanes {
    private[ops] def bucket(e: Column, qv: Column, offset: Int, planes: Int): Column =
      Similarity.hyperplaneBucket(e, planes, offset)
  }

  /** fmix32-parity ±1 planes over the ×10⁴ BIGINT vector
    * ([[graft.functions.HyperplaneSigExact]]): pure integer projections, so
    * buckets and probes replay bit-for-bit in DuckDB (s02).
    */
  case object Exact extends SignPlanes {
    private[ops] def bucket(e: Column, qv: Column, offset: Int, planes: Int): Column =
      VectorFunctions.hyperplane_sig_exact(qv, offset, planes)
  }
}
