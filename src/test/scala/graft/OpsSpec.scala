package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.functions.{RollingHash64, TokenHash}
import graft.operators.AsofJoin
import graft.ops.{CacheScope, Dedup, FromCorpus, Multimodal, Sampling, SignPlanes, Similarity, TextOps}

/** Unit tests for the training-pipeline operators on hand-built fixtures. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: short docs are safe, n-grams correct") {
    val df = Seq("a b c d", "a b", "").toDF("text")
      .select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(List("a b c", "b c d"), Nil, Nil))
  }

  test("exact dedup survivors") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val out = Dedup.exactSurvivors(df, "doc_id", col("text"))
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("incremental dedup: history hits drop, batch dups collapse, novel survive") {
    import graft.ops.{Dedup, TextOps}
    val history = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "seen before"),   // exact dup of history → dropped
      (11L, "fresh content"), // novel → survives
      (12L, "fresh content"), // within-batch dup → collapsed into 11
      (13L, "brand new")).toDF("doc_id", "text")
    val got = Dedup.incrementalExactSurvivors(history, incoming,
        "doc_id", TextOps.fingerprint(col("text")))
      .select("doc_id", "n_dups")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(11L -> 2L, 13L -> 1L), s"got $got")
  }

  test("incremental near-dup: history match drops, earlier-in-batch match drops, novel survives") {
    import graft.ops.Dedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),                                    // history
      (2L, "completely different historic words x y z w v u t s r q"),
      (30L, base + " lambda"),                       // inc: near-dups history 1 → drop
      (33L, "novel fresh content one two three four five six seven eight"),
      (36L, "novel fresh content one two three four five six seven nine"), // near-dups 33 → drop
      (39L, "unrelated survivor text aa bb cc dd ee ff gg hh ii jj"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalNearDupSurvivors(docs, "doc_id", "text",
        col("doc_id") % 3 === 0, threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(33L, 39L), s"got $got")
  }

  test("containment catches a short doc embedded in a long one that jaccard misses") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "a b c d e"),                   // 3 shingles, all inside doc 2
      (2L, "a b c d e f g h i j"),         // 8 shingles
      (3L, "x y z w v")).toDF("doc_id", "text")
    val sh = Dedup.shingleSet(docs, "doc_id", "text")
    val cont = Dedup.containmentPairs(sh, "doc_id", 0.9)
      .select("d1", "d2", "containment").collect()
    assert(cont.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 1.0)))
    // the same pair is invisible to jaccard at any near-dup threshold
    assert(Dedup.jaccardPairs(sh, "doc_id", 0.8).count() == 0)
  }

  test("sequence packing: bins are start-offset DIV budget within a shard") {
    import graft.ops.Packing
    // shards=1 → one lane; budget 10; token counts 4,4,4,4 → starts 0,4,8,12
    val docs = Seq((0L, "en", 4L), (1L, "en", 4L), (2L, "en", 4L), (3L, "en", 4L))
      .toDF("doc_id", "lang", "nt")
    val got = Packing.assignBins(docs, "doc_id", col("nt"), budget = 10L,
        shards = 1, partitionCols = Seq(col("lang")))
      .select("doc_id", "bin").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L), s"got $got")
  }

  test("jaccard pairs: identical docs give 1.0, disjoint give none") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 w4 w5"),
      (3L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    val sh = Dedup.shingleSet(df, "doc_id", "text")
    val pairs = Dedup.jaccardPairs(sh, "doc_id", 0.5).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("d1") == 1L && p.getAs[Long]("d2") == 2L)
    assert(p.getAs[Double]("jaccard") == 1.0)
  }

  test("minhash-LSH finds the same pairs as brute force on near-dups") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val near = base.replace("kappa", "lambda") // high overlap
    val far = "one two three four five six seven eight nine ten " * 3
    val df = Seq((1L, base), (2L, near), (3L, far), (4L, base)).toDF("doc_id", "text")
    val brute = Dedup.jaccardPairs(Dedup.shingleSet(df, "doc_id", "text"), "doc_id", 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(df, "doc_id", "text", threshold = 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.contains((1L, 4L))) // identical
    assert(lsh == brute)
  }

  test("df cap kills hot-shingle candidate explosion; planted dups survive") {
    // skewed corpus: one boilerplate phrase in 40 of 42 docs (2 shingles at
    // df=40), unique tails, plus one planted exact-dup pair with no hot
    // shingle. Uncapped, the hot shingles alone emit C(40,2)=780 pairs.
    val boiler = "terms and conditions apply"
    val docs = (1L to 40L).map(i =>
      (i, s"$boiler u${i}a u${i}b u${i}c u${i}d")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "alpha beta gamma delta epsilon zeta"))
    val df = docs.toDF("doc_id", "text")
    val sh = Dedup.shingleSet(df, "doc_id", "text")
    val uncapped = Dedup.jaccardPairs(sh, "doc_id", 0.0,
      maxDocFreq = Long.MaxValue).count()
    val capped = Dedup.jaccardPairs(sh, "doc_id", 0.0, maxDocFreq = 10L).count()
    assert(uncapped >= 780, s"expected hot-shingle pair explosion, got $uncapped")
    assert(capped < 50, s"df cap should collapse candidates, got $capped")
    val pairs = Dedup.jaccardPairs(sh, "doc_id", 0.8, maxDocFreq = 10L)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), "planted dup must survive the cap")
  }

  test("default df cap leaves d02/d03 outputs unchanged on the test corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairSet(d: DataFrame): Set[(Long, Long, Double)] =
      d.select("d1", "d2", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = Dedup.shingleSet(docs, "doc_id", "text")
    assert(pairSet(Dedup.jaccardPairs(sh, "doc_id", 0.8)) ==
      pairSet(Dedup.jaccardPairs(sh, "doc_id", 0.8, maxDocFreq = Long.MaxValue)))
    assert(pairSet(Dedup.minhashLshPairs(docs, "doc_id", "text", 0.8)) ==
      pairSet(Dedup.minhashLshPairs(docs, "doc_id", "text", 0.8,
        maxDocFreq = Long.MaxValue)))
  }

  test("CacheScope.withScope unpersists pipeline caches on exit") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = col("vec_id") % 50 === 0
    val seeds = col("vec_id") % 100 === 0
    val coarse = col("vec_id") % 250 === 0
    @scala.annotation.nowarn("cat=deprecation") // deprecated float form's scope handling still gated
    def ivfFloat(scope: CacheScope) =
      Similarity.annIvf(emb, "vec_id", "embedding", queries, scope = scope)
    // every operator that takes a scope, each in a scope of its own: several
    // cache the same plan, and one operator's cache must not stand in for
    // another's
    val operators: Seq[(String, CacheScope => DataFrame)] = Seq(
      "minhashLshPairs" -> (s => Dedup.minhashLshPairs(docs, "doc_id", "text", scope = s)),
      "annIvf" -> ivfFloat,
      "cosineNearDupBucketed" -> (s => Similarity.cosineNearDupBucketed(
        emb, "vec_id", "embedding", 0.45, scope = s)),
      "semDedup" -> (s => Similarity.semDedup(
        emb, "vec_id", "embedding", seeds, 0.4, scope = s)),
      "semDedupTrained" -> (s => Similarity.semDedupTrained(
        emb, "vec_id", "embedding", seeds, 0.4, scope = s)),
      "kmeansAssign" -> (s => Similarity.kmeansAssign(
        emb, "vec_id", "embedding", seeds, scope = s)),
      "annPq" -> (s => Similarity.annPq(
        emb, "vec_id", "embedding", queries, seeds, scope = s)),
      "annIvfPq" -> (s => Similarity.annIvfPq(emb, "vec_id", "embedding", queries,
        coarsePred = coarse, initPred = seeds, scope = s)),
      "annIvfExact" -> (s => Similarity.annIvfExact(emb, "vec_id", "embedding", queries,
        coarsePred = coarse, scope = s)))
    for ((name, op) <- operators) {
      var inner: DataFrame = null
      val before = spark.sparkContext.getPersistentRDDs.keySet
      CacheScope.withScope { scope =>
        inner = scope.cached(spark.range(10).toDF("x"))
        inner.count()
        assert(inner.storageLevel != StorageLevel.NONE)
        op(scope).count()
      }
      assert(inner.storageLevel == StorageLevel.NONE, name)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$name: cached RDDs leaked past scope: $leaked")
    }
  }

  /** Reference SimHash via bit votes, the composable formulation that pins
    * [[graft.functions.SimHashAgg]]: sig bit b = 1 iff Σ_tokens (bit b of
    * xxhash64(token) ? +1 : -1) > 0. Two groupBys, 64 vote rows per token.
    */
  private def simhashViaBits(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = TextOps.spreadCompute(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val masks = typedlit((0 until 64).map(b => 1L << b))
    val bitVotes = tok.select(col(idCol),
      posexplode(transform(sequence(lit(0), lit(63)), b =>
        when(col("h").bitwiseAND(element_at(masks, (b + 1).cast("int"))) =!= 0,
          lit(1)).otherwise(lit(-1)))).as(Seq("bit", "vote")))
    bitVotes.groupBy(col(idCol), col("bit"))
      .agg(sum(col("vote")).as("v"))
      .groupBy(col(idCol))
      .agg(sum(when(col("v") > 0,
        element_at(typedlit((0 until 64).map(b => 1L << b)),
          (col("bit") + 1).cast("int"))).otherwise(0L)).as("simhash"))
  }

  test("simhash: custom aggregate equals composable bit-vote formulation") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaAgg = Dedup.simhash(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaBits = simhashViaBits(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaAgg == viaBits)
  }

  test("simhash production twin (xxhash64) agrees with the fmix-oracle " +
      "form (d04) on every token-identical pair, at hamming 0") {
    // d04's registry form runs the oracle-replayable fmixToken63 token hash;
    // the xxhash64 form stays the production twin. Pairs NEAR the hamming
    // boundary are hash-dependent by construction (a pair at distance 3
    // under one token hash can sit at 4 under another — this corpus's
    // word-salad near-boundary pairs do exactly that), so the deterministic
    // cross-hash invariant is: docs with IDENTICAL token sequences have
    // identical signatures under ANY token hash → both twins must report
    // every such pair at hamming 0. The aggregate mechanics themselves are
    // value-gated by the d05/d08 md5 twins and d04's own DuckDB oracle.
    // the fixture corpus has no token-identical docs, so plant them: real
    // corpus texts duplicated under shifted ids
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val df = base.unionByName(
      base.filter(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 10000))
    val dupPairs = (0L until 20L).map(i => (i, i + 10000L)).toSet
    def zeroPairsOf(sigs: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.simhashPairs(sigs, "doc_id", 3)
        .filter(col("hamming") === 0).select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prod = zeroPairsOf(Dedup.simhash(df, "doc_id", "text", TokenHash.Xxhash64))
    val oracle = zeroPairsOf(Dedup.simhash(df, "doc_id", "text", TokenHash.Fmix63))
    assert(dupPairs.subsetOf(prod),
      s"xxhash64 twin missed exact-dup pairs: ${dupPairs -- prod}")
    assert(dupPairs.subsetOf(oracle),
      s"fmix form missed exact-dup pairs: ${dupPairs -- oracle}")
    // fmixToken63 is 63-bit non-negative → signature bit 63 can never win a
    // vote, so every fmix signature is non-negative (the oracle's BIGINT
    // bit extraction depends on this)
    val sigs = Dedup.simhash(df, "doc_id", "text", TokenHash.Fmix63)
      .collect().map(_.getLong(1))
    assert(sigs.forall(_ >= 0L))
  }

  test("simhash pairs: identical docs at hamming 0") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "totally different words entirely here now ok yes")).toDF("doc_id", "text")
    val sigs = Dedup.simhash(df, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sigs, "doc_id", 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getLong(2) == 0L))
  }

  test("asof backward join picks latest right row at-or-before left time") {
    val left = Seq(
      (10L, ts("2024-01-01 10:00:00"), "e1"),
      (10L, ts("2024-01-01 12:00:00"), "e2"),
      (20L, ts("2024-01-01 09:00:00"), "e3")).toDF("k", "t", "tag")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), 100L),
      (10L, ts("2024-01-01 11:00:00"), 200L),
      (20L, ts("2024-01-01 09:30:00"), 300L)).toDF("rk", "rt", "payload")
    val out = AsofJoin.backward(left, right, "k", "rk", "t", "rt", Seq("payload"))
      .orderBy("tag").collect()
    assert(out.map(r => (r.getAs[String]("tag"), Option(r.getAs[Any]("asof_payload")))).toSeq ==
      Seq(("e1", Some(100L)), ("e2", Some(200L)), ("e3", None)))
  }

  test("asof equal timestamps match (>= semantics)") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "e")).toDF("k", "t", "tag")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 42L)).toDF("rk", "rt", "p")
    val out = AsofJoin.backward(left, right, "k", "rk", "t", "rt", Seq("p")).collect()
    assert(out.head.getAs[Long]("asof_p") == 42L)
  }

  test("knn exact: nearest neighbor of a vector is its duplicate") {
    val mk = (id: Long, v: Seq[Float]) => (id, v)
    val dim = 64
    def vec(seed: Int): Seq[Float] =
      (0 until dim).map(i => math.sin(seed * 31 + i).toFloat)
    val df = Seq(
      mk(0L, vec(1)), mk(1L, vec(1)), mk(2L, vec(7)), mk(3L, vec(9)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnExactQuantized(df, "vec_id", "embedding",
      col("vec_id") === 0, k = 2).orderBy("rnk").collect()
    assert(out.head.getAs[Long]("nbr") == 1L) // duplicate vector ranks first
    // unrounded cosine: n/(√n·√n) is 1.0 up to an ulp of the sqrt round trip
    assert(math.abs(out.head.getAs[Double]("cos_r") - 1.0) < 1e-12)
  }

  test("ANN recall@5 >= 0.8 vs exact kNN on sf0.01 embeddings") {
    // gates the "two tables double recall" claim (Similarity.annHyperplane)
    // and the IVF nprobe=7 default operating point against s01's exact kNN
    // (nprobe=2 cannot reach 0.8 — see the measurement note below). All inputs
    // deterministic (fixed corpus, fixed planes, deterministic centroids).
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val pred = col("vec_id") % 50 === 0
    val exact = Similarity.knnExactQuantized(emb, "vec_id", "embedding", pred, k = 5)
      .select("qid", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    def recall(ann: DataFrame): Double = {
      val got = ann.select("qid", "nbr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    // default operating points: 8×6-bit multiprobe LSH (measured 0.92) and
    // IVF nlist=16/nprobe=7 with k-means centroids (measured 0.84). nprobe=2
    // cannot reach 0.8 on this corpus — top-5 neighbors at cosine 0.27–0.45
    // are barely above random-pair noise (σ≈0.125), so a 2/16 scan fraction
    // is information-theoretically short; see Similarity.annIvf scaladoc.
    @scala.annotation.nowarn("cat=deprecation") // s05-style recall gate is the float forms' sanctioned use
    def floatForms = (
      Similarity.annHyperplane(emb, "vec_id", "embedding", pred, SignPlanes.Float, k = 5),
      Similarity.annIvf(emb, "vec_id", "embedding", pred, k = 5))
    val hyp = recall(floatForms._1)
    val ivf = recall(floatForms._2)
    assert(hyp >= 0.8, s"hyperplane LSH recall@5 = $hyp < 0.8")
    assert(ivf >= 0.8, s"IVF recall@5 = $ivf < 0.8")
    // exact-integer planes (fmix32 parity, oracle-replayable): same
    // 8×6 multiprobe operating point must hold the same recall bar
    val hypEx = recall(Similarity.annHyperplane(
      emb, "vec_id", "embedding", pred, SignPlanes.Exact, k = 5))
    assert(hypEx >= 0.8, s"exact hyperplane LSH recall@5 = $hypEx < 0.8")
  }

  test("lshOperatingPoint: planes track log2(n), miss bound holds, caps are loud") {
    def miss(planes: Int, tables: Int, t: Double): Double = {
      val pBit = 1.0 - math.acos(t) / math.Pi
      math.pow(1.0 - math.pow(pBit, planes.toDouble), tables.toDouble)
    }
    // 100x regression case: 200k vectors at threshold 0.9 must NOT keep a
    // ~200-row mean bucket (the fixed 16x10 point whose ~320M-pair verify
    // join ENOSPC'd the r10 100x row) — expected bucket must stay ~1 and
    // the miss bound must hold
    val (p200k, t200k) = Similarity.lshOperatingPoint(200000, 0.9)
    assert(200000.0 / math.pow(2.0, p200k.toDouble) <= 2.0,
      s"mean bucket too fat at 200k: planes=$p200k")
    assert(miss(p200k, t200k, 0.9) <= 1e-3)
    // monotone: a 100x corpus gets more planes than a 1x corpus
    val (p2k, t2k) = Similarity.lshOperatingPoint(2000, 0.9)
    assert(p2k < p200k && t2k <= t200k)
    assert(miss(p2k, t2k, 0.9) <= 1e-3)
    // maxTables binds: planes back off until tables fit, never silently
    // exceeding the cap
    val (pCap, tCap) = Similarity.lshOperatingPoint(200000, 0.9, maxTables = 50)
    assert(tCap <= 50 && pCap < p200k)
  }

  test("minhashOperatingPoint: r tracks log n, miss bound holds, caps are loud") {
    // mirrors the lshOperatingPoint test (VERDICT r10 #4): the MinHash
    // family's band width must scale jointly with n, never rely on the
    // bucket cap silently discarding mass
    def miss(k: Int, b: Int, t: Double): Double =
      math.pow(1.0 - math.pow(t, (k / b).toDouble), b.toDouble)
    val ns = Seq(1000L, 500000L, 100000000L, 100000000000L)
    val pts = ns.map(n => Dedup.minhashOperatingPoint(n, 0.8))
    val rs = pts.map { case (k, b) => k / b }
    assert(rs == rs.sorted, s"band width not monotone in n: $rs")
    assert(rs.last > rs.head, "band width must actually grow over 8 decades")
    // miss bound holds at every uncapped point
    pts.foreach { case (k, b) =>
      assert(miss(k, b, 0.8) <= 1e-3, s"miss bound broken at (k=$k, b=$b)") }
    // bands divide k exactly (minhashLshPairs contract)
    pts.foreach { case (k, b) => assert(k % b == 0) }
    // the demo/100x corpora resolve to the historical fixed point's band
    // width (r=4) — the auto point stays within noise of 64/16 there
    assert(pts(1)._1 / pts(1)._2 == 4)
    // maxK binds LOUDLY: k never exceeds the cap (the degraded miss bound
    // is logged; a weak threshold at scale is intrinsically expensive)
    val (kc, bc) = Dedup.minhashOperatingPoint(1000000000L, 0.5, maxK = 64)
    assert(kc <= 64 && kc % bc == 0)
  }

  test("minhashLshPairsAuto equals the fixed-point pipeline's verified pairs") {
    // the FromCorpus point changes only candidate GENERATION parameters;
    // verified Jaccard pairs at the threshold must match the fixed 64/16
    // form (both recall-complete at j >= 0.8 on the fixture corpus)
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def keyOf(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val auto = Dedup.minhashLshPairs(df, "doc_id", "text", 0.8, point = FromCorpus)
      .select("d1", "d2").collect().map(keyOf).toSet
    val fixed = Dedup.minhashLshPairs(df, "doc_id", "text", 0.8)
      .select("d1", "d2").collect().map(keyOf).toSet
    assert(auto == fixed,
      s"auto point diverged: only-auto=${auto -- fixed} only-fixed=${fixed -- auto}")
  }

  test("incrementalNearDupAuto equals the fixed-point survivors") {
    // same contract as minhashLshPairs: the FromCorpus point only re-sizes
    // candidate generation; the verified-Jaccard survivor set must match
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, "completely different historic words x y z w v u t s r q"),
      (30L, base + " lambda"),
      (33L, "novel fresh content one two three four five six seven eight"),
      (36L, "novel fresh content one two three four five six seven nine"),
      (39L, "unrelated survivor text aa bb cc dd ee ff gg hh ii jj"))
      .toDF("doc_id", "text")
    val auto = Dedup.incrementalNearDupSurvivors(docs, "doc_id", "text",
        col("doc_id") % 3 === 0, threshold = 0.8, point = FromCorpus)
      .collect().map(_.getLong(0)).toSet
    // the contract is equality with the fixed 64/16 form's survivors
    // (ADVICE r11: a hardcoded set alone can't catch the two forms drifting
    // together); the literal expected set stays as a sanity pin
    val fixed = Dedup.incrementalNearDupSurvivors(docs, "doc_id", "text",
        col("doc_id") % 3 === 0, threshold = 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(fixed == Set(33L, 39L), s"fixed-form sanity pin broke: $fixed")
    assert(auto == fixed,
      s"auto point diverged: only-auto=${auto -- fixed} only-fixed=${fixed -- auto}")
  }

  test("editNearDupPairsLshAuto equals the fixed-point verified pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def norm(df: DataFrame) = df.select("d1", "d2", "edit_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fixed = norm(Dedup.editNearDupPairsLsh(docs, "doc_id", "text", maxDist = 50))
    val auto = norm(Dedup.editNearDupPairsLsh(docs, "doc_id", "text", maxDist = 50,
      point = FromCorpus))
    assert(fixed.nonEmpty)
    assert(auto == fixed, s"auto missed ${fixed -- auto}, extra ${auto -- fixed}")
  }

  test("fmix32 split multiply matches 32-bit wrapping multiply semantics") {
    // hyperplaneSigExact's oracle replay depends on the split-mul identity
    // (h*a) mod 2^32 == (lo*a + ((hi*a) mod 2^16)*2^16) mod 2^32 — pin the
    // kernel against a direct Long-arithmetic reference on edge inputs
    def fmixRef(h0: Long): Long = {
      var h = h0 & 0xffffffffL
      h ^= h >>> 16
      h = (h * 2246822507L) & 0xffffffffL
      h ^= h >>> 13
      h = (h * 3266489909L) & 0xffffffffL
      h ^ (h >>> 16)
    }
    val edges = Seq(0L, 1L, 65535L, 65536L, 4294967295L, 123456789L,
      -1L, Long.MinValue, Long.MaxValue, -4294967296L)
    val rnd = new scala.util.Random(7)
    val samples = edges ++ Seq.fill(1000)(rnd.nextLong() & 0xffffffffL) ++
      Seq.fill(200)(rnd.nextLong()) // raw 64-bit (incl. negative) inputs
    samples.foreach { h =>
      assert(graft.functions.VectorKernels.fmix32(h) == fmixRef(h),
        s"fmix32 mismatch at $h")
    }
  }

  test("bucketed cosine near-dup equals the exact all-pairs formulation") {
    // candidate-completeness of the LSH plan, empirically gated at BOTH test
    // SFs (the registry's s07-vs-oracle hash match gates sf0.01 again)
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      def pairs(df: DataFrame): Set[(Long, Long)] =
        df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = pairs(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.45))
      val lsh = pairs(Similarity.cosineNearDupBucketed(emb, "vec_id", "embedding", 0.45))
      assert(exact.nonEmpty, s"$sf has no qualifying pairs — threshold too high")
      assert(lsh == exact, s"$sf: LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
    }
  }

  test("cosineNearDupBucketed at FromCorpus equals the exact all-pairs formulation") {
    // the corpus-sized point must reproduce the exact all-pairs oracle on
    // the fixture, like the registry's fixed point does (test above)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.45))
    val auto = pairs(Similarity.cosineNearDupBucketed(emb, "vec_id", "embedding", 0.45,
      point = FromCorpus))
    assert(exact.nonEmpty)
    assert(auto == exact,
      s"auto point diverged: missed ${exact -- auto}, extra ${auto -- exact}")
  }

  test("editNearDupPairsLsh: the fixed point builds lazily, FromCorpus counts") {
    // d17's registry form is the fused session-width plan — building the
    // DataFrame runs no Spark job; only FromCorpus counts (the corpus for
    // its point, the cached candidates for the verify width)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sc = spark.sparkContext
    def jobsWhile(build: => DataFrame): Int = {
      sc.setJobGroup("lsh-build", "build only")
      try { build; sc.statusTracker.getJobIdsForGroup("lsh-build").length }
      finally sc.clearJobGroup()
    }
    assert(jobsWhile(Dedup.editNearDupPairsLsh(docs, "doc_id", "text", maxDist = 50)) == 0)
    assert(jobsWhile(Dedup.editNearDupPairsLsh(docs, "doc_id", "text", maxDist = 50,
      point = FromCorpus)) >= 2)
  }

  test("hyperplane_sig: codegen column matches an independent weight-formula loop") {
    // the s07 completeness gate depends on EXACT bucket reproduction — this
    // pins the kernel's wiring (seed = (plane+offset)·0x9e37, LSB weight
    // pick, index-order FP summation, bit p of the bucket) against an
    // explicit reference loop, so a refactor can't silently re-bucket
    val vec = Array(0.5f, -1.25f, 3.0f, 0.125f, -0.75f)
    def ref(offset: Int, planes: Int): Long = {
      var bucket = 0L
      for (p <- 0 until planes) {
        val seed = (p + offset).toLong * 0x9e37L
        var proj = 0.0
        for (d <- vec.indices) {
          val w = if ((graft.functions.VectorKernels.mix64(d.toLong, seed) & 1L) == 0L)
            1.0 else -1.0
          proj += vec(d).toDouble * w
        }
        if (proj >= 0) bucket |= 1L << p
      }
      bucket
    }
    for (offset <- Seq(0, 12, 188)) { // table 0, mid, s07's last table
      val got = Seq(Tuple1(vec.toSeq)).toDF("e")
        .select(Similarity.hyperplaneBucket(col("e"), planes = 4, offset = offset).as("b"))
        .head.getLong(0)
      assert(got == ref(offset, 4), s"bucket diverged at offset $offset")
    }
  }

  test("knnExactQuantized rejects an oversized broadcast query side") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      Similarity.knnExactQuantized(emb, "vec_id", "embedding", lit(true),
        k = 1, maxQueryRows = 10)
    }
    assert(e.getMessage.contains("query side"))
  }

  test("rolling hash: deterministic, sensitive, codegen-consistent") {
    val df = Seq("abc", "abd", "abc").toDF("s")
      .withColumn("h", RollingHash64.rolling_hash64(col("s")))
    val hs = df.collect().map(_.getLong(1))
    assert(hs(0) == hs(2) && hs(0) != hs(1))
    assert(hs(0) == graft.functions.HashKernels.rolling64("abc".getBytes))
  }

  // a real 69-byte 1×1 truecolor PNG (zlib-deflated red pixel, valid CRCs)
  private val OnePixelPng: Array[Byte] = Array(
    0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0x00, 0x00, 0x00, 0x0d,
    0x49, 0x48, 0x44, 0x52, 0x00, 0x00, 0x00, 0x01, 0x00, 0x00, 0x00, 0x01,
    0x08, 0x02, 0x00, 0x00, 0x00, 0x90, 0x77, 0x53, 0xde, 0x00, 0x00, 0x00,
    0x0c, 0x49, 0x44, 0x41, 0x54, 0x78, 0x9c, 0x63, 0xf8, 0xcf, 0xc0, 0x00,
    0x00, 0x03, 0x01, 0x01, 0x00, 0xc9, 0xfe, 0x92, 0xef, 0x00, 0x00, 0x00,
    0x00, 0x49, 0x45, 0x4e, 0x44, 0xae, 0x42, 0x60, 0x82).map(_.toByte)

  test("multimodal decode parses a real PNG's IHDR dims and IDAT content") {
    val hdr = Multimodal.parsePng(OnePixelPng).get
    assert(hdr.width == 1 && hdr.height == 1)
    assert(hdr.contentOffset == 41) // sig 8 + IHDR 25 + IDAT len/type 8
    val feats = Multimodal.decode(9L, OnePixelPng)
    assert(feats.width == 1 && feats.height == 1 && feats.n_bytes == 69)
    assert(feats.f0 == 0x78 && feats.f1 == 0x9c) // zlib stream header bytes
  }

  test("multimodal decode ingests real files through the binaryFile source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media")
    try {
      java.nio.file.Files.write(dir.resolve("one.png"), OnePixelPng)
      val files = Multimodal.readMediaDir(spark, dir.toString, "*.png")
        .withColumn("doc_id", lit(1L))
      val out = Multimodal.extractFeatures(files, "doc_id", "content").collect().head
      assert(out.width == 1 && out.height == 1 && out.n_bytes == 69)
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("multimodal synthetic payloads round-trip the PNG/JPEG builders") {
    val docs = Seq((4L, "x"), (7L, "y")).toDF("doc_id", "text")
    val out = Multimodal.extractFeatures(
        Multimodal.syntheticMediaTable(docs), "doc_id", "payload")
      .collect().sortBy(_.doc_id)
    val png = out(0) // doc 4 → PNG
    assert(png.width == 16 + 4 && png.height == 16 + 28 && png.n_bytes == 61 + 4)
    assert(png.f0 == 12 && png.f1 == 20 && png.f2 == 44 && png.f3 == 52)
    val jpg = out(1) // doc 7 → JPEG
    assert(jpg.width == 16 + 7 && jpg.height == 16 + 49 && jpg.n_bytes == 21 + 7)
    assert(jpg.f0 == 21 && jpg.f1 == 35 && jpg.f2 == 77 && jpg.f3 == 91)
  }

  test("multimodal decode falls back to opaque on unrecognized containers") {
    val df = Seq((1L, "hello world")).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val out = Multimodal.extractFeatures(df, "doc_id", "payload").collect().head
    assert(out.width == -1 && out.height == -1)
    assert(out.n_bytes == 11 && out.f0 == 'h'.toLong)
    // truncated PNG (signature only) is not a parse
    assert(Multimodal.parsePng(OnePixelPng.take(20)).isEmpty)
    assert(Multimodal.parseJpeg(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
  }

  test("wav payload builder round-trips through the chunk-walking parser") {
    val payload = Seq(7L).toDF("doc_id")
      .select(Multimodal.wavPayload(lit(16000L), lit(2L), lit(16L),
        lit(Array.fill[Byte](64)(3))).as("p"))
      .head.getAs[Array[Byte]](0)
    assert(Multimodal.parseWav(payload)
      .contains(Multimodal.WavHeader(16000L, 2L, 16L, 64L)))
    // 64 B / (2 ch × 2 B) = 16 samples; 16·1000 DIV 16000 = 1 ms
    assert(Multimodal.decodeAudio(7L, payload) ==
      Multimodal.AudioFeatures(7L, 108L, 16000L, 2L, 16L, 16L, 1L))
    // non-RIFF payloads fall back to −1 metadata; truncated RIFF is no parse
    assert(Multimodal.decodeAudio(1L, Array[Byte](1, 2, 3)).sample_rate == -1L)
    assert(Multimodal.parseWav("RIFF0000WAVEfmt ".getBytes("US-ASCII")).isEmpty)
  }

  test("mp4 payload builder round-trips through the nested box walk") {
    val payload = Seq(1L).toDF("doc_id")
      .select(Multimodal.mp4Payload(lit(30000L), lit(90000L), lit(640L),
        lit(480L), lit(Array.fill[Byte](10)(9))).as("p"))
      .head.getAs[Array[Byte]](0)
    assert(payload.length == 240 + 10)
    assert(Multimodal.parseMp4(payload)
      .contains(Multimodal.Mp4Header(30000L, 90000L, 640L, 480L)))
    // 90000 ticks at 30000 Hz = 3000 ms
    assert(Multimodal.decodeVideo(1L, payload).duration_ms == 3000L)
    // non-MP4 payloads fall back; a box over-running the payload is no parse
    assert(Multimodal.decodeVideo(2L, Array[Byte](1, 2, 3)).timescale == -1L)
    assert(Multimodal.parseMp4(payload.take(100)).isEmpty)
  }

  test("container parsers are total: garbage, truncations and bit flips never throw") {
    val rnd = new scala.util.Random(0x6d656469L)
    val valid: Seq[Array[Byte]] = Seq(
      Seq(5L).toDF("doc_id").select(Multimodal.wavPayload(lit(8000L), lit(1L),
        lit(8L), lit(Array.fill[Byte](16)(1))).as("p")).head.getAs[Array[Byte]](0),
      Seq(5L).toDF("doc_id").select(Multimodal.mp4Payload(lit(1000L), lit(500L),
        lit(320L), lit(240L), lit(Array.fill[Byte](8)(2))).as("p"))
        .head.getAs[Array[Byte]](0),
      OnePixelPng)
    val cases =
      (0 until 300).map(_ => { // pure garbage, varied sizes
        val b = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(b); b
      }) ++
      valid.flatMap(v => (0 until 100).map { _ => // truncations + bit flips
        val cut = v.take(1 + rnd.nextInt(v.length))
        if (cut.nonEmpty && rnd.nextBoolean()) {
          val i = rnd.nextInt(cut.length)
          cut(i) = (cut(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        cut
      })
    cases.foreach { b => // must return, never throw
      Multimodal.parsePng(b); Multimodal.parseJpeg(b)
      Multimodal.parseWav(b); Multimodal.parseMp4(b)
      Multimodal.decode(0L, b); Multimodal.decodeAudio(0L, b)
      Multimodal.decodeVideo(0L, b)
    }
  }

  test("multimodal frame sampler strides the payload") {
    val df = Seq((7L, "abcdefghij")).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val out = Multimodal.sampleFrames(df, "doc_id", "payload", stride = 4)
      .collect().head
    assert(out.getLong(0) == 7L)
    assert(out.getSeq[Int](1) == Seq('a'.toInt, 'e'.toInt, 'i'.toInt))
  }

  test("hash sampling: deterministic, rate-0 empty, rate-1 total") {
    val df = (0L until 200L).toDF("id")
    assert(Sampling.hashSample(df, col("id"), 0.0).count() == 0L)
    assert(Sampling.hashSample(df, col("id"), 1.0).count() == 200L)
    val a = Sampling.hashSample(df, col("id"), 0.3).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(df.repartition(7), col("id"), 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must be independent of partitioning")
    // rates nest: the 30% sample contains the 10% sample (same hash, lower bar)
    val c = Sampling.hashSample(df, col("id"), 0.1).collect().map(_.getLong(0)).toSet
    assert(c.subsetOf(a))
    assert(a.nonEmpty && a.size < 200)
  }

  test("stratified sampling drops absent strata, keeps rate-1 strata whole") {
    val df = Seq((1L, "en"), (2L, "en"), (3L, "xx"), (4L, "de"), (5L, "de"))
      .toDF("id", "lang")
    val out = Sampling.stratifiedHashSample(df, col("id"), col("lang"),
        Map("en" -> 1.0, "de" -> 1.0)).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 5L))
  }

  test("int8 quantization: exact cells, zero vector safe") {
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "v")
      .withColumn("mx", Similarity.maxAbs(col("v")))
      .withColumn("q", Similarity.quantizeInt8(col("v"), col("mx")))
      .orderBy("id")
    val rows = df.collect()
    assert(rows(0).getDouble(2) == 1.0)
    assert(rows(0).getSeq[Long](3) == Seq(127L, -64L, 31L, 0L)) // floor(-63.5) = -64
    assert(rows(1).getDouble(2) == 0.0)
    assert(rows(1).getSeq[Long](3) == Seq(0L, 0L, 0L, 0L))
  }

  test("decontamination: shared 3-grams flag docs; removal keeps the rest") {
    import graft.ops.Decontamination
    // doc 100 is "benchmark"; doc 1 contains its exact phrase (contaminated),
    // doc 2 shares only a 2-gram (clean at n=3), doc 3 is disjoint.
    val docs = Seq(
      (100L, "the quick brown fox jumps"),
      (1L, "intro words the quick brown fox jumps and more"),
      (2L, "the quick cat sat down low"),
      (3L, "completely different tokens here now")).toDF("id", "text")
    val hits = Decontamination
      .contaminationHits(docs, "id", "text", col("id") >= 100L, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(1L))
    assert(hits(1L) == 3L) // "the quick brown", "quick brown fox", "brown fox jumps"
    val kept = Decontamination
      .decontaminate(docs, "id", "text", col("id") >= 100L, n = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L)) // benchmark doc and contaminated doc removed
  }

  test("decontamination treats a NULL benchmark predicate as corpus, not dropped") {
    import graft.ops.Decontamination
    val docs = Seq[(java.lang.Long, String)](
      (100L, "the quick brown fox jumps"),
      (null, "some clean null-key doc body here"), // pred id >= 100 is NULL
      (3L, "completely different tokens here now")).toDF("id", "text")
    val kept = Decontamination
      .decontaminate(docs, "id", "text", col("id") >= 100L, n = 3)
      .select("id").collect().map(r => Option(r.get(0))).toSet
    assert(kept == Set(None, Some(3L)), s"null-pred row lost: $kept")
  }

  test("decontamination: a contaminated NULL-id document is dropped by the exact probe, an error on the id-joined forms") {
    import graft.functions.MembershipFunctions
    import graft.ops.{Decontamination, TextOps}
    import graft.ops.Decontamination.ProbeKind
    // parquet inputs: an in-memory frame folds its filters into the data,
    // hiding any filter the optimizer would infer from the anti join
    val dir = java.nio.file.Files.createTempDirectory("graft_null_id").toString
    def docs(name: String, nullText: String) = {
      Seq[(java.lang.Long, String)](
        (100L, (0 until 42).map(i => s"b$i").mkString(" ")), // the benchmark
        (null, nullText),
        (3L, "completely different tokens here now"))
        .toDF("id", "text").write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val dirty = docs("dirty", "a b1 b2 b3 sleeps") // shares "b1 b2 b3"
    val clean = docs("clean", (0 until 25).map(i => s"c$i").mkString(" "))
    val pred = col("id") >= 100L
    // 2 bits/key: the clean NULL-id document is a bloom false positive, so
    // it reaches the verify join
    val bloom = ProbeKind.Bloom(bitsPerKey = 2)
    def probe(df: org.apache.spark.sql.DataFrame, kind: ProbeKind) =
      Decontamination.benchmarkProbe(df, "id", "text", pred, n = 3, kind)
    def byProbe(df: org.apache.spark.sql.DataFrame, kind: ProbeKind) =
      Decontamination.decontaminateByProbe(df, probe(df, kind), "id", "text",
        pred, n = 3)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(r => Option(r.get(0))).toSet
    assert(clean.filter(col("id").isNull && MembershipFunctions.any_gram_in(
      probe(clean, bloom), TextOps.tokens(col("text")), 3)).count() == 1)
    // a clean NULL-id document is kept by every form
    Seq(byProbe(clean, ProbeKind.Exact), byProbe(clean, bloom),
      Decontamination.decontaminate(clean, "id", "text", pred, n = 3))
      .foreach(df => assert(ids(df) == Set(None, Some(3L))))
    // the probe filter needs no id: a contaminated one is dropped
    assert(ids(byProbe(dirty, ProbeKind.Exact)) == Set(Some(3L)))
    // the id-joined forms cannot remove it by id: they fail, naming the id
    def causes(t: Throwable): Iterator[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
    Seq(
      "bloom verify" -> (() => byProbe(dirty, bloom)),
      "gram join" -> (() => Decontamination.decontaminate(dirty, "id", "text",
        pred, n = 3))).foreach { case (form, run) =>
      val e = intercept[Exception](ids(run()))
      assert(causes(e).exists(c => Option(c.getMessage)
        .exists(_.contains("a contaminated document has a NULL id"))),
        s"$form: unexpected error $e")
    }
  }

  test("membership primitives: scalar probe and gram probe edge cases") {
    import graft.functions.{GramProbe, MembershipFunctions}
    import graft.functions.LongSetContains.long_set_contains
    val set = new GramProbe.ExactSet(Array(42L, -7L, 999L))
    val scalar = Seq(42L, 5L, -7L).toDF("h")
      .withColumn("hit", long_set_contains(set, col("h")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(scalar == Map(42L -> true, 5L -> false, -7L -> true))

    // gram probe: xxhash64-compatible by construction ("b c d" planted via
    // the SQL function itself); sub-n arrays are clean; null tokens are
    // skipped exactly like concat_ws ("a",null,"c" grams as "a c")
    val planted = Seq("b c d", "a c").toDF("g")
      .select(xxhash64(col("g"))).collect().map(_.getLong(0))
    val gset = new GramProbe.ExactSet(planted)
    val docs = Seq(
      (1L, Seq("a", "b")),                    // shorter than n → false
      (2L, Seq("x", "b", "c", "d")),          // window "b c d" → true
      (3L, Seq("a", null, "c")),              // concat_ws null skip → "a c" → true
      (4L, Seq("c", "b", "a"))).toDF("id", "toks") // no planted gram → false
    val got = docs
      .withColumn("hit", MembershipFunctions.any_gram_in(gset, col("toks"), 3))
      .select("id", "hit")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false), s"got $got")
  }

  test("nearest centroid: exact-integer assignment flags the mislabeled vector") {
    import graft.ops.Similarity
    val emb = Seq(
      (1L, 0, Array(0.0f, 0.0f)),
      (2L, 0, Array(0.2f, 0.0f)),
      (3L, 1, Array(1.0f, 1.0f)),
      (4L, 1, Array(0.8f, 1.0f)),
      (5L, 0, Array(0.9f, 0.9f))) // labeled 0, sits in cluster 1
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.nearestCentroid(emb, "vec_id", "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // centroids (floor-divided): c0 = (3666, 3000), c1 = (9000, 10000)
    assert(got == Set((1L, 0L, 0L), (2L, 0L, 0L), (3L, 1L, 1L),
      (4L, 1L, 1L), (5L, 0L, 1L)), s"got $got")
  }

  test("gram probe fuzz: native expression equals the composed HOF spelling") {
    import graft.functions.{GramProbe, MembershipFunctions}
    import graft.functions.LongSetContains.long_set_contains
    import graft.ops.{Dedup, TextOps}
    val rnd = new scala.util.Random(20260812L)
    val vocab = Vector("aa", "b", "ccc", "dd", "e", "ff", "ggg", "hh")
    val docs = (0 until 200).map { i =>
      val m = rnd.nextInt(12)
      (i.toLong, (0 until m).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    // plant roughly half the real gram space plus never-hit decoys
    val grams = Dedup.shingleSet(df, "id", "text", 3)
      .select(xxhash64(col("shingle"))).distinct().collect().map(_.getLong(0))
    val planted = grams.filter(_ => rnd.nextBoolean()) ++ Array(123L, -456L)
    val set = new GramProbe.ExactSet(planted)
    def hits(c: org.apache.spark.sql.DataFrame) =
      c.select("id", "hit").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def probed(p: GramProbe) = hits(df.withColumn("hit",
      MembershipFunctions.any_gram_in(p, TextOps.tokens(col("text")), 3)))
    val native = probed(set)
    val composed = hits(df
      .withColumn("_toks", TextOps.tokens(col("text")))
      .withColumn("hit", exists(TextOps.shingles(col("_toks"), 3),
        g => long_set_contains(set, xxhash64(g)))))
    assert(native == composed)
    assert(native.values.count(identity) > 10, "fuzz corpus produced too few hits")
    // a bloom over the same planted hashes, through the same expression, has
    // no false negatives: its hits are a superset of the exact probe's
    val bloom = probed(new GramProbe.Bloom(planted, bitsPerKey = 4))
    val missed = native.filter(_._2).keySet -- bloom.filter(_._2).keySet
    assert(missed.isEmpty, s"bloom probe missed exact hits $missed")
  }

  test("hash-set decontamination equals the exact join formulation") {
    import graft.ops.Decontamination
    import graft.ops.Decontamination.ProbeKind
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pred = col("doc_id") % 10 === 0
    val exact = Decontamination.decontaminate(docs, "doc_id", "text", pred, n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val probe = Decontamination.benchmarkProbe(docs, "doc_id", "text", pred,
      n = 8, ProbeKind.Exact)
    val got = Decontamination.decontaminateByProbe(docs, probe, "doc_id", "text",
        pred, n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty)
    assert(got == exact,
      s"set probe over-dropped ${exact -- got}, under-dropped ${got -- exact}")
    // the gram-set build enforces its eval-suite-size bound loudly
    val e = intercept[IllegalArgumentException] {
      Decontamination.benchmarkProbe(docs, "doc_id", "text", pred, n = 8,
        ProbeKind.Exact, maxGrams = Some(10))
    }
    assert(e.getMessage.contains("benchmark gram set"))
  }

  test("bloom has no false negatives and a sane false-positive rate") {
    import graft.functions.GramProbe
    val rnd = new scala.util.Random(7)
    val inserted = Array.fill(20000)(rnd.nextLong())
    val bloom = new GramProbe.Bloom(inserted, bitsPerKey = 10)
    val bytes = 8L * bloom.words.length
    assert(bytes <= 20000L * 10 / 8 + 8,
      s"bloom bigger than its bits/key budget: $bytes")
    assert(!bloom.exact)
    inserted.foreach(h =>
      assert(bloom.contains(h),
        s"false negative for $h — breaks the exactness contract"))
    val probes = 200000
    val fps = (0 until probes).count(_ => bloom.contains(rnd.nextLong()))
    // 10 bits/key, k=7 → theoretical fpp ~0.8%; allow generous slack
    assert(fps < probes * 0.03,
      s"false-positive rate ${fps.toDouble / probes} far above the 10-bit design point")
  }

  test("bloom-verified decontamination equals the exact join formulation") {
    import graft.ops.Decontamination
    import graft.ops.Decontamination.ProbeKind
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pred = col("doc_id") % 10 === 0
    val exact = Decontamination.decontaminate(docs, "doc_id", "text", pred, n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 4 bits/key → fpp ~15%: a deliberately lossy pre-screen, so the test
    // proves the verify join absorbs bloom false positives, not that the
    // bloom was accidentally exact.
    val bloom = Decontamination.benchmarkProbe(docs, "doc_id", "text",
      pred, n = 8, ProbeKind.Bloom(bitsPerKey = 4))
    val got = Decontamination.decontaminateByProbe(docs, bloom,
        "doc_id", "text", pred, n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty)
    assert(got == exact,
      s"bloom path over-dropped ${exact -- got}, under-dropped ${got -- exact}")
  }

  test("annPq with a perfect codebook reproduces exact L2 ranking") {
    import graft.ops.Similarity
    // every vector is a codebook seed (iters=1), so each slice reconstructs
    // exactly and ADC must equal the exact quantized L2² for every pair
    val vecs = (0 until 8).map(i => (i.toLong,
      Seq(i * 0.1f, (i % 3) * 0.2f, 0.5f - i * 0.05f, i * 0.01f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.annPq(df, "vec_id", "embedding",
        queryPred = col("vec_id") < 2, initPred = lit(true),
        subspaces = 2, dims = 4, iters = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(1 + 1), r.getLong(3)))
      .map { case (q, n, r, d) => (q, r) -> (n, d) }.toMap
    val quant = vecs.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 10000)) }.toMap
    def l2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (q <- Seq(0L, 1L)) {
      val expect = quant.collect { case (id, v) if id != q =>
        (id, l2(quant(q), v)) }.toSeq.sortBy { case (id, d) => (d, id) }.take(3)
      expect.zipWithIndex.foreach { case ((nbr, d2), i) =>
        assert(got((q, i + 1)) == ((nbr, d2)),
          s"qid $q rnk ${i + 1}: got ${got((q, i + 1))}, want ($nbr, $d2)")
      }
    }
  }

  test("annPq trained run: k rows per query, ADC nondecreasing in rank") {
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.annPq(emb, "vec_id", "embedding",
        queryPred = col("vec_id") % 400 === 0,
        initPred = col("vec_id") % 100 === 0,
        subspaces = 8, dims = 64, iters = 2, k = 5)
      .orderBy("qid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.map(_._1).distinct.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length == 5, s"qid $q: ${rows.length} rows")
      assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted,
        s"qid $q: ADC not monotone in rank")
      assert(rows.forall(_._4 >= 0))
    }
  }

  test("annIvfPq with every vector a coarse seed reproduces exact L2 ranking") {
    import graft.ops.Similarity
    // every vector is its own coarse list (iters=1): residuals are all
    // zero, so reconstruction == coarse centroid == the exact vector, and
    // with nprobe >= nlist the ADC scan must equal exact L2² ranking
    val vecs = (0 until 8).map(i => (i.toLong,
      Seq(i * 0.1f, (i % 3) * 0.2f, 0.5f - i * 0.05f, i * 0.01f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.annIvfPq(df, "vec_id", "embedding",
        queryPred = col("vec_id") < 2, coarsePred = lit(true),
        initPred = lit(true), nprobe = 8, subspaces = 2, dims = 4,
        iters = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> (r.getLong(1), r.getLong(3)))
      .toMap
    val quant = vecs.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 10000)) }.toMap
    def l2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (q <- Seq(0L, 1L)) {
      val expect = quant.collect { case (id, v) if id != q =>
        (id, l2(quant(q), v)) }.toSeq.sortBy { case (id, d) => (d, id) }.take(3)
      expect.zipWithIndex.foreach { case ((nbr, d2), i) =>
        assert(got((q, i + 1)) == ((nbr, d2)),
          s"qid $q rnk ${i + 1}: got ${got((q, i + 1))}, want ($nbr, $d2)")
      }
    }
  }

  test("annIvfPq trained run: k rows per query, ADC nondecreasing, bounded lists") {
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.annIvfPq(emb, "vec_id", "embedding",
        queryPred = col("vec_id") % 400 === 0,
        coarsePred = col("vec_id") % 250 === 0,
        initPred = col("vec_id") % 100 === 0,
        nprobe = 2, subspaces = 8, dims = 64, iters = 2, k = 5)
      .orderBy("qid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.map(_._1).distinct.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length == 5, s"qid $q: ${rows.length} rows")
      assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted,
        s"qid $q: ADC not monotone in rank")
      // ADC is an exact squared distance to a reconstruction: never negative
      assert(rows.forall(_._4 >= 0))
    }
  }

  test("an empty coarse-seed predicate fails naming the operator and its argument") {
    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.annIvfExact(emb, "vec_id", "embedding", col("vec_id") === 0,
        coarsePred = lit(false))
    }
    assert(e.getMessage.contains("annIvfExact") && e.getMessage.contains("coarsePred"),
      e.getMessage)
  }

  test("perplexity gate drops the bottom quarter by value, ties together") {
    import graft.ops.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val scored = TextOps.bigramLmScore(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val kept = TextOps.bigramLmFilter(docs, "doc_id", "text", dropPct = 25)
      .collect().map(_.getLong(0)).toSet
    // independent replay of the value-resolved discrete quantile rule
    val k = scored.size * 25 / 100
    val t = scored.values.toSeq.sorted.apply(k - 1)
    val expected = scored.collect { case (id, s) if s > t => id }.toSet
    assert(k > 0 && expected.nonEmpty && expected.size < scored.size)
    assert(kept == expected,
      s"gate kept ${kept -- expected} extra, missed ${expected -- kept}")
    // every dropped score ≤ every kept score (ties dropped together)
    val maxDropped = scored.collect {
      case (id, s) if !kept(id) => s }.max
    val minKept = scored.collect { case (id, s) if kept(id) => s }.min
    assert(maxDropped <= t && minKept > maxDropped)
  }

  test("hashed-key LM scoring join equals the textual join verbatim") {
    // r17: bigramLmScore's scoring join rides (xxhash64, murmur3) of the
    // bigram instead of the string. The reference below is the pre-r17
    // textual-join form inline; the two must agree row-for-row.
    import graft.ops.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = TextOps.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bg = docs.select(col("doc_id"),
      explode(TextOps.shingles(TextOps.tokens(col("text")), 2)).as("bg"))
    val lm = bg.groupBy("bg").agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val prefix = lm.groupBy("w1").agg(sum(col("c_bg")).as("c_w1"))
    val probs = lm.join(prefix, "w1")
      .select(col("bg"), expr("(c_bg * 1000000L) div c_w1").as("p_ppm"))
    val want = bg.join(probs, "bg").groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("avg_p_ppm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got == want)
    // and the fixture really exercises the no-collision regime the
    // write-up's bound promises (96 independent bits over V bigrams)
    val v = lm.select(countDistinct(col("bg")),
      countDistinct(xxhash64(col("bg")), hash(col("bg")))).head
    assert(v.getLong(0) === v.getLong(1), "hash-pair collision in fixture")
  }

  test("ngram repetition counters match a hand computation") {
    import graft.ops.TextOps
    val df = Seq((1L, "a b a b a"), (2L, "x y z")).toDF("id", "text")
    val got = TextOps.ngramRepetition(df, "id", "text", n = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 2-grams: "a b","b a","a b","b a" → total 4, top 2, distinct 2
    assert(got(0) == ((1L, 4L, 2L, 2L)))
    assert(got(1) == ((2L, 2L, 1L, 2L)))
  }

  test("semDedup prunes within a cluster but never across clusters") {
    val rows = Seq(
      (1L, Array(1.0f, 0.0f)),   // centroid 1
      (2L, Array(0.0f, 1.0f)),   // centroid 2
      (10L, Array(0.99f, 0.10f)), // cluster 1
      (11L, Array(0.98f, 0.12f)), // cluster 1, cos(10,11) ≈ 0.9998 → pruned
      (5L, Array(0.71f, 0.70f)),  // cluster 1 (barely)
      (6L, Array(0.70f, 0.71f)),  // cluster 2 (barely); cos(5,6) ≈ 0.9999
      (20L, Array(0.10f, 0.99f))) // cluster 2
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedup(rows, "vec_id", "embedding",
        col("vec_id") <= 2, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 11 pruned by 10 (same cluster); 5/6 survive — near-identical but the
    // cluster boundary splits them (the SemDeDup cost-bounding contract)
    assert(!got.contains(11L), s"11 should be pruned: $got")
    assert(got.keySet == Set(1L, 2L, 5L, 6L, 10L, 20L), s"got $got")
    assert(got(5L) == 1L && got(6L) == 2L && got(10L) == 1L && got(20L) == 2L)
  }

  test("repeatedSpanStats: window repeats union into maximal spans; short docs zero") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),      // w0 shared with doc 2 → span [0,8)
      (2L, "a b c d e f g h x y"),      // w0 shared with doc 1
      (3L, "q w e r t"),                // < 8 tokens → no windows
      (4L, "m n o p q r s t u v w x"),  // w0..w2 shared with doc 5 → [0,10)
      (5L, "m n o p q r s t u v"))      // all its windows live in doc 4
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.repeatedSpanStats(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got(0) == ((1L, 10L, 1L, 1L, 8L, 800000L)))
    assert(got(1) == ((2L, 10L, 1L, 1L, 8L, 800000L)))
    assert(got(2) == ((3L, 5L, 0L, 0L, 0L, 0L)))
    // doc 4: dup windows at pos 0,1,2 merge into ONE span [0,10) of 12 tokens
    assert(got(3) == ((4L, 12L, 3L, 1L, 10L, 833333L)))
    assert(got(4) == ((5L, 10L, 3L, 1L, 10L, 1000000L)))
  }

  test("repeatedSpanStats: hash-grouped scale path equals the textual form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))
    val textual = graft.ops.Dedup
      .repeatedSpanStats(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect().map(key)
    val hashed = graft.ops.Dedup
      .repeatedSpanStats(docs, "doc_id", "text", k = 8, groupOnHash = true)
      .orderBy("doc_id").collect().map(key)
    assert(hashed.sameElements(textual))
    assert(textual.exists(_._3 > 0), "corpus should contain repeated spans")
  }

  test("removeRepeatedSpans: cuts maximal spans, keeps residual tokens") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),      // span [0,8) → residual "i j"
      (2L, "a b c d e f g h x y"),
      (3L, "q w e r t"),                // no spans → intact
      (4L, "m n o p q r s t u v w x"),  // span [0,10) → residual "w x"
      (5L, "m n o p q r s t u v"))      // fully covered → empty residual
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup
      .removeRepeatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got(0) == ((1L, 10L, "i j", 8L)))
    assert(got(1) == ((2L, 10L, "x y", 8L)))
    assert(got(2) == ((3L, 5L, "q w e r t", 0L)))
    assert(got(3) == ((4L, 12L, "w x", 10L)))
    assert(got(4) == ((5L, 10L, "", 10L)))
    // hash-grouped path emits the same residual corpus
    val hashed = graft.ops.Dedup
      .removeRepeatedSpans(docs, "doc_id", "text", k = 8, groupOnHash = true)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(hashed.sameElements(got))
  }

  test("semDedup fails fast on non-integral ids and oversized centroid matrices") {
    val rows = Seq((1L, Seq(100L, 0L, 0L)), (2L, Seq(0L, 100L, 0L)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val strId = rows.select(concat(lit("doc-"), col("vec_id")).as("vec_id"),
      col("embedding"))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.semDedup(strId, "vec_id", "embedding", lit(true), 0.9)
    }
    assert(e1.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.semDedup(rows, "vec_id", "embedding", lit(true), 0.9,
        maxCentroidBytes = 8L)
    }
    assert(e2.getMessage.contains("centroid matrix"))
  }

  test("semDedupTrained: 1 k-means iter reduces to fixed-centroid semDedup; 2 iters deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pred = col("vec_id") % 50 === 0
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    // kmIters=1 → zero Lloyd updates → trained centroids ARE the init
    // vectors → must equal the d14 fixed-centroid operator exactly
    val fixed = collectPairs(
      Similarity.semDedup(emb, "vec_id", "embedding", pred, threshold = 0.4))
    val trained1 = collectPairs(Similarity.semDedupTrained(
      emb, "vec_id", "embedding", pred, threshold = 0.4, kmIters = 1))
    assert(trained1 == fixed)
    // kmIters=2 is exactly reproducible (integer floor-mean trajectory)
    val t2a = collectPairs(Similarity.semDedupTrained(
      emb, "vec_id", "embedding", pred, threshold = 0.4, kmIters = 2))
    val t2b = collectPairs(Similarity.semDedupTrained(
      emb, "vec_id", "embedding", pred, threshold = 0.4, kmIters = 2))
    assert(t2a == t2b)
    assert(t2a.nonEmpty)
  }

  test("centroid-assignment kernels match the broadcast-join forms at k=100") {
    import graft.functions.VectorFunctions.{argmax_cos_centroid, argmin_l2_centroid, dot_q}
    import graft.ops.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("nrm", dot_q(col("qv"), col("qv"))).cache()
    val centRows = base.filter(col("vec_id") < 100)
      .select(col("vec_id"), col("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    assert(centRows.length == 100)
    // historical r6 join + max(struct) argmax form
    val cents = base.filter(col("vec_id") < 100)
      .select(col("vec_id").as("cid"), col("qv").as("cv"), col("nrm").as("cn"))
    val joinForm = base.join(broadcast(cents), lit(true))
      .withColumn("ccos", Similarity.cosineQ(
        dot_q(col("qv"), col("cv")), col("nrm"), col("cn")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("ccos"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernelForm = base.withColumn("cid",
        element_at(typedlit(centRows.map(_._1).toSeq),
          argmax_cos_centroid(col("qv"), centRows.map(_._2).toSeq) + 1))
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernelForm == joinForm)
    // argmin-L2 vs the r6 min(struct(dist, clabel)) form over the labels
    val lbase = emb.select(col("vec_id"), col("label").cast("long").as("label"),
      Similarity.quantize(col("embedding")).as("qv"))
    val lcents = lbase.groupBy(col("label").as("clabel"))
      .agg(min(struct(col("vec_id"), col("qv"))).as("m")) // deterministic rep
      .select(col("clabel"), col("m.qv").as("cv"))
      .withColumn("cn", dot_q(col("cv"), col("cv")))
    val lCentRows = lcents.select(col("clabel"), col("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    val minJoin = lbase.withColumn("qq", dot_q(col("qv"), col("qv")))
      .join(broadcast(lcents), lit(true))
      .withColumn("dist",
        col("qq") - lit(2L) * dot_q(col("qv"), col("cv")) + col("cn"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("clabel"))).as("m"))
      .select(col("vec_id"), col("m.clabel").as("pred"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minKernel = lbase.withColumn("pred",
        element_at(typedlit(lCentRows.map(_._1).toSeq),
          argmin_l2_centroid(col("qv"), lCentRows.map(_._2).toSeq) + 1))
      .select(col("vec_id"), col("pred"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(minKernel == minJoin)
    base.unpersist()
  }

  test("centroid-assignment kernel fuzz: random vectors + duplicate centroids match the struct-agg forms") {
    import graft.functions.VectorFunctions.{argmax_cos_centroid, argmin_l2_centroid, dot_q}
    val rnd = new scala.util.Random(20260813L)
    // small value range forces frequent exact ties; duplicated centroid rows
    // force ties at EVERY scale. Zero vectors are EXCLUDED here because the
    // r6 join form is undefined on them under ANSI (0/0 double division
    // throws DIVIDE_BY_ZERO — this fuzz found that); the kernel's
    // zero-vector semantics (NaN-greatest → highest index) are pinned by
    // the edge-case test below instead.
    val dims = 4
    def vec(): Seq[Long] = {
      val v = Seq.fill(dims)((rnd.nextInt(5) - 2).toLong * 10000L)
      if (v.forall(_ == 0L)) Seq.fill(dims - 1)(0L) :+ 10000L else v
    }
    val centsBase = Seq.fill(6)(vec())
    val cents = (centsBase ++ centsBase).sortBy(_.mkString(",")) // dup rows
    val rows = (0 until 300).map(i => (i.toLong, vec()))
    val df = rows.toDF("id", "qv").cache()
    val centDf = cents.zipWithIndex
      .map { case (cv, i) => (i, cv) }.toDF("cid", "cv")
      .withColumn("cn", dot_q(col("cv"), col("cv")))
    val joinMax = df.withColumn("nrm", dot_q(col("qv"), col("qv")))
      .join(broadcast(centDf), lit(true))
      .withColumn("ccos", graft.ops.Similarity.cosineQ(
        dot_q(col("qv"), col("cv")), col("nrm"), col("cn")))
      .groupBy("id").agg(max(struct(col("ccos"), col("cid"))).as("b"))
      .select(col("id"), col("b.cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kernelMax = df.withColumn("i", argmax_cos_centroid(col("qv"), cents))
      .select("id", "i")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kernelMax == joinMax)
    val joinMin = df.withColumn("qq", dot_q(col("qv"), col("qv")))
      .join(broadcast(centDf), lit(true))
      .withColumn("dist",
        col("qq") - lit(2L) * dot_q(col("qv"), col("cv")) + col("cn"))
      .groupBy("id").agg(min(struct(col("dist"), col("cid"))).as("b"))
      .select(col("id"), col("b.cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kernelMin = df.withColumn("i", argmin_l2_centroid(col("qv"), cents))
      .select("id", "i")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kernelMin == joinMin)
    df.unpersist()
  }

  test("centroid-assignment kernels: tie and zero-vector edge cases") {
    import graft.functions.VectorFunctions.{argmax_cos_centroid, argmin_l2_centroid}
    // centroid 0 = [10000,0], centroid 1 = [20000,0] (same direction):
    // cosine ties exactly → higher index wins (max(struct(ccos,cid)) rule);
    // zero vector → all-NaN cosines → still the highest index, like Spark's
    // NaN-greatest double ordering
    val m = Seq(Seq(10000L, 0L), Seq(20000L, 0L))
    val df = Seq((1L, Seq(5000L, 0L)), (2L, Seq(0L, 0L)), (3L, Seq(0L, 7L)))
      .toDF("id", "qv")
    val got = df.withColumn("i", argmax_cos_centroid(col("qv"), m))
      .select("id", "i")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 1, 2L -> 1, 3L -> 1),
      s"ties/NaN must pick the highest index: $got")
    // L2 tie: q=[10000,0] equidistant from [0,0] and [20000,0] → LOWEST
    // index wins (min(struct(dist,label)) rule)
    val gotMin = Seq((1L, Seq(10000L, 0L))).toDF("id", "qv")
      .withColumn("i", argmin_l2_centroid(col("qv"),
        Seq(Seq(0L, 0L), Seq(20000L, 0L))))
      .select("i")
      .collect().map(r => r.getInt(0)).head
    assert(gotMin == 0)
  }

  test("chunkDocuments: starts/overlap/tail sizes and lossless reconstruction") {
    val toks = (0 until 10).map(i => s"t$i")
    val df = Seq((7L, toks.mkString(" "))).toDF("doc_id", "text")
    val got = TextOps.chunkDocuments(df, "doc_id", "text", window = 4, stride = 3)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getString(4)))
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(got.map(_._2).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(got.map(_._3).toSeq == Seq(
      "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9", "t9"))
    // concatenating each chunk's first `stride` tokens reconstructs the doc
    val rebuilt = got.flatMap(_._3.split(" ").take(3)).distinct
    assert(rebuilt.toSeq == toks)
  }

  test("temperature mixture boosts small domains, is deterministic, caps at 1") {
    val df = ((0 until 400).map(i => (i.toLong, "big")) ++
      (0 until 100).map(i => (1000L + i, "small"))).toDF("id", "dom")
    def run() = Sampling.temperatureSample(df, col("id"), col("dom"), 250L)
      .groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = run()
    assert(a == run(), "must be deterministic")
    // rates: big = 250·20/(30·400) ≈ 0.417, small = 250·10/(30·100) ≈ 0.833
    assert(a("big") > 117 && a("big") < 217, s"big=${a("big")}")
    assert(a("small") > 46 && a("small") < 121, s"small=${a("small")}")
    assert(a("small").toDouble / 100 > a("big").toDouble / 400,
      "small domain must be sampled at a higher rate")
    // budget beyond the corpus → rate caps at 1.0, everything kept
    val all = Sampling.temperatureSample(df, col("id"), col("dom"), 1000000L)
    assert(all.count() == 500L)
  }

  test("priority dedup keeps the best-source copy, not the lowest id") {
    val df = Seq(
      (1L, "x", "web"), (2L, "x", "curated"), (3L, "x", "web"),
      (4L, "y", "web")).toDF("doc_id", "text", "source")
    val prio = when(col("source") === "curated", lit(0L)).otherwise(lit(1L))
    val got = Dedup.prioritySurvivors(df, "doc_id", col("text"), prio)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((2L, 0L, 3L), (4L, 1L, 1L)), s"got $got")
  }

  test("edit-distance near-dup verify: small patch found, minInter gates candidates") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today ok fine"),
      (2L, "the quick brown fox jumps over the lazy cat today ok fine"),
      (3L, "jumps over the completely different words here now yes no"),
      (4L, "entirely unrelated content with nothing shared at all here"))
      .toDF("doc_id", "text")
    val got = Dedup.editNearDupPairs(df, "doc_id", "text", maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L)), s"got ${got.toSeq}")
    // with a huge maxDist, (1,3) still excluded: only 1 shared shingle < minInter
    val wide = Dedup.editNearDupPairs(df, "doc_id", "text", maxDist = 1000)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!wide.contains((1L, 3L)) && !wide.contains((3L, 1L)), s"got $wide")
  }

  test("LSH-bounded edit verify equals the exact inverted-index form on sf0.01") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    def norm(df: DataFrame) = df.select("d1", "d2", "edit_dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = norm(Dedup.editNearDupPairs(docs, "doc_id", "text", maxDist = 50))
    val lsh = norm(Dedup.editNearDupPairsLsh(docs, "doc_id", "text", maxDist = 50))
    assert(exact.nonEmpty)
    assert(lsh == exact,
      s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("distributed kmeans: assignments converge to the planted clusters") {
    val rows = Seq(
      (0L, Array(0.80f, 0.60f)),  // init centroid A — off-center on purpose
      (1L, Array(0.00f, 1.00f)),  // init centroid B
      (10L, Array(1.00f, 0.05f)), (11L, Array(0.95f, -0.05f)),
      (12L, Array(0.90f, 0.10f)), // x-cluster
      (20L, Array(0.05f, 1.00f)), (21L, Array(-0.05f, 0.95f)),
      (22L, Array(0.10f, 0.90f))) // y-cluster
      .toDF("vec_id", "embedding")
    def run() = Similarity.kmeansAssign(rows, "vec_id", "embedding",
        col("vec_id") <= 1, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run()
    assert(got == run(), "must be deterministic")
    assert(Set(10L, 11L, 12L).map(got) == Set(0L), s"x-cluster: $got")
    assert(Set(20L, 21L, 22L).map(got) == Set(1L), s"y-cluster: $got")
    // the off-center init still captures its own cluster after the update
    assert(got(0L) == 0L && got(1L) == 1L)
  }

  test("rare-ngram novelty counts distinct bigrams and corpus-rare ones") {
    val df = Seq(
      (1L, "a b c"),     // bigrams: "a b", "b c"
      (2L, "a b d"),     // bigrams: "a b", "b d"
      (3L, "x")).toDF("doc_id", "text") // too short → absent
    val got = TextOps.rareNgramNovelty(df, "doc_id", "text", n = 2, maxDf = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // "a b" has df=2 (not rare); "b c"/"b d" have df=1 (rare)
    assert(got.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 1L)), s"got ${got.toSeq}")
  }

  test("quality logit matches a hand computation") {
    // "the the 42": 3 tokens, 2 distinct, 2 stopword hits (dups count), 1 digit
    val got = Seq(Tuple1("the the 42")).toDF("text")
      .select(TextOps.qualityLogit(col("text"))).head.getLong(0)
    assert(got == 3 * 25 + 2 * 150 + 2 * 200 - 1 * 300 - 4000, s"got $got")
  }

  test("SQL-registered native kernels match the Column API") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Seq((1L, Array(0.1f, -0.2f, 0.7f)), (2L, Array(0.3f, 0.4f, -0.9f)))
      .toDF("id", "emb")
    emb.createOrReplaceTempView("v_emb")
    val viaSql = spark.sql("""
      SELECT id,
        graft_dot_q(graft_quantize_vec(emb), graft_quantize_vec(emb)) AS nrm,
        graft_hyperplane_sig(emb, 0, 6) AS sig
      FROM v_emb ORDER BY id""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val q = Similarity.quantize(col("emb"))
    val viaApi = emb.select(col("id"), Similarity.dotQ(q, q).as("nrm"),
        graft.functions.VectorFunctions.hyperplane_sig(col("emb"), 0, 6).as("sig"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaSql.toSeq == viaApi.toSeq)

    val docs = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("v_docs")
    val simSql = spark.sql("""
      SELECT doc_id, graft_simhash(xxhash64(tok)) AS simhash,
        min(graft_rolling_hash(tok)) AS rh
      FROM (SELECT doc_id, explode(split(text, '\\s+')) AS tok FROM v_docs)
      GROUP BY doc_id ORDER BY doc_id""").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val simApi = Dedup.simhash(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(simSql.toSeq == simApi.toSeq)
  }

  test("verifyWidth: 64 candidates per task, conf override, 8x shuffle-width cap, floor of 1") {
    val perTaskKey = "spark.graft.dedup.verifyCandsPerTask"
    val shuffleKey = "spark.sql.shuffle.partitions"
    val shuffle = spark.conf.get(shuffleKey)
    spark.conf.set(shuffleKey, "4") // cap = 32
    try {
      def width(n: Long) = Dedup.verifyWidth(spark, n)
      assert(width(0) == 1 && width(1) == 1 && width(64) == 1)
      assert(width(65) == 2 && width(640) == 10)
      assert(width(64L * 32) == 32 && width(64L * 32 + 1) == 32 && width(1L << 40) == 32)
      spark.conf.set(perTaskKey, "10")
      assert(width(25) == 3 && width(320) == 32 && width(321) == 32)
      spark.conf.set(perTaskKey, "0") // a non-positive override keeps the default
      assert(width(65) == 2)
    } finally {
      spark.conf.unset(perTaskKey)
      spark.conf.set(shuffleKey, shuffle)
    }
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
}
