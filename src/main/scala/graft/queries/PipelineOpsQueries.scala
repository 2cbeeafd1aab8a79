package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CryptoCodec
import graft.functions.{TokenHash, protect}
import graft.ops.Decontamination.ProbeKind
import graft.ops.{CacheScope, ConnectedComponents, Decontamination, Dedup, FromCorpus, Multimodal, Packing, SignPlanes, Similarity, TextOps}
import graft.operators.AsofJoin
import graft.pipeline.{ColumnPolicy, PerValue, ProtectionPipeline}

/** Training-data pipeline operators (dedup / text analysis / similarity /
  * multimodal / as-of) as oracle-checked queries over the documents,
  * embeddings and events tables.
  */
object PipelineOpsQueries {
  import RelationalQueries.Q

  private def rd(s: SparkSession, dir: String, n: String) =
    GraftTables.read(s, dir, n)
  import QueryUtil.{cents, centsSql}

  /** Recall@5 floor both ANN paths must clear vs the exact top-k (s05);
    * mirrors the OpsSpec recall gates for the default operating points.
    */
  private val RecallGate = 0.8

  /** g01 PageRank parameters — one set of vals feeds BOTH the Spark call
    * and the string-interpolated SQL oracle, so they cannot diverge.
    */
  private val G01Rounds = 3
  private val G01Scale = 1000000L
  private val G01DampingPct = 85

  /** Per-language sampling rates for t08 — fixed-order Vector (not a Map) so
    * the generated oracle CASE arms are deterministic across builds.
    */
  private val SampleRates = Vector(
    "en" -> 0.25, "de" -> 1.0, "es" -> 0.5, "fr" -> 0.75, "zh" -> 0.5)

  /** Shared brute-force Jaccard oracle (DuckDB list comprehension shingles).
    * Used for both d02 (brute force) and d03 (MinHash-LSH): at k=64/16 bands
    * the planted near-dups (j ≥ 0.9) are recalled with P(miss) < 1e-7, so
    * the verified-LSH output equals the exact pairs.
    */
  private val jaccardSql = """
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT d1, d2, i AS inter, na.n AS n1, nb.n AS n2,
        CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
      FROM inter JOIN sz na ON na.doc_id = d1 JOIN sz nb ON nb.doc_id = d2
      WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.8
      ORDER BY d1, d2"""

  /** DuckDB recomputation of a 60-bit SimHash over md5 token hashes: value of
    * hex position i (1-based, most significant first) covers bits
    * 4·(15−i)..4·(15−i)+3, so bit b lives at position 15 − b/4, bit b%4 of
    * the nibble. One SUM vote per bit, then bit b set iff its vote > 0 —
    * the exact [[graft.functions.SimHashAgg]] semantics.
    */
  /** CTE chain recomputing every md5-hash SimHash signature per-nibble in
    * DuckDB; shared by the signature oracle (d05) and the pair oracle (d08).
    */
  private val simhashMd5Cte: String = {
    val votes = (0 until 60).map { b =>
      val pos = 15 - b / 4 // 1-based hex char position inside substr(h,1,15)
      val pw = 1 << (b % 4)
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, $pos, 1)) - 1) // $pw) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n        ")
    val bits = (0 until 60).map { b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
                   FROM documents),
      h AS (SELECT doc_id, md5(tok) AS h FROM tok),
      votes AS (SELECT doc_id,
        $votes
        FROM h GROUP BY doc_id),
      sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes)"""
  }

  private val simhashMd5Sql: String =
    s"$simhashMd5Cte SELECT doc_id, simhash FROM sig ORDER BY doc_id"

  /** CTE chain recomputing every fmix-token-hash SimHash signature in
    * DuckDB — the d04 oracle (r11 graduation: the LAST no-oracle row).
    * Replays [[graft.functions.HashKernels.fmixToken63]] bit-for-bit:
    * per-token base-257 rolling hash in HUGEINT with an explicit mod 2⁶⁴
    * per step (t06's replay), split into 32-bit halves, each run through
    * the split-multiply murmur3 fmix32 chain in BIGINT (every
    * intermediate < 2⁴⁸ — s02's replay), recombined to a non-negative
    * 63-bit hash, then 63 per-bit SUM votes exactly as [[simhashMd5Cte]].
    */
  private val simhashFmixCte: String = {
    def mul(c: String, k: Long): String =
      s"(($c % 65536) * $k + ((($c // 65536) * $k) % 65536) * 65536) % 4294967296"
    def xorStep(c: String, d: Long): String = s"xor($c, $c // $d)"
    val votes = (0 until 63).map { b =>
      s"SUM(CASE WHEN (th // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n        ")
    val bits = (0 until 63).map { b =>
      s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
                   FROM documents),
      hx AS (SELECT doc_id, hex(encode(tok)) AS hh,
          octet_length(encode(tok)) AS n FROM tok),
      r AS (SELECT doc_id,
          list_reduce(
            list_prepend(CAST(1125899906842597 AS HUGEINT),
              list_transform(range(0, n), i ->
                CAST((strpos('123456789ABCDEF', substr(hh, 2*i+1, 1))) * 16
                   + (strpos('123456789ABCDEF', substr(hh, 2*i+2, 1)))
                  AS HUGEINT))),
            (acc, byt) -> (acc * 257 + byt) % 18446744073709551616) AS hu
        FROM hx),
      p0 AS (SELECT doc_id, CAST(hu % 4294967296 AS BIGINT) AS a,
          xor(CAST(hu // 4294967296 AS BIGINT),
              CAST(hu % 4294967296 AS BIGINT)) AS b
        FROM r),
      f1 AS (SELECT doc_id, ${xorStep("a", 65536)} AS a, ${xorStep("b", 65536)} AS b FROM p0),
      f2 AS (SELECT doc_id, ${mul("a", 2246822507L)} AS a, ${mul("b", 2246822507L)} AS b FROM f1),
      f3 AS (SELECT doc_id, ${xorStep("a", 8192)} AS a, ${xorStep("b", 8192)} AS b FROM f2),
      f4 AS (SELECT doc_id, ${mul("a", 3266489909L)} AS a, ${mul("b", 3266489909L)} AS b FROM f3),
      f5 AS (SELECT doc_id, ${xorStep("a", 65536)} AS a, ${xorStep("b", 65536)} AS b FROM f4),
      t63 AS (SELECT doc_id, a + (b % 2147483648) * 4294967296 AS th FROM f5),
      votes AS (SELECT doc_id,
        $votes
        FROM t63 GROUP BY doc_id),
      sig AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes)"""
  }

  val registry: Vector[(String, Q, Option[String])] = Vector(

    // ------------------------------------------------------------- dedup
    ("d01_exact_dedup", (s: SparkSession, dir: String) => {
      Dedup.exactSurvivors(rd(s, dir, "documents"), "doc_id",
          TextOps.fingerprint(col("text")))
        .select(col("doc_id"), col("n_dups"))
        .orderBy("doc_id")
    }, Some("""
      SELECT min(doc_id) AS doc_id, count(*) AS n_dups
      FROM documents
      GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
      ORDER BY doc_id""")),

    ("d02_jaccard_pairs", (s: SparkSession, dir: String) => {
      Dedup.jaccardPairs(
          Dedup.shingleSet(rd(s, dir, "documents"), "doc_id", "text"),
          "doc_id", 0.8)
        .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
          col("jaccard"))
        .orderBy("d1", "d2")
    }, Some(jaccardSql)),

    ("d03_minhash_lsh", (s: SparkSession, dir: String) => {
      Dedup.minhashLshPairs(rd(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8)
        .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
          col("jaccard"))
        .orderBy("d1", "d2")
    }, Some(jaccardSql)),

    // The corpus-scale operating point as its own first-class oracle row
    // (VERDICT r12 #6): FromCorpus sizes (k, bands) jointly from
    // (n, threshold) — the form production runs and the 100× scale rows
    // measure (d03auto_100x, FASTER than the fixed point there) — and
    // DuckDB's exact-Jaccard recompute replays whatever operating point it
    // chose. Same oracle as d03: verified pairs are LSH-recall-complete at
    // both points, so both forms must equal brute force exactly.
    ("d25_minhash_lsh_auto", (s: SparkSession, dir: String) => {
      Dedup.minhashLshPairs(rd(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, point = FromCorpus)
        .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
          col("jaccard"))
        .orderBy("d1", "d2")
    }, Some(jaccardSql)),

    // Hash-green since r11 (the last no-oracle row graduated): the token
    // hash is the oracle-replayable fmixToken63 chain (rolling64 → fmix32
    // halves) instead of xxhash64, so DuckDB recomputes every signature and
    // every banded pair. The xxhash64 production hash runs the identical
    // plan and is pinned pair-equivalent on the fixture corpus in OpsSpec.
    ("d04_simhash_pairs", (s: SparkSession, dir: String) => {
      // custom TypedImperativeAggregate: single-shuffle signature computation
      val sigs = Dedup.simhash(rd(s, dir, "documents"), "doc_id", "text",
        TokenHash.Fmix63)
      Dedup.simhashPairs(sigs, "doc_id", maxDist = 3)
        .orderBy("d1", "d2")
    }, Some(s"""$simhashFmixCte
      SELECT a.doc_id AS d1, b.doc_id AS d2,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY d1, d2""")),

    // d04 companion with a FULL oracle: the same SimHashAgg aggregate fed a
    // cross-engine-computable token hash (first 15 hex chars of md5 as a
    // 60-bit int). DuckDB recomputes every signature with per-nibble bit
    // votes, so the custom aggregate's bit-vote/merge/serde logic is
    // hash-matched end to end — the d04 path differs only in the token hash.
    ("d05_simhash_md5_oracle", (s: SparkSession, dir: String) => {
      Dedup.simhash(rd(s, dir, "documents"), "doc_id", "text", TokenHash.Md5)
        .orderBy("doc_id")
    }, Some(simhashMd5Sql)),

    // d04's PAIR GENERATION gated by a full oracle: the same pigeonhole
    // banding + hamming verification ([[Dedup.simhashPairs]]) run on the
    // cross-engine md5-hash signatures, against a brute-force all-pairs
    // DuckDB recompute. d04 differs only in the token hash (fmixToken63), so a
    // banding or distance bug in its candidate generation fails here.
    ("d08_simhash_pairs_md5", (s: SparkSession, dir: String) => {
      val sigs = Dedup.simhash(rd(s, dir, "documents"), "doc_id", "text",
        TokenHash.Md5)
      Dedup.simhashPairs(sigs, "doc_id", maxDist = 3)
        .orderBy("d1", "d2")
    }, Some(s"""$simhashMd5Cte
      SELECT a.doc_id AS d1, b.doc_id AS d2,
        CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY d1, d2""")),

    // Benchmark decontamination: corpus docs sharing any 8-token n-gram
    // with the held-out "eval" split (doc_id % 10 = 0) are flagged with
    // their distinct-hit counts. The benchmark side broadcasts — the corpus
    // never shuffles — and DuckDB recomputes the full overlap exactly.
    ("d09_decontamination", (s: SparkSession, dir: String) => {
      Decontamination.contaminationHits(rd(s, dir, "documents"),
          "doc_id", "text", col("doc_id") % 10 === 0, n = 8)
        .select(col("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0)
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM g JOIN bench USING (s)
      WHERE g.doc_id % 10 <> 0
      GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // d09's scale/streaming twin: the SAME decontamination contract
    // (drop corpus docs sharing any 8-gram with the eval split) as an exact
    // MEMBERSHIP probe instead of a gram join — the benchmark's distinct
    // gram xxhash64es ride the plan as a sorted long set, probed by a
    // codegen'd binary-search expression. Result-identical to the exact
    // join (the oracle asserts it); the corpus side is a stateless
    // projection, which is why st03 can run the identical predicate over an
    // unbounded stream. (Spark's own bloom pair was measured at a ~6e-6 FP
    // floor — wrong tool for an exactness-gated contract; see GramProbe.)
    ("d10_decontamination_hashset", (s: SparkSession, dir: String) => {
      val docs = rd(s, dir, "documents")
      val benchPred = col("doc_id") % 10 === 0
      val probe = Decontamination.benchmarkProbe(docs, "doc_id", "text",
        benchPred, n = 8, ProbeKind.Exact)
      Decontamination.decontaminateByProbe(docs, probe, "doc_id", "text",
          benchPred, n = 8)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0),
      dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (s)
                WHERE g.doc_id % 10 <> 0)
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id % 10 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
      ORDER BY d.doc_id""")),

    // The daily-ingest dedup: a new batch (doc_id % 3 = 0) deduplicated
    // against the already-accepted history (the rest). Survivors are
    // first-in-batch AND absent from history; history contributes only its
    // distinct fingerprints. The within-batch n_dups count rides along so
    // the oracle checks both halves of the semantics.
    ("d11_incremental_dedup", (s: SparkSession, dir: String) => {
      val docs = rd(s, dir, "documents")
      Dedup.incrementalExactSurvivors(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "doc_id", TextOps.fingerprint(col("text")))
        .select(col("doc_id"), col("n_dups"))
        .orderBy("doc_id")
    }, Some("""
      WITH fp AS (SELECT doc_id,
          md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
        FROM documents),
      hist AS (SELECT DISTINCT f FROM fp WHERE doc_id % 3 <> 0),
      inc AS (SELECT f, min(doc_id) AS doc_id, count(*) AS n_dups
              FROM fp WHERE doc_id % 3 = 0 GROUP BY f)
      SELECT doc_id, CAST(n_dups AS BIGINT) AS n_dups FROM inc
      WHERE f NOT IN (SELECT f FROM hist)
      ORDER BY doc_id""")),

    // Asymmetric containment pairs — Jaccard's blind spot is a short doc
    // embedded in a long one (tiny intersection/union ratio, perfect
    // containment); this is the standard second dedup metric that catches
    // quote-and-expand near-dups. Same inverted shingle index as d02.
    ("d12_containment_pairs", (s: SparkSession, dir: String) => {
      Dedup.containmentPairs(
          Dedup.shingleSet(rd(s, dir, "documents"), "doc_id", "text"),
          "doc_id", 0.9)
        .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
          col("containment"))
        .orderBy("d1", "d2")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT d1, d2, i AS inter, na.n AS n1, nb.n AS n2,
        CAST(i AS DOUBLE) / least(na.n, nb.n) AS containment
      FROM inter JOIN sz na ON na.doc_id = d1 JOIN sz nb ON nb.doc_id = d2
      WHERE CAST(i AS DOUBLE) / least(na.n, nb.n) >= 0.9
      ORDER BY d1, d2""")),

    // d11's fuzzy sibling: the daily batch deduplicated against history by
    // NEAR-duplicate similarity (MinHash-LSH candidates, exact-Jaccard
    // verify). A batch doc drops if it near-matches any history doc, or an
    // earlier doc in its own batch. Candidate generation never joins
    // history against itself — the quadratic mass a daily job must not pay.
    ("d13_incremental_neardup", (s: SparkSession, dir: String) => {
      Dedup.incrementalNearDupSurvivors(rd(s, dir, "documents"), "doc_id",
          "text", col("doc_id") % 3 === 0, threshold = 0.8)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      j AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      pairs AS (SELECT d1, d2 FROM j
            JOIN sz na ON na.doc_id = d1 JOIN sz nb ON nb.doc_id = d2
            WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.8),
      dirty AS (SELECT d2 AS doc_id FROM pairs WHERE d2 % 3 = 0
                UNION
                SELECT d1 FROM pairs WHERE d1 % 3 = 0 AND d2 % 3 <> 0)
      SELECT doc_id FROM documents
      WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
      ORDER BY doc_id""")),

    // SemDeDup (Abbas et al. 2023): semantic dedup = cluster embeddings,
    // prune within-cluster cosine near-identicals — the quadratic bounded
    // per cluster. Deterministic centroid set (vec_id % 100 = 0) stands in
    // for trained k-means so every assignment and prune decision is exactly
    // recomputable in SQL; all similarity math rides the fixed-point
    // integer space (s01's oracle recipe).
    ("d14_semdedup", (s: SparkSession, dir: String) => {
      Similarity.semDedup(rd(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") % 100 === 0, threshold = 0.4)
        .orderBy("vec_id")
    }, Some("""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM e),
      c AS (SELECT vec_id AS cid, q AS cq, nrm AS cn FROM en WHERE vec_id % 100 = 0),
      asg0 AS (SELECT vec_id, cid,
          CAST(list_dot_product(q, cq) AS DOUBLE) /
            (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS ccos
        FROM en CROSS JOIN c),
      asg AS (SELECT vec_id, cid FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid DESC) AS rn
          FROM asg0) WHERE rn = 1),
      j AS (SELECT en.vec_id, asg.cid, en.q, en.nrm
            FROM en JOIN asg USING (vec_id)),
      pruned AS (SELECT DISTINCT b.vec_id
        FROM j a JOIN j b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
          (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.4)
      SELECT j.vec_id, j.cid FROM j LEFT JOIN pruned p ON j.vec_id = p.vec_id
      WHERE p.vec_id IS NULL ORDER BY j.vec_id""")),

    // Cross-source priority dedup: for identical content keep the copy from
    // the most trusted source (curated > web dump — the RefinedWeb/Dolma
    // convention), not the lowest id. Same one-shuffle min(struct) shape as
    // d01.
    ("d15_priority_dedup", (s: SparkSession, dir: String) => {
      val prio = coalesce(element_at(
        typedlit(Map("src7" -> 0L, "src3" -> 1L, "src11" -> 2L)),
        col("source")), lit(9L))
      Dedup.prioritySurvivors(rd(s, dir, "documents"), "doc_id",
          TextOps.fingerprint(col("text")), prio)
        .orderBy("doc_id")
    }, Some("""
      WITH p AS (SELECT doc_id,
          md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
          CASE source WHEN 'src7' THEN 0 WHEN 'src3' THEN 1
                      WHEN 'src11' THEN 2 ELSE 9 END AS prio
        FROM documents),
      r AS (SELECT doc_id, CAST(prio AS BIGINT) AS priority,
          count(*) OVER (PARTITION BY fp) AS n_dups,
          row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id) AS rn
        FROM p)
      SELECT doc_id, priority, n_dups FROM r WHERE rn = 1 ORDER BY doc_id""")),

    // Fuzzy-dedup second stage: shingle-overlap candidates verified by exact
    // Levenshtein — catches in-place small-patch duplicates whose set
    // Jaccard is depressed because one edit breaks n shingles. maxDist=50
    // isolates the planted near-dup pairs from the ~1.1k candidate pairs.
    ("d16_edit_neardup", (s: SparkSession, dir: String) => {
      Dedup.editNearDupPairs(rd(s, dir, "documents"), "doc_id", "text",
          maxDist = 50)
        .orderBy("d1", "d2")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
      SELECT d1, d2, i AS inter,
        CAST(levenshtein(t1.text, t2.text) AS BIGINT) AS edit_dist
      FROM inter JOIN documents t1 ON t1.doc_id = d1
                 JOIN documents t2 ON t2.doc_id = d2
                 JOIN sz na ON na.doc_id = d1
                 JOIN sz nb ON nb.doc_id = d2
      WHERE i >= 2 AND i * 100 >= 25 * least(na.n, nb.n)
        AND levenshtein(t1.text, t2.text) <= 50
      ORDER BY d1, d2""")),

    // The 100 TB form of d16: MinHash-LSH candidates → banded-Levenshtein
    // verify (the NeMo fuzzy-dedup shape). Oracle = brute-force Jaccard
    // pairs + the same edit filter (LSH recall argument as d03); on this
    // corpus both forms emit the identical 25 pairs (sym-diff 0, verified
    // at build time in DuckDB).
    ("d17_edit_neardup_lsh", (s: SparkSession, dir: String) => {
      Dedup.editNearDupPairsLsh(rd(s, dir, "documents"), "doc_id", "text",
          maxDist = 50)
        .orderBy("d1", "d2")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT d1, d2 FROM inter
            JOIN sz na ON na.doc_id = d1 JOIN sz nb ON nb.doc_id = d2
            WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.8)
      SELECT d1, d2,
        CAST(levenshtein(t1.text, t2.text) AS BIGINT) AS edit_dist
      FROM pairs JOIN documents t1 ON t1.doc_id = d1
                 JOIN documents t2 ON t2.doc_id = d2
      WHERE levenshtein(t1.text, t2.text) <= 50
      ORDER BY d1, d2""")),

    // THE capstone composite: a complete training-data pipeline in one
    // declarative query — decontaminate (d10's native gram probe) →
    // quality-filter (t19's integer logit) → exact-dedup (d01) →
    // temperature mixture (t16) → sequence packing (t13) — every stage a
    // library op, every intermediate value recomputed by the oracle. One
    // Catalyst plan end to end: the scans fuse, the only shuffles are the
    // dedup groupBy, the tiny per-lang count, and the packing window.
    ("d18_training_pipeline", (s: SparkSession, dir: String) => {
      import graft.ops.Sampling
      val docs = rd(s, dir, "documents")
      val benchPred = col("doc_id") % 10 === 0
      val probe = Decontamination.benchmarkProbe(docs, "doc_id", "text",
        benchPred, n = 8, ProbeKind.Exact)
      val clean = Decontamination.decontaminateByProbe(docs, probe, "doc_id",
        "text", benchPred, n = 8)
      val quality = clean.filter(TextOps.qualityLogit(col("text")) >= 0L)
      val survivors = Dedup.exactSurvivors(quality, "doc_id",
        TextOps.fingerprint(col("text"))).select(col("doc_id"))
      val kept = quality.join(survivors, "doc_id")
      val mixed = Sampling.temperatureSample(kept, col("doc_id"), col("lang"),
        totalTarget = 150L)
      Packing.assignBins(
          mixed.select(col("doc_id"), col("lang"),
            size(TextOps.tokens(col("text"))).cast("long").as("nt")),
          "doc_id", col("nt"), budget = 512L, shards = 4,
          partitionCols = Seq(col("lang")))
        .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
          col("bin"))
        .orderBy("doc_id")
    }, Some {
      val stops = TextOps.stopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      val bucket = (1 to 8).map { i =>
        val w = 1L << (4 * (8 - i))
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t
                    FROM documents),
      g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0),
      dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (s)
                WHERE g.doc_id % 10 <> 0),
      clean AS (SELECT d.doc_id, d.lang, d.text FROM documents d
                WHERE d.doc_id % 10 <> 0
                  AND d.doc_id NOT IN (SELECT doc_id FROM dirty)),
      feat AS (SELECT doc_id, lang, text,
                 string_split_regex(text, '\\s+') AS t FROM clean),
      qual AS (SELECT doc_id, lang, text FROM feat
               WHERE least(len(t), 200) * 25 + len(list_distinct(t)) * 150
                 + len(list_filter(t, x -> list_contains($stops, x))) * 200
                 - len(list_filter(t, x -> regexp_matches(x, '^[0-9]+$$'))) * 300
                 - 4000 >= 0),
      fp AS (SELECT doc_id, lang, text,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
             FROM qual),
      surv AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
      kept AS (SELECT fp.doc_id, fp.lang, fp.text
               FROM fp JOIN surv ON fp.doc_id = surv.doc_id),
      c AS (SELECT lang, count(*) AS n FROM kept GROUP BY lang),
      w AS (SELECT lang, n,
              CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
            FROM c),
      ws AS (SELECT lang, n, w, sum(w) OVER () AS ws FROM w),
      thr AS (SELECT lang,
                CAST(floor(least(1.0,
                  CAST(150 AS DOUBLE) * CAST(w AS DOUBLE) /
                    (CAST(ws AS DOUBLE) * CAST(n AS DOUBLE))) * 4294967296.0)
                  AS BIGINT) AS thr
              FROM ws),
      h AS (SELECT doc_id, lang, text, md5(CAST(doc_id AS VARCHAR)) AS h
            FROM kept),
      b AS (SELECT doc_id, lang, text, CAST($bucket AS BIGINT) AS bucket
            FROM h),
      mix AS (SELECT b.doc_id, b.lang, b.text FROM b JOIN thr USING (lang)
              WHERE bucket < thr),
      tt AS (SELECT doc_id, lang, doc_id % 4 AS shard,
               CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens
             FROM mix),
      cm AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard
               ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM tt)
      SELECT doc_id, lang, shard, n_tokens,
        CAST((cum - n_tokens) // 512 AS BIGINT) AS bin
      FROM cm ORDER BY doc_id"""
    }),

    // SemDeDup with TRAINED centroids — the paper's full pipeline (k-means
    // then within-cluster prune), d14's fixed-centroid form staying the
    // oracle twin (d05-gating pattern: same code path, the only delta is
    // the centroid source, and d14 is hash-green). Rows-only by design:
    // the 2-round Lloyd trajectory is deterministic but not one SQL
    // expression. Same init set and threshold as d14/s09 so the three
    // results triangulate.
    // Oracle (r8 — retires the last achievable no-oracle entry): s09's
    // exact 2-round k-means trajectory replay (integer floor-mean Lloyd
    // update, tie-to-higher-cid assignment) chained into d14's
    // within-cluster prune CTE — the full trained-SemDeDup pipeline
    // recomputed bit-for-bit in SQL.
    ("d19_semdedup_trained", (s: SparkSession, dir: String) => {
      Similarity.semDedupTrained(rd(s, dir, "embeddings"), "vec_id",
          "embedding", col("vec_id") % 100 === 0, threshold = 0.4,
          kmIters = 2)
        .orderBy("vec_id")
    }, Some {
      def asgSql(cents: String): String = s"""(
        SELECT vec_id, cid FROM (
          SELECT en.vec_id, c.cid,
            row_number() OVER (PARTITION BY en.vec_id ORDER BY
              CAST(list_dot_product(en.q, c.cv) AS DOUBLE) /
                (sqrt(CAST(en.nrm AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE)))
              DESC, c.cid DESC) AS rn
          FROM en CROSS JOIN $cents c) WHERE rn = 1)"""
      s"""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM e),
      c0 AS (SELECT vec_id AS cid, q AS cv, nrm AS cn FROM en WHERE vec_id % 100 = 0),
      a1 AS ${asgSql("c0")},
      qd AS (SELECT a1.cid, u.i AS pos, en.q[u.i+1] AS v
             FROM en JOIN a1 USING (vec_id), UNNEST(range(0, len(en.q))) u(i)),
      m AS (SELECT cid, pos,
          (sum(v) - ((sum(v) % count(*)) + count(*)) % count(*)) // count(*) AS mv
        FROM qd GROUP BY 1, 2),
      c1 AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM m GROUP BY cid),
      c1n AS (SELECT cid, cv, CAST(list_dot_product(cv, cv) AS BIGINT) AS cn FROM c1),
      a2 AS ${asgSql("c1n")},
      j AS (SELECT en.vec_id, a2.cid, en.q, en.nrm
            FROM en JOIN a2 USING (vec_id)),
      pruned AS (SELECT DISTINCT b.vec_id
        FROM j a JOIN j b ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
          (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.4)
      SELECT j.vec_id, j.cid FROM j LEFT JOIN pruned p ON j.vec_id = p.vec_id
      WHERE p.vec_id IS NULL ORDER BY j.vec_id"""
    }),

    // Exact repeated-substring spans (Lee et al. 2021: dedup training
    // SPANS, not just whole documents) — token 8-gram windows whose text
    // repeats anywhere in the corpus, unioned per doc into maximal spans
    // via gaps-and-islands. All counts exact integers; the span-union
    // window arithmetic replays in SQL verbatim.
    ("d20_repeated_spans", (s: SparkSession, dir: String) => {
      Dedup.repeatedSpanStats(rd(s, dir, "documents"), "doc_id", "text",
          k = 8)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
      w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              array_to_string(t[i:i+7], ' ') AS g
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      rep AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
      d AS (SELECT w.doc_id, w.pos, w.pos + 8 AS e FROM w JOIN rep USING (g)),
      isl AS (SELECT doc_id, pos, e,
              CASE WHEN pos > COALESCE(max(e) OVER (PARTITION BY doc_id
                     ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ni
              FROM d),
      isl2 AS (SELECT doc_id, pos, e,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
               FROM isl),
      sp AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e2,
               count(*) AS wc
             FROM isl2 GROUP BY doc_id, island),
      per AS (SELECT doc_id, CAST(sum(e2 - s) AS BIGINT) AS covered_tokens,
                CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(wc) AS BIGINT) AS dup_windows
              FROM sp GROUP BY doc_id)
      SELECT b.doc_id, b.n_tokens,
        COALESCE(p.dup_windows, 0) AS dup_windows,
        COALESCE(p.n_spans, 0) AS n_spans,
        COALESCE(p.covered_tokens, 0) AS covered_tokens,
        COALESCE(p.covered_tokens, 0) * 1000000 // greatest(b.n_tokens, 1)
          AS covered_ppm
      FROM base b LEFT JOIN per p USING (doc_id) ORDER BY b.doc_id""")),

    // d20's 100 TB twin (VERDICT r7 #3): identical operator, but the
    // repeated-window groupBy/join keys on xxhash64(gram) — 8 B/window
    // through the shuffle instead of ~50 B of raw 8-token text. The output
    // is bit-identical absent a 64-bit collision (P ≈ n²/2⁶⁴ ≈ 0 at any
    // test SF), so the ORACLE IS d20's, replayed on raw gram text: the
    // hash-green compare proves the hash path loses nothing.
    ("d21_repeated_spans_hashed", (s: SparkSession, dir: String) => {
      Dedup.repeatedSpanStats(rd(s, dir, "documents"), "doc_id", "text",
          k = 8, groupOnHash = true)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
      w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              array_to_string(t[i:i+7], ' ') AS g
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      rep AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
      d AS (SELECT w.doc_id, w.pos, w.pos + 8 AS e FROM w JOIN rep USING (g)),
      isl AS (SELECT doc_id, pos, e,
              CASE WHEN pos > COALESCE(max(e) OVER (PARTITION BY doc_id
                     ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ni
              FROM d),
      isl2 AS (SELECT doc_id, pos, e,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
               FROM isl),
      sp AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e2,
               count(*) AS wc
             FROM isl2 GROUP BY doc_id, island),
      per AS (SELECT doc_id, CAST(sum(e2 - s) AS BIGINT) AS covered_tokens,
                CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(wc) AS BIGINT) AS dup_windows
              FROM sp GROUP BY doc_id)
      SELECT b.doc_id, b.n_tokens,
        COALESCE(p.dup_windows, 0) AS dup_windows,
        COALESCE(p.n_spans, 0) AS n_spans,
        COALESCE(p.covered_tokens, 0) AS covered_tokens,
        COALESCE(p.covered_tokens, 0) * 1000000 // greatest(b.n_tokens, 1)
          AS covered_ppm
      FROM base b LEFT JOIN per p USING (doc_id) ORDER BY b.doc_id""")),

    // Span REMOVAL (VERDICT r7 #4 — Lee et al.'s actual dedup step): cut
    // every maximal duplicated span and emit the residual corpus. Runs the
    // hash-grouped scale path; the oracle reassembles the residual text in
    // SQL (anti-join of token positions against the span intervals +
    // ordered string_agg), so the cleaned TEXT itself is hash-checked, not
    // just the counts.
    ("d22_span_removal", (s: SparkSession, dir: String) => {
      Dedup.removeRepeatedSpans(rd(s, dir, "documents"), "doc_id", "text",
          k = 8, groupOnHash = true)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
      w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              array_to_string(t[i:i+7], ' ') AS g
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      rep AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
      d AS (SELECT w.doc_id, w.pos, w.pos + 8 AS e FROM w JOIN rep USING (g)),
      isl AS (SELECT doc_id, pos, e,
              CASE WHEN pos > COALESCE(max(e) OVER (PARTITION BY doc_id
                     ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ni
              FROM d),
      isl2 AS (SELECT doc_id, pos, e,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
               FROM isl),
      sp AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e2,
               count(*) AS wc
             FROM isl2 GROUP BY doc_id, island),
      per AS (SELECT doc_id, CAST(sum(e2 - s) AS BIGINT) AS removed
              FROM sp GROUP BY doc_id),
      tokpos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS ti, t[i] AS tok
                 FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
      resid AS (SELECT tp.doc_id,
                  string_agg(tp.tok, ' ' ORDER BY tp.ti) AS text_clean
                FROM tokpos tp
                WHERE NOT EXISTS (SELECT 1 FROM sp
                  WHERE sp.doc_id = tp.doc_id
                    AND tp.ti >= sp.s AND tp.ti < sp.e2)
                GROUP BY tp.doc_id)
      SELECT b.doc_id, b.n_tokens,
        COALESCE(r.text_clean, '') AS text_clean,
        COALESCE(p.removed, 0) AS removed_tokens
      FROM base b
      LEFT JOIN resid r USING (doc_id)
      LEFT JOIN per p USING (doc_id)
      ORDER BY b.doc_id""")),

    // d22 composed as a pipeline stage (the Lee et al. usage): span-remove,
    // DROP documents that lost ≥ half their tokens (mostly-boilerplate
    // docs), and account for the surviving corpus per language — the
    // span-dedup analog of d07's doc-level curation accounting.
    ("d23_span_curation", (s: SparkSession, dir: String) => {
      val docs = rd(s, dir, "documents")
      val cleaned = Dedup.removeRepeatedSpans(docs, "doc_id", "text",
        k = 8, groupOnHash = true)
      val kept = cleaned.filter(col("removed_tokens") * 2 < col("n_tokens"))
      kept.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens") - col("removed_tokens")).as("kept_tokens"),
          sum(col("removed_tokens")).as("removed_tokens"))
        .orderBy("lang")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
      w AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              array_to_string(t[i:i+7], ' ') AS g
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      rep AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
      d AS (SELECT w.doc_id, w.pos, w.pos + 8 AS e FROM w JOIN rep USING (g)),
      isl AS (SELECT doc_id, pos, e,
              CASE WHEN pos > COALESCE(max(e) OVER (PARTITION BY doc_id
                     ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS ni
              FROM d),
      isl2 AS (SELECT doc_id, pos, e,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
               FROM isl),
      sp AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e2
             FROM isl2 GROUP BY doc_id, island),
      per AS (SELECT doc_id, CAST(sum(e2 - s) AS BIGINT) AS removed
              FROM sp GROUP BY doc_id),
      docstat AS (SELECT b.doc_id, b.n_tokens,
                    COALESCE(p.removed, 0) AS removed
                  FROM base b LEFT JOIN per p USING (doc_id)),
      keep AS (SELECT doc_id, n_tokens, removed FROM docstat
               WHERE removed * 2 < n_tokens)
      SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(k.n_tokens - k.removed) AS BIGINT) AS kept_tokens,
        CAST(sum(k.removed) AS BIGINT) AS removed_tokens
      FROM keep k JOIN documents d USING (doc_id)
      GROUP BY d.lang ORDER BY d.lang""")),

    // d09/d10's bounded-memory twin: a ~10-bit/gram bloom pre-screen (no
    // false negatives) routes only the suspicious sliver — true hits plus
    // the ~fpp bloom false positives — into the exact verify join, so the
    // result is identical to the exact decontamination at a sixth of the
    // exact set's executor footprint. The oracle is the exact formulation:
    // the hash-green compare IS the no-false-negatives proof.
    ("d24_decontamination_bloom", (s: SparkSession, dir: String) => {
      val docs = rd(s, dir, "documents")
      val benchPred = col("doc_id") % 10 === 0
      val probe = Decontamination.benchmarkProbe(docs, "doc_id", "text",
        benchPred, n = 8, ProbeKind.Bloom(bitsPerKey = 10))
      Decontamination.decontaminateByProbe(docs, probe, "doc_id", "text",
          benchPred, n = 8)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0),
      dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (s)
                WHERE g.doc_id % 10 <> 0)
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id % 10 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
      ORDER BY d.doc_id""")),

    // ------------------------------------------------------------- graphs
    // Iterative graph rank: 3 damped fixed-point PageRank rounds over the
    // co-purchase graph (parts linked when one order contains both — the
    // self-join-on-container edge build every item-graph pipeline runs).
    // All rank math is integral (ppm units, truncating div), so the oracle
    // replays the full 3-round trajectory with chained CTEs bit-for-bit —
    // the s09 k-means replay pattern applied to graph iteration.
    ("g01_pagerank", (s: SparkSession, dir: String) => {
      val li = rd(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e0 = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
      val edges = e0.unionAll(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.PageRank.run(edges, rounds = G01Rounds, scale = G01Scale,
          dampingPct = G01DampingPct)
        .select(col("node"), col("deg"), col("pr"))
        .orderBy("node")
    }, Some {
      // SQL constants derived from the SAME G01* vals the Spark call uses
      // (r6 ADVICE: a literal-constant oracle silently diverges if the
      // Spark-side arguments ever change)
      val teleport = G01Scale * (100L - G01DampingPct) / 100L
      val prRounds = (1 to G01Rounds).map { r =>
        s"""      c$r AS (SELECT e.dst AS node, SUM(p.pr // p.deg) AS s
             FROM edges e JOIN p${r - 1} p ON e.src = p.node GROUP BY e.dst),
      p$r AS (SELECT p.node, p.deg,
               CAST($teleport + ($G01DampingPct * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
             FROM p${r - 1} p LEFT JOIN c$r c ON p.node = c.node)"""
      }.mkString(",\n")
      s"""
      WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                  WHERE l_orderkey % 20 = 0),
      e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
             FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
      p0 AS (SELECT node, deg, CAST($G01Scale AS BIGINT) AS pr FROM deg),
$prRounds
      SELECT node, deg, pr FROM p${G01Rounds} ORDER BY node"""
    }),

    // Per-node triangle counts on the same co-purchase graph — local
    // clustering structure via degree-ordered orientation (max out-degree
    // O(√m) after orienting, so the wedge join's worst key is bounded even
    // on power-law graphs; each triangle counted exactly once).
    ("g02_triangles", (s: SparkSession, dir: String) => {
      val li = rd(s, dir, "lineitem")
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e0 = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      graft.ops.Triangles.perNode(e0).orderBy("node")
    }, Some("""
      WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
                  WHERE l_orderkey % 20 = 0),
      e0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v FROM li a
             JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      sym AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u),
      o AS (SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v)
                        THEN e0.u ELSE e0.v END AS s,
                   CASE WHEN (du.d, e0.u) < (dv.d, e0.v)
                        THEN e0.v ELSE e0.u END AS t
            FROM e0 JOIN deg du ON du.node = e0.u
                    JOIN deg dv ON dv.node = e0.v),
      tri AS (SELECT a.s AS x, a.t AS y, b.t AS z
              FROM o a JOIN o b ON a.t = b.s
              JOIN o c ON c.s = a.s AND c.t = b.t),
      cnt AS (SELECT node, count(*) AS n FROM (
                SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri) GROUP BY node)
      SELECT d.node, COALESCE(c.n, 0) AS n_triangles
      FROM deg d LEFT JOIN cnt c USING (node) ORDER BY node""")),

    // Near-dup pairs → canonical clusters: distributed connected components
    // (large-star/small-star) over the verified MinHash-LSH pairs, every doc
    // labeled with its component minimum. The oracle recomputes components
    // with a recursive transitive-closure CTE over the brute-force Jaccard
    // pairs — exercising the whole chain (shingle → LSH → verify → cluster).
    ("d06_neardup_clusters", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val docs = rd(s, dir, "documents")
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.8)
        .select(col("d1"), col("d2"))
      val cc = ConnectedComponents.run(pairs, "d1", "d2")
      docs.select(col("doc_id"))
        .join(cc, col("doc_id") === col("node"), "left")
        .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("rep_id"))).cast("long"))
        .orderBy("doc_id")
    }, Some("""
      WITH RECURSIVE
      toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pairs AS (SELECT d1, d2 FROM inter
                JOIN sz na ON na.doc_id = d1 JOIN sz nb ON nb.doc_id = d2
                WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.8),
      edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
                UNION ALL SELECT d2, d1 FROM pairs),
      reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.node, e.dst FROM reach r JOIN edges e ON r.lbl = e.src),
      comp AS (SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS rep_id
               FROM reach GROUP BY node)
      SELECT doc_id, rep_id,
        CAST(count(*) OVER (PARTITION BY rep_id) AS BIGINT) AS cluster_size
      FROM comp ORDER BY doc_id""")),

    // The end-to-end curation pipeline a training-data run would execute:
    // quality gate → exact dedup (keep min doc per fingerprint) → near-dup
    // clustering on the survivors (keep each cluster's representative) →
    // per-language corpus stats. Every stage is the already-oracled operator
    // (t03 score, d01 fingerprints, d06 components) composed into ONE lazy
    // plan, and the oracle recomputes the entire chain in SQL.
    ("d07_curation_pipeline", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      // tokenize+score is scan-fused per-row-heavy work — spread a
      // near-singleton split count first (TextOps.spreadCompute)
      val scored = TextOps.spreadCompute(rd(s, dir, "documents"))
        .withColumn("toks", TextOps.tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("stop_hits",
          TextOps.stopwordHits(col("toks"), TextOps.stopwords.head._2))
        .withColumn("score", TextOps.qualityScore(
          col("n_tokens"), col("n_distinct"), col("stop_hits")))
      val kept = scored
        .filter(col("score") >= 0.33 && col("n_tokens") >= 20)
        .drop("toks")
      // Cached: three consumers (LSH pair generation, the CC join-back, the
      // final per-language rollup) otherwise recompute the tokenize + score +
      // window chain ~3×. Unmanaged scope, not withScope: a registry query
      // returns a LAZY frame, so the cache must outlive this function — the
      // ContextCleaner reaps it with the plan (see CacheScope scaladoc).
      val exactKept = graft.ops.CacheScope.unmanaged.cached(kept
        .withColumn("fp", TextOps.fingerprint(col("text")))
        .withColumn("_minid",
          min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .filter(col("doc_id") === col("_minid")))
      val pairs = Dedup.minhashLshPairs(exactKept, "doc_id", "text",
        threshold = 0.8).select(col("d1"), col("d2"))
      val cc = ConnectedComponents.run(pairs, "d1", "d2")
      exactKept.join(cc, col("doc_id") === col("node"), "left")
        .filter(coalesce(col("rep"), col("doc_id")) === col("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("lang")
    }, Some {
      val list = TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
      s"""
      WITH RECURSIVE
      t AS (SELECT doc_id, lang, text, n_chars,
        CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_distinct,
        CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ($list))) AS BIGINT) AS stop_hits
        FROM documents),
      q AS (SELECT *,
        CAST((stop_hits + n_distinct) * 300 + least(n_tokens, 100) * n_tokens * 4 AS DOUBLE)
          / CAST(n_tokens * 1000 AS DOUBLE) AS score FROM t),
      kept AS (SELECT * FROM q WHERE score >= 0.33 AND n_tokens >= 20),
      fp AS (SELECT *, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
             FROM kept),
      exact AS (SELECT * FROM fp
                QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)),
      tk AS (SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM exact),
      sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
             FROM tk, UNNEST(range(1, len(tk)-1)) AS u(i)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      prs AS (SELECT d1, d2 FROM inter
              JOIN sz na ON na.doc_id = d1 JOIN sz nb ON nb.doc_id = d2
              WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.8),
      edges AS (SELECT d1 AS src, d2 AS dst FROM prs
                UNION ALL SELECT d2, d1 FROM prs),
      reach(node, lbl) AS (
        SELECT doc_id, doc_id FROM exact
        UNION
        SELECT r.node, e.dst FROM reach r JOIN edges e ON r.lbl = e.src),
      comp AS (SELECT node AS doc_id, min(lbl) AS rep FROM reach GROUP BY node)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(min(k.doc_id) AS BIGINT) AS first_doc
      FROM exact k JOIN comp c ON k.doc_id = c.doc_id AND c.rep = k.doc_id
      GROUP BY lang ORDER BY lang"""
    }),

    // ----------------------------------------------------- text analysis
    ("t01_token_stats", (s: SparkSession, dir: String) => {
      // tokens materialized once per row (see Dedup.shingleSet note)
      rd(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          aggregate(transform(col("toks"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).as("sum_len"),
          col("n_chars"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) AS n_distinct,
        CAST(list_aggregate(list_transform(string_split_regex(text, '\s+'),
          x -> length(x)), 'sum') AS BIGINT) AS sum_len,
        n_chars
      FROM documents ORDER BY doc_id""")),

    ("t02_langid", (s: SparkSession, dir: String) => {
      rd(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
        .select(col("doc_id") +: col("lang").as("labeled") +:
          TextOps.stopwords.map { case (lang, words) =>
            TextOps.stopwordHits(col("toks"), words).as(s"sc_$lang") }: _*)
        .withColumn("predicted", TextOps.langPrediction(
          TextOps.stopwords.map { case (lang, _) => lang -> col(s"sc_$lang") }.toMap))
        .orderBy("doc_id")
    }, Some {
      val scoreExprs = TextOps.stopwords.map { case (lang, words) =>
        val list = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ($list))) AS BIGINT) AS sc_$lang"
      }.mkString(",\n        ")
      s"""
      SELECT doc_id, lang AS labeled, $scoreExprs,
        CASE
          WHEN sc_en >= sc_fr AND sc_en >= sc_es AND sc_en >= sc_de AND sc_en >= sc_zh THEN 'en'
          WHEN sc_fr >= sc_es AND sc_fr >= sc_de AND sc_fr >= sc_zh THEN 'fr'
          WHEN sc_es >= sc_de AND sc_es >= sc_zh THEN 'es'
          WHEN sc_de >= sc_zh THEN 'de'
          ELSE 'zh'
        END AS predicted
      FROM documents ORDER BY doc_id"""
    }),

    ("t03_quality_score", (s: SparkSession, dir: String) => {
      rd(s, dir, "documents")
        .withColumn("toks", TextOps.tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("stop_hits",
          TextOps.stopwordHits(col("toks"), TextOps.stopwords.head._2))
        .withColumn("score", TextOps.qualityScore(
          col("n_tokens"), col("n_distinct"), col("stop_hits")))
        .select("doc_id", "n_tokens", "n_distinct", "stop_hits", "score")
        .orderBy("doc_id")
    }, Some {
      val list = TextOps.stopwords.head._2.map(w => s"'$w'").mkString(", ")
      s"""
      WITH t AS (SELECT doc_id,
        CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_distinct,
        CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ($list))) AS BIGINT) AS stop_hits
        FROM documents)
      SELECT doc_id, n_tokens, n_distinct, stop_hits,
        CAST((stop_hits + n_distinct) * 300 + least(n_tokens, 100) * n_tokens * 4 AS DOUBLE)
          / CAST(n_tokens * 1000 AS DOUBLE) AS score
      FROM t ORDER BY doc_id"""
    }),

    ("t04_fingerprint", (s: SparkSession, dir: String) => {
      rd(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"),
          col("source"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        source
      FROM documents ORDER BY doc_id""")),

    // -------------------------------------------------------- similarity
    ("s01_knn_exact", (s: SparkSession, dir: String) => {
      Similarity.knnExactQuantized(rd(s, dir, "embeddings"), "vec_id",
          "embedding", col("vec_id") % 50 === 0, k = 10)
        .orderBy("qid", "rnk")
    }, Some("""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM e),
      qs AS (SELECT vec_id AS qid, q AS qq, nrm AS qn FROM en WHERE vec_id % 50 = 0),
      pairs AS (SELECT qid, e2.vec_id, CAST(list_dot_product(qq, e2.q) AS BIGINT) AS dot,
          qn, e2.nrm
        FROM qs JOIN en e2 ON e2.vec_id <> qid),
      scored AS (SELECT qid, vec_id,
          CAST(dot AS DOUBLE)/(sqrt(CAST(qn AS DOUBLE))*sqrt(CAST(nrm AS DOUBLE))) AS cos_r
        FROM pairs),
      ranked AS (SELECT qid, vec_id AS nbr, cos_r,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS rnk
        FROM scored)
      SELECT qid, nbr, rnk, cos_r FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""")),

    // Hyperplane ANN on the exact integer chain (VERDICT r9 #6 — the s04
    // treatment): ±1 plane weights are fmix32 parities (split-multiply
    // murmur3 finalizer, every intermediate < 2^48 so DuckDB BIGINT replays
    // it wrap-free), projections are BIGINT sums over the ×10⁴-quantized
    // vectors, multiprobe is integer XOR — the oracle rebuilds buckets,
    // probes, candidates and the cosine re-rank bit-for-bit. The float
    // mix64 planes (SignPlanes.Float) stay the s05-gated reference.
    ("s02_ann_hyperplane", (s: SparkSession, dir: String) => {
      // defaults tables=8/planes=6/probeHamming=1: the oracle's literal
      // probe-mask VALUES encodes exactly hammingMasks(6, 1) — pinned in
      // QueryRegistrySpec ("s02 oracle's hardcoded probe-mask VALUES")
      Similarity.annHyperplane(rd(s, dir, "embeddings"), "vec_id",
          "embedding", col("vec_id") % 50 === 0, SignPlanes.Exact, k = 5)
        .orderBy("qid", "rnk")
    }, Some("""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM e),
      z0 AS (SELECT vec_id, tt.t, pp.p, q[u.i+1] AS qi,
          ((tt.t*6 + pp.p) * 1048573 + u.i + 1) AS h
        FROM en, range(0,8) tt(t), range(0,6) pp(p),
          UNNEST(range(0, len(q))) u(i)),
      z1 AS (SELECT vec_id, t, p, qi, xor(h, h // 65536) AS h FROM z0),
      z2 AS (SELECT vec_id, t, p, qi,
          ((h % 65536) * 2246822507
            + (((h // 65536) * 2246822507) % 65536) * 65536) % 4294967296 AS h
        FROM z1),
      z3 AS (SELECT vec_id, t, p, qi, xor(h, h // 8192) AS h FROM z2),
      z4 AS (SELECT vec_id, t, p, qi,
          ((h % 65536) * 3266489909
            + (((h // 65536) * 3266489909) % 65536) * 65536) % 4294967296 AS h
        FROM z3),
      z5 AS (SELECT vec_id, t, p, qi, xor(h, h // 65536) AS h FROM z4),
      wsum AS (SELECT vec_id, t, p,
          sum(CASE WHEN h % 2 = 0 THEN qi ELSE -qi END) AS proj
        FROM z5 GROUP BY 1, 2, 3),
      sig AS (SELECT vec_id, t,
          CAST(sum(CASE WHEN proj >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
            AS BIGINT) AS b
        FROM wsum GROUP BY 1, 2),
      probes AS (SELECT s.vec_id AS qid, s.t, xor(s.b, CAST(m.m AS BIGINT)) AS b
        FROM sig s, (VALUES (0),(1),(2),(4),(8),(16),(32)) m(m)
        WHERE s.vec_id % 50 = 0),
      cand AS (SELECT DISTINCT p.qid, s.vec_id AS nbr
        FROM probes p JOIN sig s ON s.t = p.t AND s.b = p.b
        WHERE s.vec_id <> p.qid),
      scored AS (SELECT c.qid, c.nbr,
          CAST(CAST(list_dot_product(a.q, b2.q) AS BIGINT) AS DOUBLE)
            / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b2.nrm AS DOUBLE))) AS cos_r
        FROM cand c JOIN en a ON a.vec_id = c.qid
          JOIN en b2 ON b2.vec_id = c.nbr),
      ranked AS (SELECT qid, nbr, cos_r,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC, nbr) AS rnk
        FROM scored)
      SELECT qid, nbr, rnk, cos_r FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""")),

    ("s03_cosine_neardup", (s: SparkSession, dir: String) => {
      Similarity.cosineNearDupPairs(rd(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4)
        .orderBy("d1", "d2")
    }, Some("""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM e),
      pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
          CAST(CAST(list_dot_product(a.q, b.q) AS BIGINT) AS DOUBLE)
            / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos_r
        FROM en a JOIN en b ON a.vec_id < b.vec_id)
      SELECT d1, d2, cos_r FROM pairs WHERE cos_r >= 0.4 ORDER BY d1, d2""")),

    // IVF on the exact ×10⁴ integer grid (FAISS IndexIVFFlat): coarse
    // k-means trained by the same floor-mean Lloyd's chain as s11, queries
    // probe nprobe lists, the scan ranks the TRUE vectors of the probed
    // lists by exact L2. Hash-green (VERDICT r8 #5): the oracle is s11's
    // chain minus the residual-PQ CTEs — coarse training, assignment,
    // probe ranking and the scan all replay bit-for-bit. The float
    // spherical-k-means form (Similarity.annIvf) stays the s05
    // recall-gated helper.
    ("s04_ann_ivf", (s: SparkSession, dir: String) => {
      Similarity.annIvfExact(rd(s, dir, "embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") % 50 === 0,
          coarsePred = col("vec_id") % 250 === 0,
          nprobe = 7, iters = 2, k = 5)
        .orderBy("qid", "rnk")
    }, Some {
      // s11's assign/floor-mean coarse chain, scan on exact vectors
      def asg(src: String, cents: String) = s"""(SELECT vec_id, cid FROM (
          SELECT s.vec_id, c.cid, row_number() OVER (PARTITION BY s.vec_id
            ORDER BY s.n2 + c.cn - 2*CAST(list_dot_product(s.sv, c.cv) AS BIGINT)
              ASC, c.cid ASC) AS rn
          FROM $src s CROSS JOIN $cents c) WHERE rn = 1)"""
      s"""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      cn0 AS (SELECT vec_id, q AS sv,
          CAST(list_dot_product(q, q) AS BIGINT) AS n2 FROM e),
      cc0 AS (SELECT vec_id AS cid, sv AS cv, n2 AS cn FROM cn0
              WHERE vec_id % 250 = 0),
      ca1 AS ${asg("cn0", "cc0")},
      cqd AS (SELECT a.cid, u.i AS pos, s.sv[u.i+1] AS v
              FROM cn0 s JOIN ca1 a USING (vec_id),
                UNNEST(range(0, len(s.sv))) u(i)),
      cmm AS (SELECT cid, pos,
          (sum(v) - ((sum(v) % count(*)) + count(*)) % count(*)) // count(*) AS mv
        FROM cqd GROUP BY 1, 2),
      ccm AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM cmm GROUP BY cid),
      cc1 AS (SELECT c0.cid, COALESCE(cm.cv, c0.cv) AS cv,
          CAST(list_dot_product(COALESCE(cm.cv, c0.cv), COALESCE(cm.cv, c0.cv))
            AS BIGINT) AS cn
        FROM cc0 c0 LEFT JOIN ccm cm USING (cid)),
      ccode AS ${asg("cn0", "cc1")},
      base AS (SELECT s.vec_id, d.cid, s.sv AS q, s.n2 AS nrm
               FROM cn0 s JOIN ccode d USING (vec_id)),
      qs AS (SELECT vec_id AS qid, q AS qq,
               CAST(list_dot_product(q, q) AS BIGINT) AS qn
             FROM e WHERE vec_id % 50 = 0),
      probes AS (SELECT qid, qq, qn, cid FROM (
          SELECT qs.qid, qs.qq, qs.qn, c.cid,
            row_number() OVER (PARTITION BY qs.qid ORDER BY
              qs.qn + c.cn - 2*CAST(list_dot_product(qs.qq, c.cv) AS BIGINT)
                ASC, c.cid ASC) AS prn
          FROM qs CROSS JOIN cc1 c)
        WHERE prn <= 7),
      cand AS (SELECT p.qid, b.vec_id AS nbr,
                 p.qn + b.nrm - 2*CAST(list_dot_product(p.qq, b.q) AS BIGINT) AS d2
               FROM probes p JOIN base b USING (cid) WHERE b.vec_id <> p.qid)
      SELECT qid, nbr, rnk, d2 FROM (
        SELECT qid, nbr, d2,
          row_number() OVER (PARTITION BY qid ORDER BY d2, nbr) AS rnk
        FROM cand)
      WHERE rnk <= 5 ORDER BY qid, rnk"""
    }),

    // s02/s04 companion with an oracle: the ANN candidate sets are
    // index-dependent, but their RECALL against the exact top-k is a
    // contract DuckDB can check — the denominator (exact top-5 pairs) is
    // recomputable from the s01 formulation, and the gate bit must be 1.
    // If either ANN path's recall drops below the gate, recall_ok flips to
    // 0 and the row hash-mismatches.
    ("s05_ann_recall", (s: SparkSession, dir: String) => {
      val emb = rd(s, dir, "embeddings")
      val queryPred = col("vec_id") % 50 === 0
      val exact = Similarity.knnExactQuantized(emb, "vec_id", "embedding",
        queryPred, k = 5).select(col("qid"), col("nbr"))
      def recallOf(method: String, ann: DataFrame): DataFrame =
        exact.join(ann.select(col("qid"), col("nbr"), lit(1L).as("hit")),
            Seq("qid", "nbr"), "left")
          .agg(
            count(lit(1)).as("n_exact_pairs"),
            count_distinct(col("qid")).as("n_queries"),
            (sum(coalesce(col("hit"), lit(0L))) >= count(lit(1)) * lit(RecallGate))
              .cast("long").as("recall_ok"))
          .select(lit(method).as("method"), col("n_queries"),
            col("n_exact_pairs"), col("recall_ok"))
      def hyperplane(signs: SignPlanes): DataFrame = Similarity.annHyperplane(
        emb, "vec_id", "embedding", queryPred, signs, k = 5)
      // the float IVF is @deprecated (annIvfExact is the production path)
      // but stays s05's recall-gated reference, as do the float planes —
      // this is their one sanctioned call site
      @scala.annotation.nowarn("cat=deprecation")
      def floatIvf: DataFrame = Similarity.annIvf(
        emb, "vec_id", "embedding", queryPred, nlist = 16, nprobe = 7, k = 5)
      recallOf("hyperplane", hyperplane(SignPlanes.Float))
        .unionAll(recallOf("hyperplane_exact", hyperplane(SignPlanes.Exact)))
        .unionAll(recallOf("ivf", floatIvf))
        .unionAll(recallOf("ivf_exact", Similarity.annIvfExact(
          emb, "vec_id", "embedding", queryPred,
          coarsePred = col("vec_id") % 250 === 0, nprobe = 7, k = 5)))
        .orderBy("method")
    }, Some("""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM e),
      qs AS (SELECT vec_id AS qid, q AS qq, nrm AS qn FROM en WHERE vec_id % 50 = 0),
      pairs AS (SELECT qid, e2.vec_id, CAST(list_dot_product(qq, e2.q) AS BIGINT) AS dot,
          qn, e2.nrm
        FROM qs JOIN en e2 ON e2.vec_id <> qid),
      ranked AS (SELECT qid, vec_id AS nbr,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
            CAST(dot AS DOUBLE)/(sqrt(CAST(qn AS DOUBLE))*sqrt(CAST(nrm AS DOUBLE))) DESC,
            vec_id) AS rnk
        FROM pairs),
      ex AS (SELECT qid, nbr FROM ranked WHERE rnk <= 5)
      SELECT m.method, CAST(q.n AS BIGINT) AS n_queries,
        CAST(p.n AS BIGINT) AS n_exact_pairs, CAST(1 AS BIGINT) AS recall_ok
      FROM (VALUES ('hyperplane'), ('hyperplane_exact'), ('ivf'),
          ('ivf_exact')) m(method),
        (SELECT count(DISTINCT qid) AS n FROM ex) q,
        (SELECT count(*) AS n FROM ex) p
      ORDER BY m.method""")),

    // Symmetric int8 quantization of the embedding column (the 4×-smaller
    // corpus representation ANN serves from at scale), exploded to one row
    // per (vector, dim) so the oracle value-checks every quantized cell.
    // floor (not round) keeps tie-breaking engine-independent — see
    // Similarity.quantizeInt8.
    ("s06_quantize_int8", (s: SparkSession, dir: String) => {
      rd(s, dir, "embeddings")
        // mx materialized as an attribute BEFORE the transform lambda:
        // captured non-attribute expressions re-evaluate per element
        .withColumn("mx", Similarity.maxAbs(col("embedding")))
        .select(col("vec_id"), col("mx"),
          posexplode(Similarity.quantizeInt8(col("embedding"), col("mx")))
            .as(Seq("pos", "q")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("q"),
          col("mx").as("max_abs"))
        .orderBy("vec_id", "pos")
    }, Some("""
      WITH e AS (SELECT vec_id, embedding,
          CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS mx
        FROM embeddings)
      SELECT vec_id, CAST(i AS BIGINT) AS pos,
        CASE WHEN mx = 0 THEN 0
             ELSE CAST(floor((CAST(embedding[i+1] AS DOUBLE) * 127.0) / mx) AS BIGINT)
        END AS q,
        mx AS max_abs
      FROM e, UNNEST(range(0, len(embedding))) AS u(i)
      ORDER BY vec_id, pos""")),

    // s03's scale twin: LSH-bucketed candidates + exact verify. The oracle
    // is the SAME all-pairs formulation as s03 — a hash match proves the
    // bucketed plan is candidate-complete on this corpus (the one plan with
    // no O(n²) join; see Similarity.cosineNearDupBucketed for the recall
    // math). Threshold 0.45, not 0.9: this corpus's max pair cosine is
    // ~0.51, so 0.45 is the regime where qualifying pairs exist at all.
    ("s07_cosine_neardup_lsh", (s: SparkSession, dir: String) => {
      Similarity.cosineNearDupBucketed(rd(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.45)
        .orderBy("d1", "d2")
    }, Some("""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM e),
      pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
          CAST(CAST(list_dot_product(a.q, b.q) AS BIGINT) AS DOUBLE)
            / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos_r
        FROM en a JOIN en b ON a.vec_id < b.vec_id)
      SELECT d1, d2, cos_r FROM pairs WHERE cos_r >= 0.45 ORDER BY d1, d2""")),

    // Nearest-centroid classification: per-label integer centroids (exact
    // floor-divided means), broadcast to a map-side argmin-L2 assignment —
    // reported as the label × predicted confusion counts. Exact fixed-point
    // arithmetic end to end; the squared distance expands to native dot_q
    // kernels (no interpreted HOFs — the d10 lesson).
    ("s08_nearest_centroid", (s: SparkSession, dir: String) => {
      Similarity.nearestCentroid(rd(s, dir, "embeddings"), "vec_id", "label",
          "embedding")
        .groupBy("label", "pred").agg(count(lit(1)).as("n"))
        .orderBy("label", "pred")
    }, Some("""
      WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      qd AS (SELECT vec_id, label, i AS pos, q[i+1] AS v
             FROM q, UNNEST(range(0, len(q))) u(i)),
      cent AS (SELECT label AS clabel, pos,
          (sum(v) - ((sum(v) % count(*)) + count(*)) % count(*)) // count(*) AS c
        FROM qd GROUP BY 1, 2),
      dist AS (SELECT a.vec_id, a.label, c.clabel,
          sum((a.v - c.c) * (a.v - c.c)) AS dist
        FROM qd a JOIN cent c ON a.pos = c.pos
        GROUP BY 1, 2, 3),
      pred AS (SELECT vec_id, label, clabel,
          row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
        FROM dist)
      SELECT label, clabel AS pred, CAST(count(*) AS BIGINT) AS n
      FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY label, pred""")),

    // Distributed Lloyd's k-means (2 rounds): init centroids = vec_id%100=0,
    // argmax-cosine assignment, exact-integer floor-mean centroid update —
    // the oracle replays the full trajectory (assign → update → assign) in
    // SQL. Every init centroid contains at least itself (cos=1 with itself
    // beats any distinct vector), so the empty-cluster fallback never fires
    // on this corpus and the oracle can omit it.
    ("s09_kmeans", (s: SparkSession, dir: String) => {
      // unmanaged scope: the returned frame executes after this fn returns,
      // so the cache must outlive it (ContextCleaner reaps with the plan)
      Similarity.kmeansAssign(rd(s, dir, "embeddings"), "vec_id",
          "embedding", col("vec_id") % 100 === 0, iters = 2,
          scope = CacheScope.unmanaged)
        .orderBy("vec_id")
    }, Some {
      def asgSql(cents: String): String = s"""(
        SELECT vec_id, cid FROM (
          SELECT en.vec_id, c.cid,
            row_number() OVER (PARTITION BY en.vec_id ORDER BY
              CAST(list_dot_product(en.q, c.cv) AS DOUBLE) /
                (sqrt(CAST(en.nrm AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE)))
              DESC, c.cid DESC) AS rn
          FROM en CROSS JOIN $cents c) WHERE rn = 1)"""
      s"""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q, CAST(list_dot_product(q, q) AS BIGINT) AS nrm FROM e),
      c0 AS (SELECT vec_id AS cid, q AS cv, nrm AS cn FROM en WHERE vec_id % 100 = 0),
      a1 AS ${asgSql("c0")},
      qd AS (SELECT a1.cid, u.i AS pos, en.q[u.i+1] AS v
             FROM en JOIN a1 USING (vec_id), UNNEST(range(0, len(en.q))) u(i)),
      m AS (SELECT cid, pos,
          (sum(v) - ((sum(v) % count(*)) + count(*)) % count(*)) // count(*) AS mv
        FROM qd GROUP BY 1, 2),
      c1 AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM m GROUP BY cid),
      c1n AS (SELECT cid, cv, CAST(list_dot_product(cv, cv) AS BIGINT) AS cn FROM c1),
      a2 AS ${asgSql("c1n")}
      SELECT vec_id, cid FROM a2 ORDER BY vec_id"""
    }),

    // Product-quantization ANN (FAISS IndexPQ): 8 independent per-subspace
    // k-means codebooks (2-round floor-mean Lloyd's, L2, exact ints),
    // argmin-L2 encoding, ADC top-5 per query. ADC over subspaces equals L2
    // against the concatenated reconstruction, so the oracle replays
    // training, encoding, and the scan bit-for-bit — the s09 trajectory-
    // replay pattern applied per subspace.
    ("s10_pq_adc", (s: SparkSession, dir: String) => {
      Similarity.annPq(rd(s, dir, "embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") % 400 === 0,
          initPred = col("vec_id") % 100 === 0,
          subspaces = 8, dims = 64, iters = 2, k = 5)
        .orderBy("qid", "rnk")
    }, Some {
      val sub = 8
      // per-subspace chain: slice → init codebook (vec_id % 100) → assign
      // (L2 asc, cid asc — the kernel's tie-toward-lowest-cid) → floor-mean
      // update with empty clusters keeping their seed → final codes →
      // reconstruction slice. Same floor-mean spelling as the s09 oracle.
      def asg(ms: Int, cents: String) = s"""(SELECT vec_id, cid FROM (
          SELECT s.vec_id, c.cid, row_number() OVER (PARTITION BY s.vec_id
            ORDER BY s.n2 + c.cn - 2*CAST(list_dot_product(s.sv, c.cv) AS BIGINT)
              ASC, c.cid ASC) AS rn
          FROM sn$ms s CROSS JOIN $cents c) WHERE rn = 1)"""
      val per = (0 until 8).map { ms =>
        val lo = ms * sub + 1; val hi = (ms + 1) * sub
        s"""
      sn$ms AS (SELECT vec_id, q[$lo:$hi] AS sv,
          CAST(list_dot_product(q[$lo:$hi], q[$lo:$hi]) AS BIGINT) AS n2 FROM en),
      c0_$ms AS (SELECT vec_id AS cid, sv AS cv, n2 AS cn FROM sn$ms
                 WHERE vec_id % 100 = 0),
      a1_$ms AS ${asg(ms, s"c0_$ms")},
      qd$ms AS (SELECT a.cid, u.i AS pos, s.sv[u.i+1] AS v
             FROM sn$ms s JOIN a1_$ms a USING (vec_id),
               UNNEST(range(0, len(s.sv))) u(i)),
      mm$ms AS (SELECT cid, pos,
          (sum(v) - ((sum(v) % count(*)) + count(*)) % count(*)) // count(*) AS mv
        FROM qd$ms GROUP BY 1, 2),
      cm$ms AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM mm$ms GROUP BY cid),
      c1_$ms AS (SELECT c0.cid, COALESCE(cm.cv, c0.cv) AS cv,
          CAST(list_dot_product(COALESCE(cm.cv, c0.cv), COALESCE(cm.cv, c0.cv))
            AS BIGINT) AS cn
        FROM c0_$ms c0 LEFT JOIN cm$ms cm USING (cid)),
      code$ms AS ${asg(ms, s"c1_$ms")},
      r$ms AS (SELECT d.vec_id, c.cv FROM code$ms d JOIN c1_$ms c USING (cid))"""
      }.mkString(",")
      val reconJoin = (1 until 8).map(ms => s"JOIN r$ms USING (vec_id)").mkString(" ")
      val reconCat = (0 until 8).map(ms => s"r$ms.cv").mkString(" || ")
      s"""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q FROM e),$per,
      recon AS (SELECT r0.vec_id, $reconCat AS rv FROM r0 $reconJoin),
      rn2 AS (SELECT vec_id, rv, CAST(list_dot_product(rv, rv) AS BIGINT) AS rn
              FROM recon),
      qs AS (SELECT vec_id AS qid, q AS qq,
               CAST(list_dot_product(q, q) AS BIGINT) AS qn
             FROM en WHERE vec_id % 400 = 0),
      cand AS (SELECT qs.qid, r.vec_id AS nbr,
                 qs.qn + r.rn - 2*CAST(list_dot_product(qs.qq, r.rv) AS BIGINT) AS d2
               FROM qs CROSS JOIN rn2 r WHERE r.vec_id <> qs.qid)
      SELECT qid, nbr, rnk, d2 FROM (
        SELECT qid, nbr, d2,
          row_number() OVER (PARTITION BY qid ORDER BY d2, nbr) AS rnk
        FROM cand)
      WHERE rnk <= 5 ORDER BY qid, rnk"""
    }),

    // IVF-PQ (FAISS IndexIVFPQ): exact-integer coarse k-means (20 lists at
    // sf0.01), residual product codes (8 subspaces), nprobe-5 probe + ADC
    // scan. Everything on the ×10⁴ grid, so coarse training, residual
    // codebooks, probe ranking, and the scan replay bit-for-bit: the s10
    // oracle chain run once at full dimension (coarse), once per subspace
    // over the RESIDUAL slices, plus a probe CTE.
    ("s11_ivfpq", (s: SparkSession, dir: String) => {
      Similarity.annIvfPq(rd(s, dir, "embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") % 400 === 0,
          coarsePred = col("vec_id") % 250 === 0,
          initPred = col("vec_id") % 100 === 0,
          nprobe = 5, subspaces = 8, dims = 64, iters = 2, k = 5)
        .orderBy("qid", "rnk")
    }, Some {
      val sub = 8
      // the s10 assign/floor-mean chain, parameterized by source table
      def asg(src: String, cents: String) = s"""(SELECT vec_id, cid FROM (
          SELECT s.vec_id, c.cid, row_number() OVER (PARTITION BY s.vec_id
            ORDER BY s.n2 + c.cn - 2*CAST(list_dot_product(s.sv, c.cv) AS BIGINT)
              ASC, c.cid ASC) AS rn
          FROM $src s CROSS JOIN $cents c) WHERE rn = 1)"""
      // coarse chain at full dimension: seeds vec_id % 250, one floor-mean
      // update round (iters=2), empty clusters keep their seed
      val coarseChain = s"""
      cn0 AS (SELECT vec_id, q AS sv,
          CAST(list_dot_product(q, q) AS BIGINT) AS n2 FROM en),
      cc0 AS (SELECT vec_id AS cid, sv AS cv, n2 AS cn FROM cn0
              WHERE vec_id % 250 = 0),
      ca1 AS ${asg("cn0", "cc0")},
      cqd AS (SELECT a.cid, u.i AS pos, s.sv[u.i+1] AS v
              FROM cn0 s JOIN ca1 a USING (vec_id),
                UNNEST(range(0, len(s.sv))) u(i)),
      cmm AS (SELECT cid, pos,
          (sum(v) - ((sum(v) % count(*)) + count(*)) % count(*)) // count(*) AS mv
        FROM cqd GROUP BY 1, 2),
      ccm AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM cmm GROUP BY cid),
      cc1 AS (SELECT c0.cid, COALESCE(cm.cv, c0.cv) AS cv,
          CAST(list_dot_product(COALESCE(cm.cv, c0.cv), COALESCE(cm.cv, c0.cv))
            AS BIGINT) AS cn
        FROM cc0 c0 LEFT JOIN ccm cm USING (cid)),
      ccode AS ${asg("cn0", "cc1")},
      rvt AS (SELECT en.vec_id, d.cid, c.cv AS ccv,
          list_transform(range(0, len(en.q)), i -> en.q[i+1] - c.cv[i+1]) AS rv
        FROM en JOIN ccode d USING (vec_id) JOIN cc1 c USING (cid))"""
      // per-subspace chains over the residual slices (s10 template on rvt)
      val per = (0 until 8).map { ms =>
        val lo = ms * sub + 1; val hi = (ms + 1) * sub
        s"""
      sn$ms AS (SELECT vec_id, rv[$lo:$hi] AS sv,
          CAST(list_dot_product(rv[$lo:$hi], rv[$lo:$hi]) AS BIGINT) AS n2
        FROM rvt),
      c0_$ms AS (SELECT vec_id AS cid, sv AS cv, n2 AS cn FROM sn$ms
                 WHERE vec_id % 100 = 0),
      a1_$ms AS ${asg(s"sn$ms", s"c0_$ms")},
      qd$ms AS (SELECT a.cid, u.i AS pos, s.sv[u.i+1] AS v
             FROM sn$ms s JOIN a1_$ms a USING (vec_id),
               UNNEST(range(0, len(s.sv))) u(i)),
      mm$ms AS (SELECT cid, pos,
          (sum(v) - ((sum(v) % count(*)) + count(*)) % count(*)) // count(*) AS mv
        FROM qd$ms GROUP BY 1, 2),
      cm$ms AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM mm$ms GROUP BY cid),
      c1_$ms AS (SELECT c0.cid, COALESCE(cm.cv, c0.cv) AS cv,
          CAST(list_dot_product(COALESCE(cm.cv, c0.cv), COALESCE(cm.cv, c0.cv))
            AS BIGINT) AS cn
        FROM c0_$ms c0 LEFT JOIN cm$ms cm USING (cid)),
      code$ms AS ${asg(s"sn$ms", s"c1_$ms")},
      r$ms AS (SELECT d.vec_id, c.cv FROM code$ms d JOIN c1_$ms c USING (cid))"""
      }.mkString(",")
      val reconJoin = (1 until 8).map(ms => s"JOIN r$ms USING (vec_id)").mkString(" ")
      val reconCat = (0 until 8).map(ms => s"r$ms.cv").mkString(" || ")
      s"""
      WITH e AS (SELECT vec_id,
          list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)*10000) AS BIGINT)) AS q
        FROM embeddings),
      en AS (SELECT vec_id, q FROM e),$coarseChain,$per,
      rr AS (SELECT r0.vec_id, $reconCat AS rres FROM r0 $reconJoin),
      recon AS (SELECT v.vec_id, v.cid,
          list_transform(range(0, len(v.ccv)), i -> v.ccv[i+1] + rr.rres[i+1]) AS fv
        FROM rvt v JOIN rr USING (vec_id)),
      rn2 AS (SELECT vec_id, cid, fv,
          CAST(list_dot_product(fv, fv) AS BIGINT) AS rn FROM recon),
      qs AS (SELECT vec_id AS qid, q AS qq,
               CAST(list_dot_product(q, q) AS BIGINT) AS qn
             FROM en WHERE vec_id % 400 = 0),
      probes AS (SELECT qid, qq, qn, cid FROM (
          SELECT qs.qid, qs.qq, qs.qn, c.cid,
            row_number() OVER (PARTITION BY qs.qid ORDER BY
              qs.qn + c.cn - 2*CAST(list_dot_product(qs.qq, c.cv) AS BIGINT)
                ASC, c.cid ASC) AS prn
          FROM qs CROSS JOIN cc1 c)
        WHERE prn <= 5),
      cand AS (SELECT p.qid, r.vec_id AS nbr,
                 p.qn + r.rn - 2*CAST(list_dot_product(p.qq, r.fv) AS BIGINT) AS d2
               FROM probes p JOIN rn2 r USING (cid) WHERE r.vec_id <> p.qid)
      SELECT qid, nbr, rnk, d2 FROM (
        SELECT qid, nbr, d2,
          row_number() OVER (PARTITION BY qid ORDER BY d2, nbr) AS rnk
        FROM cand)
      WHERE rnk <= 5 ORDER BY qid, rnk"""
    }),

    // ------------------------------------------- BPE-ish token counting
    ("t05_token_bpe", (s: SparkSession, dir: String) => {
      // subword-ish tokenization: alnum runs and punctuation runs counted
      // separately (the whitespace tokenizer is t01)
      rd(s, dir, "documents")
        .select(col("doc_id"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")
            .as("n_word_tokens"),
          size(expr("regexp_extract_all(text, '[^a-z0-9\\\\s]+', 0)")).cast("long")
            .as("n_punct_tokens"),
          size(expr("regexp_extract_all(text, '[a-z0-9]{1,4}', 0)")).cast("long")
            .as("n_subword4"))
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_word_tokens,
        CAST(len(regexp_extract_all(text, '[^a-z0-9\s]+')) AS BIGINT) AS n_punct_tokens,
        CAST(len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS BIGINT) AS n_subword4
      FROM documents ORDER BY doc_id""")),

    // Hash-green since r10: the base-257 wrapping-64-bit fold IS
    // SQL-replayable — DuckDB runs it in HUGEINT (h·257 + b < 2^72) with an
    // explicit mod 2^64 per step via list_reduce over the canonical text's
    // UTF-8 bytes (hex(encode(..)) nibble-decoded; strpos on
    // '123456789ABCDEF' maps '0'→0 for free), then re-signs into BIGINT.
    ("t06_rolling_fingerprint", (s: SparkSession, dir: String) => {
      // native codegen'd rolling-hash fingerprint (RollingHash64 expression)
      rd(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.RollingHash64.rolling_hash64(
            TextOps.canonicalText(col("text"))).as("fp64"))
        .orderBy("doc_id")
    }, Some("""
      WITH c AS (SELECT doc_id,
          regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS ct
        FROM documents),
      hx AS (SELECT doc_id, hex(encode(ct)) AS h,
          octet_length(encode(ct)) AS n FROM c),
      fp AS (SELECT doc_id,
          list_reduce(
            list_prepend(CAST(1125899906842597 AS HUGEINT),
              list_transform(range(0, n), i ->
                CAST((strpos('123456789ABCDEF', substr(h, 2*i+1, 1))) * 16
                   + (strpos('123456789ABCDEF', substr(h, 2*i+2, 1)))
                  AS HUGEINT))),
            (acc, b) -> (acc * 257 + b) % 18446744073709551616) AS hu
        FROM hx)
      SELECT doc_id,
        CAST(CASE WHEN hu >= 9223372036854775808
          THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS fp64
      FROM fp ORDER BY doc_id""")),

    // t06 companion: beyond the value replay, the fingerprint's CONTRACT —
    // distinct fingerprints equal distinct canonical texts (injective +
    // deterministic on the corpus) — is checked from the raw table.
    ("t07_fingerprint_consistency", (s: SparkSession, dir: String) => {
      rd(s, dir, "documents")
        .select(
          graft.functions.RollingHash64.rolling_hash64(
            TextOps.canonicalText(col("text"))).as("fp64"),
          TextOps.canonicalText(col("text")).as("c"))
        .agg(count_distinct(col("fp64")).as("n_fp"),
          count_distinct(col("c")).as("n_text"))
    }, Some("""
      SELECT count(DISTINCT regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS n_fp,
             count(DISTINCT regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS n_text
      FROM documents""")),

    // Deterministic stratified sampling: per-language down-sampling keyed on
    // md5(doc_id) — reproducible across runs, partitionings and engines,
    // unlike df.sample(). The oracle recomputes the 32-bit hash bucket
    // nibble-by-nibble and applies the same integer thresholds.
    ("t08_stratified_sample", (s: SparkSession, dir: String) => {
      import graft.ops.Sampling
      Sampling.stratifiedHashSample(rd(s, dir, "documents"), col("doc_id"),
          col("lang"), SampleRates.toMap)
        .select(col("doc_id"), col("lang"),
          Sampling.hashBucket32(col("doc_id")).as("bucket"))
        .orderBy("doc_id")
    }, Some {
      val bucket = (1 to 8).map { i =>
        val w = 1L << (4 * (8 - i))
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * $w"
      }.mkString(" + ")
      val cases = SampleRates.map { case (lang, rate) =>
        s"WHEN '$lang' THEN ${graft.ops.Sampling.threshold(rate)}"
      }.mkString(" ")
      s"""
      WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
                 FROM documents),
      b AS (SELECT doc_id, lang, CAST($bucket AS BIGINT) AS bucket FROM h)
      SELECT doc_id, lang, bucket FROM b
      WHERE bucket < CASE lang $cases ELSE -1 END
      ORDER BY doc_id"""
    }),

    // PII detection + scrubbing — the corpus-side face of the protection
    // engine: detect → redact before text reaches a training shard. The raw
    // corpus is synthetic word-salad, so PII is injected deterministically
    // from doc_id (4 of 5 docs) and the oracle recomputes detection counts
    // AND the md5 of the fully redacted text — every replacement byte is
    // value-checked cross-engine.
    ("t09_pii_scrub", (s: SparkSession, dir: String) => {
      import graft.ops.Pii
      val injected = when(col("doc_id") % 5 === 0, col("text")).otherwise(
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com call 555-123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" from 10.0.0."), col("doc_id") % 256))
      rd(s, dir, "documents")
        .withColumn("t2", injected)
        .select(Seq(col("doc_id")) ++ Pii.detect(col("t2")) :+
          md5(Pii.redact(col("t2"))).as("scrub_fp"): _*)
        .orderBy("doc_id")
    }, Some("""
      WITH inj AS (SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN text
             ELSE text || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com call 555-123-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               || ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        END AS t2 FROM documents)
      SELECT doc_id,
        CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(t2, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT) AS n_phones,
        CAST(len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
        CAST(len(regexp_extract_all(t2, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
        CAST(CASE WHEN len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(t2, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b'))
                   + len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                   + len(regexp_extract_all(t2, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) > 0
             THEN 1 ELSE 0 END AS BIGINT) AS has_pii,
        md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t2,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
          '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'),
          '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS scrub_fp
      FROM inj ORDER BY doc_id""")),

    // Gopher-family repetition quality counters as exact integers: per doc,
    // total / top-occurrence / distinct word-2-gram counts. Pure two-level
    // hash aggregation (map-side partials, no window) — the filter a real
    // pipeline derives (top_count/n_grams > threshold) stays reproducible
    // because no float math happens in the engine.
    ("t10_repetition_stats", (s: SparkSession, dir: String) => {
      TextOps.ngramRepetition(rd(s, dir, "documents"), "doc_id", "text", n = 2)
        .select(col("doc_id"), col("n_grams"), col("top_count"), col("n_distinct"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      g AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS s
            FROM toks, UNNEST(range(1, len(t))) AS u(i)),
      c AS (SELECT doc_id, s, count(*) AS c FROM g GROUP BY 1, 2)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        CAST(max(c) AS BIGINT) AS top_count,
        CAST(count(*) AS BIGINT) AS n_distinct
      FROM c GROUP BY doc_id ORDER BY doc_id""")),

    // Sketch-based distinct counting — the 100 TB answer to "how many
    // unique documents per language" (exact distinct of a 100 TB corpus is
    // a full-width shuffle; HLL is a few KB per group, partial-aggregated
    // map-side). The oracle gates it s05-style: DuckDB recomputes the EXACT
    // count and the Spark side must (a) reproduce that exact count and
    // (b) land the HLL estimate within 5% of it — the gate bit flips the
    // row red if the sketch drifts.
    ("t11_approx_distinct", (s: SparkSession, dir: String) => {
      rd(s, dir, "documents")
        .withColumn("fp", TextOps.fingerprint(col("text")))
        .groupBy("lang")
        .agg(
          count_distinct(col("fp")).as("n_exact"),
          approx_count_distinct(col("fp"), rsd = 0.02).as("n_approx"))
        .select(col("lang"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double")
            <= col("n_exact").cast("double") * 0.05)
            .cast("long").as("approx_ok"))
        .orderBy("lang")
    }, Some("""
      SELECT lang,
        CAST(count(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS BIGINT) AS n_exact,
        CAST(1 AS BIGINT) AS approx_ok
      FROM documents GROUP BY lang ORDER BY lang""")),

    // TF-IDF keyword extraction, integer-ranked: (tf desc, df asc, term asc)
    // orders identically to the float tf·log(N/df) score (log is monotone in
    // df) and is bit-reproducible across engines. Inverted-index shape: tf
    // shuffle on (doc, term), df aggregate over the vocabulary-sized tf
    // table, join back on term, per-doc top-k window.
    ("t12_tfidf_terms", (s: SparkSession, dir: String) => {
      TextOps.distinctiveTerms(rd(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk")
    }, Some("""
      WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
                   FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      r AS (SELECT doc_id, term, tf, df, row_number() OVER
              (PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) AS rnk
            FROM tf JOIN dfq USING (term))
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""")),

    // Sequence packing: docs laid end-to-end in id order within (lang, shard)
    // lanes, bin = start offset DIV 2048 — the loader's concat-and-chunk
    // batch assignment, deterministic and exact-integer end to end. Sharding
    // keeps every window partition executor-sized at corpus scale.
    ("t13_sequence_packing", (s: SparkSession, dir: String) => {
      Packing.assignBins(
          rd(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              size(TextOps.tokens(col("text"))).cast("long").as("nt")),
          "doc_id", col("nt"), budget = 2048L, shards = 8,
          partitionCols = Seq(col("lang")))
        .select(col("doc_id"), col("lang"), col("shard"), col("n_tokens"),
          col("bin"))
        .orderBy("doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, lang, doc_id % 8 AS shard,
          CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard
              ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
      SELECT doc_id, lang, shard, n_tokens,
        CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin
      FROM c ORDER BY doc_id""")),

    // t11's sibling for quantiles: the KLL-style sketch percentile (the
    // 100 TB answer to exact medians, which need a full sort per group) is
    // gated s05/t11-style — the oracle recomputes the EXACT median and the
    // row carries a bit asserting the sketch landed within 1% of it.
    ("t14_approx_percentile", (s: SparkSession, dir: String) => {
      rd(s, dir, "lineitem")
        .withColumn("pc", cents(col("l_extendedprice")))
        .groupBy("l_returnflag")
        .agg(percentile(col("pc"), lit(0.5)).as("p50_exact"),
          percentile_approx(col("pc"), lit(0.5), lit(10000)).as("apx"))
        .select(col("l_returnflag"), col("p50_exact"),
          (abs(col("apx").cast("double") - col("p50_exact"))
            <= col("p50_exact") * lit(0.01)).cast("long").as("approx_ok"))
        .orderBy("l_returnflag")
    }, Some(s"""
      SELECT l_returnflag,
        quantile_cont(${centsSql("l_extendedprice")}, 0.5) AS p50_exact,
        CAST(1 AS BIGINT) AS approx_ok
      FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Overlapping token-window chunking (context-length-bounded consumers:
    // embedding models, RAG indexing). window=32/stride=24 → 8-token
    // overlap; every chunk's text is value-checked cross-engine.
    ("t15_chunking", (s: SparkSession, dir: String) => {
      TextOps.chunkDocuments(rd(s, dir, "documents"), "doc_id", "text",
          window = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      st AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks, t,
               CAST(u.i AS BIGINT) AS st
             FROM toks, UNNEST(range(0, greatest(len(t), 1), 24)) AS u(i))
      SELECT doc_id, st // 24 AS chunk_idx, n_toks,
        least(32, n_toks - st) AS n_chunk_tokens,
        array_to_string(t[st+1 : st+32], ' ') AS chunk_text
      FROM st ORDER BY doc_id, chunk_idx""")),

    // Temperature-weighted domain mixture (α=0.5 up-/down-sampling of
    // multilingual pretraining): en (218 docs) is suppressed relative to
    // its share, fr/de (64/70) boosted. Thresholds derive from exact
    // integers (⌊√n·2²⁰⌋, integer Σ) through ONE double division, so the
    // per-row keep decision is bit-identical in the oracle.
    ("t16_domain_mixture", (s: SparkSession, dir: String) => {
      import graft.ops.Sampling
      Sampling.temperatureSample(rd(s, dir, "documents"), col("doc_id"),
          col("lang"), totalTarget = 200L)
        .select(col("doc_id"), col("lang"),
          Sampling.hashBucket32(col("doc_id")).as("bucket"))
        .orderBy("doc_id")
    }, Some {
      val bucket = (1 to 8).map { i =>
        val w = 1L << (4 * (8 - i))
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""
      WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      w AS (SELECT lang, n,
          CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT) AS w
        FROM c),
      ws AS (SELECT lang, n, w, sum(w) OVER () AS ws FROM w),
      thr AS (SELECT lang,
          CAST(floor(least(1.0,
            CAST(200 AS DOUBLE) * CAST(w AS DOUBLE) /
              (CAST(ws AS DOUBLE) * CAST(n AS DOUBLE))) * 4294967296.0)
            AS BIGINT) AS thr
        FROM ws),
      h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
      b AS (SELECT doc_id, lang, CAST($bucket AS BIGINT) AS bucket FROM h)
      SELECT b.doc_id, b.lang, b.bucket FROM b JOIN thr USING (lang)
      WHERE bucket < thr ORDER BY doc_id"""
    }),

    // Chunk-level dedup — the RAG/pretraining composite: chunk every doc
    // (t15's chunker), fingerprint each chunk, keep the first copy. Catches
    // repeated boilerplate SPANS across documents that doc-level dedup
    // can't see (here: the planted one-token-edit near-dups share all
    // chunks past the edited token). Same one-shuffle min(struct) shape as
    // d01, over the chunk stream.
    ("t17_chunk_dedup", (s: SparkSession, dir: String) => {
      TextOps.chunkDocuments(rd(s, dir, "documents"), "doc_id", "text",
          window = 32, stride = 24)
        .groupBy(md5(col("chunk_text")).as("fp"))
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("m"),
          count(lit(1)).as("n_dups"))
        .select(col("m.doc_id").as("doc_id"),
          col("m.chunk_idx").as("chunk_idx"), col("n_dups"))
        .orderBy("doc_id", "chunk_idx")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      st AS (SELECT doc_id, t, CAST(u.i AS BIGINT) AS st
             FROM toks, UNNEST(range(0, greatest(len(t), 1), 24)) AS u(i)),
      ch AS (SELECT doc_id, st // 24 AS chunk_idx,
               array_to_string(t[st+1 : st+32], ' ') AS chunk_text
             FROM st),
      r AS (SELECT doc_id, chunk_idx,
              count(*) OVER (PARTITION BY md5(chunk_text)) AS n_dups,
              row_number() OVER (PARTITION BY md5(chunk_text)
                                 ORDER BY doc_id, chunk_idx) AS rn
            FROM ch)
      SELECT doc_id, chunk_idx, n_dups FROM r WHERE rn = 1
      ORDER BY doc_id, chunk_idx""")),

    // Rare-bigram novelty: distinct bigrams per doc + how many are corpus-
    // rare (df <= 1) — both ends of the novelty distribution are curation
    // signals. Vocabulary-sized df table, gram-keyed join back.
    ("t18_rare_ngram_novelty", (s: SparkSession, dir: String) => {
      TextOps.rareNgramNovelty(rd(s, dir, "documents"), "doc_id", "text",
          n = 2, maxDf = 1)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      g AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g
            FROM toks, UNNEST(range(1, len(t))) AS u(i)),
      f AS (SELECT g, count(*) AS df FROM g GROUP BY g)
      SELECT doc_id, count(*) AS n_grams,
        CAST(sum(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      FROM g JOIN f USING (g) GROUP BY doc_id ORDER BY doc_id""")),

    // Linear quality classifier in exact-integer logit space (quantized
    // fastText-shape inference): every feature and weight is an integer, so
    // thresholding the logit is thresholding the probability and the oracle
    // reproduces each score bit-for-bit. Zero-shuffle map-side scoring.
    ("t19_quality_classifier", (s: SparkSession, dir: String) => {
      rd(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityLogit(col("text")).as("logit"))
        .withColumn("keep", (col("logit") >= 0L).cast("long"))
        .orderBy("doc_id")
    }, Some {
      val stops = TextOps.stopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
      f AS (SELECT doc_id,
          least(len(t), 200) AS n_tok,
          len(list_distinct(t)) AS n_dis,
          len(list_filter(t, x -> list_contains($stops, x))) AS stop,
          len(list_filter(t, x -> regexp_matches(x, '^[0-9]+$$'))) AS digit
        FROM t)
      SELECT doc_id,
        CAST(n_tok * 25 + n_dis * 150 + stop * 200 - digit * 300 - 4000
          AS BIGINT) AS logit,
        CAST(CASE WHEN n_tok * 25 + n_dis * 150 + stop * 200 - digit * 300
          - 4000 >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM f ORDER BY doc_id"""
    }),

    // Fixed-SIZE deterministic sample (eval-set selection): the N docs with
    // the smallest (md5-bucket, id) rank — rate-based sampling (t08/t16)
    // yields a fixed RATE, this yields exactly N rows, reproducibly, via
    // TakeOrderedAndProject (per-partition top-N, then merge — no global
    // sort at scale).
    ("t20_fixed_sample", (s: SparkSession, dir: String) => {
      import graft.ops.Sampling
      rd(s, dir, "documents")
        .select(col("doc_id"),
          Sampling.hashBucket32(col("doc_id")).as("bucket"))
        .orderBy("bucket", "doc_id")
        .limit(100)
    }, Some {
      val bucket = (1 to 8).map { i =>
        val w = 1L << (4 * (8 - i))
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * $w"
      }.mkString(" + ")
      s"""
      WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
      SELECT doc_id, CAST($bucket AS BIGINT) AS bucket FROM h
      ORDER BY bucket, doc_id LIMIT 100"""
    }),

    // Corpus bigram-LM predictability — the integer core of the perplexity
    // filter (CCNet/RefinedWeb shape): pass 1 trains conditional bigram
    // probabilities in ppm over the corpus itself, pass 2 scores each doc
    // with its occurrence-weighted mean. All-integer, so the oracle replays
    // both passes exactly.
    ("t21_bigram_lm", (s: SparkSession, dir: String) => {
      TextOps.bigramLmScore(rd(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
             FROM toks, UNNEST(range(1, len(t))) AS u(i)),
      lm AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY bg),
      lm2 AS (SELECT bg, c_bg, split_part(bg, ' ', 1) AS w1 FROM lm),
      pre AS (SELECT w1, sum(c_bg) AS c_w1 FROM lm2 GROUP BY w1),
      p AS (SELECT bg, (c_bg * 1000000) // c_w1 AS p_ppm
            FROM lm2 JOIN pre USING (w1))
      SELECT doc_id, count(*) AS n_bigrams,
        CAST(sum(p_ppm) // count(*) AS BIGINT) AS avg_p_ppm
      FROM bg JOIN p USING (bg) GROUP BY doc_id ORDER BY doc_id""")),

    // The perplexity GATE on t21's LM scores — the CCNet/RefinedWeb step
    // that actually drops data: cut the least-predictable quarter at an
    // exact discrete quantile. The cutoff comes from a bounded histogram
    // (scores are ppm integers), never a global sort of the corpus; ties at
    // the cutoff drop together, so the rule is value-deterministic and the
    // oracle replays scores, histogram, and threshold bit-for-bit.
    ("t22_perplexity_filter", (s: SparkSession, dir: String) => {
      TextOps.bigramLmFilter(rd(s, dir, "documents"), "doc_id", "text",
          dropPct = 25)
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
             FROM toks, UNNEST(range(1, len(t))) AS u(i)),
      lm AS (SELECT bg, count(*) AS c_bg FROM bg GROUP BY bg),
      lm2 AS (SELECT bg, c_bg, split_part(bg, ' ', 1) AS w1 FROM lm),
      pre AS (SELECT w1, sum(c_bg) AS c_w1 FROM lm2 GROUP BY w1),
      p AS (SELECT bg, (c_bg * 1000000) // c_w1 AS p_ppm
            FROM lm2 JOIN pre USING (w1)),
      scored AS (SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(p_ppm) // count(*) AS BIGINT) AS avg_p_ppm
                 FROM bg JOIN p USING (bg) GROUP BY doc_id),
      hist AS (SELECT avg_p_ppm AS v, count(*) AS c FROM scored GROUP BY 1),
      cum AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                AS cum FROM hist),
      kv AS (SELECT count(*) * 25 // 100 AS k FROM scored),
      thr AS (SELECT min(v) AS t FROM cum, kv WHERE cum >= k)
      SELECT s.doc_id, CAST(s.n_bigrams AS BIGINT) AS n_bigrams, s.avg_p_ppm
      FROM scored s, thr WHERE s.avg_p_ppm > thr.t ORDER BY s.doc_id""")),

    // Count-min-sketch heavy hitters, oracle-pinned END TO END: the sketch
    // is depth×width cells regardless of corpus size (the fixed-memory
    // frequency structure a 100 TB token stream needs), the bucket hash is
    // the md5 low-12-bit chain DuckDB replays exactly, and the output pins
    // each top-20 token's exact count NEXT TO its CMS estimate, so a
    // bucket-assignment bug, a cell-count bug, or a broken no-underestimate
    // guarantee all hash-fail.
    //
    // WHICH SIDE RUNS AT 100 TB: only the sketch (Sketches.countMinSketch —
    // map-side partial aggregation to ≤ depth·width cells per task) plus a
    // broadcast probe of candidate tokens. The exact per-token groupBy
    // inside Sketches.heavyHitters is the vocabulary-sized VERIFICATION
    // harness this oracle row exists to exercise — a production pipeline
    // never runs it; candidates come from the sketch or a sampled pass.
    ("t23_heavy_hitters_cms", (s: SparkSession, dir: String) => {
      graft.ops.Sketches.heavyHitters(rd(s, dir, "documents"), "text",
          k = 20, depth = 3, width = 1024)
        .orderBy(desc("exact_cnt"), asc("tok"))
    }, Some {
      def bucket(seedTok: String): String = {
        def nib(i: Int) =
          s"(strpos('0123456789abcdef', substr(md5($seedTok), $i, 1)) - 1)"
        s"((${nib(30)} * 256 + ${nib(31)} * 16 + ${nib(32)}) % 1024)"
      }
      s"""
      WITH t AS (SELECT tok
                 FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
                       FROM documents)
                 WHERE length(tok) > 0),
      exact AS (SELECT tok, count(*) AS exact_cnt FROM t GROUP BY tok),
      top AS (SELECT tok, exact_cnt FROM exact
              ORDER BY exact_cnt DESC, tok LIMIT 20),
      seeds AS (SELECT unnest(range(0, 3)) AS seed),
      cells AS (SELECT seed, ${bucket("CAST(seed AS VARCHAR) || ':' || tok")} AS bucket,
                  count(*) AS cnt
                FROM t CROSS JOIN seeds GROUP BY 1, 2),
      probes AS (SELECT tok, exact_cnt, seed,
                   ${bucket("CAST(seed AS VARCHAR) || ':' || tok")} AS bucket
                 FROM top CROSS JOIN seeds),
      est AS (SELECT tok, exact_cnt, min(cnt) AS cms_est
              FROM probes JOIN cells USING (seed, bucket) GROUP BY 1, 2)
      SELECT tok, exact_cnt, cms_est,
        CAST(cms_est >= exact_cnt AS BIGINT) AS no_underestimate
      FROM est ORDER BY exact_cnt DESC, tok"""
    }),

    // The MERGEABLE distinct-count sketch (VERDICT r13 #7): t11 gates the
    // black-box approx_count_distinct; this row gates the explicit HLL
    // register table (Sketches.hllRegisters) whose cells DuckDB recomputes
    // nibble-for-nibble — register from 12 md5 bits mod 1024, rank = 49 −
    // MSB position of the next 48 bits via integer smear + bit_count, no
    // float anywhere. merge_ok pins in-data that two per-shard register tables
    // fold (cell-wise MAX) to EXACTLY the whole-corpus table — the
    // property that makes a distinct count a 100 TB structure (per-day
    // sketches → global count without re-reading). Estimate accuracy is
    // pinned in LayoutSpec (hllEstimate within 5% of exact).
    ("t24_hll_registers_merge", (s: SparkSession, dir: String) => {
      import graft.ops.Sketches
      val docs = rd(s, dir, "documents")
        .withColumn("fp", TextOps.fingerprint(col("text")))
      val whole = Sketches.hllRegisters(docs, "fp")
      val merged = Sketches.hllMerge(
        Sketches.hllRegisters(docs.filter(col("doc_id") % 2 === 0), "fp"),
        Sketches.hllRegisters(docs.filter(col("doc_id") % 2 =!= 0), "fp"))
      whole.as("w")
        .join(merged.as("m"), Seq("register"), "full_outer")
        .select(col("register"), col("w.rank").as("rank"),
          (col("w.rank") <=> col("m.rank")).cast("long").as("merge_ok"))
        .orderBy("register")
    }, Some {
      def nib(i: Int) =
        s"CAST(strpos('0123456789abcdef', substr(d, $i, 1)) - 1 AS BIGINT)"
      val w48 = (0 until 12)
        .map(j => s"${nib(4 + j)} * ${1L << (4 * (11 - j))}")
        .mkString("(", " + ", ")")
      s"""
      WITH f AS (SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
                 FROM documents),
      h AS (SELECT md5(fp) AS d FROM f),
      v AS (SELECT (${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)}) % 1024 AS register,
              $w48 AS w FROM h),
      s1 AS (SELECT register, (w | (w >> 1)) AS w FROM v),
      s2 AS (SELECT register, (w | (w >> 2)) AS w FROM s1),
      s4 AS (SELECT register, (w | (w >> 4)) AS w FROM s2),
      s8 AS (SELECT register, (w | (w >> 8)) AS w FROM s4),
      s16 AS (SELECT register, (w | (w >> 16)) AS w FROM s8),
      s32 AS (SELECT register, (w | (w >> 32)) AS w FROM s16),
      r AS (SELECT register, 49 - bit_count(w) AS rank FROM s32)
      SELECT register, CAST(MAX(rank) AS BIGINT) AS rank,
        CAST(1 AS BIGINT) AS merge_ok
      FROM r GROUP BY register ORDER BY register"""
    }),

    // The MERGEABLE quantile sketch (VERDICT r13 #7, t14's sibling): a
    // fixed-bin histogram over exact price cents — cells = (flag, bin,
    // cnt), bin = pc div 4096, merge = cell-wise SUM, so per-shard
    // histograms fold to EXACTLY the whole-corpus histogram (merge_ok pins
    // it in-data; LayoutSpec pins it as a property). The median read off
    // the MERGED histogram must land within one binWidth of the exact
    // interpolated median (approx_ok) — the a priori sketch bound, ~0.1%
    // at lineitem's price scale. domain/4096 cells regardless of rows.
    ("t25_histogram_quantile_merge", (s: SparkSession, dir: String) => {
      import graft.ops.Sketches
      val bw = 4096L
      val li = rd(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"),
          cents(col("l_extendedprice")).as("pc"))
      val whole = Sketches.histogram(li, col("pc"), bw, Seq("l_returnflag"))
      val merged = Sketches.histogramMerge(
        Sketches.histogram(li.filter(col("l_orderkey") % 2 === 0),
          col("pc"), bw, Seq("l_returnflag")),
        Sketches.histogram(li.filter(col("l_orderkey") % 2 =!= 0),
          col("pc"), bw, Seq("l_returnflag")))
      val mergeOk = whole.as("w")
        .join(merged.as("m"), Seq("bin", "l_returnflag"), "full_outer")
        .groupBy("l_returnflag")
        .agg(min((col("w.cnt") <=> col("m.cnt")).cast("long")).as("merge_ok"))
      val est = Sketches.histogramQuantile(merged, 0.5, bw, Seq("l_returnflag"))
      li.groupBy("l_returnflag")
        .agg(percentile(col("pc"), lit(0.5)).as("p50_exact"))
        .join(est, "l_returnflag").join(mergeOk, "l_returnflag")
        .select(col("l_returnflag"), col("p50_exact"),
          (abs(col("est") - col("p50_exact")) <= lit(bw.toDouble))
            .cast("long").as("approx_ok"),
          col("merge_ok"))
        .orderBy("l_returnflag")
    }, Some(s"""
      SELECT l_returnflag,
        quantile_cont(${centsSql("l_extendedprice")}, 0.5) AS p50_exact,
        CAST(1 AS BIGINT) AS approx_ok, CAST(1 AS BIGINT) AS merge_ok
      FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // The SET-OPERATION sketch (the family's remaining gap): HLL registers
    // fold to |A ∪ B| but cannot answer |A ∩ B|; the KMV/theta sketch — the
    // k smallest distinct 60-bit md5 hashes of the key set, built by the
    // bounded-buffer KmvAgg so nothing vocabulary-sized ever shuffles — is
    // the mergeable structure that does. One single-shuffle pass computes
    // the whole-corpus sketch AND both doc-parity shard sketches
    // (null-skipping conditional aggregates); merge_ok pins that the shard
    // sketches fold (k-min of the union) to EXACTLY the whole-corpus
    // sketch; est_ok/inter_ok gate the (k−1)/θ distinct estimate and the
    // θ∩ intersection estimate against exact references (k = 256 → σ ≈
    // 6.3% on the estimate; bounds are ~3σ). theta_k/sketch_min/
    // sketch_checksum pin the merged sketch's CONTENT — DuckDB recomputes
    // every retained hash nibble-for-nibble and replays the k-min cut.
    ("t26_kmv_theta", (s: SparkSession, dir: String) => {
      import graft.functions.KmvAgg.kmv_agg
      import graft.ops.Sketches
      val k = 256
      val sh = Dedup.shingleSet(rd(s, dir, "documents"), "doc_id", "text")
      val hashed = sh.select(col("doc_id"),
        Sketches.kmvHash(col("shingle")).as("h"))
      val sketches = hashed.agg(
        kmv_agg(col("h"), k).as("whole"),
        kmv_agg(when(col("doc_id") % 2 === 0, col("h")), k).as("ev"),
        kmv_agg(when(col("doc_id") % 2 =!= 0, col("h")), k).as("od"))
      // exact references: the verification harness (production reads only
      // the k-long sketches; this exact pass exists for the gate)
      val exact = sh.groupBy("shingle").agg(
          max((col("doc_id") % 2 === 0).cast("long")).as("in_ev"),
          max((col("doc_id") % 2 =!= 0).cast("long")).as("in_od"))
        .agg(count(lit(1)).as("n_exact"),
          sum(col("in_ev") * col("in_od")).as("inter_exact"))
      val merged = Sketches.kmvMergeArr(col("ev"), col("od"), k)
      // crossJoin of two LITERALLY one-row frames (aggregates without keys)
      sketches.crossJoin(exact)
        .select(
          col("n_exact"), col("inter_exact"),
          element_at(merged, size(merged)).as("theta_k"),
          element_at(merged, 1).as("sketch_min"),
          aggregate(merged, lit(0L),
            (acc, h) => acc + h % lit(1000000007L)).as("sketch_checksum"),
          (col("whole") === merged).cast("long").as("merge_ok"),
          (abs(Sketches.kmvEstimate(merged, k) - col("n_exact"))
            <= lit(0.20) * col("n_exact")).cast("long").as("est_ok"),
          (abs(Sketches.thetaIntersection(col("ev"), col("od"), k)
            - col("inter_exact"))
            <= lit(0.30) * col("inter_exact")).cast("long").as("inter_ok"))
    }, Some {
      def nib(i: Int) =
        s"CAST(strpos('0123456789abcdef', substr(d, $i, 1)) - 1 AS BIGINT)"
      val h60 = (1 to 15)
        .map(i => s"${nib(i)} * ${1L << (4 * (15 - i))}")
        .mkString("(", " + ", ")")
      s"""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t
                    FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      u AS (SELECT DISTINCT s FROM sh),
      hx AS (SELECT md5(s) AS d FROM u),
      hv AS (SELECT $h60 AS h FROM hx),
      sk AS (SELECT h FROM hv ORDER BY h LIMIT 256),
      fl AS (SELECT s, max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS in_ev,
                     max(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS in_od
             FROM sh GROUP BY s)
      SELECT (SELECT count(*) FROM u) AS n_exact,
        (SELECT CAST(sum(in_ev * in_od) AS BIGINT) FROM fl) AS inter_exact,
        (SELECT max(h) FROM sk) AS theta_k,
        (SELECT min(h) FROM sk) AS sketch_min,
        (SELECT CAST(sum(h % 1000000007) AS BIGINT) FROM sk) AS sketch_checksum,
        CAST(1 AS BIGINT) AS merge_ok,
        CAST(1 AS BIGINT) AS est_ok,
        CAST(1 AS BIGINT) AS inter_ok"""
    }),

    // The GROUPED form of the KMV sketch (t26 proves the global sketch;
    // this row proves the aggregate's partial/merge path under
    // hash-partitioned groups — the shape a per-domain curation signal
    // takes at 100 TB: vocabulary richness per source at k longs per
    // group, never the vocabulary itself). theta_k pins each group's
    // retained k-min cut against DuckDB's window replay; est_ok gates the
    // (k−1)/θ estimate per group at 25% (~4σ for k = 256 — measured max
    // across 20 sources × 3 SFs is 12.5%). The exact pass exists for the
    // gate; production reads only the 20 × k-long sketches.
    ("t27_kmv_grouped", (s: SparkSession, dir: String) => {
      import graft.functions.KmvAgg.kmv_agg
      import graft.ops.Sketches
      val k = 256
      // tokens materialized BEFORE the higher-order shingle transform
      // (capture discipline — an inlined tokens() re-splits per element;
      // measured 7× on this exact shape, see README/SCALING)
      val sh = rd(s, dir, "documents")
        .select(col("source"), TextOps.tokens(col("text")).as("_toks"))
        .select(col("source"),
          explode(array_distinct(TextOps.shingles(col("_toks"), 3))).as("shingle"))
      val hashed = sh.select(col("source"),
        Sketches.kmvHash(col("shingle")).as("h"))
      val skt = hashed.groupBy("source").agg(kmv_agg(col("h"), k).as("sk"))
      val exact = sh.groupBy("source")
        .agg(countDistinct("shingle").as("n_exact"))
      skt.join(exact, "source")
        .select(col("source"), col("n_exact"),
          element_at(col("sk"), size(col("sk"))).as("theta_k"),
          (abs(Sketches.kmvEstimate(col("sk"), k) - col("n_exact"))
            <= lit(0.25) * col("n_exact")).cast("long").as("est_ok"))
        .orderBy("source")
    }, Some {
      def nib(i: Int) =
        s"CAST(strpos('0123456789abcdef', substr(d, $i, 1)) - 1 AS BIGINT)"
      val h60 = (1 to 15)
        .map(i => s"${nib(i)} * ${1L << (4 * (15 - i))}")
        .mkString("(", " + ", ")")
      s"""
      WITH toks AS (SELECT source, string_split_regex(text, '\\s+') AS t
                    FROM documents),
      sh AS (SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      hv AS (SELECT source, $h60 AS h
             FROM (SELECT source, md5(s) AS d FROM sh)),
      rk AS (SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM hv),
      sk AS (SELECT source, max(h) AS theta_k FROM rk WHERE rn <= 256
             GROUP BY source),
      ex AS (SELECT source, count(*) AS n_exact FROM hv GROUP BY source)
      SELECT ex.source AS source, n_exact, theta_k,
        CAST(1 AS BIGINT) AS est_ok
      FROM ex JOIN sk USING (source) ORDER BY source"""
    }),

    // -------------------------------------------------------- multimodal
    ("m01_media_features", (s: SparkSession, dir: String) => {
      // REAL container decode (r5 verdict gap #1): every doc becomes a
      // genuine PNG (even ids) or JPEG (odd ids) byte stream — big-endian
      // IHDR/SOF0 dims, chunked layout, built from column expressions — and
      // the kernel parses signatures/chunks/markers like any binary ingest.
      // The oracle predicts every decoded field from doc_id arithmetic
      // alone, so construction and parse are independent code paths and the
      // old ASCII-only caveat is gone.
      val media = Multimodal.syntheticMediaTable(rd(s, dir, "documents"))
      Multimodal.extractFeatures(media, "doc_id", "payload")
        .toDF()
        .orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0 THEN 61 + doc_id % 13
             ELSE 21 + doc_id % 13 END AS n_bytes,
        16 + doc_id % 1024 AS width,
        16 + (doc_id * 7) % 768 AS height,
        (doc_id * 3) % 256 AS f0,
        (doc_id * 5) % 256 AS f1,
        (doc_id * 11) % 256 AS f2,
        (doc_id * 13) % 256 AS f3
      FROM documents ORDER BY doc_id""")),

    // Audio twin of m01: every doc becomes a genuine PCM WAV (little-endian
    // RIFF + fmt + data chunks built from expressions), decoded by the real
    // chunk-walking parser; rate/channels/depth/samples derive from doc_id
    // arithmetic so the oracle predicts the decode without touching bytes.
    ("m02_audio_features", (s: SparkSession, dir: String) => {
      Multimodal.extractAudioFeatures(
          Multimodal.syntheticAudioTable(rd(s, dir, "documents").select("doc_id")),
          "doc_id", "payload")
        .toDF().orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST(44 + ((10 + doc_id % 200) * (1 + doc_id % 2) *
          (CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END)) // 8 AS BIGINT) AS n_bytes,
        CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
        CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS BIGINT) AS bits,
        CAST(10 + doc_id % 200 AS BIGINT) AS n_samples,
        CAST(((10 + doc_id % 200) * 1000) // (8000 + (doc_id % 8) * 1000) AS BIGINT)
          AS duration_ms
      FROM documents ORDER BY doc_id""")),

    // Video twin: genuine MP4/ISO-BMFF box streams (ftyp + moov(mvhd, trak/
    // tkhd) + mdat, big-endian), decoded by the real nested box walk;
    // every field derives from doc_id arithmetic for the oracle.
    ("m03_video_features", (s: SparkSession, dir: String) => {
      Multimodal.extractVideoFeatures(
          Multimodal.syntheticVideoTable(rd(s, dir, "documents").select("doc_id")),
          "doc_id", "payload")
        .toDF().orderBy("doc_id")
    }, Some("""
      SELECT doc_id,
        CAST(240 + doc_id % 32 AS BIGINT) AS n_bytes,
        CAST(1000 + (doc_id % 10) * 100 AS BIGINT) AS timescale,
        CAST(500 + doc_id % 5000 AS BIGINT) AS duration,
        CAST(((500 + doc_id % 5000) * 1000) // (1000 + (doc_id % 10) * 100) AS BIGINT)
          AS duration_ms,
        CAST(320 + (doc_id % 16) * 8 AS BIGINT) AS width,
        CAST(240 + (doc_id % 9) * 8 AS BIGINT) AS height
      FROM documents ORDER BY doc_id""")),

    // ------------------------------------------------------ as-of join
    ("q26_asof_join", (s: SparkSession, dir: String) => {
      val events = rd(s, dir, "events")
      // dedup right side to unique (custkey, date) — same contract DuckDB
      // ASOF JOIN needs for determinism
      val orders = rd(s, dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(max(cents(col("o_totalprice"))).as("ocents"))
      AsofJoin.backward(events, orders,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = "ts", rightTime = "o_orderdate",
          rightCols = Seq("ocents"))
        .filter(col("asof_ocents").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("asof_ocents")).as("sum_cents"))
        .orderBy("event_type")
    }, Some(s"""
      WITH o AS (SELECT o_custkey, o_orderdate,
          MAX(${centsSql("o_totalprice")}) AS ocents
        FROM orders GROUP BY 1, 2)
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(ocents) AS BIGINT) AS sum_cents
      FROM events ASOF JOIN o
        ON events.user_id = o.o_custkey AND events.ts >= o.o_orderdate
      GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------------- bulk protection (bench)
    ("q27_bulk_protect_xor", (s: SparkSession, dir: String) => {
      val li = rd(s, dir, "lineitem")
      val enc = ProtectionPipeline.encrypt(li, Seq(
        ColumnPolicy("l_extendedprice", "bulk-x", PerValue, CryptoCodec.Xor),
        ColumnPolicy("l_returnflag", "bulk-x", PerValue, CryptoCodec.Xor)))
      val dec = ProtectionPipeline.decrypt(enc)
      dec.agg(count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice"))).as("price_cents"),
        min(col("l_returnflag")).as("min_flag"),
        max(col("l_returnflag")).as("max_flag"))
    }, Some(s"""
      SELECT COUNT(*) AS n,
        CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS price_cents,
        MIN(l_returnflag) AS min_flag, MAX(l_returnflag) AS max_flag
      FROM lineitem""")),

    // ------------------------------------------------------ sessionization
    ("q29_sessionize", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
      rd(s, dir, "events")
        .withColumn("tsu", unix_micros(col("ts")))
        .withColumn("gap", col("tsu") - lag(col("tsu"), 1).over(w))
        .withColumn("new_s",
          when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_id",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id")
        .agg(max(col("session_id")).as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }, Some("""
      WITH t AS (
        SELECT user_id, event_id, epoch_us(ts) AS tsu,
          epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      s AS (
        SELECT user_id, event_id,
          SUM(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY tsu, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM t)
      SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
        COUNT(*) AS n_events
      FROM s GROUP BY user_id ORDER BY user_id""")),

    ("q28_bulk_protect_aes", (s: SparkSession, dir: String) => {
      val li = rd(s, dir, "lineitem")
      val enc = ProtectionPipeline.encrypt(li, Seq(
        ColumnPolicy("l_extendedprice", "bulk-a", PerValue, CryptoCodec.AesDet),
        ColumnPolicy("l_returnflag", "bulk-a", PerValue, CryptoCodec.AesDet)))
      val dec = ProtectionPipeline.decrypt(enc)
      dec.agg(count(lit(1)).as("n"),
        sum(cents(col("l_extendedprice"))).as("price_cents"),
        min(col("l_returnflag")).as("min_flag"),
        max(col("l_returnflag")).as("max_flag"))
    }, Some(s"""
      SELECT COUNT(*) AS n,
        CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS price_cents,
        MIN(l_returnflag) AS min_flag, MAX(l_returnflag) AS max_flag
      FROM lineitem""")),

    // ------------------------------------------------------- streaming
    // The streaming surface's registry oracle row (VERDICT r12 #4 — every
    // other first-class family is DuckDB-gated; streaming was ScalaTest
    // only): the bounded-state streaming exact dedup
    // ([[graft.streaming.StreamOps.dedupDocumentStream]]: canonical-text
    // fingerprint → watermark → dropDuplicatesWithinWatermark) run as a
    // REAL stream — file source → stateful dedup → parquet sink under
    // `Trigger.AvailableNow` — then the SINK is oracle-checked against the
    // batch d01 semantics. The streaming contract is "exactly one survivor
    // per canonical-text group, WHICH member unspecified" (state insertion
    // order is task-scheduling-dependent), so the checked projection is
    // group-invariant: each group's fingerprint with its survivor count.
    // A leaked duplicate (n_out = 2), a dropped group, or a wrong
    // fingerprint all hash-fail against DuckDB's recompute.
    ("st01_stream_dedup", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
      val tmp = QueryUtil.scratchDir("graft_st01_")
      // event time synthesized deterministically from doc_id, wrapped at
      // one hour so every duplicate pair sits inside the 24 h state
      // horizon at ANY scale factor (the batch-equivalence condition;
      // production sets the horizon from its real ingest dedup window and
      // state stays bounded by it, not by stream length)
      // fixture stays single-file (r17 A/B): st04/st05/st10 spread their
      // fixtures because heavy per-row scan work serializes by file, but
      // st01's scan work is one md5 fingerprint (~220 ms serial here) —
      // the repartition(16) fixture measured WORSE (1.92/2.26 s vs
      // 1.59/1.77 s warm runs): the fixture-write shuffle costs more than
      // the spread saves. The multi-file move only pays when the fused
      // per-row chain dominates (st04's md5-chain simhash: 1478 ms).
      rd(s, dir, "documents")
        .withColumn("ts",
          timestamp_seconds(lit(1700000000L) + col("doc_id") % 3600))
        .write.mode("overwrite").parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType), StructField("ts", TimestampType))))
        .parquet(s"$tmp/src")
      // state width from state volume (fp rows ≤ input rows — footer count,
      // no Spark job); the trailing no-data micro-batch is skipped:
      // dropDuplicatesWithinWatermark emits survivors IN the data batch, so
      // that batch exists only to evict state the AvailableNow run is about
      // to discard (see runAtStateWidth's doc for when this is legal)
      graft.streaming.StreamOps.runAtStateWidth(s,
        expectedStateRows =
          graft.streaming.StreamOps.parquetRowCount(s, s"$tmp/src"),
        skipTrailingNoDataBatch = true)(
        graft.streaming.StreamOps.dedupDocumentStream(stream, "text", "ts", "24 hours")
        .writeStream.format("parquet")
        .option("path", s"$tmp/sink")
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(Trigger.AvailableNow())
        .start())
      s.read.parquet(s"$tmp/sink")
        .groupBy("fp").agg(count(lit(1)).as("n_out"))
        .orderBy("fp")
    }, Some("""
      SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        CAST(1 AS BIGINT) AS n_out
      FROM documents GROUP BY 1 ORDER BY fp""")),

    // Watermarked windowed aggregation + in-stream protection, oracle-
    // pinned INCLUDING the append-mode emission contract: a window emits
    // exactly when the final watermark (max event time − 2 h) passes its
    // end, so the oracle reproduces both the aggregate values (encrypt →
    // decrypt round trip is the identity on the payload) and the emitted
    // window SET. The source is written as ONE file so AvailableNow
    // processes one data micro-batch — no cross-batch late-arrival drops,
    // which would make the emitted set depend on file ordering. The
    // max(ts) of every testdata SF is not hour-aligned (checked), so no
    // window end sits exactly on the watermark boundary.
    ("st02_stream_windowed_agg", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = QueryUtil.scratchDir("graft_st02_")
      rd(s, dir, "events").coalesce(1).write.parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(graft.streaming.StreamOps.rawEventSchema).parquet(s"$tmp/src")
      // window-agg state rows ≤ input rows (loose; the true bound is
      // windows×types, unknowable pre-scan). The trailing no-data batch is
      // KEPT: append-mode windowed agg emits finalized windows in it.
      graft.streaming.StreamOps.runAtStateWidth(s,
        expectedStateRows =
          graft.streaming.StreamOps.parquetRowCount(s, s"$tmp/src"))(
        graft.streaming.StreamOps.hourlyProtectedAgg(stream)
        .writeStream.format("parquet")
        .option("path", s"$tmp/sink")
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(Trigger.AvailableNow())
        .start())
      s.read.parquet(s"$tmp/sink").orderBy("hour", "event_type")
    }, Some(s"""
      WITH agg AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
          date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
          event_type, COUNT(*) AS n,
          CAST(SUM(${centsSql("value")}) AS BIGINT) AS value_cents,
          CAST(SUM(length(props)) AS BIGINT) AS payload_chars
        FROM events GROUP BY 1, 2, 3)
      SELECT hour, event_type, n, value_cents, payload_chars
      FROM agg
      WHERE wend <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
      ORDER BY hour, event_type""")),

    // Streaming decontamination, oracle-pinned: the exact gram-hash
    // membership probe is a STATELESS projection (no join, no watermark,
    // no state), so the emitted set is deterministic regardless of
    // micro-batching — the formulation that survives an unbounded ingest.
    // Same contract and oracle shape as d10; the gram set is built once
    // from the static benchmark split (a batch job), the corpus side
    // arrives as a stream.
    ("st03_stream_decontaminate", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val docs = rd(s, dir, "documents")
      val probe = Decontamination.benchmarkProbe(docs, "doc_id", "text",
        col("doc_id") % 10 === 0, n = 8, ProbeKind.Exact)
      val tmp = QueryUtil.scratchDir("graft_st03_")
      docs.filter(col("doc_id") % 10 =!= 0).write.parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType))))
        .parquet(s"$tmp/src")
      // stateless projection: no state, no watermark — width floor suffices
      graft.streaming.StreamOps.runAtStateWidth(s)(
        Decontamination.decontaminateByProbe(stream, probe, "doc_id", "text",
          lit(false), n = 8)
        .writeStream.format("parquet")
        .option("path", s"$tmp/sink")
        .option("checkpointLocation", s"$tmp/chk")
        .trigger(Trigger.AvailableNow())
        .start())
      s.read.parquet(s"$tmp/sink")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }, Some("""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t
                    FROM documents),
      g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
      bench AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0),
      dirty AS (SELECT DISTINCT g.doc_id FROM g JOIN bench USING (s)
                WHERE g.doc_id % 10 <> 0)
      SELECT d.doc_id, d.lang FROM documents d
      WHERE d.doc_id % 10 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
      ORDER BY d.doc_id""")),

    // Streaming NEAR-dup dedup, oracle-pinned: the signature-equality form
    // (per-row SimHash → watermark-bounded dropDuplicatesWithinWatermark)
    // run as a real stream, with the md5-chain token hash so DuckDB
    // recomputes every 60-bit signature per-nibble (the d05 oracle chain).
    // Same group-invariant projection discipline as st01 — WHICH member of
    // a signature group survives is task-order-dependent, so the checked
    // output is each distinct signature with its survivor count: a leaked
    // near-dup (n_out = 2), a dropped group, or any bit-vote bug in the
    // per-row HOF signature (vs the batch aggregate the oracle was built
    // for) hash-fails. Event times sit inside one hour against a 24 h
    // horizon, so every signature group is within the state window at any
    // SF — the batch-equivalence condition.
    ("st04_stream_neardup", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
      val tmp = QueryUtil.scratchDir("graft_st04_")
      // multi-file fixture ON PURPOSE (st10's discipline, r17): the
      // per-row md5-chain SimHash fuses into the file-stream scan, which
      // parallelizes by FILE — the single-file form measured a 1478 ms
      // serial scan task, over half this query's wall. One AvailableNow
      // batch either way; the checked projection (signature, n_out) is
      // group-invariant, so arrival order across files cannot matter.
      rd(s, dir, "documents")
        .withColumn("ts",
          timestamp_seconds(lit(1700000000L) + col("doc_id") % 3600))
        .repartition(16)
        .write.mode("overwrite").parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType), StructField("ts", TimestampType))))
        .parquet(s"$tmp/src")
      // same width/no-data-batch discipline as st01 (signature dedup emits
      // survivors in the data batch; the trailing batch is pure eviction)
      graft.streaming.StreamOps.runAtStateWidth(s,
        expectedStateRows =
          graft.streaming.StreamOps.parquetRowCount(s, s"$tmp/src"),
        skipTrailingNoDataBatch = true)(
        graft.streaming.StreamOps.nearDupDedupDocumentStream(stream, "text",
            "ts", "24 hours", TokenHash.Md5)
          .writeStream.format("parquet")
          .option("path", s"$tmp/sink")
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(Trigger.AvailableNow())
          .start())
      s.read.parquet(s"$tmp/sink")
        .groupBy("simhash").agg(count(lit(1)).as("n_out"))
        .orderBy("simhash")
    }, Some(s"""$simhashMd5Cte
      SELECT DISTINCT simhash, CAST(1 AS BIGINT) AS n_out
      FROM sig ORDER BY simhash""")),

    // The streaming count-min sketch as its own oracle row: the ONE
    // stateful streaming aggregation whose full output is deterministic
    // under ANY micro-batching (cells are commutative sums — no watermark,
    // no order dependence, state bounded a priori at depth×width rows), so
    // unlike st01/st04 no group-invariant projection is needed: DuckDB
    // recomputes every cell exactly. Complete-mode memory sink; the batch
    // twin is t23's `cells` CTE.
    ("st05_stream_sketch", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val tmp = QueryUtil.scratchDir("graft_st05_")
      // multi-file fixture ON PURPOSE (st10's discipline, r17): a file-
      // stream scan parallelizes by file, and this stream's per-row work
      // (tokenize + explode + partial CMS agg) fuses into it — the
      // single-file form measured a 751 ms serial scan task that was the
      // wall's biggest piece. A real ingest is many files; CMS cells are
      // commutative sums, so the result is batching/order-free either way.
      rd(s, dir, "documents").repartition(16)
        .write.mode("overwrite").parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType),
          StructField("lang", StringType), StructField("source", StringType),
          StructField("n_chars", LongType))))
        .parquet(s"$tmp/src")
      // CMS state is bounded a priori at depth×width CELLS (the operator's
      // whole point) — the width derivation gets the exact bound
      graft.streaming.StreamOps.runAtStateWidth(s,
        expectedStateRows = 3L * 1024)(
        graft.streaming.StreamOps.sketchDocumentStream(stream, "text",
          depth = 3, width = 1024)
        .writeStream.outputMode("complete")
        .format("memory").queryName("st05_sketch_out")
        .trigger(Trigger.AvailableNow())
        .start())
      s.table("st05_sketch_out")
        .select(col("seed").cast("long").as("seed"), col("bucket"), col("cnt"))
        .orderBy("seed", "bucket")
    }, Some {
      def nib(i: Int) =
        s"(strpos('0123456789abcdef', substr(md5(CAST(seed AS VARCHAR) || ':' || tok), $i, 1)) - 1)"
      s"""
      WITH t AS (SELECT tok
                 FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
                       FROM documents)
                 WHERE length(tok) > 0),
      seeds AS (SELECT unnest(range(0, 3)) AS seed)
      SELECT seed, ((${nib(30)} * 256 + ${nib(31)} * 16 + ${nib(32)}) % 1024) AS bucket,
        count(*) AS cnt
      FROM t CROSS JOIN seeds
      GROUP BY 1, 2 ORDER BY seed, bucket"""
    }),

    // CUSTOM-STATE streaming (flatMapGroupsWithState) through the oracle
    // gate: gap-based sessionization whose state is (last event time,
    // session count, event count) per user — the KeyValueGroupedDataset
    // surface none of st01–st05 exercises. The source is written as ONE
    // file so AvailableNow processes one micro-batch (the operator sorts
    // events per key WITHIN a trigger; cross-batch arrival order is the
    // same hazard st02 pins away the same way), and the operator runs in
    // Append mode — file sinks reject update — so the appended rows ARE
    // the final per-user counters. The oracle is batch q29's
    // gaps-and-islands recompute verbatim: stream and batch sessionization
    // proven equal through DuckDB, not just through each other.
    ("st06_stream_sessionize", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.{OutputMode, Trigger}
      val tmp = QueryUtil.scratchDir("graft_st06_")
      rd(s, dir, "events").coalesce(1).write.parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(graft.streaming.StreamOps.rawEventSchema).parquet(s"$tmp/src")
      // session state is one row per user ≤ input rows (footer count); no
      // watermark → no trailing no-data batch exists to skip
      graft.streaming.StreamOps.runAtStateWidth(s,
        expectedStateRows =
          graft.streaming.StreamOps.parquetRowCount(s, s"$tmp/src"))(
        graft.streaming.StreamOps
          .sessionizeStream(stream, 30, OutputMode.Append())
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$tmp/sink")
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(Trigger.AvailableNow())
          .start())
      s.read.parquet(s"$tmp/sink").orderBy("user_id")
    }, Some("""
      WITH t AS (
        SELECT user_id, event_id, epoch_us(ts) AS tsu,
          epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w AS gap
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      s AS (
        SELECT user_id, event_id,
          SUM(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY tsu, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM t)
      SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
        COUNT(*) AS n_events
      FROM s GROUP BY user_id ORDER BY user_id""")),

    // STREAM-STREAM interval join through the oracle gate: for each
    // purchase, the same user's clicks in the preceding hour — both sides
    // watermarked so the join state is pruned once click time falls behind
    // (purchase watermark − 1 h); inner-join matches emit eagerly, so with
    // a single source micro-batch the sink holds exactly the batch join's
    // row set. The checked projection is per-purchase (click count + exact
    // epoch-micros checksum of the matched click times) — group-invariant
    // over emission order. DuckDB replays the interval join over the full
    // table.
    ("st07_stream_interval_join", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = QueryUtil.scratchDir("graft_st07_")
      rd(s, dir, "events").coalesce(1).write.parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(graft.streaming.StreamOps.rawEventSchema).parquet(s"$tmp/src")
      // join state ≤ both sides' rows within the horizon ≤ input rows; the
      // trailing no-data batch is skipped — INNER stream-stream matches
      // emit in the data batch, the trailing batch only prunes state
      graft.streaming.StreamOps.runAtStateWidth(s,
        expectedStateRows =
          graft.streaming.StreamOps.parquetRowCount(s, s"$tmp/src"),
        skipTrailingNoDataBatch = true)(
        graft.streaming.StreamOps.clickToPurchaseJoin(stream)
          .writeStream.format("parquet")
          .option("path", s"$tmp/sink")
          .option("checkpointLocation", s"$tmp/chk")
          .trigger(Trigger.AvailableNow())
          .start())
      s.read.parquet(s"$tmp/sink")
        .groupBy("p_id")
        .agg(count(lit(1)).as("n_clicks"),
          sum(unix_micros(col("c_ts"))).as("c_ts_us_sum"))
        .orderBy("p_id")
    }, Some("""
      SELECT p.event_id AS p_id, COUNT(*) AS n_clicks,
        CAST(SUM(epoch_us(c.ts)) AS BIGINT) AS c_ts_us_sum
      FROM events p JOIN events c
        ON p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      GROUP BY p.event_id ORDER BY p_id""")),

    // The streaming HLL register table (r15 — closes "all sketches, both
    // modes"): st05 proved the CMS deterministic under any micro-batching
    // because its cells are commutative sums; the HLL register table has
    // the same order-invariance with MAX (t24's batch row pins the merge),
    // so the streamed table must be cell-identical to the batch one —
    // DuckDB recomputes every (register, max rank) cell nibble-for-nibble.
    // State is bounded a priori at m = 1024 rows however long the stream
    // runs. Complete-mode memory sink, st05's shape.
    ("st08_stream_hll", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = QueryUtil.scratchDir("graft_st08_")
      rd(s, dir, "documents").write.mode("overwrite").parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(s.read.parquet(s"$tmp/src").schema).parquet(s"$tmp/src")
      // HLL state is bounded a priori at m = 1024 register rows
      graft.streaming.StreamOps.runAtStateWidth(s,
        expectedStateRows = 1024L)(
        graft.ops.Sketches.hllRegisters(
          stream.withColumn("fp", TextOps.fingerprint(col("text"))), "fp")
        .writeStream.outputMode("complete")
        .format("memory").queryName("st08_hll_out")
        .trigger(Trigger.AvailableNow())
        .start())
      s.table("st08_hll_out")
        .select(col("register"), col("rank"))
        .orderBy("register")
    }, Some {
      def nib(i: Int) =
        s"CAST(strpos('0123456789abcdef', substr(d, $i, 1)) - 1 AS BIGINT)"
      val w48 = (0 until 12)
        .map(j => s"${nib(4 + j)} * ${1L << (4 * (11 - j))}")
        .mkString("(", " + ", ")")
      s"""
      WITH f AS (SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
                 FROM documents),
      h AS (SELECT md5(fp) AS d FROM f),
      v AS (SELECT (${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)}) % 1024 AS register,
              $w48 AS w FROM h),
      s1 AS (SELECT register, (w | (w >> 1)) AS w FROM v),
      s2 AS (SELECT register, (w | (w >> 2)) AS w FROM s1),
      s4 AS (SELECT register, (w | (w >> 4)) AS w FROM s2),
      s8 AS (SELECT register, (w | (w >> 8)) AS w FROM s4),
      s16 AS (SELECT register, (w | (w >> 16)) AS w FROM s8),
      s32 AS (SELECT register, (w | (w >> 32)) AS w FROM s16),
      r AS (SELECT register, 49 - bit_count(w) AS rank FROM s32)
      SELECT register, CAST(MAX(rank) AS BIGINT) AS rank
      FROM r GROUP BY register ORDER BY register"""
    }),

    // The streaming fixed-bin histogram (t25's stream mode — with st08 this
    // closes the "every sketch family proven in both batch and streaming
    // modes" claim): cells are plain per-(flag, bin) sums, deterministic
    // under any micro-batching, state bounded a priori at domain/binWidth
    // rows per group. DuckDB recomputes the full cell table exactly.
    ("st09_stream_histogram", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = QueryUtil.scratchDir("graft_st09_")
      rd(s, dir, "lineitem")
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("pc"))
        .write.mode("overwrite").parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(s.read.parquet(s"$tmp/src").schema).parquet(s"$tmp/src")
      // histogram state rows ≤ input rows (true bound: bins×groups, data-
      // dependent; the loose bound still clamps to the floor locally)
      graft.streaming.StreamOps.runAtStateWidth(s,
        expectedStateRows =
          graft.streaming.StreamOps.parquetRowCount(s, s"$tmp/src"))(
        graft.ops.Sketches.histogram(
          stream, col("pc"), 4096L, Seq("l_returnflag"))
        .writeStream.outputMode("complete")
        .format("memory").queryName("st09_hist_out")
        .trigger(Trigger.AvailableNow())
        .start())
      s.table("st09_hist_out")
        .select(col("l_returnflag"), col("bin"), col("cnt"))
        .orderBy("l_returnflag", "bin")
    }, Some(s"""
      SELECT l_returnflag,
        CAST((${centsSql("l_extendedprice")}) // 4096 AS BIGINT) AS bin,
        COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, bin""")),

    // The streaming KMV/theta sketch (t26's stream mode — with st05/st08/
    // st09 this keeps "every sketch family proven in both batch and
    // streaming modes" true as the family grows): state is the single
    // ≤ 256-long KmvAgg buffer however long the stream runs, and the
    // sketch is ORDER-FREE (k smallest distinct of a union), so the
    // streamed array is value-identical to the batch one under any
    // micro-batching — DuckDB recomputes every retained hash and replays
    // the k-min cut. Complete-mode memory sink, st08's shape; the sink
    // holds one array row, exploded to (rank, h) in the batch read-back.
    ("st10_stream_kmv", (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = QueryUtil.scratchDir("graft_st10_")
      // the fixture write is multi-file ON PURPOSE: a file-stream scan
      // parallelizes by file/split, and this stream's per-row work
      // (shingle explode + md5 per shingle) is the heavy stage — a
      // single-file fixture measured a 10.3 s straggler task that WAS the
      // wall at sf0.1. A real ingest is many files; the partial KMV
      // buffers keep the post-scan exchange at ≤ 16·k longs regardless.
      rd(s, dir, "documents").repartition(16)
        .write.mode("overwrite").parquet(s"$tmp/src")
      val stream = s.readStream
        .schema(s.read.parquet(s"$tmp/src").schema).parquet(s"$tmp/src")
      val hashed = stream
        .select(TextOps.tokens(col("text")).as("_toks"))
        .select(explode(array_distinct(
          TextOps.shingles(col("_toks"), 3))).as("shingle"))
        .select(graft.ops.Sketches.kmvHash(col("shingle")).as("h"))
      // KMV state is ONE ≤ k-long buffer row however long the stream runs
      graft.streaming.StreamOps.runAtStateWidth(s, expectedStateRows = 256L)(
        hashed.agg(graft.functions.KmvAgg.kmv_agg(col("h"), 256).as("sketch"))
          .writeStream.outputMode("complete")
          .format("memory").queryName("st10_kmv_out")
          .trigger(Trigger.AvailableNow())
          .start())
      s.table("st10_kmv_out")
        .select(posexplode(col("sketch")))
        .select((col("pos") + 1).cast("long").as("rank"), col("col").as("h"))
        .orderBy("rank")
    }, Some {
      def nib(i: Int) =
        s"CAST(strpos('0123456789abcdef', substr(d, $i, 1)) - 1 AS BIGINT)"
      val h60 = (1 to 15)
        .map(i => s"${nib(i)} * ${1L << (4 * (15 - i))}")
        .mkString("(", " + ", ")")
      s"""
      WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t
                    FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, UNNEST(range(1, len(t)-1)) AS u(i)),
      u AS (SELECT DISTINCT s FROM sh),
      hx AS (SELECT md5(s) AS d FROM u),
      hv AS (SELECT $h60 AS h FROM hx),
      sk AS (SELECT h FROM hv ORDER BY h LIMIT 256)
      SELECT CAST(row_number() OVER (ORDER BY h) AS BIGINT) AS rank, h
      FROM sk ORDER BY rank"""
    })
  )
}
