package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.GraftSession

/** Scaling rehearsal for the curation chain (VERDICT r4 #7): synthesize a
  * 10× documents table from sf0.1 with CONTROLLED perturbations, run the
  * expensive dedup/clustering queries at 1× and 10×, and report wall times,
  * scaling exponents, and per-task maxima (the early-warning signal for a
  * windowed-stars-class hot partition: a 10× corpus must not produce a 10×
  * max task).
  *
  * Perturbation design — each source doc yields 10 docs with known cluster
  * structure, so correctness is eyeballable while the volume scales:
  *  - copy 0: the original text;
  *  - copies 1–4: first token replaced with a copy marker — a ~1-token edit
  *    keeps shingle-Jaccard ≥ 0.8 for normal-length docs, forming one
  *    near-dup cluster {orig, p1..p4};
  *  - copies 5–9: token order reversed + marker — disjoint shingles from
  *    the original, but identical to each other, forming a second cluster
  *    {q5..q9}.
  *
  * Usage: `sbt 'runMain graft.ScalingRehearsal [sfDir] [workDir]'` — writes
  * the 10× table under workDir and prints a markdown table for SCALING.md.
  */
object ScalingRehearsal {

  def synthesize10x(spark: SparkSession, sfDir: String, outDir: String): Long =
    synthesizeScaled(spark, sfDir, outDir, 10)

  /** Synthesized corpora are deterministic functions of (sfDir, factor), so
    * a completed write is reusable across runs and retries (VERDICT r9 #2:
    * persist the synth corpus so a retried 100× run doesn't re-pay
    * synthesis). A marker file records the completed (table, factor,
    * source) triple; synthesis is skipped when it matches. Spark's own
    * _SUCCESS isn't enough — it can't tell a 10× write from a 100× write
    * into the same workDir. The marker also folds in a scheme-version
    * constant and the SOURCE row count (ADVICE r10): changing the
    * perturbation scheme or regenerating the source parquet at the same
    * path both invalidate reuse instead of silently serving stale data.
    */
  private val SynthSchemeVersion = 2

  private def synthMarker(outDir: String, table: String, sfDir: String,
      factor: Int, srcRows: Long): java.nio.file.Path =
    java.nio.file.Paths.get(outDir,
      s"_graft_synth_${table}_${factor}x_v${SynthSchemeVersion}_r${srcRows}_" +
        Integer.toHexString(sfDir.hashCode))

  private def reuseOrSynth(spark: SparkSession, outDir: String, table: String,
      sfDir: String, factor: Int, srcTable: String = null)(synth: => Unit): Long = {
    val srcRows = spark.read
      .parquet(s"$sfDir/${Option(srcTable).getOrElse(table)}.parquet").count()
    val m = synthMarker(outDir, table, sfDir, factor, srcRows)
    if (!java.nio.file.Files.exists(m)) {
      synth
      java.nio.file.Files.createDirectories(m.getParent)
      // a synth OVERWRITES the table, so any marker for the same table from
      // a different (source, factor) is now a lie — delete them all before
      // stamping ours (observed: an sf0.001 smoke's marker survived an
      // sf0.1 overwrite, and a later sf0.001 run would have "reused"
      // sf0.1-based data)
      val dir = m.getParent.toFile
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"_graft_synth_${table}_"))
        .foreach(_.delete())
      java.nio.file.Files.write(m, Array.empty[Byte])
    }
    spark.read.parquet(s"$outDir/$table.parquet").count()
  }

  /** Factor-N documents corpus (N a multiple of 10). Copies group into
    * shards of 10: within a shard the perturbation scheme is exactly the
    * classic 10× one (copy 0 intact, 1-4 one-token edits, 5-9 reversed);
    * shards beyond the first suffix EVERY token with `#<shard>`, making
    * their shingle space disjoint from every other shard. A 100× corpus is
    * therefore corpus GROWTH at constant near-dup density — 10 disjoint
    * replicas of the 10× cluster structure — not density growth (without
    * the shard split, 100 copies of each doc would form ~50-member
    * clusters and the pair output would grow quadratically, a different
    * and unrepresentative workload).
    */
  def synthesizeScaled(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int): Long = {
    require(factor >= 10 && factor % 10 == 0,
      s"factor must be a positive multiple of 10, got $factor")
    reuseOrSynth(spark, outDir, "documents", sfDir, factor) {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // id offset > max(doc_id), not a fixed constant: a corpus with ids ≥ the
    // constant would collide copies and silently corrupt the planted
    // cluster structure the correctness eyeball relies on
    val idOffset = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    val base = col("copy") % 10
    val shard = floor(col("copy") / 10).cast("long")
    val rawToks = split(col("text"), "\\s+")
    val toks = when(shard === 0, rawToks)
      .otherwise(transform(rawToks, t => concat(t, lit("#"), shard)))
    val perturbed = docs
      .crossJoin(spark.range(factor).toDF("copy"))
      .withColumn("text",
        when(col("copy") === 0, col("text"))
          .when(base === 0, concat_ws(" ", toks))
          .when(base <= 4,
            concat_ws(" ",
              concat(lit("p"), col("copy"), lit("_"), col("doc_id")),
              concat_ws(" ", slice(toks, 2, 1000000))))
          .otherwise(
            concat_ws(" ",
              concat(lit("q"), col("copy")),
              concat_ws(" ", reverse(toks)))))
      .withColumn("doc_id", col("doc_id") + col("copy") * idOffset)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    perturbed.repartition(32 * (factor / 10)).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    }
  }

  /** 10× embeddings for the s-section rehearsal (VERDICT r5 #7): each vector
    * yields 10 copies, vec_id offset by max(vec_id)+1 per copy (same
    * collision-proof scheme as the documents table), embedding nudged by a
    * small copy-dependent per-dimension delta so copies land in nearby but
    * not identical LSH buckets — the worst case for candidate-set blowup.
    */
  def synthesize10xEmbeddings(spark: SparkSession, sfDir: String, outDir: String): Long =
    synthesizeScaledEmbeddings(spark, sfDir, outDir, 10)

  /** Factor-N embeddings (N a multiple of 10), same shard scheme as the
    * documents table: copies within a shard get the classic small
    * copy-dependent nudge (nearby-but-distinct LSH buckets — worst case for
    * candidate blowup); shards beyond the first flip the sign of ~1/3 of
    * the dimensions under a deterministic per-(base vector, shard) pattern
    * (`xxhash64(vec_id, shard, dim) % 3 == 0`), dropping cross-shard cosine
    * well below any near-dup threshold while keeping every norm — so a
    * 100× corpus carries 10-member planted clusters, not 100-member ones.
    * The flip pattern keys on the ORIGINAL vec_id (applied before the id
    * offset), so all copies of a base vector within one shard share it.
    */
  def synthesizeScaledEmbeddings(spark: SparkSession, sfDir: String,
      outDir: String, factor: Int): Long = {
    require(factor >= 10 && factor % 10 == 0,
      s"factor must be a positive multiple of 10, got $factor")
    reuseOrSynth(spark, outDir, "embeddings", sfDir, factor) {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idOffset = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val base = (col("copy") % 10).cast("double")
    val shard = floor(col("copy") / 10).cast("long")
    val perturbed = emb
      .crossJoin(spark.range(factor).toDF("copy"))
      .withColumn("embedding",
        transform(col("embedding"), (x, i) => {
          val nudged = x.cast("double") + base * lit(0.003) *
            ((i % 5).cast("double") - lit(2.0))
          val flip = shard > 0 &&
            pmod(xxhash64(col("vec_id"), shard, i), lit(3)) === 0
          when(flip, -nudged).otherwise(nudged).cast("float")
        }))
      .withColumn("vec_id", col("vec_id") + col("copy") * idOffset)
      .select("vec_id", "embedding", "label")
    perturbed.repartition(32 * (factor / 10)).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    }
  }

  /** Factor-N per-value protection corpus (VERDICT r11 #3 — the crypto hot
    * path had no scale row): every whitespace token of the factor-N
    * documents corpus as one string value (~27.5 M values at 100×), the
    * "values file" a bulk per-value encrypt job would actually stream.
    * Derived from the SCALED documents table, so it must be synthesized
    * after [[synthesizeScaled]]; the reuse marker keys on the 1× documents
    * row count like every other synth.
    */
  def synthesizeScaledValues(spark: SparkSession, sfDir: String,
      outDir: String, factor: Int): Long =
    reuseOrSynth(spark, outDir, "values", sfDir, factor, srcTable = "documents") {
      spark.read.parquet(s"$outDir/documents.parquet")
        .select(explode(split(col("text"), "\\s+")).as("v"))
        .filter(length(col("v")) > 0)
        .repartition(math.max(1, 32 * factor / 10))
        .write.mode("overwrite").parquet(s"$outDir/values.parquet")
    }

  /** 10× lineitem projection for the graph-section rehearsal: 10 DISJOINT
    * copies of the co-purchase graph (both orderkey and partkey offset per
    * copy), so node count and edge count scale 10× at constant density —
    * the corpus-growth regime, with per-copy triangle/rank structure
    * identical to 1× for an eyeball check. The orderkey offset is rounded
    * to a multiple of 20 so each copy keeps exactly the same
    * `l_orderkey % 20 = 0` subsample the graph queries select.
    */
  def synthesize10xLineitem(spark: SparkSession, sfDir: String, outDir: String): Long =
    synthesizeScaledLineitem(spark, sfDir, outDir, 10)

  /** Factor-N lineitem projection, same disjoint-copy scheme as the 10×
    * form (both keys offset per copy; orderkey offset rounded to a
    * multiple of 20 so every copy keeps the graph queries' `% 20 = 0`
    * subsample): node and edge count scale N× at constant density.
    */
  def synthesizeScaledLineitem(spark: SparkSession, sfDir: String,
      outDir: String, factor: Int): Long =
    reuseOrSynth(spark, outDir, "lineitem", sfDir, factor) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      val okOff = (li.agg(max(col("l_orderkey"))).head.getLong(0) / 20L + 1L) * 20L
      val pkOff = li.agg(max(col("l_partkey"))).head.getLong(0) + 1L
      li.crossJoin(spark.range(factor).toDF("copy"))
        .select((col("l_orderkey") + col("copy") * okOff).as("l_orderkey"),
          (col("l_partkey") + col("copy") * pkOff).as("l_partkey"))
        .repartition(math.max(32, 32 * factor / 10)).write.mode("overwrite")
        .parquet(s"$outDir/lineitem.parquet")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_scale10x")
    val spark = GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val telemetry = QueryTelemetry.attach(spark.sparkContext)

    val n10 = synthesize10x(spark, sfDir, workDir)
    val e10 = synthesize10xEmbeddings(spark, sfDir, workDir)
    val l10 = synthesize10xLineitem(spark, sfDir, workDir)
    println(s"synthesized 10x tables: $n10 docs, $e10 vectors, $l10 lineitems at $workDir")

    val targets = Seq("d03_minhash_lsh", "d06_neardup_clusters", "d07_curation_pipeline",
      "d10_decontamination_hashset", "d14_semdedup", "d16_edit_neardup",
      "d17_edit_neardup_lsh", "s02_ann_hyperplane", "s04_ann_ivf",
      "s09_kmeans", "g01_pagerank", "g02_triangles")
    val queries = SparkEntry.queries

    def timed(name: String, dir: String): (Double, Long, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val rows = telemetry.tagged(name)(queries(name)(spark, dir).count())
      val sec = (System.nanoTime() - t0) / 1e9
      telemetry.drain()
      val w = telemetry.take(name)
      (sec, rows, w.maxInputBytes, w.maxShuffleReadBytes, w.maxTaskMs)
    }

    println("| query | 1x sec | 10x sec | exponent | 1x rows | 10x rows | " +
      "10x max task input | 10x max task shuffle read | 10x max task ms |")
    println("|---|---|---|---|---|---|---|---|---|")
    targets.foreach { q =>
      // warm once at 1x so codegen/class-load doesn't pollute the 1x number
      timed(q, sfDir)
      val (t1, r1, _, _, _) = timed(q, sfDir)
      val (t10, r10, in10, sh10, ms10) = timed(q, workDir)
      val exponent = math.log(t10 / t1) / math.log(10.0)
      println(f"| $q | $t1%.1f | $t10%.1f | $exponent%.2f | $r1 | $r10 | " +
        f"${in10 / 1048576.0}%.1f MiB | ${sh10 / 1048576.0}%.1f MiB | $ms10 ms |")
    }
    spark.stop()
  }
}
