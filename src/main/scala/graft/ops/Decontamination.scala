package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GraftUnsupportedException
import graft.functions.{GramProbe, MembershipFunctions}

/** Benchmark decontamination — the training-data pipeline stage that removes
  * corpus documents overlapping an evaluation set, by long word-n-gram
  * collision (the standard n-gram screen described in public LLM training
  * reports, e.g. GPT-3 §C / PaLM / Llama dataset cards: a document is
  * contaminated when it shares at least one n-gram with the benchmark).
  *
  * Scale shape (100 TB discipline): the benchmark side is SMALL by
  * definition (eval sets are thousands of docs, the corpus is billions), so
  * its distinct n-gram set is broadcast — the corpus side streams through a
  * broadcast-hash semi-join keyed on the n-gram with NO shuffle of corpus
  * data at all; output is per-doc hit counts, aggregated map-side.
  *
  * Two formulations: the gram join ([[decontaminate]], d09) and the
  * membership probe ([[decontaminateByProbe]]: d10, d18 and st03 with the
  * exact set, d24 with a bloom pre-screen), which is a pure filter on the
  * corpus side.
  */
object Decontamination {

  /** Distinct word n-grams of `textCol` per document, via
    * [[Dedup.shingleSet]] (tokens materialized before the HOF — the lambda
    * capture rule, see SPARK pitfalls note).
    */
  private def grams(df: DataFrame, idCol: String, textCol: String, n: Int) =
    Dedup.shingleSet(df, idCol, textCol, n)

  /** Per-document contamination hits: corpus docs (those NOT matching
    * `benchmarkPred`) that share ≥1 word-`n`-gram with any benchmark doc
    * (those matching it). Returns (idCol, n_hits) with n_hits = number of
    * DISTINCT shared n-grams, only for contaminated docs.
    *
    * @param benchmarkPred picks the benchmark/eval rows out of `df`
    * @param n             n-gram length; long enough that chance collisions
    *                      are negligible (8+ for natural text)
    */
  def contaminationHits(df: DataFrame, idCol: String, textCol: String,
      benchmarkPred: Column, n: Int = 8): DataFrame = {
    // NULL-pred rows (e.g. a null key column) count as corpus, not benchmark:
    // filter(p)/filter(!p) would silently drop them from BOTH sides.
    val pred = coalesce(benchmarkPred, lit(false))
    val benchGrams = grams(df.filter(pred), idCol, textCol, n)
      .select(col("shingle")).distinct()
    val corpusGrams = grams(df.filter(!pred), idCol, textCol, n)
    corpusGrams
      .join(broadcast(benchGrams), "shingle")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits")) // grams are distinct per doc already
  }

  /** The removal filter a pipeline composes: `df` minus contaminated docs.
    * Hits are removed by a left-anti join on `idCol`, so `idCol` must be a
    * unique, non-NULL document id: a contaminated document with a NULL id
    * fails the query with an error naming `idCol` (a clean one is kept).
    */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
      benchmarkPred: Column, n: Int = 8): DataFrame =
    df.filter(!coalesce(benchmarkPred, lit(false)))
      .join(contaminationHits(df, idCol, textCol, benchmarkPred, n)
        .select(nonNullId(idCol)), Seq(idCol), "left_anti")

  /** `idCol` of a contaminated row, or a query error naming it when NULL:
    * an anti join on NULL matches nothing and would keep the document. The
    * check is nondeterministic (`spark_partition_id`) so that filters the
    * optimizer infers from the anti join stay above it: pushed below the
    * hit join, they would run the check, error included, on clean rows.
    */
  private def nonNullId(idCol: String): Column =
    when(col(idCol).isNull && spark_partition_id() >= 0, raise_error(lit(
      s"decontamination: a contaminated document has a NULL $idCol; hits " +
        s"are removed by $idCol, which must be a unique, non-NULL id")))
      .otherwise(col(idCol)).as(idCol)

  /** Which [[GramProbe]] [[benchmarkProbe]] builds. */
  sealed trait ProbeKind

  object ProbeKind {
    /** [[GramProbe.ExactSet]]: 64 bits per gram, up to 2^24 grams. */
    case object Exact extends ProbeKind

    /** [[GramProbe.Bloom]] at ~`bitsPerKey` bits per gram, up to 2^27 grams
      * — a higher cap than the exact set's precisely because smaller-per-key
      * is the point.
      */
    final case class Bloom(bitsPerKey: Int) extends ProbeKind
  }

  /** The benchmark split's distinct gram xxhash64es as a `kind` probe — the
    * plan-constant behind [[decontaminateByProbe]]. The eval side is SMALL
    * by definition (same argument as the broadcast in
    * [[contaminationHits]]), so collecting its distinct hashes is bounded;
    * `maxGrams` (default: the kind's cap) makes an oversized benchmark loud
    * instead of a silent driver OOM. ONE job: collect limited at
    * maxGrams+1, so the bound needs no separate count() pass re-shingling
    * the whole eval split.
    */
  def benchmarkProbe(df: DataFrame, idCol: String, textCol: String,
      benchmarkPred: Column, n: Int, kind: ProbeKind,
      maxGrams: Option[Long] = None): GramProbe = {
    val (kindCap, costNote) = kind match {
      case ProbeKind.Exact => (1L << 24, "8 bytes per gram")
      case ProbeKind.Bloom(bitsPerKey) => (1L << 27, s"$bitsPerKey bits per gram")
    }
    val cap = maxGrams.getOrElse(kindCap)
    val pred = coalesce(benchmarkPred, lit(false))
    val collected = grams(df.filter(pred), idCol, textCol, n)
      .select(xxhash64(col("shingle")).as("h")).distinct()
      .limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
    require(collected.length <= cap,
      s"benchmark gram set exceeds $cap distinct grams: " +
        "this side must stay eval-suite-sized; raise maxGrams only with " +
        s"driver/task memory to hold $costNote")
    val hashes = collected.map(_.getLong(0))
    kind match {
      case ProbeKind.Exact => new GramProbe.ExactSet(hashes)
      case ProbeKind.Bloom(bitsPerKey) => new GramProbe.Bloom(hashes, bitsPerKey)
    }
  }

  /** `df` minus the benchmark split (`benchmarkPred`) and minus every
    * corpus doc sharing an n-gram with it, by membership probe.
    *
    * The probe is ONE native expression over the token array
    * ([[graft.functions.AnyGramIn]]): gram assembly (concat_ws-" "
    * semantics), xxhash64 (seed 42) and the membership test in a tight
    * early-exit loop. Gram construction matches [[Dedup.shingleSet]]
    * bit-for-bit, so results equal [[decontaminate]] — the d10 and d24
    * oracles and the OpsSpec equivalence tests assert exactly that.
    *
    * An exact probe is the whole filter: no join, no shuffle, no state, so
    * the same predicate runs on an unbounded STREAM (st03) and drops
    * contaminated docs in flight. It reads no id.
    *
    * An inexact probe (bloom) is a pre-screen: corpus docs whose grams all
    * miss it are provably clean (no false negatives) and never touch a
    * join; the suspicious remainder — true hits plus the ~fpp sliver of
    * bloom false positives — is verified EXACTLY against the broadcast
    * benchmark gram table, so the expensive exact machinery re-shingles
    * only `fpp·corpus + contaminated` docs. Confirmed hits are removed by a
    * left-anti join on `idCol`, which must then be a unique, non-NULL id (a
    * contaminated document with a NULL id fails the query, as in
    * [[decontaminate]]), and the input must be a batch: over a stream the
    * verify would be a stream-stream anti join.
    */
  def decontaminateByProbe(df: DataFrame, probe: GramProbe, idCol: String,
      textCol: String, benchmarkPred: Column, n: Int = 8): DataFrame = {
    if (df.isStreaming && !probe.exact)
      throw new GraftUnsupportedException(s"decontaminateByProbe: a " +
        s"${probe.sqlName} probe is inexact, and verifying its hits over a " +
        "streaming input would be a stream-stream anti join; stream with " +
        "an exact probe (ProbeKind.Exact)")
    val pred = coalesce(benchmarkPred, lit(false))
    // the probe is per-row heavy (re-shingle + membership test per gram) and
    // fuses into the scan stage — spread a near-singleton split count first
    // (no-op on streams and many-file tables; see TextOps.spreadCompute)
    val corpus = TextOps.spreadCompute(df).filter(!pred)
    val hit = MembershipFunctions.any_gram_in(probe, TextOps.tokens(col(textCol)), n)
    if (probe.exact) corpus.filter(!hit)
    else {
      val benchGrams = grams(df.filter(pred), idCol, textCol, n)
        .select(col("shingle")).distinct()
      val confirmed = grams(corpus.filter(hit), idCol, textCol, n)
        .join(broadcast(benchGrams), "shingle")
        .select(nonNullId(idCol)).distinct()
      corpus.join(confirmed, Seq(idCol), "left_anti")
    }
  }
}
