package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** The plan-constant benchmark gram-hash set an [[AnyGramIn]] probe tests
  * each gram's xxhash64 against, for benchmark decontamination.
  *
  * [[GramProbe.ExactSet]] fits whenever the benchmark's set fits the
  * broadcast budget: exact, and as small as any bloom Spark offers. Why not
  * Spark's own bloom pair (`BloomFilterAggregate` / `BloomFilterMightContain`,
  * the runtime-row-filter machinery)? Its double-hashing scheme has a
  * MEASURED false-positive floor:
  * sized for a 1e-9 target (43 bits/item) it still returns ~6.4e-6 (320 FPs
  * in 5e7 random probes), so on a ~4e4-probe demo corpus it over-dropped one
  * clean document per run — and no bit budget fixes a floor. At 64
  * bits/gram a SORTED xxhash64 ARRAY is the same size as that bloom and
  * exact: membership misfires only on a 64-bit hash collision (~1e-11 even
  * at 10⁶ benchmark × 10¹⁰ corpus grams), so the membership formulation
  * stays result-identical to the exact gram join — which is what the d10
  * oracle asserts.
  *
  * [[GramProbe.Bloom]] fits when the exact set outgrows the broadcast budget
  * (a union of many eval suites — 1e9 grams = 8 GB/task): at ~10 bits/key
  * it is 6× smaller and has NO false negatives, so bloom-hit ∧ exact-verify
  * ≡ exact — the caller verifies its hits, and only the ~fpp fraction of
  * clean docs plus the true hits ever reach the verify join (d24).
  */
sealed trait GramProbe extends Serializable {
  /** True when membership misfires only on a 64-bit hash collision. An
    * inexact probe has false positives but no false negatives, so a caller
    * that must be exact verifies its hits.
    */
  def exact: Boolean

  /** The probe expression's SQL name, as plans print it. */
  def sqlName: String

  def contains(h: Long): Boolean
}

object GramProbe {
  /** Sorted 64-bit gram hashes, probed by a log₂(n) binary search: 64 bits
    * per gram.
    */
  final class ExactSet(hashes: Array[Long]) extends GramProbe {
    private[this] val sorted = hashes.clone()
    java.util.Arrays.sort(sorted)
    def exact: Boolean = true
    def sqlName: String = "any_gram_in_set"
    def contains(h: Long): Boolean = java.util.Arrays.binarySearch(sorted, h) >= 0
  }

  /** A bloom over 64-bit gram hashes, ~`bitsPerKey` bits per gram in 64-bit
    * `words`, with k = round(bitsPerKey·ln2) double-hashed bits per key.
    */
  final class Bloom(hashes: Array[Long], bitsPerKey: Int) extends GramProbe {
    require(bitsPerKey >= 2 && bitsPerKey <= 64,
      s"bitsPerKey out of range: $bitsPerKey")
    private[this] val k = math.max(1, math.round(bitsPerKey * math.log(2)).toInt)
    private[graft] val words = new Array[Long](
      math.max(1, ((math.max(hashes.length, 1).toLong * bitsPerKey + 63) / 64)
        .min(Int.MaxValue / 8).toInt))
    hashes.foreach { h =>
      val m = words.length.toLong * 64
      var h1 = h
      val h2 = mix64(h) | 1L
      var i = 0
      while (i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1, m)
        words((bit >>> 6).toInt) |= 1L << (bit & 63)
        h1 += h2
        i += 1
      }
    }

    def exact: Boolean = false
    def sqlName: String = "any_gram_in_bloom"

    def contains(h: Long): Boolean = {
      val m = words.length.toLong * 64
      var h1 = h
      val h2 = mix64(h) | 1L
      var i = 0
      while (i < k) {
        val bit = java.lang.Long.remainderUnsigned(h1, m)
        if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0) return false
        h1 += h2
        i += 1
      }
      true
    }
  }

  /** splitmix64 finalizer — decorrelates the double-hashing step from the
    * base hash (the measured FP floor of Spark's sketch bloom comes from a
    * correlated h2; exactness here never depends on it, the verify join
    * does, but an honest fpp keeps the verify side small).
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

object MembershipFunctions {

  /** Predicate column: any word-`n`-gram of the token ARRAY is in `probe`.
    * The whole probe — gram assembly, xxhash64, membership test — is one
    * native expression over the token array, evaluated in a tight early-exit
    * loop. The composed-Column formulation
    * (`exists(shingles(toks), g => <probe contains xxhash64(g)>)`)
    * is semantically identical but catastrophically slower: higher-order
    * functions are CodegenFallback (interpreted), and predicate pushdown
    * inlines the tokenizing `split` into the shingle lambda, re-running the
    * regex once per element access — measured 16 s vs sub-second at sf0.1.
    */
  def any_gram_in(probe: GramProbe, toks: Column, n: Int): Column =
    ColumnShim.column(AnyGramIn(ColumnShim.expression(toks), n, probe))

  /** True iff any `n`-token window of `toks`, joined by single spaces
    * (`concat_ws` semantics: null elements skipped), xxhash64-hashes (seed
    * 42 — the `xxhash64` SQL function's seed) into `probe`. Bit-compatible
    * with the composed-Column formulation by construction; the OpsSpec
    * equivalence test and the d10 oracle both assert it.
    */
  def anyGramIn(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int, probe: GramProbe): Boolean = {
    val m = toks.numElements()
    if (m < n) return false
    val tb = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      tb(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    var buf = new Array[Byte](256)
    var start = 0
    while (start <= m - n) {
      var len = 0
      var first = true
      var j = 0
      while (j < n) {
        val t = tb(start + j)
        if (t != null) {
          val need = len + t.length + 1
          if (need > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
          if (!first) { buf(len) = ' '.toByte; len += 1 }
          System.arraycopy(t, 0, buf, len, t.length)
          len += t.length
          first = false
        }
        j += 1
      }
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      if (probe.contains(h)) return true
      start += 1
    }
    false
  }
}

/** `probe.sqlName`(tokens) — `any_gram_in_set` or `any_gram_in_bloom` in
  * plans: true iff any word-`n`-gram of the token array is a member of the
  * plan-constant [[GramProbe]]. The hot loop lives in
  * [[MembershipFunctions.anyGramIn]] (JIT-compiled Scala), entered once per
  * row from whole-stage codegen — one call per ROW, not per gram.
  */
case class AnyGramIn(child: Expression, n: Int, probe: GramProbe)
    extends UnaryExpression {
  require(n >= 1, s"gram length must be >= 1, got $n")
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = probe.sqlName

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.catalogString}")
  }

  override def nullSafeEval(toks: Any): Any =
    MembershipFunctions.anyGramIn(
      toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n, probe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fns = MembershipFunctions.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val p = ctx.addReferenceObj("gramProbe", probe, classOf[GramProbe].getName)
    nullSafeCodeGen(ctx, ev, toks =>
      s"${ev.value} = $fns.anyGramIn($toks, $n, $p);")
  }

  override protected def withNewChildInternal(newChild: Expression): AnyGramIn =
    copy(child = newChild)
}
