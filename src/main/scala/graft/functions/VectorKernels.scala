package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Native vector kernels for the similarity operators.
  *
  * The composable `aggregate(zip_with(...))` formulation allocates a lambda
  * frame per element; over all-pairs similarity that is the entire runtime
  * (30s → ~2s at sf0.1). These expressions run the inner product as a tight
  * `long[]` loop inside whole-stage codegen — the same "keep the hot loop
  * allocation-free" discipline the reference applies to its encrypt loops
  * (`basic_xor_encryptor.cpp:32-46`).
  */
object VectorKernels {
  /** Exact integer dot product over ArrayData (no boxing, no copies).
    * Ragged inputs are a data error, not a truncation case.
    */
  def dotQ(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new graft.core.GraftInvalidInputException(
        s"dot_q dimension mismatch: $n vs ${b.numElements()}")
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** splitmix64 finalizer with per-function seed (wrapping arithmetic). */
  def mix64(h0: Long, seed: Long): Long = {
    var h = h0 ^ seed
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Sign-LSH bucket over an embedding: bit p of the result is the sign of
    * the projection onto deterministic ±1 hyperplane (offset + p), each
    * weight derived per (plane, dim) from [[mix64]] — bit-identical to the
    * historical literal-array `aggregate(zip_with(...))` formulation (same
    * weights, same left-to-right FP summation order), but with NO weight
    * literals in the plan: 48-table × 4-plane bucketing used to ship ~12k
    * literal doubles and a 1.8 MiB task binary, and allocated a lambda frame
    * per element.
    */
  def hyperplaneSig(a: ArrayData, offset: Int, planes: Int, fromFloat: Boolean): Long = {
    val n = a.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val seed = (p + offset).toLong * 0x9e37L
      var proj = 0.0
      var d = 0
      while (d < n) {
        val x = if (fromFloat) a.getFloat(d).toDouble else a.getDouble(d)
        val w = if ((mix64(d.toLong, seed) & 1L) == 0L) 1.0 else -1.0
        proj += x * w
        d += 1
      }
      if (proj >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  /** 32-bit murmur3 finalizer (public fmix32 constants) computed with a
    * SPLIT multiply: every intermediate stays < 2^48, so the byte-identical
    * formula replays in DuckDB BIGINT — unlike [[mix64]], whose 64-bit
    * wrapping multiplies overflow any SQL integer type. This is what makes
    * the exact hyperplane chain ([[hyperplaneSigExact]]) oracle-able.
    */
  def fmix32(h0: Long): Long = {
    def mul32(h: Long, a: Long): Long =
      ((h % 65536L) * a + (((h / 65536L) * a) % 65536L) * 65536L) % 4294967296L
    // mask, don't mod: Scala % truncates toward zero, so a negative h0
    // (e.g. a raw 64-bit hash) would feed the chain a negative residue and
    // produce non-oracle-replayable buckets (ADVICE r10)
    var h = h0 & 0xffffffffL
    h ^= h / 65536L
    h = mul32(h, 2246822507L)
    h ^= h / 8192L
    h = mul32(h, 3266489909L)
    h ^ (h / 65536L)
  }

  /** Exact-integer sign-LSH bucket over a QUANTIZED (array<bigint>) vector:
    * the ±1 weight for (global plane pg, dim d) is the parity of
    * `fmix32(pg·1048573 + d + 1)`, and the projection is a pure BIGINT sum
    * — zero floating point anywhere in the bucketing chain, so plane
    * derivation, bucket assignment and multiprobe all replay bit-for-bit
    * in DuckDB (the s02 oracle). Weight quality matches true-random signs
    * (max pairwise plane correlation at 48 planes × 64 dims: 0.41 vs 0.38
    * for seeded `java.util.Random`).
    */
  def hyperplaneSigExact(a: ArrayData, offset: Int, planes: Int): Long = {
    val n = a.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val pg = (p + offset).toLong
      var proj = 0L
      var d = 0
      while (d < n) {
        val v = a.getLong(d)
        proj += (if (fmix32(pg * 1048573L + d + 1L) % 2L == 0L) v else -v)
        d += 1
      }
      if (proj >= 0L) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  /** Index of the max-cosine centroid for `qv` — the kernel form of the
    * n×k broadcast-join + `max(struct(ccos, cid))` assignment shape used by
    * annIvf/semDedup/kmeans (one output row per vector instead of n×k join
    * rows; at SemDeDup's k = 50k the join form materializes 50 000 rows per
    * vector before the partial-agg argmax).
    *
    * Bit-identical to the join form: ccos = dot / (sqrt(nrm)·sqrt(cn)) with
    * the same Math.sqrt/IEEE-divide sequence, and ties (including the
    * all-NaN zero-vector case) resolve to the HIGHEST index exactly as
    * `max(struct(ccos, cid))` resolves to the highest cid — callers pass
    * centroids sorted ascending by cid. NaN ordering follows Spark's double
    * ordering (NaN greatest, NaN == NaN) via Double.compare.
    */
  def argmaxCos(qv: ArrayData, cents: Array[Array[Long]], sqrtCn: Array[Double]): Int = {
    val n = qv.numElements()
    var nrm = 0L
    var i = 0
    while (i < n) { val v = qv.getLong(i); nrm += v * v; i += 1 }
    val sqrtNrm = math.sqrt(nrm.toDouble)
    var best = -1
    var bestCos = 0.0
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      if (cv.length != n)
        throw new graft.core.GraftInvalidInputException(
          s"argmax_cos_centroid dimension mismatch: $n vs ${cv.length}")
      var dot = 0L
      var d = 0
      while (d < n) { dot += qv.getLong(d) * cv(d); d += 1 }
      val cos = dot.toDouble / (sqrtNrm * sqrtCn(c))
      // tie → later (higher) index, mirroring max(struct(ccos, cid));
      // cos == bestCos handles ±0.0 like Spark (equal), Double.compare
      // handles NaN (greatest, equal to itself)
      if (best < 0 ||
          (if (cos == bestCos) 0 else java.lang.Double.compare(cos, bestCos)) >= 0) {
        best = c; bestCos = cos
      }
      c += 1
    }
    best
  }

  /** Index of the min-squared-L2 centroid for `qv` in exact long arithmetic
    * (|q−c|² = q·q − 2 q·c + c·c) — the kernel form of nearestCentroid's
    * broadcast-join + `min(struct(dist, clabel))`. Ties resolve to the
    * LOWEST index, matching min-struct with labels sorted ascending.
    */
  def argminL2(qv: ArrayData, cents: Array[Array[Long]], cn: Array[Long]): Int = {
    val n = qv.numElements()
    var qq = 0L
    var i = 0
    while (i < n) { val v = qv.getLong(i); qq += v * v; i += 1 }
    var best = -1
    var bestDist = 0L
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      if (cv.length != n)
        throw new graft.core.GraftInvalidInputException(
          s"argmin_l2_centroid dimension mismatch: $n vs ${cv.length}")
      var dot = 0L
      var d = 0
      while (d < n) { dot += qv.getLong(d) * cv(d); d += 1 }
      val dist = qq - 2L * dot + cn(c)
      if (best < 0 || dist < bestDist) { best = c; bestDist = dist }
      c += 1
    }
    best
  }

  /** Quantize float/double array → fixed-point longs, matching Spark's
    * `round` semantics exactly (BigDecimal HALF_UP on the shortest decimal
    * representation) so results stay oracle-identical.
    */
  def quantize(a: ArrayData, scale: Int, fromFloat: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new graft.core.GraftInvalidInputException(
          s"quantize_vec: null element at index $i (embedding vectors must be dense)")
      val d = if (fromFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = java.math.BigDecimal.valueOf(d * scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** dot_q(array<long>, array<long>) → long — exact fixed-point dot product. */
case class DotProductQ(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_q"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"dot_q expects two ARRAY<BIGINT>, got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = VectorKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $kernels.dotQ($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductQ =
    copy(left = newLeft, right = newRight)
}

/** quantize_vec(array<float|double>) → array<long> fixed-point. */
case class QuantizeVec(child: Expression, scale: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quantize_vec"

  private def fromFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quantize_vec expects ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.quantize(a.asInstanceOf[ArrayData], scale, fromFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = VectorKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $kernels.quantize($a, $scale, $fromFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

/** mix64(h, seed) — splitmix64-style finalizer over a 64-bit hash. Exists as
  * a native expression because wrapping multiplication is intentional here
  * and ANSI mode (Spark 4 default) rejects overflowing `*` on longs.
  */
case class Mix64(child: Expression, seed: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mix64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"mix64 expects BIGINT, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    VectorKernels.mix64(v.asInstanceOf[Long], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = VectorKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $kernels.mix64($c, ${seed}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Mix64 =
    copy(child = newChild)
}

/** hyperplane_sig(array<float|double>, offset, planes) → bigint bucket. */
case class HyperplaneSig(child: Expression, offset: Int, planes: Int)
    extends UnaryExpression {
  require(planes >= 1 && planes <= 62, s"planes out of range: $planes")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sig"

  private def fromFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.hyperplaneSig(a.asInstanceOf[ArrayData], offset, planes, fromFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = VectorKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $kernels.hyperplaneSig($a, $offset, $planes, $fromFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** hyperplane_sig_exact(array<bigint>, offset, planes) → bigint bucket —
  * the SQL-replayable integer twin of [[HyperplaneSig]] (fmix32-parity ±1
  * weights over a quantized vector; see [[VectorKernels.hyperplaneSigExact]]).
  */
case class HyperplaneSigExact(child: Expression, offset: Int, planes: Int)
    extends UnaryExpression {
  require(offset >= 0, s"offset must be >= 0: $offset")
  require(planes >= 1 && planes <= 62, s"planes out of range: $planes")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sig_exact"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig_exact expects ARRAY<BIGINT>, got ${other.catalogString}")
  }

  override def nullSafeEval(a: Any): Any =
    VectorKernels.hyperplaneSigExact(a.asInstanceOf[ArrayData], offset, planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = VectorKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $kernels.hyperplaneSigExact($a, $offset, $planes);")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExact =
    copy(child = newChild)
}

/** Shared shape of the centroid-assignment kernels: left = quantized vector
  * (array<bigint>), right = FOLDABLE centroid matrix (array<array<bigint>>,
  * rows sorted ascending by the caller's centroid id). The matrix and its
  * per-centroid norms are extracted ONCE per task from the literal (lazily,
  * on both driver and executors) so the per-row loop touches only
  * `long[][]` — no ArrayData re-walks, no join rows.
  */
abstract class CentroidAssignExpr extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _)) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName centroid matrix must be foldable (a literal)")
        else TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<BIGINT>, ARRAY<ARRAY<BIGINT>>), got $other")
    }

  @transient protected final lazy val matrix: Array[Array[Long]] = {
    val ad = right.eval(null).asInstanceOf[ArrayData]
    require(ad != null && ad.numElements() > 0,
      s"$prettyName centroid matrix is null/empty")
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toLongArray())
  }
}

/** argmax_cos_centroid(qv, cents) → int index of the nearest-by-cosine
  * centroid (ties → highest index; see [[VectorKernels.argmaxCos]]).
  */
case class ArgmaxCosCentroid(left: Expression, right: Expression)
    extends CentroidAssignExpr {
  override def prettyName: String = "argmax_cos_centroid"

  @transient private lazy val sqrtCn: Array[Double] =
    matrix.map(cv => math.sqrt(VectorKernels.dotQ(
      new GenericArrayData(cv), new GenericArrayData(cv)).toDouble))

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.argmaxCos(a.asInstanceOf[ArrayData], matrix, sqrtCn)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = VectorKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val m = ctx.addReferenceObj("centMatrix", matrix, "long[][]")
    val s = ctx.addReferenceObj("centSqrtCn", sqrtCn, "double[]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = $kernels.argmaxCos($a, $m, $s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgmaxCosCentroid =
    copy(left = newLeft, right = newRight)
}

/** argmin_l2_centroid(qv, cents) → int index of the nearest-by-L2 centroid
  * (exact long arithmetic; ties → lowest index; see [[VectorKernels.argminL2]]).
  */
case class ArgminL2Centroid(left: Expression, right: Expression)
    extends CentroidAssignExpr {
  override def prettyName: String = "argmin_l2_centroid"

  @transient private lazy val cn: Array[Long] =
    matrix.map(cv => VectorKernels.dotQ(
      new GenericArrayData(cv), new GenericArrayData(cv)))

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.argminL2(a.asInstanceOf[ArrayData], matrix, cn)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernels = VectorKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val m = ctx.addReferenceObj("centMatrix", matrix, "long[][]")
    val n = ctx.addReferenceObj("centCn", cn, "long[]")
    nullSafeCodeGen(ctx, ev, (a, _) =>
      s"${ev.value} = $kernels.argminL2($a, $m, $n);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgminL2Centroid =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  def mix64(c: Column, seed: Long): Column =
    ColumnShim.column(Mix64(ColumnShim.expression(c), seed))
  def hyperplane_sig(c: Column, offset: Int, planes: Int): Column =
    ColumnShim.column(HyperplaneSig(ColumnShim.expression(c), offset, planes))
  def hyperplane_sig_exact(c: Column, offset: Int, planes: Int): Column =
    ColumnShim.column(HyperplaneSigExact(ColumnShim.expression(c), offset, planes))
  def dot_q(a: Column, b: Column): Column =
    ColumnShim.column(DotProductQ(ColumnShim.expression(a), ColumnShim.expression(b)))
  def quantize_vec(c: Column, scale: Int = 10000): Column =
    ColumnShim.column(QuantizeVec(ColumnShim.expression(c), scale))
  /** `cents` rows must be sorted ascending by the caller's centroid id. */
  def argmax_cos_centroid(v: Column, cents: Seq[Seq[Long]]): Column =
    ColumnShim.column(ArgmaxCosCentroid(ColumnShim.expression(v),
      ColumnShim.expression(org.apache.spark.sql.functions.typedlit(cents))))
  def argmin_l2_centroid(v: Column, cents: Seq[Seq[Long]]): Column =
    ColumnShim.column(ArgminL2Centroid(ColumnShim.expression(v),
      ColumnShim.expression(org.apache.spark.sql.functions.typedlit(cents))))

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
  import org.apache.spark.sql.types.{IntegerType, LongType}

  private def litInt(e: Expression, what: String, default: => Int): Int =
    e match {
      case Literal(i: Int, IntegerType) => i
      case Literal(l: Long, LongType) => l.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }

  /** SQL surface for the native kernels — mirrors `protect.register`:
    *  - `graft_quantize_vec(arr[, scale])`   float array → fixed-point longs
    *  - `graft_dot_q(a, b)`                  exact integer dot product
    *  - `graft_mix64(h, seed)`               64-bit finalizer mix
    *  - `graft_hyperplane_sig(qv, off, planes)`  sign-LSH bucket
    *  - `graft_rolling_hash(text)`           base-257 rolling fingerprint
    *  - `graft_simhash(hash)` (aggregate)    64-bit SimHash (60/63 live bits under md5/fmix)
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_quantize_vec", { args =>
      QuantizeVec(args.head,
        if (args.size > 1) litInt(args(1), "scale", 10000) else 10000)
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_dot_q",
      args => DotProductQ(args.head, args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_mix64", { args =>
      args(1) match {
        case Literal(l: Long, LongType) => Mix64(args.head, l)
        case Literal(i: Int, IntegerType) => Mix64(args.head, i.toLong)
        case other => throw new IllegalArgumentException(
          s"seed must be an integer literal, got $other")
      }
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_hyperplane_sig", { args =>
      HyperplaneSig(args.head, litInt(args(1), "offset", 0),
        litInt(args(2), "planes", 6))
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_hyperplane_sig_exact", { args =>
      HyperplaneSigExact(args.head, litInt(args(1), "offset", 0),
        litInt(args(2), "planes", 6))
    }, "scala_udf")
    reg.createOrReplaceTempFunction("graft_argmax_cos_centroid",
      args => ArgmaxCosCentroid(args.head, args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_argmin_l2_centroid",
      args => ArgminL2Centroid(args.head, args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_rolling_hash",
      args => RollingHash64(args.head), "scala_udf")
    // returning the AggregateFunction directly: the analyzer wraps it into
    // an AggregateExpression, so `SELECT graft_simhash(h) ... GROUP BY` works
    reg.createOrReplaceTempFunction("graft_simhash",
      args => SimHashAgg(args.head), "scala_udf")
  }
}
