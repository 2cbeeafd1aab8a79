package graft.core

import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.unsafe.types.UTF8String

/** Little-endian value ⇄ bytes serialization — the analog of the reference's
  * LE scalar codecs (`/root/reference/src/common/bytes_utils.h:35-206`, T13 in
  * SURVEY.md §2.2) and typed-buffer codecs (`typed_buffer_codecs.h`).
  *
  * Operates on *Catalyst internal* values (UTF8String for strings, Int for
  * dates, Long micros for timestamps) so expressions can call it from both the
  * interpreted and codegen paths without row conversion.
  *
  * Fixed-width types report `Some(width)` from [[ValueSerde.fixedWidth]] —
  * the per-value wire format distinguishes fixed vs variable exactly like the
  * reference (`encryptor_utils.h:29-45`).
  */
object ValueSerde {

  /** Fixed byte width per type, None for variable-size types. */
  def fixedWidth(dt: DataType): Option[Int] = dt match {
    case BooleanType               => Some(1)
    case ByteType                  => Some(1)
    case ShortType                 => Some(2)
    case IntegerType | DateType    => Some(4)
    case FloatType                 => Some(4)
    case LongType | TimestampType | TimestampNTZType => Some(8)
    case DoubleType                => Some(8)
    case StringType | BinaryType   => None
    case _: DecimalType            => None
    case other =>
      throw new GraftInvalidInputException(s"unsupported type for protection: $other")
  }

  def supports(dt: DataType): Boolean =
    try { fixedWidth(dt); true } catch { case _: GraftInvalidInputException => false }

  /** The low `n` bytes of `v`, little-endian. */
  private def le(v: Long, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) {
      b(i) = (v >>> (8 * i)).toByte
      i += 1
    }
    b
  }

  /** Little-endian `b(0 until b.length)` → its value in the low bytes. */
  private def fromLe(b: Array[Byte]): Long = {
    var v = 0L
    var i = b.length - 1
    while (i >= 0) {
      v = (v << 8) | (b(i) & 0xffL)
      i -= 1
    }
    v
  }

  /** Catalyst internal value → bytes. Null must be handled by the caller
    * (reference encrypts only *present* values; nulls ride the levels —
    * SURVEY.md §1.3).
    */
  def serialize(dt: DataType, v: Any): Array[Byte] = dt match {
    case BooleanType => Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0)
    case ByteType    => Array(v.asInstanceOf[Byte])
    case ShortType   => le(v.asInstanceOf[Short], 2)
    case IntegerType | DateType => le(v.asInstanceOf[Int], 4)
    case FloatType   => le(java.lang.Float.floatToRawIntBits(v.asInstanceOf[Float]), 4)
    case LongType | TimestampType | TimestampNTZType => le(v.asInstanceOf[Long], 8)
    case DoubleType  => le(java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]), 8)
    // the backing array itself when it holds exactly the string: codecs
    // only read their plaintext (CryptoCodec.encryptInto)
    case StringType  => v.asInstanceOf[UTF8String].getBytes
    case BinaryType  => v.asInstanceOf[Array[Byte]]
    case dt: DecimalType =>
      // unscaled big-endian two's-complement bytes (BigInteger canonical form);
      // scale is part of the declared type, so it round-trips via the schema.
      v.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .toJavaBigDecimal.unscaledValue().toByteArray
    case other =>
      throw new GraftInvalidInputException(s"unsupported type for protection: $other")
  }

  /** Bytes → Catalyst internal value; strict length validation for fixed types. */
  def deserialize(dt: DataType, b: Array[Byte]): Any = deserialize(dt, b, fixedWidth(dt))

  /** [[deserialize]] with `width == fixedWidth(dt)` already known, so a
    * per-cell caller does not look it up (and allocate it) per value.
    */
  private[core] def deserialize(dt: DataType, b: Array[Byte], width: Option[Int]): Any = {
    width match {
      case Some(w) if b.length != w =>
        throw new GraftInvalidInputException(
          s"decrypted payload for $dt has ${b.length} bytes, expected $w")
      case _ =>
    }
    dt match {
      case BooleanType => b(0) != 0
      case ByteType    => b(0)
      case ShortType   => fromLe(b).toShort
      case IntegerType | DateType => fromLe(b).toInt
      case FloatType   => java.lang.Float.intBitsToFloat(fromLe(b).toInt)
      case LongType | TimestampType | TimestampNTZType => fromLe(b)
      case DoubleType  => java.lang.Double.longBitsToDouble(fromLe(b))
      case StringType  => UTF8String.fromBytes(b)
      case BinaryType  => b
      case dt: DecimalType =>
        // decrypted bytes are untrusted: an empty or over-long unscaled value
        // would otherwise fail inside BigInteger / Decimal with untyped errors
        if (b.isEmpty)
          throw new GraftInvalidInputException(s"decrypted payload for $dt is empty")
        val d = new java.math.BigDecimal(new java.math.BigInteger(b), dt.scale)
        if (d.precision > dt.precision)
          throw new GraftInvalidInputException(
            s"decrypted value for $dt has ${d.precision} digits")
        org.apache.spark.sql.types.Decimal(d, dt.precision, dt.scale)
      case other =>
        throw new GraftInvalidInputException(s"unsupported type for protection: $other")
    }
  }
}
