package graft.core

import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

/** Per-column encryption context — the analog of the reference's encryptor
  * constructor context (`/root/reference/src/processing/encryptors/dbps_encryptor.h:54-64`):
  * key_id, column_name, user_id, application_context.
  */
final case class ProtectionContext(
    keyId: String,
    columnName: String,
    userId: String = "",
    appContext: String = "") {
  /** Stable seed material mixing the full context. */
  def seedString: String = Seq(keyId, columnName, userId, appContext).mkString(":")
}

/** The engine's pluggable cipher — analog of the reference `DBPSEncryptor`
  * interface (`dbps_encryptor.h:42-118`). Block-level only; per-value framing
  * lives in [[WireFormat]] so every codec gets it for free.
  */
trait CryptoCodec extends Serializable {
  def name: String
  /** Deterministic codecs keep equality: c(x)==c(y) iff x==y. Catalyst may
    * then fold/reuse these expressions and ciphertext equality joins work.
    */
  def deterministic: Boolean
  def encrypt(data: Array[Byte]): Array[Byte]
  def decrypt(data: Array[Byte]): Array[Byte]
}

/** XOR-parity codec reproducing the reference `BasicXorEncryptor` keystream
  * (`basic_xor_encryptor.cpp:32-72`): dst[i] = src[i] ^ (h & 0xFF);
  * h = (h<<1)|(h>>>31); keystream restarts per call. Symmetric.
  * NOT secure — exists for wire-format parity + canonical-ciphertext tests,
  * exactly like the reference's "basic" encryptor is a stand-in.
  */
final case class XorCodec(ctx: ProtectionContext) extends CryptoCodec {
  private[core] val seed: Long = StableHash.fnv1a64(ctx.seedString)
  override def name: String = CryptoCodec.Xor
  override def deterministic: Boolean = true
  override def encrypt(data: Array[Byte]): Array[Byte] = StableHash.xorKeystream(seed, data)
  override def decrypt(data: Array[Byte]): Array[Byte] = StableHash.xorKeystream(seed, data)
}

/** Real cipher: AES-256-CTR + HMAC-SHA256, SIV-style (RFC 5297 shape with
  * HMAC as the PRF).
  *
  * Layout:
  *  - deterministic=true  → `[16-byte tag][CTR ciphertext]` where
  *    tag = HMAC(ivKey, plaintext)[0..16) doubles as the CTR IV. Same
  *    plaintext ⇒ same ciphertext, so ciphertext-equality joins/groupBys
  *    work (leaks equality — the policy opts in, per SURVEY.md §7.4), and
  *    decrypt re-derives the tag for authentication.
  *  - deterministic=false → `[16-byte IV][16-byte tag][CTR ciphertext]` with
  *    random IV and tag = HMAC(ivKey, IV ‖ ct)[0..16); semantically secure,
  *    expressions carrying it are marked non-deterministic for Catalyst.
  *
  * Why CTR+HMAC instead of AES-GCM: deterministic (SIV) IVs with a *reused*
  * Cipher instance trip SunJCE's GCM IV-reuse guard, and per-value
  * `Cipher.getInstance` costs more than the encryption itself (~20×
  * throughput loss measured at sf0.1). CTR has no reuse guard; primitives
  * are cached per thread.
  *
  * Keys are derived from the protection context via SHA-256 — a stand-in KMS,
  * mirroring how the reference derives everything from `key_id`
  * (`basic_xor_encryptor.h`; no KMS exists in the reference either).
  */
final case class AesCodec(ctx: ProtectionContext, override val deterministic: Boolean)
    extends CryptoCodec {
  import AesCodec._

  @transient private lazy val keySpec =
    new SecretKeySpec(sha256(("graft-aes-key:" + ctx.seedString).getBytes("UTF-8")), "AES")
  @transient private lazy val ivKeyBytes: Array[Byte] =
    sha256(("graft-aes-iv:" + ctx.seedString).getBytes("UTF-8"))
  @transient private lazy val random = new java.security.SecureRandom()

  // JCE service lookup is the dominant per-call cost — cache per thread.
  @transient private lazy val cipherTL: ThreadLocal[Cipher] =
    ThreadLocal.withInitial(() => Cipher.getInstance("AES/CTR/NoPadding"))
  @transient private lazy val macTL: ThreadLocal[Mac] =
    ThreadLocal.withInitial { () =>
      val m = Mac.getInstance("HmacSHA256")
      m.init(new SecretKeySpec(ivKeyBytes, "HmacSHA256"))
      m // doFinal resets state, so one init per thread suffices
    }

  override def name: String =
    if (deterministic) CryptoCodec.AesDet else CryptoCodec.AesRnd

  private def hmac16(parts: Array[Byte]*): Array[Byte] = {
    val m = macTL.get()
    parts.foreach(m.update)
    java.util.Arrays.copyOf(m.doFinal(), TagLen)
  }

  private def ctr(mode: Int, iv: Array[Byte], data: Array[Byte], off: Int): Array[Byte] = {
    val c = cipherTL.get()
    c.init(mode, keySpec, new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data, off, data.length - off)
  }

  override def encrypt(data: Array[Byte]): Array[Byte] =
    if (deterministic) {
      val tag = hmac16(data) // tag == SIV == CTR IV
      val ct = ctr(Cipher.ENCRYPT_MODE, tag, data, 0)
      val out = new Array[Byte](TagLen + ct.length)
      System.arraycopy(tag, 0, out, 0, TagLen)
      System.arraycopy(ct, 0, out, TagLen, ct.length)
      out
    } else {
      val iv = new Array[Byte](TagLen)
      random.nextBytes(iv)
      val ct = ctr(Cipher.ENCRYPT_MODE, iv, data, 0)
      val tag = hmac16(iv, ct)
      val out = new Array[Byte](2 * TagLen + ct.length)
      System.arraycopy(iv, 0, out, 0, TagLen)
      System.arraycopy(tag, 0, out, TagLen, TagLen)
      System.arraycopy(ct, 0, out, 2 * TagLen, ct.length)
      out
    }

  override def decrypt(data: Array[Byte]): Array[Byte] =
    if (deterministic) {
      if (data.length < TagLen)
        throw new GraftInvalidInputException(
          s"AES-SIV payload too short: ${data.length} bytes")
      val tag = java.util.Arrays.copyOfRange(data, 0, TagLen)
      val plain = ctr(Cipher.DECRYPT_MODE, tag, data, TagLen)
      if (!java.security.MessageDigest.isEqual(hmac16(plain), tag))
        throw new GraftInvalidInputException("AES-SIV authentication failed")
      plain
    } else {
      if (data.length < 2 * TagLen)
        throw new GraftInvalidInputException(
          s"AES-CTR payload too short: ${data.length} bytes")
      val iv = java.util.Arrays.copyOfRange(data, 0, TagLen)
      val tag = java.util.Arrays.copyOfRange(data, TagLen, 2 * TagLen)
      val ct = java.util.Arrays.copyOfRange(data, 2 * TagLen, data.length)
      if (!java.security.MessageDigest.isEqual(hmac16(iv, ct), tag))
        throw new GraftInvalidInputException("AES-CTR authentication failed")
      ctr(Cipher.DECRYPT_MODE, iv, ct, 0)
    }
}

object AesCodec {
  final val TagLen = 16
  private def sha256(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(b)
}

/** Clean failure type for malformed/tampered inputs — analog of the
  * reference's `InvalidInputException` discipline
  * (`/root/reference/src/common/exceptions.h:47-50`).
  */
class GraftInvalidInputException(msg: String) extends IllegalArgumentException(msg)

object CryptoCodec {
  final val Xor = "xor"
  final val AesDet = "aes_det"
  final val AesRnd = "aes_rnd"
  final val Names = Set(Xor, AesDet, AesRnd)

  def apply(name: String, ctx: ProtectionContext): CryptoCodec = name match {
    case Xor    => XorCodec(ctx)
    case AesDet => AesCodec(ctx, deterministic = true)
    case AesRnd => AesCodec(ctx, deterministic = false)
    case other  => throw new GraftInvalidInputException(s"unknown codec '$other'")
  }

  def isDeterministic(name: String): Boolean = name != AesRnd
}
