package graft.core

import java.security.{MessageDigest, SecureRandom}
import javax.crypto.Cipher
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
  *
  * A codec writes its ciphertext into a caller's buffer and reads it back in
  * place, so [[CellCryptor]] frames a cell with one allocation and no copy:
  * a ciphertext is always exactly `overhead` bytes longer than its plaintext.
  */
trait CryptoCodec extends Serializable {
  def name: String
  /** Deterministic codecs keep equality: c(x)==c(y) iff x==y. Catalyst may
    * then fold/reuse these expressions and ciphertext equality joins work.
    */
  def deterministic: Boolean
  /** Bytes a ciphertext adds to its plaintext. */
  def overhead: Int
  /** Encrypt `plain(plainOff until plainOff + len)` into
    * `out(off until off + overhead + len)`. A codec only reads `plain`, never
    * writes it, so a caller may pass bytes it does not own: a page it was
    * handed, or the array behind a `UTF8String`.
    */
  def encryptInto(plain: Array[Byte], plainOff: Int, len: Int, out: Array[Byte], off: Int): Unit
  /** Decrypt the ciphertext `data(off until off + len)`, read in place, into
    * `out(outOff until outOff + len - overhead)`. A ciphertext shorter than
    * `overhead` fails before anything is written.
    */
  def decryptInto(data: Array[Byte], off: Int, len: Int, out: Array[Byte], outOff: Int): Unit

  /** Encrypt all of `plain` into `out(off ..)`. */
  final def encryptInto(plain: Array[Byte], out: Array[Byte], off: Int): Unit =
    encryptInto(plain, 0, plain.length, out, off)

  /** Decrypt the ciphertext `data(off until data.length)`. */
  final def decryptFrom(data: Array[Byte], off: Int): Array[Byte] = {
    val len = data.length - off
    val out = new Array[Byte](math.max(0, len - overhead))
    decryptInto(data, off, len, out, 0)
    out
  }

  final def encrypt(data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](overhead + data.length)
    encryptInto(data, out, 0)
    out
  }

  final def decrypt(data: Array[Byte]): Array[Byte] = decryptFrom(data, 0)
}

/** XOR-parity codec reproducing the reference `BasicXorEncryptor` keystream
  * (`basic_xor_encryptor.cpp:32-72`): dst[i] = src[i] ^ (h & 0xFF);
  * h = (h<<1)|(h>>>31); keystream restarts per call. Symmetric. The codec
  * keeps the keystream as its 64-byte table ([[StableHash.keystream]]).
  * NOT secure — exists for wire-format parity + canonical-ciphertext tests,
  * exactly like the reference's "basic" encryptor is a stand-in.
  */
final case class XorCodec(ctx: ProtectionContext) extends CryptoCodec {
  private val keystream = StableHash.keystream(StableHash.fnv1a64(ctx.seedString))
  override def name: String = CryptoCodec.Xor
  override def deterministic: Boolean = true
  override def overhead: Int = 0
  override def encryptInto(plain: Array[Byte], plainOff: Int, len: Int,
      out: Array[Byte], off: Int): Unit =
    StableHash.xorKeystream(keystream, plain, plainOff, out, off, len)
  override def decryptInto(data: Array[Byte], off: Int, len: Int,
      out: Array[Byte], outOff: Int): Unit =
    StableHash.xorKeystream(keystream, data, off, out, outOff, len)
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
  * Cipher instance trip SunJCE's GCM IV-reuse guard; CTR has no reuse guard.
  *
  * Per-value cost is dominated by JCE set-up, not by AES, so each thread
  * builds one [[AesCodec.Kit]] per codec and keeps it:
  *  - an `AES/ECB/NoPadding` cipher initialised once with the column key. It
  *    is only the block primitive: CTR keystream block i is AES(IV + i), with
  *    the IV read as a 128-bit big-endian counter that wraps, which is exactly
  *    how SunJCE's `AES/CTR/NoPadding` counts, so the bytes are the same
  *    without a `Cipher.init` and an `IvParameterSpec` per value;
  *  - two SHA-256 digests that have already absorbed the HMAC ipad and opad
  *    blocks. Each value clones them, so an HMAC costs two compressions, not
  *    the four `javax.crypto.Mac` spends re-absorbing both pads per call.
  *
  * Keys are derived from the protection context via SHA-256 — a stand-in KMS,
  * mirroring how the reference derives everything from `key_id`
  * (`basic_xor_encryptor.h`; no KMS exists in the reference either).
  */
final case class AesCodec(ctx: ProtectionContext, override val deterministic: Boolean)
    extends CryptoCodec {
  import AesCodec._

  @transient private lazy val aesKey: Array[Byte] =
    sha256(("graft-aes-key:" + ctx.seedString).getBytes("UTF-8"))
  @transient private lazy val ivKey: Array[Byte] =
    sha256(("graft-aes-iv:" + ctx.seedString).getBytes("UTF-8"))
  @transient private lazy val kits: ThreadLocal[Kit] =
    ThreadLocal.withInitial(() => new Kit(aesKey, ivKey))

  override def name: String =
    if (deterministic) CryptoCodec.AesDet else CryptoCodec.AesRnd

  override def overhead: Int = if (deterministic) TagLen else 2 * TagLen

  override def encryptInto(plain: Array[Byte], plainOff: Int, len: Int,
      out: Array[Byte], off: Int): Unit = {
    val kit = kits.get()
    if (deterministic) {
      val md = kit.macStart()
      md.update(plain, plainOff, len)
      System.arraycopy(kit.macEnd(md), 0, out, off, TagLen) // tag == SIV == CTR IV
      kit.ctr(out, off, plain, plainOff, out, off + TagLen, len)
    } else {
      val iv = kit.iv
      kit.random.nextBytes(iv)
      System.arraycopy(iv, 0, out, off, TagLen)
      kit.ctr(iv, 0, plain, plainOff, out, off + 2 * TagLen, len)
      val md = kit.macStart()
      md.update(iv)
      md.update(out, off + 2 * TagLen, len)
      System.arraycopy(kit.macEnd(md), 0, out, off + TagLen, TagLen)
    }
  }

  override def decryptInto(data: Array[Byte], off: Int, len: Int,
      out: Array[Byte], outOff: Int): Unit = {
    val kit = kits.get()
    if (deterministic) {
      if (len < TagLen)
        throw new GraftInvalidInputException(s"AES-SIV payload too short: $len bytes")
      val n = len - TagLen
      kit.ctr(data, off, data, off + TagLen, out, outOff, n)
      val md = kit.macStart()
      md.update(out, outOff, n)
      if (!kit.tagMatches(kit.macEnd(md), data, off))
        throw new GraftInvalidInputException("AES-SIV authentication failed")
    } else {
      if (len < 2 * TagLen)
        throw new GraftInvalidInputException(s"AES-CTR payload too short: $len bytes")
      val md = kit.macStart()
      md.update(data, off, TagLen)
      md.update(data, off + 2 * TagLen, len - 2 * TagLen)
      if (!kit.tagMatches(kit.macEnd(md), data, off + TagLen))
        throw new GraftInvalidInputException("AES-CTR authentication failed")
      kit.ctr(data, off, data, off + 2 * TagLen, out, outOff, len - 2 * TagLen)
    }
  }
}

object AesCodec {
  final val TagLen = 16
  private final val HmacBlockLen = 64

  private def sha256(b: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(b)

  /** One thread's AES-SIV primitives for one key pair, with the scratch
    * buffers they fill. Not thread-safe: reached only through a
    * `ThreadLocal`, and every buffer it hands out is valid until its next call.
    */
  private final class Kit(aesKey: Array[Byte], macKey: Array[Byte]) {
    private val aes = Cipher.getInstance("AES/ECB/NoPadding")
    aes.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(aesKey, "AES"))
    private val inner = padded(0x36)
    private val outer = padded(0x5c)
    private val counter = new Array[Byte](TagLen)
    private val keystream = new Array[Byte](TagLen)
    private val digest = new Array[Byte](32)
    private val tag = new Array[Byte](TagLen)
    private val seen = new Array[Byte](TagLen)
    /** Scratch for a random IV. */
    val iv = new Array[Byte](TagLen)
    /** This thread's IV source. A `SecureRandom` shared by all threads
      * (`NativePRNG`) draws every IV under one JVM-wide lock; a DRBG per
      * thread, seeded on its own, draws without one.
      */
    lazy val random: SecureRandom = SecureRandom.getInstance("DRBG")

    /** SHA-256 that has absorbed the zero-padded key XOR `pad` (RFC 2104;
      * the 32-byte derived key fits one block unhashed).
      */
    private def padded(pad: Int): MessageDigest = {
      val block = Array.tabulate[Byte](HmacBlockLen) { i =>
        ((if (i < macKey.length) macKey(i) else 0) ^ pad).toByte
      }
      val md = MessageDigest.getInstance("SHA-256")
      md.update(block)
      md
    }

    /** A fresh HMAC-SHA256 over the message fed to the returned digest. */
    def macStart(): MessageDigest = inner.clone().asInstanceOf[MessageDigest]

    /** Finish the HMAC begun by [[macStart]] → its first 16 bytes. */
    def macEnd(md: MessageDigest): Array[Byte] = {
      md.digest(digest, 0, digest.length)
      val o = outer.clone().asInstanceOf[MessageDigest]
      o.update(digest)
      o.digest(digest, 0, digest.length)
      System.arraycopy(digest, 0, tag, 0, TagLen)
      tag
    }

    /** Constant-time compare of `computed` with the tag stored at `data(off)`. */
    def tagMatches(computed: Array[Byte], data: Array[Byte], off: Int): Boolean = {
      System.arraycopy(data, off, seen, 0, TagLen)
      MessageDigest.isEqual(computed, seen)
    }

    /** AES-CTR from the counter block `ivSrc(ivOff until ivOff + 16)`:
      * `dst(dstOff + i) = src(srcOff + i) ^ keystream(i)` for `i < len`.
      */
    def ctr(ivSrc: Array[Byte], ivOff: Int, src: Array[Byte], srcOff: Int,
        dst: Array[Byte], dstOff: Int, len: Int): Unit = {
      System.arraycopy(ivSrc, ivOff, counter, 0, TagLen)
      var done = 0
      while (done < len) {
        aes.update(counter, 0, TagLen, keystream, 0)
        val n = math.min(TagLen, len - done)
        var i = 0
        while (i < n) {
          dst(dstOff + done + i) = (src(srcOff + done + i) ^ keystream(i)).toByte
          i += 1
        }
        done += n
        var j = TagLen - 1 // 128-bit big-endian increment, wrapping
        var carry = true
        while (carry && j >= 0) {
          counter(j) = (counter(j) + 1).toByte
          carry = counter(j) == 0
          j -= 1
        }
      }
    }
  }
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
