package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import javax.crypto.{Cipher, Mac}
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Known-answer tests for the cipher kernels. The oracle is the plain JCE
  * construction written out here: `Mac("HmacSHA256")` for the SIV tag and an
  * `AES/CTR/NoPadding` cipher initialised per value with the tag (or random
  * IV) as its counter block. Every ciphertext the codecs produce must equal
  * the oracle's byte for byte, so a kernel rewrite cannot change stored data.
  */
class AesKnownAnswerSpec extends AnyFunSuite {

  private val ctx = ProtectionContext("kat-key", "kat-col", "kat-user", "kat-app")
  private val aesDet = AesCodec(ctx, deterministic = true)
  private val aesRnd = AesCodec(ctx, deterministic = false)
  private val xor = XorCodec(ctx)

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  private def sample(len: Int, salt: Int = 0): Array[Byte] =
    Array.tabulate[Byte](len)(i => (i * 31 + len * 7 + salt).toByte)
  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  // ---- the oracle
  private def sha256(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
  private val aesKey = sha256("graft-aes-key:" + ctx.seedString)
  private val macKey = sha256("graft-aes-iv:" + ctx.seedString)
  private val mac = Mac.getInstance("HmacSHA256")
  mac.init(new SecretKeySpec(macKey, "HmacSHA256"))

  private def oracleTag(parts: Array[Byte]*): Array[Byte] = {
    parts.foreach(mac.update)
    java.util.Arrays.copyOf(mac.doFinal(), 16)
  }
  private def oracleCtr(iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("AES/CTR/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(aesKey, "AES"), new IvParameterSpec(iv))
    c.doFinal(data)
  }
  private def oracleDet(plain: Array[Byte]): Array[Byte] = {
    val tag = oracleTag(plain)
    tag ++ oracleCtr(tag, plain)
  }
  /** Open an `aes_rnd` ciphertext `[iv][tag][ct]`: authenticate, then decrypt. */
  private def oracleOpenRnd(data: Array[Byte]): Array[Byte] = {
    val (iv, tag, ct) = (data.slice(0, 16), data.slice(16, 32), data.drop(32))
    assert(oracleTag(iv, ct).sameElements(tag), "aes_rnd tag must be HMAC(iv ‖ ct)")
    oracleCtr(iv, ct)
  }
  private def oracleXor(plain: Array[Byte]): Array[Byte] = {
    var h = StableHash.fnv1a64(ctx.seedString)
    plain.map { b =>
      val c = (b ^ (h & 0xff)).toByte
      h = (h << 1) | (h >>> 31)
      c
    }
  }

  test("aes_det equals HMAC tag ‖ AES-CTR(tag) for every length 0-80") {
    (0 to 80).foreach { n =>
      val pt = sample(n)
      val ct = aesDet.encrypt(pt)
      assert(hex(ct) == hex(oracleDet(pt)), s"length $n")
      assert(aesDet.decrypt(ct).sameElements(pt), s"length $n")
    }
  }

  test("aes_det counter carries across bytes like SunJCE CTR") {
    // a tag ending in 0xffff makes block 2's counter carry through two bytes
    val pt = Iterator.from(0).map(i => sample(44) ++ le(4).putInt(i).array()).find { p =>
      val t = oracleTag(p)
      t(15) == 0xff.toByte && t(14) == 0xff.toByte
    }.get
    assert(hex(aesDet.encrypt(pt)) == hex(oracleDet(pt)))
    assert(aesDet.decrypt(oracleDet(pt)).sameElements(pt))
  }

  test("aes_rnd opens with the oracle, and opens what the oracle seals") {
    (0 to 80).foreach { n =>
      val pt = sample(n)
      assert(oracleOpenRnd(aesRnd.encrypt(pt)).sameElements(pt), s"length $n")
      val iv = sample(16, n + 1)
      val ct = oracleCtr(iv, pt)
      assert(aesRnd.decrypt(iv ++ oracleTag(iv, ct) ++ ct).sameElements(pt), s"length $n")
    }
  }

  test("tampered tag, IV or ciphertext is rejected") {
    val det = aesDet.encrypt(sample(20))
    val rnd = aesRnd.encrypt(sample(20))
    Seq(0, 15, 16, det.length - 1).foreach { i =>
      val bad = det.clone(); bad(i) = (bad(i) ^ 1).toByte
      intercept[GraftInvalidInputException](aesDet.decrypt(bad))
    }
    Seq(0, 16, 31, 32, rnd.length - 1).foreach { i =>
      val bad = rnd.clone(); bad(i) = (bad(i) ^ 1).toByte
      intercept[GraftInvalidInputException](aesRnd.decrypt(bad))
    }
    intercept[GraftInvalidInputException](aesDet.decrypt(new Array[Byte](15)))
    intercept[GraftInvalidInputException](aesRnd.decrypt(new Array[Byte](31)))
  }

  // value → (serialized little-endian plaintext, as the cell format defines it)
  private val cellValues: Seq[(DataType, Any, Array[Byte])] = Seq(
    (BooleanType, true, Array[Byte](1)),
    (ByteType, (-7).toByte, Array[Byte](-7)),
    (ShortType, (-12345).toShort, le(2).putShort(-12345).array()),
    (IntegerType, -123456789, le(4).putInt(-123456789).array()),
    (DateType, 19000, le(4).putInt(19000).array()),
    (FloatType, -1.5e-3f, le(4).putFloat(-1.5e-3f).array()),
    (LongType, Long.MinValue + 3, le(8).putLong(Long.MinValue + 3).array()),
    (TimestampType, 1700000000123456L, le(8).putLong(1700000000123456L).array()),
    (TimestampNTZType, -86400000000L, le(8).putLong(-86400000000L).array()),
    (DoubleType, 28733.64, le(8).putDouble(28733.64).array()),
    (DoubleType, Double.NaN, le(8).putDouble(Double.NaN).array()),
    (StringType, UTF8String.fromString("Ünïcode string beyond one AES block"),
      "Ünïcode string beyond one AES block".getBytes("UTF-8")),
    (StringType, UTF8String.fromString(""), Array.emptyByteArray),
    (BinaryType, Array[Byte](0, 1, 2, -1), Array[Byte](0, 1, 2, -1)),
    (DecimalType(12, 2), Decimal(BigDecimal("-98765.43"), 12, 2),
      new java.math.BigInteger("-9876543").toByteArray))

  private def header(mode: Byte, plen: Int): Array[Byte] =
    Array[Byte](0xd8.toByte, 1, mode) ++ le(4).putInt(plen).array()

  test("cells of every protectable type match the oracle and round trip") {
    for ((dt, v, plain) <- cellValues; perValue <- Seq(true, false)) {
      val mode: Byte =
        if (!perValue) 0x02
        else if (ValueSerde.fixedWidth(dt).isDefined) 0x11 else 0x10
      val what = s"$dt $v perValue=$perValue"
      val det = CellCryptor(dt, ctx, CryptoCodec.AesDet, perValue)
      val xc = CellCryptor(dt, ctx, CryptoCodec.Xor, perValue)
      val rnd = CellCryptor(dt, ctx, CryptoCodec.AesRnd, perValue)
      assert(hex(det.encryptCell(v)) == hex(header(mode, plain.length) ++ oracleDet(plain)), what)
      assert(hex(xc.encryptCell(v)) == hex(header(mode, plain.length) ++ oracleXor(plain)), what)
      val rc = rnd.encryptCell(v)
      assert(hex(rc.take(7)) == hex(header(mode, plain.length)), what)
      assert(oracleOpenRnd(rc.drop(7)).sameElements(plain), what)
      Seq(det, xc, rnd).foreach { c =>
        val back = c.decryptCell(c.encryptCell(v))
        (back, v) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.sameElements(b), what)
          case (a: Double, b: Double) if b.isNaN => assert(a.isNaN, what)
          case _ => assert(back == v, what)
        }
      }
    }
  }

  test("4 threads sharing one codec produce the single-thread bytes") {
    val values = (0 until 10000).map(i => sample(i % 70, i))
    val single = AesCodec(ctx, deterministic = true)
    val expected = values.map(v => hex(single.encrypt(v)))
    val shared = AesCodec(ctx, deterministic = true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          def call(): Seq[String] = values.map { v =>
            val ct = shared.encrypt(v)
            assert(shared.decrypt(ct).sameElements(v))
            hex(ct)
          }
        })
      }
      futures.foreach(f => assert(f.get() == expected))
    } finally pool.shutdown()
  }

  // pinned at the commit before the per-thread AES kit
  // (ca4dc2c): ctx kat-key:kat-col:kat-user:kat-app
  private val pinnedPlain = "graft known-answer vector spanning 3 AES blocks".getBytes("UTF-8")

  test("pinned vectors: xor, aes_det, aes_rnd, aes_det cell") {
    assert(hex(xor.encrypt(pinnedPlain)) ==
      "2d858eb9cb5f9593948182f4d208beec521dffc91a9c8b908dde8e8b9681b0d41590cfec9f3ebbaedb9480b6d00dbe")
    assert(hex(aesDet.encrypt(pinnedPlain)) ==
      "88febc72716d5071acfdfcb07f2f7b11b51064010b2b67138080205a29cc97a2" +
        "d97d45647ac1d7e0de16400ea35292ea4640a3d12b44385524310afe686319")
    // aes_rnd draws a fresh IV per value: pin a stored ciphertext and open it
    val rnd = unhex(
      "e9a0a43825cf147b2fb9bba45fd1537f11f4e89040964094571fe6ff0c644475" +
        "215f627ce2ae6488f6e76f332ae4075ea4de44eb07db27c194c74d1fcf54314c" +
        "fdb1bbc4599241c433668b452284fa")
    assert(aesRnd.decrypt(rnd).sameElements(pinnedPlain))
    assert(hex(CellCryptor(DoubleType, ctx, CryptoCodec.AesDet, perValue = true)
      .encryptCell(1234.5)) == "d80111080000006114c8cc7263464dd644579426cfe47ce0fe34bda17ee4e4")
  }
}
