package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Pure-JVM crypto core tests — the translation of the reference's
  * byte-level unit suites (SURVEY.md §5): canonical-bytes pins, round trips,
  * adversarial malformed inputs (property-style via seeded ScalaCheck Gens;
  * the scalatestplus bridge isn't in the offline cache).
  */
class CryptoCoreSpec extends AnyFunSuite {

  /** Deterministic property loop: sample `gen` n times from a fixed seed. */
  private def forAll[T](gen: Gen[T], n: Int = 200)(f: T => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    val params = Gen.Parameters.default
    (0 until n).foreach { _ =>
      gen.apply(params, seed).foreach(f)
      seed = seed.next
    }
  }

  private val ctx = ProtectionContext("key-1", "col")
  private val xor = XorCodec(ctx)
  private val aesDet = AesCodec(ctx, deterministic = true)
  private val aesRnd = AesCodec(ctx, deterministic = false)

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  // ---- canonical pins (independently computed from the FNV-1a-64 +
  // (h<<1)|(h>>>31) keystream definition; guards wire-format stability
  // like the reference's ManualBytes/Canonical tests).
  test("XOR canonical: seed for key-1:col:: context") {
    assert(StableHash.fnv1a64("key-1:col::") == 0xfa4c239567451a6aL)
    assert(hex(xor.encrypt("hello world".getBytes("UTF-8"))) ==
      "029b939390df88908d9299")
    assert(hex(xor.encrypt(Array[Byte](0xd2.toByte, 0x04, 0, 0))) == "b8faffff")
  }

  test("XOR is symmetric, deterministic, keystream restarts per call") {
    forAll(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))) {
      data: Array[Byte] =>
        assert(xor.decrypt(xor.encrypt(data)).sameElements(data))
        assert(xor.encrypt(data).sameElements(xor.encrypt(data)))
    }
    // restart: encrypting x++x gives ct(x) ++ something-else, but two calls
    // on x give identical prefixes
    val a = xor.encrypt(Array[Byte](1, 2, 3))
    val b = xor.encrypt(Array[Byte](1, 2, 3, 9, 9))
    assert(a.sameElements(b.take(3)))
  }

  test("XOR keystream: every single-bit state at step 32 comes back at step 64") {
    def step(h: Long, n: Int): Long = (0 until n).foldLeft(h)((s, _) => StableHash.keystreamNext(s))
    for (bit <- 0 until 64) {
      val seed = 1L << bit
      assert(step(seed, 32) == step(seed, 64), s"bit $bit")
    }
    // the step is OR-linear, so every seed's state repeats the same way
    forAll(Gen.zip(Gen.long, Gen.long)) { case (a, b) =>
      assert(StableHash.keystreamNext(a | b) ==
        (StableHash.keystreamNext(a) | StableHash.keystreamNext(b)))
      assert(step(a, 32) == step(a, 64))
    }
  }

  test("property: the table keystream matches the byte-stepped reference") {
    val cases = for {
      seed <- Gen.frequency(4 -> Gen.long, 1 -> Gen.choose(0, 63).map(1L << _),
        1 -> Gen.oneOf(0L, -1L))
      len <- Gen.frequency(3 -> Gen.choose(0, 130), 2 -> Gen.choose(0, 12 * 1024))
      srcOff <- Gen.choose(0, 40)
      dstOff <- Gen.choose(0, 40)
      fill <- Gen.long
    } yield (seed, len, srcOff, dstOff, fill)
    forAll(cases, 2000) { case (seed, len, srcOff, dstOff, fill) =>
      val rng = new java.util.SplittableRandom(fill)
      val src = Array.fill[Byte](srcOff + len + 7)(rng.nextInt(256).toByte)
      val init = Array.fill[Byte](dstOff + len + 7)(rng.nextInt(256).toByte)
      val expected = init.clone()
      KeystreamReference.xorKeystreamCopy(seed, src, srcOff, expected, dstOff, len)
      val table = init.clone()
      StableHash.xorKeystream(StableHash.keystream(seed), src, srcOff, table, dstOff, len)
      assert(table.sameElements(expected), s"seed $seed len $len")
    }
    // through the codec, whose seed is the context's FNV-1a 64
    val page = Array.tabulate[Byte](10000)(i => (i * 7).toByte)
    val expected = new Array[Byte](page.length)
    KeystreamReference.xorKeystreamCopy(StableHash.fnv1a64(ctx.seedString), page, 0,
      expected, 0, page.length)
    assert(xor.encrypt(page).sameElements(expected))
  }

  test("different contexts give different keystreams") {
    val other = XorCodec(ProtectionContext("key-1", "col2"))
    val pt = "same plaintext".getBytes
    assert(!xor.encrypt(pt).sameElements(other.encrypt(pt)))
  }

  test("AES deterministic (SIV) mode: stable ciphertext, exact round trip") {
    forAll(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))) {
      data: Array[Byte] =>
        val ct1 = aesDet.encrypt(data)
        val ct2 = aesDet.encrypt(data)
        assert(ct1.sameElements(ct2), "det mode must be deterministic")
        assert(aesDet.decrypt(ct1).sameElements(data))
    }
  }

  test("AES randomized mode: fresh IVs, still round trips") {
    val pt = "payload".getBytes
    val ct1 = aesRnd.encrypt(pt)
    val ct2 = aesRnd.encrypt(pt)
    assert(!ct1.sameElements(ct2), "rnd mode must differ per call")
    assert(aesRnd.decrypt(ct1).sameElements(pt))
    assert(aesRnd.decrypt(ct2).sameElements(pt))
  }

  test("AES rejects tampered ciphertext and wrong key") {
    val ct = aesDet.encrypt("secret".getBytes)
    val tampered = ct.clone(); tampered(ct.length - 1) = (tampered(ct.length - 1) ^ 1).toByte
    intercept[GraftInvalidInputException](aesDet.decrypt(tampered))
    intercept[GraftInvalidInputException](aesDet.decrypt(Array[Byte](1, 2, 3)))
    val wrongKey = AesCodec(ProtectionContext("other", "col"), deterministic = true)
    intercept[GraftInvalidInputException](wrongKey.decrypt(ct))
  }

  // ---- §1.5 batch value-list wire format (encryptor_utils.h parity)
  test("value list fixed: header layout [0x01][count][elem_size]") {
    val elems = Seq(Array[Byte](1, 0, 0, 0), Array[Byte](2, 0, 0, 0))
    val out = WireFormat.encryptValueList(xor, elems, Some(4))
    assert(out(0) == WireFormat.FixedTag)
    val buf = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.get()
    assert(buf.getInt() == 2)      // element_count
    assert(buf.getInt() == 4)      // element_size
    assert(out.length == 9 + 8)
    val back = WireFormat.decryptValueList(xor, out)
    assert(back.map(_.toSeq) == elems.map(_.toSeq))
  }

  test("value list variable: header [0x00][count] + length-prefixed records") {
    val elems = Seq("a".getBytes, "".getBytes, "longer value".getBytes).map(_.asInstanceOf[Array[Byte]])
    val out = WireFormat.encryptValueList(aesDet, elems, None)
    assert(out(0) == WireFormat.VariableTag)
    val back = WireFormat.decryptValueList(aesDet, out)
    assert(back.map(new String(_)) == Seq("a", "", "longer value"))
  }

  test("value list: empty batch keeps header only") {
    val out = WireFormat.encryptValueList(xor, Nil, Some(4))
    assert(out.length == 9)
    assert(WireFormat.decryptValueList(xor, out).isEmpty)
  }

  test("value list malformed inputs fail cleanly") {
    // truncated header
    intercept[GraftInvalidInputException](
      WireFormat.decryptValueList(xor, Array[Byte](1, 2)))
    // unknown tag
    intercept[GraftInvalidInputException](
      WireFormat.decryptValueList(xor, Array[Byte](7, 0, 0, 0, 0)))
    // fixed: payload length mismatch
    val good = WireFormat.encryptValueList(xor, Seq(Array[Byte](1, 2, 3, 4)), Some(4))
    intercept[GraftInvalidInputException](
      WireFormat.decryptValueList(xor, good.dropRight(1)))
    // variable: length prefix exceeds remaining
    val varGood = WireFormat.encryptValueList(xor, Seq("abcdef".getBytes), None)
    val corrupt = varGood.clone()
    corrupt(5) = 0x7f // inflate first record length
    intercept[GraftInvalidInputException](WireFormat.decryptValueList(xor, corrupt))
    // trailing bytes
    intercept[GraftInvalidInputException](
      WireFormat.decryptValueList(xor, varGood :+ 0x00.toByte))
  }

  test("arbitrary bytes never crash decryptValueList with non-Graft exception") {
    forAll(Gen.containerOf[Array, Byte](Gen.choose(Byte.MinValue, Byte.MaxValue))) {
      junk: Array[Byte] =>
        try WireFormat.decryptValueList(xor, junk)
        catch {
          case _: GraftInvalidInputException => // clean failure
        }
    }
  }

  test("joinWithLengthPrefix round trip + bounds check") {
    val (a, b) = (Array[Byte](1, 2, 3), Array[Byte](4, 5))
    val joined = WireFormat.joinWithLengthPrefix(a, b)
    val (a2, b2) = WireFormat.splitWithLengthPrefix(joined)
    assert(a2.sameElements(a) && b2.sameElements(b))
    intercept[GraftInvalidInputException](
      WireFormat.splitWithLengthPrefix(Array[Byte](9, 0, 0, 0, 1)))
  }

  test("cell framing: header fields + malformed rejections") {
    val ct = Array[Byte](9, 9, 9, 9)
    val cell = new Array[Byte](WireFormat.CellHeaderLen + ct.length)
    WireFormat.writeCellHeader(cell, WireFormat.ModePerValueFixed, 4)
    System.arraycopy(ct, 0, cell, WireFormat.CellHeaderLen, ct.length)
    val fixed = WireFormat.ModePerValueFixed
    assert(WireFormat.validateCellHeader(cell, fixed) == 4)
    assert(cell.drop(WireFormat.CellHeaderLen).sameElements(Array[Byte](9, 9, 9, 9)))
    intercept[GraftInvalidInputException](WireFormat.validateCellHeader(Array[Byte](1), fixed))
    val badMagic = cell.clone(); badMagic(0) = 0x00
    intercept[GraftInvalidInputException](WireFormat.validateCellHeader(badMagic, fixed))
    val badVersion = cell.clone(); badVersion(1) = 0x7f
    intercept[GraftInvalidInputException](WireFormat.validateCellHeader(badVersion, fixed))
    val badMode = cell.clone(); badMode(2) = 0x55
    intercept[GraftInvalidInputException](WireFormat.validateCellHeader(badMode, fixed))
    val mismatch = intercept[GraftInvalidInputException](
      WireFormat.validateCellHeader(cell, WireFormat.ModePerValueVariable))
    assert(mismatch.getMessage == "mode mismatch: cell has 0x11, column policy expects 0x10")
  }
}
