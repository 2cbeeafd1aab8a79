package graft.core

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.service.HostileInputSpec.forAll

/** The one-pass value list against the step-by-step pass
  * ([[ValueListReference]]): the same ciphertext from the same page, the
  * same page back, and a typed failure on exactly the inputs where the
  * steps fail — for every layout either way round.
  */
class ValueListSpec extends AnyFunSuite {
  private val ctx = ProtectionContext("k1", "col", "u1", """{"user_id": "u1"}""")
  private val codecs = Seq(CryptoCodec.Xor, CryptoCodec.AesDet).map(CryptoCodec(_, ctx))

  private val bytes: Gen[Array[Byte]] = Gen.choose(0, 30).flatMap(n =>
    Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))

  /** (width, count, PLAIN value bytes, level bytes) of one page. */
  private val pages: Gen[(Option[Int], Int, Array[Byte], Array[Byte])] = for {
    width <- Gen.oneOf(Gen.oneOf(4, 8, 12).map(Some(_)), Gen.choose(1, 20).map(Some(_)),
      Gen.const(None))
    count <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 40))
    values <- Gen.listOfN(count, width.fold(bytes)(w =>
      Gen.containerOfN[Array, Byte](w, Gen.choose(Byte.MinValue, Byte.MaxValue))))
    levels <- bytes
  } yield (width, count, PageCodec.joinPlain(values, width), levels)

  /** Truncate, flip one bit, or overwrite 4 bytes with a random int. */
  private def mutations(valid: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
    Gen.choose(0, valid.length - 1).map(n => valid.take(n)),
    for (i <- Gen.choose(0, valid.length - 1); b <- Gen.choose(0, 7)) yield {
      val m = valid.clone(); m(i) = (m(i) ^ (1 << b)).toByte; m
    },
    for (i <- Gen.choose(0, math.max(0, valid.length - 4));
         v <- Gen.oneOf(Gen.choose(-2, 64), Gen.choose(Int.MinValue, Int.MaxValue))) yield {
      val m = valid.clone()
      (0 until math.min(4, m.length - i)).foreach(k => m(i + k) = (v >>> (8 * k)).toByte)
      m
    })

  /** The bytes `f` returns, or None when it fails with invalid input. */
  private def outcome(f: => Seq[Array[Byte]]): Option[Seq[Seq[Byte]]] =
    try Some(f.map(_.toSeq)) catch { case _: GraftInvalidInputException => None }

  test("property: the one pass writes the step-by-step ciphertext and reads the page back") {
    forAll(pages, 400) { case (width, count, plain, levels) =>
      for (codec <- codecs) {
        val one = WireFormat.encryptPerValue(codec, levels, PageCodec.PlainValues(plain, count, width))
        assert(one.sameElements(
          ValueListReference.encryptPerValue(codec, levels, plain, count, width)), codec.name)
        val (l, v) = WireFormat.decryptPerValue(codec, one, width)
        assert(l.sameElements(levels) && v.sameElements(plain), codec.name)
      }
      val rnd = CryptoCodec(CryptoCodec.AesRnd, ctx)
      val sealed_ = WireFormat.encryptPerValue(rnd, levels, PageCodec.PlainValues(plain, count, width))
      val (l, v) = ValueListReference.decryptPerValue(rnd, sealed_, width)
      assert(l.sameElements(levels) && v.sameElements(plain))
    }
  }

  test("property: mutated ciphertexts fail exactly where the step-by-step pass fails") {
    forAll(pages, 120) { case (width, count, plain, levels) =>
      for (codec <- codecs) {
        val one = WireFormat.encryptPerValue(codec, levels, PageCodec.PlainValues(plain, count, width))
        forAll(mutations(one), 40) { m =>
          for (w <- Seq(width, None, Some(4))) {
            def pair(r: (Array[Byte], Array[Byte])) = Seq(r._1, r._2)
            assert(outcome(pair(WireFormat.decryptPerValue(codec, m, w))) ==
              outcome(pair(ValueListReference.decryptPerValue(codec, m, w))),
              s"${codec.name} width $w")
          }
        }
        val list = one.drop(4 + levels.length + codec.overhead)
        forAll(mutations(list), 20) { m =>
          assert(outcome(WireFormat.decryptValueList(codec, m)) ==
            outcome(ValueListReference.decryptValueList(codec, m)), codec.name)
        }
      }
    }
  }

  test("property: PLAIN value sections split where the step-by-step split does") {
    forAll(pages, 200) { case (width, count, plain, _) =>
      forAll(mutations(plain :+ 0.toByte).map(_.dropRight(1)), 20) { m =>
        for (n <- Seq(count, count - 1, count + 1, -1)) {
          val p = PageCodec.PlainValues
          assert(outcome { val v = p(m, n, width); (0 until v.count).map(v.copy) } ==
            outcome(ValueListReference.splitValueBytes(m, n, width)), s"width $width count $n")
        }
      }
    }
  }
}
