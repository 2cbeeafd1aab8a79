package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** What every [[CryptoCodec]] promises its callers beyond its bytes: it
  * never writes its plaintext, and `aes_rnd` draws a fresh IV per seal on
  * every thread.
  */
class CodecContractSpec extends AnyFunSuite {
  private val ctx = ProtectionContext("contract-key", "col", "u1", """{"user_id": "u1"}""")

  test("encrypting a UTF8String backed by a whole array leaves its bytes unchanged") {
    for (codec <- Seq(CryptoCodec.Xor, CryptoCodec.AesDet, CryptoCodec.AesRnd)) {
      val backing = "user1@example.com café 树".getBytes(UTF_8)
      val before = backing.clone()
      val s = UTF8String.fromBytes(backing)
      assert(s.getBytes eq backing, "the string hands out its own array")
      val cryptor = CellCryptor(StringType, ctx, codec, perValue = true)
      val cell = cryptor.encryptCell(s)
      assert(backing.sameElements(before), codec)
      assert(cryptor.decryptCell(cell) == s, codec)
    }
  }

  test("aes_rnd on 4 threads: exact round trips and no IV repeated over 100,000 seals") {
    val codec = AesCodec(ctx, deterministic = false)
    val perThread = 25000
    val pool = Executors.newFixedThreadPool(4)
    try {
      val ivs = (0 until 4).map { t =>
        pool.submit(new Callable[Seq[(Long, Long)]] {
          def call(): Seq[(Long, Long)] = (0 until perThread).map { i =>
            val plain = s"t$t-$i".getBytes(UTF_8)
            val sealed_ = codec.encrypt(plain)
            assert(codec.decrypt(sealed_).sameElements(plain))
            val iv = java.nio.ByteBuffer.wrap(sealed_, 0, AesCodec.TagLen)
            (iv.getLong, iv.getLong)
          }
        })
      }.flatMap(_.get())
      assert(ivs.size == 4 * perThread)
      assert(ivs.distinct.size == ivs.size)
    } finally pool.shutdown()
  }
}
