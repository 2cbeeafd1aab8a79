package graft.core

/** The XOR keystream stepped one byte at a time: the reference's
  * `XorEncryptInto` loop (`basic_xor_encryptor.cpp:30-46`) as written,
  * restarting at `seed` for every call. [[StableHash.xorKeystream]] reads
  * the same bytes from a 64-byte table; `CryptoCoreSpec` checks that the two
  * agree.
  */
object KeystreamReference {
  def xorKeystreamCopy(seed: Long, src: Array[Byte], srcOff: Int,
      dst: Array[Byte], dstOff: Int, len: Int): Unit = {
    var h = seed
    var i = 0
    while (i < len) {
      dst(dstOff + i) = (src(srcOff + i) ^ (h & 0xffL)).toByte
      h = StableHash.keystreamNext(h)
      i += 1
    }
  }
}
