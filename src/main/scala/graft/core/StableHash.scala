package graft.core

/** Stable 64-bit hashing + the reference keystream schedule.
  *
  * The reference seeds its XOR keystream with `std::hash<std::string>(key_id)`
  * (`/root/reference/src/processing/encryptors/basic_xor_encryptor.h`), which is
  * implementation-defined; per SURVEY.md §7.4 we define our own stable hash
  * (FNV-1a 64) so ciphertexts are reproducible across JVMs/platforms, and pin
  * canonical ciphertexts against THIS implementation, not the C++ one.
  */
object StableHash {
  private final val Fnv64Offset = 0xcbf29ce484222325L
  private final val Fnv64Prime = 0x100000001b3L

  /** FNV-1a 64 over raw bytes. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = Fnv64Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Fnv64Prime
      i += 1
    }
    h
  }

  def fnv1a64(s: String): Long = fnv1a64(s.getBytes("UTF-8"))

  /** One keystream step — faithful to the reference's quirky rotation
    * `key_hash = (key_hash << 1) | (key_hash >> 31)` applied to a 64-bit
    * `size_t` (`basic_xor_encryptor.cpp:44` — note `>> 31`, not `>> 63`).
    */
  @inline def keystreamNext(h: Long): Long = (h << 1) | (h >>> 31)

  /** Bytes in a [[keystream]] table. */
  final val KeystreamTableSize = 64

  /** The keystream seeded at `seed`, whole, as its first 64 bytes. The step
    * is OR-linear (it maps `a | b` to the OR of the images of `a` and `b`),
    * and each of the 64 single-bit states is back where it was at step 32
    * by step 64, so every state from step 32 on repeats with period 32:
    * keystream byte `i >= 64` is byte `32 + (i - 32) % 32`.
    */
  def keystream(seed: Long): Array[Byte] = {
    val table = new Array[Byte](KeystreamTableSize)
    var h = seed
    var i = 0
    while (i < KeystreamTableSize) {
      table(i) = h.toByte
      h = keystreamNext(h)
      i += 1
    }
    table
  }

  /** XOR `src(srcOff until srcOff + len)` with the keystream `table` (see
    * [[keystream]]) into `dst(dstOff ..)`. The keystream restarts at byte 0
    * for every call, exactly like `XorEncryptInto` re-reading `key_id_hash_`
    * per invocation (`basic_xor_encryptor.cpp:30-46`) — this is what makes
    * per-element encryption deterministic and equality-preserving.
    */
  def xorKeystream(table: Array[Byte], src: Array[Byte], srcOff: Int,
      dst: Array[Byte], dstOff: Int, len: Int): Unit = {
    var i = 0
    while (i < len) {
      val k = if (i < KeystreamTableSize) i else 32 + (i & 31)
      dst(dstOff + i) = (src(srcOff + i) ^ table(k)).toByte
      i += 1
    }
  }
}
