package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** Encrypted wire formats.
  *
  * 1. **Batch value-list format** — byte-exact reproduction of the reference's
  *    per-value layout (`/root/reference/src/processing/encryptors/encryptor_utils.h:29-45`):
  *    {{{
  *    Fixed:    [0x01][u32 LE element_count][u32 LE element_size] <contiguous encrypted elements>
  *    Variable: [0x00][u32 LE element_count] <[u32 LE len][encrypted payload]>*
  *    }}}
  *    and the full-result join `[u32 LE leading_len][leading][trailing]`
  *    (`bytes_utils.h:284-302`, `encryption_sequencer.cpp:150`).
  *
  * 2. **Cell format** — the engine's Spark-native unit is one cell, not one
  *    page, so per-cell ciphertexts carry a small self-describing header that
  *    gives decrypt-time validation (the analog of the reference's
  *    version/mode checks, `encryption_sequencer.cpp:335-365`):
  *    {{{
  *    [0xD8 magic][0x01 version][mode][u32 LE plaintext_len][ciphertext]
  *    }}}
  *    mode: 0x11 per-value fixed, 0x10 per-value variable, 0x02 per-block.
  */
object WireFormat {
  final val FixedTag: Byte = 0x01 // encryptor_utils.h:30 kFixedSizeTag
  final val VariableTag: Byte = 0x00 // encryptor_utils.h:31 kVariableSizeTag

  final val CellMagic: Byte = 0xd8.toByte
  final val CellVersion: Byte = 0x01
  final val ModePerValueFixed: Byte = 0x11
  final val ModePerValueVariable: Byte = 0x10
  final val ModePerBlock: Byte = 0x02
  final val CellHeaderLen = 7

  @inline private def u32(b: ByteBuffer, v: Int): Unit = b.putInt(v)

  // ---------------------------------------------------------------- cell ----

  /** Write the 7-byte cell header into `out(0..6)` (little-endian length). */
  def writeCellHeader(out: Array[Byte], mode: Byte, plaintextLen: Int): Unit = {
    out(0) = CellMagic
    out(1) = CellVersion
    out(2) = mode
    out(3) = (plaintextLen & 0xff).toByte
    out(4) = ((plaintextLen >>> 8) & 0xff).toByte
    out(5) = ((plaintextLen >>> 16) & 0xff).toByte
    out(6) = ((plaintextLen >>> 24) & 0xff).toByte
  }

  /** Validate a framed cell header in place → (mode, plaintextLen); the
    * ciphertext is `cell(CellHeaderLen ..)`, never copied here. Fails cleanly
    * on malformed input (FIXTURES.md §2 discipline).
    */
  def validateCellHeader(cell: Array[Byte]): (Byte, Int) = {
    if (cell.length < CellHeaderLen)
      throw new GraftInvalidInputException(
        s"ciphertext too short: ${cell.length} < header $CellHeaderLen")
    if (cell(0) != CellMagic)
      throw new GraftInvalidInputException(f"bad magic 0x${cell(0)}%02x, expected 0xd8")
    if (cell(1) != CellVersion)
      throw new GraftInvalidInputException(s"unsupported cell version ${cell(1)}")
    val mode = cell(2)
    if (mode != ModePerValueFixed && mode != ModePerValueVariable && mode != ModePerBlock)
      throw new GraftInvalidInputException(f"unknown mode byte 0x$mode%02x")
    val plen = (cell(3) & 0xff) | ((cell(4) & 0xff) << 8) |
      ((cell(5) & 0xff) << 16) | ((cell(6) & 0xff) << 24)
    if (plen < 0)
      throw new GraftInvalidInputException(s"negative plaintext length $plen")
    (mode, plen)
  }

  // ------------------------------------------------- batch value list ----

  /** Encrypt a batch of serialized elements into the reference's exact
    * per-value layout. Keystream/IV restarts per element (each element is an
    * independent `codec.encrypt` call), matching `EncryptTypedElements`
    * (`basic_xor_encryptor.cpp:103-165`).
    */
  def encryptValueList(
      codec: CryptoCodec,
      elements: Seq[Array[Byte]],
      fixedElementSize: Option[Int]): Array[Byte] = {
    fixedElementSize match {
      case Some(w) =>
        elements.foreach { e =>
          if (e.length != w)
            throw new GraftInvalidInputException(
              s"fixed element width mismatch: ${e.length} != $w")
        }
        val encrypted = elements.map(codec.encrypt)
        val encW = if (encrypted.isEmpty) 0 else encrypted.head.length
        if (encrypted.exists(_.length != encW))
          throw new GraftInvalidInputException(
            "codec produced variable ciphertext sizes for fixed elements")
        val out = ByteBuffer
          .allocate(9 + encW * encrypted.size).order(ByteOrder.LITTLE_ENDIAN)
        out.put(FixedTag)
        u32(out, encrypted.size)
        u32(out, if (encrypted.isEmpty) 0 else encW)
        encrypted.foreach(out.put)
        out.array()
      case None =>
        val encrypted = elements.map(codec.encrypt)
        val total = encrypted.map(_.length + 4).sum
        val out = ByteBuffer.allocate(5 + total).order(ByteOrder.LITTLE_ENDIAN)
        out.put(VariableTag)
        u32(out, encrypted.size)
        encrypted.foreach { e => u32(out, e.length); out.put(e) }
        out.array()
    }
  }

  /** Inverse of [[encryptValueList]] → decrypted serialized elements. */
  def decryptValueList(codec: CryptoCodec, payload: Array[Byte]): Seq[Array[Byte]] = {
    if (payload.length < 5)
      throw new GraftInvalidInputException(
        s"value-list payload too short: ${payload.length}")
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val tag = buf.get()
    val count = buf.getInt()
    if (count < 0)
      throw new GraftInvalidInputException(s"negative element count $count")
    tag match {
      case FixedTag =>
        if (payload.length < 9)
          throw new GraftInvalidInputException("fixed value-list header truncated")
        val elemSize = buf.getInt()
        if (elemSize < 0)
          throw new GraftInvalidInputException(s"negative element size $elemSize")
        if (count > 0 && elemSize == 0)
          throw new GraftInvalidInputException(s"zero element size for $count elements")
        if (buf.remaining() != count.toLong * elemSize)
          throw new GraftInvalidInputException(
            s"fixed value-list length mismatch: ${buf.remaining()} != $count*$elemSize")
        (0 until count).map { _ =>
          val e = new Array[Byte](elemSize)
          buf.get(e)
          codec.decrypt(e)
        }
      case VariableTag =>
        // every element carries a 4-byte length prefix: bound the untrusted
        // count by the bytes present before any allocation depends on it
        if (count > buf.remaining() / 4)
          throw new GraftInvalidInputException(
            s"element count $count exceeds the ${buf.remaining()} bytes present")
        val out = new ArrayBuffer[Array[Byte]]
        var i = 0
        while (i < count) {
          if (buf.remaining() < 4)
            throw new GraftInvalidInputException(s"truncated length prefix at element $i")
          val len = buf.getInt()
          if (len < 0 || len > buf.remaining())
            throw new GraftInvalidInputException(
              s"element $i length $len exceeds remaining ${buf.remaining()}")
          val e = new Array[Byte](len)
          buf.get(e)
          out += codec.decrypt(e)
          i += 1
        }
        if (buf.remaining() != 0)
          throw new GraftInvalidInputException(
            s"${buf.remaining()} trailing bytes after value list")
        out.toSeq
      case other =>
        throw new GraftInvalidInputException(f"unknown value-list tag 0x$other%02x")
    }
  }

  /** `JoinWithLengthPrefix` — `[u32 LE leading_len][leading][trailing]`
    * (`bytes_utils.h:284-302`).
    */
  def joinWithLengthPrefix(leading: Array[Byte], trailing: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(4 + leading.length + trailing.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    u32(out, leading.length)
    out.put(leading).put(trailing)
    out.array()
  }

  /** Inverse of [[joinWithLengthPrefix]] (`bytes_utils.h:304-343`). */
  def splitWithLengthPrefix(data: Array[Byte]): (Array[Byte], Array[Byte]) = {
    if (data.length < 4)
      throw new GraftInvalidInputException("length-prefixed payload too short")
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val len = buf.getInt()
    if (len < 0 || len > data.length - 4)
      throw new GraftInvalidInputException(
        s"leading length $len exceeds payload ${data.length - 4}")
    (java.util.Arrays.copyOfRange(data, 4, 4 + len),
      java.util.Arrays.copyOfRange(data, 4 + len, data.length))
  }
}
