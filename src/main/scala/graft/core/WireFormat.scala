package graft.core

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

  /** Validate a framed cell header in place against the column's `mode`
    * → the plaintext length; the ciphertext is `cell(CellHeaderLen ..)`,
    * never copied here. Fails cleanly on malformed input (FIXTURES.md §2
    * discipline).
    */
  def validateCellHeader(cell: Array[Byte], mode: Byte): Int = {
    if (cell.length < CellHeaderLen)
      throw new GraftInvalidInputException(
        s"ciphertext too short: ${cell.length} < header $CellHeaderLen")
    if (cell(0) != CellMagic)
      throw new GraftInvalidInputException(f"bad magic 0x${cell(0)}%02x, expected 0xd8")
    if (cell(1) != CellVersion)
      throw new GraftInvalidInputException(s"unsupported cell version ${cell(1)}")
    val cellMode = cell(2)
    if (cellMode != ModePerValueFixed && cellMode != ModePerValueVariable &&
        cellMode != ModePerBlock)
      throw new GraftInvalidInputException(f"unknown mode byte 0x$cellMode%02x")
    val plen = (cell(3) & 0xff) | ((cell(4) & 0xff) << 8) |
      ((cell(5) & 0xff) << 16) | ((cell(6) & 0xff) << 24)
    if (plen < 0)
      throw new GraftInvalidInputException(s"negative plaintext length $plen")
    if (cellMode != mode)
      throw new GraftInvalidInputException(
        f"mode mismatch: cell has 0x$cellMode%02x, column policy expects 0x$mode%02x")
    plen
  }

  // ------------------------------------------------- batch value list ----

  @inline private[core] def getU32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  @inline private[core] def putU32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte
    b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte
    b(off + 3) = (v >>> 24).toByte
  }

  private def allocate(n: Long): Array[Byte] = {
    if (n > Int.MaxValue - 8)
      throw new GraftInvalidInputException(s"value list of $n bytes exceeds the largest array")
    new Array[Byte](n.toInt)
  }

  /** Bytes of the value list [[encryptValues]] writes: every size is known
    * before a value is encrypted, since a ciphertext is its plaintext plus
    * the codec's overhead.
    */
  private def valueListLength(codec: CryptoCodec, values: PageCodec.PlainValues): Long =
    (if (values.width.isDefined) 9L else 5L) + values.bytes.length +
      values.count.toLong * codec.overhead

  /** Encrypt PLAIN values into the reference's per-value layout at
    * `out(off until off + valueListLength)`, each value straight from the
    * page bytes into its slot. Keystream/IV restarts per element (each
    * element is an independent `encryptInto` call), matching
    * `EncryptTypedElements` (`basic_xor_encryptor.cpp:103-165`).
    */
  private def encryptValues(codec: CryptoCodec, values: PageCodec.PlainValues,
      out: Array[Byte], off: Int): Unit = {
    val overhead = codec.overhead
    val fixed = values.width.isDefined
    out(off) = if (fixed) FixedTag else VariableTag
    putU32(out, off + 1, values.count)
    var pos = off + 5
    if (fixed) {
      putU32(out, pos, if (values.count == 0) 0 else values.width.get + overhead)
      pos += 4
    }
    var i = 0
    while (i < values.count) {
      val len = values.length(i)
      if (!fixed) {
        putU32(out, pos, len + overhead)
        pos += 4
      }
      codec.encryptInto(values.bytes, values.start(i), len, out, pos)
      pos += len + overhead
      i += 1
    }
  }

  /** Inverse of [[encryptValues]]: the value list `data(off until off + len)`
    * → PLAIN value bytes, each value decrypted straight from the list into
    * its slot. `width` is the layout to write — back to back, every value
    * exactly `w` bytes, or `[u32 LE len][bytes]` per value when None — and
    * either layout reads either list tag. Fails cleanly on malformed input
    * (FIXTURES.md §2 discipline).
    */
  private def decryptValues(codec: CryptoCodec, data: Array[Byte], off: Int, len: Int,
      width: Option[Int]): Array[Byte] = {
    if (len < 5)
      throw new GraftInvalidInputException(s"value-list payload too short: $len")
    val count = getU32(data, off + 1)
    if (count < 0)
      throw new GraftInvalidInputException(s"negative element count $count")
    val overhead = codec.overhead
    val w = width.getOrElse(-1)
    val end = off + len
    val fixedTag = data(off) match {
      case FixedTag => true
      case VariableTag => false
      case other => throw new GraftInvalidInputException(f"unknown value-list tag 0x$other%02x")
    }
    if (fixedTag && len < 9)
      throw new GraftInvalidInputException("fixed value-list header truncated")
    val elemSize = if (fixedTag) getU32(data, off + 5) else -1
    var pos = off + (if (fixedTag) 9 else 5)
    // bound the untrusted count by the bytes present before any allocation
    // depends on it, and size the output
    val size: Long =
      if (fixedTag) {
        if (elemSize < 0)
          throw new GraftInvalidInputException(s"negative element size $elemSize")
        if (count > 0 && elemSize == 0)
          throw new GraftInvalidInputException(s"zero element size for $count elements")
        if (end - pos != count.toLong * elemSize)
          throw new GraftInvalidInputException(
            s"fixed value-list length mismatch: ${end - pos} != $count*$elemSize")
        if (count > 0 && elemSize < overhead) throw tooShort(0, elemSize, overhead)
        if (count > 0 && w >= 0 && elemSize - overhead != w) throw wrongWidth(elemSize - overhead, w)
        count.toLong * (if (w >= 0) w else 4 + elemSize - overhead)
      } else {
        // every element carries a 4-byte length prefix and its ciphertext
        // at least the codec's overhead (and exactly w + overhead for w)
        if (count.toLong * (4 + overhead + math.max(w, 0)) > end - pos)
          throw new GraftInvalidInputException(
            s"element count $count exceeds the ${end - pos} bytes present")
        if (w >= 0) count.toLong * w else end - pos - count.toLong * overhead
      }
    val out = allocate(size)
    var o = 0
    var i = 0
    while (i < count) {
      val clen =
        if (fixedTag) elemSize
        else {
          if (end - pos < 4)
            throw new GraftInvalidInputException(s"truncated length prefix at element $i")
          val l = getU32(data, pos)
          pos += 4
          if (l < 0 || l > end - pos)
            throw new GraftInvalidInputException(
              s"element $i length $l exceeds remaining ${end - pos}")
          if (l < overhead) throw tooShort(i, l, overhead)
          l
        }
      val plen = clen - overhead
      if (w >= 0) {
        if (plen != w) throw wrongWidth(plen, w)
      } else {
        if (plen > out.length - o - 4)
          throw new GraftInvalidInputException(
            s"element $i length $clen leaves too few bytes for the ${count - i - 1} after it")
        putU32(out, o, plen)
        o += 4
      }
      codec.decryptInto(data, pos, clen, out, o)
      o += plen
      pos += clen
      i += 1
    }
    if (pos != end)
      throw new GraftInvalidInputException(s"${end - pos} trailing bytes after value list")
    out
  }

  private def tooShort(i: Int, len: Int, overhead: Int) = new GraftInvalidInputException(
    s"element $i ciphertext of $len bytes is shorter than the $overhead-byte cipher overhead")

  private def wrongWidth(got: Int, w: Int) =
    new GraftInvalidInputException(s"decrypted element width $got != $w")

  /** Encrypt a batch of serialized elements into the reference's exact
    * per-value layout ([[encryptValues]] over the elements' PLAIN bytes).
    */
  def encryptValueList(
      codec: CryptoCodec,
      elements: Seq[Array[Byte]],
      fixedElementSize: Option[Int]): Array[Byte] = {
    fixedElementSize.foreach { w =>
      elements.foreach { e =>
        if (e.length != w)
          throw new GraftInvalidInputException(
            s"fixed element width mismatch: ${e.length} != $w")
      }
    }
    val values = PageCodec.PlainValues(
      PageCodec.joinPlain(elements, fixedElementSize), elements.size, fixedElementSize)
    val out = allocate(valueListLength(codec, values))
    encryptValues(codec, values, out, 0)
    out
  }

  /** Inverse of [[encryptValueList]] → decrypted serialized elements, in the
    * list's own layout ([[decryptValues]]).
    */
  def decryptValueList(codec: CryptoCodec, payload: Array[Byte]): Seq[Array[Byte]] = {
    val width =
      if (payload.length >= 9 && payload(0) == FixedTag)
        Some(math.max(0, getU32(payload, 5) - codec.overhead))
      else None
    val plain = decryptValues(codec, payload, 0, payload.length, width)
    val values = PageCodec.PlainValues(plain, getU32(payload, 1), width)
    (0 until values.count).map(values.copy)
  }

  /** A page's per-value ciphertext `[u32 LE len][enc(levels)][value list]`,
    * the [[joinWithLengthPrefix]] of its two parts, in one allocation.
    */
  def encryptPerValue(codec: CryptoCodec, levels: Array[Byte],
      values: PageCodec.PlainValues): Array[Byte] = {
    val levelsLen = levels.length + codec.overhead
    val out = allocate(4L + levelsLen + valueListLength(codec, values))
    putU32(out, 0, levelsLen)
    codec.encryptInto(levels, out, 4)
    encryptValues(codec, values, out, 4 + levelsLen)
    out
  }

  /** Inverse of [[encryptPerValue]] → (levels, PLAIN value bytes in
    * `width`'s layout), both read in place from `ciphertext`.
    */
  def decryptPerValue(codec: CryptoCodec, ciphertext: Array[Byte],
      width: Option[Int]): (Array[Byte], Array[Byte]) = {
    val len = leadingLength(ciphertext)
    val levels = new Array[Byte](math.max(0, len - codec.overhead))
    codec.decryptInto(ciphertext, 4, len, levels, 0)
    (levels, decryptValues(codec, ciphertext, 4 + len, ciphertext.length - 4 - len, width))
  }

  /** The checked `leading_len` of a [[joinWithLengthPrefix]] payload. */
  private def leadingLength(data: Array[Byte]): Int = {
    if (data.length < 4)
      throw new GraftInvalidInputException("length-prefixed payload too short")
    val len = getU32(data, 0)
    if (len < 0 || len > data.length - 4)
      throw new GraftInvalidInputException(
        s"leading length $len exceeds payload ${data.length - 4}")
    len
  }

  /** `JoinWithLengthPrefix` — `[u32 LE leading_len][leading][trailing]`
    * (`bytes_utils.h:284-302`).
    */
  def joinWithLengthPrefix(leading: Array[Byte], trailing: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](4 + leading.length + trailing.length)
    putU32(out, 0, leading.length)
    System.arraycopy(leading, 0, out, 4, leading.length)
    System.arraycopy(trailing, 0, out, 4 + leading.length, trailing.length)
    out
  }

  /** Inverse of [[joinWithLengthPrefix]] (`bytes_utils.h:304-343`). */
  def splitWithLengthPrefix(data: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val len = leadingLength(data)
    (java.util.Arrays.copyOfRange(data, 4, 4 + len),
      java.util.Arrays.copyOfRange(data, 4 + len, data.length))
  }
}
