package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import scala.collection.mutable.ArrayBuffer

/** The value-list pass as separate steps, one array per value: split the
  * PLAIN bytes, encrypt each value, frame the list, and the inverse. The
  * one-pass [[WireFormat.encryptPerValue]] / [[WireFormat.decryptPerValue]]
  * must give the same bytes and fail on the same inputs; `ValueListSpec`
  * checks both.
  */
object ValueListReference {

  def splitValueBytes(valueBytes: Array[Byte], numElements: Int,
      width: Option[Int]): Seq[Array[Byte]] = width match {
    case Some(w) =>
      if (valueBytes.length != numElements.toLong * w)
        throw new GraftInvalidInputException(
          s"value bytes length ${valueBytes.length} != $numElements elements × $w bytes")
      (0 until numElements).map(i =>
        java.util.Arrays.copyOfRange(valueBytes, i * w, (i + 1) * w))
    case None =>
      if (numElements > valueBytes.length / 4)
        throw new GraftInvalidInputException(
          s"BYTE_ARRAY element count $numElements exceeds the ${valueBytes.length} value bytes")
      val buf = ByteBuffer.wrap(valueBytes).order(ByteOrder.LITTLE_ENDIAN)
      val out = new ArrayBuffer[Array[Byte]]
      var i = 0
      while (i < numElements) {
        if (buf.remaining() < 4)
          throw new GraftInvalidInputException(s"truncated BYTE_ARRAY length prefix at element $i")
        val len = buf.getInt()
        if (len < 0 || len > buf.remaining())
          throw new GraftInvalidInputException(
            s"BYTE_ARRAY element $i length $len exceeds remaining ${buf.remaining()}")
        val e = new Array[Byte](len)
        buf.get(e)
        out += e
        i += 1
      }
      if (buf.remaining() != 0)
        throw new GraftInvalidInputException(
          s"${buf.remaining()} trailing bytes after BYTE_ARRAY values")
      out.toSeq
  }

  def joinValueBytes(elements: Seq[Array[Byte]], width: Option[Int]): Array[Byte] =
    width match {
      case Some(w) =>
        elements.foreach { e =>
          if (e.length != w)
            throw new GraftInvalidInputException(s"decrypted element width ${e.length} != $w")
        }
        elements.foldLeft(Array.emptyByteArray)(_ ++ _)
      case None =>
        val out = ByteBuffer.allocate(elements.map(_.length + 4).sum)
          .order(ByteOrder.LITTLE_ENDIAN)
        elements.foreach { e => out.putInt(e.length); out.put(e) }
        out.array()
    }

  def encryptValueList(codec: CryptoCodec, elements: Seq[Array[Byte]],
      fixedElementSize: Option[Int]): Array[Byte] = fixedElementSize match {
    case Some(_) =>
      val encrypted = elements.map(codec.encrypt)
      val encW = if (encrypted.isEmpty) 0 else encrypted.head.length
      val out = ByteBuffer.allocate(9 + encW * encrypted.size).order(ByteOrder.LITTLE_ENDIAN)
      out.put(WireFormat.FixedTag).putInt(encrypted.size).putInt(encW)
      encrypted.foreach(out.put)
      out.array()
    case None =>
      val encrypted = elements.map(codec.encrypt)
      val out = ByteBuffer.allocate(5 + encrypted.map(_.length + 4).sum)
        .order(ByteOrder.LITTLE_ENDIAN)
      out.put(WireFormat.VariableTag).putInt(encrypted.size)
      encrypted.foreach { e => out.putInt(e.length); out.put(e) }
      out.array()
  }

  def decryptValueList(codec: CryptoCodec, payload: Array[Byte]): Seq[Array[Byte]] = {
    if (payload.length < 5)
      throw new GraftInvalidInputException(s"value-list payload too short: ${payload.length}")
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val tag = buf.get()
    val count = buf.getInt()
    if (count < 0) throw new GraftInvalidInputException(s"negative element count $count")
    tag match {
      case WireFormat.FixedTag =>
        if (payload.length < 9)
          throw new GraftInvalidInputException("fixed value-list header truncated")
        val elemSize = buf.getInt()
        if (elemSize < 0) throw new GraftInvalidInputException(s"negative element size $elemSize")
        if (count > 0 && elemSize == 0)
          throw new GraftInvalidInputException(s"zero element size for $count elements")
        if (buf.remaining() != count.toLong * elemSize)
          throw new GraftInvalidInputException("fixed value-list length mismatch")
        (0 until count).map { _ =>
          val e = new Array[Byte](elemSize)
          buf.get(e)
          codec.decrypt(e)
        }
      case WireFormat.VariableTag =>
        if (count > buf.remaining() / 4)
          throw new GraftInvalidInputException(s"element count $count exceeds the bytes present")
        val out = new ArrayBuffer[Array[Byte]]
        var i = 0
        while (i < count) {
          if (buf.remaining() < 4)
            throw new GraftInvalidInputException(s"truncated length prefix at element $i")
          val len = buf.getInt()
          if (len < 0 || len > buf.remaining())
            throw new GraftInvalidInputException(s"element $i length $len exceeds remaining")
          val e = new Array[Byte](len)
          buf.get(e)
          out += codec.decrypt(e)
          i += 1
        }
        if (buf.remaining() != 0)
          throw new GraftInvalidInputException(s"${buf.remaining()} trailing bytes after value list")
        out.toSeq
      case other =>
        throw new GraftInvalidInputException(f"unknown value-list tag 0x$other%02x")
    }
  }

  /** A page's per-value ciphertext, step by step. */
  def encryptPerValue(codec: CryptoCodec, levels: Array[Byte], valueBytes: Array[Byte],
      count: Int, width: Option[Int]): Array[Byte] =
    WireFormat.joinWithLengthPrefix(codec.encrypt(levels),
      encryptValueList(codec, splitValueBytes(valueBytes, count, width), width))

  def decryptPerValue(codec: CryptoCodec, ciphertext: Array[Byte],
      width: Option[Int]): (Array[Byte], Array[Byte]) = {
    val (levels, values) = WireFormat.splitWithLengthPrefix(ciphertext)
    (codec.decrypt(levels), joinValueBytes(decryptValueList(codec, values), width))
  }
}
