package graft.core

import java.nio.{ByteBuffer, ByteOrder}

/** Feature-gap failure: the per-value path cannot handle this input shape and
  * the sequencer may fall back to per-block — the analog of the reference's
  * `DBPSUnsupportedException` (`/root/reference/src/common/exceptions.h`).
  */
class GraftUnsupportedException(msg: String) extends RuntimeException(msg)

/** Parquet page byte machinery — the engine-side port of
  * `/root/reference/src/processing/parquet_utils.cpp`: a caller holding raw
  * page payloads + `encoding_attributes` (the reference's only kind of
  * caller) gets the same split/count/join semantics here, feeding the same
  * [[WireFormat]] value-list layout the cell path uses.
  *
  * Inside Spark jobs none of this runs — the engine protects typed cells
  * above the Parquet reader (SURVEY §1.3). This module exists for API parity
  * with page-level callers, so it reproduces the reference's validation
  * discipline byte for byte (truncation, trailing bytes, level bounds).
  */
object PageCodec {

  // ------------------------------------------------------------ attributes --

  sealed trait PageType { def name: String }
  case object DataPageV1 extends PageType { val name = "DATA_PAGE_V1" }
  case object DataPageV2 extends PageType { val name = "DATA_PAGE_V2" }
  case object DictionaryPage extends PageType { val name = "DICTIONARY_PAGE" }

  /** Typed view of `encoding_attributes`, validated like
    * `ConvertEncodingAttributesToValues` (`encryption_sequencer.cpp:260-303`):
    * required keys per page type, integer values must parse.
    */
  final case class PageAttributes(
      pageType: PageType,
      numValues: Int, // logical rows incl. nulls (data pages)
      maxDefLevel: Int,
      maxRepLevel: Int,
      v1DefLevelEncoding: String,
      v1RepLevelEncoding: String,
      v2DefLevelBytes: Int,
      v2RepLevelBytes: Int,
      v2NumNulls: Int,
      v2IsCompressed: Boolean,
      dictNumValues: Int,
      pageEncoding: String)

  def parseAttributes(attrs: Map[String, String]): PageAttributes = {
    def str(key: String): String = attrs.getOrElse(key,
      throw new GraftInvalidInputException(s"encoding_attributes missing key '$key'"))
    def int(key: String): Int =
      try str(key).toInt
      catch { case _: NumberFormatException =>
        throw new GraftInvalidInputException(
          s"encoding_attributes['$key'] is not an integer: '${attrs(key)}'") }
    def bool(key: String): Boolean = str(key) match {
      case "true" => true
      case "false" => false
      case other => throw new GraftInvalidInputException(
        s"encoding_attributes['$key'] is not a boolean: '$other'")
    }
    val pageType = str("page_type") match {
      case DataPageV1.name => DataPageV1
      case DataPageV2.name => DataPageV2
      case DictionaryPage.name => DictionaryPage
      case other => throw new GraftInvalidInputException(s"Unexpected page type: $other")
    }
    val (nv, mdl, mrl) =
      if (pageType != DictionaryPage)
        (int("data_page_num_values"), int("data_page_max_definition_level"),
          int("data_page_max_repetition_level"))
      else (0, 0, 0)
    PageAttributes(
      pageType = pageType,
      numValues = nv, maxDefLevel = mdl, maxRepLevel = mrl,
      v1DefLevelEncoding =
        if (pageType == DataPageV1) str("page_v1_definition_level_encoding") else "",
      v1RepLevelEncoding =
        if (pageType == DataPageV1) str("page_v1_repetition_level_encoding") else "",
      v2DefLevelBytes =
        if (pageType == DataPageV2) int("page_v2_definition_levels_byte_length") else 0,
      v2RepLevelBytes =
        if (pageType == DataPageV2) int("page_v2_repetition_levels_byte_length") else 0,
      v2NumNulls = if (pageType == DataPageV2) int("page_v2_num_nulls") else 0,
      v2IsCompressed = if (pageType == DataPageV2) bool("page_v2_is_compressed") else false,
      dictNumValues = if (pageType == DictionaryPage) int("dict_page_num_values") else 0,
      // ExtractPageEncoding (dbpa_utils.h:66-76): default PLAIN when absent
      pageEncoding = attrs.getOrElse("page_encoding", "PLAIN"))
  }

  // --------------------------------------------- V1 definition-level decode --

  /** One unsigned LEB128 run header; advances and returns (value, newOffset)
    * (`parquet_utils.cpp:47-64`). RLE run when (header&1)==0; bit-packed when
    * (header&1)==1 with run_length = (header>>1)*8.
    */
  def readV1RunHeaderUleb128(bytes: Array[Byte], offset: Int): (Int, Int) = {
    var value = 0
    var shift = 0
    var off = offset
    while (true) {
      if (off >= bytes.length)
        throw new GraftInvalidInputException(
          "Invalid DATA_PAGE_V1 level stream: truncated varint header")
      val b = bytes(off); off += 1
      value |= (b & 0x7f) << shift
      if ((b & 0x80) == 0) return (value, off)
      shift += 7
      if (shift > 28)
        throw new GraftInvalidInputException(
          "Invalid DATA_PAGE_V1 level stream: varint header too large")
    }
    throw new IllegalStateException("unreachable")
  }

  /** Decode a V1 definition-level payload (hybrid RLE/bit-packed) and count
    * values at `maxDefLevel` — the page's present (non-null) value count
    * (`CountPresentValuesFromDefinitionLevelsV1`, `parquet_utils.cpp:80-184`).
    * The V1 header carries no num_nulls, so this parse is the only way to
    * size the value section.
    */
  def countPresentValuesFromDefinitionLevelsV1(
      defPayload: Array[Byte], numValues: Int, maxDefLevel: Int): Int = {
    if (numValues < 0)
      throw new GraftInvalidInputException(
        s"Invalid V1 definition levels: num_values must be non-negative, got $numValues")
    if (maxDefLevel <= 0)
      throw new GraftInvalidInputException(
        s"Invalid V1 definition levels: max_def_level must be positive, got $maxDefLevel")
    // bit width = ceil(log2(maxDefLevel + 1))
    var bitWidth = 0
    var domain = maxDefLevel
    while (domain > 0) { bitWidth += 1; domain >>= 1 }

    var present = 0
    var decoded = 0
    var off = 0
    while (decoded < numValues) {
      val (header, afterHeader) = readV1RunHeaderUleb128(defPayload, off)
      off = afterHeader
      if ((header & 1) == 0) {
        // RLE run: repeated value in ceil(bitWidth/8) bytes
        val runLen = header >>> 1
        val remaining = numValues - decoded
        if (runLen == 0 || runLen > remaining)
          throw new GraftInvalidInputException(
            "Invalid DATA_PAGE_V1 definition levels: invalid RLE run length")
        val byteWidth = (bitWidth + 7) / 8
        if (off + byteWidth > defPayload.length)
          throw new GraftInvalidInputException(
            "Invalid V1 definition levels: truncated RLE run value")
        var level = 0
        var i = 0
        while (i < byteWidth) { level |= (defPayload(off + i) & 0xff) << (8 * i); i += 1 }
        off += byteWidth
        if (level > maxDefLevel)
          throw new GraftInvalidInputException(
            "Invalid DATA_PAGE_V1 definition levels: decoded level exceeds max_def_level")
        if (level == maxDefLevel) present += runLen
        decoded += runLen
      } else {
        // bit-packed run: (header>>1) groups of 8 values each
        val numGroups = header >>> 1
        if (numGroups == 0)
          throw new GraftInvalidInputException(
            "Invalid DATA_PAGE_V1 definition levels: invalid bit-packed run length")
        val runLen = numGroups * 8
        val remaining = numValues - decoded
        val byteLen = (runLen * bitWidth + 7) / 8
        if (off + byteLen > defPayload.length)
          throw new GraftInvalidInputException(
            "Invalid DATA_PAGE_V1 definition levels: truncated bit-packed run payload")
        val runStart = off
        off += byteLen
        // final run may pad to a full 8-value group: decode logical values only
        val toDecode = math.min(runLen, remaining)
        var i = 0
        while (i < toDecode) {
          var level = 0
          var b = 0
          while (b < bitWidth) {
            val absBit = i * bitWidth + b
            val bit = (defPayload(runStart + absBit / 8) >>> (absBit % 8)) & 1
            level |= bit << b
            b += 1
          }
          if (level > maxDefLevel)
            throw new GraftInvalidInputException(
              "Invalid DATA_PAGE_V1 definition levels: decoded level exceeds max_def_level")
          if (level == maxDefLevel) present += 1
          i += 1
        }
        decoded += toDecode
      }
    }
    if (off != defPayload.length)
      throw new GraftInvalidInputException(
        "Invalid DATA_PAGE_V1 definition levels: trailing bytes after decoding")
    present
  }

  /** Read one `[u32 LE len][payload]` block → (payload, newOffset)
    * (`ReadV1LengthPrefixedPayload`, `parquet_utils.cpp:191-204`).
    */
  def readV1LengthPrefixedPayload(bytes: Array[Byte], offset: Int): (Array[Byte], Int) = {
    if (offset + 4 > bytes.length)
      throw new GraftInvalidInputException(
        "Invalid Parquet DATA_PAGE_V1 level bytes: missing 4-byte length prefix")
    val len = ByteBuffer.wrap(bytes, offset, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    val start = offset + 4
    if (len < 0 || len > bytes.length - start)
      throw new GraftInvalidInputException(
        "Invalid Parquet DATA_PAGE_V1 level bytes: length-prefixed block exceeds bounds")
    (java.util.Arrays.copyOfRange(bytes, start, start + len), start + len)
  }

  /** Skip rep levels (when present) and return the def-level payload
    * (`ReadDefinitionLevelBytesV1`, `parquet_utils.cpp:207-222`).
    */
  def readDefinitionLevelBytesV1(levelBytes: Array[Byte], maxRepLevel: Int): Array[Byte] = {
    var off = 0
    if (maxRepLevel > 0) off = readV1LengthPrefixedPayload(levelBytes, off)._2
    val (defPayload, end) = readV1LengthPrefixedPayload(levelBytes, off)
    if (end != levelBytes.length)
      throw new GraftInvalidInputException(
        "Invalid Parquet DATA_PAGE_V1 level bytes: trailing bytes after definition levels block")
    defPayload
  }

  /** Total level-bytes length at the head of `raw`
    * (`CalculateLevelBytesLength`, `parquet_utils.cpp:230-290`).
    */
  def calculateLevelBytesLength(raw: Array[Byte], attrs: PageAttributes): Int = {
    val total = attrs.pageType match {
      case DataPageV2 =>
        // Sum as Long BEFORE sign-checking: the reference checks the summed
        // total, which also catches Int overflow (2^30 + 2^30 wraps negative
        // and would otherwise slip past the 'exceeds data size' bound).
        val totalL = attrs.v2DefLevelBytes.toLong + attrs.v2RepLevelBytes.toLong
        if (attrs.v2DefLevelBytes < 0 || attrs.v2RepLevelBytes < 0 ||
            totalL < 0 || totalL > Int.MaxValue)
          throw new GraftInvalidInputException(
            s"Invalid level bytes calculation: negative total_level_bytes=$totalL")
        totalL.toInt
      case DataPageV1 =>
        if (attrs.v1RepLevelEncoding != "RLE" || attrs.v1DefLevelEncoding != "RLE")
          throw new GraftInvalidInputException(
            s"Invalid encoding for DATA_PAGE_V1: repetition_level_encoding=" +
              s"${attrs.v1RepLevelEncoding}, definition_level_encoding=" +
              s"${attrs.v1DefLevelEncoding} (only RLE is expected)")
        var off = 0
        if (attrs.maxRepLevel > 0) off = readV1LengthPrefixedPayload(raw, off)._2
        if (attrs.maxDefLevel > 0) off = readV1LengthPrefixedPayload(raw, off)._2
        off
      case DictionaryPage => 0
    }
    if (total > raw.length)
      throw new GraftInvalidInputException(
        s"Invalid level bytes calculation: total_level_bytes=$total exceeds data size=${raw.length}")
    total
  }

  // ------------------------------------------------------------ compression --

  final val Uncompressed = "UNCOMPRESSED"
  final val Snappy = "SNAPPY"

  /** Reference per-value support: UNCOMPRESSED and SNAPPY only
    * (`encryption_sequencer.cpp:160-162`); anything else is a feature gap →
    * [[GraftUnsupportedException]] so the sequencer can fall back per-block.
    */
  def decompress(data: Array[Byte], compression: String): Array[Byte] = compression match {
    case Uncompressed => data
    case Snappy => org.xerial.snappy.Snappy.uncompress(data)
    case other => throw new GraftUnsupportedException(s"Unsupported compression: $other")
  }

  def compress(data: Array[Byte], compression: String): Array[Byte] = compression match {
    case Uncompressed => data
    case Snappy => org.xerial.snappy.Snappy.compress(data)
    case other => throw new GraftUnsupportedException(s"Unsupported compression: $other")
  }

  // --------------------------------------------------------- split and join --

  final case class LevelAndValueBytes(
      levelBytes: Array[Byte], valueBytes: Array[Byte], numElements: Int)

  /** Split a page payload into level bytes + decompressed value bytes +
    * present-value count (`DecompressAndSplit`, `parquet_utils.cpp:296-375`).
    * V1 compresses the whole payload; V2 compresses only the value section;
    * DICTIONARY has no levels.
    */
  def decompressAndSplit(plaintext: Array[Byte], compression: String,
      attrs: PageAttributes): LevelAndValueBytes = attrs.pageType match {
    case DataPageV1 =>
      val raw = decompress(plaintext, compression)
      val levelLen = calculateLevelBytesLength(raw, attrs)
      val levelBytes = java.util.Arrays.copyOfRange(raw, 0, levelLen)
      val valueBytes = java.util.Arrays.copyOfRange(raw, levelLen, raw.length)
      val numElements =
        if (attrs.maxDefLevel == 0) attrs.numValues
        else countPresentValuesFromDefinitionLevelsV1(
          readDefinitionLevelBytesV1(levelBytes, attrs.maxRepLevel),
          attrs.numValues, attrs.maxDefLevel)
      LevelAndValueBytes(levelBytes, valueBytes, numElements)
    case DataPageV2 =>
      val levelLen = calculateLevelBytesLength(plaintext, attrs)
      val levelBytes = java.util.Arrays.copyOfRange(plaintext, 0, levelLen)
      val valueSection = java.util.Arrays.copyOfRange(plaintext, levelLen, plaintext.length)
      val valueBytes =
        if (attrs.v2IsCompressed) decompress(valueSection, compression) else valueSection
      if (attrs.v2NumNulls > attrs.numValues)
        throw new GraftInvalidInputException(
          s"Invalid num_nulls: ${attrs.v2NumNulls} > num_values: ${attrs.numValues} " +
            "in DATA_PAGE_V2 encoding attributes")
      LevelAndValueBytes(levelBytes, valueBytes, attrs.numValues - attrs.v2NumNulls)
    case DictionaryPage =>
      LevelAndValueBytes(Array.emptyByteArray,
        decompress(plaintext, compression), attrs.dictNumValues)
  }

  /** Inverse of [[decompressAndSplit]] (`CompressAndJoin`,
    * `parquet_utils.cpp:377-414`); re-validates the level-bytes length
    * against the attributes before joining.
    */
  def compressAndJoin(levelBytes: Array[Byte], valueBytes: Array[Byte],
      compression: String, attrs: PageAttributes): Array[Byte] = {
    val expected = calculateLevelBytesLength(levelBytes, attrs)
    if (expected != levelBytes.length)
      throw new GraftInvalidInputException(
        "Level bytes size does not match encoding attributes")
    attrs.pageType match {
      case DataPageV1 => compress(levelBytes ++ valueBytes, compression)
      case DataPageV2 =>
        if (attrs.v2IsCompressed) levelBytes ++ compress(valueBytes, compression)
        else levelBytes ++ valueBytes
      case DictionaryPage => compress(valueBytes, compression)
    }
  }

  // ---------------------------------------------------------- typed values --

  /** Parquet physical types the page surface accepts (enums.h Type). */
  final val PhysicalTypes =
    Set("INT32", "INT64", "FLOAT", "DOUBLE", "INT96", "BYTE_ARRAY",
      "FIXED_LEN_BYTE_ARRAY", "BOOLEAN")

  /** Fixed element width, None for BYTE_ARRAY (length-prefixed PLAIN). */
  def fixedWidth(physicalType: String, typeLength: Option[Int]): Option[Int] =
    physicalType match {
      case "INT32" | "FLOAT" => Some(4)
      case "INT64" | "DOUBLE" => Some(8)
      case "INT96" => Some(12)
      case "FIXED_LEN_BYTE_ARRAY" =>
        val len = typeLength.getOrElse(throw new GraftInvalidInputException(
          "FIXED_LEN_BYTE_ARRAY requires a positive datatype_length"))
        if (len <= 0) throw new GraftInvalidInputException(
          "FIXED_LEN_BYTE_ARRAY requires a positive datatype_length")
        Some(len)
      case "BYTE_ARRAY" => None
      case "BOOLEAN" =>
        throw new GraftUnsupportedException(
          "BOOLEAN values are bit-encoded and not expanded as bytes, so BOOLEAN is not supported.")
      case other =>
        throw new GraftInvalidInputException(s"Invalid datatype: $other")
    }

  /** A PLAIN value section whose layout has been checked: `count` values
    * of `width` bytes back to back, or with no width (BYTE_ARRAY)
    * `[u32 LE len][bytes]` per value, the prefix of value `i` at
    * `prefixes(i)`. The bytes are read in place, never copied per value.
    */
  final class PlainValues private (val bytes: Array[Byte], val count: Int,
      val width: Option[Int], prefixes: Array[Int]) {
    private val w = width.getOrElse(-1)

    /** Offset of value `i`'s bytes in [[bytes]]. */
    def start(i: Int): Int = if (w >= 0) i * w else prefixes(i) + 4

    def length(i: Int): Int = if (w >= 0) w else WireFormat.getU32(bytes, prefixes(i))

    def copy(i: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, start(i), start(i) + length(i))
  }

  object PlainValues {
    /** Check that `bytes` holds exactly `count` PLAIN values of `width` —
      * the typed-buffer bounds checks of
      * `ReinterpretValueBytesAsTypedValuesBuffer` (`parquet_utils.cpp:420-468`).
      */
    def apply(bytes: Array[Byte], count: Int, width: Option[Int]): PlainValues = width match {
      case Some(w) =>
        if (bytes.length != count.toLong * w)
          throw new GraftInvalidInputException(
            s"value bytes length ${bytes.length} != $count elements × $w bytes")
        new PlainValues(bytes, count, width, null)
      case None =>
        // the count comes from the request's attributes: bound it by the
        // 4-byte length prefixes the bytes can hold before allocating
        if (count > bytes.length / 4)
          throw new GraftInvalidInputException(
            s"BYTE_ARRAY element count $count exceeds the ${bytes.length} value bytes")
        val n = math.max(0, count) // a negative count reads as no values
        val prefixes = new Array[Int](n)
        var pos = 0
        var i = 0
        while (i < n) {
          if (bytes.length - pos < 4)
            throw new GraftInvalidInputException(
              s"truncated BYTE_ARRAY length prefix at element $i")
          val len = WireFormat.getU32(bytes, pos)
          val remaining = bytes.length - pos - 4
          if (len < 0 || len > remaining)
            throw new GraftInvalidInputException(
              s"BYTE_ARRAY element $i length $len exceeds remaining $remaining")
          prefixes(i) = pos
          pos += 4 + len
          i += 1
        }
        if (pos != bytes.length)
          throw new GraftInvalidInputException(
            s"${bytes.length - pos} trailing bytes after BYTE_ARRAY values")
        new PlainValues(bytes, n, width, prefixes)
    }
  }

  /** The PLAIN value section of a page: `numElements` values of the
    * physical type, checked in place. Only PLAIN values are present as
    * bytes, so any other encoding is a feature gap.
    */
  def plainValues(valueBytes: Array[Byte], numElements: Int, physicalType: String,
      typeLength: Option[Int], encoding: String): PlainValues = {
    if (encoding == "RLE_DICTIONARY")
      throw new GraftUnsupportedException(
        "Unsupported encoding: RLE_DICTIONARY is not supported for per-value operations " +
          "since values are not present in the data, only references to them.")
    if (encoding != "PLAIN")
      throw new GraftUnsupportedException(s"Unsupported encoding: $encoding")
    PlainValues(valueBytes, numElements, fixedWidth(physicalType, typeLength))
  }

  /** Split PLAIN-encoded value bytes into `numElements` per-value byte
    * arrays (`ReinterpretValueBytesAsTypedValuesBuffer`,
    * `parquet_utils.cpp:420-468` + the typed-buffer bounds checks).
    */
  def splitValueBytes(valueBytes: Array[Byte], numElements: Int,
      physicalType: String, typeLength: Option[Int], encoding: String): Seq[Array[Byte]] = {
    val values = plainValues(valueBytes, numElements, physicalType, typeLength, encoding)
    (0 until values.count).map(values.copy)
  }

  /** Inverse of [[splitValueBytes]]: reassemble PLAIN value bytes
    * (`GetTypedValuesBufferAsValueBytes` analog).
    */
  def joinValueBytes(elements: Seq[Array[Byte]],
      physicalType: String, typeLength: Option[Int]): Array[Byte] = {
    val width = fixedWidth(physicalType, typeLength)
    width.foreach { w =>
      elements.foreach { e =>
        if (e.length != w)
          throw new GraftInvalidInputException(s"decrypted element width ${e.length} != $w")
      }
    }
    joinPlain(elements, width)
  }

  /** `elements` as PLAIN bytes: back to back when they have a fixed width,
    * `[u32 LE len][bytes]` each otherwise.
    */
  private[core] def joinPlain(elements: Seq[Array[Byte]], width: Option[Int]): Array[Byte] = {
    val prefix = if (width.isDefined) 0 else 4
    val out = new Array[Byte](elements.iterator.map(_.length.toLong + prefix).sum.toInt)
    var off = 0
    elements.foreach { e =>
      if (prefix > 0) WireFormat.putU32(out, off, e.length)
      System.arraycopy(e, 0, out, off + prefix, e.length)
      off += prefix + e.length
    }
    out
  }
}
