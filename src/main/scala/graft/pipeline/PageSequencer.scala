package graft.pipeline

import graft.core._
import graft.core.PageCodec.{DictionaryPage, PageAttributes}

/** Result of a page encryption: ciphertext + the metadata map the caller must
  * present back at decrypt time (`LocalEncryptionResult`,
  * `/root/reference/src/common/dbpa_local.cpp:30-62`).
  */
final case class PageEncryptResult(ciphertext: Array[Byte], metadata: Map[String, String])

/** Page-level encryption sequencer — the engine-side port of the reference's
  * `DataBatchEncryptionSequencer` (`/root/reference/src/processing/
  * encryption_sequencer.cpp:113-256`): the API unit is a raw Parquet page
  * payload plus `encoding_attributes`, and the strategy is per-value with a
  * per-block fallback on any [[GraftUnsupportedException]] raised by the
  * page machinery (unsupported compression/encoding/datatype).
  *
  * The per-value path decompresses and splits the page, checks the PLAIN
  * value section in place, and encrypts each value straight from the page
  * into the exact same §1.5 value-list wire format ([[WireFormat]]) the cell
  * path uses — so page-encrypted and cell-encrypted values share one
  * ciphertext layout.
  */
final class PageSequencer(
    codec: CryptoCodec,
    physicalType: String,
    typeLength: Option[Int],
    compression: String) {

  import PageSequencer._

  /** `ValidateParameters` (`encryption_sequencer.cpp:305-333`): attribute
    * conversion happens first (throws on malformed input), then the
    * FIXED_LEN_BYTE_ARRAY length requirement.
    */
  private def validate(encodingAttributes: Map[String, String]): PageAttributes = {
    val attrs = PageCodec.parseAttributes(encodingAttributes)
    if (physicalType == "FIXED_LEN_BYTE_ARRAY") {
      if (typeLength.isEmpty)
        throw new GraftInvalidInputException(
          "FIXED_LEN_BYTE_ARRAY datatype requires datatype_length parameter")
      if (typeLength.get <= 0)
        throw new GraftInvalidInputException(
          "FIXED_LEN_BYTE_ARRAY datatype_length must be positive")
    }
    attrs
  }

  /** The metadata key is page-type specific (`GetEncryptionModeKey`,
    * `encryption_sequencer.cpp:348-351`).
    */
  private def modeKey(attrs: PageAttributes): String =
    if (attrs.pageType == DictionaryPage) ModeKeyDictionaryPage else ModeKeyDataPage

  /** `DecodeAndEncrypt` (`encryption_sequencer.cpp:113-196`). Per-value
    * first; a [[GraftUnsupportedException]] from the page machinery falls
    * back to per-block ONLY when the input really is a known feature gap
    * (non-snappy compression, non-PLAIN encoding, BOOLEAN) — otherwise the
    * exception is a bug and is re-thrown, exactly like the reference.
    */
  def encrypt(plaintext: Array[Byte],
      encodingAttributes: Map[String, String]): PageEncryptResult = {
    val attrs = validate(encodingAttributes)
    if (plaintext == null || plaintext.isEmpty)
      throw new GraftInvalidInputException("plaintext cannot be null or empty")
    val mk = modeKey(attrs)
    try {
      val lvb = PageCodec.decompressAndSplit(plaintext, compression, attrs)
      val values = PageCodec.plainValues(
        lvb.valueBytes, lvb.numElements, physicalType, typeLength, attrs.pageEncoding)
      PageEncryptResult(WireFormat.encryptPerValue(codec, lvb.levelBytes, values),
        Map(mk -> ModePerValue,
          ProtectionPipeline.KeyVersion -> ProtectionPipeline.AgentVersion))
    } catch {
      case e: GraftUnsupportedException =>
        // Fallback gate (`encryption_sequencer.cpp:160-183`): per-block is
        // legitimate only for the documented feature gaps.
        val compressionSupported =
          compression == PageCodec.Uncompressed || compression == PageCodec.Snappy
        val encodingSupported = attrs.pageEncoding == "PLAIN"
        val datatypeSupported = physicalType != "BOOLEAN"
        if (compressionSupported && encodingSupported && datatypeSupported) throw e
        PageEncryptResult(
          codec.encrypt(plaintext),
          Map(mk -> ModePerBlock,
            ProtectionPipeline.KeyVersion -> ProtectionPipeline.AgentVersion))
    }
  }

  /** The per-value ciphertext of a page with no levels and no values: the
    * payload of an empty cell batch, which [[encrypt]] rejects as an empty page.
    */
  def encryptEmpty(): Array[Byte] = WireFormat.encryptPerValue(codec, Array.emptyByteArray,
    PageCodec.PlainValues(Array.emptyByteArray, 0, PageCodec.fixedWidth(physicalType, typeLength)))

  /** `DecryptAndEncode` (`encryption_sequencer.cpp:199-256`): version
    * prefix-match, mode dispatch from metadata, then the inverse pipeline
    * (split → decrypt → join value bytes → compress-and-join).
    */
  def decrypt(ciphertext: Array[Byte], encodingAttributes: Map[String, String],
      encryptionMetadata: Map[String, String]): Array[Byte] = {
    val attrs = validate(encodingAttributes)
    if (ciphertext == null || ciphertext.isEmpty)
      throw new GraftInvalidInputException("ciphertext cannot be null or empty")
    val version = encryptionMetadata.getOrElse(ProtectionPipeline.KeyVersion,
      throw new GraftInvalidInputException(
        s"encryption_metadata must contain key '${ProtectionPipeline.KeyVersion}'"))
    if (!version.startsWith(ProtectionPipeline.RequiredVersionPrefix))
      throw new GraftInvalidInputException(
        s"encryption_metadata['${ProtectionPipeline.KeyVersion}'] must match " +
          s"'${ProtectionPipeline.RequiredVersionPrefix}', but got '$version'")
    val mk = modeKey(attrs)
    encryptionMetadata.get(mk) match {
      case Some(ModePerValue) =>
        val (levelBytes, valueBytes) = WireFormat.decryptPerValue(
          codec, ciphertext, PageCodec.fixedWidth(physicalType, typeLength))
        PageCodec.compressAndJoin(levelBytes, valueBytes, compression, attrs)
      case Some(ModePerBlock) =>
        codec.decrypt(ciphertext)
      case Some(other) =>
        throw new GraftInvalidInputException(s"invalid encryption_mode '$other'")
      case None =>
        throw new GraftInvalidInputException(
          "Failed to get encryption_mode from encryption_metadata")
    }
  }
}

object PageSequencer {
  // encryption_sequencer.cpp:40-43
  final val ModeKeyDictionaryPage = "encrypt_mode_dict_page"
  final val ModeKeyDataPage = "encrypt_mode_data_page"
  final val ModePerBlock = "per_block"
  final val ModePerValue = "per_value"
}
