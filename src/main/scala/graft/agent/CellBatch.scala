package graft.agent

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._
import graft.pipeline.{PageSequencer, ProtectionPipeline}

/** The raw-page surface a cell batch rides on: [[PageProtectionAgent]] in
  * process, [[RemoteProtectionAgent]] through the protection service. Both
  * end in the same [[graft.pipeline.PageSequencer]].
  */
trait PageCipher {
  def encryptPage(plaintext: Array[Byte],
      encodingAttributes: Map[String, String]): EncryptedBatch
  def decryptPage(batch: EncryptedBatch,
      encodingAttributes: Map[String, String]): Array[Byte]

  /** Payload of an empty cell batch. Every page surface rejects an empty
    * page, so an empty batch makes no page call.
    */
  def emptyBatchPayload: Array[Byte] = Array.emptyByteArray
}

/** Spark-typed cell batch ⇄ one uncompressed DATA_PAGE_V2 page — the one
  * cell-batch path behind both agents. The presence mask (1 byte per row,
  * 0 = null) is the page's definition-level section, and the present values
  * are PLAIN-encoded in [[CellBatch.physicalMapping]]'s type, so the
  * sequencer's per-value ciphertext is the §1.5 layout
  * `[u32 len][enc(presence)][value list]`.
  *
  * The batch carries the cell metadata keys next to the sequencer's own
  * (version + page mode): codec, key id, original type, per-value mode and
  * the row and null counts, which rebuild the page attributes at decrypt
  * time. Batches without the page-mode key decrypt as per-value.
  */
private[agent] final class CellBatch(cipher: PageCipher, dataType: DataType,
    codecName: String, keyId: String) {

  import CellBatch._
  import ProtectionPipeline._

  private val (physicalType, typeLength) = physicalMapping(dataType)

  private val mode =
    if (ValueSerde.fixedWidth(dataType).isDefined) "per_value_fixed" else "per_value_variable"

  /** Encrypt one column batch of external values (Int/Long/String/bytes…). */
  def encrypt(values: Seq[Any]): EncryptedBatch = {
    val nulls = values.count(_ == null)
    val cellMeta = Map(
      KeyMode -> mode,
      KeyCodec -> codecName,
      KeyKeyId -> keyId,
      KeyOrigType -> dataType.json,
      KeyRows -> values.size.toString,
      KeyNulls -> nulls.toString)
    if (values.isEmpty)
      return EncryptedBatch(cipher.emptyBatchPayload,
        cellMeta + (KeyVersion -> AgentVersion))
    val presence = values.map(v => if (v == null) 0.toByte else 1.toByte).toArray
    val present = values.filter(_ != null)
      .map(v => ValueSerde.serialize(dataType, toCatalyst(v)))
    val page = presence ++ PageCodec.joinValueBytes(present, physicalType, typeLength)
    val r = cipher.encryptPage(page, attributes(values.size, nulls))
    EncryptedBatch(r.payload, r.metadata ++ cellMeta)
  }

  /** Inverse of [[encrypt]]. The original type must match the bound type
    * (A8 field-match); the version check is the sequencer's.
    */
  def decrypt(batch: EncryptedBatch): Seq[Any] = {
    val declared = batch.metadata.get(KeyOrigType).map(parseType(_))
      .getOrElse(throw new GraftInvalidInputException("missing original_type metadata"))
    if (declared != dataType)
      throw new GraftInvalidInputException(
        s"datatype mismatch: batch has ${declared.catalogString}, " +
          s"agent bound to ${dataType.catalogString}")
    val rows = count(batch, KeyRows)
    if (rows == 0) return Seq.empty
    val metadata = batch.metadata.updatedWith(PageSequencer.ModeKeyDataPage)(
      _.orElse(Some(PageSequencer.ModePerValue)))
    val page = cipher.decryptPage(batch.copy(metadata = metadata),
      attributes(rows, count(batch, KeyNulls)))
    if (page.length < rows)
      throw new GraftInvalidInputException(
        s"decrypted page has ${page.length} bytes, shorter than the $rows-byte presence mask")
    val valueBytes = java.util.Arrays.copyOfRange(page, rows, page.length)
    val nPresent = (0 until rows).count(page(_) != 0)
    val it = PageCodec.splitValueBytes(
      valueBytes, nPresent, physicalType, typeLength, "PLAIN").iterator
    (0 until rows).map { i =>
      if (page(i) == 0) null
      else fromCatalyst(ValueSerde.deserialize(dataType, it.next()))
    }
  }

  private def toCatalyst(v: Any): Any = (dataType, v) match {
    case (StringType, s: String) => UTF8String.fromString(s)
    case (_: DecimalType, d: java.math.BigDecimal) => Decimal(d)
    case (_: DecimalType, d: BigDecimal) => Decimal(d)
    case _ => v
  }

  private def fromCatalyst(v: Any): Any = (dataType, v) match {
    case (StringType, s: UTF8String) => s.toString
    case (_: DecimalType, d: Decimal) => d.toJavaBigDecimal
    case _ => v
  }
}

private[agent] object CellBatch {

  /** Spark type → Parquet physical type, chosen so the per-value byte layout
    * (and the §1.5 fixed/variable classification) matches
    * [[graft.core.ValueSerde]] exactly. Types with no same-width physical
    * analog ride FIXED_LEN_BYTE_ARRAY (1- and 2-byte scalars) or BYTE_ARRAY
    * (variable).
    */
  def physicalMapping(dt: DataType): (String, Option[Int]) = dt match {
    case BooleanType | ByteType => ("FIXED_LEN_BYTE_ARRAY", Some(1))
    case ShortType => ("FIXED_LEN_BYTE_ARRAY", Some(2))
    case IntegerType | DateType => ("INT32", None)
    case FloatType => ("FLOAT", None)
    case LongType | TimestampType | TimestampNTZType => ("INT64", None)
    case DoubleType => ("DOUBLE", None)
    case StringType | BinaryType => ("BYTE_ARRAY", None)
    case _: DecimalType => ("BYTE_ARRAY", None)
    case other =>
      throw new GraftInvalidInputException(s"unsupported type for protection: $other")
  }

  /** The V2 attributes describing a cell batch as a page: presence bytes are
    * the (opaque) definition-level section, values are PLAIN.
    */
  private def attributes(rows: Int, nulls: Int): Map[String, String] = Map(
    "page_type" -> "DATA_PAGE_V2",
    "data_page_num_values" -> rows.toString,
    "data_page_max_definition_level" -> "1",
    "data_page_max_repetition_level" -> "0",
    "page_v2_definition_levels_byte_length" -> rows.toString,
    "page_v2_repetition_levels_byte_length" -> "0",
    "page_v2_num_nulls" -> nulls.toString,
    "page_v2_is_compressed" -> "false",
    "page_encoding" -> "PLAIN")

  private def count(batch: EncryptedBatch, key: String): Int =
    batch.metadata.get(key).flatMap(_.toIntOption).filter(_ >= 0).getOrElse(
      throw new GraftInvalidInputException(
        s"cell batch metadata missing row-count key '$key'"))
}
