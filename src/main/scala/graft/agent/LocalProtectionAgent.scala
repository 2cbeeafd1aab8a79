package graft.agent

import org.apache.spark.sql.types.DataType

import graft.core._

/** Library-call protection agent — the Spark-engine parity surface for the
  * reference's local agent (`/root/reference/src/common/dbpa_local.cpp:112-262`):
  * `init` binds the column context once; `encrypt`/`decrypt` process one
  * column batch per call. Each batch is one uncompressed page through the
  * in-process page sequencer ([[CellBatch]] over [[PageProtectionAgent]]),
  * the same path the protection service runs for [[RemoteProtectionAgent]],
  * so local- and remote-encrypted batches are interchangeable (and
  * byte-identical under a deterministic codec).
  *
  * This is the non-DataFrame entry point: a caller who today builds batches
  * for DBPS can hand the same batches to this agent. Inside Spark jobs the
  * per-cell expressions are the hot path; this agent is the drop-in API.
  */
final class LocalProtectionAgent private (cells: CellBatch) extends ProtectionAgent {
  def encrypt(values: Seq[Any]): EncryptedBatch = cells.encrypt(values)
  def decrypt(batch: EncryptedBatch): Seq[Any] = cells.decrypt(batch)
}

/** Result of a batch encryption: payload + self-describing metadata
  * (P4/P5 analog: `dbps_agent_version`, `encrypt_mode`).
  */
case class EncryptedBatch(payload: Array[Byte], metadata: Map[String, String])

object LocalProtectionAgent {
  /** `init` — bind context once, like `LocalDataBatchProtectionAgent::init`. */
  def init(keyId: String, columnName: String, dataType: DataType,
      codec: String = CryptoCodec.Xor, userId: String = "",
      appContext: String = ""): LocalProtectionAgent = {
    val (physicalType, typeLength) = CellBatch.physicalMapping(dataType)
    val pages = initPage(keyId, columnName, physicalType, typeLength,
      PageCodec.Uncompressed, codec, userId, appContext)
    new LocalProtectionAgent(new CellBatch(pages, dataType, codec, keyId))
  }

  /** Page-mode `init` — the reference agent's actual signature
    * (`dbpa_local.cpp:112-166`): a Parquet physical type + optional length +
    * compression, not a Spark type. Returns the page-batch surface
    * ([[PageProtectionAgent]]); `encryptPage`/`decryptPage` are the T3–T7
    * entry points.
    */
  def initPage(keyId: String, columnName: String, physicalType: String,
      typeLength: Option[Int] = None,
      compression: String = PageCodec.Uncompressed,
      codec: String = CryptoCodec.Xor, userId: String = "",
      appContext: String = ""): PageProtectionAgent = {
    require(keyId.nonEmpty, "key_id must be non-empty") // P7
    if (!PageCodec.PhysicalTypes.contains(physicalType))
      throw new GraftInvalidInputException(s"Invalid datatype: $physicalType")
    new PageProtectionAgent(
      ProtectionContext(keyId, columnName, userId, appContext),
      codec, physicalType, typeLength, compression)
  }
}

/** Page-payload protection agent — the surface a raw-page caller of the
  * reference uses (`LocalDataBatchProtectionAgent::Encrypt/Decrypt`,
  * `dbpa_local.cpp:169-262`): one Parquet page payload + its
  * `encoding_attributes` per call; the per-value/per-block decision and all
  * byte machinery live in [[graft.pipeline.PageSequencer]].
  */
final class PageProtectionAgent private[agent] (
    ctx: ProtectionContext,
    codecName: String,
    physicalType: String,
    typeLength: Option[Int],
    compression: String) extends PageCipher {

  private val sequencer = new graft.pipeline.PageSequencer(
    CryptoCodec(codecName, ctx), physicalType, typeLength, compression)

  /** Encrypt one raw page payload; the returned metadata (mode + version)
    * must be presented back at decrypt time, like the reference's
    * `encryption_metadata` echo.
    */
  def encryptPage(plaintext: Array[Byte],
      encodingAttributes: Map[String, String]): EncryptedBatch = {
    val r = sequencer.encrypt(plaintext, encodingAttributes)
    EncryptedBatch(r.ciphertext, r.metadata)
  }

  /** Inverse of [[encryptPage]]; reconstructs the original page payload. */
  def decryptPage(batch: EncryptedBatch,
      encodingAttributes: Map[String, String]): Array[Byte] =
    sequencer.decrypt(batch.payload, encodingAttributes, batch.metadata)

  override def emptyBatchPayload: Array[Byte] = sequencer.encryptEmpty()
}
