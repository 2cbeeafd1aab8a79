package graft.agent

import org.apache.spark.sql.types.DataType

import graft.core._
import graft.service.JsonEnvelope
import graft.service.JsonEnvelope.{DecryptResponse, EncryptResponse, ProtectRequest}

/** Remote protection agent — parity surface for the reference's
  * `RemoteDataBatchProtectionAgent` (`/root/reference/src/common/dbpa_remote.cpp:170-365`):
  * every call crosses a serialization boundary to a protection service
  * through an injected [[ProtectionTransport]] (the reference injects its
  * HTTP client the same way, `dbpa_remote.cpp:164-168`), speaking the
  * reference's NESTED JSON envelope (`json_request.cpp`) on the wire.
  *
  * Two call surfaces share that wire protocol:
  *  - **page mode** ([[initPage]] → [[encryptPage]]/[[decryptPage]]) is the
  *    reference agent's own signature — a raw Parquet page payload plus
  *    `encoding_attributes` per call (`dbpa_remote.cpp:246-365`);
  *  - **cell mode** ([[init]] → [[encrypt]]/[[decrypt]]) is this engine's
  *    Spark-typed batch surface: [[CellBatch]] encodes each batch as an
  *    uncompressed DATA_PAGE_V2 page and sends it through page mode — the
  *    same adapter [[LocalProtectionAgent]] runs in process, so local- and
  *    remote-encrypted batches are interchangeable (and byte-identical
  *    under a deterministic codec).
  *
  * Reference semantics reproduced:
  *  - construct-then-`init` lifecycle; `encrypt`/`decrypt` before a
  *    successful `init` fail with the not-initialized error
  *    (`dbpa_remote.cpp:246-259`);
  *  - `init` requires a non-empty `app_context` carrying a JSON `user_id`
  *    (`ExtractUserId`, `dbpa_utils.h:43-56`) and performs a `/healthz`
  *    check that must return "OK" (`dbpa_remote.cpp:223-231`);
  *  - request/response **field-match validation**: encrypt responses must
  *    echo the request compression (`ValidateEncryptFieldMatch`,
  *    `dbpa_remote.cpp:286-296`); decrypt responses must echo datatype and
  *    the page compression the request sent (`dbpa_remote.cpp:345-361`);
  *  - auth: token fetch/cache/expiry-skew/retry-once-on-401 lives in
  *    [[ProtectionServiceClient]] (`http_client_base.cpp:39-199`).
  */
final class RemoteProtectionAgent(
    transport: ProtectionTransport,
    credentials: Map[String, String] = Map("client_id" -> "graft"),
    clock: () => Long = () => System.currentTimeMillis() / 1000L)
    extends ProtectionAgent with PageCipher {

  import RemoteProtectionAgent._

  private val client = new ProtectionServiceClient(transport, credentials, clock)

  // None = initialized OK; Some(msg) = not (yet) initialized — mirrors the
  // reference's optional<string> initialized_ (`dbpa_remote.h`).
  private var initError: Option[String] = Some(NotInitialized)
  private var columnName: String = _
  private var keyId: String = _
  private var appContext: String = _
  private var userId: String = _
  private var physicalType: String = _
  private var typeLength: Option[Int] = None
  private var pageCompression: String = PageCodec.Uncompressed
  // set by the Spark-typed init only
  private var cells: Option[CellBatch] = None

  /** Bind a Spark-typed column context and verify server connectivity
    * (`RemoteDataBatchProtectionAgent::init`, `dbpa_remote.cpp:170-244`).
    *
    * @param codec the cipher the TARGET SERVICE is configured with
    *              ([[graft.service.ProtectionService]]'s `codecName`) —
    *              stamped into cell-batch metadata so remote-encrypted
    *              batches interoperate with local agents; the service, not
    *              the client, owns the actual cipher choice (the
    *              reference's server-side encryptor factory).
    */
  def init(columnName: String, appContext: String, keyId: String,
      dataType: DataType, codec: String = CryptoCodec.Xor): Unit = {
    val (physicalType, typeLength) = CellBatch.physicalMapping(dataType)
    initPage(columnName, appContext, keyId, physicalType, typeLength)
    cells = Some(new CellBatch(this, dataType, codec, keyId))
  }

  /** Bind a raw-page column context — the reference agent's actual `init`
    * signature (`dbpa_remote.cpp:170-179`): Parquet physical type, optional
    * length, page compression.
    */
  def initPage(columnName: String, appContext: String, keyId: String,
      physicalType: String, typeLength: Option[Int] = None,
      compression: String = PageCodec.Uncompressed): Unit = {
    cells = None
    initCommon(columnName, appContext, keyId)
    if (!PageCodec.PhysicalTypes.contains(physicalType))
      throw new GraftInvalidInputException(s"Invalid datatype: $physicalType")
    this.physicalType = physicalType
    this.typeLength = typeLength
    this.pageCompression = compression
    initError = None
  }

  private def initCommon(columnName: String, appContext: String, keyId: String): Unit = {
    initError = Some("Agent not properly initialized - incomplete")
    if (appContext.isEmpty) {
      initError = Some("Agent not properly initialized - app_context is empty")
      throw new GraftInvalidInputException("app_context is empty")
    }
    val uid = extractUserId(appContext).getOrElse {
      initError = Some("Agent not properly initialized - user_id missing")
      throw new GraftInvalidInputException("No user_id provided in app_context")
    }
    if (keyId.isEmpty) { // P7, same error family as every other init failure
      initError = Some("Agent not properly initialized - key_id is empty")
      throw new GraftInvalidInputException("key_id must be non-empty")
    }
    val health = client.healthCheck()
    if (health != "OK") {
      initError = Some("Agent not properly initialized - healthz check failed")
      throw new GraftInvalidInputException(s"Health check failed: $health")
    }
    this.columnName = columnName
    this.keyId = keyId
    this.appContext = appContext
    this.userId = uid
  }

  // ---------------------------------------------------------------- page mode --

  /** Encrypt one raw page payload through the service
    * (`RemoteDataBatchProtectionAgent::Encrypt`, `dbpa_remote.cpp:246-298`).
    */
  def encryptPage(plaintext: Array[Byte],
      encodingAttributes: Map[String, String]): EncryptedBatch = {
    initError.foreach(e => throw new GraftInvalidInputException(e))
    val resp = callEncrypt(plaintext, encodingAttributes)
    EncryptedBatch(resp.encryptedValue, resp.encryptionMetadata)
  }

  /** Inverse of [[encryptPage]] (`dbpa_remote.cpp:300-365`); the caller
    * presents the metadata from encryption, like the reference's
    * `column_encryption_metadata`.
    */
  def decryptPage(batch: EncryptedBatch,
      encodingAttributes: Map[String, String]): Array[Byte] = {
    initError.foreach(e => throw new GraftInvalidInputException(e))
    callDecrypt(batch.payload, encodingAttributes, batch.metadata).value
  }

  // ---------------------------------------------------------------- cell mode --

  /** Encrypt one Spark-typed column batch — same contract as
    * [[LocalProtectionAgent.encrypt]].
    */
  def encrypt(values: Seq[Any]): EncryptedBatch = cellBatch.encrypt(values)

  /** Inverse of [[encrypt]]; the version check is the server's. */
  def decrypt(batch: EncryptedBatch): Seq[Any] = cellBatch.decrypt(batch)

  private def cellBatch: CellBatch = {
    initError.foreach(e => throw new GraftInvalidInputException(e))
    cells.getOrElse(throw new GraftInvalidInputException(
      "agent is bound to page mode; use encryptPage/decryptPage"))
  }

  // --------------------------------------------------------------- transport --

  /** Build + POST one nested `/encrypt` envelope, with the reference's
    * response discipline (`dbps_api_client.cpp:190-266`): HTTP failure →
    * error with the server body; invalid response envelope → client error;
    * then the encrypt field-match (`dbpa_remote.cpp:286-296`).
    */
  private def callEncrypt(payload: Array[Byte],
      attrs: Map[String, String]): EncryptResponse = {
    val body = call("/encrypt", envelope(encrypt = true, payload, attrs, Map.empty))
    val resp = EncryptResponse.parse(body) match {
      case Left(err) => throw new GraftInvalidInputException(err)
      case Right(r) => r
    }
    fieldMatch(resp.encryptedCompression, Compression, "encrypted_compression", "Encrypt")
    if (resp.encryptedValue.isEmpty)
      throw new GraftInvalidInputException("Decoded ciphertext response is empty")
    resp
  }

  private def callDecrypt(payload: Array[Byte], attrs: Map[String, String],
      metadata: Map[String, String]): DecryptResponse = {
    val body = call("/decrypt", envelope(encrypt = false, payload, attrs, metadata))
    val resp = DecryptResponse.parse(body) match {
      case Left(err) => throw new GraftInvalidInputException(err)
      case Right(r) => r
    }
    fieldMatch(resp.datatype, physicalType, "datatype", "Decrypt")
    fieldMatch(resp.compression, pageCompression, "compression", "Decrypt")
    resp
  }

  private def envelope(encrypt: Boolean, payload: Array[Byte],
      attrs: Map[String, String], metadata: Map[String, String]): ProtectRequest =
    ProtectRequest(
      encrypt = encrypt,
      columnName = columnName,
      datatype = Some(physicalType),
      datatypeLength = typeLength,
      datatypeLengthStr = "",
      compression = Some(pageCompression),
      // ExtractPageEncoding (`dbpa_remote.cpp:248-255`): the top-level
      // encoding is the page encoding from the attributes, default PLAIN.
      encoding = Some(attrs.getOrElse("page_encoding", "PLAIN")),
      encodingAttributes = attrs,
      encryptedCompression = Some(Compression),
      keyId = keyId,
      userId = userId,
      applicationContext = appContext,
      // GenerateReferenceId (`dbps_api_client.cpp:35-40`): millis timestamp
      referenceId = System.currentTimeMillis().toString,
      value = payload,
      encryptionMetadata = metadata)

  private def call(endpoint: String, req: ProtectRequest): Array[Byte] = {
    val resp = client.postRaw(endpoint, req.toBytes)
    if (!resp.ok)
      throw new GraftInvalidInputException(
        if (resp.error.nonEmpty) resp.error
        else {
          // surface the server's {"error": message} envelope when present
          val serverMsg =
            try Option(JsonEnvelope.mapper.readTree(resp.body))
              .flatMap(n => Option(n.get("error"))).map(_.asText())
            catch { case _: Exception => None }
          serverMsg.getOrElse(s"$endpoint failed with status ${resp.status}: ${resp.body}")
        })
    resp.bytes
  }

  private def fieldMatch(responseValue: String, requestValue: String,
      fieldName: String, op: String): Unit =
    if (responseValue != requestValue)
      throw new GraftInvalidInputException(
        s"$op response $fieldName mismatch: expected $requestValue, got $responseValue")
}

object RemoteProtectionAgent {
  final val NotInitialized = "Agent not initialized - init() was not called"
  /** The engine hands the service uncompressed value batches (compression is
    * the Parquet writer's job in this architecture — SURVEY §1.3).
    */
  final val Compression = "UNCOMPRESSED"

  /** `ExtractUserId` (`dbpa_utils.h:43-56`): app_context is JSON with a
    * non-empty string `user_id`.
    */
  def extractUserId(appContext: String): Option[String] =
    try FlatJson.parse(appContext).get("user_id").filter(_.nonEmpty)
    catch { case _: Exception => None }
}
