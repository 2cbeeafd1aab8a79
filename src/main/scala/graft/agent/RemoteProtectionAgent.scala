package graft.agent

import org.apache.spark.sql.types._

import graft.core._
import graft.pipeline.{PageSequencer, ProtectionPipeline}
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
  *    Spark-typed batch surface, expressed over the SAME protocol by
  *    encoding each batch as an uncompressed DATA_PAGE_V2 page: the
  *    presence mask is the definition-level section (opaque bytes, length
  *    in the attributes) and the present values are PLAIN-encoded in the
  *    mapped Parquet physical type. The resulting ciphertext is
  *    byte-identical to [[LocalProtectionAgent.encrypt]]'s, so local- and
  *    remote-encrypted batches stay interchangeable.
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
  *
  * @param codecName the cipher the TARGET SERVICE is configured with
  *                  ([[graft.service.ProtectionService]]'s `codecName`) —
  *                  stamped into cell-batch metadata so remote-encrypted
  *                  batches interoperate with local agents; the service, not
  *                  the client, owns the actual cipher choice (the
  *                  reference's server-side encryptor factory).
  */
final class RemoteProtectionAgent(
    transport: ProtectionTransport,
    credentials: Map[String, String] = Map("client_id" -> "graft"),
    clock: () => Long = () => System.currentTimeMillis() / 1000L)
    extends ProtectionAgent {

  import RemoteProtectionAgent._

  private val client = new ProtectionServiceClient(transport, credentials, clock)

  // None = initialized OK; Some(msg) = not (yet) initialized — mirrors the
  // reference's optional<string> initialized_ (`dbpa_remote.h`).
  private var initError: Option[String] = Some(NotInitialized)
  private var columnName: String = _
  private var keyId: String = _
  private var appContext: String = _
  private var userId: String = _
  private var codecName: String = CryptoCodec.Xor
  // cell mode
  private var dataType: DataType = _
  // page mode
  private var physicalType: String = _
  private var typeLength: Option[Int] = None
  private var pageCompression: String = PageCodec.Uncompressed

  /** Bind a Spark-typed column context and verify server connectivity
    * (`RemoteDataBatchProtectionAgent::init`, `dbpa_remote.cpp:170-244`).
    */
  def init(columnName: String, appContext: String, keyId: String,
      dataType: DataType, codec: String = CryptoCodec.Xor): Unit = {
    initCommon(columnName, appContext, keyId)
    this.dataType = dataType
    this.codecName = codec
    val (pt, len) = physicalMapping(dataType)
    this.physicalType = pt
    this.typeLength = len
    this.pageCompression = PageCodec.Uncompressed
    initError = None
  }

  /** Bind a raw-page column context — the reference agent's actual `init`
    * signature (`dbpa_remote.cpp:170-179`): Parquet physical type, optional
    * length, page compression.
    */
  def initPage(columnName: String, appContext: String, keyId: String,
      physicalType: String, typeLength: Option[Int] = None,
      compression: String = PageCodec.Uncompressed): Unit = {
    initCommon(columnName, appContext, keyId)
    if (!PageCodec.PhysicalTypes.contains(physicalType))
      throw new GraftInvalidInputException(s"Invalid datatype: $physicalType")
    this.dataType = null
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

  /** Encrypt one Spark-typed column batch. Same contract as
    * [[LocalProtectionAgent.encrypt]] — remote and local agents are
    * interchangeable for a caller holding value batches.
    */
  def encrypt(values: Seq[Any]): EncryptedBatch = {
    initError.foreach(e => throw new GraftInvalidInputException(e))
    requireCellMode()
    // Empty batch: the zero-byte page would trip the server's empty-plaintext
    // 400, but LocalProtectionAgent.encrypt round-trips empty batches — keep
    // the agents interchangeable by resolving it client-side.
    if (values.isEmpty)
      return EncryptedBatch(Array.emptyByteArray, Map(
        ProtectionPipeline.KeyVersion -> ProtectionPipeline.AgentVersion,
        ProtectionPipeline.KeyMode ->
          (if (ValueSerde.fixedWidth(dataType).isDefined) "per_value_fixed"
           else "per_value_variable"),
        ProtectionPipeline.KeyCodec -> codecName,
        ProtectionPipeline.KeyKeyId -> keyId,
        ProtectionPipeline.KeyOrigType -> dataType.json,
        ProtectionPipeline.KeyRows -> "0",
        ProtectionPipeline.KeyNulls -> "0"))
    val presence = values.map(v => if (v == null) 0.toByte else 1.toByte).toArray
    val present = values.filter(_ != null)
      .map(v => ValueSerde.serialize(dataType, ExternalSerde.toCatalyst(dataType, v)))
    // DATA_PAGE_V2 layout: [def-level bytes = presence][PLAIN values]
    val page = presence ++ PageCodec.joinValueBytes(present, physicalType, typeLength)
    val nNulls = presence.count(_ == 0)
    val resp = callEncrypt(page, cellAttributes(values.size, nNulls))
    EncryptedBatch(resp.encryptedValue, resp.encryptionMetadata ++ Map(
      ProtectionPipeline.KeyMode ->
        (if (ValueSerde.fixedWidth(dataType).isDefined) "per_value_fixed"
         else "per_value_variable"),
      ProtectionPipeline.KeyCodec -> codecName,
      ProtectionPipeline.KeyKeyId -> keyId,
      ProtectionPipeline.KeyOrigType -> dataType.json,
      ProtectionPipeline.KeyRows -> values.size.toString,
      ProtectionPipeline.KeyNulls -> nNulls.toString))
  }

  /** Inverse of [[encrypt]], with the decrypt-side field-match checks
    * (`dbpa_remote.cpp:345-361`).
    */
  def decrypt(batch: EncryptedBatch): Seq[Any] = {
    initError.foreach(e => throw new GraftInvalidInputException(e))
    requireCellMode()
    val declaredType = batch.metadata.get(ProtectionPipeline.KeyOrigType)
    declaredType.map(DataType.fromJson).foreach { dt =>
      if (dt != dataType)
        throw new GraftInvalidInputException(
          s"datatype mismatch: batch has ${dt.catalogString}, " +
            s"agent bound to ${dataType.catalogString}") // A8 field-match
    }
    val rows = cellCount(batch, ProtectionPipeline.KeyRows)
    val nulls = cellCount(batch, ProtectionPipeline.KeyNulls)
    if (rows == 0) return Seq.empty // client-side inverse of the empty encrypt
    // server-side sequencer metadata: version passthrough (its prefix check
    // must fire on tampered batches) + the page-mode encryption mode.
    val serverMeta = Map(
      ProtectionPipeline.KeyVersion ->
        batch.metadata.getOrElse(ProtectionPipeline.KeyVersion,
          throw new GraftInvalidInputException("missing agent version metadata")),
      PageSequencer.ModeKeyDataPage ->
        batch.metadata.getOrElse(PageSequencer.ModeKeyDataPage,
          PageSequencer.ModePerValue))
    val resp = callDecrypt(batch.payload, cellAttributes(rows, nulls), serverMeta)
    val page = resp.value
    if (page.length < rows)
      throw new GraftInvalidInputException(
        s"decrypted page has ${page.length} bytes, shorter than the $rows-byte presence mask")
    val presence = java.util.Arrays.copyOfRange(page, 0, rows)
    val valueBytes = java.util.Arrays.copyOfRange(page, rows, page.length)
    val typed = PageCodec.splitValueBytes(
      valueBytes, rows - nulls, physicalType, typeLength, "PLAIN")
    if (presence.count(_ != 0) != typed.size)
      throw new GraftInvalidInputException(
        s"presence mask claims ${presence.count(_ != 0)} values but payload holds ${typed.size}")
    val it = typed.iterator
    presence.map { p =>
      if (p == 0) null
      else ExternalSerde.fromCatalyst(dataType, ValueSerde.deserialize(dataType, it.next()))
    }.toSeq
  }

  private def requireCellMode(): Unit =
    if (dataType == null)
      throw new GraftInvalidInputException(
        "agent is bound to page mode; use encryptPage/decryptPage")

  private def cellCount(batch: EncryptedBatch, key: String): Int =
    batch.metadata.get(key).flatMap(s => s.toIntOption).getOrElse(
      throw new GraftInvalidInputException(
        s"cell batch metadata missing row-count key '$key'"))

  /** The V2 attribute set describing a cell batch as a page: presence bytes
    * are the (opaque) definition-level section, values are PLAIN.
    */
  private def cellAttributes(rows: Int, nulls: Int): Map[String, String] = Map(
    "page_type" -> "DATA_PAGE_V2",
    "data_page_num_values" -> rows.toString,
    "data_page_max_definition_level" -> "1",
    "data_page_max_repetition_level" -> "0",
    "page_v2_definition_levels_byte_length" -> rows.toString,
    "page_v2_repetition_levels_byte_length" -> "0",
    "page_v2_num_nulls" -> nulls.toString,
    "page_v2_is_compressed" -> "false",
    "page_encoding" -> "PLAIN")

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

  private def call(endpoint: String, req: ProtectRequest): String = {
    val resp = client.postRaw(endpoint, req.toJson)
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
    resp.body
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

  /** Spark type → Parquet physical type, chosen so the per-value byte layout
    * (and the §1.5 fixed/variable classification) matches
    * [[graft.core.ValueSerde]] exactly — that is what keeps remote- and
    * local-encrypted cell batches byte-interchangeable. Types with no
    * same-width physical analog ride FIXED_LEN_BYTE_ARRAY (1- and 2-byte
    * scalars) or BYTE_ARRAY (variable).
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

  /** `ExtractUserId` (`dbpa_utils.h:43-56`): app_context is JSON with a
    * non-empty string `user_id`.
    */
  def extractUserId(appContext: String): Option[String] =
    try FlatJson.parse(appContext).get("user_id").filter(_.nonEmpty)
    catch { case _: Exception => None }
}
