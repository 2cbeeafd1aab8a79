package graft.service

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper

import graft.agent.{EncryptedBatch, LocalProtectionAgent, ProtectionTransport, TransportResponse}
import graft.core.{CryptoCodec, GraftInvalidInputException}
import graft.service.JsonEnvelope.{DecryptResponse, EncryptResponse, ProtectRequest}

/** In-process protection service — the server half of the reference's DBPS
  * API server (`/root/reference/src/server/dbps_api_server.cpp:110-284`),
  * implementing [[graft.agent.ProtectionTransport]] directly so the remote
  * agent's full request path (token fetch → Bearer stamp → field-match) runs
  * against real endpoints; [[HttpProtectionServer]] puts the same instance
  * behind a real localhost socket.
  *
  * Endpoint parity:
  *  - `GET /healthz` → `200 "OK"`, authless (dbps_api_server.cpp:110-112);
  *  - `GET /statusz` → Bearer-verified, `{"enable_credential_check": bool}`
  *    (dbps_api_server.cpp:114-124);
  *  - `POST /token`  → [[ClientCredentialStore.processTokenRequest]]
  *    (dbps_api_server.cpp:127-139);
  *  - `POST /encrypt` / `/decrypt` → Bearer-verified, the NESTED request
  *    envelope of `json_request.cpp` parsed and validated with the
  *    reference's exact missing-field messages, then run through the real
  *    page sequencer ([[graft.agent.LocalProtectionAgent.initPage]] →
  *    [[graft.pipeline.PageSequencer]]), exactly like the reference hands
  *    the validated request to `DataBatchEncryptionSequencer`
  *    (dbps_api_server.cpp:142-282);
  *  - every failure is the reference's error envelope: a non-200 status with
  *    `{"error": message}` (`CreateErrorResponse`, dbps_api_server.cpp:28-33,
  *    default status 400).
  *
  * @param codecName server-side cipher choice — the reference's injected
  *                  encryptor factory analog; clients never choose the codec.
  */
final class ProtectionService(store: ClientCredentialStore,
    codecName: String = CryptoCodec.Xor) extends ProtectionTransport {

  import ProtectionService._

  override def get(endpoint: String, headers: Map[String, String]): TransportResponse =
    endpoint match {
      case "/healthz" => TransportResponse(200, "OK")
      case "/statusz" =>
        authError(headers) match {
          case Some(err) => errorResponse(err, 401)
          case None =>
            val node = mapper.createObjectNode()
            node.put("enable_credential_check", store.getEnableCredentialCheck)
            TransportResponse(200, mapper.writeValueAsString(node))
        }
      case other => errorResponse(s"no such endpoint $other", 404)
    }

  override def post(endpoint: String, body: String,
      headers: Map[String, String]): TransportResponse =
    post(endpoint, body.getBytes(UTF_8), headers)

  override def post(endpoint: String, body: Array[Byte],
      headers: Map[String, String]): TransportResponse = endpoint match {
    case "/token" =>
      val resp = store.processTokenRequest(new String(body, UTF_8))
      if (!resp.isValid) errorResponse(resp.validationError, resp.errorStatusCode)
      else TransportResponse(200, resp.toJson)
    case "/encrypt" | "/decrypt" =>
      authError(headers) match {
        case Some(err) => errorResponse(err, 401)
        case None if endpoint == "/encrypt" => handleEncrypt(body)
        case None => handleDecrypt(body)
      }
    case other => errorResponse(s"no such endpoint $other", 404)
  }

  /** `/encrypt` (dbps_api_server.cpp:142-209): validate the nested envelope,
    * hand it to the page sequencer, answer with the nested response; the
    * request's `encrypted_compression` and `reference_id` are echoed, role
    * and access-control are the reference's fixed stamps (`:199-204`).
    */
  private def handleEncrypt(body: Array[Byte]): TransportResponse = {
    val req = ProtectRequest.parse(body, encrypt = true)
    if (!req.isValid) {
      val msg = req.validationError
      return errorResponse(if (msg.isEmpty) "Invalid JSON in request body" else msg, 400)
    }
    try {
      val agent = pageAgent(req)
      val r = agent.encryptPage(req.value, req.encodingAttributes)
      TransportResponse(200, EncryptResponse(
        encryptedCompression = req.encryptedCompression.get,
        encryptedValue = r.payload,
        userId = req.userId, role = Role, accessControl = AccessControl,
        referenceId = req.referenceId,
        encryptionMetadata = r.metadata).toBytes)
    } catch {
      case e: GraftInvalidInputException =>
        errorResponse(s"Invalid input for encryption: ${e.getMessage}", 400)
      case e: Exception =>
        errorResponse(s"Encryption failed: ${e.getMessage}", 400)
    }
  }

  /** `/decrypt` (dbps_api_server.cpp:212-282): same shape, with the
    * request's datatype/compression/encoding echoed in the decrypted
    * `data_batch` (`:246-250`).
    */
  private def handleDecrypt(body: Array[Byte]): TransportResponse = {
    val req = ProtectRequest.parse(body, encrypt = false)
    if (!req.isValid) {
      val msg = req.validationError
      return errorResponse(if (msg.isEmpty) "Invalid JSON in request body" else msg, 400)
    }
    try {
      val agent = pageAgent(req)
      val plain = agent.decryptPage(
        EncryptedBatch(req.value, req.encryptionMetadata), req.encodingAttributes)
      TransportResponse(200, DecryptResponse(
        datatype = req.datatype.get,
        datatypeLength = req.datatypeLength,
        compression = req.compression.get,
        encoding = req.encoding.get,
        value = plain,
        userId = req.userId, role = Role, accessControl = AccessControl,
        referenceId = req.referenceId).toBytes)
    } catch {
      case e: Exception => // reference catches std::exception here (`:273`)
        errorResponse(s"Decryption failed: ${e.getMessage}", 400)
    }
  }

  /** The sequencer construction of dbps_api_server.cpp:171-183 — every
    * validated request context becomes a page agent bound to the column.
    */
  private def pageAgent(req: ProtectRequest) =
    LocalProtectionAgent.initPage(req.keyId, req.columnName, req.datatype.get,
      req.datatypeLength, req.compression.get, codecName, req.userId,
      req.applicationContext)

  private def authError(headers: Map[String, String]): Option[String] =
    store.verifyTokenForEndpoint(headers.getOrElse("Authorization", ""))
}

object ProtectionService {
  private val mapper = new ObjectMapper()

  /** dbps_api_server.cpp:201-202 — fixed until context-aware access control
    * exists in the reference.
    */
  final val Role = "EmailReader"
  final val AccessControl = "granted"

  private[service] def errorResponse(message: String, status: Int): TransportResponse = {
    val node = mapper.createObjectNode()
    node.put("error", message)
    TransportResponse(status, mapper.writeValueAsString(node))
  }
}
