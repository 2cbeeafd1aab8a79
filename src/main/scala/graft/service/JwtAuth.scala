package graft.service

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

import com.fasterxml.jackson.databind.ObjectMapper

import graft.agent.FlatJson

/** Minimal HS256 JSON Web Token implementation — the server-auth primitive
  * the reference gets from jwt-cpp (`/root/reference/src/server/
  * auth_utils.cpp:140-161,215-241`): compact `header.payload.signature`
  * serialization, base64url without padding, HMAC-SHA256 signatures, and
  * verification that checks the algorithm, the signature, and the `exp`
  * claim before trusting any payload field.
  */
object Jwt {

  private val b64 = Base64.getUrlEncoder.withoutPadding()
  private val b64dec = Base64.getUrlDecoder
  private val mapper = new ObjectMapper()

  /** `{"alg":"HS256","typ":"JWT"}` — the only algorithm the reference signs
    * or accepts (`jwt::algorithm::hs256`, auth_utils.cpp:154,222).
    */
  final val Algorithm = "HS256"

  /** Issue a signed token with the reference's claim set
    * (auth_utils.cpp:149-154): `client_id`, `iat`, `exp`.
    */
  def issue(secretKey: String, clientId: String, issuedAt: Long, expiresAt: Long): String = {
    val header = mapper.createObjectNode()
    header.put("alg", Algorithm)
    header.put("typ", "JWT")
    val payload = mapper.createObjectNode()
    payload.put("client_id", clientId)
    payload.put("iat", issuedAt)
    payload.put("exp", expiresAt)
    val signingInput =
      b64.encodeToString(mapper.writeValueAsBytes(header)) + "." +
        b64.encodeToString(mapper.writeValueAsBytes(payload))
    signingInput + "." + b64.encodeToString(hmacSha256(secretKey, signingInput))
  }

  /** Verify signature + expiry and return the `client_id` claim — the exact
    * contract of the reference's `VerifyJWT` (auth_utils.cpp:215-241):
    * `Left(reason)` on any failure, never an exception.
    */
  def verify(token: String, secretKey: String, nowSeconds: Long): Either[String, String] = {
    // limit -1 keeps trailing empty parts, so "h.p.s." is four parts, not three
    val parts = token.split("\\.", -1)
    if (parts.length != 3 || parts.exists(_.isEmpty))
      return Left("malformed token: expected header.payload.signature")
    val (headerJson, payloadJson) =
      try {
        b64dec.decode(parts(2)) // well-formed; compared as text below
        (new String(b64dec.decode(parts(0)), UTF_8), new String(b64dec.decode(parts(1)), UTF_8))
      } catch {
        case e: IllegalArgumentException => return Left(s"invalid base64url: ${e.getMessage}")
      }
    val header =
      try FlatJson.parse(headerJson)
      catch { case e: Exception => return Left(s"invalid header JSON: ${e.getMessage}") }
    if (!header.get("alg").contains(Algorithm))
      return Left(s"unsupported algorithm: ${header.getOrElse("alg", "<missing>")}")
    // Constant-time compare of the signature TEXT over the exact bytes that
    // were signed. Base64url leaves the last character's low bits unused and
    // the decoder ignores them, so comparing decoded bytes would accept a
    // token whose signature was re-spelled in those bits.
    val expected = b64.encodeToString(hmacSha256(secretKey, parts(0) + "." + parts(1)))
    if (!MessageDigest.isEqual(expected.getBytes(UTF_8), parts(2).getBytes(UTF_8)))
      return Left("signature verification failed")
    val claims =
      try FlatJson.parse(payloadJson)
      catch { case e: Exception => return Left(s"invalid payload JSON: ${e.getMessage}") }
    // jwt-cpp's default verifier enforces exp when present; so do we.
    claims.get("exp").foreach { exp =>
      val expSeconds =
        try exp.toLong
        catch { case _: NumberFormatException => return Left(s"invalid exp claim: '$exp'") }
      if (expSeconds <= nowSeconds) return Left("token expired")
    }
    claims.get("client_id").filter(_.nonEmpty)
      .toRight("missing client_id claim in token")
  }

  private def hmacSha256(key: String, data: String): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key.getBytes(UTF_8), "HmacSHA256"))
    mac.doFinal(data.getBytes(UTF_8))
  }
}

/** `/token` response triple + error channel — the reference's `TokenResponse`
  * (`json_request.h`, used by auth_utils.cpp:164-212): on success `token`,
  * `token_type`, `expires_at`; on failure a status code and message with the
  * token cleared.
  */
final case class TokenResponse(
    token: Option[String] = None,
    tokenType: String = "",
    expiresAt: Option[Long] = None,
    errorStatusCode: Int = 200,
    errorMessage: String = "") {

  def isValid: Boolean = token.exists(_.nonEmpty) && errorStatusCode == 200

  def validationError: String = errorMessage

  /** Body of a 200 `/token` response. `expires_at` is a JSON NUMBER — the
    * reference emits the int64 directly (`json_request.cpp:259`), and a
    * non-graft client pointed at this service would reject a string there.
    */
  def toJson: String = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("token", token.getOrElse(""))
    node.put("token_type", tokenType)
    expiresAt match {
      case Some(e) => node.put("expires_at", e)
      case None => node.put("expires_at", "")
    }
    mapper.writeValueAsString(node)
  }
}

/** Server-side credential store + JWT issuer/verifier — parity with the
  * reference's `ClientCredentialStore` (`auth_utils.cpp:28-269`): an
  * in-memory `client_id → api_key` map, an `enable_credential_check` toggle,
  * HS256 token issue with a 4-hour expiry, and per-endpoint Bearer
  * verification.
  *
  * @param jwtSecretKey key for signing and verifying tokens
  * @param clock        injectable seconds-since-epoch source (tests)
  */
final class ClientCredentialStore(
    jwtSecretKey: String,
    clock: () => Long = () => System.currentTimeMillis() / 1000L) {

  import ClientCredentialStore._

  private var credentials = Map.empty[String, String]
  private var enableCredentialCheck = true

  /** Load a credential map; (re)enables credential checking
    * (auth_utils.cpp:38-42).
    */
  def init(creds: Map[String, String]): Unit = synchronized {
    credentials = creds
    enableCredentialCheck = true
  }

  /** Toggle credential checking only (auth_utils.cpp:45-47). */
  def init(enableCheck: Boolean): Unit = synchronized {
    enableCredentialCheck = enableCheck
  }

  /** Load credentials from a JSON file of `{"client_id": "api_key", ...}`;
    * non-string values are skipped with a warning, non-object or unreadable
    * files fail (auth_utils.cpp:55-96). Returns success.
    */
  def initFromFile(path: String): Boolean = {
    try {
      val mapper = new ObjectMapper()
      val node = mapper.readTree(new java.io.File(path))
      if (node == null || !node.isObject) {
        System.err.println("Error: Credentials file must contain a JSON object")
        return false
      }
      val loaded = Map.newBuilder[String, String]
      node.fields().forEachRemaining { e =>
        if (e.getValue.isTextual) loaded += e.getKey -> e.getValue.asText()
        else System.err.println(
          s"Warning: Skipping invalid api_key for client_id: ${e.getKey}")
      }
      synchronized {
        credentials = loaded.result()
        enableCredentialCheck = true
      }
      true
    } catch {
      case e: Exception =>
        System.err.println(s"Error loading credentials file: ${e.getMessage}")
        false
    }
  }

  def getEnableCredentialCheck: Boolean = synchronized(enableCredentialCheck)

  private def validateCredential(clientId: String, apiKey: String): Boolean =
    synchronized(credentials.get(clientId).contains(apiKey))

  /** Issue a token for valid credentials (auth_utils.cpp:120-161). Checks are
    * skipped entirely — including emptiness — when `enable_credential_check`
    * is off.
    */
  def generateJwt(clientId: String, apiKey: String): Option[(String, Long)] = {
    if (getEnableCredentialCheck) {
      if (clientId.isEmpty || apiKey.isEmpty) return None
      if (!validateCredential(clientId, apiKey)) return None
    }
    val now = clock()
    val exp = now + JwtExpirationSeconds
    Some((Jwt.issue(jwtSecretKey, clientId, now, exp), exp))
  }

  /** `/token` body → response (auth_utils.cpp:164-212): malformed JSON is a
    * 400; missing/empty/wrong credentials are a 401 with the redacted-key
    * message; success carries token + type + expiry.
    */
  def processTokenRequest(requestBody: String): TokenResponse = {
    val fields =
      try FlatJson.parse(requestBody)
      catch {
        case e: Exception =>
          return TokenResponse(errorStatusCode = 400,
            errorMessage = s"Invalid JSON in token request: ${e.getMessage}")
      }
    val clientId = fields.getOrElse("client_id", "")
    val apiKey = fields.getOrElse("api_key", "")
    val clientIdPrn = s"client_id=[${if (clientId.isEmpty) "<empty>" else clientId}]"
    val apiKeyPrn = s"api_key=[${if (apiKey.isEmpty) "<empty>" else "<redacted>"}]"
    generateJwt(clientId, apiKey) match {
      case None =>
        TokenResponse(errorStatusCode = 401,
          errorMessage = s"Invalid credentials -- $clientIdPrn, $apiKeyPrn")
      case Some((token, expiresAt)) =>
        TokenResponse(Some(token), JwtTokenType, Some(expiresAt))
    }
  }

  /** Bearer verification for protected endpoints (auth_utils.cpp:244-269):
    * returns an error message, or None when the request may proceed. When
    * credential checking is disabled, everything passes.
    */
  def verifyTokenForEndpoint(authorizationHeader: String): Option[String] = {
    if (!getEnableCredentialCheck) return None
    val prefix = JwtTokenType + " "
    val token =
      if (authorizationHeader.startsWith(prefix))
        Some(authorizationHeader.substring(prefix.length))
      else None
    token match {
      case None => Some("Unauthorized: JWT token is missing")
      case Some(t) =>
        Jwt.verify(t, jwtSecretKey, clock()) match {
          case Left(_) => Some("Unauthorized: Invalid JWT token")
          case Right(_) => None
        }
    }
  }
}

object ClientCredentialStore {
  /** 4 hours, `JWT_EXPIRATION_SECONDS` (auth_utils.h:38). */
  final val JwtExpirationSeconds = 4L * 60 * 60
  /** `JWT_TOKEN_TYPE` (auth_utils.h:39). */
  final val JwtTokenType = "Bearer"
}
