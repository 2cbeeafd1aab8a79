package graft.agent

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.GraftInvalidInputException

/** Transport abstraction standing in for the reference's `HttpClientBase`
  * (`/root/reference/src/client/http_client_base.h`). Implementations are
  * injected exactly like the reference injects its HTTP client into
  * `RemoteDataBatchProtectionAgent` for tests (`dbpa_remote.cpp:164-168`).
  * Two implementations: [[HttpPooledTransport]] over loopback sockets to
  * [[graft.service.HttpProtectionServer]], and the in-process
  * [[graft.service.ProtectionService]] itself.
  */
trait ProtectionTransport {
  def get(endpoint: String, headers: Map[String, String]): TransportResponse
  def post(endpoint: String, body: String, headers: Map[String, String]): TransportResponse

  /** The same POST with its body as UTF-8 bytes: the page path, which
    * keeps a body in bytes from the socket to the envelope. The socket and
    * service transports take bytes as they are; a transport that only
    * handles `String` bodies gets them decoded here.
    */
  def post(endpoint: String, body: Array[Byte], headers: Map[String, String]): TransportResponse =
    post(endpoint, new String(body, UTF_8), headers)
}

/** status_code / result / error_message triple (`http_client_base.h`
  * HttpResponse). The body travels as its UTF-8 `bytes`; `body` is the
  * decoded text, made on first use.
  */
final class TransportResponse(val status: Int, val bytes: Array[Byte], val error: String) {
  lazy val body: String = new String(bytes, UTF_8)
  def ok: Boolean = status == 200 && error.isEmpty
  override def toString: String = s"TransportResponse($status, $body, $error)"
}

object TransportResponse {
  def apply(status: Int, body: String, error: String = ""): TransportResponse =
    new TransportResponse(status, body.getBytes(UTF_8), error)

  def apply(status: Int, bytes: Array[Byte]): TransportResponse =
    new TransportResponse(status, bytes, "")
}

/** Minimal JSON helpers over the Jackson shipped with Spark — flat
  * string→string objects only (the shape of every reference request/response
  * body: `json_request.cpp`, token/encrypt/decrypt payloads).
  */
private[graft] object FlatJson {
  private val mapper = new ObjectMapper()

  def write(fields: Map[String, String]): String = {
    val node = mapper.createObjectNode()
    fields.foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }

  /** Parse a flat JSON object; non-string scalars stringify (expires_at). */
  def parse(s: String): Map[String, String] = {
    val node = mapper.readTree(s)
    if (node == null || !node.isObject)
      throw new GraftInvalidInputException("expected a JSON object")
    val it = node.fields()
    val out = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      out += e.getKey -> (if (e.getValue.isTextual) e.getValue.asText()
                          else e.getValue.toString)
    }
    out.result()
  }
}

/** Authenticated client over a [[ProtectionTransport]] — parity with the
  * reference's token discipline (`http_client_base.cpp:39-199`):
  *
  *  - `/token` fetch is authless and caches `{token, token_type, expires_at}`;
  *  - a cached token is reused until `expires_at − skew`
  *    (`kTokenExpirySkewSeconds` analog, `:131-136`);
  *  - authenticated calls stamp `Authorization: <type> <token>` (`:111-119`);
  *  - a 401 invalidates the cache and retries exactly once with a fresh
  *    token (`:55-60`, `:82-87`).
  *
  * The reference single-flights concurrent fetches with a condvar
  * (`:141-170`); here a plain `synchronized` around the whole
  * ensure-valid-token path gives the same "one fetch, others wait" behavior.
  * Known divergence: the reference releases its mutex DURING the fetch so a
  * slow `/token` doesn't serialize unrelated encrypt/decrypt callers. Here
  * the lock is held across the fetch, a loopback `/token` round trip over
  * [[HttpPooledTransport]]. That is fine while each agent owns its own
  * client, so the only callers it serializes are that agent's; replicate the
  * condvar single-flight if one client is ever shared by concurrent agents
  * or the token service moves off the local host.
  */
final class ProtectionServiceClient(
    transport: ProtectionTransport,
    credentials: Map[String, String],
    clock: () => Long = () => System.currentTimeMillis() / 1000L) {

  import ProtectionServiceClient._

  private case class CachedToken(token: String, tokenType: String, expiresAt: Long)
  private var cached: Option[CachedToken] = None

  /** GET /healthz — authless, like `DBPSApiClient::HealthCheck`
    * (`dbps_api_client.cpp:168-169`). Returns the raw body ("OK" on success).
    */
  def healthCheck(): String = {
    val r = transport.get("/healthz", baseHeaders)
    if (!r.ok) s"health check failed: ${if (r.error.nonEmpty) r.error else r.status.toString}"
    else r.body
  }

  /** Eagerly fetch/validate a token (`PrefetchToken`, `http_client_base.cpp:91-101`).
    * Returns an error message, or None on success.
    */
  def prefetchToken(): Option[String] =
    ensureValidToken().left.toOption.orElse(None)

  /** Authenticated POST of a flat JSON object body. */
  def post(endpoint: String, fields: Map[String, String]): TransportResponse =
    postRaw(endpoint, FlatJson.write(fields).getBytes(UTF_8))

  /** Authenticated POST of a prebuilt UTF-8 body (the nested request
    * envelopes), with the 401-invalidate-retry-once discipline.
    */
  def postRaw(endpoint: String, body: Array[Byte]): TransportResponse = {
    def attempt(): TransportResponse = ensureValidToken() match {
      case Left(err) => TransportResponse(0, "", err)
      case Right(t) =>
        val auth = s"${t.tokenType.stripSuffix(" ")} ${t.token}"
        transport.post(endpoint, body, baseHeaders + (AuthorizationHeader -> auth))
    }
    val first = attempt()
    if (first.status == 401) { // token expired between validation and use
      invalidateCachedToken()
      attempt()
    } else first
  }

  def invalidateCachedToken(): Unit = synchronized { cached = None }

  private def ensureValidToken(): Either[String, CachedToken] = synchronized {
    val now = clock()
    cached.filter(t => t.token.nonEmpty && t.expiresAt > now + TokenExpirySkewSeconds)
      .map(Right(_))
      .getOrElse(fetchToken())
  }

  /** POST /token with the credential map — authless by construction to avoid
    * recursion (`http_client_base.cpp:173-199`).
    */
  private def fetchToken(): Either[String, CachedToken] = {
    val resp = transport.post("/token", FlatJson.write(credentials), baseHeaders)
    if (!resp.ok) {
      // transport-level error, or the server's {"error": msg} envelope
      val msg =
        if (resp.error.nonEmpty) resp.error
        else try FlatJson.parse(resp.body).getOrElse("error", resp.body)
        catch { case _: Exception => resp.body }
      return Left(s"$msg (status code: ${resp.status})")
    }
    val fields =
      try FlatJson.parse(resp.body)
      catch { case e: Exception => return Left(s"invalid token response: ${e.getMessage}") }
    (fields.get("token"), fields.get("token_type"), fields.get("expires_at")) match {
      case (Some(tok), Some(tt), Some(exp)) if tok.nonEmpty && tt.nonEmpty =>
        val expiresAt =
          try exp.toLong
          catch { case _: NumberFormatException =>
            return Left(s"invalid expires_at in token response: '$exp'") }
        val t = CachedToken(tok, tt, expiresAt)
        cached = Some(t)
        Right(t)
      case _ =>
        Left(s"While reading token response, found an invalid token response: ${resp.body}")
    }
  }
}

object ProtectionServiceClient {
  /** Early-expiry padding (`kTokenExpirySkewSeconds` analog). */
  final val TokenExpirySkewSeconds = 30L
  final val AuthorizationHeader = "Authorization"
  private val baseHeaders = Map(
    "Content-Type" -> "application/json",
    "Accept" -> "application/json")
}
