package graft.agent

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{CryptoCodec, GraftInvalidInputException, PageCodec}
import graft.service.{ClientCredentialStore, JsonEnvelope, ProtectionService}

/** Fault-injecting transport wrapped around the REAL in-process
  * [[ProtectionService]] — the crypto, JWT auth, and error envelope are all
  * production code; this wrapper only adds the failure toggles the
  * reference's remote-agent tests flip (`/root/reference/src/common/
  * dbpa_remote_test.cpp`): health failure, forced 401s (server-side token
  * revocation analog), and tampered NESTED response fields.
  */
final class FaultInjectingTransport(inner: ProtectionTransport) extends ProtectionTransport {
  var healthy = true
  /** Force the next N authenticated calls to 401 regardless of token. */
  var force401 = 0
  var tamperDecryptDatatype: Option[String] = None
  var tamperDecryptCompression: Option[String] = None
  var tamperEncryptCompression: Option[String] = None
  // AtomicInteger: concurrent callers hit the wrapper in the single-flight test
  private val fetches = new java.util.concurrent.atomic.AtomicInteger
  private val encrypts = new java.util.concurrent.atomic.AtomicInteger
  private val decrypts = new java.util.concurrent.atomic.AtomicInteger
  private val unauthorized = new java.util.concurrent.atomic.AtomicInteger
  def tokenFetches: Int = fetches.get
  def encryptCalls: Int = encrypts.get
  def decryptCalls: Int = decrypts.get
  def unauthorizedCalls: Int = unauthorized.get

  override def get(endpoint: String, headers: Map[String, String]): TransportResponse =
    if (endpoint == "/healthz" && !healthy) TransportResponse(500, "", "connection refused")
    else inner.get(endpoint, headers)

  override def post(endpoint: String, body: String,
      headers: Map[String, String]): TransportResponse = {
    endpoint match {
      case "/token" => fetches.incrementAndGet()
      case "/encrypt" => encrypts.incrementAndGet()
      case "/decrypt" => decrypts.incrementAndGet()
      case _ =>
    }
    if (force401 > 0 && endpoint != "/token") {
      force401 -= 1
      unauthorized.incrementAndGet()
      return TransportResponse(401, """{"error": "Unauthorized: revoked"}""")
    }
    val resp = inner.post(endpoint, body, headers)
    if (resp.status == 401 && endpoint != "/token") unauthorized.incrementAndGet()
    tamper(endpoint, resp)
  }

  private val mapper = new ObjectMapper()

  /** Patch a nested path inside a 200 response body. */
  private def tamper(endpoint: String, resp: TransportResponse): TransportResponse = {
    if (resp.status != 200) return resp
    val patched: Option[String] = endpoint match {
      case "/decrypt" if tamperDecryptDatatype.nonEmpty || tamperDecryptCompression.nonEmpty =>
        val root = mapper.readTree(resp.body).asInstanceOf[ObjectNode]
        tamperDecryptDatatype.foreach(
          root.withObject("/data_batch/datatype_info").put("datatype", _))
        tamperDecryptCompression.foreach(
          root.withObject("/data_batch/value_format").put("compression", _))
        Some(mapper.writeValueAsString(root))
      case "/encrypt" => tamperEncryptCompression.map { v =>
        val root = mapper.readTree(resp.body).asInstanceOf[ObjectNode]
        root.withObject("/data_batch_encrypted/value_format").put("compression", v)
        mapper.writeValueAsString(root)
      }
      case _ => None
    }
    patched.map(b => TransportResponse(resp.status, b, resp.error)).getOrElse(resp)
  }
}

/** Remote-agent parity suite — ports the highest-value cases of
  * `dbpa_remote_test.cpp` (init/health/user-id failures, successful
  * round trips, field mismatches), the token-cache/retry behavior of
  * `http_client_base_test.cpp`, and the malformed-envelope grid of
  * `json_request_test.cpp`. Runs the full production stack in-process:
  * RemoteProtectionAgent → ProtectionServiceClient → ProtectionService with
  * real HS256 JWTs → page sequencer, over the reference's NESTED JSON
  * envelope. Pure JVM: no SparkSession needed.
  */
class RemoteAgentSpec extends AnyFunSuite {
  private val AppCtx = """{"user_id":"user-7"}"""
  private val Creds = Map("client_id" -> "graft", "api_key" -> "graft-api-key")
  private val mapper = new ObjectMapper()

  private def mk(codec: String = CryptoCodec.Xor)
      : (FaultInjectingTransport, RemoteProtectionAgent, Long => Unit) = {
    var now = 1700000000L
    val clock = () => now
    val store = new ClientCredentialStore("spec-jwt-secret", clock)
    store.init(Map("graft" -> "graft-api-key"))
    val transport = new FaultInjectingTransport(new ProtectionService(store, codec))
    val agent = new RemoteProtectionAgent(transport, Creds, clock)
    (transport, agent, (d: Long) => now += d)
  }

  test("encrypt/decrypt before init fail with not-initialized error") {
    val (_, agent, _) = mk() // DecryptWithoutInit (dbpa_remote_test.cpp:361)
    val e = intercept[GraftInvalidInputException] { agent.encrypt(Seq(1)) }
    assert(e.getMessage.contains("init() was not called"))
    intercept[GraftInvalidInputException] {
      agent.decrypt(EncryptedBatch(Array[Byte](1), Map.empty))
    }
  }

  test("init fails when health check fails, and agent stays unusable") {
    val (server, agent, _) = mk() // HealthCheckFailure (dbpa_remote_test.cpp:422)
    server.healthy = false
    val e = intercept[GraftInvalidInputException] {
      agent.init("email", AppCtx, "k1", StringType)
    }
    assert(e.getMessage.startsWith("Health check failed"))
    val e2 = intercept[GraftInvalidInputException] { agent.encrypt(Seq("x")) }
    assert(e2.getMessage.contains("healthz check failed"))
  }

  test("init fails on empty app_context") {
    val (_, agent, _) = mk()
    val e = intercept[GraftInvalidInputException] {
      agent.init("email", "", "k1", StringType)
    }
    assert(e.getMessage == "app_context is empty")
  }

  test("init fails when app_context has no user_id") {
    val (_, agent, _) = mk() // MissingUserId (dbpa_remote_test.cpp:390)
    for (ctx <- Seq("""{"other":"x"}""", """{"user_id":""}""", "not json")) {
      val e = intercept[GraftInvalidInputException] {
        agent.init("email", ctx, "k1", StringType)
      }
      assert(e.getMessage == "No user_id provided in app_context")
    }
  }

  test("init fails on empty key_id with a matching init error") {
    val (_, agent, _) = mk()
    val e = intercept[GraftInvalidInputException] {
      agent.init("email", AppCtx, "", StringType)
    }
    assert(e.getMessage == "key_id must be non-empty")
    val e2 = intercept[GraftInvalidInputException] { agent.encrypt(Seq("x")) }
    assert(e2.getMessage.contains("key_id is empty"))
  }

  test("successful round trip through the service boundary, nulls preserved") {
    val (server, agent, _) = mk() // SuccessfulEncryption/Decryption
    agent.init("email", AppCtx, "k1", StringType)
    val values = Seq("user1@example.com", null, "café 🚀 树 🌍", "", "user2@example.com")
    val batch = agent.encrypt(values)
    assert(batch.metadata("encrypt_codec") == CryptoCodec.Xor)
    assert(batch.metadata("encrypt_mode_data_page") == "per_value")
    assert(agent.decrypt(batch) == values)
    assert(server.encryptCalls == 1 && server.decryptCalls == 1)
  }

  test("cell round trips across Spark types, incl. FLBA-mapped scalars") {
    val (_, agent0, _) = mk()
    def roundTrip(dt: DataType, values: Seq[Any]): Unit = {
      val (_, agent, _) = mk()
      agent.init("col", AppCtx, "k1", dt)
      assert(agent.decrypt(agent.encrypt(values)) == values, s"for $dt")
    }
    roundTrip(IntegerType, Seq(1, null, -17, 0))
    roundTrip(LongType, Seq(1L, Long.MinValue, null))
    roundTrip(DoubleType, Seq(1.5, -0.0, null))
    roundTrip(BooleanType, Seq(true, null, false)) // FLBA(1) mapping
    roundTrip(ShortType, Seq(1.toShort, null, (-2).toShort)) // FLBA(2)
    // BYTE_ARRAY: arrays need element-wise comparison
    agent0.init("col", AppCtx, "k1", BinaryType)
    val bin = Seq(Array[Byte](1, 2), null, Array.emptyByteArray)
    val got = agent0.decrypt(agent0.encrypt(bin))
    assert(got.size == 3 && got(1) == null)
    assert(got(0).asInstanceOf[Array[Byte]].sameElements(Array[Byte](1, 2)))
    assert(got(2).asInstanceOf[Array[Byte]].isEmpty)
  }

  test("empty batches round-trip on both agents and across them") {
    // the remote agent resolves empties client-side (a zero-byte page would
    // trip the server's empty-plaintext 400); the local agent accepts the
    // resulting zero-byte payload — interchangeability holds on the edge case
    val (server, agent, _) = mk()
    agent.init("email", AppCtx, "k1", StringType)
    val local = LocalProtectionAgent.init("k1", "email", StringType,
      CryptoCodec.Xor, "user-7", AppCtx)
    val remoteBatch = agent.encrypt(Seq.empty)
    assert(agent.decrypt(remoteBatch) == Seq.empty)
    assert(local.decrypt(remoteBatch) == Seq.empty)
    assert(agent.decrypt(local.encrypt(Seq.empty)) == Seq.empty)
    assert(server.encryptCalls == 0 && server.decryptCalls == 0)
    assert(remoteBatch.metadata("cell_num_values") == "0")
  }

  test("remote and local agents are interchangeable (same context, same bytes)") {
    val (_, agent, _) = mk(CryptoCodec.AesDet) // service runs AES-SIV
    agent.init("score", AppCtx, "k9", IntegerType, CryptoCodec.AesDet)
    val local = LocalProtectionAgent.init("k9", "score", IntegerType,
      CryptoCodec.AesDet, "user-7", AppCtx)
    val values = Seq(3344, null, 5566, 7788)
    // remote-encrypted batch decrypts locally and vice versa
    assert(local.decrypt(agent.encrypt(values)) == values)
    assert(agent.decrypt(local.encrypt(values)) == values)
    // and the ciphertext payloads are byte-identical (deterministic codec)
    assert(agent.encrypt(values).payload.sameElements(local.encrypt(values).payload))
  }

  test("page mode round-trips a dictionary page like the local page agent") {
    val (_, agent, _) = mk()
    agent.initPage("email", AppCtx, "k1", "BYTE_ARRAY")
    val payload = PageCodec.joinValueBytes(
      Seq("alpha", "bb", "", "delta").map(_.getBytes("UTF-8")), "BYTE_ARRAY", None)
    val attrs = Map("page_type" -> "DICTIONARY_PAGE",
      "dict_page_num_values" -> "4", "page_encoding" -> "PLAIN")
    val batch = agent.encryptPage(payload, attrs)
    assert(batch.metadata("encrypt_mode_dict_page") == "per_value")
    assert(agent.decryptPage(batch, attrs).sameElements(payload))
    // byte parity with the local page agent
    val local = LocalProtectionAgent.initPage("k1", "email", "BYTE_ARRAY",
      userId = "user-7", appContext = AppCtx)
    assert(local.encryptPage(payload, attrs).payload.sameElements(batch.payload))
  }

  test("page mode round-trips SNAPPY pages like the local page agent") {
    val (_, agent, _) = mk()
    agent.initPage("email", AppCtx, "k1", "BYTE_ARRAY", compression = PageCodec.Snappy)
    val local = LocalProtectionAgent.initPage("k1", "email", "BYTE_ARRAY",
      compression = PageCodec.Snappy, userId = "user-7", appContext = AppCtx)
    val payload = PageCodec.compress(PageCodec.joinValueBytes(
      Seq("alpha", "bb", "", "delta").map(_.getBytes("UTF-8")), "BYTE_ARRAY", None),
      PageCodec.Snappy)
    val dictionary = Map("page_type" -> "DICTIONARY_PAGE",
      "dict_page_num_values" -> "4", "page_encoding" -> "PLAIN")
    val v2 = Map("page_type" -> "DATA_PAGE_V2", "data_page_num_values" -> "4",
      "data_page_max_definition_level" -> "0", "data_page_max_repetition_level" -> "0",
      "page_v2_definition_levels_byte_length" -> "0",
      "page_v2_repetition_levels_byte_length" -> "0",
      "page_v2_num_nulls" -> "0", "page_v2_is_compressed" -> "true",
      "page_encoding" -> "PLAIN")
    for (attrs <- Seq(dictionary, v2)) {
      val batch = agent.encryptPage(payload, attrs)
      assert(agent.decryptPage(batch, attrs).sameElements(payload), attrs("page_type"))
      assert(local.encryptPage(payload, attrs).payload.sameElements(batch.payload))
    }
  }

  test("token is fetched once and cached across calls") {
    val (server, agent, _) = mk()
    agent.init("email", AppCtx, "k1", StringType)
    val b = agent.encrypt(Seq("a", "b"))
    agent.decrypt(b)
    agent.encrypt(Seq("c"))
    assert(server.tokenFetches == 1, s"expected 1 token fetch, got ${server.tokenFetches}")
  }

  test("concurrent first calls single-flight the token fetch") {
    val (server, agent, _) = mk()
    agent.init("email", AppCtx, "k1", StringType)
    val threads = (1 to 8).map { i =>
      new Thread(() => { agent.encrypt(Seq(s"v$i")): Unit })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(30000))
    assert(server.tokenFetches == 1,
      s"8 concurrent callers should share one fetch, saw ${server.tokenFetches}")
    assert(server.encryptCalls == 8)
    assert(server.unauthorizedCalls == 0)
  }

  test("cached token is refreshed inside the expiry-skew window, no 401") {
    val (server, agent, advance) = mk()
    agent.init("email", AppCtx, "k1", StringType)
    agent.encrypt(Seq("a"))
    assert(server.tokenFetches == 1)
    // 31s before real expiry: still outside the 30s skew → cache holds
    advance(ClientCredentialStore.JwtExpirationSeconds - 31)
    agent.encrypt(Seq("b"))
    assert(server.tokenFetches == 1)
    // cross into the skew window → client must proactively refetch
    advance(1)
    agent.encrypt(Seq("c"))
    assert(server.tokenFetches == 2)
    assert(server.unauthorizedCalls == 0) // refreshed BEFORE the call, no 401
  }

  test("server-side revocation triggers exactly one 401-retry with fresh token") {
    val (server, agent, _) = mk()
    agent.init("email", AppCtx, "k1", StringType)
    val values = Seq("x", "y")
    val expected = agent.encrypt(values)
    server.force401 = 1 // cached token still "valid" client-side, server says no
    val batch = agent.encrypt(values) // 401 → invalidate → refetch → retry
    assert(batch.payload.sameElements(expected.payload))
    assert(server.unauthorizedCalls == 1)
    assert(server.tokenFetches == 2)
  }

  test("requests without a real signed token are 401ed by the service") {
    val (server, _, _) = mk()
    // bypass the client: post straight to the service with junk auth
    val resp = server.post("/encrypt", "{}",
      Map("Authorization" -> "Bearer not.a.jwt", "Content-Type" -> "application/json"))
    assert(resp.status == 401)
    assert(resp.body.contains("Unauthorized"))
    assert(server.post("/encrypt", "{}", Map.empty).status == 401)
  }

  test("statusz is Bearer-protected and reports the credential-check flag") {
    var now = 1700000000L
    val store = new ClientCredentialStore("spec-jwt-secret", () => now)
    store.init(Map("graft" -> "graft-api-key"))
    val service = new ProtectionService(store)
    assert(service.get("/statusz", Map.empty).status == 401)
    val tokenResp = service.post("/token", FlatJson.write(Creds), Map.empty)
    // expires_at must be a JSON NUMBER (reference emits int64 directly)
    val tokenJson = mapper.readTree(tokenResp.body)
    assert(tokenJson.get("expires_at").isIntegralNumber, tokenResp.body)
    val token = tokenJson.get("token").asText()
    val ok = service.get("/statusz", Map("Authorization" -> s"Bearer $token"))
    assert(ok.status == 200 && ok.body.contains("\"enable_credential_check\":true"))
  }

  test("decrypt response datatype mismatch is rejected") {
    val (server, agent, _) = mk() // DecryptionFieldMismatch (dbpa_remote_test.cpp:539)
    agent.init("email", AppCtx, "k1", StringType)
    val batch = agent.encrypt(Seq("a"))
    server.tamperDecryptDatatype = Some("INT32")
    val e = intercept[GraftInvalidInputException] { agent.decrypt(batch) }
    assert(e.getMessage.contains("Decrypt response datatype mismatch"))
  }

  test("decrypt response compression mismatch is rejected") {
    val (server, agent, _) = mk()
    agent.initPage("email", AppCtx, "k1", "BYTE_ARRAY", compression = PageCodec.Snappy)
    val payload = PageCodec.compress(PageCodec.joinValueBytes(
      Seq("alpha", "bb").map(_.getBytes("UTF-8")), "BYTE_ARRAY", None), PageCodec.Snappy)
    val attrs = Map("page_type" -> "DICTIONARY_PAGE",
      "dict_page_num_values" -> "2", "page_encoding" -> "PLAIN")
    val batch = agent.encryptPage(payload, attrs)
    server.tamperDecryptCompression = Some(PageCodec.Uncompressed)
    val e = intercept[GraftInvalidInputException] { agent.decryptPage(batch, attrs) }
    assert(e.getMessage.contains("Decrypt response compression mismatch"))
  }

  test("encrypt response compression mismatch is rejected") {
    val (server, agent, _) = mk() // EncryptionFieldMismatch (dbpa_remote_test.cpp:611)
    agent.init("email", AppCtx, "k1", StringType)
    server.tamperEncryptCompression = Some("SNAPPY")
    val e = intercept[GraftInvalidInputException] { agent.encrypt(Seq("a")) }
    assert(e.getMessage.contains("Encrypt response encrypted_compression mismatch"))
  }

  test("server-side sequencer errors propagate as clean failures") {
    val (_, agent, _) = mk()
    agent.init("email", AppCtx, "k1", StringType)
    val batch = agent.encrypt(Seq("a"))
    // tamper the version stamp → the SERVER's decrypt-side version check fires
    val bad = batch.copy(metadata = batch.metadata + ("dbps_agent_version" -> "v9.99"))
    val e = intercept[GraftInvalidInputException] { agent.decrypt(bad) }
    assert(e.getMessage.contains("Decryption failed"))
    assert(e.getMessage.contains("must match"))
  }

  test("credential rejection surfaces as a token-fetch error") {
    var now = 1700000000L
    val store = new ClientCredentialStore("spec-jwt-secret", () => now)
    store.init(Map("graft" -> "graft-api-key"))
    val service = new ProtectionService(store)
    val agent = new RemoteProtectionAgent(service,
      Map("client_id" -> "graft", "api_key" -> "wrong"), () => now)
    agent.init("email", AppCtx, "k1", StringType) // health is authless → init OK
    val e = intercept[GraftInvalidInputException] { agent.encrypt(Seq("a")) }
    assert(e.getMessage.contains("status code: 401"))
    assert(e.getMessage.contains("Invalid credentials"))
  }

  // ------------------------------------------------ nested-envelope parity --
  // The grid of json_request_test.cpp, driven through the real service over
  // raw JSON bodies — a reference client's requests, byte for byte.

  private def serviceWithToken(): (ProtectionService, Map[String, String]) = {
    val store = new ClientCredentialStore("spec-jwt-secret", () => 1700000000L)
    store.init(Map("graft" -> "graft-api-key"))
    val service = new ProtectionService(store)
    val token = mapper.readTree(
      service.post("/token", FlatJson.write(Creds), Map.empty).body)
      .get("token").asText()
    (service, Map("Authorization" -> s"Bearer $token"))
  }

  /** The reference's VALID_ENCRYPT_JSON shape (json_request_test.cpp:87-117)
    * with real page attributes so the sequencer accepts it.
    */
  private def validEncryptBody(value: Array[Byte]): String = s"""{
    "column_reference": {"name": "email"},
    "data_batch": {
      "datatype_info": {"datatype": "BYTE_ARRAY"},
      "value": "${java.util.Base64.getEncoder.encodeToString(value)}",
      "value_format": {
        "compression": "UNCOMPRESSED",
        "encoding": "PLAIN",
        "encoding_attributes": {
          "page_type": "DICTIONARY_PAGE",
          "dict_page_num_values": "2",
          "page_encoding": "PLAIN"
        }
      }
    },
    "data_batch_encrypted": {"value_format": {"compression": "UNCOMPRESSED"}},
    "encryption": {"key_id": "key123"},
    "access": {"user_id": "user456"},
    "application_context": "{\\"user_id\\": \\"user456\\"}",
    "debug": {"reference_id": "ref789"}
  }"""

  test("nested envelope: full encrypt/decrypt wire round trip with response stamps") {
    val (service, auth) = serviceWithToken()
    val page = PageCodec.joinValueBytes(
      Seq("test@example.com", "x@y.z").map(_.getBytes("UTF-8")), "BYTE_ARRAY", None)
    val encResp = service.post("/encrypt", validEncryptBody(page), auth)
    assert(encResp.status == 200, encResp.body)
    val enc = mapper.readTree(encResp.body)
    assert(enc.at("/access/role").asText() == "EmailReader")
    assert(enc.at("/access/access_control").asText() == "granted")
    assert(enc.at("/access/user_id").asText() == "user456")
    assert(enc.at("/debug/reference_id").asText() == "ref789")
    assert(enc.at("/data_batch_encrypted/value_format/compression").asText()
      == "UNCOMPRESSED")
    assert(enc.at("/encryption_metadata/encrypt_mode_dict_page").asText()
      == "per_value")
    val ciphertextB64 = enc.at("/data_batch_encrypted/value").asText()
    assert(ciphertextB64.nonEmpty)

    val decBody = s"""{
      "column_reference": {"name": "email"},
      "data_batch": {
        "datatype_info": {"datatype": "BYTE_ARRAY"},
        "value_format": {
          "compression": "UNCOMPRESSED",
          "encoding": "PLAIN",
          "encoding_attributes": {
            "page_type": "DICTIONARY_PAGE",
            "dict_page_num_values": "2",
            "page_encoding": "PLAIN"
          }
        }
      },
      "data_batch_encrypted": {
        "value": "$ciphertextB64",
        "value_format": {"compression": "UNCOMPRESSED"}
      },
      "encryption": {"key_id": "key123"},
      "access": {"user_id": "user456"},
      "application_context": "{\\"user_id\\": \\"user456\\"}",
      "encryption_metadata": ${enc.get("encryption_metadata").toString},
      "debug": {"reference_id": "ref789"}
    }"""
    val decResp = service.post("/decrypt", decBody, auth)
    assert(decResp.status == 200, decResp.body)
    val dec = mapper.readTree(decResp.body)
    assert(dec.at("/data_batch/datatype_info/datatype").asText() == "BYTE_ARRAY")
    assert(dec.at("/data_batch/value_format/compression").asText() == "UNCOMPRESSED")
    assert(dec.at("/data_batch/value_format/encoding").asText() == "PLAIN")
    assert(java.util.Base64.getDecoder.decode(
      dec.at("/data_batch/value").asText()).sameElements(page))
  }

  test("malformed envelope: missing required fields lists them like the reference") {
    val (service, auth) = serviceWithToken()
    // json_request_test.cpp:175-199 — only column_reference present
    val resp = service.post("/encrypt", """{"column_reference":{"name":"email"}}""", auth)
    assert(resp.status == 400)
    val err = mapper.readTree(resp.body).get("error").asText()
    assert(err.startsWith("Missing required fields:"))
    assert(err.contains("data_batch.datatype_info.datatype"))
    assert(err.contains("encryption.key_id"))
    assert(err.contains("access.user_id"))
    assert(err.contains("debug.reference_id"))
    assert(!err.contains("column_reference.name"))
  }

  private def errorOf(resp: TransportResponse): String =
    mapper.readTree(resp.body).get("error").asText()

  test("malformed envelope: invalid JSON body is a 400 with every field missing") {
    val (service, auth) = serviceWithToken()
    // json_request_test.cpp:201-218
    val resp = service.post("/encrypt", "{ invalid json }", auth)
    assert(resp.status == 400)
    val err = errorOf(resp)
    assert(err.startsWith("Missing required fields:"))
    assert(err.contains("column_reference.name"))
  }

  test("malformed envelope: missing or invalid base64 value") {
    val (service, auth) = serviceWithToken()
    // EncryptJsonRequestMissingValue (json_request_test.cpp:289-340)
    val noValue = validEncryptBody(Array[Byte](1)).replaceFirst(
      """"value": "[^"]*",""", "")
    val r1 = service.post("/encrypt", noValue, auth)
    assert(r1.status == 400)
    assert(errorOf(r1) == "Missing required field: data_batch.value")
    // invalid base64 behaves exactly like missing (DecodeBase64Safe → empty)
    val badB64 = validEncryptBody(Array[Byte](1)).replaceFirst(
      """"value": "[^"]*"""", "\"value\": \"!!!not-base64!!!\"")
    val r2 = service.post("/encrypt", badB64, auth)
    assert(r2.status == 400)
    assert(errorOf(r2) == "Missing required field: data_batch.value")
  }

  test("malformed envelope: decrypt without encrypted value") {
    val (service, auth) = serviceWithToken()
    // DecryptJsonRequestMissingEncryptedValue (json_request_test.cpp:368-419)
    val body = validEncryptBody(Array[Byte](1)).replaceFirst(
      """"value": "[^"]*",""", "")
    val resp = service.post("/decrypt", body, auth)
    assert(resp.status == 400)
    assert(errorOf(resp) == "Missing required field: data_batch_encrypted.value")
  }

  test("malformed envelope: unknown enum behaves as missing field") {
    val (service, auth) = serviceWithToken()
    val body = validEncryptBody(Array[Byte](1))
      .replace("\"BYTE_ARRAY\"", "\"VARCHAR\"")
    val resp = service.post("/encrypt", body, auth)
    assert(resp.status == 400)
    assert(errorOf(resp).contains("data_batch.datatype_info.datatype"))
  }

  test("malformed envelope: non-integer datatype length flags the exact field") {
    val (service, auth) = serviceWithToken()
    val body = validEncryptBody(Array[Byte](1)).replace(
      """"datatype_info": {"datatype": "BYTE_ARRAY"}""",
      """"datatype_info": {"datatype": "BYTE_ARRAY", "length": "abc"}""")
    val resp = service.post("/encrypt", body, auth)
    assert(resp.status == 400)
    assert(errorOf(resp)
      .contains("data_batch.datatype_info.length (invalid integer value)"))
  }

  test("envelope parse: stoi semantics accept integer prefixes like the reference") {
    // SafeParseToInt uses std::stoi: "12abc" → 12, " 7" → 7, "abc" → invalid
    val req = JsonEnvelope.ProtectRequest.parse(
      validEncryptBody(Array[Byte](1)).replace(
        """"datatype_info": {"datatype": "BYTE_ARRAY"}""",
        """"datatype_info": {"datatype": "BYTE_ARRAY", "length": "12abc"}"""),
      encrypt = true)
    assert(req.datatypeLength.contains(12) && req.datatypeLengthStr.isEmpty)
  }
}
