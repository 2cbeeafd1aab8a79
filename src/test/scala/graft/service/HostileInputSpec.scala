package graft.service

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.agent.{FlatJson, LocalProtectionAgent}
import graft.core._
import graft.pipeline.PageSequencer
import graft.service.JsonEnvelope.{DecryptResponse, EncryptResponse, ProtectRequest}

/** Parse boundaries on hostile bytes: an element count read from a payload
  * or from the request's attributes is checked against the bytes actually
  * present before anything is allocated from it, and every malformed input
  * ends as a typed invalid-input (or unsupported) error — a 400 with the
  * `{"error": …}` envelope at the service.
  */
class HostileInputSpec extends AnyFunSuite {
  import HostileInputSpec._

  private val ctx = ProtectionContext("k1", "email", "user456", """{"user_id": "user456"}""")
  private val xor = XorCodec(ctx)
  private val mapper = new ObjectMapper()

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  /** Variable value list claiming 2^31-1 elements in a 5-byte payload. */
  private val hostileVariable = le(5).put(WireFormat.VariableTag).putInt(Int.MaxValue).array()
  /** Fixed value list with element size 0. */
  private def zeroWidthFixed(count: Int): Array[Byte] =
    le(9).put(WireFormat.FixedTag).putInt(count).putInt(0).array()

  test("value list: a variable-tag count beyond the bytes present is invalid input") {
    intercept[GraftInvalidInputException](WireFormat.decryptValueList(xor, hostileVariable))
    // one length prefix fits in 4 bytes, two do not
    val oneEmpty = le(9).put(WireFormat.VariableTag).putInt(1).putInt(0).array()
    assert(WireFormat.decryptValueList(xor, oneEmpty).map(_.length) == Seq(0))
    val two = le(9).put(WireFormat.VariableTag).putInt(2).putInt(0).array()
    intercept[GraftInvalidInputException](WireFormat.decryptValueList(xor, two))
  }

  test("value list: a fixed-tag list of zero-byte elements is invalid input") {
    for (count <- Seq(Int.MaxValue, 50000000, 1))
      intercept[GraftInvalidInputException](
        WireFormat.decryptValueList(xor, zeroWidthFixed(count)))
    assert(WireFormat.decryptValueList(xor, zeroWidthFixed(0)).isEmpty)
  }

  test("page codec: a BYTE_ARRAY count beyond the value bytes is invalid input") {
    intercept[GraftInvalidInputException](PageCodec.splitValueBytes(
      new Array[Byte](6), Int.MaxValue, "BYTE_ARRAY", None, "PLAIN"))
    intercept[GraftInvalidInputException](LocalProtectionAgent.initPage("k1", "email",
      "BYTE_ARRAY").encryptPage(new Array[Byte](6), dictAttrs(Int.MaxValue)))
  }

  test("decimal: empty or over-precision decrypted bytes are invalid input") {
    val dt = DecimalType(12, 2)
    intercept[GraftInvalidInputException](ValueSerde.deserialize(dt, Array.emptyByteArray))
    val tooWide = new java.math.BigInteger("1" + "0" * 12).toByteArray // 13 digits
    intercept[GraftInvalidInputException](ValueSerde.deserialize(dt, tooWide))
    assert(ValueSerde.deserialize(dt, new java.math.BigInteger("999999999999").toByteArray) ==
      Decimal(new java.math.BigDecimal("9999999999.99")))
    // the same bytes reached through a cell batch: a binary batch re-labelled
    // as decimal shares the BYTE_ARRAY page layout and the column's cipher
    val binary = LocalProtectionAgent.init("k1", "email", BinaryType)
    val decimal = LocalProtectionAgent.init("k1", "email", dt)
    for (v <- Seq(Array.emptyByteArray, tooWide)) {
      val enc = binary.encrypt(Seq(v))
      val relabelled = enc.copy(metadata = enc.metadata.updated("original_type", dt.json))
      intercept[GraftInvalidInputException](decimal.decrypt(relabelled))
    }
  }

  private def dictAttrs(n: Int) = Map("page_type" -> "DICTIONARY_PAGE",
    "dict_page_num_values" -> n.toString, "page_encoding" -> "PLAIN")

  private def request(encrypt: Boolean, value: Array[Byte],
      attrs: Map[String, String], metadata: Map[String, String] = Map.empty): Array[Byte] =
    ProtectRequest(encrypt = encrypt, columnName = "email", datatype = Some("BYTE_ARRAY"),
      datatypeLength = None, datatypeLengthStr = "", compression = Some("UNCOMPRESSED"),
      encoding = Some("PLAIN"), encodingAttributes = attrs,
      encryptedCompression = Some("UNCOMPRESSED"), keyId = "k1", userId = "user456",
      applicationContext = """{"user_id": "user456"}""", referenceId = "1",
      value = value, encryptionMetadata = metadata).toBytes

  private val tokenBody =
    FlatJson.write(Map("client_id" -> "graft", "api_key" -> "graft-api-key"))

  /** A service with one registered client, and a valid bearer header. */
  private def serviceWithAuth(): (ProtectionService, Map[String, String]) = {
    val store = new ClientCredentialStore("spec-jwt-secret")
    store.init(Map("graft" -> "graft-api-key"))
    val service = new ProtectionService(store)
    val token = mapper.readTree(service.post("/token", tokenBody, Map.empty).body)
      .get("token").asText()
    (service, Map("Authorization" -> s"Bearer $token"))
  }

  test("service: hostile counts answer 400 with the error envelope") {
    val (service, auth) = serviceWithAuth()
    val perValue = Map("dbps_agent_version" -> "v0.01-graft-spark",
      PageSequencer.ModeKeyDictionaryPage -> PageSequencer.ModePerValue)
    val cases = Seq(
      "/encrypt" -> request(encrypt = true, new Array[Byte](6), dictAttrs(Int.MaxValue)),
      "/decrypt" -> request(encrypt = false,
        WireFormat.joinWithLengthPrefix(Array.emptyByteArray, hostileVariable),
        dictAttrs(2), perValue),
      "/decrypt" -> request(encrypt = false,
        WireFormat.joinWithLengthPrefix(Array.emptyByteArray, zeroWidthFixed(Int.MaxValue)),
        dictAttrs(2), perValue))
    for ((endpoint, body) <- cases) {
      val resp = service.post(endpoint, body, auth)
      assert(resp.status == 400, s"$endpoint ${resp.body}")
      assert(mapper.readTree(resp.body).get("error").asText().nonEmpty, resp.body)
    }
  }

  // ------------------------------------------------------------- property --

  /** Truncate, flip one bit, overwrite 4 bytes with a random int (hits the
    * count and length fields), or replace with random bytes.
    */
  private def mutations(valid: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
    Gen.choose(0, valid.length - 1).map(n => valid.take(n)),
    for (i <- Gen.choose(0, valid.length - 1); b <- Gen.choose(0, 7)) yield {
      val m = valid.clone(); m(i) = (m(i) ^ (1 << b)).toByte; m
    },
    for (i <- Gen.choose(0, math.max(0, valid.length - 4)); v <- Gen.choose(Int.MinValue, Int.MaxValue))
      yield {
        val m = valid.clone()
        val bytes = le(4).putInt(v).array()
        System.arraycopy(bytes, 0, m, i, math.min(4, m.length - i)); m
      },
    Gen.choose(0, 64).flatMap(n => Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue))))

  private def typedOnly(f: => Any): Unit =
    try f catch {
      case _: GraftInvalidInputException | _: GraftUnsupportedException =>
    }

  test("property: mutated cell batches and pages fail only with typed errors") {
    val batches = Seq(
      StringType -> Seq("user1@example.com", null, "café", "", "x" * 40),
      IntegerType -> Seq(1, null, -7, 42),
      DecimalType(12, 2) -> Seq(new java.math.BigDecimal("12.34"), null,
        new java.math.BigDecimal("-5.00")),
      ShortType -> Seq(1.toShort, null, 2.toShort))
    for (codec <- Seq(CryptoCodec.Xor, CryptoCodec.AesDet); (dt, values) <- batches) {
      val agent = LocalProtectionAgent.init("k1", "email", dt, codec)
      val enc = agent.encrypt(values)
      forAll(mutations(enc.payload), 500) { m => typedOnly(agent.decrypt(enc.copy(payload = m))) }
    }
    val values = Seq("alpha", "bb", "", "dddd").map(_.getBytes("UTF-8"))
    val v2Attrs = Map("page_type" -> "DATA_PAGE_V2", "data_page_num_values" -> "5",
      "data_page_max_definition_level" -> "1", "data_page_max_repetition_level" -> "0",
      "page_v2_definition_levels_byte_length" -> "5",
      "page_v2_repetition_levels_byte_length" -> "0", "page_v2_num_nulls" -> "1",
      "page_v2_is_compressed" -> "false", "page_encoding" -> "PLAIN")
    val pages = Seq(
      (PageCodec.joinValueBytes(values, "BYTE_ARRAY", None), dictAttrs(4)),
      (Array[Byte](1, 0, 1, 1, 1) ++ PageCodec.joinValueBytes(values, "BYTE_ARRAY", None), v2Attrs))
    for (codec <- Seq(CryptoCodec.Xor, CryptoCodec.AesDet); (page, attrs) <- pages) {
      val sequencer = new PageSequencer(CryptoCodec(codec, ctx), "BYTE_ARRAY", None, "UNCOMPRESSED")
      val enc = sequencer.encrypt(page, attrs)
      assert(sequencer.decrypt(enc.ciphertext, attrs, enc.metadata).sameElements(page))
      forAll(mutations(enc.ciphertext), 500) { m =>
        typedOnly(sequencer.decrypt(m, attrs, enc.metadata))
      }
    }
  }

  test("property: mutated /encrypt, /decrypt and /token bodies answer 4xx with the error envelope") {
    val (service, auth) = serviceWithAuth()
    val values = Seq("alpha", "bb", "", "dddd").map(_.getBytes("UTF-8"))
    val encryptBody = request(encrypt = true,
      PageCodec.joinValueBytes(values, "BYTE_ARRAY", None), dictAttrs(4))
    val encrypted = EncryptResponse.parse(service.post("/encrypt", encryptBody, auth).body)
      .fold(e => fail(e), identity)
    val decryptBody = request(encrypt = false, encrypted.encryptedValue, dictAttrs(4),
      encrypted.encryptionMetadata)
    assert(DecryptResponse.parse(service.post("/decrypt", decryptBody, auth).body).isRight)
    // a mutation may leave the request valid (a flipped bit inside the page
    // value, a number where a string scalar was): then the reply must be
    // the endpoint's well-formed 200 body
    val validReply: Map[String, String => Boolean] = Map(
      "/encrypt" -> (b => EncryptResponse.parse(b).isRight),
      "/decrypt" -> (b => DecryptResponse.parse(b).isRight),
      "/token" -> (b => FlatJson.parse(b).get("token").exists(_.nonEmpty)))
    val bodies = Seq("/encrypt" -> new String(encryptBody, UTF_8),
      "/decrypt" -> new String(decryptBody, UTF_8), "/token" -> tokenBody)
    for ((endpoint, body) <- bodies) {
      val headers = if (endpoint == "/token") Map.empty[String, String] else auth
      val rejected = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      forAll(bodyMutations(body), 400) { case (kind, mutated) =>
        val resp = try service.post(endpoint, mutated, headers) catch {
          case e: Throwable => fail(s"$endpoint threw on a $kind body: $e\n$mutated")
        }
        val where = s"$endpoint $kind -> ${resp.status} ${resp.body}\n$mutated"
        if (resp.status == 200 && kind != "truncated") assert(validReply(endpoint)(resp.body), where)
        else {
          assert(resp.status >= 400 && resp.status < 500, where)
          val reply = mapper.readTree(resp.body)
          assert(reply.isObject && reply.size == 1 && reply.get("error").isTextual, where)
          rejected(kind) += 1
        }
      }
      // every kind of mutation reached the error path at least once
      assert(rejected.keySet == Set("truncated", "flipped", "type-swapped"),
        s"$endpoint rejections by kind: $rejected")
    }
  }

  /** Truncate, flip one bit, append dots, or replace with random token-ish text. */
  private def tokenMutations(valid: String): Gen[(String, String)] = Gen.oneOf(
    Gen.choose(0, valid.length - 1).map(n => "truncated" -> valid.take(n)),
    for (i <- Gen.choose(0, valid.length - 1); b <- Gen.choose(0, 7)) yield {
      val m = valid.getBytes(UTF_8); m(i) = (m(i) ^ (1 << b)).toByte
      "flipped" -> new String(m, UTF_8)
    },
    Gen.choose(1, 3).map(n => "dotted" -> (valid + "." * n)),
    Gen.choose(0, 80).flatMap(n => Gen.stringOfN(n, Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf('.', '-', '_', '=', '+', '/')))).map("random" -> _))

  test("property: mutated and random bearer tokens are rejected, never thrown on or accepted") {
    val secret = "spec-jwt-secret"
    val now = 1700000000L
    val store = new ClientCredentialStore(secret, () => now)
    store.init(Map("graft" -> "graft-api-key"))
    val service = new ProtectionService(store)
    val (token, _) = store.generateJwt("graft", "graft-api-key").get
    assert(Jwt.verify(token, secret, now) == Right("graft"))
    // trailing empty parts once passed the three-part check
    for (dots <- Seq(".", "...")) assert(Jwt.verify(token + dots, secret, now).isLeft)
    // the signature's last character carries bits the decoder ignores: every
    // other spelling of those bits once decoded to the same signature
    val alphabet = ('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9') ++ Seq('-', '_')
    val last = alphabet.indexOf(token.last)
    for (v <- (last & ~3) to (last | 3) if v != last)
      assert(Jwt.verify(token.init + alphabet(v), secret, now).isLeft, alphabet(v))
    val rejected = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    forAll(tokenMutations(token), 500) { case (kind, t) =>
      val where = s"$kind token: $t"
      val verdict = try Jwt.verify(t, secret, now) catch {
        case e: Throwable => fail(s"verify threw on a $where: $e")
      }
      assert(verdict.isLeft, where)
      val denied = try store.verifyTokenForEndpoint(s"Bearer $t") catch {
        case e: Throwable => fail(s"verifyTokenForEndpoint threw on a $where: $e")
      }
      assert(denied.nonEmpty, where)
      assert(service.get("/statusz", Map("Authorization" -> s"Bearer $t")).status == 401, where)
      rejected(kind) += 1
    }
    assert(rejected.keySet == Set("truncated", "flipped", "dotted", "random"), rejected)
  }
}

object HostileInputSpec {
  private val bodyMapper = new ObjectMapper()

  /** Seeded ScalaCheck loop (the scalatestplus bridge is not on the classpath). */
  private[graft] def forAll[T](gen: Gen[T], n: Int)(f: T => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(7L)
    (0 until n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  /** Every field path of a JSON object tree, parents before children. */
  private def fieldPaths(n: JsonNode, prefix: Vector[String] = Vector.empty): Seq[Vector[String]] =
    n.fieldNames.asScala.toSeq.flatMap { f =>
      val p = prefix :+ f
      p +: (if (n.get(f).isObject) fieldPaths(n.get(f), p) else Nil)
    }

  /** Truncate the body, flip one bit of its UTF-8 bytes, or swap one
    * field's value for a value of another JSON type.
    */
  private[service] def bodyMutations(body: String): Gen[(String, String)] = {
    val bytes = body.getBytes(UTF_8)
    val nodes = bodyMapper.getNodeFactory
    val swaps: Seq[JsonNode] = Seq(nodes.numberNode(7), nodes.numberNode(-1.5),
      nodes.booleanNode(true), nodes.nullNode(), nodes.arrayNode().add("x"),
      nodes.objectNode(), nodes.textNode("12abc"))
    Gen.oneOf(
      Gen.choose(0, body.length - 1).map(n => "truncated" -> body.take(n)),
      for (i <- Gen.choose(0, bytes.length - 1); b <- Gen.choose(0, 7)) yield {
        val m = bytes.clone(); m(i) = (m(i) ^ (1 << b)).toByte
        "flipped" -> new String(m, UTF_8)
      },
      for (path <- Gen.oneOf(fieldPaths(bodyMapper.readTree(body))); v <- Gen.oneOf(swaps))
        yield {
          val root = bodyMapper.readTree(body)
          path.init.foldLeft(root)(_.get(_)).asInstanceOf[ObjectNode].set[JsonNode](path.last, v)
          "type-swapped" -> bodyMapper.writeValueAsString(root)
        })
  }

  /** Bytes that are not valid UTF-8, or that a byte parser may take for
    * another encoding: a stray continuation or 0xFF byte, a multibyte
    * sequence cut short, overlong and CESU-8 surrogate forms, a code point
    * past U+10FFFF, a byte-order mark and a NUL.
    */
  private val oddSequences: Seq[Array[Byte]] = Seq("80", "ff", "c3", "e6a0", "f09f9a",
    "c0af", "e080af", "eda080", "edb080", "eda0bdedb880", "f4908080", "efbbbf", "00")
    .map(h => h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)

  /** [[bodyMutations]] over the body's UTF-8 bytes, kept as bytes: cut at
    * any byte, one bit flipped, a field's type swapped, or one of the
    * [[oddSequences]] put anywhere or just before a quote.
    */
  private[service] def bodyByteMutations(body: String): Gen[(String, Array[Byte])] = {
    val bytes = body.getBytes(UTF_8)
    val quotes = bytes.indices.filter(bytes(_) == '"')
    Gen.oneOf(
      Gen.choose(0, bytes.length - 1).map(n => "truncated" -> bytes.take(n)),
      for (i <- Gen.choose(0, bytes.length - 1); b <- Gen.choose(0, 7)) yield {
        val m = bytes.clone(); m(i) = (m(i) ^ (1 << b)).toByte
        "flipped" -> m
      },
      bodyMutations(body).suchThat(_._1 == "type-swapped").map { case (k, m) => k -> m.getBytes(UTF_8) },
      for {
        seq <- Gen.oneOf(oddSequences)
        i <- Gen.oneOf(Gen.choose(0, bytes.length), Gen.oneOf(quotes))
      } yield "odd-utf8" -> (bytes.take(i) ++ seq ++ bytes.drop(i)))
  }
}
