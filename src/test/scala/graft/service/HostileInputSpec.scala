package graft.service

import java.nio.{ByteBuffer, ByteOrder}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.agent.{FlatJson, LocalProtectionAgent}
import graft.core._
import graft.pipeline.PageSequencer
import graft.service.JsonEnvelope.ProtectRequest

/** Parse boundaries on hostile bytes: an element count read from a payload
  * or from the request's attributes is checked against the bytes actually
  * present before anything is allocated from it, and every malformed input
  * ends as a typed invalid-input (or unsupported) error — a 400 with the
  * `{"error": …}` envelope at the service.
  */
class HostileInputSpec extends AnyFunSuite {
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
      attrs: Map[String, String], metadata: Map[String, String] = Map.empty): String =
    ProtectRequest(encrypt = encrypt, columnName = "email", datatype = Some("BYTE_ARRAY"),
      datatypeLength = None, datatypeLengthStr = "", compression = Some("UNCOMPRESSED"),
      encoding = Some("PLAIN"), encodingAttributes = attrs,
      encryptedCompression = Some("UNCOMPRESSED"), keyId = "k1", userId = "user456",
      applicationContext = """{"user_id": "user456"}""", referenceId = "1",
      value = value, encryptionMetadata = metadata).toJson

  test("service: hostile counts answer 400 with the error envelope") {
    val store = new ClientCredentialStore("spec-jwt-secret")
    store.init(Map("graft" -> "graft-api-key"))
    val service = new ProtectionService(store)
    val token = mapper.readTree(service.post("/token",
      FlatJson.write(Map("client_id" -> "graft", "api_key" -> "graft-api-key")), Map.empty).body)
      .get("token").asText()
    val auth = Map("Authorization" -> s"Bearer $token")
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

  /** Seeded ScalaCheck loop (the scalatestplus bridge is not on the classpath). */
  private def forAll[T](gen: Gen[T], n: Int)(f: T => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(7L)
    (0 until n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

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
}
