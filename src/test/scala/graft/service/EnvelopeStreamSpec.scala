package graft.service

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.service.HostileInputSpec.{bodyByteMutations, bodyMutations, forAll}
import graft.service.JsonEnvelope.{DecryptResponse, EncryptResponse, ProtectRequest}

/** The streamed envelope against its tree form ([[EnvelopeReference]]):
  * every body parses to the same fields under all four parses, and every
  * envelope builds the byte-identical body. The bodies are the valid ones
  * the builders write, `HostileInputSpec`'s mutations of them, and edits
  * aimed at the page value: duplicate keys, escapes, non-string scalars and
  * containers where the value goes, and base64 that is not quite base64.
  * A body's bytes parse exactly as the text they decode to, for each of
  * those bodies and for bytes that are not valid UTF-8.
  */
class EnvelopeStreamSpec extends AnyFunSuite {
  import EnvelopeStreamSpec._

  private def sameRequest(a: ProtectRequest, b: ProtectRequest): Boolean =
    a.copy(value = Array.emptyByteArray) == b.copy(value = Array.emptyByteArray) &&
      a.value.sameElements(b.value)

  private def sameEither[T](a: Either[String, T], b: Either[String, T])(
      valueOf: T => Array[Byte], blank: T => T): Boolean = (a, b) match {
    case (Left(x), Left(y)) => x == y
    case (Right(x), Right(y)) => blank(x) == blank(y) && valueOf(x).sameElements(valueOf(y))
    case _ => false
  }

  /** The bytes the tree's `writeValueAsString` text is sent as. */
  private def utf8(json: String): Array[Byte] = json.getBytes(UTF_8)

  /** Every parse of `body` equals the reference's, and what it parsed to
    * builds the reference's bytes; so does every parse of its bytes.
    */
  private def checkParses(body: String): Unit = {
    for (encrypt <- Seq(true, false)) {
      val streamed = ProtectRequest.parse(body, encrypt)
      assert(sameRequest(streamed, EnvelopeReference.parseRequest(body, encrypt)),
        s"request parse (encrypt = $encrypt) differs on\n$body")
      assert(streamed.toBytes.sameElements(utf8(EnvelopeReference.requestJson(streamed))), body)
    }
    val enc = EncryptResponse.parse(body)
    assert(sameEither(enc, EnvelopeReference.parseEncrypt(body))(
      _.encryptedValue, _.copy(encryptedValue = Array.emptyByteArray)),
      s"encrypt response parse differs on\n$body")
    enc.foreach(r => assert(r.toBytes.sameElements(utf8(EnvelopeReference.encryptJson(r))), body))
    val dec = DecryptResponse.parse(body)
    assert(sameEither(dec, EnvelopeReference.parseDecrypt(body))(
      _.value, _.copy(value = Array.emptyByteArray)),
      s"decrypt response parse differs on\n$body")
    dec.foreach(r => assert(r.toBytes.sameElements(utf8(EnvelopeReference.decryptJson(r))), body))
    checkBytes(utf8(body))
  }

  /** Every parse of `bytes` equals the parse of the text they decode to. */
  private def checkBytes(bytes: Array[Byte]): Unit = {
    val text = new String(bytes, UTF_8)
    def where = s"bytes ${bytes.map("%02x".format(_)).mkString}\nread as\n$text"
    for (encrypt <- Seq(true, false))
      assert(sameRequest(ProtectRequest.parse(bytes, encrypt), ProtectRequest.parse(text, encrypt)),
        s"request parse (encrypt = $encrypt) of $where")
    assert(sameEither(EncryptResponse.parse(bytes), EncryptResponse.parse(text))(
      _.encryptedValue, _.copy(encryptedValue = Array.emptyByteArray)),
      s"encrypt response parse of $where")
    assert(sameEither(DecryptResponse.parse(bytes), DecryptResponse.parse(text))(
      _.value, _.copy(value = Array.emptyByteArray)), s"decrypt response parse of $where")
  }

  test("property: every envelope builds the tree's bytes and parses back to itself") {
    forAll(envelopes, 300) { case (request, encrypted, decrypted) =>
      val body = request.toBytes
      assert(body.sameElements(utf8(EnvelopeReference.requestJson(request))))
      val parsedBack = request.copy(datatypeLengthStr = "", encryptionMetadata =
        if (request.encrypt) Map.empty else request.encryptionMetadata)
      // the text, which may hold a lone surrogate that UTF-8 writes as '?'
      assert(sameRequest(ProtectRequest.parse(EnvelopeReference.requestJson(request),
        request.encrypt), parsedBack))
      assert(encrypted.toBytes.sameElements(utf8(EnvelopeReference.encryptJson(encrypted))))
      assert(decrypted.toBytes.sameElements(utf8(EnvelopeReference.decryptJson(decrypted))))
      Seq(body, encrypted.toBytes, decrypted.toBytes)
        .foreach(b => checkParses(new String(b, UTF_8)))
      Seq(EnvelopeReference.requestJson(request), EnvelopeReference.encryptJson(encrypted),
        EnvelopeReference.decryptJson(decrypted)).foreach(checkParses)
    }
  }

  test("property: mutated bodies parse exactly as the tree parses them") {
    forAll(envelopes, 20) { case (request, encrypted, decrypted) =>
      for (body <- Seq(request.toBytes, encrypted.toBytes, decrypted.toBytes)) {
        val text = new String(body, UTF_8)
        forAll(bodyMutations(text), 40) { case (_, mutated) => checkParses(mutated) }
        forAll(bodyByteMutations(text), 40) { case (_, mutated) => checkBytes(mutated) }
      }
    }
  }

  test("bytes that are not valid UTF-8 parse as the text they decode to") {
    val request = EnvelopeReference.requestJson(ProtectRequest(encrypt = true, "c",
      Some("BYTE_ARRAY"), None, "", Some("UNCOMPRESSED"), Some("PLAIN"), Map("k" -> "v"),
      Some("UNCOMPRESSED"), "k", "u", "{}", "1", "ABC".getBytes(UTF_8), Map.empty))
    val body = utf8(request)
    val odd = Seq("80", "ff", "c3", "e6a0", "c0af", "e080af", "eda080", "eda0bdedb880",
      "f4908080", "efbbbf", "00").map(h => h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    // before each quote (a multibyte sequence cut short there), and at the front
    val at = 0 +: body.indices.filter(body(_) == '"')
    for (seq <- odd; i <- at) checkBytes(body.take(i) ++ seq ++ body.drop(i))
    assert(ProtectRequest.parse(body, encrypt = true).value.sameElements("ABC".getBytes(UTF_8)))
    // a value byte above 0x7F fails the value, as its replacement char does
    val inValue = request.replace("QUJD", "QU\u00e9JD")
    checkBytes(utf8(inValue))
    assert(ProtectRequest.parse(utf8(inValue), encrypt = true).value.isEmpty)
  }

  test("property: odd page values and duplicate keys parse exactly as the tree parses them") {
    forAll(oddBodies, 1500)(checkParses)
  }

  test("odd page values: each kind reaches the value decode") {
    val body = EnvelopeReference.requestJson(ProtectRequest(encrypt = true, "c",
      Some("BYTE_ARRAY"), None, "", Some("UNCOMPRESSED"), Some("PLAIN"), Map.empty,
      Some("UNCOMPRESSED"), "k", "u", "{}", "1", Array.emptyByteArray, Map.empty))
      .replace("\"value\":\"\"", "\"value\":" + Placeholder)
    def valueOf(fragment: String): Seq[Byte] =
      ProtectRequest.parse(body.replace(Placeholder, fragment), encrypt = true).value.toSeq
    val abc = "ABC".getBytes("UTF-8").toSeq
    assert(valueOf("\"QUJD\"") == abc)
    assert(valueOf("\"QUJ\\u0044\"") == abc) // an escaped char decodes like any other
    // the byte parse reads up to the first quote; an escaped one there sends
    // the body to the text parse, as any value that is not base64 does
    for (v <- Seq("\"QUJ\\u0044\"", "\"QU\\\"JD\"", "\"QU\\\"\"", "\"QUJ\\\\\""))
      checkBytes(utf8(body.replace(Placeholder, v)))
    assert(ProtectRequest.parse(utf8(body.replace(Placeholder, "\"QUJ\\u0044\"")), encrypt = true)
      .value.toSeq == abc)
    assert(valueOf("1234") == Base64.getDecoder.decode("1234").toSeq) // stringified
    assert(valueOf("\"QUI\"") == "AB".getBytes("UTF-8").toSeq) // padding may be left out
    for (bad <- Seq("\"QU JD\"", "\"QUJÉ\"", "\"QUJ\ud800\"", "null", "[\"QUJD\"]", "{}"))
      assert(valueOf(bad).isEmpty, bad)
    assert(valueOf("\"QUJD\",\"value\":\"QUI=\"") == "AB".getBytes("UTF-8").toSeq)
    assert(valueOf("\"QUJD\",\"value\":7").isEmpty) // the later key wins, and "7" is no base64
  }
}

object EnvelopeStreamSpec {
  /** Stands where a built body's page value goes, for the edits below. */
  final val Placeholder = "\"@@value@@\""

  private val asciiOddChars = Seq('"', '\\', '\n', '\u0001', '\u007f', '?', '\u0000')
  private val oddChars = asciiOddChars ++ Seq('é', '树', 'ÿ', '\ud800', '\udc00', '\ufeff')

  /** Short strings with quotes, backslashes and controls, and with
    * `nonAscii`, non-ASCII text, an emoji pair and lone surrogates.
    */
  private def text(nonAscii: Boolean): Gen[String] = {
    val odd = if (nonAscii) oddChars else asciiOddChars
    Gen.frequency(
      3 -> Gen.alphaNumStr.map(_.take(12)),
      2 -> Gen.listOfN(6, Gen.frequency(3 -> Gen.alphaNumChar, 2 -> Gen.oneOf(odd)))
        .map(_.mkString),
      (if (nonAscii) 1 else 0) -> Gen.const("user 🚀 树"),
      1 -> Gen.const(""))
  }

  private def pick(values: Set[String]): Gen[Option[String]] =
    Gen.frequency(5 -> Gen.oneOf(values.toSeq.sorted).map(Some(_)), 1 -> Gen.const(None))

  private def stringMaps(text: Gen[String]): Gen[Map[String, String]] =
    Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.zip(text, text))).map(_.toMap)

  /** Page bytes: empty, small, or past the 32k chars a parser reads from
    * a `String` in one buffer.
    */
  val pageBytes: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(Array.emptyByteArray),
    6 -> Gen.choose(1, 300).flatMap(n => Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue))),
    1 -> Gen.choose(30000, 60000).flatMap(n => Gen.const(Array.tabulate[Byte](n)(i => (i * 31).toByte))))

  /** Envelopes, half of them all ASCII: a body whose chars are one byte
    * each is the one whose page value is decoded straight from its bytes.
    */
  val envelopes: Gen[(ProtectRequest, EncryptResponse, DecryptResponse)] = for {
    encrypt <- Gen.oneOf(true, false)
    nonAscii <- Gen.oneOf(true, false)
    strs <- Gen.listOfN(8, text(nonAscii))
    datatype <- pick(JsonEnvelope.Datatypes)
    length <- Gen.option(Gen.choose(-5, 1 << 20))
    compression <- pick(JsonEnvelope.Compressions)
    encoding <- pick(JsonEnvelope.Encodings)
    encrypted <- pick(JsonEnvelope.Compressions)
    attrs <- stringMaps(text(nonAscii))
    metadata <- stringMaps(text(nonAscii))
    value <- pageBytes
  } yield (
    ProtectRequest(encrypt, strs(0), datatype, length, "", compression, encoding, attrs,
      encrypted, strs(1), strs(2), strs(3), strs(4), value, metadata),
    EncryptResponse(encrypted.getOrElse(""), value, strs(2), strs(5), strs(6), strs(4), metadata),
    DecryptResponse(datatype.getOrElse(""), length, compression.getOrElse(""),
      encoding.getOrElse(""), value, strs(2), strs(5), strs(7), strs(4)))

  private def b64(bytes: Array[Byte]) = Base64.getEncoder.encodeToString(bytes)

  /** JSON put where a page value goes: base64 with an escaped char, with a
    * space or an escaped newline, without its padding, or with chars above
    * 0x7F; a number, boolean, null or container; or a key repeated.
    */
  val valueFragments: Gen[String] = {
    val encoded = pageBytes.suchThat(_.nonEmpty).map(b64)
    def edit(f: (String, Int) => String): Gen[String] =
      for (s <- encoded; i <- Gen.choose(0, s.length - 1)) yield "\"" + f(s, i) + "\""
    val single = Gen.oneOf(
      encoded.map("\"" + _ + "\""),
      edit((s, i) => s.take(i) + f"\\u${s(i).toInt}%04x" + s.drop(i + 1)),
      edit((s, i) => s.take(i) + " " + s.drop(i)),
      edit((s, i) => s.take(i) + "\\n" + s.drop(i)),
      encoded.map(s => "\"" + s.reverse.dropWhile(_ == '=').reverse + "\""),
      Gen.zip(edit((s, i) => s), Gen.oneOf(oddChars)).map { case (s, c) => s.init + c + "\"" },
      Gen.oneOf("1234", "-7", "1.5e3", "0", "true", "false", "null", "\"\"",
        "[\"QUJD\"]", "{\"value\":\"QUJD\"}", "{}"))
    Gen.frequency(4 -> single, 1 -> Gen.zip(single, single).map { case (a, b) => s"""$a,"value":$b""" })
  }

  /** A container where a page value's container goes, for repeated keys. */
  private val containers: Gen[String] = Gen.oneOf(
    valueFragments.map(v => s"""{"value":$v}"""),
    Gen.const("""{"value_format":{"compression":"GZIP","encoding":"PLAIN"}}"""),
    Gen.oneOf("\"scalar\"", "{}", "[1]", "null", "42"))

  /** Built bodies with a page value edited, or a value container repeated
    * before or after the original; some with a byte-order mark or a NUL in
    * front, which a byte parser may take for another encoding.
    */
  val oddBodies: Gen[String] = for {
    (request, encrypted, decrypted) <- envelopes
    built <- Gen.oneOf(
      EnvelopeReference.requestJson(request.copy(value = Array.emptyByteArray)),
      EnvelopeReference.encryptJson(encrypted.copy(encryptedValue = Array.emptyByteArray)),
      EnvelopeReference.decryptJson(decrypted.copy(value = Array.emptyByteArray)))
    value <- valueFragments
    container <- Gen.oneOf("data_batch", "data_batch_encrypted")
    extra <- containers
    body <- Gen.oneOf(
      built.replace("\"value\":\"\"", "\"value\":" + value),
      s"""{"$container":$extra,""" + built.tail,
      built.init + s""","$container":$extra}""")
    lead <- Gen.frequency(8 -> Gen.const(""), 1 -> Gen.oneOf("\ufeff", "\u0000", " \u0000", "\n"))
    // a NUL before each char: its UTF-8 bytes read as valid UTF-16 JSON
    utf16 <- Gen.frequency(12 -> false, 1 -> true)
  } yield if (utf16) body.flatMap(c => s"\u0000$c") else lead + body
}
