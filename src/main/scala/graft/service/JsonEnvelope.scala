package graft.service

import java.io.StringWriter
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.Base64

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonGenerator, JsonParser, JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The reference's public REST envelope — the nested request/response JSON of
  * `/root/reference/src/common/json_request.cpp` and `swagger.yaml:26-41,
  * 412-420,535-557`. A client of the reference service can point the same
  * request bodies at [[ProtectionService]] and get the same response shapes
  * and the same validation errors back.
  *
  * Parse semantics mirror `SafeGetFromJsonPath` (`json_request.cpp:37-57`):
  * any scalar found at a nested path stringifies; a missing path, a container
  * where a scalar is expected, or malformed JSON leaves the field in its
  * "missing" state, and validation reports the reference's exact
  * `Missing required fields: …` message.
  *
  * Bodies are UTF-8 bytes, and a page value crosses them once without
  * becoming a `String` or a tree node: a parse base64-decodes it straight
  * from the body's bytes and lets Jackson read only the rest of the body, and
  * [[BodyWriter]] encodes it into the body's one exact-size array. Every
  * other field goes through the same `JsonNode` and `JsonGenerator` calls a
  * whole-tree parse and build make, so parse results and bodies are exactly
  * those of the tree. A body given as text parses as its characters read.
  */
object JsonEnvelope {

  private[graft] val mapper = new ObjectMapper()

  /** Enum string tables (`enum_utils.cpp:52-120`) — membership is the parse
    * check; an unknown string behaves exactly like an absent field.
    */
  final val Datatypes = Set("BOOLEAN", "INT32", "INT64", "INT96", "FLOAT",
    "DOUBLE", "BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY")
  final val Compressions = Set("UNCOMPRESSED", "SNAPPY", "GZIP", "BROTLI",
    "ZSTD", "LZ4", "LZ4_FRAME", "LZO", "BZ2", "LZ4_HADOOP")
  final val Encodings = Set("PLAIN", "PLAIN_DICTIONARY", "RLE", "BIT_PACKED",
    "DELTA_BINARY_PACKED", "DELTA_LENGTH_BYTE_ARRAY", "DELTA_BYTE_ARRAY",
    "RLE_DICTIONARY", "BYTE_STREAM_SPLIT", "UNDEFINED", "UNKNOWN")

  /** `SafeGetFromJsonPath`: traverse, then stringify any scalar; containers
    * and nulls yield None (the reference's string conversion throws there).
    */
  private[service] def safeGet(root: JsonNode, path: String*): Option[String] = {
    var cur = root
    if (cur == null) return None
    for (field <- path) {
      if (cur == null || !cur.has(field)) return None
      cur = cur.get(field)
    }
    if (cur == null || cur.isNull || cur.isContainerNode) None
    else Some(cur.asText())
  }

  /** `SafeParseToInt` (`json_request.cpp:60-66`) — C++ `std::stoi`: skips
    * leading whitespace, accepts a sign, parses the longest digit prefix and
    * IGNORES trailing junk ("12abc" → 12); no digits at all fails.
    */
  private[service] def stoiLike(s: String): Option[Int] = {
    val m = java.util.regex.Pattern.compile("^\\s*[+-]?\\d+").matcher(s)
    if (!m.find()) None
    else try Some(m.group().trim.toInt)
    catch { case _: NumberFormatException => None } // out_of_range
  }

  private[service] def decodeBase64(s: String): Array[Byte] =
    try Base64.getDecoder.decode(s)
    catch { case _: IllegalArgumentException => Array.emptyByteArray }

  /** [[decodeBase64]] of `chars(off until off + len)`, read as ISO-8859-1
    * the way `Base64.Decoder.decode(String)` reads a string. A char above
    * 0xFF is never base64, so it fails the value like any other bad char.
    */
  private def decodeBase64(chars: Array[Char], off: Int, len: Int): Array[Byte] = {
    val latin1 = new Array[Byte](len)
    val narrowed = ISO_8859_1.newEncoder()
      .encode(CharBuffer.wrap(chars, off, len), ByteBuffer.wrap(latin1), true)
    if (narrowed.isError) Array.emptyByteArray
    else base64(latin1, 0, len).getOrElse(Array.emptyByteArray)
  }

  /** `bytes(off until off + len)` base64-decoded; None if they are not base64. */
  private def base64(bytes: Array[Byte], off: Int, len: Int): Option[Array[Byte]] =
    try {
      val out = Base64.getDecoder.decode(ByteBuffer.wrap(bytes, off, len))
      Some(if (out.remaining == out.capacity) out.array()
        else java.util.Arrays.copyOfRange(out.array(), out.position(), out.limit()))
    } catch { case _: IllegalArgumentException => None }

  private[service] def stringMap(node: JsonNode): Map[String, String] =
    if (node == null || !node.isObject) Map.empty
    else node.fields().asScala
      .filterNot(e => e.getValue.isContainerNode || e.getValue.isNull)
      .map(e => e.getKey -> e.getValue.asText()).toMap

  /** One streamed body: every field but the page value, as `readTree` of
    * the whole body would give it, and the page value, if present.
    */
  private final case class Body(root: ObjectNode, value: Option[Array[Byte]])

  /** Read `body`, whose page value sits at `container.value`, from its
    * UTF-8 bytes, exactly as the text they decode to is read, in one pass
    * over the page value.
    *
    * Jackson reads up to the value's opening quote; one scan finds the next
    * quote; the bytes between are base64-decoded, and Jackson reads the rest
    * of the body with them cut out, so it never walks the value. Base64 has
    * no quote, backslash, control or non-ASCII byte, so a value that decodes
    * ends at that quote and reads as these bytes. That holds for a body that
    * is valid UTF-8 outside the value, with a base64 value, and with no
    * byte-order mark or NUL in front, which covers every body the builders
    * write. Any other body is read from its text.
    */
  private def readBody(body: Array[Byte], container: String): Option[Body] = {
    val start = if (sniffed(body)) -1 else valueStart(body, container)
    val end = if (start < 0) -1 else quoteAt(body, start)
    val value = if (end < 0) None else base64(body, start, end - start)
    if (value.isEmpty) return readBody(new String(body, UTF_8), container)
    // the body with the value cut out, so that it reads as ""
    val envelope = new Array[Byte](body.length - (end - start))
    System.arraycopy(body, 0, envelope, 0, start)
    System.arraycopy(body, end, envelope, start, body.length - end)
    if (!validUtf8(envelope)) return readBody(new String(body, UTF_8), container)
    read(mapper.getFactory.createParser(envelope), container, p =>
      if (p.currentToken != JsonToken.VALUE_STRING || byteOffset(p) != start)
        pageValue(p)
      else {
        p.streamReadConstraints.validateStringLength(end - start) // as getText would
        value
      })
  }

  /** Read `body` from its characters: the page value's string is
    * base64-decoded from the parser's characters; any other scalar there is
    * stringified first, as `asText` does, and a container or null is
    * missing. Every other field is `readTree` of its own subtree, so a later
    * duplicate key replaces the whole earlier subtree, as in a tree. None for
    * malformed JSON or a root that is not an object.
    */
  private def readBody(body: String, container: String): Option[Body] =
    read(mapper.getFactory.createParser(body), container, pageValue)

  /** A leading NUL or UTF-8 byte-order mark: a byte parser would take the
    * body for another encoding.
    */
  private def sniffed(utf8: Array[Byte]): Boolean = {
    val n = math.min(4, utf8.length)
    var i = 0
    while (i < n && utf8(i) != 0) i += 1
    i < n || (utf8.length >= 3 && utf8(0) == 0xEF.toByte && utf8(1) == 0xBB.toByte &&
      utf8(2) == 0xBF.toByte)
  }

  /** Whether `bytes` decode as UTF-8 with nothing replaced, i.e. whether
    * decoding and encoding them again gives the same bytes.
    */
  private def validUtf8(bytes: Array[Byte]): Boolean = {
    var ascii = 0
    while (ascii < bytes.length && bytes(ascii) >= 0) ascii += 1
    ascii == bytes.length ||
      (try { UTF_8.newDecoder().decode(ByteBuffer.wrap(bytes)); true }
      catch { case _: java.nio.charset.CharacterCodingException => false })
  }

  /** The parser's byte offset, just past the opening quote of a string
    * token it has not read further.
    */
  private def byteOffset(p: JsonParser): Long = p.currentLocation.getByteOffset

  /** Offset just past the opening quote of the first page value of `body`
    * that is a string, read no further than that quote; -1 if there is none
    * or the JSON before it is malformed.
    */
  private def valueStart(body: Array[Byte], container: String): Int = {
    val p = mapper.getFactory.createParser(body)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) return -1
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        if (p.nextToken() == JsonToken.START_OBJECT && name == container)
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val field = p.currentName
            if (p.nextToken() == JsonToken.VALUE_STRING && field == "value")
              return byteOffset(p).toInt
            p.skipChildren()
          }
        else p.skipChildren()
      }
      -1
    } catch { case _: Exception => -1 }
    finally p.close()
  }

  /** The index of the first quote in `utf8` from `start`; -1 if there is none. */
  private def quoteAt(utf8: Array[Byte], start: Int): Int = {
    var i = start
    while (i < utf8.length && utf8(i) != '"') i += 1
    if (i < utf8.length) i else -1
  }

  private def read(p: JsonParser, container: String,
      pageValue: JsonParser => Option[Array[Byte]]): Option[Body] =
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) return None
      val root = mapper.createObjectNode()
      var value: Option[Array[Byte]] = None
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName
        if (p.nextToken() == JsonToken.START_OBJECT && name == container) {
          val node = root.putObject(name)
          value = None
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val field = p.currentName
            p.nextToken()
            if (field == "value") value = pageValue(p)
            else node.set[JsonNode](field, mapper.readTree[JsonNode](p))
          }
        } else {
          root.set[JsonNode](name, mapper.readTree[JsonNode](p))
          if (name == container) value = None
        }
      }
      Some(Body(root, value))
    } catch { case _: Exception => None }
    finally p.close()

  /** The page value at the parser's token. */
  private def pageValue(p: JsonParser): Option[Array[Byte]] =
    if (p.currentToken != JsonToken.VALUE_STRING) {
      val node = mapper.readTree[JsonNode](p)
      if (node.isNull || node.isContainerNode) None else Some(decodeBase64(node.asText()))
    } else {
      val len = p.getTextLength
      p.streamReadConstraints.validateStringLength(len) // as getText would
      Some(decodeBase64(p.getTextCharacters, p.getTextOffset, len))
    }

  /** Builds one body with the generator `writeValueAsString` uses, field by
    * field in the order the reference's tree builder adds them, into one
    * array of its exact size.
    */
  private final class BodyWriter {
    private val out = new StringWriter(512)
    private val g: JsonGenerator = mapper.createGenerator(out)
    // the page value, and where in `out` its base64 goes
    private var value: Array[Byte] = _
    private var valueAt = -1
    g.writeStartObject()

    def obj(name: String)(fields: => Unit): Unit = {
      g.writeObjectFieldStart(name)
      fields
      g.writeEndObject()
    }

    def str(name: String, v: String): Unit = g.writeStringField(name, v)

    def int(name: String, v: Int): Unit = g.writeNumberField(name, v)

    /** Sorted by key, like the reference's string maps. */
    def strings(name: String, values: Map[String, String]): Unit =
      obj(name)(values.toSeq.sortBy(_._1).foreach { case (k, v) => str(k, v) })

    /** A page value: base64 needs no escaping, so the generator writes only
      * its quotes, and [[result]] encodes the bytes between them.
      */
    def value(bytes: Array[Byte]): Unit = {
      g.writeFieldName("value")
      g.writeRawValue("\"")
      g.flush()
      value = bytes
      valueAt = out.getBuffer.length
      g.writeRaw('"')
    }

    /** The body's UTF-8 bytes: the generator's text around the page value,
      * and the value's base64 (the JDK encoder's vectorised block loop).
      */
    def result(): Array[Byte] = {
      g.writeEndObject()
      g.close()
      val text = out.getBuffer
      if (value == null) return text.toString.getBytes(UTF_8)
      val head = text.substring(0, valueAt).getBytes(UTF_8)
      val tail = text.substring(valueAt).getBytes(UTF_8)
      val encoded = Base64.getEncoder.encode(value)
      val body = new Array[Byte](head.length + encoded.length + tail.length)
      System.arraycopy(head, 0, body, 0, head.length)
      System.arraycopy(encoded, 0, body, head.length, encoded.length)
      System.arraycopy(tail, 0, body, head.length + encoded.length, tail.length)
      body
    }
  }

  /** `BuildValidationError` (`json_request.cpp:93-104`). */
  private[service] def missingFieldsError(fields: Seq[String]): String =
    if (fields.isEmpty) "" else "Missing required fields: " + fields.mkString(", ")

  // --------------------------------------------------------------- requests --

  /** One parsed `/encrypt` or `/decrypt` request (`JsonRequest::ParseCommon`
    * + the per-operation value field, `json_request.cpp:265-329,383-397,
    * 483-506`). `encrypt` selects which value path and validation family
    * applies.
    */
  final case class ProtectRequest(
      encrypt: Boolean,
      columnName: String,
      datatype: Option[String],
      datatypeLength: Option[Int],
      datatypeLengthStr: String, // unparseable raw value, for the error message
      compression: Option[String],
      encoding: Option[String],
      encodingAttributes: Map[String, String],
      encryptedCompression: Option[String],
      keyId: String,
      userId: String,
      applicationContext: String,
      referenceId: String,
      value: Array[Byte],
      encryptionMetadata: Map[String, String]) {

    /** `JsonRequest::IsValid` + the per-operation value check
      * (`json_request.cpp:331-348,400-402,508-510`).
      */
    def isValid: Boolean =
      commonMissing.isEmpty && datatypeLengthStr.isEmpty && value.nonEmpty

    private def commonMissing: Seq[String] = Seq(
      (columnName.isEmpty, "column_reference.name"),
      (datatype.isEmpty, "data_batch.datatype_info.datatype"),
      (compression.isEmpty, "data_batch.value_format.compression"),
      (encoding.isEmpty, "data_batch.value_format.encoding"),
      (encryptedCompression.isEmpty, "data_batch_encrypted.value_format.compression"),
      (keyId.isEmpty, "encryption.key_id"),
      (userId.isEmpty, "access.user_id"),
      (applicationContext.isEmpty, "application_context"),
      (referenceId.isEmpty, "debug.reference_id")
    ).collect { case (true, name) => name }

    /** `GetValidationError` (`json_request.cpp:350-369,404-415,512-523`):
      * common missing fields first; only when those all pass, the
      * per-operation `Missing required field:` message.
      */
    def validationError: String = {
      val common = commonMissing ++
        (if (datatypeLengthStr.nonEmpty)
          Seq("data_batch.datatype_info.length (invalid integer value)") else Nil)
      if (common.nonEmpty) missingFieldsError(common)
      else if (value.isEmpty)
        s"Missing required field: ${if (encrypt) "data_batch.value" else "data_batch_encrypted.value"}"
      else ""
    }

    /** `ToJsonString` (`json_request.cpp:417-480,525-599`) — the client-side
      * builder; emits the exact nested shape the reference sends.
      */
    def toBytes: Array[Byte] = {
      val w = new BodyWriter
      w.obj("column_reference")(w.str("name", columnName))
      w.obj("data_batch") {
        w.obj("datatype_info") {
          w.str("datatype", datatype.getOrElse(""))
          datatypeLength.foreach(w.int("length", _))
        }
        if (encrypt) w.value(value)
        w.obj("value_format") {
          w.str("compression", compression.getOrElse(""))
          w.str("encoding", encoding.getOrElse(""))
          if (encodingAttributes.nonEmpty) w.strings("encoding_attributes", encodingAttributes)
        }
      }
      w.obj("data_batch_encrypted") {
        if (!encrypt) w.value(value)
        w.obj("value_format")(w.str("compression", encryptedCompression.getOrElse("")))
      }
      w.obj("encryption")(w.str("key_id", keyId))
      w.obj("access")(w.str("user_id", userId))
      w.str("application_context", applicationContext)
      w.obj("debug")(w.str("reference_id", referenceId))
      if (!encrypt) w.strings("encryption_metadata", encryptionMetadata)
      w.result()
    }
  }

  object ProtectRequest {
    /** Parse an `/encrypt` (`encrypt = true`) or `/decrypt` body. Malformed
      * JSON yields an all-missing request, exactly like the reference's
      * stop-parsing-on-invalid behavior.
      */
    def parse(body: Array[Byte], encrypt: Boolean): ProtectRequest =
      of(readBody(body, container(encrypt)), encrypt)

    /** [[parse]] of a body's text, which may hold a lone surrogate. */
    def parse(body: String, encrypt: Boolean): ProtectRequest =
      of(readBody(body, container(encrypt)), encrypt)

    private def container(encrypt: Boolean) =
      if (encrypt) "data_batch" else "data_batch_encrypted"

    private def of(read: Option[Body], encrypt: Boolean): ProtectRequest = {
      val root = read.map(_.root).orNull

      def get(path: String*): Option[String] =
        if (root == null) None else safeGet(root, path: _*)

      val lengthRaw = get("data_batch", "datatype_info", "length")
      val lengthParsed = lengthRaw.map(stoiLike)

      ProtectRequest(
        encrypt = encrypt,
        columnName = get("column_reference", "name").getOrElse(""),
        datatype = get("data_batch", "datatype_info", "datatype").filter(Datatypes),
        datatypeLength = lengthParsed.flatten,
        datatypeLengthStr =
          if (lengthRaw.isDefined && lengthParsed.get.isEmpty) lengthRaw.get else "",
        compression =
          get("data_batch", "value_format", "compression").filter(Compressions),
        encoding = get("data_batch", "value_format", "encoding").filter(Encodings),
        encodingAttributes =
          if (root == null) Map.empty
          else stringMap(root.at("/data_batch/value_format/encoding_attributes")),
        encryptedCompression =
          get("data_batch_encrypted", "value_format", "compression").filter(Compressions),
        keyId = get("encryption", "key_id").getOrElse(""),
        userId = get("access", "user_id").getOrElse(""),
        applicationContext = get("application_context").getOrElse(""),
        referenceId = get("debug", "reference_id").getOrElse(""),
        value = read.flatMap(_.value).getOrElse(Array.emptyByteArray),
        encryptionMetadata =
          if (encrypt || root == null) Map.empty
          else stringMap(root.get("encryption_metadata")))
    }
  }

  // -------------------------------------------------------------- responses --

  /** `/encrypt` 200 body (`EncryptJsonResponse`, `json_request.cpp:623-652,
    * 746-782`): `data_batch_encrypted.{value_format.compression,value}`,
    * `access.{user_id,role,access_control}`, `debug.reference_id`,
    * `encryption_metadata` (always present, `{}` when empty).
    */
  final case class EncryptResponse(
      encryptedCompression: String,
      encryptedValue: Array[Byte],
      userId: String,
      role: String,
      accessControl: String,
      referenceId: String,
      encryptionMetadata: Map[String, String]) {

    def toBytes: Array[Byte] = {
      val w = new BodyWriter
      w.obj("data_batch_encrypted") {
        w.obj("value_format")(w.str("compression", encryptedCompression))
        w.value(encryptedValue)
      }
      w.obj("access") {
        w.str("user_id", userId)
        w.str("role", role)
        w.str("access_control", accessControl)
      }
      w.obj("debug")(w.str("reference_id", referenceId))
      w.strings("encryption_metadata", encryptionMetadata)
      w.result()
    }
  }

  object EncryptResponse {
    /** Client-side parse + `IsValid` (`json_request.cpp:724-728`): Left is
      * the api-client error the reference raises for an invalid body.
      */
    def parse(body: Array[Byte]): Either[String, EncryptResponse] =
      of(readBody(body, "data_batch_encrypted"))

    def parse(body: String): Either[String, EncryptResponse] =
      of(readBody(body, "data_batch_encrypted"))

    private def of(read: Option[Body]): Either[String, EncryptResponse] = {
      val Body(root, value) = read.getOrElse(return Left("Invalid JSON encrypt response"))
      val r = EncryptResponse(
        encryptedCompression =
          safeGet(root, "data_batch_encrypted", "value_format", "compression")
            .filter(Compressions).getOrElse(""),
        encryptedValue = value.getOrElse(Array.emptyByteArray),
        userId = safeGet(root, "access", "user_id").getOrElse(""),
        role = safeGet(root, "access", "role").getOrElse(""),
        accessControl = safeGet(root, "access", "access_control").getOrElse(""),
        referenceId = safeGet(root, "debug", "reference_id").getOrElse(""),
        encryptionMetadata = stringMap(root.get("encryption_metadata")))
      val valid = r.userId.nonEmpty && r.role.nonEmpty && r.accessControl.nonEmpty &&
        r.referenceId.nonEmpty && r.encryptedCompression.nonEmpty && r.encryptedValue.nonEmpty
      if (!valid) Left("Invalid JSON encrypt response") else Right(r)
    }
  }

  /** `/decrypt` 200 body (`DecryptJsonResponse`, `json_request.cpp:654-693,
    * 822-859`): the decrypted `data_batch` with datatype/value_format echo,
    * plus the same access/debug stamping.
    */
  final case class DecryptResponse(
      datatype: String,
      datatypeLength: Option[Int],
      compression: String,
      encoding: String,
      value: Array[Byte],
      userId: String,
      role: String,
      accessControl: String,
      referenceId: String) {

    def toBytes: Array[Byte] = {
      val w = new BodyWriter
      w.obj("data_batch") {
        w.obj("datatype_info") {
          w.str("datatype", datatype)
          datatypeLength.foreach(w.int("length", _))
        }
        w.value(value)
        w.obj("value_format") {
          w.str("compression", compression)
          w.str("encoding", encoding)
        }
      }
      w.obj("access") {
        w.str("user_id", userId)
        w.str("role", role)
        w.str("access_control", accessControl)
      }
      w.obj("debug")(w.str("reference_id", referenceId))
      w.result()
    }
  }

  object DecryptResponse {
    def parse(body: Array[Byte]): Either[String, DecryptResponse] =
      of(readBody(body, "data_batch"))

    def parse(body: String): Either[String, DecryptResponse] =
      of(readBody(body, "data_batch"))

    private def of(read: Option[Body]): Either[String, DecryptResponse] = {
      val Body(root, value) = read.getOrElse(return Left("Invalid JSON decrypt response"))
      val r = DecryptResponse(
        datatype = safeGet(root, "data_batch", "datatype_info", "datatype")
          .filter(Datatypes).getOrElse(""),
        datatypeLength = safeGet(root, "data_batch", "datatype_info", "length")
          .flatMap(stoiLike),
        compression = safeGet(root, "data_batch", "value_format", "compression")
          .filter(Compressions).getOrElse(""),
        encoding = safeGet(root, "data_batch", "value_format", "encoding")
          .filter(Encodings).getOrElse(""),
        value = value.getOrElse(Array.emptyByteArray),
        userId = safeGet(root, "access", "user_id").getOrElse(""),
        role = safeGet(root, "access", "role").getOrElse(""),
        accessControl = safeGet(root, "access", "access_control").getOrElse(""),
        referenceId = safeGet(root, "debug", "reference_id").getOrElse(""))
      val valid = r.userId.nonEmpty && r.role.nonEmpty && r.accessControl.nonEmpty &&
        r.referenceId.nonEmpty && r.datatype.nonEmpty && r.compression.nonEmpty &&
        r.encoding.nonEmpty && r.value.nonEmpty
      if (!valid) Left("Invalid JSON decrypt response") else Right(r)
    }
  }
}
