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
  * Bodies are streamed, so a page value goes between the body text and its
  * bytes without becoming a `String` or a tree node: [[readBody]] decodes it
  * straight from the body's UTF-8 bytes, and [[BodyWriter]] writes the encoder's
  * output with no escaping pass. Every other field goes through the same
  * `JsonNode` and `JsonGenerator` calls a whole-tree parse and build make, so
  * parse results and bodies are exactly those of the tree.
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
    if (narrowed.isError) Array.emptyByteArray else decodeBase64(latin1, 0, len)
  }

  private def decodeBase64(bytes: Array[Byte], off: Int, len: Int): Array[Byte] =
    try {
      val out = Base64.getDecoder.decode(ByteBuffer.wrap(bytes, off, len))
      if (out.remaining == out.capacity) out.array()
      else java.util.Arrays.copyOfRange(out.array(), out.position(), out.limit())
    } catch { case _: IllegalArgumentException => Array.emptyByteArray }

  private[service] def stringMap(node: JsonNode): Map[String, String] =
    if (node == null || !node.isObject) Map.empty
    else node.fields().asScala
      .filterNot(e => e.getValue.isContainerNode || e.getValue.isNull)
      .map(e => e.getKey -> e.getValue.asText()).toMap

  /** One streamed body: every field but the page value, as `readTree` of
    * the whole body would give it, and the page value, if present.
    */
  private final case class Body(root: ObjectNode, value: Option[Array[Byte]])

  /** Stream `body`, whose page value sits at `container.value`, over its
    * UTF-8 bytes. The value's string is base64-decoded straight from those
    * bytes, or from the parser's characters when it holds an escape; any
    * other scalar there is stringified first, as `asText` does, and a
    * container or null is missing. Every other field is `readTree` of its
    * own subtree, so a later duplicate key replaces the whole earlier
    * subtree, as in a tree. None for malformed JSON or a root that is not an
    * object.
    *
    * UTF-8 cannot carry a lone surrogate (it writes '?'), and the parser
    * reads a leading NUL or byte-order mark as a sign of another encoding:
    * such bodies are read from their characters instead.
    */
  private def readBody(body: String, container: String): Option[Body] = {
    val utf8 = body.getBytes(UTF_8)
    val sniffed = utf8.iterator.take(4).contains(0.toByte) || body.startsWith("\uFEFF")
    val fromBytes =
      if (sniffed) None
      else read(mapper.getFactory.createParser(utf8), container, utf8, body)
    if (!sniffed && fromBytes.forall(b => !holds('?', b.root))) fromBytes
    else read(mapper.getFactory.createParser(body), container, null, body)
  }

  /** Whether a key or a string in `node` contains `c`. */
  private def holds(c: Char, node: JsonNode): Boolean =
    if (node.isTextual) node.textValue.indexOf(c) >= 0
    else if (node.isObject)
      node.fields().asScala.exists(e => e.getKey.indexOf(c) >= 0 || holds(c, e.getValue))
    else node.elements().asScala.exists(holds(c, _)) // an array's; a scalar has none

  private def read(p: JsonParser, container: String, utf8: Array[Byte],
      body: String): Option[Body] =
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
            if (field == "value") value = pageValue(p, utf8, body)
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

  private def pageValue(p: JsonParser, utf8: Array[Byte], body: String): Option[Array[Byte]] =
    if (p.currentToken != JsonToken.VALUE_STRING) {
      val node = mapper.readTree[JsonNode](p)
      if (node.isNull || node.isContainerNode) None else Some(decodeBase64(node.asText()))
    } else {
      // the parser has read just past the opening quote and no further; when
      // every char is one byte, the string runs to the next quote in `body`,
      // unless an escape comes first
      val start = if (utf8 == null) -1 else p.currentLocation.getByteOffset.toInt
      val end =
        if (start > 0 && utf8.length == body.length && utf8(start - 1) == '"')
          body.indexOf('"', start)
        else -1
      val escaped = end < 0 || { val b = body.indexOf('\\', start); b >= 0 && b < end }
      val len = if (escaped) p.getTextLength else end - start
      p.streamReadConstraints.validateStringLength(len) // as getText would
      Some(if (escaped) decodeBase64(p.getTextCharacters, p.getTextOffset, len)
        else decodeBase64(utf8, start, len))
    }

  /** Builds one body with the generator `writeValueAsString` uses, field by
    * field in the order the reference's tree builder adds them.
    */
  private final class BodyWriter(valueBytes: Int) {
    private val out = new StringWriter(1024 + 4 * ((valueBytes + 2) / 3))
    private val g: JsonGenerator = mapper.createGenerator(out)
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

    /** A page value: base64 needs no escaping, so the encoder's output goes
      * straight to the body between the quotes the generator writes.
      */
    def value(bytes: Array[Byte]): Unit = {
      g.writeFieldName("value")
      g.writeRawValue("\"")
      g.flush()
      out.write(Base64.getEncoder.encodeToString(bytes))
      g.writeRaw('"')
    }

    def result(): String = {
      g.writeEndObject()
      g.close()
      out.toString
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
    def toJson: String = {
      val w = new BodyWriter(value.length)
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
    def parse(body: String, encrypt: Boolean): ProtectRequest = {
      val read = readBody(body, if (encrypt) "data_batch" else "data_batch_encrypted")
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

    def toJson: String = {
      val w = new BodyWriter(encryptedValue.length)
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
    def parse(body: String): Either[String, EncryptResponse] = {
      val Body(root, value) = readBody(body, "data_batch_encrypted")
        .getOrElse(return Left("Invalid JSON encrypt response"))
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

    def toJson: String = {
      val w = new BodyWriter(value.length)
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
    def parse(body: String): Either[String, DecryptResponse] = {
      val Body(root, value) = readBody(body, "data_batch")
        .getOrElse(return Left("Invalid JSON decrypt response"))
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
