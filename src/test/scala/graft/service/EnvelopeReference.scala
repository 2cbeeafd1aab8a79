package graft.service

import java.util.Base64

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.service.JsonEnvelope._

/** The tree form of [[JsonEnvelope]]: each body parsed whole with
  * `readTree` and built as an `ObjectNode` for `writeValueAsString`. The
  * streamed envelope must parse every body to the same fields and build
  * byte-identical bodies; `EnvelopeStreamSpec` checks both.
  */
object EnvelopeReference {

  private def b64(bytes: Array[Byte]): String = Base64.getEncoder.encodeToString(bytes)

  private def putStringMap(parent: ObjectNode, field: String,
      values: Map[String, String]): Unit = {
    val node = parent.putObject(field)
    values.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
  }

  private def tree(body: String): JsonNode =
    try {
      val n = mapper.readTree(body)
      if (n == null || !n.isObject) null else n
    } catch { case _: Exception => null }

  def parseRequest(body: String, encrypt: Boolean): ProtectRequest = {
    val root = tree(body)

    def get(path: String*): Option[String] =
      if (root == null) None else safeGet(root, path: _*)

    val lengthRaw = get("data_batch", "datatype_info", "length")
    val lengthParsed = lengthRaw.map(stoiLike)
    val valueB64 =
      if (encrypt) get("data_batch", "value")
      else get("data_batch_encrypted", "value")

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
      value = valueB64.map(decodeBase64).getOrElse(Array.emptyByteArray),
      encryptionMetadata =
        if (encrypt || root == null) Map.empty
        else stringMap(root.get("encryption_metadata")))
  }

  def requestJson(r: ProtectRequest): String = {
    import r._
    val root = mapper.createObjectNode()
    root.putObject("column_reference").put("name", columnName)

    val dataBatch = root.putObject("data_batch")
    val dtInfo = dataBatch.putObject("datatype_info")
    dtInfo.put("datatype", datatype.getOrElse(""))
    datatypeLength.foreach(dtInfo.put("length", _))
    if (encrypt) dataBatch.put("value", b64(value))
    val vf = dataBatch.putObject("value_format")
    vf.put("compression", compression.getOrElse(""))
    vf.put("encoding", encoding.getOrElse(""))
    if (encodingAttributes.nonEmpty)
      putStringMap(vf, "encoding_attributes", encodingAttributes)

    val dbe = root.putObject("data_batch_encrypted")
    if (!encrypt) dbe.put("value", b64(value))
    dbe.putObject("value_format")
      .put("compression", encryptedCompression.getOrElse(""))

    root.putObject("encryption").put("key_id", keyId)
    root.putObject("access").put("user_id", userId)
    root.put("application_context", applicationContext)
    root.putObject("debug").put("reference_id", referenceId)
    if (!encrypt) putStringMap(root, "encryption_metadata", encryptionMetadata)
    mapper.writeValueAsString(root)
  }

  def parseEncrypt(body: String): Either[String, EncryptResponse] = {
    val root = tree(body)
    if (root == null) return Left("Invalid JSON encrypt response")
    val r = EncryptResponse(
      encryptedCompression =
        safeGet(root, "data_batch_encrypted", "value_format", "compression")
          .filter(Compressions).getOrElse(""),
      encryptedValue = safeGet(root, "data_batch_encrypted", "value")
        .map(decodeBase64).getOrElse(Array.emptyByteArray),
      userId = safeGet(root, "access", "user_id").getOrElse(""),
      role = safeGet(root, "access", "role").getOrElse(""),
      accessControl = safeGet(root, "access", "access_control").getOrElse(""),
      referenceId = safeGet(root, "debug", "reference_id").getOrElse(""),
      encryptionMetadata = stringMap(root.get("encryption_metadata")))
    val valid = r.userId.nonEmpty && r.role.nonEmpty && r.accessControl.nonEmpty &&
      r.referenceId.nonEmpty && r.encryptedCompression.nonEmpty && r.encryptedValue.nonEmpty
    if (!valid) Left("Invalid JSON encrypt response") else Right(r)
  }

  def encryptJson(r: EncryptResponse): String = {
    import r._
    val root = mapper.createObjectNode()
    val dbe = root.putObject("data_batch_encrypted")
    dbe.putObject("value_format").put("compression", encryptedCompression)
    dbe.put("value", b64(encryptedValue))
    val access = root.putObject("access")
    access.put("user_id", userId)
    access.put("role", role)
    access.put("access_control", accessControl)
    root.putObject("debug").put("reference_id", referenceId)
    putStringMap(root, "encryption_metadata", encryptionMetadata)
    mapper.writeValueAsString(root)
  }

  def parseDecrypt(body: String): Either[String, DecryptResponse] = {
    val root = tree(body)
    if (root == null) return Left("Invalid JSON decrypt response")
    val r = DecryptResponse(
      datatype = safeGet(root, "data_batch", "datatype_info", "datatype")
        .filter(Datatypes).getOrElse(""),
      datatypeLength = safeGet(root, "data_batch", "datatype_info", "length")
        .flatMap(stoiLike),
      compression = safeGet(root, "data_batch", "value_format", "compression")
        .filter(Compressions).getOrElse(""),
      encoding = safeGet(root, "data_batch", "value_format", "encoding")
        .filter(Encodings).getOrElse(""),
      value = safeGet(root, "data_batch", "value")
        .map(decodeBase64).getOrElse(Array.emptyByteArray),
      userId = safeGet(root, "access", "user_id").getOrElse(""),
      role = safeGet(root, "access", "role").getOrElse(""),
      accessControl = safeGet(root, "access", "access_control").getOrElse(""),
      referenceId = safeGet(root, "debug", "reference_id").getOrElse(""))
    val valid = r.userId.nonEmpty && r.role.nonEmpty && r.accessControl.nonEmpty &&
      r.referenceId.nonEmpty && r.datatype.nonEmpty && r.compression.nonEmpty &&
      r.encoding.nonEmpty && r.value.nonEmpty
    if (!valid) Left("Invalid JSON decrypt response") else Right(r)
  }

  def decryptJson(r: DecryptResponse): String = {
    import r._
    val root = mapper.createObjectNode()
    val dataBatch = root.putObject("data_batch")
    val dtInfo = dataBatch.putObject("datatype_info")
    dtInfo.put("datatype", datatype)
    datatypeLength.foreach(dtInfo.put("length", _))
    dataBatch.put("value", b64(value))
    val vf = dataBatch.putObject("value_format")
    vf.put("compression", compression)
    vf.put("encoding", encoding)
    val access = root.putObject("access")
    access.put("user_id", userId)
    access.put("role", role)
    access.put("access_control", accessControl)
    root.putObject("debug").put("reference_id", referenceId)
    mapper.writeValueAsString(root)
  }
}
