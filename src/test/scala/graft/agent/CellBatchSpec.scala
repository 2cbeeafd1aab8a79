package graft.agent

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.pipeline.PageSequencer
import graft.service.{ClientCredentialStore, ProtectionService}

/** The one cell-batch path: both agents encode a batch as a V2 page for the
  * page sequencer, and the ciphertext stays the per-value layout
  * `[u32 len][enc(presence)][§1.5 value list]` computed straight from the
  * codec — for every type [[ValueSerde]] supports.
  */
class CellBatchSpec extends AnyFunSuite {
  private val KeyId = "cell-key"
  private val Column = "c"
  private val AppCtx = """{"user_id":"user-7"}"""
  private val Ctx = ProtectionContext(KeyId, Column, "user-7", AppCtx)

  private val batches: Seq[(DataType, Seq[Any])] = Seq(
    BooleanType -> Seq(true, null, false),
    ByteType -> Seq(1.toByte, null, Byte.MinValue),
    ShortType -> Seq(7.toShort, null, Short.MinValue),
    IntegerType -> Seq(3344, null, -1, 0),
    DateType -> Seq(19000, null, 0),
    FloatType -> Seq(1.5f, null, -2.25f),
    LongType -> Seq(1L << 62, null, Long.MinValue),
    TimestampType -> Seq(1700000000000000L, null, 0L),
    TimestampNTZType -> Seq(-1L, null, 86400000000L),
    DoubleType -> Seq(math.Pi, null, -0.5),
    StringType -> Seq("user1@example.com", null, "café 🚀 树", "", "x" * 50000),
    BinaryType -> Seq(Array[Byte](1, 2), null, Array.emptyByteArray),
    DecimalType(12, 2) -> Seq(new java.math.BigDecimal("1234567890.12"), null,
      new java.math.BigDecimal("-0.01")))

  private def catalyst(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case d: java.math.BigDecimal => Decimal(d)
    case other => other
  }

  /** The per-value layout, built from the codec alone. */
  private def reference(codecName: String, dt: DataType, values: Seq[Any]): Array[Byte] = {
    val codec = CryptoCodec(codecName, Ctx)
    val presence = values.map(v => if (v == null) 0.toByte else 1.toByte).toArray
    val serialized = values.filter(_ != null).map(v => ValueSerde.serialize(dt, catalyst(v)))
    WireFormat.joinWithLengthPrefix(codec.encrypt(presence),
      WireFormat.encryptValueList(codec, serialized, ValueSerde.fixedWidth(dt)))
  }

  private def sameValues(a: Seq[Any], b: Seq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall {
      case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
      case (x, y) => x == y
    }

  private def remoteAgent(codecName: String, dt: DataType): RemoteProtectionAgent = {
    val store = new ClientCredentialStore("spec-jwt-secret")
    store.init(Map("graft" -> "graft-api-key"))
    val agent = new RemoteProtectionAgent(new ProtectionService(store, codecName),
      Map("client_id" -> "graft", "api_key" -> "graft-api-key"))
    agent.init(Column, AppCtx, KeyId, dt, codecName)
    agent
  }

  for (codec <- Seq(CryptoCodec.Xor, CryptoCodec.AesDet)) {
    test(s"cell ciphertext is the per-value layout for every type, both agents [$codec]") {
      for ((dt, values) <- batches;
           batch <- Seq(values, values.map(_ => null), Seq.empty)) {
        val local = LocalProtectionAgent.init(KeyId, Column, dt, codec, "user-7", AppCtx)
        val enc = local.encrypt(batch)
        assert(enc.payload.sameElements(reference(codec, dt, batch)), s"$dt $batch")
        assert(sameValues(local.decrypt(enc), batch), s"$dt $batch")
        if (batch.nonEmpty) { // an empty batch makes no service call
          val remote = remoteAgent(codec, dt)
          val renc = remote.encrypt(batch)
          assert(renc.payload.sameElements(enc.payload), s"remote $dt $batch")
          assert(sameValues(remote.decrypt(enc), batch), s"remote $dt $batch")
          assert(sameValues(local.decrypt(renc), batch), s"remote $dt $batch")
        }
      }
    }
  }

  test("a batch without the page-mode metadata key decrypts as per-value") {
    // the shape of a local batch encrypted before the agents shared the page path
    val values = Seq("a@b.c", null, "")
    val local = LocalProtectionAgent.init(KeyId, Column, StringType, CryptoCodec.Xor,
      "user-7", AppCtx)
    val enc = local.encrypt(values)
    assert(enc.metadata(PageSequencer.ModeKeyDataPage) == PageSequencer.ModePerValue)
    val legacy = enc.copy(metadata = enc.metadata - PageSequencer.ModeKeyDataPage)
    assert(local.decrypt(legacy) == values)
    assert(remoteAgent(CryptoCodec.Xor, StringType).decrypt(legacy) == values)
  }

  test("cell metadata: codec, key, type, counts and the sequencer's version") {
    val local = LocalProtectionAgent.init(KeyId, Column, IntegerType)
    val enc = local.encrypt(Seq(1, null, 3))
    assert(enc.metadata == Map(
      "dbps_agent_version" -> "v0.01-graft-spark",
      PageSequencer.ModeKeyDataPage -> PageSequencer.ModePerValue,
      "encrypt_mode" -> "per_value_fixed",
      "encrypt_codec" -> CryptoCodec.Xor,
      "encrypt_key_id" -> KeyId,
      "original_type" -> IntegerType.json,
      "cell_num_values" -> "3",
      "cell_num_nulls" -> "1"))
    val missingType = enc.copy(metadata = enc.metadata - "original_type")
    val e = intercept[GraftInvalidInputException](local.decrypt(missingType))
    assert(e.getMessage == "missing original_type metadata")
  }
}
