package graft.core

import org.apache.spark.sql.types.DataType

/** Per-column cell encrypt/decrypt engine, bound once per column and shared by
  * the interpreted and codegen paths of the protection expressions (referenced
  * from generated code via `CodegenContext.addReferenceObj`).
  *
  * This is the Spark analog of the reference's per-column agent: constructed
  * once with the column context (`dbpa_local.cpp:112-166` stores context at
  * `init`), then invoked per batch — here, per cell, with Catalyst providing
  * the batch loop (whole-stage codegen).
  */
final case class CellCryptor(
    dataType: DataType,
    ctx: ProtectionContext,
    codecName: String,
    perValue: Boolean) extends Serializable {

  @transient private lazy val codec: CryptoCodec = CryptoCodec(codecName, ctx)
  @transient private lazy val fixedW: Option[Int] = ValueSerde.fixedWidth(dataType)

  /** Effective mode byte. Per-value on fixed vs variable types is
    * distinguished exactly like the reference's fixed/variable tags;
    * per-block wraps the serialized value opaquely (the fallback path,
    * `encryption_sequencer.cpp:128-195`).
    */
  def modeByte: Byte =
    if (!perValue) WireFormat.ModePerBlock
    else if (fixedW.isDefined) WireFormat.ModePerValueFixed
    else WireFormat.ModePerValueVariable

  def deterministic: Boolean = CryptoCodec.isDeterministic(codecName)

  @transient private lazy val xorSeed: Option[Long] = codec match {
    case x: XorCodec => Some(x.seed)
    case _ => None
  }

  /** Catalyst value → framed ciphertext cell. XOR codecs take the fused
    * path: keystream is XORed straight into the framed output buffer
    * (reference `XorEncryptInto` discipline — no intermediate ciphertext).
    */
  def encryptCell(v: Any): Array[Byte] = {
    val plain = ValueSerde.serialize(dataType, v)
    xorSeed match {
      case Some(seed) =>
        val out = new Array[Byte](WireFormat.CellHeaderLen + plain.length)
        WireFormat.writeCellHeader(out, modeByte, plain.length)
        StableHash.xorKeystreamInto(seed, plain, out, WireFormat.CellHeaderLen)
        out
      case None =>
        WireFormat.frameCell(modeByte, plain.length, codec.encrypt(plain))
    }
  }

  /** Framed ciphertext cell → Catalyst value. Validates magic/version/mode/
    * length — the cell-level analog of the reference's decrypt-side
    * version + mode + field-match checks (`encryption_sequencer.cpp:335-365`,
    * `dbpa_remote.cpp:286-296`).
    */
  def decryptCell(cell: Array[Byte]): Any = {
    val (mode, plen) = WireFormat.validateCellHeader(cell)
    if (mode != modeByte)
      throw new GraftInvalidInputException(
        f"mode mismatch: cell has 0x$mode%02x, column policy expects 0x$modeByte%02x")
    val plain = xorSeed match {
      case Some(seed) =>
        // fused path: XOR straight out of the cell buffer, no ciphertext copy
        val out = new Array[Byte](cell.length - WireFormat.CellHeaderLen)
        StableHash.xorKeystreamFrom(seed, cell, WireFormat.CellHeaderLen, out)
        out
      case None =>
        codec.decrypt(java.util.Arrays.copyOfRange(cell, WireFormat.CellHeaderLen, cell.length))
    }
    if (plain.length != plen)
      throw new GraftInvalidInputException(
        s"plaintext length mismatch: got ${plain.length}, header says $plen")
    ValueSerde.deserialize(dataType, plain)
  }

  /** Raw block encrypt — reference `EncryptBlock` parity (no framing,
    * `basic_xor_encryptor.cpp:56-63`: empty in → empty out).
    */
  def encryptBlock(data: Array[Byte]): Array[Byte] =
    if (data.isEmpty) Array.emptyByteArray else codec.encrypt(data)

  def decryptBlock(data: Array[Byte]): Array[Byte] =
    if (data.isEmpty) Array.emptyByteArray else codec.decrypt(data)
}
