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

  /** Catalyst value → framed ciphertext cell. The cell is allocated once and
    * the codec writes its ciphertext straight after the header (reference
    * `XorEncryptInto` discipline — no intermediate ciphertext).
    */
  def encryptCell(v: Any): Array[Byte] = {
    val plain = ValueSerde.serialize(dataType, v)
    val out = new Array[Byte](WireFormat.CellHeaderLen + codec.overhead + plain.length)
    WireFormat.writeCellHeader(out, modeByte, plain.length)
    codec.encryptInto(plain, out, WireFormat.CellHeaderLen)
    out
  }

  /** Framed ciphertext cell → Catalyst value. Validates magic/version/mode/
    * length — the cell-level analog of the reference's decrypt-side
    * version + mode + field-match checks (`encryption_sequencer.cpp:335-365`,
    * `dbpa_remote.cpp:286-296`). The codec reads the ciphertext in place.
    */
  def decryptCell(cell: Array[Byte]): Any = {
    val plen = WireFormat.validateCellHeader(cell, modeByte)
    val plain = codec.decryptFrom(cell, WireFormat.CellHeaderLen)
    if (plain.length != plen)
      throw new GraftInvalidInputException(
        s"plaintext length mismatch: got ${plain.length}, header says $plen")
    ValueSerde.deserialize(dataType, plain, fixedW)
  }

  /** Raw block encrypt — reference `EncryptBlock` parity (no framing,
    * `basic_xor_encryptor.cpp:56-63`: empty in → empty out).
    */
  def encryptBlock(data: Array[Byte]): Array[Byte] =
    if (data.isEmpty) Array.emptyByteArray else codec.encrypt(data)

  def decryptBlock(data: Array[Byte]): Array[Byte] =
    if (data.isEmpty) Array.emptyByteArray else codec.decrypt(data)
}
