package graft.pipeline

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.types._

import graft.core.{CryptoCodec, GraftInvalidInputException, ValueSerde}
import graft.functions.protect

/** Protection mode requested by policy — per-value (decode typed values,
  * encrypt independently; equality-preserving with a deterministic codec) or
  * per-block (opaque blob). Mirrors the reference's two strategies with
  * plan-time fallback (`encryption_sequencer.cpp:128-195`).
  */
sealed trait ProtectMode { def name: String }
case object PerValue extends ProtectMode { val name = "per_value" }
case object PerBlock extends ProtectMode { val name = "per_block" }

object ProtectMode {
  def apply(s: String): ProtectMode = s match {
    case PerValue.name => PerValue
    case PerBlock.name => PerBlock
    case other => throw new GraftInvalidInputException(s"unknown mode '$other'")
  }
}

/** One column's protection policy — the analog of the per-call context the
  * reference receives (`swagger.yaml` column_reference + key_id +
  * application_context; validated like `ValidateParameters`,
  * `encryption_sequencer.cpp:305-333`).
  */
final case class ColumnPolicy(
    column: String,
    keyId: String,
    mode: ProtectMode = PerValue,
    codec: String = CryptoCodec.Xor) {
  require(keyId.nonEmpty, s"key_id must be non-empty for column '$column'") // P7
  require(column.nonEmpty, "column name must be non-empty")
}

/** DataFrame-level protection pipeline — the engine's equivalent of the
  * reference's encryption sequencer (SURVEY.md §2.3 P4/P5): per-column
  * strategy choice at *plan* time, metadata stamping, version/mode
  * verification on decrypt, schema round-trip assertions (A8).
  *
  * Encrypted columns become BinaryType with `StructField.metadata` carrying
  * `dbps_agent_version`, `encrypt_mode`, codec, key id and the original
  * Spark type — the analog of the reference's `encryption_metadata` map
  * (`encryption_sequencer.cpp:38-44`), making protected frames
  * self-describing for decryption.
  *
  * A narrow input is spread before the protect projection: when fewer of its
  * splits hold rows than `defaultParallelism` (a small or one-row-group
  * file), `encrypt` and `decrypt` partition it to `defaultParallelism` by
  * row position, so the projection runs on every core. Written output then
  * has that many files, and row order is not kept (Spark never promised it;
  * the round trip is per row). Many-file and many-row-group tables are left
  * as they are.
  * Two policies for one column are rejected.
  */
object ProtectionPipeline {
  /** Version stamped into metadata; decrypt requires this prefix — same
    * prefix-match discipline as the reference (`encryption_sequencer.cpp:335-346`).
    */
  final val AgentVersion = "v0.01-graft-spark"
  final val RequiredVersionPrefix = "v0.01"

  final val KeyVersion = "dbps_agent_version"
  final val KeyMode = "encrypt_mode"
  final val KeyCodec = "encrypt_codec"
  final val KeyKeyId = "encrypt_key_id"
  final val KeyOrigType = "original_type"
  /** Cell-batch shape carried in metadata — what a remote decrypt needs to
    * describe the batch as a page to the service (the reference's decrypt
    * REQUEST likewise carries `encryption_metadata`, `json_request.cpp:499-505`).
    */
  final val KeyRows = "cell_num_values"
  final val KeyNulls = "cell_num_nulls"

  /** Effective mode after plan-time fallback: BOOLEAN can't be per-value
    * (reference: bit-packed → `BooleanTypeUsesPerBlockEncryption`).
    */
  def effectiveMode(requested: ProtectMode, dt: DataType): ProtectMode =
    if (requested == PerValue && dt == BooleanType) PerBlock else requested

  def encrypt(df: DataFrame, policies: Seq[ColumnPolicy]): DataFrame = {
    // a second policy would encrypt the first one's ciphertext while the
    // metadata still stamps the plaintext type: no decrypt could restore it
    policies.groupBy(_.column).collectFirst { case (c, ps) if ps.size > 1 => c }
      .foreach(c => throw new GraftInvalidInputException(
        s"more than one policy for column '$c'"))
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    val projections = policies.map { p =>
      val field = byName.getOrElse(p.column,
        throw new GraftInvalidInputException(
          s"policy references missing column '${p.column}'"))
      if (!ValueSerde.supports(field.dataType))
        throw new GraftInvalidInputException(
          s"column '${p.column}' type ${field.dataType.catalogString} not protectable")
      val mode = effectiveMode(p.mode, field.dataType)
      val meta = new MetadataBuilder()
        .putString(KeyVersion, AgentVersion)
        .putString(KeyMode, mode.name)
        .putString(KeyCodec, p.codec)
        .putString(KeyKeyId, p.keyId)
        .putString(KeyOrigType, field.dataType.json)
        .build()
      p.column -> protect.encrypt_value(
        col(p.column), p.keyId, p.codec, p.column, perValue = mode == PerValue).as(p.column, meta)
    }
    project(df, projections)
  }

  /** Apply the protect projection, spreading a narrow input first: when fewer
    * of `df`'s splits hold rows than `defaultParallelism`
    * ([[SplitProbe.narrowerThan]]), the frame is hash-partitioned to
    * `defaultParallelism` on a row-position key, so the projection runs on
    * every core instead of in the one task a single-row-group file gives.
    *
    * The key is each row's position in the input, never its values: the file
    * a protected row lands in must tell nothing about its plaintext (a hash
    * of the values would — murmur3's seed is public, so a guess could be
    * checked against the file), and a key that reads no column leaves the
    * scan pruned to the columns the caller uses. The probe spreads only
    * frames read straight from their source, whose row order a retried task
    * reproduces, so the placement is retry-deterministic without the sort a
    * round-robin repartition adds. A spread frame counts as wide, so
    * `decrypt(encrypt(x))` spreads once.
    */
  private def project(df: DataFrame, projections: Seq[(String, Column)]): DataFrame = {
    val width = df.sparkSession.sparkContext.defaultParallelism
    val input =
      if (projections.isEmpty || !SplitProbe.narrowerThan(df, width)) df
      else df.repartition(width, monotonically_increasing_id())
    input.withColumns(projections.toMap)
  }

  /** Parse a stamped [[KeyOrigType]] value; an unparseable type is invalid
    * input. `where` names the column (or nothing) in the message.
    */
  private[graft] def parseType(json: String, where: String = ""): DataType =
    try DataType.fromJson(json)
    catch {
      case NonFatal(e) => throw new GraftInvalidInputException(
        s"invalid $KeyOrigType metadata$where: ${e.getMessage}")
    }

  /** Decrypt every column stamped with protection metadata (or the subset in
    * `columns`). Self-describing: key id, codec, mode, original type all come
    * from metadata. Fails on version mismatch like the reference (P5), and
    * on missing or damaged metadata (the file is input like any other) with
    * an invalid-input error naming the column and key — at plan time.
    */
  def decrypt(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val targets = df.schema.fields.filter { f =>
      f.metadata.contains(KeyVersion) && (columns.isEmpty || columns.contains(f.name))
    }
    if (columns.nonEmpty) {
      val missing = columns.toSet -- targets.map(_.name).toSet
      if (missing.nonEmpty)
        throw new GraftInvalidInputException(
          s"columns not protected or absent: ${missing.mkString(", ")}")
    }
    project(df, targets.toSeq.map { f =>
      def invalid(key: String, why: String) =
        new GraftInvalidInputException(s"'$key' metadata on '${f.name}' $why")
      def stamped(key: String): String =
        try f.metadata.getString(key)
        catch { case NonFatal(_) => throw invalid(key, "is missing or not a string") }
      val version = stamped(KeyVersion)
      if (!version.startsWith(RequiredVersionPrefix))
        throw new GraftInvalidInputException(
          s"unsupported agent version '$version' on '${f.name}' " +
            s"(need prefix '$RequiredVersionPrefix')")
      if (f.dataType != BinaryType)
        throw new GraftInvalidInputException(
          s"protected column '${f.name}' must be BINARY, found ${f.dataType.catalogString}")
      val modeName = stamped(KeyMode)
      val mode = try ProtectMode(modeName)
        catch { case e: GraftInvalidInputException => throw invalid(KeyMode, e.getMessage) }
      val origType = parseType(stamped(KeyOrigType), s" on '${f.name}'")
      if (!ValueSerde.supports(origType))
        throw invalid(KeyOrigType, s"names an unprotectable type ${origType.catalogString}")
      val codec = stamped(KeyCodec)
      if (!CryptoCodec.Names.contains(codec))
        throw invalid(KeyCodec, s"names an unknown codec '$codec'")
      val dec = protect.decrypt_value(col(f.name), stamped(KeyKeyId), origType,
        codec, f.name, perValue = mode == PerValue)
      f.name -> dec.as(f.name, Metadata.empty)
    })
  }

  /** A8 analog: assert an encrypt→decrypt round trip restored the schema. */
  def assertSchemaRestored(original: StructType, roundTripped: StructType): Unit = {
    val a = original.fields.map(f => (f.name, f.dataType))
    val b = roundTripped.fields.map(f => (f.name, f.dataType))
    if (!a.sameElements(b))
      throw new GraftInvalidInputException(
        s"schema mismatch after round trip:\n  original: ${a.mkString(",")}\n  got: ${b.mkString(",")}")
  }
}
