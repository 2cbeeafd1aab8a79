package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions.{conv, md5, substring, xxhash64}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** SimHash as a custom `TypedImperativeAggregate`: accumulates per-bit ±1
  * votes from 64-bit token hashes into a 64-int buffer and emits the 64-bit
  * signature. [[graft.ops.Dedup.simhash]] feeds it a [[TokenHash]].
  *
  * Scale rationale: the composable formulation (explode 64 bit-votes per
  * token, two groupBys — kept in the test tree as `OpsSpec.simhashViaBits`,
  * the reference that pins this aggregate) shuffles 64× the rows; this
  * aggregate is ONE partial-aggregated shuffle with a 256-byte buffer —
  * exactly the mutable-buffer pattern the reference uses for its in-place
  * encryption loops (`typed_buffer.h` write buffers).
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_agg"

  override def createAggregationBuffer(): Array[Int] = new Array[Int](64)

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Int], b2: Array[Int]): Array[Int] = {
    var i = 0
    while (i < 64) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Int]): Any = {
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (buf(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(256).order(ByteOrder.LITTLE_ENDIAN)
    buf.foreach(bb.putInt)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(64)(bb.getInt())
  }

  override def withNewMutableAggBufferOffset(offset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SimHashAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): SimHashAgg =
    copy(child = newChild)
}

object SimHashAgg {
  /** simhash_agg(tokenHash) — aggregate a LongType token-hash column. */
  def simhash_agg(c: Column): Column =
    ColumnShim.column(SimHashAgg(ColumnShim.expression(c)).toAggregateExpression())
}

/** The per-token hash a SimHash signature votes over. [[SimHashAgg]]
  * always emits 64 bits; a bit the token hash never sets votes −1 for
  * every token and stays clear in every signature.
  */
sealed trait TokenHash {
  def apply(tok: Column): Column
}

object TokenHash {
  /** xxhash64: all 64 bits, the production hash; no SQL replay. */
  case object Xxhash64 extends TokenHash {
    def apply(tok: Column): Column = xxhash64(tok)
  }

  /** [[HashKernels.fmixToken63]]: non-negative 63 bits, replayed bit for bit
    * in DuckDB (d04); signatures are non-negative, which the oracle's
    * BIGINT bit extraction relies on.
    */
  case object Fmix63 extends TokenHash {
    def apply(tok: Column): Column = FmixTokenHash63.fmix_token_hash63(tok)
  }

  /** The first 15 hex digits of md5 as a 60-bit BIGINT (d05, d08, st04):
    * bits 60..63 of every signature stay clear, as the oracle recomputes.
    */
  case object Md5 extends TokenHash {
    def apply(tok: Column): Column =
      conv(substring(md5(tok), 1, 15), 16, 10).cast("long")
  }
}
