package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** KMV ("k minimum values" / theta) distinct sketch as a custom
  * `TypedImperativeAggregate`: keeps the k smallest DISTINCT hash values
  * seen and emits them as a sorted `array<long>`.
  *
  * Scale rationale (the [[SimHashAgg]] bounded-buffer discipline): the
  * composable formulation of a bottom-k-distinct — `distinct → orderBy →
  * limit(k)` — shuffles the entire distinct key set, i.e. the vocabulary,
  * which at 100 TB is itself data-sized. This aggregate's partial buffers
  * are capped at k longs, partial-merge happens map-side, and the ONLY
  * thing that ever crosses the wire is ≤ k longs per task — the same
  * reason DataSketches ships theta sketches as aggregate functions rather
  * than relational rewrites. The buffer is a `TreeSet`, so the hot path
  * (a value ≥ the current k-th minimum of a full buffer) is a single
  * comparison against `last`, no insertion.
  *
  * The sketch is mergeable and ORDER-FREE: the k smallest distinct values
  * of a union are the k smallest distinct values of the concatenated
  * per-shard sketches, so any sharding/micro-batching yields the identical
  * array (the property the t26/st10 oracle rows pin against DuckDB).
  * Distinct-count and intersection estimators over the emitted array live
  * in [[graft.ops.Sketches]] as plain column functions.
  *
  * Null inputs are skipped — `kmv_agg(when(cond, h), k)` sketches a
  * predicate-filtered shard in the same single pass as the full sketch.
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] {

  require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_agg"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // fast path: buffer full and h can't displace the k-th minimum
      if (buf.size < k || h < buf.last()) {
        buf.add(h)
        if (buf.size > k) buf.pollLast()
      }
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
      b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) {
      val h = it.next()
      if (b1.size < k || h < b1.last()) {
        b1.add(h)
        if (b1.size > k) b1.pollLast()
      }
    }
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = bb.getInt()
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): KmvAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KmvAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): KmvAgg =
    copy(child = newChild)
}

object KmvAgg {
  /** kmv_agg(hash, k) — bottom-k-distinct sketch of a LongType hash column,
    * emitted as a sorted `array<long>` of ≤ k values. Over a stream (st10)
    * its state is the one ≤ k-long buffer however long the stream runs,
    * and the array equals the batch one under any micro-batching (the k
    * smallest distinct hashes of a union do not depend on order).
    */
  def kmv_agg(c: Column, k: Int): Column =
    ColumnShim.column(KmvAgg(ColumnShim.expression(c), k).toAggregateExpression())
}
