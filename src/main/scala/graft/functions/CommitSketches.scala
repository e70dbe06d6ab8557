package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Commit-time sketch aggregates. A snapshot write's tasks call their
  * `update` per written row (`graft.sources.snapshot.ParquetWrite`), so
  * every requested bloom and KMV column of a commit costs no pass of
  * its own; the column forms in [[CommitSketches]] aggregate the same
  * sketches over any frame, one row per group.
  *
  * Bit-twins of the Column-expression paths they replace (pinned by
  * CommitSketchSpec):
  *  - [[BloomWordsAgg]] ≡ `pmod(PortableHash.detHash(col, seedBase+h),
  *    bits)` exploded per h and bit_or-folded into 64-bit words
  *    ([[PortableHash.detHashJvm]] is the same first-4-bytes-of-md5).
  *  - [[KmvAgg]] ≡ distinct `PortableHash.detHash(col)` ranked
  *    ascending per file, k smallest kept, sorted.
  */
case class BloomWordsAgg(child: Expression, bits: Int, seedBase: Int,
    k: Int, mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(bits > 0 && bits % 64 == 0, s"bloom bits must be a multiple of 64, got $bits")
  require(k > 0, s"bloom needs at least one hash, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_words"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      var h = 0
      while (h < k) {
        val p = (PortableHash.detHashJvm(s + ":" + (seedBase + h)) % bits).toInt
        buf(p >> 6) |= 1L << (p & 63)
        h += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomWordsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomWordsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): BloomWordsAgg =
    copy(child = newChild)
}

/** Bounded k-minimum-values buffer: k smallest DISTINCT hashes. */
case class KmvAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with UnaryLike[Expression] {

  require(k > 0, s"KMV needs k > 0, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def add(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit = {
    // admission test before insert: a full buffer never grows for a
    // hash above its current k-th smallest
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) { buf.add(h); if (buf.size > k) buf.pollLast(); () }
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) add(buf, PortableHash.detHashJvm(v.toString))
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    other.forEach(h => add(buf, h))
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    var i = 0
    val it = buf.iterator()
    while (it.hasNext) { out(i) = it.next(); i += 1 } // ascending
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 8)
    buf.forEach(h => { bb.putLong(h); () })
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new java.util.TreeSet[java.lang.Long]()
    (0 until bytes.length / 8).foreach(_ => buf.add(bb.getLong()))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): KmvAgg =
    copy(child = newChild)
}

object CommitSketches {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Per-group bloom bitmap of `c`'s string form as `bits/64` longs. */
  def bloomWords(c: Column, bits: Int, seedBase: Int, k: Int): Column =
    Bridge.column(BloomWordsAgg(Bridge.expression(c.cast("string")),
      bits, seedBase, k).toAggregateExpression())

  /** Per-group k smallest distinct portable hashes, ascending. */
  def kmv(c: Column, k: Int): Column =
    Bridge.column(KmvAgg(Bridge.expression(c.cast("string")), k)
      .toAggregateExpression())
}
