package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Native aggregate functions — the `TypedImperativeAggregate` extension
  * rung (the tier between scalar `Expression`s and whole-operator plans):
  * a custom aggregation state that partial-aggregates map-side and merges
  * across partitions, exactly like the built-in declarative aggregates but
  * with an arbitrary buffer representation.
  */
object NativeAggregates {

  /** Exact distinct count over a BOUNDED non-negative id domain via a fixed
    * dense bitset — `bitmap_distinct(id, maxId)`.
    *
    * The scale story (the RoaringBitmap / Spark 3.5 `bitmap_count` idea):
    * `count(DISTINCT x)` plans an extra shuffle of the distinct values,
    * while a bitmap aggregate is ONE pass — each task ORs ids into a local
    * `(maxId/8)`-byte buffer, partial buffers OR together (associative,
    * commutative, fixed size), and the final popcount is exact. For
    * surrogate-key domains (the usual case for FK ids) the buffer is far
    * smaller than the shuffled distinct set; domains too large or sparse
    * for a dense bitset are [[org.apache.spark.sql.functions
    * .approx_count_distinct]]'s territory — this operator REQUIRES the
    * bound and raises on out-of-range input rather than undercounting.
    */
  case class BitmapDistinctCount(
      child: Expression,
      maxIdExpr: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]] {

    override def children: Seq[Expression] = Seq(child, maxIdExpr)
    override def nullable: Boolean = false
    override def dataType: DataType = LongType
    override def prettyName: String = "bitmap_distinct"

    override def checkInputDataTypes(): TypeCheckResult =
      if ((child.dataType == LongType || child.dataType == IntegerType) &&
        maxIdExpr.dataType == LongType && maxIdExpr.foldable)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "bitmap_distinct expects (int/bigint column, bigint literal maxId)")

    private lazy val maxId: Long = maxIdExpr.eval().asInstanceOf[Long]
    private lazy val words: Int = ((maxId >> 6) + 1).toInt

    override def createAggregationBuffer(): Array[Long] = new Array[Long](words)

    override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val id = v match {
          case l: java.lang.Long => l.longValue()
          case i: java.lang.Integer => i.longValue()
        }
        if (id < 0 || id > maxId)
          throw new IllegalArgumentException(
            s"bitmap_distinct: id $id outside [0, $maxId] — raise maxId")
        buffer((id >> 6).toInt) |= 1L << (id & 63)
      }
      buffer
    }

    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      var i = 0
      while (i < b1.length) { b1(i) |= b2(i); i += 1 }
      b1
    }

    override def eval(buffer: Array[Long]): Any = {
      var n = 0L
      var i = 0
      while (i < buffer.length) { n += java.lang.Long.bitCount(buffer(i)); i += 1 }
      n
    }

    override def serialize(buffer: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
      bb.asLongBuffer().put(buffer)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val out = new Array[Long](bytes.length / 8)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
      out
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): BitmapDistinctCount =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): BitmapDistinctCount =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(child = newChildren(0), maxIdExpr = newChildren(1))
  }
}
