package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** The whole 64-bit SimHash as ONE aggregate: the buffer counts, per
  * bit, how many of the group's shingle hashes have that bit set (plus
  * the row count); the final hash sets bit b iff the ±1 vote sum
  * `2·ones_b − n` is positive — EXACTLY the previous formulation of 64
  * `sum(when(bit, 1, -1))` columns + a 64-way bitwiseOR projection, so
  * signatures are bit-identical (the brute-force Hamming parity spec
  * pins it). A 65-long object buffer and one bit-test-add per bit per
  * row instead of a 65-column aggregation buffer; merges element-wise ⇒ map-side partial
  * aggregation as usual.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  // slots 0..63: ones-count per bit; slot 64: row count
  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < 64) {
        buf(b) += (h >>> b) & 1L
        b += 1
      }
      buf(64) += 1
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 65) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = {
    val n = buf(64)
    var out = 0L
    var b = 0
    while (b < 64) {
      if (2L * buf(b) - n > 0L) out |= 1L << b
      b += 1
    }
    out
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(65 * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < 65) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](65)
    var i = 0
    while (i < 65) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "simhash_agg"
}

object SimHashAgg {
  /** The aggregate as a Column — direct construction, no session
    * registry (same pattern as the other graft kernels).
    */
  def column(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(SimHashAgg(ColumnBridge.expression(h)).toAggregateExpression())
  }
}
