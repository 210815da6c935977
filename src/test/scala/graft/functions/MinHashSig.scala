package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The whole MinHash signature as ONE aggregate over a document's
  * (doc_id, h) index rows: for each of `perms` multiply-shift
  * permutations π_i(h) = a_i·h + b_i ([[MinHashDoc.coeffs]]), the
  * buffer keeps the per-permutation minimum over the group's shingle
  * hashes — `array<long>` out, element i = min π_i.
  *
  * Test-tree reference: production MinHash computes the same signature
  * per row with the [[MinHashDoc]] kernel, and MinHashDocSpec replays
  * this aggregate (over [[graft.operators.DedupReference.hashedShingleIndex]])
  * as the bit-equality gate for it.
  */
case class MinHashSig(
    child: Expression,
    perms: Int,
    seed: Long = 0x9e3779b97f4a7c15L,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(perms > 0, "perms must be positive")

  @transient private lazy val (as: Array[Long], bs: Array[Long]) =
    MinHashDoc.coeffs(perms, seed)

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(perms)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < perms) {
        val p = as(i) * h + bs(i)
        if (p < buf(i)) buf(i) = p
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < perms) {
      if (b2(i) < b1(i)) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(perms * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < perms) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](perms)
    var i = 0
    while (i < perms) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSig =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSig =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MinHashSig =
    copy(child = newChildren.head)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  /** The aggregate as a Column. */
  def column(h: org.apache.spark.sql.Column, perms: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      MinHashSig(ColumnBridge.expression(h), perms).toAggregateExpression())
  }
}
