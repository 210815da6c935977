package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Bounded-heap top-k aggregate: keeps the k best (score, id) pairs,
  * ordered by score DESC then id ASC. The buffer is O(k) regardless of
  * input size and merges associatively, so Spark runs it with map-side
  * partial aggregation — each task ships one k-entry heap instead of its
  * whole partition. This is what makes brute-force ANN over a 100 TB
  * corpus a single scan + a Q-row shuffle (SURVEY §4: "broadcast query
  * set + bounded-heap aggregator, no crossJoin materialization").
  *
  * Returns array<struct<score double, id bigint>> sorted best-first.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  /** a beats b: higher score wins; ties keep the smaller id. */
  private def better(a: (Double, Long), b: (Double, Long)): Boolean =
    a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  /** Queue ordering with the WORST element at the head (PriorityQueue
    * dequeues its max, so "a < b iff a beats b" makes max = worst).
    */
  private val worstAtHead: Ordering[(Double, Long)] =
    Ordering.fromLessThan[(Double, Long)]((a, b) => better(a, b))

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstAtHead)

  private def offer(
      buf: mutable.PriorityQueue[(Double, Long)],
      cand: (Double, Long)): Unit = {
    if (buf.size < k) buf.enqueue(cand)
    else if (better(cand, buf.head)) { buf.dequeue(); buf.enqueue(cand) }
  }

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    // non-finite scores are dropped: NaN compares false both ways in
    // better(), which would freeze the heap head and corrupt eviction
    if (s != null && i != null && !s.asInstanceOf[Double].isNaN)
      offer(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(
      b1: mutable.PriorityQueue[(Double, Long)],
      b2: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b2.foreach(offer(b1, _))
    b1
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val best = buf.toArray.sortWith(better) // best-first
    new GenericArrayData(best.map { case (s, i) => InternalRow(s, i) }: Array[Any])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((in.readDouble(), in.readLong())); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))

  override def prettyName: String = "topk_by_score"
}

object TopKByScore {
  /** `topk_by_score(score, id, k)` as an aggregate Column. */
  def column(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(TopKByScore(
      ColumnBridge.expression(score), ColumnBridge.expression(id), k).toAggregateExpression())
}
