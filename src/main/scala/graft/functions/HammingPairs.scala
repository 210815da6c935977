package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** In-bucket Hamming pair scoring for SimHash banding — the
  * [[QuantCosinePairs]] pattern on 64-bit fingerprints: from one chunk
  * bucket's membership `array<struct<doc_id, simhash>>`, emit
  * `(doc_id_a, doc_id_b, hamming)` for every a < b pair with
  * `popcount(xor) <= maxHamming`, as a compiled nested loop pipelined
  * inside the aggregate's stage.
  *
  * Scale rationale: a 16-bit chunk space saturates at corpus scale
  * (bucket population ~n/65536 per chunk), so in-bucket pair COUNT
  * grows quadratically by design — that part is inherent to lossless
  * Hamming-3 banding of 64-bit codes and stays CPU (a ~2 ns xor+
  * popcount per pair). What must NOT grow with it is the shuffle: the
  * previous shape exploded every pair row and ran `.distinct()` BEFORE
  * the Hamming filter, shipping the full quadratic pair space through
  * an exchange (the sf10 falsifier measured 18.5× wall for 10× rows,
  * almost all of it that exchange). Here only pairs already within
  * `maxHamming` — the near-dup set — leave the stage; the downstream
  * distinct dedups cross-chunk emissions of integers that are
  * identical wherever computed.
  */
// CodegenFallback: GenerateExec drives generators through eval(); the
// win is the fused pair loop, not expression codegen
case class HammingPairs(child: Expression, maxHamming: Int)
    extends UnaryExpression with CollectionGenerator with CodegenFallback {

  require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")

  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_id_a", LongType, nullable = false),
    StructField("doc_id_b", LongType, nullable = false),
    StructField("hamming", LongType, nullable = false)))

  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)
  override def position: Boolean = false
  override def inline: Boolean = false
  override def dataType: DataType = collectionType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<bigint, bigint>>, got $other")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) Nil
    else {
      val arr = raw.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < 2) Nil
      else {
        val ids = new Array[Long](n)
        val sigs = new Array[Long](n)
        var i = 0
        while (i < n) {
          val s = arr.getStruct(i, 2)
          ids(i) = s.getLong(0)
          sigs(i) = s.getLong(1)
          i += 1
        }
        val order = Array.range(0, n).sortBy(ids)
        new Iterator[InternalRow] {
          private var ai = 0
          private var bi = 1
          private var nextRow: InternalRow = advance()
          private def advance(): InternalRow = {
            while (ai < n - 1) {
              val a = order(ai)
              while (bi < n) {
                val b = order(bi)
                bi += 1
                val h = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
                if (h <= maxHamming)
                  return InternalRow(ids(a), ids(b), h.toLong)
              }
              ai += 1
              bi = ai + 1
            }
            null
          }
          def hasNext: Boolean = nextRow != null
          def next(): InternalRow = {
            val r = nextRow
            nextRow = advance()
            r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): HammingPairs =
    copy(child = newChild)

  override def prettyName: String = "hamming_pairs"
}

object HammingPairs {
  /** `hamming_pairs(members, maxHamming)` as a generator Column. */
  def column(members: Column, maxHamming: Int): Column =
    ColumnBridge.column(HammingPairs(ColumnBridge.expression(members), maxHamming))
}
