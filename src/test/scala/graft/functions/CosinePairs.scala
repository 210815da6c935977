package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** In-bucket cosine pair scoring at full precision, as a streaming
  * generator: from one bucket's membership array
  * `array<struct<vec_id, v, norm>>`, emit `(vec_id_a, vec_id_b, cosine)`
  * for every a < b pair whose cosine clears `threshold`.
  *
  * Test-tree reference: the embedding dedup operators score their
  * buckets with [[QuantCosinePairs]]' quantized prefilter, and
  * QuantCosineSpec checks that every pair this kernel keeps survives it.
  *
  * Parity contract: the dot product is the same ascending-index left
  * fold as [[DotProduct]], and the cosine is the same division
  * sequence as Similarity.cosine (`dot / sqrt(na) / sqrt(nb)`), so a
  * pair scored here is bit-identical to the exact path's cosine.
  */
// CodegenFallback: GenerateExec drives generators through eval(); the
// win is the fused pair loop, not expression codegen
case class CosinePairs(child: Expression, threshold: Double)
    extends UnaryExpression with CollectionGenerator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("vec_id_a", LongType, nullable = false),
    StructField("vec_id_b", LongType, nullable = false),
    StructField("cosine", DoubleType, nullable = false)))

  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)
  override def position: Boolean = false
  override def inline: Boolean = false
  override def dataType: DataType = collectionType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _),
        StructField(_, DoubleType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<bigint, array<double>, double>>, got $other")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) Nil
    else {
      val arr = raw.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < 2) Nil
      else {
        // unpack once: the pair loop reads primitive arrays, not
        // ArrayData accessors, and members sort by id so emitted pairs
        // are canonically a < b whatever order collect_list saw
        val ids = new Array[Long](n)
        val vecs = new Array[Array[Double]](n)
        val norms = new Array[Double](n)
        var i = 0
        while (i < n) {
          val s = arr.getStruct(i, 3)
          ids(i) = s.getLong(0)
          vecs(i) = s.getArray(1).toDoubleArray()
          norms(i) = s.getDouble(2)
          i += 1
        }
        val order = Array.range(0, n).sortBy(ids)
        // stream survivors: hasNext advances the (i, j) cursor to the
        // next pair clearing the threshold, so per-row memory is the
        // unpacked bucket itself, never the pair space
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
                val va = vecs(a); val vb = vecs(b)
                if (vb.length != va.length)
                  throw new IllegalArgumentException(
                    s"$prettyName dimension mismatch: ${va.length} vs ${vb.length}")
                var acc = 0.0
                var d = 0
                while (d < va.length) { acc += va(d) * vb(d); d += 1 }
                val cos = acc / math.sqrt(norms(a)) / math.sqrt(norms(b))
                if (cos >= threshold)
                  return InternalRow(ids(a), ids(b), cos)
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

  override protected def withNewChildInternal(newChild: Expression): CosinePairs =
    copy(child = newChild)

  override def prettyName: String = "cosine_pairs"
}
