package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-vector int16 quantization for the embedding-LSH bucket payload
  * (r13, verdict item 5): `quantize_vec(v)` →
  * `struct<q: binary, s: double, qn: double, en: double>` with
  * `q(i) = round(v(i) / s)` stored big-endian in 2 bytes, for
  * `s = max|v(i)| / 32767` (all-zero input → s = 0, q = 0),
  * `qn = √Σ q(i)²`, and `en = |v − s·q|₂` — the
  * EXACT residual norm, ~1.7× tighter than the worst-case `s·√d/2`
  * (rounding errors are ~uniform on [−s/2, s/2], so |e|₂ concentrates
  * at s·√(d/12)) — everything [[QuantCosinePairs]] needs to score a
  * pair approximately AND bound its own error rigorously. The payload a bucket exchange carries drops
  * from dim·8 B of doubles to 2·dim bytes + three doubles (~3.4× at
  * dim 64; the measured sf10 bucket exchange dropped 2.2×, the rest
  * being per-row framing); full-precision vectors stay OUT of the
  * exchange and rejoin only for the exact verify of the (small)
  * surviving candidate set. Width adjudication (SCALING_r13): int8's
  * ~256× looser error bound admitted ~5× margin-band junk into the
  * candidate exchange at this corpus's dense 0.4-threshold cosine
  * shell, costing more than its smaller payload saved; int16's band
  * is empty.
  *
  * No clamping ever occurs: |v(i)/s| ≤ 32767 by the choice of s, so
  * the rounding error per coordinate is at most s/2 — the bound
  * [[QuantCosinePairs]] relies on.
  */
case class QuantizeVec(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = QuantizeVec.schema
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData].toDoubleArray()
    val d = v.length
    var maxAbs = 0.0
    var i = 0
    while (i < d) { val a = math.abs(v(i)); if (a > maxAbs) maxAbs = a; i += 1 }
    val s = maxAbs / 32767.0
    val q = new Array[Byte](2 * d)
    var qn2 = 0.0
    var en2 = 0.0
    if (s > 0.0) {
      i = 0
      while (i < d) {
        val qi = math.round(v(i) / s).toInt
        q(2 * i) = (qi >> 8).toByte
        q(2 * i + 1) = qi.toByte
        qn2 += qi.toDouble * qi.toDouble
        val e = v(i) - s * qi
        en2 += e * e
        i += 1
      }
    }
    InternalRow(q, s, math.sqrt(qn2), math.sqrt(en2))
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)

  override def prettyName: String = "quantize_vec"
}

object QuantizeVec {
  val schema: StructType = StructType(Seq(
    StructField("q", BinaryType, nullable = false),
    StructField("s", DoubleType, nullable = false),
    StructField("qn", DoubleType, nullable = false),
    StructField("en", DoubleType, nullable = false)))

  /** The expression as a Column — direct construction, no session
    * registry (same pattern as the other graft kernels).
    */
  def column(v: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(QuantizeVec(ColumnBridge.expression(v)))
  }
}

/** In-bucket LOSSLESS quantized cosine prefilter as a native streaming
  * generator (r13): from one LSH bucket's membership array
  * `array<struct<vec_id, q, s, qn, en, norm>>`, emit `(vec_id_a,
  * vec_id_b)` for every a < b pair whose quantized cosine PLUS a
  * per-pair rigorous error bound clears `threshold` — i.e. every pair
  * whose full-precision cosine is ≥ threshold survives (zero recall
  * loss, proven below; QuantCosineSpec checks it against a
  * full-precision pair kernel that lives in the test tree), while the ~quadratic
  * in-bucket junk mass dies before any exchange. Survivors rejoin
  * full-precision vectors downstream for the exact cosine, so emitted
  * RESULTS are bit-identical to the unquantized pipeline.
  *
  * Error bound: with v = s·q + e and en = |e|₂ computed EXACTLY at
  * quantize time (see [[QuantizeVec]]),
  *   dot(va, vb) = sa·sb·(qa·qb) + sa·(qa·eb) + sb·(qb·ea) + (ea·eb),
  * and by Cauchy-Schwarz
  *   |dot − sa·sb·(qa·qb)| ≤ sa·qn_a·en_b + sb·qn_b·en_a + en_a·en_b.
  * Dividing by √na·√nb bounds the cosine error; 1e-9 absolute slack
  * dominates the double rounding of evaluating both the bound and the
  * dequantized double-dot itself (~1e-14 absolute at dim 64).
  *
  * Zero/degenerate vectors: norm = 0 makes the scored value NaN here,
  * every comparison false, the pair dropped — belt-and-braces only,
  * since the operator filters zero-norm vectors BEFORE bucketing (the
  * exact path's ANSI division would error on them, not NaN — see
  * [[graft.operators.Dedup.embeddingNearDupsExact]]).
  */
// CodegenFallback: GenerateExec drives generators through eval(); the
// win is the fused integer pair loop, not expression codegen
case class QuantCosinePairs(child: Expression, threshold: Double)
    extends UnaryExpression with CollectionGenerator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("vec_id_a", LongType, nullable = false),
    StructField("vec_id_b", LongType, nullable = false)))

  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)
  override def position: Boolean = false
  override def inline: Boolean = false
  override def dataType: DataType = collectionType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, BinaryType, _, _),
        StructField(_, DoubleType, _, _),
        StructField(_, DoubleType, _, _),
        StructField(_, DoubleType, _, _),
        StructField(_, DoubleType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<bigint, binary, double, double, double, double>>, got $other")
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
        // dequantize each member ONCE (d multiplies) so the O(n²) pair
        // loop below is the same JIT-vectorizable double-dot as the
        // full-precision kernel — scoring packed shorts directly was
        // measured ~2× slower in-bucket (byte unpacking defeats SIMD)
        val vecs = new Array[Array[Double]](n)
        val sqn = new Array[Double](n) // s·qn, the bound's per-member scalar
        val ens = new Array[Double](n)
        val rnorms = new Array[Double](n) // 1/sqrt(norm); NaN-propagating for norm 0
        var i = 0
        while (i < n) {
          val st = arr.getStruct(i, 6)
          ids(i) = st.getLong(0)
          val q = st.getBinary(1)
          val sc = st.getDouble(2)
          val d = q.length / 2
          val dv = new Array[Double](d)
          var k = 0
          while (k < d) {
            dv(k) = sc * ((q(2 * k) << 8) | (q(2 * k + 1) & 0xff)).toShort
            k += 1
          }
          vecs(i) = dv
          sqn(i) = sc * st.getDouble(3)
          ens(i) = st.getDouble(4)
          rnorms(i) = 1.0 / math.sqrt(st.getDouble(5))
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
                val va = vecs(a); val vb = vecs(b)
                if (va.length != vb.length)
                  throw new IllegalArgumentException(
                    s"$prettyName dimension mismatch: ${va.length} vs ${vb.length}")
                var acc = 0.0
                var k = 0
                while (k < va.length) { acc += va(k) * vb(k); k += 1 }
                val denom = rnorms(a) * rnorms(b)
                val cosQ = acc * denom
                val bound =
                  (sqn(a) * ens(b) + sqn(b) * ens(a) + ens(a) * ens(b)) * denom
                if (cosQ + bound + 1e-9 >= threshold)
                  return InternalRow(ids(a), ids(b))
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

  override protected def withNewChildInternal(newChild: Expression): QuantCosinePairs =
    copy(child = newChild)

  override def prettyName: String = "quant_cosine_pairs"
}

object QuantCosinePairs {
  /** `quant_cosine_pairs(members, threshold)` as a generator Column. */
  def column(members: Column, threshold: Double): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(QuantCosinePairs(ColumnBridge.expression(members), threshold))
  }
}
