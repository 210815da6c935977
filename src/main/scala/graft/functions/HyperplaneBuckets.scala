package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** All random-hyperplane LSH bucket ids of a vector in one fused native
  * kernel: for each of `tables` tables, the `bits` sign bits of the
  * hyperplane dot products packed into a long — `array<long>` out.
  *
  * Why an expression and not `tables×bits` [[DotProduct]] columns: the
  * plane matrix would be inlined as `tables×bits×dim` literal doubles in
  * the generated code (janino compiles megabytes for 12×4×64), and every
  * plane's loop re-reads the input array. Here the matrix rides along as
  * a single reference object (`ctx.addReferenceObj`) — the generated
  * code is one fixed triple loop regardless of matrix size, and the
  * bucketing of a 100 TB corpus is a single cache-friendly pass.
  * Backs [[graft.operators.Similarity.annLshTopK]] (SURVEY §2 #27).
  */
case class HyperplaneBuckets(
    child: Expression,
    planes: Array[Double],
    tables: Int,
    bits: Int,
    dim: Int)
    extends UnaryExpression {

  require(planes.length == tables * bits * dim,
    s"plane matrix must be tables*bits*dim = ${tables * bits * dim} doubles, got ${planes.length}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"hyperplane_buckets requires an array<double> argument, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"hyperplane_buckets dimension mismatch: expected $dim, got ${v.numElements()}")
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val off = (t * bits + b) * dim
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += v.getDouble(i) * planes(off + i); i += 1 }
        if (acc >= 0.0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mat = ctx.addReferenceObj("hbPlanes", planes, "double[]")
      val out = ctx.freshName("hbOut")
      val t = ctx.freshName("hbT")
      val b = ctx.freshName("hbB")
      val i = ctx.freshName("hbI")
      val off = ctx.freshName("hbOff")
      val acc = ctx.freshName("hbAcc")
      val bucket = ctx.freshName("hbBucket")
      s"""
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "hyperplane_buckets dimension mismatch: expected $dim, got " + $v.numElements());
         |}
         |long[] $out = new long[$tables];
         |for (int $t = 0; $t < $tables; $t++) {
         |  long $bucket = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    int $off = ($t * $bits + $b) * $dim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      $acc += $v.getDouble($i) * $mat[$off + $i];
         |    }
         |    if ($acc >= 0.0) $bucket |= (1L << $b);
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  // keep the 3k-double matrix out of plan strings / explain output
  override def toString: String =
    s"hyperplane_buckets($child, tables=$tables, bits=$bits, dim=$dim)"

  // value equality over the matrix (case-class equals compares Array by
  // reference, which would defeat plan-level subexpression/exchange reuse
  // between two columns built on equal matrices)
  override def equals(other: Any): Boolean = other match {
    case h: HyperplaneBuckets =>
      h.child == child && h.tables == tables && h.bits == bits && h.dim == dim &&
        java.util.Arrays.equals(h.planes, planes)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(getClass, child, Integer.valueOf(java.util.Arrays.hashCode(planes)),
      Integer.valueOf(tables), Integer.valueOf(bits), Integer.valueOf(dim))

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)

  override def prettyName: String = "hyperplane_buckets"
}

object HyperplaneBuckets {
  /** The kernel as a Column bound to this plane matrix: the matrix
    * rides the expression itself, so concurrent callers with different
    * matrices can never observe each other's binding.
    */
  def buckets(v: org.apache.spark.sql.Column, planes: Seq[Seq[Double]],
      tables: Int, bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(HyperplaneBuckets(
      ColumnBridge.expression(v), planes.flatten.toArray, tables, bits, planes.head.length))
  }
}
