package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Per-centroid assignment scores of a vector in one fused native
  * kernel: element c = dot(v, centroid_c) / ‖centroid_c‖, with −∞ for a
  * degenerate zero-norm centroid (NaN would sort greatest and swallow
  * every row). `array<double>` out, one pass over a reference-held
  * centroid matrix — same rationale as [[HyperplaneBuckets]]: the
  * per-centroid DotProduct composition inlined the matrix as codegen
  * literals and re-read the vector per centroid. Test-tree reference:
  * both IVF operators assign and probe through [[ProbeCells]], and
  * ProbeCellsSpec keeps this kernel as the reference half of the r15
  * `sort_array` composition ProbeCells must reproduce.
  */
case class CentroidScores(
    child: Expression,
    centroids: Array[Double],
    norms: Array[Double],
    rows: Int,
    dim: Int)
    extends UnaryExpression {

  require(centroids.length == rows * dim,
    s"centroid matrix must be rows*dim = ${rows * dim} doubles, got ${centroids.length}")
  require(norms.length == rows, s"need one norm per centroid row, got ${norms.length}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"centroid_scores requires an array<double> argument, got $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"centroid_scores dimension mismatch: expected $dim, got ${v.numElements()}")
    val out = new Array[Double](rows)
    var c = 0
    while (c < rows) {
      if (norms(c) == 0.0) out(c) = Double.NegativeInfinity
      else {
        var acc = 0.0
        var i = 0
        val off = c * dim
        while (i < dim) { acc += v.getDouble(i) * centroids(off + i); i += 1 }
        out(c) = acc / norms(c)
      }
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mat = ctx.addReferenceObj("csCentroids", centroids, "double[]")
      val nrm = ctx.addReferenceObj("csNorms", norms, "double[]")
      val out = ctx.freshName("csOut")
      val c = ctx.freshName("csC")
      val i = ctx.freshName("csI")
      val off = ctx.freshName("csOff")
      val acc = ctx.freshName("csAcc")
      s"""
         |if ($v.numElements() != $dim) {
         |  throw new IllegalArgumentException(
         |    "centroid_scores dimension mismatch: expected $dim, got " + $v.numElements());
         |}
         |double[] $out = new double[$rows];
         |for (int $c = 0; $c < $rows; $c++) {
         |  if ($nrm[$c] == 0.0) { $out[$c] = Double.NEGATIVE_INFINITY; continue; }
         |  double $acc = 0.0;
         |  int $off = $c * $dim;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $acc += $v.getDouble($i) * $mat[$off + $i];
         |  }
         |  $out[$c] = $acc / $nrm[$c];
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  // keep the matrix out of plan strings / explain output
  override def toString: String = s"centroid_scores($child, rows=$rows, dim=$dim)"

  // value equality over the matrices (case-class equals compares Array by
  // reference, which would defeat plan-level subexpression/exchange reuse
  // between two columns built on equal centroid sets)
  override def equals(other: Any): Boolean = other match {
    case c: CentroidScores =>
      c.child == child && c.rows == rows && c.dim == dim &&
        java.util.Arrays.equals(c.centroids, centroids) && java.util.Arrays.equals(c.norms, norms)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(getClass, child, Integer.valueOf(java.util.Arrays.hashCode(centroids)),
      Integer.valueOf(java.util.Arrays.hashCode(norms)), Integer.valueOf(rows), Integer.valueOf(dim))

  override protected def withNewChildInternal(newChild: Expression): CentroidScores =
    copy(child = newChild)

  override def prettyName: String = "centroid_scores"
}

object CentroidScores {
  /** The kernel as a Column bound to these centroids. */
  def scores(v: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum)).toArray
    ColumnBridge.column(CentroidScores(
      ColumnBridge.expression(v), centroids.flatten.toArray, norms,
      centroids.length, centroids.head.length))
  }
}
