package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Sequential dot product of two double arrays as a native Catalyst
  * expression with `doGenCode`: a tight generated loop instead of the
  * interpreted `zip_with`+`aggregate` higher-order functions (which are
  * CodegenFallback and ~20× slower on vector kernels). The accumulation
  * order is ascending-index left fold — the same order DuckDB's
  * list_sum uses — so cosine results stay bit-identical across engines.
  *
  * Backs the embedding similarity operators (SURVEY §2 #25-27): cosine =
  * dot(a,b)/sqrt(dot(a,a))/sqrt(dot(b,b)) stays fully inside
  * whole-stage codegen.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_product requires two array<double> arguments, got $l and $r")
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // fail loudly on dimension mismatch — silently truncating would mask
    // wrong-width embeddings / hyperplanes and quietly degrade results
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_product dimension mismatch: $n vs ${y.numElements()}")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: fixed locals collide when the expression appears
      // twice in one codegen scope with non-nullable children
      val n = ctx.freshName("dpN")
      val acc = ctx.freshName("dpAcc")
      val i = ctx.freshName("dpI")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "dot_product dimension mismatch: " + $n + " vs " + $b.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object DotProduct {
  /** `dot_product(a, b)` as a Column. */
  def column(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
