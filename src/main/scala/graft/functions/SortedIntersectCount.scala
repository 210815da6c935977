package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Intersection size of two ASCENDING-sorted long arrays as a native
  * Catalyst expression with `doGenCode`: one merge walk, no allocation
  * — versus `size(array_intersect(...))`, which builds a per-row hash
  * set AND the result array only to take its length.
  *
  * The scale-load-bearing half of the MinHash-LSH verify (r10): the
  * previous shape expanded every candidate pair by doc A's shingle
  * rows and shipped pair×shingle rows through two exchanges plus a
  * re-aggregation — 11.8 GB of shuffle at the sf10 falsifier (the same
  * candidates-cross-an-exchange pattern r9 killed in embedding-LSH /
  * simhash), whose allocation pressure made the query's wall time
  * bounce 45-195 s run to run. With the per-doc sorted hash-set arrays
  * riding the verify joins instead, the intersection count happens
  * in-stage and per-element rows never cross an exchange.
  *
  * Sortedness is the CALLER's contract (`sort_array(collect_list(h))`
  * — or any ascending producer); unsorted inputs under-count silently,
  * which DedupSpec's exact-pair parity assertions would catch.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count requires two array<bigint> arguments, got $l and $r")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1L; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: fixed locals collide when the expression appears
      // twice in one codegen scope with non-nullable children
      val nx = ctx.freshName("sicNx")
      val ny = ctx.freshName("sicNy")
      val i = ctx.freshName("sicI")
      val j = ctx.freshName("sicJ")
      val c = ctx.freshName("sicC")
      val xv = ctx.freshName("sicXv")
      val yv = ctx.freshName("sicYv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv < $yv) { $i++; }
         |  else if ($xv > $yv) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_intersect_count"
}

object SortedIntersectCount {
  /** `sorted_intersect_count(a, b)` as a Column. */
  def column(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }
}
