package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Fibonacci / golden-ratio multiplicative-hash finisher (Knuth, TAOCP
  * §6.4): `(h · 0x9E3779B97F4A7C15) >>> 40` with WRAPPING 64-bit
  * multiplication — a 24-bit uniform key in [0, 2^24) from any 64-bit
  * hash. Exists as a native expression because Spark's ANSI-mode `*`
  * (the 4.x default) throws on Long overflow, and the wrap IS the hash
  * here; a native expression also keeps the sampling predicate inside
  * whole-stage codegen, where a 100 TB stratified-sample scan lives.
  *
  * The exact arithmetic (wrapping multiply mod 2^64, then the top 24
  * bits) is replayed in the DuckDB oracle via a 32/32 split HUGEINT
  * multiply — see SparkEntry.SAMPLE_KEY.
  */
case class FibFinish(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fib_finish requires a bigint argument, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any =
    FibFinish.finish(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ($c * ${FibFinish.Golden}L) >>> 40;")

  override protected def withNewChildInternal(newChild: Expression): FibFinish =
    copy(child = newChild)

  override def prettyName: String = "fib_finish"
}

object FibFinish {
  /** 2^64 / φ — the standard multiplicative-hash constant. */
  val Golden: Long = 0x9E3779B97F4A7C15L

  /** Reference implementation, also the interpreted path. */
  def finish(h: Long): Long = (h * Golden) >>> 40

  /** `fib_finish(h)` as a Column. */
  def column(h: Column): Column = ColumnBridge.column(FibFinish(ColumnBridge.expression(h)))
}
