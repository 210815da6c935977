package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** MurmurHash3's 64-bit finalizer (fmix64 — public domain, Appleby): a
  * BIJECTIVE full-avalanche mixer `xorshift·multiply ×2 + xorshift`.
  * Composed with RollingHash it upgrades the polynomial hash (whose low
  * bits carry most of the structure of short/sequential inputs) into a
  * hash whose every bit is usable — which is what SimHash needs, since
  * it votes on ALL 64 bits independently.
  *
  * Exists (rather than reusing xxhash64) because every step — unsigned
  * shift, xor, wrapping multiply — replays exactly in DuckDB over
  * HUGEINTs (split multiply; xor works on HUGEINT), so SimHash built on
  * it is hash-gateable end-to-end. Native `doGenCode` keeps it inside
  * whole-stage codegen on the corpus scan path, and ANSI mode can't
  * object to the wrapping multiplies.
  */
case class Mix64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"mix64 requires a bigint argument, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any =
    Mix64.mix(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val h = ctx.freshName("mx")
      s"""
         |long $h = $c;
         |$h ^= $h >>> 33;
         |$h *= ${Mix64.C1}L;
         |$h ^= $h >>> 33;
         |$h *= ${Mix64.C2}L;
         |$h ^= $h >>> 33;
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Mix64 =
    copy(child = newChild)

  override def prettyName: String = "mix64"
}

object Mix64 {
  /** fmix64 multiplier constants (0xff51afd7ed558ccd, 0xc4ceb9fe1a85ec53). */
  val C1: Long = 0xff51afd7ed558ccdL
  val C2: Long = 0xc4ceb9fe1a85ec53L

  /** Reference implementation, also the interpreted path. */
  def mix(input: Long): Long = {
    var h = input
    h ^= h >>> 33
    h *= C1
    h ^= h >>> 33
    h *= C2
    h ^= h >>> 33
    h
  }

  /** `mix64(h)` as a Column. */
  def column(h: Column): Column = ColumnBridge.column(Mix64(ColumnBridge.expression(h)))
}
