package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit polynomial rolling hash of a string's UTF-8 bytes:
  * h ← h·31 + byte (wrapping Long arithmetic), the classic Rabin-Karp /
  * Java-hashCode family. A native Catalyst expression with `doGenCode`, so
  * it stays inside whole-stage codegen (no UDF serialization, no boxing)
  * — the document-fingerprinting hot path scans TBs of text at 100 TB
  * scale and a Scala UDF there would break the codegen pipeline.
  *
  * Re-expresses the reference's document fingerprinting idea
  * (SURVEY.md §2 #20); the reference has no streaming-hash equivalent —
  * this is the engine-native design.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash requires a string argument, got ${child.dataType}")
  }

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // fresh names: fixed locals collide when the expression appears
      // twice in one codegen scope with non-nullable children
      val bytes = ctx.freshName("rhBytes")
      val h = ctx.freshName("rh")
      val i = ctx.freshName("rhI")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 31L + (long) ($bytes[$i] & 0xFF);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)

  override def prettyName: String = "rolling_hash"
}

object RollingHash {
  /** Reference implementation, also used by the interpreted path. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xff); i += 1 }
    h
  }

  /** `rolling_hash(text)` as a Column. */
  def column(text: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(text)))
}
