package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native positional k-token window generator over RAW space-split
  * tokens: one pass per row emits `(pos, win)` for every consecutive
  * k-token window of `split(text, ' ')` — the exact token stream
  * `string_split(text, ' ')` produces (single-space split, empties
  * kept, NO normalization — unlike [[ShingleGenerator]], which
  * lowercases and collapses whitespace; span removal must reassemble
  * the original text, so its windows must index the original tokens).
  *
  * Replaces the SQL formulation
  * `posexplode(transform(sequence(0, n-k), i -> concat_ws(' ', slice(toks, i+1, k))))`
  * in [[graft.operators.Dedup.dedupSpans]]: higher-order lambdas run
  * interpreted and re-slice the array per window (O(k) copies each); as
  * a Generator this is a streamed flatMap inside the scan stage — split
  * once, slide, emit — with no exchange until the downstream aggregate.
  */
// CodegenFallback: GenerateExec drives generators through eval() — the
// win is the single-pass window build, not expression codegen
case class TokenWindows(child: Expression, k: Int)
    extends UnaryExpression with CollectionGenerator with CodegenFallback {

  require(k >= 1, s"window width must be >= 1, got $k")

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("win", StringType, nullable = false)))

  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)
  override def position: Boolean = false
  override def inline: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) Nil
    else {
      // split(" ", -1): single-space split, trailing empties KEPT —
      // byte-identical to Spark SQL split(text, ' ') and DuckDB
      // string_split(text, ' ')
      val toks = raw.asInstanceOf[UTF8String].toString.split(" ", -1)
      if (toks.length < k) Nil
      // the Iterator IS the result (Iterator <: IterableOnce in 2.13,
      // and GenerateExec consumes eval's result exactly once): rows
      // stream into the generate, keeping per-row memory at O(k)
      // characters. An eager .to(Iterable) here would buffer every
      // (pos, win) slice — O(tokens x k) for a large document —
      // defeating the documented streamed in-scan design.
      else new Iterator[InternalRow] {
        private var i = 0
        private val last = toks.length - k
        def hasNext: Boolean = i <= last
        def next(): InternalRow = {
          val w = toks.slice(i, i + k).mkString(" ")
          val r = InternalRow(i, UTF8String.fromString(w))
          i += 1
          r
        }
      }
    }
  }

  override def dataType: DataType = collectionType

  override protected def withNewChildInternal(newChild: Expression): TokenWindows =
    copy(child = newChild)

  override def prettyName: String = "token_windows"
}

object TokenWindows {
  /** `token_windows(text, k)` as a generator Column. */
  def column(text: Column, k: Int): Column =
    ColumnBridge.column(TokenWindows(ColumnBridge.expression(text), k))
}
