package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The token/punctuation/stopword counts behind tokenCount and
  * qualityScore in ONE fused pass —
  * `struct<n_ws_tokens, n_subtokens, n_punct, n_stop>` out.
  *
  * Replaces four `regexp_extract_all` passes per row (`\S+` twice,
  * subtoken alternation, punctuation class, and the English-stopword
  * alternation on lowered text), each of which also materialized its
  * match array just to take `size`. Semantics are byte-equal to the regexes
  * (TextStatsSpec pins it): `\s` is Java's ASCII class, subtokens are
  * maximal letter runs | digit runs | single other codepoints (counted
  * per CODEPOINT, as java.util.regex does — a surrogate pair is one
  * match), and stop hits are maximal `\w` runs of the lowered text
  * (same `UTF8String.toLowerCase` as `lower`) equal to a stopword —
  * identical to `\b(w1|…)\b` counting for word-only alternatives.
  */
case class TextStats(child: Expression, stopWords: Seq[String]) extends UnaryExpression {

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopWords.foreach(s.add)
    s
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_ws_tokens", LongType, nullable = false),
    StructField("n_subtokens", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"text_stats requires a string argument, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    TextStats.count(input.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val stops = ctx.addReferenceObj("tsStops", stopSet, "java.util.HashSet")
      s"${ev.value} = graft.functions.TextStats.count($v, $stops);"
    })

  override def toString: String = s"text_stats($child)"

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)

  override def prettyName: String = "text_stats"
}

object TextStats {

  /** The fused scans — static so generated code calls it directly. */
  def count(s: UTF8String, stops: java.util.HashSet[String]): InternalRow = {
    val raw = s.toString
    var nWs = 0L
    var nSub = 0L
    var nPunct = 0L
    val n = raw.length
    var i = 0
    var inToken = false
    while (i < n) {
      val c = raw.charAt(i)
      if (isSpace(c)) {
        inToken = false
        i += 1
      } else {
        if (!inToken) { nWs += 1; inToken = true }
        if (isLetter(c)) {
          nSub += 1
          i += 1
          while (i < n && isLetter(raw.charAt(i))) i += 1
        } else if (isDigit(c)) {
          nSub += 1
          i += 1
          while (i < n && isDigit(raw.charAt(i))) i += 1
        } else {
          // "other" counts once per CODEPOINT (regex classes see a
          // surrogate pair as one character)
          nSub += 1
          nPunct += 1
          i += Character.charCount(raw.codePointAt(i))
        }
      }
    }
    // stopword hits over the lowered text's maximal Java-\b-word runs
    // (Unicode letterOrDigit boundary class — see AsciiScan scaladoc)
    val low = s.toLowerCase.toString
    var nStop = 0L
    AsciiScan.scanJavaWordRuns(low) { (j, k) =>
      if (stops.contains(low.substring(j, k))) nStop += 1
    }
    new GenericInternalRow(Array[Any](nWs, nSub, nPunct, nStop))
  }

  // character classes: the shared AsciiScan definitions
  @inline private def isSpace(c: Char): Boolean = AsciiScan.isSpace(c)
  @inline private def isLetter(c: Char): Boolean = AsciiScan.isLetter(c)
  @inline private def isDigit(c: Char): Boolean = AsciiScan.isDigit(c)

  /** The kernel as a Column — direct construction, no session registry. */
  def stats(text: org.apache.spark.sql.Column, stopWords: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(TextStats(ColumnBridge.expression(text), stopWords))
  }
}
