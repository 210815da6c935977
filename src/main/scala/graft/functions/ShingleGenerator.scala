package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram shingle generator: one pass over the raw text per
  * row emits every consecutive n-token shingle of the
  * whitespace-normalized, lowercased text.
  *
  * Replaces the previous relational pipeline (posexplode tokens → window
  * lead(1)/lead(2) → concat), which paid a full shuffle + sort per
  * document set just to line tokens up next to their neighbors. As a
  * Generator the shingling is a streamed flatMap inside the scan stage:
  * normalize once, slide a window, emit — no exchange at all until the
  * downstream distinct. Tokenization matches the SQL-side normalization
  * (`lower → collapse \s+ → trim → split`) exactly for ASCII corpora so
  * DuckDB-oracle shingle sets stay identical.
  */
// CodegenFallback: GenerateExec drives generators through eval() — the
// win here is eliminating the exchange, not expression codegen
case class ShingleGenerator(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with CollectionGenerator with CodegenFallback {

  require(n >= 1, "shingle width must be >= 1")

  override def elementSchema: StructType =
    StructType(Seq(StructField("shingle", StringType, nullable = false)))

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
      val tokens = ShingleGenerator.tokenize(raw.asInstanceOf[UTF8String].toString)
      if (tokens.length < n) Nil
      else {
        val all = new Iterator[InternalRow] {
          private var i = 0
          private val last = tokens.length - n
          def hasNext: Boolean = i <= last
          def next(): InternalRow = {
            val s = tokens.slice(i, i + n).mkString(" ")
            i += 1
            InternalRow(UTF8String.fromString(s))
          }
        }
        // distinct mode dedupes WITHIN the row while streaming (first
        // occurrence wins): per-doc set semantics computed map-side in
        // the scan stage, so no downstream distinct/countDistinct needs
        // to shuffle duplicate shingles at all. Memory is bounded by the
        // row's own shingle count — the same order as the token array
        // the tokenizer already materialized.
        val out =
          if (!distinct) all
          else {
            // pre-sized: the shingle count is exactly tokens-n+1, so a
            // capacity of count/0.75+1 never rehash-grows mid-document
            val seen = new java.util.HashSet[UTF8String](
              (tokens.length - n + 1) * 4 / 3 + 1)
            all.filter(r => seen.add(r.getUTF8String(0)))
          }
        out.to(Iterable)
      }
    }
  }

  override def dataType: DataType = collectionType

  override protected def withNewChildInternal(newChild: Expression): ShingleGenerator =
    copy(child = newChild)

  override def prettyName: String =
    if (n == 1) "tokens" else if (distinct) "shingles_distinct" else "shingles"
}

object ShingleGenerator {
  /** lower → split on `\s+` runs → drop empty edge tokens: the same
    * token stream as the SQL
    * `split(trim(regexp_replace(lower(text), '\s+', ' ')), ' ')`
    * normalization for every input whose whitespace is Java `\s`.
    * NOT `String.trim`: that strips ALL controls ≤ U+0020 (a doc
    * starting with U+0001 would lose the char), while SQL `trim`
    * removes spaces only — and after the `\s+` collapse the edges are
    * plain spaces, which is exactly what dropping empty split tokens
    * reproduces (ShingleGeneratorSpec fuzzes this against a scalar
    * replica of the SQL steps).
    */
  private[graft] def tokenize(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  /** The generator as a Column: `shingles(text)` (word 3-grams),
    * `n = 1` for `tokens(text)` (the normalized unigram stream) and
    * `distinct = true` for `shingles_distinct(text)` (per-row set
    * semantics, first occurrence wins).
    */
  def column(text: Column, n: Int = 3, distinct: Boolean = false): Column =
    ColumnBridge.column(ShingleGenerator(ColumnBridge.expression(text), n, distinct))
}
