package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Test-tree reference for the fused text kernels: the DuckDB oracles'
  * literal regex formulations of [[TextOps]]' token count, quality
  * score, language ID and Gopher filter, built from Spark's regex
  * builtins. TextOpsSpec and GopherStatsSpec pin the fused operators
  * equal to these. The score arithmetic is TextOps' own, so only the
  * counting differs.
  */
object TextOpsRegex {

  /** Count of non-overlapping regex matches — same left-to-right scan in
    * Spark and DuckDB, so counts agree exactly.
    */
  private def nMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("bigint")

  /** Per-language stopword regexes, in [[TextOps.langId]]'s language
    * order (ASCII word-boundary; zh uses common hanzi particles).
    */
  private val LangStops: Seq[(String, String)] = Seq(
    "de" -> "\\b(der|die|das|und|ist|von|mit|den|ein|eine)\\b",
    "en" -> "\\b(the|a|and|of|to|is|in|that|it|on)\\b",
    "es" -> "\\b(el|la|de|que|y|en|un|una|los|las)\\b",
    "fr" -> "\\b(le|la|de|et|les|des|un|une|du|dans)\\b",
    "zh" -> "(的|是|不|了|在)")

  private val EnStop = LangStops.toMap.apply("en")

  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars"),
      nMatches(col("text"), "\\S+").as("n_ws_tokens"),
      nMatches(col("text"), "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]").as("n_subtokens"))

  def qualityScore(documents: DataFrame): DataFrame = {
    val text = col("text")
    val nPunct = nMatches(text, "[^A-Za-z0-9\\s]")
    val nWs = nMatches(text, "\\S+")
    val nStop = nMatches(lower(text), EnStop)
    documents.select(
      col("doc_id"),
      length(text).cast("bigint").as("n_chars"),
      TextOps.punctRatio(text, nPunct).as("punct_ratio"),
      TextOps.stopRatio(nWs, nStop).as("stop_ratio"),
      TextOps.quality(text, nPunct, nWs, nStop).as("quality_score"))
  }

  /** Five alternation-regex passes, argmax with the same tie-break. */
  def langId(documents: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    val hits = LangStops.map { case (l, p) => l -> nMatches(lowered, p) }
    val mx = greatest(hits.map(_._2): _*)
    val pred = hits.foldRight(lit("zh")) { case ((l, h), els) =>
      when(h === mx, lit(l)).otherwise(els)
    }
    documents.select(
      col("doc_id"),
      when(mx === 0, lit("und")).otherwise(pred).as("lang_pred"))
  }

  /** The Gopher counts by regex/split (java.util.regex via Spark
    * builtins), through TextOps' stats→(ratios, keep) projection.
    */
  def qualityFilterGopher(documents: DataFrame): DataFrame = {
    val words = regexp_extract_all(col("text"), lit("\\S+"), lit(0))
    val lines = split(col("text"), "\\n", -1)
    def countChar(ch: String): Column =
      length(col("text")) - length(regexp_replace(col("text"), ch, ""))
    val gs = struct(
      size(words).cast("bigint").as("n_words"),
      length(regexp_replace(col("text"), "\\s+", "")).cast("bigint").as("n_word_chars"),
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("bigint").as("n_alpha_words"),
      size(lines).cast("bigint").as("n_lines"),
      size(filter(lines, l => l.rlike("^[ \\t]*[-*•]"))).cast("bigint").as("n_bullet_lines"),
      // \z, not $: Java's bare $ also matches before a final \r line
      // terminator; RE2 (the oracle's engine) does not, and the kernel
      // pins the RE2 shape (GopherStats scaladoc)
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)[ \\t]*\\z"))).cast("bigint").as("n_ellipsis_lines"),
      (countChar("#") + countChar("…") + nMatches(col("text"), "\\.\\.\\.")).cast("bigint").as("n_symbols"),
      graft.functions.GopherStats.StopWords
        .map(w => when(lower(col("text")).rlike("\\b" + w + "\\b"), 1L).otherwise(0L))
        .reduce(_ + _).as("n_stop_distinct"))
    TextOps.gopherProject(documents.select(col("doc_id"), gs.as("gs")))
  }
}
