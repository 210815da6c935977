package graft.operators

import graft.functions.{Mix64, RollingHash, ShingleGenerator}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY §2 #17-20):
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. Everything is a narrow per-row projection built from
  * `org.apache.spark.sql.functions._` (whole-stage codegen, no UDFs, no
  * shuffle); the scan prunes to (doc_id, text) so at 100 TB the cost is
  * the parquet column read + regex CPU, perfectly data-parallel.
  *
  * Every double expression mirrors its DuckDB oracle token-for-token
  * (driver compares bit-exact); regex patterns are restricted to the
  * RE2 ∩ java.util.regex common subset.
  */
object TextOps {

  private val EnStopWords = Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "on")

  /** The fused per-row count kernel (ws tokens, subtokens, punct chars,
    * English-stopword hits in one pass — [[graft.functions.TextStats]]).
    * Equal `statsOf` calls collapse only inside a `Project`, where codegen
    * eliminates common subexpressions; a `Filter` evaluates every copy.
    * So a score that gates rows is computed from ONE carried struct
    * ([[qualityFrom]]), as CorpusPipeline's stage 1 does.
    */
  private[graft] def statsOf(text: Column): Column =
    graft.functions.TextStats.stats(text, EnStopWords)

  /** SURVEY #17: whitespace tokens + BPE-ish subtokens (letter runs,
    * digit runs, individual symbol marks). One fused scan; the regex
    * formulation (the oracle's literal shape) lives in the test tree as
    * TextOpsSpec's parity reference.
    */
  def tokenCount(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars"),
      statsOf(col("text")).getField("n_ws_tokens").as("n_ws_tokens"),
      statsOf(col("text")).getField("n_subtokens").as("n_subtokens"))

  // the score arithmetic over (punct, ws-token, stop-hit) counts — one
  // copy shared by the fused kernel and the test tree's regex reference
  private[graft] def punctRatio(text: Column, nPunct: Column): Column = {
    val nChars = length(text).cast("bigint")
    when(nChars === 0, lit(0.0)).otherwise(nPunct.cast("double") / nChars.cast("double"))
  }

  private[graft] def stopRatio(nWs: Column, nStop: Column): Column =
    when(nWs === 0, lit(0.0)).otherwise(nStop.cast("double") / nWs.cast("double"))

  private[graft] def quality(text: Column, nPunct: Column, nWs: Column, nStop: Column): Column = {
    val lenScore = least(lit(1.0), length(text).cast("bigint").cast("double") / lit(500.0))
    lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - punctRatio(text, nPunct)) +
      lit(0.3) * least(lit(1.0), stopRatio(nWs, nStop) * lit(5.0))
  }

  /** The quality score from `text` and its [[statsOf]] struct `ts`. */
  private[graft] def qualityFrom(text: Column, ts: Column): Column =
    quality(text, ts.getField("n_punct"), ts.getField("n_ws_tokens"), ts.getField("n_stop"))

  /** The quality score as a single column expression over raw text —
    * pipelines attach it with a projection instead of a join.
    */
  def qualityExpr(text: Column): Column = qualityFrom(text, statsOf(text))

  /** SURVEY #18: quality score from length, punctuation and stopword
    * ratios (the standard LLM-corpus heuristics family).
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val ts = statsOf(col("text"))
    documents.select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars"),
      punctRatio(col("text"), ts.getField("n_punct")).as("punct_ratio"),
      stopRatio(ts.getField("n_ws_tokens"), ts.getField("n_stop")).as("stop_ratio"),
      qualityFrom(col("text"), ts).as("quality_score"))
  }

  /** Per-language stopwords (ASCII word-boundary; zh uses common hanzi
    * particles, which simply never hit on ASCII corpora) as word/char
    * lists for the fused [[graft.functions.LangStopHits]] kernel. The
    * DuckDB oracle runs the same table as one alternation regex per
    * language; that formulation lives in the test tree, and TextOpsSpec
    * pins the two equal on the real corpus.
    */
  private val LangNames: Seq[String] = Seq("de", "en", "es", "fr", "zh")
  private val LangStopWords: Seq[Seq[String]] = Seq(
    Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "eine"),
    Seq("the", "a", "and", "of", "to", "is", "in", "that", "it", "on"),
    Seq("el", "la", "de", "que", "y", "en", "un", "una", "los", "las"),
    Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "dans"),
    Seq.empty)
  private val LangStopChars: Seq[Seq[String]] = Seq(
    Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq("的", "是", "不", "了", "在"))

  /** SURVEY #19: stopword-hit language heuristic. Argmax over per-language
    * hit counts, deterministic tie-break in lexicographic language order,
    * 'und' when nothing hits. One lowercase + one text scan per row
    * ([[graft.functions.LangStopHits]]) instead of 5 alternation-regex
    * passes — language-ID was the most expensive pure-projection query in
    * the bench before the fusion.
    */
  def langId(documents: DataFrame): DataFrame = {
    val hits = graft.functions.LangStopHits.hits(col("text"), LangStopWords, LangStopChars)
    val mx = array_max(hits)
    val pred = LangNames.zipWithIndex.foldRight(lit("zh")) { case ((l, i), els) =>
      when(hits.getItem(i) === mx, lit(l)).otherwise(els)
    }
    documents.select(
      col("doc_id"),
      when(mx === 0, lit("und")).otherwise(pred).as("lang_pred"))
  }

  /** Whitespace-normalized lowercase text (shared by fingerprints and
    * exact dedup): lower → collapse runs of whitespace → trim.
    */
  def normalized(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** The canonical exact-dup fingerprint: md5 of normalized text. ONE
    * definition shared by docFingerprint, Dedup.exactDups and
    * CorpusPipeline so the three sites can never drift apart (each is
    * oracle- or spec-gated against this exact shape).
    */
  def fingerprintExpr(text: Column): Column =
    md5(normalized(text).cast("binary"))

  /** SURVEY #20: md5 fingerprint of normalized text (DuckDB-oracled). */
  def docFingerprint(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), fingerprintExpr(col("text")).as("fp_md5"))

  /** SURVEY #20 (native half): the rolling-hash Catalyst expression —
    * not SQL-expressible in DuckDB (wrapping 64-bit arithmetic), so the
    * query is rows-only checked and the hash itself is spec'd in
    * RollingHashSpec (codegen vs interpreted vs reference loop).
    */
  def rollingFingerprint(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), RollingHash.column(col("text")).as("fp_rolling"))

  /** Corpus-level top-k n-grams by document frequency (ties broken by
    * shingle text, so the cut is a total order and the result
    * deterministic) — the "what's boilerplate in this crawl" probe run
    * before choosing dedup thresholds. Shares Dedup's word-3-gram
    * inverted index over a CpuSpread input (the generator is the scan
    * stage's CPU), counts with map-side partial aggregation, and the
    * `orderBy.limit` compiles to TakeOrderedAndProject: each reduce task
    * keeps a k-row heap and the driver merges #partitions × k rows —
    * no global sort at any scale (pinned in PlanAuditSpec).
    */
  def ngramTopK(documents: DataFrame, k: Int = 50): DataFrame =
    Dedup.shingleIndex(CpuSpread.spread(documents))
      .groupBy("shingle")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle").asc)
      .limit(k)

  /** Within-document repetition signal (the classic repeated-n-gram
    * quality rule: templated/spam text repeats its own 3-grams):
    * `1 − distinct/total` word-3-grams per doc; a doc too short for any
    * 3-gram scores 0.0. Counts aggregate over the HASHED raw shingle
    * stream (RollingHash ∘ Mix64 — 64-bit collisions immaterial, see
    * Dedup.mixedShingleIndex), so the per-doc shuffle carries
    * (doc_id, long), never shingle text; both count and distinct-count
    * are two-phase map-side partials. The left join restores docs with
    * zero 3-grams — a doc_id equi-join against an at-most-one-row-per-
    * doc right side.
    */
  def repetitionRatio(documents: DataFrame): DataFrame = {
    // CpuSpread (r19): generator + two hash kernels are scan-stage CPU
    val counts = CpuSpread.spread(documents)
      .select(col("doc_id"), ShingleGenerator.column(col("text")).as("shingle")) // duplicates kept
      .select(col("doc_id"), Mix64.column(RollingHash.column(col("shingle"))).as("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"), countDistinct(col("h")).as("n_distinct"))
    documents.select("doc_id").join(counts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(coalesce(col("n_ngrams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams").cast("double"))
          .as("repetition_ratio"))
  }

  /** Per-document top-k TF-IDF terms (SURVEY §2 #49) — the classic
    * keyword/salience primitive (tf · ln(N/df)) over the same
    * normalized token stream every text kernel here uses (the n=1
    * ShingleGenerator: streamed in-scan flatMap, no regex re-pass).
    *
    * Plan shape at 100 TB: the term-frequency groupBy is the one
    * corpus-sized exchange — (doc_id, term) keys, map-side combined.
    * Document frequency partial-aggregates the tf frame per term
    * (vocabulary-sized), joins back on term (AQE broadcasts a small
    * vocabulary, shuffles a large one), and N rides a broadcast 1-row
    * frame. The final top-k window partitions BY DOCUMENT — group size
    * = doc vocabulary, never corpus-scale.
    *
    * Oracle discipline: scores quantize to 1e-9 units through the same
    * floor expression on both sides BEFORE ranking (ln is the one
    * libm-sensitive step — a 1-ULP difference at magnitude ~10 sits
    * 5 orders below the quantum); equal-(tf, df) ties rank by term on
    * both sides, so the cutoff is deterministic cross-engine.
    */
  def tfidfTopTerms(documents: DataFrame, topK: Int = 5): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    // CpuSpread (r19): the tokenizer is the scan stage's CPU;
    // single-task on an unsplittable local file, no-op at scale
    val tf = CpuSpread.spread(documents)
      .select(col("doc_id"), ShingleGenerator.column(col("text"), n = 1).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      // EAGER (r16 audit): the df aggregate's map stage and the score
      // join's probe side are independent stages of one job; lazy they
      // race the block store and re-run the reduce side of the tf
      // aggregate (the scan itself is behind tf's shuffle, so the race
      // re-reads shuffle files, not the corpus — bounded but real).
      .localCheckpoint(eager = true) // consumers: df aggregate + the score join
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        expr("floor(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e9 + 0.5) / 1e9"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select("doc_id", "rank", "term", "tf", "df", "tfidf")
  }

  /** SURVEY #50: deterministic PII plant for the redaction gate. The
    * corpus text carries no emails/phones/IPs, so the wired query
    * derives them from doc_id (the Multimodal.withPayload pattern):
    * one valid email, one valid phone, one valid IPv4 per row, plus
    * fixed near-misses ("a@b" without a TLD, a two-part version
    * number) that a sloppy pattern would over-redact. Integer-only
    * arithmetic — the oracle rebuilds the identical string in SQL.
    */
  def withPlantedPii(documents: DataFrame): DataFrame =
    documents.selectExpr(
      "doc_id",
      """concat(
        |'contact user', CAST(doc_id AS STRING), '@mail', CAST(doc_id % 7 AS STRING),
        |'.com via ', substr(text, 1, 48),
        |' call +', CAST(doc_id % 89 + 1 AS STRING),
        |'-', CAST(doc_id % 900 + 100 AS STRING),
        |'-', CAST(doc_id % 9000 + 1000 AS STRING),
        |' near a@b or 1.2.3 from 10.', CAST(doc_id % 256 AS STRING),
        |'.', CAST(doc_id * 7 % 256 AS STRING),
        |'.', CAST(doc_id % 250 AS STRING), ' end') AS text""".stripMargin)

  /** SURVEY #50: PII/pattern redaction — emails, phone numbers, and
    * IPv4 addresses replaced by placeholder tokens, with per-category
    * hit counts. ONE fused scan per row ([[graft.functions.PiiRedact]]
    * — the AsciiScan family), not three regex passes: the kernel is
    * spec-pinned equal to the sequential email → phone → ip global
    * replaces the DuckDB oracle runs literally. Pure projection inside
    * the scan stage — no exchange, no UDF, stream-compatible.
    */
  def redactPii(documents: DataFrame): DataFrame = {
    val r = graft.functions.PiiRedact.redacted(col("text"))
    documents
      .select(col("doc_id"), r.as("r"))
      .select(
        col("doc_id"),
        col("r.clean").as("clean_text"),
        col("r.n_email").as("n_email"),
        col("r.n_phone").as("n_phone"),
        col("r.n_ip").as("n_ip"))
  }

  // ---- SURVEY #51: Gopher-rules quality filter ----

  /** Gopher A1.1 thresholds (Rae et al. 2021): the doc survives when
    * every rule holds. Named so the SQL oracle and the Spark side cite
    * the same constants.
    */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMaxBulletRatio = 0.9
  val GopherMaxEllipsisRatio = 0.3
  val GopherMinAlphaRatio = 0.8
  val GopherMinStopDistinct = 2L

  /** Deterministic structure plant for the Gopher gate (the
    * withPlantedPii pattern): the corpus text is single-line word soup
    * with no bullets/ellipses/symbols, so the wired query grafts
    * doc_id-derived lines onto it — bullet intros (space- and
    * tab-indented), a `...`-terminated starred line, a Gopher-stopword
    * line, a `…`-terminated line WITH trailing blanks, and a
    * symbol-heavy `#`/dot-run line — exercising every line- and
    * symbol-rule in the DuckDB-oracled path, not just in specs.
    * Integer-only arithmetic; the oracle rebuilds the identical string
    * (chr(9)/chr(10) — escape-free in both SQL dialects).
    */
  def withPlantedStructure(documents: DataFrame): DataFrame =
    documents.selectExpr(
      "doc_id",
      """concat(
        |CASE WHEN doc_id % 3 = 0 THEN concat('  - bullet intro', chr(10)) ELSE '' END,
        |CASE WHEN doc_id % 5 = 0 THEN concat(chr(9), '* starred item ...', chr(10)) ELSE '' END,
        |text,
        |CASE WHEN doc_id % 2 = 0 THEN concat(chr(10), 'and that of the have to be with more') ELSE '' END,
        |CASE WHEN doc_id % 4 = 0 THEN concat(chr(10), 'trailing thought …  ') ELSE '' END,
        |CASE WHEN doc_id % 7 = 0 THEN concat(chr(10), '## tags #a #b....') ELSE '' END) AS text""".stripMargin)

  /** Composite plant for the END-TO-END pipeline gate
    * (q_corpus_clean_full): unlike [[withPlantedPii]] (which replaces
    * the text) this APPENDS to it, so the corpus's planted near-dups
    * and quality profile survive into the later stages. Appends: a PII
    * line (email + phone + IPv4 — doc_id-derived, so redaction changes
    * every fingerprint), a Gopher-stopword line for even doc_ids (a
    * keep/drop mix on the stopword rule), and a `# `-bomb for
    * doc_id % 11 == 0 (fails the symbol AND alpha rules — those docs
    * must drop at the Gopher stage before any later stage sees them).
    * Integer-only arithmetic; the oracle rebuilds the identical string.
    */
  def withPlantedPipeline(documents: DataFrame): DataFrame =
    documents.selectExpr(
      "doc_id",
      """concat(text,
        |chr(10), 'contact u', CAST(doc_id AS STRING), '@ex', CAST(doc_id % 5 AS STRING),
        |'.org or +1-555-', CAST(1000 + doc_id % 9000 AS STRING),
        |' from 10.', CAST(doc_id % 256 AS STRING), '.0.', CAST(doc_id % 250 AS STRING),
        |CASE WHEN doc_id % 2 = 0 THEN concat(chr(10), 'and that of the have to be with more') ELSE '' END,
        |CASE WHEN doc_id % 11 = 0 THEN concat(chr(10), repeat('# ', 40)) ELSE '' END) AS text""".stripMargin)

  private def gopherRatio(num: Column, den: Column): Column =
    when(den === 0L, lit(0.0)).otherwise(num.cast("double") / den.cast("double"))

  /** The A1.1 rule inputs derived from a `gs` struct of the eight
    * [[graft.functions.GopherStats]] counts, as (name, column) in output
    * order. Single divisions of exact integers: bit-identical across
    * engines, no quantization needed.
    */
  private def gopherRatios(gs: Column): Seq[(String, Column)] = Seq(
    "n_words" -> gs.getField("n_words"),
    "mean_word_len" -> gopherRatio(gs.getField("n_word_chars"), gs.getField("n_words")),
    "alpha_ratio" -> gopherRatio(gs.getField("n_alpha_words"), gs.getField("n_words")),
    "symbol_ratio" -> gopherRatio(gs.getField("n_symbols"), gs.getField("n_words")),
    "bullet_ratio" -> gs.getField("n_bullet_lines").cast("double") / gs.getField("n_lines").cast("double"),
    "ellipsis_ratio" -> gs.getField("n_ellipsis_lines").cast("double") / gs.getField("n_lines").cast("double"),
    "n_stop_distinct" -> gs.getField("n_stop_distinct"))

  /** The A1.1 rule conjunction over the [[gopherRatios]] columns — the
    * one place the thresholds are applied.
    */
  private def gopherKeepFrom(r: Map[String, Column]): Column =
    r("n_words") >= GopherMinWords && r("n_words") <= GopherMaxWords &&
      r("mean_word_len") >= GopherMinMeanWordLen &&
      r("mean_word_len") <= GopherMaxMeanWordLen &&
      r("symbol_ratio") < GopherMaxSymbolRatio &&
      r("bullet_ratio") <= GopherMaxBulletRatio &&
      r("ellipsis_ratio") <= GopherMaxEllipsisRatio &&
      r("alpha_ratio") >= GopherMinAlphaRatio &&
      r("n_stop_distinct") >= GopherMinStopDistinct

  /** The Gopher gate over a `gs` struct of GopherStats counts. */
  private[graft] def gopherKeepOf(gs: Column): Column = gopherKeepFrom(gopherRatios(gs).toMap)

  /** The Gopher gate as a single boolean Column over raw text — the
    * form a stateless streaming stage (or an inline batch filter)
    * composes without reshaping the frame: one fused
    * [[graft.functions.GopherStats]] scan, the same rule arithmetic as
    * [[qualityFilterGopher]].
    */
  def gopherKeepExpr(text: Column): Column = gopherKeepOf(graft.functions.GopherStats.stats(text))

  /** The shared stats→(ratios, keep) projection over a frame holding
    * `doc_id` and a `gs` struct with the eight GopherStats counts —
    * both the fused kernel and the test tree's regex reference route
    * through it.
    */
  private[graft] def gopherProject(withGs: DataFrame): DataFrame = {
    val names = gopherRatios(col("gs")).map(_._1)
    withGs.select(col("doc_id") +: gopherRatios(col("gs")).map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep", gopherKeepFrom(names.map(n => n -> col(n)).toMap))
  }

  /** SURVEY #51: the Gopher heuristic-rules quality filter (word-count
    * bounds, mean word length, symbol-to-word ratio, bullet/ellipsis
    * line ratios, alphabetic-word ratio, distinct-stopword presence) —
    * the standard rules stage every corpus build runs alongside the
    * scored heuristics of [[qualityScore]]. ONE fused scan per row
    * ([[graft.functions.GopherStats]] — eight counts out), pure
    * projection inside the scan stage: no exchange, no UDF,
    * stream-compatible (stateless, applies per-row under any
    * chunking). At 100 TB the cost is the column read + one text scan,
    * perfectly data-parallel.
    */
  def qualityFilterGopher(documents: DataFrame): DataFrame =
    gopherProject(documents.select(
      col("doc_id"), graft.functions.GopherStats.stats(col("text")).as("gs")))
}
