package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus cleaning: the composition a 100 TB
  * LLM-data pipeline actually runs — quality gate → exact dedup →
  * near-dup (MinHash-LSH) dedup — expressed entirely from the operators
  * in this package so each stage keeps its documented shuffle discipline.
  *
  * Stage order matters at scale: the cheap per-row quality filter prunes
  * the corpus BEFORE any shuffle; exact dedup (one hash shuffle) removes
  * identical payloads before the costlier LSH candidate generation; the
  * near-dup stage drops the higher-doc_id member of each verified pair.
  */
object CorpusPipeline {

  /** The staged pipeline, built once: the exact-dedup stage's output is
    * materialized EAGERLY (localCheckpoint) because it has ≥2 consumers
    * — the near-dup stage plus the final/report reads — and those consumers
    * are independent stages of the SAME downstream job: a lazy
    * checkpoint only stores partitions as whichever consumer's tasks
    * compute them first, so concurrent consumers race the block store
    * and re-run the stage's regex/window lineage per racing branch.
    * Measured (r15): with lazy checkpoints the race held q_corpus_clean
    * at 23.8× wall for 10× data at sf10→sf100 (shuffle exactly linear,
    * 11.0×) and q_corpus_clean_full at ~81 s against ~10 s of
    * single-evaluation work at sf10 — the per-row regex stages are
    * precisely the most expensive thing to evaluate twice. r16
    * re-measured the decade at post-audit HEAD (SCALING_r16
    * `fourth_decade_sf10_to_sf100`): q_corpus_clean wall ratio is
    * 8.85× for 10× data with shuffle 11.02× — the race term is gone
    * from the committed artifact, not just from a comment. Eager
    * materialization runs the stage pipeline once, at build time; the
    * jobs it fronts are the same work the first action paid anyway.
    * This operator is in the README's "Eager construction" class —
    * build once and reuse, never construct in a loop.
    * Callers therefore get an EAGER-construction surface (Spark jobs
    * run inside cleanCorpus/stageReport before any action) — build
    * once and reuse, as with Decontaminate.flagged.
    *
    * Stage 1 has one consumer, stage 2's lineage, so it is not stored:
    * it runs inside stage 2's checkpoint job, fused with the
    * fingerprint window's map side. `nScored` reads its row count as
    * observed there (stageReport's quality-gate row).
    */
  private final case class Stages(nScored: () => Long, canonical: DataFrame, cleaned: DataFrame)

  /** Stage 1, shared by [[build]] and
    * `StreamingJobs.corpusIngestStream`: optional PII redaction, then
    * the optional Gopher-rules gate and the quality gate, then
    * `quality_score`. Returns `docs`' columns, `text` redacted when
    * `redactPii`, plus `quality_score`, for the rows that pass.
    *
    * Each kernel runs once per row. Redaction is a `Project`. The
    * [[graft.functions.TextStats]] and [[graft.functions.GopherStats]]
    * structs come out of [[EvalOnce]], and the gates and the score read
    * those generated columns. As a redact → filter → filter → project
    * chain, the pushed-down filters ran `pii_redact` 27 times,
    * `gopher_stats` 19 times and `text_stats` 8 times a row.
    */
  private[graft] def qualityGated(
      docs: DataFrame, minQuality: Double, redactPii: Boolean, gopherRules: Boolean): DataFrame = {
    val redacted =
      if (!redactPii) docs
      else docs.withColumn("text", graft.functions.PiiRedact.redacted(col("text")).getField("clean"))
    val text = col("text")
    val stats =
      TextOps.statsOf(text).as("_ts") +:
        (if (gopherRules) Seq(graft.functions.GopherStats.stats(text).as("_gs")) else Nil)
    val scored = EvalOnce.withColumns(redacted, stats: _*)
      .withColumn("quality_score", TextOps.qualityFrom(text, col("_ts")))
      .filter(col("quality_score") >= minQuality)
    (if (gopherRules) scored.filter(TextOps.gopherKeepOf(col("_gs"))) else scored).drop("_ts", "_gs")
  }

  private def build(
      documents: DataFrame, minQuality: Double, jaccardThreshold: Double,
      redactPii: Boolean = false, gopherRules: Boolean = false): Stages = {
    // CPU-spread guard (r19, shared [[CpuSpread]]): stage 1 fuses the
    // round's heaviest per-row kernels (redaction, Gopher stats,
    // quality, fingerprint) into the scan stage — on an unsplittable
    // single-row-group local table that whole chain ran on ONE task
    // (measured: a 1.0 s single-task stage dominating the steady-state
    // 2.0 s wall at sf0.1). One round-robin exchange of the input rows
    // buys full-core kernels; a many-file corpus at scale takes the
    // no-op branch (no exchange added). Row placement only — every
    // downstream stage keys by content.
    val spread = CpuSpread.spread(documents).select("doc_id", "text")
    // 0-1. redaction BEFORE the gates, so scoring and both dedup stages
    // see the text that would actually ship; both flags are off by
    // default (the standalone q_redact_pii and q_quality_filter_gopher
    // queries gate the kernels themselves)
    val gated = qualityGated(spread, minQuality, redactPii, gopherRules)
    val scoredObs = Observation()
    val scored = gated.observe(scoredObs, count(lit(1)).as("n"))
    val nScored = () =>
      Observed.metrics(scoredObs, "CorpusPipeline.stageReport", "n").get("n") match {
        case Some(n: Long) => n
        // no observation node ran: the optimizer pruned stage 1 as
        // provably empty (a limit(0) input) — count the unobserved twin
        case _ => gated.count()
      }
    // 2. exact dedup — keep the canonical (min doc_id) of each group.
    // The min-id window rides the single fingerprint shuffle; joining
    // exactDups back by doc_id would move the text a second time.
    val canonical = scored
      .withColumn("fp_md5", TextOps.fingerprintExpr(col("text")))
      .withColumn("canonical_id", min(col("doc_id")).over(Window.partitionBy("fp_md5")))
      .filter(col("doc_id") === col("canonical_id"))
      .drop("fp_md5", "canonical_id")
      .localCheckpoint(true)
    // 3. near-dup dedup — drop the higher doc_id of each verified pair
    val dropIds = Dedup.minhashLshPairs(canonical, jaccardThreshold)
      .select(col("doc_id_b").as("doc_id")).distinct()
    Stages(nScored, canonical, canonical.join(dropIds, Seq("doc_id"), "left_anti"))
  }

  /** Cleaned corpus: (doc_id, text, quality_score) for documents that
    * pass the quality floor, are their exact-dup group's canonical
    * representative, and are not the dropped side of a near-dup pair.
    *
    * Hot-bucket drop monitoring: run `Dedup.minhashLshPairs(canonical,
    * thr, dropObs = Some(obs))` DIRECTLY and act on a non-zero
    * `dropped_memberships` (the DedupSpec hot-bucket test shows the
    * pattern). An Observation threaded through this pipeline would sit
    * under the anti-join's broadcast stage, where Spark does not deliver
    * observed metrics — a hook that silently reads zero is worse than
    * none, so this surface deliberately doesn't offer one.
    */
  def cleanCorpus(
      documents: DataFrame,
      minQuality: Double = 0.5,
      jaccardThreshold: Double = 0.8,
      redactPii: Boolean = false,
      gopherRules: Boolean = false): DataFrame =
    build(documents, minQuality, jaccardThreshold, redactPii, gopherRules).cleaned

  /** Per-stage survivor counts — the pipeline's audit trail (silent
    * shrinkage is how corpus bugs ship). Shares the staged build with
    * [[cleanCorpus]], so the report always describes the pipeline that
    * actually runs. The quality-gate count is observed on stage 1 while
    * the build's checkpoint job runs it; the other three counts are a
    * UNION of global aggregates — one Spark job over the input and the
    * checkpointed stages when the consumer materializes it (global agg,
    * not groupBy(lit): an empty stage must still report a 0 row).
    */
  def stageReport(
      documents: DataFrame,
      minQuality: Double = 0.5,
      jaccardThreshold: Double = 0.8): DataFrame = {
    val st = build(documents, minQuality, jaccardThreshold)
    val nScored = st.nScored()
    def counted(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    Seq(
      counted("input", documents),
      documents.sparkSession.range(1).select(lit("quality_gate").as("stage"), lit(nScored).as("n_docs")),
      counted("exact_dedup", st.canonical),
      counted("near_dedup", st.cleaned))
      .reduce(_ unionByName _)
  }
}
