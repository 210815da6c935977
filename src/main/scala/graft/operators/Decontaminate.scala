package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.EvalContainment

/** Eval-set decontamination (SURVEY §2 — LLM-pipeline block): find and
  * remove training documents that contain a benchmark/eval document,
  * the step every corpus build runs so the model isn't graded on its
  * own training data. The reference has no decontamination surface;
  * engine-native design.
  *
  * Overlap metric: Jaccard CONTAINMENT of the eval doc in the training
  * doc — |shingles(train) ∩ shingles(eval)| / |shingles(eval)| — the
  * standard decontamination measure (symmetric Jaccard under-fires
  * when a long training doc embeds a short eval doc verbatim).
  *
  * Scale shape (r14): the eval set is SMALL by construction
  * (benchmarks are thousands of docs, the corpus is billions), so its
  * shingle index is collected once and BROADCAST as a flat probe table
  * — and the whole overlap computation runs inside the corpus scan via
  * the [[EvalContainment]] generator: per document, dedup shingles,
  * probe the table, count hits per eval doc, emit only the flagged
  * rows. The query has NO join, NO aggregate, and NO exchange at all —
  * the r13 broadcast-join shape still shuffled every surviving
  * (train, eval) pair for its final groupBy (365 MB at sf10, a pair
  * mass that grows ~quadratically under proportional corpus/eval
  * scaling since common shingles connect most doc pairs); the pairs
  * never needed to leave their scan partition because every shingle of
  * a document originates in that document's one input row. A 100 TB
  * corpus passes through in one wave of map tasks whose only output is
  * the flagged audit rows. Driver memory note: the collected grouped
  * index is the same data the old shape's broadcast-hash relation
  * collected to the driver anyway (stored leaner here — each distinct
  * shingle string once, with int posting lists).
  */
object Decontaminate {

  /** Flagged (doc_id, eval_id, containment) pairs at or above the
    * containment floor — the audit artifact reviewed before dropping.
    *
    * EAGER-EXECUTION CONTRACT (unlike most DataFrame builders): calling
    * this runs two Spark jobs UP FRONT — the eval shingle groupBy and
    * the driver-side collect of the grouped index — and allocates one
    * SparkContext broadcast whose lifetime is the returned plan's (the
    * ContextCleaner reclaims it when the DataFrame is GC'd). The eval
    * SNAPSHOT is therefore taken at call time, not action time, and a
    * tight loop re-calling this (bench/spec harnesses) accumulates a
    * broadcast per call until GC. Acceptable by design: eval sets are
    * small by construction and this is the same data the pre-r14
    * broadcast-hash relation shipped — but callers should build once
    * and reuse the returned DataFrame, not rebuild per action (the
    * README's "Eager construction" operator class).
    *
    * Input contract (ADVICE r12): doc_ids must be UNIQUE within EACH
    * input — corpus-side set semantics come from the kernel's per-doc
    * dedup and eval-side from the `shingles_distinct` generator, so a
    * duplicated id would emit duplicate flagged rows (corpus) or
    * inflate n_eval via duplicate posting entries (eval). Both wired
    * producers pass the documents-table key, which is unique by
    * construction.
    */
  def flagged(
      corpus: DataFrame,
      evalDocs: DataFrame,
      minContainment: Double = 0.5): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0,1], got $minContainment")
    val spark = corpus.sparkSession
    // grouped eval inverted index: one row per DISTINCT eval shingle
    // with its posting list — the leanest driver-side representation
    // (n_eval per doc falls out of the posting lists, no second job).
    // not CpuSpread (r20): the eval set is small BY CONSTRUCTION
    // (benchmarks are thousands of docs), so a round-robin exchange
    // would be pure 32-task overhead here — the same
    // adjudication that reverted the corpus-side spread in r19 (the
    // interleaved A/B measured q_decontaminate 0.35 s unspread vs
    // 0.44 s spread); CpuSpread's byte floor cannot catch this case
    // because the eval frame is a FILTER over the full corpus table
    // and the file-index size does not see the filter.
    val grouped = Dedup.shingleIndex(evalDocs)
      .groupBy("shingle").agg(collect_list(col("doc_id").cast("long")).as("ids"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
    val bc = spark.sparkContext.broadcast(EvalContainment.build(grouped))
    // deliberately NOT CpuSpread-wrapped (r19): the containment kernel
    // is hash probes per token — light enough per input byte that the
    // round-robin exchange outweighs the single-task scan at bench
    // scale (interleaved A/B: median 0.35 s unspread vs 0.44 s
    // spread), and at corpus scale the scan is wide so the guard would
    // be a no-op anyway — the spread buys nothing at either end here,
    // unlike the shingle/MinHash kernels where it won its A/B
    corpus.select(
        col("doc_id"),
        EvalContainment.column(col("text"), bc, minContainment))
      .select("doc_id", "eval_id", "containment")
  }

  /** The corpus minus every document flagged against any eval doc. */
  def clean(
      corpus: DataFrame,
      evalDocs: DataFrame,
      minContainment: Double = 0.5): DataFrame =
    corpus.join(
      flagged(corpus, evalDocs, minContainment).select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
}
