package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, octet_length}
import graft.core.{InventoryMode, PnlConfig}
import graft.operators._
import scala.collection.concurrent.TrieMap
import scala.concurrent.duration._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Drop observability for the capped-bucket dedup entries
    * (Dedup.scala: silent hot-bucket drops are capped LSH's one recall
    * failure mode). Each build of a wired entry registers a fresh
    * Observation here; after running an action, Verify/Bench read the
    * count back via [[reportedDrops]] and alert on stderr.
    */
  private val dropObservations = TrieMap.empty[String, Observation]

  private def newDropObs(qname: String): Observation = {
    val o = Observation()
    dropObservations.put(qname, o)
    o
  }

  /** dropped_memberships observed by `qname`'s most recent completed
    * action; None if the query wasn't run or publishes no drop metric.
    * Observation metrics arrive on the ASYNC listener bus, which can lag
    * a heavy job's end — so wait for them ([[Observed.metrics]]) instead
    * of sampling once (a silently-missed non-zero drop count is exactly
    * the alert this hook exists for). Bounded: None after 2 s for a
    * query whose action never ran.
    */
  def reportedDrops(qname: String): Option[Long] =
    dropObservations.get(qname).flatMap { o =>
      val metrics =
        try Observed.metrics(o, qname, "dropped_memberships", 2.seconds)
        catch { case _: IllegalStateException => Map.empty[String, Any] }
      metrics.get("dropped_memberships").collect { case n: java.lang.Number => n.longValue }
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The engine's reason to exist: full per-symbol Mtm_Result summary
    * (pnl, drawdown, sharpe) from the distributed state machine.
    */
  def entry(spark: SparkSession): DataFrame =
    MtmRunner.calculate(
      MtmEngine.barsFromEvents(Tables.events(spark, "/root/testdata/sf0.001"))).summary

  /** Engine configs exercised by the wired queries. */
  private val feesCfg = PnlConfig(feeRate = 0.001, laidBackTax = 0.0001)
  private val longShortCfg = PnlConfig(enableShortPosition = true)
  private val roiSlCfg = PnlConfig(
    roi = Map(0 -> 0.2, 60 -> 0.1, 1440 -> 0.02),
    stoploss = -0.15, enableShortPosition = true)
  private val maxPosCfg = PnlConfig(maxPositionPerSymbol = 3, enableShortPosition = true)
  private val maxPosWorstCfg = PnlConfig(
    maxPositionPerSymbol = 3, enableShortPosition = true,
    inventoryMode = InventoryMode.WorstPrice)
  private val maxPosLifoCfg = PnlConfig(
    maxPositionPerSymbol = 3, enableShortPosition = true,
    inventoryMode = InventoryMode.Lifo)

  private def bars(s: SparkSession, dir: String): DataFrame =
    MtmEngine.barsFromEvents(Tables.events(s, dir))

  // Continuous-quantile interpolation is 1-ULP engine-sensitive (the
  // lo + frac*(hi-lo) association differs between Spark's percentile and
  // DuckDB's quantile_cont — observed 2.8e-14 at sf1), so the wired
  // queries quantize to 1e-9 units with the same floor(x*1e9+0.5)
  // expression the oracle uses: the hash compare then tests the math,
  // not the engines' rounding association.
  private def quantizedPcts(df: DataFrame): DataFrame =
    df.select(df.columns.map { c =>
      if (c == "p50" || c == "p95" || c == "p99")
        org.apache.spark.sql.functions.expr(s"floor($c * 1e9 + 0.5) / 1e9").as(c)
      else col(c)
    }.toSeq: _*)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- core MTM engine (reference surface) --
    "q_signals_prep" -> ((s, dir) => SignalPrep.prepared(Tables.events(s, dir))),
    // strategy feature columns: one symbol exchange + one sort shared by
    // all four rolling indicators (20-bar trailing frame)
    "q_bar_indicators" -> ((s, dir) => SignalPrep.indicators(Tables.events(s, dir))),
    // order-dependent recurrence -> the engine's iterator shape, not a
    // window; oracle = recursive-CTE walk with the identical IEEE step
    "q_ema" -> ((s, dir) => SignalPrep.ema(Tables.events(s, dir), emaAlpha)),
    "q_trades_long_only" -> ((s, dir) => MtmEngine.blotterQuery(bars(s, dir), PnlConfig.default)),
    // the time-sliced engine (mega-symbol / straggler mitigation), wired
    // the production way: 4 slices on explicit natural boundaries
    // (calendar weeks of the 2024-01 event window — no quantile
    // pre-scan), each the stored engine pass started from the previous
    // slice's carries; its blotter is spec'd AND oracle'd bit-identical
    // to q_trades_long_only. At sf0.1 the 4 sequential shuffle rounds
    // cost a fixed ~0.2 s each, so the wall-clock ratio vs unsliced is
    // pure overhead floor; it converges toward 1× as per-slice data
    // dominates.
    "q_trades_sliced" -> ((s, dir) =>
      MtmEngine.runSliced(bars(s, dir), PnlConfig.default,
        cutsUs = Seq("2024-01-08", "2024-01-15", "2024-01-22")
          .map(d => java.time.LocalDate.parse(d).atStartOfDay(java.time.ZoneOffset.UTC)
            .toInstant.toEpochMilli * 1000L))._2),
    "q_trades_long_short" -> ((s, dir) => MtmEngine.blotterQuery(bars(s, dir), longShortCfg)),
    "q_mtm_timeline" -> ((s, dir) => MtmEngine.timelineQuery(bars(s, dir), PnlConfig.default)),
    // same engine over symbol-bucketed bars: the scan already satisfies
    // the engine's clustering by symbol, so the planner elides its one
    // exchange (BucketedTables.bars)
    "q_mtm_timeline_colocated" -> ((s, dir) => MtmEngine.timelineQuery(
      graft.sources.BucketedTables.bars(s, dir), PnlConfig.default)),
    "q_mtm_timeline_fees" -> ((s, dir) => MtmEngine.timelineQuery(bars(s, dir), feesCfg)),
    "q_max_drawdown" -> ((s, dir) => MtmEngine.maxDrawdown(bars(s, dir), PnlConfig.default)),
    "q_sharpe_ratio" -> ((s, dir) => MtmEngine.sharpeRatio(bars(s, dir), PnlConfig.default)),
    "q_pnl_summary" -> ((s, dir) => MtmEngine.pnlSummary(bars(s, dir), PnlConfig.default)),
    "q_pnl_summary_hyperopt" -> ((s, dir) =>
      MtmRunner.hyperOptAdapter(MtmEngine.pnlSummary(bars(s, dir), PnlConfig.default))),
    "q_trades_roi_stoploss" -> ((s, dir) => MtmEngine.blotterQuery(bars(s, dir), roiSlCfg)),
    "q_trades_max_position" -> ((s, dir) => MtmEngine.blotterQuery(bars(s, dir), maxPosCfg)),
    "q_trades_max_position_worst" -> ((s, dir) =>
      MtmEngine.blotterQuery(bars(s, dir), maxPosWorstCfg)),
    "q_trades_max_position_lifo" -> ((s, dir) =>
      MtmEngine.blotterQuery(bars(s, dir), maxPosLifoCfg)),
    // -- generic analytics --
    "q1_pricing_summary" -> ((s, dir) => Analytics.pricingSummary(Tables.lineitem(s, dir))),
    "q3_shipping_priority" -> ((s, dir) =>
      Analytics.shippingPriority(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q6_revenue_delta" -> ((s, dir) => Analytics.revenueDelta(Tables.lineitem(s, dir))),
    "q_top_customers_window" -> ((s, dir) =>
      Analytics.topCustomersByNation(
        Tables.customer(s, dir), Tables.orders(s, dir), Tables.nation(s, dir))),
    // fact⋈fact join twins: same query, same oracle — the _colocated
    // variant reads bucketed-by-orderkey table copies (BucketedTables),
    // so the sort-merge join needs no exchange on either side
    "q_join_shuffled" -> ((s, dir) =>
      Analytics.orderRevenueByPriority(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_join_colocated" -> ((s, dir) =>
      Analytics.orderRevenueByPriority(
        graft.sources.BucketedTables.orders(s, dir), graft.sources.BucketedTables.lineitem(s, dir))),
    "q_asof_join" -> ((s, dir) => Analytics.asofPurchaseClicks(Tables.events(s, dir))),
    "q_join_salted" -> ((s, dir) => Analytics.saltedEventRollup(Tables.events(s, dir))),
    "q_percentiles" -> ((s, dir) => quantizedPcts(Analytics.percentiles(Tables.events(s, dir)))),
    // the router's exact branch: at verify scale every group fits one
    // task, so percentilesAuto must reproduce q_percentiles' oracle
    // bit-for-bit (the probe may only pick the plan, never change
    // values); the approx-branch routing decision is spec'd in
    // PercentileSpec
    "q_percentiles_auto" ->
      ((s, dir) => quantizedPcts(Analytics.percentilesAuto(Tables.events(s, dir)))),
    "q_percentiles_approx" -> ((s, dir) => Analytics.percentilesApprox(Tables.events(s, dir))),
    "q_events_sessionize" -> ((s, dir) => Analytics.sessionize(Tables.events(s, dir))),
    "q_events_tumbling_agg" -> ((s, dir) => Analytics.tumblingAgg(Tables.events(s, dir))),
    "q_events_hopping_agg" -> ((s, dir) => Analytics.hoppingAgg(Tables.events(s, dir))),
    // -- text analysis (LLM pipeline) --
    "q_token_count" -> ((s, dir) => TextOps.tokenCount(Tables.documents(s, dir))),
    "q_quality_score" -> ((s, dir) => TextOps.qualityScore(Tables.documents(s, dir))),
    "q_lang_id" -> ((s, dir) => TextOps.langId(Tables.documents(s, dir))),
    "q_doc_fingerprint" -> ((s, dir) => TextOps.docFingerprint(Tables.documents(s, dir))),
    "q_doc_fingerprint_rolling" -> ((s, dir) => TextOps.rollingFingerprint(Tables.documents(s, dir))),
    // -- deduplication (LLM pipeline) --
    "q_dedup_exact" -> ((s, dir) => Dedup.exactDups(Tables.documents(s, dir))),
    "q_dedup_spans" -> ((s, dir) => Dedup.dedupSpans(Tables.documents(s, dir), spanK)),
    // production wiring is df-capped: a shingle in d docs contributes d²
    // join rows, so ultra-common shingles (which carry no near-dup
    // signal) are excluded from the pair join — the oracle mirrors the
    // cap with a count(*) OVER (PARTITION BY shingle) filter
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), maxShingleDf = Some(1000))),
    // capped bucketing with drop observability wired: hot-bucket drops
    // surface through reportedDrops (Verify/Bench print them to stderr)
    // pair chains -> canonical groups (A~B, B~C collapse even without A~C)
    "q_dedup_groups" -> ((s, dir) => ConnectedComponents.dupGroups(
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), maxShingleDf = Some(1000)))),
    "q_dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLshPairs(
      Tables.documents(s, dir), dropObs = Some(newDropObs("q_dedup_minhash_lsh")))),
    "q_dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(
      Tables.documents(s, dir), dropObs = Some(newDropObs("q_dedup_simhash")))),
    "q_dedup_embedding" -> ((s, dir) => Dedup.embeddingNearDupsExact(Tables.embeddings(s, dir))),
    // scale-path sibling: LSH-bucketed candidates + exact-cosine verify
    // (recall ~0.95 vs the exact operator, spec'd; drops observable)
    "q_dedup_embedding_lsh" -> ((s, dir) => Dedup.embeddingNearDupsLsh(
      Tables.embeddings(s, dir), dropObs = Some(newDropObs("q_dedup_embedding_lsh")))),
    // second scale path (r15): IVF coarse-quantizer sharding — linear
    // n·probes exchange (vs the LSH sibling's n·T(n)); recall measured
    // per decade (0.99 at this sf with the default probes), spec-gated
    "q_dedup_embedding_ivf" -> ((s, dir) => Dedup.embeddingNearDupsIvf(
      Tables.embeddings(s, dir), dropObs = Some(newDropObs("q_dedup_embedding_ivf")))),
    // -- similarity search (LLM pipeline) --
    "q_ann_bruteforce_topk" -> ((s, dir) => Similarity.annBruteForceTopK(Tables.embeddings(s, dir))),
    "q_ann_lsh_topk" -> ((s, dir) => Similarity.annLshTopK(Tables.embeddings(s, dir))),
    "q_ann_ivf_topk" -> ((s, dir) => Similarity.annIvfTopK(Tables.embeddings(s, dir))),
    // -- multimodal plumbing (LLM pipeline) --
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.metaExtract(Multimodal.withPayload(Tables.documents(s, dir)))),
    // batch_size is dropped from the wired entry: it reports the ACTUAL
    // batch each row rode in (partition-dependent), so it belongs to
    // MultimodalSpec's bounded-batching assertions, not a deterministic
    // oracle compare; the remaining columns hash-gate the decode stub's
    // full arithmetic via the rolling-hash replay oracle
    "q_multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeMeta(Multimodal.withPayload(Tables.documents(s, dir)))
        .drop("batch_size")),
    // real (non-stub) byte-histogram features; wired as the scalar
    // summary (integer-exact count recovery — see featureSummary's
    // scaladoc) because a raw array<float> column crashes tabular
    // harnesses, and because the recovered-count checksum lets DuckDB
    // hash-gate the feature VALUES from the payload bytes directly
    "q_multimodal_features" -> ((s, dir) =>
      Multimodal.featureSummary(Multimodal.withPayload(Tables.documents(s, dir)))),
    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.withPayload(Tables.documents(s, dir)))
        .select(col("doc_id"), col("frame_idx"), col("frame_ms"),
          octet_length(col("frame_payload")).cast("bigint").as("n_bytes"))),
    // -- composed corpus-cleaning pipeline --
    // hash-gated end-to-end: quality + exact-dedup stages replay in SQL
    // directly, and the near-dup stage's MinHash-LSH emits exactly the
    // Jaccard-≥-threshold pair set (see jaccardPairsSql's scaladoc)
    "q_corpus_clean" -> ((s, dir) =>
      CorpusPipeline.cleanCorpus(Tables.documents(s, dir)).drop("text")),
    // the pipeline's audit trail (silent shrinkage is how corpus bugs
    // ship): per-stage survivor counts, gated against the same staged
    // SQL replay as q_corpus_clean
    "q_corpus_stage_report" -> ((s, dir) =>
      CorpusPipeline.stageReport(Tables.documents(s, dir))),
    // the FULL composed pipeline behind every flag: PII redaction →
    // Gopher rules → quality gate → exact dedup → near-dup drop, over
    // a plant that exercises redaction (doc_id-derived PII changes
    // every fingerprint) and the Gopher gate (stopword/symbol
    // keep-drop mix) — each stage's oracle is the SAME shared SQL
    // fragment its standalone query is gated by
    "q_corpus_clean_full" -> ((s, dir) =>
      CorpusPipeline.cleanCorpus(
        TextOps.withPlantedPipeline(Tables.documents(s, dir)),
        redactPii = true, gopherRules = true).drop("text")),
    // -- sampling / packing / corpus stats (LLM pipeline) --
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.events(s, dir), sampleRates.toMap)),
    "q_sample_fixed_k" -> ((s, dir) =>
      Sampling.fixedSizePerStratum(Tables.events(s, dir), fixedSampleK)),
    "q_split_assign" -> ((s, dir) =>
      Sampling.splitAssign(Tables.events(s, dir), splitWeights)),
    "q_sample_mixture" -> ((s, dir) =>
      Sampling.mixtureResample(Tables.documents(s, dir), mixtureTarget.toMap)),
    "q_shuffle_shard" -> ((s, dir) =>
      Sampling.shuffleShard(Tables.documents(s, dir), shuffleShards)),
    // eval set = every 7th doc (guaranteed to intersect the corpus's
    // planted near-dups at both test sfs); flagged pairs are the audit
    // artifact, Decontaminate.clean is the anti-join composition
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontaminate.flagged(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        minContainment = 0.5)
    }),
    "q_ngram_topk" -> ((s, dir) => TextOps.ngramTopK(Tables.documents(s, dir), ngramK)),
    "q_repetition_ratio" -> ((s, dir) => TextOps.repetitionRatio(Tables.documents(s, dir))),
    "q_tfidf_top_terms" ->
      ((s, dir) => TextOps.tfidfTopTerms(Tables.documents(s, dir), tfidfTopK)),
    // PII redaction over deterministically planted emails/phones/IPs
    // (the corpus text carries none): one fused scan per row, gated
    // against DuckDB's literal three-pass regexp_replace
    "q_redact_pii" -> ((s, dir) =>
      TextOps.redactPii(TextOps.withPlantedPii(Tables.documents(s, dir)))),
    // Gopher-rules quality filter over deterministically planted line
    // structure (the corpus text is single-line): one fused scan per
    // row, gated against DuckDB's literal regex/split formulation
    "q_quality_filter_gopher" -> ((s, dir) =>
      TextOps.qualityFilterGopher(TextOps.withPlantedStructure(Tables.documents(s, dir)))),
    "q_pack_sequences" -> ((s, dir) =>
      Packing.packSequences(Tables.documents(s, dir), packBudget)),
    // kept under its name in the frozen query set: the same call as
    // q_dedup_groups, which picks its one-task or star-contraction path
    // from the observed pair count, so it answers the SAME oracle
    "q_dedup_groups_star" -> ((s, dir) => ConnectedComponents.dupGroups(
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), maxShingleDf = Some(1000))))
  )

  /** Stratum → keep-rate for the wired stratified sample; unlisted
    * strata (error, signup) are dropped — the oracle CASE and the Scala
    * wiring both derive from this one list.
    */
  private val sampleRates = Seq("purchase" -> 1.0, "click" -> 0.25, "view" -> 0.05)
  private val splitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  // mixture target over documents.source: src0 is the limiting source
  // (uniform counts), so it keeps everything and the others downsample
  private val mixtureTarget = Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
  private val shuffleShards = 16
  private val spanK = 8
  private val tfidfTopK = 5
  private val fixedSampleK = 100
  private val ngramK = 50
  private val packBudget = 2048
  private val emaAlpha = 0.1

  // ------------------------------------------------------------------
  // DuckDB oracle SQL. Shared CTE fragments keep the engine oracles in
  // lock-step: `SIG_TRADES` is the closed-form blotter for max_position=1
  // long-only configs (run-length compression of the signal stream —
  // consecutive duplicate signals are no-ops, so trades are exactly the
  // B→S pairs of the compressed alternating sequence). `BARS_PM` is the
  // canonical bar view with per-symbol price movement.
  // Every double expression mirrors the Scala shape token-for-token so
  // results are bit-identical (the driver compares check_exact).
  // ------------------------------------------------------------------

  /** Shared DuckDB fragment: the synthetic media payload (magic header
    * by doc_id mod 3 + utf-8 text), mirroring Multimodal.withPayload.
    */
  private val MM_PAYLOAD =
    """p AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN '\x89\x50\x4E\x47'::BLOB
      |          WHEN doc_id % 3 = 1 THEN '\xFF\xD8\xFF\xE0'::BLOB
      |          ELSE '\x52\x49\x46\x46'::BLOB END) || encode(COALESCE(text, '')) AS payload
      |  FROM documents)""".stripMargin

  /** Shared DuckDB fragment replaying graft's native rolling hash
    * (h ← h·31 + byte, wrapping 64-bit) over a `p(doc_id, payload)`
    * CTE: per-position byte values via the hex string (DuckDB 1.0 has
    * no blob subscript), a HUGEINT fold mod 2^64, mapped back to signed
    * BIGINT exactly as Java long arithmetic wraps. Yields
    * `s(doc_id, n, hh)`. Integer-only — the stub arithmetic downstream
    * (Java truncating `/` = DuckDB `//`, same-sign `%`) mirrors
    * bit-exactly.
    */
  private val ROLLING_HASH_OF_PAYLOAD =
    """h AS (SELECT doc_id, hex(payload) AS ph, octet_length(payload) AS n FROM p),
      |b AS (
      |  SELECT doc_id, n,
      |    [ ((strpos('0123456789ABCDEF', ph[2*i+1]) - 1) * 16
      |      + strpos('0123456789ABCDEF', ph[2*i+2]) - 1)::HUGEINT FOR i IN range(n) ] AS bytes
      |  FROM h),
      |r AS (
      |  SELECT doc_id, n,
      |    list_reduce([0::HUGEINT] || bytes,
      |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS uh
      |  FROM b),
      |s AS (
      |  SELECT doc_id, n,
      |    CAST(CASE WHEN uh >= 9223372036854775808::HUGEINT
      |              THEN uh - 18446744073709551616::HUGEINT ELSE uh END AS BIGINT) AS hh
      |  FROM r)""".stripMargin

  /** Shared DuckDB fragment: word-3-gram Jaccard ≥ 0.8 pairs over a
    * relation `docs(doc_id, text, ...)`, optionally df-capped —
    * mirrors Dedup.ngramJaccardPairs. Yields `jpairs(doc_id_a,
    * doc_id_b, jaccard)`.
    *
    * This is ALSO the oracle for the MinHash-LSH path
    * (Dedup.minhashLshPairs): every LSH candidate is verified with
    * exact Jaccard before emission (precision 1), and with 128
    * permutations in 32 bands a true pair at the 0.8 threshold misses
    * all 32 band buckets with probability (1−0.8⁴)³² < 5·10⁻⁸ — over
    * the few hundred true pairs of any tested sf the expected miss
    * count is ~10⁻⁵, and the seeded permutations make the outcome
    * deterministic (re-verified at sf0.01 and sf0.1, not left to
    * chance per-run). Jaccard over the hashed shingle space equals the
    * string-space value barring 64-bit collisions (≈n²/2⁶⁴ — immaterial
    * below ~10⁸ distinct shingles).
    */
  private def jaccardPairsSql(docs: String, dfCap: Option[Int]): String = {
    val filtered = dfCap match {
      case Some(cap) =>
        s"""jj AS (SELECT doc_id, n, shingle
           |      FROM (SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM jinv)
           |      WHERE df <= $cap),""".stripMargin
      case None => "jj AS (SELECT doc_id, n, shingle FROM jinv),"
    }
    s"""jsh AS (
       |  SELECT doc_id, list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2] FOR i IN range(1, len(s)-1)]) AS gs
       |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS s
       |        FROM $docs)),
       |jinv AS (SELECT doc_id, len(gs) AS n, unnest(gs) AS shingle FROM jsh),
       |$filtered
       |jp AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.n AS na, b.n AS nb, count(*) AS c
       |      FROM jj a JOIN jj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |      GROUP BY 1,2,3,4),
       |jpairs AS (
       |  SELECT doc_id_a, doc_id_b, CAST(c AS DOUBLE)/CAST(na+nb-c AS DOUBLE) AS jaccard
       |  FROM jp WHERE CAST(c AS DOUBLE)/CAST(na+nb-c AS DOUBLE) >= 0.8)""".stripMargin
  }

  /** Shared DuckDB fragment: CorpusPipeline's staged replay — quality
    * gate (q_quality_score's exact expression shapes) at the 0.5 floor
    * → md5 exact-dedup canonicals. Yields `qf` (quality survivors) and
    * `canon(doc_id, text, quality_score)`; callers append
    * `jaccardPairsSql("canon", ...)` for the near-dup stage. ONE
    * definition for both q_corpus_clean and q_corpus_stage_report, so
    * the two gates can never drift apart.
    */
  private def corpusStagesSql(src: String): String =
    s"""qm AS (
      |  SELECT doc_id, text, length(text) AS n_chars,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
      |    len(regexp_extract_all(text, '\\S+')) AS n_ws,
      |    len(regexp_extract_all(lower(text), '\\b(the|a|and|of|to|is|in|that|it|on)\\b')) AS n_stop
      |  FROM $src),
      |qr AS (
      |  SELECT doc_id, text,
      |    CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS punct_ratio,
      |    CASE WHEN n_ws = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / CAST(n_ws AS DOUBLE) END AS stop_ratio,
      |    LEAST(1.0, CAST(n_chars AS DOUBLE) / 500.0) AS len_score
      |  FROM qm),
      |qs AS (
      |  SELECT doc_id, text,
      |    0.4 * len_score + 0.3 * (1.0 - punct_ratio) + 0.3 * LEAST(1.0, stop_ratio * 5.0) AS quality_score
      |  FROM qr),
      |qf AS (SELECT * FROM qs WHERE quality_score >= 0.5),
      |fp AS (SELECT doc_id, text, quality_score,
      |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5 FROM qf),
      |canon AS (
      |  SELECT doc_id, text, quality_score FROM
      |    (SELECT *, min(doc_id) OVER (PARTITION BY fp_md5) AS cid FROM fp)
      |  WHERE doc_id = cid)""".stripMargin

  /** The staged replay over the raw documents table — the shared base
    * for q_corpus_clean / q_corpus_stage_report (one definition, the
    * gates cannot drift); the composed q_corpus_clean_full runs the
    * same stages over its redacted + Gopher-gated source CTE.
    */
  private val CORPUS_STAGES = corpusStagesSql("documents")

  /** Shared DuckDB fragment: the Gopher A1.1 stats + rule conjunction
    * over a relation `src(doc_id, text)` — the literal regex/split
    * formulation the fused GopherStats kernel is spec-pinned to
    * (GopherStatsSpec). Yields `gr` (per-rule ratio columns) and
    * `gk(doc_id, keep)`. ONE definition for q_quality_filter_gopher
    * and the composed pipeline gate, so the two cannot drift.
    */
  private def gopherStatsSql(src: String): String =
    s"""gg AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
      |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_word_chars,
      |    CAST(len(list_filter(regexp_extract_all(text, '\\S+'), w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
      |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |    CAST(len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '^[ \\t]*[-*•]'))) AS BIGINT) AS n_bullet_lines,
      |    CAST(len(list_filter(string_split(text, chr(10)), l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$$'))) AS BIGINT) AS n_ellipsis_lines,
      |    CAST(length(text) - length(replace(text, '#', ''))
      |      + length(text) - length(replace(text, '…', ''))
      |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS n_symbols,
      |    CAST((CASE WHEN regexp_matches(lower(text), '\\b(the)\\b') THEN 1 ELSE 0 END)
      |      + (CASE WHEN regexp_matches(lower(text), '\\b(be)\\b') THEN 1 ELSE 0 END)
      |      + (CASE WHEN regexp_matches(lower(text), '\\b(to)\\b') THEN 1 ELSE 0 END)
      |      + (CASE WHEN regexp_matches(lower(text), '\\b(of)\\b') THEN 1 ELSE 0 END)
      |      + (CASE WHEN regexp_matches(lower(text), '\\b(and)\\b') THEN 1 ELSE 0 END)
      |      + (CASE WHEN regexp_matches(lower(text), '\\b(that)\\b') THEN 1 ELSE 0 END)
      |      + (CASE WHEN regexp_matches(lower(text), '\\b(have)\\b') THEN 1 ELSE 0 END)
      |      + (CASE WHEN regexp_matches(lower(text), '\\b(with)\\b') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_distinct
      |  FROM $src),
      |gr AS (
      |  SELECT doc_id, n_words,
      |    CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_word_chars AS DOUBLE) / CAST(n_words AS DOUBLE) END AS mean_word_len,
      |    CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_alpha_words AS DOUBLE) / CAST(n_words AS DOUBLE) END AS alpha_ratio,
      |    CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE) END AS symbol_ratio,
      |    CAST(n_bullet_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_ratio,
      |    CAST(n_ellipsis_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) AS ellipsis_ratio,
      |    n_stop_distinct
      |  FROM gg),
      |gk AS (
      |  SELECT doc_id, n_words, mean_word_len, alpha_ratio, symbol_ratio,
      |    bullet_ratio, ellipsis_ratio, n_stop_distinct,
      |    (n_words >= 50 AND n_words <= 100000
      |     AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |     AND symbol_ratio < 0.1
      |     AND bullet_ratio <= 0.9
      |     AND ellipsis_ratio <= 0.3
      |     AND alpha_ratio >= 0.8
      |     AND n_stop_distinct >= 2) AS keep
      |  FROM gr)""".stripMargin

  /** Shared DuckDB fragment replaying Sampling.sampleKey over a CTE
    * `src` carrying `sid` (an id's decimal string): rolling hash of the
    * ASCII bytes (HUGEINT fold mod 2^64), Fibonacci multiply — the
    * 128-bit HUGEINT overflow of uh·C is avoided by a 32/32 split
    * multiply — then the top 24 bits. Yields `k(..., skey)`.
    */
  private val SAMPLE_KEY =
    """kb AS (SELECT *, [ascii(sid[i])::HUGEINT FOR i IN range(1, len(sid)+1)] AS kbytes FROM src),
      |kr AS (SELECT *, list_reduce([0::HUGEINT] || kbytes,
      |         (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS kuh FROM kb),
      |k AS (SELECT *,
      |  (((kuh % 4294967296::HUGEINT) * 11400714819323198485::HUGEINT
      |    + (((kuh // 4294967296::HUGEINT) * 11400714819323198485::HUGEINT) % 4294967296::HUGEINT)
      |      * 4294967296::HUGEINT)
      |   % 18446744073709551616::HUGEINT) // 1099511627776::HUGEINT AS skey
      |  FROM kr)""".stripMargin

  private val BARS_PM =
    """bars AS (
      |  SELECT user_id AS symbol, CAST(ts AS TIMESTAMP) AS ts, event_id, value AS close,
      |    CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS buy,
      |    CASE WHEN event_type='click' THEN 1 ELSE 0 END AS sell,
      |    value - lag(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pm
      |  FROM events WHERE value > 0)""".stripMargin

  private val SIG_TRADES =
    """sig AS (
      |  SELECT user_id AS symbol, CAST(ts AS TIMESTAMP) AS ts, event_id, value AS close,
      |    CASE WHEN event_type='purchase' THEN 'B' ELSE 'S' END AS action
      |  FROM events WHERE event_type IN ('purchase','click') AND value > 0),
      |runs AS (
      |  SELECT symbol, ts, event_id, close, action,
      |    row_number() OVER (PARTITION BY symbol ORDER BY ts, event_id) AS rn
      |  FROM (SELECT *, lag(action) OVER (PARTITION BY symbol ORDER BY ts, event_id) AS pa FROM sig)
      |  WHERE pa IS NULL OR action <> pa),
      |fb AS (SELECT symbol, min(rn) AS rn0 FROM runs WHERE action='B' GROUP BY symbol),
      |seq AS (SELECT runs.* FROM runs JOIN fb ON runs.symbol=fb.symbol AND runs.rn >= fb.rn0),
      |trades AS (
      |  SELECT symbol, ts AS entry_ts, event_id AS entry_eid, close AS entry_price,
      |    lead(ts) OVER w AS exit_ts, lead(event_id) OVER w AS exit_eid,
      |    lead(close) OVER w AS exit_price
      |  FROM seq WINDOW w AS (PARTITION BY symbol ORDER BY rn)
      |  QUALIFY action='B')""".stripMargin

  /** Default-config blotter oracle — shared verbatim by
    * `q_trades_long_only` and `q_trades_sliced` (the sliced engine is
    * spec'd bit-identical to the unsliced one, so both answer to it).
    */
  private def longOnlyBlotterSql: String =
    s"""WITH $SIG_TRADES
      |SELECT symbol, 'LONG' AS direction, entry_ts, entry_price, exit_ts, exit_price,
      |  CASE WHEN exit_ts IS NOT NULL
      |       THEN (exit_price - entry_price - 0.0*entry_price - 0.0*entry_price)/entry_price END AS pnl_norm,
      |  pnl_norm * entry_price AS pnl,
      |  CASE WHEN exit_ts IS NOT NULL THEN 'SIGNAL' END AS close_reason,
      |  exit_ts IS NOT NULL AS is_closed
      |FROM trades""".stripMargin

  /** Per-bar mtm accrual for max_position=1: at most one trade is active
    * per bar, active = entered strictly before the bar's timestamp and
    * not yet removed (removal happens after accrual on the exit bar, so
    * the exit bar itself still accrues — ties broken by event_id).
    */
  private val ACC_DEFAULT =
    """acc AS (
      |  SELECT b.symbol, b.ts, b.event_id, b.close, b.buy, b.sell,
      |    CASE WHEN t.entry_price IS NOT NULL AND b.pm IS NOT NULL
      |         THEN b.pm / t.entry_price ELSE 0.0 END AS mtm_ratio
      |  FROM bars b LEFT JOIN trades t
      |    ON t.symbol = b.symbol AND t.entry_ts < b.ts
      |    AND (t.exit_ts IS NULL OR b.ts < t.exit_ts
      |         OR (b.ts = t.exit_ts AND b.event_id <= t.exit_eid)))""".stripMargin

  /** Three-slot recursive-CTE walk for the max_position=3 long/short
    * configs: the state is one signed FIFO-ordered queue (both sides can
    * never be simultaneously non-empty, because a signal always closes
    * the opposite side first — trade_reward.py:277-311 gate-first
    * order), so st ('L'/'S'/'F') + cnt + three (ts, price) slots walk
    * the whole config. A close removes slot `j` and compacts left;
    * opens/appends fill the first free slot; a signal on a full
    * same-direction book is a no-op (the max-position gate). Still-open
    * slots at the end of the walk emit as OPEN rows.
    *
    * @param jSelector SQL expression picking the slot a SIGNAL close
    *        removes (the inventory mode): "1" = FIFO; see the wired
    *        WORST_PRICE / LIFO selectors. Evaluated only when a close
    *        actually happens (w.st is 'L' or 'S' and slot 1 non-null).
    */
  private def maxPosWalk(jSelector: String): String =
    s"""WITH RECURSIVE b AS (
      |  SELECT user_id AS symbol, CAST(ts AS TIMESTAMP) AS ts, event_id, value AS close,
      |    CASE WHEN event_type='purchase' THEN 'B' ELSE 'S' END AS action,
      |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events WHERE event_type IN ('purchase','click') AND value > 0),
      |walk AS (
      |  SELECT symbol, 0 AS rn, 'F' AS st, 0 AS cnt,
      |    CAST(NULL AS TIMESTAMP) AS e1ts, CAST(NULL AS DOUBLE) AS e1px,
      |    CAST(NULL AS TIMESTAMP) AS e2ts, CAST(NULL AS DOUBLE) AS e2px,
      |    CAST(NULL AS TIMESTAMP) AS e3ts, CAST(NULL AS DOUBLE) AS e3px,
      |    CAST(NULL AS VARCHAR) AS c_dir, CAST(NULL AS TIMESTAMP) AS c_ets,
      |    CAST(NULL AS DOUBLE) AS c_epx, CAST(NULL AS TIMESTAMP) AS c_xts,
      |    CAST(NULL AS DOUBLE) AS c_xpx
      |  FROM (SELECT DISTINCT user_id AS symbol FROM events
      |        WHERE event_type IN ('purchase','click') AND value > 0)
      |  UNION ALL
      |  SELECT w.symbol, w.rn + 1,
      |    CASE WHEN t.closes THEN (CASE WHEN w.cnt = 1 THEN 'F' ELSE w.st END)
      |         WHEN t.opens THEN (CASE b.action WHEN 'B' THEN 'L' ELSE 'S' END)
      |         ELSE w.st END,
      |    CASE WHEN t.closes THEN w.cnt - 1 WHEN t.opens THEN 1
      |         WHEN t.appends THEN w.cnt + 1 ELSE w.cnt END,
      |    CASE WHEN t.closes THEN (CASE WHEN u.j = 1 THEN w.e2ts ELSE w.e1ts END)
      |         WHEN t.opens THEN b.ts ELSE w.e1ts END,
      |    CASE WHEN t.closes THEN (CASE WHEN u.j = 1 THEN w.e2px ELSE w.e1px END)
      |         WHEN t.opens THEN b.close ELSE w.e1px END,
      |    CASE WHEN t.closes THEN (CASE WHEN u.j <= 2 THEN w.e3ts ELSE w.e2ts END)
      |         WHEN t.opens THEN CAST(NULL AS TIMESTAMP)
      |         WHEN t.appends AND w.cnt = 1 THEN b.ts ELSE w.e2ts END,
      |    CASE WHEN t.closes THEN (CASE WHEN u.j <= 2 THEN w.e3px ELSE w.e2px END)
      |         WHEN t.opens THEN CAST(NULL AS DOUBLE)
      |         WHEN t.appends AND w.cnt = 1 THEN b.close ELSE w.e2px END,
      |    CASE WHEN t.closes OR t.opens THEN CAST(NULL AS TIMESTAMP)
      |         WHEN t.appends AND w.cnt = 2 THEN b.ts ELSE w.e3ts END,
      |    CASE WHEN t.closes OR t.opens THEN CAST(NULL AS DOUBLE)
      |         WHEN t.appends AND w.cnt = 2 THEN b.close ELSE w.e3px END,
      |    CASE WHEN t.closes THEN (CASE w.st WHEN 'L' THEN 'LONG' ELSE 'SHORT' END) END,
      |    CASE WHEN t.closes THEN (CASE u.j WHEN 1 THEN w.e1ts WHEN 2 THEN w.e2ts ELSE w.e3ts END) END,
      |    CASE WHEN t.closes THEN (CASE u.j WHEN 1 THEN w.e1px WHEN 2 THEN w.e2px ELSE w.e3px END) END,
      |    CASE WHEN t.closes THEN b.ts END,
      |    CASE WHEN t.closes THEN b.close END
      |  FROM walk w JOIN b ON b.symbol = w.symbol AND b.rn = w.rn + 1,
      |  LATERAL (
      |    SELECT
      |      (b.action='B' AND w.st='S') OR (b.action='S' AND w.st='L') AS closes,
      |      w.st = 'F' AS opens,
      |      ((b.action='B' AND w.st='L') OR (b.action='S' AND w.st='S')) AND w.cnt < 3 AS appends
      |  ) t,
      |  LATERAL (SELECT ($jSelector) AS j) u),
      |closed AS (
      |  SELECT symbol, c_dir AS direction, c_ets AS entry_ts, c_epx AS entry_price,
      |    c_xts AS exit_ts, c_xpx AS exit_price FROM walk WHERE c_dir IS NOT NULL),
      |fin AS (
      |  SELECT w.* FROM walk w
      |  JOIN (SELECT symbol, max(rn) AS mr FROM walk GROUP BY symbol) m
      |    ON w.symbol = m.symbol AND w.rn = m.mr
      |  WHERE w.st <> 'F'),
      |open_rows AS (
      |  SELECT symbol, CASE st WHEN 'L' THEN 'LONG' ELSE 'SHORT' END AS direction,
      |    e1ts AS entry_ts, e1px AS entry_price FROM fin WHERE e1ts IS NOT NULL
      |  UNION ALL
      |  SELECT symbol, CASE st WHEN 'L' THEN 'LONG' ELSE 'SHORT' END, e2ts, e2px
      |  FROM fin WHERE e2ts IS NOT NULL
      |  UNION ALL
      |  SELECT symbol, CASE st WHEN 'L' THEN 'LONG' ELSE 'SHORT' END, e3ts, e3px
      |  FROM fin WHERE e3ts IS NOT NULL),
      |allt AS (
      |  SELECT symbol, direction, entry_ts, entry_price, exit_ts, exit_price FROM closed
      |  UNION ALL
      |  SELECT symbol, direction, entry_ts, entry_price,
      |    CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE) FROM open_rows)
      |SELECT symbol, direction, entry_ts, entry_price, exit_ts, exit_price,
      |  CASE WHEN exit_ts IS NOT NULL THEN
      |    (CASE WHEN direction = 'LONG' THEN exit_price - entry_price ELSE entry_price - exit_price END
      |     - 0.0*entry_price - 0.0*entry_price) / entry_price END AS pnl_norm,
      |  pnl_norm * entry_price AS pnl,
      |  CASE WHEN exit_ts IS NOT NULL THEN 'SIGNAL' END AS close_reason,
      |  exit_ts IS NOT NULL AS is_closed
      |FROM allt""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  /** q_mtm_timeline_colocated changes the LAYOUT, not the semantics —
    * it answers against q_mtm_timeline's oracle verbatim.
    * q_dedup_groups' oracle composes the jaccard-pair oracle with a
    * recursive-CTE transitive closure + min-reachable-id label, so both
    * engines derive groups from the SAME pair set.
    */
  def oracleSql: Map[String, String] =
    oracleSqlBase +
      ("q_mtm_timeline_colocated" -> oracleSqlBase("q_mtm_timeline")) +
      ("q_dedup_groups" -> dupGroupsOracle) +
      // component labels are canonical (min reachable id), whichever
      // path dupGroups takes
      ("q_dedup_groups_star" -> dupGroupsOracle)

  private lazy val dupGroupsOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |${oracleSqlBase("q_dedup_ngram_jaccard")}
       |),
       |edges AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
       |          UNION SELECT doc_id_b, doc_id_a FROM pairs),
       |reach(v, u) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
       |SELECT v AS doc_id, min(u) AS group_id FROM reach GROUP BY v""".stripMargin

  private val oracleSqlBase: Map[String, String] = Map(
    "q_signals_prep" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value, event_type FROM events)
        |SELECT user_id AS symbol, ts, event_id, value AS close,
        |  CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS buy,
        |  CASE WHEN event_type='click' THEN 1 ELSE 0 END AS sell,
        |  value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS price_movement
        |FROM e""".stripMargin,
    // SMA/momentum run over floor(close·1e6 + 0.5) unit decimals on BOTH
    // sides — a raw double AVG would diverge in summation order
    "q_bar_indicators" ->
      """WITH b AS (
        |  SELECT user_id AS symbol, CAST(ts AS TIMESTAMP) AS ts, event_id, value AS close,
        |    CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS buy,
        |    CASE WHEN event_type='click' THEN 1 ELSE 0 END AS sell
        |  FROM events),
        |u AS (SELECT *, CAST(floor(close * 1e6 + 0.5) AS DECIMAL(30,0)) AS cu FROM b)
        |SELECT symbol, ts, event_id, close, buy, sell,
        |  close - lag(close) OVER w AS price_movement,
        |  (CAST(SUM(cu) OVER f AS DOUBLE) / 1e6) / CAST(COUNT(*) OVER f AS DOUBLE) AS sma,
        |  MIN(close) OVER f AS roll_min,
        |  MAX(close) OVER f AS roll_max,
        |  CAST(cu - lag(cu, 19) OVER w AS DOUBLE) / 1e6 AS momentum,
        |  COUNT(*) OVER f AS n_in_frame
        |FROM u
        |WINDOW w AS (PARTITION BY symbol ORDER BY ts, event_id),
        |       f AS (PARTITION BY symbol ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin,
    // the step expression `α·close + (1.0 − α)·ema` is written the same
    // way on both sides — (1.0 − α) is COMPUTED, not a pre-folded
    // literal, so the doubles agree exactly
    "q_ema" ->
      s"""WITH RECURSIVE b AS (
        |  SELECT user_id AS symbol, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
        |    value AS close,
        |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT symbol, rn, ts_us, event_id, close, close AS ema FROM b WHERE rn = 1
        |  UNION ALL
        |  SELECT b.symbol, b.rn, b.ts_us, b.event_id, b.close,
        |    $emaAlpha * b.close + (1.0 - $emaAlpha) * w.ema
        |  FROM walk w JOIN b ON b.symbol = w.symbol AND b.rn = w.rn + 1)
        |SELECT symbol, ts_us, event_id, close, ema FROM walk""".stripMargin,
    "q_trades_long_only" -> longOnlyBlotterSql,
    // the sliced engine is spec'd bit-identical to the unsliced blotter,
    // so it answers to the SAME oracle — a real hash gate, not rows-only
    "q_trades_sliced" -> longOnlyBlotterSql,
    // Three-state (long/flat/short) machine walked row-by-row with a
    // recursive CTE over the per-symbol signal sequence. State before row
    // rn determines the transition; closes are emitted inline. Engine
    // semantics (trade_reward.py:257-378): BUY closes an outstanding
    // short else opens a long (blocked at max position); SELL mirrored.
    "q_trades_long_short" ->
      """WITH RECURSIVE b AS (
        |  SELECT user_id AS symbol, CAST(ts AS TIMESTAMP) AS ts, event_id, value AS close,
        |    CASE WHEN event_type='purchase' THEN 'B' ELSE 'S' END AS action,
        |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events WHERE event_type IN ('purchase','click') AND value > 0),
        |walk AS (
        |  SELECT symbol, 0 AS rn, 'F' AS st,
        |    CAST(NULL AS TIMESTAMP) AS ets, CAST(NULL AS DOUBLE) AS epx,
        |    CAST(NULL AS VARCHAR) AS c_dir, CAST(NULL AS TIMESTAMP) AS c_ets,
        |    CAST(NULL AS DOUBLE) AS c_epx, CAST(NULL AS TIMESTAMP) AS c_xts,
        |    CAST(NULL AS DOUBLE) AS c_xpx
        |  FROM (SELECT DISTINCT user_id AS symbol FROM events
        |        WHERE event_type IN ('purchase','click') AND value > 0)
        |  UNION ALL
        |  SELECT w.symbol, w.rn + 1,
        |    CASE WHEN b.action = 'B' THEN (CASE w.st WHEN 'S' THEN 'F' ELSE 'L' END)
        |         ELSE (CASE w.st WHEN 'L' THEN 'F' ELSE 'S' END) END,
        |    CASE WHEN w.st = 'F' THEN b.ts
        |         WHEN (b.action='B' AND w.st='L') OR (b.action='S' AND w.st='S') THEN w.ets
        |         ELSE NULL END,
        |    CASE WHEN w.st = 'F' THEN b.close
        |         WHEN (b.action='B' AND w.st='L') OR (b.action='S' AND w.st='S') THEN w.epx
        |         ELSE NULL END,
        |    CASE WHEN b.action='B' AND w.st='S' THEN 'SHORT'
        |         WHEN b.action='S' AND w.st='L' THEN 'LONG' END,
        |    CASE WHEN (b.action='B' AND w.st='S') OR (b.action='S' AND w.st='L') THEN w.ets END,
        |    CASE WHEN (b.action='B' AND w.st='S') OR (b.action='S' AND w.st='L') THEN w.epx END,
        |    CASE WHEN (b.action='B' AND w.st='S') OR (b.action='S' AND w.st='L') THEN b.ts END,
        |    CASE WHEN (b.action='B' AND w.st='S') OR (b.action='S' AND w.st='L') THEN b.close END
        |  FROM walk w JOIN b ON b.symbol = w.symbol AND b.rn = w.rn + 1),
        |closed AS (
        |  SELECT symbol, c_dir AS direction, c_ets AS entry_ts, c_epx AS entry_price,
        |    c_xts AS exit_ts, c_xpx AS exit_price FROM walk WHERE c_dir IS NOT NULL),
        |final_state AS (
        |  SELECT w.symbol, CASE w.st WHEN 'L' THEN 'LONG' ELSE 'SHORT' END AS direction,
        |    w.ets AS entry_ts, w.epx AS entry_price,
        |    CAST(NULL AS TIMESTAMP) AS exit_ts, CAST(NULL AS DOUBLE) AS exit_price
        |  FROM walk w JOIN (SELECT symbol, max(rn) AS mr FROM walk GROUP BY symbol) m
        |    ON w.symbol = m.symbol AND w.rn = m.mr
        |  WHERE w.st <> 'F'),
        |allt AS (SELECT * FROM closed UNION ALL SELECT * FROM final_state)
        |SELECT symbol, direction, entry_ts, entry_price, exit_ts, exit_price,
        |  CASE WHEN exit_ts IS NOT NULL THEN
        |    (CASE WHEN direction = 'LONG' THEN exit_price - entry_price ELSE entry_price - exit_price END
        |     - 0.0*entry_price - 0.0*entry_price) / entry_price END AS pnl_norm,
        |  pnl_norm * entry_price AS pnl,
        |  CASE WHEN exit_ts IS NOT NULL THEN 'SIGNAL' END AS close_reason,
        |  exit_ts IS NOT NULL AS is_closed
        |FROM allt""".stripMargin,
    // Same recursive walk, extended with per-bar ROI/stop-loss closes
    // (checked BEFORE the bar's signal, reference trade_reward.py:111-141):
    // max_position=1 keeps the state single-slot, so the ladder
    // {0m:0.2, 60m:0.1, 1440m:0.02} + stoploss −0.15 stays SQL-expressible.
    // The walk must visit EVERY bar (holds included) — ROI/SL can fire on
    // any bar, not just signal bars.
    "q_trades_roi_stoploss" ->
      """WITH RECURSIVE b AS (
        |  SELECT user_id AS symbol, CAST(ts AS TIMESTAMP) AS ts, event_id, value AS close,
        |    CASE WHEN event_type='purchase' THEN 'B' WHEN event_type='click' THEN 'S' END AS action,
        |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events WHERE value > 0),
        |walk AS (
        |  SELECT symbol, 0 AS rn, 'F' AS st,
        |    CAST(NULL AS TIMESTAMP) AS ets, CAST(NULL AS DOUBLE) AS epx,
        |    CAST(NULL AS VARCHAR) AS c_dir, CAST(NULL AS TIMESTAMP) AS c_ets,
        |    CAST(NULL AS DOUBLE) AS c_epx, CAST(NULL AS TIMESTAMP) AS c_xts,
        |    CAST(NULL AS DOUBLE) AS c_xpx, CAST(NULL AS VARCHAR) AS c_reason
        |  FROM (SELECT DISTINCT user_id AS symbol FROM events WHERE value > 0)
        |  UNION ALL
        |  SELECT w.symbol, w.rn + 1,
        |    CASE WHEN t.action = 'B' THEN (CASE t.m WHEN 'S' THEN 'F' ELSE 'L' END)
        |         WHEN t.action = 'S' THEN (CASE t.m WHEN 'L' THEN 'F' ELSE 'S' END)
        |         ELSE t.m END,
        |    CASE WHEN (t.action='B' AND t.m='F') OR (t.action='S' AND t.m='F') THEN t.bts
        |         WHEN (t.action='B' AND t.m='L') OR (t.action='S' AND t.m='S')
        |              OR (t.action IS NULL AND t.m <> 'F') THEN w.ets END,
        |    CASE WHEN (t.action='B' AND t.m='F') OR (t.action='S' AND t.m='F') THEN t.bclose
        |         WHEN (t.action='B' AND t.m='L') OR (t.action='S' AND t.m='S')
        |              OR (t.action IS NULL AND t.m <> 'F') THEN w.epx END,
        |    CASE WHEN t.closed_rsl OR (t.action='B' AND t.m='S') OR (t.action='S' AND t.m='L')
        |         THEN (CASE w.st WHEN 'L' THEN 'LONG' ELSE 'SHORT' END) END,
        |    CASE WHEN t.closed_rsl OR (t.action='B' AND t.m='S') OR (t.action='S' AND t.m='L') THEN w.ets END,
        |    CASE WHEN t.closed_rsl OR (t.action='B' AND t.m='S') OR (t.action='S' AND t.m='L') THEN w.epx END,
        |    CASE WHEN t.closed_rsl OR (t.action='B' AND t.m='S') OR (t.action='S' AND t.m='L') THEN t.bts END,
        |    CASE WHEN t.closed_rsl OR (t.action='B' AND t.m='S') OR (t.action='S' AND t.m='L') THEN t.bclose END,
        |    CASE WHEN t.closed_rsl THEN (CASE WHEN t.pnl > t.thr THEN 'ROI' ELSE 'STOP_LOSS' END)
        |         WHEN (t.action='B' AND t.m='S') OR (t.action='S' AND t.m='L') THEN 'SIGNAL' END
        |  FROM walk w
        |  JOIN b ON b.symbol = w.symbol AND b.rn = w.rn + 1,
        |  LATERAL (
        |    SELECT b.action AS action, b.ts AS bts, b.close AS bclose,
        |      CASE WHEN w.st = 'L' THEN (b.close - w.epx) / w.epx
        |           WHEN w.st = 'S' THEN (w.epx - b.close) / w.epx END AS pnl,
        |      CASE WHEN (epoch_us(b.ts) - epoch_us(w.ets)) // 1000000 >= 86400 THEN 0.02
        |           WHEN (epoch_us(b.ts) - epoch_us(w.ets)) // 1000000 >= 3600 THEN 0.1
        |           ELSE 0.2 END AS thr
        |  ) p,
        |  LATERAL (
        |    SELECT p.action, p.bts, p.bclose, p.pnl, p.thr,
        |      w.st <> 'F' AND (p.pnl > p.thr OR p.pnl < -0.15) AS closed_rsl,
        |      CASE WHEN w.st <> 'F' AND (p.pnl > p.thr OR p.pnl < -0.15) THEN 'F' ELSE w.st END AS m
        |  ) t),
        |closed AS (
        |  SELECT symbol, c_dir AS direction, c_ets AS entry_ts, c_epx AS entry_price,
        |    c_xts AS exit_ts, c_xpx AS exit_price, c_reason AS close_reason FROM walk WHERE c_dir IS NOT NULL),
        |final_state AS (
        |  SELECT w.symbol, CASE w.st WHEN 'L' THEN 'LONG' ELSE 'SHORT' END AS direction,
        |    w.ets AS entry_ts, w.epx AS entry_price,
        |    CAST(NULL AS TIMESTAMP) AS exit_ts, CAST(NULL AS DOUBLE) AS exit_price,
        |    CAST(NULL AS VARCHAR) AS close_reason
        |  FROM walk w JOIN (SELECT symbol, max(rn) AS mr FROM walk GROUP BY symbol) m
        |    ON w.symbol = m.symbol AND w.rn = m.mr
        |  WHERE w.st <> 'F'),
        |allt AS (SELECT * FROM closed UNION ALL SELECT * FROM final_state)
        |SELECT symbol, direction, entry_ts, entry_price, exit_ts, exit_price,
        |  CASE WHEN exit_ts IS NOT NULL THEN
        |    (CASE WHEN direction = 'LONG' THEN exit_price - entry_price ELSE entry_price - exit_price END
        |     - 0.0*entry_price - 0.0*entry_price) / entry_price END AS pnl_norm,
        |  pnl_norm * entry_price AS pnl,
        |  close_reason,
        |  exit_ts IS NOT NULL AS is_closed
        |FROM allt""".stripMargin,
    // Three-slot walks for max_position_per_symbol=3 (+ shorts), one per
    // inventory mode — the close-slot selector is the only difference
    // (see maxPosWalk).
    "q_trades_max_position" -> maxPosWalk("1"),
    "q_trades_max_position_worst" -> maxPosWalk(
      // worst price: longs close the highest entry, shorts the lowest;
      // ties keep the earliest slot (stable-sort pop-front semantics)
      """CASE WHEN w.st = 'L' THEN
        |        (CASE WHEN w.e1px >= COALESCE(w.e2px, -1e308) AND w.e1px >= COALESCE(w.e3px, -1e308) THEN 1
        |               WHEN COALESCE(w.e2px, -1e308) >= COALESCE(w.e3px, -1e308) THEN 2 ELSE 3 END)
        |      ELSE
        |        (CASE WHEN w.e1px <= COALESCE(w.e2px, 1e308) AND w.e1px <= COALESCE(w.e3px, 1e308) THEN 1
        |               WHEN COALESCE(w.e2px, 1e308) <= COALESCE(w.e3px, 1e308) THEN 2 ELSE 3 END)
        |      END""".stripMargin),
    "q_trades_max_position_lifo" -> maxPosWalk(
      // LIFO: slots append in time order, so the latest entry is the
      // last slot carrying the maximum entry ts; ties keep the earliest
      // slot (first occurrence of the max)
      """CASE WHEN w.e1ts >= COALESCE(w.e2ts, TIMESTAMP '1900-01-01')
        |            AND w.e1ts >= COALESCE(w.e3ts, TIMESTAMP '1900-01-01') THEN 1
        |           WHEN COALESCE(w.e2ts, TIMESTAMP '1900-01-01')
        |            >= COALESCE(w.e3ts, TIMESTAMP '1900-01-01') THEN 2 ELSE 3 END""".stripMargin),
    // cumulative sums quantize to 1e-9 units via floor(x*1e9 + 0.5):
    // pure IEEE arithmetic, identical in Spark and DuckDB — a
    // double→DECIMAL cast is NOT (Spark rounds the shortest decimal
    // repr half-up; DuckDB rounds the exact binary expansion)
    "q_mtm_timeline" ->
      s"""WITH $SIG_TRADES, $BARS_PM, $ACC_DEFAULT
        |SELECT symbol, ts, event_id, close, buy, sell, mtm_ratio,
        |  CAST(SUM(CAST(floor(mtm_ratio * 1e9 + 0.5) AS BIGINT)) OVER (
        |    PARTITION BY symbol ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e9 AS pnl_ratio
        |FROM acc""".stripMargin,
    "q_mtm_timeline_fees" ->
      s"""WITH $SIG_TRADES, $BARS_PM,
        |acc AS (
        |  SELECT b.symbol, b.ts, b.event_id, b.close, b.buy, b.sell,
        |    CASE WHEN t.entry_price IS NOT NULL AND b.pm IS NOT NULL
        |         THEN b.pm / t.entry_price ELSE 0.0 END
        |    - (CASE WHEN EXISTS (SELECT 1 FROM trades x WHERE x.symbol = b.symbol
        |              AND ((x.entry_ts = b.ts AND x.entry_eid = b.event_id)
        |                   OR (x.exit_ts = b.ts AND x.exit_eid = b.event_id)))
        |            THEN 0.001 ELSE 0.0 END
        |       + CASE WHEN NOT EXISTS (SELECT 1 FROM trades o WHERE o.symbol = b.symbol
        |              AND (o.entry_ts < b.ts OR (o.entry_ts = b.ts AND o.entry_eid <= b.event_id))
        |              AND (o.exit_ts IS NULL OR b.ts < o.exit_ts
        |                   OR (b.ts = o.exit_ts AND b.event_id < o.exit_eid)))
        |            THEN 0.0001 ELSE 0.0 END) AS mtm_ratio
        |  FROM bars b LEFT JOIN trades t
        |    ON t.symbol = b.symbol AND t.entry_ts < b.ts
        |    AND (t.exit_ts IS NULL OR b.ts < t.exit_ts
        |         OR (b.ts = t.exit_ts AND b.event_id <= t.exit_eid)))
        |SELECT symbol, ts, event_id, close, buy, sell, mtm_ratio,
        |  CAST(SUM(CAST(floor(mtm_ratio * 1e9 + 0.5) AS BIGINT)) OVER (
        |    PARTITION BY symbol ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e9 AS pnl_ratio
        |FROM acc""".stripMargin,
    "q_max_drawdown" ->
      s"""WITH $SIG_TRADES, $BARS_PM, $ACC_DEFAULT,
        |c AS (
        |  SELECT symbol, ts, event_id,
        |    SUM(CAST(floor(mtm_ratio * 1e9 + 0.5) AS BIGINT)) OVER (
        |      PARTITION BY symbol ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM acc),
        |r AS (
        |  SELECT symbol, cum,
        |    MAX(cum) OVER (PARTITION BY symbol ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS runmax
        |  FROM c)
        |SELECT symbol,
        |  CAST(MAX(GREATEST(runmax, 0) - cum) AS DOUBLE) / 1e9 AS max_drawdown
        |FROM r GROUP BY symbol""".stripMargin,
    // finite guard mirrors the Spark side: a zero-span or zero-sigma
    // symbol yields non-finite raw, which floor-rounding would mangle
    // engine-specifically — pass it through unrounded on both sides
    "q_sharpe_ratio" ->
      s"""WITH $SIG_TRADES, $BARS_PM, $ACC_DEFAULT,
        |x AS (SELECT symbol, epoch_ms(ts) AS ms, mtm_ratio - 0.000001 AS xs FROM acc),
        |g AS (SELECT symbol,
        |        CAST(SUM(CAST(floor(xs * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9
        |          / (CAST(max(ms) - min(ms) AS DOUBLE) / 1000.0 / 3600.0)
        |          / stddev_pop(xs) * sqrt(8760.0) AS raw,
        |        stddev_pop(xs) AS sigma
        |      FROM x GROUP BY symbol)
        |SELECT symbol,
        |  CASE WHEN sigma IS NULL OR sigma = 0.0 THEN -1e50
        |       WHEN abs(raw) < 1e14 THEN floor(raw * 1e4 + 0.5) / 1e4
        |       ELSE raw END AS sharpe_ratio
        |FROM g""".stripMargin,
    "q_pnl_summary" ->
      s"""WITH $SIG_TRADES, $BARS_PM, $ACC_DEFAULT,
        |p AS (SELECT symbol, CAST(SUM(CAST(floor(mtm_ratio * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS pnl
        |      FROM acc GROUP BY symbol),
        |ct AS (SELECT symbol, COUNT(*) AS n_trades,
        |         COUNT(*) FILTER (WHERE (exit_price - entry_price - 0.0*entry_price - 0.0*entry_price)/entry_price > 0.0) AS n_wins,
        |         SUM(epoch_us(exit_ts) - epoch_us(entry_ts)) AS hold_us
        |       FROM trades WHERE exit_ts IS NOT NULL GROUP BY symbol)
        |SELECT p.symbol, p.pnl, COALESCE(ct.n_trades, 0) AS n_trades,
        |  CAST(ct.n_wins AS DOUBLE) / CAST(ct.n_trades AS DOUBLE) AS win_rate,
        |  CAST(ct.hold_us AS DOUBLE) / CAST(ct.n_trades AS DOUBLE) / 1000000.0 AS avg_holding_secs
        |FROM p LEFT JOIN ct ON p.symbol = ct.symbol""".stripMargin,
    "q_pnl_summary_hyperopt" ->
      s"""WITH $SIG_TRADES, $BARS_PM, $ACC_DEFAULT,
        |p AS (SELECT symbol, CAST(SUM(CAST(floor(mtm_ratio * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS pnl
        |      FROM acc GROUP BY symbol),
        |ct AS (SELECT symbol, COUNT(*) AS n_trades,
        |         COUNT(*) FILTER (WHERE (exit_price - entry_price - 0.0*entry_price - 0.0*entry_price)/entry_price > 0.0) AS n_wins,
        |         SUM(epoch_us(exit_ts) - epoch_us(entry_ts)) AS hold_us
        |       FROM trades WHERE exit_ts IS NOT NULL GROUP BY symbol),
        |s AS (SELECT p.symbol, p.pnl, COALESCE(ct.n_trades, 0) AS n_trades,
        |        CAST(ct.n_wins AS DOUBLE) / CAST(ct.n_trades AS DOUBLE) AS win_rate,
        |        CAST(ct.hold_us AS DOUBLE) / CAST(ct.n_trades AS DOUBLE) / 1000000.0 AS avg_holding_secs
        |      FROM p LEFT JOIN ct ON p.symbol = ct.symbol)
        |SELECT symbol,
        |  CASE WHEN abs(pnl) < 1e-12 THEN -1e50 ELSE pnl END AS pnl,
        |  n_trades, win_rate, avg_holding_secs
        |FROM s""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(floor((l_quantity) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS sum_qty,
        |  CAST(SUM(CAST(floor((l_extendedprice) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS sum_base_price,
        |  CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount)) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS sum_disc_price,
        |  CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount)*(1+l_tax)) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS sum_charge,
        |  CAST(SUM(CAST(floor((l_quantity) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6/count(*) AS avg_qty,
        |  CAST(SUM(CAST(floor((l_extendedprice) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6/count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount)) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |  JOIN customer ON o_custkey=c_custkey
        |WHERE c_mktsegment='BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1,2,3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_join_shuffled" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount)) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey=l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_join_colocated" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(floor((l_extendedprice*(1-l_discount)) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey=l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q6_revenue_delta" ->
      """SELECT CAST(SUM(CAST(floor((l_extendedprice*l_discount) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q_top_customers_window" ->
      """WITH rev AS (
        |  SELECT o_custkey, CAST(SUM(CAST(floor((o_totalprice) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT n_name, c_custkey, c_name, revenue, rank FROM (
        |  SELECT n_name, c_custkey, c_name, revenue,
        |    CAST(rank() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey) AS BIGINT) AS rank
        |  FROM customer JOIN rev ON c_custkey=o_custkey
        |    JOIN nation ON c_nationkey=n_nationkey) t
        |WHERE rank <= 3""".stripMargin,
    // p50/p95/p99 quantized to 1e-9 units on BOTH sides: interpolation
    // association differs between engines by ~1 ULP (visible at sf1)
    "q_percentiles" ->
      """SELECT event_type, count(*) AS n,
        |  floor(quantile_cont(value, 0.5) * 1e9 + 0.5) / 1e9 AS p50,
        |  floor(quantile_cont(value, 0.95) * 1e9 + 0.5) / 1e9 AS p95,
        |  floor(quantile_cont(value, 0.99) * 1e9 + 0.5) / 1e9 AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    // same oracle as q_percentiles: the router's probe must route to
    // the exact path at this scale and leave values untouched
    "q_percentiles_auto" ->
      """SELECT event_type, count(*) AS n,
        |  floor(quantile_cont(value, 0.5) * 1e9 + 0.5) / 1e9 AS p50,
        |  floor(quantile_cont(value, 0.95) * 1e9 + 0.5) / 1e9 AS p95,
        |  floor(quantile_cont(value, 0.99) * 1e9 + 0.5) / 1e9 AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "q_join_salted" ->
      """WITH e AS (SELECT user_id, event_type, value FROM events),
        |d AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY user_id)
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(SUM(CAST(floor((value*n_events) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS weighted_value
        |FROM e JOIN d USING(user_id)
        |GROUP BY event_type""".stripMargin,
    "q_asof_join" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value, event_type FROM events),
        |p AS (SELECT user_id, ts, event_id, value FROM e WHERE event_type='purchase'),
        |c AS (SELECT user_id, ts, max(event_id) AS event_id, max_by(value, event_id) AS value
        |      FROM e WHERE event_type='click' GROUP BY user_id, ts)
        |SELECT p.user_id, p.ts, p.event_id, p.value,
        |  c.ts AS r_ts, c.event_id AS r_event_id, c.value AS r_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
    "q_events_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
        |flagged AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(SUM(CAST(floor((value) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS session_value
        |FROM sess GROUP BY 1,2""".stripMargin,
    "q_events_tumbling_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS wstart, event_type,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(floor((value) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1,2""".stripMargin,
    // each row lands in exactly 4 epoch-aligned sliding windows:
    // wstart = floor(us/slide)·slide − k·slide for k in 0..3 (slide
    // 15 min, window 1 h) — pure integer µs arithmetic on both sides
    "q_events_hopping_agg" ->
      """SELECT make_timestamp(
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000 - k * 900000000) AS wstart,
        |  event_type,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(floor((value) * 1e6 + 0.5) AS DECIMAL(30,0))) AS DOUBLE) / 1e6 AS total_value
        |FROM events, unnest(range(4)) AS t(k)
        |GROUP BY 1, 2""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens
        |FROM documents""".stripMargin,
    "q_quality_score" ->
      """WITH m AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
        |    len(regexp_extract_all(text, '\S+')) AS n_ws,
        |    len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|is|in|that|it|on)\b')) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN n_chars = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) END AS punct_ratio,
        |    CASE WHEN n_ws = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / CAST(n_ws AS DOUBLE) END AS stop_ratio,
        |    LEAST(1.0, CAST(n_chars AS DOUBLE) / 500.0) AS len_score
        |  FROM m)
        |SELECT doc_id, n_chars, punct_ratio, stop_ratio,
        |  0.4 * len_score + 0.3 * (1.0 - punct_ratio) + 0.3 * LEAST(1.0, stop_ratio * 5.0) AS quality_score
        |FROM r""".stripMargin,
    "q_lang_id" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|mit|den|ein|eine)\b')) AS h_de,
        |    len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|is|in|that|it|on)\b')) AS h_en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|un|una|los|las)\b')) AS h_es,
        |    len(regexp_extract_all(lower(text), '\b(le|la|de|et|les|des|un|une|du|dans)\b')) AS h_fr,
        |    len(regexp_extract_all(lower(text), '(的|是|不|了|在)')) AS h_zh
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |       WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
        |       WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |       WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |       WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM h""".stripMargin,
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5
        |FROM documents""".stripMargin,
    "q_dedup_exact" ->
      """WITH f AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5
        |  FROM documents)
        |SELECT doc_id, fp_md5,
        |  count(*) OVER (PARTITION BY fp_md5) AS group_size,
        |  min(doc_id) OVER (PARTITION BY fp_md5) AS canonical_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY fp_md5) AS is_canonical
        |FROM f""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      s"""WITH ${jaccardPairsSql("documents", Some(1000))}
        |SELECT doc_id_a, doc_id_b, jaccard FROM jpairs""".stripMargin,
    // duplicated-span removal: raw space-split tokens (string_split, no
    // regex — both engines split identically), global first occurrence
    // by the same doc_id*2^32+pos order key the operator aggregates
    "q_dedup_spans" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w0 AS (SELECT doc_id, toks,
        |         unnest(range(0, greatest(len(toks) - $spanK + 1, 0))) AS pos FROM t),
        |w AS (SELECT doc_id, pos,
        |        array_to_string(toks[pos + 1 : pos + $spanK], ' ') AS win FROM w0),
        |g AS (SELECT win, count(*) AS c,
        |        min(doc_id * 4294967296 + pos) AS canon FROM w GROUP BY win),
        |m AS (SELECT w.doc_id, w.pos FROM w JOIN g USING (win)
        |      WHERE g.c >= 2 AND w.doc_id * 4294967296 + w.pos <> g.canon),
        |cov AS (SELECT DISTINCT doc_id, pos + u AS tpos
        |        FROM (SELECT doc_id, pos, unnest(range(0, $spanK)) AS u FROM m)),
        |tok AS (SELECT doc_id, unnest(range(0, len(toks))) AS tpos, toks FROM t),
        |tok2 AS (SELECT doc_id, tpos, toks[tpos + 1] AS tok FROM tok),
        |kept AS (SELECT tok2.doc_id, tok2.tpos, tok2.tok FROM tok2
        |         WHERE NOT EXISTS (SELECT 1 FROM cov
        |                           WHERE cov.doc_id = tok2.doc_id
        |                             AND cov.tpos = tok2.tpos)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
        |               count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
    // exact-Jaccard gate for the LSH path — see jaccardPairsSql's
    // scaladoc for why the probabilistic operator answers a
    // deterministic oracle (exact verify + <5e-8 per-pair miss odds +
    // seeded permutations). UNCAPPED: the wired minhash entry applies no
    // df cap, so at sfs where a shingle tops df 1000 the capped oracle
    // would diverge.
    "q_dedup_minhash_lsh" ->
      s"""WITH ${jaccardPairsSql("documents", None)}
        |SELECT doc_id_a, doc_id_b, jaccard FROM jpairs""".stripMargin,
    // the full pipeline replay: quality gate (q_quality_score's exact
    // expression shapes) → md5 exact-dedup canonicals → drop the b side
    // of Jaccard-≥-0.8 pairs among canonicals (the MinHash-LSH stage's
    // exact pair set, per jaccardPairsSql's scaladoc)
    "q_corpus_clean" ->
      s"""WITH $CORPUS_STAGES,
        |${jaccardPairsSql("canon", None)}
        |SELECT doc_id, quality_score FROM canon
        |WHERE doc_id NOT IN (SELECT doc_id_b FROM jpairs)""".stripMargin,
    // the full composed pipeline: plant mirror → the q_redact_pii
    // oracle's three-pass redaction → the shared Gopher fragment →
    // the shared corpus stages over the gated survivors → the shared
    // jaccard pair fragment. Every stage replays through the SAME SQL
    // its standalone gate uses.
    "q_corpus_clean_full" ->
      s"""WITH pp AS (
        |  SELECT doc_id, concat(text,
        |    chr(10), 'contact u', CAST(doc_id AS VARCHAR), '@ex', CAST(doc_id % 5 AS VARCHAR),
        |    '.org or +1-555-', CAST(1000 + doc_id % 9000 AS VARCHAR),
        |    ' from 10.', CAST(doc_id % 256 AS VARCHAR), '.0.', CAST(doc_id % 250 AS VARCHAR),
        |    CASE WHEN doc_id % 2 = 0 THEN concat(chr(10), 'and that of the have to be with more') ELSE '' END,
        |    CASE WHEN doc_id % 11 = 0 THEN concat(chr(10), repeat('# ', 40)) ELSE '' END) AS text
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS text
        |  FROM pp),
        |${gopherStatsSql("red")},
        |gf AS (SELECT red.doc_id, red.text FROM red JOIN gk ON red.doc_id = gk.doc_id WHERE gk.keep),
        |${corpusStagesSql("gf")},
        |${jaccardPairsSql("canon", None)}
        |SELECT doc_id, quality_score FROM canon
        |WHERE doc_id NOT IN (SELECT doc_id_b FROM jpairs)""".stripMargin,
    // the SAME staged replay (shared fragment — the two oracles can
    // never drift apart), surfaced as the survivor-count audit table
    "q_corpus_stage_report" ->
      s"""WITH $CORPUS_STAGES,
        |${jaccardPairsSql("canon", None)},
        |cleaned AS (SELECT doc_id FROM canon
        |            WHERE doc_id NOT IN (SELECT doc_id_b FROM jpairs))
        |SELECT 'input' AS stage, (SELECT count(*) FROM documents) AS n_docs
        |UNION ALL SELECT 'quality_gate', (SELECT count(*) FROM qf)
        |UNION ALL SELECT 'exact_dedup', (SELECT count(*) FROM canon)
        |UNION ALL SELECT 'near_dedup', (SELECT count(*) FROM cleaned)""".stripMargin,
    // full SimHash replay: RollingHash over each shingle's UTF-8 bytes
    // (HUGEINT fold), murmur3 fmix64 (xor = HUGEINT xor; wrapping
    // multiplies via 32/32 split), per-bit ±1 vote sums with the
    // strictly-positive tie rule, then ALL Hamming-≤3 pairs — the 4×16
    // chunk banding is lossless for Hamming ≤ 3 (pigeonhole, spec'd),
    // so the banded operator answers the brute-force oracle exactly.
    "q_dedup_simhash" ->
      """WITH jsh AS (
        |  SELECT doc_id, list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2] FOR i IN range(1, len(s)-1)]) AS gs
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS s
        |        FROM documents)),
        |inv AS (SELECT doc_id, unnest(gs) AS shingle FROM jsh),
        |hx AS (SELECT doc_id, hex(encode(shingle)) AS ph, octet_length(encode(shingle)) AS n FROM inv),
        |bt AS (SELECT doc_id, [ ((strpos('0123456789ABCDEF', ph[2*i+1]) - 1) * 16
        |        + strpos('0123456789ABCDEF', ph[2*i+2]) - 1)::HUGEINT FOR i IN range(n) ] AS bytes FROM hx),
        |rh AS (SELECT doc_id, list_reduce([0::HUGEINT] || bytes,
        |        (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS h FROM bt),
        |f0 AS (SELECT doc_id, xor(h, h // 8589934592::HUGEINT) AS h FROM rh),
        |f1 AS (SELECT doc_id, ((h % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT
        |        + (((h // 4294967296::HUGEINT) * 18397679294719823053::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |        ) % 18446744073709551616::HUGEINT AS h FROM f0),
        |f2 AS (SELECT doc_id, xor(h, h // 8589934592::HUGEINT) AS h FROM f1),
        |f3 AS (SELECT doc_id, ((h % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT
        |        + (((h // 4294967296::HUGEINT) * 14181476777654086739::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT
        |        ) % 18446744073709551616::HUGEINT AS h FROM f2),
        |f4 AS (SELECT doc_id, xor(h, h // 8589934592::HUGEINT) AS h FROM f3),
        |dh AS (SELECT doc_id,
        |        CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |                  THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS hs
        |       FROM f4),
        |bits AS (SELECT doc_id, b, SUM(CASE WHEN (hs >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |         FROM dh, unnest(range(64)) AS t(b) GROUP BY doc_id, b),
        |sg AS (SELECT doc_id, SUM(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE 0::HUGEINT END) AS us
        |       FROM bits GROUP BY doc_id),
        |shs AS (SELECT doc_id, CAST(CASE WHEN us >= 9223372036854775808::HUGEINT
        |              THEN us - 18446744073709551616::HUGEINT ELSE us END AS BIGINT) AS simhash FROM sg)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM shs a JOIN shs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "q_dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, list_sum([v[i]*v[i] FOR i IN range(1, len(v)+1)]) AS norm FROM e),
        |p AS (SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
        |        list_sum([a.v[i]*b.v[i] FOR i IN range(1, len(a.v)+1)]) / sqrt(a.norm) / sqrt(b.norm) AS cosine
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_id_a, vec_id_b, cosine FROM p WHERE cosine >= 0.4""".stripMargin,
    "q_ann_bruteforce_topk" ->
      """WITH e AS (
        |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v FROM embeddings),
        |n AS (SELECT vec_id, v, list_sum([v[i]*v[i] FOR i IN range(1, len(v)+1)]) AS norm FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, norm AS qn FROM n WHERE vec_id < 10),
        |s AS (SELECT q.query_id, n.vec_id,
        |        list_sum([q.qv[i]*n.v[i] FOR i IN range(1, len(q.qv)+1)]) / sqrt(q.qn) / sqrt(n.norm) AS cos
        |      FROM n JOIN q ON n.vec_id <> q.query_id)
        |SELECT query_id, CAST(row_number() OVER w AS BIGINT) AS rank, vec_id AS neighbor_id, cos AS cosine
        |FROM s WINDOW w AS (PARTITION BY query_id ORDER BY cos DESC, vec_id)
        |QUALIFY row_number() OVER w <= 10""".stripMargin,
    "q_multimodal_meta" ->
      s"""WITH $MM_PAYLOAD
        |SELECT doc_id, octet_length(payload) AS n_bytes,
        |  left(hex(payload), 8) AS magic_hex,
        |  CASE left(hex(payload), 8)
        |    WHEN '89504E47' THEN 'png' WHEN 'FFD8FFE0' THEN 'jpeg'
        |    WHEN '52494646' THEN 'riff' ELSE 'unknown' END AS kind
        |FROM p""".stripMargin,
    // Derives the SAME integers the Spark side recovers from its float
    // histogram (Multimodal.featureSummary) straight from the payload
    // bytes: per-position byte values via the hex string (DuckDB 1.0
    // has no blob subscript), nnz = distinct bytes, and
    // sum_b count_b*(b+1) = n + sum(byte values) since every occurrence
    // of byte b contributes (b+1). Integer-only — no float parity risk.
    "q_multimodal_features" ->
      s"""WITH $MM_PAYLOAD,
        |h AS (SELECT doc_id, hex(payload) AS ph, octet_length(payload) AS n FROM p),
        |b AS (
        |  SELECT doc_id, n,
        |    [ (strpos('0123456789ABCDEF', ph[2*i+1]) - 1) * 16
        |      + strpos('0123456789ABCDEF', ph[2*i+2]) - 1 FOR i IN range(n) ] AS bytes
        |  FROM h)
        |SELECT doc_id AS vec_id,
        |  CAST(256 AS BIGINT) AS dim,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST(len(list_distinct(bytes)) AS BIGINT) AS nnz,
        |  CAST(list_sum(bytes) + n AS BIGINT) AS byte_checksum
        |FROM b""".stripMargin,
    // replays RollingHash over the raw text bytes — hash-gates the
    // native Catalyst expression itself, not just its plumbing
    "q_doc_fingerprint_rolling" ->
      s"""WITH p AS (SELECT doc_id, encode(text) AS payload FROM documents),
        |$ROLLING_HASH_OF_PAYLOAD
        |SELECT doc_id, hh AS fp_rolling FROM s""".stripMargin,
    // the decode stub's full arithmetic (dims/duration from the payload
    // hash) replayed byte-for-byte; batch_size is partition-dependent
    // and lives in MultimodalSpec instead
    // bit_depth is constant 0 here BY DESIGN: synthetic payloads carry a
    // bare 4-byte magic, never a full PNG signature/IHDR or a BMP DIB
    // header, so none may take the real header-parse path — this oracle
    // hash-gates that invariant along with the stub arithmetic
    "q_multimodal_decode" ->
      s"""WITH $MM_PAYLOAD,
        |$ROLLING_HASH_OF_PAYLOAD
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'riff' END AS kind,
        |  CAST(abs(hh % 1920) + 1 AS INTEGER) AS width,
        |  CAST(abs(hh // 7 % 1080) + 1 AS INTEGER) AS height,
        |  CAST(0 AS INTEGER) AS bit_depth,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN abs(hh % 60000) ELSE 0 END AS BIGINT) AS duration_ms
        |FROM s""".stripMargin,
    // sampling keys replayed via SAMPLE_KEY (rolling hash of the decimal
    // id + Fibonacci finisher, top 24 bits) — thresholds derive from the
    // SAME sampleRates list the Scala wiring uses
    "q_sample_stratified" ->
      s"""WITH src AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
        |              CAST(event_id AS VARCHAR) AS sid FROM events),
        |$SAMPLE_KEY
        |SELECT event_id, user_id, event_type, ts, value, CAST(skey AS BIGINT) AS sample_key
        |FROM k
        |WHERE skey < (CASE event_type
        |  ${sampleRates.map { case (s, r) =>
             s"WHEN '$s' THEN ${math.floor(r * graft.operators.Sampling.KeySpace).toLong}"
           }.mkString("\n  ")}
        |  ELSE -1 END)""".stripMargin,
    // mixture thresholds derive from the same mixtureTarget list and
    // the same IEEE expression shape (w * cap / n, least, floor) the
    // Scala wiring uses, so integer thresholds match exactly
    "q_sample_mixture" ->
      s"""WITH src AS (SELECT doc_id, source, lang,
        |              CAST(doc_id AS VARCHAR) AS sid FROM documents),
        |$SAMPLE_KEY,
        |cnt AS (SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY source),
        |wf AS (SELECT source, n, CASE source
        |  ${mixtureTarget.map { case (s, w) => s"WHEN '$s' THEN $w" }.mkString("\n  ")}
        |  ELSE -1.0 END AS w FROM cnt
        |  WHERE CASE source
        |  ${mixtureTarget.map { case (s, w) => s"WHEN '$s' THEN $w" }.mkString("\n  ")}
        |  ELSE -1.0 END > 0),
        |cap AS (SELECT min(n / w) AS cap FROM wf),
        |thr AS (SELECT source,
        |  CASE WHEN n / w = cap THEN ${graft.operators.Sampling.KeySpace}
        |       ELSE CAST(floor(least(1.0, w * cap / n) * ${graft.operators.Sampling.KeySpace.toDouble}) AS BIGINT)
        |  END AS thr
        |  FROM wf, cap)
        |SELECT k.doc_id, k.source, k.lang, CAST(k.skey AS BIGINT) AS sample_key
        |FROM k JOIN thr USING (source) WHERE k.skey < thr.thr""".stripMargin,
    // global shuffled order = ORDER BY (sample key, doc_id); the
    // engine's two-phase prefix-sum rank must equal the plain
    // single-window SQL rank
    "q_shuffle_shard" ->
      s"""WITH src AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS sid FROM documents),
        |$SAMPLE_KEY
        |SELECT doc_id, CAST(skey AS BIGINT) AS sample_key,
        |  CAST(row_number() OVER (ORDER BY skey, doc_id) - 1 AS BIGINT) AS shuffle_pos,
        |  CAST((row_number() OVER (ORDER BY skey, doc_id) - 1) % $shuffleShards AS BIGINT) AS shard
        |FROM k""".stripMargin,
    // group-keyed (user_id) so the leakage-safe property is in the
    // oracle too; thresholds are the cumulative splitWeights ladder
    "q_split_assign" ->
      s"""WITH src AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value,
        |              CAST(user_id AS VARCHAR) AS sid FROM events),
        |$SAMPLE_KEY
        |SELECT event_id, user_id, event_type, ts, value,
        |  CASE
        |  ${splitWeights.init.zip(splitWeights.map(_._2).scanLeft(0.0)(_ + _).tail.init)
             .map { case ((name, _), cum) =>
               s"WHEN skey < ${math.floor(cum * graft.operators.Sampling.KeySpace).toLong} THEN '$name'"
             }.mkString("\n  ")}
        |  ELSE '${splitWeights.last._1}' END AS split
        |FROM k""".stripMargin,
    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2] FOR i IN range(1, len(s)-1)]) AS gs
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS s
        |        FROM documents)),
        |inv AS (SELECT doc_id, unnest(gs) AS shingle FROM sh),
        |ev AS (SELECT doc_id AS eval_id, shingle FROM inv WHERE eval_id % 7 = 0),
        |evn AS (SELECT eval_id, count(*) AS n_eval FROM ev GROUP BY 1),
        |co AS (SELECT doc_id, shingle FROM inv WHERE doc_id % 7 <> 0),
        |hits AS (SELECT co.doc_id, ev.eval_id, count(*) AS c FROM co JOIN ev USING(shingle) GROUP BY 1,2),
        |j AS (SELECT doc_id, eval_id, CAST(c AS DOUBLE) / CAST(n_eval AS DOUBLE) AS containment
        |      FROM hits JOIN evn USING(eval_id))
        |SELECT doc_id, eval_id, containment FROM j WHERE containment >= 0.5""".stripMargin,
    "q_sample_fixed_k" ->
      s"""WITH src AS (SELECT event_id, event_type, CAST(event_id AS VARCHAR) AS sid FROM events),
        |$SAMPLE_KEY
        |SELECT event_type, CAST(row_number() OVER w AS BIGINT) AS rank, event_id,
        |  CAST(skey AS BIGINT) AS sample_key
        |FROM k WINDOW w AS (PARTITION BY event_type ORDER BY skey, event_id)
        |QUALIFY row_number() OVER w <= $fixedSampleK""".stripMargin,
    "q_ngram_topk" ->
      s"""WITH sh AS (
        |  SELECT doc_id, list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2] FOR i IN range(1, len(s)-1)]) AS gs
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS s
        |        FROM documents)),
        |inv AS (SELECT doc_id, unnest(gs) AS shingle FROM sh)
        |SELECT shingle, count(*) AS doc_freq FROM inv GROUP BY shingle
        |ORDER BY doc_freq DESC, shingle LIMIT $ngramK""".stripMargin,
    // tfidf quantized to 1e-9 units through the same floor expression
    // BEFORE ranking on both sides (ln is libm-sensitive at the 1-ULP
    // level); empty tokens filtered to match the generator's tokenize
    "q_tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        |           FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |        floor(tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS tfidf
        |      FROM tf JOIN dfr USING (term), n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        |      FROM s)
        |SELECT doc_id, rank, term, tf, df, tfidf FROM r WHERE rank <= $tfidfTopK""".stripMargin,
    // the literal three-pass formulation the fused kernel is spec-pinned
    // to: email, then phone, then ip — order is load-bearing (see
    // PiiRedact's scaladoc); counts are taken on the pass inputs exactly
    // as the kernel's single scan produces them
    "q_redact_pii" ->
      """WITH p AS (SELECT doc_id, concat(
        |'contact user', CAST(doc_id AS VARCHAR), '@mail', CAST(doc_id % 7 AS VARCHAR),
        |'.com via ', substr(text, 1, 48),
        |' call +', CAST(doc_id % 89 + 1 AS VARCHAR),
        |'-', CAST(doc_id % 900 + 100 AS VARCHAR),
        |'-', CAST(doc_id % 9000 + 1000 AS VARCHAR),
        |' near a@b or 1.2.3 from 10.', CAST(doc_id % 256 AS VARCHAR),
        |'.', CAST(doc_id * 7 % 256 AS VARCHAR),
        |'.', CAST(doc_id % 250 AS VARCHAR), ' end') AS t FROM documents),
        |e AS (SELECT doc_id, t, regexp_replace(t,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM p),
        |ph AS (SELECT doc_id, t, t1, regexp_replace(t1,
        |  '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}', '<PHONE>', 'g') AS t2 FROM e)
        |SELECT doc_id,
        |  regexp_replace(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t1, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(t2, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip
        |FROM ph""".stripMargin,
    // the literal regex/split formulation the fused GopherStats kernel
    // is spec-pinned to; p mirrors TextOps.withPlantedStructure
    // character-for-character, and every division is a single exact
    // int/int double op (bit-identical across engines)
    "q_quality_filter_gopher" ->
      s"""WITH p AS (
        |  SELECT doc_id, concat(
        |    CASE WHEN doc_id % 3 = 0 THEN concat('  - bullet intro', chr(10)) ELSE '' END,
        |    CASE WHEN doc_id % 5 = 0 THEN concat(chr(9), '* starred item ...', chr(10)) ELSE '' END,
        |    text,
        |    CASE WHEN doc_id % 2 = 0 THEN concat(chr(10), 'and that of the have to be with more') ELSE '' END,
        |    CASE WHEN doc_id % 4 = 0 THEN concat(chr(10), 'trailing thought …  ') ELSE '' END,
        |    CASE WHEN doc_id % 7 = 0 THEN concat(chr(10), '## tags #a #b....') ELSE '' END) AS text
        |  FROM documents),
        |${gopherStatsSql("p")}
        |SELECT doc_id, n_words, mean_word_len, alpha_ratio, symbol_ratio,
        |  bullet_ratio, ellipsis_ratio, n_stop_distinct, keep
        |FROM gk""".stripMargin,
    // the string-space counts equal the hashed-space counts the Spark
    // side aggregates, barring 64-bit collisions (same argument as the
    // minhash gate); a doc too short for any 3-gram scores 0.0
    "q_repetition_ratio" ->
      """WITH sh AS (
        |  SELECT doc_id, [s[i] || ' ' || s[i+1] || ' ' || s[i+2] FOR i IN range(1, len(s)-1)] AS gs
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS s
        |        FROM documents))
        |SELECT doc_id,
        |  CAST(len(gs) AS BIGINT) AS n_ngrams,
        |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
        |  CASE WHEN len(gs) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / CAST(len(gs) AS DOUBLE)
        |  END AS repetition_ratio
        |FROM sh""".stripMargin,
    // integer-exact: the pack coordinates are pure functions of the
    // exclusive prefix sum of whitespace-token counts in doc_id order
    "q_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pstart
        |      FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(pstart // $packBudget AS BIGINT) AS pack_id,
        |  CAST(pstart % $packBudget AS BIGINT) AS pack_offset,
        |  CAST((pstart + GREATEST(n_tokens, 1) - 1) // $packBudget - pstart // $packBudget + 1 AS BIGINT) AS n_packs_spanned
        |FROM c""".stripMargin,
    // frame fan-out replay: per-doc frame count from the stub duration,
    // per-frame byte offsets with Java truncating division — the
    // anti-OOM cap (min(.., 8)) included in the oracle
    "q_multimodal_frames" ->
      s"""WITH $MM_PAYLOAD,
        |$ROLLING_HASH_OF_PAYLOAD,
        |d AS (
        |  SELECT doc_id, n,
        |    CASE WHEN doc_id % 3 = 2 THEN abs(hh % 60000) ELSE 0 END AS dur
        |  FROM s),
        |f AS (SELECT doc_id, n, LEAST(dur // 5000 + 1, 8) AS nf FROM d)
        |SELECT doc_id,
        |  CAST(i AS INTEGER) AS frame_idx,
        |  CAST(i * 5000 AS BIGINT) AS frame_ms,
        |  CAST(GREATEST(0, LEAST(4 + ((n - 4) * i) // nf + 64, n)
        |    - (4 + ((n - 4) * i) // nf)) AS BIGINT) AS n_bytes
        |FROM f, unnest(range(nf)) AS t(i)""".stripMargin
  )
}
