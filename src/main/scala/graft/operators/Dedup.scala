package graft.operators

import graft.functions.{
  HammingPairs, Mix64, QuantCosinePairs, RollingHash, ShingleGenerator, TokenWindows}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` / `embeddings`
  * (SURVEY §2 #21-25), built from codegen'd expressions plus graft's
  * native Catalyst kernels (the `graft.functions` Column constructors)
  * — no UDFs.
  *
  * 100 TB shuffle discipline (SURVEY §4): the only wide exchanges move
  * (key, doc_id) pairs — the shingle inverted index, LSH band buckets,
  * or SimHash chunks — never full document text. Every signature
  * (MinHash, SimHash) is computed by partial-aggregated object
  * aggregates over a hashed inverted-index exchange (xxhash64 for
  * MinHash; RollingHash ∘ Mix64 for SimHash, whose oracle must replay
  * the hash), not by per-row array lambdas: higher-order functions are
  * interpreted (CodegenFallback), and Catalyst's project collapsing
  * re-evaluates an array-producing expression inside every consumer
  * lambda — measured ~100× slower at equal semantics. All-pairs work
  * exists only in `embeddingNearDupsExact`, the oracle/verify path; the
  * embedding scale paths are [[embeddingNearDupsLsh]] (hyperplane-LSH
  * buckets) and [[embeddingNearDupsIvf]] (IVF cells), both below. The
  * four bucketed operators (MinHash, SimHash and the two embedding
  * paths) share one candidate tail, [[bucketPairs]], and each verifies
  * its candidates exactly. The word-3-gram Jaccard pairs (#22) are one
  * lazy PPJoin prefix join: no statistics job at construction picks
  * between plans.
  */
object Dedup {

  /** Single source of truth for the IVF sizing constants (r19): both
    * [[ivfCellCount]] and [[embeddingNearDupsIvf]] read them here, so
    * the sizing report a harness gets by calling ivfCellCount with the
    * default byte budget can never silently drift from the count the operator
    * really used. `MaxBucketSize` is also the embedding LSH path's
    * hot-bucket cap.
    */
  private[graft] object IvfDefaults {
    val MinCells: Int = 8
    val MaxCells: Int = 1 << 20
    val MaxBucketSize: Int = 4096
    val MaxCentroidBytes: Long = 256L << 20
  }

  /** The shared backbone: distinct (doc_id, shingle) inverted index,
    * produced by the native [[graft.functions.ShingleGenerator]] — a
    * streamed flatMap inside the scan stage. (Two rejected designs, both
    * measured slower: array lambdas re-evaluate the normalize+split per
    * element interpreted (~10×); the relational posexplode + window-lead
    * variant pays a shuffle + sort per consumer just to adjoin
    * neighboring tokens.)
    *
    * Distinctness comes from the GENERATOR, not an aggregate: each
    * input row carries a unique doc_id (the documents-table key every
    * wired caller passes), so the generator's per-row set semantics
    * (`shingles_distinct`, r12) make the (doc_id, shingle) pairs
    * globally distinct with NO exchange and NO dedup hash table at all
    * — the previous `.distinct()` was the index's whole shuffle and its
    * partial aggregate dominated the scan stage's CPU/GC at sf10. A
    * caller passing DUPLICATE doc_ids would get duplicate index rows
    * (the old distinct absorbed them); no wired producer does.
    */
  private[graft] def shingleIndex(documents: DataFrame): DataFrame = {
    // no CpuSpread here: whether the generator's scan stage should
    // spread depends on the caller's input — TextOps.ngramTopK spreads
    // its corpus, while Decontaminate's eval side is small BY
    // CONSTRUCTION yet reads the same file-backed table as the corpus,
    // so no byte floor could tell the two apart
    documents.select(
      col("doc_id"), ShingleGenerator.column(col("text"), distinct = true).as("shingle"))
  }

  /** The signature-space backbone: the same inverted index with the
    * shingle hashed to 64 bits BEFORE the distinct, so the dedup
    * exchange (and every downstream join) moves (doc_id, long) instead
    * of (doc_id, string) — at corpus scale that is the difference
    * between shuffling the corpus's shingle text and shuffling 16-byte
    * rows. The approximate operators live in this hashed space: their
    * signatures are functions of xxhash64(shingle) anyway, and their
    * verify counts become Jaccard over the hashed shingle space
    * (collision probability ≈ n²/2⁶⁴ per doc pair — immaterial below
    * ~10⁸ distinct shingles). SimHash consumes the [[mixedShingleIndex]]
    * twin; production MinHash computes the same values per ROW
    * ([[graft.functions.MinHashDoc]], r13) and this index is its
    * spec-side reference. The exact-string index stays
    * [[shingleIndex]]; [[ngramJaccardPairs]] hashes the same distinct
    * shingles with the same xxhash64 inline.
    */
  private[graft] def hashedShingleIndex(documents: DataFrame): DataFrame = {
    documents
      // set semantics from the generator (r12, as shingleIndex): the
      // per-row dedup of distinct STRINGS leaves (doc_id, h) distinct
      // except when two distinct shingles of ONE document collide in
      // 64 bits — probability ~(shingles/doc)²/2⁶⁵, far inside the
      // hashed space's documented n²/2⁶⁴ tolerance — so the dedup
      // aggregate this index used to run after the exchange is gone
      // (it was a full ObjectHashAggregate pass over the index).
      .select(col("doc_id"), ShingleGenerator.column(col("text"), distinct = true).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      // partition by doc_id BEFORE any per-doc aggregate a consumer
      // adds: the aggregate then runs just past this exchange with ONE
      // local buffer per doc, where letting it partial-combine across
      // scan-order partitions shipped a WIDE partial buffer per doc
      // per map task — 33× the index bytes at the sf10 falsifier
      // (357 MB of (doc_id, h) rows became 11.8 GB of signature
      // partials crossing the exchange). Since r13 production MinHash
      // does not read this index at all — [[graft.functions
      // .MinHashDoc]] computes the per-doc signature/set per ROW in
      // the scan — this remains as the relational REFERENCE
      // formulation that MinHashDocSpec's bit-equality gate replays.
      .repartition(col("doc_id"))
  }

  /** [[hashedShingleIndex]]'s oracle-replayable twin for SimHash:
    * RollingHash ∘ Mix64 instead of xxhash64. Equal hash quality —
    * fmix64 is a bijective full-avalanche finalizer, so every one of
    * the 64 bits SimHash votes on is uniform even though the raw
    * polynomial hash concentrates its structure in the low bits — but
    * every step replays exactly in DuckDB (see SparkEntry's
    * q_dedup_simhash oracle), which is what hash-gates the SimHash
    * query. MinHash keeps xxhash64: its oracle (the verified exact-
    * Jaccard pair set) never inspects the hash values.
    */
  private[graft] def mixedShingleIndex(documents: DataFrame): DataFrame = {
    // CpuSpread (r19): same single-task-scan guard as shingleIndex
    CpuSpread.spread(documents)
      // generator-side set semantics, same rationale and collision
      // class as [[hashedShingleIndex]] (and the oracle replays
      // list_distinct before hashing, so both engines see the same
      // per-doc distinct shingle stream)
      .select(col("doc_id"), ShingleGenerator.column(col("text"), distinct = true).as("shingle"))
      .select(col("doc_id"), Mix64.column(RollingHash.column(col("shingle"))).as("h"))
      // same doc_id pre-partition as [[hashedShingleIndex]]: the SimHash
      // aggregate's 65-long vote buffers stay one-per-doc local instead
      // of one-per-doc-per-map-task crossing the exchange
      .repartition(col("doc_id"))
  }

  /** SURVEY #21: exact duplicate groups by md5 of normalized text. One
    * shuffle (hash by fingerprint); emits every doc with its group size
    * and canonical (min doc_id) representative so downstream `keep
    * canonical` filters are one predicate away.
    */
  def exactDups(documents: DataFrame): DataFrame = {
    val w = Window.partitionBy("fp_md5")
    documents
      .select(col("doc_id"), TextOps.fingerprintExpr(col("text")).as("fp_md5"))
      .withColumn("group_size", count(lit(1)).over(w).cast("bigint"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
  }

  /** SURVEY #22: word-3-gram Jaccard ≥ threshold pairs — an
    * AllPairs/PPJoin-style prefix-filtered, positional-filtered,
    * length-filtered self-join over the 64-bit hashed shingle space,
    * with exact in-stage verification (Chaudhuri et al. SSJoin '06,
    * Bayardo et al. WWW '07, Xiao et al. WWW '08 — public algorithms).
    * Exact copies need no plan of their own: identical documents pair
    * through the prefix join like any others (jaccard m/(2n−m) under a
    * df cap, 1.0 without), and pipelines that carry copy mass
    * exact-dedup first ([[CorpusPipeline]]). The operator is lazy: it
    * runs no job until its caller's action.
    *
    * Plan, in exchange order: the scan hashes each doc's distinct
    * shingles to 64 bits; a window by h adjoins the document
    * frequency; a window by doc_id ranks each doc's joinable shingles
    * rarest-first in the (df, h) global total order and computes
    * n/m — persist()ed once for its two consumers, with the
    * InMemoryRelation keeping hashpartitioning(doc_id) so the per-doc
    * aggregate (sorted hash-set array + n) adds NO exchange
    * (pinned in PlanAuditSpec; a localCheckpoint there would report
    * Unknown partitioning under AQE and re-exchange the whole index).
    * Only each doc's PREFIX — its first m − α + 1 ranked shingles —
    * enters the self-join, and matched rows pass three in-stage prunes
    * before anything crosses to the pair-dedup aggregate, whose rows
    * are the bare 16-byte (doc_id_a, doc_id_b) key (sizes rejoin from
    * the per-doc table in the verify, so candidate freight is the
    * minimum possible).
    *
    * Losslessness of the three prunes at threshold t (all proofs in
    * REAL arithmetic, then slackened for doubles):
    *  - PREFIX (the prefix-filtering principle): if |A∩B| ≥ α, the
    *    (|A|−α+1)-prefixes under ANY shared total order intersect.
    *    A pair passing the final filter has c ≥ t·(na+nb)/(1+t), and
    *    nb ≥ c ≥ t·na (else max-jaccard min/max < t), so c ≥ ⌈t·na⌉
    *    and symmetrically ⌈t·nb⌉: with per-doc α_x = ⌈t·n_x⌉ the
    *    pairwise α = max(α_a, α_b) ≤ c and both indexed prefixes are
    *    at least the lemma's length. Under the df cap the same
    *    algebra runs in the capped universe (c′ ≥ t·na with na/nb
    *    still the FULL sizes the final filter divides by; prefixes
    *    rank only joinable shingles).
    *  - LENGTH: jaccard ≤ min(na,nb)/max(na,nb) (at c = min the
    *    denominator is max) — evaluated with the IDENTICAL
    *    double-division shape the final filter would produce in that
    *    best case, so the prune is bit-exactly conservative.
    *  - POSITIONAL (PPJoin): for the pair's FIRST shared ranked
    *    shingle, everything before rank ra in A and rb in B is
    *    disjoint, so c′ ≤ 1 + min(m_a−ra, m_b−rb); a row failing
    *    1 + min(...) ≥ t/(1+t)·(na+nb) cannot be a qualifying pair's
    *    first match, and a qualifying pair's first-match row always
    *    passes — later matches of the same pair may die, the first
    *    cannot, so the pair always reaches the dedup aggregate.
    * Double slack: α is lowered by 3 and the positional bound widened
    * by +3 — a pair can pass the double-evaluated final filter within
    * ~2⁻⁵²·n of t, and the double ⌈t·n⌉ can land one high when t·n is
    * integral; ≤3 extra prefix shingles per doc buys bit-level
    * losslessness for any n < 2⁵⁰.
    *
    * Hashed-universe note: candidate generation, the df/cap, and the
    * verify count all run over xxhash64(shingle) — equal to the
    * exact-string pair set barring 64-bit collisions (≈n²/2⁶⁴,
    * immaterial below ~10⁸ distinct shingles — the SAME adjudicated
    * tolerance [[minhashLshPairs]] rides against the identical
    * exact-string DuckDB oracle). n (and the final jaccard's sizes)
    * stay EXACT string counts regardless: the generator emits distinct
    * strings and row counts are collision-free. The verify is
    * [[jaccardVerify]], the c/(na+nb−c) double shape shared with
    * [[minhashLshPairs]].
    *
    * CACHE OWNERSHIP: the operator cannot unpersist its two cached
    * frames (ranked and perDoc) itself — their consumers execute at the
    * CALLER's action time, after this function returns (unlike CC,
    * which drives its own per-round actions and releases its caches
    * before returning) — so each call leaves two MEMORY_AND_DISK entries
    * in the CacheManager until the session releases them. Spill + LRU
    * bound the memory; a long-lived session running many dedup queries
    * calls [[graft.Sessions.dropAllCaches]] between them, as
    * Bench/Verify/QueryProfile do.
    *
    * Input contract: doc_ids must be UNIQUE (the documents-table key) —
    * the generator-side set semantics ([[shingleIndex]]) and the na row
    * counts both assume it; duplicate ids would inflate sizes and
    * jaccard values.
    *
    * @param maxShingleDf optional document-frequency cap: a shingle
    *        appearing in more than this many docs is excluded from the
    *        pair join AND the common count (its contribution to Σdf² is
    *        quadratic — THE skew bomb of inverted-index joins at corpus
    *        scale). None (default) keeps exact Jaccard semantics for the
    *        oracle; production corpora should cap (standard practice —
    *        ultra-common shingles carry no near-dup signal).
    */
  def ngramJaccardPairs(
      documents: DataFrame,
      threshold: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val nP = indexShuffleParts(documents)
    // CpuSpread (r19): the shingle generator + xxhash64 are the scan
    // stage's CPU; single-task on an unsplittable local file (the r19
    // profile read ~1.5 s of one-core generator work inside
    // q_dedup_groups), no-op on many-file corpora
    val hashed = CpuSpread.spread(documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), ShingleGenerator.column(col("text"), distinct = true).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
    val keep = maxShingleDf.map(cap => col("df") <= cap).getOrElse(lit(true))
    val wDoc = Window.partitionBy("doc_id")
    // both index exchanges are explicit repartitions the windows then
    // ride (hash(h/doc_id, nP) satisfies their clustered distribution,
    // so EnsureRequirements inserts nothing extra) — inside the cached
    // plan AQE cannot size them, see [[indexShuffleParts]]
    val ranked = hashed
      .repartition(nP, col("h"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .repartition(nP, col("doc_id"))
      .withColumn("na", count(lit(1)).over(wDoc))
      .withColumn("m", count(when(keep, lit(1))).over(wDoc))
      .withColumn("rn", row_number().over(
        wDoc.orderBy(when(keep, 0).otherwise(1), col("df"), col("h"))))
      .withColumn("keep", keep)
      .select("doc_id", "h", "na", "m", "rn", "keep")
      .persist()
    val alpha = greatest(ceil(col("na") * lit(threshold)).cast("long") - lit(3L), lit(1L))
    val pre = ranked
      .filter(col("keep") && col("rn") <= col("m") - alpha + lit(1L))
      .select("doc_id", "h", "na", "m", "rn")
    val perDoc = ranked
      .groupBy("doc_id")
      .agg(
        graft.functions.SortedLongSetAgg.column(when(col("keep"), col("h"))).as("hs"),
        max(col("na")).as("n"))
      .persist()
    val tt = threshold / (1.0 + threshold)
    val cand = pre.select(col("h"), col("doc_id").as("doc_id_a"),
        col("na").as("pna"), col("m").as("ma"), col("rn").as("ra"))
      .join(pre.select(col("h"), col("doc_id").as("doc_id_b"),
        col("na").as("pnb"), col("m").as("mb"), col("rn").as("rb")), Seq("h"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .filter(least(col("pna"), col("pnb")).cast("double") /
        greatest(col("pna"), col("pnb")).cast("double") >= threshold)
      .filter((least(col("ma") - col("ra"), col("mb") - col("rb")) + lit(4L)).cast("double") >=
        (col("pna") + col("pnb")).cast("double") * lit(tt))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("n_pref"))
      .drop("n_pref")
    jaccardVerify(cand, perDoc, perDoc, threshold)
  }

  /** The ONE Jaccard-verify shape, shared by [[ngramJaccardPairs]] and
    * [[minhashLshPairs]] so the two can never drift: candidate
    * (doc_id_a, doc_id_b) pairs join the per-doc (doc_id, hs, n) sides,
    * the compiled merge walk ([[graft.functions.SortedIntersectCount]],
    * evaluated once) counts the sorted hash-set intersection c, and a
    * pair passes when the double c/(na+nb−c) ≥ threshold — the shape
    * the DuckDB oracles replay.
    */
  private def jaccardVerify(
      cands: DataFrame, sideA: DataFrame, sideB: DataFrame, threshold: Double): DataFrame =
    EvalOnce.withColumns(
        cands
          .join(sideA.select(
            col("doc_id").as("doc_id_a"), col("hs").as("hs_a"), col("n").as("na")), "doc_id_a")
          .join(sideB.select(
            col("doc_id").as("doc_id_b"), col("hs").as("hs_b"), col("n").as("nb")), "doc_id_b"),
        graft.functions.SortedIntersectCount.column(col("hs_a"), col("hs_b")).as("n_common"))
      .withColumn(
        "jaccard",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")

  /** Explicit partition count for the cached shingle-index exchanges,
    * from the CORPUS frame's optimizer stats (file-size-backed for the
    * wired scan inputs): ceil(stats x 16 / 64 MB), floored at the
    * session's parallelism, capped at 64x. Needed because the
    * ranked/perDoc frames persist() and AQE cannot re-plan inside a
    * cached plan (canChangeCachedPlanOutputPartitioning stays false so
    * the per-doc aggregate can RIDE the cache): a conf-pinned count
    * either spills — per-partition bytes grow a decade per decade at
    * the local cores pin (SCALING_r17 ngram_partition_scale_ab_sf100:
    * 1 GB deterministic sort/aggregate spill at sf100, gone at 320
    * partitions) — or, deployment-raised, materializes the cache
    * un-coalesced at the full initial count (the 1.28-1.55x
    * persist-heavy tax SCALING_r17 index_cache_tax_sf01 priced at 10x
    * cores). The x16 expansion ~ hashed-shingle-row bytes per input
    * byte: ~1 row per token (~6 input bytes) at ~50 B a row, measured
    * ~12-25x vs the snappy parquet footprint at sf100 — 16 keeps the
    * post-shuffle chunks near the 64 MB advisory with 2x margin either
    * way. Frames whose stats are unusable (non-positive, or past the
    * 2^52 ≈ 4.5 PB sanity bound — the defaultSizeInBytes sentinel and
    * multi-table join products, never a real corpus scan) fall back to
    * the floor — the old posture, never worse. The bound is
    * deliberately ABOVE any real single-corpus size: a 100 TB scan
    * must reach the cap branch (its sizing IS this function's job),
    * and the cap already limits how wrong a merely-inflated estimate
    * can be (64x floor, reached at ~8.6 GB of stats at 32 cores).
    */
  private[graft] def indexShuffleParts(corpus: DataFrame): Int = {
    val floor = corpus.sparkSession.sparkContext.defaultParallelism
    val cap = BigInt(floor) * 64
    val target = BigInt(64L << 20)
    val stats = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    if (stats <= 0 || stats > (BigInt(1) << 52)) floor
    else ((stats * 16 + target - 1) / target).min(cap).toInt.max(floor)
  }

  /** The ONE candidate tail of the bucketed near-dup operators
    * (MinHash, SimHash, embedding LSH and IVF): cap hot buckets, collect
    * each bucket's `members` aggregate as `ms`, expand the in-bucket
    * pairs with the `pairs` kernel over `ms`, and `distinct` them (a
    * pair can meet in several buckets).
    *
    * The cap drops memberships of a bucket larger than `maxBucketSize`
    * BEFORE the aggregate builds a per-bucket array: the membership
    * count comes from a window over the same bucket key (it shares the
    * aggregation's shuffle — the window sort is the only extra work;
    * PlanAuditSpec pins it), so a degenerate hot bucket never reaches an
    * aggregation buffer. Singleton buckets go too, so every bucket the
    * kernel sees has two members or more. When `dropObs` is supplied,
    * the number of dropped memberships is published as the
    * `dropped_memberships` observed metric of the final action — note
    * Spark delivers observed metrics only for a direct action on the
    * pairs frame; a plan that buries it under a broadcast stage or
    * checkpoint reads nothing (see CorpusPipeline.cleanCorpus's doc).
    * Precision is unaffected (all emitted pairs are still exactly
    * verified); recall loss is confined to pairs whose ONLY shared
    * bucket was dropped — for MinHash's 64-bit band buckets that means
    * signature-identical floods (junk that exact dedup #21 usually
    * catches), but see simhashPairs' scale note: its 16-bit chunk space
    * saturates at corpus scale, so wire `dropObs` in production and
    * alert on non-zero drops.
    */
  private[graft] def bucketPairs(
      buckets: DataFrame,
      keyCols: Seq[String],
      members: Column,
      maxBucketSize: Int,
      dropObs: Option[Observation])(pairs: Column => Column): DataFrame = {
    val keys = keyCols.map(col)
    val sized = buckets.withColumn("bsz", count(lit(1)).over(Window.partitionBy(keys: _*)))
    dropObs.fold(sized)(o => sized.observe(
        o, sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)).as("dropped_memberships")))
      .filter(col("bsz") > 1 && col("bsz") <= maxBucketSize)
      .groupBy(keys: _*)
      .agg(members.as("ms"))
      .select(pairs(col("ms")))
      .distinct()
  }

  /** SURVEY #23: MinHash + banded LSH near-dup pairs. Signatures of 128
    * permutations band into 32 groups of 4 rows; docs sharing any band
    * bucket become candidates (shuffle carries (band, bucket_hash,
    * doc_id) only); candidates are verified with exact Jaccard ≥
    * threshold by semi-joining the candidate pairs back onto the shingle
    * inverted index (candidate set is tiny relative to the corpus, so
    * the verify join is cheap). The materialized per-doc table carries
    * only (doc_id, n, 128-long signature) — never the shingle sets
    * themselves, which at corpus scale would make the checkpoint a
    * corpus-sized artifact. Precision is exact post-verify; recall is
    * the LSH probability curve (spec'd against #22 in DedupSpec).
    *
    * Construction stores the per-doc table and the candidate pairs
    * (eager checkpoints), but the returned frame is LAZY: its verify tail
    * — one broadcast semi-filter candidate-id set behind a distinct
    * shuffle, plus the join stages — runs in whichever consumer
    * materializes the frame first. In `corpus_dedup` that is
    * `ConnectedComponents.dupGroups`' pair checkpoint, so those jobs
    * count against `dupGroups`.
    *
    * @param maxBucketSize hot-bucket cap (see [[bucketPairs]]).
    * @param dropObs optional observation receiving the dropped-membership
    *        count of the final action.
    */
  def minhashLshPairs(
      documents: DataFrame,
      threshold: Double = 0.8,
      maxBucketSize: Int = 4096,
      dropObs: Option[Observation] = None): DataFrame = {
    val (perms, bands) = (128, 32)
    val rows = perms / bands
    // ONE per-row kernel over the raw text builds everything the doc
    // contributes downstream: the fused MinHash signature, the doc's
    // ASCENDING sorted hash-set array (the verify's operand), and its
    // set size ([[graft.functions.MinHashDoc]] — bit-identical to the
    // hashedShingleIndex → repartition(doc_id) → MinHashSig +
    // SortedLongSetAgg + count aggregate it replaces, spec-pinned).
    // Every shingle of a doc is born in the doc's one input row, so
    // the group is complete IN the scan task and that shape's exchange
    // (313 MB of (doc_id, h) at sf10 — a third of the query's shuffle)
    // plus its whole ObjectHashAggregate pass were pure overhead. The
    // per-doc table (corpus-sized — one row per doc) is checkpointed
    // once for its consumers (bucket explode + the verify side, which
    // feeds both join sides); shingle-less docs (< 3 tokens) carry empty arrays and
    // are filtered AFTER the checkpoint barrier, where the aggregate
    // shape simply had no group — filtering pre-checkpoint would
    // re-evaluate the kernel per consuming operator (PushDownPredicates
    // inlines the alias into the filter).
    // CpuSpread (r19): the fused MinHashDoc kernel is the scan stage's
    // CPU; single-task on an unsplittable local file, no-op at scale
    val perDoc = CpuSpread.spread(documents)
      .select(col("doc_id"), graft.functions.MinHashDoc.column(col("text"), perms).as("sig"))
      .select(col("doc_id"), col("sig.mh").as("mh"), col("sig.hs").as("hs"),
        size(col("sig.hs")).cast("long").as("n"))
      // EAGER (r16 audit): lazy, the verify side's BROADCAST id-set
      // build is an async job racing the main job's bucket branch for
      // these blocks — each loser re-runs the corpus scan
      // + minhash kernel (the most expensive lineage in the query).
      // Construction now runs this one job up front (README "Eager
      // construction").
      .localCheckpoint(eager = true)
      .filter(col("n") > 0)
    val buckets = perDoc.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), bnd =>
        xxhash64(slice(col("mh"), bnd * rows + 1, lit(rows))))))
      .toDF("doc_id", "band", "bucket")
    // Group-then-pair instead of a bucket self-join: one linear pipeline,
    // shuffling only (band, bucket, doc_id); pair expansion happens
    // inside each bucket, bounded by the hot-bucket cap. The ids are
    // sorted because pairCombos emits (a, b) in array order.
    val cands = bucketPairs(buckets, Seq("band", "bucket"),
        sort_array(collect_set(col("doc_id"))), maxBucketSize, dropObs)(
        ids => inline(pairCombos(ids)))
      // small (two longs per surviving pair) but consumed twice below
      // (the join chain + the semi-filter id set) — checkpoint so the
      // bucket pipeline runs once, not per consumer. EAGER (r16 audit):
      // the semi-filter consumer sits inside broadcast() — an async
      // build job that, lazy, races the join chain through the whole
      // bucket pipeline.
      .localCheckpoint(eager = true)
    // Jaccard verify IN-STAGE (r10): join each candidate pair against
    // the two per-doc sorted hash-set arrays and count the intersection
    // with a compiled merge walk ([[graft.functions
    // .SortedIntersectCount]]). The exchanges carry candidate pairs and
    // candidate-doc array rows only — never pair×shingle rows (the
    // expand-match-reaggregate shape shuffled |pair|·|shingles| rows
    // twice — 11.8 GB at the sf10 falsifier — with GC-bound 45-195 s
    // spreads, the r9 verdict's unsettled 10.48× flag) and never the
    // CORPUS's array rows: the verify only ever reads docs that appear
    // in some candidate pair, so the per-doc table is semi-filtered
    // MAP-SIDE against ONE broadcast set of candidate ids (both id
    // columns) before the hs arrays enter any join, and that one side
    // feeds both join sides, as in ngramJaccardPairs. Without the
    // filter the static planner sees the checkpoint's unknown stats
    // and SMJs both joins — the whole corpus's hash sets exchanged
    // twice, 282 of the query's 540 shuffle MB at sf10. The arithmetic
    // is [[jaccardVerify]]'s, shared with ngramJaccardPairs, so the
    // DuckDB oracle parity is unchanged.
    val candIds = cands
      .select(explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
      .distinct()
    val side = perDoc.join(broadcast(candIds), Seq("doc_id"), "leftsemi")
    jaccardVerify(cands, side, side, threshold)
  }

  /** Per-doc 64-bit SimHash: per bit, the sign of the ±1 vote sum across
    * shingle hashes, computed by the one fused
    * [[graft.functions.SimHashAgg]] aggregate over a hashed inverted
    * index's (doc_id, h) rows — in production wiring
    * [[mixedShingleIndex]] (RollingHash ∘ Mix64, the DuckDB-replayable
    * hash the q_dedup_simhash oracle depends on; do NOT swap back to
    * [[hashedShingleIndex]]'s xxhash64, which no oracle can replay).
    * Bit-identical to the 64-sum-column formulation it replaced, at a
    * 65-long object buffer instead of a 65-column one.
    */
  private[graft] def simhashes(inv: DataFrame): DataFrame =
    inv.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.column(col("h")).as("simhash"))

  /** SURVEY #24: SimHash near-dups with Hamming distance ≤ maxHamming.
    * Pigeonhole banding: with 4 chunks of 16 bits, any pair within
    * Hamming ≤ 3 shares at least one exact chunk, so the chunk join is a
    * lossless candidate generator (recall 1.0 — spec'd vs brute force)
    * AS LONG AS no bucket exceeds `maxBucketSize`; the shuffle carries
    * (chunk_idx, chunk_value, doc_id) only.
    *
    * Scale honesty: a 16-bit chunk has only 65536 values, so once the
    * corpus passes ~maxBucketSize·65536 docs, ORDINARY buckets hit the
    * cap and recall quietly drops below 1.0 for pairs whose only shared
    * chunk is a capped one — pass `dropObs` in production and treat a
    * non-zero drop count as the signal to shard the corpus (or route
    * near-dup through MinHash-LSH, whose 64-bit band buckets don't
    * saturate). The cap itself is non-negotiable: an over-full chunk
    * bucket means quadratic pair expansion either way.
    */
  def simhashPairs(
      documents: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 4096,
      dropObs: Option[Observation] = None): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding is lossless only up to Hamming 3")
    val sh = simhashes(mixedShingleIndex(documents))
    val chunks = sh.select(
      col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)), c =>
        call_function("shiftright", col("simhash"), c * 16).bitwiseAND(lit(0xffffL)))))
      .toDF("doc_id", "simhash", "chunk", "ck")
    // Group-then-pair with the simhash riding along in the member
    // struct so Hamming verification needs no extra join; hot chunks
    // are capped before any per-bucket array exists. The pair space is
    // scored IN-BUCKET by the HammingPairs streaming generator (r9 —
    // the sf10 falsifier measured the previous explode-distinct-filter
    // shape at 18.5× for 10× rows: with saturated 16-bit chunk spaces
    // the quadratic pair set itself crossed the distinct exchange;
    // the quadratic xor+popcount stays, as CPU, but only pairs within
    // maxHamming — the near-dup set — leave the stage).
    bucketPairs(chunks, Seq("chunk", "ck"),
        collect_set(struct(col("doc_id"), col("simhash"))), maxBucketSize, dropObs)(
        HammingPairs.column(_, maxHamming))
  }

  /** All ordered element pairs (a before b in the sorted input array) as
    * an array of (doc_id_a, doc_id_b) structs — MinHash's in-bucket pair
    * expansion. Membership lists reaching this point are bounded by
    * [[bucketPairs]]' maxBucketSize.
    */
  private def pairCombos(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)), y => struct(x.as("doc_id_a"), y.as("doc_id_b")))))

  /** SURVEY #25 (oracle path): exact embedding-cosine near-dup pairs.
    * O(n²) by definition — valid for oracle-scale corpora and as the
    * verify stage after LSH bucketing; at 100 TB generate candidates
    * with Similarity's hyperplane-LSH buckets instead. The cosine kernel
    * is the DotProduct native expression (codegen'd tight loop whose
    * ascending-index fold matches DuckDB's list_sum bit-for-bit).
    */
  def embeddingNearDupsExact(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    // norm projection + cosine come from Similarity — the ONE definition
    // of the oracle-parity-critical expression shape, shared with the
    // ANN paths and the LSH sibling below. withNorm also centrally
    // filters zero-norm vectors (ANSI division would error the job on
    // them, not NaN — found by the randomized zero-vector gate in
    // DedupSpec, which pins "pairs with nothing")
    val e = Similarity.withNorm(embeddings)
    val a = e.select(col("vec_id").as("vec_id_a"), col("v").as("va"), col("norm").as("na"))
    cosineVerify(
      a.join(e.select(col("vec_id").as("vec_id_b")), col("vec_id_a") < col("vec_id_b"))
        .select("vec_id_a", "vec_id_b", "va", "na"),
      e, threshold)
  }

  /** The ONE cosine-verify shape (vector rejoin on the b side + cosine
    * + threshold), shared by the exact all-pairs path and the two
    * bucketed paths ([[embeddingNearDups]]) so they can never drift. `candsWithA` carries
    * (vec_id_a, vec_id_b, va, na); `e` is the withNorm projection.
    */
  private def cosineVerify(
      candsWithA: DataFrame, e: DataFrame, threshold: Double): DataFrame =
    EvalOnce.withColumns(
        candsWithA.join(
          e.select(col("vec_id").as("vec_id_b"), col("v").as("vb"), col("norm").as("nb")),
          "vec_id_b"),
        Similarity.cosine(col("va"), col("vb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("vec_id_a", "vec_id_b", "cosine")

  /** The (bits, tables) choice for [[embeddingNearDupsLsh]], as a pure
    * function of the corpus size and the quality budget — spec'd
    * directly (DedupSpec) since the recall floor is a THEOREM about
    * these two numbers: a pair at exactly `threshold` cosine matches
    * one table with p₁ = q₁^bits (q₁ = 1 − θ/π), so recall after T
    * OR'd tables is 1 − (1 − p₁)^T ≥ recallFloor.
    */
  private[graft] def lshParams(
      n: Long, threshold: Double, tables: Int, bits: Int,
      targetBucketSize: Int, recallFloor: Double, maxTables: Int): (Int, Int) = {
    val q1 = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    // largest bits for which `maxTables` tables can still reach the
    // recall floor: p1(bits) >= 1 - (1-floor)^(1/maxTables). The cap
    // binds UNCONDITIONALLY — including over a caller-supplied `bits`
    // above it (r10 took max(bits, cap), so an oversized floor request
    // silently produced a configuration whose theoretical recall was
    // below recallFloor — the exact failure mode this function exists
    // to prevent). `bits` is a bucket-granularity FLOOR, recallFloor is
    // the contract; when they conflict, granularity yields (bigger
    // buckets, never silent recall loss).
    val p1Min = 1.0 - math.pow(1.0 - recallFloor, 1.0 / maxTables)
    val bitsCap = math.max(1, (math.log(p1Min) / math.log(q1)).toInt)
    val effBits = math.min(bitsCap, math.max(bits, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucketSize)) / math.log(2.0)).toInt))
    val p1 = math.pow(q1, effBits)
    val tablesEff = math.max(tables, math.min(maxTables.toDouble,
      math.ceil(math.log(1.0 - recallFloor) / math.log(1.0 - p1))).toInt)
    (effBits, tablesEff)
  }

  /** The ONE body of the two embedding scale paths
    * ([[embeddingNearDupsLsh]], [[embeddingNearDupsIvf]]), which differ
    * only in `keysOf`: each vector's bucket-key array over `v`, built
    * from the [[Similarity.stored]] frame, its row count and the
    * embedding dimension, and exploded here into one `key` column.
    * Every vector carries its int16-QUANTIZED
    * payload (r13, verdict item 5 — (vec_id, 2·dim bytes + scale +
    * quantized-norm + norm) instead of the dim·8 B double arrays, ~3.4×
    * fewer bytes on the one corpus-sized exchange, measured 2.9 GB at
    * sf10 for the LSH path) into each of its buckets. Bucket ASSIGNMENT
    * still reads the full-precision vector map-side (before the
    * exchange), so recall is bit-identical to the unquantized pipeline;
    * in-bucket scoring is the [[graft.functions.QuantCosinePairs]]
    * LOSSLESS prefilter (quantized cosine + rigorous per-pair error
    * bound — see its scaladoc for the proof), so no qualifying pair is
    * dropped; and survivors rejoin the full-precision vectors for the
    * exact cosine ([[cosineVerify]]), so emitted RESULTS are
    * bit-identical too. The pair space never crosses an exchange (the
    * r9 falsifier killed that shape on >75 GB of candidate spill); only
    * the distinct candidate ID pairs — 16-byte rows, near-output-sized
    * plus the bound's margin band — cross to the verify. Deduping them
    * BEFORE the verify keeps the verify joins at the distinct-pair
    * count (8.5M vs 60M rows at the sf10 falsifier), and is sound
    * because the verify recomputes one cosine per pair whichever bucket
    * surfaced it. (The measured alternatives both lose: int8's loose
    * bound let ~5× margin-band junk into the distinct exchange, and
    * post-verify dedup shipped the multiplicity through the verify
    * joins.)
    */
  private def embeddingNearDups(
      embeddings: DataFrame, threshold: Double, dropObs: Option[Observation], operator: String)(
      keysOf: (DataFrame, Long, Int) => Column): DataFrame = {
    // consumers: bucketing and both verify sides
    val (e, keys) = Similarity.stored(embeddings, operator, Similarity.NoKeys)(keysOf)
    val buckets = e.select(col("vec_id"),
      graft.functions.QuantizeVec.column(col("v")).as("qs"), col("norm"), explode(keys).as("key"))
    val cands = bucketPairs(buckets, Seq("key"),
        collect_list(struct(
          col("vec_id"), col("qs.q"), col("qs.s"), col("qs.qn"), col("qs.en"), col("norm"))),
        IvfDefaults.MaxBucketSize, dropObs)(
        QuantCosinePairs.column(_, threshold))
    cosineVerify(
      cands.join(
        e.select(col("vec_id").as("vec_id_a"), col("v").as("va"), col("norm").as("na")),
        "vec_id_a"),
      e, threshold)
  }

  /** SURVEY #25 (scale path): the same embedding near-dup pairs with
    * hyperplane-LSH candidate generation instead of the O(n²) cross
    * join: vectors hash into T independent b-bit sign buckets (the
    * fused [[graft.functions.HyperplaneBuckets]] kernel, deterministic
    * seeded planes shared with Similarity), candidate pairs share ≥1
    * bucket (group-then-pair under the same hot-bucket cap as the text
    * dedups — a zero or degenerate vector mass is capped, not
    * exploded), and [[embeddingNearDups]] scores and verifies them.
    * The only corpus-sized shuffle carries QUANTIZED bucketed vectors
    * (n·T rows of 2·dim bytes + 3 doubles). Emitted rows are verified
    * near-dups only. Precision is exact post-verify; recall is the
    * sign-LSH curve — rising with cosine, so true duplicates are
    * near-certain while borderline pairs may be missed (floor spec'd vs
    * [[embeddingNearDupsExact]] in DedupSpec).
    *
    * Sizing at corpus scale: 4 bits is only the FLOOR of the bucket
    * space — the effective bit count grows as
    * `max(4, ceil(log2(n / 128)))`, holding the EXPECTED bucket
    * population ~constant as the corpus grows. That is the
    * load-bearing scale property: with any fixed bit count, bucket
    * population grows linearly in n and the within-bucket pair
    * generation QUADRATICALLY — the r8 sf1 scale run measured exactly
    * that (113× wall time for 10× rows at fixed 4 bits; adaptive bits
    * restored linear behavior). The count that sizes the space rides
    * the checkpoint materialization every consumer needs anyway.
    * The 4-bit floor matches this synthetic corpus's LOW 0.4 threshold
    * (its near-dups top out at cosine ≈0.5 — p_bit ≈ 0.63 vs 0.5 for a
    * random pair, too narrow for ANY sign-LSH family to prune hard).
    * Production near-DUPLICATE detection (threshold ≥ 0.9, p_bit ≥
    * 0.9) is the regime this operator exists for: recall stays
    * near-certain for true dups at 2^4..2^24 bucket spaces because the
    * per-table miss probability compounds over T ≥ 16 independent
    * tables (e.g. cos 0.96, 8 bits: miss ≈ (1−0.91⁸)¹⁶ ≈ 4e-5).
    */
  def embeddingNearDupsLsh(
      embeddings: DataFrame,
      threshold: Double = 0.4,
      dropObs: Option[Observation] = None): DataFrame =
    embeddingNearDups(embeddings, threshold, dropObs, "Dedup.embeddingNearDupsLsh") { (_, n, dim) =>
      // Size the bucket space AND the table count to the data, jointly
      // (r10 — the RecallProfile falsifier measured recall 0.951 at
      // sf0.1 collapsing to 0.376 at sf1 under the r8-r9 scheme, which
      // grew bits with n but held tables at 16): for random hyperplanes,
      // a pair at exactly `threshold` cosine matches one table's bucket
      // with p₁ = (1 − θ/π)^bits, so recall after T OR'd tables is
      // 1 − (1 − p₁)^T. Growing bits alone keeps buckets ~target-sized
      // (linear in-bucket work) but sends p₁ — and recall — to zero.
      // Holding BOTH bounded bucket population and a recall floor forces
      // T ~ n^ρ tables (ρ = ln(1/q₁)/ln 2 — the standard LSH exponent;
      // ≈0.66 at threshold 0.4): inherent to the method, not this
      // implementation. So: bits are capped at the largest value whose
      // 0.85 recall floor is reachable within 128 tables, the table
      // count adapts to the floor, and past the budget boundary
      // (n ≳ 128·2^bitsCap) bucket populations — and in-bucket pair
      // CPU — grow instead, with `dropObs` and the hot-bucket cap as the
      // guard. At that point the production answer is IVF-style
      // sharding ([[embeddingNearDupsIvf]]), not more LSH tables.
      val (effBits, tablesEff) = lshParams(n, threshold, tables = 16, bits = 4,
        targetBucketSize = 128, recallFloor = 0.85, maxTables = 128)
      Similarity.lshKeys(dim, tablesEff, effBits)
    }

  /** The IVF cell-count sizing rule, extracted (r18) so the byte gate
    * is directly spec-gated and the profiling harnesses can report
    * requested-vs-gated cells without re-deriving the arithmetic:
    * demand = max(cellFactor·√n, n·probes/(cap/2)) — the classical √n
    * operating point, lifted so expected multi-probe population stays
    * at half the hot-cell cap; supply = min(maxCells, maxCentroidBytes
    * / (8·dim)) — the count cap AND the centroid-matrix byte gate (the
    * matrix rides the task binary; see the wiring comment at the call
    * site). Floor at max(minCells, probes).
    */
  private[graft] def ivfCellCount(
      n: Long, dim: Int, probes: Int, cellFactor: Double,
      maxCentroidBytes: Long = IvfDefaults.MaxCentroidBytes): Int = {
    import IvfDefaults.{MaxBucketSize, MaxCells, MinCells}
    val cellsByBytes = math.max(MinCells.toLong, maxCentroidBytes / (8L * dim))
    math.max(math.max(MinCells, probes).toLong,
      math.min(math.min(MaxCells.toLong, cellsByBytes),
        math.max(math.ceil(cellFactor * math.sqrt(n.toDouble)).toLong,
          math.ceil(n.toDouble * probes / (MaxBucketSize / 2)).toLong))).toInt
  }

  /** SURVEY #25 (second scale path, r15): the same embedding near-dup
    * pairs through IVF coarse-quantizer sharding instead of LSH tables
    * — the escape the LSH docstring declares for past the table budget,
    * promoted to a real operator after the r15 interleaved decade
    * measurement flagged the LSH exchange as the engine's one
    * superlinear shuffle (sf1→sf10: 117→2958 MB, 25.3× for 10× rows —
    * exactly the T ~ n^ρ table growth the method mandates; wall 10.5×).
    *
    * Shape: fit `nCells ≈ cellFactor·√n` coarse centroids on a BOUNDED
    * sample ([[Similarity.ivfCentroids]] — one hash-cutoff filtered
    * scan + driver-local Lloyd, corpus-size-independent); each vector assigns
    * map-side to its `probes` = 8 nearest cells (full-precision scores
    * through [[graft.functions.ProbeCells]], the annIvfTopK assignment);
    * the ONE corpus-sized exchange carries each vector `probes` times,
    * int16-QUANTIZED (the r13 payload) and keyed by cell — n·probes
    * rows with probes a small CONSTANT, so the exchange grows LINEARLY
    * in n where the LSH sibling's n·T(n) cannot. In-cell pairs pass the
    * same [[graft.functions.QuantCosinePairs]] lossless prefilter under
    * the same hot-cell cap, distinct candidate ID pairs (a pair can
    * meet in up to `probes` shared cells) rejoin full precision for the
    * exact cosine ≥ threshold. Emitted pairs are therefore EXACT
    * (precision 1 vs [[embeddingNearDupsExact]], same cosineVerify).
    *
    * Cell sizing: √n is the classical IVF operating point, but
    * multi-probe population (n·probes/nCells) must also stay under the
    * hot-cell cap — see the sizing expression below. Once the
    * population bound binds, assignment CPU per vector is
    * O(nCells·dim) — growing with n; past that the two-level quantizer
    * (probe √nCells superclusters first, built in r16 — below) caps it.
    *
    * Recall is DATA-DEPENDENT, not a theorem: a pair qualifies iff its
    * two top-`probes` cell sets intersect, which no closed form bounds
    * for arbitrary geometry (contrast the LSH sibling's
    * 1−(1−q₁^bits)^T floor). MEASURED ADJUDICATION (r15, SCALING_r16
    * `lsh_vs_ivf_*`, threshold 0.4 on the near-uniform synthetic —
    * the hardest regime for any bucketing method; sampled-exact ground
    * truth at sf10): at sf10, probes=32 beats the LSH sibling on BOTH
    * recall (0.953 vs 0.886) and shuffle (845 vs 1468 MB), and
    * probes=64 reaches 0.997 at 1163 MB. Holding the 0.88-0.95 recall
    * band across decades needs probes ×2-3 per decade (p=8: 0.99 /
    * 0.88 / 0.65 at sf0.1/1/10) — i.e. n^0.3-0.5 probe growth against
    * the theory-mandated n^0.665 LSH table growth: a real exponent
    * win, measured 18.4× sf1→sf10 shuffle at held-or-better recall vs
    * the LSH sibling's 25.3×, though not an escape from growth
    * altogether at this threshold. r16 re-ran the adjudication at one
    * HEAD and ADDED the clustered ≥0.9 regime (`lsh_vs_ivf_clustered_*`,
    * plant_copies 4: sign-perturbed copies/vector, within-cluster
    * cos≈0.92): the structural claim holds for RECALL — probes=4
    * matches LSH recall at sf1 (0.991 vs 0.992) and sf10/800k (0.959
    * vs 0.953) with 2.5× less shuffle (809 vs 2027 MB) — but WALL
    * flips against IVF past ~10⁵ vectors (59 vs 14 s at 800k
    * clustered; 680 vs 213 s at sf30 uniform held-recall), and the
    * r16 cellFactor sweep (cells ×2/4/8 at fixed probes: 62/102/236 s)
    * proves the bottleneck is coarse ASSIGNMENT — O(nCells·dim) per
    * vector — not the in-cell pair loop, so more cells cannot buy the
    * wall back. (r15's "63 vs 349 s at sf30" wall note did not
    * reproduce and is withdrawn; shuffle and recall claims did.)
    *
    * r16 then BUILT the declared escape: assignment runs through
    * [[graft.functions.ProbeCells]] — one fused kernel doing bounded
    * top-p SELECTION (the r15 shape full-sorted all nCells scores as
    * structs per vector) and, past 1024 cells, TWO-LEVEL pruning
    * through ~√nCells supercluster centroids
    * ([[Similarity.superQuantizer]]), probing max(4, 2·probes)
    * superclusters — see [[Similarity.ivfKeys]] for why that count
    * must scale. Measured (SCALING_r16 `lsh_vs_ivf_*_twolevel_*`):
    * clustered ≥0.9 at 800k vectors, the kernel + auto rule holds
    * recall at 0.94-0.95 (LSH 0.953) while wall drops 59→13-21 s —
    * now BEATING the same-JVM LSH run (33.5 s) on wall AND shuffle
    * (810 vs 2027 MB); uniform thr-0.4 recall is bit-identical to
    * flat (p=32: 0.9532) because auto degrades to flat-equivalent
    * probing at p ≳ √nCells — the asymptotic two-level win exists
    * only when probes ≪ √nCells, which is the clustered regime. Even
    * there the SELECTION half of the kernel pays: sf30's 18.7k cells
    * full-struct-sorted per vector under the r15 shape, and the
    * kernel cut p=32 404→95 s and p=64 680→306 s at held recall
    * (same-JVM LSH 234.6 s — p=32 now beats it on wall AND shuffle
    * one threshold-recall notch below).
    * WIRING: LSH stays the wired default for the MIXED/unknown case —
    * its 1−(1−q₁^b)^T floor is a theorem at any threshold where IVF's
    * recall is data-dependent, and at low thresholds it still wins
    * recall-per-wall; but for the known tight-cluster ≥0.9 near-dup
    * workload this operator is now the measured better choice on
    * every axis except the analytic guarantee. Flat/two-level
    * equality and selection order are spec-gated in ProbeCellsSpec;
    * recall floor in DedupSpec; both regimes profiled in SCALING_r16.
    */
  def embeddingNearDupsIvf(
      embeddings: DataFrame,
      threshold: Double = 0.4,
      cellFactor: Double = 1.0,
      maxCentroidBytes: Long = IvfDefaults.MaxCentroidBytes,
      dropObs: Option[Observation] = None): DataFrame = {
    require(cellFactor > 0.0, s"cellFactor must be positive, got $cellFactor")
    val probes = 8
    embeddingNearDups(embeddings, threshold, dropObs, "Dedup.embeddingNearDupsIvf") { (e, n, dim) =>
      // √n is the classical IVF operating point, but multi-probe puts
      // each vector in `probes` cells, so the EXPECTED population is
      // n·probes/nCells — sized here to stay at half the hot-cell cap,
      // or the cap (a SKEW guard, not a sizing mechanism) would drop
      // every average cell once n·probes outgrows √n·cap/2 (the r15
      // sf10 falsifier: 448 √n-cells at probes=16 put ~7.1k vectors in
      // every cell and the cap silently emptied the candidate stream).
      // centroid-matrix BYTE gate (r17, verdict item 2): the cell matrix
      // rides the plan via addReferenceObj in ProbeCells — nCells·dim·8
      // bytes inside the task binary every executor deserializes. The
      // maxCells=2²⁰ cap bounds the COUNT but not the BYTES: dim-768
      // production embeddings at 2²⁰ cells are a 6 GB matrix, dead long
      // before the cap. DEGRADE rather than refuse: capping nCells only
      // raises expected per-cell population, which the hot-cell cap
      // already guards OBSERVABLY (dropped rows land in dropObs) — a
      // refusal would turn a tunable into an outage at exactly the scale
      // this operator exists for. Default 256 MB ⇒ 512k cells at the
      // testdata's dim 64, ~43k at dim 768.
      val nCells = ivfCellCount(n, dim, probes, cellFactor, maxCentroidBytes = maxCentroidBytes)
      // each vector's top-`probes` cells, on the CORPUS side: both members
      // of a pair probe, so they meet iff their cell sets intersect (in up
      // to `probes` shared cells)
      Similarity.ivfKeys(e, n, nCells, lloydIters = 2)(probes)
    }
  }

  /** Corpus-wide duplicated-SPAN removal (SURVEY §2 #46) — the
    * distributed re-expression of exact substring deduplication
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"), at k-token granularity: any k-token window that
    * occurs more than once in the ENTIRE corpus (across documents or
    * within one) keeps only its globally first occurrence — ordered by
    * (doc_id, position) — and every token covered by any OTHER
    * occurrence of any duplicated window is removed from its document.
    * This is the dedup the doc-level operators cannot do: boilerplate
    * headers, license blocks, and quoted passages pasted into otherwise
    * unique documents survive MinHash/SimHash (document similarity
    * stays low) but are exactly what inflates memorization.
    *
    * Token-level removal semantics (document-shared with the oracle): a
    * token inside a globally-first window can still be removed when a
    * DIFFERENT duplicated window overlapping it is non-canonical —
    * removal is the union of non-canonical window spans, the same
    * greedy approximation the reference implementations ship, not a
    * minimal-cut.
    *
    * Plan shape at 100 TB: tokenization and window building run inside
    * the scan stage (array transform — no exchange); the ONE
    * window-set-sized exchange is the win-keyed shuffle feeding a
    * single WindowExec pass (r13) that computes occurrence count and
    * the canonical occurrence together — no duplicated-window
    * aggregate, no join back against the window set, no materialized
    * window cache. Occurrence
    * order rides a `(doc_id, pos)` struct whose `min` is an analytic
    * function over the win partitioning (structs order
    * lexicographically, so
    * struct-min == "earliest doc, then earliest position" for the
    * FULL 64-bit doc_id range — no packed-BIGINT overflow cliff at
    * 2³¹ documents), so the canonical pick never needs a global
    * sort. Window equality rides a
    * 128-bit double-xxhash64 key through every exchange (r12 — the
    * window text never reaches the output, so the swap is invisible
    * outside n²/2¹²⁸ collision odds; the string replay lives in the
    * DuckDB oracle, which hash-gates the equivalence). Windows build
    * in the native positional generator
    * [[graft.functions.TokenWindows]] — a streamed in-scan flatMap,
    * replacing the interpreted transform/slice lambda. Removal and
    * reassembly (r13) gather each document's non-canonical window
    * STARTS — 12-byte rows, k× fewer than the expanded covered set the
    * previous tail moved — and rebuild the text with
    * [[graft.functions.RemoveSpans]]' interval walk over the
    * checkpointed token arrays: O(doc) work per document, and the only
    * post-scan exchange the text itself crosses is the final
    * doc-keyed join, each token array once (zero when the span-starts
    * side is small enough to broadcast; AQE decides).
    */
  def dedupSpans(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // EAGER (r16 audit): the windows chain and the final span-removal
    // join's probe side are independent branches of one job — when the
    // join goes sort-merge (the at-scale shape: spanStarts outgrows the
    // broadcast threshold), both map stages are submitted concurrently
    // and, lazy, race the block store, each re-running the corpus text
    // scan + split. SCALING_r16 `ckpt_race_ab_dedup_spans_sf10` records
    // the before/after at sf10.
    // CpuSpread (r19): the split + downstream token_windows generator
    // are scan-stage CPU; single-task on an unsplittable local file,
    // no-op at scale
    val toks = CpuSpread.spread(documents)
      .select(col("doc_id").cast("long").as("doc_id"), split(col("text"), " ").as("toks"))
      .localCheckpoint(eager = true) // consumers: windows, the final span-removal join
    // one row per k-token window with its start position, via the
    // native positional generator (a streamed in-scan flatMap; the SQL
    // transform/slice lambda formulation runs interpreted and re-slices
    // the array per window). concat_ws(' ', toks) round-trips the
    // single-space split exactly (empties kept), so the windows index
    // the checkpointed token frame without rescanning the source. Short
    // docs (fewer than k tokens) contribute no windows and pass
    // through whole.
    val wins = toks
      .select(col("doc_id"), TokenWindows.column(concat_ws(" ", col("toks")), k))
      // the window TEXT never reaches the output (clean_text rebuilds
      // from token positions), so window equality rides a 128-bit
      // key — two SEED-SEPARATED streams of the same xxhash64 family
      // (distinct constant prefixes). This is deliberately WEAKER than
      // CC's fingerprint, which pairs two different hash families for
      // cross-family independence; a seed-separated pair's streams are
      // not provably independent, so the ~n²/2¹²⁸ collision figure
      // below is the heuristic uniform-hashing estimate, not a
      // family-independence theorem (ADVICE r12 — the two comments
      // used to claim the same construction). The ONE window-set
      // exchange moves 16-byte keys instead of ~50-byte strings, and
      // the dup test compares longs, not text. Distinct windows
      // colliding in BOTH streams is the only divergence from string
      // equality: ~n²/2¹²⁸
      // heuristically — far tighter than the hashed-shingle space's
      // accepted n²/2⁶⁴ even with generous slack for seed
      // correlation, and the DuckDB oracle (exact string replay)
      // hash-gates exactly this equivalence.
      .select(col("doc_id"), col("pos"),
        struct(
          xxhash64(col("win")),
          xxhash64(lit(-7046029254386353131L), col("win"))).as("win"))
    // NON-canonical occurrences of duplicated windows in ONE pass over
    // the win-partitioned window set (r13): occurrence count and the
    // canonical (first) occurrence are window functions over the same
    // partitionBy(win) spec — one exchange, one in-partition sort, a
    // streamed WindowExec — where the former shape aggregated the
    // duplicated-window set and sort-merge-joined it back against the
    // window set (a second full-set sort plus the merge, and a
    // materialized k×-corpus-sized cache so the two consumers could
    // share the exchange; with a single consumer the cache — and its
    // eviction/recompute cliff at cluster scale — is gone). Skew
    // honesty: WindowExec BUFFERS each win group (spilling via
    // ExternalAppendOnlyUnsafeRowArray past 4096 rows), so a
    // pathologically hot window — one k-gram repeated ~10⁹ times —
    // re-spills rows the partition sort already spilled once; the
    // join shape streamed that case after the same sort. Both
    // degrade to disk, not OOM, and the window pass's single sort
    // beats the join's two everywhere short of that pathology.
    val wDup = Window.partitionBy("win")
    // EXPLICIT repartition rather than letting EnsureRequirements
    // insert the window's exchange: the rows and partitioning are
    // identical either way, but the measured shuffle WRITE differs —
    // 662 MB (repartition) vs 845 MB (planner-inserted) at sf10 on the
    // same data, reproducibly across sessions; wall time par. Keep the
    // smaller-freight form; if a Spark upgrade equalizes the writers,
    // this line becomes a harmless no-op hint.
    val winsR = wins.repartition(col("win"))
    // START positions of every non-canonical occurrence, gathered per
    // document: the tail's exchange moves 12-byte (doc_id, pos) rows —
    // k× fewer than the expanded covered-position set the pre-r13
    // shape shuffled — and span expansion, the covered-union, and text
    // reassembly all happen inside [[graft.functions.RemoveSpans]]'
    // O(tokens + starts) interval walk over the ALREADY-checkpointed
    // token arrays. The corpus text crosses at most the ONE doc-keyed
    // join exchange below (the pre-r13 tail posexploded every token,
    // anti-joined the covered set, and re-aggregated the whole corpus
    // through a groupBy(doc_id) just to rebuild strings `toks`
    // already held).
    val spanStarts = winsR
      // one Project holding BOTH analytic expressions: sequential
      // withColumns would extract into two stacked WindowExec passes
      // (same sort, but the group buffer walked twice — PlanAuditSpec
      // pins the single pass)
      .select(col("doc_id"), col("pos"),
        count(lit(1)).over(wDup).as("c"),
        min(struct(col("doc_id"), col("pos"))).over(wDup).as("canon"))
      .where(col("c") >= 2 && struct(col("doc_id"), col("pos")) =!= col("canon"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    // left join from the full doc frame: docs with no duplicated spans
    // pass through whole (empty starts — exact round trip), and a
    // fully-duplicated document surfaces as an empty row, not vanishes
    toks
      .join(spanStarts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        graft.functions.RemoveSpans.column(
          col("toks"),
          coalesce(col("starts"), expr("cast(array() as array<int>)")),
          k).as("rs"))
      .select(
        col("doc_id"),
        col("rs.clean_text").as("clean_text"),
        col("rs.n_kept").as("n_kept"),
        col("rs.n_removed").as("n_removed"))
  }
}
