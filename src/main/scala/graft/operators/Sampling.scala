package graft.operators

import graft.functions.{FibFinish, RollingHash, TopKByScore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data pipelines
  * (SURVEY §2 — LLM-pipeline block). Re-expresses the downsampling /
  * train-eval split step every corpus build runs; the reference has no
  * sampling surface, so this is engine-native design.
  *
  * Both operators key off a CONTENT-DERIVED hash, not `rand()`: the
  * sample is a pure function of the row, so re-runs, retried tasks, and
  * incremental reprocessing select the same rows (rand() resamples per
  * task attempt — silent train/eval contamination at scale). The raw
  * rolling hash of a decimal id string has most of its entropy in the
  * low bits (sequential ids differ only in the last digits), so the key
  * is finished with a Fibonacci multiply — golden-ratio multiplicative
  * hashing (Knuth, TAOCP §6.4): the wrapping 64-bit product spreads any
  * input stride across the high bits, and the TOP 24 bits become the
  * key. Every step (wrapping multiply, unsigned shift) is replayable in
  * the DuckDB oracle via HUGEINT arithmetic, which is what hash-gates
  * these queries.
  *
  * Scale shape: [[stratifiedSample]] is a stateless projection + filter
  * — no shuffle, fully pushdown-compatible, embarrassingly parallel at
  * any scale. [[fixedSizePerStratum]] is one partial-aggregated shuffle
  * whose map-side output is a k-entry heap per (task, stratum) — the
  * same bounded-heap contract as ANN's top-k (TopKByScore), so a
  * 100 TB stratum ships k rows per task, never its data.
  */
object Sampling {

  /** Sample keys are uniform in [0, 2^24). */
  val KeySpace: Long = 1L << 24

  /** 24-bit deterministic sample key of an id column: rolling-hash the
    * decimal string, then the FibFinish native finisher (wrapping
    * golden-ratio multiply, top 24 bits — ANSI-mode `*` would throw on
    * the wrap).
    */
  private[graft] def sampleKey(id: Column): Column =
    FibFinish.column(RollingHash.column(id.cast("string")))

  private def keyed(events: DataFrame): DataFrame =
    EvalOnce.withColumns(events, sampleKey(col("event_id")).as("sample_key"))

  /** Per-stratum Bernoulli downsampling: keep a row iff its sample key
    * falls under its stratum's rate threshold. `rates` is an explicit
    * allowlist — strata not listed are dropped entirely (the common
    * corpus-build contract: name what you keep). rate 1.0 keeps every
    * row of the stratum; the expected kept fraction of stratum s is
    * rates(s) to within the 2^-24 threshold quantization.
    */
  def stratifiedSample(events: DataFrame, rates: Map[String, Double]): DataFrame = {
    require(rates.nonEmpty, "rates must name at least one stratum")
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0), s"rates must be in [0,1]: $rates")
    val threshold = rates.foldLeft(lit(-1L)) { case (acc, (stratum, rate)) =>
      when(col("event_type") === lit(stratum),
        lit(math.floor(rate * KeySpace).toLong)).otherwise(acc)
    }
    keyed(events)
      .filter(col("sample_key") < threshold)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("value"), col("sample_key"))
  }

  /** Deterministic, leakage-safe train/val/test split: every row is
    * labeled by where its GROUP key's sample key falls in the
    * cumulative weight ladder, so all rows of a user land in the same
    * split (splitting i.i.d. by row would leak a user's behavior
    * across train and eval — the classic contamination bug). A pure
    * projection: no shuffle, no state, stable across re-runs and
    * backfills because the key derives from row content.
    *
    * @param weights ordered (split-name, weight) list, weights summing
    *        to 1 (±1e-9); the LAST split absorbs the key-space
    *        remainder so rounding never drops a row.
    */
  def splitAssign(events: DataFrame, weights: Seq[(String, Double)]): DataFrame = {
    require(weights.size >= 2, "need at least two splits")
    require(weights.forall(_._2 > 0.0), s"weights must be positive: $weights")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1: $weights")
    val key = sampleKey(col("user_id"))
    val cuts = weights.map(_._2).scanLeft(0.0)(_ + _).tail // cumulative
    val label = weights.init.zip(cuts.init).foldRight(lit(weights.last._1)) {
      case (((name, _), cut), acc) =>
        when(key < lit(math.floor(cut * KeySpace).toLong), lit(name)).otherwise(acc)
    }
    // when() chains evaluate in order, so the FIRST matching threshold
    // wins — foldRight builds exactly that ladder
    events.select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
      col("value"), label.as("split"))
  }

  /** Fixed-size deterministic sample: the k rows of each stratum with
    * the smallest sample keys (ties broken by event_id), emitted as a
    * ranked manifest (stratum, rank, event_id, sample_key). Because the
    * key is uniform, this is a uniform without-replacement sample of
    * exactly min(k, |stratum|) rows — and because it runs on the
    * bounded-heap TopKByScore aggregate, each map task ships a k-entry
    * heap per stratum instead of sorting the stratum (the window
    * row_number() formulation would sort every stratum end-to-end).
    */
  def fixedSizePerStratum(events: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    keyed(events)
      .groupBy("event_type")
      // TopKByScore keeps the HIGHEST scores; negate the key so the
      // smallest keys win (tiebreak inside the heap is already id ASC)
      .agg(TopKByScore.column(-col("sample_key").cast("double"), col("event_id"), k).as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(
        col("event_type"),
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("event_id"),
        (-col("col.score")).cast("long").as("sample_key"))
  }

  /** Domain-mixture resampling (SURVEY §2 #47): downsample per `source`
    * so the OUTPUT corpus matches the `target` mixture proportions
    * while keeping the maximum total possible — the static
    * domain-weighting step (Pile-style mixing, DoReMi's final apply)
    * every multi-source corpus build runs between cleaning and
    * packing. Feasibility is set by the scarcest source relative to
    * its weight: output total N = min_s(n_s / w_s), so source s keeps
    * rate_s = w_s·N / n_s — the limiting source keeps everything,
    * everything else Bernoulli-downsamples by the same content-derived
    * [[sampleKey]] as [[stratifiedSample]] (re-run/backfill-stable,
    * no rand()). Sources not named in `target` are dropped (name what
    * you keep). Expected output mixture is `target` to within the
    * 2^-24 threshold quantization.
    *
    * Scale shape: one partial-aggregated count per source (#sources
    * rows), a 1-row global min, and a broadcast of the #sources-row
    * rate table back onto a stateless filter projection — the corpus
    * crosses ZERO wide exchanges. The rate arithmetic
    * (`w * cap / n`, `least`, `floor`) is written token-identically in
    * the oracle so the IEEE doubles — and therefore the integer
    * thresholds — match exactly.
    */
  def mixtureResample(documents: DataFrame, target: Map[String, Double]): DataFrame =
    applyMixture(documents, mixtureThresholds(documents, target))

  /** The fit half of [[mixtureResample]]: the #sources-row
    * (source, thr) rate table, computed from per-source counts. Fit
    * once on the batch corpus, then [[applyMixture]] is a stateless
    * filter — including over a `readStream` (the fit-once /
    * apply-streaming contract: incremental ingest keeps the rates the
    * batch fit chose; re-fit when the corpus composition drifts).
    */
  def mixtureThresholds(documents: DataFrame, target: Map[String, Double]): DataFrame = {
    require(target.nonEmpty, "target must name at least one source")
    require(target.values.forall(_ > 0.0), s"target weights must be positive: $target")
    require(math.abs(target.values.sum - 1.0) < 1e-9, s"target must sum to 1: $target")
    val wcol = target.foldLeft(lit(-1.0)) { case (acc, (s, wt)) =>
      when(col("source") === lit(s), lit(wt)).otherwise(acc)
    }
    val counts = documents.groupBy("source")
      .agg(count(lit(1)).cast("double").as("n"))
      .withColumn("w", wcol)
      .where(col("w") > 0)
    val cap = counts.agg(min(col("n") / col("w")).as("cap"))
    // the limiting source (n/w == cap — exact: min returns one of the
    // computed doubles) pins its threshold to the full key space; for
    // weights not exactly representable in binary, w*cap/n can round to
    // 0.99999999999999989 and floor would shave the top key off the
    // very source the contract says keeps everything
    counts.crossJoin(broadcast(cap))
      .select(col("source"),
        when(col("n") / col("w") === col("cap"), lit(KeySpace))
          .otherwise(
            floor(least(lit(1.0), col("w") * col("cap") / col("n")) * lit(KeySpace.toDouble))
              .cast("long"))
          .as("thr"))
  }

  /** The apply half of [[mixtureResample]]: key, broadcast-join the
    * rate table, filter. Stateless and content-keyed, so it composes
    * unchanged with a streaming `documents` (stream–static broadcast
    * join) and the streamed output equals the batch output row-for-row
    * regardless of micro-batch chunking — spec'd in StreamingSpec.
    */
  def applyMixture(documents: DataFrame, thresholds: DataFrame): DataFrame = {
    EvalOnce.withColumns(documents.select(col("doc_id"), col("source"), col("lang")),
        sampleKey(col("doc_id")).as("sample_key"))
      .join(broadcast(thresholds), "source")
      .filter(col("sample_key") < col("thr"))
      .select(col("doc_id"), col("source"), col("lang"), col("sample_key"))
  }

  /** Deterministic global shuffle + shard assignment (SURVEY §2 #48):
    * every document gets its position in the content-keyed shuffled
    * order — `(sample_key, doc_id)`, re-run-stable, no rand() — and the
    * shard `pos % shards` it trains from; the shuffle-then-shard step
    * every training run performs between packing and data loading.
    *
    * A global rank is a global sort, but NOT a single-task window (the
    * `row_number() OVER (ORDER BY ...)` formulation concentrates the
    * corpus into one task): this runs the same two-phase distributed
    * prefix sum as [[graft.operators.Packing]] — bucket by
    * equal-frequency sample-key ranges (approx_percentile cuts; ties
    * stay in one bucket because assignment counts cuts strictly below),
    * rank WITHIN buckets via a partitioned window, then offset each
    * bucket by the exclusive prefix sum of bucket counts — a
    * deliberately unpartitioned window over exactly `buckets` rows.
    * Every phase shuffles (doc_id, key) longs only.
    */
  def shuffleShard(documents: DataFrame, shards: Int, buckets: Int = 32): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val keyed = documents
      .select(col("doc_id"), sampleKey(col("doc_id")).as("skey"))
      // EAGER (r16 audit, ADVICE r15): the cut sketch feeds a
      // broadcast() — an ASYNC build job that, lazy, races the main
      // job's rank branch for these blocks; this is the exact shape
      // the CC r15 diagnosis tied to a LocalRDDCheckpointData
      // storage-level assertion, not just wasted rescans.
      .localCheckpoint(eager = true) // consumers: cut sketch + bucketed rank
    val bucketed =
      if (buckets == 1) keyed.withColumn("bucket", lit(0))
      else keyed.crossJoin(broadcast(keyedCuts(keyed, buckets)))
        .withColumn("bucket", bucketOfKey)
        .drop("cuts")
    val wLocal = Window.partitionBy("bucket").orderBy("skey", "doc_id")
    val local = bucketed.withColumn("lrank", row_number().over(wLocal))
      // EAGER (r16 audit): the bucket-totals aggregate feeds a
      // broadcast() — same async-build race as `keyed` above.
      .localCheckpoint(eager = true) // consumers: final projection + bucket totals
    val wOffset = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("bucket").agg(count(lit(1)).as("btot"))
      .withColumn("bucket_offset", coalesce(sum("btot").over(wOffset), lit(0L)))
      .select("bucket", "bucket_offset")
    local.join(broadcast(offsets), "bucket")
      .withColumn("shuffle_pos", col("bucket_offset") + col("lrank") - 1)
      .select(
        col("doc_id"),
        col("skey").as("sample_key"),
        col("shuffle_pos"),
        pmod(col("shuffle_pos"), lit(shards.toLong)).as("shard"))
  }

  /** Bucket membership of a keyed row against a broadcast `cuts` array:
    * count of cuts strictly below keeps tied keys in one bucket.
    */
  private def bucketOfKey: Column =
    expr("CAST(aggregate(cuts, 0, (acc, c) -> acc + IF(skey > c, 1, 0)) AS INT)")

  private def keyedCuts(keyed: DataFrame, buckets: Int): DataFrame = {
    val fracs = (1 until buckets).map(i => i.toDouble / buckets).mkString(", ")
    keyed.agg(expr(s"approx_percentile(skey, array($fracs), 10000)").as("cuts"))
  }

  /** The fit half of [[shuffleShard]]'s bucketing: the 1-row
    * equal-frequency cut table over the corpus's sample keys. The
    * GLOBAL rank (and therefore `shuffle_pos`/`shard`) is inherently a
    * batch compaction — a stream cannot know a row's position in an
    * order it hasn't finished seeing — but bucket ROUTING is the
    * streamable half: fit the cuts once on the batch corpus, and
    * [[assignShuffleBuckets]] places incrementally-ingested documents
    * into the same equal-frequency buckets statelessly, so a periodic
    * per-bucket compaction (rank within bucket + offsets) can extend
    * the shuffled order without re-ranking the corpus. Re-fit when key
    * distribution drift unbalances the buckets.
    */
  def shuffleCuts(documents: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 1, s"need at least two buckets for a cut table, got $buckets")
    keyedCuts(documents.select(col("doc_id"), sampleKey(col("doc_id")).as("skey")), buckets)
  }

  /** The apply half: key each document and place it against a FROZEN
    * cut table. Stateless (broadcast join on a constant key — the
    * stream–static join form Structured Streaming supports), so the
    * streamed assignment equals the batch assignment row-for-row
    * regardless of micro-batch chunking — spec'd in StreamingSpec.
    */
  def assignShuffleBuckets(documents: DataFrame, cuts: DataFrame): DataFrame = {
    documents
      .select(col("doc_id"), sampleKey(col("doc_id")).as("skey"))
      .withColumn("one", lit(1))
      .join(broadcast(cuts.withColumn("one", lit(1))), "one")
      .withColumn("bucket", bucketOfKey)
      .select(col("doc_id"), col("skey").as("sample_key"), col("bucket"))
  }
}
