package graft.operators

import scala.util.Random

import graft.functions.{DotProduct, HyperplaneBuckets, ProbeCells, TopKByScore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY §2 #26-27):
  * exact brute-force top-k cosine neighbors and a random-hyperplane-LSH
  * approximate variant.
  *
  * 100 TB shape: the query set is small and BROADCAST; the corpus is
  * scanned once (the LSH/IVF paths materialize the (vec_id, v, norm)
  * projection before fanning out to their multiple consumers — r7: they
  * previously rescanned the source per consumer); per-query top-k runs
  * through the bounded-heap
  * [[graft.functions.TopKByScore]] aggregate, so each task ships one
  * k-entry heap per query and the only shuffle is Q heap buffers — no
  * crossJoin materialization, no N·Q-row exchange. The LSH variant
  * additionally prunes the scan to bucket-colliding candidates.
  */
object Similarity {

  private[graft] def cosine(va: Column, vb: Column, na: Column, nb: Column): Column =
    DotProduct.column(va, vb) / sqrt(na) / sqrt(nb)

  /** The (vec_id, v, norm²) projection every scoring path starts from.
    * Zero-norm vectors are FILTERED here, centrally: cosine against
    * them is undefined, and under ANSI mode (the Spark 4 default this
    * engine runs) the shared cosine expression's division ERRORS the
    * job on a zero norm rather than producing a droppable NaN — so a
    * single degenerate embedding row would crash every ANN/dedup
    * query. Excluded rows can be neither queries (their top-k is
    * undefined; they emit no output rows) nor neighbors/pair members —
    * pinned by the randomized zero-vector gate in DedupSpec.
    */
  private[graft] def withNorm(embeddings: DataFrame): DataFrame = {
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", DotProduct.column(col("v"), col("v")))
      .filter(col("norm") > 0.0)
  }

  /** Embedding dimension, read from the first row — ANN paths must never
    * guess it (the kernels raise on mismatch rather than truncating).
    * Cached so repeated ANN calls over the same source (a tuning sweep,
    * the spec suite) pay the one-row job once. The key is the plan's
    * SEMANTIC HASH + schema, never the plan object: a retained
    * LogicalPlan pins everything it references (LocalRelation rows,
    * localCheckpoint RDDs and their executor blocks) for the cache's
    * lifetime — a multi-GB leak per entry. A hash collision at equal
    * schema could only return a wrong dim, which the kernels' dimension
    * checks catch loudly. Bounded as a true access-order LRU of 64.
    */
  private val dimCache =
    new java.util.LinkedHashMap[(Int, String), Integer](
      16, 0.75f, /* accessOrder = */ true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String), Integer]): Boolean = size() > 64
    }

  private[graft] def dimOf(embeddings: DataFrame): Int = {
    val d = dimIfAny(embeddings)
    require(d.nonEmpty,
      "dimOf: embeddings input has no non-NULL vector — ANN needs at least one to size its index")
    d.get
  }

  /** [[dimOf]], or None when the input has no non-NULL vector (an empty
    * table, or only NULL embeddings): then [[withNorm]] leaves no row
    * for an index to hold. Only found dimensions are cached.
    */
  private def dimIfAny(embeddings: DataFrame): Option[Int] = {
    val analyzed = embeddings.queryExecution.analyzed
    val key = (analyzed.semanticHash(), analyzed.schema.catalogString)
    val hit = dimCache.synchronized(dimCache.get(key))
    if (hit != null) Some(hit.intValue)
    else {
      // skip NULL embeddings rather than require the FIRST scanned row
      // be non-null: every consumer (withNorm, the kernels) already
      // drops NULL vectors, so whether the sampler trips on one must
      // not depend on scan order / file layout (r17 review finding —
      // the IVF byte gate made this a wired-path crash). The null
      // filter is on the COLUMN, not on size(): under legacy
      // sizeOfNull semantics (an ansi=false foreign/spark-submit
      // session, which Sessions' scaladoc explicitly supports)
      // size(NULL) is -1, not NULL, and a size-based filter would
      // pass a NULL row through as dimension -1 (r17 ADVICE).
      val row = embeddings.filter(col("embedding").isNotNull)
        .select(size(col("embedding")).as("d")).limit(1).collect()
      row.headOption.map { r =>
        val d = r.getInt(0)
        require(d >= 0,
          s"dimOf: size(embedding) returned $d — a negative size can only mean legacy " +
            "null semantics leaked past the null filter or a non-array column")
        dimCache.synchronized(dimCache.put(key, Integer.valueOf(d)))
        d
      }
    }
  }

  /** Shared output tail of every ANN path: per-query bounded-heap top-k
    * over (query_id, vec_id, cos) scored candidates, exploded to the
    * (query_id, rank, neighbor_id, cosine) contract.
    */
  private def topKExplode(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(TopKByScore.column(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("bigint").as("rank"),
        col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"))

  /** SURVEY #26: exact top-k cosine neighbors (self excluded) for the
    * query set `vec_id < nQueries`. Deterministic ordering: score DESC,
    * neighbor id ASC.
    */
  def annBruteForceTopK(embeddings: DataFrame, k: Int = 10, nQueries: Int = 10): DataFrame = {
    val e = withNorm(embeddings)
    val queries = e.select(
      col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
      .filter(col("query_id") < nQueries)
    val scored = e.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("vec_id"),
        cosine(col("qv"), col("v"), col("qn"), col("norm")).as("cos"))
    topKExplode(scored, k)
  }

  /** Deterministic random hyperplanes: `tables`·`bits` unit-free normal
    * vectors from a fixed seed (no runtime randomness — plans must be
    * reproducible run-to-run).
    */
  private[graft] def hyperplanes(dim: Int, tables: Int, bits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(tables * bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** The unsigned-64 hash value below which a uniform xxhash64 lands
    * with probability `frac` — the pre-filter the fit draw uses to
    * bound per-task collect results.
    */
  private[graft] def hashCutoff(frac: Double): Long =
    if (frac >= 1.0) Long.MaxValue
    else (BigDecimal(Long.MinValue) + BigDecimal(2).pow(64) * BigDecimal(frac))
      .setScale(0, BigDecimal.RoundingMode.FLOOR).toLongExact

  /** The fit draw: the `target` corpus vectors with the smallest
    * xxhash64(vec_id) (a seeded pseudo-random draw). Implemented as a
    * hash-CUTOFF filter + one parallel collect + a driver-side sort,
    * NOT orderBy(h).limit(target): TakeOrdered returns up to `target`
    * rows PER TASK, and at production dims that blows
    * spark.driver.maxResultSize long before the driver holds the
    * sample — measured (r18, SCALING_r18 ivf_dim768_byte_gate): the
    * 43,690-cell dim-768 fit shipped ~151 MB per task and aborted at
    * 7 tasks/1.06 GB against the 1 GB default. The cutoff passes
    * ~1.5x `target` rows TOTAL (binomial, margin 1.5 — undershoot
    * probability < e^(-target/50) at the 4096 floor, and the
    * deterministic x2 escalation loop covers even that, bounding any
    * single collect at ~3x the sample bytes — x8 was reviewed out: one
    * jump from the gate-ceiling sample would itself clear 1 GB), so
    * the collect moves ~1.5x the sample bytes regardless of dim, and
    * the 256 MB centroid byte gate bounds the sample bytes themselves.
    * Hash ties at the cutoff boundary are 64-bit-collision rare and
    * were resolved arbitrarily by TakeOrdered too.
    */
  private[graft] def fitDraw(
      e: DataFrame, target: Int, nRows: Long): Array[Array[Double]] = {
    // a non-positive nRows would mean frac = 1.0 — a full-corpus
    // collect, the exact maxResultSize abort this draw replaces; every
    // caller sizes its own corpus
    require(nRows > 0, s"fitDraw needs the corpus row count, got $nRows")
    var frac = math.min(1.0, 1.5 * target.toDouble / nRows)
    var drawn: Array[(Long, Array[Double])] = Array.empty
    var done = false
    // r19 (ADVICE): `nRows` is a convention-enforced contract; a caller
    // that badly UNDERestimates the true count of `e` (e.g. passes 10
    // for a billion-row corpus) starts frac at 1.0 — the exact
    // full-corpus maxResultSize collect this draw exists to prevent.
    // r20 (the verdict's fit-profile item): r19's guard paid a FULL
    // count() scan on the COMMON path — every wired caller whose
    // corpus is draw-sized (n < 1.5·target, i.e. every bench-scale
    // corpus) started at frac = 1.0 and verified a count it had just
    // computed itself. The guard is now a bounded probe of the 8-byte
    // hash column ALONE: take at most 4·target+1 hashes (limit+collect
    // is executeTake — an incremental partition scan, so even a lying
    // caller moves ~8 bytes a row, never vectors and never the corpus).
    // A COMPLETE probe proves the corpus really is draw-sized, and the
    // frac = 1.0 cutoff collect below fetches its vectors; a TRUNCATED
    // probe proves the claim wrong, and only then is the count() paid
    // to rebase frac — subsequent escalation doubles from the verified
    // baseline, so a later frac=1.0 collect only happens when the
    // corpus truly is draw-sized. Which hashes a truncated take returns
    // is irrelevant: a truncated probe is always discarded.
    var countVerified = false
    while (!done) {
      if (frac >= 1.0 && !countVerified) {
        countVerified = true
        val cap = 4 * target + 1
        val probed = e.select(xxhash64(col("vec_id")).as("h")).limit(cap).collect().length
        if (probed >= cap) {
          val realN = e.count()
          System.err.println(
            s"[graft] fitDraw: caller claimed nRows=$nRows but corpus has " +
              s"$realN rows; rebasing draw fraction on the real count " +
              s"instead of a full-corpus collect")
          frac = math.min(1.0, 1.5 * target.toDouble / realN)
        }
      }
      val cutoff = hashCutoff(frac)
      drawn = e.withColumn("h", xxhash64(col("vec_id")))
        .filter(col("h") <= cutoff)
        .select(col("h"), col("v"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      done = drawn.length >= target || frac >= 1.0
      if (!done) frac = math.min(1.0, frac * 2)
    }
    drawn.sortBy(_._1).take(target).map(_._2)
  }

  /** Fit-sample floor: the draw holds at least this many vectors, and
    * the hierarchical and supercluster fits Lloyd-refine at most this
    * many rows per group.
    */
  private val FitSample = 4096

  /** Lloyd iterations of the supercluster fit in [[superQuantizer]]. */
  private val SuperLloydIters = 2

  /** Deterministic IVF coarse quantizer: seed centroids are the corpus
    * vectors with the `nCentroids` smallest xxhash64(vec_id) (a seeded
    * pseudo-random draw), refined with `lloydIters` Lloyd iterations run
    * driver-local on that bounded draw. The returned centroid table is tiny
    * (C × dim doubles) and lives on the driver — index construction is a
    * fit step, like any ML estimator.
    */
  private[graft] def ivfCentroids(
      normed: DataFrame, nRows: Long, nCentroids: Int, lloydIters: Int,
      hierThreshold: Int = 4096): Seq[Seq[Double]] = {
    // Bounded fit: ONE cluster-side filtered-collect job draws the
    // max(nCentroids, FitSample) vectors with the smallest
    // xxhash64(vec_id) (see [[fitDraw]] for why it is a hash cutoff,
    // not a TakeOrdered), and the Lloyd refinement runs driver-local on
    // that sample matrix — the standard train-on-a-sample coarse
    // quantizer. `normed` is the caller's materialized [[withNorm]]
    // frame (zero vectors can neither seed nor steer a cell — withNorm
    // already excludes them) and `nRows` its row count; without the
    // stored frame each draw round would re-scan and re-norm the raw
    // source (at 800k x dim 768, a full parquet rescan). The final cell
    // ASSIGNMENT (ProbeCells, in annIvfTopK and embeddingNearDupsIvf)
    // stays exact and distributed over the full corpus. The first
    // nCentroids of the draw seed the cells; fit scoring is
    // [[nearestRow]], the driver twin of the ProbeCells rule.
    //
    // Past `hierThreshold` effective cells the fit goes HIERARCHICAL
    // (r17, verdict item 2): the flat Lloyd is O(iters·sample·nCells·
    // dim) with sample ≥ nCells — QUADRATIC in nCells and driver-local
    // (10⁸ vectors at probes 32 size to ~1.5M cells under the dedup
    // population rule = a 10¹⁴-flop single-thread fit). See
    // [[hierarchicalCells]]. At or below the threshold the flat path
    // is byte-identical to the r15/r16 fit, so every oracled small-SF
    // result is unchanged.
    // an all-zero/empty corpus has nothing to seed cells with: return
    // the empty matrix (pEff = 0 downstream) instead of tripping
    // fitDraw's positive-count require with a confusing message
    if (nRows == 0) return Seq.empty
    val sample = fitDraw(normed, math.max(nCentroids, FitSample), nRows)
    val effective = math.min(nCentroids, sample.length)
    val cells =
      if (effective <= hierThreshold)
        lloydRefine(sample, sample.take(nCentroids), lloydIters)
      else hierarchicalCells(sample, effective, lloydIters)
    cells.map(_.toSeq).toSeq
  }

  private def rowNorms(mat: Array[Array[Double]]): Array[Double] =
    mat.map(c => math.sqrt(c.map(x => x * x).sum))

  /** The one Lloyd refinement: assign every sample vector to its
    * [[nearestRow]], recompute means, `iters` times; empty clusters
    * keep their previous centroid. The flat fit, each super of the
    * hierarchical fit and the supercluster fit all run it, so every
    * fit is bit-identical to the r15/r16 loops it replaced.
    */
  private def lloydRefine(
      sample: Array[Array[Double]],
      seeds: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = seeds.map(_.clone())
    val nC = centroids.length
    for (_ <- 1 to iters if nC > 0) {
      val dim = centroids(0).length
      val norms = rowNorms(centroids)
      val sums = Array.fill(nC)(new Array[Double](dim))
      val counts = new Array[Long](nC)
      for (v <- sample) {
        require(v.length == dim, s"ivf fit dimension mismatch: expected $dim, got ${v.length}")
        val best = nearestRow(v, centroids, norms, dim)
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(nC) { c =>
        // empty clusters keep their previous centroid
        if (counts(c) == 0L) centroids(c)
        else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Index of the best-scoring row of `mat` for `v` — the one driver-side
    * scoring loop, the twin of [[graft.functions.ProbeCells]]' top-1:
    * norm-scaled dot, zero-norm rows never win, first-max tie-break.
    */
  private def nearestRow(
      v: Array[Double], mat: Array[Array[Double]], norms: Array[Double], dim: Int): Int = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < mat.length) {
      if (norms(c) != 0.0) {
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += v(i) * mat(c)(i); i += 1 }
        val s = acc / norms(c)
        if (s > bestS) { bestS = s; best = c }
      }
      c += 1
    }
    best
  }

  /** [[nearestRow]] of every vector, parallel over driver cores. */
  private def nearestRows(vs: Array[Array[Double]], mat: Array[Array[Double]]): Array[Int] = {
    val norms = rowNorms(mat)
    val dim = mat.head.length
    val out = new Array[Int](vs.length)
    java.util.stream.IntStream.range(0, vs.length).parallel()
      .forEach(i => out(i) = nearestRow(vs(i), mat, norms, dim))
    out
  }

  /** The one CSR builder: group `i` lands in group `assign(i)`, and the
    * returned (offsets, members) lists each group's ids in ascending
    * order (a stable counting pass), members(offsets(g) until
    * offsets(g + 1)) for group g.
    */
  private def csr(assign: Array[Int], groups: Int): (Array[Int], Array[Int]) = {
    val offsets = new Array[Int](groups + 1)
    assign.foreach(a => offsets(a + 1) += 1)
    var g = 0
    while (g < groups) { offsets(g + 1) += offsets(g); g += 1 }
    val cursor = offsets.clone()
    val members = new Array[Int](assign.length)
    var i = 0
    while (i < assign.length) { val a = assign(i); members(cursor(a)) = i; cursor(a) += 1; i += 1 }
    (offsets, members)
  }

  /** Hierarchical coarse fit (r17, verdict item 2) — the escape from
    * the flat fit's O(nCells²·dim) driver Lloyd once the requested cell
    * count outgrows `hierThreshold`:
    *
    *  1. fit ~√nCells SUPER centroids with the ordinary Lloyd over the
    *     bounded `FitSample` prefix of the draw (the supers only steer
    *     sample partitioning — they never ship anywhere);
    *  2. assign EVERY drawn sample vector to its nearest super — one
    *     O(sample·√nCells·dim) pass, parallel over driver cores;
    *  3. give each super a proportional share of the nCells quota
    *     (largest-remainder, capped by its member count — the caps
    *     redistribute, so exactly min(nCells, sample) cells come back)
    *     and Lloyd-refine its cells from its OWN members, seeded by the
    *     first `quota` members in the global hash-draw order (the flat
    *     seeding rule, applied within the super). Each super's refine
    *     set is capped at max(quota, FitSample) stride-sampled members,
    *     so a skewed super cannot reintroduce the quadratic.
    *
    * Total driver cost O(nCells^1.5·dim·iters) with steps 2-3 parallel
    * over cores (~10⁹ flops at 10⁵ cells, vs ~10¹² flat), and no change
    * anywhere downstream: the returned matrix has the same shape,
    * scoring rule, and determinism (stable allocation, stable
    * member order) — it just places cells via a two-level sample
    * partition, the fit-side mirror of the two-level PROBE the r16
    * kernel already runs. Recall impact is measured, not argued
    * (SCALING_r17 hier-fit keys). Cell→super grouping is deliberately
    * NOT returned: downstream superQuantizer re-derives supers from the
    * final refined cells (≈0.2 s at 20k cells, parallel), keeping this
    * function's contract identical to the flat path's.
    */
  private def hierarchicalCells(
      sample: Array[Array[Double]],
      nCentroids: Int,
      lloydIters: Int): Array[Array[Double]] = {
    val n = sample.length
    val target = math.min(nCentroids, n)
    val sRows = math.max(1, math.ceil(math.sqrt(target.toDouble)).toInt)
    val supers = lloydRefine(
      sample.take(math.min(FitSample, n)), sample.take(sRows), lloydIters)
    val sEff = supers.length
    // CSR members per super, preserving the global hash-draw order so
    // per-super seeding follows the same "first k of the draw" rule the
    // flat fit uses
    val (offsets, members) = csr(nearestRows(sample, supers), sEff)
    val counts = Array.tabulate(sEff)(s => offsets(s + 1) - offsets(s))
    // proportional quota, largest remainder, capped by member count.
    // Σcounts = n ≥ target, so the remainder loop always terminates
    // with Σquota = target exactly.
    val quota = new Array[Int](sEff)
    val frac = new Array[Double](sEff)
    var allocated = 0
    var s = 0
    while (s < sEff) {
      val ideal = target.toDouble * counts(s) / n
      quota(s) = math.min(counts(s), ideal.toInt)
      frac(s) = ideal - ideal.toInt
      allocated += quota(s)
      s += 1
    }
    var rem = target - allocated
    val order = Array.range(0, sEff).sortBy(si => -frac(si))
    var guard = 0
    while (rem > 0) {
      var k = 0
      while (k < sEff && rem > 0) {
        val si = order(k)
        if (quota(si) < counts(si)) { quota(si) += 1; rem -= 1 }
        k += 1
      }
      guard += 1
      require(guard <= target + 1, "hierarchical quota allocation failed to converge")
    }
    val outOffsets = new Array[Int](sEff + 1)
    s = 0
    while (s < sEff) { outOffsets(s + 1) = outOffsets(s) + quota(s); s += 1 }
    val out = new Array[Array[Double]](target)
    java.util.stream.IntStream.range(0, sEff).parallel().forEach { sp =>
      val q = quota(sp)
      if (q > 0) {
        val mCount = counts(sp)
        val memA = Array.tabulate(mCount)(j => sample(members(offsets(sp) + j)))
        // bounded per-super refine set: seeds stay the first q members
        // (flat rule); the Lloyd sample is a stride-thinning past
        // max(q, FitSample) members so per-super cost is
        // O(max(q, FitSample)·q·dim), never O(members·q·dim)
        val cap = math.max(q, math.min(mCount, FitSample))
        val fit =
          if (mCount <= cap) memA
          else {
            val stride = mCount.toDouble / cap
            Array.tabulate(cap)(j => memA((j * stride).toInt))
          }
        val cells = lloydRefine(fit, memA.take(q), lloydIters)
        var j = 0
        while (j < q) { out(outOffsets(sp) + j) = cells(j); j += 1 }
      }
    }
    out
  }

  /** Second quantizer level over an already-fit cell matrix (SURVEY §2
    * #25, r16): groups the `nCells` cell centroids under ~√nCells
    * SUPERCLUSTER centroids so [[graft.functions.ProbeCells]] can score
    * O(√nCells + members·superProbes) centroids per vector instead of
    * all nCells — the assignment-CPU cap the r16 cellFactor sweep
    * showed is what IVF wall needs (SCALING_r16
    * `lsh_vs_ivf_clustered_sf10`: more cells made wall WORSE, 62/102/
    * 236 s at ×2/4/8, because every vector scored every cell).
    *
    * Entirely driver-local like the Lloyd refinement above — the cell
    * matrix is already on the driver (≤ maxCells × dim doubles), the
    * fit runs [[lloydRefine]] on a ≤ `FitSample` stride-sample of it,
    * and the final cell→super assignment parallelizes over
    * driver cores (it is O(nCells·√nCells·dim) — ~0.2 s at 20k cells,
    * and nCells is capped at 2²⁰ upstream). Returns the supercluster
    * matrix plus a CSR (offsets, members) partition of ALL cell ids:
    * every cell lands in exactly one supercluster, so probing all
    * superclusters reproduces flat assignment EXACTLY (the spec gate).
    */
  private[graft] def superQuantizer(
      cells: Seq[Seq[Double]]): (Seq[Seq[Double]], Array[Int], Array[Int]) = {
    val nC = cells.length
    require(nC > 0, "superQuantizer needs at least one cell")
    val sRows = math.max(1, math.ceil(math.sqrt(nC.toDouble)).toInt)
    val cellArr: Array[Array[Double]] = cells.map(_.toArray).toArray
    // deterministic stride sample: the cell matrix itself came from a
    // hashed corpus draw, so stride order carries no structure
    val stride = math.max(1, nC / FitSample)
    val sample: Array[Array[Double]] =
      Iterator.range(0, nC, stride).map(cellArr(_)).toArray
    val supers = lloydRefine(sample, sample.take(sRows), SuperLloydIters)
    // CSR over ascending cell ids within each supercluster — the probe
    // kernel's tie order is (score desc, cell asc), and member order
    // does not affect its selection, but determinism keeps plans
    // byte-identical across builds
    val (offsets, members) = csr(nearestRows(cellArr, supers), supers.length)
    // drop EMPTY superclusters before shipping the matrix: Lloyd can
    // strand a seed with no assigned cells, and a vector that spends
    // one of its superProbes slots on an empty super gets nothing back
    // for it — silently thinning the candidate pool the pruning recall
    // depends on. An empty group's offsets repeat, so dropping it
    // leaves `members` as is and the distinct offsets as the CSR.
    val kept = supers.indices.filter(s => offsets(s + 1) > offsets(s))
    (kept.map(supers(_).toSeq), offsets.distinct, members)
  }

  /** SURVEY #27 (scale-path sibling): IVF approximate top-k. The corpus
    * partitions into `nCentroids` Voronoi cells; each query probes its
    * `nProbe` nearest cells, and exact cosine + bounded-heap top-k runs
    * on the probed candidates only — the scan fraction is ~nProbe/C.
    * Same broadcast-queries / heap-shuffle shape as the other ANN paths;
    * recall spec'd vs brute force in SimilaritySpec (floor 0.8; the
    * parameter sweep is recorded in SURVEY.md). Defaults are tuned
    * for the synthetic NEAR-UNIFORM corpus, where recall can only track
    * scan fraction (16 cells / 12 probes ⇒ recall ≈0.92 at ~75% scan);
    * clustered real embeddings buy much more recall per probed cell, so
    * production should re-sweep nProbe downward on its own data.
    * Cell assignment (top-1) and query probing (top-nProbe) both run
    * the [[graft.functions.ProbeCells]] kernel the IVF dedup path uses.
    */
  def annIvfTopK(
      embeddings: DataFrame,
      k: Int = 10,
      nQueries: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 12,
      lloydIters: Int = 1): DataFrame = {
    // materialized once — the corpus assignment and the query projection
    // would otherwise each rescan the source and recompute norms.
    // EAGER (r16 audit): the query projection sits inside broadcast()
    // — an async build job that, lazy, races the corpus branch for
    // these blocks and rescans the source per loser. Built BEFORE the
    // fit since r18 so BOTH the fit draw's sizing count and the draw's
    // own filtered collect read stored blocks instead of re-scanning
    // and re-norming the source.
    // r20: the fit's sizing count rides the checkpoint job as an
    // observed metric — previously a separate stored-block count() job
    // (the fit-vs-probe profile had construction at ~half this query's
    // wall, 7 driver jobs).
    val nObs = org.apache.spark.sql.Observation()
    val e = withNorm(embeddings)
      .observe(nObs, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val centroids = ivfCentroids(
      e, Observed.metrics(nObs, "Similarity.annIvfTopK", "n")("n").asInstanceOf[Long],
      nCentroids, lloydIters)
    // the top-1 cell as a generator output, not an alias: the join's
    // inferred isnotnull(cluster) filter would otherwise copy the kernel
    // (see [[EvalOnce]])
    val corpus = e.select(col("*"), explode(ProbeCells.flat(col("v"), centroids, 1)).as("cluster"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(
        col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"),
        explode(ProbeCells.flat(col("v"), centroids, math.min(nProbe, centroids.length)))
          .as("cluster"))
    topKExplode(
      corpus.join(broadcast(queries), Seq("cluster"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(
          col("query_id"), col("vec_id"),
          cosine(col("qv"), col("v"), col("qn"), col("norm")).as("cos")),
      k)
  }

  /** The LSH feature stage BEFORE materialization: (vec_id, v, norm,
    * bkts) with bucketing through the fused HyperplaneBuckets kernel.
    * Split out so the plan audit can assert the kernel (the checkpoint
    * in annLshTopK hides the producing plan from downstream explain).
    */
  private[graft] def lshFeatures(embeddings: DataFrame, tables: Int, bits: Int): DataFrame = {
    // no non-NULL vector: withNorm leaves no row, so 0-wide planes bucket nothing
    val planes = hyperplanes(dimIfAny(embeddings).getOrElse(0), tables, bits)
    withNorm(embeddings)
      .withColumn("bkts", HyperplaneBuckets.buckets(col("v"), planes, tables, bits))
  }

  /** SURVEY #27: hyperplane-LSH approximate top-k. Corpus and queries
    * hash into `tables` independent `bits`-bit sign buckets; candidates
    * are corpus vectors sharing any bucket with a query (bucket join on
    * (table, bucket) with the tiny query side broadcast), then exact
    * cosine + bounded-heap top-k on the candidate set only. Recall vs
    * the exact #26 is spec'd in SimilaritySpec; on uniform data recall
    * rises with `tables` and falls with `bits` (the standard LSH curve).
    */
  def annLshTopK(
      embeddings: DataFrame,
      k: Int = 10,
      nQueries: Int = 10,
      tables: Int = 12,
      bits: Int = 4): DataFrame = {
    // hyperplane width must match the data — a guessed default would
    // now crash in the kernel's dimension check instead of degrading
    // materialized once: FOUR consumers (corpus buckets, query buckets,
    // the vector rejoin, the query vectors) would otherwise each rescan
    // the source and recompute the norms — the "write the feature table
    // once" step, same as the dedup LSH paths. EAGER (r16 audit): TWO
    // of the four consumers (query buckets, query vectors) sit inside
    // broadcast() — async build jobs that, lazy, race each other and
    // the corpus branches, each loser re-running the scan + feature
    // kernel.
    val e = lshFeatures(embeddings, tables, bits).localCheckpoint(eager = true)
    // Candidate (query_id, vec_id) pairs are deduped BEFORE any cosine is
    // computed: a pair colliding in several of the `tables` buckets would
    // otherwise be scored up to `tables`× (and deduping scored rows would
    // hinge on bitwise-identical doubles). The bucket join itself moves
    // only (tbl, bucket, vec_id) — vectors rejoin after the dedup.
    val corpusBuckets = e.select(
      col("vec_id"), posexplode(col("bkts")).as(Seq("tbl", "bucket")))
    val queryBuckets = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), posexplode(col("bkts")).as(Seq("tbl", "bucket")))
    val candPairs = corpusBuckets.join(broadcast(queryBuckets), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .distinct()
    val queries = e.filter(col("vec_id") < nQueries).select(
      col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
    topKExplode(
      candPairs
        .join(e.select(col("vec_id"), col("v"), col("norm")), "vec_id")
        .join(broadcast(queries), "query_id")
        .select(
          col("query_id"), col("vec_id"),
          cosine(col("qv"), col("v"), col("qn"), col("norm")).as("cos")),
      k)
  }
}
