package graft.operators

import scala.util.Random

import graft.functions.{DotProduct, HyperplaneBuckets, ProbeCells, TopKByScore}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (SURVEY §2 #26-27):
  * exact brute-force top-k cosine neighbors and the hyperplane-LSH and
  * IVF approximate variants.
  *
  * 100 TB shape: the query set is small and BROADCAST; the corpus is
  * scanned once (the LSH/IVF paths store the (vec_id, v, norm)
  * projection, [[stored]], before fanning out to their multiple
  * consumers — r7: they previously rescanned the source per consumer);
  * all three operators score their candidates in one broadcast join,
  * [[annTopK]], and per-query top-k runs through the bounded-heap
  * [[graft.functions.TopKByScore]] aggregate, so each task ships one
  * k-entry heap per query and the only shuffle is Q heap buffers — no
  * crossJoin materialization, no N·Q-row exchange. The LSH and IVF
  * variants additionally prune the scored pairs to key-sharing ones.
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

  /** The key array of an empty corpus: no vector, no key. */
  private[graft] val NoKeys: Column = typedLit(Seq.empty[Long])

  /** The one stored input of the scale-path vector operators
    * ([[annLshTopK]], [[annIvfTopK]] and the two embedding dedup paths):
    * the [[withNorm]] frame, stored by one eager checkpoint job that also
    * observes its row count and its smallest and largest vector size, so
    * sizing an index costs no job of its own. EAGER (r16 audit): each
    * caller reads the frame several times, some inside broadcast(), whose
    * async build jobs would race a lazy store and re-run the scan per
    * loser. `keysOf(e, n, dim)` builds the caller's per-vector key array
    * from the stored frame, its row count and its dimension. It never
    * sees an empty corpus: then every key is `none`, and the one plan
    * keeps its schema.
    * Mixed dimensions fail here, naming both sizes, before any kernel runs.
    */
  private[graft] def stored[K](embeddings: DataFrame, operator: String, none: K)(
      keysOf: (DataFrame, Long, Int) => K): (DataFrame, K) = {
    val obs = Observation()
    val e = withNorm(embeddings)
      .observe(obs, count(lit(1)).as("n"),
        min(size(col("v"))).as("lo"), max(size(col("v"))).as("hi"))
      .localCheckpoint(eager = true)
    val m = Observed.metrics(obs, operator, "n")
    // an empty corpus observes NULL sizes, which unbox to 0 == 0
    val (n, lo, hi) =
      (m("n").asInstanceOf[Long], m("lo").asInstanceOf[Int], m("hi").asInstanceOf[Int])
    require(lo == hi,
      s"$operator: embeddings mix dimensions $lo and $hi; every vector must have one size")
    (e, if (n == 0) none else keysOf(e, n, lo))
  }

  /** Shared output tail of every ANN path: exact cosine of each
    * (query_id, qv, qn) × (vec_id, v, norm) candidate row, then per-query
    * bounded-heap top-k, exploded to the (query_id, rank, neighbor_id,
    * cosine) contract.
    */
  private def topKExplode(candidates: DataFrame, k: Int): DataFrame =
    candidates
      .select(
        col("query_id"), col("vec_id"),
        cosine(col("qv"), col("v"), col("qn"), col("norm")).as("cos"))
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
  def annBruteForceTopK(embeddings: DataFrame, k: Int = 10, nQueries: Int = 10): DataFrame =
    annTopK(withNorm(embeddings), k, nQueries, None)

  /** Deterministic random hyperplanes: `tables`·`bits` unit-free normal
    * vectors from a fixed seed (no runtime randomness — plans must be
    * reproducible run-to-run).
    */
  private[graft] def hyperplanes(dim: Int, tables: Int, bits: Int): Seq[Seq[Double]] = {
    val rnd = new Random(42L)
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
    * were resolved arbitrarily by TakeOrdered too. `nRows` is the row
    * count of `e`, and the draw trusts it: both callers pass their
    * stored frame's observed count. An understated count makes the
    * first draw a full collect.
    */
  private[graft] def fitDraw(
      e: DataFrame, target: Int, nRows: Long): Array[Array[Double]] = {
    // a non-positive nRows would mean frac = 1.0 — a full-corpus
    // collect, the exact maxResultSize abort this draw replaces; every
    // caller sizes its own corpus
    require(nRows > 0, s"fitDraw needs the corpus row count, got $nRows")
    def draw(frac: Double): Array[(Long, Array[Double])] =
      e.withColumn("h", xxhash64(col("vec_id")))
        .filter(col("h") <= hashCutoff(frac))
        .select(col("h"), col("v"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    var frac = math.min(1.0, 1.5 * target.toDouble / nRows)
    var drawn = draw(frac)
    while (drawn.length < target && frac < 1.0) {
      frac = math.min(1.0, frac * 2)
      drawn = draw(frac)
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
    // ASSIGNMENT (ProbeCells, in [[ivfKeys]])
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

  /** The one IVF key array: fits [[ivfCentroids]] on the stored frame,
    * then gives each vector its `probes` nearest cells as one array
    * through the fused [[graft.functions.ProbeCells]] kernel. Past
    * 1024 fitted cells the kernel goes TWO-LEVEL: ~√nCells supercluster
    * centroids ([[superQuantizer]], fitted once, on first use) prune the
    * per-vector assignment CPU the r16 cellFactor sweep measured as IVF's
    * wall bottleneck (SCALING_r16 lsh_vs_ivf_clustered_sf10); below that,
    * flat selection reproduces the r15 set (and order) exactly, so the
    * oracle-gated small-SF results are unchanged. The supercluster probe
    * count max(4, 2·probes) trades recall for assignment CPU; with all
    * supers probed the result equals flat EXACTLY (ProbeCellsSpec). It
    * must scale with probes: in the clustered ≥0.9 regime a pair's cells
    * co-locate in few superclusters (sp=4 at p=1/2 was bit-identical to
    * flat at 2.2× less wall), but in near-uniform low-threshold geometry
    * the top-p cells spread over ~p superclusters, and a fixed sp=4
    * gutted p=32 recall 0.953→0.649 (SCALING_r16 lsh_vs_ivf_sf10_twolevel).
    * At p ≳ √nCells the rule probes every supercluster, flat-equivalent
    * output; r17's boundary sweep (SCALING_r17 lsh_vs_ivf_sf10_knee)
    * found probe-all there costs 2.3× assignment wall over sp=p for the
    * last +1.2 % recall, while the clustered regime needs the full 2p.
    * The dispatch reads the FITTED cell count, not the requested one
    * (ADVICE r16): the fit returns fewer cells than requested when the
    * corpus has fewer non-zero vectors, and deciding on the request could
    * run two-level pruning in exactly the small-matrix regime the flat
    * branch promises is exact.
    */
  private[graft] def ivfKeys(
      e: DataFrame, n: Long, nCentroids: Int, lloydIters: Int): Int => Column = {
    val centroids = ivfCentroids(e, n, nCentroids, lloydIters)
    val nEff = centroids.length
    lazy val (supers, offsets, members) = superQuantizer(centroids)
    probes => {
      val p = math.min(probes, nEff)
      if (nEff < 1024 || p >= nEff) ProbeCells.flat(col("v"), centroids, p)
      else ProbeCells.twoLevel(col("v"), centroids, p, supers, math.max(4, 2 * p), offsets, members)
    }
  }

  /** The one LSH key array: each vector's `tables` `bits`-bit sign
    * buckets from the fused [[graft.functions.HyperplaneBuckets]] kernel
    * (per-plane literal DotProducts regress codegen size and bucketing
    * cost ~5×), each paired with its table index, so two vectors' keys
    * meet exactly when they share a bucket in one table. The planes are
    * [[hyperplanes]]' seeded draw, so every vector buckets alike.
    */
  private[graft] def lshKeys(dim: Int, tables: Int, bits: Int): Column =
    arrays_zip(sequence(lit(0), lit(tables - 1)),
      HyperplaneBuckets.buckets(col("v"), hyperplanes(dim, tables, bits), tables, bits))

  /** The one ANN top-k body: corpus rows (vec_id, v, norm, ck) join the
    * broadcast query rows `vec_id < nQueries`, as (query_id, qv, qn, qk),
    * once, on vec_id ≠ query_id and arrays_overlap(ck, qk), where `keys`
    * gives the corpus and query key arrays over `v`; brute force passes
    * None and drops the key predicate. A join emits each (query, vector)
    * pair at most once however many keys it shares, and each candidate
    * row carries both vectors, so the exact cosine and the bounded-heap
    * top-k follow with no distinct and no rejoin. Every candidate row of
    * a corpus vector is produced in that vector's own scan task. The key
    * arrays go through [[EvalOnce]]: the join's inferred `isnotnull`
    * would otherwise copy their kernel into a Filter.
    */
  private def annTopK(
      e: DataFrame, k: Int, nQueries: Int, keys: Option[(Column, Column)]): DataFrame = {
    def keyed(df: DataFrame, key: Option[Column], name: String): DataFrame =
      key.fold(df)(c => EvalOnce.withColumns(df, c.as(name)))
    val queries = keyed(e.filter(col("vec_id") < nQueries), keys.map(_._2), "qk")
      .withColumnsRenamed(Map("vec_id" -> "query_id", "v" -> "qv", "norm" -> "qn"))
    val meets = keys.fold(lit(true))(_ => arrays_overlap(col("ck"), col("qk")))
    topKExplode(keyed(e, keys.map(_._1), "ck")
      .join(broadcast(queries), col("vec_id") =!= col("query_id") && meets), k)
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
    * Cell assignment (top-1) and query probing (top-nProbe) are the
    * [[ivfKeys]] arrays the IVF dedup path uses, and the candidates run
    * the [[annTopK]] body: a corpus vector meets a query when its cell
    * is among the query's probes. Past 1024 fitted centroids the keys
    * probe two-level (max(4, 2·probes) superclusters) instead of flat, as
    * the dedup path always has; no query or spec runs that many.
    */
  def annIvfTopK(
      embeddings: DataFrame,
      k: Int = 10,
      nQueries: Int = 10,
      nCentroids: Int = 16,
      nProbe: Int = 12,
      lloydIters: Int = 1): DataFrame = {
    val (e, probe) = stored(embeddings, "Similarity.annIvfTopK", (_: Int) => NoKeys)(
      (e, n, _) => ivfKeys(e, n, nCentroids, lloydIters))
    annTopK(e, k, nQueries, Some((probe(1), probe(nProbe))))
  }

  /** SURVEY #27: hyperplane-LSH approximate top-k. Corpus and queries
    * hash into `tables` independent `bits`-bit sign buckets; candidates
    * are corpus vectors sharing any bucket of one table with a query
    * (the tiny query side broadcast), then exact cosine + bounded-heap
    * top-k on the candidate set only ([[lshKeys]] on both sides of the
    * [[annTopK]] body). Recall vs
    * the exact #26 is spec'd in SimilaritySpec; on uniform data recall
    * rises with `tables` and falls with `bits` (the standard LSH curve).
    */
  def annLshTopK(
      embeddings: DataFrame,
      k: Int = 10,
      nQueries: Int = 10,
      tables: Int = 12,
      bits: Int = 4): DataFrame = {
    val (e, keys) = stored(embeddings, "Similarity.annLshTopK", NoKeys)(
      (_, _, dim) => lshKeys(dim, tables, bits))
    annTopK(e, k, nQueries, Some((keys, keys)))
  }
}
