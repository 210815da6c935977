package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Connected components over a near-dup pair list: pairs → canonical
  * dup GROUPS (doc_id, group_id = min doc_id in its component). Pair
  * emission alone under-deletes: A~B and B~C chains must collapse to
  * one group even when A~C was never emitted.
  *
  * Algorithm: min-label propagation — every vertex starts labeled with
  * itself; each round takes the min of its own and its neighbors'
  * labels; fixpoint when no label changes. Each round is ONE join and
  * ONE partial-aggregated min (r14): the neighbor labels from the join
  * and every vertex's own label (a union branch) feed the same
  * groupBy(dst) aggregate, so min(self ∪ neighbors) needs no second
  * join back to the labels — the previous left-join + least/coalesce
  * shape paid an extra sort-merge pass over the labels per round for
  * the same value. Only the LABELS shuffle per round — the symmetric
  * edge set is cached pre-partitioned and pre-sorted on the join key,
  * and never payloads move; rounds = component diameter, and near-dup
  * components are shallow in practice (stars around a canonical doc).
  * Convergence is
  * detected by the label-sum invariant: labels only ever decrease, so
  * the sum (exact, DECIMAL — a 1e9-vertex sum overflows int64) is
  * strictly monotone until fixpoint — no per-row diff join needed.
  * Propagation caps at `maxIter` and raises rather than silently
  * emitting a half-converged labeling.
  *
  * Only vertices that appear in a pair are labeled — singleton docs
  * need no group and would dominate the output at corpus scale.
  *
  * Measured trade (r15, CcShapeAB — interleaved same-JVM full runs of
  * this shape vs the replicated pre-fusion r13 shape over identical
  * materialized pairs): the fused round runs 4 fewer stages per
  * propagation (17 → 13 at 2 rounds) but is ~8-20 % SLOWER in local
  * wall at sf0.1-sf10, because the merge hint suppresses the
  * broadcast-hash join AQE would pick for a test-scale labels side.
  * That is the intended trade: at corpus scale labels is |V|-sized and
  * un-broadcastable, the edge cache is pre-sorted precisely to serve
  * the SMJ, and the broadcast path raced the lazily-checkpointed
  * labels' materialization. BENCH_r14's +22 % q_dedup_groups move was
  * host noise on top of this ~1-2 % full-query effect (the ngram pair
  * derivation dominates the wired query; the same binary re-benched at
  * r13 levels the next session).
  *
  * For adversarially deep graphs (rounds = diameter makes a long chain
  * pathological), [[dupGroups]]' `starContraction = true` switches to
  * large-star/small-star contraction (Kiveris et al., "Connected
  * Components in MapReduce and Beyond"): alternating rounds rewire
  * every node to its neighborhood minimum, squaring the label-jump per
  * round — O(log n) rounds for ANY topology, at the cost of two
  * groupBy+join passes per round instead of one. Near-dup graphs are
  * shallow stars in practice, so propagation stays the default.
  */
object ConnectedComponents {

  /** Per-round instrumentation hook for measurement harnesses (r17,
    * verdict item 5 — CcRoundsAB attributes the fourth-decade wall
    * excess to round count vs per-round cost): called after each
    * completed round with (algo, 1-based round index, round wall
    * seconds). Null in production; one volatile read per ROUND, never
    * per row, so the hot path pays nothing.
    */
  @volatile private[graft] var roundHook: (String, Int, Double) => Unit = null

  /** Unpersist the block-manager blocks behind a localCheckpointed
    * DataFrame (its analyzed plan is the `LogicalRDD` wrapping the
    * checkpointed RDD). `Dataset.unpersist` only touches the cache
    * manager, not checkpoint blocks — without this, a 50-round
    * propagation holds every superseded round's labels in memory until
    * the JVM GCs the references (linear block growth with diameter).
    * Callers must be DONE with the DataFrame: a lazily-checkpointed
    * RDD's lineage is truncated, so unpersisted blocks cannot be
    * recomputed.
    */
  /** The star loop's 5-component edge-set fingerprint aggregates,
    * shared (r20) between the per-round aggregate job and the initial
    * checkpoint-job observation so both compute identical values:
    * edge count, two INDEPENDENT order-invariant 64-bit XOR checksums,
    * and the exact DECIMAL sums of both endpoint columns.
    * bit_xor: order-independent and overflow-free under ANSI mode.
    * The two checksum streams come from DIFFERENT hash families —
    * xxhash64 and a 64-bit pack of two Murmur3 words (Spark's `hash`)
    * with swapped argument order — so a collision class structural to
    * one family does not carry to the other (a same-function second
    * stream distinguished only by a seed prefix would not give that).
    * No precise joint bound is claimed; with the exact count and the
    * exact DECIMAL coordinate sums alongside, a false fixpoint needs a
    * simultaneous collision across five structurally different
    * aggregates of the same edge set. Exact sums are DECIMAL because a
    * 1e9-edge sum of 64-bit ids overflows int64.
    */
  private def fingerprintExprs: Seq[Column] = Seq(
    count(lit(1)).as("fp_n"),
    coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("fp_x1"),
    coalesce(bit_xor(
      shiftleft(hash(col("u"), col("v")).cast("long"), 32)
        .bitwiseOR(hash(col("v"), col("u")).cast("long").bitwiseAND(lit(0xFFFFFFFFL)))),
      lit(0L)).as("fp_x2"),
    sum(col("u").cast("decimal(38,0)")).as("fp_su"),
    sum(col("v").cast("decimal(38,0)")).as("fp_sv"))

  /** [[fingerprintExprs]] values out of an Observation's metric map. */
  private def fingerprintOf(
      m: Map[String, Any]): (Long, Long, Long, java.math.BigDecimal, java.math.BigDecimal) =
    (m("fp_n").asInstanceOf[Long], m("fp_x1").asInstanceOf[Long],
      m("fp_x2").asInstanceOf[Long],
      m("fp_su").asInstanceOf[java.math.BigDecimal],
      m("fp_sv").asInstanceOf[java.math.BigDecimal])

  private def dropCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
    }

  /** The symmetric edge set of the propagation loop, stored
    * hash-partitioned AND sorted on the join key so every round's
    * sort-merge join reads it with no exchange and no sort (only the
    * per-round labels side moves).
    *
    * No distinct on the symmetric set: when the input pairs are a set
    * of canonically-ordered pairs (every wired producer ends in a
    * groupBy or distinct and emits a < b), the forward branch (a < b)
    * and the reversed branch (a > b) are disjoint by construction, so
    * the union is already duplicate-free — the r10 profile's "2.2 GB
    * doubled-edge distinct" was an avoidable full exchange+aggregate
    * over 2|e| rows, not an inherent cost. A caller that DOES pass
    * duplicate or both-ordered pairs only inflates join input rows
    * (each round's min aggregate absorbs duplicates map-side);
    * correctness never depends on edge-set uniqueness, and the seeded
    * random-graph specs exercise exactly that input shape.
    *
    * Storage is `persist()`, not localCheckpoint: Spark plans cached
    * queries so their output partitioning/ordering is preserved (AQE
    * may not change a cached plan's output partitioning unless
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is
    * flipped on — it defaults off precisely so consumers can rely on
    * it), so the InMemoryTableScan every round reads REPORTS
    * hashpartitioning(src)+sorted and EnsureRequirements inserts
    * nothing on the edge side. The r11 localCheckpoint variant needed a
    * session-global AQE toggle around plan construction to get the
    * same capture (under AQE the checkpointed plan's partitioning is
    * not final at capture time) — a conf mutation visible to any
    * concurrently-planning query on the session; the cache path has no
    * such window. PlanAuditSpec pins the no-exchange/no-sort property
    * against Spark upgrades. Caller unpersists.
    */
  /** Explicit partition count for the cached edge exchange: edge bytes
    * from the PAIR COUNT (2 rows of 2 longs per pair, ~32 B a row)
    * against the 64 MB advisory, floored at the session's
    * parallelism, capped at 64x. The 32 B/row constant is MEASURED
    * (r18, EdgeBytesProbe at the wired ngram producer, SCALING_r18
    * `edge_bytes_per_row`): the exchange writes 11.95–13.91 B/row
    * lz4-compressed on the wire, while the persisted cache this
    * exchange exists to size holds deserialized ~24 B UnsafeRows plus
    * block overhead — the constant deliberately tracks the CACHE's
    * in-memory per-partition footprint (what actually spills), giving
    * ~2.3x headroom over wire bytes at the advisory. (One number, four
    * framings, for the next recalibration: 16 B = the logical payload,
    * two longs; ~24 B = the deserialized UnsafeRow the cache holds;
    * 12-14 B = lz4 wire bytes, what AQE's advisory meters on real
    * shuffles; 32 B = THIS rule's constant, sized to the cache
    * footprint because the cache partition is what spills.)
    * Inheriting the pair frame's partition
    * COUNT was tried first and is wrong for the wired caller: the pair
    * checkpoint rides the nP-sized perDoc cache partitioning (not an
    * AQE-coalesced count), so inheritance doubled small-scale edge
    * partitions for no byte reason. The floor
    * holds through every measured scale (sf100's pair set is ~1.6 GB
    * symmetric at the cache width, 25 advisory chunks < the 32 floor)
    * and the count only grows past ~64 M pairs, exactly when
    * per-partition bytes would otherwise grow unbounded.
    */
  private[graft] def edgeParts(nPairs: Long, floor: Int): Int = {
    val bytes = 2L * nPairs * 32L
    val target = 64L << 20
    math.max(floor, math.min(floor * 64L, (bytes + target - 1) / target).toInt)
  }

  private[graft] def buildEdges(p: DataFrame): DataFrame =
    // standalone form (specs): one stored-block count job; the wired
    // loop passes the count it observed during p's checkpoint instead
    buildEdges(p, p.count())

  private[graft] def buildEdges(p: DataFrame, nPairs: Long): DataFrame = {
    // The cached exchange is sized EXPLICITLY (r17): AQE cannot re-plan
    // inside a persisted plan (canChangeCachedPlanOutputPartitioning
    // stays false precisely so the rounds can RIDE this cache — flipped
    // true, PlanAuditSpec measured the round join re-exchanging the
    // edge cache every round), and a bare repartition(col) would take
    // whatever initialPartitionNum a cluster deployment sets — tiny
    // 16-byte-row cache partitions re-joined every round. nPairs comes
    // from dupGroups' checkpoint-job observation (r20) — the separate
    // stored-block count() job it replaces was one of the loop's four
    // fixed construction jobs.
    val floor = p.sparkSession.sparkContext.defaultParallelism
    val nParts = edgeParts(nPairs, floor)
    p.union(p.select(col("dst"), col("src")))
      .repartition(nParts, col("src"))
      .sortWithinPartitions("src")
      .persist()
  }

  /** Canonical dup groups from a near-dup pair list (see object doc for
    * the algorithm).
    *
    * Input contract (performance, not correctness): `pairs` is expected
    * to be a DEDUPLICATED, canonically-ordered pair set — one row per
    * undirected edge, with `aCol < bCol` — which every wired producer
    * (the dedup operators all end in a groupBy or distinct emitting
    * a < b) satisfies by construction. The symmetric edge set is built
    * WITHOUT a distinct on that basis; a caller passing duplicate or
    * both-ordered pairs still gets the correct labeling (each round's
    * min aggregate absorbs duplicates map-side) but carries the
    * duplicated edge rows through every propagation round's join.
    */
  def dupGroups(
      pairs: DataFrame,
      aCol: String = "doc_id_a",
      bCol: String = "doc_id_b",
      maxIter: Int = 50,
      starContraction: Boolean = false): DataFrame = {
    if (starContraction) return dupGroupsStar(pairs, aCol, bCol, maxIter)
    // checkpoint the PAIRS before building edges, EAGERLY: the union
    // below reads its input twice (forward + reversed branch) — two
    // INDEPENDENT shuffle-map stages of the same job. A lazy checkpoint
    // only stores partitions as whichever stage computes them first;
    // the scheduler submits both stages together, so their tasks RACE
    // the block store and each can evaluate the whole upstream pair
    // lineage — for the wired dedup query, the shingle inverted index +
    // PPJoin self-join, the dominant cost — a second time. Measured
    // (r15, sf10, fresh JVM): the race made the wired q_dedup_groups
    // 51-58 s against ~16 s of single-evaluation work, and its
    // random resolution is the long-suspected "bimodality" in this
    // query's spreads (r13 recorded an 89.5 s best-of-5 spread). The
    // eager checkpoint materializes pairs in ONE dedicated job; both
    // union branches then read stored (long, long) blocks. The
    // construction-time job this adds is the same work the first
    // action paid anyway — callers keep their lazy semantics minus
    // the race.
    // r20: the pair COUNT (edge-cache sizing) rides the checkpoint job
    // as an observed metric instead of a separate stored-block count()
    // job — same value, one driver action fewer. Observation metrics
    // are delivered when the eager checkpoint's action completes.
    val pObs = Observation()
    val p = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .observe(pObs, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    // EAGER (r16 audit): round 1's labelSum job reads labels through
    // TWO unordered branches (the neighbor join and the self union) —
    // lazy, they race the block store and each loser re-runs the
    // vertex distinct (bounded — p's blocks are already stored — but
    // a full vertex exchange per loser). One small job at
    // construction, after the eager p job above, buys it out.
    val edges = buildEdges(p,
      Observed.metrics(pObs, "ConnectedComponents.dupGroups", "n")("n").asInstanceOf[Long])
    // r20: the initial label sum (the convergence invariant's seed)
    // likewise rides the labels checkpoint job as an observed metric —
    // previously a separate labelSum job over the fresh checkpoint.
    val lObs = Observation()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .observe(lObs, sum(col("label").cast("decimal(38,0)")).as("s"))
      .localCheckpoint(eager = true)

    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)

    var prevSum = Observed.metrics(lObs, "ConnectedComponents.dupGroups", "s")("s")
      .asInstanceOf[java.math.BigDecimal]
    // an empty pair set has no components: sum(empty) is SQL NULL, and
    // looping on it would NPE — return the (empty) labeling directly
    if (prevSum == null) {
      dropCheckpointBlocks(p) // the loop (which usually drops it) never runs
      edges.unpersist(blocking = false)
      return labels.select(col("v").as("doc_id"), col("label").as("group_id"))
    }
    var iter = 0
    var converged = false
    // on ANY loop failure (the maxIter require, a task failure mid
    // round) release the edge cache and the current labels checkpoint
    // before propagating — without this a non-converging call leaked
    // the largest per-round artifacts until JVM GC noticed
    // the round's lazily-checkpointed frame, visible to the catch: if
    // labelSum fails MID-materialization, that frame's partially
    // persisted blocks are the leak the superseded-labels drop below
    // cannot see (ADVICE r12)
    var inFlight: DataFrame = null
    try {
      while (!converged) {
        val roundT0 = System.nanoTime()
        iter += 1
        require(iter <= maxIter,
          s"connected components did not converge in $maxIter rounds — " +
            "adversarially deep graph; raise maxIter or switch to star contraction")
        // min over (own label ∪ neighbors' labels) in ONE aggregate:
        // the self branch keeps every vertex present (a vertex whose
        // neighbors all carry larger labels must keep its own), and
        // both branches partial-combine map-side before the single
        // groupBy(dst) exchange. The merge hint is load-bearing twice
        // over: labels is |V|-sized, so AQE's tiny-side broadcast pick
        // would be wrong at corpus scale (the edge cache is pre-sorted
        // on src precisely to serve this SMJ) — and a BroadcastExchange
        // on the labels side materializes the lazily-checkpointed
        // labels frame from a SEPARATE async job, racing the main
        // stage's materialization of the same RDD (observed as
        // LocalRDDCheckpointData's storage-level assertion).
        val updated = edges.join(labels.hint("merge"), edges("src") === labels("v"))
          .select(col("dst"), col("label"))
          .union(labels.select(col("v").as("dst"), col("label")))
          .groupBy(col("dst"))
          .agg(min(col("label")).as("label"))
          .select(col("dst").as("v"), col("label"))
          // SAFE LAZY (r16 audit): the labelSum action below is the
          // first action and reads it through ONE aggregate lineage —
          // no concurrent consumers before its blocks are stored; one
          // job per round instead of two (eager checkpoint + sum)
          .localCheckpoint(eager = false)
        inFlight = updated
        val s = labelSum(updated)
        if (iter == 1) dropCheckpointBlocks(p) // edges are materialized now
        dropCheckpointBlocks(labels) // superseded by `updated`
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        labels = updated
        inFlight = null
        val hook = roundHook
        if (hook != null) hook("propagation", iter, (System.nanoTime() - roundT0) / 1e9)
      }
    } catch {
      case e: Throwable =>
        if (inFlight != null) dropCheckpointBlocks(inFlight)
        dropCheckpointBlocks(labels)
        edges.unpersist(blocking = false)
        throw e
    }
    // the returned plan reads only the final labels checkpoint; the
    // symmetric edge set (the largest per-round artifact) is done
    edges.unpersist(blocking = false)
    labels.select(col("v").as("doc_id"), col("label").as("group_id"))
  }

  /** Large-star/small-star contraction. Edge orientation is kept
    * canonical (hi, lo) throughout:
    *  - large-star groups the SYMMETRIC neighborhood of u, finds
    *    m = min(N(u) ∪ {u}), and rewires every larger neighbor v > u
    *    to (v, m) — long tails collapse toward minima from both ends;
    *  - small-star groups the smaller neighbors of each hi node,
    *    rewires them all to the group minimum and keeps (u, m).
    * Alternating the two is the paper's O(log n)-round convergence; at
    * fixpoint the edge set IS the answer: every edge is
    * (member, component-min). Convergence is detected by a 5-component
    * fingerprint over the canonical edge set, computed in ONE aggregate
    * job per round: edge count, two INDEPENDENT order-invariant 64-bit
    * XOR checksums (xxhash64 streams with distinct constant prefixes),
    * and the exact DECIMAL sums of both endpoint columns. A changed
    * edge set terminates the loop only if it preserves the count and
    * both coordinate sums exactly AND collides both independent 64-bit
    * checksums — probability < 2^-128 per round, the same
    * negligible-by-construction class as the MinHash band-miss bound.
    * (An exact `except` confirmation used to run here; it re-shuffled
    * the full edge set twice at the final round for certainty the
    * fingerprint already provides to cryptographic odds.) Per round:
    * two partial-aggregated groupBys + two broadcast-free joins, all
    * shuffling (long, long) rows only.
    */
  private def dupGroupsStar(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int): DataFrame = {
    // checkpoint the pair projection ONCE, EAGERLY: verts and edges
    // both derive from it, verts itself reads it twice (its union's
    // two branches), and all of those are independent stages of the
    // first job — a lazy checkpoint lets them race the block store and
    // re-run the upstream lineage (shingle inverted index + PPJoin
    // self-join, the costliest stage of the wired query) per racing
    // branch; see dupGroups' pair checkpoint for the measured effect
    val p = pairs.select(col(aCol).cast("long").as("pa"), col(bCol).cast("long").as("pb"))
      .localCheckpoint(eager = true)
    // the vertex set BEFORE dropping self-loops: a vertex appearing only
    // as a (v, v) pair is its own component and must still be labeled —
    // propagation mode and the recursive-closure oracle both emit it
    // verts SAFE LAZY (r16 audit): the synchronous verts.count() below
    // is its first action and sole consumer — blocks are stored before
    // the success-path return plan (its only other reader) exists.
    val verts = p.select(col("pa").as("x")).union(p.select(col("pb").as("x")))
      .distinct()
      .localCheckpoint(eager = false)
    // edges EAGER (r16 audit): round 1's fingerprint job reads the
    // initial edge set through largeStar's TWO unordered branches (the
    // min aggregate and the join probe) — lazy, they race the block
    // store and each loser re-runs the distinct over p's stored
    // blocks. Later rounds read the PREVIOUS round's checkpoint, which
    // the round's own fingerprint action has already materialized.
    // r20: the INITIAL fingerprint rides this checkpoint job as
    // observed metrics (the same five aggregate expressions) instead
    // of a separate post-checkpoint aggregate job.
    val eObs = Observation()
    var edges = p.select(greatest(col("pa"), col("pb")).as("u"),
        least(col("pa"), col("pb")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .observe(eObs, fingerprintExprs.head, fingerprintExprs.tail: _*)
      .localCheckpoint(eager = true)

    // The textbook large-star works on the SYMMETRIC edge set (2|e|
    // rows through its groupBy and its join). Canonical (hi, lo)
    // orientation makes that union unnecessary: every symmetric
    // neighbor of x that is LARGER than x is > x, so
    //   m(x) = min(N(x) ∪ {x}) = least(x, min of x's smaller nbrs),
    // computable from canonical rows (x, ·) alone with a map-side-
    // combined min; and the larger neighbors w of x that large-star
    // rewires to (w, m(x)) are exactly the canonical rows (w, x).
    // So one combined aggregate over e plus one join of e — keyed by
    // its SECOND column — against that per-node min reproduces
    // large-star with half the raw shuffle (|e| rows, not 2|e|); the
    // mins side arrives hash-partitioned on its grouping key straight
    // from the aggregate, so the join adds no exchange for it. Nodes
    // with no smaller neighbors never enter the aggregate — the left
    // join's coalesce restores m(x) = x for them.
    def largeStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u").as("x")).agg(min(col("v")).as("mv"))
        .select(col("x"), least(col("x"), col("mv")).as("m"))
      e.join(mins, e("v") === mins("x"), "left")
        // w > x >= m(x): output stays (hi, lo), never a self-loop.
        // NOT distinct'ed: the output is exactly one row per input
        // edge (bounded — a clique's k(k-1)/2 edges yield k(k-1)/2
        // rows collapsing to k-1 distinct), and both consumers in
        // small-star tolerate the duplicates — the min aggregate
        // absorbs them map-side, the trailing distinct restores set
        // semantics before the fingerprint. Dedup-ing here would cost
        // a full exchange + two aggregate passes per round to shrink
        // an already-bounded intermediate.
        .select(e("u"), coalesce(col("m"), e("v")).as("v"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v")) // rewire smaller nbrs to min
        .union(mins.select(col("u"), col("m").as("v"))) // keep (u, min)
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def fingerprint(e: DataFrame): (Long, Long, Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(fingerprintExprs.head, fingerprintExprs.tail: _*).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDecimal(3), r.getDecimal(4))
    }

    // the eager checkpoint above materialized p and edges and delivered
    // the initial fingerprint's metrics (r20 — one aggregate job fewer)
    var prev = fingerprintOf(Observed.metrics(eObs, "ConnectedComponents.dupGroupsStar", "fingerprint"))
    // verts reads p's stored partitions (one tiny distinct job); after
    // that nothing references p and its blocks can be freed
    verts.count()
    dropCheckpointBlocks(p)
    if (prev._1 == 0L) { // no non-self edges: every vertex is its own group
      dropCheckpointBlocks(edges)
      return verts.select(col("x").as("doc_id"), col("x").as("group_id"))
    }
    var iter = 0
    var converged = false
    // mirror propagation mode's failure cleanup: a maxIter throw (or a
    // mid-round task failure) must not leak the current edge checkpoint
    // — nor the round's in-flight frame if fingerprint() dies mid-
    // materialization (ADVICE r12)
    var inFlight: DataFrame = null
    try {
      while (!converged) {
        val roundT0 = System.nanoTime()
        iter += 1
        require(iter <= maxIter,
          s"star contraction did not converge in $maxIter rounds (O(log n) expected) — " +
            "malformed edge set or maxIter set below log2(vertex count)")
        // SAFE LAZY (r16 audit): fingerprint(next) below is next's
        // first action and reads it through ONE aggregate lineage — no
        // concurrent consumers exist before its blocks are stored.
        val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
        inFlight = next
        val fp = fingerprint(next)
        converged = fp == prev
        prev = fp
        val superseded = edges
        edges = next
        inFlight = null
        dropCheckpointBlocks(superseded)
        val hook = roundHook
        if (hook != null) hook("star", iter, (System.nanoTime() - roundT0) / 1e9)
      }
    } catch {
      case e: Throwable =>
        if (inFlight != null) dropCheckpointBlocks(inFlight)
        dropCheckpointBlocks(edges)
        dropCheckpointBlocks(verts) // only the success-path return plan reads it
        throw e
    }
    val labeled = edges.select(col("u").as("doc_id"), col("v").as("group_id"))
      .union(edges.select(col("v"), col("v")).distinct())
    // restore self-loop-only vertices (dropped from the edge set) as
    // their own singleton groups
    verts.join(labeled, verts("x") === labeled("doc_id"), "left")
      .select(col("x").as("doc_id"), coalesce(col("group_id"), col("x")).as("group_id"))
  }
}
