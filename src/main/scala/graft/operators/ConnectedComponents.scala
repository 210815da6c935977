package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.GraftInternal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.collection.mutable.ArrayBuilder

/** Connected components over a near-dup pair list: pairs → canonical
  * dup GROUPS (doc_id, group_id = min doc_id in its component). Pair
  * emission alone under-deletes: A~B and B~C chains must collapse to
  * one group even when A~C was never emitted.
  *
  * Only vertices that appear in a pair are labeled (a vertex that
  * appears only in a (v, v) pair is its own group) — singleton docs
  * need no group and would dominate the output at corpus scale.
  *
  * One operator, two paths, chosen from the pair count `n` that the
  * eager pair checkpoint observes — never from a caller flag:
  *  - **The pairs fit one task** when their symmetric edge bytes
  *    (2·n rows of ~32 B, the deserialized row plus block overhead)
  *    are within the session's
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes` — Spark's own
  *    one-partition budget, 64 MB (about 1 M pairs) by default. The
  *    stored pairs are read through `coalesce(1)`, with no shuffle, and
  *    labeled by a union-find in that one task ([[labelInOneTask]]).
  *    The benchmark's pair sets and sf0.01–sf10's (sf1: 2,560 pairs)
  *    take this path; sf100's (~25 M pairs, r18) would not.
  *  - **Larger pair sets** run large-star/small-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC 2014): alternating rounds rewire every node to its
  *    neighborhood minimum, squaring the label jump per round —
  *    O(log n) rounds for ANY topology ([[contract]]).
  *
  * Labels are canonical (min reachable id), so both paths return the
  * same labeling.
  */
object ConnectedComponents {

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

  /** Unpersist the block-manager blocks behind a localCheckpointed
    * DataFrame (its analyzed plan is the `LogicalRDD` wrapping the
    * checkpointed RDD). `Dataset.unpersist` only touches the cache
    * manager, not checkpoint blocks — without this, a 50-round
    * contraction holds every superseded round's edges in memory until
    * the JVM GCs the references. Callers must be DONE with the
    * DataFrame: a lazily-checkpointed RDD's lineage is truncated, so
    * unpersisted blocks cannot be recomputed.
    */
  private def dropCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
    }

  /** Canonical dup groups from a near-dup pair list (see the object doc
    * for the two paths). Every wired producer emits a deduplicated,
    * canonically-ordered pair set (`aCol < bCol`); duplicate,
    * both-ordered or self-loop pairs still label correctly.
    */
  def dupGroups(
      pairs: DataFrame,
      aCol: String = "doc_id_a",
      bCol: String = "doc_id_b",
      maxIter: Int = 50): DataFrame = {
    // checkpoint the pair projection EAGERLY, observing its count on
    // the same job. Both paths need it stored: the one-task read's
    // coalesce(1) would otherwise pull the whole upstream pair lineage
    // (for the wired dedup query, the shingle inverted index + PPJoin
    // self-join) into its single task, and the contraction reads it
    // through several independent stages of one job — lazy, those
    // race the block store and each loser re-runs the upstream lineage
    // (measured r15, sf10: 51-58 s against ~16 s of single-evaluation
    // work, the long-suspected "bimodality" of this query's spreads).
    val pObs = Observation()
    val p = pairs.select(col(aCol).cast("long").as("pa"), col(bCol).cast("long").as("pb"))
      .observe(pObs, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    val n = Observed.metrics(pObs, "ConnectedComponents.dupGroups", "n")("n").asInstanceOf[Long]
    val budget = p.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (2L * n * 32L <= budget) labelInOneTask(p) else contract(p, maxIter)
  }

  private val labelSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("group_id", LongType, nullable = false)))

  /** The one-task path: every stored pair flows into ONE task through
    * `coalesce(1)` (a narrow dependency, no exchange), which labels
    * them with [[unionFind]]. The labeling is stored behind one eager
    * local checkpoint, so the caller's frame reads one stored
    * partition; the pair blocks are dropped either way.
    */
  private def labelInOneTask(p: DataFrame): DataFrame =
    try {
      val labels = p.queryExecution.toRdd.coalesce(1).mapPartitions(unionFind)
      GraftInternal.internalCreateDataFrame(p.sparkSession, labels, labelSchema)
        .localCheckpoint(eager = true)
    } finally dropCheckpointBlocks(p)

  /** (vertex, min id of its component) for every endpoint of `pairs`,
    * in ascending vertex order. Vertices are indexes into the sorted
    * distinct endpoint array, so a union links the larger root under
    * the smaller and every root stays its set's minimum index — its
    * minimum id. A pair with a NULL endpoint names no edge and no
    * vertex.
    */
  private def unionFind(pairs: Iterator[InternalRow]): Iterator[InternalRow] = {
    val as = new ArrayBuilder.ofLong
    val bs = new ArrayBuilder.ofLong
    pairs.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) { as += r.getLong(0); bs += r.getLong(1) }
    }
    val a = as.result()
    val b = bs.result()
    val ids = a ++ b
    java.util.Arrays.sort(ids)
    var m = 0
    var i = 0
    while (i < ids.length) {
      if (m == 0 || ids(m - 1) != ids(i)) { ids(m) = ids(i); m += 1 }
      i += 1
    }
    val parent = Array.range(0, m)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) } // path halving
      x
    }
    i = 0
    while (i < a.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, m, a(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, m, b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 1
    }
    Iterator.range(0, m).map(k => InternalRow(ids(k), ids(find(k))))
  }

  /** Large-star/small-star contraction over the stored pairs `p`. Edge
    * orientation is kept canonical (hi, lo) throughout:
    *  - large-star groups the SYMMETRIC neighborhood of u, finds
    *    m = min(N(u) ∪ {u}), and rewires every larger neighbor v > u
    *    to (v, m) — long tails collapse toward minima from both ends;
    *  - small-star groups the smaller neighbors of each hi node,
    *    rewires them all to the group minimum and keeps (u, m).
    * Alternating the two is the paper's O(log n)-round convergence; at
    * fixpoint the edge set IS the answer: every edge is
    * (member, component-min). Convergence is detected by a 5-component
    * fingerprint over the canonical edge set ([[fingerprintExprs]]),
    * computed in ONE aggregate job per round. (An exact `except`
    * confirmation used to run here; it re-shuffled the full edge set
    * twice at the final round for certainty the fingerprint already
    * provides.) Per round: two partial-aggregated groupBys + two
    * broadcast-free joins, all shuffling (long, long) rows only. The
    * loop caps at `maxIter` rounds and raises rather than silently
    * emitting a half-converged labeling.
    */
  private def contract(p: DataFrame, maxIter: Int): DataFrame = {
    // the vertex set BEFORE dropping self-loops: a vertex appearing only
    // as a (v, v) pair is its own component and must still be labeled —
    // the one-task path and the recursive-closure oracle both emit it
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
    var prev = fingerprintOf(Observed.metrics(eObs, "ConnectedComponents.dupGroups", "fingerprint"))
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
    // a maxIter throw (or a mid-round task failure) must not leak the
    // current edge checkpoint — nor the round's in-flight frame if
    // fingerprint() dies mid-materialization (ADVICE r12)
    var inFlight: DataFrame = null
    try {
      while (!converged) {
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
