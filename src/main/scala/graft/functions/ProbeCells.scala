package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Top-`probes` IVF cell ids of a vector in ONE fused native kernel —
  * the assignment step of [[graft.operators.Dedup.embeddingNearDupsIvf]]
  * (SURVEY §2 #25) and of [[graft.operators.Similarity.annIvfTopK]]
  * (#27: top-1 for the corpus, top-nProbe for queries). Replaces the r15 composition
  * `slice(sort_array(transform(centroid_scores(v), …)), 1, p)`, whose
  * cost the r16 cellFactor sweep exposed (SCALING_r16
  * `lsh_vs_ivf_clustered_sf10`: 62/102/236 s at cells ×2/4/8 — the
  * full struct-array sort over nCells scores per vector, plus the
  * O(nCells·dim) scoring itself, dominate IVF wall):
  *
  *  - bounded SELECTION instead of a sort: scores stream through a
  *    (probes)-sized insertion buffer — O(nCells) comparisons
  *    amortized instead of O(nCells·log nCells) struct-sorts, and no
  *    per-row score-array/struct allocation at all;
  *  - optional TWO-LEVEL pruning (`sRows > 0`): the declared escape
  *    from O(nCells·dim)/vector assignment. Cells are grouped under
  *    ~√nCells supercluster centroids (driver-fit, see
  *    [[graft.operators.Similarity.superQuantizer]]); a vector scores
  *    the sRows superclusters first, keeps the top `superProbes`, and
  *    scores ONLY their member cells — O((√nCells + avgMembers·sp)·dim)
  *    per vector. With `superProbes ≥ sRows` the candidate set is every
  *    cell, so the result EQUALS flat mode exactly (the spec gate);
  *    below that it is an approximation whose recall cost is measured,
  *    not argued (SCALING_r16).
  *
  * Ordering matches the r15 composition bit-for-bit in flat mode:
  * score descending, cell index ascending on ties, −∞ for zero-norm
  * centroids (selected only when fewer than `probes` finite cells
  * exist — same as the sort they replace).
  *
  * Codegen calls [[probeFor]] on a reference-held copy of this
  * expression instead of inlining the selection loops as string-java:
  * the kernel cost is the inner dot-product/selection loops, which JIT
  * identically either way, and a single algorithm source cannot let
  * eval and codegen drift apart (the known bug class of dual-coded
  * kernels). The row stays inside whole-stage codegen — this is a
  * plain method call in the generated consume path, not a
  * CodegenFallback row-object round-trip.
  */
case class ProbeCells(
    child: Expression,
    centroids: Array[Double],
    norms: Array[Double],
    rows: Int,
    dim: Int,
    probes: Int,
    superCentroids: Array[Double],
    superNorms: Array[Double],
    sRows: Int,
    superProbes: Int,
    memberOffsets: Array[Int],
    members: Array[Int])
    extends UnaryExpression {

  require(rows > 0, s"need at least one cell, got $rows")
  require(probes >= 1 && probes <= rows, s"probes must be in [1, $rows], got $probes")
  require(centroids.length == rows * dim,
    s"centroid matrix must be rows*dim = ${rows * dim} doubles, got ${centroids.length}")
  require(norms.length == rows, s"need one norm per centroid row, got ${norms.length}")
  require(sRows >= 0, s"sRows must be >= 0, got $sRows")
  if (sRows > 0) {
    require(superCentroids.length == sRows * dim,
      s"super matrix must be sRows*dim = ${sRows * dim} doubles, got ${superCentroids.length}")
    require(superNorms.length == sRows, s"need one norm per super row, got ${superNorms.length}")
    require(superProbes >= 1, s"superProbes must be >= 1, got $superProbes")
    require(memberOffsets.length == sRows + 1,
      s"memberOffsets must have sRows+1 = ${sRows + 1} entries, got ${memberOffsets.length}")
    require(memberOffsets(0) == 0 && memberOffsets(sRows) == rows,
      "memberOffsets must be a CSR partition of all cells")
    require(members.length == rows,
      s"every cell must appear in exactly one supercluster: got ${members.length} of $rows")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"probe_cells requires an array<double> argument, got $other")
  }

  /** (score desc, idx asc) candidate order — the selection twin of the
    * sort key `struct(-score, idx)` this kernel replaces.
    */
  @inline private def better(s: Double, i: Int, s2: Double, i2: Int): Boolean =
    s > s2 || (s == s2 && i < i2)

  /** Insert (s, idx) into the (score desc, idx asc)-sorted prefix of
    * (bs, bi) holding m entries with capacity cap; returns the new m.
    * A method, not a closure over a captured var — scalac boxes a
    * captured mutable local into a runtime IntRef, one allocation per
    * row in the hot assignment path.
    */
  @inline private def offerInto(
      bs: Array[Double], bi: Array[Int], m: Int, cap: Int, s: Double, idx: Int): Int = {
    if (m < cap) {
      var j = m
      while (j > 0 && better(s, idx, bs(j - 1), bi(j - 1))) {
        bs(j) = bs(j - 1); bi(j) = bi(j - 1); j -= 1
      }
      bs(j) = s; bi(j) = idx; m + 1
    } else if (better(s, idx, bs(cap - 1), bi(cap - 1))) {
      var j = cap - 1
      while (j > 0 && better(s, idx, bs(j - 1), bi(j - 1))) {
        bs(j) = bs(j - 1); bi(j) = bi(j - 1); j -= 1
      }
      bs(j) = s; bi(j) = idx; m
    } else m
  }

  // Selection buffers are method-local (one small allocation per row,
  // probes ≤ 64 in practice): the expression object is shared across
  // a task's rows AND across tasks in local mode, so instance-held
  // scratch would race.
  def probeFor(v: ArrayData): Array[Int] = {
    if (v.numElements() != dim)
      throw new IllegalArgumentException(
        s"probe_cells dimension mismatch: expected $dim, got ${v.numElements()}")
    val vd = new Array[Double](dim)
    var i = 0
    while (i < dim) { vd(i) = v.getDouble(i); i += 1 }

    val p = probes
    val bs = new Array[Double](p)
    val bi = new Array[Int](p)
    var m = 0

    @inline def cellScore(c: Int): Double = {
      if (norms(c) == 0.0) Double.NegativeInfinity
      else {
        var acc = 0.0
        val off = c * dim
        var k = 0
        while (k < dim) { acc += vd(k) * centroids(off + k); k += 1 }
        val s = acc / norms(c)
        // NaN (a vector carrying NaN/Inf elements — Inf survives the
        // upstream zero-norm filter, and Inf·0 dots are NaN) is mapped
        // to −∞ like the zero-norm guard (ADVICE r16): better() is not
        // a total order for NaN, so one NaN inserted while the buffer
        // is unfilled would block every later finite score once it
        // fills — and the documented bit-for-bit equivalence with the
        // sort_array composition (NaN-greatest total order) would not
        // hold for non-finite inputs either way.
        if (s != s) Double.NegativeInfinity else s
      }
    }

    if (sRows == 0) {
      var c = 0
      while (c < rows) { m = offerInto(bs, bi, m, p, cellScore(c), c); c += 1 }
    } else {
      // level 1: top-superProbes superclusters by the same score rule
      val sp = math.min(superProbes, sRows)
      val ss = new Array[Double](sp)
      val si = new Array[Int](sp)
      var sm = 0
      var s = 0
      while (s < sRows) {
        val sc =
          if (superNorms(s) == 0.0) Double.NegativeInfinity
          else {
            var acc = 0.0
            val off = s * dim
            var k = 0
            while (k < dim) { acc += vd(k) * superCentroids(off + k); k += 1 }
            val raw = acc / superNorms(s)
            // same NaN→−∞ mapping as cellScore — the super selection
            // buffer has the identical non-total-order failure mode
            if (raw != raw) Double.NegativeInfinity else raw
          }
        sm = offerInto(ss, si, sm, sp, sc, s)
        s += 1
      }
      // level 2: score only the selected superclusters' member cells
      var q = 0
      while (q < sm) {
        val sup = si(q)
        var o = memberOffsets(sup)
        val end = memberOffsets(sup + 1)
        while (o < end) {
          val c = members(o)
          m = offerInto(bs, bi, m, p, cellScore(c), c)
          o += 1
        }
        q += 1
      }
    }
    if (m == p) bi else java.util.Arrays.copyOf(bi, m)
  }

  override protected def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(probeFor(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val self = ctx.addReferenceObj("probeCellsKernel", this, classOf[ProbeCells].getName)
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($self.probeFor($v));
       """.stripMargin
    })

  // keep the matrices out of plan strings / explain output
  override def toString: String =
    s"probe_cells($child, rows=$rows, dim=$dim, probes=$probes, sRows=$sRows, sp=$superProbes)"

  // value equality over the matrices (case-class equals compares Array
  // by reference, which would defeat plan-level subexpression reuse
  // between two columns built on equal centroid sets)
  override def equals(other: Any): Boolean = other match {
    case c: ProbeCells =>
      c.child == child && c.rows == rows && c.dim == dim && c.probes == probes &&
        c.sRows == sRows && c.superProbes == superProbes &&
        java.util.Arrays.equals(c.centroids, centroids) &&
        java.util.Arrays.equals(c.norms, norms) &&
        java.util.Arrays.equals(c.superCentroids, superCentroids) &&
        java.util.Arrays.equals(c.superNorms, superNorms) &&
        java.util.Arrays.equals(c.memberOffsets, memberOffsets) &&
        java.util.Arrays.equals(c.members, members)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(getClass, child,
      Integer.valueOf(java.util.Arrays.hashCode(centroids)),
      Integer.valueOf(java.util.Arrays.hashCode(norms)),
      Integer.valueOf(java.util.Arrays.hashCode(superCentroids)),
      Integer.valueOf(java.util.Arrays.hashCode(members)),
      Integer.valueOf(rows), Integer.valueOf(dim),
      Integer.valueOf(probes), Integer.valueOf(sRows), Integer.valueOf(superProbes))

  override protected def withNewChildInternal(newChild: Expression): ProbeCells =
    copy(child = newChild)

  override def prettyName: String = "probe_cells"
}

object ProbeCells {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  /** Flat mode: score every cell, keep the top `probes` — the exact
    * drop-in for the sort_array composition (same set, same order).
    */
  def flat(v: Column, centroids: Seq[Seq[Double]], probes: Int): Column = {
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum)).toArray
    ColumnBridge.column(ProbeCells(
      ColumnBridge.expression(v), centroids.flatten.toArray, norms,
      centroids.length, centroids.head.length, probes,
      Array.emptyDoubleArray, Array.emptyDoubleArray, 0, 0,
      Array(0), Array.emptyIntArray))
  }

  /** Two-level mode: prune through `superProbes` of the superclusters
    * produced by [[graft.operators.Similarity.superQuantizer]].
    */
  def twoLevel(
      v: Column,
      centroids: Seq[Seq[Double]],
      probes: Int,
      superCentroids: Seq[Seq[Double]],
      superProbes: Int,
      memberOffsets: Array[Int],
      members: Array[Int]): Column = {
    val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum)).toArray
    val sNorms = superCentroids.map(c => math.sqrt(c.map(x => x * x).sum)).toArray
    ColumnBridge.column(ProbeCells(
      ColumnBridge.expression(v), centroids.flatten.toArray, norms,
      centroids.length, centroids.head.length, probes,
      superCentroids.flatten.toArray, sNorms, superCentroids.length, superProbes,
      memberOffsets, members))
  }
}
