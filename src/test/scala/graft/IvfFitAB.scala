package graft

import graft.operators.Similarity

/** Prices the r17 hierarchical IVF coarse fit against the flat r16 fit
  * (verdict r16 item 2): the flat driver-local Lloyd is
  * O(iters·sample·nCells·dim) with sample ≥ nCells — quadratic in
  * nCells — while the hierarchical fit (√nCells supers from the bounded
  * sample, then per-super cells from per-super members) is
  * O(nCells^1.5·dim) parallel over driver cores. Both fits run on the
  * SAME deterministic hash-draw sample (one Spark job each, identical
  * bytes), so the wall split is pure driver arithmetic and host phase
  * cancels at the grid level the way it cannot for distributed runs.
  * CAVEAT (r17 review): each reported wall still INCLUDES its call's
  * own sample-draw job — the draw is not timed separately, so
  * small-nCells hier walls are draw-dominated and can invert
  * (SCALING_r17.json's `ivf_fit_ab.noise_note` records those
  * points); read the FLAT column's growth and the large-nCells hier
  * points, never small-nCells hier deltas.
  *
  * Per grid point prints
  *   [ivffit] nCells=<n> cells=<returned> hier=<s> flat=<s|skipped>
  *            meanNorm hier=<x> flat=<x>
  * flat is skipped past `flatMax` (default 32768 — the flat fit at 131k
  * cells is a ~10¹²-flop single-thread run, the very cost being
  * escaped; extrapolate from the measured quadratic instead).
  *
  * Test/runMain graft.IvfFitAB [sfDir] [nCellsCsv] [flatMaxCells]
  */
object IvfFitAB {
  private val harnessGen = "hierfit-r17"

  def main(args: Array[String]): Unit = {
    val sf = args.lift(0).getOrElse("/tmp/graft_sf30")
    val grid = args.lift(1).map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(8192, 16384, 32768, 131072, 262144))
    val flatMax = args.lift(2).map(_.toInt).getOrElse(32768)
    val spark = Sessions.local()
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    println(s"[ivffit] $sf n=$n flatMax=$flatMax gen=$harnessGen")

    def meanNorm(cells: Seq[Seq[Double]]): Double =
      cells.iterator.map(c => math.sqrt(c.map(x => x * x).sum)).sum / cells.length

    // one untimed warm pass (scan JIT + parquet footer cache) so the
    // first grid point does not pay the cold scan both sides share
    Similarity.ivfCentroids(emb, 1024, 2)

    for (nc <- grid) {
      val t0 = System.nanoTime()
      val hier = Similarity.ivfCentroids(emb, nc, 2)
      val hierS = (System.nanoTime() - t0) / 1e9
      val (flatTag, flatNorm) =
        if (nc > flatMax) ("skipped", "n/a")
        else {
          val t1 = System.nanoTime()
          val flat = Similarity.ivfCentroids(emb, nc, 2, hierThreshold = Int.MaxValue)
          val flatS = (System.nanoTime() - t1) / 1e9
          require(flat.length == hier.length,
            s"fit paths disagree on cell count: flat=${flat.length} hier=${hier.length}")
          (f"$flatS%.2f", f"${meanNorm(flat)}%.4f")
        }
      println(f"[ivffit] nCells=$nc cells=${hier.length} hier=$hierS%.2f " +
        f"flat=$flatTag meanNorm hier=${meanNorm(hier)}%.4f flat=$flatNorm")
    }
    spark.stop()
  }
}
