package graft.operators

import graft.Sessions
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Gates on the r17 hierarchical IVF coarse fit (verdict r16 item 2 —
  * the escape from the flat fit's O(nCells²·dim) driver Lloyd):
  *  1. cell-count contract: the hierarchical path returns exactly the
  *     count the flat path would (min(requested, non-zero corpus)), so
  *     downstream sizing (pEff, two-level dispatch on centroids.length)
  *     cannot drift between fit paths;
  *  2. determinism: two calls produce the identical matrix (the plan
  *     embeds it via addReferenceObj — a nondeterministic fit would
  *     break plan-level subexpression reuse and run-to-run repro);
  *  3. quantization quality: the mean best-cosine of a held corpus
  *     against the hierarchical cells is within 5 % of the flat fit's
  *     on the same draw — the hierarchy changes cell PLACEMENT, not
  *     the quality class (the end-to-end recall floor is gated in
  *     DedupSpec; this pins the fit in isolation, cheaply).
  */
class HierFitSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  private def corpus(n: Int, dim: Int, seed: Long) = {
    import spark.implicits._
    val rng = new Random(seed)
    // 32 cluster directions + per-vector jitter: clustered enough that
    // cell placement matters, random enough that quality separates a
    // broken fit from a working one
    val dirs = Seq.fill(32)(Array.fill(dim)(rng.nextGaussian()))
    Seq.tabulate(n) { i =>
      val d = dirs(rng.nextInt(dirs.length))
      (i.toLong, d.toSeq.map(_ + 0.3 * rng.nextGaussian()))
    }.toDF("vec_id", "embedding")
  }

  private def meanBestCos(
      sample: Seq[Seq[Double]], cells: Seq[Seq[Double]]): Double = {
    val mats = cells.map(_.toArray).toArray
    val norms = mats.map(c => math.sqrt(c.map(x => x * x).sum))
    val scores = sample.map { sv =>
      val v = sv.toArray
      val vn = math.sqrt(v.map(x => x * x).sum)
      mats.indices.map { c =>
        if (norms(c) == 0.0 || vn == 0.0) Double.NegativeInfinity
        else v.zip(mats(c)).map { case (a, b) => a * b }.sum / norms(c) / vn
      }.max
    }
    scores.sum / scores.length
  }

  test("hierarchical fit: count contract, determinism, quality within 5% of flat") {
    val emb = Similarity.withNorm(corpus(2000, 16, seed = 61L))
    val n = emb.count()
    val nCells = 256
    // hierThreshold=64 forces the hierarchical path at a size where the
    // flat fit is still cheap enough to be the in-test reference
    val hier = Similarity.ivfCentroids(emb, n, nCells, 2, hierThreshold = 64)
    val hier2 = Similarity.ivfCentroids(emb, n, nCells, 2, hierThreshold = 64)
    val flat = Similarity.ivfCentroids(emb, n, nCells, 2, hierThreshold = Int.MaxValue)
    assert(hier.length == flat.length && hier.length == nCells)
    assert(hier == hier2, "hierarchical fit is not deterministic")
    assert(hier.forall(c => c.forall(x => !x.isNaN && !x.isInfinite)))
    val probe = corpus(500, 16, seed = 67L)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    val qh = meanBestCos(probe, hier)
    val qf = meanBestCos(probe, flat)
    assert(qh >= 0.95 * qf,
      f"hierarchical fit quality $qh%.4f fell below 95%% of flat $qf%.4f")
  }

  test("hierarchical fit returns the corpus size when fewer non-zero vectors than cells") {
    val emb = Similarity.withNorm(corpus(300, 8, seed = 71L))
    val n = emb.count()
    val hier = Similarity.ivfCentroids(emb, n, 1000, 1, hierThreshold = 64)
    val flat = Similarity.ivfCentroids(emb, n, 1000, 1, hierThreshold = Int.MaxValue)
    assert(hier.length == flat.length,
      s"count contract broke on a small corpus: hier=${hier.length} flat=${flat.length}")
  }

  test("hash-cutoff fit draw equals the TakeOrdered draw it replaced") {
    // r18: the draw moved from orderBy(h).limit(t) (per-TASK results of
    // up to t rows — blew spark.driver.maxResultSize at dim 768, see
    // fitDraw's scaladoc) to a cutoff filter + driver-side sort. Same
    // rows, same order, for every target regime: under, at, and over
    // the corpus size — whether nRows is exact or an overestimate
    // (smaller initial cutoff, escalation loop covers it).
    import org.apache.spark.sql.functions._
    val df = corpus(500, 16, seed = 7L)
    val e = Similarity.withNorm(df)
    def oldDraw(t: Int): Seq[Seq[Double]] = e
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(t).select("v").collect()
      .map(_.getSeq[Double](0)).toSeq
    for (t <- Seq(16, 100, 500, 700); n <- Seq(500L, 10000L)) {
      val got = Similarity.fitDraw(e, t, n).map(_.toSeq).toSeq
      assert(got === oldDraw(t), s"draw diverged at target=$t nRows=$n")
    }
    // a non-positive count must refuse loudly, not full-collect (every
    // caller passes the count of the frame it hands over)
    assertThrows[IllegalArgumentException](Similarity.fitDraw(e, 16, -1L))
    // an nRows that UNDERestimates the corpus (claims 1 row for 500)
    // starts frac at 1.0: the first draw is a full collect, and the
    // driver-side sort still returns THE draw (same smallest-hash rows)
    for (t <- Seq(16, 100)) {
      val got = Similarity.fitDraw(e, t, 1L).map(_.toSeq).toSeq
      assert(got === oldDraw(t), s"full-collect draw diverged at target=$t nRows=1")
    }
    assert(Similarity.fitDraw(e, 500, 1L).map(_.toSeq).toSeq === oldDraw(500))
  }

  test("hashCutoff maps fractions onto the unsigned hash line monotonically") {
    assert(Similarity.hashCutoff(1.0) === Long.MaxValue)
    assert(Similarity.hashCutoff(0.0) === Long.MinValue)
    // 0.5 of the unsigned span from Long.MinValue lands at the unsigned
    // midpoint (floor formula admits ≤1 extra value — immaterial under
    // the draw's 1.5x margin), NOT anywhere near Long.MaxValue
    assert(Similarity.hashCutoff(0.5) === 0L)
    val fs = Seq(0.001, 0.01, 0.1, 0.25, 0.5, 0.9, 0.999)
    val cs = fs.map(Similarity.hashCutoff)
    assert(cs === cs.sorted, s"non-monotonic cutoffs: $cs")
  }
}
