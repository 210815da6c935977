package graft.operators

import graft.Sessions
import graft.functions.ProbeCells
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Exact IVF layer gate (SURVEY §2 #27). Once the centroids are
  * fitted, every later layer of [[Similarity.annIvfTopK]] is
  * deterministic, so the kernel's cell lists and the operator's
  * (query_id, rank, neighbor_id, cosine) rows must EQUAL a driver-side
  * scalar replica built from the same [[Similarity.ivfCentroids]] fit:
  *  - assignment: each corpus vector's top-1 cell;
  *  - probes: each query's top-min(nProbe, cells) cells under (score
  *    desc, index asc), score = dot(v, c)/‖c‖ with −∞ for a zero-norm
  *    centroid;
  *  - exact cosine top-k over the probed cells' vectors under (cosine
  *    desc, id asc), self excluded.
  * Only the Lloyd fit itself stays recall-gated (SimilaritySpec,
  * HierFitSpec). Every base vector appears several times under distinct
  * ids, so duplicate neighbors tie on cosine (resolved by id) and, with
  * no Lloyd iteration, duplicate draw seeds are identical cells (exact
  * cell score ties, resolved by index). The output rows cannot see
  * which way cell ties resolve, only that assignment and probing agree,
  * so the cell lists are checked on their own.
  */
class IvfExactSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  private val dim = 8
  private val zeroId = 2L // a zero vector inside the query range

  private lazy val rows: Seq[(Long, Array[Double])] = {
    val rng = new Random(20261019L)
    val dirs = Seq.fill(6)(Array.fill(dim)(rng.nextGaussian()))
    val bases = Seq.fill(60) {
      val d = dirs(rng.nextInt(dirs.length))
      d.map(_ + 0.5 * rng.nextGaussian())
    }
    val vecs = bases.flatMap(b => Seq.fill(4)(b))
    rng.shuffle(vecs.indices.map(_.toLong)).zip(vecs)
      .map { case (id, v) => id -> (if (id == zeroId) Array.fill(dim)(0.0) else v) }
  }

  private lazy val live = rows.filter { case (_, v) => dot(v, v) > 0.0 }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** The top-`p` cells of `v` under (score desc, index asc). */
  private def topCells(v: Array[Double], cents: Seq[Seq[Double]], p: Int): Seq[Int] =
    cents.indices.map { c =>
      val norm = math.sqrt(cents(c).map(x => x * x).sum)
      val s = if (norm == 0.0) Double.NegativeInfinity else dot(v, cents(c).toArray) / norm
      (if (s.isNaN) Double.NegativeInfinity else s, c)
    }.sortBy { case (s, c) => (-s, c) }.take(p).map(_._2)

  private def replica(
      cents: Seq[Seq[Double]], k: Int, nQueries: Int, nProbe: Int): Seq[(Long, Long, Long, Double)] = {
    val cell = live.map { case (id, v) => id -> topCells(v, cents, 1).head }.toMap
    live.filter(_._1 < nQueries).flatMap { case (q, qv) =>
      val probes = topCells(qv, cents, math.min(nProbe, cents.length)).toSet
      live
        .filter { case (id, _) => id != q && probes(cell(id)) }
        .map { case (id, v) => id -> dot(qv, v) / math.sqrt(dot(qv, qv)) / math.sqrt(dot(v, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k)
        .zipWithIndex
        .map { case ((id, c), r) => (q, r + 1L, id, c) }
    }
  }

  test("annIvfTopK equals the scalar assignment/probe/top-k replica on fitted centroids") {
    import spark.implicits._
    val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val e = Similarity.withNorm(df)
    val n = e.count()
    var cellTies, cosineTies = false
    // (nCentroids, nProbe, k, lloydIters): the defaults, a narrow probe,
    // nProbe past the cell count (clamped to every cell), and the bare
    // seeded quantizer, whose duplicate seeds stay identical cells
    for ((nC, nProbe, k, iters) <-
        Seq((16, 12, 10, 1), (24, 3, 5, 2), (8, 20, 7, 1), (32, 4, 6, 0))) {
      val cents = Similarity.ivfCentroids(e, n, nC, iters)
      assert(cents.length == nC)
      cellTies ||= cents.distinct.length < nC
      // the assignment (top-1) and probe (top-nProbe) lists, order included
      for (p <- Seq(1, math.min(nProbe, nC))) {
        val cells = e.select(col("vec_id"), ProbeCells.flat(col("v"), cents, p)).collect()
          .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
        assert(cells == live.map { case (id, v) => id -> topCells(v, cents, p) }.toMap,
          s"nCentroids=$nC iters=$iters: top-$p cells diverged from the replica")
      }
      val got = Similarity.annIvfTopK(df, k, 12, nC, nProbe, iters).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
      val want = replica(cents, k, 12, nProbe).sorted
      assert(want.nonEmpty && !want.exists(_._1 == zeroId))
      cosineTies ||= want.groupBy(r => (r._1, r._4)).exists(_._2.length > 1)
      assert(got == want,
        s"nCentroids=$nC nProbe=$nProbe k=$k iters=$iters: annIvfTopK diverged from the replica")
    }
    // the corpus must exercise both tie-breaks, or the gate proves less
    assert(cellTies, "no fit produced duplicate centroids: the cell tie-break went untested")
    assert(cosineTies, "no query saw a cosine tie: the neighbor tie-break went untested")
  }
}
