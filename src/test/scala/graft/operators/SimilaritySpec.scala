package graft.operators

import graft.{Sessions, Tables}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** ANN gates (SURVEY §2 #26/#27): the bounded-heap brute-force top-k
  * must equal a driver-side exact recomputation, and hyperplane-LSH must
  * reach a sane recall against it at the configured table/bit counts.
  */
class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.01"

  private def collectTopK(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq }

  private lazy val vectors: Map[Long, Array[Double]] =
    Tables.embeddings(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na) / math.sqrt(nb)
  }

  private lazy val exactTopK: Map[Long, Seq[Long]] =
    (0L until 10L).map { q =>
      val qv = vectors(q)
      q -> vectors.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(10).map(_._1)
    }.toMap

  test("random vectors with zeros and duplicates: brute force stays exact, zeros excluded") {
    // Randomized gate for the centralized zero-norm filter in
    // Similarity.withNorm: under ANSI mode the shared cosine
    // expression errors on a zero norm, so an unfiltered degenerate
    // row would crash the job (DedupSpec's sibling gate found exactly
    // that in the embedding-dedup paths). Zero vectors must appear
    // NEITHER as queries (ids < nQueries emit no rows) NOR as
    // neighbors; duplicated vectors force exact score ties, so the
    // comparison is per-query score MULTISETS plus value parity
    // against the scalar replica, which is tie-robust where a
    // neighbor-id sequence comparison is not.
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    for (round <- 1 to 3) {
      val dim = 5 + rnd.nextInt(4)
      val base = (0L until (25 + rnd.nextInt(20)).toLong).map { id =>
        id -> Array.fill(dim)(rnd.nextDouble() * 2 - 1)
      }
      val dups = (0 until 3).map(i => (800L + i) -> base(rnd.nextInt(base.size))._2)
      val zeroQ = Seq(3L -> Array.fill(dim)(0.0)) // inside the query range
      val zeroC = Seq(900L -> Array.fill(dim)(0.0)) // corpus side
      val all = (base.filter(_._1 != 3L) ++ dups ++ zeroQ ++ zeroC).toMap
      val df = all.toSeq.map { case (id, v) => (id, v.toSeq) }
        .toDF("vec_id", "embedding")
      val k = 5
      val got = collectTopK(Similarity.annBruteForceTopK(df, k = k, nQueries = 10))
      assert(!got.contains(3L), "zero-vector query must emit no rows")
      assert(got.values.flatten.forall(_._1 != 900L), "zero vector must never be a neighbor")
      val live = all.filter(_._2.exists(_ != 0.0))
      for (q <- 0L until 10L if live.contains(q)) {
        val expected = live.toSeq.filter(_._1 != q)
          .map { case (id, v) => cosine(all(q), v) }
          .sorted(Ordering[Double].reverse).take(k)
        val gotScores = got(q).map(_._2)
        assert(gotScores.size == expected.size, s"round=$round q=$q row count")
        gotScores.zip(expected).foreach { case (g, e) =>
          assert(math.abs(g - e) < 1e-12, s"round=$round q=$q score drift: $g vs $e")
        }
        got(q).foreach { case (id, c) =>
          assert(math.abs(c - cosine(all(q), all(id))) < 1e-12,
            s"round=$round q=$q neighbor $id value parity")
        }
      }
    }
  }

  test("brute-force top-k equals driver-side exact recomputation") {
    val got = collectTopK(Similarity.annBruteForceTopK(Tables.embeddings(spark, sfDir)))
    assert(got.keySet == exactTopK.keySet)
    for ((q, neighbors) <- got) {
      assert(neighbors.map(_._1) == exactTopK(q), s"query $q neighbor mismatch")
      // heap scores equal direct cosine up to fp noise of summation order
      neighbors.foreach { case (id, c) =>
        assert(math.abs(c - cosine(vectors(q), vectors(id))) < 1e-12)
      }
    }
  }

  test("IVF top-k recall against brute force is reasonable") {
    val exact = exactTopK
    val ivf = collectTopK(Similarity.annIvfTopK(Tables.embeddings(spark, sfDir)))
      .map { case (q, ns) => q -> ns.map(_._1).toSet }
    val recalls = exact.map { case (q, ids) =>
      ids.count(ivf.getOrElse(q, Set.empty)).toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    info(s"IVF mean recall@10 = $mean")
    // measured 0.93 (sf0.01) / 0.92 (sf0.1) at the default 12-probe/16
    // cells (SURVEY.md's sweep); 0.8 matches the LSH floor and still fails a
    // degraded quantizer or a broken sampled fit
    assert(mean >= 0.8, s"mean recall@10 $mean below 0.8 — IVF parameters degraded")
    // candidates carry exact cosines, so returned neighbors are real
    assert(ivf.values.forall(_.nonEmpty))
  }

  test("LSH top-k recall against brute force is reasonable") {
    val exact = exactTopK
    val lsh = collectTopK(Similarity.annLshTopK(Tables.embeddings(spark, sfDir)))
      .map { case (q, ns) => q -> ns.map(_._1).toSet }
    val recalls = exact.map { case (q, ids) =>
      val got = lsh.getOrElse(q, Set.empty)
      ids.count(got).toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    info(s"LSH mean recall@10 = $mean")
    // 0.4 would pass a nearly-useless index; the default 12 tables × 4
    // bits measures 0.89 on this corpus (candidates are deduped
    // pre-scoring, so extra tables cost buckets, not dot products)
    assert(mean >= 0.8, s"mean recall@10 $mean below 0.8 — LSH parameters degraded")
    // candidates are verified with exact cosine, so anything returned is real
    assert(lsh.values.forall(_.nonEmpty))
  }

  test("every ANN operator scores a pair once: planted copies, distinct neighbors, contiguous ranks") {
    // two exact copies of each query meet it in all 12 LSH tables and in
    // its own IVF cell; a pair scored once per shared key would fill the
    // heap with repeats of one neighbor
    import spark.implicits._
    val rnd = new scala.util.Random(20261020L)
    val dim = 8
    val base = (0L until 200L).map(id => id -> Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
    val copies = for (q <- 0 until 10; c <- 1 to 2) yield (1000L * c + q) -> base(q)._2
    val df = (base ++ copies).toDF("vec_id", "embedding")
    for ((name, op) <- Seq[(String, DataFrame => DataFrame)](
        ("annBruteForceTopK", Similarity.annBruteForceTopK(_)),
        ("annLshTopK", Similarity.annLshTopK(_)),
        ("annIvfTopK", Similarity.annIvfTopK(_)))) {
      val rows = op(df).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(rows.map(_._1).toSet == (0L until 10L).toSet, name)
      for ((q, rs) <- rows.groupBy(_._1)) {
        val ids = rs.sortBy(_._2).map(_._3).toSeq
        assert(ids.distinct == ids, s"$name q=$q repeats a neighbor: $ids")
        assert(rs.map(_._2).sorted.toSeq == (1L to rs.length.toLong), s"$name q=$q ranks")
        assert(rs.length == 10, s"$name q=$q row count")
        // the planted copies are found, at cosine 1
        for (c <- Seq(1000L + q, 2000L + q))
          assert(rs.exists(r => r._3 == c && math.abs(r._4 - 1.0) < 1e-12), s"$name q=$q misses copy $c")
      }
    }
  }

  test("NULL vectors pair with nothing on the scale paths") {
    // r17 review regression gate: a corpus whose first scanned row
    // carries a NULL embedding used to crash the wired IVF path even
    // though every kernel drops NULL vectors. The stored frame sizes the
    // index from the rows it keeps, so scan order cannot matter.
    import spark.implicits._
    val df = Seq(
      (1L, null.asInstanceOf[Seq[Double]]),
      (2L, Seq(1.0, 2.0, 3.0)),
      (3L, Seq(4.0, 5.0, 6.0))
    ).toDF("vec_id", "embedding")
    def ids(out: DataFrame): Set[(Long, Long)] =
      out.collect().map(r => (r.getLong(0), r.getLong(if (r.length == 4) 2 else 1))).toSet
    for ((name, op, expected) <- Seq(
        ("embedding_ivf", Dedup.embeddingNearDupsIvf(_: DataFrame, 0.9), Set((2L, 3L))),
        ("embedding_lsh", Dedup.embeddingNearDupsLsh(_: DataFrame, 0.9), Set((2L, 3L))),
        ("ann_lsh_topk", Similarity.annLshTopK(_: DataFrame), Set((2L, 3L), (3L, 2L))),
        ("ann_ivf_topk", Similarity.annIvfTopK(_: DataFrame), Set((2L, 3L), (3L, 2L))))) {
      // the NULL row pairs with nothing; the near-identical pair is found
      assert(ids(op(df)) == expected, name)
    }
  }

  test("mixed dimensions fail at construction naming both sizes") {
    import spark.implicits._
    val mixed = Seq((1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(1.0, 2.0)), (3L, Seq(3.0, 1.0, 2.0)))
      .toDF("vec_id", "embedding")
    for ((name, op) <- Seq[(String, DataFrame => DataFrame)](
        ("Dedup.embeddingNearDupsIvf", Dedup.embeddingNearDupsIvf(_)),
        ("Dedup.embeddingNearDupsLsh", Dedup.embeddingNearDupsLsh(_)),
        ("Similarity.annLshTopK", Similarity.annLshTopK(_)),
        ("Similarity.annIvfTopK", Similarity.annIvfTopK(_)))) {
      // building the frame fails; no action is needed to see it
      val e = intercept[IllegalArgumentException](op(mixed))
      assert(e.getMessage.contains(s"$name: embeddings mix dimensions 2 and 3"), e.getMessage)
    }
  }
}
