package graft.operators

import scala.util.Random
import graft.Sessions
import org.scalatest.funsuite.AnyFunSuite

/** Seeded randomized cross-check of the r13 PPJoin-shaped
  * Dedup.ngramJaccardPairs against an independent driver-side all-pairs
  * replica, over collision-dense corpora the fixed-threshold specs
  * cannot reach: a tiny vocabulary forces shared shingles everywhere
  * (prefix boundaries land on every α = ⌈t·n⌉ rounding case), random
  * thresholds sweep the prefix fraction and the positional-filter
  * slack, random df caps exercise the capped-universe algebra (m vs n
  * divergence), and even rounds plant exact copies (case/whitespace
  * variants) so identical documents meet the prefix join too — every
  * round must emit the replica's pair set WITH identical jaccard
  * doubles (the shared c/(na+nb−c) shape, same division on both
  * sides).
  */
class NgramJaccardRandomSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  /** The oracle's normalization + cap semantics, replayed scalar-side:
    * df over ALL docs, common count over capped shingles, sizes full.
    */
  private def replica(
      docs: Seq[(Long, String)], t: Double, cap: Option[Int]): Map[(Long, Long), Double] = {
    val sets = docs.map { case (id, txt) =>
      val toks = txt.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
      id -> (if (toks.length < 3) Set.empty[String]
             else toks.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val df = sets.values.flatten.groupBy(identity).map { case (s, o) => s -> o.size }
    val keep: String => Boolean = s => cap.forall(df(s) <= _)
    val ids = sets.keys.toArray.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = sets(ids(i)); b = sets(ids(j))
      c = (a & b).count(keep)
      if c > 0
      jac = c.toDouble / (a.size + b.size - c).toDouble
      if jac >= t
    } yield ((ids(i), ids(j)), jac)).toMap
  }

  test("random dense corpora: PPJoin pairs equal the all-pairs replica at random t/cap") {
    import spark.implicits._
    val rnd = new Random(20260814L)
    for (round <- 1 to 6) {
      val vocab = 4 + rnd.nextInt(5) // 4-8 tokens: dense shingle collisions
      val nDocs = 15 + rnd.nextInt(20)
      val base = (1L to nDocs.toLong).map { id =>
        val len = rnd.nextInt(14) // includes <3-token and empty docs
        id -> (0 until len).map(_ => s"w${rnd.nextInt(vocab)}").mkString(" ")
      }
      // even rounds plant exact copies (case/whitespace variants of
      // random base docs); odd rounds stay copy-free
      val copies =
        if (round % 2 == 1) Seq.empty
        else (0 until math.max(2, nDocs / 3)).map { i =>
          val (_, txt) = base(rnd.nextInt(base.size))
          val variant = if (i % 2 == 0) txt.toUpperCase else txt.replace(" ", "  ")
          (1000L + i) -> variant
        }
      val docs = base ++ copies
      val t = Seq(0.3, 0.5, 0.7, 0.8, 0.9)(rnd.nextInt(5))
      val cap = if (rnd.nextBoolean()) None else Some(2 + rnd.nextInt(docs.size))
      val got = Dedup.ngramJaccardPairs(docs.toDF("doc_id", "text"), threshold = t,
          maxShingleDf = cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val expected = replica(docs, t, cap)
      assert(got == expected,
        s"round=$round vocab=$vocab t=$t cap=$cap copies=${copies.size} " +
          s"missed: ${(expected.keySet -- got.keySet).take(5)} " +
          s"extra: ${(got.keySet -- expected.keySet).take(5)} " +
          s"valueDiff: ${expected.filter { case (k, v) => got.get(k).exists(_ != v) }.take(3)}")
    }
  }
}
