package graft.operators

import graft.{Sessions, Tables}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The eager-construction rule: a frame returned by a surface that
  * stores its result at construction must be consumed before
  * `Sessions.dropAllCaches`. After the drop, a read fails with Spark's
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — it never recomputes and never
  * returns rows.
  */
class StaleStoreSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("a frame from an eager surface fails once its store is dropped") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_id_a", "doc_id_b")
    val docs = Tables.documents(spark, sfDir)
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val surfaces = Seq[(String, () => Seq[DataFrame])](
      ("dupGroups, one-task path", () => Seq(ConnectedComponents.dupGroups(pairs))),
      ("dupGroups, star path", () =>
        Seq(ConnectedComponentsSpec.onStarPath(spark)(ConnectedComponents.dupGroups(pairs)))),
      ("calculate", () => {
        val r = MtmRunner.calculate(bars)
        Seq(r.timeline, r.trades, r.summary)
      }),
      ("cleanCorpus", () => Seq(CorpusPipeline.cleanCorpus(docs))),
      ("minhashLshPairs", () => Seq(Dedup.minhashLshPairs(docs))))
    for ((name, build) <- surfaces) {
      val frames = build()
      Sessions.dropAllCaches(spark)
      frames.zipWithIndex.foreach { case (df, i) =>
        val e = intercept[Exception](df.collect())
        assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")),
          s"$name frame $i failed with another cause: $e")
      }
    }
  }
}
