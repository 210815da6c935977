package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins README's "Eager construction" split through the profiler: a lazy
  * query runs none of its own jobs until its action, an eager one runs
  * its stores at construction.
  */
class QueryProfileSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"
  // Spark resolves a parquet file's schema with one job (its parallel
  // footer read), so construction pays it once per `Tables` read; every
  // query below reads one table once
  private val ReadJobs = 1

  private def once(q: String): QueryProfile.Run = {
    val runs = QueryProfile.profile(spark, q, sfDir, 1)
    assert(runs.size === 1)
    val r = runs.head
    assert(r.query === q && r.run === 1)
    assert(r.constructMs >= 0 && r.actionMs >= 0)
    assert(r.stages.nonEmpty && r.stages.forall(s => s.tasks > 0 && s.wallMs >= 0), r)
    r
  }

  test("a lazy query runs only its table read at construction and its work in the action") {
    for (q <- Seq("q_dedup_exact", "q_dedup_ngram_jaccard")) {
      val r = once(q)
      assert(r.constructJobs === ReadJobs, r)
      assert(r.actionJobs >= 1, r)
    }
  }

  test("an eager query runs its checkpoint jobs at construction") {
    val r = once("q_dedup_groups")
    assert(r.constructJobs > ReadJobs, r)
  }

  test("the LSH vector paths build with the table read plus one stored-frame job") {
    // the stored frame's checkpoint observes the row count and the
    // dimension, so sizing the index runs no job of its own
    for (q <- Seq("q_ann_lsh_topk", "q_dedup_embedding_lsh")) {
      val r = once(q)
      assert(r.constructJobs === ReadJobs + 1, r)
    }
  }

  test("the IVF vector paths build with the table read, the stored frame and one fit draw") {
    for (q <- Seq("q_ann_ivf_topk", "q_dedup_embedding_ivf")) {
      val r = once(q)
      assert(r.constructJobs === ReadJobs + 2, r)
    }
  }

  test("the LSH and IVF top-k actions run no more jobs than brute force's") {
    // all three score their candidates in one broadcast join
    val brute = once("q_ann_bruteforce_topk")
    for (q <- Seq("q_ann_lsh_topk", "q_ann_ivf_topk")) {
      val r = once(q)
      assert(r.actionJobs <= brute.actionJobs, s"$r\nbrute force: $brute")
    }
  }
}
