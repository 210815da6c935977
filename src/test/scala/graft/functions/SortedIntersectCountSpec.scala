package graft.functions

import graft.Sessions
import org.scalatest.funsuite.AnyFunSuite

/** SortedIntersectCount parity: codegen'd merge walk vs the obvious
  * set-intersection reference, on edge shapes and fuzzed sorted-set
  * pairs. The caller contract is ascending DISTINCT arrays (the minhash
  * verify feeds `SortedLongSetAgg` — the typed imperative aggregate that
  * replaced the boxed `sort_array(collect_list(h))` shape in r10 and
  * emits each doc's hash set already ascending-distinct).
  */
class SortedIntersectCountSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  private def count(a: Seq[Long], b: Seq[Long]): Long = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(SortedIntersectCount.column(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("c"))
      .head().getLong(0)
  }

  test("edge shapes: empty, disjoint, identical, containment, boundaries") {
    assert(count(Nil, Nil) == 0L)
    assert(count(Seq(1L, 2L, 3L), Nil) == 0L)
    assert(count(Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)) == 0L)
    assert(count(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == 3L)
    assert(count(Seq(2L), Seq(1L, 2L, 3L)) == 1L)
    assert(count(Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)) == 2L)
  }

  test("fuzz vs set intersection on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases = (1 to 200).map { _ =>
      val universe = (1 to rnd.nextInt(60)).map(_ => rnd.nextLong() % 100)
      val a = universe.filter(_ => rnd.nextBoolean()).distinct.sorted
      val b = universe.filter(_ => rnd.nextBoolean()).distinct.sorted
      (a, b, (a.toSet intersect b.toSet).size.toLong)
    }
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(SortedIntersectCount.column(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b")).as("c"))
      .as[Long].collect()
    cases.zip(got).foreach { case ((a, b, exp), g) =>
      assert(g == exp, s"mismatch for $a vs $b: got $g want $exp")
    }
  }

  test("SQL registration and null propagation") {
    import org.apache.spark.sql.functions.{array, lit}
    val one = spark.range(1)
    val r = one.select(SortedIntersectCount.column(
      array(lit(1L), lit(2L), lit(3L)), array(lit(2L), lit(3L), lit(4L))).as("c")).head().getLong(0)
    assert(r == 2L)
    val n = one.select(SortedIntersectCount.column(
      lit(null).cast("array<bigint>"), array(lit(1L))).as("c")).head()
    assert(n.isNullAt(0))
  }
}
