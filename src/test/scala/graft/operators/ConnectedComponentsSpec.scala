package graft.operators

import scala.util.Random
import graft.{Sessions, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** ConnectedComponents.dupGroups vs a scalar union-find, on planted
  * shapes (chains — the under-deletion case pair emission misses) and
  * seeded random graphs, on both of its paths: the one-task union-find
  * that every pair set under the default advisory size takes, and the
  * star contraction, forced by lowering that size.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  import spark.implicits._

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    verts.map(v => v -> find(v)).toMap
  }

  private val paths = Seq("one-task" -> false, "star" -> true)

  private def run(pairs: Seq[(Long, Long)], star: Boolean, maxIter: Int = 50): Map[Long, Long] = {
    def groups: Map[Long, Long] = {
      val df = ConnectedComponents.dupGroups(pairs.toDF("doc_id_a", "doc_id_b"), maxIter = maxIter)
      assert(storedLabeling(df) != star, s"dupGroups took the wrong path (star expected: $star)")
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    if (star) ConnectedComponentsSpec.onStarPath(spark)(groups) else groups
  }

  /** The one-task path returns the stored labeling itself; the star
    * path returns a plan over its stored vertices and edges.
    */
  private def storedLabeling(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  test("non-convergence releases the edge cache and label checkpoints") {
    // the maxIter require fires mid-loop; without the cleanup path the
    // current edge checkpoint and the vertex set stayed in the block
    // manager until JVM GC noticed. Contraction needs ~log2(40) + 1
    // rounds for a 40-chain, so 2 is too few.
    val chain = (1L until 40L).map(i => (i, i + 1))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](run(chain, star = true, maxIter = 2))
    assert(e.getMessage.contains("did not converge in 2 rounds"), e.getMessage)
    // unpersists are async (blocking = false): poll briefly
    val deadline = System.nanoTime() + 10_000_000_000L
    var leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    }
    assert(leaked.isEmpty, "star path leaked blocks")
  }

  test("a chain collapses to one group (the transitive case pairs alone miss)") {
    for ((name, star) <- paths) {
      val got = run(Seq((10L, 20L), (20L, 30L), (30L, 40L), (50L, 60L)), star)
      assert(got == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L, 50L -> 50L, 60L -> 50L), name)
    }
  }

  test("an empty pair set yields an empty labeling, not an NPE") {
    assert(run(Seq.empty[(Long, Long)], star = false).isEmpty)
    // Spark requires a positive advisory size, so 0 pairs always fit
    // one task: the lowered size must not divert them
    val empty = Seq.empty[(Long, Long)].toDF("doc_id_a", "doc_id_b")
    val got = ConnectedComponentsSpec.onStarPath(spark)(ConnectedComponents.dupGroups(empty))
    assert(storedLabeling(got) && got.collect().isEmpty)
  }

  test("seeded random graphs match a scalar union-find") {
    val rnd = new Random(20260812L)
    for (round <- 1 to 6) {
      val n = 20 + rnd.nextInt(60)
      val pairs = (1 to n).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)
      for ((name, star) <- paths) assert(run(pairs, star) == unionFind(pairs), s"round $round, $name")
    }
  }

  test("star contraction matches union-find and propagation on seeded graphs") {
    // duplicate and both-ordered pairs, as a caller outside the wired
    // producers may pass them; the star path must also agree with the
    // one-task path, the default for every measured pair set
    val rnd = new Random(20260807L)
    for (round <- 1 to 4) {
      val n = 20 + rnd.nextInt(60)
      val pairs = (1 to n).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)
      val withDups = pairs ++ pairs.take(10).map(_.swap) ++ pairs.take(5)
      val star = run(withDups, star = true)
      assert(star == unionFind(pairs), s"round $round (vs union-find)")
      assert(star == run(withDups, star = false), s"round $round (vs the one-task path)")
    }
  }

  test("self-loop pairs label the vertex as its own group in BOTH modes") {
    // a (v, v) pair must not vanish: the recursive-closure oracle seeds
    // every edge endpoint, so both paths must emit the singleton
    for ((name, star) <- paths) {
      assert(run(Seq((5L, 5L), (10L, 20L)), star) == Map(5L -> 5L, 10L -> 10L, 20L -> 10L), name)
      // self-loops only: every vertex is its own component
      assert(run(Seq((5L, 5L), (7L, 7L)), star) == Map(5L -> 5L, 7L -> 7L), s"$name, self-loops only")
    }
  }

  test("star contraction collapses an adversarially deep chain in O(log n) rounds") {
    // a 2000-link path has diameter 2000; contraction must converge in
    // ceil(log2 2001) + 1 = 12 rounds, the last one detecting the
    // fixpoint. The one-task path has no rounds.
    val chain = (0L until 2000L).map(i => (i, i + 1))
    for ((name, star) <- paths) {
      val got = run(chain, star, maxIter = 12)
      assert(got.size == 2001 && got.values.forall(_ == 0L),
        s"$name: every chain vertex must label to the global min")
    }
  }

  test("groups over real jaccard pairs: every group's members share its min id") {
    val groups = ConnectedComponents.dupGroups(
      Dedup.ngramJaccardPairs(Tables.documents(spark, "/root/testdata/sf0.001"),
        maxShingleDf = Some(1000)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(groups.nonEmpty)
    val byGroup = groups.groupBy(_._2)
    byGroup.foreach { case (gid, members) =>
      assert(members.map(_._1).min == gid, s"group $gid's min member is not its label")
    }
  }

  test("a default-budget call labels the jaccard pairs in one stored partition") {
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, "/root/testdata/sf0.001"),
      maxShingleDf = Some(1000))
    val expected = unionFind(pairs.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val groups = ConnectedComponents.dupGroups(pairs)
    val stored = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(storedLabeling(groups), "the default budget must take the one-task path")
    assert(groups.rdd.getNumPartitions == 1)
    assert(stored.size == 1, s"only the labeling stays stored, saw RDDs $stored")
    assert(groups.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }
}

object ConnectedComponentsSpec {

  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** `body` with the session's advisory partition size at 1 byte (the
    * least Spark accepts), so every non-empty pair set is too large for
    * one task and `dupGroups` takes the star path; the previous value
    * is restored.
    */
  def onStarPath[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val saved = spark.conf.getOption(AdvisoryKey)
    spark.conf.set(AdvisoryKey, "1")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(AdvisoryKey, v)
      case None => spark.conf.unset(AdvisoryKey)
    }
  }
}
