package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Gates the shared CpuSpread guard's three behaviors (r19 review
  * finding: the extraction from Multimodal silently dropped that
  * caller's planned-count fallback for non-file-backed frames, so a
  * 1-partition in-memory frame would pin the per-byte decode kernels
  * to one task — the SCALING_r8 11.75x pathology the guard exists to
  * prevent):
  *  - default (text/dedup sites): only FILE-BACKED frames spread; a
  *    producer-chosen partitioning on an in-memory/checkpoint frame is
  *    respected (the r19 interleaved A/B measured spreading post-gate
  *    survivors net-negative),
  *  - plannedFallback=true (Multimodal): an under-parallel frame
  *    spreads even without a file-scan leaf, via the planned count,
  *  - a file-backed frame under the r20 byte floor is never spread.
  */
class CpuSpreadSpec extends AnyFunSuite {

  private lazy val spark = graft.Sessions.local("4")

  private def narrow() = {
    import spark.implicits._
    (1 to 64).map(i => (i.toLong, s"doc$i")).toDF("id", "text").coalesce(1)
  }

  test("default: a non-file-backed frame keeps its producer partitioning") {
    val df = narrow()
    assert(df.rdd.getNumPartitions === 1)
    assert(CpuSpread.spread(df).rdd.getNumPartitions === 1)
  }

  test("plannedFallback: an under-parallel in-memory frame spreads to the cores") {
    val df = narrow()
    val par = spark.sparkContext.defaultParallelism
    assert(CpuSpread.spread(df, plannedFallback = true)
      .rdd.getNumPartitions === par)
  }

  test("a single-file scan spreads to the cores under the default policy") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cpuspread").toString
    // random bytes do not compress, so the one file clears the r20 byte
    // floor the way a real single-row-group corpus file does
    val rnd = new java.util.Random(7L)
    (1 to 256).map { i =>
      val b = new Array[Byte](512)
      rnd.nextBytes(b)
      (i.toLong, b)
    }.toDF("id", "payload").coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val par = spark.sparkContext.defaultParallelism
    val (est, bytes) = CpuSpread.scanInfo(scan).get
    assert(bytes >= CpuSpread.MinSpreadBytesDefault,
      s"test premise: the parquet ($bytes B) clears the floor")
    assert(est < par)
    assert(CpuSpread.spread(scan).rdd.getNumPartitions === par)
  }

  test("r20 size floor: a sub-floor file-backed frame is NOT spread") {
    val dir = java.nio.file.Files.createTempDirectory("cpuspread_floor").toString
    narrow().write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val (est, bytes) = CpuSpread.scanInfo(scan).get
    assert(bytes > 0 && bytes < CpuSpread.MinSpreadBytesDefault,
      s"test premise: the tiny parquet ($bytes B) sits under the floor")
    assert(est < spark.sparkContext.defaultParallelism)
    // no exchange added despite est < par
    assert(CpuSpread.spread(scan).rdd.getNumPartitions ===
      scan.rdd.getNumPartitions)
  }
}
