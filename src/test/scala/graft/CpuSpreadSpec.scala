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
  *  - spark.graft.cpuSpread.enabled=false pins the no-op everywhere.
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

  /** Run `body` with a session conf key set, restoring the PRE-test
    * value (or unset) afterwards — r19 ADVICE: restoring a literal
    * leaves the shared session's conf explicitly set for later suites.
    */
  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a single-file scan spreads to the cores under the default policy") {
    val dir = java.nio.file.Files.createTempDirectory("cpuspread").toString
    narrow().write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val par = spark.sparkContext.defaultParallelism
    // the test file is a few KiB — under the r20 byte floor by design,
    // so the spread behavior itself is gated with the floor disabled
    withConf("spark.graft.cpuSpread.minBytes", "0") {
      assert(CpuSpread.spread(scan).rdd.getNumPartitions === par)
    }
  }

  test("r20 size floor: a sub-floor file-backed frame is NOT spread") {
    val dir = java.nio.file.Files.createTempDirectory("cpuspread_floor").toString
    narrow().write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val (est, bytes) = CpuSpread.scanInfo(scan).get
    assert(bytes > 0 && bytes < CpuSpread.MinSpreadBytesDefault,
      s"test premise: the tiny parquet ($bytes B) sits under the floor")
    assert(est < spark.sparkContext.defaultParallelism)
    // default floor: no exchange added despite est < par
    assert(CpuSpread.spread(scan).rdd.getNumPartitions ===
      scan.rdd.getNumPartitions)
    // conf override re-arms the spread (deployment escape hatch)
    withConf("spark.graft.cpuSpread.minBytes", "1") {
      assert(CpuSpread.spread(scan).rdd.getNumPartitions ===
        spark.sparkContext.defaultParallelism)
    }
  }

  test("the escape hatch pins the no-op for both policies") {
    withConf("spark.graft.cpuSpread.enabled", "false") {
      val df = narrow()
      assert(CpuSpread.spread(df, plannedFallback = true)
        .rdd.getNumPartitions === 1)
      val dir = java.nio.file.Files.createTempDirectory("cpuspread2").toString
      df.write.mode("overwrite").parquet(dir)
      assert(CpuSpread.spread(spark.read.parquet(dir))
        .rdd.getNumPartitions === 1)
    }
  }

  test("a malformed cpuSpread conf value fails naming the key and the value") {
    val dir = java.nio.file.Files.createTempDirectory("cpuspread_conf").toString
    narrow().write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    withConf("spark.graft.cpuSpread.minBytes", "64k") {
      val e = intercept[IllegalArgumentException](CpuSpread.spread(scan))
      assert(e.getMessage.contains("spark.graft.cpuSpread.minBytes") &&
        e.getMessage.contains("'64k'"), e.getMessage)
    }
    withConf("spark.graft.cpuSpread.enabled", "yes") {
      val e = intercept[IllegalArgumentException](CpuSpread.spread(narrow()))
      assert(e.getMessage.contains("spark.graft.cpuSpread.enabled") &&
        e.getMessage.contains("'yes'"), e.getMessage)
    }
  }
}
