package graft.functions

import graft.Sessions
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** FibFinish parity: codegen'd expression vs the reference loop, and
  * the key-space contract (24-bit range, roughly centered mass — the
  * property stratified sampling's thresholds depend on).
  */
class FibFinishSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  test("codegen matches the reference implementation, keys in [0, 2^24)") {
    import spark.implicits._
    val inputs = Seq(0L, 1L, -1L, 31L, Long.MaxValue, Long.MinValue, 123456789123456789L)
    val got = inputs.toDF("h").select(col("h"), FibFinish.column(col("h")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (h <- inputs) {
      assert(got(h) == FibFinish.finish(h), s"mismatch at $h")
      assert(got(h) >= 0L && got(h) < (1L << 24), s"key out of range at $h: ${got(h)}")
    }
  }

  test("sequential ids spread: keys of 10k consecutive ids fill the space evenly") {
    // the raw rolling hash of decimal strings strides in its LOW bits;
    // the finisher must spread that across the whole 24-bit space —
    // check all 16 top-level 1/16th buckets get within 2x of fair share
    val keys = (0L until 10000L).map(i =>
      FibFinish.finish(RollingHash.hashBytes(i.toString.getBytes("UTF-8"))))
    val byBucket = keys.groupBy(_ >> 20).view.mapValues(_.size).toMap
    assert(byBucket.size == 16, s"empty top buckets: ${byBucket.keySet}")
    for ((b, n) <- byBucket)
      assert(n > 10000 / 32 && n < 10000 / 8, s"bucket $b skewed: $n of 10000")
  }
}
