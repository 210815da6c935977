package graft.functions

import graft.Sessions
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Mix64 parity (codegen vs reference loop) and the avalanche property
  * SimHash depends on: flipping one input bit flips ~half the output
  * bits, for EVERY output bit position to be a usable vote.
  */
class Mix64Spec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  test("codegen matches the reference implementation") {
    import spark.implicits._
    val inputs = Seq(0L, 1L, -1L, 31L, Long.MaxValue, Long.MinValue, 123456789123456789L)
    val got = inputs.toDF("h").select(col("h"), Mix64.column(col("h")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (h <- inputs) assert(got(h) == Mix64.mix(h), s"mismatch at $h")
  }

  test("avalanche: single-bit input flips change ~32 output bits") {
    val rnd = new scala.util.Random(7)
    val flips = for {
      _ <- 1 to 200
      h = rnd.nextLong()
      b = rnd.nextInt(64)
    } yield java.lang.Long.bitCount(Mix64.mix(h) ^ Mix64.mix(h ^ (1L << b)))
    val mean = flips.sum.toDouble / flips.size
    assert(mean > 28 && mean < 36, s"poor avalanche: mean flip count $mean")
    assert(flips.min >= 12, s"catastrophic single case: ${flips.min} bits flipped")
  }
}
