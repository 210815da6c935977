package graft.operators

import graft.Sessions
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import scala.concurrent.duration._

/** Bounded Observation reads: a metric that never arrives fails with an
  * error naming the operator and the metric instead of hanging.
  */
class ObservedSpec extends AnyFunSuite with TimeLimits {

  // interrupts a read that blocks past the spec's own limit
  private implicit val signaler: Signaler = ThreadSignaler
  private lazy val spark = Sessions.local("4")

  test("an Observation whose action never ran fails within the bound, naming operator and metric") {
    failAfter(Span(30, Seconds)) {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Observed.metrics(Observation("never"), "Spec.operator", "n", bound = 2.seconds)
      }
      val waited = (System.nanoTime() - t0).nanos
      assert(e.getMessage.contains("Spec.operator") && e.getMessage.contains("'n'"), e.getMessage)
      assert(waited >= 2.seconds && waited < 20.seconds, s"waited $waited")
    }
  }

  test("delivered metrics are read through the bounded wait") {
    failAfter(Span(60, Seconds)) {
      val o = Observation("delivered")
      spark.range(10).observe(o, count(lit(1)).as("n"), sum(col("id")).as("s"))
        .localCheckpoint(eager = true)
      assert(Observed.metrics(o, "Spec.operator", "n") == Map("n" -> 10L, "s" -> 45L))
    }
  }
}
