package graft

import graft.core.PnlConfig
import graft.operators.MtmEngine
import graft.sources.BucketedTables
import org.scalatest.funsuite.AnyFunSuite

/** The zero-exchange MTM engine path: over symbol-bucketed bars the
  * engine pass's required clustering by symbol is already met, so the
  * planner drops the engine's exchange, and the results stay
  * bit-identical to the shuffled engine.
  */
class ColocatedEngineSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  private def shuffledBars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
  private def bucketedBars = BucketedTables.bars(spark, sfDir)

  test("timeline over bucketed bars is bit-identical to the shuffled engine") {
    val a = MtmEngine.timelineQuery(shuffledBars, PnlConfig.default)
      .collect().map(_.toSeq).toSet
    val b = MtmEngine.timelineQuery(bucketedBars, PnlConfig.default)
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("blotter over bucketed bars is bit-identical to the shuffled engine") {
    val a = MtmEngine.blotterQuery(shuffledBars, PnlConfig.default)
      .collect().map(_.toSeq).toSet
    val b = MtmEngine.blotterQuery(bucketedBars, PnlConfig.default)
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("colocated engine plans ZERO exchanges (the layout did the shuffle)") {
    val p = MtmEngine.timeline(bucketedBars, PnlConfig.default)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 0, s"bucketed bars should feed the engine with no exchange, saw:\n$p")
    assert(p.contains("MtmPass"), "engine pass stage missing")
    assert(p.contains("Bucketed: true"), "scan must report the bucketed layout")
  }

  test("shuffled engine still plans its single exchange (the contrast)") {
    val p = MtmEngine.timeline(shuffledBars, PnlConfig.default)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1)
  }
}
