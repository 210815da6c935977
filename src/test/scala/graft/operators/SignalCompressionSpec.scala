package graft.operators

import graft.{Sessions, Tables}
import graft.core.PnlConfig
import org.scalatest.funsuite.AnyFunSuite

/** The closed-form window plans must reproduce the state-machine engine
  * exactly for the default config — two independent formulations of the
  * same semantics. SignalCompression is the Spark twin of the oracle's
  * closed-form blotter, kept as this spec's cross-check of the engine;
  * no query plans through it.
  */
class SignalCompressionSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.01"

  // name-keyed row serialization: columns sorted by name, so the parity
  // check can never be fooled (or broken) by column position alone
  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] = {
    val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col)
    df.select(cols.toIndexedSeq: _*).collect().map(_.mkString("|")).toSet
  }

  test("closed-form blotter equals the MtmEngine blotter (default config)") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val engineDf = MtmEngine.blotterQuery(bars, PnlConfig.default)
    val closedDf = SignalCompression.blotterQuery(bars)
    // the public blotter column ORDER must also agree across formulations
    assert(engineDf.columns.toSeq == closedDf.columns.toSeq)
    val engine = rows(engineDf)
    val closed = rows(closedDf)
    assert(engine == closed,
      s"only-engine: ${(engine -- closed).take(3)}, only-closed: ${(closed -- engine).take(3)}")
    assert(engine.nonEmpty)
  }

  test("closed-form timeline equals the MtmEngine timeline (default config)") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val engineDf = MtmEngine.timelineQuery(bars, PnlConfig.default)
    val closedDf = SignalCompression.timeline(bars)
    assert(engineDf.columns.toSeq == closedDf.columns.toSeq)
    val engine = rows(engineDf)
    val closed = rows(closedDf)
    assert(engine == closed,
      s"only-engine: ${(engine -- closed).take(3)}, only-closed: ${(closed -- engine).take(3)}")
    assert(engine.size == bars.count())
  }

  test("closed-form plans are fully codegen'd (no object state machine)") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, "/root/testdata/sf0.001"))
    val p = SignalCompression.blotterQuery(bars).queryExecution.executedPlan.toString
    assert(!p.contains("SerializeFromObject"), "closed form must not use mapPartitions")
    // AQE hides codegen markers until execution; window + project plans
    // are codegen-eligible, the object-state-machine path is what we bar
    assert(p.contains("Window"), "expected window-function plan")
  }
}
