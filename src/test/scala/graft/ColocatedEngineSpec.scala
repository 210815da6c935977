package graft

import graft.core.PnlConfig
import graft.operators.{MtmEngine, MtmRunner, Observed, SignalPrep}
import graft.sources.BucketedTables
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The zero-exchange MTM engine path: over symbol-bucketed bars the
  * engine pass's required clustering by symbol is already met, so the
  * planner drops the engine's exchange, for the lazy surfaces and the
  * stored run alike, and the results stay bit-identical to the
  * shuffled engine. The EMA states the same layout, so symbol-bucketed
  * events drop its exchange too.
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

  test("stored run over bucketed bars is bit-identical and runs no shuffle") {
    // rows as a multiset, doubles by bit pattern
    def bag(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case x => x
      }).groupBy(identity).map { case (k, v) => k -> v.size }
    def frames(r: MtmRunner.MtmResult) = Seq(r.timeline, r.trades, r.summary)
    val want = frames(MtmRunner.calculate(shuffledBars, PnlConfig.default)).map(bag)
    val bars = bucketedBars // the table is written before the listener starts
    val sc = spark.sparkContext
    val (stages, shuffled) = (new AtomicLong, new AtomicLong)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffled.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
    }
    org.apache.spark.ListenerDrain(sc, Observed.Bound.toMillis)
    sc.addSparkListener(listener)
    val got = try {
      val res = MtmRunner.calculate(bars, PnlConfig.default)
      org.apache.spark.ListenerDrain(sc, Observed.Bound.toMillis)
      res
    } finally sc.removeSparkListener(listener)
    assert(stages.get > 0, "the store ran no stage")
    assert(shuffled.get == 0, s"the store over bucketed bars shuffled ${shuffled.get} records")
    for ((name, w, g) <- Seq("timeline", "trades", "summary").lazyZip(want).lazyZip(frames(got))) {
      assert(w.nonEmpty && w == bag(g), s"$name differs from the shuffled run")
    }
  }

  test("ema over symbol-bucketed events plans no exchange and is bit-identical") {
    val bucketed = Tables.canonicalTs(
      spark.table(BucketedTables.ensure(spark, sfDir, "events", "user_id")))
    val colocated = SignalPrep.ema(bucketed)
    val p = colocated.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 0, s"bucketed events should feed the ema with no exchange, saw:\n$p")
    // every row, doubles by bit pattern
    def rows(df: DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        java.lang.Double.doubleToLongBits(r.getDouble(4)))).sorted
    val want = rows(SignalPrep.ema(Tables.events(spark, sfDir)))
    assert(want.nonEmpty && want == rows(colocated))
  }

  test("shuffled engine still plans its single exchange (the contrast)") {
    val p = MtmEngine.timeline(shuffledBars, PnlConfig.default)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1)
  }
}
