package graft.operators

import graft.{Sessions, Tables}
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the rolling bar indicators and the EMA: scalar replay of
  * every column over the real corpus, and the one-exchange plan shape
  * (all four indicators share the engine's symbol partitioning, and the
  * EMA's sorted groups need no other).
  */
class IndicatorsSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"
  private val n = 20

  test("indicators equal the scalar rolling replay") {
    val rows = SignalPrep.indicators(Tables.events(spark, sfDir), n)
      .select("symbol", "ts", "event_id", "close", "sma", "roll_min", "roll_max",
        "momentum", "n_in_frame")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6),
        if (r.isNullAt(7)) None else Some(r.getDouble(7)), r.getLong(8)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val ordered = rs.sortBy(r => (r._2, r._3))
      ordered.zipWithIndex.foreach { case (row, i) =>
        val frame = ordered.slice(math.max(0, i - (n - 1)), i + 1)
        def unit(c: Double): Long = math.floor(c * 1e6 + 0.5).toLong
        val sma = (frame.map(r => unit(r._4)).sum.toDouble / 1e6) / frame.length.toDouble
        assert(row._5 == sma, s"sma at $row")
        assert(row._6 == frame.map(_._4).min && row._7 == frame.map(_._4).max)
        val expMom = if (i >= n - 1) Some((unit(row._4) - unit(ordered(i - (n - 1))._4)).toDouble / 1e6)
          else None
        assert(row._8 == expMom, s"momentum at $row")
        assert(row._9 == frame.length.toLong)
      }
    }
  }

  test("ema equals the scalar sequential recurrence exactly") {
    val alpha = 0.1
    val got = SignalPrep.ema(Tables.events(spark, sfDir), alpha)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getDouble(3), r.getDouble(4)))
    val bySymbol = got.groupBy(_._1._1)
    assert(bySymbol.nonEmpty)
    bySymbol.foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._1._2, r._1._3))
      var e = 0.0
      ordered.zipWithIndex.foreach { case ((_, (close, gotEma)), i) =>
        e = if (i == 0) close else alpha * close + (1.0 - alpha) * e
        // == on doubles: the distributed iterator must be bit-identical
        assert(gotEma == e, s"ema diverged at row $i")
      }
    }
  }

  test("all indicators share one symbol exchange") {
    val events = Tables.events(spark, sfDir)
    for ((name, df) <- Seq("indicators" -> SignalPrep.indicators(events, n),
        "ema" -> SignalPrep.ema(events))) {
      // string match, not collect(): AQE's adaptive root hides children
      // from collect until execution, which would make the assert vacuous
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"$name: expected one symbol exchange, got $exchanges:\n$plan")
      assert(!plan.contains("rangepartitioning") && !plan.contains("SinglePartition"), name)
    }
  }
}
