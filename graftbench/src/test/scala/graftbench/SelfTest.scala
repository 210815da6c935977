package graftbench

import graft.{Sessions, Tables}
import graft.operators.MtmEngine

/** The harness's own tests: generator determinism, metric names, the
  * p90 sample rule and failure counting. Prints one `ok`/`FAIL` line per
  * test and the metric table (`metric <set> <name> <unit>`), and exits
  * non-zero if a test failed. Run it through `python3 graftbench/selftest.py`.
  */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val bars = Gen.BarSpec(symbols = 5, bars = 300, sigma = 0.01, buyP = 0.05, sellP = 0.05)
    val docs = Gen.DocSpec(docs = 300, minWords = 120, maxWords = 220,
      copyShare = 0.05, nearShare = 0.05, piiShare = 0.1, gopherFailShare = 0.1)
    val stream = Gen.StreamSpec(newPerBatch = 10, life = 4, barsPerBatch = 3, sigma = 0.01, buyP = 0.1, sellP = 0.1)

    test("same seed, same generated bars; another seed, other bars") {
      expect(Gen.barsDigest(7, bars) == Gen.barsDigest(7, bars), "bars digest not stable")
      expect(Gen.barsDigest(7, bars) != Gen.barsDigest(8, bars), "bars digest ignores the seed")
    }
    test("same seed, same generated documents; another seed, other documents") {
      expect(Gen.docsDigest(7, docs) == Gen.docsDigest(7, docs), "docs digest not stable")
      expect(Gen.docsDigest(7, docs) != Gen.docsDigest(8, docs), "docs digest ignores the seed")
    }
    test("same seed, same stream batches; another seed, other batches") {
      expect(Gen.streamDigest(7, stream, 6) == Gen.streamDigest(7, stream, 6), "stream digest not stable")
      expect(Gen.streamDigest(7, stream, 6) != Gen.streamDigest(8, stream, 6), "stream digest ignores the seed")
    }
    test("every stream batch carries the same steady population") {
      val sizes = (0 until 8).map(b => Gen.streamBatch(7, stream, b).length)
      expect(sizes.distinct == Seq(stream.newPerBatch * stream.life * stream.barsPerBatch), s"batch sizes $sizes")
    }
    test("planted document roles cover every kind") {
      val kinds = (0L until docs.docs.toLong).map(Gen.docMeta(7, docs, _).kind).toSet
      expect(kinds == Set("plain", "copy", "near", "pii", "gopher"), s"kinds $kinds")
    }
    test("metric names and units are well formed and unique") {
      val all = Metrics.endToEnd ++ Metrics.perLayer
      all.foreach { case (n, u) =>
        expect(Stats.validName(n), s"bad metric name $n")
        expect(u.matches("[A-Za-z0-9_/%.-]{1,16}"), s"bad unit $u of $n")
      }
      expect(all.map(_._1).distinct.length == all.length, "duplicate metric name")
      expect(Metrics.endToEnd.exists(_ == ("setup_s" -> "s")), "setup_s missing")
      expect(!Stats.validName("op p50") && !Stats.validName(".x") && !Stats.validName("a" * 65), "name rule too loose")
    }
    test("a p90 is reported only with at least 10 samples beyond it") {
      expect(!Stats.p90Reportable(1) && !Stats.p90Reportable(10) && !Stats.p90Reportable(99), "p90 reported too early")
      expect(Stats.p90Reportable(100) && Stats.p90Reportable(1000), "p90 withheld with 10 samples beyond it")
    }
    test("quantiles interpolate between order statistics") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd median")
      expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even median")
      expect(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0, "p90 of two")
    }
    test("failures are counted per op: a throw, a failed check and a throwing check each fail one op") {
      val ok = Main.verdict(Right(1), _ => None)
      val threw = Main.verdict(Left(new RuntimeException("boom")), _ => None)
      val rejected = Main.verdict(Right(1), _ => Some("wrong output"))
      val checkThrew = Main.verdict(Right(1), _ => throw new IllegalStateException("bad"))
      expect(ok.isEmpty, "a passing op failed")
      expect(threw.exists(_.contains("boom")) && rejected.contains("wrong output") &&
        checkThrew.exists(_.contains("bad")), s"$threw $rejected $checkThrew")
      val failedOps = Seq(ok, threw, rejected, checkThrew).zipWithIndex.collect { case (Some(_), i) => i }.toSet
      expect(Stats.failedRatio(4, failedOps) == 0.75, "failed ratio")
      expect(Stats.failedRatio(1, Set.empty) == 0.0, "failed ratio of a clean run")
      expect(scala.util.Try(Stats.failedRatio(2, Set(2))).isFailure, "out-of-range op accepted")
    }
    test("the written events parquet is the generator's bars") {
      val dir = args.headOption.getOrElse(sys.error("usage: SelfTest <scratch dir>"))
      val spark = Sessions.local("2")
      try {
        Gen.writeEvents(spark, 7, bars, dir, 2)
        val read = MtmEngine.barsFromEvents(Tables.events(spark, dir))
          .select("symbol", "ts_us", "event_id", "close", "buy", "sell").collect()
          .map(r => Gen.Bar(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4) == 1, r.getInt(5) == 1))
          .sortBy(_.eventId).toSeq
        expect(read == Gen.allBars(7, bars).toSeq.sortBy(_.eventId), "parquet bars differ from the generator's")
      } finally spark.stop()
    }

    (Metrics.endToEnd.map("end_to_end" -> _) ++ Metrics.perLayer.map("per_layer" -> _)).foreach {
      case (set, (n, u)) => println(s"metric $set $n $u")
    }
    println(if (failed == 0) "all self-tests passed" else s"$failed self-test(s) failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
