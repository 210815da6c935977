package graftbench

import org.apache.spark.sql.SparkSession

/** One named workload. The harness calls, in order: `generate` once
  * (timed apart), `register` and `scan` on every set-up, 1 + `settleOps`
  * unchecked ops (all but the last in the first session), `op`/`check` in the timed loop,
  * `probes` in a traced run, and `finish` last for checks that need the
  * whole run.
  */
trait Workload {
  /** Input rows (bars or documents) one op completes. */
  def rowsPerOp: Long

  /** Unchecked ops run after the JVM's first op until the op time stops
    * falling; the last of them runs in the timed loop's session.
    */
  def settleOps: Int

  /** Write the seeded input under `dir`; runs once per process. */
  def generate(spark: SparkSession, dir: String): Unit

  /** Bind the input to the current session. */
  def register(spark: SparkSession, dir: String): Unit

  /** The set-up's warm-up read: the input through graft's table reader
    * to `noop` (also the `Tables.scan_ms` layer).
    */
  def scan(spark: SparkSession): Unit

  /** The timed unit of work. Public graft calls inside it are spans. */
  def op(i: Int, tr: Tracer): Any

  /** The op's output check, run outside the timing; None when it holds. */
  def check(i: Int, out: Any): Option[String]

  /** Checks that need the whole run; returns failed op indices. */
  def finish(spark: SparkSession, ops: Int): Map[Int, String] = Map.empty

  /** Layer probes of a traced run: calls timed outside the ops. */
  def probes(spark: SparkSession, tr: Tracer): Map[String, Double]
}

object Workload {
  val names: Seq[String] = Seq("mtm_deep", "corpus_dedup")

  def apply(name: String, seed: Long): Workload = name match {
    case "mtm_deep" => new MtmDeep(seed)
    case "corpus_dedup" => new CorpusDedup(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Median wall milliseconds of `reps` runs of `body`. */
  def medianMs(reps: Int)(body: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
