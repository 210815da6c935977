package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, entity, index) built from integer mixing and IEEE +,-,*,/
  * only, so the executors that write the parquet and the driver-side
  * replay see bit-identical inputs without shipping data around.
  */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed ^ 0x632BE59BD9B4E019L) + a) + b * 0x9E3779B97F4A7C15L + c)

  /** Uniform double in [0, 1). */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  // ---- bars --------------------------------------------------------------

  /** Shape of a generated bar set. `sigma` is the per-bar step of the
    * multiplicative price walk; `buyP`/`sellP` the signal densities.
    */
  final case class BarSpec(
      symbols: Int, bars: Int, sigma: Double, buyP: Double, sellP: Double,
      barStepSec: Long = 60L)

  val T0Us: Long = 1700000000L * 1000000L

  /** One generated bar, in the engine's canonical shape. */
  final case class Bar(symbol: Long, tsUs: Long, eventId: Long, close: Double, buy: Boolean, sell: Boolean)

  /** The bars of one symbol, in time order. Timestamps strictly increase
    * within a symbol; event ids are globally unique.
    */
  def symbolBars(seed: Long, spec: BarSpec, symbol: Long): Iterator[Bar] = {
    var price = 20.0 + 80.0 * unit(hash(seed, symbol, -1L))
    val offsetUs = (symbol % 60L) * 1000000L
    Iterator.tabulate(spec.bars) { i =>
      val h = hash(seed, symbol, i.toLong)
      // sum of two uniforms: a cheap, symmetric, bounded step
      val z = unit(h) + unit(mix(h)) - 1.0
      price = price * (1.0 + spec.sigma * 2.0 * z)
      if (price < 1.0) price = 1.0 + (1.0 - price)
      val s = unit(mix(h ^ 0x5DEECE66DL))
      Bar(symbol, T0Us + offsetUs + i.toLong * spec.barStepSec * 1000000L,
        symbol * spec.bars.toLong + i, price, s < spec.buyP, s >= spec.buyP && s < spec.buyP + spec.sellP)
    }
  }

  def allBars(seed: Long, spec: BarSpec): Iterator[Bar] =
    Iterator.range(0, spec.symbols).flatMap(s => symbolBars(seed, spec, s.toLong))

  /** The bars as an `events` table (the schema [[graft.Tables.events]]
    * reads): purchase = buy, click = sell, view = hold bar.
    */
  def writeEvents(spark: SparkSession, seed: Long, spec: BarSpec, dir: String, files: Int): Unit = {
    import spark.implicits._
    val sp = spec
    spark.range(0, sp.symbols.toLong, 1L, files).as[Long].mapPartitions { syms =>
      syms.flatMap { s =>
        symbolBars(seed, sp, s).map { b =>
          (b.eventId, b.symbol, b.tsUs, if (b.buy) "purchase" else if (b.sell) "click" else "view", b.close)
        }
      }
    }.toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .select(col("event_id"), col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  // ---- streaming bars -----------------------------------------------------

  /** Churning symbol population for the stream: every batch introduces
    * `newPerBatch` symbols that live `life` batches and then never come
    * back, so idle eviction fires and a re-appearing symbol never
    * restarts from a flat book.
    */
  final case class StreamSpec(newPerBatch: Int, life: Int, barsPerBatch: Int, sigma: Double,
      buyP: Double, sellP: Double, batchSpanSec: Long = 3600L) {
    def evictAfterMs: Long = 2L * batchSpanSec * 1000L
  }

  def streamBatch(seed: Long, spec: StreamSpec, batch: Int): Seq[Bar] = {
    // births start before batch 0, so every batch carries the same
    // steady-state population of newPerBatch × life symbols
    val firstBirth = batch - spec.life + 1
    val batchT0 = T0Us + batch.toLong * spec.batchSpanSec * 1000000L
    val stepUs = spec.batchSpanSec * 1000000L / spec.barsPerBatch
    val out = Seq.newBuilder[Bar]
    var birth = firstBirth
    while (birth <= batch) {
      var k = 0
      while (k < spec.newPerBatch) {
        val sym = (birth.toLong + spec.life) * spec.newPerBatch + k
        val age = batch - birth
        // the price continues the symbol's walk across batches: recompute
        // it from the symbol's birth (cheap at these depths, and keeps
        // every batch a pure function of (seed, batch))
        var price = 20.0 + 80.0 * unit(hash(seed, sym, -1L))
        var i = 0
        val firstStep = age * spec.barsPerBatch
        while (i < firstStep + spec.barsPerBatch) {
          val h = hash(seed, sym, i.toLong)
          val z = unit(h) + unit(mix(h)) - 1.0
          price = price * (1.0 + spec.sigma * 2.0 * z)
          if (price < 1.0) price = 1.0 + (1.0 - price)
          if (i >= firstStep) {
            val j = i - firstStep
            val s = unit(mix(h ^ 0x5DEECE66DL))
            out += Bar(sym, batchT0 + j.toLong * stepUs + (sym % 997L),
              sym * 1000000L + i, price, s < spec.buyP, s >= spec.buyP && s < spec.buyP + spec.sellP)
          }
          i += 1
        }
        k += 1
      }
      birth += 1
    }
    out.result()
  }

  // ---- documents ----------------------------------------------------------

  /** Planted-structure shares of a generated corpus. */
  final case class DocSpec(
      docs: Int, minWords: Int, maxWords: Int,
      copyShare: Double, nearShare: Double, piiShare: Double, gopherFailShare: Double)

  /** What the generator planted in one document. `base` is the doc a
    * copy or near-duplicate was derived from (-1 for none).
    */
  final case class DocMeta(id: Long, kind: String, base: Long)

  private val Stop = Array("the", "a", "and", "of", "to", "is", "in", "that", "it", "on",
    "be", "have", "with")
  private val Syll = Array("ka", "ro", "mi", "tel", "san", "vo", "de", "lin", "ur", "pa",
    "qua", "ne", "sto", "ri", "bel", "mon", "ta", "gor", "fi", "len")

  private def word(h: Long): String = {
    val n = 2 + (java.lang.Long.remainderUnsigned(h, 3L)).toInt
    val sb = new StringBuilder
    var x = h
    var i = 0
    while (i < n) { x = mix(x); sb.append(Syll(java.lang.Long.remainderUnsigned(x, Syll.length.toLong).toInt)); i += 1 }
    sb.toString
  }

  private def baseWords(seed: Long, spec: DocSpec, id: Long): Array[String] = {
    val span = spec.maxWords - spec.minWords + 1
    val n = spec.minWords + java.lang.Long.remainderUnsigned(hash(seed, id, -7L), span.toLong).toInt
    Array.tabulate(n) { i =>
      val h = hash(seed, id, i.toLong, 11L)
      if (unit(h) < 0.3) Stop(java.lang.Long.remainderUnsigned(mix(h), Stop.length.toLong).toInt)
      else word(h)
    }
  }

  /** Planted role of doc `id` ("plain", "copy", "near", "pii", "gopher"). */
  def docMeta(seed: Long, spec: DocSpec, id: Long): DocMeta = {
    val u = unit(hash(seed, id, -3L))
    val c1 = spec.copyShare; val c2 = c1 + spec.nearShare
    val c3 = c2 + spec.piiShare; val c4 = c3 + spec.gopherFailShare
    // a derived doc points at an earlier plain doc: base ids are the ids
    // the generator keeps plain (see basePick); the first docs are plain
    if (id < 64 || u >= c4) DocMeta(id, "plain", -1L)
    else if (u < c1) DocMeta(id, "copy", basePick(seed, spec, id))
    else if (u < c2) DocMeta(id, "near", basePick(seed, spec, id))
    else if (u < c3) DocMeta(id, "pii", -1L)
    else DocMeta(id, "gopher", -1L)
  }

  /** A plain doc earlier than `id` to derive from: bases are drawn from
    * the 64 always-plain leading docs so clusters have several members.
    */
  private def basePick(seed: Long, spec: DocSpec, id: Long): Long =
    java.lang.Long.remainderUnsigned(hash(seed, id, -5L), 64L)

  def docText(seed: Long, spec: DocSpec, id: Long): String = {
    val m = docMeta(seed, spec, id)
    m.kind match {
      case "copy" =>
        docText(seed, spec, m.base)
      case "near" =>
        // one word replaced: word-shingle Jaccard to the base stays ≥ 0.9
        val ws = baseWords(seed, spec, m.base)
        val pos = 5 + java.lang.Long.remainderUnsigned(hash(seed, id, -9L), (ws.length - 10).toLong).toInt
        ws(pos) = "edit" + word(hash(seed, id, -10L))
        ws.mkString(" ")
      case "pii" =>
        val ws = baseWords(seed, spec, id)
        val pos = java.lang.Long.remainderUnsigned(hash(seed, id, -11L), ws.length.toLong).toInt
        ws(pos) = s"user$id@mail${id % 7}.example.com"
        ws.mkString(" ")
      case "gopher" =>
        // too short for the Gopher word floor (50 words)
        baseWords(seed, spec, id).take(20).mkString(" ")
      case _ =>
        baseWords(seed, spec, id).mkString(" ")
    }
  }

  def writeDocs(spark: SparkSession, seed: Long, spec: DocSpec, dir: String, files: Int): Unit = {
    import spark.implicits._
    val sp = spec
    spark.range(0, sp.docs.toLong, 1L, files).as[Long]
      .map(id => (id, docText(seed, sp, id)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Order-independent digest of generated inputs (for the self-tests). */
  def barsDigest(seed: Long, spec: BarSpec): Long =
    allBars(seed, spec).foldLeft(0L) { (acc, b) =>
      acc + mix(b.symbol * 31 + b.tsUs + java.lang.Double.doubleToLongBits(b.close) +
        (if (b.buy) 1 else if (b.sell) 2 else 0))
    }

  def docsDigest(seed: Long, spec: DocSpec): Long =
    (0L until spec.docs.toLong).foldLeft(0L)((acc, id) => acc + mix(id * 131 + docText(seed, spec, id).hashCode))

  def streamDigest(seed: Long, spec: StreamSpec, batches: Int): Long =
    (0 until batches).flatMap(b => streamBatch(seed, spec, b)).foldLeft(0L) { (acc, b) =>
      acc + mix(b.symbol * 31 + b.tsUs + java.lang.Double.doubleToLongBits(b.close))
    }
}
