package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-agnostic exact summation of doubles — the ONE definition of
  * the quantize-then-sum idiom used by every order-dependent aggregate
  * (MtmEngine 1e-9 pnl units, Analytics/StreamingJobs 1e-6 price units;
  * the test tree's closed-form SignalCompression reference uses it too).
  *
  * Why this shape: floor(x·scale + 0.5) is pure IEEE arithmetic and
  * therefore bit-identical in every engine, unlike a double→DECIMAL cast
  * (Spark rounds the double's shortest decimal representation half-up;
  * DuckDB rounds the exact binary expansion — tie-boundary values
  * diverge, observed live at sf0.1). The DECIMAL(30,0) accumulator keeps
  * the sum exact AND overflow-safe: an int64 accumulator would silently
  * wrap around 2^63 (≈9.2e18 units — reachable by a mega-symbol at
  * 100 TB), while DuckDB's BIGINT sums promote to HUGEINT; both engines'
  * wide accumulators agree exactly.
  */
private[graft] object ExactNum {

  /** floor(x·scale + 0.5) as a DECIMAL(30,0) unit count.
    *
    * Per-row range: |x|·scale must stay below 2^63 — Spark's long-valued
    * `floor` would silently saturate at Long.MaxValue there while the
    * DuckDB oracle's DECIMAL cast raises. A value that large is already
    * corrupt at every supported scale (1e9 units ⇒ |x| ≥ 9.2e9 of a
    * price-normalized ratio), so fail loudly on both engines instead.
    */
  def units(c: Column, scale: Double): Column = {
    val scaled = c * lit(scale) + lit(0.5)
    when(abs(scaled) >= lit(9.223372036854776e18),
      raise_error(concat(
        lit(s"ExactNum.units overflow at scale $scale: "), scaled.cast("string"))))
      .otherwise(floor(scaled))
      .cast("decimal(30,0)")
  }

  /** An exact unit sum back to double — one division at the end. */
  def toDouble(sumUnits: Column, scale: Double): Column =
    sumUnits.cast("double") / lit(scale)

  /** Exact, order-independent, engine-agnostic sum of a double column. */
  def sumExact(c: Column, scale: Double): Column =
    toDouble(sum(units(c, scale)), scale)

  /** [[units]] for code that walks rows itself (the MTM engine's
    * per-symbol pass): the same IEEE expression, the same Long-valued
    * floor (NaN → 0, as Spark's `floor`) and the same named overflow
    * error.
    */
  def unitsOf(x: Double, scale: Double): Long = {
    val scaled = x * scale + 0.5
    if (math.abs(scaled) >= 9.223372036854776e18)
      throw new ArithmeticException(s"ExactNum.units overflow at scale $scale: $scaled")
    math.floor(scaled).toLong
  }

  /** A mutable exact unit count, the in-JVM twin of the DECIMAL
    * accumulator behind [[sumExact]]: 128-bit two's complement
    * (hi·2^64 + unsigned lo), so a sum past Long range carries where a
    * `Long` would wrap. Sums of fewer than 2^64 per-row units never
    * overflow it.
    */
  final class UnitSum {
    private var hi = 0L
    private var lo = 0L

    def add(u: Long): Unit = {
      val s = lo + u
      // carry out of the unsigned low word, plus u's sign extension
      hi += (if (java.lang.Long.compareUnsigned(s, lo) < 0) 1L else 0L) + (u >> 63)
      lo = s
    }

    def set(o: UnitSum): Unit = { hi = o.hi; lo = o.lo }

    /** Writes the count as its hi and lo words (16 bytes). */
    def save(b: java.nio.ByteBuffer): Unit = b.putLong(hi).putLong(lo)

    /** Reads what [[save]] wrote. */
    def restore(b: java.nio.ByteBuffer): Unit = { hi = b.getLong; lo = b.getLong }

    /** this := a − b */
    def setDiff(a: UnitSum, b: UnitSum): Unit = {
      val borrow = if (java.lang.Long.compareUnsigned(a.lo, b.lo) < 0) 1L else 0L
      lo = a.lo - b.lo
      hi = a.hi - b.hi - borrow
    }

    def compare(o: UnitSum): Int =
      if (hi != o.hi) java.lang.Long.compare(hi, o.hi)
      else java.lang.Long.compareUnsigned(lo, o.lo)

    /** [[toDouble]]'s arithmetic: the count correctly rounded to double
      * (as Spark's DECIMAL → DOUBLE cast), then one division.
      */
    def toDouble(scale: Double): Double = {
      val units =
        if (hi == (lo >> 63)) lo.toDouble // fits a signed Long
        else java.math.BigInteger.valueOf(hi).shiftLeft(64)
          .add(java.math.BigInteger.valueOf(lo >>> 32).shiftLeft(32))
          .add(java.math.BigInteger.valueOf(lo & 0xFFFFFFFFL))
          .doubleValue
      units / scale
    }
  }
}
