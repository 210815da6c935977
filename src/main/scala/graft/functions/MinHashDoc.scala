package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The whole per-document MinHash input — the `perms`-long signature
  * AND the ascending sorted hash-set array the verify join consumes —
  * as ONE scalar kernel over the raw text:
  * `struct<mh: array<long>, hs: array<long>>` (set size = `size(hs)`).
  *
  * Why a scalar and not the aggregate pipeline it replaces
  * (shingles_distinct generator → xxhash64 → repartition(doc_id) →
  * MinHashSig + SortedLongSetAgg + count): every shingle of a document
  * originates in that document's ONE input row, so the per-doc "group"
  * is complete inside the scan task and the exchange existed only to
  * satisfy the aggregate's distribution requirement — 313 MB of
  * (doc_id, h) rows at sf10 (a third of the query's total shuffle)
  * carrying data that never needed to leave its partition. This kernel
  * computes the same three values in the scan projection itself: the
  * signature/set building becomes embarrassingly parallel map work,
  * and the first exchange the query pays is the (band, bucket, doc_id)
  * explode — rows, not corpus content.
  *
  * Bit-compatibility contract (MinHashDocSpec pins all three against
  * the aggregate formulation on real tables; that formulation's
  * reference copy lives in the test tree):
  *  - shingles: [[ShingleGenerator.tokenize]] + n-token join on ' ',
  *    per-document distinct by STRING, first occurrence wins — the
  *    `shingles_distinct` stream;
  *  - hashes: `xxhash64(shingle)` exactly ([[XXH64.hashUTF8String]]
  *    with Spark's default seed 42 over the shingle's UTF-8 bytes);
  *  - mh: min over the seeded multiply-shift permutation family
  *    [[MinHashDoc.coeffs]] (a_i odd ⇒ bijective), element-wise over
  *    the per-doc hash stream — the family the test-tree MinHashSig
  *    aggregate reads too;
  *  - hs: the hashes sorted ASCENDING, duplicates kept (two distinct
  *    shingles of one doc colliding in 64 bits — the documented
  *    ~(shingles/doc)²/2⁶⁵ class), matching [[SortedLongSetAgg]].
  *
  * A document with fewer than `n` tokens yields empty arrays — the
  * caller filters `size(hs) > 0`, mirroring the aggregate shape where
  * such docs produced no index rows and therefore no group.
  */
case class MinHashDoc(
    child: Expression,
    perms: Int,
    n: Int = 3,
    seed: Long = 0x9e3779b97f4a7c15L)
    extends UnaryExpression {

  require(perms > 0, "perms must be positive")
  require(n >= 1, "shingle width must be >= 1")

  @transient private lazy val coeffs: (Array[Long], Array[Long]) =
    MinHashDoc.coeffs(perms, seed)

  override def dataType: DataType = StructType(Seq(
    StructField("mh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("hs", ArrayType(LongType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"minhash_doc requires a string argument, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHashDoc.compute(input.asInstanceOf[UTF8String], n, coeffs._1, coeffs._2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val as = ctx.addReferenceObj("mhdAs", coeffs._1, "long[]")
      val bs = ctx.addReferenceObj("mhdBs", coeffs._2, "long[]")
      s"${ev.value} = graft.functions.MinHashDoc.compute($v, $n, $as, $bs);"
    })

  override def toString: String = s"minhash_doc($child, $perms)"

  override protected def withNewChildInternal(newChild: Expression): MinHashDoc =
    copy(child = newChild)

  override def prettyName: String = "minhash_doc"
}

object MinHashDoc {

  /** The seeded multiply-shift permutation family: all `a` drawn before
    * all `b`, each `a` odd so a·h + b is a bijection on Z/2⁶⁴. The
    * test-tree MinHashSig aggregate draws the same family, which
    * MinHashDocSpec's bit-equality gate depends on.
    */
  private[functions] def coeffs(perms: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(perms)(rnd.nextLong() | 1L) // odd ⇒ bijective
    val b = Array.fill(perms)(rnd.nextLong())
    (a, b)
  }

  private val empty = new GenericArrayData(Array.emptyLongArray)

  // Java regex `\s` — the exact ASCII class the tokenizer splits on.
  // All six are < 0x80, and UTF-8 continuation/lead bytes are >= 0x80,
  // so scanning for them in BYTE space can never split inside a
  // multi-byte codepoint. Shared with the other byte-space kernels
  // ([[EvalContainment]]).
  private[functions] def isWsByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Smallest pow2 capacity keeping the open-addressed load factor
    * < 0.7 for n entries. LONG arithmetic: the naive `cap * 7 < n * 10`
    * in Int wraps negative once n >= ~215M (a single ~0.5 GB document's
    * shingle count), leaving cap at 8 — and the insert loop then spins
    * forever the moment 8 distinct keys fill the table. Capped at 2^30
    * (the largest pow2 JVM array): n above that table's 0.7 load
    * ceiling is a hard error, never a hang. Shared by every byte-space
    * kernel ([[MinHashDoc]], [[EvalContainment]] probe + build).
    */
  private[functions] def pow2Cap(n: Int, what: String): Int = {
    val ceil = ((1 << 30) * 7L) / 10
    require(n >= 0 && n <= ceil,
      s"$what: $n distinct keys exceeds the open-addressed table ceiling ($ceil)")
    var cap = 8
    while (cap * 7L < n * 10L) cap <<= 1
    cap
  }

  /** The fused pass — static so generated code calls it directly.
    *
    * Works in BYTE space after the one unavoidable String round-trip
    * (`toString.toLowerCase(Locale.ROOT)` — the tokenizer contract,
    * locale-pinned so a tr_TR JVM cannot diverge on the dotted-I
    * mappings): the token
    * stream is re-joined once into a normalized byte buffer, so every
    * shingle is a CONTIGUOUS slice of it — hashed in place, deduped by
    * exact byte comparison in an open-addressed table. Zero per-shingle
    * allocations (the generator formulation paid a StringBuilder copy,
    * a String, a boxed HashSet entry, and a UTF8String per window),
    * and the dedup stays exact-STRING semantics: two distinct shingles
    * colliding in 64 bits land in separate slots and both append,
    * exactly like the aggregate path it replaced.
    */
  def compute(s: UTF8String, n: Int, as: Array[Long], bs: Array[Long]): InternalRow = {
    val perms = as.length
    val bytes = s.toString.toLowerCase(java.util.Locale.ROOT)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val len = bytes.length
    // normalize: tokens joined by single ' ' into `norm`, starts noted
    val norm = new Array[Byte](len)
    var tokStarts = new Array[Int](16)
    var nt = 0
    var w = 0
    var i = 0
    while (i < len) {
      if (isWsByte(bytes(i))) i += 1
      else {
        if (nt == tokStarts.length) tokStarts = java.util.Arrays.copyOf(tokStarts, nt << 1)
        if (nt > 0) { norm(w) = ' '; w += 1 }
        tokStarts(nt) = w
        nt += 1
        while (i < len && !isWsByte(bytes(i))) { norm(w) = bytes(i); w += 1; i += 1 }
      }
    }
    val cnt = nt - n + 1
    if (cnt <= 0) return InternalRow(empty, empty)
    // shingle i spans norm[ts(i), ends(i)) — precomputed flat (no
    // nested def here: one capturing a `var` local would make scalac
    // box it into a Ref, taxing every access in the loops above too)
    val ts = tokStarts
    val ends = new Array[Int](cnt)
    var e = 0
    while (e < cnt) {
      ends(e) = if (e + n < nt) ts(e + n) - 1 else w
      e += 1
    }
    // open-addressed dedup: slot -> (hash, first shingle index with
    // that string); pow2 capacity > cnt/0.7 so probes stay short
    val cap = pow2Cap(cnt, "minhash_doc shingle dedup")
    val mask = cap - 1
    val slotIdx = new Array[Int](cap)
    java.util.Arrays.fill(slotIdx, -1)
    val slotHash = new Array[Long](cap)
    val hs = new Array[Long](cnt)
    var m = 0
    var si = 0
    while (si < cnt) {
      val st = ts(si)
      val en = ends(si)
      val h = XXH64.hashUnsafeBytes(
        norm, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + st, en - st, 42L)
      var p = ((h ^ (h >>> 32)).toInt) & mask
      var dup = false
      var open = false
      while (!dup && !open) {
        val prev = slotIdx(p)
        if (prev == -1) open = true
        else if (slotHash(p) == h &&
          java.util.Arrays.equals(norm, ts(prev), ends(prev), norm, st, en)) dup = true
        else p = (p + 1) & mask
      }
      if (!dup) {
        slotIdx(p) = si
        slotHash(p) = h
        hs(m) = h
        m += 1
      }
      si += 1
    }
    // permutation OUTER, hash inner: the running min and the (a, b)
    // pair stay in registers and hs streams sequentially from L1/L2;
    // the hash-outer order pays a coeff load + an mh read-modify-write
    // per element instead. Same arithmetic, element-wise identical —
    // measured ~15% faster on the interleaved single-thread A/B
    // (SCALING_r13 `minhash_per_row_kernel_late_r13`; Spark stage CPU
    // can't adjudicate this, host phases drift more than the delta).
    val mh = new Array[Long](perms)
    var p = 0
    while (p < perms) {
      val a = as(p)
      val b = bs(p)
      var best = Long.MaxValue
      var k = 0
      while (k < m) {
        val v = a * hs(k) + b
        if (v < best) best = v
        k += 1
      }
      mh(p) = best
      p += 1
    }
    val hsOut = java.util.Arrays.copyOf(hs, m)
    java.util.Arrays.sort(hsOut)
    InternalRow(new GenericArrayData(mh), new GenericArrayData(hsOut))
  }

  /** The kernel as a Column (direct construction, no session registry —
    * same pattern as the other graft kernels).
    */
  def column(text: org.apache.spark.sql.Column, perms: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(MinHashDoc(ColumnBridge.expression(text), perms))
  }
}
