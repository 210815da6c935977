package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-document eval-containment probe: for one training document,
  * every `(eval_id, containment)` pair at or above the containment
  * floor, computed entirely inside the scan against a BROADCAST eval
  * shingle index.
  *
  * Why a generator and not the broadcast-join + groupBy it replaces
  * (that formulation lives in the test tree as DecontaminateKernelSpec's
  * reference): every shingle of a training document originates in
  * that document's ONE input row, so each (train, eval)
  * overlap group is complete inside the scan task — the join's
  * per-hit row materialization and the aggregate's (train, eval) pair
  * exchange (365 MB at sf10, growing with corpus×eval pair density,
  * i.e. ~quadratically under proportional scaling) carried data that
  * never needed to leave its partition. This kernel counts hits in a
  * per-task int array and emits only the flagged rows: the query's
  * only moving rows are its OUTPUT.
  *
  * Bit-compatibility contract (DecontaminateKernelSpec pins the full
  * output against the exchange formulation, randomized):
  *  - shingles: [[ShingleGenerator.tokenize]] semantics — lower →
  *    split `\s` runs → n-token windows joined by ' ' — per-document
  *    distinct by exact STRING (byte) equality, the
  *    `shingles_distinct` stream (byte-space walk as [[MinHashDoc]];
  *    the `\s` class is pure ASCII so byte scanning cannot split a
  *    multi-byte codepoint);
  *  - matching: exact BYTES against the eval index (64-bit probe, byte
  *    verify — never hash-trusted), so two distinct shingles colliding
  *    in 64 bits cannot cross-count;
  *  - containment: `n_common.toDouble / n_eval.toDouble >= floor`, the
  *    identical IEEE division and comparison the relational filter
  *    evaluated.
  */
// CodegenFallback: GenerateExec drives generators through eval() — the
// win is eliminating the pair exchange, not expression codegen
case class EvalContainment(
    child: Expression,
    index: Broadcast[EvalContainment.EvalIndex],
    minContainment: Double,
    n: Int = 3)
    extends UnaryExpression with CollectionGenerator with CodegenFallback {

  require(n >= 1, "shingle width must be >= 1")

  override def elementSchema: StructType = StructType(Seq(
    StructField("eval_id", LongType, nullable = false),
    StructField("containment", DoubleType, nullable = false)))

  override def collectionType: DataType = ArrayType(elementSchema, containsNull = false)
  override def position: Boolean = false
  override def inline: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"eval_containment requires a string argument, got ${child.dataType}")

  // per-task scratch (one expression instance per deserialized task,
  // rows evaluated serially): hit counts per eval doc + the touched
  // list that resets only what a document actually incremented
  @transient private lazy val counts: Array[Int] = new Array[Int](index.value.evalIds.length)
  @transient private lazy val touched: Array[Int] = new Array[Int](index.value.evalIds.length)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) Nil
    else {
      val idx = index.value
      if (idx.evalIds.length == 0) Nil
      else EvalContainment.probe(
        raw.asInstanceOf[UTF8String], idx, n, minContainment, counts, touched)
    }
  }

  override def dataType: DataType = collectionType

  override protected def withNewChildInternal(newChild: Expression): EvalContainment =
    copy(child = newChild)

  override def prettyName: String = "eval_containment"
  override def toString: String = s"eval_containment($child, $minContainment)"
}

object EvalContainment {

  /** The broadcast eval shingle index: flat primitive arrays (compact,
    * Java-serializable, shared once per executor).
    *  - distinct eval shingles live concatenated in `keyBytes`
    *    (`keyOffs` has K+1 offsets, `keyHash` the XXH64 of each slice);
    *  - `slots` is the open-addressed probe table (pow2, load < 0.7)
    *    mapping a probe to a key ordinal or -1;
    *  - key ordinal k's posting list is `listEval[listOffs(k) until
    *    listOffs(k+1))` — dense eval ordinals;
    *  - eval ordinal e is document `evalIds(e)` with `nEval(e)` distinct
    *    shingles (the containment denominator).
    */
  final case class EvalIndex(
      keyBytes: Array[Byte],
      keyOffs: Array[Int],
      keyHash: Array[Long],
      slots: Array[Int],
      listOffs: Array[Int],
      listEval: Array[Int],
      evalIds: Array[Long],
      nEval: Array[Int])

  /** Build the index from the grouped eval inverted index — one
    * `(shingle, eval doc_ids)` row per DISTINCT eval shingle. Because
    * the per-doc index rows are distinct by construction
    * (`shingles_distinct`), each doc's denominator `n_eval` is exactly
    * the number of posting lists it appears in — recovered here in the
    * same pass, no second job over the eval side.
    */
  def build(grouped: Array[(String, Array[Long])]): EvalIndex = {
    val k = grouped.length
    val evalOrd = new java.util.HashMap[java.lang.Long, Integer]()
    val evalIdsBuf = new scala.collection.mutable.ArrayBuffer[Long]()
    var totalBytes = 0L
    var totalPost = 0
    for ((s, ids) <- grouped) {
      totalBytes += s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      totalPost += ids.length
    }
    require(totalBytes < Int.MaxValue, "eval shingle index exceeds 2 GiB of key bytes")
    val keyBytes = new Array[Byte](totalBytes.toInt)
    val keyOffs = new Array[Int](k + 1)
    val keyHash = new Array[Long](k)
    val listOffs = new Array[Int](k + 1)
    val listEval = new Array[Int](totalPost)
    var off = 0
    var post = 0
    var i = 0
    while (i < k) {
      val (s, ids) = grouped(i)
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      System.arraycopy(b, 0, keyBytes, off, b.length)
      keyOffs(i) = off
      off += b.length
      keyHash(i) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      listOffs(i) = post
      var j = 0
      while (j < ids.length) {
        val id = ids(j)
        var ord = evalOrd.get(id)
        if (ord == null) {
          ord = evalIdsBuf.length
          evalOrd.put(id, ord)
          evalIdsBuf += id
        }
        listEval(post) = ord
        post += 1
        j += 1
      }
      i += 1
    }
    keyOffs(k) = off
    listOffs(k) = post
    val evalIds = evalIdsBuf.toArray
    val nEval = new Array[Int](evalIds.length)
    var p = 0
    while (p < totalPost) { nEval(listEval(p)) += 1; p += 1 }
    // open-addressed table over the key ordinals
    val cap = MinHashDoc.pow2Cap(k, "eval_containment index build")
    val slots = new Array[Int](cap)
    java.util.Arrays.fill(slots, -1)
    val mask = cap - 1
    i = 0
    while (i < k) {
      val h = keyHash(i)
      var pr = ((h ^ (h >>> 32)).toInt) & mask
      while (slots(pr) != -1) pr = (pr + 1) & mask
      slots(pr) = i
      i += 1
    }
    EvalIndex(keyBytes, keyOffs, keyHash, slots, listOffs, listEval, evalIds, nEval)
  }

  /** One document's pass: normalize to a byte buffer, walk the shingle
    * windows with per-doc exact-byte dedup (the [[MinHashDoc.compute]]
    * construction), probe each FIRST occurrence against the eval table,
    * and emit the eval docs whose hit count clears the floor.
    */
  private[functions] def probe(
      s: UTF8String,
      idx: EvalIndex,
      n: Int,
      minContainment: Double,
      counts: Array[Int],
      touched: Array[Int]): IterableOnce[InternalRow] = {
    val bytes = s.toString.toLowerCase(java.util.Locale.ROOT)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val len = bytes.length
    val norm = new Array[Byte](len)
    var tokStarts = new Array[Int](16)
    var nt = 0
    var w = 0
    var i = 0
    while (i < len) {
      if (MinHashDoc.isWsByte(bytes(i))) i += 1
      else {
        if (nt == tokStarts.length) tokStarts = java.util.Arrays.copyOf(tokStarts, nt << 1)
        if (nt > 0) { norm(w) = ' '; w += 1 }
        tokStarts(nt) = w
        nt += 1
        while (i < len && !MinHashDoc.isWsByte(bytes(i))) { norm(w) = bytes(i); w += 1; i += 1 }
      }
    }
    val cnt = nt - n + 1
    if (cnt <= 0) return Nil
    val ts = tokStarts
    val ends = new Array[Int](cnt)
    var e = 0
    while (e < cnt) {
      ends(e) = if (e + n < nt) ts(e + n) - 1 else w
      e += 1
    }
    // per-doc dedup table (exact bytes; 64-bit collisions stay distinct)
    val cap = MinHashDoc.pow2Cap(cnt, "eval_containment shingle dedup")
    val mask = cap - 1
    val slotIdx = new Array[Int](cap)
    java.util.Arrays.fill(slotIdx, -1)
    val slotHash = new Array[Long](cap)
    val emask = idx.slots.length - 1
    // `counts` is per-TASK scratch: every entry this document touches
    // MUST be zeroed before the method exits on ANY path (the finally
    // below), else an exception mid-probe (e.g. OOM on the output
    // buffer) would leave dirty counts that over-count containment for
    // every later row the same task evaluates.
    var nTouched = 0
    try {
      var si = 0
      while (si < cnt) {
        val st = ts(si)
        val en = ends(si)
        val h = XXH64.hashUnsafeBytes(norm, Platform.BYTE_ARRAY_OFFSET + st, en - st, 42L)
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
          // probe the eval table: hash hit is only a hint, bytes decide
          var ep = ((h ^ (h >>> 32)).toInt) & emask
          var key = -1
          var miss = false
          while (key == -1 && !miss) {
            val cand = idx.slots(ep)
            if (cand == -1) miss = true
            else if (idx.keyHash(cand) == h && {
              val ko = idx.keyOffs(cand)
              val kl = idx.keyOffs(cand + 1) - ko
              kl == en - st && java.util.Arrays.equals(
                idx.keyBytes, ko, ko + kl, norm, st, en)
            }) key = cand
            else ep = (ep + 1) & emask
          }
          if (key != -1) {
            var q = idx.listOffs(key)
            val qEnd = idx.listOffs(key + 1)
            while (q < qEnd) {
              val ord = idx.listEval(q)
              if (counts(ord) == 0) { touched(nTouched) = ord; nTouched += 1 }
              counts(ord) += 1
              q += 1
            }
          }
        }
        si += 1
      }
      if (nTouched == 0) Nil
      else {
        val out = new scala.collection.mutable.ArrayBuffer[InternalRow](nTouched)
        var t = 0
        while (t < nTouched) {
          val ord = touched(t)
          val c = counts(ord).toDouble / idx.nEval(ord).toDouble
          if (c >= minContainment) out += InternalRow(idx.evalIds(ord), c)
          t += 1
        }
        out
      }
    } finally {
      var t = 0
      while (t < nTouched) { counts(touched(t)) = 0; t += 1 }
    }
  }

  /** The kernel as a Column (direct construction, no session registry —
    * same pattern as the other graft kernels).
    */
  def column(text: Column, bc: Broadcast[EvalIndex], minContainment: Double): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(EvalContainment(ColumnBridge.expression(text), bc, minContainment))
  }
}
