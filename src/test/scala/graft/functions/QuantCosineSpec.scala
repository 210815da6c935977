package graft.functions

import graft.Sessions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** Losslessness gate for the r13 quantized LSH prefilter: every pair
  * the full-precision [[CosinePairs]] kernel scores ≥ threshold must
  * survive [[QuantCosinePairs]]' quantized-cosine-plus-error-bound
  * test — the property that makes the int16 bucket payload safe. Also
  * pins that the bound is TIGHT enough to prune (a vacuous bound would
  * silently ship the whole quadratic pair space to the verify) and the
  * [[QuantizeVec]] no-clamping/zero-vector contracts.
  */
class QuantCosineSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  private def msFrames(vecs: Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    val e = vecs.toDF("vec_id", "v0")
      .select(col("vec_id"), col("v0").cast("array<double>").as("v"))
      .withColumn("norm", DotProduct.column(col("v"), col("v")))
      .withColumn("qs", QuantizeVec.column(col("v")))
    val quant = e
      .agg(collect_list(struct(
        col("vec_id"), col("qs.q"), col("qs.s"), col("qs.qn"), col("qs.en"),
        col("norm"))).as("ms"))
      .select(QuantCosinePairs.column(col("ms"), 0.4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = e
      .agg(collect_list(struct(col("vec_id"), col("v"), col("norm"))).as("ms"))
      .select(ColumnBridge.column(CosinePairs(ColumnBridge.expression(col("ms")), 0.4)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (quant, exact)
  }

  test("quantized prefilter is lossless vs the full-precision kernel and actually prunes") {
    // deterministic corpus: random unit-ish vectors, planted near-dup
    // pairs at several cosines straddling the 0.4 threshold, an exact
    // duplicate (cos 1.0), a zero vector, and a tiny-magnitude vector
    // (quantization scale stress)
    val rnd = new scala.util.Random(20260814L)
    val d = 64
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def mix(a: Array[Double], cos: Double): Array[Double] = {
      // construct w with <a,w> ~ cos: w = cos*a + sqrt(1-cos^2)*b_perp
      val b = unit()
      val proj = a.zip(b).map { case (x, y) => x * y }.sum
      val perp = b.zip(a).map { case (y, x) => y - proj * x }
      val pn = math.sqrt(perp.map(x => x * x).sum)
      val p = perp.map(_ / pn)
      a.zip(p).map { case (x, y) => cos * x + math.sqrt(1 - cos * cos) * y }
    }
    val anchors = (0 until 40).map(_ => unit())
    val planted = Seq(0.35, 0.38, 0.399, 0.401, 0.42, 0.5, 0.9).zipWithIndex.flatMap {
      case (c, i) => Seq(anchors(i), mix(anchors(i), c))
    }
    val special = Seq(
      anchors(20), anchors(20),                     // exact dup, cos 1.0
      Array.fill(d)(0.0),                           // zero vector
      anchors(21).map(_ * 1e-8))                    // tiny magnitude
    val all = (anchors.drop(22) ++ planted ++ special)
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    val (quant, exact) = msFrames(all)
    assert(exact.nonEmpty, "planted pairs should clear the threshold")
    val missed = exact -- quant
    assert(missed.isEmpty, s"lossless prefilter dropped qualifying pairs: $missed")
    val totalPairs = all.size.toLong * (all.size - 1) / 2
    assert(quant.size < totalPairs,
      s"bound is vacuous: ${quant.size} of $totalPairs pairs survived the prefilter")
  }

  test("quantize_vec: zero vector yields s=0/q=0, no coordinate ever clamps") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vecs = Seq.fill(50)(Seq.fill(16)(rnd.nextGaussian() * math.pow(10, rnd.between(-6, 3)))) :+
      Seq.fill(16)(0.0)
    val rows = vecs.toDF("v0")
      .select(col("v0").cast("array<double>").as("v"))
      .select(QuantizeVec.column(col("v")).as("qs"), col("v"))
      .collect()
    rows.foreach { r =>
      val qs = r.getStruct(0)
      val q = qs.getAs[Array[Byte]](0)
      val s = qs.getDouble(1)
      val v = r.getSeq[Double](1)
      val shorts = q.grouped(2).map(p => ((p(0) << 8) | (p(1) & 0xff)).toShort).toArray
      if (v.forall(_ == 0.0)) {
        assert(s == 0.0 && shorts.forall(_ == 0))
      } else {
        // reconstruction error per coordinate bounded by s/2 (the
        // QuantCosinePairs bound's load-bearing premise)
        v.zip(shorts).foreach { case (x, qi) =>
          assert(math.abs(x - s * qi) <= s / 2 + 1e-18,
            s"coordinate $x reconstructed ${s * qi} beyond s/2 = ${s / 2}")
        }
      }
    }
  }
}
