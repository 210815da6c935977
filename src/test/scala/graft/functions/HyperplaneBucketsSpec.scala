package graft.functions

import graft.{Sessions, Tables}
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused LSH bucketing kernel: the codegen path must agree with a
  * plain-Scala reference loop over the same plane matrix on real
  * vectors, stay inside whole-stage codegen, and fail loudly on a
  * dimension mismatch.
  */
class HyperplaneBucketsSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"
  private val (tables, bits) = (5, 3)

  private def refBuckets(v: Array[Double], planes: Seq[Seq[Double]]): Seq[Long] =
    (0 until tables).map { t =>
      (0 until bits).foldLeft(0L) { (bk, b) =>
        val p = planes(t * bits + b)
        val dot = v.indices.map(i => v(i) * p(i)).sum
        if (dot >= 0.0) bk | (1L << b) else bk
      }
    }

  test("codegen buckets equal the reference loop on real embeddings") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val planes = Similarity.hyperplanes(dim, tables, bits)
    val df = emb.select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val got = df.select(col("vec_id"), HyperplaneBuckets.buckets(col("v"), planes, tables, bits))
      .as[(Long, Seq[Long])].collect().toMap
    val exp = df.as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> refBuckets(v.toArray, planes) }.toMap
    assert(got.nonEmpty && got == exp)
    // sign-fold order matters: the reference uses the same ascending-index
    // accumulation, so equality here pins the fold order too
    assert(df.select(HyperplaneBuckets.buckets(col("v"), planes, tables, bits)).queryExecution
      .executedPlan.toString.contains("*(1)"),
      "bucketing must stay inside whole-stage codegen")
  }

  test("randomized adversarial vectors bucket identically to the reference loop") {
    // real embeddings are unit-ish floats; the kernel must also hold on
    // the ugly inputs the ANN surface can meet: mixed magnitudes
    // (1e-30..1e30 — dot products that overflow a careless order),
    // exact zeros on plane-aligned axes (the >= 0 tie), negatives-only,
    // and the all-zero vector (bucket = all-ones by the tie rule)
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(0xB17)
    val planes = Similarity.hyperplanes(dim, tables, bits)
    val vecs: Seq[(Long, Seq[Double])] = (0L until 300L).map { id =>
      val v = Array.tabulate(dim) { _ =>
        rnd.nextInt(5) match {
          case 0 => 0.0
          case 1 => -math.pow(10.0, rnd.nextInt(61) - 30) * rnd.nextDouble()
          case 2 => math.pow(10.0, rnd.nextInt(61) - 30) * rnd.nextDouble()
          case 3 => rnd.nextGaussian()
          case _ => (rnd.nextInt(7) - 3).toDouble
        }
      }
      if (id == 0L) java.util.Arrays.fill(v, 0.0) // the all-zero vector
      (id, v.toSeq)
    }
    val got = vecs.toDF("vec_id", "v")
      .select(col("vec_id"), HyperplaneBuckets.buckets(col("v"), planes, tables, bits))
      .as[(Long, Seq[Long])].collect().toMap
    val exp = vecs.map { case (id, v) => id -> refBuckets(v.toArray, planes) }.toMap
    assert(got == exp)
    assert(got(0L).forall(_ == (1L << bits) - 1), "zero vector must tie to all-ones")
  }

  test("dimension mismatch fails loudly instead of degrading") {
    val planes = Similarity.hyperplanes(4, tables, bits)
    val err = intercept[Exception] {
      Tables.embeddings(spark, sfDir)
        .select(col("embedding").cast("array<double>").as("v"))
        .select(HyperplaneBuckets.buckets(col("v"), planes, tables, bits))
        .collect()
    }
    assert(err.getMessage != null)
  }
}
