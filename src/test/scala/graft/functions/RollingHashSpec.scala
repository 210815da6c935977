package graft.functions

import graft.{Sessions, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The rolling-hash Catalyst expression: codegen path vs interpreted
  * path vs the plain-Scala reference loop must all agree; known values
  * pin the polynomial (base-31 over UTF-8 bytes, wrapping Long).
  */
class RollingHashSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  private def refHash(s: String): Long =
    s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xff))

  test("known values (ASCII + multibyte + empty)") {
    assert(RollingHash.hashBytes("".getBytes("UTF-8")) == 0L)
    assert(RollingHash.hashBytes("a".getBytes("UTF-8")) == 97L)
    assert(RollingHash.hashBytes("ab".getBytes("UTF-8")) == 97L * 31 + 98)
    for (s <- Seq("hello world", "héllo", "的是不", "a" * 1000))
      assert(RollingHash.hashBytes(s.getBytes("UTF-8")) == refHash(s))
  }

  test("codegen result equals reference loop on real documents") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = docs.select(col("doc_id"), RollingHash.column(col("text")))
      .as[(Long, Long)].collect().toMap
    val exp = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().map { case (id, t) => id -> refHash(t) }.toMap
    assert(got == exp && got.nonEmpty)
  }

  test("two instances in one codegen scope compile (fresh local names)") {
    // non-nullable children put both expressions in ONE codegen scope;
    // fixed local names would collide and fall back to interpreted eval
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(
        RollingHash.column(col("text")).as("h1"),
        RollingHash.column(concat(col("text"), lit("x"))).as("h2"),
        DotProduct.column(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("d1"),
        DotProduct.column(array(lit(1.0), lit(1.0)), array(lit(1.0), lit(1.0))).as("d2"))
    val r = df.collect()
    assert(r.nonEmpty && r.head.getDouble(2) == 11.0 && r.head.getDouble(3) == 2.0)
    // values alone can't catch a regression: a janino compile failure
    // silently falls back to interpreted eval with identical results —
    // the plan must actually BE a codegen stage
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"),
      "expected the four-expression projection to stay in whole-stage codegen")
  }

  test("null propagates; plan stays in whole-stage codegen") {
    import spark.implicits._
    // local relation: optimizer const-folds through the interpreted path
    val df = Seq(Some("x"), None).toDF("s").select(RollingHash.column(col("s")).as("h"))
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSet
      == Set(Some(120L), None))
    // parquet-backed plan: the expression must sit inside a codegen span
    val scan = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(RollingHash.column(col("text")).as("h"))
    // `*(n)` is the WholeStageCodegen marker in the simple plan format
    assert(scan.queryExecution.executedPlan.toString.contains("*(1) Project [rolling_hash"))
    assert(scan.count() > 0)
  }
}
