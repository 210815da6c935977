package graft.functions

import graft.{Sessions, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native shingle generator must reproduce the SQL-side
  * normalization exactly (its output feeds DuckDB-oracled Jaccard
  * counts) and handle the degenerate inputs.
  */
class ShingleGeneratorSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  private def shinglesOf(text: String): Seq[String] = {
    import spark.implicits._
    Seq(Option(text)).toDF("text")
      .select(ShingleGenerator.column(col("text")).as("s"))
      .collect().map(_.getString(0)).toSeq
  }

  test("basic sliding window") {
    assert(shinglesOf("a b c d") == Seq("a b c", "b c d"))
  }

  test("normalization: case, whitespace runs, leading/trailing space") {
    assert(shinglesOf("  A   b\tC  ") == Seq("a b c"))
    assert(shinglesOf("x\n y \n z w") == Seq("x y z", "y z w"))
  }

  test("degenerate inputs: short, empty, null") {
    assert(shinglesOf("a b") == Seq.empty)
    assert(shinglesOf("") == Seq.empty)
    assert(shinglesOf(null) == Seq.empty)
  }

  test("shingles_distinct: per-row set semantics, first occurrence wins") {
    import spark.implicits._
    def d(text: String): Seq[String] =
      Seq(Option(text)).toDF("text")
        .select(ShingleGenerator.column(col("text"), distinct = true).as("s"))
        .collect().map(_.getString(0)).toSeq
    // "a b a b a b" → shingles: aba, bab, aba, bab → distinct keeps first of each
    assert(d("a b a b a b") == Seq("a b a", "b a b"))
    assert(d("x y z w") == Seq("x y z", "y z w")) // no dups: identical to shingles
    assert(d("a b") == Seq.empty)
    assert(d(null) == Seq.empty)
    // equivalence on the real corpus: same multiset as distinct-per-doc shingles
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
    val viaDistinct = docs.select(col("doc_id"), ShingleGenerator.column(col("text")).as("s"))
      .distinct()
      .groupBy("doc_id").agg(sort_array(collect_list("s")).as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val native = docs
      .select(col("doc_id"), ShingleGenerator.column(col("text"), distinct = true).as("s"))
      .groupBy("doc_id").agg(sort_array(collect_list("s")).as("gs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(native == viaDistinct)
  }

  /** Compare the native generator against the SQL-side equivalent
    * (split normalized text, slide via sequence) on the given docs.
    */
  private def assertMatchesSql(docs: org.apache.spark.sql.DataFrame): Unit = {
    val native = docs.select(col("doc_id"), ShingleGenerator.column(col("text")).as("shingle"))
      .groupBy("doc_id").agg(sort_array(collect_list("shingle")).as("gs"))
    val tokens = split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")
    // sequence(0, n-3) DESCENDS for n < 3 — emit no window starts there
    val starts = when(size(tokens) >= 3, sequence(lit(0), size(tokens) - 3))
      .otherwise(array().cast("array<int>"))
    val sql = docs.select(
        col("doc_id"),
        explode(transform(starts, i =>
          concat_ws(" ",
            element_at(tokens, i + 1), element_at(tokens, i + 2), element_at(tokens, i + 3))))
          .as("shingle"))
      .groupBy("doc_id").agg(sort_array(collect_list("shingle")).as("gs"))
    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val e = sql.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // docs with <3 tokens appear on neither side — compare maps directly
    if (n != e) {
      val bad = (n.keySet ++ e.keySet).find(k => n.get(k) != e.get(k)).get
      fail(s"doc $bad: native ${n.get(bad)} vs sql ${e.get(bad)}")
    }
  }

  test("matches the SQL normalization on the real corpus") {
    assertMatchesSql(Tables.documents(spark, "/root/testdata/sf0.001"))
  }

  test("matches the SQL normalization on adversarial random docs") {
    import spark.implicits._
    // control chars below U+0020 are the trap: String.trim strips them,
    // SQL trim does not; plus every \s char, NBSP, unicode, surrogates
    val atoms = Vector(
      " ", "\t", "\n", "", "\f", "\r", " ", "", "",
      "ab", "c", "Q", "_", "5", "é", "的", "😀", ",", ".", "x y z")
    val rnd = new scala.util.Random(77)
    val docs = (1 to 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(30))(atoms(rnd.nextInt(atoms.length))).mkString)
    }.toDF("doc_id", "text")
    assertMatchesSql(docs)
  }
}
