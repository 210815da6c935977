package graft.operators

import graft.{Sessions, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equality gate for the r14 EvalContainment kernel: the exchange-free
  * probe-in-scan path must produce EXACTLY the relational reference
  * formulation's output ([[DecontaminateReference.flaggedExchange]] —
  * broadcast join + partial-aggregated pair count). Exercised on the real corpus and on
  * randomized adversarial inputs: multi-byte codepoints adjacent to
  * every `\s` member (the byte-space tokenizer's edge), control chars,
  * separator runs, sub-n docs, dense tiny vocabularies (heavy shingle
  * overlap + in-doc repeats), and random containment floors sweeping
  * the threshold comparison. Values must match bit-exactly — both
  * sides compute the identical c/n_eval double division.
  */
class DecontaminateKernelSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.01"

  private def collect(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def check(
      corpus: org.apache.spark.sql.DataFrame,
      evalDocs: org.apache.spark.sql.DataFrame,
      t: Double,
      label: String): Unit = {
    val kernel = collect(Decontaminate.flagged(corpus, evalDocs, t))
    val reference = collect(DecontaminateReference.flaggedExchange(corpus, evalDocs, t))
    assert(kernel == reference,
      s"$label: kernel missed ${(reference -- kernel).take(5)}, " +
        s"extra ${(kernel -- reference).take(5)}")
  }

  test("kernel equals the exchange formulation on the real corpus") {
    val docs = Tables.documents(spark, sfDir)
    val co = docs.filter(col("doc_id") % 7 =!= 0)
    val ev = docs.filter(col("doc_id") % 7 === 0)
    for (t <- Seq(0.2, 0.5, 0.9)) check(co, ev, t, s"sf0.01 t=$t")
    assert(collect(Decontaminate.flagged(co, ev, 0.5)).nonEmpty,
      "eval set should intersect planted near-dups")
  }

  test("kernel equals the exchange formulation on adversarial byte shapes") {
    import spark.implicits._
    // every \s member, multi-byte codepoints (2-, 3-, 4-byte UTF-8)
    // glued to separators, control chars below space, empty/sub-n docs
    val texts = Seq(
      "",
      "one two",
      "ctl start two three four",
      "café naïve résumé café naïve résumé",
      "中文 token 中文 token 中文",
      "emoji 😀 mid 😀 emoji 😀 mid",
      "tab\tsep\nnewlinevt\ffeed\rcr mix tab\tsep\nnewline",
      "UPPER lower MiXeD upper LOWER mixed UPPER lower",
      "run    of     many      spaces between tokens here",
      " lead and trail pad one two three "
    )
    val corpus = texts.zipWithIndex.map { case (s, i) => (i.toLong + 1L, s) }
      .toDF("doc_id", "text")
    val evalDocs = Seq(
      (101L, "café naïve résumé"),
      (102L, "中文 token 中文"),
      (103L, "tab sep newline vt feed cr"),
      (104L, "upper lower mixed"),
      (105L, "totally disjoint eval content here")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 1.0)) check(corpus, evalDocs, t, s"adversarial t=$t")
  }

  test("kernel equals the exchange formulation on random dense corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 6) {
      val vocab = 3 + rnd.nextInt(5)
      def doc(len: Int): String =
        (0 until len).map(_ => s"t${rnd.nextInt(vocab)}").mkString(" ")
      val corpus = (1L to (8 + rnd.nextInt(20)).toLong).map(id => (id, doc(rnd.nextInt(25))))
        .toDF("doc_id", "text")
      val evalDocs = (100L to (100 + rnd.nextInt(6)).toLong).map(id => (id, doc(rnd.nextInt(15))))
        .toDF("doc_id", "text")
      val t = Seq(0.2, 0.4, 0.6, 0.8, 1.0)(rnd.nextInt(5))
      check(corpus, evalDocs, t, s"round=$round vocab=$vocab t=$t")
    }
  }

  test("empty eval set and empty corpus both yield empty flagged sets") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Decontaminate.flagged(corpus, none, 0.5).collect().isEmpty)
    assert(Decontaminate.flagged(none, corpus, 0.5).collect().isEmpty)
  }
}
