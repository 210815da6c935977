package graft.operators

import graft.{Sessions, Tables}
import org.scalatest.funsuite.AnyFunSuite

/** Parity gate for the fused language-ID kernel (SURVEY §2 #19): the
  * single-pass [[graft.functions.LangStopHits]] scan must agree with the
  * 5-regex formulation (the DuckDB oracle's literal shape) everywhere —
  * on the real corpus and on adversarial boundary cases.
  */
class TextOpsSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.01"

  private def preds(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("fused langId equals the regex formulation on the real corpus") {
    val docs = Tables.documents(spark, sfDir)
    val fused = preds(TextOps.langId(docs))
    val regex = preds(TextOpsRegex.langId(docs))
    assert(fused.nonEmpty && fused == regex)
    assert(fused.values.toSet.size > 1, "corpus should exercise several languages")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1).mkString("|")).toMap

  test("fused tokenCount/qualityScore equal the regex formulations on the real corpus") {
    val docs = Tables.documents(spark, sfDir)
    assert(rows(TextOps.tokenCount(docs)) == rows(TextOpsRegex.tokenCount(docs)))
    assert(rows(TextOps.qualityScore(docs)) == rows(TextOpsRegex.qualityScore(docs)))
    assert(rows(TextOps.tokenCount(docs)).nonEmpty)
  }

  test("fused tokenCount/qualityScore equal the regex formulations on boundary cases") {
    import spark.implicits._
    val docs = Seq(
      1L -> "",
      2L -> "   \t\n\f\r  ",                      // every \s char, no tokens
      3L -> "abc123def 45x_7",                           // letter/digit run alternation
      4L -> "a,b;;c!! ?? . the, the.",                   // punct runs + stops at punct edges
      5L -> "😀😀 ok",               // surrogate pairs: 1 punct per codepoint
      6L -> "the THE tHe the5 _the the_ the",            // stop hits need exact \w runs
      7L -> "no-break space",                       // U+00A0 is NOT Java \s
      8L -> "München straße émigré 北京 的",              // non-ASCII letters are 'other'
      9L -> ("lorem ipsum " * 60).trim                   // > 500 chars: length clamp
    ).toDF("doc_id", "text")
    assert(rows(TextOps.tokenCount(docs)) == rows(TextOpsRegex.tokenCount(docs)))
    assert(rows(TextOps.qualityScore(docs)) == rows(TextOpsRegex.qualityScore(docs)))
  }

  test("fused kernels equal the regex formulations on 300 random adversarial docs") {
    import spark.implicits._
    // seeded generator over a deliberately nasty alphabet: every Java \s
    // char incl. VT, NBSP (not \s), '_' and digits (word chars), ASCII
    // punct, uppercase, accented letters, hanzi stopwords, an emoji
    // (surrogate pair), and the stopwords themselves as fragments
    val atoms: Vector[String] = Vector(
      " ", "\t", "\n", "\u000B", "\f", "\r", "\u00A0",
      "the", "a", "and", "la", "de", "und", "ist", "el", "le", "dans",
      "_", "5", "x", "Q", "é", "ß", "的", "是", "😀",
      ",", ".", "!", "?", "#", "-", "'", "\"")
    val rnd = new scala.util.Random(1234)
    val docs = (1 to 300).map { i =>
      val n = rnd.nextInt(40)
      (i.toLong, Seq.fill(n)(atoms(rnd.nextInt(atoms.length))).mkString)
    }.toDF("doc_id", "text")
    val fusedLang = preds(TextOps.langId(docs))
    val regexLang = preds(TextOpsRegex.langId(docs))
    assert(fusedLang == regexLang,
      s"langId diverged: ${(fusedLang.toSet -- regexLang.toSet).take(3)}")
    assert(rows(TextOps.tokenCount(docs)) == rows(TextOpsRegex.tokenCount(docs)))
    assert(rows(TextOps.qualityScore(docs)) == rows(TextOpsRegex.qualityScore(docs)))
  }

  test("fused langId equals the regex formulation on boundary cases") {
    import spark.implicits._
    val docs = Seq(
      1L -> "The quick brown fox is on the run and it is fast",
      2L -> "el que la una y en los de la las",
      3L -> "le la de et les des un une du dans",      // la/de shared es+fr → tie-break
      4L -> "的是不了在 的的的",                          // hanzi particles
      5L -> "",                                          // empty → und
      6L -> "zzz qqq xxx 12345",                         // no hits → und
      7L -> "the5 _the the_ thethe 5the the",            // word-boundary traps: only the last hits
      8L -> "THE AND OF TO IS",                          // uppercase → lowered
      9L -> "thé la de la,de;la.de",                // non-ASCII boundaries + punctuation
      10L -> "a a a a und und ist"                       // en 'a' vs de 'und/ist'
    ).toDF("doc_id", "text")
    val fused = preds(TextOps.langId(docs))
    val regex = preds(TextOpsRegex.langId(docs))
    assert(fused == regex, s"fused $fused vs regex $regex")
    assert(fused(5L) == "und" && fused(6L) == "und")
    assert(fused(4L) == "zh")
  }

  test("tfidf top terms: scalar replay on a planted corpus; ubiquitous term scores 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common"),
      (3L, "common")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(docs, topK = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    def q(x: Double) = math.floor(x * 1e9 + 0.5) / 1e9
    // df: apple 1, banana 2, common 3; N = 3
    val expected = Set(
      (1L, 1L, "apple", 2L, 1L, q(2 * math.log(3.0 / 1))),
      (1L, 2L, "banana", 1L, 2L, q(math.log(3.0 / 2))),
      (1L, 3L, "common", 1L, 3L, 0.0), // ln(1) = 0: ubiquitous term
      (2L, 1L, "banana", 1L, 2L, q(math.log(3.0 / 2))),
      (2L, 2L, "common", 1L, 3L, 0.0),
      (3L, 1L, "common", 1L, 3L, 0.0))
    assert(out.toSet == expected,
      s"diff: ${expected -- out.toSet} | ${out.toSet -- expected}")
  }

  test("tfidf top-k window partitions by document, tf aggregate map-side combines") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val plan = TextOps.tfidfTopTerms(docs, topK = 2).queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("partial count")
      || plan.contains("HashAggregate"), s"tf must partial-aggregate:\n$plan")
    // the rank window must be keyed by doc_id, never a global sort
    assert(plan.contains("doc_id"), plan)
    assert(!plan.contains("rangepartitioning(tfidf"), s"global-sort window detected:\n$plan")
  }
}
