package graft.functions

import graft.{Sessions, Tables}
import graft.operators.{TextOps, TextOpsRegex}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** GopherStats parity: the fused single-scan kernel must equal the
  * literal regex/split formulation (the DuckDB oracle's shape) count
  * for count — on canonical line/symbol plants, on a seeded fuzz over
  * a structure-dense alphabet, and (at the DataFrame level, kernel vs
  * Spark-regex twin) on the planted real corpus.
  */
class GopherStatsSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  import java.util.regex.Pattern
  private val BulletP = Pattern.compile("^[ \\t]*[-*•]")
  // \z, not $: Java's bare $ also matches BEFORE a final \r/\n line
  // terminator, which RE2 (the DuckDB oracle engine) does not — \z is
  // the Java spelling of RE2's non-multiline $ (end of input only)
  private val EllipsisP = Pattern.compile("(\\.\\.\\.|…)[ \\t]*\\z")
  private val DotsP = Pattern.compile("\\.\\.\\.")

  /** The oracle formulation in pure java.util.regex — what the kernel
    * replaces.
    */
  private def ref(s: String): Seq[Long] = {
    val words = "\\S+".r.findAllIn(s).toVector
    val stripped = s.replaceAll("\\s+", "")
    val lines = s.split("\n", -1).toVector
    def dotRuns(in: String): Long = {
      val m = DotsP.matcher(in)
      var c = 0L
      while (m.find()) c += 1
      c
    }
    val low = s.toLowerCase(java.util.Locale.ROOT)
    Seq(
      words.size.toLong,
      stripped.codePointCount(0, stripped.length).toLong,
      words.count(_.exists(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toLong,
      lines.size.toLong,
      lines.count(l => BulletP.matcher(l).find()).toLong,
      lines.count(l => EllipsisP.matcher(l).find()).toLong,
      s.count(_ == '#').toLong + s.count(_ == '…').toLong + dotRuns(s),
      GopherStats.StopWords.count(w =>
        Pattern.compile("\\b" + w + "\\b").matcher(low).find()).toLong)
  }

  private def kernel(s: String): Seq[Long] = {
    val r = GopherStats.count(UTF8String.fromString(s))
    (0 until 8).map(r.getLong)
  }

  test("canonical plants: lines, bullets, ellipses, dot runs, stopwords") {
    val cases = Seq(
      "",
      "   \t  ",
      "plain single line of the and that text",
      "  - bullet intro\n\t* starred item ...\nplain tail",
      "....", "..", ".", "......", "a.b..c...d....e.....f......g",
      "ends with dots...  \nends with u2026 …\t\n…\nno end here …x",
      "x\r\n- crlf bullet\ny...\r",                    // \r blocks [ \t]*$
      " \t \n-\n \t-x\n*\n•glyph",                     // blank-only + bare bullets
      "the be to of and that have with",               // all eight stopwords
      "The BE tO oF AND tHat HaVe WITH",               // case folding
      "theory tobe andy withdrawn oft",                // \b must reject substrings
      "the5 _the the_ the",                            // \w-glued non-hits
      "𝒜𝒜 ab 𝒜b",                                     // surrogate pairs: codepoint counts
      "a\u000Bb c",                                    // VT is Java \s
      "# ## #a…# …… ...…...",
      "multi\n\nempty\n\nlines\n")
    for (s <- cases)
      assert(kernel(s) == ref(s), s"kernel diverged on: ${s.replace("\n", "\\n").replace("\r", "\\r")}")
  }

  test("fuzz: kernel equals the regex formulation on 3000 dense strings") {
    val atoms: Vector[String] = Vector(
      " ", "\t", "\n", "\r", "\u000B",
      "the", "be", "to", "of", "and", "that", "have", "with",
      "zz", "q9", "_x", "Q", "…", "#", "...", "..", ".", "-", "*", "•", "𝒜")
    val rnd = new scala.util.Random(20260813L)
    for (i <- 1 to 3000) {
      val n = rnd.nextInt(40)
      val s = Seq.fill(n)(atoms(rnd.nextInt(atoms.length))).mkString
      assert(kernel(s) == ref(s),
        s"kernel diverged on fuzz #$i: ${s.replace("\n", "\\n").replace("\r", "\\r")}")
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1).mkString("|")).toMap

  test("fused qualityFilterGopher equals the regex twin on the planted corpus") {
    val docs = TextOps.withPlantedStructure(Tables.documents(spark, sfDir))
    val fused = rows(TextOps.qualityFilterGopher(docs))
    val regex = rows(TextOpsRegex.qualityFilterGopher(docs))
    assert(fused.nonEmpty && fused == regex)
    // the planted corpus must exercise BOTH outcomes of every rule
    val keeps = TextOps.qualityFilterGopher(docs).collect().map(_.getBoolean(8)).toSet
    assert(keeps == Set(true, false), "keep must be a non-trivial mix on the planted corpus")
  }
}
