package graft.functions

import graft.{Sessions, Tables}
import graft.operators.DedupReference
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-equality gate for the per-row [[MinHashDoc]] kernel against the
  * aggregate formulation it replaced (hashedShingleIndex →
  * repartition(doc_id) → MinHashSig + SortedLongSetAgg + count): same
  * doc set, same 128-long signature, same ascending hash-set array,
  * same set size — on the real documents table, so the tokenizer,
  * xxhash64 seed, permutation family, and <3-token-doc drop semantics
  * are all exercised, not just the happy path.
  */
class MinHashDocSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.01"
  private val perms = 128

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Seq[Long], Seq[Long], Long)] =
    df.collect().map { r =>
      r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2), r.getLong(3)))
    }.toMap

  test("per-row kernel is bit-identical to the aggregate formulation on real docs") {
    val docs = Tables.documents(spark, sfDir)
    val viaAgg = DedupReference.hashedShingleIndex(docs)
      .groupBy("doc_id")
      .agg(
        MinHashSig.column(col("h"), perms).as("mh"),
        SortedLongSetAgg.column(col("h")).as("hs"),
        count(lit(1)).as("n"))
    val viaKernel = docs
      .select(col("doc_id"), MinHashDoc.column(col("text"), perms).as("sig"))
      .select(col("doc_id"), col("sig.mh").as("mh"), col("sig.hs").as("hs"),
        size(col("sig.hs")).cast("long").as("n"))
      .filter(col("n") > 0)
    val exp = rows(viaAgg)
    val got = rows(viaKernel)
    assert(exp.nonEmpty, "test corpus should produce per-doc signatures")
    assert(got.keySet == exp.keySet,
      s"doc sets differ: missing=${exp.keySet -- got.keySet} extra=${got.keySet -- exp.keySet}")
    exp.foreach { case (id, (mh, hs, n)) =>
      val (gmh, ghs, gn) = got(id)
      assert(gn == n && gn == ghs.length, s"doc $id: n $gn != $n")
      assert(gmh == mh, s"doc $id: signature differs")
      assert(ghs == hs, s"doc $id: hash set differs")
    }
  }

  test("degenerate docs: <n tokens drop, empty/whitespace text drops, null-safe") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two"), // 2 tokens < 3 → no shingles
      (2L, "   "), // whitespace only
      (3L, ""), // empty
      (4L, "alpha beta gamma delta") // 2 distinct shingles
    ).toDF("doc_id", "text")
    val out = docs
      .select(col("doc_id"), MinHashDoc.column(col("text"), perms).as("sig"))
      .select(col("doc_id"), col("sig.hs").as("hs"))
      .filter(size(col("hs")) > 0)
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(4L))
    val hs = out.head.getSeq[Long](1)
    assert(hs.length == 2 && hs == hs.sorted, s"expected 2 ascending hashes, got $hs")
  }

  test("randomized adversarial docs: byte-space kernel equals the aggregate formulation") {
    import spark.implicits._
    // exercise the byte-space tokenizer/dedup against the regex
    // tokenizer + string HashSet reference: multi-byte codepoints
    // adjacent to every \s class member, control chars (NOT \s —
    // U+0001 must stay inside tokens), repeated shingles, runs of
    // separators, single-token docs
    val rnd = new scala.util.Random(0xC0FFEE)
    val seps = Array(" ", "\t", "\n", "", "\f", "\r", "  ", " \t\r\n ")
    val toks = Array("a", "B", "λx", "héllo", "日本語テスト", "xy", "ĲSSEL",
      "emoji😀tail", "İstanbul", "groß", "end.", "-", "7", "ß")
    val docs = (1L to 200L).map { id =>
      val ntok = rnd.nextInt(8) // 0..7 tokens — includes < 3
      val body = (0 until ntok).map(_ => toks(rnd.nextInt(toks.length)))
        .mkString(seps(rnd.nextInt(seps.length)))
      val pad = if (rnd.nextBoolean()) seps(rnd.nextInt(seps.length)) else ""
      (id, pad + body + (if (rnd.nextBoolean()) pad.reverse else ""))
    }.toDF("doc_id", "text")
    val exp = rows(DedupReference.hashedShingleIndex(docs)
      .groupBy("doc_id")
      .agg(
        MinHashSig.column(col("h"), perms).as("mh"),
        SortedLongSetAgg.column(col("h")).as("hs"),
        count(lit(1)).as("n")))
    val got = rows(docs
      .select(col("doc_id"), MinHashDoc.column(col("text"), perms).as("sig"))
      .select(col("doc_id"), col("sig.mh").as("mh"), col("sig.hs").as("hs"),
        size(col("sig.hs")).cast("long").as("n"))
      .filter(col("n") > 0))
    assert(exp.nonEmpty && got.keySet == exp.keySet,
      s"doc sets differ: missing=${exp.keySet -- got.keySet} extra=${got.keySet -- exp.keySet}")
    exp.foreach { case (id, (mh, hs, n)) =>
      val (gmh, ghs, gn) = got(id)
      assert(gn == n && gmh == mh && ghs == hs, s"doc $id diverged")
    }
  }

  test("within-doc repeated shingles dedupe by string (first occurrence wins)") {
    import spark.implicits._
    // "a b c a b c a b c" → shingle windows repeat: distinct set is
    // {a b c, b c a, c a b}
    val out = Seq((1L, "a b c a b c a b c")).toDF("doc_id", "text")
      .select(MinHashDoc.column(col("text"), perms).as("sig"))
      .select(col("sig.hs").as("hs"))
      .collect().head.getSeq[Long](0)
    assert(out.length == 3, s"expected 3 distinct shingles, got ${out.length}")
  }
}
