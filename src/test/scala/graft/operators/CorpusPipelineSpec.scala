package graft.operators

import graft.{Sessions, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed cleaning pipeline must actually enforce each stage's
  * invariant on the real corpus: quality floor, canonical-only exact
  * groups, and no surviving near-dup pairs.
  */
class CorpusPipelineSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.01"

  test("cleaned corpus satisfies all three stage invariants") {
    val docs = Tables.documents(spark, sfDir)
    val clean = CorpusPipeline.cleanCorpus(docs, minQuality = 0.5, jaccardThreshold = 0.8)
    val kept = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < docs.count())
    // 1. every survivor clears the quality floor
    assert(clean.filter(col("quality_score") < 0.5).count() == 0)
    // 2. no two survivors share a near-dup pair at the threshold
    val pairs = Dedup.ngramJaccardPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(!(kept(a) && kept(b)), s"near-dup pair ($a,$b) both survived")
    }
    // 3. deterministic: rerunning yields the same set
    val again = CorpusPipeline.cleanCorpus(docs, 0.5, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("redactPii flag scrubs planted PII before the pipeline stages see it") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).limit(50)
      .select(col("doc_id"),
        concat(lit("mail me x.y@mail.example.com then "), col("text")).as("text"))
    val clean = CorpusPipeline.cleanCorpus(docs, minQuality = 0.0, redactPii = true)
    val rows = clean.select("text").as[String].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(!_.contains("x.y@mail.example.com")), "planted email survived")
    assert(rows.forall(_.contains("<EMAIL>")), "placeholder token missing")
    // default stays redaction-free: the wired corpus oracles see raw text
    val raw = CorpusPipeline.cleanCorpus(docs, minQuality = 0.0)
      .select("text").as[String].collect()
    assert(raw.forall(_.contains("x.y@mail.example.com")))
  }

  test("cleanCorpus equals a kernel-at-a-time reference in all four flag combinations, bit for bit") {
    // the planted pipeline corpus makes both optional gates bite: PII on
    // every doc, a keep/drop mix on the Gopher stopword and symbol rules
    val docs = TextOps.withPlantedPipeline(Tables.documents(spark, sfDir))
    for (redact <- Seq(false, true); gopher <- Seq(false, true)) {
      val tag = s"redactPii=$redact gopherRules=$gopher"
      // stage 1 from the standalone operators, one kernel per frame
      val redacted =
        if (!redact) docs.select("doc_id", "text")
        else TextOps.redactPii(docs).select(col("doc_id"), col("clean_text").as("text"))
      val gated =
        if (!gopher) redacted
        else redacted.join(TextOps.qualityFilterGopher(redacted).filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi")
      val scored = gated
        .join(TextOps.qualityScore(gated).select("doc_id", "quality_score"), Seq("doc_id"))
        .filter(col("quality_score") >= 0.5)
      val nIn = docs.count(); val nScored = scored.count()
      assert(nScored > 0 && nScored < nIn, s"$tag: stage 1 kept $nScored of $nIn")
      // stages 2-3 as specified: canonical = min doc_id per fingerprint,
      // then drop the higher doc_id of each verified near-dup pair
      val canonical = scored
        .withColumn("fp", TextOps.fingerprintExpr(col("text")))
        .withColumn("canon", min(col("doc_id")).over(Window.partitionBy("fp")))
        .filter(col("doc_id") === col("canon")).drop("fp", "canon")
        .localCheckpoint(true)
      val drop = Dedup.minhashLshPairs(canonical, 0.8).select(col("doc_id_b").as("doc_id"))
      val want = rowsByDoc(canonical.join(drop, Seq("doc_id"), "left_anti"))
      val got = rowsByDoc(CorpusPipeline.cleanCorpus(docs, 0.5, 0.8, redactPii = redact, gopherRules = gopher))
      assert(got == want, s"$tag: cleanCorpus differs from the reference")
    }
  }

  /** doc_id → (text, raw bits of quality_score). */
  private def rowsByDoc(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
    df.select("doc_id", "text", "quality_score").collect().map { r =>
      r.getLong(0) -> (r.getString(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
    }.toMap

  test("stage report is monotonically non-increasing") {
    val docs = Tables.documents(spark, sfDir)
    val report = CorpusPipeline.stageReport(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the quality-gate row is an observed count: pin it to a direct one
    assert(report("quality_gate") == docs.filter(TextOps.qualityExpr(col("text")) >= 0.5).count())
    assert(report("input") >= report("quality_gate"))
    assert(report("quality_gate") >= report("exact_dedup"))
    assert(report("exact_dedup") >= report("near_dedup"))
    assert(report("near_dedup") > 0)
  }
}
