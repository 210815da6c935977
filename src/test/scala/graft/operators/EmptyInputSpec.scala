package graft.operators

import graft.{Sessions, Tables}
import graft.core.PnlConfig
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Empty-input gate: every operator family must flow a 0-row frame of
  * the correct schema to a 0-row (or contractually fixed) result
  * without throwing — the shape a scheduled production run hits on an
  * empty partition day, and one no oracle run exercises (the driver's
  * sf dirs are never empty); the embedding operators also get an
  * all-NULL-vector table. collect(), not count(), so output
  * projections actually evaluate (see AdversarialInputSpec's pruning
  * note). CC's empty labeling (a union-find over no pairs) and
  * stageReport's "an empty stage still reports a 0 row" contract are
  * the two non-obvious cases pinned here.
  */
class EmptyInputSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs0 = Tables.documents(spark, sfDir).limit(0)
  private lazy val events0 = Tables.events(spark, sfDir).limit(0)
  private lazy val emb0 = Tables.embeddings(spark, sfDir).limit(0)
  private lazy val embNull = {
    val emb = Tables.embeddings(spark, sfDir)
    emb.withColumn("embedding", lit(null).cast(emb.schema("embedding").dataType))
  }

  test("dedup and corpus operators yield zero rows on an empty corpus") {
    for ((name, rows) <- Seq[(String, () => Int)](
      ("dedup_spans", () => Dedup.dedupSpans(docs0).collect().length),
      ("ngram_jaccard", () => Dedup.ngramJaccardPairs(docs0).collect().length),
      ("minhash_lsh", () => Dedup.minhashLshPairs(docs0).collect().length),
      ("simhash", () => Dedup.simhashPairs(docs0).collect().length),
      ("embedding_lsh", () => Dedup.embeddingNearDupsLsh(emb0).collect().length),
      ("embedding_ivf", () => Dedup.embeddingNearDupsIvf(emb0).collect().length),
      ("ann_lsh_topk", () => Similarity.annLshTopK(emb0).collect().length),
      ("ann_ivf_topk", () => Similarity.annIvfTopK(emb0).collect().length),
      ("ann_bruteforce_topk", () => Similarity.annBruteForceTopK(emb0).collect().length),
      ("embedding_lsh, NULL vectors", () => Dedup.embeddingNearDupsLsh(embNull).collect().length),
      ("embedding_ivf, NULL vectors", () => Dedup.embeddingNearDupsIvf(embNull).collect().length),
      ("ann_lsh_topk, NULL vectors", () => Similarity.annLshTopK(embNull).collect().length),
      ("ann_ivf_topk, NULL vectors", () => Similarity.annIvfTopK(embNull).collect().length),
      ("ann_bruteforce_topk, NULL vectors",
        () => Similarity.annBruteForceTopK(embNull).collect().length),
      ("dup_groups", () => ConnectedComponents.dupGroups(Dedup.ngramJaccardPairs(docs0)).collect().length),
      ("decontaminate", () => Decontaminate.flagged(docs0, docs0).collect().length),
      ("corpus_clean", () => CorpusPipeline.cleanCorpus(docs0).collect().length),
      ("tfidf", () => TextOps.tfidfTopTerms(docs0).collect().length),
      ("ngram_topk", () => TextOps.ngramTopK(docs0).collect().length)
    )) assert(rows() == 0, s"$name must yield no rows on empty input")
  }

  test("stage report still emits all four stage rows with zero counts") {
    val rows = CorpusPipeline.stageReport(docs0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("input" -> 0L, "quality_gate" -> 0L, "exact_dedup" -> 0L, "near_dedup" -> 0L))
  }

  test("sampling, packing, analytics, and the engine accept empty inputs") {
    assert(Sampling.stratifiedSample(events0, Map("click" -> 0.5)).collect().isEmpty)
    assert(Sampling.splitAssign(events0, Seq(("train", 0.8), ("test", 0.2))).collect().isEmpty)
    assert(Sampling.fixedSizePerStratum(events0, 5).collect().isEmpty)
    assert(Sampling.mixtureResample(
      docs0.withColumn("source", lit("a")), Map("a" -> 1.0)).collect().isEmpty)
    assert(Sampling.shuffleShard(docs0, 4).collect().isEmpty)
    assert(Packing.packSequences(docs0).collect().isEmpty)
    assert(Analytics.sessionize(events0).collect().isEmpty)
    val bars0 = MtmEngine.barsFromEvents(events0)
    assert(MtmEngine.timelineQuery(bars0, PnlConfig.default).collect().isEmpty)
    assert(MtmEngine.sharpeRatio(bars0, PnlConfig.default).collect().isEmpty)
    val cuts = Seq(1700000000000000L, 1700086400000000L)
    for ((name, (tl, bl, sm)) <- Seq(
        "runSliced, 3 quantile slices" -> MtmEngine.runSliced(bars0, PnlConfig.default, 3),
        "runSliced, two explicit cuts" -> MtmEngine.runSliced(bars0, PnlConfig.default, cuts))) {
      val fams = Seq(MtmEngine.Family.Timeline, MtmEngine.Family.Blotter, MtmEngine.Family.Summary)
      for ((df, f) <- Seq(tl, bl, sm).zip(fams)) {
        assert(df.schema == f.schema, s"$name: $f schema")
        assert(df.collect().isEmpty, s"$name: $f must be empty")
      }
    }
  }
}
