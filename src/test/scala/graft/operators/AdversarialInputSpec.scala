package graft.operators

import graft.Sessions
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input gate for the text and dedup operator families: NULL
  * text, the empty string, whitespace-only, multi-byte unicode with
  * emoji, a single character, and a ~10k-char document must flow
  * through every per-document operator without throwing and with one
  * output row per input document where the contract is row-preserving.
  * The production corpus contains none of these shapes, so nothing
  * else exercises them — and the embedding family's sibling gates
  * (DedupSpec / SimilaritySpec zero-vector tests) found exactly this
  * class of crash (ANSI division on a degenerate row) when first run.
  */
class AdversarialInputSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")

  private def docs = {
    import spark.implicits._
    Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, " "), (4L, "héllo wörld 多字节 🚀 test"),
      (5L, "a"), (6L, "x " * 5000)
    ).toDF("doc_id", "text")
  }

  // collect(), never count(): column pruning under count() skips the
  // output projections, which is exactly where a division/cast on a
  // degenerate value detonates under ANSI mode — the r13 sharpe
  // span_ms=0 crash hid behind a green count() this way
  test("row-preserving text operators keep one row per degenerate doc") {
    for ((name, fn) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("token_count", TextOps.tokenCount _),
      ("quality_score", TextOps.qualityScore _),
      ("lang_id", TextOps.langId _),
      ("doc_fingerprint", TextOps.docFingerprint _),
      ("repetition_ratio", TextOps.repetitionRatio _),
      ("redact_pii", TextOps.redactPii _),
      ("dedup_exact", Dedup.exactDups _),
      ("dedup_spans", df => Dedup.dedupSpans(df))
    )) {
      assert(fn(docs).collect().length == 6, s"$name must keep one row per document")
    }
  }

  test("corpus-level text operators accept degenerate docs without throwing") {
    assert(TextOps.qualityFilterGopher(docs).collect().length <= 6)
    assert(TextOps.tfidfTopTerms(docs).collect().length >= 0)
    assert(TextOps.ngramTopK(docs).collect().length >= 0)
    assert(Dedup.simhashPairs(docs).collect().length >= 0)
    assert(Dedup.minhashLshPairs(docs).collect().length >= 0)
    // "" and " " normalize to the same empty text: shingle-less
    // identical docs must not pair (no 0/0 jaccard)
    assert(Dedup.ngramJaccardPairs(docs).collect().length == 0)
  }

  test("embedding operators return zero rows in their normal schemas on an all-zero-vector corpus") {
    import spark.implicits._
    // withNorm drops every zero vector, so the IVF fit has no cell to
    // seed and the LSH/exact paths have no pair to score
    val zeros = (1L to 20L).map(id => (id, Seq.fill(4)(0.0))).toDF("vec_id", "embedding")
    val rnd = new scala.util.Random(13)
    val live = (1L to 20L).map(id => (id, Seq.fill(4)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    for ((name, op) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("embedding_exact", Dedup.embeddingNearDupsExact(_)),
      ("embedding_lsh", Dedup.embeddingNearDupsLsh(_)),
      ("embedding_ivf", Dedup.embeddingNearDupsIvf(_)),
      ("ann_brute_force", Similarity.annBruteForceTopK(_)),
      ("ann_lsh", Similarity.annLshTopK(_)),
      ("ann_ivf", Similarity.annIvfTopK(_))
    )) withClue(s"$name: ") {
      val out = op(zeros)
      assert(out.collect().isEmpty)
      assert(shape(out) == shape(op(live)))
    }
  }
}
