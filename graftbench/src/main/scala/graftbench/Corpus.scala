package graftbench

import graft.{Sessions, Tables}
import graft.operators.{ConnectedComponents, CorpusPipeline, Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** `corpus_dedup`: seeded documents with planted exact copies,
  * near-duplicate clusters, PII and Gopher-failing docs. One op is
  * `CorpusPipeline.cleanCorpus(redactPii, gopherRules)` plus
  * `ConnectedComponents.dupGroups(Dedup.minhashLshPairs(docs))`.
  */
final class CorpusDedup(seed: Long) extends Workload {
  val spec = Gen.DocSpec(docs = 3000, minWords = 120, maxWords = 220,
    copyShare = 0.04, nearShare = 0.04, piiShare = 0.08, gopherFailShare = 0.08)

  private var meta: Map[Long, Gen.DocMeta] = _
  /** Planted clusters: base doc id → every doc derived from it. */
  private var clusters: Map[Long, Seq[Long]] = _
  private var rawHash: Map[Long, Long] = _
  private var dir: String = _
  private var docs: DataFrame = _
  private var firstDigest: Option[Long] = None

  val rowsPerOp: Long = spec.docs.toLong
  // measured on a 4-core host: the op time falls by 5-10% an op for
  // a few ops after the JVM's first
  val settleOps = 2

  def generate(spark: SparkSession, dir: String): Unit = {
    Gen.writeDocs(spark, seed, spec, s"$dir/main", 4)
    meta = (0L until spec.docs.toLong).map(id => id -> Gen.docMeta(seed, spec, id)).toMap
    clusters = meta.values.filter(_.base >= 0).groupBy(_.base).map { case (b, ms) => b -> ms.map(_.id).toSeq }
    rawHash = Tables.documents(spark, s"$dir/main").select(col("doc_id"), xxhash64(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  def register(spark: SparkSession, dir: String): Unit = {
    this.dir = dir
    docs = Tables.documents(spark, s"$dir/main")
  }

  def op(i: Int, tr: Tracer): Any = {
    val cleaned = tr.span("CorpusPipeline.cleanCorpus.construct")(
      CorpusPipeline.cleanCorpus(docs, redactPii = true, gopherRules = true))
    val kept = tr.span("CorpusPipeline.cleanCorpus.action")(
      cleaned.select(col("doc_id"), xxhash64(col("text"))).collect().map(r => r.getLong(0) -> r.getLong(1)))
    val pairs = tr.span("Dedup.minhashLshPairs")(Dedup.minhashLshPairs(docs))
    val groups = tr.span("ConnectedComponents.dupGroups.construct")(ConnectedComponents.dupGroups(pairs))
    val labels = tr.span("ConnectedComponents.dupGroups.action")(
      groups.collect().map(r => r.getLong(0) -> r.getLong(1)))
    (kept, labels)
  }

  def scan(spark: SparkSession): Unit = Workload.noop(Tables.documents(spark, s"$dir/main"))

  def check(i: Int, out: Any): Option[String] = {
    val (kept, labels) = out.asInstanceOf[(Array[(Long, Long)], Array[(Long, Long)])]
    Sessions.dropAllCaches(docs.sparkSession)
    val keptIds = kept.map(_._1).toSet
    val group = labels.toMap
    def fail(msg: String) = Some(msg)
    if (keptIds.size != kept.length) return fail("a doc is kept twice")
    if (!keptIds.forall(meta.contains)) return fail("a kept doc is not in the input")
    // Gopher-failing docs never survive; PII docs survive only redacted,
    // every other kept doc survives unchanged
    kept.foreach { case (id, h) =>
      meta(id).kind match {
        case "gopher" => return fail(s"Gopher-failing doc $id kept")
        case "copy" | "near" => return fail(s"planted duplicate $id kept")
        case "pii" => if (h == rawHash(id)) return fail(s"PII doc $id kept unredacted")
        case _ => if (h != rawHash(id)) return fail(s"plain doc $id changed")
      }
    }
    // every planted cluster survives as its base alone, and is one dup
    // group labelled by its smallest member
    clusters.foreach { case (base, members) =>
      if (!keptIds.contains(base)) return fail(s"cluster base $base dropped")
      (base +: members).foreach { m =>
        if (!group.get(m).contains(base)) return fail(s"doc $m is in group ${group.get(m)}, not $base")
      }
    }
    val clustered = clusters.valuesIterator.flatten.toSet ++ clusters.keySet
    if (group.keysIterator.exists(!clustered.contains(_))) return fail("an unplanted doc is in a dup group")
    if (meta.valuesIterator.count(m => m.kind == "plain" || m.kind == "pii") != keptIds.size)
      return fail(s"${keptIds.size} docs kept, want every plain and PII doc")
    val d = kept.sorted.toSeq.hashCode.toLong * 31 + labels.sorted.toSeq.hashCode
    if (firstDigest.isEmpty) firstDigest = Some(d)
    if (firstDigest.contains(d)) None else fail(s"kept-set digest $d differs from the first op's")
  }

  def probes(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    def kernel(c: org.apache.spark.sql.Column) =
      Workload.medianMs(3)(Workload.noop(docs.select(col("doc_id"), c.as("k"))))
    val report = CorpusPipeline.stageReport(docs).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val obs = Observation()
    val pairs = Dedup.minhashLshPairs(docs, dropObs = Some(obs))
      .select("doc_id_a", "doc_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = clusters.toSeq.flatMap { case (b, ms) =>
      val all = (b +: ms).sorted
      for (i <- all.indices; j <- i + 1 until all.length) yield (all(i), all(j))
    }
    val dropped = Option(org.apache.spark.sql.classic.GraftInternal.observedMetricsOrEmpty(obs)
      .getOrElse("dropped_memberships", null)).map { case n: java.lang.Number => n.doubleValue }
    Sessions.dropAllCaches(spark)
    Map(
      "TextOps.qualityExpr.ms" -> kernel(TextOps.qualityExpr(col("text"))),
      "TextOps.gopherKeepExpr.ms" -> kernel(TextOps.gopherKeepExpr(col("text"))),
      "TextOps.fingerprintExpr.ms" -> kernel(TextOps.fingerprintExpr(col("text"))),
      "CorpusPipeline.kept_ratio" -> report("near_dedup").toDouble / report("input"),
      "Dedup.minhashLshPairs.pairs" -> pairs.size.toDouble,
      "Dedup.minhashLshPairs.dropped_memberships" -> dropped.getOrElse(-1.0),
      "Dedup.planted_recall" -> planted.count(pairs.contains).toDouble / planted.size)
  }
}
