package graft

import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Measures the IVF embedding near-dup path (r15) against the exact
  * operator: recall (exact pairs recovered), precision (should be 1.0
  * — emitted pairs are exact-verified), wall, and shuffle bytes; and
  * against the LSH sibling's wall/shuffle at the same scale. The probe
  * grid (probes × cellFactor) maps the recall/shuffle trade so the
  * wired defaults are chosen from data, not vibes.
  *
  * r16 (verdict item 5): optional [threshold] and [plantCopies]/[eps]
  * args probe the clustered HIGH-threshold regime — the production
  * near-dup case IVF's structural advantage is claimed for (tight
  * duplicate clusters at ≥0.9 co-assign to the same top cell, so O(1)
  * probes should suffice) but which the r15 adjudication (threshold
  * 0.4, near-uniform) never tested. plantCopies=K replaces the corpus
  * with K deterministic perturbed copies of each vector: copy c of
  * vec v scales each element by (1 + eps·s_i) with s_i = ±1 hashed on
  * (vec_id, c, i), so copies of one base are pairwise at
  * cos ≈ 1/(1+eps²) (eps=0.3 → ≈0.92 — a tight cluster above a 0.9
  * threshold) while cross-base cosines SHRINK by the same factor
  * (clusters stay separated). Ids remap to vec_id·K + c.
  * Test/runMain graft.IvfDedupProfile [sfDir] [probesCsv]
  *   [cellFactorsCsv] [threshold] [plantCopies] [eps] [superProbesCsv]
  * (superProbesCsv sweeps the r16 two-level pruning width; default 0 =
  * the operator's auto rule, max(4, 2·probes))
  */
object IvfDedupProfile {
  /** Bumped by hand whenever the operator-under-test's kernel changes
    * meaningfully, so per-tag "bests" merged from concatenated logs can
    * never mix two different operators (the r16 flat-vs-twolevel hazard;
    * the merged results are the `lsh_vs_ivf_*` measurements in
    * SCALING_r16.json).
    */
  private val harnessGen = "hierfit-r17"

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val probesGrid = args.lift(1).map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(4, 8, 16))
    val cfGrid = args.lift(2).map(_.split(",").map(_.toDouble).toSeq).getOrElse(Seq(1.0))
    val threshold = args.lift(3).map(_.toDouble).getOrElse(0.4)
    val plantCopies = args.lift(4).map(_.toInt).getOrElse(1)
    val eps = args.lift(5).map(_.toDouble).getOrElse(0.3)
    val spGrid = args.lift(6).map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(0))
    require(plantCopies >= 1, s"plantCopies must be >= 1, got $plantCopies")
    val spark = Sessions.local()
    val shufW = new AtomicLong(0L)
    val counted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        if (si.failureReason.isEmpty && counted.add(si.stageId))
          shufW.addAndGet(si.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })
    def drained(): Long = {
      var prev = -1L; var cur = shufW.get(); var waited = 0
      while (cur != prev && waited < 10000) {
        prev = cur; Thread.sleep(400); waited += 400; cur = shufW.get()
      }
      cur
    }
    val base = Tables.embeddings(spark, sf)
    val embPlanted =
      if (plantCopies == 1) base
      else base
        .crossJoin(broadcast(spark.range(plantCopies.toLong).select(col("id").as("c"))))
        .select(
          (col("vec_id") * plantCopies + col("c")).as("vec_id"),
          expr(
            s"""transform(embedding, (e, i) ->
               |  e * (1.0D + $eps * IF(pmod(xxhash64(vec_id, c, CAST(i AS BIGINT)), 2) = 0,
               |                        1.0D, -1.0D)))""".stripMargin).as("embedding"),
          col("label"))
    // materialize the planted corpus ONCE, to parquet (CcShapeAB's
    // pattern): every measured run must read the SAME bytes with no
    // upstream lineage in its timed region. A localCheckpoint cannot
    // serve here — run() calls Sessions.dropAllCaches, which
    // unpersists every persistent RDD, and a locally-checkpointed
    // RDD's lineage is truncated, so the first timed run would die
    // with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND trying to rebuild it.
    val emb =
      if (plantCopies == 1) embPlanted
      else {
        // keyed by corpus too: reusing one path across different sfDirs
        // is correct only because each JVM overwrites before reading,
        // and a run that died mid-write would leave a mixed dir the
        // next run could consume without error
        val sfTag = new java.io.File(sf).getName.replaceAll("[^A-Za-z0-9._-]", "_")
        val path = s"/tmp/ivfprof_planted_${sfTag}_k${plantCopies}_eps$eps"
        embPlanted.write.mode("overwrite").parquet(path)
        spark.read.parquet(path)
      }
    val n = emb.count()
    if (plantCopies > 1) {
      val nBase = base.count()
      require(n == nBase * plantCopies,
        s"planted corpus read-back has $n rows, expected ${nBase * plantCopies} " +
          s"($nBase x $plantCopies) — stale or partial planted parquet")
    }
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_id_a", "vec_id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // past the local O(n^2) ceiling, use RecallProfile's sampled-exact
    // estimator (deterministic ~2k-query hash sample, restricted pairs)
    val sampledQids: Option[Set[Long]] = if (n <= 50000) None else {
      val stride = math.max(1L, n / 2000L)
      Some(emb.filter(pmod(xxhash64(col("vec_id")), lit(stride)) === 0L)
        .select("vec_id").collect().map(_.getLong(0)).toSet)
    }
    def restricted(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      sampledQids match {
        case Some(q) =>
          val qs = q.toSeq
          df.filter(col("vec_id_a").isin(qs: _*) || col("vec_id_b").isin(qs: _*))
        case None => df
      }
    val exact = sampledQids match {
      case None => pairsOf(Dedup.embeddingNearDupsExact(emb, threshold))
      case Some(q) =>
        val e = graft.operators.Similarity.withNorm(emb).localCheckpoint(false)
        val qs = q.toSeq
        val sample = e.filter(col("vec_id").isin(qs: _*))
        pairsOf(e.join(
            broadcast(sample.select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))),
            col("vec_id") =!= col("qid"))
          .withColumn("cosine",
            graft.operators.Similarity.cosine(col("qv"), col("v"), col("qn"), col("norm")))
          .filter(col("cosine") >= threshold)
          .select(least(col("qid"), col("vec_id")).as("vec_id_a"),
            greatest(col("qid"), col("vec_id")).as("vec_id_b"))
          .distinct())
    }
    println(s"[ivfprof] $sf n=$n threshold=$threshold plantCopies=$plantCopies " +
      s"eps=$eps sampled=${sampledQids.isDefined} exact_pairs=${exact.size} " +
      s"gen=$harnessGen")

    // capBuckets drops per run (r18, verdict item 4): the byte-gate
    // degrade branch raises per-cell population, and capBuckets is its
    // observable backstop — a gate run whose drops stay dark proves
    // nothing. Observation metrics arrive on the async listener bus;
    // poll bounded like SparkEntry.reportedDrops.
    def dropsOf(o: org.apache.spark.sql.Observation): Long = {
      val deadline = System.nanoTime() + 2_000_000_000L
      var metric: Option[Long] = None
      while (metric.isEmpty && System.nanoTime() < deadline) {
        metric = Option(org.apache.spark.sql.classic.GraftInternal
          .observedMetricsOrEmpty(o).getOrElse("dropped_memberships", null))
          .map { case n: java.lang.Number => n.longValue }
        if (metric.isEmpty) Thread.sleep(50)
      }
      metric.getOrElse(-1L)
    }
    def run(tag: String,
        mkDf: Option[org.apache.spark.sql.Observation] => org.apache.spark.sql.DataFrame): Unit = {
      Sessions.dropAllCaches(spark)
      drained(); shufW.set(0L)
      val obs = org.apache.spark.sql.Observation()
      val t0 = System.nanoTime()
      val got = pairsOf(restricted(mkDf(Some(obs))))
      val wall = (System.nanoTime() - t0) / 1e9
      val mb = drained() >> 20
      val recall = if (exact.isEmpty) 1.0 else (exact & got).size.toDouble / exact.size
      val precision = if (got.isEmpty) 1.0 else (exact & got).size.toDouble / got.size
      println(f"[ivfprof] $tag recall=$recall%.4f precision=$precision%.4f " +
        f"wall=$wall%.2f s shuffle=${mb}MB pairs=${got.size} drops=${dropsOf(obs)}")
    }
    // sizing report (r18): requested vs byte-gated cell count per grid
    // point, from the operator's own extracted rule — a gate run must
    // SHOW the gate engaged (gated < uncapped), not imply it
    val dim = graft.operators.Similarity.dimOf(emb)
    for (cf <- cfGrid; p <- probesGrid) {
      val gated = Dedup.ivfCellCount(n, dim, p, cf)
      val uncapped = Dedup.ivfCellCount(n, dim, p, cf, maxCentroidBytes = Long.MaxValue)
      println(s"[ivfprof] sizing p=$p cf=$cf dim=$dim n=$n cells=$gated " +
        s"uncapped=$uncapped byte_gate_engaged=${gated < uncapped}")
    }
    // SPARK_GRAFT_IVFPROF_SKIP_LSH skips the (expensive) LSH baseline
    // when a prior log already holds it for the same corpus/config —
    // e.g. re-running only the IVF side after an operator fix (r18)
    if (!sys.env.contains("SPARK_GRAFT_IVFPROF_SKIP_LSH"))
      run("lsh", o => Dedup.embeddingNearDupsLsh(emb, threshold, dropObs = o))
    for (cf <- cfGrid; p <- probesGrid; sp <- spGrid)
      run(if (spGrid.size == 1) s"ivf p=$p cf=$cf" else s"ivf p=$p cf=$cf sp=$sp",
        o => Dedup.embeddingNearDupsIvf(emb, threshold, probes = p, cellFactor = cf,
          superProbes = sp, dropObs = o))
    spark.stop()
  }
}
