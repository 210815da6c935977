package graft

import graft.core.PnlConfig
import graft.operators._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that make these plans survive a
  * 100× scale-up are asserted, not just eyeballed — filter/column
  * pushdown into the parquet scan, broadcast joins on small sides, no
  * cartesian products, whole-stage codegen on hot paths, and bounded
  * shuffle counts on the engine pipeline.
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Executed-plan tree walk for the cache-partitioning pins: expands
    * AQE/query-stage wrappers but stops at InMemoryTableScan — the
    * consumer-side execution boundary (descending into the cached
    * plan's innerChildren would re-count its build-time exchange/sort
    * as per-read work). One shared copy: a Spark upgrade that adds a
    * child-hiding wrapper node must be fixed HERE, not in one of three
    * drifting clones walking a silently truncated tree.
    */
  private def gatherExecuted(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }).flatMap(gatherExecuted)
  }

  test("q1 pricing summary: filter and columns pushed to the scan") {
    val p = plan(Analytics.pricingSummary(Tables.lineitem(spark, sfDir)))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"), "scan should prune unused columns")
  }

  test("q3 shipping priority: dimensions broadcast, no cartesian, top-k via TakeOrdered") {
    val p = plan(Analytics.shippingPriority(
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("MTM engine: one repartition exchange feeds the state machine") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    val p = plan(MtmEngine.timeline(bars, PnlConfig.default))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"timeline should shuffle exactly once, saw $exchanges:\n$p")
    assert(p.contains("MtmPass"), "engine pass operator missing")
  }

  test("MTM derived outputs come from the engine pass: no Window, no extra exchange") {
    val bars = MtmEngine.barsFromEvents(Tables.events(spark, sfDir))
    // the public surfaces: the engine's one exchange, nothing re-shuffles
    // or windows the pass output
    for ((name, df) <- Seq(
        "timelineQuery" -> MtmEngine.timelineQuery(bars, PnlConfig.default),
        "maxDrawdown" -> MtmEngine.maxDrawdown(bars, PnlConfig.default),
        "sharpeRatio" -> MtmEngine.sharpeRatio(bars, PnlConfig.default),
        "pnlSummary" -> MtmEngine.pnlSummary(bars, PnlConfig.default))) {
      val p = plan(df)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1 && !p.contains("Exchange RoundRobin"),
        s"$name should shuffle exactly once, saw:\n$p")
      assert(!p.contains("Window"), s"$name must not window the timeline:\n$p")
    }
    // calculate materializes the pass; its summary and timeline only
    // read the stored rows
    val res = MtmRunner.calculate(bars, PnlConfig.default)
    for ((name, df) <- Seq("summary" -> res.summary, "timeline" -> res.timeline)) {
      val p = plan(df)
      assert(!p.contains("Exchange") && !p.contains("Window"),
        s"calculate(...).$name must be a projection of the checkpoint:\n$p")
    }
  }

  test("ANN brute force: query side broadcast, corpus scanned once, no shuffle of scored rows") {
    val p = plan(Similarity.annBruteForceTopK(Tables.embeddings(spark, sfDir)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query set must be broadcast")
    assert(!p.contains("CartesianProduct"))
    // the only wide op after scoring is the tiny per-query heap aggregation
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "bounded-heap aggregate missing")
  }

  test("text ops stay inside whole-stage codegen with a pruned scan") {
    val p = plan(TextOps.qualityScore(Tables.documents(spark, sfDir)))
    assert(p.contains("*(1)"), "expected a codegen stage")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    // counts must come from the fused single-pass kernel, not regexes
    assert(p.contains("text_stats") && !p.contains("regexp_extract_all"),
      "quality score must use the fused TextStats kernel")
    val l = plan(TextOps.langId(Tables.documents(spark, sfDir)))
    assert(l.contains("lang_stop_hits") && !l.contains("regexp_extract_all"),
      "language-ID must use the fused LangStopHits kernel (5 alternation " +
        "regex passes regress it ~6x)")
  }

  test("ANN index math stays fused: one kernel, not per-plane expressions") {
    // audit the feature stage pre-checkpoint: annLshTopK materializes it
    // (one scan for four consumers), which hides the producing plan
    val lsh = plan(Similarity.lshFeatures(Tables.embeddings(spark, sfDir), 12, 4))
    assert(lsh.contains("hyperplane_buckets"),
      "LSH bucketing must go through the fused kernel (per-plane literal " +
        "DotProducts regress codegen size and bucketing cost ~5x)")
    val ivf = plan(Similarity.annIvfTopK(Tables.embeddings(spark, sfDir)))
    assert(ivf.contains("centroid_scores"),
      "IVF assignment must go through the fused centroid kernel")
  }

  test("signature pipeline: one doc_id exchange of raw rows, wide buffers stay local") {
    // r10 inverted the r9 audit here, on sf10 falsifier evidence: a
    // signature aggregate that partial-combines across scan-order
    // partitions ships ONE WIDE BUFFER PER DOC PER MAP TASK (128-long
    // minhash sigs: 33x the index bytes — 357 MB of (doc_id, h) rows
    // became 11.8 GB of partials at sf10). The index's repartition by
    // doc_id means the one exchange carries raw 16-byte rows, and the
    // distinct + every per-doc aggregate run downstream of it in one
    // stage with exactly one buffer per doc.
    val p = plan(Dedup.simhashes(Dedup.mixedShingleIndex(Tables.documents(spark, sfDir))))
    assert(p.contains("ObjectHashAggregate"), "expected object hash aggregation")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).toList
    assert(exchanges.length == 1,
      s"expected exactly the doc_id exchange (raw rows), saw ${exchanges.length}:\n$p")
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).nonEmpty,
      s"the one exchange must hash on doc_id alone:\n$p")
  }

  test("minhash verify: in-stage merge walk, no pair-x-shingle join") {
    // r10: the verify must join candidate pairs against per-doc sorted
    // hash-set ARRAYS and count intersections in-stage — the previous
    // shape joined the index on (doc_id_b, h), which shipped
    // |pair|·|shingles| rows across exchanges (11.8 GB at the sf10
    // falsifier) and re-aggregated them
    val p = plan(Dedup.minhashLshPairs(Tables.documents(spark, sfDir)))
    // (the perDoc aggregate itself sits behind a localCheckpoint, so
    // its sorted_long_set lineage is not visible in this plan — the
    // unboxed agg is gated by DedupSpec's pair parity instead)
    assert(p.contains("sorted_intersect_count"),
      "verify must count intersections via the compiled merge walk")
    assert(!"hashpartitioning\\(doc_id_b#\\d+L?, h#".r.findAllIn(p).hasNext,
      s"the pair-x-shingle (doc_id_b, h) exchange is back:\n$p")
  }

  test("bucket cap: window count shares the pair aggregation's shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.functions.collect_set
    val buckets = Seq((1L, 0, 10L), (2L, 0, 10L), (3L, 0, 11L))
      .toDF("doc_id", "band", "bucket")
    val p = plan(Dedup.capBuckets(buckets, Seq("band", "bucket"), 100, None)
      .groupBy("band", "bucket").agg(collect_set("doc_id")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"the size guard must reuse the bucket aggregation's exchange, saw $exchanges:\n$p")
  }

  test("CC edge cache: a propagation-round join reads edges with no exchange and no sort") {
    // Pins the capture semantics dupGroups relies on (r11 probed it
    // empirically; this makes a Spark upgrade that changes them fail a
    // test): the persisted symmetric edge set — built by the REAL
    // buildEdges — must report hashpartitioning(src)+sorted from the
    // cache, so the round's sort-merge join adds neither an Exchange
    // nor a Sort on the edge side. Expected wide ops are exactly the
    // labels side's: the distinct's exchange (whose output partitioning
    // then also serves the join, plus one sort on v) and the per-round
    // groupBy(dst) exchange. The merge hint forces SMJ (tiny test data
    // would otherwise broadcast and assert nothing).
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min => fmin}
    val p = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L)).toDF("src", "dst")
    val edges = ConnectedComponents.buildEdges(p)
    try {
      edges.count() // materialize the cache, as dupGroups' first action does
      val labels = edges.select(col("src").as("v")).distinct().withColumn("label", col("v"))
      // the FULL r14 fused round: neighbor labels from the join UNION
      // every vertex's own label, one partial-aggregated min — no
      // second join back to the labels
      val round = edges.hint("merge").join(labels, edges("src") === labels("v"))
        .select(col("dst"), col("label"))
        .union(labels.select(col("v").as("dst"), col("label")))
        .groupBy(col("dst")).agg(fmin(col("label")).as("label"))
      round.collect()
      // count by tree traversal, not plan-string grep: the string form
      // re-prints the cached plan's OWN exchange+sort under every
      // InMemoryRelation (innerChildren), which is build-time work done
      // once, not per-round work (see [[gatherExecuted]]).
      import org.apache.spark.sql.execution.SortExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      val nodes = gatherExecuted(round.queryExecution.executedPlan)
      val p2 = plan(round)
      assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
        s"merge hint must force SMJ:\n$p2")
      assert(nodes.exists(_.nodeName.contains("InMemoryTableScan")),
        s"edge side must read the cache:\n$p2")
      val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      // 1 = the groupBy(dst) aggregate. Even the labels-side distinct
      // rides the cache's hashpartitioning(src) (v is an alias of src),
      // and the edge side of the SMJ must add nothing.
      assert(exchanges == 1,
        s"expected only the groupBy(dst) exchange, saw $exchanges:\n$p2")
      val sorts = nodes.count(_.isInstanceOf[SortExec])
      assert(sorts == 1, s"expected only the labels-side SMJ sort, saw $sorts:\n$p2")
    } finally edges.unpersist(blocking = true)
  }

  test("decontaminate: corpus pass is exchange-free — probe generator, no join/aggregate") {
    // r14 kernel pin: the overlap computation rides the broadcast eval
    // index inside the scan (EvalContainment), so the corpus-side plan
    // has NO exchange, NO join, and NO aggregate at all — the only
    // rows the query moves are its flagged output. The r13 shape's
    // (train, eval) pair exchange (365 MB at sf10) grew ~quadratically
    // under proportional corpus/eval scaling.
    val docs = Tables.documents(spark, sfDir)
    val p = plan(Decontaminate.flagged(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 7 === 0), 0.5))
    assert(p.contains("eval_containment"), s"expected the probe generator:\n$p")
    assert(!p.contains("Exchange"), s"corpus pass must be exchange-free:\n$p")
    assert(!p.contains("Join"), s"corpus pass must not join:\n$p")
    assert(!p.toLowerCase.contains("aggregate"), s"corpus pass must not aggregate:\n$p")
  }

  test("exact dedup: single hash-partition shuffle on the fingerprint") {
    val p = plan(Dedup.exactDups(Tables.documents(spark, sfDir)))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one shuffle, saw $exchanges")
  }

  test("ngram prefix phase: per-doc aggregate rides the ranked cache's partitioning") {
    // r13 pin for the prefixPairPhase materialization choice. The
    // doc-partitioned ranked frame is persist()ed, NOT checkpointed —
    // under AQE a checkpoint's LogicalRDD reports Unknown partitioning
    // (this test, run against a localCheckpoint hook, catches exactly
    // that full re-exchange of the index by doc_id), while the
    // InMemoryRelation keeps hashpartitioning(doc_id). The hook
    // records the perDoc frame production builds over the REAL
    // materialized ranked frame; after driving an action we audit its
    // executed plan by tree walk (the CC edge-cache pattern): the
    // aggregate must read an InMemoryTableScan and add NO shuffle.
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // another suite running the same sf0.001 prefix phase leaves its
    // persisted frames in the shared session's CacheManager, which
    // would rewrite THIS test's perDoc plan into an InMemoryTableScan
    // of itself and hide the aggregate from the walk
    spark.catalog.clearCache()
    val recorded = scala.collection.mutable.Buffer[org.apache.spark.sql.DataFrame]()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), lit(1L).as("g"), col("text"))
    // persist ranked exactly as production does; leave perDoc bare so
    // its executed plan (agg over the ranked cache) stays inspectable
    Dedup.prefixPairPhase(docs, 0.8, Some(1000), mat =
      df => { recorded += df; if (recorded.size == 1) df.persist() else df })
    try {
      assert(recorded.size == 2, "expected ranked + perDoc materializations")
      val perDoc = recorded(1)
      perDoc.count() // drive AQE to the final plan
      val nodes = gatherExecuted(perDoc.queryExecution.executedPlan)
      val p2 = plan(perDoc)
      assert(nodes.exists(_.nodeName.contains("ObjectHashAggregate")),
        s"perDoc must aggregate the sorted hash-set arrays:\n$p2")
      assert(nodes.exists(_.nodeName.contains("InMemoryTableScan")),
        s"perDoc must read the ranked cache:\n$p2")
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"perDoc aggregate must ride the cache's doc_id partitioning, no exchange:\n$p2")
    } finally recorded.headOption.foreach(_.unpersist())
  }

  test("span dedup: one win exchange into a single window pass, no dup-set join") {
    // r13 pin for dedupSpans' duplicate-marking shape: occurrence count
    // and the canonical occurrence are BOTH analytic functions over one
    // partitionBy(win) spec, so the window set crosses exactly one
    // win-keyed exchange into a single WindowExec — no duplicated-window
    // aggregate, no join of the window set against it (an earlier shape
    // paid the aggregate's shuffle plus a sort-merge join's second
    // full-set sort and merge; 2648 MB of shuffle at sf10 vs 946 under
    // this pin). Expected exchanges: the win shuffle, the span-starts
    // groupBy(doc_id), and at most the toks side of the final doc join
    // (absent when AQE broadcasts the span-starts side). The only join
    // in the plan is that final doc join.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.catalog.clearCache() // cross-suite cache entries would rewrite this plan
    val out = Dedup.dedupSpans(Tables.documents(spark, sfDir), k = 8)
    out.write.format("noop").mode("overwrite").save()
    val nodes = gatherExecuted(out.queryExecution.executedPlan)
    val p2 = plan(out)
    assert(nodes.count(_.nodeName.contains("Window")) == 1,
      s"duplicate marking must be one WindowExec pass:\n$p2")
    val joins = nodes.count(n => n.nodeName.contains("Join"))
    assert(joins == 1, s"only the final doc join may remain, got $joins:\n$p2")
    val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(exchanges <= 3,
      s"expected win shuffle + starts groupBy + at most the doc-join toks side, " +
        s"got $exchanges:\n$p2")
  }
}
