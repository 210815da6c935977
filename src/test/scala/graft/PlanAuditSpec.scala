package graft

import graft.core.PnlConfig
import graft.operators._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** Operators grouped by whole-stage-codegen stage: a
    * WholeStageCodegenExec's operators down to its InputAdapters form
    * one group; an operator outside codegen is a group of its own.
    * Expands AQE/query-stage wrappers like [[gatherExecuted]].
    */
  private def codegenStages(p: SparkPlan): Seq[Seq[SparkPlan]] = {
    def inside(q: SparkPlan): (Seq[SparkPlan], Seq[SparkPlan]) = q match {
      case i: InputAdapter => (Nil, Seq(i.child))
      case other =>
        val sub = other.children.map(inside)
        (other +: sub.flatMap(_._1), sub.flatMap(_._2))
    }
    p match {
      case a: AdaptiveSparkPlanExec => codegenStages(a.executedPlan)
      case q: QueryStageExec => codegenStages(q.plan)
      case w: WholeStageCodegenExec =>
        val (ops, below) = inside(w.child)
        ops +: below.flatMap(codegenStages)
      case other => Seq(other) +: other.children.flatMap(codegenStages)
    }
  }

  /** Each per-row `graft.functions` kernel call in `op`, canonicalized
    * (kernel plus its input), with its number of occurrences. Left out:
    * `ntz_as_utc_instant`, which reinterprets one timestamp value and
    * scans nothing — `Tables.events` applies it under every events read,
    * so an inferred `isnotnull(ts)` or a time filter re-runs a field
    * read, and a generator there would tax every MTM scan instead.
    */
  private def kernelCalls(op: SparkPlan): Map[Expression, Int] =
    op.expressions.flatMap(_.collect {
      case e if e.getClass.getName.startsWith("graft.functions.") &&
          !e.isInstanceOf[AggregateFunction] &&
          !e.isInstanceOf[graft.functions.NtzAsUtcInstant] => e.canonicalized
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  /** The kernel guard: within one codegen stage, a kernel over one
    * canonical input may sit in at most one operator, and more than once
    * only in a ProjectExec — the one operator whose codegen eliminates
    * common subexpressions; every other copy runs again per row.
    */
  private def kernelRepeats(p: SparkPlan): Seq[String] =
    codegenStages(p).flatMap { ops =>
      val calls = ops.map(op => op -> kernelCalls(op))
      calls.flatMap(_._2.keys).distinct.flatMap { k =>
        val holders = calls.filter(_._2.contains(k))
        if (holders.size > 1) Seq(s"$k in ${holders.map(_._1.nodeName).mkString(", ")}")
        else holders.collect {
          case (op, n) if n(k) > 1 && !op.isInstanceOf[ProjectExec] => s"$k ${n(k)}x in ${op.nodeName}"
        }
      }
    }

  /** The QueryExecution of every SQL action `body` runs — eager
    * checkpoints and sizing counts as well as its collects. Listener
    * events arrive asynchronously and in order, so a marked action after
    * `body` closes the capture.
    */
  private def actionsOf(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val mark = s"end_of_capture_${System.nanoTime()}"
    def isMark(qe: QueryExecution) = qe.analyzed.output.exists(_.name == mark)
    import scala.jdk.CollectionConverters._
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(org.apache.spark.sql.functions.lit(1).as(mark)).collect()
      val deadline = System.nanoTime() + 60_000_000_000L
      while (!seen.asScala.exists(isMark) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.asScala.exists(isMark), "listener events did not arrive within 60 s")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.filterNot(isMark).toSeq
  }

  /** How many operators of `plans` hold a call of each named kernel. */
  private def kernelOperators(plans: Seq[SparkPlan], names: Seq[String]): Map[String, Int] = {
    val ops = plans.flatMap(gatherExecuted)
    names.map(n => n -> ops.count(op => kernelCalls(op).keys.exists(_.prettyName == n))).toMap
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
    // the LSH and IVF paths score their candidates in the same body: one
    // broadcast of the query rows, and the only shuffle is the tiny
    // per-query heap aggregation's (no candidate distinct, no rejoin of
    // the stored vectors)
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val emb = Tables.embeddings(spark, sfDir)
    for ((name, df) <- Seq(
        "annBruteForceTopK" -> Similarity.annBruteForceTopK(emb),
        "annLshTopK" -> Similarity.annLshTopK(emb),
        "annIvfTopK" -> Similarity.annIvfTopK(emb))) {
      val p = plan(df)
      val nodes = gatherExecuted(df.queryExecution.executedPlan)
      assert(nodes.count(_.isInstanceOf[BroadcastExchangeLike]) == 1,
        s"$name: the query set must be broadcast once:\n$p")
      assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
        s"$name: the heap aggregate's must be the only shuffle:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), s"$name:\n$p")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$name: bounded-heap aggregate missing:\n$p")
    }
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
    // the LSH key array is built after the stored frame's checkpoint, so
    // the kernel sits in the query's own plan
    val lsh = plan(Similarity.annLshTopK(Tables.embeddings(spark, sfDir)))
    assert(lsh.contains("hyperplane_buckets"),
      "LSH bucketing must go through the fused kernel (per-plane literal " +
        "DotProducts regress codegen size and bucketing cost ~5x)")
    val ivf = plan(Similarity.annIvfTopK(Tables.embeddings(spark, sfDir)))
    assert(ivf.contains("probe_cells"),
      "IVF assignment and probing must go through the fused ProbeCells kernel")
    assert(!ivf.contains("centroid_scores") && !ivf.contains("sort_array"),
      s"the retired centroid_scores/sort_array selection is back:\n$ivf")
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
    val pairs = Dedup.minhashLshPairs(Tables.documents(spark, sfDir))
    val p = plan(pairs)
    // (the perDoc aggregate itself sits behind a localCheckpoint, so
    // its sorted_long_set lineage is not visible in this plan — the
    // unboxed agg is gated by DedupSpec's pair parity instead)
    assert(p.contains("sorted_intersect_count"),
      "verify must count intersections via the compiled merge walk")
    assert(!"hashpartitioning\\(doc_id_b#\\d+L?, h#".r.findAllIn(p).hasNext,
      s"the pair-x-shingle (doc_id_b, h) exchange is back:\n$p")
    // both verify join sides read ONE semi-filtered per-doc side, so
    // the executed plan builds one broadcast candidate-id set (a reuse
    // of it is a ReusedExchange, not a second build)
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    pairs.collect()
    val idSets = gatherExecuted(pairs.queryExecution.executedPlan).collect {
      case b: BroadcastExchangeExec if b.output.map(_.name) == Seq("doc_id") => b
    }
    assert(idSets.size == 1,
      s"expected one broadcast candidate-id set, saw ${idSets.size}:\n" +
        pairs.queryExecution.executedPlan)
  }

  test("bucket cap: window count shares the pair aggregation's shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{collect_set, size}
    val buckets = Seq((1L, 0, 10L), (2L, 0, 10L), (3L, 0, 11L))
      .toDF("doc_id", "band", "bucket")
    // the tail's other exchange is its pair distinct, keyed on the pairs
    val p = plan(Dedup.bucketPairs(
      buckets, Seq("band", "bucket"), collect_set("doc_id"), 100, None)(size(_)))
    val exchanges = "Exchange hashpartitioning\\(band#".r.findAllIn(p).length
    assert(exchanges == 1,
      s"the size guard must reuse the bucket aggregation's exchange, saw $exchanges:\n$p")
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
    // r13 pin for ngramJaccardPairs' materialization choice. The
    // doc-partitioned ranked frame is persist()ed, NOT checkpointed —
    // under AQE a checkpoint's LogicalRDD reports Unknown partitioning
    // (this test, run against a localCheckpoint of ranked, catches
    // exactly that full re-exchange of the index by doc_id), while the
    // InMemoryRelation keeps hashpartitioning(doc_id). After driving
    // the public operator's action we walk into the perDoc cache's
    // executed plan (the CC edge-cache pattern): its aggregate must
    // read the ranked InMemoryTableScan and add NO shuffle.
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // another suite running the same sf0.001 operator leaves its
    // persisted frames in the shared session's CacheManager, which
    // would rewrite THIS test's plan into reads of those caches
    spark.catalog.clearCache()
    try {
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, sfDir), 0.8, Some(1000))
      pairs.write.format("noop").mode("overwrite").save()
      val perDoc = gatherExecuted(pairs.queryExecution.executedPlan).collect {
        case s: InMemoryTableScanExec
            if gatherExecuted(s.relation.cachedPlan).exists(_.isInstanceOf[ObjectHashAggregateExec]) =>
          s.relation.cachedPlan
      }
      assert(perDoc.nonEmpty, s"pairs must read the perDoc cache:\n${plan(pairs)}")
      val nodes = gatherExecuted(perDoc.head)
      val p2 = perDoc.head.toString
      assert(nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]),
        s"perDoc must aggregate the sorted hash-set arrays:\n$p2")
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"perDoc must read the ranked cache:\n$p2")
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"perDoc aggregate must ride the cache's doc_id partitioning, no exchange:\n$p2")
    } finally spark.catalog.clearCache()
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

  test("corpus stage 1 runs each text kernel once: cleanCorpus, stageReport, corpusIngestStream") {
    // the kernels of stage 1 live in the eager checkpoint jobs' plans:
    // the surfaces' own final plans read them as a LogicalRDD
    val docs = TextOps.withPlantedPipeline(Tables.documents(spark, sfDir))
    val kernels = Seq("pii_redact", "gopher_stats", "text_stats")
    def once(redact: Boolean, gopher: Boolean) = Map(
      "pii_redact" -> (if (redact) 1 else 0), "gopher_stats" -> (if (gopher) 1 else 0), "text_stats" -> 1)
    val surfaces =
      (for (redact <- Seq(false, true); gopher <- Seq(false, true)) yield
        (s"cleanCorpus(redactPii=$redact, gopherRules=$gopher)", once(redact, gopher),
          () => { CorpusPipeline.cleanCorpus(docs, redactPii = redact, gopherRules = gopher).collect(); () })) :+
        (("stageReport", once(false, false), () => { CorpusPipeline.stageReport(docs).collect(); () }))
    for ((name, want, run) <- surfaces) {
      val plans = actionsOf(run()).map(_.executedPlan)
      val repeats = plans.flatMap(kernelRepeats)
      assert(repeats.isEmpty, s"$name repeats a kernel in a codegen stage:\n${repeats.mkString("\n")}")
      assert(kernelOperators(plans, kernels) == want, s"$name:\n${plans.mkString("\n")}")
    }
    // the ingest stream runs the same builder
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = new java.sql.Timestamp(1700000000000L)
    val stream = MemoryStream[(java.sql.Timestamp, Long, String)]
    // the last execution must be the data batch, not the empty batch a
    // watermark advance runs after it
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    try {
      val q = graft.streaming.StreamingJobs.corpusIngestStream(
          stream.toDF().toDF("ingest_ts", "doc_id", "text"), redactPii = true, gopherRules = true)
        .writeStream.format("memory").queryName("ingestplan").outputMode(OutputMode.Append).start()
      try {
        stream.addData(docs.as[(Long, String)].collect().toSeq.map { case (id, t) => (t0, id, t) })
        q.processAllAvailable()
        val p = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
        assert(kernelRepeats(p).isEmpty, s"the ingest stream repeats a kernel:\n$p")
        assert(kernelOperators(Seq(p), kernels) == once(true, true), s"ingest stream:\n$p")
      } finally q.stop()
    } finally prev.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
  }

  test("graft kernels repeat only inside a projection, across every SparkEntry query") {
    // the repo-wide lint: a kernel copied into a Filter (or into two
    // operators of one codegen stage) runs once per copy, per row
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      actionsOf { q(spark, sfDir).collect(); () }
        .flatMap(qe => kernelRepeats(qe.executedPlan)).map(r => s"$name: $r")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}
