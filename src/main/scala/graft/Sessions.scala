package graft

import org.apache.spark.sql.SparkSession

/** Shared session construction so Verify / Bench / tests agree on the
  * configs that change semantics:
  *  - UTC session time zone,
  *  - shuffle partitions sized to local cores (AQE coalesces; a
  *    cluster raises the INITIAL count instead — see the
  *    initialPartitionNum note below — and the operators owning
  *    cached, AQE-invisible exchanges size those from data),
  *  - nanosAsLong so parquet TIMESTAMP(NANOS) columns (events.ts) are
  *    readable (Spark has no nanos timestamp type),
  *  - AQE on, matching what a production cluster would run.
  */
object Sessions {
  /** Default core count: all of the machine up to the 32 the target
    * environment provides (SPARK_GRAFT_CPUS overrides). Tests pass an
    * explicit small count; Bench/Verify get the full machine.
    */
  private def defaultCores: String =
    math.min(32, Runtime.getRuntime.availableProcessors()).toString

  /** AQE initial shuffle-partition count: the deployment override or
    * the local cores default (see the initialPartitionNum note in
    * [[local]]). Pure so SessionsSpec can gate the override path —
    * env cannot be seeded for an in-process builder, and a typo in
    * the var name here would otherwise silently ignore deployment
    * sizing forever.
    */
  private[graft] def initialPartitions(
      cores: String, env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", cores)

  /** Shuffle/spill scratch directory for the LOCAL session (r19).
    * Resolution, first match wins:
    *  - SPARK_LOCAL_DIRS set → None (Spark's own env override already
    *    wins over spark.local.dir; setting the conf too would only
    *    mislead readers of the UI's Environment tab),
    *  - SPARK_GRAFT_LOCAL_DIR set → that directory (deployment
    *    override; empty string disables the default and keeps the JVM
    *    tmpdir),
    *  - /dev/shm exists and is writable → /dev/shm/graft-spark-local.
    * Why tmpfs by default: the r19 stall-watchdog dumps caught every
    * task thread of a 3-10x q_dedup_groups excursion RUNNABLE inside
    * kernel file I/O on the shuffle path (DiskBlockObjectWriter.open /
    * LZ4 stream creation / copyFileStreamNIO merges), with host CPU
    * calibration flat — the bench box's ext4-on-virtio root (mounted
    * `discard`: synchronous TRIM on every shuffle-file delete) stalls
    * the device queue under Spark's create/delete-heavy shuffle
    * traffic. Moving scratch to tmpfs removed the I/O stall class and
    * cut steady-state walls on every shuffle-heavy query (measured
    * same-day A/B at sf0.1: q_dedup_groups best 3.05→1.77 s, ngram
    * 1.22→1.04 s, star 2.41→1.68 s — OPTIMIZATION_r19.md). This is the
    * local-mode equivalent of what a production cluster does anyway —
    * point spark.local.dir at its fastest local device (guide §2.1:
    * shuffle-file disk bandwidth can be the tighter limit) — NOT a
    * bench-only trick: the parquet inputs stay on disk and every byte
    * of shuffle work (serialization, compression, merges) still
    * happens. A 100 TB deployment with shuffle > RAM keeps real disks
    * via either override above.
    *
    * tmpfs capacity caveat (measured r19): tmpfs pages compete with
    * the JVM heap for the same RAM, and shuffle files persist until
    * the ContextCleaner GCs their ShuffleDependency — a LARGE local
    * scale-factor campaign that loops a heavy query WITHOUT any
    * System.gc() between runs accumulates them (an sf100
    * q_dedup_groups loop reached 63 GB and the 4th run was OOM-killed
    * at 64g heap). The driver's bench (sf0.1, settle gc per boundary)
    * totals ~1-2 GB and is far inside margin; sf10+ harness campaigns
    * should export SPARK_GRAFT_LOCAL_DIR=/tmp (or gc between runs, as
    * Bench does). A kill -9'd JVM also leaves its spark-* scratch dirs
    * holding RAM-backed pages until manually removed (Spark's cleanup
    * is a shutdown hook), so campaigns that hard-kill JVMs should
    * rm -rf /dev/shm/graft-spark-local between runs or use the /tmp
    * override.
    */
  /** Floor on /dev/shm usable bytes before it is trusted as shuffle
    * scratch (r19 review finding): a writability check alone would pick
    * the Docker-default 64 MB /dev/shm, where the first shuffle write
    * past that fails mid-query with ENOSPC on a workload the JVM-tmpdir
    * default handled fine. 8 GiB clears the driver's bench (~1-2 GB of
    * live scratch with per-boundary gc) with margin while rejecting
    * every constrained-container default; smaller-but-real tmpfs hosts
    * can still opt in explicitly via SPARK_GRAFT_LOCAL_DIR=/dev/shm/...
    */
  private[graft] val minShmUsableBytes: Long = 8L << 30

  private[graft] def scratchDir(
      env: Map[String, String] = sys.env,
      shmWritable: => Boolean = {
        val f = new java.io.File("/dev/shm"); f.isDirectory && f.canWrite
      },
      shmUsableBytes: => Long = new java.io.File("/dev/shm").getUsableSpace)
      : Option[String] =
    if (env.contains("SPARK_LOCAL_DIRS")) None
    else env.get("SPARK_GRAFT_LOCAL_DIR") match {
      case Some(d) => Some(d).filter(_.nonEmpty)
      case None =>
        if (shmWritable && shmUsableBytes >= minShmUsableBytes)
          Some("/dev/shm/graft-spark-local")
        else None
    }

  /** The one stderr line naming the chosen shuffle scratch (r20, the
    * r19 verdict's "what's wrong" item 2): the tmpfs default picks a
    * capacity-at-the-margin risk SILENTLY — a host passing the 8 GiB
    * gate whose job later shuffles more than free shm dies ENOSPC
    * where the disk default survived. Naming the choice and the
    * override puts the first ENOSPC reader one log line from the fix.
    * Pure so SessionsSpec gates both shapes.
    */
  private[graft] def scratchLine(chosen: Option[String]): String = chosen match {
    case Some(d) =>
      s"[graft] shuffle scratch: $d (override: SPARK_GRAFT_LOCAL_DIR=/tmp or SPARK_LOCAL_DIRS)"
    case None =>
      "[graft] shuffle scratch: Spark default (JVM tmpdir or SPARK_LOCAL_DIRS)"
  }

  /** Drop every CacheManager entry AND every persisted RDD's blocks,
    * blocking until the frees complete. The one cache-hygiene primitive
    * the harnesses share (Bench between/before timed runs, Verify
    * between queries, QueryProfile between profiled runs): operators
    * may persist() internal frames they cannot safely unpersist
    * themselves (e.g. the ngram prefix phase's ranked/perDoc frames,
    * whose consumers run at the CALLER's action time — see the
    * [[graft.operators.Dedup.prefixPairPhase]] ownership note), so a
    * session that runs many such queries calls this between them; a
    * missed site silently turns timed runs into cached-view reads
    * (r13 measured ngram at 5.8 s vs its honest ~12 s at sf10 that
    * way) or lets one query read its predecessor's cache.
    * clearCache() drops the CacheManager ENTRIES (so identical later
    * subplans re-execute), the RDD sweep frees checkpoint/persist
    * blocks the CacheManager does not own.
    */
  def dropAllCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCores)): SparkSession = {
    // custom plan nodes (LocalSortHint) self-register their strategy on
    // whatever session their dataframe carries — no extension injection
    // here, so foreign/spark-submit sessions work identically
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      // AQE coalescing can only MERGE partitions, never split, so this
      // initial count is the un-splittable shuffle ceiling. A CLUSTER
      // deployment should raise it to ~ max expected shuffle bytes /
      // the 64 MB advisory (SPARK_GRAFT_INITIAL_PARTITIONS overrides;
      // with coalescing enabled THIS conf, not shuffle.partitions, is
      // what plans non-explicit shuffle counts — a harness A/B must
      // flip this one). Locally it stays at cores, a measured decision
      // (r17; re-landed quiet-host r18 — SCALING_r18
      // initial_partitions_pricing_sf01, same direction in 8/8
      // queries, +0.03-0.08 s fixed tax at 320): 10x cores
      // priced a consistent fixed tax on every sub-second shuffly
      // query (map-side bucket count + fetch segmentation; +0.1-0.7 s
      // in 6/6 interleaved pairs) while buying nothing the engine
      // still needs from the conf — the one measured large-SF spill
      // site (the ngram index cache, 1 GB deterministic at sf100 under
      // pinned 32) is sized from DATA by its owning operator since r17
      // (Dedup.indexShuffleParts: AQE cannot re-plan inside a persisted
      // plan, so a cached exchange carries its own data-driven count
      // and is immune to this conf at both ends of the scale axis).
      // canChangeCachedPlanOutputPartitioning likewise stays at its
      // false default: flipped true (the other way to size cached
      // exchanges), a coalesced cache no longer satisfies its
      // consumers' co-partitioning, and every consumer that relies on
      // the cache's partitioning re-exchanges it (measured r17: 3
      // exchanges where the wired plan had 1).
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitions(cores))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // maxPartitionBytes stays at the 128 MB default: r9 tried a
      // session-global 8m to spread CPU-heavy multimodal scans across
      // cores, but the A/B showed it taxed the whole suite (~+24 %
      // total, q_dedup_groups 1.5x) while Multimodal.cpuSpread already
      // covers the one path that needs it — and 8 MB splits are the
      // wrong 100 TB default anyway (~13 M scan partitions of driver
      // scheduling and tiny-row-group reads).
      // bucketed tables must ALWAYS read one-task-per-bucket: the
      // planner's auto-disable (when it sees no join/agg benefit) falls
      // back to size-based file splitting, which at scale can split one
      // bucket across tasks — silently breaking the co-location the
      // zero-exchange engine path (MtmEngine colocated=true) relies on
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // codegen class cache sized for a MULTI-QUERY session (r18). The
      // default 100 entries thrashes under this engine's harnesses: the
      // 68-query bench suite cycles ~1000+ distinct generated classes,
      // so every timed run re-generated (janino) and re-JITed (C2) its
      // whole plan — measured as a near-continuous compilation storm
      // (250 s of cumulative JIT time inside a 262 s family suite,
      // Bench's boundary jit lines) whose scheduling intermittently
      // inflated many-stage queries 7-40x (the "ngram-family
      // excursions" that polluted the r13-r18 wall artifacts; 44-stage
      // q_dedup_groups_star hit 195 s on a 4.9 s plan). Static conf, so
      // it must be set HERE, not per query; 4096 covers the suite's
      // distinct stages with headroom, costs only driver metaspace for
      // classes actually generated, and is the right posture for any
      // long-lived multi-query session at scale. Excursion A/B and the
      // jit-line evidence: SCALING_r18 codegen_cache_excursions.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // ... and the ID-IN-CLASS-NAME default defeats that cache ACROSS
      // stages: with the whole-stage codegenStageId embedded in the
      // generated class NAME (cache-key-relevant source text), every
      // stage of a plan is textually unique even when the generated
      // BODIES are identical. Measured (r18, CodegenChurnAB on
      // q_dedup_groups, then a CC round loop whose per-round stages are
      // textually identical): id-in-name loads 12,819 generated
      // classes for ONE run where stable names load 87 (~150x), and
      // steady-state wall drops 3.7 -> 2.5 s because C2 compiles each
      // distinct body once instead of per stage. The id survives in
      // the generated comment for debugging; only the name stabilizes.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
    // see [[scratchDir]]: tmpfs shuffle scratch by default on this
    // class of host, standard overrides preserved
    val chosen = scratchDir()
    System.err.println(scratchLine(chosen))
    val spark = chosen
      .foldLeft(builder)((b, d) => b.config("spark.local.dir", d))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
