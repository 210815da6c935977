package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator: replicates the driver's parquet tables `factor`×
  * with key remapping into a scratch directory, so the engine's scaling
  * claims can be FALSIFIED locally (BENCH ratios sf1/sf0.1) instead of
  * argued from plan shapes. `runMain graft.ScaleUp [srcDir outDir factor]`.
  *
  * Replication is keyed, not copied: every replica r gets fresh ids
  * (`id * factor + r` — collision-free, no span arithmetic that could
  * overflow) so joins, groups and dedup keys grow 10× in CARDINALITY,
  * not 10× in per-key depth. Content columns are decorrelated across
  * replicas where sameness would change the workload's character rather
  * than its size:
  *  - `documents.text`: replica r > 0 suffixes every token with `_r`.
  *    Within-replica near-dup structure is preserved exactly (both docs
  *    of a pair get the same transform ⇒ same shingle-set Jaccard);
  *    across replicas the token sets are disjoint, so the pair graph
  *    and group structure replicate linearly instead of densifying into
  *    10-cliques of every document (which exact-copy replication would
  *    produce, and which would benchmark a different problem);
  *  - `embeddings.embedding`: replica r rotates the vector by r
  *    positions — norms and within-replica inner products are
  *    preserved, cross-replica cosines decorrelate;
  *  - `events`: ids and user/symbol space are remapped (10× symbols at
  *    the same per-symbol bar depth — the engine's intended scaling
  *    axis), timestamps stay (event-time density grows 10×, the
  *    tumbling/hopping window axis). `ts` is written back as the same
  *    raw nanos BIGINT the nanosAsLong read path presents; the DuckDB
  *    check view rebuilds the µs timestamp from it.
  *
  * The output is a measurement harness, not test data for the driver —
  * correctness at scale is still gated by the same oracle SQL (check.py
  * re-runs it against the scaled dir).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated table subset — the decade
    // probes only read documents/embeddings, and generating a 1000x
    // lineitem nobody scans costs more wall than the probe itself
    val tableFilter = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = Sessions.local()
    try scale(spark, src, out, factor, tableFilter) finally spark.stop()
  }

  /** Writes the `factor`× copy of `src` into `out` (see the object
    * doc), each table a directory of part files; `tableFilter` keeps
    * only the named tables.
    */
  def scale(spark: SparkSession, src: String, out: String, factor: Int,
      tableFilter: Option[Set[String]] = None): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")

    // Manifest guard (ADVICE r15): overwrite is per-TABLE, so a subset
    // run into a dir produced with a different factor (or source)
    // silently mixes key spaces and replica texts — downstream probes
    // read the mix with no error. Record (src, factor) in a manifest
    // and refuse a mismatched rerun; a dir predating the manifest gets
    // the same refusal when it already holds tables this run would not
    // rewrite (the only case where stale data can survive).
    val outPath = java.nio.file.Paths.get(out)
    val manifestPath = outPath.resolve("_scaleup_manifest.txt")
    if (java.nio.file.Files.exists(manifestPath)) {
      val lines = java.nio.file.Files.readAllLines(manifestPath)
      val kv = lines.toArray(Array.empty[String]).iterator
        .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      val oldFactor = kv.get("factor"); val oldSrc = kv.get("src")
      require(oldFactor.contains(factor.toString) && oldSrc.contains(src),
        s"$out was generated by ScaleUp with factor=${oldFactor.getOrElse("?")} " +
          s"src=${oldSrc.getOrElse("?")} — rerunning with factor=$factor src=$src " +
          "would mix key spaces across tables. Use a fresh outDir or delete " +
          s"$manifestPath and ALL tables first.")
    } else if (java.nio.file.Files.isDirectory(outPath) && tableFilter.isDefined) {
      val stale = java.nio.file.Files.list(outPath).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
        .map(p => java.nio.file.Paths.get(p).getFileName.toString.stripSuffix(".parquet"))
        .filterNot(tableFilter.get.contains)
      require(stale.isEmpty,
        s"$out predates the ScaleUp manifest and already holds tables outside " +
          s"the requested subset (${stale.sorted.mkString(", ")}) — their factor " +
          "is unknowable. Use a fresh outDir or delete them first.")
    }

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val reps = broadcast(spark.range(factor.toLong).select(col("id").as("r")))
    // repartition the SOURCE before the crossJoin: the driver's parquet
    // is a single row group, so without this the whole factor-x
    // expansion (including the per-row decorrelation transforms) runs
    // in ONE task — 300x lineitem measured ~25 min single-threaded vs
    // ~1 min spread across the session's cores
    def rep(name: String): DataFrame = Tables.table(spark, src, name)
      .repartition(spark.sparkContext.defaultParallelism).crossJoin(reps)
    def key(c: String): Column = (col(c) * factor + col("r")).as(c)
    def write(name: String)(df: DataFrame): Unit = {
      if (tableFilter.forall(_.contains(name))) {
        // a real corpus at this scale is MANY files; the crossJoin
        // inherits the source's (often single-row-group, unsplittable)
        // layout, and writing that back as one file caps every scaled
        // scan at one task — making CPU-bound per-row stages look
        // super-linear (rows-per-partition, not rows). Round-robin to
        // the session's parallelism so the scaled dir has honest file
        // parallelism.
        df.drop("r").repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
        System.err.println(s"[scaleup] $name ×$factor -> $out")
      } else System.err.println(s"[scaleup] $name skipped (not in table filter)")
    }

    write("documents")(rep("documents").select(
      key("doc_id"),
      when(col("r") === 0, col("text")).otherwise(
        regexp_replace(col("text"), lit("(\\S+)"), concat(lit("$1_"), col("r")))).as("text"),
      col("lang"), col("source"), col("r")) // n_chars recomputed below
      .withColumn("n_chars", length(col("text")).cast("int")))

    // rotation alone only decorrelates factor <= dim replicas (r is
    // taken mod the dimension, so r and r + dim would alias — exact
    // cross-replica dups, densifying the pair graph the same way
    // exact-copy replication would). Composing a per-element
    // hash-parity sign flip keyed by (r, i) keeps every replica
    // distinct at ANY factor while preserving norms and WITHIN-replica
    // inner products exactly (sign flips square away; rotation is a
    // permutation), so within-replica near-dup structure still
    // replicates linearly.
    write("embeddings")(rep("embeddings").select(
      key("vec_id"),
      when(col("r") === 0, col("embedding")).otherwise(expr(
        """transform(
          |  concat(slice(embedding, pmod(r, size(embedding)) + 1,
          |               size(embedding) - pmod(r, size(embedding))),
          |         slice(embedding, 1, pmod(r, size(embedding)))),
          |  (e, i) -> CASE WHEN pmod(xxhash64(r, CAST(i AS BIGINT)), 2) = 0
          |            THEN e ELSE -e END)""".stripMargin))
        .as("embedding"),
      col("label"), col("r")))

    write("events")(rep("events").select(
      key("event_id"), col("ts"), key("user_id"),
      col("event_type"), col("value"), col("props"), col("r")))

    write("customer")(rep("customer").select(
      key("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"), col("r")))

    write("orders")(rep("orders").select(
      key("o_orderkey"), key("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"), col("r")))

    write("lineitem")(rep("lineitem").select(
      key("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"), col("r")))

    // dimension tables are scale-invariant in TPC-H; copy them through
    // so the scaled dir is self-contained
    Seq("nation", "region", "part", "supplier").foreach { name =>
      write(name)(Tables.table(spark, src, name).withColumn("r", lit(0L)))
    }
    // written LAST: a crashed run leaves no manifest, and the next run
    // over the same dir hits the stale-table refusal above rather than
    // trusting a half-written output
    java.nio.file.Files.write(manifestPath,
      java.util.Arrays.asList(s"src=$src", s"factor=$factor"))
  }
}
