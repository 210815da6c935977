package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed copies of the parquet tables, for co-located big⋈big joins.
  *
  * At 100 TB the dominant cost of a fact⋈fact join (orders⋈lineitem on
  * the order key) is shuffling BOTH sides; bucketing is Spark's standing
  * answer — lay the data out hash-partitioned by the join key ONCE at
  * write time, and every subsequent join or aggregation on that key
  * reads the partitioning for free (`ClusteredDistribution` is satisfied
  * by the bucketed scan, so the planner inserts no Exchange). This
  * module is that write-side layout step: it registers a bucketed,
  * bucket-sorted external-table copy of a source table in the session
  * catalog, writing it at most once per (table, sf) per JVM.
  *
  * Scale notes:
  *  - bucket count is a layout-time choice: it bounds join parallelism,
  *    so production tables use O(cluster cores) buckets (the 32 default
  *    here matches the local[32] harness; the knob is explicit);
  *  - both join sides must agree on bucket count and key for the
  *    exchange-free plan — callers get that by construction when both
  *    sides come from here with the same `nBuckets`;
  *  - `sortBy` on the bucket key additionally lets the sort-merge join
  *    skip its per-partition sort when each bucket lands in one file
  *    (true here; at real scale compaction keeps it true).
  */
object BucketedTables {

  /** Catalog-safe tag for an sfDir. The sanitized form alone is NOT
    * injective ('/data/sf0.1' and '/data/sf0_1' collide), and a
    * collision would silently serve the FIRST directory's bucketed copy
    * for the second — so a hash of the raw path is appended to make the
    * mapping collision-proof.
    */
  private def tag(sfDir: String): String = {
    val readable = sfDir.replaceAll("[^A-Za-z0-9]", "_").replaceAll("^_+", "")
    f"${readable}_${sfDir.hashCode & 0xffffffffL}%08x"
  }

  /** Catalog name of the bucketed copy of `name` for `sfDir`, creating
    * it (one write job) if this JVM hasn't yet. The copy is an external
    * table under /tmp so re-registration in a fresh JVM overwrites
    * rather than double-appends.
    */
  def ensure(
      spark: SparkSession,
      sfDir: String,
      name: String,
      bucketCol: String,
      nBuckets: Int = 32): String =
    ensureFrom(spark, sfDir, name, bucketCol, nBuckets)(
      graft.Tables.table(spark, sfDir, name))

  private def ensureFrom(
      spark: SparkSession,
      sfDir: String,
      name: String,
      bucketCol: String,
      nBuckets: Int)(build: => DataFrame): String = synchronized {
    // self-healing (same pattern as Tables.events): a foreign session
    // without Sessions.local's config would let the planner fall back
    // to size-based splitting of bucket files, breaking the
    // co-location downstream paths read for free (each states its
    // required distribution, so a split scan costs an exchange, not a
    // wrong result). DELIBERATELY not restored: the pin must hold when
    // the returned table is SCANNED, which happens long after this
    // call — a save/restore here would re-arm the size-based fallback
    // for exactly the queries the pin protects. Colocated reads over
    // planner freedom.
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val tbl = s"graft_b_${name}_${tag(sfDir)}"
    if (!spark.catalog.tableExists(tbl)) {
      import org.apache.spark.sql.functions.col
      build
        // one writer task per bucket: without this, EVERY writer task
        // emits a file for every bucket it sees (writers×buckets small
        // files), and multi-file buckets force the read side to re-sort
        // before the merge join — the layout's whole point lost
        .repartition(nBuckets, col(bucketCol))
        .write
        .mode("overwrite")
        .option("path", s"/tmp/graft_bucketed/${tag(sfDir)}/$name")
        .bucketBy(nBuckets, bucketCol)
        .sortBy(bucketCol)
        .saveAsTable(tbl)
    }
    tbl
  }

  def orders(spark: SparkSession, sfDir: String, nBuckets: Int = 32): DataFrame =
    spark.table(ensure(spark, sfDir, "orders", "o_orderkey", nBuckets))

  def lineitem(spark: SparkSession, sfDir: String, nBuckets: Int = 32): DataFrame =
    spark.table(ensure(spark, sfDir, "lineitem", "l_orderkey", nBuckets))

  /** Engine bars bucketed by symbol — the layout under the
    * zero-exchange MTM engine path: every symbol's bars land in exactly
    * one bucket, so the scan satisfies the engine pass's required
    * clustering by symbol (`MtmPassExec`), the planner adds no exchange,
    * and only the in-partition secondary sort remains at read time. That
    * holds for the lazy surfaces and for `MtmRunner.calculate`'s stored
    * pass alike.
    */
  def bars(spark: SparkSession, sfDir: String, nBuckets: Int = 32): DataFrame =
    spark.table(ensureFrom(spark, sfDir, "bars", "symbol", nBuckets)(
      graft.operators.MtmEngine.barsFromEvents(graft.Tables.events(spark, sfDir))))
}
