package graft

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetFooter
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Each table is a parquet file, or a directory of part files (a
  * `graft.ScaleUp` output), under the scale-factor dir. [[table]] states
  * its schema, `spark.read.schema(s).parquet(p)`, so building a query
  * runs no Spark job: Spark's own inference runs one single-task job per
  * read to fetch a footer. The schema comes from one footer, read on the
  * driver at every call (nothing is cached, so each build sees the file
  * as it is now) and converted by Spark's own `readSchemaFromFooter`
  * under the session's conf. Of a directory, that is the file Spark's
  * non-merging inference reads: of the names its file index keeps,
  * sorted by path, `_common_metadata`, else `_metadata`, else the first
  * data file. So a session with `spark.sql.parquet.mergeSchema=true`
  * does not merge part-file schemas here; every table graft writes
  * (TESTDATA, `ScaleUp`, graftbench's `Gen`) has one schema across its
  * files. The read keeps Catalyst's full pushdown/pruning freedom —
  * callers select narrow columns as early as possible.
  */
object Tables {
  /** A missing path, or a directory with no data file, fails here, by
    * path, before any plan is built.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = ParquetFooter.hadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    // the file index's leaf listing: hidden names dropped at every level
    def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(s => ParquetFooter.hidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    val files = (try leaves(root) catch {
      case e: FileNotFoundException =>
        throw new IllegalArgumentException(s"parquet table not found: $path", e)
    }).map(_.getPath).sortBy(_.toString)
    // _common_metadata, else _metadata, else the first data file
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = summaries.flatMap(n => files.find(_.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getName)))
      .getOrElse(throw new IllegalArgumentException(s"parquet table has no data file: $path"))
    ParquetFooter.schema(spark, conf, file)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` has shipped as two physical types across testdata
    * generations, so the reader adapts on the footer schema (no data
    * read; every downstream operator sees one canonical µs TIMESTAMP):
    *  - parquet TIMESTAMP(NANOS): Spark only reads it as a raw nanos
    *    LongType (spark.sql.legacy.parquet.nanosAsLong=true — set by
    *    [[Sessions]]); convert with explicit FLOOR division (`div` alone
    *    truncates toward zero, which would land pre-1970 nanos 1 µs
    *    above DuckDB's flooring ns→us cast);
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ; the NTZ wall clock IS the UTC instant. A bare
    *    cast to TimestampType would interpret the wall clock in the
    *    SESSION time zone (a spark-submit session in Asia/Tokyo would
    *    silently shift every instant −9 h) — and so would every other
    *    built-in route, `to_utc_timestamp(ntz, "UTC")` included (it
    *    session-casts before its shift; measured in SourceFormatsSpec).
    *    The conversion is the native [[graft.functions.NtzAsUtcInstant]]
    *    reinterpret — zero arithmetic, zone-independent, and no session
    *    mutation (r10 pinned `spark.sql.session.timeZone=UTC` as a side
    *    effect of the read; a caller rendering its OWN tables'
    *    timestamps in its own zone got silently shifted output from
    *    that point on).
    *
    * The one remaining conf write, `nanosAsLong`, is read-time-required
    * for the NANOS generation (Spark refuses TIMESTAMP(NANOS) without
    * it), set only when it differs, and logged — it changes how a
    * pathological-schema file reads, never how values render.
    *
    * Any other physical ts type (a future regen producing INT96 or
    * string) fails fast with the observed type instead of flowing
    * wrong-typed values downstream.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // self-healing: callers with their own session (the driver's smoke
    // check) would otherwise hit PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS)
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.getOption(nanosKey).forall(_ != "true")) {
      org.slf4j.LoggerFactory.getLogger("graft.Tables")
        .info(s"events: setting $nanosKey=true (required to read a TIMESTAMP(NANOS) generation)")
      spark.conf.set(nanosKey, "true")
    }
    canonicalTs(table(spark, dir, "events"))
  }

  /** The `events` adaptation above, applied to a raw `events` read. */
  private[graft] def canonicalTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(
          expr("ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // pure NTZ→instant reinterpret (see NtzAsUtcInstant: every
        // built-in route casts through the SESSION zone first)
        raw.withColumn("ts", graft.functions.NtzAsUtcInstant.column(col("ts")))
      case org.apache.spark.sql.types.TimestampType => raw // already an instant
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected nanos LONG, " +
          "TIMESTAMP_NTZ, or TIMESTAMP) — testdata generation changed; extend Tables.events")
    }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Schema-explicit CSV reader that round-trips arbitrary text payloads
    * (embedded newlines, quotes, unicode): multiLine + RFC-4180-style
    * doubled-quote escaping. FAILFAST — at 100 TB a PERMISSIVE reader
    * silently nulls corrupt rows, which reads as data loss downstream;
    * fail the task instead.
    */
  def fromCsv(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .option("mode", "FAILFAST")
      .csv(path)

  /** Schema-explicit JSON-lines reader (nested arrays/structs land as
    * their Spark types, no inference pass over the data). FAILFAST for
    * the same reason as [[fromCsv]].
    */
  def fromJson(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "FAILFAST")
      .json(path)
}
