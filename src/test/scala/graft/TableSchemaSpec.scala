package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import graft.core.PnlConfig
import graft.operators.{Analytics, Dedup, MtmEngine, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.table` states each table's schema from one parquet footer
  * instead of letting Spark infer it in a job. These cases pin that the
  * stated schema is the one inference gives (names, types, nullability,
  * metadata), that a directory uses the footer inference would use, and
  * that the stated schema leaves the optimized plans untouched.
  */
class TableSchemaSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def inferred(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  private def assertSameSchema(s: SparkSession, dir: String, t: String): Unit = {
    val stated = Tables.table(s, dir, t).schema
    val expected = inferred(s, dir, t).schema
    assert(stated === expected, s"$dir/$t") // StructField equality includes metadata
  }

  private def withTempDir[A](body: Path => A): A = {
    val d = Files.createTempDirectory("graft-table-schema")
    try body(d) finally {
      Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  test("every testdata table states the schema inference reads") {
    for (sf <- Seq("sf0.001", "sf0.01"); t <- tables)
      assertSameSchema(spark, s"/root/testdata/$sf", t)
  }

  test("events states the inferred schema with and without nanosAsLong preset") {
    for (sf <- Seq("sf0.001", "sf0.01"); preset <- Seq(true, false)) {
      val dir = s"/root/testdata/$sf"
      val s = spark.newSession()
      if (preset) s.conf.set(nanosKey, "true") else s.conf.unset(nanosKey)
      assertSameSchema(s, dir, "events")
      // the reader proper: it sets nanosAsLong itself, then adapts ts
      val read = Tables.events(s, dir).schema
      assert(s.conf.get(nanosKey) === "true")
      assert(read === Tables.canonicalTs(inferred(s, dir, "events")).schema, s"$dir preset=$preset")
    }
  }

  test("a ScaleUp directory of part files states the schema inference reads") {
    withTempDir { d =>
      val out = d.resolve("sf").toString
      ScaleUp.scale(spark, "/root/testdata/sf0.001", out, 2)
      for (t <- tables) {
        assert(Files.isDirectory(d.resolve(s"sf/$t.parquet")), t)
        assertSameSchema(spark, out, t)
      }
    }
  }

  test("a directory of part files with different schemas uses the footer inference picks") {
    withTempDir { d =>
      import spark.implicits._
      // one single-file parquet per schema, copied into the table dir
      // under names that decide which footer inference reads
      def file(name: String, df: DataFrame): Path = {
        val src = d.resolve(s"src-$name")
        df.coalesce(1).write.parquet(src.toString)
        Files.list(src).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      }
      val a = file("a", Seq(1L).toDF("a"))
      val ab = file("ab", Seq((1L, "x")).toDF("a", "b"))
      val c = file("c", Seq(1.0).toDF("c"))
      val m = file("m", Seq(true).toDF("m"))
      val tbl = d.resolve("t.parquet")
      Files.createDirectories(tbl.resolve("_temporary"))
      def put(src: Path, name: String): Unit =
        Files.copy(src, tbl.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      put(ab, "part-1.parquet")
      put(a, "part-0.parquet")
      // hidden names and directories are never read
      put(c, "_hidden.parquet")
      put(c, ".hidden.parquet")
      put(c, "_temporary/part-00.parquet")
      Files.createFile(tbl.resolve("_SUCCESS"))
      def check(expected: Seq[String]): Unit = {
        assertSameSchema(spark, d.toString, "t")
        assert(Tables.table(spark, d.toString, "t").schema.fieldNames.toSeq === expected)
      }
      check(Seq("a")) // the first data file by path
      put(m, "_metadata")
      check(Seq("m")) // a summary file wins over the data files
      put(c, "_common_metadata")
      check(Seq("c")) // and _common_metadata over _metadata
    }
  }

  test("a missing table or a directory with no data file fails by path at construction") {
    withTempDir { d =>
      val missing = intercept[IllegalArgumentException](Tables.table(spark, d.toString, "nope"))
      assert(missing.getMessage.contains(s"$d/nope.parquet"), missing.getMessage)
      val empty = d.resolve("empty.parquet")
      Files.createDirectories(empty)
      Files.createFile(empty.resolve("_SUCCESS"))
      val noData = intercept[IllegalArgumentException](Tables.table(spark, d.toString, "empty"))
      assert(noData.getMessage.contains(empty.toString), noData.getMessage)
    }
  }

  test("the stated schema leaves each filtered query's optimized plan, pushed filters and spread as inference does") {
    val dir = "/root/testdata/sf0.1"
    // each query built twice: from the Tables readers, and from the same
    // composition over spark.read.parquet (the pre-footer read)
    val builds: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("q_trades_long_only",
        SparkEntry.queries("q_trades_long_only")(spark, dir),
        MtmEngine.blotterQuery(
          MtmEngine.barsFromEvents(Tables.canonicalTs(inferred(spark, dir, "events"))),
          PnlConfig.default)),
      ("q_dedup_exact",
        SparkEntry.queries("q_dedup_exact")(spark, dir),
        Dedup.exactDups(inferred(spark, dir, "documents"))),
      ("q3_shipping_priority",
        SparkEntry.queries("q3_shipping_priority")(spark, dir),
        Analytics.shippingPriority(inferred(spark, dir, "customer"),
          inferred(spark, dir, "orders"), inferred(spark, dir, "lineitem"))),
      // a documents query that goes through CpuSpread's decision
      ("q_ngram_topk",
        SparkEntry.queries("q_ngram_topk")(spark, dir),
        TextOps.ngramTopK(inferred(spark, dir, "documents"), 50)))
    def spreads(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case r: Repartition if r.shuffle => r }.size
    def scans(df: DataFrame): Seq[Map[String, String]] =
      df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
        s.metadata.map { case (k, v) => k -> v.replaceAll("#\\d+", "") }
      }
    for ((q, stated, byInference) <- builds) {
      assert(stated.queryExecution.optimizedPlan.canonicalized ===
        byInference.queryExecution.optimizedPlan.canonicalized, q)
      assert(spreads(stated) === spreads(byInference), q)
      assert(scans(stated).nonEmpty, q)
      assert(scans(stated) === scans(byInference), q)
    }
    val filtered = builds.filter(b => scans(b._2).exists(_("PushedFilters") != "[]")).map(_._1)
    assert(filtered.toSet === Set("q_trades_long_only", "q3_shipping_priority"))
    // sf0.1 documents is one 584 KiB file, which plans as 2 scan
    // partitions: CpuSpread spreads it on a session of 3 or more cores
    if (spark.sparkContext.defaultParallelism > 2)
      assert(spreads(builds.last._2) === 1, "q_ngram_topk spreads its sf0.1 documents scan")
  }
}
