package graft

import graft.core.PnlConfig
import graft.operators.TextOps
import graft.streaming.StreamingJobs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** graft puts its kernels into plans as typed Columns, so building a
  * query must leave the caller's session function registry exactly as
  * it was: no name added, and no temp function or UDF of the caller's
  * replaced.
  */
class SessionFunctionsSpec extends AnyFunSuite {

  private lazy val spark = Sessions.local("4")
  private val sfDir = "/root/testdata/sf0.001"

  private def functionNames(): Set[String] =
    spark.catalog.listFunctions().collect().map(_.name).toSet

  test("building every SparkEntry query and StreamingJobs builder leaves the function list as it was") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val before = functionNames()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, q) =>
      q(spark, sfDir)
      Sessions.dropAllCaches(spark)
    }
    StreamingJobs.tumblingAgg(
      MemoryStream[(java.sql.Timestamp, String, Double)].toDF().toDF("ts", "event_type", "value"))
    StreamingJobs.sessionAgg(
      MemoryStream[(Long, java.sql.Timestamp, Double)].toDF().toDF("user_id", "ts", "value"))
    StreamingJobs.corpusIngestStream(
      MemoryStream[(java.sql.Timestamp, Long, String)].toDF().toDF("ingest_ts", "doc_id", "text"),
      redactPii = true, gopherRules = true)
    StreamingJobs.mtmTimelineStream(MemoryStream[StreamingJobs.StreamBar].toDS(), PnlConfig.default)
    StreamingJobs.mtmBlotterStream(MemoryStream[StreamingJobs.StreamBar].toDS(), PnlConfig.default)
    StreamingJobs.asofJoinStream(MemoryStream[StreamingJobs.AsofIn].toDS())
    val after = functionNames()
    val added = (after -- before).toSeq.sorted
    val removed = (before -- after).toSeq.sorted
    assert(added.isEmpty && removed.isEmpty, s"added: $added; removed: $removed")
  }

  test("a user function named like a graft kernel still resolves to the user's after an operator runs") {
    import spark.implicits._
    spark.udf.register("tokens", (s: String) => s"user:$s")
    try {
      val docs = Seq((1L, "a b c a"), (2L, "b c d")).toDF("doc_id", "text")
      assert(TextOps.tfidfTopTerms(docs).collect().nonEmpty)
      assert(spark.sql("SELECT tokens('x') AS t").as[String].collect().toSeq == Seq("user:x"))
    } finally spark.sessionState.catalog.dropTempFunction("tokens", ignoreIfNotExists = true)
  }
}
