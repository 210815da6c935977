package graft.operators

import graft.functions.ShingleGenerator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-tree reference for [[Decontaminate.flagged]]: the relational
  * formulation its in-scan EvalContainment kernel replaced, which
  * DecontaminateKernelSpec's equality gate replays.
  */
object DecontaminateReference {

  /** Broadcast join on the shingle plus a partial-aggregated pair count.
    * Exact same math as the kernel: both inputs carry per-doc set
    * semantics, so a plain count is the distinct-intersection size,
    * feeding the identical double division and floor comparison.
    */
  def flaggedExchange(
      corpus: DataFrame,
      evalDocs: DataFrame,
      minContainment: Double = 0.5): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0,1], got $minContainment")
    val evalInv = Dedup.shingleIndex(evalDocs)
    val evalSizes = evalInv.groupBy("doc_id").agg(count(lit(1)).as("n_eval"))
    val evalSide = evalInv.join(evalSizes, "doc_id")
      .select(col("doc_id").as("eval_id"), col("shingle"), col("n_eval"))
    corpus.select(
        col("doc_id"), ShingleGenerator.column(col("text"), distinct = true).as("shingle"))
      .join(broadcast(evalSide), "shingle")
      .groupBy(col("doc_id"), col("eval_id"), col("n_eval"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("containment",
        col("n_common").cast("double") / col("n_eval").cast("double"))
      .filter(col("containment") >= minContainment)
      .select("doc_id", "eval_id", "containment")
  }
}
