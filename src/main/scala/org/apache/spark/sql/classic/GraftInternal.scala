package org.apache.spark.sql.classic

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal bridge to the `private[sql]` `Dataset.ofRows` constructor so
  * the library can materialize a DataFrame over a custom logical node
  * (`graft.plans.LocalSortHint`, `graft.plans.MtmPass`) or over an RDD of
  * InternalRows (`internalCreateDataFrame`). Like the bridges in
  * `org.apache.spark.sql.graft`, it contains no logic.
  */
object GraftInternal {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession, rows: RDD[InternalRow], schema: StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(rows, schema)

  /** Non-blocking read of an Observation's metrics (`getOrEmpty` is
    * `private[sql]`; the public `get` blocks forever if the observed
    * action never completed — e.g. a failed bench query).
    */
  def observedMetricsOrEmpty(o: org.apache.spark.sql.Observation): Map[String, Any] =
    o.getOrEmpty
}
