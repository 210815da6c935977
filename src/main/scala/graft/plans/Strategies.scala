package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** Self-registration of graft's planner strategies: a custom logical
  * node adds its strategy to the session its dataframe carries
  * (idempotently, via `experimental.extraStrategies`), so the node plans
  * on ANY SparkSession — a plain `SparkSession.builder()` or a
  * spark-submit session included; nothing needs
  * `SparkSessionExtensions` wiring.
  */
private[graft] object Strategies {
  def register(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val em = spark.experimental
    em.synchronized {
      if (!em.extraStrategies.contains(strategy))
        em.extraStrategies = em.extraStrategies :+ strategy
    }
  }
}
