package graft.operators

import java.util.concurrent.TimeoutException
import org.apache.spark.sql.Observation
import scala.concurrent.Await
import scala.concurrent.duration._

/** Bounded reads of `Dataset.observe` metrics. `Observation.get` blocks
  * until the observed action's metrics arrive — forever if that action
  * never runs (a checkpoint made lazy by a refactor, say). Every blocking
  * read goes through [[metrics]] instead, which waits at most [[Bound]]
  * and then fails naming the operator and the metric. The non-blocking
  * read is `GraftInternal.observedMetricsOrEmpty`.
  */
private[graft] object Observed {

  /** How long a read waits. Every caller observes an EAGER checkpoint
    * that has already run, so its metrics are at most a listener-bus
    * delivery away.
    */
  val Bound: FiniteDuration = 60.seconds

  /** `o`'s metrics, once the action it observes has delivered them.
    * `operator` and `metric` name the read in the timeout error.
    */
  def metrics(o: Observation, operator: String, metric: String,
      bound: FiniteDuration = Bound): Map[String, Any] = {
    val row =
      try Await.result(o.future, bound)
      catch {
        case _: TimeoutException => throw new IllegalStateException(
          s"$operator: observed metric '$metric' was not delivered within $bound; " +
            "the action it observes never completed (is its checkpoint still eager?)")
      }
    if (row == null || row.schema == null) Map.empty
    else row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq)
  }
}
