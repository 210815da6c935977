package graft.plans

import graft.core.PnlConfig
import graft.operators.MtmEngine
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.GraftInternal
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The MTM engine's per-symbol walk as a logical node: the child is the
  * engine's bar view (symbol, ts_us, event_id, close, buy, sell — see
  * `MtmEngine.barColumns`), with a `carry` column when a sliced run
  * restarts its runs from carries. The output is what `emit` selects:
  * one family of the pass (timeline, blotter or summary) in its public
  * schema for the lazy surfaces, or every family's pages for the stored
  * run (`MtmEngine.combinedRun`). [[MtmPassStrategy]] plans it to
  * [[MtmPassExec]], which walks the child's InternalRows and writes
  * UnsafeRows directly — no encoder round trip on either side.
  */
final case class MtmPass(
    cfg: PnlConfig, emit: MtmEngine.Emit, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  // every bar column feeds the walk (ColumnPruning must not narrow the
  // child), and the output columns are made here, not taken from it
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): MtmPass =
    copy(child = newChild)
}

object MtmPass {
  /** The engine pass over `bars`, emitting `emit`, lazily. */
  private[graft] def apply(bars: DataFrame, cfg: PnlConfig, emit: MtmEngine.Emit): DataFrame = {
    Strategies.register(bars.sparkSession, MtmPassStrategy)
    GraftInternal.ofRows(bars.sparkSession, MtmPass(
      cfg, emit, DataTypeUtils.toAttributes(emit.schema), bars.queryExecution.analyzed))
  }
}

/** Physical [[MtmPass]]: one walk per partition of the bars. The walk
  * needs every symbol's bars in one partition, in `MtmEngine.RunOrder`;
  * the node states that layout, so `EnsureRequirements` adds the
  * exchange and the sort, and checks a clustered scan
  * (`BucketedTables.bars`) rather than trusting it: a layout that does
  * not satisfy the distribution gets the exchange.
  */
final case class MtmPassExec(
    cfg: PnlConfig, emit: MtmEngine.Emit, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  private def runKey: Seq[Attribute] = MtmEngine.RunOrder.map(n => child.output.find(_.name == n).get)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(runKey.take(1)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    runKey.map(SortOrder(_, Ascending)) :: Nil
  override def producedAttributes: AttributeSet = outputSet
  override protected def doExecute(): RDD[InternalRow] = {
    val (c, e) = (cfg, emit) // the closure must not capture the plan
    child.execute().mapPartitions(MtmEngine.passPartition(c, e))
  }
  override protected def withNewChildInternal(newChild: SparkPlan): MtmPassExec =
    copy(child = newChild)
}

/** Plans [[MtmPass]] to [[MtmPassExec]]. */
object MtmPassStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case MtmPass(cfg, emit, output, child) => MtmPassExec(cfg, emit, output, planLater(child)) :: Nil
    case _ => Nil
  }
}
