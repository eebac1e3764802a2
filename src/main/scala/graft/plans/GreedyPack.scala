package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, BindReferences,
  Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Greedy document-boundary-preserving sequence packing (the T5/packing
  * batch builder): fill fixed token-budget training sequences from an
  * ordered document stream; a document that does not fit the open pack
  * CLOSES it and starts the next — no straddling (contrast
  * `seq_pack_chunks`, the concat-and-chunk form). Reference analog: the
  * fixed (batch, 128, 128, 3) example tensors the reference packs its
  * patches into (`trainer/flax_model.py:24, 235`).
  *
  * The fill state is a sequential fold over each group's ordered stream —
  * inexpressible as a window function (each row's pack depends on every
  * predecessor's *decision*, not just their values), so this is the
  * SURVEY §4.3(c) whole-operator tier: a custom [[LogicalPlan]] node, a
  * [[SparkStrategy]], and a physical operator. The strategy is one of
  * `Native.strategies`, installed by `Native.register` (or injected by
  * `GraftExtensions`), never by this operator.
  *
  * Scale shape: the exec declares `ClusteredDistribution(group)` +
  * per-group ordering, so Spark inserts exactly one hash exchange + one
  * sort; the fold itself is a single streaming pass per partition with
  * O(1) state (open-pack id + fill). Packing parallelism = number of
  * groups (shards): a real corpus build shards finer than `lang` — any
  * deterministic shard key works, since packs never cross group borders.
  */
object GreedyPack {

  /** Append `pack_id` to `df` (must expose the group/order/token columns;
    * token counts as LONG). Packs restart at 0 per group.
    */
  def packed(
      df: DataFrame,
      budget: Long,
      group: Seq[String],
      order: Seq[String],
      tokCol: String): DataFrame = {
    val s = df.sparkSession
    val lp = df.queryExecution.analyzed
    def resolve(n: String): Attribute = lp.output
      .find(_.name == n)
      .getOrElse(sys.error(s"greedy_pack: no column '$n' in ${lp.output}"))
    val plan = GreedyPackPlan(
      budget, group.map(resolve), order.map(resolve), resolve(tokCol),
      AttributeReference("pack_id", LongType, nullable = false)(), lp)
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s, plan)
  }
}

/** Logical node: child rows + an appended `pack_id` column. */
final case class GreedyPackPlan(
    budget: Long,
    groupExprs: Seq[Expression],
    orderExprs: Seq[Expression],
    tokExpr: Expression,
    packAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ packAttr
  override def producedAttributes: AttributeSet = AttributeSet(packAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GreedyPackPlan =
    copy(child = newChild)
}

object GreedyPackStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: GreedyPackPlan =>
      GreedyPackExec(
        p.budget, p.groupExprs, p.orderExprs, p.tokExpr, p.packAttr,
        planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Physical operator: one streaming pass per partition, O(1) fold state.
  * Declares the distribution/ordering it needs; Spark plans the single
  * hash exchange + sort below it.
  */
final case class GreedyPackExec(
    budget: Long,
    groupExprs: Seq[Expression],
    orderExprs: Seq[Expression],
    tokExpr: Expression,
    packAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ packAttr

  override def producedAttributes: AttributeSet = AttributeSet(packAttr :: Nil)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((groupExprs ++ orderExprs).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(newChild: SparkPlan): GreedyPackExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val b = budget
    val childOutput = child.output
    val groupLocal = groupExprs
    val tokLocal = tokExpr
    val outLocal = output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupLocal, childOutput)
      val tokBound = BindReferences.bindReference(tokLocal, childOutput)
      val outProj = UnsafeProjection.create(outLocal, childOutput :+ outLocal.last)
      val joined = new JoinedRow
      val packRow = new GenericInternalRow(1)
      var prevKey: UnsafeRow = null
      var pack = 0L
      var fill = 0L
      iter.map { row =>
        val key = keyProj(row)
        val tok = tokBound.eval(row).asInstanceOf[Long]
        if (prevKey == null || key != prevKey) {
          prevKey = key.copy()
          pack = 0L
          fill = tok
        } else if (fill + tok > b) {
          pack += 1L
          fill = tok
        } else {
          fill += tok
        }
        packRow.setLong(0, pack)
        outProj(joined(row, packRow))
      }
    }
  }
}
