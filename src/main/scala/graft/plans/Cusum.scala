package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, BindReferences,
  Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.DoubleType

/** One-sided CUSUM change-point statistic: per ordered group stream,
  * `S_t = max(0, S_{t-1} + (x_t − k))` — the classic Page (1954) drift
  * detector (data-quality / training-telemetry monitoring: alarms when a
  * measure runs persistently above the `k` reference, where a single
  * spike would not trip it).
  *
  * Like [[GreedyPack]] this is the SURVEY §4.3(c) whole-operator tier:
  * the recursion's `max(0, ·)` clamp makes each row's state depend on
  * every predecessor's *clamped* value — not expressible as any window
  * aggregate (a running sum ignores the clamp; no frame recovers it), so
  * it gets a custom [[LogicalPlan]] node + [[SparkStrategy]] + physical
  * operator, its strategy installed with GreedyPack's by `Native.register`.
  *
  * Scale shape: the exec declares `ClusteredDistribution(group)` +
  * per-group ordering — Spark plans exactly one hash exchange + sort —
  * and the fold itself is one streaming pass per partition with O(1)
  * state (previous key + running S). Detection parallelism = number of
  * monitored series, which is exactly how a fleet-wide monitor shards.
  */
object Cusum {

  /** Append a `cusum` DOUBLE column to `df` (value column read as DOUBLE).
    * The fold is sequential per group in (order) order; both engines and
    * the DuckDB recursive-CTE oracle evaluate the identical
    * `max(0, s + (x − k))` double chain, so results are bit-exact.
    */
  def applied(
      df: DataFrame,
      k: Double,
      group: Seq[String],
      order: Seq[String],
      valueCol: String): DataFrame = {
    val s = df.sparkSession
    val lp = df.queryExecution.analyzed
    def resolve(n: String): Attribute = lp.output
      .find(_.name == n)
      .getOrElse(sys.error(s"cusum: no column '$n' in ${lp.output}"))
    val plan = CusumPlan(
      k, group.map(resolve), order.map(resolve), resolve(valueCol),
      AttributeReference("cusum", DoubleType, nullable = false)(), lp)
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s, plan)
  }
}

/** Logical node: child rows + an appended `cusum` column. */
final case class CusumPlan(
    k: Double,
    groupExprs: Seq[Expression],
    orderExprs: Seq[Expression],
    valueExpr: Expression,
    cusumAttr: AttributeReference,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ cusumAttr
  override def producedAttributes: AttributeSet = AttributeSet(cusumAttr :: Nil)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): CusumPlan =
    copy(child = newChild)
}

object CusumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: CusumPlan =>
      CusumExec(
        p.k, p.groupExprs, p.orderExprs, p.valueExpr, p.cusumAttr,
        planLater(p.child)) :: Nil
    case _ => Nil
  }
}

/** Physical operator: one streaming pass per partition, O(1) fold state;
  * distribution/ordering requirements make Spark plan the single hash
  * exchange + sort below it.
  */
final case class CusumExec(
    k: Double,
    groupExprs: Seq[Expression],
    orderExprs: Seq[Expression],
    valueExpr: Expression,
    cusumAttr: AttributeReference,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ cusumAttr

  override def producedAttributes: AttributeSet = AttributeSet(cusumAttr :: Nil)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq((groupExprs ++ orderExprs).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def withNewChildInternal(newChild: SparkPlan): CusumExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val childOutput = child.output
    val groupLocal = groupExprs
    val valueLocal = valueExpr
    val outLocal = output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(groupLocal, childOutput)
      val valueBound = BindReferences.bindReference(valueLocal, childOutput)
      val outProj = UnsafeProjection.create(outLocal, childOutput :+ outLocal.last)
      val joined = new JoinedRow
      val cusumRow = new GenericInternalRow(1)
      var prevKey: UnsafeRow = null
      var s = 0.0
      iter.map { row =>
        val key = keyProj(row)
        val v = valueBound.eval(row).asInstanceOf[Double]
        s =
          if (prevKey == null || key != prevKey) {
            prevKey = key.copy()
            math.max(0.0, v - kLocal)
          } else math.max(0.0, s + (v - kLocal))
        cusumRow.setDouble(0, s)
        outProj(joined(row, cusumRow))
      }
    }
  }
}
