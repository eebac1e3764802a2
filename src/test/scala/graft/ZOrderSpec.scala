package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The z-ordered layout must actually SKIP: the same 2-D box filter reads
  * strictly fewer rows (surviving parquet row-group stats) off the
  * Morton-clustered layout than off a key-ordered layout of the same data.
  */
class ZOrderSpec extends SparkSpec {

  /** Rows the parquet scan emitted (post row-group pruning) for the
    * z-order box filter over `path`.
    */
  private def rowsRead(path: String): Long = {
    val df = spark.read.parquet(path).filter(queries.Scans.zorderBox)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect {
      case a: AdaptiveSparkPlanExec =>
        a.executedPlan.collect { case s: FileSourceScanExec => s }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    assert(scans.nonEmpty, plan.toString)
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("morton layout reads fewer rows than key-ordered for the 2-D box") {
    val orders = Tables(spark, sf, "orders")
    val total = orders.count()
    val zPath = queries.Scratch.path("graft_zorder_spec_z")
    val kPath = queries.Scratch.path("graft_zorder_spec_k")
    queries.Scans.writeZOrdered(orders, zPath)
    queries.Scans.withDims(orders)
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite")
      .option("parquet.block.size", 64 * 1024)
      .parquet(kPath)
    val zRead = rowsRead(zPath)
    val kRead = rowsRead(kPath)
    // Key-ordered files span the whole (custkey, date) space -> no
    // skipping; z-ordered files cover rectangles -> most are pruned.
    assert(zRead < kRead, s"z=$zRead key=$kRead total=$total")
    assert(zRead <= kRead / 2, s"z=$zRead key=$kRead total=$total")
    info(s"rows read: z-ordered=$zRead key-ordered=$kRead of $total")
    // Both layouts agree on the answer, of course.
    val za = spark.read.parquet(zPath).filter(queries.Scans.zorderBox).count()
    val ka = spark.read.parquet(kPath).filter(queries.Scans.zorderBox).count()
    assert(za == ka)
  }
}
