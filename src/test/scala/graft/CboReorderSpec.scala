package graft

import org.apache.spark.sql.execution.datasources.LogicalRelation

/** `join_cbo_reorder`'s pin: with ANALYZE'd stats and CBO join reorder on,
  * the optimizer must FLIP the deliberately fact-first join text to
  * dimension-first; without CBO the syntax order survives. The assertion is
  * on the optimized logical plan's leaf order — the physical strategy
  * (broadcast vs shuffle) is free to vary with scale, the join ORDER is the
  * stats-driven decision being pinned.
  */
class CboReorderSpec extends SparkSpec {

  /** Catalog-table names in optimized-plan leaf order (left-deep: first
    * leaf = left input of the innermost join).
    */
  private def leafOrder(cbo: Boolean): Seq[String] = {
    val t = queries.Joins.cboTables(spark, sf)
    val sql = queries.Joins.cboSql(t)
    val plan =
      if (cbo)
        queries.Confs.scoped(spark, queries.Joins.CboConfs: _*)(
          spark.sql(sql).queryExecution.optimizedPlan)
      else spark.sql(sql).queryExecution.optimizedPlan
    plan.collectLeaves().collect {
      case r: LogicalRelation =>
        r.catalogTable.map(_.identifier.table).getOrElse("?")
    }.map(_.replaceFirst("^graft_cbo_", "")
      .replaceFirst("_[0-9a-f]{32}$", ""))
  }

  test("CBO flips the fact-first join text dimension-first") {
    val syntax = leafOrder(cbo = false)
    val stats = leafOrder(cbo = true)
    info(s"syntax order: ${syntax.mkString(" JOIN ")}")
    info(s"stats order:  ${stats.mkString(" JOIN ")}")
    assert(syntax.head == "orders", s"syntax plan should lead with the fact: $syntax")
    assert(stats.head != "orders", s"CBO should not lead with the fact: $stats")
    assert(stats != syntax, "CBO produced the syntax-driven order")
  }

  test("both orders compute the same result") {
    val t = queries.Joins.cboTables(spark, sf)
    val sql = queries.Joins.cboSql(t)
    val plain = spark.sql(sql).collect().toSeq
    val cbo = queries.Confs.scoped(spark, queries.Joins.CboConfs: _*)(
      spark.sql(sql).localCheckpoint())
      .collect().toSeq
    assert(plain == cbo)
  }
}
