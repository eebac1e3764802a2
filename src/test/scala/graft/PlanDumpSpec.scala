package graft

/** `PlanDump` writes dumps that compare across runs: two dumps of the same
  * code differ only where the plan does.
  */
class PlanDumpSpec extends SparkSpec {

  test("normalize renumbers ids by first appearance and masks call-site lines") {
    val a = "Project [x#12, y#7] [plan_id=41]\n" +
      "Scan ExistingRDD MapPartitionsRDD[88] at localCheckpoint at SimOps.scala:412 [x#12]\n" +
      "Functions [1]: [agg(x#12, graft.functions.MinHashAgg@7e09bee)]"
    val b = "Project [x#3, y#5] [plan_id=2]\n" +
      "Scan ExistingRDD MapPartitionsRDD[9] at localCheckpoint at SimOps.scala:430 [x#3]\n" +
      "Functions [1]: [agg(x#3, graft.functions.MinHashAgg@2799f9a)]"
    val n = PlanDump.normalize(a)
    assert(n == PlanDump.normalize(b))
    assert(n == "Project [x#1, y#2] [plan_id=1]\n" +
      "Scan ExistingRDD MapPartitionsRDD[1] at localCheckpoint at SimOps.scala:_ [x#1]\n" +
      "Functions [1]: [agg(x#1, graft.functions.MinHashAgg@_)]")
    // Distinct ids stay distinct.
    assert(PlanDump.normalize("a#1 b#2") != PlanDump.normalize("a#1 b#1"))
  }

  test("two dumps of sim_ann_graph_greedy on one session are equal") {
    val first = PlanDump.dump(spark, sf, "sim_ann_graph_greedy")
    val second = PlanDump.dump(spark, sf, "sim_ann_graph_greedy")
    assert(!first.startsWith("FAILED"), first.take(200))
    assert(first.contains("plan_id=1"), first.take(400))
    assert(first == second,
      first.linesIterator.zip(second.linesIterator).find(p => p._1 != p._2))
  }
}
