package graft

/** `PlanDump` writes dumps that compare across runs: two dumps of the same
  * code differ only where the plan does.
  */
class PlanDumpSpec extends SparkSpec {

  test("normalize renumbers ids by first appearance and masks call-site lines") {
    val a = "Project [x#12, y#7] [plan_id=41]\n" +
      "Scan ExistingRDD MapPartitionsRDD[88] at localCheckpoint at SimOps.scala:412 [x#12]\n" +
      "Functions [1]: [agg(x#12, graft.functions.MinHashAgg@7e09bee)]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_feb_sink_0f3a9c1e2b4d5f60718293a4b5c6d7e8]\n" +
      "Arguments: graft.queries.Scans$$$Lambda$5952/0x00007f29ad67c000@433ec38c, obj#20"
    val b = "Project [x#3, y#5] [plan_id=2]\n" +
      "Scan ExistingRDD MapPartitionsRDD[9] at localCheckpoint at SimOps.scala:430 [x#3]\n" +
      "Functions [1]: [agg(x#3, graft.functions.MinHashAgg@2799f9a)]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_feb_sink_9e8d7c6b5a4f30211203f4e5d6c7b8a9]\n" +
      "Arguments: graft.queries.Scans$$$Lambda$5961/0x00007fa4656783d0@6e3f108c, obj#6"
    val n = PlanDump.normalize(a)
    assert(n == PlanDump.normalize(b))
    assert(n == "Project [x#1, y#2] [plan_id=1]\n" +
      "Scan ExistingRDD MapPartitionsRDD[1] at localCheckpoint at SimOps.scala:_ [x#1]\n" +
      "Functions [1]: [agg(x#1, graft.functions.MinHashAgg@_)]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_feb_sink_<tag>]\n" +
      "Arguments: graft.queries.Scans$$$Lambda@_, obj#3")
    // Distinct ids stay distinct.
    assert(PlanDump.normalize("a#1 b#2") != PlanDump.normalize("a#1 b#1"))
  }

  test("normalize takes linear time on a long literal") {
    // dedup_incremental_bloom's plan holds its bloom filter as one ~200k-char
    // hex literal; a call-site pattern that may start inside a word
    // backtracks over the rest of it from every position.
    val plan = "might_contain(X'" + "0A" * 100000 + "') at DedupOps.scala:88"
    val t0 = System.nanoTime()
    val n = PlanDump.normalize(plan)
    val s = (System.nanoTime() - t0) / 1e9
    assert(n.endsWith("') at DedupOps.scala:_"))
    assert(s < 5.0, f"normalize took $s%.1f s on a ${plan.length}-char plan")
  }

  test("two dumps of sim_ann_graph_greedy on one session are equal") {
    val first = PlanDump.dump(spark, sf, "sim_ann_graph_greedy")
    val second = PlanDump.dump(spark, sf, "sim_ann_graph_greedy")
    assert(!first.startsWith("FAILED"), first.take(200))
    assert(first.contains("plan_id=1"), first.take(400))
    assert(first == second,
      first.linesIterator.zip(second.linesIterator).find(p => p._1 != p._2))
  }

  test("a dump ends with the uncached scan line; planning it keeps the cache and the conf") {
    val lineitem = Tables(spark, sf, "lineitem")
    val confs = spark.conf.getAll
    val d = PlanDump.dump(spark, sf, "scan_projected_pruned")
    assert(d.contains("InMemoryTableScan"), d)
    val scans = d.linesIterator.filter(_.startsWith("FileScan")).toList
    assert(scans.size == 1, d)
    assert(scans.head.contains("PushedFilters: [IsNotNull(l_linenumber), EqualTo(l_linenumber,1)]"), d)
    assert(scans.head.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"), d)
    assert(lineitem.storageLevel.useMemory, "scanPlan uncached lineitem")
    assert(spark.conf.getAll == confs)
  }
}
