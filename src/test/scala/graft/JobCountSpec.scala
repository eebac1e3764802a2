package graft

/** Warm job counts of the `iterative_driver` benchmark rows, pinned with
  * no wall time involved: a job count does not drift with machine speed,
  * so a plan change that adds or removes jobs shows here even when noise
  * hides it in the timings.
  *
  * Each row runs once to build its staged state (indexes, learned
  * quantizers, the graph's degree table and node count), then a second
  * build plus `noop` write runs under a [[JobTally]] tag. The table was
  * measured at sf0.001 on the shared `local[4]` session.
  */
class JobCountSpec extends SparkSpec {

  private val warmJobs = Seq(
    "graph_pagerank_unrolled" -> 6,
    "sim_ann_ivf_topk" -> 4,
    "stream_foreachbatch_sink" -> 4,
    "dedup_minhash_udaf" -> 3)

  private def write(id: String): Unit =
    Registry.byId(id).run(spark, sf).write.format("noop").mode("overwrite").save()

  for ((id, want) <- warmJobs) test(s"$id runs $want jobs warm") {
    write(id)
    val tally = new JobTally(spark.sparkContext)
    try {
      tally.tagged(id)(write(id))
      assert(tally(id) == want, s"$id ran ${tally(id)} warm jobs, pinned $want")
    } finally tally.close()
  }
}
