package graft

import org.apache.spark.sql.SparkSession

/** Graph-walk batch-amortization probe (VERDICT r18 item 4): the r17-item-6
  * trade made the staged walk index query-INDEPENDENT, so the |Q|-dependent
  * cosine tables (qd, m1) derive per invocation — priced as "once per query
  * batch". This makes that claim executable: time the identical two-layer
  * beam walk (`SimOps.hnswGreedy`, registry geometry 4+8 hops, beam 4) at
  * |Q| ∈ {5, 50, 500} in one warm session (staged edges built once up
  * front, exactly the serving shape) and report the MARGINAL cost per
  * query. The derivation jobs are fixed-ish (qd is |Q|·|V| but tiny at all
  * three sizes; the plan/scheduling floor dominates), so per-query cost
  * must fall ~|Q|-fold as the batch grows.
  *
  * Emits ONE JSON line:
  * `{"metric":"ann_batch_amortization","sf":...,"runs":[{"n_queries":n,
  * "total_sec":s,"per_query_sec":s,"rows":r},...]}`.
  */
object AnnBatchBench {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The walk runs SimOps internals directly, not through `Q.run`.
    functions.Native.register(spark)

    def walk(n: Int): Long =
      queries.SimOps.hnswGreedy(spark, dir,
        upperHops = 4, lowerHops = 8, beamWidth = 4, nQueries = n).count()

    // Warm-up: stages the (src,dst) edge index + JIT/codegen, so the timed
    // legs measure the per-batch serving cost the Scaladoc claims.
    walk(5)

    val runs = Seq(5, 50, 500).map { n =>
      var rows = 0L
      val t = Seq.fill(2)(time { rows = walk(n) }).min
      (n, t, rows)
    }
    val runsJson = runs.map { case (n, t, rows) =>
      f"""{"n_queries":$n,"total_sec":$t%.3f,"per_query_sec":${t / n}%.4f,"rows":$rows}"""
    }.mkString("[", ",", "]")
    val amort = runs.last._2 / runs.last._1 / (runs.head._2 / runs.head._1)
    println(
      f"""{"metric":"ann_batch_amortization","sf":"$dir","runs":$runsJson,""" +
        f""""per_query_ratio_500_vs_5":$amort%.4f}""")
    spark.stop()
  }
}
