package graft

/** Invariants of the §2.M graph/behavioral family beyond the DuckDB hash
  * gate: algebraic properties that must hold on ANY input, so a data refresh
  * can't silently turn a correct-looking hash match into nonsense.
  */
class GraphOpsSpec extends SparkSpec {

  test("graph_pagerank_unrolled: ranks are a probability-mass slice") {
    val rows = Registry.byId("graph_pagerank_unrolled").run(spark, sf).collect()
    assert(rows.length == 20)
    val ranks = rows.map(_.getAs[Double]("rank"))
    // Each rank is a positive sub-1 mass share and the list arrives in the
    // canonical (rank DESC, node) order.
    assert(ranks.forall(r => r > 0.0 && r < 1.0))
    assert(ranks.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("graph_bfs_frontier: hops are disjoint and hop 0 is the seed set") {
    val rows = Registry.byId("graph_bfs_frontier").run(spark, sf).collect()
      .map(r => (r.getAs[Int]("hop"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("min_node"), r.getAs[Long]("max_node")))
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2))
    val seeds = Tables(spark, sf, "supplier")
      .filter(org.apache.spark.sql.functions.col("s_suppkey") <= 2)
      .count()
    assert(rows(0)._2 == seeds)
    // Bipartite structure: hop 1 of supplier seeds is all customers (even
    // ids), hop 2 is suppliers again (odd ids).
    assert(rows(1)._3 % 2 == 0 && rows(1)._4 % 2 == 0)
    assert(rows(2)._3 % 2 == 1 && rows(2)._4 % 2 == 1)
  }

  test("graph_knn_triangles: participation is non-negative and ordered") {
    val rows = Registry.byId("graph_knn_triangles").run(spark, sf).collect()
      .map(_.getAs[Long]("n_tri"))
    assert(rows.length == 25)
    assert(rows.forall(_ >= 0))
    assert(rows.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    // The sf0.001 kNN graph does contain triangles; the statistic is live.
    assert(rows.head > 0)
  }

  test("funnel_stage_conversion: stages are monotone and the rate consistent") {
    val r = Registry.byId("funnel_stage_conversion").run(spark, sf).head()
    val (nv, nc, np) = (r.getAs[Long]("n_view"), r.getAs[Long]("n_click"),
      r.getAs[Long]("n_purchase"))
    assert(nv >= nc && nc >= np && np >= 0)
    val rate = r.getAs[Double]("conv_rate")
    assert(math.abs(rate - math.round(np.toDouble / nv * 1e6) / 1e6) < 1e-12)
  }

  test("ml_linreg_normal_eq: closed form reproduces the y-on-x1 projection") {
    // With betas from the query, the residual moment conditions hold:
    // recompute sums independently and check X'(y - Xb) ≈ 0 per column.
    import org.apache.spark.sql.functions._
    val r = Registry.byId("ml_linreg_normal_eq").run(spark, sf).head()
    val (b0, b1, b2) =
      (r.getAs[Double]("b0"), r.getAs[Double]("b1"), r.getAs[Double]("b2"))
    val res = Tables(spark, sf, "lineitem")
      .select(
        (col("l_extendedprice") - lit(b0) - lit(b1) * col("l_quantity")
          - lit(b2) * col("l_discount")).as("e"),
        col("l_quantity").as("x1"), col("l_discount").as("x2"))
      .agg(avg("e").as("m0"), avg(col("e") * col("x1")).as("m1"),
        avg(col("e") * col("x2")).as("m2"))
      .head()
    val scale = Tables(spark, sf, "lineitem")
      .agg(avg(abs(col("l_extendedprice")))).head().getDouble(0)
    // Rounded-to-6dp betas leave only a tiny residual drift.
    Seq(res.getAs[Double]("m0"), res.getAs[Double]("m1") / 50.0,
      res.getAs[Double]("m2")).foreach(m => assert(math.abs(m) < scale * 1e-3))
  }

  test("graph_bipartite_copurchase: packed pair key round-trips past 2^31") {
    import org.apache.spark.sql.functions._
    import queries.GraphOps.{packPair, pairHi, pairLo}
    val ks = Seq((1L << 31) - 1, 1L << 31, (1L << 31) + 1)
    val pairs = for (a <- ks; b <- ks :+ ((1L << 32) - 1) if a < b) yield (a, b)
    import spark.implicits._
    val back = pairs.toDF("pa", "pb")
      .select(packPair(col("pa"), col("pb")).as("pk"))
      .select(pairHi(col("pk")), pairLo(col("pk")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(back == pairs)
    // From 2^32 on the low half overflows into the high half: no pair back.
    val over = intercept[Exception](Seq((1L, 1L << 32)).toDF("pa", "pb")
      .select(packPair(col("pa"), col("pb"))).collect())
    assert(over.getMessage.contains("2^32"), over.getMessage)
  }
}
