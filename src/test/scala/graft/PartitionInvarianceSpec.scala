package graft

/** VERDICT r15 item 4 — the exactness story made checkable registry-wide:
  * "decimal sums are merge-order-free, a 1000-executor merge produces
  * local[1] bits". One representative per exactness dialect re-runs under
  * `spark.sql.shuffle.partitions ∈ {1, 7, 32}` (1 = no merge at all, 7 =
  * odd skewed fan-in, 32 = the production setting) and the results must be
  * bit-identical: every double travels through Row.toString's
  * shortest-repr round-trip, so ANY ulp drift between partition counts
  * fails the compare.
  *
  * The streaming representative sweeps `graft.stream.partitions` instead —
  * the streaming rows pin their own state-store partition count
  * internally, and that knob is the one that actually varies state-store
  * parallelism (and with it, watermark-gated emission merge order).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private def canon(id: String): Seq[String] =
    Registry.byId(id).run(spark, sf).collect().map(_.toString).sorted.toSeq

  private def sweep(
      id: String, key: String = "spark.sql.shuffle.partitions"): Unit = {
    val results = Seq("1", "7", "32").map { n =>
      (n, queries.Confs.scoped(spark, key -> n)(canon(id)))
    }
    val (n0, r0) = results.head
    assert(r0.nonEmpty, s"$id returned no rows")
    results.tail.foreach { case (n, r) =>
      assert(r == r0,
        s"$id differs between partitions=$n0 and partitions=$n: " +
          s"${r0.diff(r).take(3)} vs ${r.diff(r0).take(3)}")
    }
    info(s"$id: ${r0.size} rows bit-identical at partitions 1/7/32")
  }

  test("decimal-sum dialect (agg_global_mean_std) is partition-invariant") {
    sweep("agg_global_mean_std")
  }

  test("cents long fast path (agg_groupby_hash) is partition-invariant") {
    sweep("agg_groupby_hash")
  }

  test("window order-statistic (window_rolling_median) is partition-invariant") {
    sweep("window_rolling_median")
  }

  test("ObjectHashAggregate graft_dsum (agg_bootstrap_ci) is partition-invariant") {
    sweep("agg_bootstrap_ci")
  }

  test("streaming emitted set (stream_stream_left_outer) is invariant to state-store parallelism") {
    sweep("stream_stream_left_outer", key = "graft.stream.partitions")
  }

  // VERDICT r17 item 8 — the round-17 dialects join the sweep: the
  // cross-doc exact-substring dedup's gaps-and-islands window over
  // (pair, diagonal) runs, and the beam walk's per-query top-k frontier
  // (broadcast hops over the staged edges + ONE repartition(q) exchange,
  // whose partition count is exactly what this sweep varies).
  test("exact-substring diagonal islands (dedup_exact_substring_runs) is partition-invariant") {
    sweep("dedup_exact_substring_runs")
  }

  test("beam-walk frontier (sim_ann_graph_greedy) is partition-invariant") {
    sweep("sim_ann_graph_greedy")
  }

  test("two-phase global dense rank (dedup_suffix_array_rank) is partition-invariant") {
    // The distributed rank adds per-partition offsets from RangePartitioner
    // boundaries — the sweep moves those boundaries (1 partition = no
    // offsets at all) and the final ranks must not notice.
    sweep("dedup_suffix_array_rank")
  }

  test("margin knot table (ml_dpo_pair_loss) is partition-invariant") {
    sweep("ml_dpo_pair_loss")
  }

  // Projection-side IVF list assignment: array_sort over (dist, cid)
  // structs replaces the per-vector row_number window, and the candidate
  // pairs are no longer deduplicated by a shuffle.
  test("projection-side IVF lists (sim_ann_ivf_topk) is partition-invariant") {
    sweep("sim_ann_ivf_topk")
  }

  // The staged node count: later sweeps read it from the memo, so every
  // partition count must still see the ranks the first one computed.
  test("staged node count (graph_pagerank_unrolled) is partition-invariant") {
    sweep("graph_pagerank_unrolled")
  }
}
