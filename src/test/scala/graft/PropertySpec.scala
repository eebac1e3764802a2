package graft

import org.apache.spark.sql.functions._

/** Algebraic invariants (SURVEY.md §5.2.4) over the deterministic testdata. */
class PropertySpec extends SparkSpec {

  test("filter-then-union counts == union-then-filter") {
    val ev = Tables(spark, sf, "events")
    val p = col("value") > 50
    val a = ev.filter(p).unionAll(ev.filter(p)).count()
    val b = ev.unionAll(ev).filter(p).count()
    assert(a == b)
  }

  test("except + intersect partition the distinct key space") {
    val cust = Tables(spark, sf, "customer").select("c_custkey")
    val withOrders = Tables(spark, sf, "orders")
      .select(col("o_custkey").as("c_custkey")).distinct()
    val ex = cust.except(withOrders).count()
    val in = cust.intersect(withOrders).count()
    assert(ex + in == cust.distinct().count())
  }

  test("running sum's last row per customer equals the group total") {
    // o_totalprice > 0, so the max of the running sum is its final value.
    val rs = Registry.byId("window_running_sum").run(spark, sf)
      .groupBy("o_custkey").agg(max(col("running")).as("run_last"))
    val tot = Tables(spark, sf, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice")).as("tot"))
    val bad = rs.join(tot, "o_custkey")
      .filter(abs(col("run_last") - col("tot")) > 1e-4)
    assert(bad.count() == 0)
  }

  test("z-score output has mean ~0 and stddev ~1 per group") {
    val stats = Registry.byId("ml_zscore_standardize").run(spark, sf)
      .groupBy("seg")
      .agg(avg(col("z")).as("m"), stddev_samp(col("z")).as("s"))
      .filter(abs(col("m")) > 1e-3 || abs(col("s") - 1) > 1e-3)
    assert(stats.count() == 0)
  }

  test("dedup is idempotent") {
    val ev = Tables(spark, sf, "events")
    val once = ev.unionAll(ev).dropDuplicates("event_id")
    assert(once.count() == once.dropDuplicates("event_id").count())
    assert(once.count() == ev.count())
  }

  test("moving average of a constant series is that constant") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i, 5.0)).toDF("i", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy("i").rowsBetween(-1, 1)
    val bad = df.select(avg("v").over(w).as("ma")).filter(col("ma") =!= 5.0)
    assert(bad.count() == 0)
  }

  test("conv-transpose scatter conserves mass: sum(output) == count(events)") {
    // Each input cell scatters its full kernel mass (256/256 = 1) across
    // the output grid with no boundary clipping, so the weighted output
    // total must equal the input total exactly (up to the 6dp rounding of
    // each emitted cell).
    val out = Registry.byId("ml_conv_transpose_scatter").run(spark, sf)
    val total = out.agg(sum(col("convt"))).head().getDouble(0)
    val n = Tables(spark, sf, "events").count().toDouble
    assert(math.abs(total - n) < 1e-2, s"mass $total != $n")
  }

  test("5x5 multiband conv is invariant to shuffle partitioning") {
    def runSorted(n: String) =
      queries.Confs.scoped(spark, "spark.sql.shuffle.partitions" -> n)(
        Registry.byId("ml_conv2d_5x5_multiband").run(spark, sf)
          .collect().map(_.toString).toSeq)
    val a = runSorted("7")
    val b = runSorted("13")
    assert(a == b)
  }

  test("one-hot is exact: bit=1 iff idx==cls, exactly one per event") {
    val oh = Registry.byId("ml_onehot_encode").run(spark, sf)
    assert(oh.filter(
      (col("bit") === 1 && col("idx") =!= col("cls")) ||
        (col("bit") === 0 && col("idx") === col("cls"))).count() == 0)
    val rowSums = oh.groupBy("event_id").agg(sum("bit").as("s"))
    assert(rowSums.filter(col("s") =!= 1).count() == 0)
  }

  test("decontamination is well-formed: 0 <= n_contam <= n_train, rate consistent") {
    val out = Registry.byId("decontaminate_ngram_overlap").run(spark, sf)
    val bad = out.filter(
      col("n_contam") < 0 || col("n_contam") > col("n_train") ||
        abs(col("contam_rate") -
          col("n_contam").cast("double") / col("n_train")) > 1e-12)
    assert(bad.count() == 0)
    // Totals must cover the training side exactly: sum(n_train) == #docs
    // with doc_id % 10 != 0.
    val total = out.agg(sum("n_train")).head().getLong(0)
    val expect = Tables(spark, sf, "documents")
      .filter(col("doc_id") % 10 =!= 0).count()
    assert(total == expect)
  }

  test("per-source cap keeps exactly min(cap, n) docs per source") {
    val out = Registry.byId("corpus_cap_per_source").run(spark, sf)
    val per = out.groupBy("source").agg(
      sum(when(col("kept"), 1).otherwise(0)).as("kept_n"),
      count(lit(1)).as("n"))
    assert(per.filter(col("kept_n") =!= least(lit(15), col("n"))).count() == 0)
    // Ranks are a permutation of 1..n within each source.
    val badRank = out.groupBy("source").agg(
      count(lit(1)).as("n"), max("smp_rank").as("mx"),
      countDistinct("smp_rank").as("dr"))
      .filter(col("mx") =!= col("n") || col("dr") =!= col("n"))
    assert(badRank.count() == 0)
  }

  test("composed FCN forward pass is non-vacuous and well-formed") {
    val out = Registry.byId("ml_cnn_forward_compose").run(spark, sf).cache()
    // Heads well-formed on every row: class in 0..8, LST clamped >= 0,
    // max_logit actually the envelope max of the 9 dense lines at h2.
    assert(out.filter(
      col("pred_class") < 0 || col("pred_class") > 8 || col("lst") < 0).count() == 0)
    // The relu layers must DO something: the zero-DC transpose kernel
    // clips about half the cells to h2 = 0, the rest stay positive. If
    // either side is empty the signed-kernel construction regressed and
    // the composition is testing the identity function.
    assert(out.filter(col("h2") === 0).count() > 0)
    assert(out.filter(col("h2") > 0).count() > 0)
    // The dense envelope must produce a genuine multi-class prediction.
    assert(out.select("pred_class").distinct().count() >= 3)
    out.unpersist()
  }

  test("minhash LSH output is well-formed: ordered pairs, est in [0,1]") {
    val lsh = Registry.byId("dedup_minhash_lsh").run(spark, sf)
    val bad = lsh.filter(
      col("da") >= col("db") ||
        col("est_jaccard") < 0 || col("est_jaccard") > 1)
    assert(bad.count() == 0)
    // Sharing a band == agreeing on 4 of 16 minima => est >= 4/16.
    assert(lsh.filter(col("est_jaccard") < 0.25).count() == 0)
  }

  test("semantic dedup: removals are justified and the per-cluster minimum survives") {
    // SemDeDup's one-shot pairwise rule CAN remove chained duplicates
    // (a-b-c: b falls to a, c falls to b), so "every removed vector has a
    // KEPT witness" is not an invariant. What IS guaranteed: (1) a removed
    // vector had a same-cluster neighbor at cos >= tau (any status) — no
    // removal without a real near-dup; (2) removal always points to a
    // strictly lower (centsim, vec_id) partner, so each cluster's minimal
    // pair-participant can never be removed — at least one member of
    // every dup neighborhood survives. Recheck both against raw
    // embeddings, independent of the query's own pair join.
    import graft.queries.SimOps.{dot, norm}
    val out = Registry.byId("dedup_semantic_embcluster").run(spark, sf).cache()
    assert(out.filter(col("removed")).count() > 0, "tau gate never fired")
    val e = Tables(spark, sf, "embeddings")
    val m = out.join(e, "vec_id")
      .select(col("vec_id"), col("cid"), col("centsim"), col("removed"),
        col("embedding"))
    val x = m.select(col("cid"), col("vec_id").as("va"), col("embedding").as("ea"))
    val y = m.select(col("cid"), col("vec_id").as("vb"), col("embedding").as("eb"))
    val pairs = x.join(y, "cid")
      .filter(col("va") < col("vb"))
      .filter(dot(col("ea"), col("eb")) / (norm(col("ea")) * norm(col("eb")))
        >= graft.queries.SimOps.SemTau)
      .select("cid", "va", "vb")
      .cache()
    val participants = pairs.select(col("va").as("vec_id"))
      .unionAll(pairs.select(col("vb").as("vec_id"))).distinct()
    // (1) removed ⊆ pair participants.
    val unjustified = out.filter(col("removed"))
      .join(participants, Seq("vec_id"), "left_anti")
    assert(unjustified.count() == 0, "removed vector with no near-dup neighbor")
    // (2) every cluster with a dup pair keeps at least one participant.
    // (The minimal UNROUNDED (centsim, vec_id) participant provably
    // survives; the output only carries 6-dp-rounded centsim, whose
    // ordering can disagree with the rule's on a knife-edge tie, so the
    // test asserts the rounding-proof consequence instead of re-ranking.)
    val keptPerCluster = m.join(participants, "vec_id")
      .groupBy("cid")
      .agg(sum(when(!col("removed"), 1).otherwise(0)).as("n_kept"))
    assert(keptPerCluster.filter(col("n_kept") === 0).count() == 0,
      "a cluster's dup neighborhood was removed wholesale")
  }

  test("perplexity filter: ce is bounded by the model's extreme log-probs") {
    // ce is an average of per-token surprisals, each in
    // [-ln p_max, -ln p_oov]; an escape means the LM join dropped or
    // duplicated tokens. Both gate outcomes must occur (the threshold is
    // calibrated to the corpus median).
    val out = Registry.byId("corpus_perplexity_filter").run(spark, sf).cache()
    assert(out.filter(col("kept")).count() > 0)
    assert(out.filter(!col("kept")).count() > 0)
    // Loosest possible bounds without retraining the LM here: surprisal is
    // positive and the OOV floor of a 1-token reference corpus is absurdly
    // high, so use a generous ceiling instead: ln of (N+V+1) at sf0.1
    // scale is < 20.
    assert(out.filter(col("ce") <= 0 || col("ce") > 20).count() == 0)
  }
}
