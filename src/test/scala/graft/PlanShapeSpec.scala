package graft

/** Plan-shape guards (SURVEY.md §5.2.6): the optimizations §4.2 relies on
  * must actually appear in the physical plan — a regression here is a silent
  * 100x at scale even while results stay correct.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(id: String): String =
    Registry.byId(id).run(spark, sf).queryExecution.executedPlan.toString

  /** Metadata of the one file scan of row `id`, planned past the table
    * cache: `executedPlan` shows the cache's own scan, which pushes nothing.
    */
  private def scan(id: String): Map[String, String] = {
    val scans = PlanDump.scanPlan(Registry.byId(id).run(spark, sf)).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata
    }
    assert(scans.size == 1, scans)
    scans.head
  }

  test("scan_projected_pruned pushes the filter and prunes columns") {
    val s = scan("scan_projected_pruned")
    assert(s("PushedFilters").contains("l_linenumber"), s)
    // ReadSchema holds the projected and filtered columns only.
    assert(!s("ReadSchema").contains("l_extendedprice"), s)
  }

  test("join_broadcast_dim uses a broadcast hash join") {
    val p = plan("join_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("flagship star join broadcasts every dimension hop") {
    val p = plan("join_star_multiway")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sort_multi_key + limit compiles to TakeOrderedAndProject") {
    val p = plan("sort_multi_key")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("filter_range_validity reaches the parquet scan as a pushed filter") {
    val s = scan("filter_range_validity")
    assert(s("PushedFilters").contains("l_quantity"), s)
  }

  test("ANN LSH candidate generation is an equi shuffle join, not a product") {
    val p = plan("sim_ann_lsh_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("simhash pairing is band-bucketed equi join, not an all-pairs product") {
    val p = plan("dedup_simhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("palette render joins the 9-row palette dim by broadcast") {
    val p = plan("ml_palette_render")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("cleaning pipeline broadcasts the kernel-offset table") {
    val p = plan("clean_impute_neighborhood_clip")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("5x5 multiband conv broadcasts offsets; neighbor lookup is a hash join") {
    val p = plan("ml_conv2d_5x5_multiband")
    // The 25-row offset table rides a broadcast (nested-loop for the cross
    // join is fine — it is bounded by construction); the neighbor lookup on
    // (u+dy, d+dx) must be an equi hash join, never a cartesian product.
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("conv-transpose scatter has NO self-join — one aggregate over the explode") {
    val p = plan("ml_conv_transpose_scatter")
    // Scatter needs no neighbor lookup: the only join in the plan is the
    // bounded broadcast of the 25-row offset table.
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("one-hot encode is a pure map pipeline — zero joins, zero aggregates") {
    val p = plan("ml_onehot_encode")
    assert(!p.contains("Join") && !p.contains("HashAggregate"), p)
    assert(p.contains("Generate"), p) // the posexplode
  }

  test("decontamination matches eval grams via broadcast hash join, no product") {
    val p = plan("decontaminate_ngram_overlap")
    assert(p.contains("BroadcastHashJoin"), p)
    // The contamination probe must be the SEMI join form — an inner join
    // would duplicate a training doc once per matched gram and shuffle the
    // multiplicity downstream.
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("composed FCN forward pass: kernels broadcast, exactly one gather join") {
    val p = plan("ml_cnn_forward_compose")
    assert(!p.contains("CartesianProduct"), p)
    // Two bounded 25-row kernel broadcasts (conv gather + transpose
    // scatter) and ONE equi join (the conv neighbor lookup). The scatter
    // layer and both heads must add no further joins — that is what makes
    // the composition scale like its standalone layers.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val equi = ("SortMergeJoin".r.findAllIn(p).size
      + "ShuffledHashJoin".r.findAllIn(p).size
      + "BroadcastHashJoin".r.findAllIn(p).size)
    assert(bnlj == 2, s"expected 2 kernel broadcasts, got $bnlj\n$p")
    assert(equi == 1, s"expected 1 gather equi-join, got $equi\n$p")
  }

  /** The executed plan of one of `Joins`' scoped builders, run to the end
    * under its row's confs, as the row runs it.
    */
  private def scopedPlan(
      confs: Seq[(String, String)],
      build: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame
  ): String = queries.Confs.scoped(spark, confs: _*) {
    val df = build(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("AQE splits the hot partition in the skew join") {
    // AQE's final plan (the string's part before the initial plan); the
    // skew split marks the join and/or shuffle read.
    val p = scopedPlan(queries.Joins.SkewConfs, queries.Joins.skewJoin)
      .split("== Initial Plan ==").head
    assert(p.contains("skew=true") || p.contains("isSkewJoin=true") ||
      p.contains("skewed"), p)
  }

  test("runtime bloom filter prunes the fact side of the selective join") {
    // The injected filter shows as might_contain / bloom_filter_agg on the
    // fact (application) side.
    val p = scopedPlan(queries.Joins.BloomConfs, queries.Joins.bloomJoin)
    assert(p.contains("might_contain") || p.contains("bloom_filter"), p)
  }

  test("bucketized range join avoids nested-loop/cartesian plans") {
    val p = plan("join_range_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed co-located join has no exchange above the sort-merge join") {
    val df = Registry.byId("join_bucketed_colocated").run(spark, sf)
    df.collect()
    // Keep only AQE's final plan (toString appends the initial plan too).
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("Bucketed: true"), p)
    // The join inputs are bucketed on the key: no shuffle below the join.
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange hashpartitioning"), p)
  }

  test("scan_merge_schema merges generation 1's footer first on every run") {
    val orders = (1 to 5).map { _ =>
      PlanDump.scanPlan(Registry.byId("scan_merge_schema").run(spark, sf)).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.relation.dataSchema.fieldNames.toList
      }
    }
    assert(orders.forall(_ == List(List("doc_id", "lang", "n_chars", "source"))), orders)
  }

  test("partitioned sink read prunes partitions") {
    val df = Registry.byId("sink_partitioned_pruning").run(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("o_year"), p)
  }

  test("composed IVF+PQ: list-pruned candidates, no product, probes broadcast") {
    val p = plan("sim_ann_ivfpq_topk")
    // The shortlist join keys on the list id (cid) with the tiny probed-query
    // side broadcast — a product here would mean the list prune degenerated
    // to flat PQ's full code scan.
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("semantic dedup pairs stay inside clusters — equi join on cid, no product") {
    val p = plan("dedup_semantic_embcluster")
    // The 8-row centroid broadcast cross join is deliberate; the PAIR join
    // must be a cid equi-join (hash/merge), never a global product.
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      """BroadcastHashJoin \[cid""".r.findFirstIn(p).isDefined, p)
  }

  test("perplexity filter joins the LM by broadcast — token stream never shuffles for the join") {
    val p = plan("corpus_perplexity_filter")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("repeated-spans recovery joins hot hashes by broadcast, no product") {
    val p = plan("dedup_repeated_spans")
    assert(!p.contains("CartesianProduct"), p)
    // Both the rep-doc semi-join and the hot-hash recovery join must
    // broadcast the bounded side — a shuffle here would move gram strings.
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("incremental bloom dedup probes map-side and confirms without a product") {
    val p = plan("dedup_incremental_bloom")
    // The prefilter must sit in a Filter (map-side probe of the broadcast
    // sketch literal), not behind a join; the exact confirm stays equi.
    assert(p.contains("might_contain"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("token-budget mix broadcasts the rate table back — no sort-merge apply") {
    val p = plan("corpus_token_budget_mix")
    // Pass 2 joins each doc row to its source's derived rate: the
    // |sources|-row table must broadcast; an SMJ here would shuffle the
    // full corpus a second time.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pagerank iterations broadcast deg/ranks — no product, no SMJ") {
    // Each unrolled iteration must be map-side enrich (broadcast deg +
    // rank) feeding ONE shuffle (the dst aggregation); an SMJ or product
    // here re-shuffles the full edge list per iteration.
    val p = plan("graph_pagerank_unrolled")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("BFS frontier expansion and visited exclusion are broadcast joins") {
    val p = plan("graph_bfs_frontier")
    // Frontier equi-join + left-anti visited joins all broadcast; the edge
    // table itself never shuffles for the traversal.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("triangle enumeration stays equi-joined after the kNN product") {
    // The 200x200 kNN block is an intentional broadcast product (the exact
    // cosine baseline dialect); the triangle joins on the sparse edge set
    // must be hash equi-joins, never nested-loop.
    val p = plan("graph_knn_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("maxsim broadcasts the query bags and partial-limits the top-k") {
    val p = plan("sim_maxsim_multivector")
    // The bounded query side rides a broadcast (nested-loop for the scoring
    // product is intentional — exact-baseline dialect, ANN shortlist is the
    // scale path); the per-query top-5 must push a partial WindowGroupLimit
    // below the rank shuffle so only candidate rows move.
    assert(p.contains("Broadcast"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pca gram pass is one equi join with map-side decimal partials") {
    // The single data-proportional stage of ml_pca_power_iteration: cells
    // self-join on vec_id (hash equi, never a product) and the (i, j) sums
    // partial-aggregate before their exchange. The power steps themselves
    // are driver arithmetic over the collected 64x64 statistic, so the
    // registry query's returned DF is a local result — the shape guard
    // pins the shared stats-pass plan instead.
    val p = graft.queries.MLOps.pcaGram(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // Map-side partials, whichever exact-sum dialect implements them (the
    // declarative decimal sum or the typed DecSum aggregate).
    assert(p.contains("partial_sum") || p.contains("partial_graft_dsum"), p)
  }

  test("full outer cohort join pre-aggregates both sides below the SMJ") {
    val df = Registry.byId("join_full_outer").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), p)
    // The shuffled sides must be the per-customer aggregates, not raw
    // orders: partial aggregation below each exchange.
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("null-safe equality plans as a hash join on coalesce/isnull keys") {
    val df = Registry.byId("join_null_safe_eq").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // <=> must become a join KEY (Coalesce+IsNull tuple), never a
    // nested-loop filter.
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("coalesce(dim"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bitmap distinct ORs masks map-side before the shuffle") {
    val df = Registry.byId("agg_bitmap_distinct").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // Level 1: partial bit_or per (event_type, block) before its exchange;
    // level 2: popcount sum.
    assert(p.contains("partial_bit_or"), p)
    assert(p.contains("bit_count"), p)
  }

  test("Misra-Gries confirm pass semi-joins candidates by broadcast") {
    val df = Registry.byId("agg_freq_items_misra_gries").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // The token stream is filtered map-side against the broadcast candidate
    // set — it must never shuffle on token before that filter.
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("skew/kurtosis is ONE grouped pass of four decimal power sums") {
    val df = Registry.byId("agg_skew_kurtosis").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("partial_sum".r.findAllIn(p).size +
      "partial_graft_dsum".r.findAllIn(p).size >= 4, p)
    assert(!p.contains("Join"), p)
  }

  test("graft_normalize runs inside whole-stage codegen, map-only") {
    val df = Registry.byId("text_unicode_normalize").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_normalize"), p)
    assert("""\*\(\d+\) Project \[doc_id""".r.findFirstIn(p).isDefined,
      s"normalize project left codegen: $p")
    assert(!p.contains("Exchange hashpartitioning"), p) // zero data shuffles
  }

  test("int8 quantization shuffles cells once — window amax, no join-back") {
    val df = Registry.byId("ml_quantize_int8").run(spark, sf)
    df.collect()
    // AQE renders Final + Initial plans; count exchanges in the final only.
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"agg+join-back crept back in: $p")
    // One vec_id hash exchange feeds window AND final rollup.
    assert("Exchange hashpartitioning\\(vec_id".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window"), p)
  }

  test("flagship whole-stage codegen covers the aggregation") {
    // AQE only shows the final (codegen'd) plan after execution.
    val df = Registry.byId("join_star_multiway").run(spark, sf)
    df.collect()
    // Codegen stages render as "*(n)" in the plan string; the aggregate
    // itself must sit inside one.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") && p.contains("HashAggregate"), p)
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(p).isDefined, p)
  }

  test("BM25 top-k is a TakeOrderedAndProject, stats broadcast, no product") {
    val p = plan("sim_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("z-score anomaly window shuffles user_id exactly once") {
    val p = plan("window_anomaly_zscore")
    // One hash exchange feeds the single Window computing all three frame
    // aggregates; the only other exchange is the presentation repartition(1).
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert("(?m)^\\s*\\S*\\s*Window ".r.findAllIn(p).size == 1, p)
  }

  test("sliding-context chunking is shuffle-free up to the oracle sort") {
    val p = plan("seq_sliding_context")
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("Window"), p)
  }

  test("SCD2 read-back pushes the slice filter into the parquet scan") {
    val p = plan("sink_scd2_history")
    assert(p.contains("PushedFilters: [") && p.contains("c_custkey"), p)
  }

  test("link prediction wedges by equi join; edge exclusion is a broadcast anti") {
    val p = plan("graph_jaccard_linkpred")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // The only nested-loop product allowed is the deliberate bounded kNN
    // block (broadcast q × candidates); the wedge/degree joins must not
    // degenerate into one.
    assert(!p.contains("CartesianProduct"), p)
  }

  test("NDCG ranking broadcasts queries and the O(k) discount table") {
    val p = plan("ml_ndcg_at_k")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("MAD joins the per-group median tables back by broadcast") {
    val p = plan("agg_mad_robust")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("haversine legs ride one user_id window shuffle, no join") {
    val p = plan("scalar_haversine_legs")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("GBT boost round broadcasts the best-split row into the residual map") {
    val p = plan("ml_gbt_boost_round")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("drawdown window and its rollup share one user_id exchange") {
    val p = plan("window_drawdown_max")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("edit-distance candidates pair by lang equi join, not a product") {
    val p = plan("dedup_edit_distance")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("k-fold CV scores rows via a broadcast coefficient join") {
    val p = plan("ml_kfold_cv")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("CUSUM plans the custom exec over one exchange+sort") {
    val p = plan("window_cusum_alert")
    assert(p.contains("Cusum"), p)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("bootstrap CI terminal plan: exploded replicas, codegen long fold, ci broadcast back") {
    // The 32 replicas explode into rows inside the scan stage (a codegen
    // loop feeding partial aggregation — transient rows, no extra I/O) and
    // fold through plain codegen long sums (the split-long lsumUnits
    // partials — round 17; the typed DecSum ObjectHashAggregate was the
    // pre-codegen form) into 32 groups; the two order statistics broadcast
    // back onto the one-row base aggregate. No row-explosion shuffle: the
    // only hash exchange moves 32·partitions partial rows.
    val p = plan("agg_bootstrap_ci")
    assert(p.contains("Generate explode"), p)
    assert(p.contains("HashAggregate") &&
      p.contains("sum(shiftright(wu") && !p.contains("ObjectHashAggregate"), p)
    assert("Exchange hashpartitioning\\(rep".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("chi-squared runs on the materialized contingency via broadcasts only") {
    // The corpus is touched once (checkpoint); margins/cells/dof are all
    // broadcast joins over the tiny |R|x|C| table — never a shuffle join.
    val p = plan("agg_chisq_independence")
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("KS cumsum windows the compressed distinct-value table, totals broadcast") {
    val p = plan("agg_ks_test")
    assert(p.contains("Window"), p)
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("rolling median rides one user_id window shuffle, no join") {
    val p = plan("window_rolling_median")
    assert(p.contains("Window"), p)
    assert(occurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("Mann-Whitney windows only the compressed distinct-value table") {
    val p = plan("agg_mannwhitney_u")
    // Like KS: the raw-events pass is the grouped compression (behind the
    // localCheckpoint); the analyzed plan holds one single-partition window
    // over the distinct-value table and the closed-form scalar fold.
    assert(p.contains("Window") && p.contains("SinglePartition"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("OHLC bars fold as one partial-aggregated exchange, no window") {
    val p = plan("agg_ohlc_resample")
    // Struct-keyed min_by/max_by plans as SortAggregate (the ordering
    // buffer isn't hash-aggregable) — what matters at scale is that the
    // partials run MAP-SIDE before the single bar-key exchange, so each
    // input split folds to one row per bar before any data moves.
    assert(p.contains("partial_min_by") && p.contains("partial_max_by"), p)
    assert(occurrences(p, "Exchange hashpartitioning") == 1, p)
    // No per-bar window sort of the raw stream, no join.
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("PMI reads the staged pair matrix; top-k fuses, never a product") {
    // Round 17: the co-occurrence pair-count matrix stages per
    // (session, dir) (Staged), so the terminal plan is the PMI transform +
    // TakeOrderedAndProject over the checkpointed pairs with the 1-row
    // n_docs broadcast — the doc_id equi join runs once at staging time.
    val p = plan("text_cooccur_pmi")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("kNN classify broadcasts the query slice; votes fold by hash agg") {
    val p = plan("ml_knn_classify")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("rolling corr: lag + frame windows share one user_id exchange") {
    val p = plan("window_rolling_corr")
    assert(p.contains("Window"), p)
    assert(occurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("Gini ranks only the customer-cardinality totals table") {
    val p = plan("agg_gini_coefficient")
    // Fact rows fold via a partial-aggregated hash shuffle; the rank
    // window and the closing fold run single-partition over totals only.
    assert(p.contains("partial_sum"), p)
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("Join"), p)
  }

  test("feature hashing: doc_id window partitioning also feeds the group-by") {
    val p = plan("ml_feature_hashing")
    assert(p.contains("Window"), p)
    // hashpartitioning(doc_id) satisfies the (doc_id, slot) clustering —
    // a second exchange here would be the join-back shape this op avoids.
    assert(occurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("Zipf fit folds the corpus to the vocabulary before the rank window") {
    val p = plan("text_zipf_fit")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("Join"), p)
  }

  test("Naive Bayes model tables broadcast; no sort-merge join anywhere") {
    val p = plan("ml_naive_bayes_lang")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("path trigrams: session windows share the user exchange; paths shuffle once") {
    val p = plan("funnel_path_trigrams")
    assert(p.contains("Window"), p)
    // user_id exchange (lag + cumsum + per-session rn + session fold all
    // cluster on user_id prefixes) + the final path count = exactly 2.
    assert(occurrences(p, "Exchange hashpartitioning") == 2, p)
  }

  test("bigram entropy: marginals broadcast back onto the bigram table") {
    val p = plan("text_bigram_cond_entropy")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("time-to-conversion is one forward window, no events self-join") {
    val p = plan("window_time_to_conversion")
    assert(p.contains("Window"), p)
    assert(occurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("bigram perplexity: LM tables broadcast, one fact shuffle, no SMJ") {
    val p = plan("corpus_perplexity_bigram_filter")
    // The model probes must all be broadcast hash joins (the LM is a
    // shipped artifact); the scored token stream shuffles once, on doc_id.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("hybrid RRF: broadcast query sides, posting-list equi join, no cartesian") {
    val p = plan("sim_hybrid_rrf_topk")
    // Semantic side = broadcast nested-loop of the 20 query vectors;
    // lexical side = broadcast hash join on the token posting list.
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("DPP join injects a dynamic pruning filter into the fact scan") {
    val p = plan("join_dpp_partition_prune")
    assert(p.toLowerCase.contains("dynamicpruning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ALS step broadcasts the filtered dim side (the 10x-probe slope-15 bug)") {
    val p = plan("ml_als_step")
    // Without the broadcast the full fact table shuffle-joins: BENCH_SCALE
    // run 8 measured slope 15.6 for exactly that plan. Pin the fix.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("co-purchase projection scans the fact table ONCE (no self-join)") {
    val p = plan("graph_bipartite_copurchase")
    assert(occurrences(p, "Scan parquet") == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("MoE routing is map-side: no join, no window, two exchanges total") {
    val p = plan("ml_moe_route_top2")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // one hashpartitioning exchange for the (e1,e2) rollup + the
    // presentation repartition(1): the 16 dots + argmax gating never
    // leave the scan's projection.
    assert(occurrences(p, "Exchange") == 2, p)
  }

  test("int4 pack is a pure projection pipeline: zero exchanges before the sink sort") {
    val p = plan("ml_int4_quantize_pack")
    assert(occurrences(p, "Exchange") == 1, p) // only the presentation repartition(1)
    assert(!p.contains("Generate"), p)         // no explode — array kernels only
  }

  test("greedy graph-walk hops are broadcast joins, never a product") {
    val p = plan("sim_ann_graph_greedy")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // --- r21 optimization pins: the lineage cuts must stay cut -----------

  test("repeated-spans PASS-1 gram scan runs once, outside the readout plan") {
    // The hot-span table is localCheckpoint-cut after PASS 1; if the cut
    // regresses, the full-corpus graft_gram_hashes explode re-enters the
    // readout plan (and executes once per broadcast build — 2x the
    // dominant cost, r21).
    val p = plan("dedup_repeated_spans")
    assert(!p.contains("graft_gram_hashes"), p)
  }

  test("minhash-LSH readout reads the checkpointed signature, not the token scan") {
    // sig is referenced six times (4 band legs + both confirm sides); the
    // r21 cut materializes it once. A regression re-inlines the token
    // explode (a Generate) into the readout plan.
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("Generate"), p)
  }

  test("label propagation rounds are lineage-cut: readout joins nothing") {
    // Each LPA round ends in a localCheckpoint; the readout (community
    // histogram + count) must see only ExistingRDD scans — a join in the
    // final plan means a round's subtree leaked back in (the 36-Exchange
    // pre-r21 shape re-executed round 1 inside round 2).
    val p = plan("graph_label_propagation")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    assert(p.contains("ExistingRDD"), p)
  }

  test("ntile split pays its range exchange once") {
    // offsets + grand total both fold from the checkpointed per-partition
    // counts table (r21); a regression re-runs the range repartition (and
    // its sampling pass) per consumer.
    val p = plan("window_ntile_split")
    assert(occurrences(p, "rangepartitioning") <= 1, p)
  }

  private def occurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)
}
