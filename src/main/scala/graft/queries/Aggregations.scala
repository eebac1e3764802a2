package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.Fns._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** SURVEY.md §2.D — aggregations.
  *
  * Reference analogs: global standardize stats (`trainer/flax_model.py:243`),
  * per-epoch loss means (`:256-259`), the 9-class inventory (`:23`), two-level
  * metric granularity (`:366-375` — rollup), one-hot (`:184` — pivot), argmax
  * (`:195`), accuracy (`:195`), MSE (`:210`), softmax cross-entropy
  * (`:188-190`).
  *
  * Every double aggregate goes through exact DECIMAL partial sums (Fns) so
  * partial+final hash aggregation is order-independent — the same plan merges
  * identically on 4 local threads or 1000 executors.
  */
object Aggregations extends QueryPack {

  def queries: Seq[Q] = Seq(
    Q(
      "agg_global_mean_std",
      Some("""SELECT
             |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
             |  ROUND(sqrt((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE)
             |        - CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             |          * CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
             |        / (COUNT(*) - 1)), 6) AS std_qty,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM lineitem""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .agg(
            round(davg(col("l_quantity")), 6).as("avg_qty"),
            round(dstddev(col("l_quantity")), 6).as("std_qty"),
            cnt.as("n"))),

    // TPC-H Q1 shape: partial+final hash agg over two low-cardinality keys.
    Q(
      "agg_groupby_hash",
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base,
             |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc,
             |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) =>
        // Long fast paths throughout (Fns.cents): quantity integral,
        // price/discount exact 2-dp, so every decimal sum here is an
        // integer / cents / 1e-4-unit sum — value-identical to the
        // oracle's decimal dialect, pure codegen long aggregates. The
        // cents and cents-product sums go through Fns.lsumUnits (split-
        // long partials + exact decimal recombine), so there is no 2^53
        // cast cliff at any realizable rows/group.
        Tables(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast("long")).cast("double").as("sum_qty"),
            dsumCents(col("l_extendedprice")).as("sum_base"),
            lsumUnits(cents(col("l_extendedprice")) *
                (lit(100L) - cents(col("l_discount"))), 4).as("sum_disc"),
            round(sum(col("l_quantity").cast("long")).cast("double") / cnt, 6)
              .as("avg_qty"),
            cnt.as("n"))
          .oracleOrder("l_returnflag", "l_linestatus")),

    Q(
      "agg_count_distinct",
      Some("""SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
             |       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
             |FROM orders""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "orders")
          .agg(
            countDistinct(col("o_custkey")).cast("long").as("n_cust"),
            countDistinct(col("o_orderpriority")).cast("long").as("n_prio"))),

    // HLL++ sketch — the 100 TB path for distincts. The estimate itself is
    // engine-defined (relative-error sketch, default rsd 5%), so the
    // hash-checked contract is the INVARIANT, not the value: per group, the
    // deterministic HLL++ estimate must land within 2x rsd of the exact
    // count (measured worst rel-err across sf0.001/0.01/0.1 is 6.7%, at
    // sf0.1's 1500-distinct dense-mode regime). The exact countDistinct
    // here is the verification harness only — at 100 TB the sketch column
    // IS the product and the exact twin is agg_count_distinct.
    Q(
      "agg_approx_distinct_hll",
      Some("""SELECT event_type,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  TRUE AS approx_ok
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy("event_type")
          .agg(
            countDistinct(col("user_id")).cast("long").as("exact_users"),
            approx_count_distinct(col("user_id")).as("approx"))
          .select(
            col("event_type"), col("exact_users"),
            (abs(col("approx") - col("exact_users")) <=
              col("exact_users") * 0.10).as("approx_ok"))
          .oracleOrder("event_type")),

    // MERGEABLE distinct-count sketches (Apache DataSketches HLL): build one
    // sketch per event_type, then union the serialized sketches into the
    // global estimate. This two-level shape is THE 100 TB distinct-count
    // pattern — per-partition/per-day sketches persist as tiny binaries and
    // any rollup (day->month, type->global) is a cheap union, never a
    // re-scan of raw data. Sketch bytes are engine-specific, so the
    // hash-checked contract is the mergeability INVARIANT: both the
    // union-of-per-type-sketches estimate and the direct single-pass
    // estimate must land within 5% of exact (union != direct exactly once
    // the sketch leaves coupon/exact mode — at sf0.1 they differ by 11 on
    // 1500 distinct — so equality is deliberately NOT the contract;
    // HllSketchSpec keeps the small-cardinality equality gate).
    Q(
      "agg_hll_sketch_union",
      Some("""SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
             |  TRUE AS union_ok, TRUE AS direct_ok
             |FROM events""".stripMargin),
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val merged = ev
          .groupBy("event_type")
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged"))
        val direct = ev
          .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct"))
        ev.agg(countDistinct(col("user_id")).cast("long").as("exact_users"))
          .crossJoin(merged)
          .crossJoin(direct)
          .select(
            col("exact_users"),
            (abs(col("merged") - col("exact_users")) <=
              col("exact_users") * 0.05).as("union_ok"),
            (abs(col("direct") - col("exact_users")) <=
              col("exact_users") * 0.05).as("direct_ok"))
      }),

    // Theta-sketch SET OPERATIONS (Apache DataSketches): the audience-
    // overlap question — how many distinct users did BOTH X and Y — that
    // HLL cannot answer (it only unions). Per-segment theta sketches are
    // built in one grouped pass (partial-aggregated UDAF, bounded state),
    // then union/intersection are sketch-algebra over the tiny binaries —
    // at 100 TB every segment-combination query is a set operation over
    // persisted sketches, never a raw re-scan. lgK=14 keeps the sketches
    // in EXACT mode at every test scale (distinct users <= 1500 << 16384),
    // so the estimates are exact integers and the full DuckDB oracle
    // applies; past 2^lgK the same query degrades gracefully to
    // ±1.6%-bounded estimates (the production regime).
    Q(
      "agg_theta_sketch_setops",
      Some("""WITH a AS (SELECT DISTINCT user_id FROM events
             |          WHERE event_type = 'click' AND value > 90),
             |b AS (SELECT DISTINCT user_id FROM events
             |      WHERE event_type = 'purchase' AND value > 90)
             |SELECT
             |  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_click,
             |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_purchase,
             |  CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS BIGINT) AS n_union,
             |  CAST((SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS BIGINT) AS n_intersect""".stripMargin),
      (s, dir) => {
        import graft.functions.ThetaSketch
        val segs = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase") && col("value") > 90)
          .select(col("event_type").as("seg"), col("user_id"))
        val sk = segs.groupBy("seg")
          .agg(ThetaSketch.sketch(col("user_id").cast("long")).as("sk"))
        // Empty-segment hardening (matches the oracle's semantics on ANY
        // data shape): a missing segment estimates 0 (coalesce), and the
        // intersection is 0 unless BOTH segments produced a sketch —
        // intersect over a single sketch would return that sketch (the
        // fold identity), which is not what "users in both" means.
        sk.agg(
          coalesce(
            max(when(col("seg") === "click", ThetaSketch.estimate(col("sk")))),
            lit(0.0)).as("e_click"),
          coalesce(
            max(when(col("seg") === "purchase", ThetaSketch.estimate(col("sk")))),
            lit(0.0)).as("e_purchase"),
          ThetaSketch.estimate(ThetaSketch.union(col("sk"))).as("e_union"),
          ThetaSketch.estimate(ThetaSketch.intersect(col("sk"))).as("e_int_raw"),
          cnt.as("n_segs"))
          .select(
            col("e_click").cast("long").as("n_click"),
            col("e_purchase").cast("long").as("n_purchase"),
            col("e_union").cast("long").as("n_union"),
            when(col("n_segs") < 2, 0L)
              .otherwise(col("e_int_raw").cast("long")).as("n_intersect"))
      }),

    // MERGEABLE quantile sketches (Apache DataSketches KLL) — the same
    // two-level shape as agg_hll_sketch_union for ORDER STATISTICS: one
    // ~3 KB sketch per event_type (bounded state regardless of group
    // size, partial-aggregated map-side), then a cheap sketch-merge
    // rollup to global p50/p90/p99. agg_median_quantile is the exact
    // twin that sorts the full column; at 100 TB only the sketch shape
    // survives — per-day/per-type sketches persist as tiny binaries and
    // every re-aggregation is a merge, never a raw re-scan. KLL
    // compaction is randomized (public algorithm property), so the
    // hash-checked contract is the rank-error INVARIANT: each estimated
    // quantile must land inside the exact-value band at rank ±2.5%
    // (sketch bound is ±1.65% at 99% confidence for k=200; the 1.5x
    // margin makes the randomized compaction non-flaky). The exact
    // `percentile` band here is the verification harness; at 100 TB only
    // the sketch side survives (the exact twin is agg_median_quantile).
    Q(
      "agg_kll_quantile_sketch",
      Some("""SELECT l AS level,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_values,
             |  TRUE AS in_band
             |FROM (SELECT unnest(['p50','p90','p99']) AS l) ORDER BY 1""".stripMargin),
      (s, dir) => {
        import graft.functions.KllQuantile
        val ev = Tables(s, dir, "events")
        val est = ev
          .groupBy("event_type")
          .agg(KllQuantile.sketch(col("value").cast("double")).as("sk"))
          .agg(KllQuantile.union(col("sk")).as("merged"))
          .select(
            KllQuantile.quantile(col("merged"), 0.5).as("e50"),
            KllQuantile.quantile(col("merged"), 0.9).as("e90"),
            KllQuantile.quantile(col("merged"), 0.99).as("e99"))
        // p99's upper band clamps to the max (rank 0.99 + 0.025 > 1).
        val bands = ev.agg(
          cnt.as("n_values"),
          expr("percentile(CAST(value AS DOUBLE), " +
            "array(0.475, 0.525, 0.875, 0.925, 0.965, 1.0))").as("b"))
        est.crossJoin(bands)
          .select(
            col("n_values"),
            (col("e50") >= col("b")(0) && col("e50") <= col("b")(1)).as("p50"),
            (col("e90") >= col("b")(2) && col("e90") <= col("b")(3)).as("p90"),
            (col("e99") >= col("b")(4) && col("e99") <= col("b")(5)).as("p99"))
          .select(
            expr("stack(3, 'p50', p50, 'p90', p90, 'p99', p99) AS (level, in_band)"),
            col("n_values"))
          .select(col("level"), col("n_values"), col("in_band"))
          .oracleOrder("level")
      }),

    Q(
      "agg_rollup_grouping_sets",
      Some("""SELECT r_name, n_name,
             |  CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP(r_name, n_name)
             |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),
      // Written as Spark SQL text (same ANSI text the oracle runs): the
      // DataFrame rollup+grouping() combination trips Spark 4's ambiguous-
      // self-join detector on reused cached dims; SQL resolution does not.
      (s, dir) => {
        val views = Seq("customer", "nation", "region")
        views.foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        // Dropped once s.sql has analyzed the query, through the session
        // catalog, which leaves the cached Tables frame cached.
        try s.sql("""SELECT r_name, n_name,
                |  CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n,
                |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal,
                |  CAST(COUNT(*) AS BIGINT) AS n
                |FROM customer
                |JOIN nation ON c_nationkey = n_nationkey
                |JOIN region ON n_regionkey = r_regionkey
                |GROUP BY ROLLUP(r_name, n_name)
                |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)
        finally views.foreach(s.sessionState.catalog.dropTempView)
      }),

    // one_hot as conditional aggregation (explicit SUM(CASE ...) both sides
    // for column-name parity with the oracle).
    Q(
      "agg_pivot_onehot",
      Some {
        val cols = Seq("click", "view", "purchase", "signup", "error")
          .map(t => s"  CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t")
          .mkString(",\n")
        s"SELECT user_id,\n$cols\nFROM events GROUP BY user_id ORDER BY user_id"
      },
      (s, dir) => {
        val aggs = Seq("click", "view", "purchase", "signup", "error").map(t =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).cast("long").as(s"n_$t"))
        Tables(s, dir, "events")
          .groupBy("user_id")
          .agg(aggs.head, aggs.tail: _*)
          .oracleOrder("user_id")
      }),

    // argmax with a total tie-break (never max_by: its tie order is
    // engine-defined) — row_number top-1 per group.
    Q(
      "agg_top1_argmax_per_group",
      Some("""SELECT n_nationkey, c_custkey, c_name, c_acctbal FROM (
             |  SELECT n_nationkey, c_custkey, c_name, c_acctbal,
             |    row_number() OVER (PARTITION BY n_nationkey
             |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
             |WHERE rn = 1 ORDER BY n_nationkey""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("n_nationkey")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        Tables(s, dir, "customer")
          .join(broadcast(Tables(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("n_nationkey", "c_custkey", "c_name", "c_acctbal")
          .oracleOrder("n_nationkey")
      }),

    Q(
      "agg_accuracy_eq_rate",
      Some("""SELECT l_linestatus,
             |  ROUND(CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS DOUBLE)
             |        / COUNT(*), 6) AS n_rate,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy("l_linestatus")
          .agg(
            round(sum(when(col("l_returnflag") === "N", 1L).otherwise(0L))
              .cast("double") / cnt, 6).as("n_rate"),
            cnt.as("n"))
          .oracleOrder("l_linestatus")),

    // MSE between observed price and a "prediction" (retailprice * qty).
    Q(
      "agg_mse_loss",
      Some("""SELECT
             |  ROUND(CAST(SUM(CAST((l_extendedprice - p_retailprice * l_quantity)
             |                      * (l_extendedprice - p_retailprice * l_quantity)
             |                      AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*), 4) AS mse,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),
      (s, dir) => {
        val err = col("l_extendedprice") - col("p_retailprice") * col("l_quantity")
        Tables(s, dir, "lineitem")
          .join(broadcast(Tables(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .agg(
            round(dsumWide(err * err) / cnt, 4).as("mse"),
            cnt.as("n"))
      }),

    // Softmax cross-entropy over the first 10 embedding dims vs label%10.
    // The 10-term exp-sum is written as an explicit left-assoc chain so both
    // engines produce the bit-identical double; per-row xent is rounded then
    // decimal-summed for an order-independent mean.
    Q(
      "agg_softmax_xent",
      Some {
        val expSum = (1 to 10)
          .map(i => s"exp(CAST(embedding[$i] AS DOUBLE))")
          .mkString(" + ")
        s"""SELECT
           |  ROUND(CAST(SUM(CAST(ROUND(LN($expSum)
           |    - CAST(embedding[label % 10 + 1] AS DOUBLE), 8) AS DECIMAL(18,8))) AS DOUBLE)
           |    / COUNT(*), 4) AS avg_xent,
           |  CAST(COUNT(*) AS BIGINT) AS n
           |FROM embeddings""".stripMargin
      },
      (s, dir) => {
        val expSum = (1 to 10)
          .map(i => exp(element_at(col("embedding"), i).cast("double")))
          .reduceLeft(_ + _)
        val picked = element_at(col("embedding"), (col("label") % 10 + 1).cast("int"))
          .cast("double")
        val xent = round(log(expSum) - picked, 8).cast(DecimalType(18, 8))
        Tables(s, dir, "embeddings")
          .agg(
            round(sum(xent).cast("double") / cnt, 4).as("avg_xent"),
            cnt.as("n"))
      }),

    // Exact median via ordered-window math (identical in both dialects —
    // percentile()/quantile_cont() semantics drift between engines).
    Q(
      "agg_median_quantile",
      Some("""WITH r AS (
             |  SELECT o_orderpriority AS priority, o_totalprice AS v,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |                       ORDER BY o_totalprice, o_orderkey) AS rn,
             |    count(*) OVER (PARTITION BY o_orderpriority) AS cnt
             |  FROM orders)
             |SELECT priority,
             |  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 2) AS median
             |FROM r
             |WHERE rn = CAST(floor((cnt + 1) / 2.0) AS BIGINT)
             |   OR rn = CAST(ceil((cnt + 1) / 2.0) AS BIGINT)
             |GROUP BY priority ORDER BY priority""".stripMargin),
      (s, dir) => {
        val wOrd = Window.partitionBy("o_orderpriority")
          .orderBy("o_totalprice", "o_orderkey")
        val wAll = Window.partitionBy("o_orderpriority")
        Tables(s, dir, "orders")
          .select(
            col("o_orderpriority").as("priority"), col("o_totalprice").as("v"),
            row_number().over(wOrd).as("rn"),
            count(lit(1)).over(wAll).as("cnt"))
          .filter(
            col("rn") === floor((col("cnt") + 1) / 2.0).cast("long") ||
              col("rn") === ceil((col("cnt") + 1) / 2.0).cast("long"))
          .groupBy("priority")
          .agg(round(davg(col("v")), 2).as("median"))
          .oracleOrder("priority")
      }),

    // Salted two-stage aggregation — the skew-mitigation pattern: a hot
    // grouping key (only 5 event_types over the whole stream) first
    // aggregates on (key, salt) so the load spreads over 16x partitions,
    // then the tiny partial table reduces to the final answer. Decimal
    // partials keep the result bit-identical to the direct groupBy (which is
    // exactly what the oracle runs).
    Q(
      "agg_salted_skew",
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_v
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val partial = Tables(s, dir, "events")
          .withColumn("salt", pmod(col("event_id"), lit(16)))
          .groupBy("event_type", "salt")
          .agg(
            cnt.as("pn"),
            sum(col("value").cast(DecimalType(18, 6))).as("ps"))
        partial
          .groupBy("event_type")
          .agg(
            sum("pn").cast("long").as("n"),
            sum("ps").cast("double").as("sum_v"))
          .oracleOrder("event_type")
      }),

    // Full CUBE lattice with GROUPING flags (extends the rollup query to
    // all 4 grouping sets). Null grouping keys only occur where the flag=1,
    // so sorting by flags first keeps NULL ordering differences between
    // engines unreachable.
    Q(
      "agg_cube_grouping_sets",
      Some("""SELECT o_orderpriority, o_orderstatus,
             |  CAST(GROUPING(o_orderpriority) AS INT) AS g1,
             |  CAST(GROUPING(o_orderstatus) AS INT) AS g2,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS s
             |FROM orders
             |GROUP BY CUBE (o_orderpriority, o_orderstatus)
             |ORDER BY g1, g2, o_orderpriority, o_orderstatus""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "orders")
          .cube("o_orderpriority", "o_orderstatus")
          .agg(
            grouping(col("o_orderpriority")).cast("int").as("g1"),
            grouping(col("o_orderstatus")).cast("int").as("g2"),
            cnt.as("n"), dsum(col("o_totalprice")).as("s"))
          .select("o_orderpriority", "o_orderstatus", "g1", "g2", "n", "s")
          .oracleOrder("g1", "g2", "o_orderpriority", "o_orderstatus")),

    // Unpivot (melt) wide measures to long (metric, value) rows — the
    // reshape dual of the pivot query; stack() stays whole-stage-codegen.
    Q(
      "agg_unpivot_stack",
      Some("""WITH long AS (
             |  SELECT 'quantity' AS metric, l_quantity AS v FROM lineitem
             |  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
             |  UNION ALL SELECT 'discount', l_discount FROM lineitem)
             |SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 4) AS s
             |FROM long GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .select(expr(
            """stack(3,
              |  'quantity', l_quantity,
              |  'extendedprice', l_extendedprice,
              |  'discount', l_discount) AS (metric, v)""".stripMargin))
          .groupBy("metric")
          .agg(cnt.as("n"), round(dsum(col("v")), 4).as("s"))
          .oracleOrder("metric")),

    // Half-life–decayed activity score — the recency-weighted feature
    // every ranking/engagement model keeps per user: score = Σ value·2^−k
    // with k = whole hours of age against the corpus max timestamp
    // (half-life = 1 h). The 2^−k weight is chosen deliberately: powers of
    // two are EXACT doubles and multiplying by one is exact IEEE scaling,
    // so unlike an e^−λt kernel there is no per-row libm boundary to align
    // cross-engine — the age quantizes to an integer (exact µs
    // arithmetic), the weight is exact, the product is one rounded double
    // op from identical inputs, and the per-user sum is an exact decimal
    // fold. ONE map-side pass + one partial-aggregated user shuffle; the
    // 1-row max timestamp broadcasts.
    Q(
      "agg_halflife_decay",
      Some("""WITH mx AS (SELECT max(epoch_us(ts)) AS mu FROM events),
             |k AS (
             |  SELECT user_id, value,
             |    CAST((mu - epoch_us(ts)) // 3600000000 AS BIGINT) AS age_h
             |  FROM events, mx),
             |t AS (SELECT user_id, value * power(2, -age_h) AS term FROM k)
             |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(term AS DECIMAL(30,10))) AS DOUBLE), 6)
             |    AS score
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val mx = ev.agg(max(unix_micros(col("ts"))).as("mu"))
        ev.select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
          .crossJoin(broadcast(mx))
          .select(col("user_id"),
            (col("value") *
              pow(lit(2.0), -expr("(mu - us) div 3600000000"))).as("term"))
          .groupBy("user_id")
          .agg(cnt.as("n"), round(dsumWide(col("term")), 6).as("score"))
          .oracleOrder("user_id")
      }),

    // EQUI-DEPTH (equal-frequency) decile histogram — the complement of
    // the fixed-width bins below and the statistic query optimizers and
    // feature-bucketizers actually want (every bucket carries the same
    // population, so tails are resolved instead of lumped). Computed on
    // the COMPRESSED customer-spend domain (one partial-aggregated fold of
    // the fact table to customer cardinality — the Gini discipline), then
    // bucket = ((i-1)*10) div N on the LONG running rank: pure integer
    // arithmetic, no quantile interpolation dialect to align cross-engine,
    // and exactly the arithmetic ntile both engines agree on by
    // construction. The rank window is single-partition over the
    // customer-sized table only; per-bucket stats are decimal-exact.
    Q(
      "agg_equidepth_deciles",
      Some("""WITH t AS (
             |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS total
             |  FROM orders GROUP BY 1),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM t),
             |r AS (
             |  SELECT total,
             |    count(*) OVER (ORDER BY total, o_custkey
             |      ROWS UNBOUNDED PRECEDING) AS i
             |  FROM t),
             |b AS (SELECT total,
             |        CAST(((i - 1) * 10) // nn AS INT) + 1 AS bucket
             |      FROM r, nn)
             |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(MIN(total) AS DOUBLE), 2) AS lo,
             |  ROUND(CAST(MAX(total) AS DOUBLE), 2) AS hi,
             |  ROUND(CAST(SUM(total) AS DOUBLE), 2) AS s
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val t = Tables(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("total"))
        val nn = t.agg(cnt.as("nn"))
        val w = Window.orderBy("total", "o_custkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.select(col("total"), count(lit(1)).over(w).as("i"))
          .crossJoin(broadcast(nn))
          .select(col("total"),
            (expr("((i - 1) * 10) div nn").cast("int") + 1).as("bucket"))
          .groupBy("bucket")
          .agg(cnt.as("n"),
            round(min("total").cast("double"), 2).as("lo"),
            round(max("total").cast("double"), 2).as("hi"),
            round(sum("total").cast("double"), 2).as("s"))
          .oracleOrder("bucket")
      }),

    // Fixed-width histogram — the engine staple behind every distribution
    // dashboard and the scale path for order statistics (AUC, quantile
    // sketches verify against it). Bin id = floor(x / width) is one
    // identical double division both engines; the whole histogram is a
    // map-side partial agg collapsing to |bins| rows regardless of input
    // size.
    Q(
      "agg_histogram_bins",
      Some("""SELECT CAST(FLOOR(l_extendedprice / 5000) AS BIGINT) AS bin,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(
            floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
          .agg(
            cnt.as("n"),
            min("l_extendedprice").as("lo"),
            max("l_extendedprice").as("hi"))
          .oracleOrder("bin")),

    // Per-bucket Shannon entropy + Gini impurity of the event-type mix —
    // the class-balance diagnostics of feature selection / data drift
    // monitoring. Class probabilities are identical bigint/bigint double
    // divisions in both engines; the per-class ln/square terms pass through
    // ROUND 9dp into DECIMAL before summing (the corpus_perplexity_filter
    // policy: a last-ulp libm divergence is absorbed by the rounding, and
    // the decimal sum is order-independent across the 5-class terms).
    Q(
      "agg_entropy_gini",
      Some("""WITH c AS (SELECT CAST(date_trunc('month', ts) AS DATE) AS bucket,
             |    event_type, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS tot
             |      FROM c GROUP BY 1),
             |p AS (SELECT c.bucket, CAST(c.n AS DOUBLE) / t.tot AS p
             |      FROM c JOIN t ON c.bucket = t.bucket),
             |s AS (SELECT bucket,
             |    CAST(SUM(CAST(ROUND(p * ln(p), 9) AS DECIMAL(18,9)))
             |         AS DOUBLE) AS se,
             |    CAST(SUM(CAST(ROUND(p * p, 9) AS DECIMAL(18,9)))
             |         AS DOUBLE) AS sp
             |  FROM p GROUP BY 1)
             |SELECT bucket, ROUND(-se, 6) AS entropy, ROUND(1 - sp, 6) AS gini
             |FROM s ORDER BY bucket""".stripMargin),
      (s, dir) => {
        val c = Tables(s, dir, "events")
          .groupBy(
            date_trunc("month", col("ts")).cast("date").as("bucket"),
            col("event_type"))
          .agg(cnt.as("n"))
        val t = c.groupBy("bucket").agg(sum("n").cast("long").as("tot"))
        c.join(t, "bucket")
          .select(
            col("bucket"),
            (col("n").cast("double") / col("tot")).as("p"))
          .select(
            col("bucket"),
            round(col("p") * log(col("p")), 9)
              .cast(DecimalType(18, 9)).as("te"),
            round(col("p") * col("p"), 9)
              .cast(DecimalType(18, 9)).as("tp"))
          .groupBy("bucket")
          .agg(
            sum("te").cast("double").as("se"),
            sum("tp").cast("double").as("sp"))
          .select(
            col("bucket"),
            round(-col("se"), 6).as("entropy"),
            round(lit(1) - col("sp"), 6).as("gini"))
          .oracleOrder("bucket")
      }),

    // Pearson correlation + sample covariance from closed-form decimal sums
    // (never the engine's corr()/covar_samp() — their merge order is
    // engine-defined; these moments are exact and order-free).
    Q(
      "agg_corr_covar",
      Some("""WITH s AS (
             |  SELECT l_returnflag AS flag, COUNT(*) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) AS sxy
             |  FROM lineitem GROUP BY 1)
             |SELECT flag, CAST(n AS BIGINT) AS n,
             |  ROUND((sxy - sx * sy / n) / (n - 1), 4) AS covar,
             |  ROUND((n * sxy - sx * sy)
             |        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
             |FROM s ORDER BY flag""".stripMargin),
      (s, dir) => {
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        // Exact integer fast path (see ml_kfold_cv): quantity integral,
        // price an exact 2-dp decimal, so four of the five moments are
        // integer / cents sums that plain longs hold exactly; only
        // Σ price² stays on the typed decimal aggregate (cents² sums
        // approach 2^63). One correctly-rounded division per statistic
        // reproduces the decimal sums' double cast bit-for-bit.
        val qL = x.cast("long")
        val pC = rint(y * 100).cast("long")
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("flag"))
          .agg(
            cnt.as("n"),
            sum(qL).cast("double").as("sx"),
            (sum(pC).cast("double") / 100.0).as("sy"),
            sum(qL * qL).cast("double").as("sxx"),
            dsumP(y * y, 30, 10).as("syy"),
            (sum(qL * pC).cast("double") / 100.0).as("sxy"))
          .select(
            col("flag"), col("n"),
            round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1), 4)
              .as("covar"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
              .as("corr"))
          .oracleOrder("flag")
      }),

    // Weighted median (lower weighted median: the smallest value whose
    // cumulative weight reaches half the total) — the robust location
    // statistic a quantity-weighted price summary needs; plain median
    // treats a 1-unit and a 50-unit line item identically. Shape is built
    // for scale: pass 1 compresses (flag, price) → SUM(qty) by hash
    // aggregation (partial map-side combine; cardinality is |distinct
    // price| per flag, not |rows|), and only that compressed table enters
    // the cumulative window — the running sum never sees raw rows. The
    // default RANGE frame makes tied prices share one cumulative value on
    // both engines, so the 2·cw ≥ tot cut is tie-order-free. All sums are
    // exact DECIMAL (Fns policy); outputs cast to double only at the edge.
    Q(
      "agg_weighted_median",
      Some("""WITH w AS (
             |  SELECT l_returnflag AS flag,
             |    CAST(ROUND(l_extendedprice, 2) AS DECIMAL(14,2)) AS v,
             |    SUM(CAST(ROUND(l_quantity, 2) AS DECIMAL(12,2))) AS q
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT flag, v, q,
             |    SUM(q) OVER (PARTITION BY flag ORDER BY v) AS cw,
             |    SUM(q) OVER (PARTITION BY flag) AS tot
             |  FROM w)
             |SELECT flag, CAST(MIN(v) AS DOUBLE) AS wmedian,
             |  CAST(MIN(tot) AS DOUBLE) AS total_qty
             |FROM c WHERE 2 * cw >= tot GROUP BY flag
             |ORDER BY flag""".stripMargin),
      (s, dir) => {
        // The oracle's per-value pre-aggregation exists for SQL clarity, not
        // efficiency: `v` is near-unique (rounded price), so a groupBy
        // (flag, v) is a ~|rows|-group hash aggregate that reduces nothing —
        // two exchanges plus corpus-sized hash tables before the window even
        // starts. The default SQL window frame (RANGE UNBOUNDED PRECEDING ..
        // CURRENT ROW) already folds ties into one bucket, so the cumulative
        // weight over RAW rows is identical to the grouped form: one
        // flag-partitioned sort, no aggregate. Decimal window sums keep the
        // result order-independent and bit-equal to the oracle.
        // Long fast path for the window itself (Fns.cents policy): the
        // sort key is exact cents (same order as the 2-dp decimal) and
        // the weights are integral quantities, so the running and total
        // sums are plain codegen long window aggregates — every quantity
        // is an exact integer, so the cumulative/total comparisons and
        // the closing /100.0 double conversions are value-identical to
        // the oracle's decimal dialect at any realizable row count.
        val byVRange = Window.partitionBy("flag").orderBy("vc")
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        val whole = Window.partitionBy("flag")
        Tables(s, dir, "lineitem")
          .select(
            col("l_returnflag").as("flag"),
            cents(col("l_extendedprice")).as("vc"),
            col("l_quantity").cast("long").as("q"))
          .select(col("flag"), col("vc"),
            sum("q").over(byVRange).as("cw"),
            sum("q").over(whole).as("tot"))
          .filter(col("cw") * 2 >= col("tot"))
          .groupBy("flag")
          .agg(
            (min("vc").cast("double") / 100.0).as("wmedian"),
            min("tot").cast("double").as("total_qty"))
          .oracleOrder("flag")
      }),

    // Skewness + excess kurtosis from closed-form central moments — the
    // distribution-shape diagnostics of data-drift monitoring, computed the
    // corr_covar way: ONE grouped pass of exact DECIMAL power sums (order-
    // independent under partial aggregation, so a 1000-executor merge gives
    // the same bits as local[1]), then identical scalar IEEE chains in both
    // engines. m2^1.5 is spelled m2*sqrt(m2) — sqrt is correctly-rounded
    // IEEE in both engines, pow() is libm and is not.
    Q(
      "agg_skew_kurtosis",
      Some("""WITH s AS (
             |  SELECT l_returnflag AS flag, COUNT(*) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS s2,
             |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS s3,
             |    CAST(SUM(CAST(l_quantity * l_quantity * l_quantity * l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS s4
             |  FROM lineitem GROUP BY 1),
             |m AS (
             |  SELECT flag, CAST(n AS BIGINT) AS n, s1 / n AS m1,
             |    s2 / n - (s1 / n) * (s1 / n) AS m2,
             |    s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             |    s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
             |      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
             |  FROM s)
             |SELECT flag, n, ROUND(m1, 6) AS mean,
             |  ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
             |  ROUND(m4 / (m2 * m2) - 3, 6) AS kurtosis
             |FROM m ORDER BY flag""".stripMargin),
      (s, dir) => {
        val x = col("l_quantity")
        val m1 = col("s1") / col("n")
        val m2 = col("s2") / col("n") - m1 * m1
        val m3 = col("s3") / col("n") - lit(3) * m1 * (col("s2") / col("n")) +
          lit(2) * m1 * m1 * m1
        val m4 = col("s4") / col("n") - lit(4) * m1 * (col("s3") / col("n")) +
          lit(6) * m1 * m1 * (col("s2") / col("n")) - lit(3) * m1 * m1 * m1 * m1
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("flag"))
          .agg(
            cnt.as("n"),
            dsum(x).as("s1"), dsumWide(x * x).as("s2"),
            dsumWide(x * x * x).as("s3"), dsumWide(x * x * x * x).as("s4"))
          .select(col("flag"), col("n"), m1.as("m1"), m2.as("m2"),
            m3.as("m3"), m4.as("m4"))
          .select(
            col("flag"), col("n"), round(col("m1"), 6).as("mean"),
            round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skewness"),
            round(col("m4") / (col("m2") * col("m2")) - 3, 6).as("kurtosis"))
          .oracleOrder("flag")
      }),

    // Welch's unequal-variance t-test — the A/B-experiment primitive
    // (treatment vs control mean difference with a significance statistic).
    // Everything derives from ONE grouped pass of exact decimal moments
    // (the corr_covar policy); t and the Welch–Satterthwaite df are then
    // identical scalar IEEE chains in both engines. At 100 TB an
    // experiment readout is exactly this: two partial-aggregated
    // sufficient-statistic folds and O(1) driver-side arithmetic — never
    // a row-level pairing.
    Q(
      "agg_ab_welch_ttest",
      Some("""WITH s AS (
             |  SELECT event_type AS grp, COUNT(*) AS n,
             |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(value * value AS DECIMAL(30,10))) AS DOUBLE) AS s2
             |  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1),
             |m AS (
             |  SELECT grp, CAST(n AS BIGINT) AS n, s1 / n AS mean,
             |    (s2 - s1 * s1 / n) / (n - 1) AS var
             |  FROM s),
             |ab AS (
             |  SELECT
             |    a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
             |    a.var / a.n AS se2_a, b.var / b.n AS se2_b
             |  FROM m a JOIN m b ON a.grp = 'view' AND b.grp = 'click')
             |SELECT n_a, n_b,
             |  ROUND(mean_a - mean_b, 6) AS mean_diff,
             |  ROUND((mean_a - mean_b) / sqrt(se2_a + se2_b), 6) AS t_stat,
             |  ROUND((se2_a + se2_b) * (se2_a + se2_b)
             |        / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1)),
             |        2) AS welch_df
             |FROM ab""".stripMargin),
      (s, dir) => {
        val m = Tables(s, dir, "events")
          .filter(col("event_type").isin("view", "click"))
          .groupBy(col("event_type").as("grp"))
          .agg(
            cnt.as("n"),
            dsum(col("value")).as("s1"),
            dsumWide(col("value") * col("value")).as("s2"))
          .select(
            col("grp"), col("n"),
            (col("s1") / col("n")).as("mean"),
            ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
              .as("var"))
        val a = m.filter(col("grp") === "view")
          .select(col("n").as("n_a"), col("mean").as("mean_a"),
            (col("var") / col("n")).as("se2_a"))
        val b = m.filter(col("grp") === "click")
          .select(col("n").as("n_b"), col("mean").as("mean_b"),
            (col("var") / col("n")).as("se2_b"))
        a.crossJoin(b)
          .select(
            col("n_a"), col("n_b"),
            round(col("mean_a") - col("mean_b"), 6).as("mean_diff"),
            round((col("mean_a") - col("mean_b")) /
              sqrt(col("se2_a") + col("se2_b")), 6).as("t_stat"),
            round((col("se2_a") + col("se2_b")) * (col("se2_a") + col("se2_b")) /
              (col("se2_a") * col("se2_a") / (col("n_a") - 1) +
                col("se2_b") * col("se2_b") / (col("n_b") - 1)), 2)
              .as("welch_df"))
      }),

    // Exact distinct count via two-level bitmaps — the roaring-bitmap
    // pattern relationalized: dense user ids fold into (key, block) 32-bit
    // masks with bit_or (map-side partial OR — the shuffle carries at most
    // one long per occupied block per key, NOT one row per event), then
    // popcounts sum. Unlike approx_count_distinct this is exact, and unlike
    // COUNT(DISTINCT) the pre-shuffle state is a compressed bitmap, not the
    // full value set — at 100 TB with dense ids this is the cheapest exact
    // distinct there is (bitmap OR is also how segment-level distinct
    // sketches merge in serving stores).
    Q(
      "agg_bitmap_distinct",
      Some("""WITH b AS (
             |  SELECT event_type, user_id // 32 AS blk,
             |    bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS mask
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type,
             |  CAST(SUM(bit_count(mask)) AS BIGINT) AS n_users,
             |  CAST(COUNT(*) AS BIGINT) AS n_blocks
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(
            col("event_type"),
            (col("user_id") / 32).cast("long").as("blk"))
          .agg(expr("bit_or(shiftleft(1L, CAST(user_id % 32 AS INT)))").as("mask"))
          .groupBy("event_type")
          .agg(
            expr("CAST(SUM(bit_count(mask)) AS BIGINT)").as("n_users"),
            cnt.as("n_blocks"))
          .oracleOrder("event_type")),

    // Robust outlier statistics: median absolute deviation per group with
    // the 3·1.4826·MAD gate (the consistency constant makes MAD comparable
    // to σ under normality) — the z-score monitor's heavy-tail-proof twin:
    // one wild value shifts a mean/stddev gate but not a median/MAD gate.
    // Both medians use the ordered-window midpoint identity (dialect-stable,
    // unlike percentile()/quantile_cont()); the deviation pass re-shuffles
    // on the SAME event_type key, so the whole operator is two window
    // passes + one broadcast-joinable 5-row median table per stage.
    Q(
      "agg_mad_robust",
      Some("""WITH r AS (
             |  SELECT event_type, value AS v, event_id,
             |    row_number() OVER (PARTITION BY event_type
             |                       ORDER BY value, event_id) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS cnt
             |  FROM events),
             |med AS (
             |  SELECT event_type,
             |    CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS med
             |  FROM r WHERE rn = CAST(floor((cnt+1)/2.0) AS BIGINT)
             |           OR rn = CAST(ceil((cnt+1)/2.0) AS BIGINT)
             |  GROUP BY 1),
             |d AS (SELECT e.event_type, e.event_id, m.med,
             |        ABS(e.value - m.med) AS av
             |      FROM events e JOIN med m USING (event_type)),
             |r2 AS (SELECT event_type, av,
             |    row_number() OVER (PARTITION BY event_type
             |                       ORDER BY av, event_id) AS rn,
             |    count(*) OVER (PARTITION BY event_type) AS cnt
             |  FROM d),
             |mad AS (
             |  SELECT event_type,
             |    CAST(SUM(CAST(av AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS mad
             |  FROM r2 WHERE rn = CAST(floor((cnt+1)/2.0) AS BIGINT)
             |            OR rn = CAST(ceil((cnt+1)/2.0) AS BIGINT)
             |  GROUP BY 1)
             |SELECT d.event_type, ROUND(ANY_VALUE(d.med), 6) AS med,
             |  ROUND(ANY_VALUE(x.mad), 6) AS mad,
             |  CAST(SUM(CASE WHEN d.av > 3 * 1.4826 * x.mad THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_outliers,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM d JOIN mad x USING (event_type)
             |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        def midpoint(df: org.apache.spark.sql.DataFrame, valueCol: String,
            out: String): org.apache.spark.sql.DataFrame = {
          val wOrd = Window.partitionBy("event_type").orderBy(valueCol, "event_id")
          val wAll = Window.partitionBy("event_type")
          df.select(
              col("event_type"), col(valueCol).as("v"),
              row_number().over(wOrd).as("rn"),
              count(lit(1)).over(wAll).as("cnt"))
            .filter(
              col("rn") === floor((col("cnt") + 1) / 2.0).cast("long") ||
                col("rn") === ceil((col("cnt") + 1) / 2.0).cast("long"))
            .groupBy("event_type")
            .agg(davg(col("v")).as(out))
        }
        val ev = Tables(s, dir, "events")
          .select("event_type", "event_id", "value")
        val med = midpoint(ev, "value", "med")
        val dev = ev.join(broadcast(med), "event_type")
          .select(col("event_type"), col("event_id"), col("med"),
            abs(col("value") - col("med")).as("av"))
        val mad = midpoint(dev, "av", "mad")
        dev.join(broadcast(mad), "event_type")
          .groupBy("event_type")
          .agg(
            round(first("med"), 6).as("med"),
            round(first("mad"), 6).as("mad"),
            // (3*1.4826) folds first on both sides — same fl() constant;
            // mad*1.4826*3 would associate differently and can flip a
            // boundary row.
            sum(when(col("av") > lit(3.0) * 1.4826 * col("mad"), 1).otherwise(0))
              .cast("long").as("n_outliers"),
            cnt.as("n"))
          .oracleOrder("event_type")
      }),

    // Poisson-bootstrap 90% CI for the mean — THE resampling method that
    // works at 100 TB: classic bootstrap needs n draws WITH replacement
    // per replica (a global shuffle per replica); the Poisson(1)
    // approximation gives each row an independent per-replica weight, so
    // ALL B=32 replicas fold in ONE scan — the ×B explode is a codegen
    // loop feeding partial aggregation in the SAME stage (transient rows,
    // no extra I/O or shuffle; state = B groups per partition). Draws are
    // a two-round Lehmer generator mod the Mersenne prime 2^31-1 seeded
    // by (event_id, rep) — pure 64-bit integer arithmetic both engines
    // compute identically (and, unlike md5-hex draws, survives
    // CollapseProject inlining it into all 64 aggregate expressions at a
    // few int ops per eval); weights from the integer Poisson(1)
    // inverse-CDF thresholds — no float compare knife-edges; replica
    // means are exact decimal ratios.
    Q(
      "agg_bootstrap_ci",
      Some("""WITH b AS (SELECT unnest(generate_series(0, 31)) AS rep),
             |d AS (
             |  SELECT b.rep,
             |    ((((e.event_id % 2147483647) * 48271 + b.rep * 16807 + 11213) % 2147483647)
             |      * 48271 % 2147483647) * 48271 % 2147483647 % 1000000 AS h,
             |    e.value
             |  FROM events e CROSS JOIN b),
             |w AS (
             |  SELECT rep, value,
             |    CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
             |         WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
             |         WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
             |         ELSE 6 END AS w
             |  FROM d),
             |m AS (
             |  SELECT rep,
             |    CAST(CAST(SUM(CAST(w * value AS DECIMAL(20,6))) AS VARCHAR) AS DOUBLE)
             |      / SUM(w) AS mean_b
             |  FROM w GROUP BY 1),
             |r AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b, rep) AS rn FROM m),
             |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             |      / COUNT(*) AS mean
             |  FROM events)
             |SELECT base.n, ROUND(base.mean, 6) AS mean,
             |  ROUND((SELECT mean_b FROM r WHERE rn = 2), 6) AS ci_lo,
             |  ROUND((SELECT mean_b FROM r WHERE rn = 31), 6) AS ci_hi,
             |  32 AS n_boot
             |FROM base""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, dir, "events")
        val M = 2147483647L
        // The oracle's own shape — explode the 32 replicas into rows and
        // aggregate per rep with ONE parametric weight expression — beats
        // the previous 96-aggregate single-row fold ~3x: the unrolled form
        // generated a megabyte-scale codegen function whose per-execution
        // Janino compile (~0.8 s) plus 64 expression evals per row
        // dominated, while here the explode + 32-group hash aggregate is a
        // few hundred bytes of code and one weight eval per (row, rep).
        // 32 groups × 32 partitions of partial state keep the shuffle nil.
        val x1 = (col("event_id") % M * 48271L +
          (col("rep") * 16807L + 11213L)) % M
        val h = x1 * 48271L % M * 48271L % M % 1000000L
        val w = when(h < 367879, 0).when(h < 735759, 1).when(h < 919699, 2)
          .when(h < 981012, 3).when(h < 996340, 4).when(h < 999406, 5)
          .otherwise(6)
        // The exact sum runs as the typed DecSum aggregate (one mutable
        // BigDecimal per (partition, rep) group): the declarative
        // sum(cast(decimal)) pays a per-row Decimal cast + unsafe-buffer
        // write (~3x slower here), and a pre-explode long-micro-unit
        // array gets CollapseProject'd through the Generate back into a
        // per-exploded-row form — the typed aggregate is the shape the
        // optimizer cannot pessimize. Value-identical to the oracle's
        // SUM(CAST(w·v AS DECIMAL(20,6))): DecSum replays the cast/sum
        // contract bit-for-bit (DecSumSpec) and (20,6) vs (18,6) cannot
        // diverge below 1e12.
        val reps = ev
          .select(col("event_id"), col("value"),
            explode(sequence(lit(0), lit(31))).as("rep"))
          .select(col("rep"),
            // value is exactly 6dp (driver data contract, probed: the
            // DECIMAL(18,6) cast is an identity on every row), so the
            // per-rep exact sum runs on the split-long codegen path
            // (Fns.lsumUnits) over integer 1e-6 units instead of the
            // object-based DecSum aggregate — identical value (w·units is
            // the exact quantity the oracle's DECIMAL(20,6) cast recovers;
            // the recombine is correctly rounded once), ~2x faster here.
            (w * expr("CAST(rint(value * 1000000) AS LONG)")).as("wu"),
            w.as("w"))
          .groupBy("rep")
          .agg(lsumUnits(col("wu"), 6).as("sv"), sum("w").as("sw"))
          .select(col("rep"), (col("sv") / col("sw")).as("mean_b"))
          .withColumn("rn", row_number().over(Window.orderBy("mean_b", "rep")))
        val ci = reps.agg(
          min(when(col("rn") === 2, col("mean_b"))).as("lo"),
          max(when(col("rn") === 31, col("mean_b"))).as("hi"))
        ev.agg(cnt.as("n"), (dsumDecl(col("value")) / cnt).as("mean"))
          .crossJoin(broadcast(ci))
          .select(col("n"), round(col("mean"), 6).as("mean"),
            round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"),
            lit(32).as("n_boot"))
      }),

    // Pearson chi-squared independence test between event_type and the
    // value's 100-wide bucket. The contingency table is ONE grouped corpus
    // pass materialized at |R|x|C| rows; margins, total, dof, and the
    // zero-observed cells (which still contribute their expected count)
    // all derive from that tiny table via broadcast joins — at 100 TB the
    // data is touched once and everything after is O(|cells|). Expected
    // counts are identical double chains (rt*ct/n); per-cell terms round
    // to 8dp then decimal-sum, so the statistic is shuffle-order-free.
    Q(
      "agg_chisq_independence",
      Some("""WITH o AS (
             |  SELECT event_type AS r, CAST(floor(value/100) AS BIGINT) AS c,
             |         CAST(COUNT(*) AS BIGINT) AS o
             |  FROM events GROUP BY 1, 2),
             |rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt FROM o GROUP BY 1),
             |ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct FROM o GROUP BY 1),
             |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM o),
             |cells AS (
             |  SELECT COALESCE(oo.o, 0) AS o,
             |         CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / CAST(tot.n AS DOUBLE) AS e
             |  FROM rt CROSS JOIN ct CROSS JOIN tot
             |  LEFT JOIN o oo ON oo.r = rt.r AND oo.c = ct.c),
             |dims AS (SELECT CAST((COUNT(DISTINCT r)-1)*(COUNT(DISTINCT c)-1) AS BIGINT) AS dof FROM o)
             |SELECT tot.n AS n, dims.dof AS dof,
             |  ROUND(CAST(CAST(SUM(CAST(ROUND((CAST(o AS DOUBLE)-e)*(CAST(o AS DOUBLE)-e)/e, 8) AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE), 6) AS chi2
             |FROM cells CROSS JOIN tot CROSS JOIN dims
             |GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        // ONE corpus pass; everything below runs on the |R|x|C| table.
        val o = ev
          .groupBy(col("event_type").as("r"),
            floor(col("value") / 100).cast("long").as("c"))
          .agg(cnt.as("o"))
          .localCheckpoint()
        val rt = o.groupBy("r").agg(sum("o").cast("long").as("rt"))
        val ct = o.groupBy("c").agg(sum("o").cast("long").as("ct"))
        val tot = o.agg(sum("o").cast("long").as("n"))
        val dims = o.agg(((countDistinct("r") - 1) * (countDistinct("c") - 1))
          .cast("long").as("dof"))
        val e = col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double")
        val cells = rt.crossJoin(broadcast(ct)).crossJoin(broadcast(tot))
          .join(broadcast(o), Seq("r", "c"), "left")
          .na.fill(0, Seq("o"))
          .select(col("o"), e.as("e"))
        val term = round(
          (col("o").cast("double") - col("e")) *
            (col("o").cast("double") - col("e")) / col("e"), 8)
          .cast(DecimalType(20, 8))
        cells.agg(sum(term).cast("double").as("chi2raw"))
          .crossJoin(broadcast(tot)).crossJoin(broadcast(dims))
          .select(col("n"), col("dof"), round(col("chi2raw"), 6).as("chi2"))
      }),

    // Two-sample Kolmogorov-Smirnov test (click vs view value
    // distributions). The raw samples compress onto the DISTINCT-value
    // domain in one grouped pass (the weighted-median precedent — ECDF
    // steps only move at distinct points), cumulative counts come from one
    // ordered window over that compressed table, and D = MAX|F1-F2| is a
    // pure max — order-free, no float summation at all. The 5%-level
    // critical value is the closed-form 1.358*sqrt((n1+n2)/(n1*n2)).
    Q(
      "agg_ks_test",
      Some("""WITH pts AS (
             |  SELECT value,
             |    CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |    CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS b
             |  FROM events WHERE event_type IN ('click','view') GROUP BY 1),
             |c AS (SELECT SUM(a) OVER (ORDER BY value) AS ca, SUM(b) OVER (ORDER BY value) AS cb FROM pts),
             |tot AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM pts)
             |SELECT tot.na AS na, tot.nb AS nb,
             |  ROUND(MAX(ABS(CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb)), 6) AS ks_d,
             |  ROUND(1.358*sqrt(CAST(na+nb AS DOUBLE)/(CAST(na AS DOUBLE)*nb)), 6) AS d_crit,
             |  CAST(CASE WHEN MAX(ABS(CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb)) >
             |      1.358*sqrt(CAST(na+nb AS DOUBLE)/(CAST(na AS DOUBLE)*nb)) THEN 1 ELSE 0 END AS INT) AS reject
             |FROM c CROSS JOIN tot GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val pts = ev.filter(col("event_type").isin("click", "view"))
          .groupBy("value")
          .agg(
            sum(when(col("event_type") === "click", 1).otherwise(0))
              .cast("long").as("a"),
            sum(when(col("event_type") === "view", 1).otherwise(0))
              .cast("long").as("b"))
          .localCheckpoint()
        // Compressed-domain ordered cumsum (single-partition window over
        // the distinct-value table only, never the raw events).
        val w = Window.orderBy("value")
        val c = pts.select(sum("a").over(w).as("ca"), sum("b").over(w).as("cb"))
        val tot = pts.agg(sum("a").cast("long").as("na"),
          sum("b").cast("long").as("nb"))
        val dexp = abs(col("ca").cast("double") / col("na") -
          col("cb").cast("double") / col("nb"))
        val crit = lit(1.358) * sqrt((col("na") + col("nb")).cast("double") /
          (col("na").cast("double") * col("nb")))
        c.crossJoin(broadcast(tot))
          .groupBy("na", "nb")
          .agg(max(dexp).as("dmax"))
          .select(col("na"), col("nb"), round(col("dmax"), 6).as("ks_d"),
            round(crit, 6).as("d_crit"),
            when(col("dmax") > crit, 1).otherwise(0).cast("int").as("reject"))
      }),

    // Mann-Whitney U rank-sum test (click vs view) — the nonparametric
    // location-shift companion to Welch's t and KS. Same compressed-domain
    // discipline as agg_ks_test: raw samples fold onto the DISTINCT-value
    // table in one grouped pass; tied observations share the value row, so
    // the midrank (cum_before + (count+1)/2) is computed ONCE per distinct
    // value, and the rank-sum R_A = Σ a_v · midrank_v is a sum of exact
    // half-integer doubles (every term is a multiple of 0.5 far below 2^52)
    // — shuffle-order-FREE exactness with zero decimal machinery. The only
    // window runs over the compressed domain (bounded by distinct values,
    // never raw rows). z uses the standard no-tie-correction normal
    // approximation; both engines evaluate the identical double chain.
    Q(
      "agg_mannwhitney_u",
      Some("""WITH s AS (
             |  SELECT value,
             |    CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS av,
             |    CAST(COUNT(*) AS BIGINT) AS nv
             |  FROM events WHERE event_type IN ('click','view') GROUP BY 1),
             |r AS (
             |  SELECT av, nv,
             |    SUM(nv) OVER (ORDER BY value) - nv AS cb
             |  FROM s),
             |a AS (
             |  SELECT CAST(SUM(av) AS BIGINT) AS na, CAST(SUM(nv) AS BIGINT) AS n,
             |    SUM(CAST(av AS DOUBLE) * (cb + (nv + 1) / 2.0)) AS ra
             |  FROM r)
             |SELECT na, CAST(n - na AS BIGINT) AS nb,
             |  ROUND(ra - CAST(na AS DOUBLE) * (na + 1) / 2.0, 6) AS u_a,
             |  ROUND((ra - CAST(na AS DOUBLE) * (na + 1) / 2.0 - CAST(na AS DOUBLE) * (n - na) / 2.0)
             |        / sqrt(CAST(na AS DOUBLE) * (n - na) * (n + 1) / 12.0), 6) AS z
             |FROM a""".stripMargin),
      (s, dir) => {
        val pts = Tables(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .groupBy("value")
          .agg(
            sum(when(col("event_type") === "click", 1).otherwise(0))
              .cast("long").as("av"),
            cnt.as("nv"))
          .localCheckpoint()
        val w = Window.orderBy("value")
        val r = pts.select(col("av"), col("nv"),
          (sum("nv").over(w) - col("nv")).as("cb"))
        val a = r.agg(
          sum("av").cast("long").as("na"),
          sum("nv").cast("long").as("n"),
          sum(col("av").cast("double") *
            (col("cb") + (col("nv") + lit(1)) / lit(2.0))).as("ra"))
        // na is cast to DOUBLE before the product on BOTH sides: a LONG
        // na*(na+1) overflows at na ~ 3e9, below 100 TB event counts.
        val uA = col("ra") -
          col("na").cast("double") * (col("na") + lit(1L)) / lit(2.0)
        val z = (col("ra") -
          col("na").cast("double") * (col("na") + lit(1L)) / lit(2.0) -
          col("na").cast("double") * (col("n") - col("na")) / lit(2.0)) /
          sqrt(col("na").cast("double") * (col("n") - col("na")) *
            (col("n") + lit(1L)) / lit(12.0))
        a.select(col("na"), (col("n") - col("na")).cast("long").as("nb"),
          round(uA, 6).as("u_a"), round(z, 6).as("z"))
      }),

    // Hourly OHLC resample per event_type — the time-bar compaction every
    // telemetry/market-data pipeline runs before charting or modeling.
    // open/close are min_by/max_by on the UNIQUE (ts, event_id) struct key
    // (deterministic first/last with full map-side partial aggregation —
    // no window over the raw stream, no per-bar sort); high/low/count are
    // plain order-free aggregates; volume is an exact decimal sum. ONE
    // shuffle on (event_type, hour) with partials — at 100 TB each bar
    // folds locally per input split before the exchange, the canonical
    // streaming-compaction shape. The oracle reaches the same bars via
    // first_value/last_value windows (DuckDB lacks struct-keyed arg_min
    // across versions); both engines then aggregate identical per-bar sets.
    Q(
      "agg_ohlc_resample",
      Some("""WITH w AS (
             |  SELECT event_type,
             |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hr,
             |    value,
             |    first_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
             |    last_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
             |  FROM events)
             |SELECT event_type, hr,
             |  ROUND(MIN(o), 6) AS open, ROUND(MAX(value), 6) AS high,
             |  ROUND(MIN(value), 6) AS low, ROUND(MIN(c), 6) AS close,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS vol
             |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val key = struct(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .groupBy(col("event_type"),
            unix_timestamp(date_trunc("hour", col("ts"))).as("hr"))
          .agg(
            round(min_by(col("value"), key), 6).as("open"),
            round(max("value"), 6).as("high"),
            round(min("value"), 6).as("low"),
            round(max_by(col("value"), key), 6).as("close"),
            cnt.as("n"),
            round(sum(col("value").cast(DecimalType(18, 6))).cast("double"), 4)
              .as("vol"))
          .oracleOrder("event_type", "hr")
      }),

    // Economic Gini coefficient of per-customer spend — the inequality /
    // concentration readout (how skewed is the corpus across sources, the
    // spend across accounts, the tokens across domains). Rank formula:
    // G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n over ascending-sorted totals.
    // Exactness: per-customer totals are DECIMAL sums; i·x_(i) is a
    // BIGINT×DECIMAL product summed as exact decimals — the entire
    // statistic folds with zero float accumulation, one double division at
    // the end. Shape at scale: the fact table folds to the CUSTOMER-
    // cardinality totals table first (one hash shuffle with partials); the
    // rank window runs over that dimension-sized table only (the ntile
    // precedent — at 100 TB you'd range-partition the rank, the fact scan
    // never sorts).
    Q(
      "agg_gini_coefficient",
      Some("""WITH t AS (
             |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS total
             |  FROM orders GROUP BY 1),
             |r AS (
             |  SELECT total,
             |    row_number() OVER (ORDER BY total, o_custkey) AS i
             |  FROM t),
             |a AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(total) AS DOUBLE) AS s,
             |    CAST(SUM(i * total) AS DOUBLE) AS si
             |  FROM r)
             |SELECT n, ROUND(s, 2) AS total_spend,
             |  ROUND(2.0 * si / (n * s) - (n + 1.0) / n, 6) AS gini
             |FROM a""".stripMargin),
      (s, dir) => {
        val t = Tables(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("total"))
        // Rank via a LONG running count rather than row_number(): Spark's
        // RowNumber is IntegerType, so i*total would overflow past 2^31
        // customers; count(*) over the same ROWS frame is BIGINT and equals
        // row_number because (total, o_custkey) is a unique sort key.
        val r = t.select(col("total"),
          count(lit(1)).over(
            Window.orderBy("total", "o_custkey")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("i"))
        val a = r.agg(
          cnt.as("n"),
          sum("total").cast("double").as("s"),
          sum(col("i") * col("total")).cast("double").as("si"))
        a.select(col("n"), round(col("s"), 2).as("total_spend"),
          round(lit(2.0) * col("si") / (col("n") * col("s")) -
            (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
      }))
}
