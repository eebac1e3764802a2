package graft

import graft.queries.StreamingQueries.{drainToMemory, eventsStream}
import org.apache.spark.sql.functions._

/** Streaming twins (SURVEY.md §5.2.5): each oracle-checked batch window
  * aggregation must emit the same window set when run as a real Structured
  * Streaming query (Trigger.AvailableNow, complete mode => no windows
  * withheld by the watermark).
  */
class StreamingTwinSpec extends SparkSpec {

  private def runStream(agg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    drainToMemory(spark, agg, "complete").rows

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("memory-sink stream rows leave no temp view in the session catalog") {
    val before = tempViews()
    for (id <- Seq("stream_static_enrich", "stream_restart_exactly_once"))
      assert(Registry.byId(id).run(spark, sf).collect().nonEmpty, id)
    val left = tempViews() -- before
    assert(left.isEmpty, s"stream runs left temp views behind: $left")
  }

  test("tumbling window counts: streaming == batch") {
    val stream = eventsStream(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("event_type"), col("n"))
    val got = runStream(stream).orderBy("ws", "event_type")
      .collect().toSeq
    val want = Registry.byId("stream_tumbling_counts").run(spark, sf)
      .select("ws", "event_type", "n").collect().toSeq
    assert(got == want)
  }

  test("sliding window counts: streaming == batch") {
    val stream = eventsStream(spark, sf)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("n"))
    val got = runStream(stream).orderBy("ws").collect().toSeq
    val want = Registry.byId("stream_sliding_windows").run(spark, sf)
      .collect().toSeq
    assert(got == want)
  }

  test("streaming dedup keeps exactly the distinct event ids") {
    val stream = eventsStream(spark, sf)
      .withWatermark("ts", "1 day")
      .dropDuplicates("event_id")
      .groupBy().agg(count(lit(1)).as("n"))
    val got = runStream(stream).collect().head.getLong(0)
    val want = Tables(spark, sf, "events").select("event_id").distinct().count()
    assert(got == want)
  }

  test("streaming approx-distinct windows land within HLL++ error of exact") {
    // The registry query now embeds the band check (ws, exact_users,
    // approx_ok): every emitted window's deterministic HLL++ estimate must
    // sit within max(4, 15% of exact) of the exact batch distinct.
    val rows = Registry.byId("stream_approx_distinct_windows").run(spark, sf)
      .collect()
    val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Append mode withholds windows the watermark hasn't closed when the
    // AvailableNow stream ends (the final day's tail) — the
    // stream_late_data_policy semantics: a window is emitted iff its END
    // <= max(ts) - 1 day, so a withheld window must START after
    // max(ts) - 1 day - 1 window width. Emitted ⊆ exact, and the withheld
    // set must be only that tail.
    assert(got.keySet.subsetOf(exact.keySet), "streaming emitted unknown windows")
    assert(got.nonEmpty)
    val horizon = Tables(spark, sf, "events")
      .agg(date_format(
        max(col("ts")) - expr("INTERVAL 1 DAY") - expr("INTERVAL 1 HOUR"),
        "yyyy-MM-dd HH:mm:ss"))
      .collect().head.getString(0)
    val withheld = exact.keySet -- got.keySet
    assert(withheld.forall(_ >= horizon),
      s"closed window withheld: ${withheld.filter(_ < horizon)}")
    for ((ws, n) <- got) assert(n == exact(ws), s"window $ws: exact_users mismatch")
    rows.foreach(r =>
      assert(r.getBoolean(2), s"window ${r.getString(0)}: approx out of band"))
  }

  test("streaming CDC upsert converges to the one-shot batch merge") {
    // Key-disjoint change batches make the incremental foreachBatch merge
    // order-insensitive: the final target must equal sink_upsert_merge's
    // single batch merge, per status group.
    val got = Registry.byId("stream_cdc_upsert_sink").run(spark, sf)
      .collect().toSeq
    val want = Registry.byId("sink_upsert_merge").run(spark, sf)
      .collect().toSeq
    assert(got == want)
  }

  test("stream-stream left outer: matched == inner join, nulls == expired unmatched") {
    val rows = Registry.byId("stream_stream_left_outer").run(spark, sf).collect()
    val (nulls, matched) = rows.partition(_.isNullAt(1))
    // 1. The matched portion must be EXACTLY the inner stream-stream join's
    //    emitted set (inner results emit immediately in both variants).
    val inner = Registry.byId("stream_stream_join").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched.map(r => (r.getLong(0), r.getLong(1))).toSet == inner,
      "left-outer matched rows diverge from the inner join")
    // 2. Null rows must be exactly the batch-computed expired-unmatched
    //    views: no click within [v_ts, v_ts+10min] AND the final global
    //    watermark (min of both sides' ms-floored max − 1 day) passed
    //    v_ts + 10 min, so the engine evicted their state.
    val ev = Tables(spark, sf, "events")
    val maxSide = (t: String) =>
      ev.filter(col("event_type") === t)
        .agg((floor(unix_micros(max(col("ts"))) / 1000) * 1000).cast("long"))
        .collect().head.getLong(0)
    val wmUs = math.min(maxSide("view"), maxSide("click")) - 86400000000L
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("vid"), col("user_id").as("vu"),
        unix_micros(col("ts")).as("vts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts")).as("cts"))
    val expiredUnmatched = views
      .join(clicks,
        col("vu") === col("cu") && col("cts") >= col("vts") &&
          col("cts") <= col("vts") + lit(600000000L),
        "left_anti")
      .filter(col("vts") + lit(600000000L) < lit(wmUs))
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(nulls.map(_.getLong(0)).toSet == expiredUnmatched,
      "null-emission set diverges from the watermark-expiry model")
    // 3. Null rows carry null delta too, and both sets are non-trivial.
    assert(nulls.forall(_.isNullAt(3)))
    assert(nulls.nonEmpty)
  }

  test("stream-stream full outer: left-outer rows plus expired unmatched clicks") {
    val fo = Registry.byId("stream_stream_full_outer").run(spark, sf).collect()
    val lo = Registry.byId("stream_stream_left_outer").run(spark, sf).collect()
    // Every left-outer row (matched + expired view nulls) appears verbatim.
    def key(r: org.apache.spark.sql.Row) =
      (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))
    val foKeys = fo.map(key).toSet
    assert(lo.map(key).toSet.subsetOf(foKeys))
    // The extras are exactly the click-side nulls: view_id null, and their
    // click set equals the batch expiry model (no view within the bound,
    // c_ts below the final watermark).
    val extras = fo.filter(_.isNullAt(0))
    assert(extras.length == fo.length - lo.length)
    val ev = Tables(spark, sf, "events")
    val maxSide = (t: String) =>
      ev.filter(col("event_type") === t)
        .agg((floor(unix_micros(max(col("ts"))) / 1000) * 1000).cast("long"))
        .collect().head.getLong(0)
    val wmUs = math.min(maxSide("view"), maxSide("click")) - 86400000000L
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), unix_micros(col("ts")).as("vts"))
    val expiredClicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"),
        unix_micros(col("ts")).as("cts"))
      .join(views,
        col("cu") === col("vu") && col("cts") >= col("vts") &&
          col("cts") <= col("vts") + lit(600000000L),
        "left_anti")
      .filter(col("cts") < lit(wmUs))
      .select("cid").collect().map(_.getLong(0)).toSet
    assert(extras.map(_.getLong(1)).toSet == expiredClicks)
  }

  // ---- state bounds (VERDICT r14 item 6): the 100 TB story for every
  // stateful stream is "state is bounded by the watermark horizon, not the
  // stream length" — assert it from StreamingQueryProgress.stateOperators
  // instead of merely claiming it.

  /** Final-batch total state rows of a started streaming DataFrame. */
  private def finalStateRows(
      df: org.apache.spark.sql.DataFrame, name: String): Long = {
    val qy = drainToMemory(spark, df, "append").query
    val withState = qy.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(withState.nonEmpty, s"$name reported no stateful progress")
    withState.last.stateOperators.map(_.numRowsTotal).sum
  }

  test("stream-stream join state is watermark-bounded: only unexpired rows remain buffered") {
    val views = eventsStream(spark, sf)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 day")
    val clicks = eventsStream(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 day")
    val joined = views.join(
      clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
      "inner")
    val stateRows = finalStateRows(joined, "sb_join")
    // The expiry model (same watermark arithmetic the outer-join twins pin):
    // a view's state is dead once wm passes v_ts + 10 min, a click's once
    // wm passes c_ts. Buffered rows at stream end must be EXACTLY the
    // unexpired input rows of both sides — state scales with the horizon,
    // never the stream length.
    val ev = Tables(spark, sf, "events")
    val maxSide = (t: String) =>
      ev.filter(col("event_type") === t)
        .agg((floor(unix_micros(max(col("ts"))) / 1000) * 1000).cast("long"))
        .collect().head.getLong(0)
    val wmUs = math.min(maxSide("view"), maxSide("click")) - 86400000000L
    val unexpiredViews = ev.filter(col("event_type") === "view")
      .filter(unix_micros(col("ts")) + 600000000L >= wmUs).count()
    val unexpiredClicks = ev.filter(col("event_type") === "click")
      .filter(unix_micros(col("ts")) >= wmUs).count()
    val totalInput = ev.filter(col("event_type").isin("view", "click")).count()
    assert(stateRows > 0)
    assert(stateRows < totalInput,
      s"no eviction happened: $stateRows state rows vs $totalInput inputs")
    assert(stateRows == unexpiredViews + unexpiredClicks,
      s"state $stateRows != unexpired views $unexpiredViews + clicks $unexpiredClicks")
  }

  test("streaming dedup state is watermark-bounded: only unexpired keys remain") {
    // `dropDuplicates("event_id")` alone would NEVER evict (eviction
    // requires the event-time column in the key set) — the scale-correct
    // streaming dedup is dropDuplicatesWithinWatermark, whose state rows
    // carry expiresAt = ts + delay and evict once the watermark passes it.
    val deduped = eventsStream(spark, sf)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
    val stateRows = finalStateRows(deduped, "sb_dedup")
    val ev = Tables(spark, sf, "events")
    val wmUs = ev.agg(
      (floor(unix_micros(max(col("ts"))) / 1000) * 1000).cast("long"))
      .collect().head.getLong(0) - 86400000000L
    val unexpiredKeys = ev.filter(unix_micros(col("ts")) + 86400000000L > wmUs)
      .select("event_id").distinct().count()
    val totalKeys = ev.select("event_id").distinct().count()
    assert(stateRows > 0 && stateRows < totalKeys,
      s"no eviction: $stateRows vs $totalKeys keys")
    assert(stateRows == unexpiredKeys,
      s"state $stateRows != unexpired keys $unexpiredKeys")
  }
}
