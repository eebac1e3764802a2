package graft.queries

import graft.{Q, QueryPack, Tables}
import graft.Fns._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType
import scala.jdk.CollectionConverters._

/** SURVEY.md §2.I — streaming over `events`.
  *
  * Reference analog: the per-epoch metric emission loop
  * (`trainer/flax_model.py:349-375`) consumed live by TensorBoard
  * (`trainer/tensorboard.ipynb:37-55`) — an unbounded append-only series.
  *
  * Oracle-checked rows use the batch twins (identical window semantics);
  * `stream_late_data_policy` is a true Structured Streaming run
  * (Trigger.AvailableNow + watermark, append mode) and is bench/smoke only.
  * The batch/stream twin pairing is asserted in StreamingTwinSpec.
  *
  * Every true-streaming row runs through [[StreamingQueries.runToEnd]]
  * (memory-sink rows through [[StreamingQueries.drainToMemory]]), whose
  * Scaladoc states the stream-run rule. Every spool, checkpoint and staged
  * batch is a [[Scratch.path]], whose Scaladoc states where scratch lives
  * and when it goes.
  */
object StreamingQueries extends QueryPack {

  /** Recursive file copy of a staged parquet layout (dirs + data files).
    * The walk stream is closed (it holds a directory handle), and copies
    * REPLACE_EXISTING so a retried run against a partially-populated
    * target recovers instead of dying on FileAlreadyExistsException.
    */
  private def copyDir(src: String, dst: String): Unit = {
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(sp)
    try walk.forEach { p =>
      val t = dp.resolve(sp.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** State-store partitions of every true-streaming row. Stateful
    * micro-batch queries pay per-partition state-store overhead (one store
    * + checkpoint delta per partition per batch); the demo streams hold
    * only a few thousand keys, so 32 partitions are pure overhead, while at
    * production volume this is exactly the knob a real deployment sizes to
    * its key cardinality.
    */
  private val StreamPartitions = 2

  /** Run a true-streaming row body with [[StreamPartitions]] shuffle
    * partitions, or with `graft.stream.partitions` when set — the knob
    * PartitionInvarianceSpec sweeps to prove the emitted set does not
    * depend on state-store parallelism — plus any row-specific `kvs`, all
    * in one [[Confs.scoped]] scope. The stream executes eagerly inside
    * `body` ([[runToEnd]]), so restoring the confs after cannot affect
    * results.
    */
  private def withStreamPartitions[T](
      s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val eff = s.conf.getOption("graft.stream.partitions")
      .map(_.toInt).getOrElse(StreamPartitions)
    Confs.scoped(s, ("spark.sql.shuffle.partitions" -> eff.toString) +: kvs: _*)(body)
  }

  /** The one way a stream runs here. Every `writeStream` ends in this
    * call, which
    *  - checkpoints to `ckpt`: a fresh [[Scratch.path]] unless the caller
    *    shares one across legs of a restart;
    *  - triggers `AvailableNow`: drain what the source holds now, then stop;
    *  - starts the query and waits for it to finish, so the sink holds the
    *    row's whole output when this returns and a stream row is an eager
    *    DataFrame builder like any batch row.
    * A memory-sink run goes through [[drainToMemory]], which also drops the
    * temp view the sink registers, after resolving it.
    */
  private[graft] def runToEnd[T](
      w: DataStreamWriter[T],
      ckpt: String = Scratch.path("graft_stream_ckpt")): StreamingQuery = {
    val q = w.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** A finished memory-sink run: its output rows, and the query for its
    * `recentProgress`.
    */
  private[graft] final case class Drained(rows: DataFrame, query: StreamingQuery)

  /** [[runToEnd]] into Spark's memory sink. The sink registers its output
    * as a temp view named after the query; the view is resolved, then
    * dropped, so nothing stays in the session catalog. The resolved plan
    * keeps its reference to the sink, so the rows live exactly as long as
    * the returned DataFrame.
    */
  private[graft] def drainToMemory[T](
      s: SparkSession, ds: Dataset[T], mode: String,
      ckpt: String = Scratch.path("graft_stream_ckpt")): Drained = {
    val name = s"mem_${Scratch.newTag()}"
    val q = runToEnd(
      ds.writeStream.queryName(name).outputMode(mode).format("memory"), ckpt)
    val rows = s.table(name)
    s.catalog.dropTempView(name)
    Drained(rows, q)
  }

  /** Writes `df` as ONE parquet file under `dir` and returns that file: the
    * unit a file-stream source reads per trigger under `maxFilesPerTrigger`.
    */
  private[graft] def writeSingleParquet(
      df: DataFrame, dir: String): java.nio.file.Path = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try ls.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part in $dir"))
    finally ls.close()
  }

  /** Staged per-event-type spools for the stream-stream family: all four
    * join variants source the SAME two slices
    * (views/clicks, projected to event_id/user_id/ts), so stage each slice
    * once — pre-filtered AND pre-projected, a single parquet file — instead
    * of having every row's every leg re-scan and re-filter the full events
    * spool per micro-batch (VERDICT r15 item 5). Batch-0 input drops from
    * 2×|events| to |views|+|clicks| (~40%), the incremental planner gets a
    * bare scan instead of scan+filter+project, and the single file means
    * one scan task per leg instead of 32. At production volume this is the
    * pre-sliced landing zone (one dir per event class) an attribution
    * pipeline would already maintain.
    */
  private[graft] def typedEventsStream(
      s: SparkSession, dir: String, eventType: String): DataFrame = {
    val spool = Staged.memo(s, dir, s"stream/events_spool/$eventType") {
      val p = Scratch.path(s"graft_events_${eventType}_spool")
      Tables(s, dir, "events")
        .filter(col("event_type") === eventType)
        .select("event_id", "user_id", "ts")
        .coalesce(1).write.mode("overwrite").parquet(p)
      p
    }
    val schema = Tables(s, dir, "events")
      .select("event_id", "user_id", "ts").schema
    s.readStream.schema(schema).parquet(spool)
  }

  /** True streaming read of the events table. The file stream source needs a
    * directory (`events.parquet` is a single file) and an explicit
    * schema, and the table's `ts` physical encoding has varied
    * across generations (nanos-LONG, TIMESTAMP_NTZ — see [[Tables]]) — so the
    * normalized batch table (µs TimestampType) is staged into a spool dir
    * and streamed from there. At scale the spool is the landing zone a real
    * pipeline would already have.
    */
  private[graft] def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val batch = Tables(s, dir, "events")
    val spool = Staged.memo(s, dir, "stream/events_spool") {
      val p = Scratch.path("graft_events_spool")
      batch.write.mode("overwrite").parquet(p)
      p
    }
    s.readStream.schema(batch.schema).parquet(spool)
  }

  def queries: Seq[Q] = Seq(
    // Tumbling 1h windows per event_type (streaming twin: window() +
    // withWatermark; here the oracle-checked batch form).
    Q(
      "stream_tumbling_counts",
      // Window starts travel as formatted strings: a raw TIMESTAMP column
      // hash-compares tz-aware (Spark, UTC instant) vs naive (DuckDB reading
      // the driver's isAdjustedToUTC=0 parquet) — never emit bare timestamps
      // in oracle-checked output.
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws, event_type,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_v
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(cnt.as("n"), round(dsum(col("value")), 4).as("sum_v"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("event_type"), col("n"), col("sum_v"))
          .oracleOrder("ws", "event_type")),

    // Sliding 1h/30min windows == union of two phase-shifted 30-min grids.
    Q(
      "stream_sliding_windows",
      Some("""WITH g AS (
             |  SELECT date_trunc('hour', ts)
             |    + CASE WHEN extract(minute FROM ts) >= 30
             |           THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS b
             |  FROM events),
             |w AS (SELECT b AS ws FROM g
             |      UNION ALL
             |      SELECT b - INTERVAL 30 MINUTE AS ws FROM g)
             |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws, CAST(COUNT(*) AS BIGINT) AS n
             |FROM w GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(cnt.as("n"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("n"))
          .oracleOrder("ws")),

    // Session windows (30-min gap) as gaps-and-islands — the same lag +
    // cumulative-flag SQL in both engines; keyed by user_id so state is
    // partition-local at scale (streaming twin: session_window()).
    Q(
      "stream_session_windows",
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |              >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events),
             |s AS (
             |  SELECT user_id, ts,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM o)
             |SELECT user_id, CAST(sid AS BIGINT) AS sid,
             |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_start,
             |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_end,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gapUs = 30L * 60 * 1000000
        val newS = when(
          lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= gapUs,
          1L).otherwise(0L)
        Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), newS.as("new_s"))
          .select(
            col("user_id"), col("ts"),
            sum(col("new_s")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("sid"))
          .groupBy(col("user_id"), col("sid").cast("long").as("sid"))
          .agg(
            date_format(min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s_start"),
            date_format(max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s_end"),
            cnt.as("n"))
          .oracleOrder("user_id", "sid")
      }),

    // Exactly-once re-emission guard: dropDuplicates over a doubled input
    // (streaming twin: dropDuplicates + watermark state eviction).
    Q(
      "stream_dedup_watermark",
      Some("""WITH dup AS (SELECT * FROM events UNION ALL SELECT * FROM events),
             |r AS (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
             |      FROM dup)
             |SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
             |  user_id, event_type, value
             |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin),
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        ev.unionAll(ev)
          .dropDuplicates("event_id")
          .select(
            col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("user_id"), col("event_type"), col("value"))
          .oracleOrder("event_id")
      }),

    // session_window() native batch form of the sessionization — same
    // result set as the gaps-and-islands formulation, so it reuses that
    // oracle (minus the island id, which session_window doesn't expose).
    Q(
      "stream_session_window_native",
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |              >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events),
             |s AS (
             |  SELECT user_id, ts,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM s0),
             |agg AS (
             |  SELECT user_id,
             |    strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_start,
             |    strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_end,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM s GROUP BY user_id, sid)
             |SELECT * FROM agg ORDER BY user_id, s_start""".stripMargin
        .replace("FROM s0", "FROM o")),
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(
            date_format(min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s_start"),
            date_format(max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s_end"),
            cnt.as("n"))
          .select("user_id", "s_start", "s_end", "n")
          .oracleOrder("user_id", "s_start")),

    // Custom-state sessionization: flatMapGroupsWithState with event-time
    // timeout (graft.streaming.Sessionize) over the AvailableNow stream —
    // per-user open-session state; sessions emit either when a larger gap
    // closes them in-batch or when the watermark (maxTs after the data
    // batch; processed by the trailing no-data micro-batch) passes end+gap.
    // Deterministic emitted set: every session except a user's final one
    // ending within the gap of stream end — which IS SQL-expressible: the
    // gaps-and-islands batch sessions minus each user's last session when
    // `s_end > max(ts) - gap` (the CustomStateSpec rule, now also the
    // DuckDB oracle, so the engine's state machine is hash-checked against
    // an independent engine, not just its own batch twin).
    Q(
      "stream_custom_state_sessions",
      Some("""WITH o AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |              >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events),
             |s AS (
             |  SELECT user_id, ts,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM o),
             |agg AS (
             |  SELECT user_id, min(ts) AS t_start, max(ts) AS t_end,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM s GROUP BY user_id, sid),
             |mx AS (SELECT max(ts) AS mts FROM events),
             |r AS (
             |  SELECT user_id, t_start, t_end, n,
             |    row_number() OVER (PARTITION BY user_id ORDER BY t_end DESC) AS rn
             |  FROM agg)
             |SELECT user_id,
             |  strftime(t_start, '%Y-%m-%d %H:%M:%S.%f') AS s_start,
             |  strftime(t_end, '%Y-%m-%d %H:%M:%S.%f') AS s_end, n
             |FROM r, mx
             |WHERE NOT (rn = 1 AND t_end > mts - INTERVAL 30 MINUTE)
             |ORDER BY user_id, s_start""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        import s.implicits._
        import graft.streaming.Sessionize
        val sessions = eventsStream(s, dir)
          .withWatermark("ts", "0 seconds")
          .select("user_id", "ts", "event_id")
          .as[Sessionize.Ev]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append,
            org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
            Sessionize.apply)
        drainToMemory(s, sessions, "append").rows
          .oracleOrder("user_id", "s_start")
      }),

    // Online CUSUM drift alarms (VERDICT r18 item 8): the STREAMING twin
    // of the batch custom operator behind `window_cusum_alert` —
    // flatMapGroupsWithState (graft.streaming.CusumAlert) folds each
    // user's clamped sum S_t = max(0, S_{t-1} + (x_t − 60)) across
    // micro-batches and emits an alarm row AT EACH ONSET (S crossing 300
    // from at-or-below) — the online form a monitoring pipeline actually
    // consumes, where the batch row reports post-hoc counts. Emission is
    // in-batch (append mode), so the emitted set is deterministic and
    // SQL-expressible: the oracle replays the identical double chain as
    // a DuckDB recursive CTE carrying (prev, cur) and filters the
    // crossings — the engine's state machine is hash-checked against an
    // independent engine (and CusumStreamSpec pins it against the batch
    // graft.plans.Cusum operator). The watermark/event-time timeout only
    // GARBAGE-COLLECTS idle users' state (two scalars per live user —
    // bounded state at 100 TB), never emits, so no watermark-edge
    // nondeterminism can enter the result.
    Q(
      "stream_cusum_alert",
      Some("""WITH RECURSIVE base AS (
             |  SELECT user_id, event_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events),
             |c AS (
             |  SELECT user_id, rn, event_id, CAST(0 AS DOUBLE) AS sp,
             |    GREATEST(0, value - 60.0) AS s
             |  FROM base WHERE rn = 1
             |  UNION ALL
             |  SELECT b.user_id, b.rn, b.event_id, c.s AS sp,
             |    GREATEST(0, c.s + (b.value - 60.0)) AS s
             |  FROM base b JOIN c ON b.user_id = c.user_id AND b.rn = c.rn + 1)
             |SELECT CAST(user_id AS BIGINT) AS user_id,
             |  CAST(event_id AS BIGINT) AS event_id, ROUND(s, 6) AS cusum
             |FROM c WHERE s > 300.0 AND sp <= 300.0
             |ORDER BY user_id, event_id""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        import s.implicits._
        import graft.streaming.CusumAlert
        val alarms = eventsStream(s, dir)
          .withWatermark("ts", "0 seconds")
          .select("user_id", "ts", "event_id", "value")
          .as[CusumAlert.Ev]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append,
            org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
            CusumAlert.apply)
        // 6-dp presentation round happens HERE (Spark's own round, the
        // same one the batch row uses) — the state machine emits the raw
        // fold value, so no hand-rolled rounding can drift from the
        // engines' shared ROUND semantics.
        drainToMemory(s, alarms, "append").rows
          .select(col("user_id"), col("event_id"),
            round(col("cusum"), 6).as("cusum"))
          .oracleOrder("user_id", "event_id")
      }),

    // foreachBatch sink: the production escape hatch for sinks Structured
    // Streaming lacks natively (upserts, JDBC, multi-table writes). Complete
    // mode + overwrite per micro-batch => the final batch holds the full
    // aggregate, so the read-back equals the batch twin and shares its
    // oracle shape.
    Q(
      "stream_foreachbatch_sink",
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS ws,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val out = Scratch.path("graft_feb_sink")
        runToEnd(eventsStream(s, dir)
          .groupBy(window(col("ts"), "1 hour"))
          .agg(cnt.as("n"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("n"))
          .writeStream
          .outputMode("complete")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("overwrite").parquet(out)
          })
        s.read.parquet(out).oracleOrder("ws")
      }),

    // Stream-stream FULL OUTER join — the family completion past the left
    // outer variant: BOTH sides emit watermark-expiry nulls. A view's
    // null row emits when the watermark passes its match horizon
    // v_ts + 10 min (it can only pair with LATER clicks); a click's null
    // row emits when the watermark passes c_ts itself (it can only pair
    // with EARLIER-OR-EQUAL views, so once no older view can arrive its
    // state is provably dead) — the asymmetry falls straight out of the
    // time-bound direction and the oracle models both sides exactly.
    Q(
      "stream_stream_full_outer",
      Some("""WITH wm AS (
             |  SELECT least(
             |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             |      WHERE event_type='view'),
             |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             |      WHERE event_type='click')) - 86400000000 AS wm_us),
             |matched AS (
             |  SELECT v.event_id AS view_id, c.event_id AS click_id,
             |    v.user_id, epoch_us(c.ts) - epoch_us(v.ts) AS delta_us
             |  FROM events v JOIN events c
             |    ON v.user_id = c.user_id
             |   AND v.event_type = 'view' AND c.event_type = 'click'
             |   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE),
             |unmatched_v AS (
             |  SELECT v.event_id AS view_id, CAST(NULL AS BIGINT) AS click_id,
             |    v.user_id, CAST(NULL AS BIGINT) AS delta_us
             |  FROM events v, wm
             |  WHERE v.event_type = 'view'
             |    AND epoch_us(v.ts) + 600000000 < wm.wm_us
             |    AND NOT EXISTS (
             |      SELECT 1 FROM events c
             |      WHERE c.user_id = v.user_id AND c.event_type = 'click'
             |        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE)),
             |unmatched_c AS (
             |  SELECT CAST(NULL AS BIGINT) AS view_id, c.event_id AS click_id,
             |    c.user_id, CAST(NULL AS BIGINT) AS delta_us
             |  FROM events c, wm
             |  WHERE c.event_type = 'click'
             |    AND epoch_us(c.ts) < wm.wm_us
             |    AND NOT EXISTS (
             |      SELECT 1 FROM events v
             |      WHERE v.user_id = c.user_id AND v.event_type = 'view'
             |        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE))
             |SELECT * FROM matched
             |UNION ALL SELECT * FROM unmatched_v
             |UNION ALL SELECT * FROM unmatched_c
             |ORDER BY view_id NULLS FIRST, click_id""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val views = typedEventsStream(s, dir, "view")
          .select(
            col("event_id").as("view_id"), col("user_id"),
            col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 day")
        val clicks = typedEventsStream(s, dir, "click")
          .select(
            col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "1 day")
        val joined = views.join(
          clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
          "full_outer")
        drainToMemory(s, joined, "append").rows
          .select(
            col("view_id"), col("click_id"),
            coalesce(col("user_id"), col("c_user")).as("user_id"),
            (unix_micros(col("c_ts")) - unix_micros(col("v_ts")))
              .as("delta_us"))
          .oracleOrder("view_id", "click_id")
      }),

    // Streaming CDC upsert sink — the Delta-style streaming MERGE on
    // vanilla parquet: a change stream (updates keyed on o_orderkey,
    // status 'U', price uplift; inserts keyed past the base range, status
    // 'N') lands in three key-disjoint micro-batches, and each batch
    // applies a keyed full-outer merge into the parquet target inside
    // foreachBatch (read current target → merge the batch → localCheckpoint
    // → overwrite). Because batches are key-disjoint, the final table is
    // exactly the batch merge of ALL changes — the sink_upsert_merge
    // oracle verifies the read-back. At 100 TB the full-rewrite-per-batch
    // becomes partition-targeted rewrites (merge only the partitions the
    // batch's keys hash to) or a real lakehouse MERGE, but the
    // foreachBatch-owns-the-merge control flow is exactly this one.
    Q(
      "stream_cdc_upsert_sink",
      Some("""WITH upd AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         o_totalprice * 1.1 AS o_totalprice
             |  FROM orders WHERE o_orderkey % 10 = 0),
             |ins AS (
             |  SELECT o_orderkey + 100000000 AS o_orderkey,
             |         'N' AS o_orderstatus, o_totalprice
             |  FROM orders WHERE o_orderkey % 1000 = 7),
             |cdc AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
             |merged AS (
             |  SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
             |    coalesce(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             |    coalesce(c.o_totalprice, b.o_totalprice) AS o_totalprice
             |  FROM orders b FULL JOIN cdc c ON b.o_orderkey = c.o_orderkey)
             |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS s
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val base = Tables(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        // Stage the three key-disjoint change batches (single-file
        // parquet) — repeated runs measure the streaming merge, not the
        // change derivation.
        val batches = Staged.memo(s, dir, "stream/cdc_batches") {
          val upd = base.filter(col("o_orderkey") % 10 === 0)
            .select(
              col("o_orderkey"), lit("U").as("o_orderstatus"),
              (col("o_totalprice") * 1.1).as("o_totalprice"))
          val ins = base.filter(col("o_orderkey") % 1000 === 7)
            .select(
              (col("o_orderkey") + 100000000L).as("o_orderkey"),
              lit("N").as("o_orderstatus"), col("o_totalprice"))
          val cdc = upd.unionAll(ins)
          val stage = Scratch.path("graft_cdc_batches")
          (0 until 3).map { b =>
            writeSingleParquet(cdc.filter(pmod(col("o_orderkey"), lit(3)) === b),
              s"$stage/batch$b")
          }
        }
        val run = Scratch.path("graft_cdc_run")
        val target = s"$run/target"
        val log = s"$run/log"
        val ckpt = s"$run/ckpt"
        // PARTITION-TARGETED merge (ADVICE r14): the target is laid out in
        // key-hash buckets (`pb = o_orderkey % 3` — the same function that
        // makes the staged change batches key-disjoint), so each
        // micro-batch's merge reads and rewrites EXACTLY the one bucket its
        // keys hash to instead of the whole table. This is the real
        // lakehouse MERGE shape: at 100 TB a change batch touches its
        // partitions, never the full target. The merge mutates its target,
        // so each run clones a staged PRISTINE partitioned copy with a
        // plain file copy instead of re-paying the partitioned write.
        val pristine = Staged.memo(s, dir, "stream/cdc_pristine") {
          val p = Scratch.path("graft_cdc_pristine")
          base.withColumn("pb", pmod(col("o_orderkey"), lit(3)))
            .write.mode("overwrite").partitionBy("pb").parquet(p)
          p
        }
        copyDir(pristine, target)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(log))
        batches.zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.copy(
            f, java.nio.file.Paths.get(log, s"batch$i.parquet"))
        }
        runToEnd(s.readStream
          .schema(s.read.parquet(batches.head.toString).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(log)
          .writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // Every staged batch is key-pure in pb; an empty micro-batch
            // (AvailableNow's trailing commit) merges nothing.
            batch.select(pmod(col("o_orderkey"), lit(3)).as("pb"))
              .distinct().collect().map(_.getLong(0)).foreach { b =>
              val part = s"$target/pb=$b"
              val merged = s.read.parquet(part).as("b")
                .join(batch.as("c"),
                  col("b.o_orderkey") === col("c.o_orderkey"), "full_outer")
                .select(
                  coalesce(col("c.o_orderkey"), col("b.o_orderkey"))
                    .as("o_orderkey"),
                  coalesce(col("c.o_orderstatus"), col("b.o_orderstatus"))
                    .as("o_orderstatus"),
                  coalesce(col("c.o_totalprice"), col("b.o_totalprice"))
                    .as("o_totalprice"))
                // Materialize BEFORE overwriting the directory being read.
                .localCheckpoint()
              merged.write.mode("overwrite").parquet(part)
            }
          }, ckpt)
        s.read.parquet(target)
          .groupBy("o_orderstatus")
          .agg(cnt.as("n"), round(dsum(col("o_totalprice")), 4).as("s"))
          .oracleOrder("o_orderstatus")
      }),

    // ONLINE incremental aggregate-view maintenance — the streaming twin
    // of `sink_incremental_agg_maintain`, completing the view-maintenance
    // family's online form the way `stream_cusum_alert` completed the
    // anomaly family. The fact stream arrives as two ordered micro-batches
    // (the 90% snapshot load, then the 10% delta — maxFilesPerTrigger=1
    // over a two-file spool); foreachBatch folds EACH batch to per-key
    // PARTIAL aggregates (n, decimal s — key-cardinality-sized, never the
    // raw rows) and merges them into the parquet serving view with the
    // identical commutative merge arithmetic the batch row uses
    // (n := n₀+n₁, s := s₀+s₁ — exact decimal adds). Because the merge is
    // commutative+associative, the served view is independent of how the
    // stream was batched, and converges to the full recompute — which IS
    // the oracle (same SQL as the batch row). At 100 TB each maintenance
    // pass aggregates only the arriving micro-batch and rewrites a
    // key-cardinality-sized view: the base table is never rescanned.
    Q(
      "stream_incremental_agg_maintain",
      Some("""SELECT o_orderpriority AS pri, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS s
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        // Stage the two-file ordered spool:
        // part-0 = the 90% snapshot batch, part-1 = the 10% delta batch
        // (lexicographic names pin arrival order — the file source breaks
        // equal-mod-time ties by path).
        val spool = Staged.memo(s, dir, "stream/aggview_spool") {
          val p = Scratch.path("graft_aggview_spool")
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
          val orders = Tables(s, dir, "orders")
            .select(col("o_orderkey"),
              col("o_orderpriority").as("pri"), col("o_totalprice"))
          Seq(orders.filter(col("o_orderkey") % 10 =!= 0),
              orders.filter(col("o_orderkey") % 10 === 0))
            .zipWithIndex.foreach { case (df, i) =>
              val part = writeSingleParquet(
                df, Scratch.path(s"graft_aggview_stage$i"))
              java.nio.file.Files.move(
                part, java.nio.file.Paths.get(p, s"part-$i.parquet"))
            }
          p
        }
        val run = Scratch.path("graft_aggview_run")
        val view = s"$run/view"
        val ckpt = s"$run/ckpt"
        def partials(df: DataFrame): DataFrame =
          df.groupBy("pri").agg(
            cnt.as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 6))).as("s"))
        runToEnd(s.readStream
          .schema(s.read.parquet(spool).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(spool)
          .writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val delta = partials(batch)
              .withColumnRenamed("n", "dn").withColumnRenamed("s", "ds")
            if (!java.nio.file.Files.exists(java.nio.file.Paths.get(view))) {
              delta.select(col("pri"), col("dn").as("n"), col("ds").as("s"))
                .write.parquet(view)
            } else {
              val merged = s.read.parquet(view)
                .join(delta, Seq("pri"), "full_outer")
                .select(col("pri"),
                  (coalesce(col("n"), lit(0L)) +
                    coalesce(col("dn"), lit(0L))).as("n"),
                  (coalesce(col("s"), lit(0).cast(DecimalType(18, 6))) +
                    coalesce(col("ds"), lit(0).cast(DecimalType(18, 6))))
                    .as("s"))
                // Materialize BEFORE overwriting the directory being read.
                .localCheckpoint()
              merged.write.mode("overwrite").parquet(view)
            }
          }, ckpt)
        s.read.parquet(view)
          .select(col("pri"), col("n"),
            round(col("s").cast("double"), 4).as("s"))
          .oracleOrder("pri")
      }),

    // The TensorBoard LIVE reader (trainer/tensorboard.ipynb:36-55) as a
    // real stream: three epoch generations of (name, bucket, value, epoch)
    // metric rows land in an append log; a file stream tails it one file
    // per micro-batch (each generation = one file) and maintains the
    // serving view — latest value per metric key via max_by(value, epoch)
    // plus the version count — in a complete-mode aggregation. State is one
    // row per metric key, watermark-free because the key space (metrics x
    // buckets), not the event volume, bounds it. Shares the compact-serve
    // oracle: the final view must equal the batch compaction.
    Q(
      "stream_metrics_live_read",
      Some("""SELECT event_type AS name,
             |  CAST(date_trunc('month', ts) AS DATE) AS bucket,
             |  CAST(COUNT(*) AS DOUBLE) AS value,
             |  CAST(1 + (CASE WHEN MIN(day(ts)) <= 10 THEN 1 ELSE 0 END)
             |         + (CASE WHEN MIN(day(ts)) <= 20 THEN 1 ELSE 0 END) AS INT)
             |    AS n_versions
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        // One file per generation so the stream genuinely tails the log
        // incrementally (3 micro-batches), not as one bulk load.
        val logDir = Staged.memo(s, dir, "stream/metrics_spool") {
          val p = Scratch.path("graft_metric_spool")
          for ((maxDay, e) <- Seq(10, 20, 31).zipWithIndex) {
            Tables(s, dir, "events")
              .filter(dayofmonth(col("ts")) <= maxDay)
              .groupBy(
                col("event_type").as("name"),
                date_trunc("month", col("ts")).cast("date").as("bucket"))
              .agg(cnt.cast("double").as("value"))
              .withColumn("epoch", lit(e + 1))
              .coalesce(1)
              .write.mode("append").parquet(p)
          }
          p
        }
        val served = s.readStream
          .schema("name STRING, bucket DATE, value DOUBLE, epoch INT")
          .option("maxFilesPerTrigger", "1")
          .parquet(logDir)
          .groupBy("name", "bucket")
          .agg(
            max_by(col("value"), col("epoch")).as("value"),
            cnt.cast("int").as("n_versions"))
        drainToMemory(s, served, "complete").rows.oracleOrder("name", "bucket")
      }),

    // Restart/recovery across process generations — THE operational
    // property of Structured Streaming (reference analog: TensorBoard's
    // reader surviving trainer restarts, trainer/tensorboard.ipynb:36-55 +
    // flax_model.py:377 restore). Leg 1 tails three epoch generations of
    // the metrics log (one file per micro-batch) into a complete-mode
    // serving view, then STOPS. A 4th generation lands. Leg 2 restarts
    // with the SAME checkpoint dir: the file-source log replays nothing —
    // only the new file is processed — and the aggregation state restores,
    // so the final view equals the batch compaction of all 4 generations.
    // Exactly-once is oracle-CHECKED, not just asserted: `run2_input_rows`
    // (the rows leg 2 actually ingested, from StreamingQueryProgress) must
    // equal the distinct metric-key count — the size of the one new file —
    // which the oracle computes independently from `events`. Reprocessing
    // any old generation would inflate it; losing the new one would zero it.
    Q(
      "stream_restart_exactly_once",
      Some("""SELECT event_type AS name,
             |  CAST(date_trunc('month', ts) AS DATE) AS bucket,
             |  CAST(COUNT(*) AS DOUBLE) AS value,
             |  CAST(2 + (CASE WHEN MIN(day(ts)) <= 10 THEN 1 ELSE 0 END)
             |         + (CASE WHEN MIN(day(ts)) <= 20 THEN 1 ELSE 0 END) AS INT)
             |    AS n_versions,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM
             |     (SELECT DISTINCT event_type, date_trunc('month', ts) FROM events))
             |    AS run2_input_rows
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val base = Scratch.path("graft_restart")
        val logDir = s"$base/log"
        val ckpt = s"$base/ckpt" // SHARED across both legs — the point
        // The four epoch generations are pure functions of the input dir,
        // so compute them once per (session, dir) and stage each as a
        // single parquet file; a run then COPIES the staged files into its
        // fresh log dir (the checkpoint's file-source log records absolute
        // paths, so the log itself cannot be shared across runs). This
        // keeps repeated runs measuring the streaming legs — the thing
        // under test — not four re-aggregations of `events`.
        val genFiles = Staged.memo(s, dir, "stream/restart_gens") {
          val stage = Scratch.path("graft_restart_gens")
          Seq(10 -> 1, 20 -> 2, 31 -> 3, 31 -> 4).map { case (maxDay, e) =>
            writeSingleParquet(Tables(s, dir, "events")
              .filter(dayofmonth(col("ts")) <= maxDay)
              .groupBy(
                col("event_type").as("name"),
                date_trunc("month", col("ts")).cast("date").as("bucket"))
              .agg(cnt.cast("double").as("value"))
              .withColumn("epoch", lit(e)),
              s"$stage/gen$e")
          }
        }
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
        def emitGeneration(epoch: Int): Unit =
          java.nio.file.Files.copy(
            genFiles(epoch - 1),
            java.nio.file.Paths.get(logDir, s"gen$epoch.parquet"))
        def runLeg() = drainToMemory(s, s.readStream
          .schema("name STRING, bucket DATE, value DOUBLE, epoch INT")
          .option("maxFilesPerTrigger", "1")
          .parquet(logDir)
          .groupBy("name", "bucket")
          .agg(
            max_by(col("value"), col("epoch")).as("value"),
            cnt.cast("int").as("n_versions")), "complete", ckpt)
        Seq(1, 2, 3).foreach(emitGeneration)
        runLeg()
        emitGeneration(4) // the "restarted trainer" emits a new epoch
        val leg2 = runLeg()
        val run2Rows = leg2.query.recentProgress.map(_.numInputRows).sum
        leg2.rows
          .withColumn("run2_input_rows", lit(run2Rows).cast("long"))
          .oracleOrder("name", "bucket")
      }),

    // Stream-static enrichment: the live event stream joins the slowly
    // changing customer dimension (re-read per micro-batch in a real
    // deployment) via broadcast — the map-side dictionary join that never
    // shuffles the stream. The rolled-up segment view is a complete-mode
    // aggregate whose state is one row per segment, bounded by the key
    // space.
    Q(
      "stream_static_enrich",
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_v
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val dim = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val segments = eventsStream(s, dir)
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(cnt.as("n"), round(dsum(col("value")), 4).as("sum_v"))
        drainToMemory(s, segments, "complete").rows.oracleOrder("c_mktsegment")
      }),

    // Stream-stream inner join — the hardest stateful operator Structured
    // Streaming offers: views and clicks are two independent streams of the
    // same event log, joined per user with a time-range bound (click within
    // 10 min after the view). Both sides carry watermarks, so at production
    // volume the join state is evicted once the watermark passes
    // view.ts + 10 min — bounded state, keyed by user_id (the shuffle key),
    // exactly the plan a 1000-executor deployment runs. The batch twin is
    // the oracle: an append-mode stream-stream inner join must emit exactly
    // the batch join's row set.
    Q(
      "stream_stream_join",
      Some("""SELECT v.event_id AS view_id, c.event_id AS click_id,
             |  v.user_id,
             |  epoch_us(c.ts) - epoch_us(v.ts) AS delta_us
             |FROM events v JOIN events c
             |  ON v.user_id = c.user_id
             | AND v.event_type = 'view' AND c.event_type = 'click'
             | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE
             |ORDER BY view_id, click_id""".stripMargin),
      // The inner join also skips the trailing NO-DATA micro-batch: that
      // batch exists to evict state / emit watermark-gated rows, and an
      // inner join emits every row in the data batch — output is
      // batch-identical with it off (the outer variants below MUST keep
      // it: their null rows only emit in that batch).
      // withStreamPartitions (not a raw shuffle-partitions conf) so the
      // graft.stream.partitions sweep knob covers this row too.
      (s, dir) => withStreamPartitions(
        s, "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
        val views = typedEventsStream(s, dir, "view")
          .select(
            col("event_id").as("view_id"), col("user_id"),
            col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 day")
        val clicks = typedEventsStream(s, dir, "click")
          .select(
            col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "1 day")
        val joined = views.join(
          clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
        drainToMemory(s, joined, "append").rows
          .select(
            col("view_id"), col("click_id"), col("user_id"),
            (unix_micros(col("c_ts")) - unix_micros(col("v_ts")))
              .as("delta_us"))
          .oracleOrder("view_id", "click_id")
      }),

    // Stream-stream LEFT OUTER join — the completion of the stream-join
    // family and the hardest emission semantics Structured Streaming has:
    // matched rows emit immediately (inner semantics), but an UNMATCHED
    // view can only emit its null row once the engine PROVES no click can
    // still arrive — i.e. when the global watermark passes the view's
    // match horizon v_ts + 10 min and its state is evicted. Views whose
    // horizon the final watermark has not passed stay in state and emit
    // NOTHING — left outer in append mode is eventually-complete, not
    // batch-equal. The oracle models exactly that: the batch left join
    // restricted to (matched) ∪ (unmatched with v_ts + 10 min < wm),
    // where wm = min over both sides of (ms-floored max event time) − 1
    // day (two watermark nodes, default min policy — each side's max is
    // over its own filtered stream). At production volume this is the
    // bounded-state shape: state keyed on user_id, evicted by the range
    // bound, null emission driven by watermark advance — the op a
    // funnel/attribution pipeline runs to get "view that never converted"
    // rows without a second full-corpus anti-join pass.
    Q(
      "stream_stream_left_outer",
      Some("""WITH wm AS (
             |  SELECT least(
             |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             |      WHERE event_type='view'),
             |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             |      WHERE event_type='click')) - 86400000000 AS wm_us),
             |matched AS (
             |  SELECT v.event_id AS view_id, c.event_id AS click_id,
             |    v.user_id, epoch_us(c.ts) - epoch_us(v.ts) AS delta_us
             |  FROM events v JOIN events c
             |    ON v.user_id = c.user_id
             |   AND v.event_type = 'view' AND c.event_type = 'click'
             |   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE),
             |unmatched AS (
             |  SELECT v.event_id AS view_id, CAST(NULL AS BIGINT) AS click_id,
             |    v.user_id, CAST(NULL AS BIGINT) AS delta_us
             |  FROM events v, wm
             |  WHERE v.event_type = 'view'
             |    AND epoch_us(v.ts) + 600000000 < wm.wm_us
             |    AND NOT EXISTS (
             |      SELECT 1 FROM events c
             |      WHERE c.user_id = v.user_id AND c.event_type = 'click'
             |        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE))
             |SELECT * FROM matched
             |UNION ALL SELECT * FROM unmatched
             |ORDER BY view_id, click_id""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val views = typedEventsStream(s, dir, "view")
          .select(
            col("event_id").as("view_id"), col("user_id"),
            col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 day")
        val clicks = typedEventsStream(s, dir, "click")
          .select(
            col("event_id").as("click_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "1 day")
        val joined = views.join(
          clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
          "left_outer")
        drainToMemory(s, joined, "append").rows
          .select(
            col("view_id"), col("click_id"), col("user_id"),
            (unix_micros(col("c_ts")) - unix_micros(col("v_ts")))
              .as("delta_us"))
          .oracleOrder("view_id", "click_id")
      }),

    // Stream-stream RIGHT OUTER join — completes the four-way stream-join
    // family (inner / left / right / full). The expiry rule mirrors the
    // full outer's click side: an unmatched CLICK emits its null-view row
    // once the watermark passes the click's OWN event time (any matching
    // view must satisfy v_ts <= c_ts, so when wm > c_ts no view can still
    // arrive); clicks the final watermark has not passed stay in state and
    // emit nothing. Same bounded-state shape as the siblings: state keyed
    // on user_id, range-bound eviction, null emission driven purely by
    // watermark advance.
    Q(
      "stream_stream_right_outer",
      Some("""WITH wm AS (
             |  SELECT least(
             |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             |      WHERE event_type='view'),
             |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events
             |      WHERE event_type='click')) - 86400000000 AS wm_us),
             |matched AS (
             |  SELECT v.event_id AS view_id, c.event_id AS click_id,
             |    c.user_id, epoch_us(c.ts) - epoch_us(v.ts) AS delta_us
             |  FROM events v JOIN events c
             |    ON v.user_id = c.user_id
             |   AND v.event_type = 'view' AND c.event_type = 'click'
             |   AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE),
             |unmatched_c AS (
             |  SELECT CAST(NULL AS BIGINT) AS view_id, c.event_id AS click_id,
             |    c.user_id, CAST(NULL AS BIGINT) AS delta_us
             |  FROM events c, wm
             |  WHERE c.event_type = 'click'
             |    AND epoch_us(c.ts) < wm.wm_us
             |    AND NOT EXISTS (
             |      SELECT 1 FROM events v
             |      WHERE v.user_id = c.user_id AND v.event_type = 'view'
             |        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE))
             |SELECT * FROM matched
             |UNION ALL SELECT * FROM unmatched_c
             |ORDER BY view_id NULLS FIRST, click_id""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val views = typedEventsStream(s, dir, "view")
          .select(
            col("event_id").as("view_id"), col("user_id").as("v_user"),
            col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 day")
        val clicks = typedEventsStream(s, dir, "click")
          .select(
            col("event_id").as("click_id"), col("user_id"),
            col("ts").as("c_ts"))
          .withWatermark("c_ts", "1 day")
        val joined = views.join(
          clicks,
          col("user_id") === col("v_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"),
          "right_outer")
        drainToMemory(s, joined, "append").rows
          .select(
            col("view_id"), col("click_id"), col("user_id"),
            (unix_micros(col("c_ts")) - unix_micros(col("v_ts")))
              .as("delta_us"))
          .oracleOrder("view_id", "click_id")
      }),

    // True Structured Streaming run: AvailableNow over the events parquet,
    // 1-day watermark, append-mode windowed counts into a memory sink. Append
    // mode only emits windows the watermark has passed — the late-data policy
    // (drop-beyond-watermark, bounded state) demonstrated for real.
    Q(
      "stream_late_data_policy",
      // The emitted set is deterministic: append mode finalizes exactly the
      // windows the final watermark passed. Watermark = max event time
      // floored to MILLIS minus the 1-day delay (Spark tracks event-time
      // stats in ms); a window is emitted iff window_end <= watermark.
      // Whole-hour window ends are ms-aligned, so the µs→ms floor only
      // matters through maxTs itself — modeled with epoch_us // 1000.
      Some("""WITH mx AS (
             |  SELECT (max(epoch_us(ts)) // 1000) * 1000 - 86400000000 AS wm_us
             |  FROM events),
             |agg AS (
             |  SELECT date_trunc('hour', ts) AS w_start, event_type,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2)
             |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS ws, event_type, n
             |FROM agg, mx
             |WHERE epoch_us(w_start) + 3600000000 <= wm_us
             |ORDER BY ws, event_type""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val windows = eventsStream(s, dir)
          .withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(cnt.as("n"))
          .select(col("window.start").as("ws"), col("event_type"), col("n"))
        drainToMemory(s, windows, "append").rows
          .select(
            date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("event_type"), col("n"))
          .oracleOrder("ws", "event_type")
      }),

    // Streaming DISTINCT counting — the composition the two families imply:
    // exact count(DISTINCT) is unsupported in streaming aggregations
    // (unbounded per-window key state), so the documented production path
    // is the mergeable sketch: approx_count_distinct (HLL++) per tumbling
    // window, O(sketch) state per window regardless of user cardinality.
    // True streaming run (AvailableNow, watermark, append). Sketch
    // estimates are engine-specific, so the hash-checked contract is the
    // INVARIANT per emitted window: the deterministic HLL++ estimate must
    // land within max(4, 15% of exact) of the exact batch distinct
    // (measured worst across sfs: abs 15 on exact 144 at sf0.1 — 3x rsd
    // absorbs the small-window regime where rel-err spikes on tiny
    // counts). The emitted-window set itself is exact append-mode
    // semantics (windows the final watermark passed), same oracle model
    // as stream_late_data_policy; the exact batch join is the
    // verification harness only.
    Q(
      "stream_approx_distinct_windows",
      Some("""WITH mx AS (
             |  SELECT (max(epoch_us(ts)) // 1000) * 1000 - 86400000000 AS wm_us
             |  FROM events),
             |agg AS (
             |  SELECT date_trunc('hour', ts) AS w_start,
             |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
             |  FROM events GROUP BY 1)
             |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS ws, exact_users,
             |  TRUE AS approx_ok
             |FROM agg, mx
             |WHERE epoch_us(w_start) + 3600000000 <= wm_us
             |ORDER BY ws""".stripMargin),
      (s, dir) => withStreamPartitions(s) {
        val approx = drainToMemory(s, eventsStream(s, dir)
          .withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(approx_count_distinct(col("user_id")).as("approx_users"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("approx_users")), "append").rows
        val exact = Tables(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(countDistinct(col("user_id")).cast("long").as("exact_users"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
            col("exact_users"))
        approx
          .join(exact, "ws")
          .select(
            col("ws"), col("exact_users"),
            (abs(col("approx_users") - col("exact_users")) <=
              greatest(lit(4.0), col("exact_users") * 0.15)).as("approx_ok"))
          .oracleOrder("ws")
      }))
}
