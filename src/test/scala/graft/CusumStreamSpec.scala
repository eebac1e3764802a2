package graft

import org.apache.spark.sql.functions._

/** Emitted-set pin for `stream_cusum_alert` (VERDICT r18 item 8): the
  * flatMapGroupsWithState online CUSUM must emit exactly the alarm ONSETS
  * the batch custom operator (`graft.plans.Cusum`, already proven bit-exact
  * against a sequential fold in CusumSpec) derives declaratively — the
  * batch/streaming duality the sessionizer family has. Also pins
  * state-store-parallelism invariance via the `graft.stream.partitions`
  * knob (the PartitionInvarianceSpec discipline).
  */
class CusumStreamSpec extends SparkSpec {

  private def streamed(): Seq[(Long, Long, Double)] =
    Registry.byId("stream_cusum_alert").run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))

  /** Batch twin: the custom Cusum operator + a lag window picks the
    * rows where S crosses the threshold from at-or-below.
    */
  private def batchOnsets(): Seq[(Long, Long, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val withS = graft.plans.Cusum.applied(
      Tables(spark, sf, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value")),
      k = graft.streaming.CusumAlert.K,
      group = Seq("user_id"), order = Seq("ts", "event_id"),
      valueCol = "value")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val h = graft.streaming.CusumAlert.H
    withS
      .withColumn("sp", lag(col("cusum"), 1, 0.0).over(w))
      .filter(col("cusum") > h && col("sp") <= h)
      .select(col("user_id"), col("event_id"),
        round(col("cusum"), 6).as("cusum"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))
  }

  test("streaming onsets equal the batch custom-operator onsets") {
    val b = batchOnsets()
    assert(b.nonEmpty, "fixture must produce at least one alarm onset")
    assert(streamed() == b)
  }

  test("emitted set is invariant to state-store parallelism") {
    def at(n: Int): Seq[(Long, Long, Double)] =
      queries.Confs.scoped(spark, "graft.stream.partitions" -> n.toString)(streamed())
    assert(at(1) == at(3))
  }

  /** Multi-batch path (ADVICE r19): the registry row runs the whole spool
    * as ONE AvailableNow batch, so cross-batch state carryover and the
    * watermark's late-row filter were never exercised. This leg replays
    * the identical state machine over a 3-file TIME-ORDERED spool with
    * maxFilesPerTrigger=1 (3 data micro-batches): in-order arrival is the
    * operator's documented contract — an online CUSUM folds events in
    * arrival order, and the oracle equivalence assumes arrival order ==
    * event-time order (true for the single-batch registry row because the
    * batch is sorted in-operator, true here by construction). With the
    * ordered split, no row is late (each batch's min ts >= the previous
    * batch's max, the watermark source), so the emitted onsets must equal
    * the batch operator's EXACTLY, now with state flowing through the
    * store across batches.
    */
  test("multi-batch time-ordered replay equals the batch onsets") {
    import spark.implicits._
    import graft.queries.Scratch
    import graft.queries.StreamingQueries.{drainToMemory, writeSingleParquet}
    import graft.streaming.CusumAlert
    val rows = Tables(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._2.getTime, t._3))
    val spool = Scratch.path("cusum_mb")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(spool))
    val n = rows.length
    require(n >= 3)
    (0 until 3).foreach { i =>
      val slice = rows.slice(i * n / 3, (i + 1) * n / 3).toSeq
      val part = writeSingleParquet(
        slice.toDF("user_id", "ts", "event_id", "value"),
        Scratch.path("cusum_mb_part"))
      // Lexicographic name == arrival order: the file source breaks
      // equal-mod-time ties by path.
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$spool/part-$i.parquet"))
    }
    val schema = Tables(spark, sf, "events")
      .select("user_id", "ts", "event_id", "value").schema
    val run = drainToMemory(spark, spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(spool)
      .withWatermark("ts", "0 seconds")
      .as[CusumAlert.Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append,
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
        CusumAlert.apply), "append")
    val dataBatches = run.query.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected >=3 data micro-batches, got $dataBatches")
    val got = run.rows
      .select(col("user_id"), col("event_id"), round(col("cusum"), 6).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got == batchOnsets())
  }
}
