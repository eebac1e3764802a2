package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Paths
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop, single-client runner behind `perfbench/run.py`.
  *
  * One JVM, one `local[N]` session. It sets up once (session, native
  * function install, every `graft.Tables` entry cached), then runs the
  * given registry queries one after another: one cold pass, then warm
  * passes until `--seconds` have elapsed since the cold pass began, and at
  * least [[WarmPasses]], with up to [[ExtraWarmPasses]] more while fewer
  * than [[WarmPasses]] were clean. Each pass uses its own seeded
  * permutation of the query list. Every query is built with `Registry.byId(id).run` and
  * evaluated into the `noop` sink, as `graft.Bench` does. Afterwards,
  * untimed, each query's output digest is computed for `run.py` to check
  * against the committed table.
  *
  * Everything is recorded as spans (`run` > `setup` / `pass:<i>` >
  * `query:<id>` > `build` / `action`). With `--trace 1` it also registers a
  * `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener`; their jobs, stages, Catalyst phases and
  * micro-batches become child spans, and each query records the session
  * conf keys it added or changed. All numbers are taken from outside the
  * engine: around calls into its public entry points, and from Spark's
  * public listener events. `run.py` turns the spans into metrics.
  */
object Runner {
  /** Local property naming the span that Spark jobs started now belong to.
    * Local properties are inherited by threads the query starts, such as
    * stream execution threads, which reset the job group itself.
    */
  val SpanProp = "perfbench.span"

  /** Cores of the `local[N]` master; the engine targets a 4-core box. */
  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** Warm passes run even when `--seconds` has already elapsed, and the
    * number `run.py` takes its warm metrics from. A fixed number keeps a
    * fast run from reporting later, warmer passes than a slow one.
    */
  val WarmPasses = 3

  /** A pass is clean when the hypervisor stole at most this share of its
    * wall time, counted in the machine's CPU seconds. On a shared host steal
    * comes in episodes of tens of seconds that slow every query; a pass
    * with more is replaced by one more pass, at most [[ExtraWarmPasses]]
    * times, and `run.py` takes its warm metrics from clean passes first.
    */
  val CleanStealShare = 0.1
  val ExtraWarmPasses = 2

  /** Heap settling: at most this many full collections, this far apart,
    * until two readings differ by at most [[SettleMb]] MiB.
    */
  val SettleMaxGcs = 8
  val SettlePauseMs = 100L
  val SettleMb = 0.5

  final class Span(val id: Int, var parent: Int, val name: String,
      val startNs: Long, var endNs: Long = -1L) {
    val attrs = new JMap[String, Any]()
  }

  /** In-memory span store; written out once, when the run ends. Times are
    * kept as nanoTime and converted to milliseconds since the run began.
    */
  final class Tracer {
    val baseNs: Long = System.nanoTime()
    val baseEpochMs: Long = System.currentTimeMillis()
    private val spans = mutable.ArrayBuffer.empty[Span]

    def open(name: String, parent: Span): Span = synchronized {
      val s = new Span(spans.size, if (parent == null) -1 else parent.id,
        name, System.nanoTime())
      spans += s
      s
    }
    def close(s: Span): Span = { s.endNs = System.nanoTime(); s }

    /** A span reported by a listener in epoch milliseconds. */
    def addEpoch(name: String, parent: Int, startMs: Long, endMs: Long): Span =
      synchronized {
        def ns(ms: Long) = baseNs + (ms - baseEpochMs) * 1000000L
        val s = new Span(spans.size, parent, name, ns(startMs), ns(endMs))
        spans += s
        s
      }

    def all: Seq[Span] = synchronized(spans.toList)

    /** Listener spans that carry no parent (Catalyst phases, micro-batches)
      * attach to the innermost benchmark span whose interval holds their
      * start.
      */
    def attachOrphans(): Unit = synchronized {
      val holders = spans.filter(s => s.name == "build" || s.name == "action" ||
        s.name == "verify" || s.name == "setup")
      spans.filter(s => s.parent < 0 && s.name != "run").foreach { o =>
        holders.filter(h => h.startNs <= o.startNs && o.startNs <= h.endNs)
          .maxByOption(_.startNs).foreach(h => o.parent = h.id)
      }
    }

    def toJson: JList[JMap[String, Any]] = {
      val out = new JList[JMap[String, Any]]()
      all.foreach { s =>
        val m = new JMap[String, Any]()
        m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
        m.put("start_ms", (s.startNs - baseNs) / 1e6)
        m.put("end_ms", (s.endNs - baseNs) / 1e6)
        if (!s.attrs.isEmpty) m.put("attrs", s.attrs)
        out.add(m)
      }
      out
    }
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the whole machine spent busy and had stolen by its
    * hypervisor, from the first line of `/proc/stat` (USER_HZ = 100).
    */
  private def machineCpuS(): Option[(Double, Double)] =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble / 100.0)
        Some((v(0) + v(1) + v(2) + v(5) + v(6), v(7)))
      } finally f.close()
    } catch { case _: Exception => None }

  /** Runs `body` and records on `s` the CPU time that other processes used
    * and that the hypervisor stole meanwhile: the interference a wall time
    * measured on a shared machine carries.
    */
  private def recordInterference[T](s: Span)(body: => T): T = {
    val (m0, p0) = (machineCpuS(), osBean.getProcessCpuTime / 1e9)
    val r = body
    val (m1, p1) = (machineCpuS(), osBean.getProcessCpuTime / 1e9)
    for ((busy0, steal0) <- m0; (busy1, steal1) <- m1) {
      s.attrs.put("others_cpu_s", math.max(0.0, busy1 - busy0 - (p1 - p0)))
      s.attrs.put("steal_s", steal1 - steal0)
    }
    r
  }

  /** Old-generation usage after one full collection, in MiB. */
  private def fullGcOldGenMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0
  }

  /** Old-generation usage after a full collection once the heap has settled,
    * in MiB, with every reading taken on the way. A collection only queues
    * the broadcasts and shuffles of finished queries for Spark's cleaner
    * thread, which then drops their blocks; read at once, the figure would
    * depend on which query happened to run last. So listener events are
    * drained and collections repeated until two readings agree.
    */
  private def settledOldGenMb(sc: SparkContext): (Double, Seq[Double]) = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    val readings = mutable.ArrayBuffer(fullGcOldGenMb())
    while (readings.size < SettleMaxGcs &&
        (readings.size < 2 || math.abs(readings.last - readings(readings.size - 2)) > SettleMb)) {
      Thread.sleep(SettlePauseMs)
      readings += fullGcOldGenMb()
    }
    (readings.last, readings.toSeq)
  }

  private def confMap(spark: SparkSession): Map[String, String] = spark.conf.getAll

  private def confChanges(before: Map[String, String],
      after: Map[String, String]): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    (before.keySet ++ after.keySet).toSeq.sorted.foreach { k =>
      val (b, a) = (before.get(k), after.get(k))
      if (b != a) m.put(k, java.util.Arrays.asList(b.orNull, a.orNull))
    }
    m
  }

  /** Order-insensitive digest of a result: row count plus the exact sum of
    * a 64-bit hash of each row. Columns are taken in name order; doubles
    * are rendered to 10 significant digits so the last bits of a
    * floating-point sum, which depend on the order partial aggregates
    * merge in, do not change the digest.
    */
  def digest(df: DataFrame): String = {
    val names = df.columns
    val renamed = df.toDF(names.indices.map(i => s"_c$i"): _*)
    def fmt(c: Column): Column = format_string("%.9e", c.cast(DoubleType) + lit(0.0))
    val parts: Seq[Column] = names.indices.sortBy(i => (names(i), i)).map { i =>
      val c = col(s"_c$i")
      val s = renamed.schema(i).dataType match {
        case DoubleType | FloatType => fmt(c)
        case ArrayType(DoubleType | FloatType, _) => to_json(transform(c, fmt _))
        case _: ArrayType | _: MapType | _: StructType => to_json(struct(c))
        case _ => c.cast(StringType)
      }
      coalesce(s, lit("\u0000"))
    }
    val rowHash = xxhash64(concat_ws("\u0001", parts: _*))
    val r = renamed.select(rowHash.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Collects jobs, stages and task metrics as child spans of the span
    * named by [[SpanProp]] when each job started.
    */
  final class JobListener(tracer: Tracer) extends SparkListener {
    private val jobSpan = mutable.Map.empty[Int, Span]
    private val jobStages = mutable.Map.empty[Int, Seq[Int]]
    private val stageJob = mutable.Map.empty[Int, Span]
    private val submitted = mutable.Map.empty[Int, Long]
    private val stageAgg = mutable.Map.empty[(Int, Int), mutable.Map[String, Double]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val s = tracer.addEpoch(s"job:${e.jobId}", parent, e.time, e.time)
      jobSpan(e.jobId) = s
      jobStages(e.jobId) = e.stageIds
      e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, s))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { s =>
        s.endNs = tracer.baseNs + (e.time - tracer.baseEpochMs) * 1000000L
        s.attrs.put("stages_skipped",
          jobStages.remove(e.jobId).getOrElse(Nil).count(st => !submitted.contains(st)))
        s.attrs.put("succeeded", e.jobResult == JobSucceeded)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      submitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(0L)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stageAgg.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.Map.empty[String, Double].withDefaultValue(0.0))
      a("tasks") += 1
      if (e.reason != TaskSuccess) a("task_failures") += 1
      val m = e.taskMetrics
      if (m != null) {
        a("cpu_ms") += m.executorCpuTime / 1e6
        a("run_ms") += m.executorRunTime
        a("gc_ms") += m.jvmGCTime
        a("deser_ms") += m.executorDeserializeTime
        a("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        a("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        a("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        a("spill_memory_bytes") += m.memoryBytesSpilled
        a("spill_disk_bytes") += m.diskBytesSpilled
        a("output_bytes") += m.outputMetrics.bytesWritten
        a("output_records") += m.outputMetrics.recordsWritten
      }
      a("launch_delay_ms") +=
        e.taskInfo.launchTime - submitted.getOrElse(e.stageId, e.taskInfo.launchTime)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val parent = stageJob.get(info.stageId).map(_.id).getOrElse(-1)
      val start = info.submissionTime.getOrElse(0L)
      val s = tracer.addEpoch(s"stage:${info.stageId}", parent, start,
        info.completionTime.getOrElse(start))
      val a = stageAgg.remove((info.stageId, info.attemptNumber()))
        .getOrElse(mutable.Map.empty[String, Double].withDefaultValue(0.0))
      a.foreach { case (k, v) => s.attrs.put(k, v) }
      s.attrs.put("failed", info.failureReason.isDefined)
    }
  }

  final class PhaseListener(tracer: Tracer) extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        tracer.addEpoch(s"catalyst.$phase", -1, p.startTimeMs, p.endTimeMs)
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  final class BatchListener(tracer: Tracer) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val s = tracer.addEpoch("microbatch", -1, start, start + d.getOrElse("triggerExecution", 0L))
      d.foreach { case (k, v) => s.attrs.put(s"$k.ms", v) }
      s.attrs.put("state_rows", p.stateOperators.map(_.numRowsTotal).sum)
      s.attrs.put("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
      s.attrs.put("input_rows", p.numInputRows)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val dataDir = a("data")
    val ids = a("queries").split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"

    val tracer = new Tracer
    val run = tracer.open("run", null)
    val jvmStartEpochMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up, timed from JVM start until every table is cached.
    val su = tracer.open("setup", run)
    val sessionSpan = tracer.open("session", su)
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.close(sessionSpan)
    val confBefore = confMap(spark)
    val nat = tracer.open("native.install", su)
    graft.functions.Native.register(spark)
    tracer.close(nat)
    graft.Tables.names.foreach { t =>
      val ts = tracer.open(s"tables.load:$t", su)
      graft.Tables(spark, dataDir, t).count()
      tracer.close(ts)
    }
    tracer.close(su)
    su.attrs.put("setup_s", (System.currentTimeMillis() - jvmStartEpochMs) / 1000.0)
    su.attrs.put("cached_mb", spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0)
    val sc: SparkContext = spark.sparkContext
    def recordHeap(s: Span): Unit = {
      val (mb, readings) = settledOldGenMb(sc)
      s.attrs.put("old_gen_mb", mb)
      s.attrs.put("old_gen_readings_mb", readings.asJava)
    }
    recordHeap(su)
    val setupConf = confChanges(confBefore, confMap(spark))

    if (trace) {
      sc.addSparkListener(new JobListener(tracer))
      spark.listenerManager.register(new PhaseListener(tracer))
      spark.streams.addListener(new BatchListener(tracer))
    }

    def runPass(i: Int): Span = {
      val ps = tracer.open(s"pass:$i", run)
      val (gc0, jit0) = (gcMs, jitMs)
      recordInterference(ps) {
        new Random(seed * 1000003L + i).shuffle(ids).foreach { id =>
          val q = tracer.open(s"query:$id", ps)
          q.attrs.put("id", id)
          val confBefore = if (trace) confMap(spark) else null
          var open: Span = null
          try {
            open = tracer.open("build", q)
            sc.setLocalProperty(SpanProp, open.id.toString)
            val df = graft.Registry.byId(id).run(spark, dataDir)
            tracer.close(open)
            open = tracer.open("action", q)
            sc.setLocalProperty(SpanProp, open.id.toString)
            df.write.format("noop").mode("overwrite").save()
            tracer.close(open)
            q.attrs.put("ok", true)
          } catch {
            case e: Throwable =>
              if (open != null && open.endNs < 0) tracer.close(open)
              q.attrs.put("ok", false)
              q.attrs.put("error", s"${e.getClass.getName}: ${e.getMessage}".take(500))
          } finally sc.setLocalProperty(SpanProp, null)
          tracer.close(q)
          if (trace) {
            val ch = confChanges(confBefore, confMap(spark))
            if (!ch.isEmpty) q.attrs.put("conf_changes", ch)
          }
        }
      }
      tracer.close(ps)
      ps.attrs.put("gc_ms", gcMs - gc0)
      ps.attrs.put("jit_ms", jitMs - jit0)
      recordHeap(ps)
      ps
    }

    def clean(ps: Span): Boolean = Option(ps.attrs.get("steal_s")).forall(steal =>
      steal.asInstanceOf[Double] <= CleanStealShare * (ps.endNs - ps.startNs) / 1e9)
    val loopStart = System.nanoTime()
    var pass = 0
    var cleanWarm = 0
    while (pass < 1 + WarmPasses ||
        (cleanWarm < WarmPasses && pass < 1 + WarmPasses + ExtraWarmPasses) ||
        (System.nanoTime() - loopStart) / 1e9 < seconds) {
      val ps = runPass(pass)
      val c = clean(ps)
      ps.attrs.put("clean", c)
      if (pass > 0 && c) cleanWarm += 1
      pass += 1
    }

    // Untimed verification: one digest per query.
    val vs = tracer.open("verify", run)
    sc.setLocalProperty(SpanProp, vs.id.toString)
    val digests = new JMap[String, Any]()
    ids.distinct.sorted.foreach { id =>
      val d =
        try digest(graft.Registry.byId(id).run(spark, dataDir))
        catch { case e: Throwable => s"error: ${e.getClass.getName}: ${e.getMessage}".take(500) }
      digests.put(id, d)
    }
    sc.setLocalProperty(SpanProp, null)
    tracer.close(vs)
    if (trace) org.apache.spark.perfbench.ListenerDrain(sc)
    tracer.close(run)
    tracer.attachOrphans()

    val out = new JMap[String, Any]()
    val config = new JMap[String, Any]()
    config.put("master", sc.master)
    config.put("cpus", Cpus)
    config.put("warm_passes", WarmPasses)
    config.put("clean_steal_share", CleanStealShare)
    config.put("extra_warm_passes", ExtraWarmPasses)
    config.put("spark_version", spark.version)
    config.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    config.put("aqe", spark.conf.get("spark.sql.adaptive.enabled"))
    config.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    config.put("jvm_args", ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("--add-opens")).asJava)
    out.put("config", config)
    out.put("setup_conf_changes", setupConf)
    out.put("digests", digests)
    out.put("spans", tracer.toJson)
    new ObjectMapper().writeValue(Paths.get(a("out")).toFile, out)
    spark.stop()
  }
}
