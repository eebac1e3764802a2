package graft
import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.Native
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one timing main. It runs every registry row (or the
  * `SPARK_GRAFT_ONLY` subset) min-of-two in one session and writes the
  * envelope `bench_full.json`, plus `BENCH_FULL_rNN.json` for a full run.
  * Harness rule: a timing question is answered here, not by a main of its
  * own; a config probe goes through `SPARK_GRAFT_EXTRA_JVM`
  * (e.g. `-Dspark.sql.adaptive.enabled=false`), which the envelope's `run`
  * block stamps; the drift constants live in `tools/canary_pins.json`.
  */
object Bench {
  private val json = new ObjectMapper()

  /** Drift references: the committed pin envelope's per-row values
    * (`all`), the canary subset of them, and the pin capture's own ratio
    * vs the r17 drift-free box (`scale`), compounded into every ratio so
    * stamped ratios stay on the r17 scale.
    */
  private[graft] final case class Pins(
      file: String, scale: Double, canary: Map[String, Double], all: Map[String, Double],
      master: Option[String])

  /** Reads `pin_file`, `pin_scale_vs_r17`, `canary_rows` and `pin_master`
    * (the Spark master the pin envelope ran on) from the manifest and the
    * reference values from the pin envelope it names. An
    * unreadable envelope gives empty references (the caller warns); a
    * missing manifest, or a canary row the envelope does not pin, throws.
    */
  private[graft] def loadPins(manifest: String = "tools/canary_pins.json"): Pins = {
    val m = json.readTree(new File(manifest))
    val file = m.get("pin_file").asText
    val all =
      if (!Files.isReadable(Paths.get(file))) Map.empty[String, Double]
      else json.readTree(new File(file)).get("queries").properties.asScala
        .map(e => e.getKey -> e.getValue.asDouble).toMap
    val canary = if (all.isEmpty) Map.empty[String, Double] else
      m.get("canary_rows").properties.asScala.map(_.getKey).map(k => k -> all.getOrElse(k,
        throw new IllegalStateException(s"canary row $k has no pin in $file"))).toMap
    Pins(file, m.get("pin_scale_vs_r17").asDouble, canary, all,
      Option(m.get("pin_master")).map(_.asText))
  }

  /** The config a run measured under, stamped as the envelope's `run`
    * block: master (hence cpus), the effective shuffle partitions and AQE
    * flag, max heap, `SPARK_GRAFT_EXTRA_JVM` verbatim, the ObjectHashAggregate
    * fallback threshold, the codegen cache capacity, the artifact isolation
    * flag and git HEAD (null outside a checkout).
    */
  private[graft] def runJson(spark: SparkSession): String = {
    val conf = spark.conf
    val head =
      if (!Files.exists(Paths.get(".git"))) null
      else scala.util.Try(sys.process.Process(Seq("git", "rev-parse", "HEAD")).!!.trim)
        .getOrElse(null)
    val run = json.createObjectNode()
      .put("master", spark.sparkContext.master)
      .put("shuffle_partitions", conf.get("spark.sql.shuffle.partitions").toInt)
      .put("adaptive", conf.get("spark.sql.adaptive.enabled").toBoolean)
      .put("max_heap_mib", Runtime.getRuntime.maxMemory >> 20)
      .put("extra_jvm", sys.env.get("SPARK_GRAFT_EXTRA_JVM").orNull)
      .put("ohagg_fallback_threshold",
        conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold").toInt)
      .put("codegen_cache_max_entries", conf.get(Native.CodegenCacheKey).toInt)
      .put("artifact_isolation", conf.get(Native.IsolationKey).toBoolean)
      .put("git_head", head)
    json.writeValueAsString(run)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // The tables below compile code before the first `Q.run` installs, so
    // the codegen cache capacity `Native.register` sets would come too
    // late: the builder passes it (and the isolation flag) up front,
    // unless a `-D` probe in SPARK_GRAFT_EXTRA_JVM already sets the key.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Native.sessionConf.filterNot(kv => sys.props.contains(kv._1)).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Materialize the shared table cache up front so per-query timings
    // measure the query, not the first-toucher's scan+cache cost.
    Tables.names.foreach(t => Tables(spark, sfDir, t).count())
    // Dev loop only: SPARK_GRAFT_ONLY=q1,q2 restricts the run (the driver
    // never sets it, so the per-round capture is always the full registry).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // Round-22 re-pin (VERDICT r20 item 1): the drift reference is
    // BENCH_PIN_r22.json, a committed snapshot of the round-22 quiet-box
    // full capture (all 277 rows, current code, load < 1.5), so every row
    // has a current-code pin for the allrows median and the retime
    // safeguard. The r17 anchoring is kept by compounding: every ratio
    // below is multiplied by `pins.scale`, that capture's own conservative
    // ratio vs the r17 envelope (BENCH_r21.json), so check.py's 1.15 / 2.0
    // thresholds keep their meaning.
    val pins = loadPins()
    // A FULL-registry run without the pin file cannot stamp the drift
    // estimators check.py --bench requires — say so at capture time
    // instead of producing an artifact that can never pass (ADVICE r20).
    if (only.isEmpty && pins.all.isEmpty)
      System.err.println(s"[bench] WARNING: ${pins.file} not readable " +
        "from cwd — the capture will lack the drift estimators and " +
        "check.py --bench will reject it; run from the repo root")
    // Load gate (VERDICT r17 item 1): an official capture started at load
    // 4+ puts spurious 2-5x spikes on a handful of rows and costs a round
    // of adjudication. Wait (bounded) for the 1-min load to fall under the
    // gate before the timed loop; if it never does, proceed but the
    // recorded before-load exposes it. Gate 0 disables (dev loop).
    val loadGate = sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.5").toDouble
    val loadWaitSecs =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT_SECS", "600").toInt
    if (loadGate > 0) {
      val deadline = System.nanoTime() + loadWaitSecs * 1000000000L
      while (loadNow >= loadGate && System.nanoTime() < deadline) {
        System.err.println(
          f"[bench] load ${loadNow}%.2f >= gate $loadGate%.2f — waiting")
        Thread.sleep(15000)
      }
      if (loadNow >= loadGate)
        System.err.println(f"[bench] WARNING: starting loaded (${loadNow}%.2f)")
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    // VERDICT r15 item 3: the driver's round capture (BENCH_rNN.json) keeps
    // only a 2000-char stdout tail, so the full per-query map can never ride
    // the stdout line (263 keys ≈ 10 KB). Instead, stamp the SAME complete
    // envelope into a round-numbered file that gets committed — cross-round
    // per-query comparison reads these, never the log tail. Round number =
    // 1 + the highest driver-written BENCH_rNN.json present (the driver
    // writes round N's capture only after this run).
    // Only a FULL registry run earns the round stamp — a dev-loop
    // SPARK_GRAFT_ONLY subset must never clobber the committed capture.
    // Round number: the driver-written BENCH_rNN.json are authoritative
    // (driver writes round N's capture only after this run → stamp N+1)
    // but untracked, so on a fresh clone only the committed
    // BENCH_FULL_rNN.json exist — fall back to their max WITHOUT +1
    // (max(driver+1, full) is idempotent: re-running the full bench in the
    // same round re-stamps the same file instead of advancing the round).
    val roundStamp = if (only.nonEmpty) None
    else {
      def maxRound(re: scala.util.matching.Regex): Int =
        Option(Paths.get(".").toFile.list()).toSeq.flatten
          .flatMap(f => re.findFirstMatchIn(f).map(_.group(1).toInt))
          .foldLeft(0)(math.max)
      val driver = maxRound("^BENCH_r(\\d+)\\.json$".r)
      val full = maxRound("^BENCH_FULL_r(\\d+)\\.json$".r)
      val r = math.max(driver + 1, full)
      if (driver == 0 && full == 0) {
        System.err.println("[bench] no BENCH_rNN.json/BENCH_FULL_rNN.json " +
          "in cwd — round stamp skipped (envelope still at " + outPath + ")")
        None
      } else if (r != driver + 1 &&
          Files.exists(Paths.get(f"BENCH_FULL_r$r%02d.json")) &&
          !sys.env.get("SPARK_GRAFT_RESTAMP").contains("1")) {
        // ADVICE r17: on a fresh clone (no untracked driver BENCH_rNN.json)
        // the fallback resolves to the last COMMITTED round — overwriting
        // that already-recorded capture with a new machine's numbers needs
        // an explicit opt-in, not a silent clobber. Re-stamping the current
        // round (r == driver + 1) stays idempotent as before.
        System.err.println(s"[bench] BENCH_FULL_r$r.json is a committed " +
          "capture of an already-recorded round (no driver BENCH_rNN.json " +
          s"says we're in round $r) — refusing to overwrite; set " +
          "SPARK_GRAFT_RESTAMP=1 to force (envelope still at " + outPath + ")")
        None
      } else Some(r)
    }
    val fullStamped = roundStamp.map(r => f"BENCH_FULL_r$r%02d.json")
    val c = capture(spark, sfDir, only, pins, fullStamped)
    Files.writeString(Paths.get(outPath), c.envelope)
    fullStamped.foreach(p => Files.writeString(Paths.get(p), c.envelope))
    // Two stdout lines, same shape: the full per-query map first, then the
    // compact line (see [[Capture]]). (`run / outputStrategy :=
    // StdoutOutput` keeps these bare — no `[info] ` prefix — so a
    // line-oriented JSON scraper can parse them.)
    println(c.fullLine)
    println(c.compactLine)
    spark.stop()
  }

  /** One capture's outputs: the envelope written to `bench_full.json` (and
    * the round file), the full stdout line, and the compact final stdout
    * line (top-15 slowest, 3 dp), which must fit a bounded tail capture of
    * stdout: the full 277-row map is ~10 KB, and a consumer keeping only
    * the last ~2 KB would see a truncated JSON line.
    */
  private[graft] final case class Capture(
      envelope: String, fullLine: String, compactLine: String)

  private def loadNow: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Times the registry rows (all, or the `only` subset) in `spark` and
    * builds the envelope. `fullStamped` is the round file the envelope will
    * also be written to, if any; the compact line points to it.
    */
  private[graft] def capture(
      spark: SparkSession, sfDir: String, only: Set[String], pins: Pins,
      fullStamped: Option[String]): Capture = {
    val loadBefore = loadNow
    // One timed sample. noop sink, not count(): count() lets Catalyst
    // prune every computed column, so map-only queries would be timed as
    // bare scans. The noop sink fully evaluates each output row and
    // discards it. A FAILED sample is +inf, never its (near-zero) elapsed
    // time: a fast failure must not win a min or be summed as a fast row.
    // Every sample runs under its own JobTally tag and counts the classes
    // Janino compiled while it ran, so the envelope can stamp each row's
    // job and compile counts for the sample its time comes from.
    val registry = SparkEntry.queries
    val tally = new JobTally(spark.sparkContext)
    val tags = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String, Long)]
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def once(name: String): Double = {
      val tag = s"$name#${tags.size}"
      val c0 = compiled
      val t0 = System.nanoTime()
      val t = tally.tagged(tag) {
        try {
          registry(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Double.PositiveInfinity
        }
      }
      tags += ((name, t, tag, compiled - c0))
      t
    }
    // Each query runs twice and reports the MIN: a loaded machine (or a
    // first-run one-off like JIT warm-up / learned-quantizer training,
    // which is amortized index-build cost, not query cost) cannot
    // manufacture a 10x artifact in a single sample. Totals reproduce
    // within ~10% across runs.
    val samples = registry.keys.toSeq
      .filter(name => only.isEmpty || only(name))
      .map(name => name -> ((once(name), once(name))))
    // Rows whose every sample failed carry no measurement: they are listed
    // under "failed" and left out of the per-row map and the total.
    val failed = samples.collect {
      case (k, (a, b)) if a.isInfinity && b.isInfinity => k
    }.sorted
    val firstPass = samples.collect {
      case (k, (a, b)) if !failed.contains(k) => k -> math.min(a, b)
    }.toMap
    // In-run anomaly safeguard (VERDICT r19 item 2): the r19 capture kept
    // six rows at 10-60x their pins — capture-local pathology (page cache /
    // scheduling bursts), not regression — and they sat unadjudicated for a
    // round. Any row ending >3x its pinned r17 value is re-timed twice at
    // capture END (the burst that hit it mid-run has passed by then); the
    // artifact stamps both the original and the re-measure, and the final
    // per-row value is the min over all four samples — still a real
    // measurement, now robust to a transient burst landing on both
    // back-to-back first-pass samples.
    // The absolute floor (0.3 s) keeps the safeguard off sub-0.1s rows
    // whose 3x-of-pin trips on scheduling noise alone — they cannot
    // threaten the gate, and each retime costs two more runs of wall time.
    val retimed: Map[String, (Double, Double)] =
      firstPass.flatMap { case (k, v) =>
        pins.all.get(k).filter(pin => v > 3.0 * pin && v > 0.3).map { pin =>
          System.err.println(f"[bench] $k%s ended at $v%.2fs > 3x its " +
            f"pinned value $pin%.2fs — re-timing")
          val re = math.min(once(k), once(k))
          // Both retime samples failed: keep the original measurement and
          // stamp the failure (an infinite 'remeasure' would break the
          // JSON consumers downstream).
          k -> ((v, if (re.isInfinity) v else re))
        }
      }.toMap
    val results = firstPass.map { case (k, v) =>
      k -> retimed.get(k).map(r => math.min(v, r._2)).getOrElse(v)
    }
    // Jobs and compiles of each measured row's fastest sample (a failed
    // row has none).
    val fastest = results.keys.toSeq.sorted.map { k =>
      k -> tags.filter(t => t._1 == k && !t._2.isInfinity).minBy(_._2)
    }
    val jobs = fastest.map { case (k, t) => k -> tally(t._3).toLong }
    tally.close()
    val compiles = fastest.map { case (k, t) => k -> t._4 }
    def counts(xs: Seq[(String, Long)]): String =
      xs.map { case (k, n) => s""""$k":$n""" }.mkString("{", ",", "}")
    val jobsTotal = jobs.map(_._2).sum
    val compilesTotal = compiles.map(_._2).sum
    val loadAfter = loadNow
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val load = f""""load_avg_1m":{"before":$loadBefore%.2f,"after":$loadAfter%.2f}"""
    // Self-adjudicating drift canary (VERDICT r18 item 1): the r18
    // official artifact breached the raw 2x gate purely because the BOX
    // was ~1.26x slower (proven out-of-band by re-running the committed
    // r17 code on it — BENCH_MACHINE_r18.json), and the load gate above
    // cannot see that drift mode (multi-threaded scheduling slowdown at
    // NORMAL load_avg). So the capture adjudicates itself: these 16
    // code-stable rows (implementations untouched since round 17) are
    // re-timed BY THIS VERY RUN and compared against their values in the
    // committed round-22 pin envelope (BENCH_PIN_r22.json); the
    // measured/pinned median, compounded by the pin scale, stamps into the
    // artifact as a ratio on the ROUND-17 box scale: ~1.07 on a box at
    // the pin capture's speed; >1.15 means machine drift, and the
    // artifact carries its own drift-normalized total (total / ratio) so
    // the 2x-gate read needs no out-of-band memo. tools/check.py --bench
    // enforces it AND (r22) rejects a capture whose canary rows' source
    // files changed without a re-pin ack in tools/canary_pins.json.
    // (16 rows, 6 streaming / 10 not: the round-19 captures showed the
    // streaming floors spike hardest under this drift mode, so the
    // median needs a majority of non-streaming rows to track the
    // all-rows estimate.) The rows are `canary_rows` in tools/canary_pins.json.
    val canaryRows = pins.canary.toSeq.sortBy(_._1).flatMap { case (k, ref) =>
      results.get(k).map(m => k -> m / ref)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // Second, independent drift estimator (VERDICT r19 item 3): the median
    // measured/pinned ratio over EVERY row present in both this capture and
    // the committed pin envelope. Rows whose code changed since the pin are
    // a small minority of the registry, so the median is robust to them
    // without a hand-maintained stability list — and unlike the 16-row
    // canary it cannot be skewed by a handful of streaming floors spiking.
    // Both estimators are compounded by the pin scale (the pin capture's own
    // measured ratio vs the r17 drift-free box) so the stamped values stay
    // on the r17 scale check.py's thresholds were calibrated against.
    // The stamped normalization uses the MORE CONSERVATIVE (smaller) of the
    // two ratios: a pass must survive the estimator that grants the LEAST
    // drift credit. tools/check.py validates both fields and additionally
    // caps the credit (ratio <= 2.0) so an unbounded slowdown can never be
    // normalized away as machine drift (ADVICE r19).
    val allRowRatios = results.toSeq.collect {
      case (k, v) if pins.all.contains(k) => v / pins.all(k) * pins.scale
    }
    // The pin capture's master beside this run's (`run.master`): a ratio
    // read across a core-count gap is not machine drift, and
    // check.py --bench fails a capture whose master differs from it.
    val pinMaster = s""""pin_master":${pins.master.fold("null")(m => s"\"$m\"")},"""
    val canaryJson = if (canaryRows.size < 8) {
      // A dev-loop subset run can't adjudicate drift — say so explicitly
      // rather than stamping a ratio off 1-2 rows.
      s""""canary":{"ref_round":22,$pinMaster"n":${canaryRows.size},"ratio":null}"""
    } else {
      val ratio = median(canaryRows.map(_._2)) * pins.scale
      val rows = canaryRows.map { case (k, r) => f""""$k":${r * pins.scale}%.3f""" }
        .mkString("{", ",", "}")
      val allJson = if (allRowRatios.size < 32) "" else {
        val allRatio = median(allRowRatios)
        val cons = math.min(ratio, allRatio)
        f""""allrows":{"ref":"${pins.file}","n":${allRowRatios.size},""" +
          f""""ratio":$allRatio%.3f},"ratio_conservative":$cons%.3f,"""
      }
      val normRatio =
        if (allRowRatios.size < 32) ratio else math.min(ratio, median(allRowRatios))
      f""""canary":{"ref_round":22,$pinMaster"n":${canaryRows.size},"ratio":$ratio%.3f,""" +
        allJson +
        f""""total_drift_normalized":${total / math.max(normRatio, 1.0)}%.3f,""" +
        s""""rows":$rows}"""
    }
    val retimeJson = if (retimed.isEmpty) "" else {
      retimed.toSeq.sortBy(_._1).map { case (k, (orig, re)) =>
        f""""$k":{"orig":$orig%.3f,"remeasure":$re%.3f}"""
      }.mkString(""""anomaly_retimes":{""", ",", "},")
    }
    val failedJson = failed.map(k => s""""$k"""")
      .mkString(""""failed":[""", ",", "],")
    val run = s""""run":${runJson(spark)}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        failedJson +
        s"""$retimeJson$canaryJson,$load,$run,"sf":"$sfDir"}"""
    // The complete per-query envelope ALSO lands on disk (VERDICT r14 item
    // 5: the driver keeps only a bounded tail of stdout, so the full
    // 237-query map was only ever recoverable from a truncated log line).
    // The file carries both raw samples per query so a post-hoc adjudicator
    // can separate first-run one-offs (index training, codegen compile)
    // from steady-state cost without re-running.
    def sample(x: Double): String = if (x.isInfinity) "null" else f"$x%.3f"
    val both = samples.map { case (k, (a, b)) =>
      s""""$k":[${sample(a)},${sample(b)}]""" }.mkString("{", ",", "}")
    // Declared output-linear queries (Q.outputLinear): the scale probe
    // (tools/bench_scale.py) prices their slope as expected result volume
    // instead of flagging them super-linear every round.
    val outLinear = Registry.all.filter(_.outputLinear).map(q => s""""${q.id}"""")
      .mkString("[", ",", "]")
    val envelope =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
        s""""queries":$qs,"jobs":${counts(jobs)},"compiles":${counts(compiles)},""" +
        s"""$failedJson"samples":$both,""" +
        s""""output_linear":$outLinear,""" +
        s"""$retimeJson$canaryJson,$load,$run,"sf":"$sfDir"}""" + "\n"
    val top = results.toSeq.sortBy(-_._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val fullPtr = fullStamped.map(p => s""""full":"$p",""").getOrElse("")
    val compactLine =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",""" +
        s""""n":${results.size},"jobs_total":$jobsTotal,"compiles_total":$compilesTotal,""" +
        s"""$fullPtr$failedJson$canaryJson,""" +
        s""""queries":$top,$load,$run,"sf":"$sfDir"}"""
    Capture(envelope, fullLine, compactLine)
  }
}
