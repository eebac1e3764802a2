package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Bench's drift inputs and run stamp (VERDICT r20 item 1, r22 item 2).
  *
  * The bench adjudicates machine drift against the committed pin envelope
  * that tools/canary_pins.json names, over the canary rows it lists;
  * the same manifest is the source tripwire check.py --bench enforces.
  * This spec fails in `sbt test` before a drifted edit fails at the gate:
  *   - the pin file exists, parses, and pins every registry id;
  *   - `Bench.loadPins` reads exactly the manifest's canary rows, each at
  *     the pin envelope's value, and throws on a canary row the envelope
  *     does not pin;
  *   - every file hash recorded in tools/canary_pins.json matches the
  *     working tree (an un-acknowledged edit to a canary row's source
  *     file must fail loudly here, with the re-pin instructions);
  *   - the envelope's `run` block reports the session it ran in;
  *   - the pin capture's master is read and stamped beside `run.master`;
  *   - a capture stamps each row's job and compile counts and their totals.
  */
class BenchPinSpec extends SparkSpec {

  private val json = new ObjectMapper()
  private def read(path: String): JsonNode = json.readTree(new File(path))
  private def fields(n: JsonNode): Map[String, JsonNode] =
    n.properties.asScala.map(e => e.getKey -> e.getValue).toMap

  private val manifest = read("tools/canary_pins.json")
  private val pinFile = manifest.get("pin_file").asText
  private def pinQueries: Map[String, Double] =
    fields(read(pinFile).get("queries")).map { case (k, v) => k -> v.asDouble }

  test("pin envelope exists and pins every registry id") {
    assert(Files.exists(Paths.get(pinFile)), s"$pinFile missing")
    val pins = pinQueries
    val missing = Registry.all.map(_.id).filterNot(pins.contains)
    assert(missing.isEmpty,
      s"registry rows without a pin in $pinFile: $missing")
  }

  test("Bench loads exactly the canary_rows, each at its pin envelope value") {
    val loaded = Bench.loadPins()
    val rows = fields(manifest.get("canary_rows")).keySet
    assert(rows.size == 16)
    assert(loaded.canary.keySet == rows)
    val pins = pinQueries
    loaded.canary.foreach { case (k, v) => assert(v == pins(k), k) }
    assert(loaded.scale == manifest.get("pin_scale_vs_r17").asDouble)
  }

  test("Bench reads the pin capture's master") {
    assert(manifest.get("pin_master").asText == "local[32]")
    assert(Bench.loadPins().master.contains("local[32]"))
  }

  test("a subset capture stamps per-row jobs, their total and the pin master") {
    val rows = Set("scan_parquet_full", "dedup_minhash_udaf")
    val c = Bench.capture(spark, sf, rows, Bench.loadPins(), None)
    val env = json.readTree(c.envelope)
    assert(env.get("failed").isEmpty)
    val jobs = fields(env.get("jobs")).map { case (k, v) => k -> v.asInt }
    assert(jobs.keySet == rows)
    assert(jobs.keySet == fields(env.get("queries")).keySet)
    assert(jobs.values.forall(_ >= 1), jobs)
    val compiles = fields(env.get("compiles")).map { case (k, v) => k -> v.asLong }
    assert(compiles.keySet == rows)
    assert(compiles.values.forall(_ >= 0), compiles)
    assert(env.get("canary").get("pin_master").asText == "local[32]")
    assert(env.get("run").get("master").asText == "local[4]")
    val compact = json.readTree(c.compactLine)
    assert(compact.get("jobs_total").asLong == jobs.values.sum)
    assert(compact.get("compiles_total").asLong == compiles.values.sum)
    assert(compact.get("run").get("codegen_cache_max_entries").asInt == 1024)
    assert(compact.get("canary").get("pin_master").asText == "local[32]")
    assert(c.compactLine.length < 1800, c.compactLine.length)
  }

  test("a canary row the pin envelope does not pin fails the load") {
    val dir = Files.createTempDirectory("graft_pins")
    val env = dir.resolve("pin.json")
    Files.writeString(env, """{"queries":{"agg_corr_covar":0.411}}""")
    val m = dir.resolve("canary_pins.json")
    Files.writeString(m, s"""{"pin_file":"$env","pin_scale_vs_r17":1.0,""" +
      """"canary_rows":{"agg_corr_covar":"a","dedup_cc_clusters":"b"}}""")
    val e = intercept[IllegalStateException](Bench.loadPins(m.toString))
    assert(e.getMessage.contains("dedup_cc_clusters"), e.getMessage)
  }

  test("canary source tripwire hashes match the working tree") {
    val entries = fields(manifest.get("files")).map { case (k, v) => k -> v.asText }
    assert(entries.nonEmpty, "tools/canary_pins.json lists no file hashes")
    val md = MessageDigest.getInstance("SHA-256")
    val stale = entries.filter { case (path, want) =>
      val p = Paths.get(path)
      !Files.exists(p) || {
        val have = md.digest(Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
        have != want
      }
    }
    assert(stale.isEmpty,
      s"canary-row source files changed without a re-pin ack: " +
        s"${stale.keys.mkString(", ")} — if the canary rows' " +
        "implementations are genuinely untouched (or the pin envelope was " +
        "re-captured), update the sha256 in tools/canary_pins.json in the " +
        "same commit; check.py --bench enforces the same tripwire")
  }

  test("the run block stamps the session's config") {
    val run = json.readTree(Bench.runJson(spark))
    assert(run.get("master").asText == "local[4]")
    assert(run.get("shuffle_partitions").asInt == 4)
    assert(run.get("adaptive").asBoolean ==
      spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    assert(run.get("max_heap_mib").asLong == Runtime.getRuntime.maxMemory >> 20)
    assert(Option(run.get("extra_jvm")).filterNot(_.isNull).map(_.asText) ==
      sys.env.get("SPARK_GRAFT_EXTRA_JVM"))
    assert(run.get("ohagg_fallback_threshold").asInt == 4194304)
    assert(run.get("codegen_cache_max_entries").asInt == 1024)
    assert(!run.get("artifact_isolation").asBoolean)
    assert(run.get("git_head").isNull || run.get("git_head").asText.matches("[0-9a-f]{40}"))
  }
}
