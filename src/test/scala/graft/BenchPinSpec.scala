package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Round-22 drift re-pin consistency (VERDICT r20 item 1).
  *
  * The bench adjudicates machine drift against a committed pin envelope
  * (Bench.PinFile) and a 16-row canary whose reference values must come
  * from that same envelope; tools/canary_pins.json is the source tripwire
  * check.py --bench enforces. This spec keeps the three artifacts
  * consistent so a drifted edit fails in `sbt test` before it fails at
  * the driver's gate:
  *   - the pin file exists, parses, and pins every registry id;
  *   - every canaryRef entry equals the pin file's value for that row
  *     (the canary IS a subset of the pin capture, not a separate memo);
  *   - every file hash recorded in tools/canary_pins.json matches the
  *     working tree (an un-acknowledged edit to a canary row's source
  *     file must fail loudly here, with the re-pin instructions).
  */
class BenchPinSpec extends AnyFunSuite {

  private def pinQueries: Map[String, Double] = {
    val txt = Files.readString(Paths.get(Bench.PinFile))
    val start = txt.indexOf("\"queries\":{")
    require(start >= 0, s"${Bench.PinFile} has no queries block")
    val body = txt.substring(start + 11, txt.indexOf('}', start))
    "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  test("pin envelope exists and pins every registry id") {
    assert(Files.exists(Paths.get(Bench.PinFile)), s"${Bench.PinFile} missing")
    val pins = pinQueries
    val missing = Registry.all.map(_.id).filterNot(pins.contains)
    assert(missing.isEmpty,
      s"registry rows without a pin in ${Bench.PinFile}: $missing")
  }

  test("canaryRef values come verbatim from the pin envelope") {
    val pins = pinQueries
    Bench.canaryRef.foreach { case (k, v) =>
      val pinned = pins.getOrElse(k, fail(s"canary row $k not in pin file"))
      assert(math.abs(pinned - v) < 0.0005,
        s"canaryRef($k)=$v != pin ${pinned} — re-pin canaryRef from ${Bench.PinFile}")
    }
    assert(Bench.canaryRef.size == 16)
  }

  test("canary source tripwire hashes match the working tree") {
    val txt = Files.readString(Paths.get("tools/canary_pins.json"))
    val entries = "\"(src/[^\"]+)\":\\s*\"([0-9a-f]{64})\"".r
      .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toSeq
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
        s"${stale.map(_._1).mkString(", ")} — if the canary rows' " +
        "implementations are genuinely untouched (or the pin envelope was " +
        "re-captured), update the sha256 in tools/canary_pins.json in the " +
        "same commit; check.py --bench enforces the same tripwire")
  }

  test("Bench.PinScale is the pin_scale_vs_r17 in tools/canary_pins.json") {
    val txt = Files.readString(Paths.get("tools/canary_pins.json"))
    val pinned = "\"pin_scale_vs_r17\":\\s*([0-9.]+)".r.findFirstMatchIn(txt)
      .getOrElse(fail("tools/canary_pins.json has no pin_scale_vs_r17"))
      .group(1).toDouble
    assert(Bench.PinScale == pinned,
      s"Bench.PinScale=${Bench.PinScale} but tools/canary_pins.json pins $pinned")
  }
}
