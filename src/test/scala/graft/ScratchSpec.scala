package graft

import java.nio.file.{Files, Paths}

/** The r21 scratch-dir cleanup registry (ADVICE r20: per-invocation
  * staging paths accumulated unboundedly across bench samples). Tests a
  * PRIVATE registry instance — sweeping the process-wide `Scratch` object
  * mid-test would delete live scratch dirs of concurrently-running
  * suites. The last case checks, on the process-wide registry, that a
  * write-back row gets a registered path of its own per invocation.
  */
class ScratchSpec extends SparkSpec {

  test("sweep deletes registered trees recursively and drops the entry") {
    val reg = new queries.ScratchRegistry
    val root = Files.createTempDirectory("graft_scratch_spec")
    val sub = Files.createDirectories(root.resolve("a/b"))
    Files.writeString(sub.resolve("f.txt"), "x")
    assert(reg.register(root.toString) == root.toString) // returns unchanged
    assert(reg.size == 1)
    reg.sweep()
    assert(!Files.exists(root))
    assert(reg.size == 0)
  }

  test("sweep tolerates never-created and already-deleted paths") {
    val reg = new queries.ScratchRegistry
    reg.register(s"${System.getProperty("java.io.tmpdir")}/graft_never_made_" +
      java.util.UUID.randomUUID.toString)
    reg.sweep() // must not throw; entry dropped
    assert(reg.size == 0)
  }

  test("registry deduplicates repeated registrations of one path") {
    val reg = new queries.ScratchRegistry
    val p = Files.createTempDirectory("graft_scratch_dup").toString
    reg.register(p); reg.register(p)
    assert(reg.size == 1)
    reg.sweep()
    assert(!Files.exists(Paths.get(p)))
  }

  test("each scan_orc_roundtrip invocation registers a new scratch dir") {
    val q = Registry.byId("scan_orc_roundtrip")
    def orcDir(): String = {
      val before = queries.Scratch.size
      val files = q.run(spark, sf).inputFiles
      assert(queries.Scratch.size == before + 1,
        "the ORC sink path is not registered with Scratch")
      val dirs = files.map(f => Paths.get(new java.net.URI(f)).getParent.toString).distinct
      assert(dirs.length == 1, dirs.mkString(", "))
      dirs.head
    }
    val (a, b) = (orcDir(), orcDir())
    assert(a != b, s"two invocations shared $a")
    assert(Paths.get(a).getFileName.toString.startsWith("graft_orc_customer_"))
  }
}
