package graft

import java.nio.file.{Files, Paths}

/** The r21 scratch-dir cleanup registry (ADVICE r20: per-invocation
  * staging paths accumulated unboundedly across bench samples). Tests a
  * PRIVATE registry instance — sweeping the process-wide `Scratch` object
  * mid-test would delete live scratch dirs of concurrently-running
  * suites. The last cases check, on the process-wide registry, that a
  * row writing scratch gets registered paths of its own per invocation,
  * and a staged layout its own per session.
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

  test("each ml_train_checkpoint_resume run checkpoints to a new scratch dir") {
    val q = Registry.byId("ml_train_checkpoint_resume")
    def run(): Array[org.apache.spark.sql.Row] = {
      val before = queries.Scratch.size
      val rows = q.run(spark, sf).collect()
      assert(queries.Scratch.size == before + 1,
        "the checkpoint store is not a registered Scratch path")
      rows
    }
    val (a, b) = (run(), run())
    for (rows <- Seq(a, b)) {
      assert(rows.nonEmpty)
      assert(rows.forall(_.getAs[Boolean]("bit_equal")), rows.mkString("\n"))
    }
  }

  test("join_bucketed_colocated stages its own tables and paths per session") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def staged(): (Set[String], Set[String]) = {
      val child = spark.newSession()
      try {
        val df = Registry.byId("join_bucketed_colocated").run(child, sf)
        val tables = df.queryExecution.analyzed.collect {
          case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
        }.flatten.toSet
        val dirs = df.inputFiles
          .map(f => Paths.get(new java.net.URI(f)).getParent.toString).toSet
        assert(tables.size == 2 && dirs.size == 2, s"$tables $dirs")
        assert(dirs.forall(_.startsWith(s"${queries.Scratch.root}/")), dirs)
        (tables, dirs)
      } finally queries.Staged.invalidate(child)
    }
    val ((t1, d1), (t2, d2)) = (staged(), staged())
    assert(t1.intersect(t2).isEmpty, s"two sessions shared tables $t1")
    assert(d1.intersect(d2).isEmpty, s"two sessions shared layouts $d1")
  }
}
