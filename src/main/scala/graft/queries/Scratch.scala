package graft.queries

/** JVM-exit cleanup registry for per-invocation scratch dirs (ADVICE
  * r20): unique-per-invocation staging paths fixed the parallel-suite
  * race but accumulated unboundedly across bench samples — several fresh
  * parquet copies of orders/documents per write-back row per run, and
  * streaming checkpoint dirs on tmpfs (/dev/shm — RAM). Registration is
  * O(1) per dir; deletion is best-effort on shutdown, deepest-path-first
  * within each tree.
  *
  * The logic lives in [[ScratchRegistry]] so ScratchSpec can exercise a
  * private instance; sweeping the PROCESS-wide registry mid-test would
  * delete live scratch dirs of concurrently-running suites.
  */
private[graft] class ScratchRegistry {
  private val created =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  /** Register a path for deletion at sweep time; returns it unchanged. */
  def register(path: String): String = { created.add(path); path }

  private[graft] def size: Int = created.size

  /** Delete every registered tree. Best-effort: a path that fails to
    * delete stays registered for the next sweep.
    */
  private[graft] def sweep(): Unit =
    created.forEach { p =>
      try {
        val root = java.nio.file.Paths.get(p)
        if (java.nio.file.Files.exists(root)) {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
          finally walk.close()
        }
        created.remove(p)
      } catch { case _: Throwable => () } // best-effort cleanup
    }
}

private[graft] object Scratch extends ScratchRegistry {
  Runtime.getRuntime.addShutdownHook(new Thread(() => sweep()))

  /** 32 fresh hex chars: unique per call, also fit for a table name. */
  def newTag(): String = java.util.UUID.randomUUID.toString.replace("-", "")

  /** A registered, never-shared path `<tmpdir>/<prefix>_<tag>`. A fixed
    * path would let two invocations (or two sessions staging the same
    * layout) interleave overwrite and read.
    */
  def path(prefix: String, tag: String = newTag()): String =
    register(s"${System.getProperty("java.io.tmpdir")}/${prefix}_$tag")
}
