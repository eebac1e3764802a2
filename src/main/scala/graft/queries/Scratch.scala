package graft.queries

/** The JVM-exit cleanup registry behind [[Scratch]]. The logic lives here
  * so ScratchSpec can exercise a private instance; sweeping the
  * PROCESS-wide registry mid-test would delete live scratch dirs of
  * concurrently-running suites. Registration is O(1) per dir; deletion is
  * best-effort on shutdown, deepest-path-first within each tree.
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

/** Where scratch lives and when it goes: the one rule for every directory
  * main code writes (write-back spills, stream spools and checkpoints,
  * staged layouts, model checkpoints, metric logs).
  *
  *   - Root: picked once per JVM, tmpfs (`/dev/shm`) when it is a writable
  *     directory, else `java.io.tmpdir`. Stream checkpoints are many tiny
  *     fsynced files whose latency is pure micro-batch tax on a
  *     disk-backed /tmp, and a spill read back at once gains nothing from
  *     a disk; on a cluster the same files live on the job's fast scratch
  *     volume. Scratch on tmpfs is RAM until the JVM exits.
  *   - Name: [[path]] returns `<root>/<prefix>_<32 hex>`, fresh per call,
  *     so two invocations, sessions or processes never share a path and a
  *     run needs no clean-slate delete. Nothing is reused across JVMs; a
  *     layout built once per session is staged with [[Staged.memo]] over a
  *     [[path]].
  *   - Existence: the path does not exist yet. A writer that creates its
  *     target (Spark's `write`, a stream checkpoint) takes it as is; a
  *     caller that needs the directory itself creates it.
  *   - Lifetime: the path is registered when it is drawn and the whole
  *     tree is deleted at JVM exit.
  */
private[graft] object Scratch extends ScratchRegistry {
  Runtime.getRuntime.addShutdownHook(new Thread(() => sweep()))

  /** The scratch root (see above). */
  val root: String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      shm.toString
    else System.getProperty("java.io.tmpdir")
  }

  /** 32 fresh hex chars: unique per call, also fit for a table name. */
  def newTag(): String = java.util.UUID.randomUUID.toString.replace("-", "")

  /** A registered, never-shared path `<root>/<prefix>_<tag>`. */
  def path(prefix: String, tag: String = newTag()): String =
    register(s"$root/${prefix}_$tag")
}
