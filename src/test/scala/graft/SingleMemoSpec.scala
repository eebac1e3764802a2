package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Cross-query state has one home, [[graft.queries.Staged]], session
  * set-up one installer, `graft.functions.Native.register`, and timing one
  * harness, [[graft.Bench]]. A concurrent or weak map declared anywhere else
  * in the engine is a second memo with its own keying and lifetime, an
  * install call outside `Q` is a second install path, and a `main` outside
  * the four entry points is a second harness, so this spec fails on each.
  * The warm-run conf keys `Native.register` installs and `Bench` passes to
  * its builder have one source too, `Native.sessionConf`, and a stream runs
  * one way, through `StreamingQueries.runToEnd`. A row overrides session
  * confs one way, `queries.Confs.scoped`, and only `Tables` caches. No
  * mutable `@volatile` field switches behaviour for the whole JVM. Every
  * directory main code writes is drawn from `queries.Scratch.path`, and a
  * kNN row ranks its candidate pairs with `queries.SimOps.cosTopK`.
  */
class SingleMemoSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** `file:line` of every Scala source line under `tree` matching `hit`
    * (paths relative to `tree`).
    */
  private def hits(tree: Path)(hit: String => Boolean): List[String] = {
    val walk = Files.walk(tree)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if hit(line) => s"${tree.relativize(p)}:${i + 1}"
        }
      }.toList
    finally walk.close()
  }

  /** `file:line` of every main source line matching `hit`, outside the
    * `allowed` files (paths relative to `src/main/scala`).
    */
  private def offenders(allowed: String*)(hit: String => Boolean): List[String] = {
    allowed.foreach(a => assert(Files.exists(root.resolve(a)), a))
    hits(root)(hit).filterNot(h => allowed.exists(a => h.startsWith(s"$a:")))
  }

  /** The spellings of a stream run and of a fresh unique name, each with
    * the one file that may hold it, once: the stream-run helper in
    * StreamingQueries, and `Scratch.newTag`.
    */
  private val oneHome = Seq(
    "Trigger.AvailableNow()" -> "graft/queries/StreamingQueries.scala",
    """.format("memory")""" -> "graft/queries/StreamingQueries.scala",
    "awaitTermination()" -> "graft/queries/StreamingQueries.scala",
    "randomUUID" -> "graft/queries/Scratch.scala")

  /** `spelling -> file:line` of every use of a [[oneHome]] spelling under
    * `tree`, unless it is the single use, in its home file.
    */
  private def inlinedRuns(tree: Path): List[(String, String)] =
    oneHome.toList.flatMap { case (token, home) =>
      hits(tree)(_.contains(token)) match {
        case List(h) if h.startsWith(s"$home:") => Nil
        case found => found.map(token -> _)
      }
    }

  /** A code line: comments name the spellings below without using them. */
  private def code(line: String): Boolean = {
    val t = line.trim
    !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
  }

  /** The one conf `Tables.load` sets for the session's life: the parquet
    * reader reads it when the lazily cached scan executes, after any scope
    * around the load would have closed.
    */
  private val sessionWide = "spark.sql.legacy.parquet.nanosAsLong"

  /** `spelling -> file:line` under `tree` of a session-conf write outside
    * `Confs.scoped` in the query packs or `Tables`, and of a `.cache()`
    * outside `Tables`. A row that overrides confs goes through the scope,
    * and executes inside it instead of caching its answer.
    */
  private def looseScopes(tree: Path): List[(String, String)] = {
    val confWrites = Seq("conf.set(", "conf.unset(").flatMap { token =>
      hits(tree)(l => code(l) && l.contains(token) && !l.contains(sessionWide))
        .filter(h => h.startsWith("graft/queries/") || h.startsWith("graft/Tables.scala:"))
        .filterNot(_.startsWith("graft/queries/Confs.scala:"))
        .map(token -> _)
    }
    val caches = hits(tree)(l => code(l) && l.contains(".cache()"))
      .filterNot(_.startsWith("graft/Tables.scala:"))
      .map(".cache()" -> _)
    (confWrites ++ caches).toList
  }

  /** The spellings that pick a scratch directory, which only
    * `queries/Scratch.scala` may hold.
    */
  private val scratchSpellings = Seq("createTempDirectory", "java.io.tmpdir", "\"/dev/shm\"")

  /** `spelling -> file:line` under `tree` of a code line that picks a
    * scratch directory outside `Scratch`.
    */
  private def looseScratch(tree: Path): List[(String, String)] =
    scratchSpellings.toList.flatMap { token =>
      hits(tree)(l => code(l) && l.contains(token))
        .filterNot(_.startsWith("graft/queries/Scratch.scala:"))
        .map(token -> _)
    }

  /** The spellings of the kNN ranking's 6 dp cosine, which only
    * `queries/SimOps.scala` may hold: a kNN row ranks its pairs with
    * `SimOps.cosTopK`. `queries/MLOps.scala` is the one known exception;
    * its two sites stay until that file's canary hash is re-pinned.
    */
  private val cosSpellings = Seq("round(ncos(", "round(SimOps.ncos(")

  /** `spelling -> file:line` under `tree` of a code line that rounds a
    * cosine outside `SimOps` and `MLOps`.
    */
  private def looseCosines(tree: Path): List[(String, String)] =
    cosSpellings.toList.flatMap { token =>
      hits(tree)(l => code(l) && l.contains(token))
        .filterNot(h => Seq("graft/queries/SimOps.scala:", "graft/queries/MLOps.scala:")
          .exists(h.startsWith))
        .map(token -> _)
    }

  private def withCopy(files: String*)(body: Path => Unit): Unit = {
    val tree = Files.createTempDirectory("single_home")
    try {
      for (f <- files) {
        Files.createDirectories(tree.resolve(f).getParent)
        Files.copy(root.resolve(f), tree.resolve(f))
      }
      body(tree)
    } finally {
      val walk = Files.walk(tree)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  test("no memo map is declared outside queries/Staged.scala") {
    val found = offenders("graft/queries/Staged.scala")(line =>
      line.contains("TrieMap") || line.contains("WeakHashMap"))
    assert(found.isEmpty,
      s"memo maps outside queries.Staged: ${found.mkString(", ")} — " +
        "stage cross-query state with Staged.memo instead")
  }

  test("native functions and strategies are installed only through Q") {
    val calls = offenders("graft/Registry.scala", "graft/functions/DotProduct.scala")(
      _.contains("Native.register("))
    assert(calls.isEmpty,
      s"Native.register outside Q: ${calls.mkString(", ")} — Q.run installs " +
        "what a query needs; a query body installs nothing itself")
    val assign = """extraStrategies\s*=(?!=)""".r
    val strategies = offenders("graft/functions/DotProduct.scala")(
      assign.findFirstIn(_).nonEmpty)
    assert(strategies.isEmpty,
      s"extraStrategies assigned outside Native: ${strategies.mkString(", ")} " +
        "— add the strategy to Native.strategies instead")
  }

  test("a main is declared only by the four entry points") {
    val main = """\bdef\s+main\s*\(""".r
    val mains = offenders("graft/Bench.scala", "graft/Verify.scala",
      "graft/PlanDump.scala", "graft/ScaleGen.scala")(main.findFirstIn(_).nonEmpty)
    assert(mains.isEmpty,
      s"main outside the entry points: ${mains.mkString(", ")} — time a " +
        "question with graft.Bench and probe config through SPARK_GRAFT_EXTRA_JVM")
  }

  test("no mutable @volatile field is declared in main code") {
    val volatileVar = """@volatile\s+(private\S*\s+|protected\S*\s+)?var\b""".r
    val found = hits(root)(l => code(l) && volatileVar.findFirstIn(l).nonEmpty)
    assert(found.isEmpty,
      s"mutable @volatile field in main code: ${found.mkString(", ")} — a mutable " +
        "switch on an object leaks across sessions; pass the choice in, or " +
        "plan it (PlanDump.scanPlan shows uncached scans without one)")
  }

  test("the warm-run conf keys are spelled only in Native") {
    val found = offenders("graft/functions/DotProduct.scala")(line =>
      line.contains("spark.sql.codegen.cache.maxEntries") ||
        line.contains("spark.sql.artifact.isolation.enabled"))
    assert(found.isEmpty,
      s"warm-run conf keys outside Native: ${found.mkString(", ")} — read " +
        "Native.CodegenCacheKey, Native.IsolationKey or Native.sessionConf")
  }

  test("a stream is run, and a unique name drawn, in one place") {
    val found = inlinedRuns(root)
    assert(found.isEmpty,
      s"stream run or UUID outside its helper: ${found.mkString(", ")} — run " +
        "a stream with StreamingQueries.runToEnd or drainToMemory, and draw " +
        "a name with Scratch.newTag")
  }

  test("the one-place rule flags a stream run inlined back into a row") {
    withCopy("graft/queries/StreamingQueries.scala", "graft/queries/Scratch.scala") { tree =>
      val queries = tree.resolve("graft/queries")
      assert(inlinedRuns(tree).isEmpty)
      val inlined =
        """        val sink = s"mem_${java.util.UUID.randomUUID.toString}"
          |        val q = eventsStream(s, dir).writeStream
          |          .queryName(sink).outputMode("append").format("memory")
          |          .option("checkpointLocation", ckpt)
          |          .trigger(Trigger.AvailableNow())
          |          .start()
          |        q.awaitTermination()
          |""".stripMargin
      Files.writeString(queries.resolve("StreamingQueries.scala"), inlined,
        java.nio.file.StandardOpenOption.APPEND)
      assert(inlinedRuns(tree).map(_._1).toSet == oneHome.map(_._1).toSet)
    }
  }

  test("session confs are overridden only through Confs.scoped, and only Tables caches") {
    val found = looseScopes(root)
    assert(found.isEmpty,
      s"conf write or cache outside its home: ${found.mkString(", ")} — " +
        "override confs with Confs.scoped and execute the row inside it " +
        "(localCheckpoint) instead of caching its answer")
  }

  test("the conf-scope rule flags an inlined save/set/restore and a cache") {
    withCopy("graft/queries/Confs.scala", "graft/queries/Joins.scala",
        "graft/Tables.scala") { tree =>
      assert(looseScopes(tree).isEmpty)
      val inlined =
        """        val saved = s.conf.getOption(k)
          |        s.conf.set(k, "true")
          |        try out.cache()
          |        finally saved.fold(s.conf.unset(k))(s.conf.set(k, _))
          |""".stripMargin
      Files.writeString(tree.resolve("graft/queries/Joins.scala"), inlined,
        java.nio.file.StandardOpenOption.APPEND)
      assert(looseScopes(tree).map(_._1).toSet ==
        Set("conf.set(", "conf.unset(", ".cache()"))
    }
  }

  test("every scratch directory is drawn in queries/Scratch.scala") {
    val found = looseScratch(root)
    assert(found.isEmpty,
      s"scratch directory picked outside Scratch: ${found.mkString(", ")} — " +
        "draw a fresh, registered path with Scratch.path")
  }

  test("the scratch rule flags a temp dir inlined back into a row") {
    withCopy("graft/queries/Scans.scala", "graft/queries/Scratch.scala") { tree =>
      assert(looseScratch(tree).isEmpty)
      val inlined =
        """        // a comment may name createTempDirectory and java.io.tmpdir
          |        val run = java.nio.file.Files
          |          .createTempDirectory("graft_aggview").toString + "/view"
          |        val ckpt = s"${System.getProperty("java.io.tmpdir")}/graft_ckpt"
          |        val shm = java.nio.file.Paths.get("/dev/shm")
          |""".stripMargin
      Files.writeString(tree.resolve("graft/queries/Scans.scala"), inlined,
        java.nio.file.StandardOpenOption.APPEND)
      val found = looseScratch(tree)
      assert(found.map(_._1) == scratchSpellings, found)
    }
  }

  test("a kNN cosine is ranked only in queries/SimOps.scala") {
    val found = looseCosines(root)
    assert(found.isEmpty,
      s"6 dp cosine spelled outside SimOps: ${found.mkString(", ")} — " +
        "rank candidate pairs with SimOps.cosTopK")
  }

  test("the cosine rule flags a kNN ranking inlined back into a row") {
    withCopy("graft/queries/GraphOps.scala", "graft/queries/SimOps.scala") { tree =>
      assert(looseCosines(tree).isEmpty)
      val inlined =
        """        // a comment may name round(ncos( and round(SimOps.ncos(
          |        val knn = pairs
          |          .select(col("qa"), col("qb"),
          |            round(SimOps.ncos(col("ea"), col("eb")), 6).as("cos"))
          |        val cos6 = round(ncos(col("ea"), col("eb")), 6)
          |""".stripMargin
      Files.writeString(tree.resolve("graft/queries/GraphOps.scala"), inlined,
        java.nio.file.StandardOpenOption.APPEND)
      val found = looseCosines(tree)
      assert(found.map(_._1).toSet == cosSpellings.toSet, found)
      assert(found.forall(_._2.startsWith("graft/queries/GraphOps.scala:")), found)
    }
  }
}
