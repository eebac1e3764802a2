package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Cross-query state has one home, [[graft.queries.Staged]], session
  * set-up one installer, `graft.functions.Native.register`, and timing one
  * harness, [[graft.Bench]]. A concurrent or weak map declared anywhere else
  * in the engine is a second memo with its own keying and lifetime, an
  * install call outside `Q` is a second install path, and a `main` outside
  * the five entry points is a second harness, so this spec fails on each.
  * The warm-run conf keys `Native.register` installs and `Bench` passes to
  * its builder have one source too, `Native.sessionConf`, and a stream runs
  * one way, through `StreamingQueries.runToEnd`.
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

  test("a main is declared only by the five entry points") {
    val mains = offenders("graft/Bench.scala", "graft/Verify.scala", "graft/Plans.scala",
      "graft/PlanDump.scala", "graft/ScaleGen.scala")(_.contains("def main("))
    assert(mains.isEmpty,
      s"main outside the entry points: ${mains.mkString(", ")} — time a " +
        "question with graft.Bench and probe config through SPARK_GRAFT_EXTRA_JVM")
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
    val tree = Files.createTempDirectory("single_run")
    try {
      val queries = tree.resolve("graft/queries")
      Files.createDirectories(queries)
      for (f <- Seq("StreamingQueries.scala", "Scratch.scala"))
        Files.copy(root.resolve(s"graft/queries/$f"), queries.resolve(f))
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
    } finally {
      val walk = Files.walk(tree)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}
