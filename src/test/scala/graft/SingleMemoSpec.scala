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
  * its builder have one source too, `Native.sessionConf`.
  */
class SingleMemoSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** `file:line` of every main source line matching `hit`, outside the
    * `allowed` files (paths relative to `src/main/scala`).
    */
  private def offenders(allowed: String*)(hit: String => Boolean): List[String] = {
    allowed.foreach(a => assert(Files.exists(root.resolve(a)), a))
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed.exists(a => p.endsWith(Paths.get(a))))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if hit(line) => s"${root.relativize(p)}:${i + 1}"
        }
      }.toList
    finally walk.close()
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
}
