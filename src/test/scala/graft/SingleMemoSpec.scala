package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Cross-query state has one home, [[graft.queries.Staged]]. A concurrent
  * or weak map declared anywhere else in the engine is a second memo with
  * its own keying and lifetime, so this spec fails on one.
  */
class SingleMemoSpec extends AnyFunSuite {

  test("no memo map is declared outside queries/Staged.scala") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_.endsWith(Paths.get("graft/queries/Staged.scala")))
        .flatMap { p: Path =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("TrieMap") || line.contains("WeakHashMap") =>
              s"${root.relativize(p)}:${i + 1}"
          }
        }.toList
      finally walk.close()
    assert(Files.exists(root.resolve("graft/queries/Staged.scala")))
    assert(offenders.isEmpty,
      s"memo maps outside queries.Staged: ${offenders.mkString(", ")} — " +
        "stage cross-query state with Staged.memo instead")
  }
}
