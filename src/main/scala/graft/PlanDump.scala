package graft

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.SparkSession

/** Dumps `explain("formatted")` for a named set of registry queries into
  * per-query files — the optimization-round evidence artifact
  * (`plans/rNN/<query>_{before,after}.txt`). Unlike [[Plans]] (the
  * PLANS.md book, local[4]), this runs the bench's own geometry
  * (local[32], shuffle.partitions=32, AQE on) so the captured shapes are
  * the ones the bench times. Every dump is [[normalize]]d, so a diff of two
  * dumps shows plan changes only.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  */
object PlanDump {

  /** `plan` with what differs between two runs of the same code masked:
    * expression ids (`name#N`), `[plan_id=N]` and RDD ids are renumbered
    * in order of first appearance, so which reference points where stays
    * readable; the line of a `<File>.scala:<line>` call site (the name of
    * a `localCheckpoint` RDD) becomes `_`, so code moving above a call site
    * does not show; and an object's identity hash (`pkg.Class@1f2e3d`, a
    * typed aggregator's default `toString`) becomes `@_`.
    */
  def normalize(plan: String): String = {
    def renumber(s: String, re: Regex, fmt: Int => String): String = {
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m =>
        Regex.quoteReplacement(fmt(seen.getOrElseUpdate(m.group(1), seen.size + 1))))
    }
    val ids = renumber(plan, "#(\\d+)".r, n => s"#$n")
    val planIds = renumber(ids, "\\[plan_id=(\\d+)\\]".r, n => s"[plan_id=$n]")
    val rdds = renumber(planIds, "RDD\\[(\\d+)\\]".r, n => s"RDD[$n]")
    val sites = "(\\w+\\.scala):\\d+".r.replaceAllIn(rdds, "$1:_")
    "(\\b[A-Za-z_][\\w$]*(?:\\.[\\w$]+)+)@[0-9a-f]+\\b".r.replaceAllIn(sites, "$1@_")
  }

  /** The normalized formatted plan of registry row `id`, or its failure. */
  def dump(spark: SparkSession, sfDir: String, id: String): String =
    normalize(
      try Registry.byId(id).run(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => s"FAILED: ${e.getMessage}" })

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val ids = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (id <- ids) {
      Files.writeString(Paths.get(outDir, s"${id}_$suffix.txt"), dump(spark, sfDir, id))
      System.err.println(s"[plandump] $id -> $outDir/${id}_$suffix.txt")
    }
    spark.stop()
  }
}
