package graft

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution, SparkPlan}

/** The plan tool: writes one normalized markdown book of registry plans
  * (PLANS.md). Each row's section holds the formatted `executedPlan`, the
  * plan the bench runs, then one line per file scan of [[scanPlan]], which
  * shows what reaches the parquet reader (pushed filters, partition
  * filters, read schema) even where the plan above reads a cached table.
  * It runs the bench's geometry (`local[SPARK_GRAFT_CPUS]`, as many shuffle
  * partitions, AQE on) and [[normalize]]s every section, so two books
  * differ only where a plan does and a before/after comparison is a `diff`
  * of two books.
  *
  * Things to look for: `PushedFilters` and a narrow `ReadSchema` on scans,
  * `BroadcastHashJoin` on dimension hops, `partial_*` aggregates before
  * exchanges, `TakeOrderedAndProject` for top-k, and no
  * `CartesianProduct` on a keyed path.
  *
  * Usage: runMain graft.PlanDump <sfDir> <out.md> [q1,q2,...]
  * (no ids: every registry row, in registry order).
  */
object PlanDump {

  /** `plan` with what differs between two runs of the same code masked:
    * expression ids (`name#N`), `[plan_id=N]` and RDD ids are renumbered
    * in order of first appearance, so which reference points where stays
    * readable; the line of a `<File>.scala:<line>` call site (the name of
    * a `localCheckpoint` RDD) becomes `_`, so code moving above a call site
    * does not show; an object's identity hash (`pkg.Class@1f2e3d`, a
    * typed aggregator's default `toString`) becomes `@_`, and a lambda's
    * class (`$Lambda$5952/0x7f29ad67c000`) `$Lambda`; and a scratch path's
    * `Scratch.newTag()` suffix (32 hex) becomes `<tag>`. Every pattern is
    * linear in the plan's length: a plan can hold a literal of hundreds of
    * thousands of characters.
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
    val sites = "\\b(\\w+\\.scala):\\d+".r.replaceAllIn(rdds, "$1:_")
    val lambdas = "\\$Lambda\\$\\d+/0x[0-9a-f]+".r.replaceAllIn(sites, "\\$Lambda")
    val hashes = "(\\b[A-Za-z_][\\w$]*(?:\\.[\\w$]+)+)@[0-9a-f]+\\b".r.replaceAllIn(lambdas, "$1@_")
    "(?<![0-9a-f])[0-9a-f]{32}(?![0-9a-f])".r.replaceAllIn(hashes, "<tag>")
  }

  /** `df`'s physical plan as planned from its analyzed plan, without the
    * cached-data substitution `executedPlan` makes: a cached table shows
    * its file scan, with the filters and columns the query pushes into it,
    * instead of `InMemoryTableScan`. The session's optimizer and planner
    * run, then the execution preparations without AQE. Nothing is cached,
    * uncached or set.
    */
  def scanPlan(df: DataFrame): SparkPlan = {
    val qe = df.queryExecution
    val optimized = qe.sparkSession.sessionState.optimizer.execute(qe.analyzed)
    QueryExecution.prepareExecutedPlan(qe.sparkSession, optimized)
  }

  /** One line per `FileScan` of [[scanPlan]] (no registry row plans a V2
    * `BatchScan`): its location, partition filters, pushed filters and
    * read schema, untruncated.
    */
  private def scanLines(df: DataFrame): Seq[String] =
    scanPlan(df).collectWithSubqueries { case s: FileSourceScanExec =>
      val fields = Seq("Location", "PartitionFilters", "PushedFilters", "ReadSchema")
        .flatMap(k => s.metadata.get(k).map(v => s"$k: $v"))
      s"File${s.nodeName.trim} ${fields.mkString(", ")}"
    }

  /** The normalized formatted plan of registry row `id` and its scan
    * lines, or its failure.
    */
  def dump(spark: SparkSession, sfDir: String, id: String): String =
    normalize(
      try {
        val df = Registry.byId(id).run(spark, sfDir)
        df.queryExecution.explainString(FormattedMode) +
          scanLines(df).map(l => s"$l\n").mkString
      } catch { case e: Throwable => s"FAILED: ${e.getMessage}\n" })

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args(1)
    val ids = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Registry.all.map(_.id))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val book = new StringBuilder(
      s"""# PLANS: normalized physical plans of the registry rows
         |
         |Written by `graft.PlanDump` on master `${spark.sparkContext.master}`, ${spark.conf.get("spark.sql.shuffle.partitions")} shuffle partitions, sf dir `$sfDir`.
         |Each section is the formatted `executedPlan` the bench runs, then one line
         |per file scan as planned without the table cache: pushed filters,
         |partition filters and read schema. Ids, RDD numbers, call-site lines,
         |identity hashes and scratch tags are masked, so two books differ only
         |where a plan does.
         |""".stripMargin)
    for (id <- ids) {
      book ++= s"\n## $id\n\n```\n${dump(spark, sfDir, id)}```\n"
      System.err.println(s"[plandump] $id")
    }
    Files.writeString(Paths.get(out), book.toString)
    System.err.println(s"[plandump] wrote ${ids.size} rows to $out")
    spark.stop()
  }
}
