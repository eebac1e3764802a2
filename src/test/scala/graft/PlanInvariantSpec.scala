package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, WholeStageCodegenExec}

/** Registry-WIDE plan-regression net (VERDICT r13 item 7, hardened per
  * VERDICT r14 item 4): PlanShapeSpec pins ~70 shapes precisely; this sweep
  * walks EVERY registry query's physical plan and enforces the cheap global
  * invariants a new wave could silently regress on an unpinned query:
  *
  *   1. no CartesianProduct anywhere (every all-pairs op must candidate
  *      via equi-join/broadcast; PLANS.md has held zero since round 3);
  *   2. no UDF eval ANYWHERE — Python eval nodes AND `ScalaUDF`
  *      expressions inside any plan node (the functions-not-UDFs
  *      contract — custom compute is native Catalyst expressions; the old
  *      string match only caught the Python nodes);
  *   3. a per-query shuffle-exchange ceiling: no single query's plan may
  *      carry more than [[MaxExchanges]] hash exchanges. The ceiling is
  *      calibrated against the registry's worst legitimate case (the
  *      unrolled iterative graph/ML traces: 26 on graph_kcore_prune) with
  *      headroom — it catches the pathological join-back/re-shuffle
  *      chains, not normal growth;
  *   4. ZERO codegen fallbacks: under `CODEGEN_ONLY` factory mode, every
  *      `ProjectExec` projection and `FilterExec` predicate is compiled
  *      (the r14 PQ-family defect was a Janino failure in an
  *      `UnsafeProjection` that silently dropped the whole family to
  *      interpreted execution — 26 WARNs nobody read), and every
  *      whole-stage-codegen subtree is generated+compiled with its worst
  *      per-method bytecode size tracked (a method past HotSpot's 8000-byte
  *      JIT limit executes in the bytecode interpreter — the OTHER way a
  *      "codegen" plan silently goes slow).
  *
  * Building each query's DataFrame executes the eager families (streams,
  * sinks, learned indexes) once — under CODEGEN_ONLY, so any fallback in
  * those executions throws too; the shared session memos keep that to the
  * same one-time cost Verify pays.
  */
class PlanInvariantSpec extends SparkSpec {

  private val MaxExchanges = 32

  test("every registry query plan: no cartesian, no UDF eval, bounded exchanges, zero codegen fallback") {
    val violations = Seq.newBuilder[String]
    var worst = 0
    var worstId = ""
    var worstMethod = 0
    var worstMethodId = ""
    queries.Confs.scoped(spark, "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      for (q <- Registry.all) {
        val plan: SparkPlan = q.run(spark, sf).queryExecution.executedPlan
        val p = plan.toString
        if (p.contains("CartesianProduct"))
          violations += s"${q.id}: CartesianProduct"
        if (p.contains("BatchEvalPython") || p.contains("ArrowEvalPython") ||
            p.contains("BatchEvalUDF"))
          violations += s"${q.id}: Python UDF eval node"
        var scalaUdfs = 0
        plan.foreach { node =>
          node.expressions.foreach(_.foreach {
            case _: ScalaUDF => scalaUdfs += 1
            case _ => ()
          })
        }
        if (scalaUdfs > 0)
          violations += s"${q.id}: $scalaUdfs ScalaUDF expression(s)"
        val n = "Exchange hashpartitioning".r.findAllIn(p).size
        if (n > worst) { worst = n; worstId = q.id }
        if (n > MaxExchanges)
          violations += s"${q.id}: $n hash exchanges (> $MaxExchanges)"
        plan.foreach {
          case w: WholeStageCodegenExec =>
            try {
              val (_, src) = w.doCodeGen()
              val (_, stats) = CodeGenerator.compile(src)
              if (stats.maxMethodCodeSize > worstMethod) {
                worstMethod = stats.maxMethodCodeSize; worstMethodId = q.id
              }
            } catch { case e: Throwable =>
              violations += s"${q.id}: WSCG compile failed: ${String.valueOf(e.getMessage).take(160)}"
            }
          case pr: ProjectExec =>
            try UnsafeProjection.create(pr.projectList, pr.child.output)
            catch { case e: Throwable =>
              violations += s"${q.id}: Project codegen failed: ${String.valueOf(e.getMessage).take(160)}"
            }
          case f: FilterExec =>
            try org.apache.spark.sql.catalyst.expressions.Predicate
              .create(f.condition, f.child.output)
            catch { case e: Throwable =>
              violations += s"${q.id}: Filter codegen failed: ${String.valueOf(e.getMessage).take(160)}"
            }
          case _ => ()
        }
      }
    }
    info(s"worst hash-exchange count: $worst ($worstId)")
    info(s"worst WSCG method bytecode: $worstMethod ($worstMethodId)")
    assert(violations.result().isEmpty,
      violations.result().mkString("\n"))
  }
}
